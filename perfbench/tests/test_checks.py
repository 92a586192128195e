"""Self-test of the benchmark's correctness checks: a planted wrong
answer must count as a failed check and so raise error_rate.

    python3 -m pytest perfbench/tests -q

Runs without Spark: the checks are fed the frames a pass would return.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from checks import OracleCheck, check_ecg, duck_views  # noqa: E402
from gen import ecg_truth_features, gen_documents, gen_ecg  # noqa: E402
import run  # noqa: E402


def error_rate(checks) -> float:
    return sum(not ok for _, ok, _ in checks) / len(checks)


@pytest.fixture()
def ecg_truth(tmp_path):
    beats = gen_ecg(str(tmp_path), seed=3, files=3, minutes=1)["beats"]
    return beats, ecg_truth_features(beats)


def _correct_ecg(beats, want):
    landed = sum(len(p) - 1 for p in beats.values())
    feats = pd.DataFrame([{"record_id": rid, **f} for rid, f in want.items()])
    return landed, feats


def test_ecg_correct_answer_passes(ecg_truth):
    beats, want = ecg_truth
    landed, feats = _correct_ecg(beats, want)
    assert error_rate(check_ecg(landed, feats, want)) == 0.0


def test_ecg_dropped_rr_row_raises_error_rate(ecg_truth):
    beats, want = ecg_truth
    landed, feats = _correct_ecg(beats, want)
    assert error_rate(check_ecg(landed - 1, feats, want)) > 0.0


def test_ecg_perturbed_feature_raises_error_rate(ecg_truth):
    beats, want = ecg_truth
    landed, feats = _correct_ecg(beats, want)
    feats.loc[1, "rmssd"] += 1e-4
    checks = check_ecg(landed, feats, want)
    assert [label for label, ok, _ in checks if not ok] == ["features[1]"]


def test_ecg_missing_record_raises_error_rate(ecg_truth):
    beats, want = ecg_truth
    landed, feats = _correct_ecg(beats, want)
    assert error_rate(check_ecg(landed, feats.iloc[1:], want)) > 0.0


ORACLE = {"docs_per_source": "SELECT source, CAST(COUNT(*) AS BIGINT) AS n "
                             "FROM documents GROUP BY source"}


@pytest.fixture()
def oracle(tmp_path):
    gen_documents(str(tmp_path), seed=5, docs=200)
    con = duck_views(str(tmp_path), ["documents"])
    try:
        expected = con.execute(ORACLE["docs_per_source"]).df()
        yield OracleCheck(con, ORACLE), expected
    finally:
        con.close()


def test_oracle_equal_result_passes_in_any_order(oracle):
    check, expected = oracle
    shuffled = expected.sample(frac=1.0, random_state=1)
    assert check.check("docs_per_source", shuffled)[1]


def test_oracle_perturbed_row_raises_error_rate(oracle):
    check, expected = oracle
    assert check.check("docs_per_source", expected)[1]
    bad = expected.copy()
    bad.loc[0, "n"] += 1
    assert not check.check("docs_per_source", bad)[1]
    assert not check.check("docs_per_source", expected.iloc[1:])[1]


def test_benchmark_json_names_match_run_py():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)

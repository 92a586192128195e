"""Regression test for VERDICT r8 item 1: bench.py's final stdout line
must stay under the driver's 2000-char tail even as the registry grows.
Round 8's line (full per-query ratio dicts) exceeded it and the driver
recorded BENCH_r08.json parsed:null; the fix routes the full record to
the bench_full.json sidecar and prints a compact summary line.
"""

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _fake_full(n_headline: int, n_tpch: int = 22) -> dict:
    timings = {f"headline_query_name_{i:03d}": 12.345 for i in range(n_headline)}
    tpch = {f"sql_tpch_q{i}": 0.987 for i in range(1, n_tpch + 1)}
    return {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "ratio_vs_slot": {k: 1.23 for k in timings},
        "tpch_power_total": round(sum(tpch.values()), 3),
        "tpch_queries": tpch,
        "tpch_ratio_vs_slot": {k: 1.07 for k in tpch},
        "sf": 0.1,
        "loadavg_at_start": [8.7, 23.6, 18.0],
    }


def test_summary_line_fits_driver_tail_at_current_size():
    line = bench.compact_summary(_fake_full(len(bench.HEADLINE)))
    assert len(line) < 1800
    parsed = json.loads(line)
    # driver contract fields survive compaction
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["unit"] == "sec"
    assert "queries" in parsed and len(parsed["queries"]) == len(bench.HEADLINE)
    assert parsed["sf"] == 0.1
    assert parsed["tpch_power_total"] > 0
    assert parsed["ratio_stats"]["max"] == 1.23
    assert parsed["tpch_ratio_stats"]["median"] == 1.07
    assert parsed["full_report"] == "bench_full.json"


def test_summary_line_sheds_queries_rather_than_overflow():
    # 60 headline queries (~3x today) would overflow: the guard drops
    # the per-query dict and the line still parses and still fits.
    line = bench.compact_summary(_fake_full(60))
    assert len(line) < 1800
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["value"] > 0


def test_load_caveat_flag(monkeypatch=None):
    """VERDICT r10 ask 5: a bench line recorded on a loaded machine
    must self-declare (load_caveat: true above 1-min loadavg 4), and a
    quiet run must NOT carry the flag."""
    loaded = _fake_full(len(bench.HEADLINE))          # loadavg 8.7
    line = json.loads(bench.compact_summary(loaded))
    assert line["load_caveat"] is True
    quiet = _fake_full(len(bench.HEADLINE))
    quiet["loadavg_at_start"] = [0.12, 3.4, 7.9]      # only 1-min counts
    assert "load_caveat" not in json.loads(bench.compact_summary(quiet))
    nolavg = _fake_full(len(bench.HEADLINE))
    nolavg["loadavg_at_start"] = None                 # getloadavg OSError
    assert "load_caveat" not in json.loads(bench.compact_summary(nolavg))
    assert bench._load_caveat([4.01, 0, 0]) and not bench._load_caveat([4.0, 9, 9])


def test_ratio_stats_shapes():
    assert bench._ratio_stats({}) == {}
    s = bench._ratio_stats({"a": 1.0, "b": 2.0, "c": 3.0})
    assert s == {"max": 3.0, "median": 2.0, "argmax": "c"}
    s2 = bench._ratio_stats({"a": 1.0, "b": 2.0})
    assert s2["median"] == 1.5 and s2["argmax"] == "b"


def test_headline_ids_are_registered_and_slotted():
    # bench.py looks every headline id up directly, so a renamed id
    # fails the run; this catches it before a bench is started
    from data_ingestor_and_features_creator_spark import plans
    qs = plans.queries()
    assert [n for n in bench.HEADLINE if n not in qs] == []
    assert set(bench.HEADLINE) == set(bench.BASELINE_SLOTS)

#!/usr/bin/env python
"""Headline benchmark: runs representative queries per category at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line (driver contract).

Each query is timed by harness.measure: materialized with the no-op
sink (full execution, no driver collect), so wall-clock measures the
whole plan, including shuffle and Python-UDF stages.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_ingestor_and_features_creator_spark import plans  # noqa: E402
from data_ingestor_and_features_creator_spark.harness import (  # noqa: E402
    measure, tpch_ids)
from data_ingestor_and_features_creator_spark.session import get_spark  # noqa: E402

# One representative per category (SURVEY.md §6): scan-agg, join-heavy,
# window-heavy, domain closed-form, UDF-heavy, dedup, similarity.
HEADLINE = [
    "flagship_event_features",
    "join_star_multi",
    "win_sliding_range",
    "hrv_time_domain",
    "hrv_time_domain_sliding",
    "hrv_freq_domain",
    "dedup_fuzzy_minhash",
    "sim_knn_bruteforce",
    "hrv_pipeline_full",
    "dedup_ngram_jaccard",
    # vector workload: the LSH pair stage (stable single-pass plan;
    # its CC composition dedup_semantic_cluster runs O(log n) driver-
    # looped rounds whose scheduler overhead dominates at bench scale)
    "dedup_embedding_lsh",
    # round-2 late additions: text-retrieval scoring and the
    # single-exchange sessionization pattern
    "text_bm25_topk",
    "sessionize_timeout",
    # round-3: the end-to-end LLM data-prep composite (quality gate →
    # dedup → decontamination → temperature mix → packing in one plan)
    "llm_prep_pipeline_full",
    # round-4: one iterative-plan representative (driver-looped
    # star-contraction CC over minhash pairs) and one window-heavy
    # gap-fill + decomposition representative — so driver-loop and
    # gap-fill regressions become visible round-over-round
    "dedup_minhash_cluster",
    "ts_seasonal_decompose",
    # late round-4: the events-side end-to-end composite (sessionize →
    # conversion stats → daily KPIs, one user_id exchange) — the
    # analytics twin of llm_prep_pipeline_full
    "analytics_pipeline_full",
    # round-4 close: the leakage-safe training-set builder (backward
    # RANGE features + forward RANGE label, one user exchange) — the
    # supervised-label family's representative
    "ml_training_set_build",
    # round 11: the regime-dispatched triangle count — the round's
    # marquee plan fix (density probe → bitmap on the dense fixture);
    # in the headline set so a dispatch regression (wedge join
    # returning on dense data ⇒ ~10× slot blow-out) is visible in the
    # per-round artifact, not just the yearly sweep
    "graph_triangle_count",
]


# Committed per-query baseline slots at sf0.1 (VERDICT r6 ask 7):
# elementwise MIN across quiet-window bench runs — round-7 protocol,
# tightened round 8 with two more runs (close run at loadavg-at-start
# 0.01: headline 14.49 s vs the 13.68 s slot sum); join_star_multi
# re-baselined to 1.16 s after its integer-cents revenue retype.
# bench.py emits ratio_vs_slot per query so a judge can separate
# regression from machine load mechanically; same-code noise band on
# this box is 14-37 s under external load, so only ratios from
# low-loadavg runs are meaningful.
BASELINE_SLOTS = {
    "flagship_event_features": 1.01,
    "join_star_multi": 1.16,
    "win_sliding_range": 0.23,
    "hrv_time_domain": 0.67,
    "hrv_time_domain_sliding": 0.57,
    # round 10: registered query became the BOUND/PLANTED EVAL (two
    # planted sinusoid records + exact-count/guard stats join on top
    # of the production Welch kernel) — slot re-baselined from the
    # three round-10 close runs (elementwise min, first at loadavg
    # 0.13); the raw kernel's cost is unchanged.
    "hrv_freq_domain": 1.1,
    # round 9: registered query became the PLANTED-TWIN EVAL
    # (twin augmentation + per-planted-doc catch outputs on top
    # of the production pipeline) — slot re-baselined from the
    # two round-9 close quiet runs (elementwise min, loadavg
    # 0.48 / 0.10); same reason for dedup_minhash_cluster below.
    "dedup_fuzzy_minhash": 1.37,
    "sim_knn_bruteforce": 0.41,
    "hrv_pipeline_full": 0.61,
    "dedup_ngram_jaccard": 0.54,
    "dedup_embedding_lsh": 0.75,
    "text_bm25_topk": 0.41,
    "sessionize_timeout": 0.21,
    "llm_prep_pipeline_full": 1.77,
    "dedup_minhash_cluster": 2.79,  # round-9 twin-eval plan
    "ts_seasonal_decompose": 0.4,
    "analytics_pipeline_full": 0.53,
    "ml_training_set_build": 0.28,
    # round 11: new headline entry (regime-dispatched triangle count —
    # density probe + bitmap plan on the dense fixture); slot =
    # elementwise min of the five round-11 close runs (1.965/2.085/
    # 2.171/2.229/2.63; quietest at loadavg 0.05). A dispatch
    # regression to the wedge join on this fixture reads ~10× this.
    "graph_triangle_count": 1.97,
}

# Committed per-query TPC-H slots at sf0.1 (VERDICT r7 ask 7):
# elementwise MIN of FIVE bench runs, 2026-08-15 round 8 (three
# mid-round at loadavg 4.6/6.4/0.7, two at close incl. a fully quiet
# loadavg-0.01 run: tpch_power_total 9.39 s vs the 9.29 s slot sum).
# q1/q2/q16 re-baselined from the close runs only — their round-8
# plan work (integer-cents q1, filter-below-distinct q2/q16) moved
# them 1.29/0.97/1.05 → 0.71/0.72/0.57 s. A single-query TPC-H
# regression is attributable even when the 22-query total moves
# under machine load.
TPCH_SLOTS = {
    "sql_tpch_q1": 0.71,
    "sql_tpch_q2": 0.72,
    "sql_tpch_q3": 0.63,
    "sql_tpch_q4": 0.53,
    "sql_tpch_q5": 0.43,
    "sql_tpch_q6": 0.16,
    "sql_tpch_q7": 0.49,
    "sql_tpch_q8": 0.48,
    "sql_tpch_q9": 0.44,
    "sql_tpch_q10": 0.4,
    "sql_tpch_q11": 0.29,
    "sql_tpch_q12": 0.3,
    "sql_tpch_q13": 0.3,
    "sql_tpch_q14": 0.24,
    "sql_tpch_q15": 0.2,
    "sql_tpch_q16": 0.57,
    "sql_tpch_q17": 0.18,
    "sql_tpch_q18": 0.35,
    "sql_tpch_q19": 0.29,
    "sql_tpch_q20": 0.64,
    "sql_tpch_q21": 0.67,
    "sql_tpch_q22": 0.27,
}


# External 1-min loadavg above which bench timings on this box are
# known to be load-poisoned (round 11, VERDICT r10 ask 5): the r10
# driver artifact ran at loadavg 11.3 and read +27% on code whose quiet
# A/B sat at ≈1.0× the slots. Above this, the JSON carries
# "load_caveat": true so a reader can't mistake load noise for a code
# regression.
LOAD_CAVEAT_THRESHOLD = 4.0


def _load_caveat(load_at_start: list[float] | None) -> bool:
    return bool(load_at_start) and load_at_start[0] > LOAD_CAVEAT_THRESHOLD


def _ratio_stats(r: dict[str, float]) -> dict[str, float]:
    vals = sorted(r.values())
    if not vals:
        return {}
    mid = vals[len(vals) // 2] if len(vals) % 2 else round(
        (vals[len(vals) // 2 - 1] + vals[len(vals) // 2]) / 2, 2)
    return {"max": vals[-1], "median": mid, "argmax": max(r, key=r.get)}


def compact_summary(full: dict) -> str:
    """One-line JSON summary guaranteed to fit the driver's 2000-char
    stdout tail (VERDICT r8 item 1): driver-contract fields plus
    max/median ratio stats; per-query ratio dicts live only in the
    bench_full.json sidecar. Sheds the per-query timings dict if the
    line would still exceed 1800 chars."""
    summary = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": full["queries"],
        "tpch_power_total": full["tpch_power_total"],
        "ratio_stats": _ratio_stats(full["ratio_vs_slot"]),
        "tpch_ratio_stats": _ratio_stats(full["tpch_ratio_vs_slot"]),
        "sf": full["sf"],
        "loadavg_at_start": full["loadavg_at_start"],
        "full_report": "bench_full.json",
    }
    if _load_caveat(full["loadavg_at_start"]):
        summary["load_caveat"] = True
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1800:
        summary.pop("queries")
        line = json.dumps(summary, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # Captured BEFORE Spark starts: this is the EXTERNAL load present
    # when the bench began (after start, the bench's own 32 threads
    # dominate loadavg and the number means nothing).
    try:
        load_at_start = list(os.getloadavg())
    except OSError:
        load_at_start = None
    spark = get_spark("bench")
    qs = plans.queries()
    # One first run, then min of 3 per id; caches released between ids
    # (harness.measure). A HEADLINE id missing from the registry raises
    # KeyError here rather than silently lowering the total.
    timings = {name: round(measure(spark, qs[name], sf_dir, 3).best, 3)
               for name in HEADLINE}
    total = round(sum(timings.values()), 3)
    # Round 5 (VERDICT r4 item 6): the 22-query TPC-H power total rides
    # along as a committed metric so SQL-suite regressions are visible
    # round-over-round, not just in BASELINE.md prose. One untimed
    # first run + min-of-2 per query keeps the added wall bounded (~2×
    # the quiet power-run total).
    tpch = {name: round(measure(spark, qs[name], sf_dir, 2).best, 3)
            for name in tpch_ids(qs)}
    # loadavg rides along (VERDICT r6 ask 9) so a judge can mechanically
    # distinguish external machine load from a code regression — the
    # documented same-code noise band on this box is 14-37 s under load.
    ratios = {name: round(t / BASELINE_SLOTS[name], 2)
              for name, t in timings.items() if name in BASELINE_SLOTS}
    tpch_ratios = {name: round(t / TPCH_SLOTS[name], 2)
                   for name, t in tpch.items() if name in TPCH_SLOTS}

    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "ratio_vs_slot": ratios,
        "tpch_power_total": round(sum(tpch.values()), 3),
        "tpch_queries": tpch,
        "tpch_ratio_vs_slot": tpch_ratios,
        "sf": sf,
        "loadavg_at_start": load_at_start,
    }
    if _load_caveat(load_at_start):
        full["load_caveat"] = True
    # VERDICT r8 item 1: round 8's final line outgrew the driver's
    # 2000-char stdout tail (per-query ratio dicts grew with the
    # registry), so BENCH_r08.json recorded parsed:null. The full
    # per-query record now goes to a sidecar file; the final stdout
    # line carries the driver-contract fields (metric/value/unit/
    # queries/sf) plus compact summary stats, compact-separated, and
    # a hard guard keeps it under 1800 chars even as HEADLINE grows.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_full.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    print(compact_summary(full))
    spark.stop()


if __name__ == "__main__":
    main()

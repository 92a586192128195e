#!/usr/bin/env python
"""Scan every registered query's OPTIMIZED plan for unpartitioned
Window nodes with an input path that crosses no cardinality-bounding
boundary (VERDICT r8 ask 5). A `WindowExec: No Partition Defined` is
by-design ONLY above an Aggregate/Distinct/Limit/LocalRelation — i.e.
over vocab-bounded or constant-bounded inputs, never over raw fact
rows, not even raw rows joined to a bounded side.

Prints one line per violation and a summary; exit 1 on violations.
Usage: python tools/scan_global_windows.py [sf_dir] [ids...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestor_and_features_creator_spark import plans  # noqa: E402
from data_ingestor_and_features_creator_spark.session import get_spark  # noqa: E402

# Logical operators that bound the row count flowing into a global
# window: a (grouped or global) aggregate, an explicit distinct, a
# limit, or literal/in-memory data. (Simple class names of
# org.apache.spark.sql.catalyst.plans.logical nodes.)
BOUNDING = {"Aggregate", "Deduplicate", "DeduplicateWithinWatermark",
            "GlobalLimit", "LocalLimit", "LocalRelation",
            "OneRowRelation", "Range", "CommandResult"}

# Physical-plan twins of BOUNDING, used when a subtree has been swapped
# for an InMemoryRelation by the CacheManager: the cached plan is a
# SparkPlan, so the bounding evidence appears under Exec names. Without
# this resolution the scan's verdict would depend on SESSION CACHE
# STATE (a query is flagged iff some earlier query cached a matching
# subtree), which made the gate nondeterministic in round 11.
PHYS_BOUNDING = {"HashAggregateExec", "SortAggregateExec",
                 "ObjectHashAggregateExec", "GlobalLimitExec",
                 "LocalLimitExec", "LocalTableScanExec", "RangeExec",
                 "CommandResultExec"}


def _children(node):
    return [node.children().apply(i) for i in range(node.children().size())]


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


def _cls(node) -> str:
    return node.getClass().getSimpleName()


# Joins whose output rows are a subset of their left input's: only the
# left path can make them unbounded.
LEFT_ONLY_JOINS = {"LeftSemi", "LeftAnti"}


def _inputs(node):
    """The plans a node reads its rows from. AQE wrappers and cache
    scans hide their subtree from .children(), so they are resolved
    here: a cached relation, logical or physical, reads from its cached
    plan. A semi or anti join reads rows only from its left side."""
    cls = _cls(node)
    try:
        if cls == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if cls.endswith("QueryStageExec"):
            # AQE query stages (Shuffle/Broadcast/Result/TableCache…)
            return [node.plan()]
        if cls == "InMemoryTableScanExec":
            return [node.relation().cachedPlan()]
        if cls == "InMemoryRelation":
            return [node.cachedPlan()]
    except Exception:  # noqa: BLE001 — unresolvable ⇒ an unbounded leaf
        return []
    kids = _children(node)
    if "Join" in cls and node.joinType().toString() in LEFT_ONLY_JOINS:
        return kids[:1]
    return kids


def _bounded(node) -> bool:
    """Every row path from this node down to a leaf crosses a bounding
    operator. Each cached relation is resolved in place, so a bounded
    cache bounds its own path only, never a sibling branch over raw
    rows."""
    if _cls(node) in BOUNDING | PHYS_BOUNDING:
        return True
    kids = _inputs(node)
    return bool(kids) and all(_bounded(c) for c in kids)


def find_unbounded_global_windows(df) -> list[str]:
    """Return one description per unpartitioned Window in df's
    optimized logical plan with a row path from the window down to a
    leaf that crosses NO bounding node (resolving cached subtrees
    through their InMemoryRelation, in place)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    bad = []
    for node in _walk(plan):
        if _cls(node) != "Window":
            continue
        if node.partitionSpec().size() > 0:
            continue
        if _bounded(node.child()):
            continue
        subtree = {_cls(n) for n in _walk(node.child())}
        bad.append(f"global Window over {sorted(subtree)[:8]}")
    return bad


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    spark = get_spark("scan_global_windows")
    qs = plans.queries()
    ids = args or sorted(qs)
    violations = {}
    for name in ids:
        try:
            bad = find_unbounded_global_windows(qs[name](spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 — report, don't abort scan
            violations[name] = [f"SCAN ERROR: {ex}"]
            # printed loudly: a silent error entry is indistinguishable
            # from a window violation in the DONE list (round 11: two
            # ids "flagged" by a concurrent-scan spark-warehouse race
            # printed nothing)
            print(f"SCAN ERROR {name}: {str(ex)[:160]}", flush=True)
            continue
        if bad:
            violations[name] = bad
            print(f"VIOLATION {name}: {bad}", flush=True)
        else:
            print(f"ok {name}", flush=True)
    print(f"DONE violations: {sorted(violations)}")
    spark.stop()
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()

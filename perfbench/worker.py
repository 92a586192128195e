"""One benchmark process: set up the engine, run the passes of one
workload, check every pass, and print one JSON line.

Started by run.py in a fresh interpreter so that set-up is measured
from process start. ``--probe`` stops after set-up; run.py starts
several probes to take the median set-up time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM = 2          # timed warm passes per run, at least
WARMUP_PASSES = 1     # untimed warm passes between the cold and timed ones


def setup(cores: int) -> tuple:
    t0 = time.time()
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    queries = entry.queries()
    t1 = time.time()
    from data_ingestor_and_features_creator_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    t2 = time.time()
    return spark, queries, {"plans.import_s": t1 - t0,
                            "session.start_s": t2 - t1, "ready": t2}


def stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    from spans import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def storage(spark) -> dict:
    """Blocks still pinned after a pass, read before clearCache()."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    pinned = sum(i.memSize() + i.diskSize() for i in infos)
    return {"spark.storage.pinned_mb_after_pass": pinned / 2**20,
            "spark.storage.cached_relations": len(infos)}


def pass_layers(traced, log: dict, cores: int) -> list[dict]:
    """Per traced pass: the spark.exec.* numbers of its job groups, the
    plans.* times and counts, and the self time of each layer."""
    from spans import exec_metrics, self_times

    cc = [s["group"] for s in traced.spans if s["name"] == "operators.graph.cc"]
    cc_jobs = sum(1 for j in log["jobs"] if cc and j["group"] == cc[0])
    out = []
    for p in (s for s in traced.spans if s["name"] == "pass"):
        sub = traced.subtree(p)
        own = self_times(sub)
        by_layer: dict[str, float] = {}
        for s in sub:
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + own[s["id"]]
        build = [s for s in sub if s["layer"] == "plans.build"]
        build_groups = {s["group"] for s in build}
        wall = p["end"] - p["start"]
        m = exec_metrics(log, {s["group"] for s in sub}, p["start"], p["end"],
                         cores)
        m.update({
            "trace.pass_s": wall,
            "plans.build_s": sum(s["end"] - s["start"] for s in build),
            "plans.planning_s": sum(s.get("catalyst_ms", 0.0)
                                    for s in sub) / 1000.0,
            "plans.eager_jobs": sum(1 for j in log["jobs"]
                                    if j["group"] in build_groups),
            "operators.graph.cc_jobs": cc_jobs,
            "trace.layer_cover": sum(by_layer.get(k, 0.0) for k in (
                "plans.build", "plans.planning", "spark.exec")) / wall,
            "self_s": by_layer,
        })
        out.append(m)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--trace-file")
    args = ap.parse_args()

    spark, queries, st = setup(args.cores)
    setup_s = st.pop("ready") - args.spawned
    if args.probe:
        stop(spark)
        print(json.dumps({"setup_s": setup_s}))
        return 0

    from spans import Tracer, read_event_log, tree_cpu_s, tree_peak_rss_mb
    from workloads import WORKLOADS

    with open(os.path.join(args.input, "truth.json")) as f:
        truth = json.load(f)
    wl = WORKLOADS[args.workload](spark, queries,
                                  os.path.join(args.input, "data"), truth,
                                  args.work)
    wl.prepare()
    plain = Tracer(spark, enabled=False)
    traced = Tracer(spark, enabled=True)
    attempted = failed = 0
    failures: list[str] = []
    store: dict = {}

    def one_pass(tr) -> tuple[float, float]:
        nonlocal attempted, failed
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with tr.span("pass", "pass"):
            result = wl.run_pass(tr)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        for label, ok, detail in wl.check(result):
            attempted += 1
            if not ok:
                failed += 1
                failures.append(f"{label}: {detail}")
        store.update(storage(spark))
        spark.catalog.clearCache()
        return wall, cpu

    first_pass_s, _ = one_pass(plain)
    # The JIT is still compiling during the first warm passes; they are
    # checked but not timed. A fixed count (not a time) keeps the timed
    # passes at the same place on that curve in every run.
    warmup = [one_pass(plain)[0] for _ in range(WARMUP_PASSES)]
    walls: dict[bool, list[float]] = {False: [], True: []}
    cpus: list[float] = []
    t_end = time.perf_counter() + args.seconds
    n = 0
    while time.perf_counter() < t_end or len(walls[False]) < MIN_WARM:
        use_trace = bool(args.trace) and n % 2 == 1
        wall, cpu = one_pass(traced if use_trace else plain)
        walls[use_trace].append(wall)
        if not use_trace:
            cpus.append(cpu)
        n += 1
    out = {"setup_s": setup_s, "first_pass_s": first_pass_s,
           "warmup_pass_s": warmup, "pass_s": walls[False], "cpu_s": cpus,
           "attempted": attempted, "failed": failed,
           "failures": failures[:5]}
    if not args.trace:
        stop(spark)
        print(json.dumps(out))
        return 0

    layers = dict(st)
    layers.update(store)
    layers.update(wl.probe_layers(traced))
    layers["session.peak_rss_mb"] = tree_peak_rss_mb()
    log_dir = spark.conf.get("spark.eventLog.dir").removeprefix("file:")
    stop(spark)             # the event log is complete once Spark stops

    per_pass = pass_layers(traced, read_event_log(log_dir), args.cores)
    for key in per_pass[0]:
        if key != "self_s":
            layers[key] = statistics.median(pp[key] for pp in per_pass)
    layers["trace.overhead_s"] = (layers["trace.pass_s"]
                                  - statistics.median(walls[False]))
    layers["error_rate"] = failed / attempted
    out["layers"] = layers
    if args.trace_file:
        with open(args.trace_file, "w") as f:
            json.dump({"workload": args.workload, "spans": traced.spans,
                       "passes": per_pass, "layers": layers,
                       "untraced_pass_s": walls[False],
                       "traced_pass_s": walls[True]}, f, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

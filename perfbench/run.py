#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload ecg_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
the seed (cached per seed and size under perfbench/.work/inputs),
takes the set-up time in several fresh processes, then runs one
benchmark process that makes a cold pass, repeats warm passes for
``--seconds`` and checks every pass. With ``--trace 1`` the warm
passes alternate between untraced and traced ones, Spark's event log
is on, and the result carries the per-layer metrics instead of the
end-to-end ones; the spans go to perfbench/.work/results/.

The last line of stdout is the result object; lines before it are a
readable summary. See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170           # the whole run, set-up probes included
SETUP_PROBES = 1           # extra fresh process timed for setup_s
DRIVER_MEM = "3g"          # well below physical memory on small boxes
MAX_CORES = 4

WORKLOADS = ("ecg_ingest", "text_dedup")

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
              "cpu_s": "s"}

PER_LAYER = {
    "error_rate": "ratio",
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.import_s": "s",
    "plans.build_s": "s",
    "plans.planning_s": "s",
    "plans.eager_jobs": "count",
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "bytes",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "operators.codecs.decode_s": "s",
    "operators.media.samples_out": "count",
    "operators.peaks.detect_s": "s",
    "operators.peaks.beats_out": "count",
    "operators.textops.minhash_s": "s",
    "operators.textops.candidate_pairs_s": "s",
    "operators.textops.verify_s": "s",
    "operators.graph.cc_s": "s",
    "operators.textops.candidate_pairs": "count",
    "operators.textops.verified_pairs": "count",
    "operators.textops.verify_ratio": "ratio",
    "operators.textops.capped_buckets": "count",
    "operators.textops.max_bucket_size": "count",
    "operators.graph.cc_jobs": "count",
    "operators.graph.components": "count",
    "features.hrv.agg_s": "s",
    "features.kernels.welch_s": "s",
    "features.kernels.groups": "count",
    "features.arrow_overhead_s": "s",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.task_run_s": "s",
    "spark.exec.task_cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.shuffle_fetch_wait_s": "s",
    "spark.exec.spill_bytes": "bytes",
    "spark.exec.no_job_s": "s",
    "spark.exec.slot_busy_ratio": "ratio",
    "spark.storage.pinned_mb_after_pass": "MB",
    "spark.storage.cached_relations": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_cover": "ratio",
}

REQUIRED = ("__spark_entry__.py", "data_ingestor_and_features_creator_spark",
            "tests/oracle_compare.py")


class BenchError(Exception):
    pass


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def worker_env(run_dir: str, cores: int, event_log: str | None) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # -Xms = -Xmx: a heap that grows during the run slows the early
    # passes by a varying amount
    submit = ["--driver-java-options",
              f"'-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}'",
              "--conf", "spark.ui.showConsoleProgress=false"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file:{event_log}",
                   "--conf", "spark.eventLog.compress=false"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return env


def run_worker(args: list[str], env: dict, cwd: str, deadline: float) -> dict:
    """Run worker.py in its own process group and return its last stdout
    line as JSON. The whole group is killed on timeout and reaped after
    exit, so no JVM or Python worker outlives the run."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--spawned", repr(time.time()), *args]
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise BenchError("benchmark process timed out")
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise BenchError(f"benchmark process failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    deadline = time.time() + DEADLINE_S
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    load_before = loadavg()

    sys.path.insert(0, HERE)
    from gen import ensure_inputs

    input_dir, _ = ensure_inputs(os.path.join(WORK, "inputs"),
                                 args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    env = worker_env(run_dir, cores, event_log)
    common = ["--workload", args.workload, "--input", input_dir,
              "--work", run_dir, "--seconds", str(args.seconds),
              "--cores", str(cores)]
    try:
        setups = [run_worker(common + ["--probe"], env, run_dir,
                             deadline)["setup_s"]
                  for _ in range(SETUP_PROBES)]
        trace_file = os.path.join(
            results, f"trace-{args.workload}-s{args.seed}.json")
        res = run_worker(common + ["--trace", str(args.trace)]
                         + (["--trace-file", trace_file] if args.trace
                            else []),
                         env, run_dir, deadline)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    setups.append(res["setup_s"])
    load_after = loadavg()

    attempted, failed = res["attempted"], res["failed"]
    values = {
        "setup_s": statistics.median(setups),
        "first_pass_s": res["first_pass_s"],
        "pass_s": statistics.median(res["pass_s"]),
        "cpu_s": statistics.median(res["cpu_s"]),
    }
    n = {"setup_s": len(setups), "first_pass_s": 1,
         "pass_s": len(res["pass_s"]), "cpu_s": len(res["cpu_s"])}
    print(f"# {args.workload} seed={args.seed} local[{cores}] "
          f"nproc={nproc} loadavg before={load_before} "
          f"after={load_after}")
    for k, v in values.items():
        print(f"# {k:14s} {v:10.4f} s   (median of {n[k]})")
    print(f"# {'warm-up':14s} {len(res['warmup_pass_s']):10d} untimed passes")
    print(f"# {'error_rate':14s} {failed / attempted:10.4f} ratio "
          f"({failed} failed of {attempted} checks)")
    for msg in res["failures"]:
        print(f"# FAILED {msg}")
    if args.trace:
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        print(f"# spans and per-pass layer split: {trace_file}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

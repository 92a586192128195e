"""Measurement plumbing: spans, process-tree CPU and memory from /proc,
and the Spark event-log reader for the traced run.

Spans live in memory and are written once at the end of a run. Spark
work is attributed to spans through job groups: every traced span sets
``spark.jobGroup.id`` to its own id, and the event log records that id
on every job it started.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- /proc

def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every
    readable process."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue                      # process ended while listing
        # comm may contain spaces; fields after ')' are fixed
        rest = raw[raw.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in rest[11:15])   # utime stime cutime cstime
        out[int(raw.split(" ", 1)[0])] = (int(rest[1]), ticks / _CLK)
    return out


def tree_pids(root: int, table: dict | None = None) -> list[int]:
    """``root`` and every live descendant."""
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(kids.get(p, ()))
    return pids


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants:
    the driver Python process, the JVM it launched and the Python
    workers the JVM forks. Children that already exited are counted through
    their parent's cutime/cstime."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(os.getpid(), table)
               if p in table)


def tree_peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over the live process tree."""
    total_kb = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# ------------------------------------------------------------- spans

class Tracer:
    """Span recorder. Each span sets its own job group while it runs, so
    the event log attributes every job to the innermost span. Disabled,
    ``span`` only yields, so untraced passes run exactly the code a user
    would."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "layer": layer,
             "parent": parent["id"] if parent else None}
        s["group"] = f"bench:{s['id']}:{name}"
        sc.setJobGroup(s["group"], name)
        self.spans.append(s)
        self._stack.append(s)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def subtree(self, root: dict) -> list[dict]:
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the time its direct children cover
    (children of one span run sequentially, so their sum is exact)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


# --------------------------------------------------------- event log

def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks from the (uncompressed) event log Spark wrote into
    ``log_dir``: {"jobs": [{group, start, end, stages}], "tasks":
    {stage_id: [metrics...]}} with times in epoch seconds."""
    jobs, tasks = [], {}
    # Spark 4 writes one directory per application holding rolled
    # events_* files (plus an empty appstatus marker)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({
                        "id": ev["Job ID"],
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "stages": list(ev.get("Stage IDs", [])),
                        "end": None})
                elif kind == "SparkListenerJobEnd":
                    for j in jobs:
                        if j["id"] == ev["Job ID"]:
                            j["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)),
                        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)),
                    })
    return {"jobs": jobs, "tasks": tasks}


def exec_metrics(log: dict, groups: set[str], t0: float, t1: float,
                 cores: int) -> dict:
    """spark.exec.* for the jobs tagged with any of ``groups``, over the
    wall interval [t0, t1] of one pass."""
    jobs = [j for j in log["jobs"] if j["group"] in groups]
    stages = {s for j in jobs for s in j["stages"]}
    ts = [t for s in stages for t in log["tasks"].get(s, ())]
    busy, cur_s, cur_e = 0.0, None, None   # union of job intervals
    for s, e in sorted((max(j["start"], t0), min(j["end"] or t1, t1))
                       for j in jobs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    run_s = sum(t["run_s"] for t in ts)
    wall = t1 - t0
    return {
        "spark.exec.jobs": len(jobs),
        "spark.exec.stages": len({s for s in stages if s in log["tasks"]}),
        "spark.exec.tasks": len(ts),
        "spark.exec.task_run_s": run_s,
        "spark.exec.task_cpu_s": sum(t["cpu_s"] for t in ts),
        "spark.exec.gc_s": sum(t["gc_s"] for t in ts),
        "spark.exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
        "spark.exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
        "spark.exec.shuffle_fetch_wait_s": sum(t["fetch_wait_s"] for t in ts),
        "spark.exec.spill_bytes": sum(t["spill"] for t in ts),
        "spark.exec.no_job_s": max(0.0, wall - busy),
        "spark.exec.slot_busy_ratio": run_s / (wall * cores) if wall else 0.0,
    }

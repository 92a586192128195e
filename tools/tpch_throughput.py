#!/usr/bin/env python
"""TPC-H throughput run: N concurrent query streams (threads sharing
one SparkSession — Spark schedules concurrent jobs across the same
executor pool; scheduler mode is whatever the session was built with,
FIFO by default, which still interleaves job STAGES across streams),
each stream running
all 22 queries in a rotated order. Prints one JSON line with total
wall, per-stream wall, and effective queries/sec.

Usage: python tools/tpch_throughput.py [sf_dir] [n_streams]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestor_and_features_creator_spark import plans
from data_ingestor_and_features_creator_spark.harness import noop_run, tpch_ids
from data_ingestor_and_features_creator_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) \
        else "/root/testdata/sf0.1"
    n_streams = int(args[-1]) if args and args[-1].isdigit() else 4
    spark = get_spark("tpch_throughput")
    qs = plans.queries()
    ids = tpch_ids(qs)
    # warmup (codegen + scans) before the timed section
    noop_run(spark, qs[ids[0]], sf_dir)

    stream_wall: dict[int, float] = {}
    errors: list[str] = []

    def stream(sid: int) -> None:
        order = ids[sid % len(ids):] + ids[:sid % len(ids)]
        t0 = time.perf_counter()
        try:
            for name in order:
                noop_run(spark, qs[name], sf_dir)
        except Exception as ex:  # noqa: BLE001
            errors.append(f"s{sid}:{ex}"[:200])
        stream_wall[sid] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=stream, args=(i,))
               for i in range(n_streams)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    total = round(time.perf_counter() - t0, 3)
    print(json.dumps({
        "metric": "tpch_throughput_total_wall",
        "value": total,
        "unit": "sec",
        "n_streams": n_streams,
        "n_queries_total": n_streams * len(ids),
        "queries_per_sec": round(n_streams * len(ids) / total, 3),
        "stream_wall": {str(k): v for k, v in sorted(stream_wall.items())},
        "errors": errors,
        "sf_dir": sf_dir,
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    raise SystemExit(main())

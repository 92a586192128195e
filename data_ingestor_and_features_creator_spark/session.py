"""SparkSession factory tuned for this engine.

Local defaults target the test harness (local[N], single JVM); every
setting is chosen to also be the right *shape* at cluster scale:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  join-strategy demotion) — essential at 100 TB where static stats lie.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number mostly a ceiling.
- Arrow enabled so every pandas-UDF stage is vectorized batch transfer,
  with ``maxRecordsPerBatch`` bounded so a single Arrow batch cannot
  blow executor memory on wide rows (SURVEY.md §4).
- Session timezone pinned to UTC: parquet fixture timestamps are naive;
  the DuckDB oracle is UTC-naive (pyspark_guide.md "Pitfalls").
- Generated-code cache sized to the working set it must hold. One pass
  of the text-dedup pair (``dedup_minhash_cluster`` +
  ``llm_prep_pipeline_full``) needs ~173 generated classes; Spark's
  default LRU of 100 evicted each one before the next pass asked for it,
  so every warm pass recompiled ~169 classes (Janino, then the JIT
  again). The setting is static: only the first session in a JVM gets
  it. At cluster scale each executor JVM holds its own cache, sized by
  the same conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "data_ingestor_and_features_creator_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. In local
    mode the driver is the only JVM, so driver memory is the one heap
    knob; on a cluster the same configs apply per executor.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's default 1 MiB minPartitionSize coalesces the small local
        # fixtures to ONE post-shuffle partition, serializing the
        # CPU-heavy pandas-UDF stages onto a single core. A 64 KiB floor
        # keeps ~cores partitions locally; at cluster scale shuffle
        # blocks dwarf either floor, so this is a no-op there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Round 12 (VERDICT r11 ask 8, guide §6): floor the SCAN split
        # count at the core count — single-row-group fixture files
        # otherwise scan as ONE task and serialize every map-side
        # aggregate above them (fieller/ancova/tweedie family). Spark
        # only honors the floor by shrinking target split size, so at
        # cluster scale (files >> cores) it is a no-op; locally it is
        # the scan-side twin of the minPartitionSize floor above.
        # Adopted on a full-bench A/B: see OPTIMIZATION_r12.md.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # events.ts is parquet TIMESTAMP(NANOS): illegal for Spark's reader
        # (PARQUET_TYPE_ILLEGAL); read the raw int64 and convert in the
        # catalog (ns → µs floor division, matching DuckDB's ns→µs cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # TWO-THRESHOLD BROADCAST POSTURE (round 6): the STATIC planner
        # sees only file-size guesses — at the 100x blow-up its
        # pruned-column estimate of the 135 MB / 15M-row orders table
        # slipped under a 64 MB static threshold and EIGHT TPC-H plans
        # built a driver-side 15M-row hash relation (q18 alone paid
        # ~24 s; catastrophic on a real cluster). Static stays at
        # Spark's conservative 10 MB default so estimates can never
        # broadcast a fact table; AQE's runtime threshold stays at
        # 64 MB because it judges ACTUAL shuffle bytes after column
        # pruning — a genuinely-small side still earns its broadcast,
        # at runtime, from real sizes instead of guesses.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024))
        # CODEGEN CACHE: Spark keeps generated classes in an LRU keyed by
        # their source (default 100 entries); a miss costs a Janino
        # compile (5-8 ms mean on a 4-core VM) plus JIT work on the new
        # class. Distinct classes, measured with an unbounded cache
        # (tools/qbench.py prints compiles per run): one text-dedup pass
        # ~173; the 19 bench.py headline ids 10-62 each, 564 together;
        # the largest test module (test_oracle_parity) 7038. A warm
        # text-dedup pass compiled ~169 classes at 100 and 4-14 at 250 or
        # 1000; those 4-14 have new source every pass (fresh limit-counter
        # names, stage ids numbered in AQE's planning order), so no size
        # removes them. test_oracle_parity compiled 10802 times at 100,
        # 8622 at 500, 8062 at 1000. 1000 holds the whole headline set
        # with ~1.8x headroom. Static conf: only the first session in a
        # JVM gets it; on a cluster every executor JVM has its own cache
        # of this size.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations so far in this session's JVM (Spark's
    ``CodegenMetrics``): one per generated class that missed the codegen
    cache. In local mode the tasks run in the same JVM, so their
    compiles are counted too."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestor_and_features_creator_spark.schemas import TABLE_NAMES
from data_ingestor_and_features_creator_spark.session import get_spark

# Parity tests run at sf0.001 for speed; override to mimic the driver:
#   SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 pytest tests/
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="module", autouse=True)
def _module_cache_release():
    """Release pinned cache blocks at every test-module boundary.

    The suite shares one SparkSession across ~2600 tests; queries cache
    intra-query diamonds and (by design) never unpersist before their
    caller materializes, so a full run accumulates hundreds of pinned
    block sets — the same leak the r11 full-registry sweep measured at
    3-6x late-id inflation. Clearing per MODULE keeps within-module
    warmth (parametrized runs over one operator family reuse their
    scans) while bounding accumulation at ~35 module boundaries."""
    yield
    from pyspark.sql import SparkSession
    s = SparkSession.getActiveSession()
    if s is not None:
        s.catalog.clearCache()


@pytest.fixture()
def few_shuffle_partitions(spark):
    """Run a test with 4 shuffle partitions instead of the session's 32.

    Streaming state (HDFS/RocksDB state stores, per-trigger commit
    files) is created PER SHUFFLE PARTITION PER TRIGGER and gets no
    AQE coalescing — at the test fixtures' row counts, 32 state
    partitions are pure machinery (round 12: the streaming module ran
    224 s at 32 partitions; the many-trigger heads spend >80% of wall
    in state-store commit/restore overhead). Results are
    partition-count-invariant; each test starts a fresh checkpoint, so
    the count is consistent within every stream's lifetime."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture(params=["distributed", "local"])
def cc_regime(request, monkeypatch):
    """Run a connected-components test in both regimes: with the
    driver-finish bound at 0, so every non-empty graph takes the
    distributed rounds, and at its default, under which every test
    graph finishes on the driver."""
    from data_ingestor_and_features_creator_spark.operators import graph
    if request.param == "distributed":
        monkeypatch.setattr(graph, "LOCAL_EDGES", 0)
    return request.param


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()

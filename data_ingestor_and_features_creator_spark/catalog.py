"""Fixture-table catalog: typed readers + temp-view registration.

Reads always pass the declared schema (schemas.py) so the scan is a
straight columnar decode with no footer-driven inference surprises, and
column pruning / predicate pushdown operate against a stable schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .schemas import TABLE_NAMES
from .sources import parquet_table


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Typed parquet scan of one fixture table (SURVEY.md §2.1
    scan_parquet); reader implementation lives in sources/readers.py."""
    return parquet_table(spark, sf_dir, name)


class Tables:
    """Lazy dict-like access to all fixture tables for one sf_dir.

    ``t.lineitem`` / ``t["lineitem"]`` return the (cached-plan) DataFrame.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._dfs: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return self[name]

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._dfs:
            self._dfs[name] = load_table(self.spark, self.sf_dir, name)
        return self._dfs[name]

    def register_views(self) -> None:
        """Register every table as a temp view for the SQL entry point."""
        for name in TABLE_NAMES:
            self[name].createOrReplaceTempView(name)

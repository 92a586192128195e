"""Correctness checks, run on every pass outside the timed region.

A check returns a list of (label, ok, detail) tuples; each tuple is one
checked operation, so ``error_rate = failed / attempted`` over them.

- ecg_ingest: the landed RR rows must equal planted beats minus one per
  file, and each record's features must match a numpy recomputation of
  the generator's ground truth.
- text_dedup: every query result must equal its DuckDB
  oracle twin on the same inputs, compared through the repository's
  own ``tests/oracle_compare.py``.
"""

from __future__ import annotations

import pandas as pd

FEATURE_TOL = 2e-6   # results are rounded to 6 dp on the Spark side

Check = tuple[str, bool, str]


def check_ecg(landed_rows: int, feats: pd.DataFrame,
              truth: dict[int, dict]) -> list[Check]:
    planted = sum(t["n_beats"] + 1 for t in truth.values())
    want_rows = planted - len(truth)
    out = [("landed_rr_rows", landed_rows == want_rows,
            f"landed {landed_rows}, want {planted} beats - "
            f"{len(truth)} files = {want_rows}")]
    got = {int(r["record_id"]): r for r in feats.to_dict("records")}
    for rid, want in sorted(truth.items()):
        row = got.pop(rid, None)
        if row is None:
            out.append((f"features[{rid}]", False, "record missing"))
            continue
        bad = [k for k, v in want.items()
               if row[k] is None or abs(float(row[k]) - v) > FEATURE_TOL]
        out.append((f"features[{rid}]", not bad,
                    ", ".join(f"{k}: got {row[k]} want {want[k]}"
                              for k in bad)))
    for rid in got:
        out.append((f"features[{rid}]", False, "record not planted"))
    return out


class OracleCheck:
    """Compares query results with their DuckDB twins. The oracles run
    once per input directory, when the check is built."""

    def __init__(self, con, oracle_sql: dict[str, str]):
        from tests.oracle_compare import duck_fetch

        self._expected = {name: duck_fetch(con, sql)
                          for name, sql in oracle_sql.items()}

    def check(self, name: str, got: pd.DataFrame) -> Check:
        from tests.oracle_compare import assert_same_result

        want = self._expected[name]
        try:
            assert_same_result(
                name, list(got.columns),
                list(got.itertuples(index=False, name=None)),
                list(want.columns),
                list(want.itertuples(index=False, name=None)))
        except AssertionError as exc:
            return name, False, str(exc)[:500]
        return name, True, f"{len(got)} rows"


def duck_views(data_dir: str, tables: list[str]):
    """DuckDB connection with one view per generated table, named as
    the oracle SQL expects."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    return con

"""Correctness checks, run outside every timed region.

- main table: the snapshot equals a DuckDB last-writer-wins oracle over
  the landed WAL files, compared as md5-hex row hashes;
- tail landings: every key a landing touched ends with that landing's
  winning event (the landing "wins" LWW);
- derived tables: the rollup equals ``conv_rollup`` recomputed from
  the snapshot, and the text index equals ``rebuild_text_index``;
- catalog: each headline query equals its ``oracle_sql()`` in DuckDB
  over the same input files.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pandas as pd

#: DuckDB: LWW winners over the WAL, rendered as the md5 hash of the
#: same '|'-joined row the Spark side hashes
_ORACLE_MAIN = """
SELECT md5(concat_ws('|', conv_id, CAST(turn_idx AS VARCHAR),
                     coalesce(role, '~'),
                     nfc_normalize(replace(text, chr(0), '')),
                     coalesce(tool, '~'),
                     CAST(epoch_us(ts) AS VARCHAR))) AS h
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
  FROM read_parquet({files})
) WHERE rn = 1 AND op <> 'D'
"""


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in sorted(files)) + "]"


def main_matches_oracle(table, wal_files: list[str]) -> bool:
    """The table's snapshot equals the LWW final state of the WAL."""
    from pyspark.sql import functions as F

    row = F.concat_ws(
        "|", "conv_id", F.col("turn_idx").cast("string"),
        F.coalesce("role", F.lit("~")), "text",
        F.coalesce("tool", F.lit("~")),
        F.unix_micros("ts").cast("string"))
    ours = Counter(r[0] for r in table.snapshot_df().select(
        F.md5(row)).collect())
    con = duckdb.connect()
    try:
        oracle = Counter(h for (h,) in con.sql(
            _ORACLE_MAIN.format(files=_files_sql(wal_files))).fetchall())
    finally:
        con.close()
    return ours == oracle


def landings_win(wal_files: list[str],
                 landing_files: list[str]) -> tuple[int, int]:
    """(keys the landings touched, of which the LWW winner over the
    whole WAL is the winner among the landings alone). Equal counts
    mean no landed event lost to a row landed before it."""
    def winners(files):
        return f"""
          SELECT conv_id, turn_idx, seq FROM (
            SELECT conv_id, turn_idx, seq, row_number() OVER (
              PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
            FROM read_parquet({_files_sql(files)})) WHERE rn = 1"""

    con = duckdb.connect()
    try:
        n, won = con.sql(f"""
        SELECT count(*), count(*) FILTER (a.seq = l.seq)
        FROM ({winners(landing_files)}) l
        JOIN ({winners(wal_files)}) a USING (conv_id, turn_idx)
        """).fetchone()
    finally:
        con.close()
    return int(n), int(won)


def same_rows(got, expect) -> bool:
    """Two Spark frames hold the same multiset of rows (columns matched
    by name). The derived tables are small: both sides are collected."""
    from pyspark.sql import functions as F

    cols = sorted(expect.columns)
    if sorted(got.columns) != cols:
        return False

    def rows(df):
        return Counter(r[0] for r in df.select(
            F.to_json(F.struct(*cols))).collect())

    return rows(got) == rows(expect)


def derived_match(spark, main, rollup_path: str,
                  index_path: str) -> dict[str, bool]:
    """Each incrementally maintained table against a full recompute
    from the main snapshot."""
    from tap_github_search_spark.streaming.derived import (
        conv_rollup,
        rebuild_text_index,
    )
    from tap_github_search_spark.table.microlake import MicroLakeTable

    def live(path):
        return MicroLakeTable.load(spark, path).snapshot_df().drop("ts")

    return {
        "conv_rollup": same_rows(live(rollup_path),
                                 conv_rollup(main.snapshot_df())),
        "text_index": same_rows(live(index_path), rebuild_text_index(main)),
    }


# ------------------------------------------------------------ catalog

def _canon(df: pd.DataFrame) -> list[str]:
    """Order-insensitive rendering: columns by name, timestamps as UTC,
    floats rounded to 6 places, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
            return "~"
        if isinstance(v, pd.Timestamp):
            return str(v.tz_localize("UTC") if v.tzinfo is None else
                       v.tz_convert("UTC"))
        if isinstance(v, float):
            return repr(round(v, 6))
        if hasattr(v, "__len__") and not isinstance(v, str):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    return sorted("|".join(cell(v) for v in row)
                  for row in df.itertuples(index=False, name=None))


def catalog_matches(spark, sf_dir: str, names: list[str],
                    oracle_log: str) -> dict[str, bool]:
    """Each query's output against its DuckDB oracle over the same
    files. The oracle SQL names the committed correctness-scale
    changelog by absolute path; it is rebound to ``oracle_log``."""
    import os

    from tap_github_search_spark.plans import common
    from tap_github_search_spark.plans.queries import REGISTRY

    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{f}')")
        out = {}
        for n in names:
            fn, sql = REGISTRY[n]
            ours = fn(spark, sf_dir).toPandas()
            theirs = con.sql(sql.replace(common._ORACLE_LOG,
                                         oracle_log)).df()
            out[n] = (sorted(ours.columns) == sorted(theirs.columns)
                      and _canon(ours) == _canon(theirs))
        return out
    finally:
        con.close()

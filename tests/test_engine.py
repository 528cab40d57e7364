"""Engine unit + end-to-end tests (test strategy: SURVEY.md §5).

Covers: LWW variant agreement, MicroLake MERGE vs DuckDB oracle,
crash/restart exactly-once (FIXTURES.md §4), schema evolution (§3),
delete-vs-late-update ordering (SURVEY.md §7.4 hard part), text
normalization, and randomized interleavings converging to the oracle.
"""

from __future__ import annotations

from datetime import datetime, timezone

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tap_github_search_spark.operators.dedup import (
    final_state,
    lww_winners,
    lww_winners_ord,
    lww_winners_salted,
    lww_winners_window,
)
from tap_github_search_spark.schema import CHANGE_EVENT_SCHEMA
from tap_github_search_spark.sources.generator import TURN_SPAN, write_changelog
from tap_github_search_spark.streaming.job import replay, stream
from tap_github_search_spark.table.microlake import MicroLakeTable


def _ts(sec: int) -> datetime:
    return datetime.fromtimestamp(1735689600 + sec, tz=timezone.utc)


def _events(spark, rows):
    """rows: (seq, op, conv, turn, ts_sec[, text])"""
    data = [
        (r[0], r[1], r[2], r[3], "user", r[5] if len(r) > 5 else f"t{r[0]}",
         None, _ts(r[4]))
        for r in rows
    ]
    return spark.createDataFrame(data, CHANGE_EVENT_SCHEMA)


def _oracle_final(log_glob: str) -> pd.DataFrame:
    return (
        duckdb.sql(
            f"""
        SELECT conv_id, turn_idx, role,
               nfc_normalize(replace(text, chr(0), '')) AS text, tool, ts
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) rn
          FROM read_parquet({log_glob})
        ) WHERE rn = 1 AND op <> 'D'
        """
        )
        .df()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _assert_table_equals_oracle(table, log_glob):
    ours = (
        table.snapshot_df()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    oracle = _oracle_final(log_glob)
    ours["ts"] = pd.to_datetime(ours["ts"], utc=True)
    oracle["ts"] = pd.to_datetime(oracle["ts"], utc=True)
    pd.testing.assert_frame_equal(ours, oracle, check_dtype=False)


# ---------------------------------------------------------------- units

def test_lww_variants_agree(spark, tmp_dir):
    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=3)
    df = spark.read.parquet(f"{tmp_dir}/log")
    a = lww_winners(df)
    b = lww_winners_window(df)
    c = lww_winners_salted(df, n_salts=7)
    d = lww_winners_ord(df)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0
    assert a.exceptAll(d).count() == 0 and d.exceptAll(a).count() == 0


def test_normalize_strips_nul_and_nfc(spark):
    from tap_github_search_spark.functions.normalize import normalized

    df = spark.createDataFrame(
        [("a\x00b",), ("café",), ("café",), (None,)], ["text"]
    ).select(normalized("text").alias("text"))
    vals = [r.text for r in df.collect()]
    assert vals[0] == "ab"
    assert vals[1] == vals[2] == "café"
    assert vals[3] is None


def test_delete_is_not_absorbing_late_update_wins(spark):
    # I(ts=10), D(ts=20), U(ts=30): winner is the update → row lives.
    df = _events(spark, [(1, "I", "c1", 0, 10), (2, "D", "c1", 0, 20),
                         (3, "U", "c1", 0, 30, "alive")])
    out = final_state(df).collect()
    assert len(out) == 1 and out[0].text == "alive"


def test_delete_wins_over_earlier_ts_update(spark):
    # U's ts (20) is older than D's (30): delete wins → key absent.
    df = _events(spark, [(1, "I", "c1", 0, 10), (2, "D", "c1", 0, 30),
                         (3, "U", "c1", 0, 20, "zombie")])
    assert final_state(df).count() == 0


# ------------------------------------------------------- MERGE / table

def test_tombstone_blocks_cross_batch_resurrection(spark, tmp_dir):
    """The §7.4 trap: the delete arrives in an earlier batch than an
    older-ts update; without tombstones the update would resurrect."""
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t",
        _events(spark, [(1, "I", "c", 0, 1)]).drop("op", "seq").schema,
        n_buckets=4,
    )
    t.merge(_events(spark, [(1, "I", "c1", 0, 10), (2, "D", "c1", 0, 30)]), 0)
    assert t.snapshot_df().count() == 0
    t.merge(_events(spark, [(3, "U", "c1", 0, 20, "zombie")]), 1)
    assert t.snapshot_df().count() == 0, "older update resurrected a deleted key"
    # but a genuinely newer update revives it
    t.merge(_events(spark, [(4, "U", "c1", 0, 40, "revived")]), 2)
    rows = t.snapshot_df().collect()
    assert len(rows) == 1 and rows[0].text == "revived"


def test_epoch_fence_is_idempotent(spark, tmp_dir):
    batch = _events(spark, [(1, "I", "c1", 0, 10), (2, "I", "c2", 0, 11)])
    t = MicroLakeTable.create(spark, f"{tmp_dir}/t",
                              batch.drop("op", "seq").schema, n_buckets=4)
    r1 = t.merge(batch, 0)
    r2 = t.merge(batch, 0)  # redelivery of the same epoch
    assert not r1.skipped and r2.skipped
    assert t.snapshot_df().count() == 2
    # reload from disk — fence survives restart
    t2 = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert t2.merge(batch, 0).skipped
    assert t2.last_committed_epoch == 0


def test_batch_replay_matches_oracle_multi_epoch(spark, tmp_dir):
    write_changelog(spark, f"{tmp_dir}/log", 200, n_files=4)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=8, n_epochs=4)
    assert [r.epoch for r in results] == [0, 1, 2, 3]
    _assert_table_equals_oracle(table, f"'{tmp_dir}/log/*.parquet'")
    # lineage: every epoch present exactly once per bucket at most
    lin = table.lineage_df().toPandas()
    assert set(lin.commit_epoch) <= {0, 1, 2, 3}
    assert not lin.duplicated(["commit_epoch", "partition_id"]).any()


def test_copy_on_write_touches_only_affected_buckets(spark, tmp_dir):
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t",
        _events(spark, [(1, "I", "c", 0, 1)]).drop("op", "seq").schema,
        n_buckets=64,
    )
    t.merge(_events(spark, [(i, "I", f"c{i}", 0, i) for i in range(1, 50)]), 0)
    files_before = {f["path"] for f in t.manifest["files"]}
    r = t.merge(_events(spark, [(100, "U", "c1", 0, 100, "upd")]), 1)
    assert r.buckets_touched == 1
    files_after = {f["path"] for f in t.manifest["files"]}
    # all but one bucket's files survive untouched
    assert len(files_before & files_after) >= len(files_before) - 1


# ----------------------------------------------------- streaming / e2e

def test_stream_crash_restart_exactly_once(spark, tmp_dir):
    log = f"{tmp_dir}/log"
    write_changelog(spark, log, 120, n_files=6)
    with pytest.raises(Exception):
        stream(spark, [log], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, max_files_per_trigger=2, fail_after_batches=1)
    t = stream(spark, [log], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, max_files_per_trigger=2)
    _assert_table_equals_oracle(t, f"'{log}/*.parquet'")
    lin = t.lineage_df().toPandas()
    assert not lin.duplicated(["commit_epoch", "partition_id"]).any()


def test_schema_evolution_adds_columns_nullable(spark, tmp_dir):
    log1, log2 = f"{tmp_dir}/log1", f"{tmp_dir}/log2"
    write_changelog(spark, log1, 80, n_files=2)
    write_changelog(spark, log2, 20, n_files=1, evolved=True,
                    seq_offset=80 * TURN_SPAN * 2)
    table, _ = replay(spark, [log1], f"{tmp_dir}/t", n_buckets=8)
    assert "tool_version" not in [f.name for f in table.schema.fields]
    # second segment carries new columns → implicit ADD COLUMN
    ev = spark.read.parquet(log2)
    table.merge(ev, epoch=table.last_committed_epoch + 1)
    names = [f.name for f in table.schema.fields]
    assert "tool_version" in names and "lang" in names
    snap = table.snapshot_df()
    # pre-evolution rows read back as NULL
    assert snap.filter(F.col("lang").isNull()).count() > 0
    assert snap.filter(F.col("lang").isNotNull()).count() > 0


def test_null_key_events_rejected_not_poisoning(spark, tmp_dir):
    """Malformed events (null merge keys) are dropped and accounted in
    metrics, never written into the bucket layout."""
    rows = [
        (1, "I", "c1", 0, "user", "ok", None, _ts(10)),
        (2, "I", None, 0, "user", "bad-conv", None, _ts(11)),
        (3, "I", "c2", None, "user", "bad-turn", None, _ts(12)),
    ]
    # upstream contract says keys are non-null; a hostile/buggy producer
    # wouldn't honor it, so build the frame with an all-nullable schema
    df = spark.createDataFrame(
        rows,
        "seq long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp",
    )
    df.write.mode("overwrite").parquet(f"{tmp_dir}/log")
    table, res = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", n_buckets=4)
    assert res[0].events_in == 3
    snap = table.snapshot_df().collect()
    assert len(snap) == 1 and snap[0]["conv_id"] == "c1"
    m = table.metrics_df().first()
    assert m["events_rejected"] == 2


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_null_op_event_rejected(spark, tmp_dir, mode):
    """An event with a NULL op is neither an upsert nor a delete. It
    must be rejected and counted in events_rejected, not applied: CoW's
    rewrite used to read its NULL _deleted back as an update, MOR's
    reader used to drop the key."""
    schema = (
        "seq long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp"
    )
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t",
        spark.createDataFrame([], schema).drop("op", "seq").schema,
        n_buckets=4,
    )
    t.merge(spark.createDataFrame(
        [(1, "I", "a", 0, "user", "v1", None, _ts(10))], schema),
        0, merge_mode=mode)
    r = t.merge(spark.createDataFrame(
        [(2, None, "a", 0, "user", "v2", None, _ts(20))], schema),
        1, merge_mode=mode)
    assert r.events_in == 1 and r.rows_applied == 0
    snap = t.snapshot_df().collect()
    assert [(x["conv_id"], x["text"]) for x in snap] == [("a", "v1")]
    m = t.metrics_df().filter(F.col("commit_epoch") == 1).first()
    assert m["events_rejected"] == 1


def test_hot_key_extreme_duplication(spark, tmp_dir):
    """Skew torture: one (conv_id, turn_idx) receives 50k updates in a
    single batch (north_rule hot-conversation case). The WindowGroupLimit
    plan must keep only the max-(ts,seq) row, and all LWW variants agree."""
    n = 50_000
    hot = spark.range(n).select(
        (F.col("id") + 10).alias("seq"),
        F.lit("U").alias("op"),
        F.lit("conv_hot").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.concat(F.lit("v"), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("id")).alias("ts"),
    )
    base = _events(spark, [(1, "I", "conv_hot", 0, 0), (2, "I", "conv_a", 1, 0)])
    log = base.unionByName(hot)
    log.write.mode("overwrite").parquet(f"{tmp_dir}/log")

    table, res = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", n_buckets=4)
    snap = table.snapshot_df()
    assert snap.count() == 2
    winner = snap.filter(F.col("conv_id") == "conv_hot").first()
    assert winner["text"] == f"v{n - 1}"
    assert res[0].rows_applied == 2

    df = spark.read.parquet(f"{tmp_dir}/log")
    a = lww_winners(df)
    d = lww_winners_ord(df)
    s = lww_winners_salted(df)
    assert a.exceptAll(d).count() == 0 and d.exceptAll(a).count() == 0
    assert a.exceptAll(s).count() == 0 and s.exceptAll(a).count() == 0


@pytest.mark.parametrize("seed", [7, 99])
def test_randomized_interleavings_converge(spark, tmp_dir, seed):
    """Different seeds (op mixes, disorder, duplicates) + odd epoch
    splits must all converge to the DuckDB oracle state."""
    log = f"{tmp_dir}/log"
    write_changelog(spark, log, 100, n_files=5, seed=seed,
                    out_of_order_pct=40, duplicate_pct=10)
    table, _ = replay(spark, [log], f"{tmp_dir}/t", n_buckets=8, n_epochs=3)
    _assert_table_equals_oracle(table, f"'{log}/*.parquet'")


def test_merge_reads_batch_exactly_once(spark, tmp_dir):
    """The WAL batch must be scanned exactly once per merge (VERDICT r1
    #1: a separate count() doubled read amplification on the hot path).
    A ticking UDF on a payload column counts per-row evaluations."""
    acc = spark.sparkContext.accumulator(0)

    def tick(s):
        acc.add(1)
        return s

    tick_udf = F.udf(tick, "string")
    base = _events(spark, [(i, "I", f"c{i}", 0, i) for i in range(1, 21)])
    batch = base.withColumn("text", tick_udf("text"))
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t", base.drop("op", "seq").schema, n_buckets=4
    )
    r = t.merge(batch, 0)
    assert r.events_in == 20
    assert acc.value == 20  # one evaluation per input row: single scan

    # the CoW rewrite path re-reads STAGED+OLD parquet, never the batch
    acc2 = spark.sparkContext.accumulator(0)

    def tick2(s):
        acc2.add(1)
        return s

    upd = _events(
        spark, [(100 + i, "U", f"c{i}", 0, 100 + i, "u") for i in range(1, 6)]
    ).withColumn("text", F.udf(tick2, "string")("text"))
    r2 = t.merge(upd, 1)
    assert r2.events_in == 5
    assert acc2.value == 5


def test_merge_max_payload_bytes_rejects_and_counts(spark, tmp_dir):
    """S7 large-blob guard inside MERGE: oversize payloads are rejected
    (not written) and accounted in events_rejected, like null keys.
    Reference: 40 MiB diff cap (/root/reference/tap_github/client.py:334)."""
    rows = [
        (1, "I", "c1", 0, 10, "small"),
        (2, "I", "c2", 0, 11, "x" * 500),   # oversize
        (3, "I", "c3", 0, 12, None),         # null payload is fine
    ]
    batch = _events(spark, rows)
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t", batch.drop("op", "seq").schema, n_buckets=4
    )
    r = t.merge(batch, 0, max_payload_bytes=100)
    assert r.events_in == 3
    snap = {x["conv_id"] for x in t.snapshot_df().collect()}
    assert snap == {"c1", "c3"}
    m = t.metrics_df().first()
    assert m["events_rejected"] == 1


def test_merge_labels_its_jobs_by_phase(spark, tmp_dir, monkeypatch):
    """Each merge phase's Spark jobs carry the description
    ``<table dir>/e<epoch>/<phase>`` (stage, quarantine, rewrite), and
    the caller's description — Structured Streaming sets one per batch
    — is back in place once the merge returns."""
    sc = spark.sparkContext
    labels: list[str] = []
    write, quarantine = (MicroLakeTable._write,
                         MicroLakeTable._merge_quarantine)

    def write_spy(self, df):
        labels.append(sc.getLocalProperty("spark.job.description"))
        return write(self, df)

    def quarantine_spy(self, *args):
        labels.append(sc.getLocalProperty("spark.job.description"))
        return quarantine(self, *args)

    monkeypatch.setattr(MicroLakeTable, "_write", write_spy)
    monkeypatch.setattr(MicroLakeTable, "_merge_quarantine", quarantine_spy)
    path = f"{tmp_dir}/t"
    batch = _events(spark, [(1, "I", "c1", 0, 10), (2, "I", "c2", 0, 11)])
    t = MicroLakeTable.create(spark, path, batch.drop("op", "seq").schema,
                              n_buckets=4)
    sc.setJobDescription("caller batch")
    try:
        t.merge(batch, 0)
        t.merge(_events(spark, [(3, "U", "c1", 0, 12),
                                (4, "I", "c3", 0, 13, "bad")]), 1,
                expectations={"no_bad": "text <> 'bad'"},
                quarantine_dir=f"{tmp_dir}/q")
        assert sc.getLocalProperty("spark.job.description") == "caller batch"
    finally:
        sc.setJobDescription(None)
    assert labels == [f"{path}/e0/stage", f"{path}/e1/stage",
                      f"{path}/e1/quarantine", f"{path}/e1/rewrite"]


def test_metrics_df_backfills_pre_evolution_manifests(spark, tmp_dir):
    """Manifests committed before METRICS_SCHEMA gained events_rejected
    must still load (ADVICE r1: immutable old manifests lack the key)."""
    batch = _events(spark, [(1, "I", "c1", 0, 10)])
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t", batch.drop("op", "seq").schema, n_buckets=4
    )
    t.merge(batch, 0)
    # simulate a legacy manifest: strip the field and reload
    for m in t.manifest["metrics"]:
        m.pop("events_rejected", None)
    rows = t.metrics_df().collect()
    assert rows and rows[0]["events_rejected"] == 0


def test_discover_schema_rejects_heterogeneous_dir(spark, tmp_dir):
    """ADVICE r3: the one-footer-per-dir discovery samples an arbitrary
    file (part names are uuid-random); if a dir ever holds files with
    different column sets, discovery must fail loudly instead of
    silently dropping the unsampled files' columns."""
    from tap_github_search_spark.streaming.job import discover_schema

    _events(spark, [(1, "I", "c1", 0, 10)]).coalesce(1) \
        .write.mode("overwrite").parquet(f"{tmp_dir}/log")
    # homogeneous multi-file dir: fine
    _events(spark, [(2, "I", "c2", 0, 11)]).coalesce(1) \
        .write.mode("append").parquet(f"{tmp_dir}/log")
    s = discover_schema(spark, f"{tmp_dir}/log")
    assert "conv_id" in [f.name for f in s.fields]
    # in-place evolution (extra column) in the SAME dir: refused
    _events(spark, [(3, "I", "c3", 0, 12)]) \
        .withColumn("lang", F.lit("en")).coalesce(1) \
        .write.mode("append").parquet(f"{tmp_dir}/log")
    with pytest.raises(ValueError, match="heterogeneous WAL dir"):
        discover_schema(spark, f"{tmp_dir}/log")


def test_type_widening_schema_evolution(spark, tmp_dir):
    """Iceberg-style safe type promotion: a batch column arriving WIDER
    than the table's (int→long) widens the schema metadata-only — old
    narrow parquet files are promoted at scan; narrower producers cast
    up; key columns refuse to widen (their hash bytes would remap
    every bucket)."""
    from pyspark.sql import types as T

    from tap_github_search_spark.table.microlake import murmur3_x86_32

    def pick(bucket):
        i = 0
        while True:
            k = f"w{i:03d}"
            if murmur3_x86_32(k.encode()) % 2 == bucket:
                return k
            i += 1

    ka, kb = pick(0), pick(1)  # disjoint buckets
    payload = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("score", T.IntegerType()),
    ])
    t = MicroLakeTable.create(spark, f"{tmp_dir}/t", payload, n_buckets=2)
    t.merge(
        _events(spark, [(1, "I", ka, 0, 10)])
        .withColumn("score", F.lit(7).cast("int")),
        epoch=0,
    )

    # widening batch touches ONLY kb's bucket — ka's int file survives
    t.merge(
        _events(spark, [(2, "I", kb, 0, 20)])
        .withColumn("score", F.lit(9_000_000_000).cast("long")),
        epoch=1,
    )
    t2 = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    types = {f.name: f.dataType.typeName() for f in t2.schema.fields}
    assert types["score"] == "long"
    got = {r["conv_id"]: r["score"] for r in t2.snapshot_df().collect()}
    assert got == {ka: 7, kb: 9_000_000_000}  # old int file promoted

    # a narrower producer after the widening is cast up, not refused
    t2.merge(
        _events(spark, [(3, "U", ka, 0, 30)])
        .withColumn("score", F.lit(5).cast("int")),
        epoch=2,
    )
    t3 = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert t3.lookup(ka).first()["score"] == 5
    assert {f.name: f.dataType.typeName()
            for f in t3.schema.fields}["score"] == "long"

    # key columns never widen
    import pytest as _pytest
    with _pytest.raises(ValueError, match="widen key"):
        t3.merge(
            _events(spark, [(4, "U", ka, 0, 40)])
            .withColumn("turn_idx", F.col("turn_idx").cast("long")),
            epoch=3,
        )

    # discover surfaces the widen plan as DDL
    from tap_github_search_spark.cli import discover_plan
    _events(spark, [(9, "I", "x", 0, 1)]) \
        .withColumn("score", F.lit(1).cast("long")) \
        .write.mode("overwrite").parquet(f"{tmp_dir}/wlog")
    t4 = MicroLakeTable.create(spark, f"{tmp_dir}/t4", payload, n_buckets=2)
    plan = discover_plan(spark, [f"{tmp_dir}/wlog"], f"{tmp_dir}/t4")
    assert plan["widen_columns"] == [{"name": "score", "type": "bigint"}]
    assert any("ALTER COLUMN score TYPE bigint" in d for d in plan["ddl"])
    del t4

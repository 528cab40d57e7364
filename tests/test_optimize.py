"""optimize(): manifest-stats-driven auto-maintenance policy."""

from __future__ import annotations

import os
import random
import string

import pytest

from tap_github_search_spark.streaming.job import replay
from tap_github_search_spark.table.microlake import MicroLakeTable
from tests.test_engine import _events


def _seed(spark, tmp_dir, n_buckets=2):
    rows = [(i, "I", f"c{i % 5}", i // 5, 10 + i) for i in range(40)]
    _events(spark, rows).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                      n_buckets=n_buckets)
    return table


def test_optimize_compacts_mor_pileup(spark, tmp_dir):
    table = _seed(spark, tmp_dir)
    for e in range(1, 6):  # five MOR generations on the same keys
        upd = [(100 * e + i, "U", f"c{i % 5}", i // 5, 100 * e + i)
               for i in range(10)]
        table.merge(_events(spark, upd), epoch=e, merge_mode="mor")
    before = table.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    assert table.stats()["read_dedup"]

    rep = table.optimize(max_generations=3, keep_versions=100)
    assert rep["compacted_buckets"] > 0
    assert any(a.startswith("compact") for a in rep["actions"])
    t2 = MicroLakeTable.load(spark, table.path)
    assert not t2.stats()["read_dedup"]
    after = t2.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    assert after == before

    # fixed point: immediately re-running decides nothing
    rep2 = t2.optimize(max_generations=3, keep_versions=100)
    assert rep2["actions"] == []


def test_optimize_starts_migration_on_growth_and_compacts(spark, tmp_dir):
    """Growth STARTS a progressive spec migration (metadata-only, so
    the same policy is safe in-stream); compaction on pileup still runs
    in the same round, and follow-up rounds drain the migration to a
    plain table."""
    table = _seed(spark, tmp_dir)
    table.merge(_events(spark, [(900, "U", "c1", 0, 900)]), epoch=1,
                merge_mode="mor")
    before = table.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    # tiny target forces the growth action; pileup exists too
    rep = table.optimize(target_bucket_bytes=1024, max_generations=0,
                         keep_versions=100)
    assert any(a.startswith("rebucket_start") for a in rep["actions"])
    assert rep["rebucketed_to"] > 2
    assert rep["compacted_buckets"] > 0  # compaction is not subsumed
    t2 = MicroLakeTable.load(spark, table.path)
    assert t2.n_buckets == rep["rebucketed_to"]
    assert (t2.n_buckets & (t2.n_buckets - 1)) == 0  # power of two
    assert t2.stats()["migration_pending"]

    for _ in range(5):
        t2.optimize(target_bucket_bytes=1024, max_generations=0,
                    keep_versions=100)
        t2 = MicroLakeTable.load(spark, table.path)
        if not t2.stats()["migration_pending"]:
            break
    assert not t2.stats()["migration_pending"]
    t2.optimize(target_bucket_bytes=1024, max_generations=0,
                keep_versions=100)
    t2 = MicroLakeTable.load(spark, table.path)
    assert not t2.stats()["read_dedup"]
    assert t2.n_buckets == rep["rebucketed_to"]  # no second growth step
    after = t2.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    assert after == before


def test_optimize_grows_disjoint_mor_generations_once_compacted(
        spark, tmp_dir, monkeypatch):
    """Growth sizes a bucket by its largest file, a lower bound on its
    live size while MOR generations hold disjoint keys (append-style
    traffic): such generations add up. The pileup rule compacts them
    in the same round, and the next round sees the bucket's full size
    and starts the growth."""
    monkeypatch.setattr(MicroLakeTable, "BLOOM_NDV", 0)  # no per-file bloom
    table = _seed(spark, tmp_dir)
    rnd = random.Random(7)  # incompressible text: bytes ~ rows
    for e in range(1, 6):  # five generations, each on new keys
        rows = [(1000 * e + i, "I", f"e{e}-{i:03d}", 0, 1000 * e + i,
                 "".join(rnd.choices(string.ascii_lowercase, k=100)))
                for i in range(200)]
        table.merge(_events(spark, rows), epoch=e, merge_mode="mor")
    before = table.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    # half the files' total per bucket: each bucket's largest file
    # (about a fifth of its bytes) stays under it, the bucket compacted
    # into one file goes over it
    target = table.stats()["total_bytes"] // (2 * table.n_buckets)

    rep = table.optimize(target_bucket_bytes=target, max_generations=1,
                         keep_versions=100)
    assert not any(a.startswith("rebucket_start") for a in rep["actions"])
    assert rep["compacted_buckets"] == table.n_buckets

    t2 = MicroLakeTable.load(spark, table.path)
    rep2 = t2.optimize(target_bucket_bytes=target, max_generations=1,
                       keep_versions=100)
    assert any(a.startswith("rebucket_start") for a in rep2["actions"])
    assert rep2["rebucketed_to"] > table.n_buckets
    t3 = MicroLakeTable.load(spark, table.path)
    after = t3.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    assert after == before


@pytest.mark.parametrize("newest", [None, "part-00000"],
                         ids=["as_written", "part-00000_newest"])
def test_stream_optimize_never_rebuckets_inline(spark, tmp_dir, newest):
    """The streaming loop's optimize_every never rewrites the whole
    table in one go: a growth trigger (2 -> 4 buckets here) starts a
    metadata-only migration, and every in-stream ``migrate`` commit
    rewrites at most ``compact_batch`` old-spec bucket groups. The
    final table equals the full-replay oracle. The stream reads WAL
    files oldest first, so touching ``part-00000`` newest lands the
    first seq range last: buckets then still hold migration-era
    generations when growth is checked, which must not start a second
    ``rebucket_start``."""
    import json

    from tap_github_search_spark.sources.generator import write_changelog
    from tap_github_search_spark.streaming.job import stream
    from tests.test_engine import _assert_table_equals_oracle

    write_changelog(spark, f"{tmp_dir}/log", 60, n_files=6)
    if newest is not None:
        log = f"{tmp_dir}/log"
        parts = [os.path.join(log, p) for p in os.listdir(log)
                 if p.endswith(".parquet")]
        latest = max(os.path.getmtime(p) for p in parts)
        (first,) = [p for p in parts
                    if os.path.basename(p).startswith(newest)]
        os.utime(first, (latest + 10, latest + 10))
    ref, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/ref",
                    n_buckets=2)
    # a full table spread over 3 buckets' worth of target: 2 buckets
    # overflow it, 4 hold it
    target = ref.stats()["total_bytes"] // 3
    compact_batch = 1
    stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
           n_buckets=2, max_files_per_trigger=1, optimize_every=1,
           optimize_opts={"target_bucket_bytes": target,
                          "compact_batch": compact_batch,
                          "keep_versions": 1000})
    t = MicroLakeTable.load(spark, f"{tmp_dir}/t")

    mdir = os.path.join(t.path, "_manifests")
    mans = []
    for name in sorted(os.listdir(mdir)):
        if name.startswith("manifest-"):
            with open(os.path.join(mdir, name)) as f:
                mans.append(json.load(f))
    ops = [m.get("commit_op", [None])[0] for m in mans]
    assert ops.count("rebucket-start") == 1
    assert "rebucket" not in ops  # no one-shot rewrite in-stream
    migrated = 0
    for prev, m in zip(mans, mans[1:]):
        if m.get("commit_op") != ["migrate"]:
            continue

        def groups(man):
            return {(f["spec_n"], f["bucket"]) for f in man["files"]
                    if f.get("spec_n", man["n_buckets"]) != man["n_buckets"]}

        gone = groups(prev) - groups(m)
        assert 0 < len(gone) <= compact_batch
        migrated += len(gone)
    assert migrated >= 1
    assert t.n_buckets == 4
    _assert_table_equals_oracle(t, f"'{tmp_dir}/log/*.parquet'")


def test_optimize_dry_run_and_vacuum(spark, tmp_dir):
    table = _seed(spark, tmp_dir)
    for e in range(1, 4):
        table.merge(_events(spark, [(50 + e, "U", "c0", 0, 50 + e)]), epoch=e)
    v_before = table.manifest["version"]

    rep = table.optimize(target_bucket_bytes=1024, keep_versions=1,
                         grace_seconds=0.0, dry_run=True)
    assert rep["actions"]  # decisions reported...
    t2 = MicroLakeTable.load(spark, table.path)
    assert t2.manifest["version"] == v_before  # ...but nothing acted

    rep = t2.optimize(keep_versions=1, grace_seconds=0.0)
    assert any(a.startswith("vacuum") for a in rep["actions"])
    assert rep["vacuumed_files"] > 0
    mdir = os.path.join(t2.path, "_manifests")
    assert sum(1 for x in os.listdir(mdir)
               if x.startswith("manifest-")) == 1
    t3 = MicroLakeTable.load(spark, t2.path)
    assert t3.snapshot_df().count() == 40


def test_parquet_native_bloom_filter_written(spark, tmp_dir, monkeypatch):
    """_write attaches a parquet-native bloom on the primary key: the
    same rows written with MicroLakeTable.BLOOM_NDV=0 vs on produce
    strictly smaller files — the only difference is the serialized
    bloom. (Neither pyarrow nor duckdb in this container expose
    bloom_filter_offset, so presence is proven by the byte delta.)"""
    rows = [(i, "I", f"c{i:04d}", 0, 10 + i) for i in range(300)]
    _events(spark, rows).write.mode("overwrite").parquet(f"{tmp_dir}/log0")

    def table_bytes(path):
        t = MicroLakeTable.load(spark, path)
        return sum(
            os.path.getsize(os.path.join(path, f["path"]))
            for f in t.manifest["files"]
        )

    monkeypatch.setattr(MicroLakeTable, "BLOOM_NDV", 0)
    replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t_off", n_buckets=2)
    monkeypatch.setattr(MicroLakeTable, "BLOOM_NDV", 50_000)
    replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t_on", n_buckets=2)

    off, on = table_bytes(f"{tmp_dir}/t_off"), table_bytes(f"{tmp_dir}/t_on")
    assert on > off + 10_000, (off, on)
    # content identical either way
    a = MicroLakeTable.load(spark, f"{tmp_dir}/t_off").snapshot_df()
    b = MicroLakeTable.load(spark, f"{tmp_dir}/t_on").snapshot_df()
    assert a.orderBy("conv_id").collect() == b.orderBy("conv_id").collect()


def test_stats_reports_manifest_numbers(spark, tmp_dir):
    table = _seed(spark, tmp_dir)
    s = table.stats()
    assert s["n_buckets"] == 2 and s["n_files"] >= 1
    assert s["total_rows"] == 40  # footer num_rows, recorded at commit
    assert s["total_bytes"] > 0 and not s["read_dedup"]
    table.merge(_events(spark, [(99, "U", "c0", 0, 99)]), epoch=1,
                merge_mode="mor")
    s2 = MicroLakeTable.load(spark, table.path).stats()
    assert s2["max_generations"] == 2 and s2["read_dedup"]
    assert s2["total_rows"] == 41  # physical rows incl. the MOR loser


def test_read_between_prunes_files_by_ts_zone(spark, tmp_dir):
    """Two epochs with disjoint ts windows land in different files; a
    window over the second epoch's range must not read the first
    epoch's files — and must return exactly the oracle rows."""
    from tap_github_search_spark.table.microlake import murmur3_x86_32

    # keys chosen so the two epochs land in DISJOINT buckets — a CoW
    # rewrite of an overlapping bucket would merge both ts ranges into
    # one file and (correctly) defeat the pruning this test asserts
    def pick(bucket, n):
        out, i = [], 0
        while len(out) < n:
            k = f"k{i:04d}"
            if murmur3_x86_32(k.encode()) % 2 == bucket:
                out.append(k)
            i += 1
        return out

    a_keys, b_keys = pick(0, 10), pick(1, 10)
    e0 = [(i, "I", a_keys[i], 0, 100 + i) for i in range(10)]
    e1 = [(50 + i, "I", b_keys[i], 0, 50_000 + i) for i in range(10)]
    _events(spark, e0).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t", n_buckets=2)
    table.merge(_events(spark, e1), epoch=1)

    t = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    from tests.test_engine import _ts

    df = t.read_between(_ts(50_000), _ts(60_000))
    got = {r["conv_id"] for r in df.collect()}
    assert got == set(b_keys)
    read = {os.path.relpath(p.replace("file:", ""), t.path)
            for p in df.inputFiles()}
    outside = {f["path"] for f in t.manifest["files"]
               if _norm_iso(f["ts_max"]) < _norm_iso("2025-01-01T13:00:00")}
    # epoch-0 files (ts ≈ 100s) all end before the window start
    assert outside and not (read & outside)

    # boundary inclusive on both ends
    one = t.read_between(_ts(100), _ts(100))
    assert {r["conv_id"] for r in one.collect()} == {a_keys[0]}

    # MOR generations: winner outside the naive per-file window must
    # still shadow an in-window loser — pruning is disabled, result
    # stays LWW-correct
    table.merge(_events(spark, [(90, "U", a_keys[0], 0, 70_000, "late")]),
                epoch=2, merge_mode="mor")
    t2 = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert t2.stats()["read_dedup"]
    again = t2.read_between(_ts(50), _ts(200))
    got2 = {r["conv_id"] for r in again.collect()}
    assert a_keys[0] not in got2  # its winner now lives at ts=70000
    assert got2 == set(a_keys[1:])


def _norm_iso(s):
    from datetime import datetime, timezone

    x = datetime.fromisoformat(s)
    if x.tzinfo is not None:
        x = x.astimezone(timezone.utc).replace(tzinfo=None)
    return x


def test_expire_metadata_drops_old_segments(spark, tmp_dir, monkeypatch):
    """Segment retention: with a tiny inline window, many epochs spill
    lineage segments; expire_metadata removes the wholly-expired ones,
    keeps recent lineage readable, and incremental change_feed over a
    recent interval still works."""
    from tap_github_search_spark.table.microlake import MicroLakeTable

    monkeypatch.setattr(MicroLakeTable, "LINEAGE_INLINE_MAX", 4)
    monkeypatch.setattr(MicroLakeTable, "METRICS_INLINE_MAX", 4)

    table = _seed(spark, tmp_dir)
    for e in range(1, 12):
        upd = [(100 * e + i, "U", f"c{i % 5}", 0, 100 * e + i)
               for i in range(3)]
        table.merge(_events(spark, upd), epoch=e)
    t = MicroLakeTable.load(spark, table.path)
    segs_before = list(t.manifest.get("lineage_segments", []))
    assert segs_before, "expected spilled lineage segments"
    v_pre = t.manifest["version"]

    removed = t.expire_metadata(keep_epochs=3)
    assert removed > 0
    t2 = MicroLakeTable.load(spark, table.path)
    assert t2.manifest["version"] == v_pre + 1
    for rel in t2.manifest.get("lineage_segments", []):
        assert os.path.exists(os.path.join(t2.path, rel))
    # recent lineage fully present
    recent = t2._lineage_entries(after_epoch=8)
    assert {r["commit_epoch"] for r in recent} == {9, 10, 11}
    # recent incremental change_feed unaffected
    feed = t2.change_feed(v_pre - 2, v_pre)
    assert feed.count() >= 0  # resolves without touching expired segments
    # idempotent
    assert t2.expire_metadata(keep_epochs=3) == 0

    # optimize() wiring
    rep = t2.optimize(keep_versions=1000, metadata_keep_epochs=0,
                      dry_run=True)
    assert any(a.startswith("expire_metadata") for a in rep["actions"])


def test_expire_metadata_fences_stale_bookmark_change_feed(
    spark, tmp_dir, monkeypatch
):
    """ADVICE r3 (medium): after expire_metadata deletes lineage
    segments, an incremental change_feed whose interval starts before
    the expired epochs can no longer enumerate its touched buckets —
    without a fence it silently drops real changes. The fence must
    force the full-snapshot diff for such stale bookmarks."""
    from tap_github_search_spark.table.microlake import murmur3_x86_32

    monkeypatch.setattr(MicroLakeTable, "LINEAGE_INLINE_MAX", 2)

    def pick(bucket):
        i = 0
        while True:
            k = f"k{i:04d}"
            if murmur3_x86_32(k.encode()) % 2 == bucket:
                return k
            i += 1

    ka, kb = pick(0), pick(1)  # disjoint buckets
    _events(spark, [(1, "I", ka, 0, 10), (2, "I", kb, 0, 11)]) \
        .write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                      n_buckets=2)
    v_bookmark = table.manifest["version"]  # consumer's stale bookmark

    # epoch 1 touches ONLY ka's bucket — the epoch whose lineage will
    # expire; its change is exactly what an un-fenced incremental
    # diff would lose
    table.merge(_events(spark, [(20, "U", ka, 0, 20, "ka-moved")]), epoch=1)
    for e in range(2, 10):  # later epochs touch only kb's bucket
        table.merge(_events(spark, [(20 + e, "U", kb, 0, 100 + e)]), epoch=e)

    t = MicroLakeTable.load(spark, table.path)
    assert t.expire_metadata(keep_epochs=3) > 0
    t2 = MicroLakeTable.load(spark, table.path)
    fence = t2.manifest["lineage_complete_after_epoch"]
    assert fence >= 1  # epoch 1's lineage is gone

    feed = t2.change_feed(v_bookmark)
    full = t2.change_feed(v_bookmark, full_scan=True)
    key = lambda r: (r["conv_id"], r["turn_idx"], r["_change_type"])
    assert sorted(map(key, feed.collect())) == \
        sorted(map(key, full.collect()))
    # the change the un-fenced incremental path would have dropped:
    got = {r["conv_id"]: r["text"] for r in feed.collect()}
    assert got.get(ka) == "ka-moved"

    # a FRESH bookmark (at/after the fence) still takes the
    # incremental bucket-pruned path and agrees with the full diff
    v_fresh = t2.manifest["version"] - 2
    a = t2.change_feed(v_fresh).collect()
    b = t2.change_feed(v_fresh, full_scan=True).collect()
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_optimize_tolerates_commit_race(spark, tmp_dir):
    """A merge that wins the version between load and the maintenance
    commit must not crash the policy loop: the action reports a lost
    race and the next run (fresh load) succeeds."""
    table = _seed(spark, tmp_dir)
    table.merge(_events(spark, [(99, "U", "c0", 0, 99)]), epoch=1,
                merge_mode="mor")
    stale = MicroLakeTable.load(spark, table.path)
    # another writer advances the table under stale's feet
    table2 = MicroLakeTable.load(spark, table.path)
    table2.merge(_events(spark, [(100, "U", "c1", 0, 100)]), epoch=2,
                 merge_mode="mor")

    rep = stale.optimize(max_generations=0, keep_versions=1000)
    assert any("lost commit race" in a for a in rep["actions"])
    assert rep["compacted_buckets"] == 0

    fresh = MicroLakeTable.load(spark, table.path)
    rep2 = fresh.optimize(max_generations=0, keep_versions=1000)
    assert rep2["compacted_buckets"] > 0
    assert not MicroLakeTable.load(spark, table.path) \
        .stats()["read_dedup"]

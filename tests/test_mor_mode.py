"""Merge-on-read mode + salted-dedup mode: same final state as CoW,
resolved at read time; compaction folds generations back to plain."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from tap_github_search_spark.sources.generator import write_changelog
from tap_github_search_spark.streaming.job import replay, stream


def _oracle(log_glob: str) -> pd.DataFrame:
    return (
        duckdb.sql(
            f"""
        SELECT conv_id, turn_idx, role,
               nfc_normalize(replace(text, chr(0), '')) AS text, tool, ts
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) rn
          FROM read_parquet('{log_glob}')
        ) WHERE rn = 1 AND op <> 'D'
        """
        )
        .df()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    df["ts"] = pd.to_datetime(df["ts"], utc=True).astype("datetime64[us, UTC]")
    return df


def test_mor_multi_epoch_replay_matches_oracle_and_cow(spark, tmp_dir):
    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=4)
    mor, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/mor",
                    n_buckets=8, n_epochs=4, merge_mode="mor")
    cow, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/cow",
                    n_buckets=8, n_epochs=4, merge_mode="cow")
    assert mor.stats()["read_dedup"] is True
    got_mor = _canon(mor.snapshot_df().toPandas())
    got_cow = _canon(cow.snapshot_df().toPandas())
    oracle = _canon(_oracle(f"{tmp_dir}/log/*.parquet"))
    pd.testing.assert_frame_equal(got_mor, oracle, check_dtype=False)
    pd.testing.assert_frame_equal(got_cow, oracle, check_dtype=False)
    # MOR kept old generations (no rewrite): more files than CoW
    assert len(mor.manifest["files"]) > len(cow.manifest["files"])


def test_mor_compaction_folds_generations(spark, tmp_dir):
    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=4)
    table, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                      n_buckets=8, n_epochs=4, merge_mode="mor")
    before = _canon(table.snapshot_df().toPandas())
    assert table.compact() > 0
    assert table.stats()["read_dedup"] is False
    per_bucket = {}
    for f in table.manifest["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(v == 1 for v in per_bucket.values())
    after = _canon(table.snapshot_df().toPandas())
    pd.testing.assert_frame_equal(before, after, check_dtype=False)


def test_mor_tombstone_blocks_resurrection_across_generations(spark, tmp_dir):
    from tests.test_engine import _events

    # epoch 0: insert + delete (delete wins). epoch 1: stale update with
    # OLDER ts arrives later — the tombstone generation must still win.
    e0 = _events(spark, [(1, "I", "c1", 0, 10), (2, "D", "c1", 0, 50)])
    e1 = _events(spark, [(3, "U", "c1", 0, 20, "stale")])
    e0.write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    e1.write.mode("overwrite").parquet(f"{tmp_dir}/log1")
    t, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                  n_buckets=4, merge_mode="mor")
    t.merge(spark.read.parquet(f"{tmp_dir}/log1"), epoch=1, merge_mode="mor")
    assert t.snapshot_df().filter(F.col("conv_id") == "c1").count() == 0


def test_mor_with_schema_evolution_matches_oracle(spark, tmp_dir):
    """MOR generations written under different schemas: read-side LWW
    must resolve winners across generations while old files surface the
    evolved columns as NULL."""
    from tap_github_search_spark.sources.generator import TURN_SPAN

    write_changelog(spark, f"{tmp_dir}/log", 120, n_files=3)
    write_changelog(spark, f"{tmp_dir}/log_ev", 30, n_files=2, evolved=True,
                    seq_offset=120 * TURN_SPAN * 2)
    t, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                  n_buckets=8, n_epochs=2, merge_mode="mor")
    from tap_github_search_spark.streaming.job import normalize_events

    t.merge(
        spark.read.parquet(f"{tmp_dir}/log_ev"),
        epoch=t.last_committed_epoch + 1,
        merge_mode="mor",
        winner_transform=normalize_events,
    )
    got = t.snapshot_df().toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    oracle = duckdb.sql(f"""
        SELECT conv_id, turn_idx, role,
               nfc_normalize(replace(text, chr(0), '')) AS text,
               tool, ts, tool_version, lang
        FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                ORDER BY ts DESC, seq DESC) rn
              FROM read_parquet(['{tmp_dir}/log/*.parquet',
                                 '{tmp_dir}/log_ev/*.parquet'],
                                union_by_name=true))
        WHERE rn = 1 AND op <> 'D'
    """).df().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for df in (got, oracle):
        df["ts"] = pd.to_datetime(df["ts"], utc=True).astype(
            "datetime64[us, UTC]")
    pd.testing.assert_frame_equal(got, oracle, check_dtype=False)
    assert got["lang"].notna().sum() > 0 and got["lang"].isna().sum() > 0


def test_salted_dedup_mode_matches_oracle(spark, tmp_dir):
    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=4)
    t, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                  n_buckets=8, n_epochs=2, dedup="salted")
    got = _canon(t.snapshot_df().toPandas())
    oracle = _canon(_oracle(f"{tmp_dir}/log/*.parquet"))
    pd.testing.assert_frame_equal(got, oracle, check_dtype=False)


def test_mor_streaming_crash_restart(spark, tmp_dir):
    write_changelog(spark, f"{tmp_dir}/log", 120, n_files=6)
    try:
        stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, fail_after_batches=2, merge_mode="mor")
    except Exception:
        pass
    t = stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               merge_mode="mor")
    got = _canon(t.snapshot_df().toPandas())
    oracle = _canon(_oracle(f"{tmp_dir}/log/*.parquet"))
    pd.testing.assert_frame_equal(got, oracle, check_dtype=False)


def test_stream_auto_compaction_bounds_generations(spark, tmp_dir):
    """MOR streaming with compact_every: generations fold back to one
    file per bucket periodically, final state still exact vs oracle."""
    from tests.test_engine import _assert_table_equals_oracle

    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=8, delete_pct=20)
    table = stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                   f"{tmp_dir}/ckpt", n_buckets=8, max_files_per_trigger=2,
                   merge_mode="mor", compact_every=2)
    _assert_table_equals_oracle(table, f"'{tmp_dir}/log/*.parquet'")
    # last compaction ran on the final even epoch; at most one
    # uncompacted generation can sit on top of the compacted one
    per_bucket: dict[int, int] = {}
    for f in table.manifest["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values()) <= 2
    # crash-safety: replaying the stream is a fenced no-op
    t2 = stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                f"{tmp_dir}/ckpt", merge_mode="mor", compact_every=2)
    _assert_table_equals_oracle(t2, f"'{tmp_dir}/log/*.parquet'")


def test_rebucket_partition_spec_evolution(spark, tmp_dir):
    """The 100 TB growth path: rewrite the table under a larger bucket
    count; snapshot identical, old versions still read the old spec,
    merges and point lookups work under the new spec."""
    from tap_github_search_spark.table.microlake import MicroLakeTable
    from tests.test_engine import _events

    write_changelog(spark, f"{tmp_dir}/log", 200, n_files=4, delete_pct=20)
    table, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", n_buckets=4,
                      n_epochs=2, merge_mode="mor")
    before = table.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    v_old = table.manifest["version"]

    n_files = table.rebucket(16)
    assert table.n_buckets == 16
    assert n_files > 4  # more buckets → more files
    assert {f["bucket"] for f in table.manifest["files"]} <= set(range(16))
    after = table.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    assert before == after
    # time travel: the pre-rebucket snapshot still reads under 4 buckets
    old = MicroLakeTable.load(spark, f"{tmp_dir}/t", v_old)
    assert old.n_buckets == 4
    assert old.snapshot_df().count() == len(before)

    # post-rebucket merge + lookup use the new spec
    key = before[0]["conv_id"]
    e = _events(spark, [(10_000_000, "U", key, before[0]["turn_idx"],
                         10**6, "rebucketed")])
    table.merge(e, epoch=table.last_committed_epoch + 1)
    got = table.lookup(key, turn_idx=before[0]["turn_idx"]).collect()
    assert len(got) == 1 and got[0]["text"] == "rebucketed"
    # a fresh load sees the evolved spec
    assert MicroLakeTable.load(spark, f"{tmp_dir}/t").n_buckets == 16


def test_incremental_compaction_rounds(spark, tmp_dir):
    """compact(max_buckets=K) compacts the worst buckets first, keeps
    resolving reads until no multi-generation bucket remains, and converges
    over rounds with the final state intact."""
    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=6, delete_pct=20)
    table, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                      n_buckets=8, n_epochs=4, merge_mode="mor")
    before = table.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    assert table.stats()["read_dedup"]

    def multi_buckets():
        per = {}
        for f in table.manifest["files"]:
            per[f["bucket"]] = per.get(f["bucket"], 0) + 1
        return sum(1 for v in per.values() if v > 1)

    assert multi_buckets() > 2
    n1 = table.compact(max_buckets=2)
    assert n1 == 2
    assert table.stats()["read_dedup"]  # generations remain elsewhere
    mid = table.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    assert mid == before
    rounds = 0
    while multi_buckets() and rounds < 10:
        table.compact(max_buckets=2)
        rounds += 1
    assert multi_buckets() == 0
    assert not table.stats()["read_dedup"]
    assert table.snapshot_df().orderBy("conv_id", "turn_idx").collect() == before


def test_metrics_segment_spill(spark, tmp_dir, monkeypatch):
    """Per-epoch metrics spill like lineage: the manifest's inline list
    stays bounded and metrics_df still sees every epoch."""
    from tests.test_engine import _events
    from tap_github_search_spark.table.microlake import MicroLakeTable

    monkeypatch.setattr(MicroLakeTable, "METRICS_INLINE_MAX", 4)
    e0 = _events(spark, [(1, "I", "c1", 0, 10)])
    t = MicroLakeTable.create(spark, f"{tmp_dir}/t",
                              e0.drop("op", "seq").schema, n_buckets=4)
    for ep in range(7):
        t.merge(_events(spark, [(10 + ep, "U", "c1", 0, 100 + ep, f"v{ep}")]),
                epoch=ep)
    assert len(t.manifest["metrics"]) <= 4
    assert t.manifest.get("metrics_segments")
    m = t.metrics_df().toPandas()
    assert sorted(m.commit_epoch) == list(range(7))
    # reload from disk sees the same
    t2 = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert len(t2.metrics_df().toPandas()) == 7


def test_stream_optimize_every_runs_policy_in_stream(spark, tmp_dir):
    """optimize_every rides the stream like compact_every, but runs the
    full policy: MOR pileup folds, snapshots expire, final state exact.
    A restart replays as fenced no-ops."""
    from tests.test_engine import _assert_table_equals_oracle

    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=8, delete_pct=20)
    table = stream(
        spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
        n_buckets=8, max_files_per_trigger=2, merge_mode="mor",
        optimize_every=2,
        optimize_opts={"max_generations": 1, "keep_versions": 2,
                       "grace_seconds": 0.0},
    )
    _assert_table_equals_oracle(table, f"'{tmp_dir}/log/*.parquet'")
    per_bucket: dict[int, int] = {}
    for f in table.manifest["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values()) <= 2
    import os
    mdir = os.path.join(table.path, "_manifests")
    n_manifests = sum(1 for x in os.listdir(mdir)
                      if x.startswith("manifest-"))
    assert n_manifests <= 4  # expiry ran mid-stream

    t2 = stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
                merge_mode="mor", optimize_every=2,
                optimize_opts={"max_generations": 1, "keep_versions": 2,
                               "grace_seconds": 0.0})
    _assert_table_equals_oracle(t2, f"'{tmp_dir}/log/*.parquet'")


def test_pruned_read_of_single_file_buckets_skips_resolve(spark, tmp_dir,
                                                          monkeypatch):
    """Whether a read resolves LWW is decided on the files it reads: a
    bucket-pruned read of single-file buckets skips the resolve even
    while another bucket holds two MOR generations; a read that
    includes that bucket resolves."""
    from tap_github_search_spark.table.microlake import (
        MicroLakeTable,
        murmur3_x86_32,
    )
    from tests.test_engine import _events

    def bucket(k: str) -> int:
        return murmur3_x86_32(k.encode()) % 4

    keys = [f"c{i}" for i in range(16)]
    table = MicroLakeTable.create(
        spark, f"{tmp_dir}/t",
        _events(spark, []).drop("op", "seq").schema, n_buckets=4,
    )
    table.merge(_events(spark, [(i, "I", k, 0, 10 + i)
                                for i, k in enumerate(keys)]), 0,
                merge_mode="mor")
    table.merge(_events(spark, [(100, "U", "c0", 0, 100)]), 1,
                merge_mode="mor")
    assert table.stats()["read_dedup"]
    hot = bucket("c0")
    cold = sorted({bucket(k) for k in keys} - {hot})
    assert cold

    calls = []
    orig = MicroLakeTable._read_lww
    monkeypatch.setattr(MicroLakeTable, "_read_lww",
                        lambda self, df: calls.append(1) or orig(self, df))
    got = {r["conv_id"] for r in table.snapshot_df(buckets=cold).collect()}
    assert got == {k for k in keys if bucket(k) in cold}
    assert calls == []
    hot_rows = table.snapshot_df(buckets=[hot]).collect()
    assert calls == [1]
    assert sorted(r["conv_id"] for r in hot_rows) == \
        sorted(k for k in keys if bucket(k) == hot)
    assert {r["text"] for r in hot_rows if r["conv_id"] == "c0"} == {"t100"}

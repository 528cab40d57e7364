"""Incremental derived-table (child stream) maintenance tests: the
rollup table maintained epoch-by-epoch must equal a full recompute from
the final main-table state, including conversations deleted entirely."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tap_github_search_spark.sources.generator import write_changelog
from tap_github_search_spark.streaming.derived import (
    RollupMaintainer,
    conv_rollup,
)
from tap_github_search_spark.streaming.job import replay
from tests.test_engine import _events


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("conv_id").reset_index(drop=True)
    for c in ("first_ts", "last_ts"):
        pdf[c] = pd.to_datetime(pdf[c], utc=True).astype("datetime64[us, UTC]")
    return pdf


def test_incremental_rollup_equals_full_recompute(spark, tmp_dir):
    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=4, delete_pct=30)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=8, n_epochs=4)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup")
    for r in results:
        maint.apply_epoch(r.epoch)

    got = _canon(
        maint.child.snapshot_df().drop("ts").toPandas()
    )
    expect = _canon(conv_rollup(table.snapshot_df()).toPandas())
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_bulk_epoch_uses_shuffle_join_not_broadcast(spark, tmp_dir):
    """VERDICT r3 minor #5: a bulk epoch's affected-key frames must not
    be forced into a broadcast. With Spark's broadcast threshold off
    (every key set 'too big', the bulk-backfill case) every maintainer
    join is a shuffle join and the chain still converges to the full
    recompute."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        write_changelog(spark, f"{tmp_dir}/log", 80, n_files=2,
                        delete_pct=20)
        table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                                n_buckets=4, n_epochs=2)
        maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup",
                                 daily_path=f"{tmp_dir}/daily")
        for r in results:
            maint.apply_epoch(r.epoch)
        got = _canon(maint.child.snapshot_df().drop("ts").toPandas())
        expect = _canon(conv_rollup(table.snapshot_df()).toPandas())
    finally:
        spark.conf.set(conf, old)
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_rollup_deletes_emptied_conversation(spark, tmp_dir):
    # epoch 0 inserts two conversations; epoch 1 deletes every turn of c1
    e0 = _events(spark, [(1, "I", "c1", 0, 10), (2, "I", "c1", 1, 11),
                         (3, "I", "c2", 0, 12)])
    e1 = _events(spark, [(4, "D", "c1", 0, 20), (5, "D", "c1", 1, 21)])
    e0.write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    e1.write.mode("overwrite").parquet(f"{tmp_dir}/log1")

    table, res0 = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                         n_buckets=4)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup")
    maint.apply_epoch(res0[0].epoch)
    assert maint.child.snapshot_df().count() == 2

    r1 = table.merge(spark.read.parquet(f"{tmp_dir}/log1"), epoch=1)
    maint.apply_epoch(r1.epoch)
    snap = maint.child.snapshot_df()
    assert snap.count() == 1
    assert snap.first()["conv_id"] == "c2"


def test_streaming_rollup_crash_restart(spark, tmp_dir):
    """stream(rollup_path=...) maintains the child per microbatch; after
    a crash + restart the child equals a full recompute of the parent."""
    from tap_github_search_spark.streaming.job import stream

    write_changelog(spark, f"{tmp_dir}/log", 120, n_files=6, delete_pct=25)
    try:
        stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, fail_after_batches=2,
               rollup_path=f"{tmp_dir}/rollup")
    except Exception:
        pass
    table = stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                   f"{tmp_dir}/ckpt", rollup_path=f"{tmp_dir}/rollup")
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup")
    got = _canon(maint.child.snapshot_df().drop("ts").toPandas())
    expect = _canon(conv_rollup(table.snapshot_df()).toPandas())
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_rollup_epoch_fence(spark, tmp_dir):
    write_changelog(spark, f"{tmp_dir}/log", 60, n_files=2)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=4, n_epochs=2)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup")
    for r in results:
        maint.apply_epoch(r.epoch)
    before = maint.child.snapshot_df().count()
    # re-applying an already-committed epoch must be a fenced no-op
    res = maint.apply_epoch(results[-1].epoch)
    assert res.skipped
    assert maint.child.snapshot_df().count() == before


def _daily_canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("day").reset_index(drop=True)


def test_two_level_chain_incremental_equals_full(spark, tmp_dir):
    """Grandchild (daily rollup over the conv rollup) maintained epoch by
    epoch must equal a full recompute from the final parent state."""
    from tap_github_search_spark.streaming.derived import daily_rollup

    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=4, delete_pct=30,
                    out_of_order_pct=40)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=8, n_epochs=4)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup",
                             daily_path=f"{tmp_dir}/daily")
    for r in results:
        maint.apply_epoch(r.epoch)
    got = _daily_canon(maint.grandchild.snapshot_df().drop("ts").toPandas())
    expect = _daily_canon(
        daily_rollup(conv_rollup(table.snapshot_df())).toPandas()
    )
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_two_level_chain_crash_between_levels(spark, tmp_dir, monkeypatch):
    """VERDICT r1 #6: crash injected BETWEEN the level-1 (conv rollup)
    commit and the level-2 (daily rollup) commit; restart must converge
    all three tables (each level fenced independently)."""
    import pytest

    from tap_github_search_spark.streaming.derived import daily_rollup
    from tap_github_search_spark.streaming.job import stream

    from tap_github_search_spark.streaming.derived import DerivedChain

    write_changelog(spark, f"{tmp_dir}/log", 120, n_files=6, delete_pct=25)
    real = DerivedChain._apply_level
    calls = {"n": 0}

    def boom(self, i, epoch, affected, *a, **kw):
        if i == 1:  # the daily level
            calls["n"] += 1
            if calls["n"] == 2:  # level-1 of epoch 1 already committed
                raise RuntimeError("injected crash between chain levels")
        return real(self, i, epoch, affected, *a, **kw)

    monkeypatch.setattr(DerivedChain, "_apply_level", boom)
    with pytest.raises(Exception, match="between chain levels"):
        stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, rollup_path=f"{tmp_dir}/rollup",
               daily_rollup_path=f"{tmp_dir}/daily")
    table = stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                   f"{tmp_dir}/ckpt", rollup_path=f"{tmp_dir}/rollup",
                   daily_rollup_path=f"{tmp_dir}/daily")
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup",
                             daily_path=f"{tmp_dir}/daily")
    # every level caught up to the parent's last epoch
    assert (maint.child.last_committed_epoch
            == maint.grandchild.last_committed_epoch
            == table.last_committed_epoch)
    got_child = _canon(maint.child.snapshot_df().drop("ts").toPandas())
    exp_child = _canon(conv_rollup(table.snapshot_df()).toPandas())
    pd.testing.assert_frame_equal(got_child, exp_child, check_dtype=False)
    got_daily = _daily_canon(
        maint.grandchild.snapshot_df().drop("ts").toPandas()
    )
    exp_daily = _daily_canon(
        daily_rollup(conv_rollup(table.snapshot_df())).toPandas()
    )
    pd.testing.assert_frame_equal(got_daily, exp_daily, check_dtype=False)


def test_day_moves_when_first_turn_deleted(spark, tmp_dir):
    """Deleting a conversation's earliest turn moves its first_ts day;
    the OLD day must shrink (or vanish) and the NEW day must appear —
    the case the time-travel old-day lookup exists for."""
    day = 86_400
    e0 = _events(spark, [(1, "I", "c1", 0, 0),            # day 2025-01-01
                         (2, "I", "c1", 1, 2 * day),      # day 2025-01-03
                         (3, "I", "c2", 0, 2 * day + 1)])
    e0.write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, res0 = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                         n_buckets=4)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup",
                             daily_path=f"{tmp_dir}/daily")
    maint.apply_epoch(res0[0].epoch)
    daily0 = {r["day"]: r["n_convs"]
              for r in maint.grandchild.snapshot_df().collect()}
    assert daily0 == {"2025-01-01": 1, "2025-01-03": 1}

    e1 = _events(spark, [(4, "D", "c1", 0, 3 * day)])  # first turn gone
    r1 = table.merge(e1, epoch=1)
    maint.apply_epoch(r1.epoch)
    daily1 = {r["day"]: r["n_convs"]
              for r in maint.grandchild.snapshot_df().collect()}
    assert daily1 == {"2025-01-03": 2}  # c1 moved days; 01-01 deleted


def _weekly_canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("week").reset_index(drop=True)


def test_three_level_chain_incremental_equals_full(spark, tmp_dir):
    """VERDICT r2 #4: declared depth-3 chain (conv → daily → weekly).
    Every level maintained epoch by epoch must equal a full recompute
    from the final parent state."""
    from tap_github_search_spark.streaming.derived import (
        daily_rollup,
        weekly_rollup,
    )

    write_changelog(spark, f"{tmp_dir}/log", 150, n_files=4, delete_pct=30,
                    out_of_order_pct=40)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=8, n_epochs=4)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup",
                             daily_path=f"{tmp_dir}/daily",
                             weekly_path=f"{tmp_dir}/weekly")
    for r in results:
        maint.apply_epoch(r.epoch)

    full_daily = daily_rollup(conv_rollup(table.snapshot_df()))
    got_d = _daily_canon(maint.grandchild.snapshot_df().drop("ts").toPandas())
    pd.testing.assert_frame_equal(got_d, _daily_canon(full_daily.toPandas()),
                                  check_dtype=False)
    got_w = _weekly_canon(
        maint.greatgrandchild.snapshot_df().drop("ts").toPandas()
    )
    exp_w = _weekly_canon(weekly_rollup(full_daily).toPandas())
    pd.testing.assert_frame_equal(got_w, exp_w, check_dtype=False)


def test_three_level_chain_crash_between_levels_2_and_3(
    spark, tmp_dir, monkeypatch
):
    """Crash injected BETWEEN the level-2 (daily) commit and the level-3
    (weekly) commit; restart must converge all four tables."""
    import pytest

    from tap_github_search_spark.streaming.derived import (
        DerivedChain,
        daily_rollup,
        weekly_rollup,
    )
    from tap_github_search_spark.streaming.job import stream

    write_changelog(spark, f"{tmp_dir}/log", 120, n_files=6, delete_pct=25)
    real = DerivedChain._apply_level
    calls = {"n": 0}

    def boom(self, i, epoch, affected, *a, **kw):
        if i == 2:  # the weekly level — daily already committed
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected crash between levels 2 and 3")
        return real(self, i, epoch, affected, *a, **kw)

    monkeypatch.setattr(DerivedChain, "_apply_level", boom)
    kw = dict(rollup_path=f"{tmp_dir}/rollup",
              daily_rollup_path=f"{tmp_dir}/daily",
              weekly_rollup_path=f"{tmp_dir}/weekly")
    with pytest.raises(Exception, match="between levels 2 and 3"):
        stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, **kw)
    table = stream(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                   f"{tmp_dir}/ckpt", **kw)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup",
                             daily_path=f"{tmp_dir}/daily",
                             weekly_path=f"{tmp_dir}/weekly")
    # every level caught up to the parent's last epoch
    assert all(t.last_committed_epoch == table.last_committed_epoch
               for t in maint.tables)
    full_daily = daily_rollup(conv_rollup(table.snapshot_df()))
    got_w = _weekly_canon(
        maint.greatgrandchild.snapshot_df().drop("ts").toPandas()
    )
    exp_w = _weekly_canon(weekly_rollup(full_daily).toPandas())
    pd.testing.assert_frame_equal(got_w, exp_w, check_dtype=False)


def _drop_stage_dirs(table, epoch: int) -> None:
    """Delete the stage dirs the epoch's lineage rows name — what
    ``compact`` + ``vacuum`` do to a CoW epoch's staged files."""
    import os
    import shutil

    for ln in table._lineage_entries(after_epoch=epoch - 1):
        if ln["commit_epoch"] == epoch:
            shutil.rmtree(os.path.join(table.path, "data", ln["stage"]),
                          ignore_errors=True)


def test_vacuumed_stage_with_lagging_level_raises(spark, tmp_dir):
    """ADVICE r4: 'stage dir missing' is benign only when the epoch
    staged nothing or every level committed it. If maintenance outran
    the chain (compact dropped the staged files from the manifest, then
    vacuum deleted them) while a level still needs the epoch, the chain
    must FAIL the batch, not silently fence-advance past the epoch's
    changes. The main table's lineage (rows ⟺ data staged, each naming
    its stage dir) is the witness."""
    import pytest

    write_changelog(spark, f"{tmp_dir}/log", 60, n_files=4, delete_pct=10)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=4, n_epochs=2)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup")
    maint.apply_epoch(results[0].epoch)

    # simulate vacuum deleting epoch-1's staged files while the rollup
    # level has NOT committed that epoch
    ep = results[1].epoch
    _drop_stage_dirs(table, ep)
    with pytest.raises(RuntimeError, match="compacted/vacuumed"):
        maint.apply_epoch(ep)

    # an epoch that GENUINELY staged nothing (no lineage rows) still
    # advances the fence with an empty merge — totality is preserved
    # for empty batches and fully-committed redeliveries
    res = maint.apply_epoch(ep + 7)
    assert not res.skipped
    assert maint.child.last_committed_epoch == ep + 7


def test_caught_up_chain_skips_without_reading_the_stage(spark, tmp_dir):
    """A chain whose every level is at the epoch returns ``skipped``
    before it reads the epoch's change set — so a redelivered epoch
    whose stage was vacuumed after every level committed it does not
    raise."""
    write_changelog(spark, f"{tmp_dir}/log", 40, n_files=2)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=4)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/rollup",
                             daily_path=f"{tmp_dir}/daily")
    ep = results[0].epoch
    maint.apply_epoch(ep)
    _drop_stage_dirs(table, ep)
    assert maint.apply_epoch(ep).skipped


def test_staged_keys_reads_only_the_committed_stage(spark, tmp_dir):
    """The epoch's change set comes from the stage dirs its lineage
    names: another writer's stage for the same epoch (a CAS loser's
    orphan, ``data/epoch=N-<other tag>/``) is never read, and lineage
    that cannot name the stage raises instead of reading as empty."""
    import os

    import pytest

    write_changelog(spark, f"{tmp_dir}/log", 40, n_files=2)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=4)
    ep = results[0].epoch
    # one CoW epoch into an empty table: its files ARE the stage
    want = {r["conv_id"] for r in
            table.raw_df().select("conv_id").distinct().collect()}
    orphan = os.path.join(table.path, "data", f"epoch={ep}-deadbeef",
                          "_bucket=0")
    foreign = table.raw_df().limit(1).withColumn(
        "conv_id", F.lit("foreign_conv"))
    foreign.coalesce(1).write.parquet(orphan)
    got = {r["conv_id"] for r in table.staged_keys(ep).collect()}
    assert got == want and "foreign_conv" not in got
    # an epoch the table never committed has an empty change set
    assert table.staged_keys(ep + 1).count() == 0
    # expired lineage, or rows an older engine wrote without ``stage``
    table.manifest["lineage_complete_after_epoch"] = ep
    with pytest.raises(RuntimeError, match="lineage was expired"):
        table.staged_keys(ep)
    del table.manifest["lineage_complete_after_epoch"]
    for ln in table.manifest["lineage"]:
        del ln["stage"]
    with pytest.raises(RuntimeError, match="older engine"):
        table.staged_keys(ep)


def test_lineage_rows_name_the_stage(spark, tmp_dir):
    """Every lineage row of a merge names the epoch's stage dir, and
    ``lineage_df`` keeps ``LINEAGE_SCHEMA``."""
    import os

    from tap_github_search_spark.schema import LINEAGE_SCHEMA

    write_changelog(spark, f"{tmp_dir}/log", 40, n_files=2)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=4, merge_mode="mor")
    lin = results[0].lineage
    assert lin and {r["stage"] for r in lin} == {lin[0]["stage"]}
    assert lin[0]["stage"].startswith(f"epoch={results[0].epoch}-")
    for r in lin:
        assert os.path.isdir(os.path.join(
            table.path, "data", r["stage"], f"_bucket={r['partition_id']}"))
    assert table.lineage_df().schema == LINEAGE_SCHEMA

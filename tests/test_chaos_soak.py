"""Chaos soak: ONE streaming run composing every engine feature the
production topology would run together — MOR merge + in-stream bounded
optimize + depth-3 rollup chain + incrementally-maintained text index —
with randomized crash injection at every seam (before a merge commit,
AFTER a merge commit, inside derived-level application) and a
CONCURRENT maintenance loop racing the stream's commits, plus a
change-feed replica synced mid-chaos. Every seam is tested pairwise
elsewhere; this test exercises them COMPOSED (VERDICT r3 #9): after the
chaos ends, all five tables must equal their independent full
recomputes and the main table must match the DuckDB WAL oracle.

r5: every epoch is additionally WRITE-AUDIT-PUBLISH gated (staged on a
per-epoch branch, table-level audit, fast-forward publish) — so the
chaos also crashes between branch commit and publish, and the racing
maintenance loop's commits divert publishes into loud diverged-base
conflicts the restart must rebuild from; and a consistent cross-table
cut is TAGGED mid-chaos, which must still read as a skew-free snapshot
after everything converged (and leave no per-epoch branch residue).
"""

from __future__ import annotations

import random
import threading
import time

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from tap_github_search_spark.sources.generator import TURN_SPAN, write_changelog
from tap_github_search_spark.streaming.derived import (
    DerivedChain,
    RollupMaintainer,
    conv_rollup,
    daily_rollup,
    weekly_rollup,
)
from tap_github_search_spark.streaming.job import stream
from tap_github_search_spark.streaming.replicate import ChangeFeedReplicator
from tap_github_search_spark.table.microlake import MicroLakeTable
from tests.test_text_index import _full_rebuild


def test_chaos_soak_composed_topology(spark, tmp_dir, monkeypatch):
    write_changelog(spark, f"{tmp_dir}/log", 100, n_files=6, delete_pct=25,
                    out_of_order_pct=30)
    write_changelog(spark, f"{tmp_dir}/log_evolved", 20, n_files=2,
                    evolved=True, seq_offset=100 * TURN_SPAN * 2)
    # the tools dimension: the join view enriches from it while the
    # maintenance loop CHURNS it mid-chaos (updates racing the stream)
    from tests.test_join_view import _dim_table
    _dim_table(spark, f"{tmp_dir}/dim", upto_seq=5, epoch=0)
    paths = dict(
        rollup_path=f"{tmp_dir}/roll", daily_rollup_path=f"{tmp_dir}/daily",
        weekly_rollup_path=f"{tmp_dir}/weekly",
        text_index_path=f"{tmp_dir}/idx",
        join_view_path=f"{tmp_dir}/view", dim_path=f"{tmp_dir}/dim",
        scd2_path=f"{tmp_dir}/hist",
    )

    # ---- chaos injection: deterministic RNG, every seam --------------
    rng = random.Random(0xC0FFEE)
    chaos = {"on": True, "crashes": 0}
    real_merge = MicroLakeTable.merge
    real_level = DerivedChain._apply_level

    def chaos_merge(self, *a, **kw):
        r = rng.random()
        if chaos["on"] and r < 0.14:
            chaos["crashes"] += 1
            raise RuntimeError("chaos: crash BEFORE merge commit")
        res = real_merge(self, *a, **kw)
        if chaos["on"] and r > 0.90:
            chaos["crashes"] += 1
            # the nastiest seam: commit landed, crash before the
            # checkpoint / downstream work — redelivery must no-op
            raise RuntimeError("chaos: crash AFTER merge commit")
        return res

    def chaos_level(self, i, epoch, affected, *a, **kw):
        if chaos["on"] and rng.random() < 0.10:
            chaos["crashes"] += 1
            raise RuntimeError(f"chaos: crash entering level {i}")
        return real_level(self, i, epoch, affected, *a, **kw)

    monkeypatch.setattr(MicroLakeTable, "merge", chaos_merge)
    monkeypatch.setattr(DerivedChain, "_apply_level", chaos_level)

    # ---- concurrent maintenance racing the stream's commits ----------
    stop = threading.Event()
    races = {"runs": 0}

    def maintain_loop():
        flips = 0
        while not stop.is_set():
            try:
                t = MicroLakeTable.load(spark, f"{tmp_dir}/t")
                # after a few rounds, START a progressive spec
                # migration racing the live stream (tiny target forces
                # the growth trigger): the metadata-only switch + the
                # stream's stale table handle is exactly the CAS-race
                # surface rebucket_start must survive — a stale merge
                # loses the version race, crashes the stream, and the
                # restart reloads the switched spec (forced MOR)
                if races["runs"] >= 2 and flips == 0 \
                        and not t.stats()["migration_pending"]:
                    t.rebucket_start(t.n_buckets * 2)
                    flips += 1
                elif t.stats()["migration_pending"]:
                    t.migrate_step(max_buckets=2)  # bounded rounds
                else:
                    t.optimize(max_generations=2, compact_batch=4,
                               keep_versions=200)
                if races["runs"] % 3 == 2:
                    # dim churn racing the stream: a tier bump the join
                    # view must pick up via change_feed (the dim merge
                    # goes through the SAME chaos_merge monkeypatch, so
                    # dim commits crash-inject too)
                    d = MicroLakeTable.load(spark, f"{tmp_dir}/dim")
                    e = d.last_committed_epoch + 1
                    d.merge(
                        spark.createDataFrame(
                            [(1000 + e, "U", "python", "compute", e)],
                            "seq long, op string, tool string, "
                            "category string, cost_tier int",
                        ).withColumn(
                            "ts", F.timestamp_seconds(F.col("seq") * 60)
                        ),
                        epoch=e,
                    )
                races["runs"] += 1
            except Exception:
                pass  # table may not exist yet / lost race — retry
            time.sleep(0.4)

    maint_thread = threading.Thread(target=maintain_loop, daemon=True)
    maint_thread.start()

    # ---- the soak: restart until the chaos lets a pass finish --------
    # every epoch WAP-gated: staged on a branch, audited, fast-forward
    # published — under the same crash injection (merge chaos fires on
    # the BRANCH commit, so crashes land between stage and publish) and
    # with the maintenance loop's commits diverting publishes into
    # diverged-base conflicts the restart rebuilds from
    wap_rules = {"key_present": "conv_id IS NOT NULL",
                 "turn_nonneg": "turn_idx >= 0"}
    replicator = None
    pinned = False
    try:
        completed = 0
        for attempt in range(30):
            if attempt >= 25:
                chaos["on"] = False  # guarantee the tail drains
            try:
                stream(spark, [f"{tmp_dir}/log", f"{tmp_dir}/log_evolved"],
                       f"{tmp_dir}/t", f"{tmp_dir}/ckpt", n_buckets=8,
                       max_files_per_trigger=1, merge_mode="mor",
                       compact_every=3, optimize_every=2,
                       optimize_opts={"keep_versions": 200},
                       wap_audit=wap_rules, **paths)
                completed += 1
            except Exception:
                continue
            if replicator is None:
                # mid-chaos: start mirroring through the change feed
                replicator = ChangeFeedReplicator(
                    spark, f"{tmp_dir}/t", f"{tmp_dir}/replica")
                try:
                    replicator.sync()
                except Exception:
                    pass
            if not pinned:
                # mid-chaos: pin a durable cross-table cut while the
                # maintenance loop and future epochs keep churning
                from tap_github_search_spark.streaming.topology import (
                    TopologySnapshot,
                )
                try:
                    TopologySnapshot(spark, {
                        "fact": MicroLakeTable.load(spark, f"{tmp_dir}/t"),
                        "rollup": MicroLakeTable.load(
                            spark, f"{tmp_dir}/roll"),
                    }).tag("soak-pin")
                    pinned = True
                except Exception:
                    pass
            if completed >= 2:  # one clean drain after a clean drain
                break
        assert chaos["crashes"] >= 3, "chaos never actually fired"
    finally:
        stop.set()
        maint_thread.join(timeout=10)
    chaos["on"] = False
    monkeypatch.setattr(MicroLakeTable, "merge", real_merge)
    monkeypatch.setattr(DerivedChain, "_apply_level", real_level)

    # final clean pass: drain anything left + catch every level up
    # (still WAP-gated — the quiet path must publish cleanly too)
    table = stream(spark, [f"{tmp_dir}/log", f"{tmp_dir}/log_evolved"],
                   f"{tmp_dir}/t", f"{tmp_dir}/ckpt", merge_mode="mor",
                   compact_every=3, wap_audit=wap_rules, **paths)
    replicator.sync()
    # drain the progressive spec migration the maintenance loop started
    # mid-stream; the table must end fully on the doubled spec with
    # content identical to the oracle below
    table = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    while table.migrate_step(max_buckets=8):
        table = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    table = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert not table.stats()["migration_pending"]
    assert table.n_buckets == 16  # the mid-stream 8 -> 16 switch stuck

    # ---- VERDICT r4 #10: compose a SECOND progressive migration with
    # an int->long type promotion landing while it is PENDING, driven
    # through the full maintainer set (rollup chain + text index) and
    # consumed by the replica across the migration fence ---------------
    from tap_github_search_spark.streaming.derived import (
        TextIndexMaintainer,
    )
    from tests.test_engine import _events

    from tap_github_search_spark.streaming.joinview import (
        JoinViewMaintainer,
    )

    v = table.last_committed_epoch
    table.rebucket_start(32)
    assert table.stats()["migration_pending"]
    maint2 = RollupMaintainer(spark, table, paths["rollup_path"],
                              daily_path=paths["daily_rollup_path"],
                              weekly_path=paths["weekly_rollup_path"])
    tidx = TextIndexMaintainer(spark, table, paths["text_index_path"])
    dim_t = MicroLakeTable.load(spark, f"{tmp_dir}/dim")
    jvm = JoinViewMaintainer(spark, table, dim_t, paths["join_view_path"])
    from tap_github_search_spark.streaming.scd2 import Scd2Maintainer

    scd2 = Scd2Maintainer(spark, dim_t, paths["scd2_path"])
    # epoch v+1: NEW int column arrives mid-migration
    table.merge(
        _events(spark, [(10**9, "I", "widen_a", 0, 10**6, "fresh words")])
        .withColumn("score", F.lit(7).cast("int")),
        epoch=v + 1, merge_mode="mor",
    )
    maint2.apply_epoch(v + 1)
    tidx.apply_epoch(v + 1)
    jvm.apply_epoch(v + 1)
    scd2.apply_epoch(v + 1)
    # epoch v+2: the SAME column widens int->long, migration still
    # pending — reader promotion must carry both generations
    table.merge(
        _events(spark, [(10**9 + 1, "I", "widen_b", 0, 10**6 + 1,
                         "more words")])
        .withColumn("score", F.lit(9_000_000_000).cast("long")),
        epoch=v + 2, merge_mode="mor",
    )
    maint2.apply_epoch(v + 2)
    tidx.apply_epoch(v + 2)
    jvm.apply_epoch(v + 2)
    scd2.apply_epoch(v + 2)
    while table.migrate_step(max_buckets=8):
        pass
    table = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    table.compact()
    table = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert not table.stats()["migration_pending"]
    assert table.n_buckets == 32
    assert {f.name: f.dataType.typeName()
            for f in table.schema.fields}["score"] == "long"
    scores = {r["conv_id"]: r["score"]
              for r in table.snapshot_df()
              .filter(F.col("conv_id").startswith("widen")).collect()}
    assert scores == {"widen_a": 7, "widen_b": 9_000_000_000}
    # replica: bookmark predates the second rebucket_start — the spec/
    # pending fences must force the full diff (no phantom deletes) and
    # the replica evolves the new column
    replicator.sync()

    # ---- 1) main table == DuckDB WAL oracle --------------------------
    # (the widen_* rows arrived by direct merge, not the WAL — excluded)
    got = table.snapshot_df() \
        .filter(~F.col("conv_id").startswith("widen")).toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oracle = duckdb.sql(f"""
      SELECT conv_id, turn_idx, role,
             nfc_normalize(replace(text, chr(0), '')) AS text,
             tool, ts, tool_version, lang
      FROM (
        SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                  ORDER BY ts DESC, seq DESC) rn
        FROM read_parquet(['{tmp_dir}/log/*.parquet',
                           '{tmp_dir}/log_evolved/*.parquet'],
                          union_by_name=true)
      ) WHERE rn = 1 AND op <> 'D'
      ORDER BY conv_id, turn_idx
    """).df()
    got["ts"] = pd.to_datetime(got["ts"], utc=True)
    oracle["ts"] = pd.to_datetime(oracle["ts"], utc=True)
    pd.testing.assert_frame_equal(got[oracle.columns], oracle,
                                  check_dtype=False)

    # ---- 2-4) every rollup level == full recompute -------------------
    maint = RollupMaintainer(spark, table, paths["rollup_path"],
                             daily_path=paths["daily_rollup_path"],
                             weekly_path=paths["weekly_rollup_path"])
    assert (maint.child.last_committed_epoch
            == maint.grandchild.last_committed_epoch
            == maint.greatgrandchild.last_committed_epoch
            == table.last_committed_epoch)

    def canon(df, key):
        pdf = df.toPandas().sort_values(key).reset_index(drop=True)
        for c in pdf.columns:
            if pd.api.types.is_datetime64_any_dtype(pdf[c]):
                pdf[c] = pd.to_datetime(pdf[c], utc=True)
        return pdf[sorted(pdf.columns)]

    snap = table.snapshot_df()
    pd.testing.assert_frame_equal(
        canon(maint.child.snapshot_df().drop("ts"), "conv_id"),
        canon(conv_rollup(snap), "conv_id"), check_dtype=False)
    pd.testing.assert_frame_equal(
        canon(maint.grandchild.snapshot_df().drop("ts"), "day"),
        canon(daily_rollup(conv_rollup(snap)), "day"), check_dtype=False)
    pd.testing.assert_frame_equal(
        canon(maint.greatgrandchild.snapshot_df().drop("ts"), "week"),
        canon(weekly_rollup(daily_rollup(conv_rollup(snap))), "week"),
        check_dtype=False)

    # ---- 5) text index == full rebuild -------------------------------
    idx = MicroLakeTable.load(spark, paths["text_index_path"])
    gi = canon(idx.snapshot_df().drop("ts", "postings"), "token")
    wi = canon(_full_rebuild(table).drop("postings"), "token")
    pd.testing.assert_frame_equal(gi, wi, check_dtype=False)
    # postings compare needs list coercion
    gp = {r["token"]: list(r["postings"])
          for r in idx.snapshot_df().collect()}
    wp = {r["token"]: list(r["postings"])
          for r in _full_rebuild(table).collect()}
    assert gp == wp

    # ---- 6) replica == source ----------------------------------------
    rep = canon(replicator.replica.snapshot_df()
                .drop("ts").withColumnRenamed("src_ts", "ts"),
                ["conv_id", "turn_idx"])
    src = canon(snap, ["conv_id", "turn_idx"])
    pd.testing.assert_frame_equal(rep, src, check_dtype=False)

    # ---- 7) join view == batch twin (dim churned mid-chaos) ----------
    # a dim churn commit may postdate the last fact epoch; the view
    # applies dim deltas on the NEXT fact epoch, so flush with one
    # empty epoch (the production quiet-WAL tick), then compare
    from tap_github_search_spark.streaming.joinview import (
        join_view_state,
    )

    dim_f = MicroLakeTable.load(spark, f"{tmp_dir}/dim")
    jvf = JoinViewMaintainer(spark, table, dim_f,
                             paths["join_view_path"])
    flush = table.last_committed_epoch + 1
    table.merge(_events(spark, []), epoch=flush, merge_mode="mor")
    jvf.apply_epoch(flush)
    gv = jvf.view.snapshot_df()
    # the score column evolved into the view mid-migration
    assert {r["conv_id"]: r["score"]
            for r in gv.filter(F.col("conv_id").startswith("widen"))
            .collect()} == {"widen_a": 7, "widen_b": 9_000_000_000}
    gvc = canon(gv.drop("ts"), ["conv_id", "turn_idx"])
    evc = canon(join_view_state(table, dim_f).select(*gv.drop("ts").columns),
                ["conv_id", "turn_idx"])
    pd.testing.assert_frame_equal(gvc, evc, check_dtype=False)

    # ---- 8) SCD2 history converged through the same chaos ------------
    # the maintainer ran inside the crash-injected stream AND the staged
    # epochs; after the flush its current slice must equal the churned
    # dim's final state, every closed interval must predate its
    # successor, and the fenced dim version must be the dim's latest
    scd2_f = Scd2Maintainer(spark, dim_f, paths["scd2_path"])
    scd2_f.apply_epoch(flush)
    hist = scd2_f.hist.snapshot_df()
    cur = canon(
        hist.filter(F.col("is_current") == 1)
        .select("tool", "category", "cost_tier"), ["tool"])
    dim_now = canon(
        dim_f.snapshot_df().select("tool", "category", "cost_tier"),
        ["tool"])
    pd.testing.assert_frame_equal(cur, dim_now, check_dtype=False)
    assert int(scd2_f.hist.manifest["dim_version_seen"]) == \
        int(dim_f.manifest["version"])
    bad = hist.alias("a").join(
        hist.alias("b"),
        (F.col("a.tool") == F.col("b.tool"))
        & (F.col("a.effective_to") > F.col("b.effective_from"))
        & (F.col("a.effective_from") < F.col("b.effective_from")),
    ).count()
    assert bad == 0  # no overlapping validity intervals per key

    # ---- 9) WAP left no residue; the mid-chaos pinned cut is a
    # skew-free snapshot (rollup in the cut == recompute from the fact
    # in the SAME cut) even though both tables churned on for many
    # epochs + maintenance commits after the pin --------------------------
    assert not any(k.startswith("wap-epoch-")
                   for k in table.list_refs()), "leaked WAP branch refs"
    assert pinned, "the mid-chaos cut pin never succeeded"
    from tap_github_search_spark.streaming.topology import TopologySnapshot

    snaps = TopologySnapshot(spark, {
        "fact": MicroLakeTable.load(spark, f"{tmp_dir}/t"),
        "rollup": MicroLakeTable.load(spark, f"{tmp_dir}/roll"),
    }).at_tag("soak-pin")
    pd.testing.assert_frame_equal(
        canon(snaps["rollup"].drop("ts"), "conv_id"),
        canon(conv_rollup(snaps["fact"]), "conv_id"), check_dtype=False)

    # the maintenance loop really ran against live commits
    assert races["runs"] >= 1

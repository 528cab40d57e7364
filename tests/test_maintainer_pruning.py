"""r06 maintainer optimizations: bucket-pruned probe reads (files read
are O(epoch), not O(table)), the shared per-epoch EpochContext, and
dim-churn maintainers converging when Spark shuffles every join."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from tap_github_search_spark.sources.generator import write_changelog
from tap_github_search_spark.streaming.derived import (
    EpochContext,
    RollupMaintainer,
    bucket_ids_of,
    conv_rollup,
    daily_rollup,
)
from tap_github_search_spark.streaming.job import replay
from tap_github_search_spark.streaming.joinview import (
    JoinViewMaintainer,
    join_view_state,
)
from tap_github_search_spark.streaming.scd2 import (
    Scd2Maintainer,
    scd2_expected,
)
from tap_github_search_spark.table.microlake import MicroLakeTable
from tests.test_join_view import _dim_table


def _rel_input_files(df, table) -> set[str]:
    return {
        os.path.relpath(p.replace("file:", ""), table.path)
        for p in df.inputFiles()
    }


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string",
    ).withColumn("ts", F.timestamp_seconds(F.col("seq") * 60))


def test_snapshot_df_bucket_restriction_skips_files(spark, tmp_dir):
    """snapshot_df(buckets=...) must read ONLY the listed buckets'
    files — the mechanism behind every pruned maintainer probe."""
    write_changelog(spark, f"{tmp_dir}/log", 60, n_files=2)
    table, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                      n_buckets=8)
    by_bucket: dict[int, set[str]] = {}
    for f in table.manifest["files"]:
        by_bucket.setdefault(f["bucket"], set()).add(f["path"])
    assert len(by_bucket) > 2
    some = sorted(by_bucket)[:2]
    read = _rel_input_files(table.snapshot_df(buckets=some), table)
    allowed = set().union(*(by_bucket[b] for b in some))
    assert read and read <= allowed


def test_maintainer_epoch_probe_is_bucket_pruned(spark, tmp_dir):
    """A small epoch touching one conversation must drive a level-1
    probe that reads only that conversation's bucket — the staged-key
    bucket ids select a strict file subset, and the maintained rollup
    still converges to the full recompute."""
    write_changelog(spark, f"{tmp_dir}/log", 60, n_files=2)
    table, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                      n_buckets=8)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/roll")
    maint.apply_epoch(0)
    # epoch 1: one conversation updated
    conv = table.snapshot_df().select("conv_id").first()["conv_id"]
    table.merge(
        _events(spark, [(10_000_000, "U", conv, 0, "user",
                         "updated text", None)]),
        epoch=1,
    )
    keys = table.staged_keys(1)
    ids = bucket_ids_of(keys, "conv_id", table.n_buckets)
    assert ids is not None and len(ids) == 1
    # every bucket affected → None: a full restriction prunes nothing
    every = spark.range(1000).select(F.col("id").cast("string")
                                     .alias("conv_id"))
    assert bucket_ids_of(every, "conv_id", table.n_buckets) is None
    read = _rel_input_files(table.snapshot_df(buckets=ids), table)
    all_files = {f["path"] for f in table.manifest["files"]}
    in_bucket = {f["path"] for f in table.manifest["files"]
                 if f["bucket"] in ids}
    assert read <= in_bucket and read < all_files
    maint.apply_epoch(1)
    got = (
        maint.child.snapshot_df().drop("ts").toPandas()
        .sort_values("conv_id").reset_index(drop=True)
    )
    expect = (
        conv_rollup(table.snapshot_df()).toPandas()
        .sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_epoch_context_paths_match_full_recompute(spark, tmp_dir):
    """A chain maintained through a caller's shared EpochContext and
    one that builds its own (no ``ctx``) must both equal the full
    recompute at every level: conv rollup and daily rollup."""
    write_changelog(spark, f"{tmp_dir}/log", 50, n_files=2,
                    delete_pct=20)
    table, results = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t",
                            n_buckets=8, n_epochs=2)
    a = RollupMaintainer(spark, table, f"{tmp_dir}/roll_a",
                         daily_path=f"{tmp_dir}/daily_a")
    b = RollupMaintainer(spark, table, f"{tmp_dir}/roll_b",
                         daily_path=f"{tmp_dir}/daily_b")
    for r in results:
        a.apply_epoch(r.epoch)
        ctx = EpochContext(spark, table, r.epoch)
        try:
            b.apply_epoch(r.epoch, ctx=ctx)
        finally:
            ctx.release()

    def canon(df):
        pdf = df.toPandas()
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    want_conv = canon(conv_rollup(table.snapshot_df()))
    want_daily = canon(daily_rollup(conv_rollup(table.snapshot_df())))
    for m in (a, b):
        pd.testing.assert_frame_equal(
            canon(m.child.snapshot_df().drop("ts")), want_conv,
            check_dtype=False)
        pd.testing.assert_frame_equal(
            canon(m.grandchild.snapshot_df().drop("ts")), want_daily,
            check_dtype=False)


def test_dim_wide_churn_falls_back_to_shuffle(spark, tmp_dir):
    """VERDICT r5 #2/#4: with Spark's broadcast threshold off (every
    changed-key set 'too big'), a dim-wide rewrite must flow through
    shuffle joins in BOTH dim-churn maintainers and still converge to
    the ground-truth twins."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        _dim_wide_churn_converges(spark, tmp_dir)
    finally:
        spark.conf.set(conf, old)


def _dim_wide_churn_converges(spark, tmp_dir):
    # join view: fact epoch 0 + full dim churn
    write_changelog(spark, f"{tmp_dir}/log", 30, n_files=1)
    fact, _ = replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/fact",
                     n_buckets=4)
    dim = _dim_table(spark, f"{tmp_dir}/dim", upto_seq=4, epoch=0)
    jv = JoinViewMaintainer(spark, fact, dim, f"{tmp_dir}/view")
    jv.apply_epoch(0)
    # dim-wide churn: every tool's payload rewritten
    d = MicroLakeTable.load(spark, f"{tmp_dir}/dim")
    rewrite = d.snapshot_df().select(
        (F.col("ts").cast("long") + 10_000).cast("long").alias("seq"),
        F.lit("U").alias("op"), "tool", "category",
        (F.col("cost_tier") + 100).alias("cost_tier"),
    ).withColumn("ts", F.timestamp_seconds(F.col("seq") * 60))
    d.merge(rewrite, epoch=1)
    jv.fact.merge(
        _events(spark, [(20_000_000, "U",
                         fact.snapshot_df().first()["conv_id"], 0,
                         "user", "x", None)]),
        epoch=1,
    )
    jv.apply_epoch(1)

    def vc(df):
        pdf = df.drop("ts").toPandas()
        return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(
            drop=True)

    got = vc(jv.view.snapshot_df())
    want = vc(
        join_view_state(jv.fact, MicroLakeTable.load(spark,
                                                     f"{tmp_dir}/dim"))
        .withColumn("ts", F.lit(None).cast("timestamp"))
    )
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  want[sorted(want.columns)],
                                  check_dtype=False)

    # scd2: same dim-wide churn through the history maintainer
    sc = Scd2Maintainer(spark, MicroLakeTable.load(spark,
                                                   f"{tmp_dir}/dim"),
                        f"{tmp_dir}/hist")
    sc.apply_epoch(2)
    consumed = [int(sc.hist.manifest["dim_version_seen"])]
    exp = scd2_expected(spark, f"{tmp_dir}/dim", consumed, ("tool",))

    def hc(df):
        cols = ["tool", "category", "cost_tier", "effective_from",
                "effective_to", "is_current"]
        return (df.select(*cols).toPandas()
                .sort_values(["tool", "effective_from"])
                .reset_index(drop=True))

    pd.testing.assert_frame_equal(hc(sc.hist.snapshot_df()), hc(exp),
                                  check_dtype=False)


def test_lineage_footer_fast_path_matches_scan(spark, tmp_dir):
    """r06: per-bucket lineage is derived from the staged files'
    parquet footers (the null count of the TRUE-or-NULL _deleted
    marker + _seq zones) instead of a second Spark scan — the values
    must be identical to a real scan of the files, deletes included."""
    rows = [(i, "I", f"c{i % 7}", i // 7, 10 + i) for i in range(21)]
    rows += [(100, "D", "c0", 0, 200), (101, "U", "c1", 0, 201)]
    _events(spark, [(s, op, c, ti, ts_, f"t{s}", None)
                    for s, op, c, ti, ts_ in rows]) \
        .write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, results = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                            n_buckets=4)
    staged = [f for f in table.manifest["files"]]
    assert all("live_rows" in f and "seq_min" in f for f in staged)
    lin = {r["partition_id"]: r for r in results[0].lineage}
    data = os.path.join(table.path, "data")
    dirs = [os.path.join(data, d) for d in os.listdir(data)
            if d.startswith("epoch=0-")]
    chk = (
        spark.read.option("basePath", data).parquet(*dirs)
        .groupBy("_bucket").agg(
            F.min("_seq").alias("seq_min"),
            F.max("_seq").alias("seq_max"),
            F.count(F.when(F.col("_deleted").isNull(), 1))
            .alias("rows_applied"),
            F.count(F.when(F.col("_deleted"), 1)).alias("rows_deleted"),
        ).collect()
    )
    assert len(chk) == len(lin) > 0
    for r in chk:
        entry = lin[int(r["_bucket"])]
        assert (entry["seq_min"], entry["seq_max"],
                entry["rows_applied"], entry["rows_deleted"]) == (
            r["seq_min"], r["seq_max"],
            r["rows_applied"], r["rows_deleted"])
    # tombstones counted: c0 was deleted
    assert sum(e["rows_deleted"] for e in lin.values()) == 1

"""Physical-plan quality gates (the 100 TB checklist, task brief):

 - small dimension sides are broadcast (no shuffled sort-merge joins
   where a broadcast fits),
 - incremental-resume predicates and column pruning reach the parquet
   scan (PushedFilters / ReadSchema),
 - LWW dedup is a partial-combinable hash aggregate, not a window sort,
 - no row-at-a-time Python (`BatchEvalPython`) anywhere in the catalog —
   only Arrow-vectorized exchanges (ArrowEvalPython / MapInPandas).

These assert on `.explain` output, so a regression that silently
de-optimizes a plan (e.g. a lost broadcast hint or a filter that stops
pushing down) fails CI even though results stay correct.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from tap_github_search_spark.operators.dedup import lww_winners, lww_winners_ord
from tap_github_search_spark.plans.queries import REGISTRY, _log
from tap_github_search_spark.schema import CHANGE_EVENT_SCHEMA
from tap_github_search_spark.sources.generator import ensure_changelog
from tap_github_search_spark.streaming.job import normalize_events
from tap_github_search_spark.table.microlake import MicroLakeTable

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_bookmark_join_is_scale_safe(spark):
    """r06: the bookmark frame is one row per CONVERSATION, so it must
    not carry a forced broadcast hint (at 10^8+ keys the hint OOMs the
    driver; at sf1.0 the collect+rebroadcast already cost 2x a
    co-partitioned shuffle join). AQE may still choose a broadcast
    join at runtime from actual sizes - that is the size-aware
    decision the plan defers to."""
    ensure_changelog(spark, 0.01)
    fn, _ = REGISTRY["cdc_bookmark_antijoin"]
    df = fn(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_dim_joins_are_broadcast(spark):
    fn, _ = REGISTRY["join_enrich_orders"]
    plan = plan_of(fn(spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_incremental_resume_filter_pushes_down(spark):
    """Batch-replay resume (`ts > bookmark`, SURVEY.md §2.2 I1) must
    reach the parquet scan so Catalyst can prune row groups by stats."""
    ensure_changelog(spark, 0.01)
    df = _log(spark, SF_DIR).filter(F.col("ts") > "2025-06-01")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts" in plan


def test_shipdate_filter_pushes_down_and_prunes_columns(spark):
    fn, _ = REGISTRY["tpch_pricing"]
    plan = plan_of(fn(spark, SF_DIR))
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 2-column group-by scan must not read l_comment
    # or other unused columns (ReadSchema lists only what's needed)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in read and "l_suppkey" not in read


def test_lww_dedup_has_map_side_combine_no_window(spark):
    """The default LWW plan must partial-combine before its single
    shuffle (a hot conv_id collapses map-side); a window plan would ship
    every duplicate of a hot key into one task."""
    ensure_changelog(spark, 0.01)
    plan = plan_of(lww_winners(_log(spark, SF_DIR)), "simple")
    assert "partial_max" in plan  # map-side combine before the shuffle
    assert "Window" not in plan
    assert plan.count("Exchange") == 1  # exactly one shuffle


def test_lww_ord_variant_is_strict_hash_aggregate(spark):
    """The decimal-packed variant must reduce with HashAggregate (no
    sort anywhere before the shuffle) — the update-heavy skew path."""
    ensure_changelog(spark, 0.01)
    plan = plan_of(lww_winners_ord(_log(spark, SF_DIR)), "simple")
    assert "HashAggregate" in plan
    assert "partial_max(_ord" in plan


def test_whole_stage_codegen_covers_scan_agg(spark):
    fn, _ = REGISTRY["agg_monthly_counts"]
    # AQE wraps the plan and reports codegen subtrees only after
    # execution; toggle it off to inspect the compiled spans directly.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(fn(spark, SF_DIR), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # the scan→project→partial-agg span must be one compiled stage
    assert "Found 0 WholeStageCodegen" not in plan
    assert "WholeStageCodegen" in plan and "HashAggregate" in plan


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_row_at_a_time_python(spark, name):
    """input_hint mandate: vectorized pandas/Arrow UDFs only. A plain
    @udf would surface as BatchEvalPython; Arrow paths surface as
    ArrowEvalPython / MapInPandas and are allowed."""
    ensure_changelog(spark, 0.01)
    fn, _ = REGISTRY[name]
    assert "BatchEvalPython" not in plan_of(fn(spark, SF_DIR))


def test_search_counts_single_scan(spark):
    """K configured search templates must cost ONE scan of the fact
    table (conditional aggregation), not K filtered scans unioned
    (VERDICT r1 #4: linear-in-templates scan cost at 100 TB)."""
    fn, _ = REGISTRY["search_counts"]
    plan = plan_of(fn(spark, SF_DIR), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan


def test_merge_and_rewrite_plan_one_shuffle(spark, tmp_dir, monkeypatch):
    """The merge stage and the one rewrite body (CoW overlap rewrite,
    ``compact``) each plan exactly ONE Exchange — the ``_cluster``
    repartition, ``cluster_width`` partitions wide — and the LWW window
    reuses its clustering (no second Exchange). The stage keeps the shape of
    plans/r06/merge_replay_store_after.txt: Exchange → Sort →
    WindowGroupLimit → Window."""
    plans: list[str] = []
    orig = MicroLakeTable._write

    def spy(self, df):
        plans.append(plan_of(df))
        return orig(self, df)

    monkeypatch.setattr(MicroLakeTable, "_write", spy)

    def events(seq0, op):
        return spark.createDataFrame(
            [(seq0 + i, op, f"c{i}", 0, "user", f"t{seq0 + i}", None,
              datetime.fromtimestamp(1735689600 + seq0 + i, tz=timezone.utc))
             for i in range(8)],
            CHANGE_EVENT_SCHEMA,
        )

    # 4 buckets on the session's 8 cores shuffle into 4 partitions; 16
    # buckets into 8, the smallest divisor of 16 that fills the cores
    assert spark.sparkContext.defaultParallelism == 8
    for n_buckets, width in ((4, 4), (16, 8)):
        plans.clear()
        t = MicroLakeTable.create(
            spark, f"{tmp_dir}/t{n_buckets}",
            spark.createDataFrame([], CHANGE_EVENT_SCHEMA).drop("op", "seq")
            .schema, n_buckets=n_buckets,
        )
        t.merge(events(0, "I"), 0, winner_transform=normalize_events)
        assert len(plans) == 1                   # empty table: stage only
        t.merge(events(100, "U"), 1)             # CoW: stage + rewrite
        assert len(plans) == 3
        t.merge(events(200, "D"), 2, merge_mode="mor")
        assert t.compact() > 0                   # MOR append + compact
        assert len(plans) == 5
        stage, rewrite, compact = plans[0], plans[2], plans[4]

        shape = ["Exchange", "Sort", "WindowGroupLimit", "Window"]
        for plan, top in ((stage, ["ArrowEvalPython"]), (rewrite, []),
                          (compact, [])):
            tree, details = plan.split("\n\n", 1)
            assert tree.count("Exchange") == 1   # the _cluster shuffle only
            args = details.split(") Exchange\n", 1)[1].splitlines()[1]
            assert "hashpartitioning(conv_id#" in args
            assert f", {width}), REPARTITION_BY_NUM" in args
            # bottom-up: the window sorts and limits inside that clustering
            pos = [tree.find(f"+- {op} (") for op in shape + top]
            assert min(pos) >= 0 and pos == sorted(pos, reverse=True), tree

#!/usr/bin/env python
"""Supplementary benchmarks (r06). `bench.py` is frozen for the round
driver; everything new lives here.

Modes:
  --maint-sparse  (default) sparse-epoch maintainer overhead (VERDICT
                  r5 #3): the §8 maintainer measurement is all-dirty
                  by design (every microbatch touches ~all 30k
                  conversations — an upper bound ≈ full reindex per
                  epoch). The central scale claim for the derived
                  surface is "cost ∝ touched fraction"; this mode
                  measures a ~1%-dirty epoch tail directly. Protocol:
                  hardlink the cached 30k-conv WAL into a run dir,
                  consume it fully (initial load, untimed), hardlink a
                  300-conv update WAL (1% of keys, seq/ts AFTER the
                  base) into the same dir, and time ONLY the catch-up
                  run that consumes the sparse files — maintainers on
                  vs off. Emits one JSON line with
                  `maintainers_sparse_overhead_x`.
  --queries-noop  per-query isolation of the headline suite through
                  the noop sink (guide §1.4) at $SPARK_GRAFT_SF_DIR —
                  times the computation, not the sink.
  --python-task-cost
                  the fixed cost of one task of a stage that runs a
                  Python UDF: a noop write of 64 rows through
                  `normalize_text` after a shuffle into 1 partition,
                  then into 16 (all rows in one, 15 empty). The extra
                  wall time over the extra waves of tasks is the
                  per-task cost — what sizing the merge's `_cluster`
                  shuffle to the cores saves per epoch.

All honor $SPARK_GRAFT_CPUS / $SPARK_GRAFT_SF_DIR like bench.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

BASE_WAL = "/root/repo/data/cdc/sustained/changelog_maint"
SPARSE_WAL = "/root/repo/data/cdc/sustained/changelog_maint_sparse"
RUN_ROOT = "/root/repo/data/tmp/bench_extra"

#: must match bench.py's maintainer WAL shape
MAINT_CONVS = 30_000
SPARSE_CONVS = 300  # 1% of the corpus keys


def _link_parquet(src: str, dst: str, prefix: str = "") -> int:
    os.makedirs(dst, exist_ok=True)
    n = 0
    for fn in sorted(os.listdir(src)):
        if fn.endswith(".parquet"):
            os.link(os.path.join(src, fn),
                    os.path.join(dst, f"{prefix}{fn}"))
            n += 1
    return n


def maint_sparse(spark) -> dict:
    from tap_github_search_spark.sources.generator import (
        TURN_SPAN,
        write_changelog,
    )
    from tap_github_search_spark.streaming.job import stream

    if not (os.path.isdir(BASE_WAL)
            and any(f.endswith(".parquet") for f in os.listdir(BASE_WAL))):
        write_changelog(spark, BASE_WAL, MAINT_CONVS, n_files=8,
                        mutations_per_conv=4.0)
    if not (os.path.isdir(SPARSE_WAL)
            and any(f.endswith(".parquet")
                    for f in os.listdir(SPARSE_WAL))):
        # updates confined to conv ids 0..SPARSE_CONVS-1 (a subset of
        # the base corpus — changelog ids are deterministic in range),
        # with seq (and therefore ts) strictly after every base event
        # so each one LWW-wins and genuinely dirties its conversation
        write_changelog(spark, SPARSE_WAL, SPARSE_CONVS, n_files=4,
                        mutations_per_conv=4.0,
                        seq_offset=MAINT_CONVS * TURN_SPAN * 2)
    n_sparse = spark.read.parquet(SPARSE_WAL).count()

    def run(with_maint: bool) -> tuple[float, float]:
        tag = "on" if with_maint else "off"
        root = f"{RUN_ROOT}/sparse_{tag}"
        shutil.rmtree(root, ignore_errors=True)
        _link_parquet(BASE_WAL, f"{root}/log")
        kw = {}
        if with_maint:
            kw = dict(
                rollup_path=f"{root}/roll",
                daily_rollup_path=f"{root}/daily",
                weekly_rollup_path=f"{root}/weekly",
                text_index_path=f"{root}/idx",
                lsh_index_path=f"{root}/lsh",
            )
        common = dict(n_buckets=64, merge_mode="mor",
                      max_files_per_trigger=2, **kw)
        t0 = time.monotonic()
        stream(spark, [f"{root}/log"], f"{root}/t", f"{root}/ckpt",
               **common)
        load_sec = time.monotonic() - t0
        # the 1%-dirty tail: new files appear, the SAME stream config
        # catches up from its checkpoint — this is the timed region
        _link_parquet(SPARSE_WAL, f"{root}/log", prefix="zz-sparse-")
        t0 = time.monotonic()
        stream(spark, [f"{root}/log"], f"{root}/t", f"{root}/ckpt",
               **common)
        sparse_sec = time.monotonic() - t0
        shutil.rmtree(root, ignore_errors=True)
        return load_sec, sparse_sec

    off_load, off_sparse = run(False)
    on_load, on_sparse = run(True)
    return {
        "metric": "maintainers_sparse_overhead",
        "sparse_n_events": n_sparse,
        "sparse_dirty_fraction": SPARSE_CONVS / MAINT_CONVS,
        "load_off_sec": round(off_load, 2),
        "load_on_sec": round(on_load, 2),
        "maintainers_load_overhead_x": round(on_load / off_load, 2),
        "sparse_off_sec": round(off_sparse, 2),
        "sparse_on_sec": round(on_sparse, 2),
        "maintainers_sparse_overhead_x": round(
            on_sparse / off_sparse, 2),
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }


def queries_noop(spark, sf_dir: str) -> dict:
    from tap_github_search_spark.plans.queries import REGISTRY

    names = [
        "cdc_replay_transcripts", "cdc_conv_rollup",
        "cdc_bookmark_antijoin", "agg_monthly_counts",
        "join_enrich_orders", "topk_events", "docs_fingerprint",
        "emb_cosine_topk",
    ]
    out: dict[str, float] = {}
    # untimed warmup (JIT + codegen + Python workers)
    REGISTRY[names[0]][0](spark, sf_dir).write.format("noop").mode(
        "overwrite").save()
    for n in names:
        spark.sparkContext.setJobDescription(f"noop:{n}")
        t0 = time.monotonic()
        REGISTRY[n][0](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        out[n] = round(time.monotonic() - t0, 3)
    return {"metric": "headline_queries_noop", "sf_dir": sf_dir,
            "queries": out}


def python_task_cost(spark, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from tap_github_search_spark.functions.normalize import normalize_text

    rows = spark.range(64).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"))

    def best(n_parts: int) -> float:
        # repartition(n, lit) puts every row in one partition; AQE never
        # coalesces a REPARTITION_BY_NUM shuffle, so n tasks run
        df = rows.repartition(n_parts, F.lit(0)).select(
            normalize_text("text").alias("text"))
        times = []
        for _ in range(4):                  # first run warms the workers
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.monotonic() - t0)
        return min(times[1:])

    one, many = best(1), best(16)
    extra_waves = -(-16 // cpus) - 1
    return {
        "metric": "python_task_cost",
        "one_partition_s": round(one, 3),
        "partitions_16_s": round(many, 3),
        "extra_waves": extra_waves,
        # None when every task fits one wave: the cost then hides in
        # CPU time, not wall time
        "per_task_s": (round((many - one) / extra_waves, 3)
                       if extra_waves else None),
        "cpus": cpus,
    }


def main() -> None:
    from tap_github_search_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if "--python-task-cost" in sys.argv:
        print(json.dumps(python_task_cost(spark, cpus)))
    elif "--queries-noop" in sys.argv:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                                "/root/testdata/sf0.1")
        print(json.dumps(queries_noop(spark, sf_dir)))
    else:
        print(json.dumps(maint_sparse(spark)))
    spark.stop()


if __name__ == "__main__":
    main()

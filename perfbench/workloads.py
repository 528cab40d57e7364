"""The benchmark workloads. Each drives only the engine's public entry
points: ``streaming.job.stream``, the ``MicroLakeTable`` read methods,
the maintainers' read methods and ``plans.queries.REGISTRY``.

Both workloads are closed loops with one client: the next operation
starts only after the previous one has finished.

- ``backfill``: an update-heavy, zipf-skewed WAL drained by one
  ``stream()`` call into a fresh copy-on-write table, maintainers off,
  a few files per trigger. The merge path does nearly all the work.
- ``tail``: a preloaded merge-on-read table with three derived tables
  (the per-conversation rollup and the two-level text index), tailed
  by one long-running ``stream()``. Each landing dirties ~1% of the
  conversations; the benchmark waits for all four tables to commit it,
  then runs the read mix, then lands the next file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import inputs
from spans import Tracer, TriggerLog


@dataclass
class Sizes:
    """Input sizes and per-run operation counts: the least that keep
    the medians steady while one run stays near a minute."""

    backfill_convs: int = 2000
    backfill_mutations: float = 40.0
    backfill_files: int = 2
    backfill_files_per_trigger: int = 2
    backfill_buckets: int = 16
    backfill_warmup_drains: int = 2
    backfill_drains: int = 4
    tail_convs: int = 600
    tail_base_mutations: float = 4.0
    tail_dirty_frac: float = 0.01
    tail_landing_mutations: int = 4
    tail_buckets: int = 16
    tail_warmup_landings: int = 1
    tail_landings: int = 1
    point_reads_per_op: int = 12
    catalog_scale: float = 1.0
    catalog_passes: int = 2


SMOKE = Sizes(backfill_convs=300, backfill_mutations=8.0,
              backfill_warmup_drains=1, backfill_drains=1,
              tail_convs=200, tail_landings=1, point_reads_per_op=4,
              catalog_scale=0.05, catalog_passes=1)

#: rounds of the three scans in each read mix
SCAN_ROUNDS = 2

#: the eight headline queries of bench.py
CATALOG = [
    "cdc_replay_transcripts", "cdc_conv_rollup", "cdc_bookmark_antijoin",
    "agg_monthly_counts", "join_enrich_orders", "topk_events",
    "docs_fingerprint", "emb_cosine_topk",
]

#: the catalog's changelog: the committed correctness-scale WAL
CATALOG_SF = "sf0.01"


@dataclass
class Run:
    """State of one benchmark run."""

    spark: object
    root: str               # checkout root
    work: str               # scratch dir inside the checkout
    seed: int
    seconds: float
    sizes: Sizes
    tracer: Tracer | None
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)   # metric -> list
    ops: list = field(default_factory=list)        # (op, start, end) wall
    extra: dict = field(default_factory=dict)

    def phase(self, name: str, t0: float) -> None:
        """Record how long a phase of the run took (context only)."""
        self.extra.setdefault("phases_s", {})[name] = round(
            time.monotonic() - t0, 2)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1

    def span(self, name: str, **kw):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, **kw)

    def set_op(self, op: int | None) -> None:
        if self.tracer is not None:
            self.tracer.op = op


def committed_epoch(path: str, cache: dict) -> int:
    """The table's last committed epoch from its ``_current`` manifest
    (-1 before the first commit); the manifest is parsed only when the
    pointer moved."""
    try:
        with open(os.path.join(path, "_current")) as f:
            name = f.read().strip()
    except FileNotFoundError:
        return -1
    hit = cache.get(path)
    if hit is not None and hit[0] == name:
        return hit[1]
    with open(os.path.join(path, "_manifests", name)) as f:
        epoch = json.load(f)["last_committed_epoch"]
    cache[path] = (name, epoch)
    return epoch


def dir_mb(paths) -> float:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(d, f))
    return total / 1e6


def manifest_kb(paths) -> float:
    total = 0
    for p in paths:
        with open(os.path.join(p, "_current")) as f:
            total += os.path.getsize(os.path.join(p, "_manifests",
                                                  f.read().strip()))
    return total / 1e3


class StreamThread:
    """``stream()`` on a background thread, so the benchmark can watch
    commits while it runs. Re-raises the stream's error on ``join``."""

    def __init__(self, fn, *args, **kw):
        self.error: BaseException | None = None

        def body():
            try:
                fn(*args, **kw)
            except BaseException as e:  # reported by join()/check()
                self.error = e

        self.thread = threading.Thread(target=body, daemon=True)
        self.thread.start()

    def alive(self) -> bool:
        """False once the stream has returned; raises its error."""
        if self.error is not None:
            raise RuntimeError("stream failed") from self.error
        return self.thread.is_alive()

    def join(self, timeout: float) -> None:
        self.thread.join(timeout)
        if self.thread.is_alive():
            raise RuntimeError("stream did not stop")
        if self.error is not None:
            raise RuntimeError("stream failed") from self.error


def wait_epoch(paths: list[str], epoch: int, stream: StreamThread,
               t0: float, timeout: float = 120.0) -> tuple[float, float]:
    """Poll the tables' ``_current`` manifests until all have committed
    ``epoch``; return seconds from ``t0`` until the first path (the main
    table) and until all of them had."""
    cache: dict = {}
    t_main = None
    while True:
        now = time.monotonic()
        if t_main is None and committed_epoch(paths[0], cache) >= epoch:
            t_main = now - t0
        if t_main is not None and all(
                committed_epoch(p, cache) >= epoch for p in paths[1:]):
            return t_main, now - t0
        if now - t0 > timeout:
            raise RuntimeError(f"epoch {epoch} not committed in {timeout}s")
        if not stream.alive() and not all(
                committed_epoch(p, {}) >= epoch for p in paths):
            raise RuntimeError(f"stream ended before epoch {epoch}")
        time.sleep(0.005)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ts(sec: int):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(sec, timezone.utc)


def _wal_ts_range(table) -> tuple[int, int]:
    ts = table.column("ts").cast("int64").to_numpy() // 1_000_000
    return int(ts.min()), int(ts.max())


# ------------------------------------------------------------ backfill

def backfill(run: Run) -> None:
    """Drain the same seeded WAL into a fresh table
    ``backfill_warmup_drains`` times untimed, then ``backfill_drains``
    times timed (more while ``--seconds`` has not passed). Traced runs then
    run the read mix on the drained table and the catalog."""
    from tap_github_search_spark.streaming.job import stream
    from tap_github_search_spark.table.microlake import MicroLakeTable

    sz = run.sizes
    t = time.monotonic()
    corpus = inputs.Corpus.make(run.seed, sz.backfill_convs)
    chunks = inputs.split_by_seq(
        inputs.base_wal(corpus, sz.backfill_mutations), sz.backfill_files)
    n_events = sum(c.num_rows for c in chunks)
    staging = os.path.join(run.work, "staging")
    files = [inputs.publish(c, staging, os.path.join(run.work, "wal"),
                            f"part-{i:05d}.parquet", mtime=1e9 + i)
             for i, c in enumerate(chunks)]
    rng = np.random.default_rng([run.seed, 10])
    listener = TriggerLog(run.spark) if run.tracer else None
    run.phase("inputs", t)

    def drain(name: str, wal: list[str]) -> tuple[str, float, float]:
        """One ``stream()`` call over a fresh copy of ``wal``; returns the
        table path, the seconds to its first commit and to the end."""
        root = os.path.join(run.work, name)
        os.makedirs(os.path.join(root, "log"))
        for f in wal:
            os.link(f, os.path.join(root, "log", os.path.basename(f)))
        main = os.path.join(root, "t")
        t0 = time.monotonic()
        th = StreamThread(stream, run.spark, [os.path.join(root, "log")],
                          main, os.path.join(root, "ckpt"),
                          n_buckets=sz.backfill_buckets,
                          max_files_per_trigger=sz.backfill_files_per_trigger)
        t_first, _ = wait_epoch([main], 0, th, t0)
        th.join(120)
        return main, t_first, time.monotonic() - t0

    def reads(main: str, wal: list[str], n_convs: int, n_points: int,
              timed: bool) -> None:
        table = MicroLakeTable.load(run.spark, main)
        lo, hi = _wal_ts_range(pq.read_table(wal[-1], columns=["ts"]))
        convs = rng.integers(n_convs, size=n_points)
        read_mix(run, table,
                 [("microlake.lookup", f"conv_{c:08d}") for c in convs],
                 max(0, table.manifest["version"] - 1), lo, hi, timed)

    # warm-up: untimed drains of the same WAL (and one untimed read
    # mix); in a fresh JVM the first drains run 20-60% slower
    t = time.monotonic()
    for k in range(sz.backfill_warmup_drains):
        if k:
            shutil.rmtree(os.path.dirname(main))
        main, _, _ = drain(f"warm{k}", files)
    if run.tracer is not None:
        reads(main, files, corpus.n_convs, sz.point_reads_per_op,
              timed=False)
    run.setup_s += time.monotonic() - t
    run.phase("warm_up", t)

    t_loop = time.monotonic()
    k = 0
    while k < sz.backfill_drains or time.monotonic() - t_loop < run.seconds:
        k += 1
        shutil.rmtree(os.path.dirname(main))
        run.set_op(k)
        run.attempted += 1
        w0 = time.time()
        main, t_first, dt = drain(f"drain{k}", files)
        run.ops.append((k, w0, time.time()))
        run.add("fresh_s", dt)
        run.add("main_fresh_s", t_first)
        run.add("events_per_s", n_events / dt)
    if run.tracer is not None:
        reads(main, files, corpus.n_convs, sz.point_reads_per_op,
              timed=True)
    run.set_op(None)
    run.phase("timed", t_loop)

    t = time.monotonic()
    table = MicroLakeTable.load(run.spark, main)
    run.check("main_equals_lww_oracle",
              _check(lambda: checks.main_matches_oracle(table, files)))
    run.extra["lake_mb"] = dir_mb([main])
    run.extra["manifest_kb"] = manifest_kb([main])
    run.extra["files_live"] = len(table.manifest["files"])
    run.phase("checks", t)
    if listener is not None:
        run.extra["batches"] = listener
        catalog(run)


def _check(fn) -> bool:
    try:
        return bool(fn())
    except Exception as e:  # a check that cannot run has failed
        print(f"check failed to run: {e!r}", file=sys.stderr, flush=True)
        return False


def read_mix(run: Run, table, points: list[tuple[str, object]],
             from_version: int, ts_lo: int, ts_hi: int,
             timed: bool) -> None:
    """Point reads (``points``: span name and argument), then
    ``SCAN_ROUNDS`` rounds of the scans: the change feed and a
    time-range read over the last epoch, and a full snapshot scan
    through the noop sink. Untimed calls (warm-up) record nothing."""
    calls = {
        "microlake.lookup": lambda c: table.lookup(c).collect(),
        "derived.search": lambda idx_word: idx_word[0].search(
            idx_word[1]).collect(),
    }
    for name, arg in points:
        _read(run, name, lambda: calls[name](arg), timed)
    for _ in range(SCAN_ROUNDS):
        _read(run, "microlake.change_feed",
              lambda: _noop(table.change_feed(from_version)), timed)
        _read(run, "microlake.read_between",
              lambda: _noop(table.read_between(_ts(ts_lo), _ts(ts_hi))),
              timed)
        _read(run, "microlake.snapshot_scan",
              lambda: _noop(table.snapshot_df()), timed)


def _read(run: Run, span: str, fn, timed: bool) -> None:
    """One read request, counted and timed as the span ``span``."""
    if not timed:
        fn()
        return
    run.attempted += 1
    try:
        with run.span(span):
            fn()
    except Exception as e:  # a failed read counts; the loop goes on
        run.failed += 1
        print(f"read {span} failed: {e!r}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ tail

def tail(run: Run) -> None:
    """Preload the base WAL (all tables commit epoch 0), land
    ``tail_warmup_landings`` files untimed, then ``tail_landings`` files
    timed (more while ``--seconds`` has not passed). Traced runs follow
    each landing with the read mix."""
    from tap_github_search_spark.streaming.derived import TextIndexMaintainer
    from tap_github_search_spark.streaming.job import stream
    from tap_github_search_spark.table.microlake import MicroLakeTable

    sz = run.sizes
    spark = run.spark
    t = time.monotonic()
    corpus = inputs.Corpus.make(run.seed, sz.tail_convs)
    base = inputs.base_wal(corpus, sz.tail_base_mutations)
    run.phase("inputs", t)
    root = run.work
    log, staging = os.path.join(root, "log"), os.path.join(root, "staging")
    main = os.path.join(root, "t")
    idx_path = os.path.join(root, "idx")
    paths = [main] + [os.path.join(root, p) for p in (
        "roll", "idx_convtokens", "idx")]
    rng = np.random.default_rng([run.seed, 11])
    listener = TriggerLog(spark) if run.tracer else None

    def reads(dirty: list[str], from_version: int, lo: int, hi: int,
              n_points: int, timed: bool) -> None:
        table = MicroLakeTable.load(spark, main)
        idx = TextIndexMaintainer(spark, table, idx_path)
        if timed:
            run.add("lag_epochs", table.last_committed_epoch - min(
                t.last_committed_epoch for t in idx.tables))
        points = []
        for i in range(n_points):
            if i % 3 == 0:
                points.append(("microlake.lookup", dirty[i % len(dirty)]))
            elif i % 3 == 1:
                conv = int(rng.integers(corpus.n_convs))
                points.append(("microlake.lookup", f"conv_{conv:08d}"))
            else:
                word = inputs.WORDS[int(rng.integers(len(inputs.WORDS)))]
                points.append(("derived.search", (idx, word)))
        read_mix(run, table, points, from_version, lo, hi, timed)

    # the base lands first: stream() discovers the WAL schema from it
    t = time.monotonic()
    landed = [inputs.publish(base, staging, log, "base.parquet")]
    th = StreamThread(
        stream, spark, [log], main, os.path.join(root, "ckpt"),
        n_buckets=sz.tail_buckets, merge_mode="mor",
        max_files_per_trigger=1, available_now=False,
        rollup_path=paths[1], text_index_path=idx_path)
    wait_epoch(paths, 0, th, t, timeout=150)
    if run.tracer is not None:
        lo, hi = _wal_ts_range(base)
        reads(sorted(set(base.column("conv_id").to_pylist())), 0, lo, hi,
              sz.point_reads_per_op, timed=False)
    run.phase("base_load", t)

    def landing(i: int):
        off = 10_000_000 * i  # past every seq and ts landed before
        return inputs.landing_wal(corpus, i, sz.tail_dirty_frac,
                                  sz.tail_landing_mutations, off,
                                  inputs.BASE_TS + off)

    # warm-up: untimed landings (and read mixes); in a fresh JVM the
    # first landings run 20-40% slower
    t_warm = time.monotonic()
    landings: list[str] = []
    i = 0
    while i < sz.tail_warmup_landings:
        i += 1
        wal = landing(i)
        landings.append(inputs.publish(wal, staging, log,
                                       f"landing-{i:05d}.parquet"))
        wait_epoch(paths, i, th, time.monotonic())
        if run.tracer is not None:
            lo, hi = _wal_ts_range(wal)
            reads(sorted(set(wal.column("conv_id").to_pylist())), 0, lo,
                  hi, sz.point_reads_per_op, timed=False)
    run.setup_s += time.monotonic() - t
    run.phase("warm_up", t_warm)

    t_loop = time.monotonic()
    while (i - sz.tail_warmup_landings < sz.tail_landings
           or time.monotonic() - t_loop < run.seconds):
        i += 1
        wal = landing(i)
        v0 = MicroLakeTable.load(spark, main).manifest["version"]
        run.set_op(i)
        run.attempted += 1
        w0 = time.time()
        t0 = time.monotonic()
        landings.append(inputs.publish(wal, staging, log,
                                       f"landing-{i:05d}.parquet"))
        t_main, t_all = wait_epoch(paths, i, th, t0)
        run.ops.append((i, w0, time.time()))
        run.add("main_fresh_s", t_main)
        run.add("fresh_s", t_all)
        run.add("events_per_s", wal.num_rows / t_all)
        if run.tracer is not None:
            lo, hi = _wal_ts_range(wal)
            reads(sorted(set(wal.column("conv_id").to_pylist())), v0, lo,
                  hi, sz.point_reads_per_op, timed=True)
    run.set_op(None)
    run.phase("timed", t_loop)

    t = time.monotonic()
    for q in spark.streams.active:
        q.stop()
    th.join(60)
    landed += landings
    table = MicroLakeTable.load(spark, main)
    run.check("main_equals_lww_oracle",
              _check(lambda: checks.main_matches_oracle(table, landed)))
    n, won = checks.landings_win(landed, landings)
    run.extra["landing_keys"], run.extra["landing_keys_won"] = n, won
    run.check("landings_win_lww", n > 0 and won == n)
    derived = _check_dict(lambda: checks.derived_match(
        spark, table, paths[1], idx_path))
    for name, ok in derived.items():
        run.check(f"{name}_equals_recompute", ok)
    run.extra["lake_mb"] = dir_mb(paths)
    run.extra["manifest_kb"] = manifest_kb(paths)
    run.extra["files_live"] = len(table.manifest["files"])
    run.phase("checks", t)
    if listener is not None:
        run.extra["batches"] = listener


# ------------------------------------------------------------ catalog

def catalog(run: Run) -> None:
    """The eight headline queries through the noop sink, over seeded
    source tables and the committed correctness-scale changelog. Runs
    inside traced ``backfill`` runs, which report its per-query
    figures."""
    import pyarrow.parquet as pq

    from tap_github_search_spark.plans.queries import REGISTRY

    sf_dir = os.path.join(run.work, "catalog", CATALOG_SF)
    os.makedirs(sf_dir)
    for name, t in inputs.catalog_tables(
            run.seed, run.sizes.catalog_scale).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))

    def one_pass(op):
        run.set_op(op)
        for n in CATALOG:
            with run.span(f"catalog.{n}"):
                _noop(REGISTRY[n][0](run.spark, sf_dir))

    one_pass(None)  # warm-up
    for p in range(run.sizes.catalog_passes):
        w0 = time.time()
        one_pass(1000 + p)
        run.extra.setdefault("catalog_ops", []).append((1000 + p, w0,
                                                        time.time()))
    run.set_op(None)
    log = os.path.join(run.root, "data", "cdc", CATALOG_SF, "changelog",
                       "*.parquet")
    res = _check_dict(lambda: checks.catalog_matches(
        run.spark, sf_dir, CATALOG, log))
    for n, ok in res.items():
        run.check(f"catalog_{n}_equals_oracle", ok)


def _check_dict(fn) -> dict:
    try:
        return fn()
    except Exception as e:  # a check that cannot run has failed
        print(f"check failed to run: {e!r}", file=sys.stderr, flush=True)
        return {"check": False}


WORKLOADS = {"backfill": backfill, "tail": tail}

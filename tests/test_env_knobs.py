"""Guard on the engine's environment surface: the package reads only
the deployment settings below. A new tuning option belongs in a
constant (tests monkeypatch it), not in another ``SPARK_GRAFT_*``
variable."""

from __future__ import annotations

import ast
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

"""Source guards for the two single-owner policies of the engine.

* ``operators/checkpoint.truncate`` is the ONLY lineage cut: no other
  module calls ``DataFrame.localCheckpoint`` / ``DataFrame.checkpoint``,
  so a configured reliable checkpoint dir reaches every cut.
* no engine module imports ``stagecache``: the session stage cache is
  gone, and the stub left for the benchmark must not gain callers.

The guards parse the code, so comments and docstrings that mention
these names never trip them.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "bigdatamlteamrepo_spark"
CUT_OWNER = PKG / "operators" / "checkpoint.py"
CUT_METHODS = {"localCheckpoint", "checkpoint"}


def _cut_calls(tree: ast.AST) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in CUT_METHODS
    ]


def _cache_imports(tree: ast.AST) -> list[int]:
    """Imports of the ``stagecache`` module, in any import form."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            paths = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            paths = [node.module or ""] + [a.name for a in node.names]
        else:
            continue
        if any("stagecache" in p.split(".") for p in paths):
            lines.append(node.lineno)
    return lines


def _modules():
    paths = sorted(PKG.rglob("*.py"))
    assert CUT_OWNER in paths
    return [(p, ast.parse(p.read_text(), filename=str(p))) for p in paths]


def test_truncate_is_the_only_lineage_cut():
    offenders = [
        f"{p.relative_to(PKG.parent)}:{line}"
        for p, tree in _modules()
        if p != CUT_OWNER
        for line in _cut_calls(tree)
    ]
    assert not offenders, "call operators.checkpoint.truncate instead: " + ", ".join(
        offenders
    )


def test_no_module_imports_stagecache():
    offenders = [
        f"{p.relative_to(PKG.parent)}:{line}"
        for p, tree in _modules()
        for line in _cache_imports(tree)
    ]
    assert not offenders, "the stage cache is gone — run the plan itself: " + ", ".join(
        offenders
    )


@pytest.mark.parametrize(
    "src, cuts, imports",
    [
        ("df.localCheckpoint(eager=True)", 1, 0),
        ("x = f(df).checkpoint()", 1, 0),
        ('"""df.localCheckpoint()"""\n# df.checkpoint()', 0, 0),
        ("from bigdatamlteamrepo_spark import stagecache\nstagecache.enabled()", 0, 1),
        ("from bigdatamlteamrepo_spark.stagecache import enabled", 0, 1),
        ("import bigdatamlteamrepo_spark.stagecache as sc", 0, 1),
        ("from . import checkpoint, stagecache", 0, 1),
        ('"""stagecache.enabled()"""\n# import stagecache', 0, 0),
        ("checkpoint.truncate(df, eager=False)", 0, 0),
    ],
)
def test_guards_see_calls_not_text(src, cuts, imports):
    tree = ast.parse(src)
    assert len(_cut_calls(tree)) == cuts
    assert len(_cache_imports(tree)) == imports

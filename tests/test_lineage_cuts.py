"""Source guards for the two single-owner policies of the engine.

* ``operators/checkpoint.truncate`` is the ONLY lineage cut: no other
  module calls ``DataFrame.localCheckpoint`` / ``DataFrame.checkpoint``,
  so a configured reliable checkpoint dir reaches every cut.
* ``stagecache`` alone reads its own on/off switch: a query face that
  branched on ``stagecache.enabled()`` would have two plans.

The guards parse the code, so comments and docstrings that mention
these names never trip them.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "bigdatamlteamrepo_spark"
CUT_OWNER = PKG / "operators" / "checkpoint.py"
CACHE_OWNER = PKG / "stagecache.py"
CUT_METHODS = {"localCheckpoint", "checkpoint"}


def _cut_calls(tree: ast.AST) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in CUT_METHODS
    ]


def _switch_reads(tree: ast.AST) -> list[int]:
    """Calls of ``stagecache.enabled`` (attribute or imported name)."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").endswith(
            "stagecache"
        ):
            lines += [node.lineno for a in node.names if a.name == "enabled"]
        elif isinstance(node, ast.Call) and ast.unparse(node.func).endswith(
            "stagecache.enabled"
        ):
            lines.append(node.lineno)
    return lines


def _modules():
    paths = sorted(PKG.rglob("*.py"))
    assert CUT_OWNER in paths and CACHE_OWNER in paths
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


def test_only_stagecache_reads_its_switch():
    offenders = [
        f"{p.relative_to(PKG.parent)}:{line}"
        for p, tree in _modules()
        if p != CACHE_OWNER
        for line in _switch_reads(tree)
    ]
    assert not offenders, "one plan per face — use stagecache.shared/materialized: " + ", ".join(
        offenders
    )


@pytest.mark.parametrize(
    "src, cuts, reads",
    [
        ("df.localCheckpoint(eager=True)", 1, 0),
        ("x = f(df).checkpoint()", 1, 0),
        ('"""df.localCheckpoint()"""\n# df.checkpoint()', 0, 0),
        ("from bigdatamlteamrepo_spark import stagecache\nstagecache.enabled()", 0, 1),
        ("from bigdatamlteamrepo_spark.stagecache import enabled", 0, 1),
        ("checkpoint.truncate(df, eager=False)", 0, 0),
    ],
)
def test_guards_see_calls_not_text(src, cuts, reads):
    tree = ast.parse(src)
    assert len(_cut_calls(tree)) == cuts
    assert len(_switch_reads(tree)) == reads

"""Registry invariants: the driver checks only the first 50 exported
queries, so the window composition is itself a tested contract."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import __spark_entry__ as entry

PKG = Path(__file__).resolve().parent.parent / "bigdatamlteamrepo_spark"


def test_driver_window_is_fully_oracle_paired():
    qs = list(entry.queries())
    oracle = entry.oracle_sql()
    window = qs[:50]
    unpaired = [q for q in window if q not in oracle]
    assert not unpaired, f"driver window contains rows-only queries: {unpaired}"


def test_oracle_keys_subset_of_queries():
    assert set(entry.oracle_sql()) <= set(entry.queries())


def test_no_duplicate_registrations():
    from bigdatamlteamrepo_spark.queries.registry import QUERIES, _ORDER

    assert len(QUERIES) == len(_ORDER)


def test_coverage_md_counts_block_matches_registry():
    """COVERAGE.md's header counts are generated by
    tools/dump_queries.py; the committed block must equal what the live
    registry generates (the r9 drift — 215/206 frozen in a hand-edited
    header while the registry said 230/221 — becomes a test failure)."""
    import os
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    try:
        import dump_queries
    finally:
        sys.path.pop(0)
    with open(os.path.join(repo_root, "COVERAGE.md")) as f:
        s = f.read()
    start = s.index(dump_queries.COUNTS_BEGIN)
    end = s.index(dump_queries.COUNTS_END) + len(dump_queries.COUNTS_END)
    assert s[start:end] == dump_queries.coverage_counts_block()


def test_registry_size_within_staleness_cap():
    """Steady-state size policy: ≤250 oracle-paired queries keeps the
    worst-case driver-evidence age at ceil(250/50) = 5 rounds (registry
    module docstring).  Growth past the cap must displace a
    family-redundant face instead of raising the bound."""
    oracle = entry.oracle_sql()
    assert len(oracle) <= 250, (
        f"{len(oracle)} oracle-paired queries exceeds the documented "
        "250 staleness cap — deregister a family-redundant face"
    )


def _faces(tree: ast.Module) -> list[str]:
    """Top-level public functions whose parameters are exactly
    ``(spark, sf_dir)`` — the query-face signature."""
    out = []
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
            continue
        a = node.args
        params = [p.arg for p in a.posonlyargs + a.args]
        if params == ["spark", "sf_dir"] and not (a.vararg or a.kwonlyargs or a.kwarg):
            out.append(node.name)
    return out


def _called_names(trees) -> set[str]:
    """Names of every called function (``f(...)`` / ``m.f(...)``),
    with ``from … import f as g`` aliases resolved back to ``f``."""
    names: set[str] = set()
    for tree in trees:
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            if isinstance(node.func, ast.Name):
                names.add(alias.get(node.func.id, node.func.id))
            elif isinstance(node.func, ast.Attribute):
                names.add(node.func.attr)
    return names


def _dead_faces(face_trees, all_trees, is_registered) -> list[str]:
    called = _called_names(all_trees)
    return [
        f"{mod}.{name}"
        for mod, tree in face_trees
        for name in _faces(tree)
        if not is_registered(mod, name) and name not in called
    ]


def test_every_query_face_is_registered_or_called():
    """A public ``(spark, sf_dir)`` function in ``queries/`` is a query
    face: it must be registered or called somewhere in the package.
    A deregistered face kept "callable" is a path nothing runs."""
    from bigdatamlteamrepo_spark.queries import QUERIES

    registered = set(QUERIES.values())
    trees = {
        p: ast.parse(p.read_text(), filename=str(p)) for p in sorted(PKG.rglob("*.py"))
    }
    face_trees = [(p.stem, t) for p, t in trees.items() if p.parent == PKG / "queries"]

    def is_registered(mod: str, name: str) -> bool:
        fn = getattr(importlib.import_module(f"{PKG.name}.queries.{mod}"), name)
        return fn in registered

    dead = _dead_faces(face_trees, trees.values(), is_registered)
    assert not dead, "register or delete these query faces: " + ", ".join(dead)


def test_dead_face_guard_sees_calls_not_text():
    src = '''
from m import used_via_alias as _u

def registered(spark, sf_dir): ...
def called(spark, sf_dir): ...
def used_via_alias(spark, sf_dir): ...
def only_mentioned(spark, sf_dir):
    """only_mentioned(spark, sf_dir) in a docstring"""
    # only_mentioned(spark, sf_dir) in a comment
def not_a_face(spark, sf_dir, n=1): ...
def _private(spark, sf_dir): ...

def caller(spark, sf_dir, n=1):
    called(spark, sf_dir)
    _u(spark, sf_dir)
'''
    tree = ast.parse(src)
    dead = _dead_faces([("q", tree)], [tree], lambda mod, name: name == "registered")
    assert dead == ["q.only_mentioned"]

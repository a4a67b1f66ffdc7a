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


def _refs(tree: ast.Module) -> dict[str, set[str]]:
    """The one reference walker behind both reachability guards: for
    each top-level function or class, the names its body refers to
    (``f`` / ``m.f``, calls or not); module-level code, decorators
    included, is keyed ``""``.  ``from … import f as g`` aliases resolve
    back to ``f``.  Import statements, docstrings and comments are not
    references."""
    alias = {
        a.asname: a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.asname
    }

    def names(nodes) -> set[str]:
        out: set[str] = set()
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    out.add(alias.get(node.id, node.id))
                elif isinstance(node, ast.Attribute):
                    out.add(node.attr)
        return out

    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    refs: dict[str, set[str]] = {"": set()}
    for node in tree.body:
        if isinstance(node, defs):
            refs[""] |= names(node.decorator_list)
            body = [n for n in ast.iter_child_nodes(node) if n not in node.decorator_list]
            refs[node.name] = names(body)
        else:
            refs[""] |= names([node])
    return refs


def _dead_faces(face_trees, all_trees, is_registered) -> list[str]:
    referenced = set().union(*(r for t in all_trees for r in _refs(t).values()))
    return [
        f"{mod}.{name}"
        for mod, tree in face_trees
        for name in _faces(tree)
        if not is_registered(mod, name) and name not in referenced
    ]


def _unreached(trees: dict[str, ast.Module], roots) -> list[str]:
    """Public top-level functions and classes of ``trees`` (dotted module
    name → AST) that no root reaches.  The roots are every module's
    module-level code plus the ``(module, name)`` pairs in ``roots``; a
    reached definition reaches every top-level definition, in any
    module, whose name it refers to."""
    refs = {mod: _refs(t) for mod, t in trees.items()}
    homes: dict[str, list[str]] = {}
    for mod, r in refs.items():
        for name in r:
            homes.setdefault(name, []).append(mod)
    reached: set[tuple[str, str]] = set()
    todo = [(mod, "") for mod in trees] + list(roots)
    while todo:
        mod, name = todo.pop()
        if (mod, name) in reached or name not in refs.get(mod, {}):
            continue
        reached.add((mod, name))
        for ref in refs[mod][name]:
            todo += [(m, ref) for m in homes.get(ref, ())]
    return sorted(
        f"{mod}.{name}"
        for mod, r in refs.items()
        for name in r
        if name and not name.startswith("_") and (mod, name) not in reached
    )


def _package_trees() -> dict[str, ast.Module]:
    """Dotted module name → AST for every module of the package."""
    trees = {}
    for p in sorted(PKG.rglob("*.py")):
        parts = p.relative_to(PKG.parent).with_suffix("").parts
        mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        trees[mod] = ast.parse(p.read_text(), filename=str(p))
    return trees


def test_every_query_face_is_registered_or_called():
    """A public ``(spark, sf_dir)`` function in ``queries/`` is a query
    face: it must be registered or referenced somewhere in the package.
    A deregistered face kept "callable" is a path nothing runs."""
    from bigdatamlteamrepo_spark.queries import QUERIES

    registered = set(QUERIES.values())
    trees = _package_trees()
    face_trees = [
        (mod, t) for mod, t in trees.items() if mod.rpartition(".")[0] == f"{PKG.name}.queries"
    ]

    def is_registered(mod: str, name: str) -> bool:
        return getattr(importlib.import_module(mod), name) in registered

    dead = _dead_faces(face_trees, trees.values(), is_registered)
    assert not dead, "register or delete these query faces: " + ", ".join(dead)


#: Public package names that no root reaches but stay, each with its
#: reason.  A key (relative to the package) is a module — every public
#: name in it — or one function or class.
KEPT_UNREACHED = {
    "catalog.load_tables": "package-level export that loads several catalog tables at once",
    "operators.bucketing": "bucketed co-location writes and joins; test_bucketing proves the Exchange-free plan",
    "operators.merge": "MERGE / CDC upsert API with partition-scoped rewrites (test_merge)",
    "operators.pii.redact_pii": "PII scrubbing text transform beside the registered PII counts (test_pii)",
    "operators.pq.build_ivfpq_index": "builds the persisted IVF-PQ index that streaming/vectors appends into",
    "operators.pq.ivfpq_index_topk": "probes that persisted IVF-PQ index, streaming increments included",
    "operators.pq.pq_codebooks_kmeans": "sampled-KMeans codebooks build_ivfpq_index trains by default",
    "operators.pq.read_index_part": "reads an IVF-PQ index table across its base and streaming/vectors increments",
    "operators.pq.semdedup_from_index": "SemDeDup over the persisted IVF-PQ cells (COVERAGE 'ANN-candidate SemDeDup')",
    "operators.retrieval": "materialized inverted index whose layout streaming/index keeps up to date",
    "operators.sampling.random_split": "R2: the reference's seeded fractional split",
    "operators.sampling.train_val_test_split": "R3: the reference's three-way train/val/test split",
    "operators.setjoin.brute_force_jaccard_join": "O(n²) reference implementation the set-join losslessness test compares against",
    "operators.skew": "salted join, the skew-mitigation operator (test_skew)",
    "operators.stats.whitening_transform": "ZCA whitening (COVERAGE 'ZCA whitening')",
    "plans.checks": "plan-inspection helpers behind the tests' plan gates",
    "queries.cdc.compact_log": "one CDC compaction function for batch and stream (test_streaming_cdc)",
    "queries.passages.window_hashes": "stride-1 window hashes the substring-dedup tests and tools/substring_scaling.py read",
    "queries.shards.shard_of": "the shard-id rule written shards are checked against (test_shard_writer)",
    "queries.text_dedup.bbit_independent_prefilter": "kept by the SCALING.md r08 b-bit decision",
    "queries.text_dedup.ngram_jaccard_pairs_exact": "brute-force reference implementation for the LSH recall tests",
    "sources.codecs.resize_rgb": "box-average resize that sources/multimodal.resize_images applies",
    "sources.codecs.ulaw_compress": "µ-law encoder, the inverse the codec round trip pins ulaw_expand against",
    "sources.corpusgen": "Python DataSource for generated corpora that tests and tools/ scaling scripts register",
    "sources.layout.compact_parquet": "small-file compaction of a parquet table (COVERAGE 'Parquet compaction')",
    "sources.layout.write_zordered": "Z-order clustered writes (COVERAGE 'Z-order clustered writes')",
    "sources.multimodal.resize_images": "decode → resize → re-encode of real image bytes (test_codecs)",
    "sources.readers": "pinned-schema source readers (S1–S3, S6): the ingest API; S6 is tested through read_metrics_log",
    "sources.shard_writer.read_training_shard": "reads one written training shard back, pruned to its directory",
    "stagecache": "stub whose counters perfbench/run.py reads; goes with ROADMAP item 6",
}


def _reachability_roots(trees) -> set[tuple[str, str]]:
    """The registered faces, the product, the session factory and the
    public names of ``streaming/`` and ``ml/`` (the product's API)."""
    from bigdatamlteamrepo_spark.queries import QUERIES

    roots = {(fn.__module__, fn.__name__) for fn in QUERIES.values()}
    roots |= {
        (f"{PKG.name}.pipelines", "build_training_corpus"),
        (f"{PKG.name}.session", "get_spark"),
    }
    for mod, tree in trees.items():
        if mod.split(".")[1:2] in (["streaming"], ["ml"]):
            roots |= {(mod, n) for n in _refs(tree) if n and not n.startswith("_")}
    return roots


def test_every_public_name_is_reached_or_kept():
    """Every public top-level function and class of the package is
    reached from a root (:func:`_reachability_roots`; module-level code
    counts too) or named in :data:`KEPT_UNREACHED` with its reason.  A
    keep entry that covers nothing any more must go."""
    trees = _package_trees()
    unreached = [q.split(".", 1)[1] for q in _unreached(trees, _reachability_roots(trees))]

    def entry(rel: str) -> str | None:
        mod = rel.rpartition(".")[0]
        return rel if rel in KEPT_UNREACHED else mod if mod in KEPT_UNREACHED else None

    dead = [rel for rel in unreached if entry(rel) is None]
    assert not dead, "reach, keep (with a reason) or delete: " + ", ".join(dead)
    stale = sorted(set(KEPT_UNREACHED) - {entry(rel) for rel in unreached})
    assert not stale, "these keep entries cover no unreached name: " + ", ".join(stale)


def test_reachability_follows_refs_from_roots():
    src = '''
from m import kept as _k

def root():
    helper()
    _k()

def helper():
    """dead() in a docstring"""
    # dead() in a comment
    return obj.method_of_c

def kept(): ...
def dead(): ...
def only_dead_calls_me(): ...
def dead_caller():
    only_dead_calls_me()

class C:
    def method_of_c(self):
        return from_method()

def from_method(): ...
def from_module_level(): ...

VALUE = from_module_level
'''
    unreached = _unreached({"m": ast.parse(src)}, {("m", "root")})
    assert unreached == ["m.C", "m.dead", "m.dead_caller", "m.from_method", "m.only_dead_calls_me"]


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

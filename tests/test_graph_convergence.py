"""Convergence-audit faces and the reliable-checkpoint knob.

The registered LPA / k-core queries run FIXED rounds; the audit faces
emit per-round deltas including one probe round past the budget, and
at every tested SF the probe delta must be 0 (the fixed-round result
IS the fixpoint).  A reliable checkpoint dir (`operators/checkpoint.py`)
must not change any result — only where every lineage cut is stored.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.queries.graphs import (
    KCORE_K,
    KCORE_ROUNDS,
    LPA_ROUNDS,
    kcore_peel,
    label_propagation,
    part_kcore_convergence_audit,
    part_lpa_convergence_audit,
)

ALL_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


@pytest.mark.parametrize("sf", ALL_SFS)
def test_lpa_audit_convergence_semantics(spark, sf):
    """The audit must tell the truth about synchronous LPA's limit
    behavior at every tested SF.  LPA is deterministic and the test
    tables are frozen, so the per-SF regime is a stable fact:

    * sf0.001 — true fixpoint inside the budget: probe step delta 0.
    * sf0.01 / sf0.1 — the period-≤2 limit-cycle regime (Poljak-Sůra):
      the probe STEP delta stays large (labels flip every round) while
      the probe CYCLE delta (vs two rounds back) is far smaller — the
      orbit stabilizing.  Pinning both exposes any silent change to
      either the loop or the audit math."""
    rows = {
        r["round"]: (r["labels_changed"], r["cycle_changed"])
        for r in part_lpa_convergence_audit(spark, sf).collect()
    }
    assert set(rows) == set(range(1, LPA_ROUNDS + 2))
    probe_step, probe_cycle = rows[LPA_ROUNDS + 1]
    # round 1 always moves labels on a non-trivial graph; its cycle
    # delta is the -1 sentinel (no round -1 to compare against)
    assert rows[1][0] > 0 and rows[1][1] == -1
    if sf.endswith("sf0.001"):
        # true fixpoint inside the budget (the cycle delta compares to
        # two rounds BACK, so it reflects pre-fixpoint movement and is
        # not pinned to 0 here)
        assert probe_step == 0
    else:
        # oscillation regime: nearly everything flips per round, but
        # the two-round orbit is (close to) stable — cycle << step
        assert probe_step > 0
        assert 0 <= probe_cycle < probe_step // 2


@pytest.mark.parametrize("sf", ALL_SFS)
def test_kcore_probe_round_is_fixpoint(spark, sf):
    """The peel budget must cover the fixpoint at every tested SF
    (KCORE_ROUNDS was raised 4 → 8 after this audit caught the sf0.01
    pendant cascade still dropping nodes at the old probe), and every
    round must be present even when the core empties early (the sf0.1
    3-core is empty after round 1 — the spine keeps rounds 2+ at 0)."""
    rows = {
        r["round"]: r["nodes_dropped"]
        for r in part_kcore_convergence_audit(spark, sf).collect()
    }
    assert set(rows) == set(range(1, KCORE_ROUNDS + 2))
    assert rows[KCORE_ROUNDS + 1] == 0
    assert all(v >= 0 for v in rows.values())
    # a peel only ever drops: once a round drops 0 nodes the edge set
    # is unchanged and every later round must also drop 0
    fixed = False
    for r in range(1, KCORE_ROUNDS + 2):
        if fixed:
            assert rows[r] == 0
        fixed = fixed or rows[r] == 0


def test_audit_detects_clipped_peel(spark):
    """A pendant chain longer than the budget must show a NON-zero
    probe delta — the audit's reason to exist.  Chain of
    KCORE_ROUNDS+4 hanging off a K4, k=2: each round peels exactly one
    chain node, so the probe round still drops one."""
    from bigdatamlteamrepo_spark.queries.graphs import _kcore_edge_frames

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)] + [
        (4 + i, 5 + i) for i in range(KCORE_ROUNDS + 4)
    ]
    e = spark.createDataFrame(sorted(edges), "u bigint, v bigint")
    frames = _kcore_edge_frames(e, 2, KCORE_ROUNDS + 1)

    def n_nodes(f):
        return (
            f.select(F.col("u").alias("n"))
            .unionAll(f.select(F.col("v").alias("n")))
            .distinct()
            .count()
        )

    counts = [n_nodes(f) for f in frames]
    # probe round (last transition) still drops a node: budget clipped
    assert counts[-2] - counts[-1] > 0


def _with_checkpoint_dir(spark):
    d = tempfile.mkdtemp(prefix="spark-graft-ckpt-")
    spark.sparkContext.setCheckpointDir(d)
    return d


def _graph_loops(spark, sf_dir, out_dir):
    edges = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)] + [
        (20 + i, 21 + i) for i in range(5)
    ]
    e = spark.createDataFrame(sorted(edges), "u bigint, v bigint")
    return (
        set(map(tuple, label_propagation(e).collect())),
        set(map(tuple, kcore_peel(e, k=2).collect())),
    )


def _neardup_summary(spark, sf_dir, out_dir):
    from bigdatamlteamrepo_spark.queries import QUERIES

    return sorted(map(tuple, QUERIES["neardup_dedup_summary"](spark, sf_dir).collect()))


def _corpus_build(spark, sf_dir, out_dir):
    from bigdatamlteamrepo_spark.pipelines import build_training_corpus

    res = build_training_corpus(spark, sf_dir, out_dir, n_shards=2)
    return sorted(map(tuple, res["report"].collect()))


@pytest.mark.parametrize(
    "face",
    [_graph_loops, _neardup_summary, _corpus_build],
    ids=["graph_loops", "neardup_dedup_summary", "build_training_corpus"],
)
def test_results_identical_under_reliable_checkpoint(
    spark, sf_dir, tmp_path, monkeypatch, face
):
    """A configured checkpoint dir changes durability, never values —
    and it reaches EVERY lineage cut of the face: with the dir set,
    any executor-local ``localCheckpoint`` raises, yet the results
    equal local mode's."""
    from pyspark.sql.classic.dataframe import DataFrame

    local = face(spark, sf_dir, str(tmp_path / "local"))
    d = _with_checkpoint_dir(spark)
    try:
        assert spark.sparkContext.getCheckpointDir() is not None

        def _no_local(self, eager=True):
            raise AssertionError("localCheckpoint under a reliable checkpoint dir")

        monkeypatch.setattr(DataFrame, "localCheckpoint", _no_local)
        reliable = face(spark, sf_dir, str(tmp_path / "reliable"))
        monkeypatch.undo()
        # the reliable path actually wrote checkpointed RDDs
        written = [n for _, dirs, _ in os.walk(d) for n in dirs if n.startswith("rdd-")]
        assert written, "no reliable checkpoint files written"
    finally:
        # setCheckpointDir(None) resets (Scala Option(null) → None), so
        # the shared session fixture leaves this test local-mode again
        spark.sparkContext.setCheckpointDir(None)
        shutil.rmtree(d, ignore_errors=True)
    assert reliable == local


@pytest.mark.parametrize("sf", ALL_SFS)
def test_stable_lpa_is_true_fixpoint(spark, sf):
    """The self-loop variant must reach a genuine fixpoint at every
    tested SF: running one round PAST the budget changes nothing
    (exactly where the plain synchronous face oscillates), and the
    fixpoint matches an independent pure-Python reference."""
    from bigdatamlteamrepo_spark.queries.graphs import (
        LPA_STABLE_ROUNDS,
        _copurchase_edges,
        _lpa_label_frames,
    )

    frames = _lpa_label_frames(
        _copurchase_edges(spark, sf), LPA_STABLE_ROUNDS + 1, self_votes=True
    )
    at_budget = set(map(tuple, frames[LPA_STABLE_ROUNDS].collect()))
    probe = set(map(tuple, frames[LPA_STABLE_ROUNDS + 1].collect()))
    assert at_budget == probe


def test_stable_lpa_matches_python_reference(spark):
    """Self-vote semantics against an independent reference on hand
    graphs, including the bipartite oscillator the plain variant
    cycles on — the stable variant must CONVERGE there and match."""
    from bigdatamlteamrepo_spark.queries.graphs import (
        label_propagation_stable,
    )

    def ref(edges, rounds):
        adj: dict[int, list[int]] = {}
        for u, v in edges:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        lbl = {n: n for n in adj}
        for _ in range(rounds):
            nxt = {}
            for n, nbrs in adj.items():
                cnt: dict[int, int] = {lbl[n]: 1}  # the self vote
                for m in nbrs:
                    cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
                nxt[n] = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[
                    0
                ][0]
            lbl = nxt
        return lbl

    cases = [
        # bipartite 4-cycle: plain sync LPA oscillates forever here
        {(1, 2), (2, 3), (3, 4), (1, 4)},
        # two cliques with a bridge
        {(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)},
    ]
    for edges in cases:
        e = spark.createDataFrame(sorted(edges), "u bigint, v bigint")
        for rounds in (3, 8):
            got = {
                r["node"]: r["community"]
                for r in label_propagation_stable(e, rounds=rounds).collect()
            }
            assert got == ref(edges, rounds), (edges, rounds)
        # fixpoint on the oscillator: rounds 8 and 9 identical
        a = {
            r["node"]: r["community"]
            for r in label_propagation_stable(e, rounds=8).collect()
        }
        b = {
            r["node"]: r["community"]
            for r in label_propagation_stable(e, rounds=9).collect()
        }
        assert a == b

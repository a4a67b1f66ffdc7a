"""Distributed connected components via alternating large-star /
small-star contraction (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14).

The naive min-label propagation in queries/analytic.py converges in
O(diameter) joins — fine for near-dup graphs (tiny stars) but wrong for
a 100 TB graph with a long chain.  Star contraction converges in
O(log² n) rounds REGARDLESS of diameter, with every round a pair of
(groupBy + join) stages over the edge list:

  * large-star: every neighbor v > u is re-pointed at m(u), the minimum
    of u's closed neighborhood;
  * small-star: every neighbor v ≤ u (and u itself) is re-pointed at m.

Both operations preserve connectivity and only ever decrease the
pointed-to id, so the edge set monotonically contracts onto stars
rooted at each component's minimum id.  All stages are plain DataFrame
joins/aggregations — no driver-side graph state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.operators.checkpoint import truncate


def _closed_min(nbr: DataFrame) -> DataFrame:
    """m(u) = min(N(u) ∪ {u}) over a directed neighbor list (u, v)."""
    return (
        nbr.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("mn"))
    )


#: edge count below which the remaining contraction is finished by a
#: single-task union-find instead of more driver-paced star rounds.
#: 1M edges ≈ 16 MB of longs — comfortably one task's working set, and
#: the same magnitude the canonical-edge coalesce targets per partition.
SMALL_GRAPH_EDGES = 1_000_000


def _local_components(e: DataFrame) -> DataFrame:
    """Exact (node, component-min) labels for an edge set small enough
    for ONE task: coalesce(1) + a union-find pass in mapInPandas.

    This is the legitimate per-partition-imperative case: every edge is
    in the single partition, so the task computes the exact global
    answer; the ``SMALL_GRAPH_EDGES`` cap bounds its memory.  Union is
    by min, so each class root IS the component minimum — the same
    labeling star contraction converges to."""

    def uf(pdfs):
        import pandas as pd

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in pdfs:
            for u, v in zip(pdf["u"], pdf["v"]):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return e.coalesce(1).mapInPandas(uf, "node long, component long")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id of its connected component.

    ``max_rounds`` bounds the alternation; O(log² n) rounds suffice, so
    30 covers any realistic graph — exhaustion raises rather than
    returning partial labels.

    Lineage is truncated EVERY round (``operators.checkpoint.truncate``,
    which writes to a reliable checkpoint dir when one is configured):
    without truncation the logical plan doubles per iteration and the
    driver OOMs building plan strings long before the data is large —
    the classic iterative-DataFrame trap.

    **Small-graph fast path**: when the canonical edge count is ≤
    ``small_graph_edges``, the whole computation runs as ONE union-find
    task (:func:`_local_components`) instead of driver-paced star
    rounds.  Each star round costs several scheduled jobs, which
    dominates wall time precisely when the graph is tiny (a verified
    near-dup edge list is a few hundred rows at bench SF — measured
    3.8 s of round latency for 256 edges).  This is an ENTRY decision,
    not a mid-loop handoff: star rounds keep exactly one pointer edge
    per non-root node, so the edge COUNT is invariant (~#non-root
    nodes) across rounds and can never contract below an entry cap it
    started above — a graph over the cap runs pure star contraction to
    fixpoint, the O(log² n)-round 100 TB shape.  Set
    ``small_graph_edges=0`` to force star contraction (the tests pin
    both paths against union-find ground truth).
    """
    # materialize the canonical edge list up front: round 1 references it
    # several times (symmetric neighbor union, min join, convergence
    # count) and the caller's upstream — e.g. an LSH-candidates +
    # Jaccard-verify pipeline — would otherwise be recomputed per
    # reference (measured 23s → 6s for neardup_dedup_summary at sf0.1).
    # LAZY: the count() below is the materializing action, so the
    # upstream runs inside ONE job instead of eager-copy + count (r13)
    e = truncate(
        edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct(),
        eager=False,
    )
    converged = False
    # carried across rounds so each round runs ONE count job, not two;
    # this is also what fills the lazy checkpoint above
    e_count = e.count()
    # size-adaptive layout: a verified near-dup edge list is often tiny
    # relative to the corpus (hundreds of edges at driver SFs, millions
    # at 100 TB after thresholding) — running every contraction round on
    # the session's full shuffle width pays ~32 task schedules per stage
    # for single-task work.  Coalesce to ~1M edges/partition (no
    # shuffle); AQE then keeps downstream exchanges at matching width.
    # A genuinely large graph keeps its parallelism untouched.
    parts = max(1, min(e.rdd.getNumPartitions(), e_count // 1_000_000))
    if parts < e.rdd.getNumPartitions():
        e = e.coalesce(parts)

    if small_graph_edges and e_count <= small_graph_edges:
        # union-find emits (node, root) for EVERY endpoint including the
        # roots themselves, so the isolated-root anti-join below would be
        # a structural no-op on this path — return the labels directly.
        # Saves the nodes-distinct, anti-join/union and final-checkpoint
        # jobs: three sequential barriers on a tiny frame (r12, guide
        # §2.4; measured inside neardup_dedup_summary at sf0.1).  Lazy
        # checkpoint (r13): the caller's first action materializes the
        # labels; later references reuse them — the dedicated label-copy
        # barrier disappears.
        return truncate(_local_components(e), eager=False)

    # track every vertex: isolated-after-contraction roots must survive.
    # Lazy (no cache): it derives from the checkpointed canonical edge
    # list and is referenced once, by the roots anti-join.
    nodes = e.select(F.col("u").alias("node")).union(e.select("v")).distinct()
    for _ in range(max_rounds):
        # ---- large-star: (v > u) → m(u), over the SYMMETRIC neighbor list
        nbr = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = _closed_min(nbr)
        large = (
            nbr.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("mn").alias("y"))
        )
        e1 = (
            large.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
            .distinct()
            # referenced three times below (neighbor list, closed-min,
            # small-star join) — cache so the large-star shuffle chain
            # runs once per round, without the extra eager job a
            # localCheckpoint would cost
            .cache()
        )
        # ---- small-star: neighbors v ≤ u (canonical e already has v ≥ u:
        # direct the list at the LARGER endpoint so 'v' holds the smaller)
        nbr_small = e1.select(F.col("v").alias("u"), F.col("u").alias("v"))
        mins_s = _closed_min(nbr_small)
        small = nbr_small.join(mins_s, "u").select(
            F.col("v").alias("x"), F.col("mn").alias("y")
        ).union(mins_s.select(F.col("u").alias("x"), F.col("mn").alias("y")))
        e2 = (
            small.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
            .distinct()
        )
        e2 = truncate(e2)
        e1.unpersist()

        # both sets are distinct, so equal size + empty one-sided
        # difference ⟹ equal sets (one exceptAll job, not two)
        e2_count = e2.count()
        if e2_count == e_count and e2.exceptAll(e).count() == 0:
            e = e2
            converged = True
            break
        e, e_count = e2, e2_count
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds"
        )

    # converged state: every edge points a node at its component root;
    # isolated-after-contraction roots (never a 'v') are re-added with
    # themselves as component
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = nodes.join(
        labels.select("node").distinct(), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    out = labels.union(roots)
    # lazy checkpoint: callers may consume the label frame more than
    # once — the first action materializes it, later ones reuse it, and
    # every input here is already a checkpointed edge list
    return truncate(out, eager=False)

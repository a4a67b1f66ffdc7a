"""Graph motif counting: triangles over the part co-purchase graph.

Completes the graph tier (connected components in ``operators/graph.py``,
PageRank in ``operators/pagerank.py``) with the third classic
distributed-graph primitive — triangle counting, the building block of
clustering coefficients and community detection.

Graph: parts are nodes; an undirected edge connects two parts that
co-occur in at least one order (the co-purchase graph derived from
``lineitem``).

Algorithm: **degree-ordered orientation** (the MapReduce triangle
counting of Suri & Vassilvitskii 2011, "Counting triangles and the
curse of the last reducer").  Each undirected edge is oriented from its
(degree, id)-smaller endpoint to the larger; the orientation is acyclic
and every triangle then has exactly ONE vertex with two out-edges, so

    #triangles  =  |{wedges (a→b, a→c), ord(b) < ord(c),
                     with oriented edge b→c}|

Why it matters at scale: the naive id-ordered join builds wedges at
every high-degree hub (a node of degree d contributes O(d²) wedges —
the "curse of the last reducer" on power-law graphs).  Degree ordering
caps out-degree at O(√|E|), bounding per-node wedge work and the skew
of the wedge-build shuffle.  Everything is integer counts over
equi-joins — exactly reproducible in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.queries.registry import query

_TRI_ORACLE = """
WITH e AS (
  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dst_d
  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
),
w AS (
  SELECT o1.dst AS b, o2.dst AS c
  FROM o o1 JOIN o o2 ON o1.src = o2.src
  WHERE (o1.dst_d, o1.dst) < (o2.dst_d, o2.dst)
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*) FROM w JOIN o ON w.b = o.src AND w.c = o.dst)
         AS n_triangles
"""


def cooccurrence_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected part co-purchase edges (u < v) from lineitem.

    The self-join keys on ``l_orderkey`` — order groups are small and
    bounded (≤7 lineitems in TPC-H proper, ≤16 in the driver tables),
    so the per-order pair fan-out is O(1) and the join shuffles both
    sides on the same key once."""
    a = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    return (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def oriented_edges(e: DataFrame) -> DataFrame:
    """Orient each undirected edge from its (degree, id)-smaller endpoint;
    carries the destination's ordering key for the wedge comparison."""
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    j = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return j.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
    )


def triangle_count(e: DataFrame) -> DataFrame:
    """(n_nodes, n_edges, n_triangles) of an undirected edge set (u < v,
    distinct).  Wedges are built on out-neighbors only (out-degree is
    O(√|E|) after degree ordering), then matched against the oriented
    edge list — two equi-joins, no row ever carries more than three ids."""
    e = truncate(e)  # reused by degree, wedge and probe sides
    o = truncate(oriented_edges(e))
    o1 = o.select(F.col("src"), F.col("dst").alias("b"), F.col("dst_d").alias("bd"))
    o2 = o.select(F.col("src"), F.col("dst").alias("c"), F.col("dst_d").alias("cd"))
    wedges = o1.join(o2, "src").filter(
        (F.col("bd") < F.col("cd"))
        | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    )
    closed = wedges.join(
        o.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"]
    )
    n_nodes = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
        .count()
    )
    spark = e.sparkSession
    return spark.createDataFrame(
        [(n_nodes, e.count(), closed.count())],
        "n_nodes bigint, n_edges bigint, n_triangles bigint",
    )


@query("part_cooccurrence_triangles", oracle=_TRI_ORACLE)
def part_cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph — see module
    docstring for the degree-ordered plan."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return triangle_count(cooccurrence_edges(li))


# --------------------------------------------------------------------------
# Community detection: synchronous label propagation (LPA).
# --------------------------------------------------------------------------

#: LPA rounds — FIXED, not run-to-convergence: synchronous LPA can
#: oscillate on bipartite structures, and a fixed round count makes the
#: computation a pure deterministic function both engines replay
#: identically (the integer-PageRank lesson in operators/pagerank.py)
LPA_ROUNDS = 4
#: minimum co-purchase weight for an LPA edge — ≥2 repeat co-purchases
#: keeps the graph sparse (the weight-1 layer under TPC-H's uniform
#: draw is near-random noise that merges everything into one blob)
LPA_MIN_WEIGHT = 2


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repeat co-purchase edge set (u < v, weight ≥
    ``LPA_MIN_WEIGHT``) shared by the LPA / LCC / k-core faces."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    return (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= LPA_MIN_WEIGHT)
        .select("u", "v")
    )


def _lpa_cte_prefix(rounds: int, self_votes: bool = False) -> str:
    """Unrolled LPA rounds (Raghavan et al. 2007, synchronous variant,
    min-label tie-break) as chained CTEs l0 … l{rounds} — each round is
    mode-of-neighbor-labels via a windowed argmax, exactly the Spark
    plan.  ``self_votes`` adds a self-loop per node (the node's own
    current label counts as one vote — the damped, convergent
    variant)."""
    self_sql = (
        """
  UNION ALL
  SELECT node, node FROM (
    SELECT u AS node FROM ew UNION SELECT v FROM ew
  )"""
        if self_votes
        else ""
    )
    parts = [
        f"""
WITH ew AS (
  SELECT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {LPA_MIN_WEIGHT}
),
adj AS (
  SELECT u AS node, v AS nbr FROM ew UNION ALL SELECT v, u FROM ew{self_sql}
),
l0 AS (
  SELECT DISTINCT node, node AS lbl FROM adj
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
n{r} AS (
  SELECT a.node, l.lbl, COUNT(*) AS c
  FROM adj a JOIN l{r - 1} l ON a.nbr = l.node
  GROUP BY a.node, l.lbl
),
l{r} AS (
  SELECT node, lbl FROM n{r}
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) = 1
)"""
        )
    return "".join(parts)


def _lpa_oracle() -> str:
    return (
        _lpa_cte_prefix(LPA_ROUNDS)
        + f"\nSELECT node, lbl AS community FROM l{LPA_ROUNDS}"
    )


def label_propagation(e: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous LPA over an undirected (u, v) edge set: every node
    starts as its own label; each round every node adopts the most
    frequent label among its neighbors (ties → smallest label).

    Distributed shape per round: one (node, lbl) count aggregation
    (map-side combinable) + one per-node argmax executed as a hash
    aggregation of ``max(struct(c, -lbl))`` — NOT a sort window, so no
    per-node sort and the partial agg combines map-side; ties break to
    the smallest label because -lbl maximizes at the minimum.  O(|E|)
    shuffled bytes, no all-pairs anything.  The adjacency table (the
    only frame consumed by EVERY round) is materialized once; the label
    chain itself stays LAZY — each round's labels feed exactly one
    consumer (the next round's join), so the plan is a linear 3-stages-
    per-round pipeline and per-round truncation would only add a job
    barrier + a write/read per round (measured at sf0.1: eager-per-
    round 4.8 s min / 9.8 s median vs lazy 3.5 s / 4.1 s, r12).  The
    convergence audit, which consumes every round's frame TWICE,
    keeps per-round truncation (``truncate_rounds=True``).  Rounds are
    FIXED for cross-engine determinism; see ``LPA_ROUNDS``."""
    return _lpa_label_frames(e, rounds, truncate_rounds=False)[-1].select(
        "node", F.col("lbl").alias("community")
    )


def _lpa_label_frames(
    e: DataFrame,
    rounds: int,
    self_votes: bool = False,
    truncate_rounds: bool = True,
) -> list[DataFrame]:
    """All per-round LPA label frames [l0 … l_rounds].
    ``self_votes`` adds one self-loop per node — see
    :func:`label_propagation_stable`.

    ``truncate_rounds``: materialize each round's labels with truncated
    lineage.  Required when a caller consumes intermediate frames more
    than once (the convergence audit reads consecutive PAIRS — a lazy
    chain would recompute rounds 0..r for every pair, quadratic total).
    :func:`label_propagation` / :func:`label_propagation_stable` pass
    False: their chain is linear (each round feeds only the next), so
    the lazy plan runs as ONE job and skips ``rounds`` eager
    write/read barriers (measured r12: 4.8 → 3.5 s min at sf0.1)."""
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    if self_votes:
        nodes = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .distinct()
        )
        adj = adj.unionAll(
            nodes.select("node", F.col("node").alias("nbr"))
        )
    adj = truncate(adj)
    labels = adj.select("node").distinct().withColumn("lbl", F.col("node"))
    frames = [labels]
    for _ in range(rounds):
        cand = adj.join(
            labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
        ).select("node", "lbl")
        cnt = cand.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("lbl"))
        )
        if truncate_rounds:
            labels = truncate(labels)
        frames.append(labels)
    return frames


@query("part_copurchase_communities", bench=True, oracle=_lpa_oracle())
def part_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities of the REPEAT co-purchase graph (edge weight ≥
    {LPA_MIN_WEIGHT}) after {LPA_ROUNDS} synchronous LPA rounds — the
    classic near-linear community detector, here as a fully
    deterministic cross-engine query (per-node final assignment)."""
    return label_propagation(_copurchase_edges(spark, sf_dir))


#: rounds for the CONVERGENT self-loop variant — sized to the measured
#: fixpoint depth across tested corpora (pure-Python reference: 5 / 7 /
#: 5 rounds at sf0.001/0.01/0.1) + margin; the probe pin in
#: tests/test_graph_convergence.py certifies delta 0 one round past
LPA_STABLE_ROUNDS = 8


def label_propagation_stable(
    e: DataFrame, rounds: int = LPA_STABLE_ROUNDS
) -> DataFrame:
    """Self-loop ("damped") LPA: identical to :func:`label_propagation`
    except each node's OWN current label counts as one vote — a single
    self-loop per node in the neighbor list.

    Why it exists: the synchronous update is a symmetric threshold
    automaton and converges to a period-≤2 limit CYCLE, not a fixpoint
    (Poljak & Šůra 1983 — `part_lpa_convergence_audit` shows ~all
    labels flipping every round at sf0.1).  The self-vote breaks the
    flip symmetry: a node abandons its label only when some neighbor
    label STRICTLY outvotes current+1, which empirically drives every
    tested corpus to a true fixpoint within 7 rounds (probe-pinned at
    3 SFs).  This is the production face for a 100 TB run — stable
    output a downstream join can rely on; the plain synchronous face
    stays registered for algorithm parity."""
    return _lpa_label_frames(e, rounds, self_votes=True, truncate_rounds=False)[
        -1
    ].select("node", F.col("lbl").alias("community"))


def _lpa_stable_oracle() -> str:
    return (
        _lpa_cte_prefix(LPA_STABLE_ROUNDS, self_votes=True)
        + f"\nSELECT node, lbl AS community FROM l{LPA_STABLE_ROUNDS}"
    )


@query("part_copurchase_communities_stable", oracle=_lpa_stable_oracle())
def part_copurchase_communities_stable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Communities of the repeat co-purchase graph under the CONVERGENT
    self-loop LPA (see :func:`label_propagation_stable`): at every
    tested SF the assignment is a true fixpoint — one more round
    changes nothing — where the plain synchronous face samples a
    period-2 limit cycle."""
    return label_propagation_stable(_copurchase_edges(spark, sf_dir))


# --------------------------------------------------------------------------
# Local clustering coefficient (per-node triangle census).
# --------------------------------------------------------------------------

_LCC_ORACLE = f"""
WITH ew AS (
  SELECT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {LPA_MIN_WEIGHT}
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM ew UNION ALL SELECT v FROM ew
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dst_d
  FROM ew e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
),
tri AS (
  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
  FROM o o1 JOIN o o2 ON o1.src = o2.src
  JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
  WHERE (o1.dst_d, o1.dst) < (o2.dst_d, o2.dst)
),
pernode AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT deg.node, deg.d AS degree,
       COALESCE(pernode.n_tri, 0) AS n_triangles,
       (2 * 2 * COALESCE(pernode.n_tri, 0) * 1000000 + deg.d * (deg.d - 1))
         // (2 * deg.d * (deg.d - 1)) AS lcc_ppm
FROM deg LEFT JOIN pernode ON deg.node = pernode.node
WHERE deg.d >= 2
"""


@query("part_local_clustering", oracle=_LCC_ORACLE)
def part_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the repeat co-purchase
    graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), emitted as
    half-away integer ppm (exact rational — the Watts-Strogatz
    statistic without a float reduction anywhere).

    Same degree-ordered wedge plan as the global census
    (:func:`part_cooccurrence_triangles` — out-degree bounded by
    O(√|E|)), but each closed wedge credits ALL THREE corners via a
    3-struct explode, then one per-node count.  High lcc + low degree
    = tight bundle; high degree + low lcc = hub — the
    recommendation-quality split."""
    e = truncate(_copurchase_edges(spark, sf_dir))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    o = truncate(oriented_edges(e))
    o1 = o.select("src", F.col("dst").alias("b"), F.col("dst_d").alias("bd"))
    o2 = o.select("src", F.col("dst").alias("c"), F.col("dst_d").alias("cd"))
    wedges = o1.join(o2, "src").filter(
        (F.col("bd") < F.col("cd"))
        | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    )
    tri = wedges.join(
        o.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"]
    ).select(F.col("src").alias("a"), "b", "c")
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    pernode = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(pernode, "node", "left")
        .na.fill({"n_tri": 0})
        .select(
            "node",
            F.col("d").alias("degree"),
            F.col("n_tri").cast("bigint").alias("n_triangles"),
            F.expr(
                "(2 * 2 * n_tri * 1000000 + d * (d - 1))"
                " DIV (2 * d * (d - 1))"
            ).alias("lcc_ppm"),
        )
    )


# --------------------------------------------------------------------------
# k-core: fixed-round degree peel.
# --------------------------------------------------------------------------

#: core order (minimum degree inside the surviving subgraph)
KCORE_K = 3
#: fixed peel rounds — same determinism rationale as LPA_ROUNDS; sized
#: to cover the fixpoint at every tested SF (the r10 convergence audit
#: caught the old budget of 4 clipping sf0.01's pendant cascade: node
#: counts 1892→1294→1154→1104→1078→1065→1058→1056→1055, stable from
#: round 8), and a fixed count keeps the unrolled oracle exactly the
#: Spark loop.  The audit face's probe round certifies the budget per
#: dataset — at 100× scale a non-zero probe means raise this.
KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    # MATERIALIZED: each e{r} is referenced 3× (d{r+1} twice, e{r+1})
    # — inlined, the unrolled tree grows 3^rounds; see the audit oracle
    parts = [
        f"""
WITH ew AS MATERIALIZED (
  SELECT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {LPA_MIN_WEIGHT}
),
e0 AS MATERIALIZED (SELECT u, v FROM ew)"""
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT u AS node FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1}
  ) GROUP BY node HAVING COUNT(*) >= {KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN d{r} a ON e.u = a.node JOIN d{r} b ON e.v = b.node
)"""
        )
    parts.append(
        f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
  SELECT u AS node FROM e{KCORE_ROUNDS}
  UNION ALL SELECT v FROM e{KCORE_ROUNDS}
) GROUP BY node"""
    )
    return "".join(parts)


def kcore_peel(e: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Fixed-round k-core peel of an undirected (u, v) edge set: each
    round drops every node whose CURRENT degree is < k, then restricts
    the edge set to surviving endpoints.  Returns the surviving nodes
    with their in-core degree.

    Per round: one degree count (map-side combinable) + two hash
    semi-equi-joins — O(|E|) shuffled bytes, lineage truncated per
    round (:func:`~bigdatamlteamrepo_spark.operators.checkpoint.truncate`:
    reliable checkpoints when a checkpoint dir is set).  Rounds are
    FIXED (see :data:`KCORE_ROUNDS`): both engines replay the
    identical prefix of the peel sequence, converged or not, so parity
    never depends on a fixpoint test."""
    e = _kcore_edge_frames(e, k, rounds)[-1]
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )


def _kcore_edge_frames(e: DataFrame, k: int, rounds: int) -> list[DataFrame]:
    """Per-round surviving edge sets [e0 … e_rounds] of the peel, each
    materialized with truncated lineage (the convergence audit counts
    surviving nodes per round; :func:`kcore_peel` takes the last)."""
    frames = [truncate(e)]
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("node")
        )
        e = truncate(
            e.join(deg.withColumnRenamed("node", "u"), "u")
            .join(deg.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
        )
        frames.append(e)
    return frames


@query("part_kcore_membership", oracle=_kcore_oracle())
def part_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes surviving a {KCORE_ROUNDS}-round {KCORE_K}-core peel of
    the repeat co-purchase graph, with their in-core degree — the
    density skeleton recommendation/fraud pipelines mine (a hub with
    pendant noise peels away; a dense bundle survives)."""
    return kcore_peel(_copurchase_edges(spark, sf_dir))


# --------------------------------------------------------------------------
# Convergence observability for the fixed-round loops (VERDICT_r9 #6).
# --------------------------------------------------------------------------
#
# The registered LPA / k-core faces run a FIXED number of rounds for
# cross-engine determinism; at tested SFs that budget reaches the
# fixpoint (pinned below and in tests), but at 100x scale "k-core
# membership" could silently become "a 4-round peel prefix".  These
# audit faces make that visible: one PROBE round past the budget, with
# the per-round delta (labels changed / nodes dropped) as the result —
# a probe-round delta of 0 certifies the registered face IS the
# fixpoint; anything else is the operator's signal to raise the budget.


def _lpa_audit_oracle() -> str:
    probe = LPA_ROUNDS + 1
    deltas = []
    for r in range(1, probe + 1):
        cyc = (
            f"""(SELECT CAST(SUM(CASE WHEN a.lbl <> c.lbl THEN 1 ELSE 0 END)
                 AS BIGINT)
         FROM l{r} a JOIN l{r - 2} c ON a.node = c.node)"""
            if r >= 2
            else "CAST(-1 AS BIGINT)"
        )
        deltas.append(
            f"""
  SELECT CAST({r} AS BIGINT) AS round,
         CAST(SUM(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END) AS BIGINT)
           AS labels_changed,
         {cyc} AS cycle_changed
  FROM l{r} a JOIN l{r - 1} b ON a.node = b.node"""
        )
    return _lpa_cte_prefix(probe) + "\nSELECT * FROM (" + "\n  UNION ALL".join(
        deltas
    ) + "\n)"


@query("part_lpa_convergence_audit", oracle=_lpa_audit_oracle())
def part_lpa_convergence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round convergence telemetry of the co-purchase LPA, with one
    probe round PAST the registered budget: (round, labels_changed,
    cycle_changed) for rounds 1 … LPA_ROUNDS+1, where ``labels_changed``
    compares round r to r−1 and ``cycle_changed`` to r−2 (−1 sentinel
    at round 1, which has no r−2).

    Why two deltas: SYNCHRONOUS label propagation does not converge to
    a fixpoint in general — like any symmetric threshold automaton it
    converges to a limit cycle of period ≤ 2 (Poljak & Sůra 1983;
    the bipartite oscillator in tests/test_label_propagation.py is the
    minimal case), and the driver graphs really do enter that regime
    (sf0.1: ~6.1 k of 6.2 k labels flip at EVERY round while the
    two-round delta falls to ~10 — a stable oscillation, not drift).
    So ``labels_changed = 0`` at the probe certifies a true fixpoint;
    ``cycle_changed ≈ 0`` with large ``labels_changed`` certifies the
    orbit has stabilized and the fixed-round face is sampling a stable
    2-cycle — the honest interpretation a 100x-scale operator needs
    before trusting (or re-budgeting) the community assignment.

    Cost: one extra LPA round over the same materialized frames — each
    delta is a node-level hash join of checkpointed label frames + a
    one-row count."""
    frames = _lpa_label_frames(
        _copurchase_edges(spark, sf_dir), LPA_ROUNDS + 1
    )

    def _delta(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.select("node", "lbl")
            .join(b.select("node", F.col("lbl").alias("prev")), "node")
            .agg(
                F.sum(F.when(F.col("lbl") != F.col("prev"), 1).otherwise(0))
                .cast("bigint")
                .alias("d")
            )
        )

    deltas = []
    for r in range(1, LPA_ROUNDS + 2):
        step = _delta(frames[r], frames[r - 1]).withColumnRenamed(
            "d", "labels_changed"
        )
        if r >= 2:
            cyc = _delta(frames[r], frames[r - 2]).withColumnRenamed(
                "d", "cycle_changed"
            )
            row = step.crossJoin(F.broadcast(cyc))
        else:
            row = step.withColumn(
                "cycle_changed", F.lit(-1).cast("bigint")
            )
        deltas.append(
            row.select(
                F.lit(r).cast("bigint").alias("round"),
                "labels_changed",
                "cycle_changed",
            )
        )
    out = deltas[0]
    for d in deltas[1:]:
        out = out.unionAll(d)
    return out


def _kcore_audit_oracle() -> str:
    # every e{r} is referenced by d{r+1} (twice), e{r+1}, AND the
    # per-round node census below — DuckDB inlines single-reference
    # CTEs but this fan-out makes the unrolled tree EXPONENTIAL in
    # rounds without MATERIALIZED (measured: the un-hinted form ran
    # minutes at sf0.01; materialized, sub-second).  The hint is
    # DuckDB-only syntax, which is fine — this string never reaches
    # Spark.
    probe = KCORE_ROUNDS + 1
    parts = [
        f"""
WITH ew AS MATERIALIZED (
  SELECT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {LPA_MIN_WEIGHT}
),
e0 AS MATERIALIZED (SELECT u, v FROM ew)"""
    ]
    for r in range(1, probe + 1):
        parts.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT u AS node FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1}
  ) GROUP BY node HAVING COUNT(*) >= {KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN d{r} a ON e.u = a.node JOIN d{r} b ON e.v = b.node
)"""
        )
    tagged = "\n    UNION ALL".join(
        f"""
    SELECT {r} AS r, u AS node FROM e{r}
    UNION ALL SELECT {r}, v FROM e{r}"""
        for r in range(probe + 1)
    )
    parts.append(
        f""",
nr AS (
  SELECT r, COUNT(DISTINCT node) AS n FROM ({tagged}
  ) GROUP BY r
),
-- a round whose edge set is EMPTY contributes no nr row (the sf0.1
-- 3-core empties in round 1); the spine keeps every round present
-- with n = 0 so the running diff never skips
spine AS (
  SELECT range AS r FROM range(0, {probe + 1})
),
dense AS (
  SELECT s.r, COALESCE(nr.n, 0) AS n
  FROM spine s LEFT JOIN nr ON s.r = nr.r
)
SELECT CAST(r AS BIGINT) AS round,
       CAST(LAG(n) OVER (ORDER BY r) - n AS BIGINT) AS nodes_dropped
FROM dense QUALIFY r >= 1"""
    )
    return "".join(parts)


@query("part_kcore_convergence_audit", oracle=_kcore_audit_oracle())
def part_kcore_convergence_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-round surviving-node drops of the k-core peel, including one
    probe round PAST the registered budget: (round, nodes_dropped) for
    rounds 1 … KCORE_ROUNDS+1.  nodes_dropped = 0 at the probe round
    certifies the fixed-round membership face is the true k-core;
    non-zero means the budget truncated the peel cascade (pendant
    chains peel one node per round).  The per-round node counts reuse
    the loop's checkpointed edge frames; the 6-row running diff is a
    bounded global window (the house metadata-frame pattern)."""
    from pyspark.sql import Window

    frames = _kcore_edge_frames(
        _copurchase_edges(spark, sf_dir), KCORE_K, KCORE_ROUNDS + 1
    )
    tagged = None
    for r, f in enumerate(frames):
        nodes = (
            f.select(F.col("u").alias("node"))
            .unionAll(f.select(F.col("v").alias("node")))
            .distinct()
            .select(F.lit(r).cast("bigint").alias("r"), "node")
        )
        tagged = nodes if tagged is None else tagged.unionAll(nodes)
    per_round = tagged.groupBy("r").agg(F.count(F.lit(1)).alias("n"))
    # an empty round contributes no per_round row (the sf0.1 3-core
    # empties in round 1) — densify over a round spine so the running
    # diff never skips a round
    spine = spark.range(0, KCORE_ROUNDS + 2).select(
        F.col("id").cast("bigint").alias("r")
    )
    dense = (
        spine.join(per_round, "r", "left")
        .na.fill({"n": 0})
        .select("r", F.col("n").cast("bigint").alias("n"))
    )
    w = Window.orderBy("r")
    return (
        dense.select(
            "r", (F.lag("n").over(w) - F.col("n")).alias("dropped")
        )
        .filter(F.col("r") >= 1)
        .select(
            F.col("r").alias("round"),
            F.col("dropped").cast("bigint").alias("nodes_dropped"),
        )
    )


# the budget constants are module data, not literals — render them into
# the registered docstrings (plain strings, not f-strings: an f-string
# first statement would not bind __doc__ at all)
part_copurchase_communities.__doc__ = part_copurchase_communities.__doc__.format(
    LPA_MIN_WEIGHT=LPA_MIN_WEIGHT, LPA_ROUNDS=LPA_ROUNDS
)
part_kcore_membership.__doc__ = part_kcore_membership.__doc__.format(
    KCORE_ROUNDS=KCORE_ROUNDS, KCORE_K=KCORE_K
)


# --------------------------------------------------------------------------
# BFS hop layers: single-source shortest paths (unweighted) from the
# busiest hub — the reachability census recommendation and logistics
# teams run ("how much of the catalog is within k hops of the anchor").
# --------------------------------------------------------------------------

#: fixed BFS round budget (same cross-engine determinism contract as
#: LPA_ROUNDS: both engines unroll exactly this many relaxations)
BFS_ROUNDS = 4


def bfs_hops(edges: DataFrame, seeds: DataFrame, rounds: int = BFS_ROUNDS) -> DataFrame:
    """Min-hop distance from ``seeds(node)`` over undirected
    ``edges(u, v)`` after ``rounds`` relaxations → ``(node, d)`` for
    reached nodes only.

    Each round is one hash join frontier-expand + one min-agg —
    d_{r+1}(v) = min(d_r(v), 1 + min over neighbors d_r(u)) — with
    lineage truncated per round (reliable ``checkpoint`` when the
    session has a checkpoint dir, executor-local otherwise).  Fixed
    rounds rather than loop-until-fixpoint for the same reason as LPA:
    both engines must run the identical computation; pair with a
    convergence audit when the radius matters.
    """
    adj = truncate(
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    )
    dist = seeds.select("node", F.lit(0).cast("bigint").alias("d"))
    for _ in range(rounds):
        nxt = dist.join(adj, dist["node"] == adj["src"]).select(
            F.col("dst").alias("node"), (F.col("d") + 1).alias("d")
        )
        dist = truncate(
            dist.unionAll(nxt).groupBy("node").agg(F.min("d").alias("d"))
        )
    return dist


_BFS_ORACLE_PARTS = [
    f"""
WITH ew AS (
  SELECT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {LPA_MIN_WEIGHT}
),
adj AS (SELECT u AS src, v AS dst FROM ew UNION ALL SELECT v, u FROM ew),
nodes AS (SELECT src AS node FROM adj GROUP BY 1),
seed AS (
  SELECT src AS node FROM adj GROUP BY src
  ORDER BY COUNT(*) DESC, src LIMIT 1
),
d0 AS (SELECT node, 0 AS d FROM seed)""",
]
for _r in range(1, BFS_ROUNDS + 1):
    _BFS_ORACLE_PARTS.append(
        f""",
d{_r} AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM d{_r - 1}
    UNION ALL
    SELECT a.dst, p.d + 1 FROM d{_r - 1} p JOIN adj a ON p.node = a.src
  ) x GROUP BY node
)"""
    )
_BFS_ORACLE = (
    "".join(_BFS_ORACLE_PARTS)
    + f"""
SELECT CAST(d AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM d{BFS_ROUNDS} GROUP BY d
UNION ALL
SELECT -1, COUNT(*)
FROM nodes n LEFT JOIN d{BFS_ROUNDS} r ON n.node = r.node
WHERE r.node IS NULL
"""
)


@query("part_bfs_hop_census", oracle=_BFS_ORACLE)
def part_bfs_hop_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance census from the busiest co-purchase hub (max degree,
    min-partkey tie-break): nodes per hop 0..{BFS_ROUNDS}, plus a
    ``hop = -1`` row counting graph nodes still unreached after the
    round budget."""
    e = truncate(_copurchase_edges(spark, sf_dir))
    adj = e.select(F.col("u").alias("src")).unionAll(
        e.select(F.col("v").alias("src"))
    )
    seed = (
        adj.groupBy("src")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "src")
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    dist = bfs_hops(e, seed)
    per_hop = dist.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    ).select(F.col("d").alias("hop"), "n_nodes")
    nodes = adj.select(F.col("src").alias("node")).distinct()
    unreached = (
        nodes.join(dist, "node", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .select(F.lit(-1).cast("bigint").alias("hop"), "n_nodes")
    )
    return per_hop.unionAll(unreached)


part_bfs_hop_census.__doc__ = part_bfs_hop_census.__doc__.format(
    BFS_ROUNDS=BFS_ROUNDS
)

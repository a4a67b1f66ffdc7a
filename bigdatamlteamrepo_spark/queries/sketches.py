"""Sketch + graph-centrality queries: HyperLogLog, KMV, count-min, and
integer PageRank — every one value-hash-checked against DuckDB via the
portable md5-derived arithmetic in operators/sketches.py.

Scale stance: the sketch queries exist precisely FOR the 100 TB case —
each reduces to a map-side-combinable aggregate whose reduce state is
O(sketch size) (256 registers / 64 hashes / 4×1024 counters) instead of
shuffling distinct raw values the way COUNT(DISTINCT) does.  The exact
counts computed alongside are the accuracy yardstick, not part of the
sketch cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table, maybe_broadcast
from bigdatamlteamrepo_spark.operators.checkpoint import truncate
from bigdatamlteamrepo_spark.operators.pagerank import integer_pagerank, pagerank_cte_sql
from bigdatamlteamrepo_spark.operators.sketches import (
    KMV_K,
    POW60,
    bottomk_cutoff_sql,
    bottomk_prefilter,
    cms_bucket,
    cms_bucket_sql,
    cms_constants,
    cms_counters,
    h32,
    h32_sql,
    h60,
    h60_sql,
    hll_finalize,
    hll_finalize_sql,
    hll_rank,
    hll_rank_sql,
    hll_register,
    hll_register_sql,
    kmv_estimate,
    kmv_estimate_sql,
)
from bigdatamlteamrepo_spark.queries.registry import query

# --------------------------------------------------------------------------
# HyperLogLog distinct orders per return flag.
# --------------------------------------------------------------------------

_H = h60_sql("l_orderkey")


@query(
    "hll_orders_by_flag",
    oracle=f"""
WITH regs AS (
  SELECT l_returnflag,
         {hll_register_sql(_H)} AS reg,
         MAX({hll_rank_sql(_H)}) AS m
  FROM lineitem GROUP BY l_returnflag, reg
),
sketch AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(pow(2.0, 53 - m) AS BIGINT)) AS BIGINT) AS s_present,
         COUNT(*) AS n_present
  FROM regs GROUP BY l_returnflag
),
exact AS (
  SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_distinct
  FROM lineitem GROUP BY l_returnflag
)
SELECT s.l_returnflag,
       e.exact_distinct,
       {hll_finalize_sql('s.s_present', 's.n_present')} AS hll_estimate,
       CAST(256 - s.n_present AS BIGINT) AS empty_registers
FROM sketch s JOIN exact e USING (l_returnflag)
""",
)
def hll_orders_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l_orderkey per return flag, estimated from a 256-register
    HLL.  Plan shape at scale: ONE aggregation to ≤ 256·|flags| register
    rows (map-side combined), then a ≤ 256-row-per-group finalize — no
    distinct-value shuffle.  The exact branch is the yardstick."""
    li = load_table(spark, sf_dir, "lineitem")
    h = h60(F.col("l_orderkey"))
    regs = (
        li.select("l_returnflag", hll_register(h).alias("reg"), hll_rank(h).alias("r"))
        .groupBy("l_returnflag", "reg")
        .agg(F.max("r").alias("m"))
    )
    sketch = regs.groupBy("l_returnflag").agg(
        F.sum(F.pow(F.lit(2.0), F.lit(53) - F.col("m")).cast("long")).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    return sketch.join(exact, "l_returnflag").select(
        "l_returnflag",
        "exact_distinct",
        hll_finalize(F.col("s_present"), F.col("n_present")).alias("hll_estimate"),
        (F.lit(256) - F.col("n_present")).cast("long").alias("empty_registers"),
    )


# --------------------------------------------------------------------------
# Single-aggregation HLL: hourly distinct users (the streaming shape).
# --------------------------------------------------------------------------

from bigdatamlteamrepo_spark.operators.sketches import (  # noqa: E402
    hll_agg_exprs_sql,
    hll_agg_finalize_sql,
)

_HLL_P_STREAM = 6
_HU = h60_sql("user_id")


@query(
    "hll_hourly_users",
    oracle=f"""
WITH regs AS (
  SELECT date_trunc('hour', ts) AS window_start,
         COUNT(*) AS n_events,
         {', '.join(hll_agg_exprs_sql(_HU, _HLL_P_STREAM))}
  FROM events GROUP BY 1
)
SELECT window_start, n_events,
       {hll_agg_finalize_sql(_HLL_P_STREAM)} AS approx_users
FROM regs
""",
)
def hll_hourly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/windows.tumbling_hll_users: 64-register
    HLL distinct-users per hour as ONE aggregation (the formulation
    Structured Streaming's single-agg rule requires), oracle-checked
    register-for-register.  tests/test_streaming_hll.py proves the
    stream run emits identical rows."""
    from bigdatamlteamrepo_spark.streaming.windows import tumbling_hll_users

    events = load_table(spark, sf_dir, "events")
    return tumbling_hll_users(events, p=_HLL_P_STREAM)


def _hll_estimate_over(df: DataFrame, col: str) -> DataFrame:
    """Global 256-register HLL estimate of distinct ``col`` (two-pass
    register path) — reusable building block (tools/scaling_experiment)."""
    h = h60(F.col(col))
    regs = (
        df.select(hll_register(h).alias("reg"), hll_rank(h).alias("r"))
        .groupBy("reg")
        .agg(F.max("r").alias("m"))
    )
    sketch = regs.agg(
        F.sum(F.pow(F.lit(2.0), F.lit(53) - F.col("m")).cast("long")).alias(
            "s_present"
        ),
        F.count(F.lit(1)).alias("n_present"),
    )
    return sketch.select(
        hll_finalize(F.col("s_present"), F.col("n_present")).alias("hll_estimate")
    )


# --------------------------------------------------------------------------
# KMV bottom-k distinct parts.
# --------------------------------------------------------------------------

_HP = h60_sql("l_partkey")


@query(
    "kmv_distinct_parts",
    oracle=f"""
WITH hashes AS (SELECT DISTINCT {_HP} AS h FROM lineitem),
bottom AS (SELECT h FROM hashes ORDER BY h LIMIT {KMV_K}),
sk AS (SELECT MAX(h) AS kth_hash, COUNT(*) AS n_kept FROM bottom),
exact AS (SELECT COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
SELECT sk.n_kept, sk.kth_hash,
       {kmv_estimate_sql('sk.kth_hash', 'sk.n_kept')} AS kmv_estimate,
       exact.exact_distinct
FROM sk, exact
""",
)
def kmv_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l_partkey via a bottom-64 hash sketch.  The distinct on
    60-bit hashes is the one shuffle; the bottom-k is a TakeOrdered (per
    partition top-k, merged on the driver) — the sketch state that would
    be carried per group in a production rollup is just 64 longs."""
    li = load_table(spark, sf_dir, "lineitem")
    hashes = li.select(h60(F.col("l_partkey")).alias("h")).distinct()
    bottom = hashes.orderBy("h").limit(KMV_K)
    sk = bottom.agg(
        F.max("h").alias("kth_hash"), F.count(F.lit(1)).alias("n_kept")
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_distinct"))
    return sk.crossJoin(exact).select(
        "n_kept",
        "kth_hash",
        kmv_estimate(F.col("kth_hash"), F.col("n_kept")).alias("kmv_estimate"),
        "exact_distinct",
    )


# --------------------------------------------------------------------------
# Count-min heavy hitters: top suppliers by line count.
# --------------------------------------------------------------------------

_HS = h32_sql("l_suppkey")
_CMS_BUCKETS_SQL = " UNION ALL ".join(
    f"SELECT {j} AS j, {cms_bucket_sql(_HS, a, b)} AS bucket FROM lineitem"
    for j, (a, b) in enumerate(cms_constants())
)
_CMS_KEY_BUCKETS_SQL = " UNION ALL ".join(
    f"SELECT l_suppkey, {j} AS j, {cms_bucket_sql(_HS, a, b)} AS bucket FROM keys"
    for j, (a, b) in enumerate(cms_constants())
)


@query(
    "cms_heavy_suppliers",
    oracle=f"""
WITH counters AS (
  SELECT j, bucket, COUNT(*) AS cnt FROM ({_CMS_BUCKETS_SQL}) GROUP BY j, bucket
),
keys AS (SELECT DISTINCT l_suppkey FROM lineitem),
est AS (
  SELECT l_suppkey, MIN(cnt) AS cms_estimate
  FROM ({_CMS_KEY_BUCKETS_SQL}) kb JOIN counters USING (j, bucket)
  GROUP BY l_suppkey
),
truth AS (SELECT l_suppkey, COUNT(*) AS true_count FROM lineitem GROUP BY l_suppkey)
SELECT t.l_suppkey, t.true_count, e.cms_estimate
FROM truth t JOIN est e USING (l_suppkey)
ORDER BY t.true_count DESC, t.l_suppkey LIMIT 20
""",
)
def cms_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by lineitem count with their count-min estimate
    (depth 4 × width 1024).  The counter grid is ≤ 4096 rows however
    large lineitem grows, so the estimate join broadcasts it; CMS
    guarantees estimate ≥ true (collisions only inflate) — pinned by
    test_sketches."""
    li = load_table(spark, sf_dir, "lineitem")
    counters = cms_counters(li, "l_suppkey")
    keys = li.select("l_suppkey").distinct()
    kh = h32(F.col("l_suppkey"))
    key_buckets = keys.select(
        "l_suppkey",
        F.posexplode(
            F.array(*[cms_bucket(kh, a, b) for a, b in cms_constants()])
        ).alias("j", "bucket"),
    )
    est = (
        key_buckets.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("l_suppkey")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    truth = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("true_count"))
    return (
        truth.join(est, "l_suppkey")
        .select("l_suppkey", "true_count", "cms_estimate")
        .orderBy(F.desc("true_count"), F.asc("l_suppkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Theta-style KMV set intersection: dataset-overlap estimation.
# --------------------------------------------------------------------------

_THETA_FULL = f"CAST({POW60} AS BIGINT)"


def _bottomk_cte(name: str, member_sql: str) -> str:
    """CTE pair: distinct bottom-64 hashes of a key set + its θ (the
    (k+1)-th smallest would bound the sample; with ≤ k distinct hashes
    the whole set is sampled and θ = 2^60)."""
    return f"""
{name}_h AS (
  SELECT DISTINCT {h60_sql('c_custkey')} AS h FROM ({member_sql})
),
{name}_k AS (SELECT h FROM {name}_h ORDER BY h LIMIT {KMV_K}),
{name}_t AS (
  SELECT CASE WHEN (SELECT COUNT(*) FROM {name}_h) > {KMV_K}
              THEN (SELECT MAX(h) FROM {name}_k) ELSE {_THETA_FULL} END AS theta
)"""


_A_SQL = "SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'"
_B_SQL = "SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '2-HIGH'"


@query(
    "theta_customer_overlap",
    oracle=f"""
WITH {_bottomk_cte('a', _A_SQL)},
{_bottomk_cte('b', _B_SQL)},
theta AS (
  SELECT LEAST(a_t.theta, b_t.theta) AS th FROM a_t, b_t
),
inter AS (
  SELECT COUNT(*) AS n_common
  FROM a_k JOIN b_k USING (h), theta WHERE h < th
),
exact AS (
  SELECT COUNT(*) AS exact_overlap FROM ({_A_SQL}) a JOIN ({_B_SQL}) b USING (c_custkey)
)
SELECT theta.th AS theta,
       inter.n_common,
       round(CAST(inter.n_common AS DOUBLE) * {float(POW60)!r}
             / CAST(theta.th AS DOUBLE), 6) AS est_overlap,
       exact.exact_overlap
FROM theta, inter, exact
""",
)
def theta_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A ∩ B| for two customer sets (urgent-order vs high-order
    customers) from their bottom-64 KMV sketches: below the shared
    threshold θ both sketches are uniform samples of their sets, so
    |common hashes < θ| · 2^60 / θ estimates the true overlap — the
    theta-sketch intersection a pipeline uses to size dataset
    contamination WITHOUT joining the full sets.  Exact overlap
    computed alongside as the yardstick; at scale only the two
    64-long sketches meet."""
    orders = load_table(spark, sf_dir, "orders")

    def bottomk(priority: str):
        keys = (
            orders.filter(F.col("o_orderpriority") == priority)
            .select(F.col("o_custkey").alias("c_custkey"))
            .distinct()
        )
        hashes = keys.select(h60(F.col("c_custkey")).alias("h")).distinct()
        n = hashes.agg(F.count(F.lit(1)).alias("n"))
        bk = hashes.orderBy("h").limit(KMV_K)
        theta = bk.agg(F.max("h").alias("kth")).crossJoin(F.broadcast(n)).select(
            F.when(F.col("n") > KMV_K, F.col("kth"))
            .otherwise(F.lit(POW60).cast("long"))
            .alias("theta")
        )
        return keys, bk, theta

    a_keys, a_k, a_t = bottomk("1-URGENT")
    b_keys, b_k, b_t = bottomk("2-HIGH")
    theta = (
        a_t.crossJoin(b_t.withColumnRenamed("theta", "theta_b"))
        .select(F.least("theta", "theta_b").alias("th"))
    )
    inter = (
        a_k.join(b_k, "h")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact = a_keys.join(b_keys, "c_custkey").agg(
        F.count(F.lit(1)).alias("exact_overlap")
    )
    return (
        theta.crossJoin(F.broadcast(inter))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("th").alias("theta"),
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                * F.lit(float(POW60))
                / F.col("th").cast("double"),
                6,
            ).alias("est_overlap"),
            "exact_overlap",
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter semijoin: the runtime-filter pattern, portable.
# --------------------------------------------------------------------------

from bigdatamlteamrepo_spark.operators.sketches import (  # noqa: E402
    BLOOM_K,
    bloom_build_aggs,
    bloom_build_aggs_sql,
    bloom_positions,
    bloom_positions_sql,
    bloom_test_expr,
    bloom_test_sql,
)

_BLOOM_BAL = 7000.0
_HC = h32_sql("c_custkey")
_HO = h32_sql("o_custkey")


@query(
    "bloom_semijoin_orders",
    oracle=f"""
WITH keys AS (
  SELECT c_custkey FROM customer WHERE c_acctbal > {_BLOOM_BAL}
),
pos AS (
  {' UNION ALL '.join(f'SELECT c_custkey, {p} AS pos FROM keys'
                      for p in bloom_positions_sql(_HC))}
),
bloom AS (
  SELECT {', '.join(bloom_build_aggs_sql('pos'))},
         (SELECT COUNT(*) FROM keys) AS n_keys
  FROM pos
),
probe AS (
  SELECT o_orderkey, o_custkey,
         {' + '.join(bloom_test_sql(p) for p in bloom_positions_sql(_HO))} AS n_hits
  FROM orders, bloom
)
SELECT bloom.n_keys,
       COUNT(*) FILTER (WHERE n_hits = 3) AS n_passed,
       (SELECT COUNT(*) FROM orders o JOIN keys k ON o.o_custkey = k.c_custkey)
         AS n_true,
       COUNT(*) FILTER (WHERE n_hits = 3) -
       (SELECT COUNT(*) FROM orders o JOIN keys k ON o.o_custkey = k.c_custkey)
         AS n_false_positive
FROM probe, bloom GROUP BY bloom.n_keys
""",
)
def bloom_semijoin_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern: high-balance customers aggregate into a
    ONE-ROW 1008-bit bloom (16 BIGINT words, conditional BIT_OR) that is
    cross-join-broadcast onto the orders scan; rows failing any of the 3
    bit probes drop BEFORE any join.  At 100 TB the semijoin shuffle is
    replaced by a scan-local filter — the exact trick behind Spark's
    runtime bloom-filter join, but with md5-derived hashing so even the
    false-positive count is deterministic and oracle-checked.  The true
    semi-join count alongside quantifies the FP rate."""
    cust = load_table(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_acctbal") > _BLOOM_BAL).select("c_custkey")
    kh = h32(F.col("c_custkey"))
    pos = keys.select(
        F.explode(F.array(*bloom_positions(kh))).alias("pos")
    )
    bloom = pos.agg(*bloom_build_aggs("pos")).crossJoin(
        F.broadcast(keys.agg(F.count(F.lit(1)).alias("n_keys")))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    oh = h32(F.col("o_custkey"))
    probe = orders.select(
        "o_custkey",
        *[p.alias(f"p{j}") for j, p in enumerate(bloom_positions(oh))],
    ).crossJoin(F.broadcast(bloom))
    n_hits = sum(
        (F.expr(bloom_test_expr(f"p{j}")) for j in range(BLOOM_K)),
        F.lit(0),
    )
    probe = probe.withColumn("n_hits", n_hits)
    true_cnt = (
        orders.join(keys, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    return (
        probe.groupBy("n_keys")
        .agg(F.count(F.when(F.col("n_hits") == 3, 1)).alias("n_passed"))
        .crossJoin(F.broadcast(true_cnt))
        .select(
            "n_keys",
            "n_passed",
            "n_true",
            (F.col("n_passed") - F.col("n_true")).alias("n_false_positive"),
        )
    )


# --------------------------------------------------------------------------
# Integer PageRank over the customer-nation → supplier-nation trade graph.
# --------------------------------------------------------------------------

_EDGES_CTE = """edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS weight
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN supplier ON s_suppkey = l_suppkey
  GROUP BY src, dst
)"""


@query(
    "pagerank_nation_trade",
    oracle=pagerank_cte_sql(_EDGES_CTE, n_iter=10)
    + """
SELECT n_name AS nation, rank AS rank_scaled
FROM pr10 JOIN nation ON n_nationkey = node
ORDER BY rank DESC, nation
""",
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-iteration integer PageRank (operators/pagerank.py) over the
    nation-level trade graph (edge weight = lineitem count from customer
    nation to supplier nation).  The edge aggregation is the only scan
    of the fact tables; the iteration then runs on the ≤ |nations|²
    edge list.  Bit-exact vs the unrolled-CTE DuckDB oracle."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(cust, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(maybe_broadcast(supp, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    ranks = integer_pagerank(edges, n_iter=10)
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), F.col("n_name").alias("nation")
    )
    return (
        ranks.join(maybe_broadcast(nation, "nation"), "node")
        .select("nation", F.col("rank").alias("rank_scaled"))
        .orderBy(F.desc("rank_scaled"), F.asc("nation"))
    )


# --------------------------------------------------------------------------
# Bottom-k-by-hash quantile sketch: per-group order statistics from a
# deterministic uniform sample.
# --------------------------------------------------------------------------

#: sample size per group: rank error of a quantile estimated from a
#: uniform k-sample is ~ sqrt(p(1-p)/k) — 256 puts 3σ under ±0.1 of
#: rank for every p (CDF bound pinned in tests/test_sketches.py)
QSK_K = 256
#: cutoff oversampling factor (the doc_stratified_sample discipline —
#: the cutoff is part of the sketch definition, mirrored in the oracle)
_QSK_SAFETY = 4
#: probed quantiles (integer percents — rank selection stays integer)
_QSK_PCTS = (10, 50, 90, 99)


@query(
    "events_value_quantile_sketch",
    oracle=f"""
WITH __qh AS (
  SELECT event_type, value,
         {h60_sql("CAST(user_id AS VARCHAR) || '|' || CAST(epoch_us(ts) AS VARCHAR)")} AS h
  FROM events
),
__qn AS (SELECT event_type, COUNT(*) AS n FROM __qh GROUP BY event_type),
__qpref AS (
  SELECT q.event_type, q.value, q.h
  FROM __qh q JOIN __qn n USING (event_type)
  WHERE q.h < {bottomk_cutoff_sql("n.n", QSK_K, _QSK_SAFETY)}
),
__qsamp AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, value) AS hr
  FROM __qpref
),
__qk AS (SELECT event_type, value FROM __qsamp WHERE hr <= {QSK_K}),
__qv AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS vr,
         COUNT(*) OVER (PARTITION BY event_type) AS ns
  FROM __qk
)
SELECT v.event_type,
       CAST(ANY_VALUE(n.n) AS BIGINT) AS n,
       CAST(ANY_VALUE(v.ns) AS BIGINT) AS n_sample,
       {", ".join(
           f"round(MAX(CASE WHEN v.vr = greatest(1, (v.ns * {p} + 99) // 100)"
           f" THEN v.value END), 6) AS p{p}_est"
           for p in _QSK_PCTS
       )}
FROM __qv v JOIN __qn n USING (event_type)
GROUP BY v.event_type
""",
)
def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value quantiles from a BOTTOM-k-BY-HASH sample — the
    mergeable quantile-sketch tier of the percentile family.

    ``events_value_percentiles`` computes exact interpolated quantiles:
    at 100 TB that is a per-group sort (or a full percentile agg) over
    every value.  Here the sample IS the sketch: rows whose 60-bit key
    hash ranks bottom-k per group form a deterministic uniform sample
    (the hash is the sample's randomness, so the result is
    value-hash-checkable), and the estimate is the element at rank
    ⌈p·k⌉ of the sample — pure integer rank selection, no
    interpolation, tie-broken (h, value), so both engines pick the
    identical element.  Mergeable exactly like KMV: the union's
    bottom-k is the bottom-k of per-partition bottom-k's.

    Plan: one scan builds (group, value, h); a count-derived cutoff
    (part of the definition, oracle-mirrored) prefilters to ~4k rows
    per group, so BOTH windows sort O(k) rows per group at any corpus
    size.  Accuracy: rank error ~ √(p(1−p)/k); the CDF-at-estimate
    bound vs the exact percentiles is pinned in tests."""
    ev = load_table(spark, sf_dir, "events")
    qh = ev.select(
        "event_type",
        "value",
        # F.concat (NOT concat_ws): a NULL key component must yield a
        # NULL hash so the row stays OUT of the sample in BOTH engines
        # (the oracle's || propagates NULL; concat_ws silently skips it)
        h60(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("|"),
                F.unix_micros("ts").cast("string"),
            )
        ).alias("h"),
    )
    pref, n = bottomk_prefilter(qh, "event_type", QSK_K, _QSK_SAFETY)
    wh = Window.partitionBy("event_type").orderBy("h", "value")
    samp = (
        pref.withColumn("hr", F.row_number().over(wh))
        .filter(F.col("hr") <= QSK_K)
        .select("event_type", "value")
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    qv = samp.select(
        "event_type",
        "value",
        F.row_number().over(wv).alias("vr"),
        F.count(F.lit(1)).over(wn).alias("ns"),
    )
    rank_p = {
        p: F.greatest(F.lit(1), F.expr(f"(ns * {p} + 99) div 100"))
        for p in _QSK_PCTS
    }
    return (
        qv.join(F.broadcast(n), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n").cast("bigint").alias("n"),
            F.first("ns").cast("bigint").alias("n_sample"),
            *[
                F.round(
                    F.max(F.when(F.col("vr") == rank_p[p], F.col("value"))), 6
                ).alias(f"p{p}_est")
                for p in _QSK_PCTS
            ],
        )
    )


# --------------------------------------------------------------------------
# Windowed count-min heavy hitters: the CMS analogue of
# hll_hourly_users — per-hour top users with their sketch estimate,
# the batch face of the streaming counter grid
# (streaming/windows.tumbling_cms_counters, pinned stream ≡ batch in
# test_streaming_cms).  State per window is the 4×1024 grid however
# many users the hour sees; estimates are min-over-depths, inflate-only.
# --------------------------------------------------------------------------

_HU32 = h32_sql("user_id")
_CMS_EV_BUCKETS_SQL = " UNION ALL ".join(
    f"SELECT date_trunc('hour', ts) AS window_start, {j} AS j, "
    f"{cms_bucket_sql(_HU32, a, b)} AS bucket FROM events"
    for j, (a, b) in enumerate(cms_constants())
)
_CMS_EV_KEY_BUCKETS_SQL = " UNION ALL ".join(
    f"SELECT window_start, user_id, {j} AS j, "
    f"{cms_bucket_sql(_HU32, a, b)} AS bucket FROM keys"
    for j, (a, b) in enumerate(cms_constants())
)
_CMS_EV_TOPK = 5


@query(
    "events_cms_hourly_heavy_users",
    oracle=f"""
WITH counters AS (
  SELECT window_start, j, bucket, COUNT(*) AS cnt
  FROM ({_CMS_EV_BUCKETS_SQL}) GROUP BY window_start, j, bucket
),
keys AS (
  SELECT DISTINCT date_trunc('hour', ts) AS window_start, user_id FROM events
),
est AS (
  SELECT kb.window_start, kb.user_id, MIN(c.cnt) AS cms_estimate
  FROM ({_CMS_EV_KEY_BUCKETS_SQL}) kb
  JOIN counters c USING (window_start, j, bucket)
  GROUP BY kb.window_start, kb.user_id
),
truth AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id,
         CAST(COUNT(*) AS BIGINT) AS true_count
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT t.window_start, t.user_id, t.true_count,
         CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
         ROW_NUMBER() OVER (PARTITION BY t.window_start
                            ORDER BY t.true_count DESC, t.user_id) AS rank
  FROM truth t JOIN est e
    ON t.window_start = e.window_start AND t.user_id = e.user_id
)
SELECT window_start, user_id, true_count, cms_estimate, rank
FROM ranked WHERE rank <= {_CMS_EV_TOPK}
""",
)
def events_cms_hourly_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour top-5 users by event count with their count-min
    estimate — the query a monitor answers FROM the maintained
    streaming grid without holding per-user state.  The grid builder
    is shared with the stream verbatim; CMS estimates dominate truth
    (inflate-only) by construction."""
    from bigdatamlteamrepo_spark.streaming.windows import (
        tumbling_cms_counters,
    )

    events = load_table(spark, sf_dir, "events")
    counters = tumbling_cms_counters(events)
    kh = h32(F.col("user_id"))
    keys = events.select(
        F.date_trunc("hour", "ts").alias("window_start"), "user_id"
    ).distinct()
    kb = keys.select(
        "window_start",
        "user_id",
        F.posexplode(
            F.array(*[cms_bucket(kh, a, b) for a, b in cms_constants()])
        ).alias("j", "bucket"),
    )
    est = (
        kb.join(F.broadcast(counters), ["window_start", "j", "bucket"])
        .groupBy("window_start", "user_id")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
    )
    truth = (
        events.select(F.date_trunc("hour", "ts").alias("window_start"), "user_id")
        .groupBy("window_start", "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("true_count"), F.asc("user_id")
    )
    return (
        truth.join(est, ["window_start", "user_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CMS_EV_TOPK)
        .select("window_start", "user_id", "true_count", "cms_estimate", "rank")
    )


# --------------------------------------------------------------------------
# KMV set algebra: cross-source n-gram overlap without a gram join.
# --------------------------------------------------------------------------

_G3_SQL = (
    "list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])"
)


def _overlap_oracle() -> str:
    from bigdatamlteamrepo_spark.queries.text_dedup import _TOKENS_SQL

    hg = h60_sql("g")
    return f"""
WITH t AS (
  SELECT source, {_TOKENS_SQL} AS toks FROM documents
),
g AS (
  SELECT DISTINCT source, {hg} AS h
  FROM (SELECT source, unnest({_G3_SQL}) AS g FROM t WHERE len(toks) >= 3)
),
sk AS (
  SELECT source, h FROM g
  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= {KMV_K}
),
st AS (
  SELECT source, MAX(h) AS kth, COUNT(*) AS n_kept FROM sk GROUP BY source
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM st a JOIN st b ON a.source < b.source
),
u AS (
  SELECT p.sa, p.sb, s.h,
         MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.source IN (p.sa, p.sb)
  GROUP BY p.sa, p.sb, s.h
),
ur AS (
  SELECT sa, sb, h, in_a, in_b FROM u
  QUALIFY row_number() OVER (PARTITION BY sa, sb ORDER BY h) <= {KMV_K}
),
us AS (
  SELECT sa, sb, MAX(h) AS kth_u, COUNT(*) AS n_kept_u,
         CAST(SUM(in_a * in_b) AS BIGINT) AS k_int
  FROM ur GROUP BY sa, sb
)
SELECT us.sa AS source_a, us.sb AS source_b, us.k_int, us.n_kept_u,
       {kmv_estimate_sql('sta.kth', 'sta.n_kept')} AS est_a,
       {kmv_estimate_sql('stb.kth', 'stb.n_kept')} AS est_b,
       {kmv_estimate_sql('us.kth_u', 'us.n_kept_u')} AS est_union,
       (2 * us.k_int * 1000000 + us.n_kept_u) // (2 * us.n_kept_u)
         AS jaccard_ppm
FROM us
JOIN st sta ON us.sa = sta.source
JOIN st stb ON us.sb = stb.source
"""


@query("source_ngram_overlap_kmv", oracle=_overlap_oracle())
def source_ngram_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source 3-gram overlap from MERGEABLE bottom-k
    sketches — the contamination / near-clone-source triage that never
    joins gram tables: each source is reduced to its KMV sketch (64
    longs), and every pairwise union/Jaccard estimate is computed from
    sketches alone (Beyer et al. 2007's KMV set algebra; the same
    union-merge a datasketches theta sketch does).

    Estimators: union via the k-th-minimum formula on the MERGED
    sketch; Jaccard = |members of the union bottom-k present in both
    sketches| / k (exact when the union fits in the sketch, unbiased
    otherwise), emitted as half-away integer ppm.

    Scale shape: the only corpus-scale stages are the distinct on
    (source, gram-hash) and a rank-limit window that Spark executes
    with WindowGroupLimit pushdown (per-map-task partial bottom-k —
    nothing ever sorts a full source's gram set).  Everything after is
    sketch-sized: 20 sources → 190 pairs × ≤2k rows.
    """
    from bigdatamlteamrepo_spark.functions.text import ensure_tokens, shingles
    from bigdatamlteamrepo_spark.queries.text_dedup import _with_tokens

    docs = _with_tokens(spark, sf_dir)
    t = ensure_tokens(docs, "doc_id", "source")
    g = (
        t.filter(F.size("toks") >= 3)
        .select("source", F.explode(shingles(F.col("toks"), 3)).alias("g"))
        .select("source", h60(F.col("g")).alias("h"))
        .distinct()
    )
    w_src = Window.partitionBy("source").orderBy("h")
    sk = truncate(  # reused by pair expansion + stats
        g.withColumn("rn", F.row_number().over(w_src))
        .filter(F.col("rn") <= KMV_K)
        .select("source", "h")
    )
    st = sk.groupBy("source").agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_kept")
    )
    pairs = (
        st.select(F.col("source").alias("sa"))
        .join(st.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    rows_a = pairs.join(sk.withColumnRenamed("source", "sa"), "sa").select(
        "sa", "sb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    rows_b = pairs.join(sk.withColumnRenamed("source", "sb"), "sb").select(
        "sa", "sb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    u = (
        rows_a.unionByName(rows_b)
        .groupBy("sa", "sb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w_pair = Window.partitionBy("sa", "sb").orderBy("h")
    ur = u.withColumn("rn", F.row_number().over(w_pair)).filter(
        F.col("rn") <= KMV_K
    )
    us = ur.groupBy("sa", "sb").agg(
        F.max("h").alias("kth_u"),
        F.count(F.lit(1)).alias("n_kept_u"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("k_int"),
    )
    sta = st.select(
        F.col("source").alias("sa"),
        F.col("kth").alias("kth_a"),
        F.col("n_kept").alias("n_kept_a"),
    )
    stb = st.select(
        F.col("source").alias("sb"),
        F.col("kth").alias("kth_b"),
        F.col("n_kept").alias("n_kept_b"),
    )
    return (
        us.join(F.broadcast(sta), "sa")
        .join(F.broadcast(stb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "k_int",
            "n_kept_u",
            kmv_estimate(F.col("kth_a"), F.col("n_kept_a")).alias("est_a"),
            kmv_estimate(F.col("kth_b"), F.col("n_kept_b")).alias("est_b"),
            kmv_estimate(F.col("kth_u"), F.col("n_kept_u")).alias("est_union"),
            F.expr(
                "(2 * k_int * 1000000 + n_kept_u) DIV (2 * n_kept_u)"
            ).alias("jaccard_ppm"),
        )
    )


# --------------------------------------------------------------------------
# CBO-style join-size estimation by correlated key sampling.
# --------------------------------------------------------------------------

#: sample 1/64 of the key space (h60(key) < 2^60/64) — both relations
#: sample the SAME keys because the hash is shared, which is what makes
#: the estimator work for joins (independent row sampling underestimates
#: join hits quadratically; Vengerov et al., VLDB 2015)
JOIN_SAMPLE_SHIFT = 6


def _join_est_sql(fact: str, fk: str, dim: str, pk: str, name: str) -> str:
    thr = POW60 >> JOIN_SAMPLE_SHIFT
    hf, hp = h60_sql(fk), h60_sql(pk)
    return f"""
SELECT '{name}' AS join_name,
       (SELECT COUNT(*) FROM (
          SELECT 1 FROM (SELECT {fk} AS k, {hf} AS h FROM {fact}) f
          JOIN (SELECT {pk} AS k FROM {dim}) d USING (k)
          WHERE f.h < {thr})) * {1 << JOIN_SAMPLE_SHIFT} AS est_pairs,
       (SELECT COUNT(*) FROM {fact} f JOIN {dim} d ON f.{fk} = d.{pk})
         AS exact_pairs
"""


_JOINEST_ORACLE = (
    _join_est_sql("lineitem", "l_orderkey", "orders", "o_orderkey", "orders_lineitem")
    + " UNION ALL "
    + _join_est_sql("lineitem", "l_partkey", "part", "p_partkey", "part_lineitem")
)


@query("join_size_estimates", oracle=_JOINEST_ORACLE)
def join_size_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimates from CORRELATED key sampling —
    the cost-based-optimizer statistic that decides join order before
    any join runs.  Both relations keep only keys with h60(key) <
    2^60/64 (the same 1/64 key-space slice on both sides, because the
    hash is shared — per-row independent sampling would miss matches
    quadratically), the join runs on that slice, and the count scales
    by 64.  Deterministic: the "sample" is a pure hash predicate.

    The exact count is emitted alongside for the error story; at
    100 TB a CBO computes ONLY the estimate — a join over 1/64 of the
    key space, pre-filtered at the scan by the hash predicate.  The
    estimator is exact in expectation for any key-multiplicity
    distribution; accuracy is pinned in tests."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    thr = POW60 >> JOIN_SAMPLE_SHIFT
    out = []
    for fact, fk, dim, pk, name in [
        (li, "l_orderkey", orders, "o_orderkey", "orders_lineitem"),
        (li, "l_partkey", part, "p_partkey", "part_lineitem"),
    ]:
        f = fact.select(F.col(fk).alias("k")).filter(h60(F.col(fk)) < thr)
        d = dim.select(F.col(pk).alias("k"))
        est = f.join(d, "k").agg(
            (F.count(F.lit(1)) * (1 << JOIN_SAMPLE_SHIFT))
            .cast("bigint")
            .alias("est_pairs")
        )
        exact = fact.join(dim, fact[fk] == dim[pk]).agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_pairs")
        )
        out.append(
            est.crossJoin(exact).select(
                F.lit(name).alias("join_name"), "est_pairs", "exact_pairs"
            )
        )
    return out[0].unionByName(out[1])

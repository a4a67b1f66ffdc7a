"""Event-stream queries (batch form) over the ``events`` table:
time-bucket aggregation, JSON prop extraction, sessionization, shares.

These are the batch twins of the Structured Streaming surface
(``bigdatamlteamrepo_spark/streaming``): the tumbling-window agg here is
the same logical plan a ``readStream`` + ``window()`` query produces,
which is how Spark unifies the two (incrementalization is the planner's
job, not the query author's).

Scale notes: all groupings key on (time-bucket, type) or user_id —
high-cardinality, well-distributed keys; sessionization is a window
function over user_id partitions (shuffle once, then linear scan),
the standard lag/cumsum sessionize that holds at any scale as long as
a single user's history fits a partition (true for real workloads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.functions.numeric import davg_expr, dsum, dsum_expr
from bigdatamlteamrepo_spark.queries.registry import query

# --------------------------------------------------------------------------
# Tumbling hourly window (batch twin of the streaming tumbling agg).
# --------------------------------------------------------------------------


@query(
    "events_hourly_by_type",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {dsum_expr('value', 6)} AS sum_value,
       {davg_expr('value', 6)} AS avg_value
FROM events
GROUP BY 1, 2
""",
    bench=True,
)
def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", 6).alias("sum_value"),
            (dsum("value", 6) / F.count(F.lit(1))).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# Sliding hourly window, 15-min slide — the batch twin of
# streaming.windows.sliding_counts, oracle-checked by enumerating the 4
# windows each event belongs to (Spark's window() aligns to the 1970
# epoch, so window_start = floor(epoch/slide)*slide - k*slide).
# --------------------------------------------------------------------------


@query(
    "events_sliding_by_type",
    oracle="""
WITH w AS (
  SELECT event_type,
         make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) * 900
                         - k.k * 900) * 1000000) AS window_start
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM w
GROUP BY 1, 2
""",
)
def events_sliding_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatamlteamrepo_spark.streaming.windows import sliding_counts

    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev, width="1 hour", slide="15 minutes")


# --------------------------------------------------------------------------
# JSON prop extraction (driver's events.props is a JSON string) —
# get_json_object stays JVM-side; at scale prefer from_json with a pinned
# schema once the prop set is known (single parse, typed struct).
# --------------------------------------------------------------------------


@query(
    "events_props_stats",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k,
       COUNT(*) FILTER (WHERE CAST(props->>'$.k' AS BIGINT) > 50) AS n_big_k
FROM events
GROUP BY event_type
""",
)
def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k > 50, 1)).alias("n_big_k"),
    )


# --------------------------------------------------------------------------
# Sessionization: 30-minute inactivity gap, lag + cumulative-sum idiom.
# --------------------------------------------------------------------------

_GAP_SECONDS = 1800


@query(
    "events_user_sessions",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) > {_GAP_SECONDS}
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(1 + SUM(new_session) AS BIGINT) AS n_sessions
FROM flagged
GROUP BY user_id
""",
    bench=True,
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session", F.when(gap > _GAP_SECONDS, 1).otherwise(0)
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.lit(1) + F.sum("new_session")).alias("n_sessions"),
    )


# --------------------------------------------------------------------------
# Fixed-grid resample + forward fill (operators/timeseries.py): every
# user's hourly series with gaps filled from the last observation.
# --------------------------------------------------------------------------


@query(
    "events_hourly_ffill",
    oracle="""
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value AS obs_value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
dedup AS (SELECT user_id, bucket_ts, obs_value FROM obs WHERE rn = 1),
spans AS (
  SELECT user_id, MIN(bucket_ts) AS t0, MAX(bucket_ts) AS t1
  FROM dedup GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket_ts
  FROM spans
),
joined AS (
  SELECT g.user_id, g.bucket_ts, d.obs_value
  FROM grid g LEFT JOIN dedup d
    ON g.user_id = d.user_id AND g.bucket_ts = d.bucket_ts
)
SELECT user_id, bucket_ts,
       last_value(obs_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       obs_value IS NOT NULL AS is_observed
FROM joined
""",
)
def events_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatamlteamrepo_spark.operators.timeseries import resample_ffill

    ev = load_table(spark, sf_dir, "events")
    return resample_ffill(ev)


# --------------------------------------------------------------------------
# Anomaly flags: per-type z-score over exact-sum mean/std (composition
# of the deterministic variance recipe with a row-level broadcast join).
# --------------------------------------------------------------------------


@query(
    "events_value_anomalies",
    oracle=f"""
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         {dsum_expr('value', 6)} AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,6))
                  * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - s.s1 / s.n)
         / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs((e.value - s.s1 / s.n)
          / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1))) > 2.5
""",
)
def events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatamlteamrepo_spark.functions.numeric import dec

    ev = load_table(spark, sf_dir, "events")
    v_dec = dec("value", 18, 6)
    stats = ev.groupBy(F.col("event_type").alias("s_type")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", 6).alias("s1"),
        F.sum(v_dec * v_dec).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    z = (F.col("value") - s1 / n) / F.sqrt((s2 - s1 * s1 / n) / (n - 1))
    return (
        ev.join(F.broadcast(stats), F.col("event_type") == F.col("s_type"))
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 2.5)
    )


# --------------------------------------------------------------------------
# Share-of-total via window aggregate (no second scan, no driver math).
# --------------------------------------------------------------------------


@query(
    "events_type_share",
    oracle="""
WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
SELECT event_type, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share
FROM c
""",
)
def events_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    return counts.withColumn(
        "share",
        F.col("n").cast("double") / F.sum("n").over(total).cast("double"),
    )


# --------------------------------------------------------------------------
# Fixed-width value histogram per event type (floor bucketing — integer
# arithmetic, trivially portable).
# --------------------------------------------------------------------------

@query(
    "events_hour_of_day_profile",
    oracle=f"""
SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
       event_type,
       COUNT(*) AS n_events,
       {dsum_expr('value', 6)} AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_hour_of_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.hour("ts").cast("bigint").alias("hour_of_day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("sum_value"),
        )
    )


_HIST_WIDTH = 10.0


@query(
    "events_value_histogram",
    oracle=f"""
SELECT event_type,
       CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bucket,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
""",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / _HIST_WIDTH).cast("bigint").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Per-user inter-event gap stats (lag + aggregation over derived column).
# --------------------------------------------------------------------------


@query(
    "events_user_gap_stats",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_s
  FROM events
)
SELECT user_id,
       COUNT(gap_s) AS n_gaps,
       MIN(gap_s) AS min_gap_s,
       MAX(gap_s) AS max_gap_s,
       CAST(SUM(gap_s) AS BIGINT) AS total_gap_s
FROM gaps
GROUP BY user_id
""",
)
def events_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias(
        "gap_s"
    )
    return (
        ev.select("user_id", gap)
        .groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.min("gap_s").alias("min_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
            F.sum("gap_s").alias("total_gap_s"),
        )
    )


# --------------------------------------------------------------------------
# View→click attribution (batch twin of the stream-stream interval join
# in streaming/joins.py): clicks within 30 minutes after a view by the
# same user.  The interval predicate makes this a bounded range join —
# at scale both sides bucket by user_id and the per-user time sort is
# local.
# --------------------------------------------------------------------------


@query(
    "events_view_click_attribution",
    oracle="""
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       v.ts AS v_ts,
       c.ts AS c_ts
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND c.ts > v.ts
 AND c.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
""",
)
def events_view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatamlteamrepo_spark.streaming.joins import view_click_attribution

    ev = load_table(spark, sf_dir, "events")
    return view_click_attribution(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
        within="30 minutes",
    )


# --------------------------------------------------------------------------
# Ordered funnel: view → click → purchase, each step strictly after the
# previous one for the same user.  Three conditional-min aggregations
# chained by user_id joins — every shuffle keys on user_id (uniform,
# high-cardinality), and each stage's frame shrinks (only users who
# reached the previous step).  This is the scale-safe decomposition:
# the collect-and-sort-per-user alternative holds a user's whole event
# history in one row, which a power user breaks; conditional mins
# never materialize history.
# --------------------------------------------------------------------------


@query(
    "events_funnel_view_click_purchase",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
       (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchased_after_click
""",
)
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


# --------------------------------------------------------------------------
# Weekly retention cohorts: users grouped by the ISO week of their
# first-ever event; one row per (cohort_week, activity_week) with the
# distinct-user count.  Two shuffles (first-seen agg on user_id,
# cohort-cell distinct count) — the standard cohort matrix, linear at
# any scale.  date_trunc('week') is ISO Monday-start in both engines.
# --------------------------------------------------------------------------


@query(
    "events_retention_cohorts",
    oracle="""
WITH f AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS activity_week,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN f ON f.user_id = e.user_id
GROUP BY 1, 2
""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        ev.join(first, "user_id")
        .select(
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("activity_week"),
            "user_id",
        )
        .groupBy("cohort_week", "activity_week")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# Z-order (Morton) block audit: the driver-checkable face of the
# layout tier (``sources/layout.py::write_zordered``).  Interleaving
# the bits of two key columns and grouping by a z-prefix yields blocks
# that are small hyper-rectangles in BOTH dimensions at once — the
# property parquet row-group min/max stats exploit for multi-column
# data skipping.  Pure bit arithmetic on integers: bit-identical in
# both engines by construction.
# --------------------------------------------------------------------------

#: bits per dimension for the audit query (10 ⇒ 20-bit z-values)
_ZQ_BITS = 10
#: z-prefix shift: dropping 8 low z-bits leaves 4 free bits per
#: dimension, so every block spans ≤ 2^4 codes in each dimension
_ZQ_BLOCK_SHIFT = 8
_ZQ_MOD = 1 << _ZQ_BITS


def _zq_interleave_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_ZQ_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


_ZORDER_ORACLE = f"""
WITH c AS (
  SELECT user_id % {_ZQ_MOD} AS x, event_id % {_ZQ_MOD} AS y FROM events
),
z AS (
  SELECT x, y, ({_zq_interleave_sql('x', 'y')}) >> {_ZQ_BLOCK_SHIFT} AS block
  FROM c
)
SELECT block, COUNT(*) AS n_events,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM z GROUP BY block
"""


@query("events_zorder_blocks", oracle=_ZORDER_ORACLE)
def events_zorder_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Morton-block extents of (user_id, event_id) codes: every
    block's span is ≤ 2^4 in BOTH dimensions simultaneously (asserted
    in test_layout), which is why a z-clustered write prunes scans
    filtered on either column.  One row-local interleave expression +
    one grouped agg — the audit a lakehouse OPTIMIZE job runs to
    verify clustering quality."""
    from bigdatamlteamrepo_spark.sources.layout import zvalue

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % _ZQ_MOD).alias("x"),
        (F.col("event_id") % _ZQ_MOD).alias("y"),
    )
    z = zvalue([F.col("x"), F.col("y")], bits=_ZQ_BITS)
    return (
        ev.withColumn("block", F.shiftright(z, _ZQ_BLOCK_SHIFT))
        .groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


# --------------------------------------------------------------------------
# Funnel analysis: strict-order view → click → purchase per user.
# Stage k's reach time is the MIN event time AFTER the stage-(k-1)
# reach time — the standard product-analytics funnel, computed as a
# chain of per-user conditional MIN aggregations (one row per user per
# stage, each a hash agg + a user-keyed join; no window over the raw
# event stream, no per-user sort).
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


@query(
    "events_funnel_conversion",
    oracle=f"""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS stage, '{_FUNNEL_STEPS[0]}' AS step,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(NULL AS BIGINT) AS total_elapsed_us
  FROM s1
  UNION ALL
  SELECT 2, '{_FUNNEL_STEPS[1]}', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(date_diff('microsecond', s1.t1, s2.t2)) AS BIGINT)
  FROM s2 JOIN s1 ON s2.user_id = s1.user_id
  UNION ALL
  SELECT 3, '{_FUNNEL_STEPS[2]}', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(date_diff('microsecond', s1.t1, s3.t3)) AS BIGINT)
  FROM s3 JOIN s1 ON s3.user_id = s1.user_id
)
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage funnel reach: users whose first 'view' precedes a
    later 'click' precedes a later 'purchase' (strict ts order), with
    the summed view→stage elapsed microseconds for reached stages —
    exact integers from timestamp arithmetic, no floats anywhere.

    Scale: each stage is one type-filtered hash agg (map-side combine)
    joined user-keyed to the previous stage's one-row-per-user frame —
    the k-step funnel is k bounded shuffles on user_id, never a
    per-user event sort; type pushdown reaches the scan."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    us = lambda a, b: (  # exact epoch-microsecond difference
        F.unix_micros(b) - F.unix_micros(a)
    ).cast("bigint")
    r1 = s1.agg(
        F.lit(1).alias("stage"),
        F.lit(_FUNNEL_STEPS[0]).alias("step"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.lit(None).cast("bigint").alias("total_elapsed_us"),
    )
    r2 = (
        s2.join(s1, "user_id")
        .agg(
            F.lit(2).alias("stage"),
            F.lit(_FUNNEL_STEPS[1]).alias("step"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(us(F.col("t1"), F.col("t2"))).cast("bigint").alias(
                "total_elapsed_us"
            ),
        )
    )
    r3 = (
        s3.join(s1, "user_id")
        .agg(
            F.lit(3).alias("stage"),
            F.lit(_FUNNEL_STEPS[2]).alias("step"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(us(F.col("t1"), F.col("t3"))).cast("bigint").alias(
                "total_elapsed_us"
            ),
        )
    )
    return r1.unionByName(r2).unionByName(r3)

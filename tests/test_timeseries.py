"""Resample/forward-fill structural tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.catalog import load_table
from bigdatamlteamrepo_spark.operators.timeseries import resample_ffill


def test_resample_grid_is_dense_and_filled(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = resample_ffill(ev).cache()
    # grid density: per user, rows = hours between min and max bucket + 1
    spans = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.date_trunc("hour", "ts")).alias("t0"),
            F.max(F.date_trunc("hour", "ts")).alias("t1"),
        )
        .withColumn(
            "expect",
            (F.unix_timestamp("t1") - F.unix_timestamp("t0")) / 3600 + 1,
        )
    )
    got = out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    mism = (
        got.join(spans, "user_id")
        .filter(F.col("n") != F.col("expect").cast("long"))
        .count()
    )
    assert mism == 0
    # forward fill: no null values anywhere (first bucket is observed)
    assert out.filter(F.col("value").isNull()).count() == 0
    # observed buckets carry their own value
    obs = out.filter(F.col("is_observed")).count()
    assert obs > 0
    out.unpersist()

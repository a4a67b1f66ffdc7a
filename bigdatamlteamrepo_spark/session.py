"""SparkSession factory with engine-wide defaults.

Defaults are chosen for correctness-parity with the DuckDB oracle
(UTC session timezone, ANSI off) and for scale (AQE on, Arrow on,
shuffle partitions sized to cores rather than the 200 default).

On a real cluster the same builder is used with ``master`` unset and
``spark.sql.shuffle.partitions`` sized to ~2-3× total executor cores;
locally we default to the core count of the machine.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs applied to every session the engine creates.  Each is safe on a
#: 1000-executor cluster; none is local-mode-only.
ENGINE_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce post-shuffle partitions, skew-join
    # splitting, dynamic broadcast conversion.  Essential at 100 TB where
    # static partition counts are always wrong for some stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every toPandas()/pandas_udf boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The DuckDB oracle compares timestamps as UTC-naive values.
    "spark.sql.session.timeZone": "UTC",
    # The local corpus is few-MB single parquet files; 16m splits them
    # across cores (row-group permitting).  On a real cluster raise to
    # the 128m default — file counts provide the parallelism there.
    "spark.sql.files.maxPartitionBytes": "16m",
    # Deterministic FP-adjacent behavior; ANSI interval parsing etc.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "bigdatamlteamrepo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores)
    when no cluster master is configured; pass an explicit master (or
    run under spark-submit) for cluster mode.
    """
    par = _default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{par}]"
    if master:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or par)
    # Local mode = single JVM: the driver holds everything.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    conf.setdefault("spark.ui.enabled", "false")
    if extra_conf:
        conf.update(extra_conf)
    if master and master.startswith("local"):
        # Python workers import the package (pandas UDFs, mapInPandas)
        # from wherever the driver was started: put its parent dir on
        # their path, ahead of any path already configured.
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (pkg_parent, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

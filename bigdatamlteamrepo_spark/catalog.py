"""Table catalog: explicit schemas + loaders for the engine's corpus.

The reference infers every schema at read time (pandas dtype inference
``model.py:39``; Spark JSON inference ``MLP.ipynb:c0:13``).  This engine
pins explicit ``StructType`` schemas per source (SURVEY.md §1.2): at
100 TB an inference pass is a full extra scan, and inferred types break
oracle hash comparison.

Tables are the driver-generated TPC-H-ish star schema plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings``
(vector corpus) under ``/root/testdata/sf*/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
}

#: Physical read schema where it differs from the logical schema above.
#: events.ts has been generated as BOTH nanosecond- and microsecond-
#: precision INT64 across driver rounds.  Spark has no nanosecond
#: TimestampType, so for ns files we read the raw long (legacy
#: nanosAsLong) and truncate to microseconds, matching DuckDB's ns→µs
#: behavior; µs files read natively.  :func:`events_ts_unit` sniffs the
#: parquet footer (one cheap metadata read, cached per path) so the
#: engine never assumes which encoding a given dataset carries.
_PHYSICAL_SCHEMAS: dict[str, T.StructType] = {
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
}

TABLE_SCHEMAS["documents"] = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)
TABLE_SCHEMAS["embeddings"] = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

_TS_UNIT_CACHE: dict[str, str] = {}


def _first_parquet_footer(path: str):
    """ParquetFile for ``path`` or its first parquet child, resolving the
    filesystem from the URI (pyarrow.fs): works for local paths and for
    object-store/HDFS URIs (s3://…, hdfs://…) — the 100 TB deployment
    never stores events on the driver's local disk."""
    import pyarrow.fs as _pafs
    import pyarrow.parquet as _pq

    if "://" in path:
        fs, fs_path = _pafs.FileSystem.from_uri(path)
    else:
        fs, fs_path = _pafs.LocalFileSystem(), path
    info = fs.get_file_info(fs_path)
    if info.type == _pafs.FileType.Directory:
        children = sorted(
            i.path
            for i in fs.get_file_info(_pafs.FileSelector(fs_path, recursive=True))
            if i.type == _pafs.FileType.File and i.path.endswith(".parquet")
        )
        if not children:
            raise FileNotFoundError(f"no parquet files under {path!r}")
        fs_path = children[0]
    return _pq.ParquetFile(fs.open_input_file(fs_path))


def events_ts_unit(path: str) -> str:
    """Timestamp unit ('ns' or 'us') of an events parquet file/directory,
    read from the parquet footer (cached per path).  Footer
    metadata is the source of truth — at 100 TB you cannot afford a data
    scan to discover the encoding, and the driver has shipped both
    encodings across rounds."""
    if path not in _TS_UNIT_CACHE:
        pf = _first_parquet_footer(path)
        idx = pf.schema_arrow.get_field_index("ts")
        if pf.metadata.schema.column(idx).physical_type == "INT96":
            # legacy INT96 timestamps (Spark's default writer output):
            # pyarrow reports them as timestamp[ns], but Spark reads them
            # natively as µs TimestampType — the nanosAsLong long-read
            # path would crash on them
            _TS_UNIT_CACHE[path] = "us"
        else:
            ts_type = pf.schema_arrow.field("ts").type
            _TS_UNIT_CACHE[path] = getattr(ts_type, "unit", "us")
    return _TS_UNIT_CACHE[path]


#: Dimension tables small enough to always broadcast in a join
#: (region/nation are bounded; supplier/part/customer are bounded at the
#: driver's scale factors but NOT at 100 TB — treat only the first two as
#: unconditionally broadcastable).
BROADCAST_DIMS = frozenset({"region", "nation"})


def maybe_broadcast(df: DataFrame, table: str) -> DataFrame:
    """Broadcast-hint only the policy-listed bounded dims.

    Everything else (customer, supplier, part, facts) is left to the
    planner: a 100 TB customer side must never be force-broadcast, and
    at small SFs AQE still picks a broadcast join on its own from the
    runtime size — so correctness AND small-scale plans are unchanged,
    but the hint no longer lies at scale.
    """
    from pyspark.sql import functions as F

    return F.broadcast(df) if table in BROADCAST_DIMS else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table with its pinned schema.

    The explicit schema skips footer-merge inference and guarantees
    stable types for the oracle; column pruning + predicate pushdown
    still apply (schema here is the full physical schema).
    """
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    if name == "events" and events_ts_unit(f"{sf_dir}/{name}.parquet") == "ns":
        # Runtime-settable legacy conf: nanos timestamps surface as long.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        raw = spark.read.schema(_PHYSICAL_SCHEMAS[name]).parquet(
            f"{sf_dir}/{name}.parquet"
        )
        # integer `div`, not `/`: epoch-nanos exceeds double's 2^53 exact range
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load several tables as a dict of DataFrames."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_SCHEMAS)}

"""Explicit-schema readers for the reference's source formats
(SURVEY §2.1).

The reference infers every schema (pandas ``read_csv`` dtype inference,
``spark.read.json`` schema inference over multiline JSON — a full extra
pass).  Engine rule: every reader takes a pinned ``StructType``.

Covered: S1 CSV (header), S2 multiline JSON, S3 remote-fetch →
out-of-band ingest convention (fetch once, land parquet, engine reads
parquet — ``ingest_to_parquet``), S6 metrics-log CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: allergen-corpus / RecipeNLG-analogue schemas (FIXTURES §1-2)
RECIPES_JSON_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("ingredients", T.ArrayType(T.StringType())),
        T.StructField("directions", T.ArrayType(T.StringType())),
        T.StructField("ner", T.ArrayType(T.StringType())),
    ]
)

RECIPES_CSV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("ingredients", T.StringType()),   # stringified list (F7)
        T.StructField("directions", T.StringType()),
        T.StructField("link", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ner", T.StringType()),
    ]
)

RESTAURANTS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("restaurant_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("ratings", T.DoubleType()),
        T.StructField("full_address", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lng", T.DoubleType()),
        T.StructField("category", T.StringType()),
    ]
)

METRICS_LOG_SCHEMA = T.StructType(
    [
        T.StructField("step", T.LongType()),
        T.StructField("epoch", T.LongType()),
        T.StructField("train_loss", T.DoubleType()),
        T.StructField("val_loss", T.DoubleType()),
    ]
)


class CsvHeaderMismatch(ValueError):
    """A pinned-schema column is absent from the CSV header."""


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S1: header CSV with pinned schema (no inference pass).

    Columns are matched to ``schema`` by header NAME, as the
    reference's pandas readers do: handed a schema, Spark would bind
    fields by position and only warn when the header disagrees, so a
    file written in another column order (``MetricsCsvLogger`` writes
    keys in first-seen order) would load silently shuffled.  The header
    line is read once (no type inference); header columns the schema
    does not name are read as strings and dropped.  Raises
    :class:`CsvHeaderMismatch` when a schema column is missing.
    """
    header = spark.read.csv(path, header=True).columns
    missing = [f.name for f in schema.fields if f.name not in header]
    if missing:
        raise CsvHeaderMismatch(
            f"{path}: header {header} lacks schema column(s) {missing}"
        )
    by_name = {f.name: f for f in schema.fields}
    file_schema = T.StructType(
        [by_name.get(c, T.StructField(c, T.StringType())) for c in header]
    )
    return spark.read.csv(path, header=True, schema=file_schema).select(
        *schema.fieldNames()
    )


def read_multiline_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2: multiline JSON with pinned schema.

    The reference's ``option("multiline","true").json(path)`` with
    inference reads the file twice; the explicit schema reads once.
    Note multiline JSON is *not splittable* — a single huge file becomes
    one task.  At scale, land JSON as many files (or convert to
    parquet via :func:`ingest_to_parquet`).
    """
    return spark.read.option("multiline", "true").schema(schema).json(path)


def read_metrics_log(spark: SparkSession, path: str) -> DataFrame:
    """S6 source side: Lightning CSVLogger ``metrics.csv``."""
    return read_csv(spark, path, METRICS_LOG_SCHEMA)


def ingest_to_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S3 convention: any remote/raw source is landed as parquet once;
    all engine queries read the parquet.  Partition columns become
    directory partitions (partition pruning at scale)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# --------------------------------------------------------------------------
# Columnar + raw formats beyond the reference's CSV/JSON surface.
# ORC ships in Spark's default classpath (orc-core on the jars dir), so
# it's a first-class interchange format; text/binaryFile cover raw-blob
# ingest (one row per line / one row per file) for corpus onboarding.
# XML is BUILT INTO Spark 4 (the spark-xml package was upstreamed), so
# it gets a first-class reader/sink.  Avro/Delta/Iceberg/Kafka need
# external packages not present in this runtime — read_avro raises
# with that context rather than half-working.
# --------------------------------------------------------------------------


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """ORC scan with a pinned schema (same no-inference rule as CSV)."""
    return spark.read.format("orc").schema(schema).load(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite").format("orc")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per line (column ``value: string``) — raw corpus intake."""
    return spark.read.text(path)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """One row per file: (path, modificationTime, length, content) —
    the ingest shape for opaque media blobs (sources/multimodal.py
    consumes the ``content`` binary column)."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML scan (built into Spark 4 — no external spark-xml package):
    one row per ``row_tag`` element.  Pin ``schema`` in production (the
    same no-inference rule as CSV/JSON; inference reads the data
    twice).  Like multiline JSON, one XML document is one task — land
    many files (or convert once via :func:`ingest_to_parquet`) at
    scale."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """XML sink (interchange/export only — keep engine-internal data in
    parquet/ORC; XML is row-tag text, neither columnar nor splittable
    per document)."""
    df.write.mode("overwrite").format("xml").option("rowTag", row_tag).save(
        path
    )


def read_avro(spark: SparkSession, path: str):
    """Avro needs the external spark-avro package; absent here."""
    raise NotImplementedError(
        "Avro requires the spark-avro package on the classpath; this "
        "runtime ships only avro-core (used internally by Spark). "
        "Add org.apache.spark:spark-avro_2.13 and use "
        "spark.read.format('avro')."
    )


# --------------------------------------------------------------------------
# Robust ingest: malformed-record capture and schema evolution — the
# two failure modes a long-lived 100 TB ingest pipeline hits weekly
# (upstream emits a bad line; upstream adds a column).
# --------------------------------------------------------------------------


def read_json_with_corrupt_capture(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """PERMISSIVE JSON read: rows matching ``schema`` parse normally,
    malformed lines land whole in ``corrupt_col`` (NULL elsewhere) so
    the pipeline can route them to a quarantine sink instead of failing
    the job or silently dropping data."""
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt_col, T.StringType())])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every file under
    ``path`` (``mergeSchema``); files missing a column yield NULLs.
    Footer-merge cost scales with file count, so keep it for evolving
    landing zones — compacted tables should pin one schema."""
    return spark.read.option("mergeSchema", "true").parquet(path)

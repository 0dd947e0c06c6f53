"""Batch + streaming source readers (SURVEY §2.1 S1/S2).

The reference loads purchase CSVs with pandas inference
(/root/reference/main.py:98, core/inference.py:81). Engine rule: every read
carries a declared StructType — no ``inferSchema`` in production paths
(inference costs an extra pass at scale and drifts silently).

``read_csv`` covers the reference's historical/inference CSV inputs;
``read_json`` rounds out the batch formats;
``stream_source`` is the streaming twin (same declared schema) feeding the
inference pipeline, with ``maxFilesPerTrigger`` as the micro-batch sizing
knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PURCHASES_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.LongType()),
        T.StructField("purchase_timestamp", T.TimestampType()),
        T.StructField("purchase_value", T.DoubleType()),
        T.StructField("loyalty_score", T.DoubleType()),
    ]
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    timestamp_format: str | None = None,
) -> DataFrame:
    reader = spark.read.schema(schema).option("header", header)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as a bucketed (+ optionally sorted) catalog table.

    Bucketing is the storage half of a co-located join: two tables
    bucketed by the same key into the same bucket count join with NO
    Exchange — each task reads matching bucket files from both sides
    (and with ``sort_cols`` == join key, no Sort either). At 100 TB this
    turns the recurring fact-to-fact shuffle (the most expensive stage in
    the plan) into a one-off layout cost at write time, exactly like
    clustered/bucketed tables in Hive/Iceberg.
    """
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def stream_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "csv":
        return reader.option("header", True).csv(path)
    if fmt == "json":
        return reader.json(path)
    raise ValueError(f"unsupported stream format {fmt!r}")


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    corrupt_col: str = "_corrupt_record",
    header: bool = True,
) -> DataFrame:
    """PERMISSIVE semi-structured read with a quarantine column — the
    ingest twin of the codec layer's errors-as-data contract: a malformed
    JSONL/CSV line at row 3 billion must become a quarantined ROW, never
    a dead stage. Parsed rows carry NULL in ``corrupt_col``; unparseable
    lines land verbatim there with the data columns NULL, so downstream
    splits (``split_quarantine``) can route them to a dead-letter sink
    with full lineage. Declared schema only — never inferSchema.
    """
    q = T.StructType(list(schema.fields) + [T.StructField(corrupt_col, T.StringType())])
    reader = (
        spark.read.schema(q)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if fmt == "json":
        return reader.json(path)
    if fmt == "csv":
        return reader.option("header", header).csv(path)
    raise ValueError(f"unsupported quarantine format {fmt!r}")


def split_quarantine(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) split of a ``read_with_quarantine`` frame.

    Spark disallows plans that reference ONLY the internal corrupt
    column of a raw-file relation (a count() on the quarantine side
    prunes down to exactly that), so the split caches the parsed frame
    first — the documented Spark workaround, and what an ingest job
    wants anyway: one parse feeding both sinks. Caller unpersists when
    both sides are written.
    """
    from pyspark.sql import functions as F

    df = df.cache()
    good = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.where(F.col(corrupt_col).isNotNull())
    return good, bad

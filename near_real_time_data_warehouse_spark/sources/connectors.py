"""Source/sink connector surface (SURVEY.md §2.1 S1–S8).

The reference's I/O surface is CSV-in (schema-on-read with typed casts)
and MySQL-out (row-at-a-time JDBC). Spark-first, that becomes: explicit
StructType readers for CSV/JSON/Parquet/ORC, set-oriented writers with
Parquet as the canonical warehouse format, and JDBC parity available
through ``df.write.jdbc`` when a driver jar is on the classpath. Lake
formats (Delta/Iceberg/Hudi) need their jars — gated behind import-try
and reported via ``available_formats``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | None = None,
    streaming: bool = False,
    **options,
) -> DataFrame:
    """Format-dispatching reader with explicit schema (never inferSchema in
    production paths — a schema scan is a full extra pass at 100 TB)."""
    reader = spark.readStream if streaming else spark.read
    reader = reader.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", True)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    elif streaming:
        raise ValueError("streaming readers require an explicit schema")
    return reader.load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
    bucket_spec: tuple[int, str] | None = None,
    table_name: str | None = None,
) -> None:
    """Canonical warehouse writer. ``partition_by`` maps to hive-style
    directory partitioning (enables partition pruning); ``bucket_spec``
    (n, col) buckets via saveAsTable so later joins/aggs on the bucket
    column skip their shuffle — the 100 TB answer to the ETL's
    lineitem⋈orders shuffle."""
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", True)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_spec is not None:
        if table_name is None:
            raise ValueError("bucketing requires saveAsTable; pass table_name")
        n, col = bucket_spec
        writer.option("path", path).bucketBy(n, col).sortBy(col).saveAsTable(table_name)
        return
    writer.save(path)


def available_formats(spark: SparkSession) -> dict[str, bool]:
    """Probe which optional formats this runtime can actually load."""
    out = {"parquet": True, "csv": True, "json": True, "orc": True}
    for fmt, probe_class in (
        ("delta", "io.delta.tables.DeltaTable"),
        ("iceberg", "org.apache.iceberg.spark.SparkCatalog"),
        ("avro", "org.apache.spark.sql.avro.AvroFileFormat"),
    ):
        try:
            spark._jvm.java.lang.Class.forName(probe_class)  # noqa: SLF001
            out[fmt] = True
        except Exception:  # noqa: BLE001 — absence is the expected case
            out[fmt] = False
    return out

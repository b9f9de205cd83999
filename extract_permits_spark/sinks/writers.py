"""Canonical data sinks (SURVEY.md §2.1 S5, S9, S10 analogs).

The engine's canonical outputs are parquet (optionally partitioned); the
Excel presentation layer is a separate driver-side adapter
(excel_sink.py). At 100 TB every sink here is a distributed write — no
driver collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from extract_permits_spark.operators.windows import batch_ids


def write_canonical(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink, optionally hive-partitioned (e.g. by validation bucket
    or batch id). Mirrors the reference's CSV cache/materialization
    (chicago/permit_cleaning.py:510-513) with a format that scales."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_upload_batches(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    batch_size: int = 250,
) -> None:
    """S9/O5: the reference writes upload files in 250-row chunks with
    per-batch renumbered ``# [LLINE]``
    (format_reviewed_permits_for_upload.py:279-299). Distributed analog:
    batch id via window → one directory per batch via partitionBy."""
    batched = batch_ids(df, order_cols, batch_size=batch_size)
    batched.write.mode("overwrite").partitionBy("batch").parquet(path)


def cached_dimension(
    spark: SparkSession, build, cache_path: str, schema=None
) -> DataFrame:
    """S5: year-keyed dimension cache — read if materialized, else build
    and persist (reference: PIN-universe CSV cache,
    chicago/permit_cleaning.py:510-536,1158-1167)."""
    import os

    if os.path.exists(os.path.join(cache_path, "_SUCCESS")):
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(cache_path)
    df = build()
    df.write.mode("overwrite").parquet(cache_path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(cache_path)


def write_csv_dimension(df: DataFrame, path: str) -> None:
    """CSV interop sink, matching the reference's cache format exactly
    (header row, comma-delimited, quoted as needed —
    chicago/permit_cleaning.py:510-513 writes the PIN universe this way).
    Parquet (`cached_dimension`) is the scale-correct cache; this exists
    so a migrating user can keep feeding downstream tools that expect
    the reference's CSVs."""
    df.write.mode("overwrite").option("header", True).csv(path)


def read_csv_dimension(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV interop source for reference-era caches. With an explicit
    schema the read is single-pass; without one we DON'T let Spark
    silently infer (that double-reads the data and can flip types
    between runs) — everything arrives as string, typed downstream like
    every other ingest in this engine (readers.py's all-string policy)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def write_sorted_for_pruning(
    df: DataFrame, path: str, sort_cols: list[str], **options
) -> None:
    """Parquet sink laid out for row-group skipping: sortWithinPartitions
    on the filter columns so each row group's min/max stats are tight —
    a point/range filter then skips most of the file at scan time. At
    100 TB this (plus partitioning on the coarse key) is the difference
    between reading a file and reading a row group."""
    w = df.sortWithinPartitions(*sort_cols).write.mode("overwrite")
    if options:  # e.g. parquet.block.size to bound row-group span
        w = w.options(**options)
    w.parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in `df`, leave every other partition's files untouched. This is the
    incremental-rewrite primitive (recompute yesterday, keep history) —
    static overwrite mode would drop the whole table. Per-write option,
    not a session conf, so concurrent writers aren't affected."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )

"""Output sinks — recast of the reference's writers (SURVEY.md §2.1 S7-S9).

* CSV sink (src/nyx/output_2_csv.cpp:262-470): per-run append with a fixed
  header → df.write.csv (tests/interop only; never the scale path).
* Arrow-IPC / Parquet sink (src/nyx/output_2_apache.cpp, output_writers.h:
  26-92): streaming RecordBatch writer → native parquet / Arrow IPC via
  toArrow (driver-side, small results) or df.write.parquet.
* pandas buffer sink (src/nyx/output_2_buffer.cpp, results_cache.h:5-42):
  string+numeric column buffers → df.toPandas() over Arrow.
* Iceberg table sink: the 100 TB path — df.writeTo(table) with a
  bucket(doc_id) partition spec. The sandbox ships no Iceberg runtime jar, so
  this raises with instructions unless the catalog is configured; the
  parquet+manifest path (checkpoint.py) is the sandbox equivalent.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame


def to_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def to_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def to_json(df: DataFrame, path: str) -> None:
    """Newline-delimited JSON sink (one object per row)."""
    df.write.mode("overwrite").json(path)


def to_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def to_pandas(df: DataFrame) -> pd.DataFrame:
    """Arrow-backed pandas materialization (driver-side; small results)."""
    return df.toPandas()


def to_arrow_ipc(df: DataFrame, path: str) -> None:
    """Write an Arrow IPC (Feather v2) file — driver-side collect, so only for
    result tables that fit the driver (like the reference's single-slide
    Arrow output)."""
    import pyarrow as pa
    import pyarrow.feather as feather

    tbl = pa.Table.from_pandas(df.toPandas())
    feather.write_feather(tbl, path)


def to_iceberg(df: DataFrame, table: str, bucket_col: str = "doc_id", n_buckets: int = 256) -> None:
    """Append to an Iceberg table partitioned by bucket(doc_id).

    Requires an Iceberg catalog on the session (spark.sql.catalog.* conf +
    runtime jar). The sandbox has neither, so this raises with guidance —
    the write itself is one line once the catalog exists.
    """
    spark = df.sparkSession
    has_catalog = any(
        k.startswith("spark.sql.catalog.") for k, _ in spark.sparkContext.getConf().getAll()
    )
    if not has_catalog:
        raise NotImplementedError(
            "no Iceberg catalog configured on this session; add "
            "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog and the "
            "iceberg-spark-runtime jar, then df.writeTo(table).append() — at scale "
            f"create the table PARTITIONED BY (bucket({n_buckets}, {bucket_col}))"
        )
    df.writeTo(table).append()


def _training_order(df: DataFrame, epoch: int, id_expr,
                    n_files: int | None) -> DataFrame:
    """The frame `write_training_order` writes: `df` plus `__order_key`,
    range-partitioned and sorted within partitions on that key."""
    from nyxus_spark.functions import epoch_shuffle_key

    keyed = df.withColumn("__order_key", epoch_shuffle_key(id_expr, epoch))
    ranged = (keyed.repartitionByRange("__order_key") if n_files is None
              else keyed.repartitionByRange(n_files, "__order_key"))
    return ranged.sortWithinPartitions("__order_key")


def write_training_order(
    df: DataFrame,
    path: str,
    epoch: int,
    id_expr,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize one epoch's GLOBAL training order: rows range-partitioned
    and sorted by the deterministic epoch-shuffle key
    (functions.epoch_shuffle_key), so file 0 < file 1 < … and each file is
    internally sorted — a sequential reader sees the full reproducible
    permutation without any driver-side sort. The key is data-independent
    (a mix of the id), so at 100 TB the RangePartitioning sampling is over
    a uniform key space — no skew regardless of id clustering. One Exchange
    (rangepartitioning) + in-partition sort, then a plain parquet write.

    `n_files=None` (the default) sizes the files from the data: the range
    exchange has no fixed count, so it splits the key space into Spark's
    initial shuffle partition count
    (`spark.sql.adaptive.coalescePartitions.initialPartitionNum` if set,
    otherwise `spark.sql.shuffle.partitions`), and AQE's partition
    coalescing merges adjacent ranges up to a target size. With AQE's
    default settings that target is the epoch's shuffle output divided by
    `defaultParallelism`, at least 1 MB
    (`coalescePartitions.minPartitionSize`) and at most 64 MB
    (`advisoryPartitionSizeInBytes`): an epoch under 1 MB is one file, a
    mid-sized one about one file per core, and no epoch gets more files
    than the initial count. With AQE or its coalescing off, every range
    of `spark.sql.shuffle.partitions` is a file (empty ranges write none).
    Merging only adjacent ranges keeps the layout: the same rows in the
    same global order. An explicit `n_files` splits the key space into
    exactly that many ranges, which AQE never coalesces."""
    (_training_order(df, epoch, id_expr, n_files)
     .write.mode(mode).parquet(path))


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str | None = None,
    n_buckets: int = 32,
    bucket_col: str = "doc_id",
    sort_cols: tuple[str, ...] = ("doc_id", "ts"),
    mode: str = "overwrite",
) -> None:
    """Write a table bucketed + sorted on the key (Iceberg analog:
    bucket(doc_id) partition transform + sorted data files).

    A groupBy on the bucket column, or a join of two tables bucketed the
    same way, is satisfied by the bucketed scans and plans with ZERO
    Exchange (EXPLAIN.md: bucketed aggregation, MERGE/upsert). The as-of
    join does not benefit: Union discards child distributions in Spark, so
    its union_window plan still pays its one Exchange.
    """
    w = df.write.bucketBy(n_buckets, bucket_col).sortBy(*sort_cols).mode(mode)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_sized(df: DataFrame, path: str, target_rows_per_file: int,
                total_rows: int | None = None) -> int:
    """Parquet writer with FILE-SIZE control — the small-file / giant-file
    guard a 100 TB pipeline needs at every sink: target a fixed row count
    per output file by repartitioning to ceil(total/target) even-sized
    partitions AND capping with maxRecordsPerFile (the cap alone cannot
    MERGE small partitions; the repartition alone cannot split a surprise
    giant one — together they bound the file size from both ends).

    `total_rows` skips the count scan when the caller already knows it
    (Iceberg/manifest stats at scale; the count() fallback is one
    columnar-metadata pass on parquet sources). Returns the partition
    count used.

    Reference analog: nyxus splits CSV output per slide/segment rather
    than one unbounded file (output_writers.h:26-92)."""
    if target_rows_per_file <= 0:
        raise ValueError(f"target_rows_per_file must be > 0, got {target_rows_per_file}")
    n = total_rows if total_rows is not None else df.count()
    parts = max(1, -(-n // target_rows_per_file))
    (df.repartition(parts)
       .write.option("maxRecordsPerFile", target_rows_per_file)
       .mode("overwrite").parquet(path))
    return parts


def merge_upsert(
    old: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO analog (the Iceberg/Delta lakehouse upsert contract)
    expressed as ONE full-outer join:

      WHEN MATCHED AND <delete>      THEN DELETE
      WHEN MATCHED                   THEN UPDATE (update row wins)
      WHEN NOT MATCHED AND NOT <del> THEN INSERT
      old rows with no update pass through unchanged;
      a delete for a key that does not exist is a no-op.

    `updates` must carry old's column set (plus the optional boolean
    `delete_col`) and AT MOST ONE row per key — the standard MERGE
    cardinality precondition (a duplicate update key would fan out the
    join; enforce upstream with exact_dedup where updates may collide).

    Scale shape: one full-outer equi-join on the keys — with both sides
    bucketed on the key (sinks.write_bucketed; Iceberg bucket(id)) the
    plan is exchange-free, which is exactly how a 100 TB MERGE must run;
    the output is written back with dynamic partition overwrite so only
    touched partitions rewrite (see ivf_index_compact for the pattern)."""
    from pyspark.sql import functions as F

    data_cols = [c for c in old.columns if c not in key_cols]
    for c in data_cols:
        if c not in updates.columns:
            raise ValueError(f"updates is missing column {c!r}")
    o = old.select(
        *key_cols,
        *[F.col(c).alias(f"__o_{c}") for c in data_cols],
        F.lit(1).alias("__in_old"),
    )
    u = updates.select(
        *key_cols,
        *[F.col(c).alias(f"__u_{c}") for c in data_cols],
        (F.col(delete_col) if delete_col else F.lit(False))
        .cast("boolean").alias("__del"),
        F.lit(1).alias("__in_upd"),
    )
    j = o.join(u, key_cols, "full_outer")
    keep_old = F.col("__in_old").isNotNull() & F.col("__in_upd").isNull()
    alive = (
        # matched + delete → drop; unmatched delete → no-op (drop too)
        ~F.coalesce(F.col("__del"), F.lit(False))
    )
    return (
        j.filter(alive)
        .select(
            *key_cols,
            *[
                F.when(keep_old, F.col(f"__o_{c}"))
                .otherwise(F.col(f"__u_{c}"))
                .alias(c)
                for c in data_cols
            ],
        )
    )

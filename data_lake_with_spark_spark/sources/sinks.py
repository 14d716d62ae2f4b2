"""Sinks (SURVEY.md §2 B1-B3).

The reference writes parquet three ways (``/root/reference/etl.py``):
overwrite+partitioned (B1: etl.py:99-102, 242-245, 305-308),
overwrite unpartitioned (B2: etl.py:126-128, 204-206 — a plain
``df.write.mode("overwrite").parquet(path)``, no wrapper), with the
v2 output committer (B3: etl.py:37 — set session-wide in session.py).

Scale additions the reference lacks:

- :func:`write_partitioned` guards against the small-files problem
  (etl.py:101 partitions songs by (year, artist_id) — at catalog
  scale that is millions of tiny directories): optional per-partition
  file targeting via a repartition on the partition keys.
- :func:`write_bucketed` persists a bucketed table so repeated
  equi-joins/aggregations on the bucket key skip their shuffle
  entirely (requires saveAsTable — bucket metadata lives in the
  catalog, not the directory layout).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    compact: bool = True,
) -> None:
    """B1: Hive-style partitioned parquet write (etl.py:99-102).

    ``compact=True`` repartitions by the partition columns first so
    each output directory gets one file per shuffle partition that
    holds that key — without it, every input task writes a file into
    every partition dir it touches (tasks × partitions small files).
    """
    out = df.repartition(*partition_cols) if compact else df
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) managed table.

    Joins between two tables bucketed the same way on the join key
    run shuffle-free (SortMergeJoin reads co-located buckets); at
    100 TB this converts every repeated fact⋈fact join from a full
    shuffle into a local merge.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_sorted(
    df: DataFrame,
    path: str,
    range_cols: Sequence[str],
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, within-partition-sorted parquet write.

    ``repartitionByRange`` + ``sortWithinPartitions`` clusters rows by
    the sort key across files AND inside each file, so parquet
    row-group min/max statistics (zone maps) become selective: a
    point/range predicate on the key prunes most row groups at scan
    time without any index. This is the layout step that makes
    time-series and key-range scans cheap at 100 TB.
    """
    cols = [*range_cols]
    out = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    out.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_mb)`` files at ``out_path`` and return
    that file count.

    The maintenance half of the lakehouse story (Delta OPTIMIZE /
    Iceberg rewrite_data_files): streaming micro-batches, per-key
    partitionBy dirs (etl.py:101's (year, artist_id) layout — SURVEY
    §4), and CDC version snapshots all accrete files far smaller than
    a scan-efficient split, and at 100 TB the open/seek overhead of
    millions of tiny files dominates scan time. Sizing reads the
    source's actual byte size through the Hadoop FileSystem API (no
    row count job), and the rewrite uses ``coalesce`` — a NO-shuffle
    narrow repack of existing partitions — not ``repartition``.
    Writing to a fresh directory keeps the swap atomic at directory
    granularity (same contract as the lakehouse snapshot versions);
    readers of ``path`` are never disturbed.
    """
    import math

    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    spark.read.parquet(path).coalesce(n_files).write.mode(
        "overwrite"
    ).parquet(out_path)
    return n_files


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 16,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write: rows are range-partitioned and
    sorted by the Morton interleave of two pre-bucketed dimensions
    (functions/zorder.py), then the code itself is dropped — the
    payoff is that BOTH dimension columns end up with tight per-file /
    per-row-group min-max statistics, so a 2-D box predicate prunes
    most of the table from zone maps alone (the Delta/Iceberg
    ``ZORDER BY`` layout, built from repartitionByRange +
    sortWithinPartitions). A single-key sort (``write_sorted``)
    clusters only its own key; the second dimension stays scattered
    across every file and its zone maps prune nothing.
    """
    from data_lake_with_spark_spark.functions.zorder import with_zvalue

    zdf = with_zvalue(df, x_col, y_col, bits, out_col="__z")
    out = (
        zdf.repartitionByRange(num_partitions, "__z")
        if num_partitions
        else zdf.repartitionByRange("__z")
    )
    out.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)

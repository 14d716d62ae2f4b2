"""Versioned-Parquet snapshot tables for the MERGE/CDC family.

A table is a directory of immutable ``v000042/`` snapshot directories.
Each write (:func:`merge_upsert`, :func:`delete_keys`,
:func:`apply_cdc`) reads the latest version through
:func:`read_snapshot` and writes the next, so readers never observe a
half-written snapshot and the swap is atomic at directory granularity
(object-store safe). The MERGE itself is relational.upsert_snapshot's
full-outer-join + COALESCE plan (one key shuffle per side, zero if both
sides are bucketed on the key). Prior versions stay on disk for audit
until a caller expires them. :func:`compaction_plan` bins a file
listing for a small-file rewrite.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through Hadoop's pluggable FS —
    resolves local paths, ``s3a://``, ``hdfs://``, ``abfss://`` etc.
    identically, so the listing below works wherever Spark can read.
    Driver-local ``glob``/``os.listdir`` would silently return nothing
    for an object-store URI (and a merge would then drop the base
    rows), which is why all snapshot discovery goes through here."""
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, hpath


def list_versions(spark: SparkSession, path: str) -> list[str]:
    """Sorted ``v*`` snapshot directory URIs under ``path`` (possibly
    empty), listed through the Hadoop FileSystem API."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        p = status.getPath()
        if status.isDirectory() and p.getName().startswith("v"):
            out.append(p.toString())
    return sorted(out)


def read_snapshot(spark: SparkSession, path: str) -> DataFrame | None:
    """Latest committed snapshot, or None before the first commit."""
    versions = list_versions(spark, path)
    if not versions:
        return None
    return spark.read.parquet(versions[-1])


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    version: int,
) -> None:
    """Upsert ``updates`` into the snapshot at ``path`` as a new
    immutable version. ``version`` must be monotonic per caller
    (the streaming path passes the micro-batch id, which Spark
    guarantees monotonic under a checkpoint)."""
    from data_lake_with_spark_spark.operators.relational import (
        upsert_snapshot,
    )

    base = read_snapshot(spark, path)
    merged = updates if base is None else upsert_snapshot(
        base, updates, keys=list(keys)
    )
    merged.write.mode("overwrite").parquet(
        os.path.join(path, f"v{version:06d}")
    )


def delete_keys(
    spark: SparkSession,
    path: str,
    tombstones: DataFrame,
    keys: Sequence[str],
    version: int,
) -> None:
    """GDPR-style erasure: write a new snapshot version without
    any row matching a tombstone key (right-to-be-forgotten /
    opt-out removal — the deletion half of the MERGE family).

    One left_anti join on the key: the snapshot side stays
    hash-partitioned on its key, and AQE broadcasts the tombstone
    side when it is small (the usual case — deletion lists are
    KBs against a 100 TB table), so at scale this is a map-side
    filter over the snapshot scan, never a shuffle of the table.
    Writing a fresh immutable version keeps readers consistent
    and leaves prior versions for audit until compaction/vacuum
    removes them (real erasure compliance must also expire old
    versions — same lifecycle as Delta VACUUM).

    No-op (still writes the new version) when the table is empty;
    raises if no snapshot exists, since deleting from nothing is
    almost certainly a caller bug (wrong path).
    """
    base = read_snapshot(spark, path)
    if base is None:
        raise ValueError(
            f"delete_keys: no snapshot at {path!r} — nothing to delete from"
        )
    kept = base.join(
        tombstones.select(*keys).distinct(), on=list(keys), how="left_anti"
    )
    kept.write.mode("overwrite").parquet(
        os.path.join(path, f"v{version:06d}")
    )


def apply_cdc(
    spark: SparkSession,
    path: str,
    latest: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    version: int,
    op_col: str | None = None,
    delete_op: str = "D",
) -> None:
    """Ordering-safe CDC apply in ONE new snapshot version.

    ``latest`` must already be reduced to one row per key (the
    caller's per-batch winner). Semantics, identical for any
    batch split of the same change set:

    - a change replaces the snapshot row only when it is NEWER by
      ``order_cols`` (lexicographic, descending — ties keep the
      existing snapshot row), so an out-of-order/replayed batch
      can never clobber a newer state;
    - when ``op_col`` is given and the key's winning change has
      ``op == delete_op``, the key is REMOVED — but only if the
      delete is newer than the snapshot row it tombstones.

    One union + row_number per key + anti-join, one atomic
    version-directory write; shuffles on the merge keys only.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    base = read_snapshot(spark, path)
    ups, dels = latest, None
    if op_col is not None:
        dels = latest.where(SF.col(op_col) == delete_op)
        ups = latest.where(
            SF.col(op_col).isNull() | (SF.col(op_col) != delete_op)
        ).drop(op_col)
    if base is None:
        merged = ups
    else:
        order = [SF.col(c).desc() for c in order_cols]
        w = Window.partitionBy(*keys).orderBy(
            *order, SF.col("_is_base").desc()
        )
        merged = (
            ups.withColumn("_is_base", SF.lit(0))
            .unionByName(base.withColumn("_is_base", SF.lit(1)))
            .withColumn("_rn", SF.row_number().over(w))
            .where(SF.col("_rn") == 1)
            .drop("_is_base", "_rn")
        )
    if dels is not None:
        # remove a key only when the delete is at least as new as
        # the merged row (lexicographic >= over order_cols): an
        # out-of-order delete must not tombstone a newer state.
        ge = None  # d >= m, built as (d>m at first diff) OR all-eq
        eq = SF.lit(True)
        for c in order_cols:
            gt = eq & (SF.col(f"d.{c}") > SF.col(f"m.{c}"))
            ge = gt if ge is None else (ge | gt)
            eq = eq & (SF.col(f"d.{c}") == SF.col(f"m.{c}"))
        ge = eq if ge is None else (ge | eq)
        keys_eq = SF.lit(True)
        for k in keys:
            keys_eq = keys_eq & SF.col(f"m.{k}").eqNullSafe(
                SF.col(f"d.{k}")
            )
        merged = merged.alias("m").join(
            dels.alias("d"), keys_eq & ge, how="left_anti"
        )
    merged.write.mode("overwrite").parquet(
        os.path.join(path, f"v{version:06d}")
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    partition_cols: "list[str]",
    path_col: str = "path",
    size_col: str = "size_bytes",
) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance pass
    that decides which files merge into which output: within each
    partition, files are packed into bins by CUMULATIVE-SUM bucketing
    (bin = floor((cumsum − size) / target), i.e. a file starts a new
    bin once the running total crosses the target) in deterministic
    (size desc, path) order. First-fit-decreasing-flavored without
    driver-side loops: ONE window per partition computes the whole
    assignment, so planning a million-file table is one exchange on
    the partition key.

    The (cumsum − size) form makes the bin of each file depend only
    on the bytes BEFORE it, so every bin except a partition's last
    lands in [target, target + file) bytes — oversize single files
    get a bin of their own rather than blocking packing. Integer
    arithmetic throughout (exact cross-engine; floor-div on bigints).

    Returns the input columns plus ``bin`` (bigint, per partition)
    and ``bin_bytes`` (the bin's total) — the execution step groups
    by (partition, bin) and rewrites.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")
    # ROWS frame, not the default RANGE: under RANGE, two files with
    # identical (size, path) would be frame PEERS and each would see
    # the pair's combined size in its cumsum, mis-binning both. Real
    # listings have unique paths, but the planner should be
    # row-accurate by construction, not by input contract.
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(size_col).desc(), F.col(path_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(size_col).over(w).cast("bigint")
    binned = files.withColumn(
        "bin",
        F.floor((cum - F.col(size_col)) / F.lit(target_bytes)).cast("bigint"),
    )
    wb = Window.partitionBy(*partition_cols, "bin")
    return binned.withColumn(
        "bin_bytes", F.sum(size_col).over(wb).cast("bigint")
    )

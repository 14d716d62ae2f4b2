"""Relational operator library (SURVEY.md §2 C/D/E/F/I).

Covers the relational operators the reference executes — projection
(C1-C5), inner equi-joins incl. the 2-condition natural-string join
(E1) and the enrichment join (E2), full-row distinct (F1-F2), count
(F3), limit (I1) — plus the standard surface the reference lacks but
a complete engine needs (I2-I4): groupBy aggregation, sort/top-k,
outer/semi/anti joins, set operations, windowed ranking. Filters
(D1-D2), ``selectExpr`` projections and keyed ``dropDuplicates`` are
one DataFrame call each and are written as such.

Everything is a thin, declarative wrapper over the DataFrame API so
Catalyst keeps full optimization freedom (pushdown, pruning,
join-strategy selection, AQE). The wrappers add the scale-awareness
the reference lacks: broadcast hints for dimension joins, salt-free
reliance on AQE skew handling, and top-k expressed as
``orderBy().limit()`` which Spark executes as a per-partition
TakeOrderedAndProject (no global sort shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --- projections (C1-C5) --------------------------------------------------

def project(df: DataFrame, *cols: Column | str) -> DataFrame:
    """C1: positional projection (etl.py:92,197)."""
    return df.select(*cols)


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    return df.withColumnsRenamed(mapping)


def derive(df: DataFrame, **cols: Column) -> DataFrame:
    """C3: append derived columns (etl.py:216,220,230-235) in one pass."""
    return df.withColumns(dict(cols))


# --- joins (E1-E3) --------------------------------------------------------

def inner_join(
    df: DataFrame,
    other: DataFrame,
    on: Sequence[Column] | Sequence[str] | Column | str,
    broadcast_right: bool = False,
) -> DataFrame:
    """E1/E3: inner join, optionally multi-condition (etl.py:267-270).

    ``broadcast_right=True`` hints a broadcast-hash join for dimension
    tables — at 100 TB the small side of a fact⋈dim join should never
    shuffle the fact.
    """
    right = F.broadcast(other) if broadcast_right else other
    return df.join(right, on=on, how="inner")


def enrich_join(
    df: DataFrame, dim: DataFrame, on: Sequence[str] | str, broadcast_dim: bool = True
) -> DataFrame:
    """E2: N:1 enrichment join against a deduplicated dimension
    (etl.py:282-297). USING-style key so the key appears once."""
    right = F.broadcast(dim) if broadcast_dim else dim
    return df.join(right, on=on, how="inner")


def left_join(df: DataFrame, other: DataFrame, on, broadcast_right: bool = False) -> DataFrame:
    right = F.broadcast(other) if broadcast_right else other
    return df.join(right, on=on, how="left")


def semi_join(df: DataFrame, other: DataFrame, on) -> DataFrame:
    """EXISTS — rows of df with a match; never duplicates df rows."""
    return df.join(other, on=on, how="left_semi")


def anti_join(df: DataFrame, other: DataFrame, on) -> DataFrame:
    """NOT EXISTS — rows of df without a match."""
    return df.join(other, on=on, how="left_anti")


# --- distinct / aggregation (F1-F5) ---------------------------------------

def distinct_rows(df: DataFrame) -> DataFrame:
    """F1/F2: full-row distinct (etl.py:76,92,177,236)."""
    return df.distinct()


def count_rows(df: DataFrame) -> DataFrame:
    """F3: COUNT(*) as a 1-row frame (nb cell 44)."""
    return df.agg(F.count(F.lit(1)).alias("n"))


def aggregate(
    df: DataFrame, group_by: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """groupBy().agg() — partial (map-side) aggregation comes free from
    Spark's HashAggregate pair; never pre-shuffle for this."""
    return df.groupBy(*group_by).agg(*aggs)


# --- sorts / limits / set ops (I1-I3) -------------------------------------

def limit_rows(df: DataFrame, n: int) -> DataFrame:
    """I1 (nb: exploratory row caps)."""
    return df.limit(n)


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """I2: global top-k. ``orderBy().limit(k)`` lowers to
    TakeOrderedAndProject — each partition keeps k rows, the driver
    merges; no full sort of 100 TB ever happens."""
    return df.orderBy(*order).limit(k)


def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def upsert_snapshot(
    base: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """MERGE-style snapshot upsert without a table format: rows in
    ``updates`` replace same-key rows in ``base``; unmatched update
    rows insert; unmatched base rows carry over. The CDC-apply shape
    (Delta/Iceberg MERGE INTO) expressed as one full-outer join +
    per-column COALESCE — updates win because their columns coalesce
    first.

    At scale: one shuffle on the key for each side (or zero if both
    snapshots are bucketed on the key — see sinks.write_bucketed);
    AQE handles update-side skew. Columns must match by name.
    """
    cols = base.columns
    assert set(cols) == set(updates.columns), "schemas must match by name"
    # string-qualified refs, not DataFrame indexing: base and updates
    # often derive from the same scan (CDC batch built FROM the
    # snapshot) and df[col] is ambiguous under Spark's self-join check
    b = base.alias("__ups_b")
    u = updates.alias("__ups_u")
    cond = [
        F.col(f"__ups_b.{k}").eqNullSafe(F.col(f"__ups_u.{k}")) for k in keys
    ]
    joined = b.join(u, on=cond, how="full_outer")
    return joined.select(
        *[
            F.coalesce(F.col(f"__ups_u.{c}"), F.col(f"__ups_b.{c}")).alias(c)
            for c in cols
        ]
    )


def incremental_agg_update(
    state: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    value_col: str,
    op_col: str = "op",
    insert_op: str = "I",
    delete_op: str = "D",
    n_col: str = "n",
    sum_col: str = "total",
) -> DataFrame:
    """Incremental maintenance of a (count, sum) aggregate — the
    materialized-view delta-update shape: instead of recomputing a
    100 TB rollup, fold a CDC batch of inserts/deletes into the
    existing per-key state.

    ``state``: ``(*keys, n, total)``; ``changes``: rows with the raw
    ``value_col`` and an op column (``I`` adds the row, ``D`` retracts
    a previously counted row). New state:
    ``n' = n + Σ(±1)``, ``total' = total + Σ(±value)``; keys whose
    count reaches 0 drop out (and negative counts raise downstream
    alarms in the caller — retracting a never-inserted row is a data
    bug this operator must not silently absorb, so rows with n' < 0
    are KEPT for visibility rather than clamped).

    Why count+sum only: they are the self-maintainable aggregates
    under deletion (avg derives as total/n); min/max need the base
    data or an auxiliary structure once a current extremum is
    retracted — callers needing those recompute per affected key.

    Scale shape: the delta aggregates partial map-side to one row per
    touched key (a CDC batch touches few keys), then ONE full-outer
    join against the state on the key — the state itself never
    rescans its source. Sums route through DECIMAL(18,6) AND the
    returned ``sum_col`` STAYS decimal(18,6): round-tripping the
    running sum through double each batch would silently break the
    "incremental == recompute exactly" guarantee once |total|
    exceeds ~2^53/1e6 ≈ 9e9 — fatal for a 100 TB rollup. Cast to
    double only in a read-side view (value-oracled in q108 against a
    from-scratch aggregation).
    """
    sign = F.when(F.col(op_col) == delete_op, F.lit(-1)).otherwise(F.lit(1))
    delta = (
        changes.where(F.col(op_col).isin(insert_op, delete_op))
        .groupBy(*keys)
        .agg(
            F.sum(sign).alias("_dn"),
            F.sum(
                sign.cast("decimal(18,6)")
                * F.col(value_col).cast("decimal(18,6)")
            ).alias("_dsum"),
        )
    )
    s = state.alias("__ia_s")
    d = delta.alias("__ia_d")
    cond = [
        F.col(f"__ia_s.{k}").eqNullSafe(F.col(f"__ia_d.{k}")) for k in keys
    ]
    merged = s.join(d, on=cond, how="full_outer").select(
        *[
            F.coalesce(F.col(f"__ia_s.{k}"), F.col(f"__ia_d.{k}")).alias(k)
            for k in keys
        ],
        (
            F.coalesce(F.col(f"__ia_s.{n_col}"), F.lit(0))
            + F.coalesce(F.col("__ia_d._dn"), F.lit(0))
        ).cast("bigint").alias(n_col),
        (
            F.coalesce(
                F.col(f"__ia_s.{sum_col}").cast("decimal(18,6)"),
                F.lit(0).cast("decimal(18,6)"),
            )
            + F.coalesce(
                F.col("__ia_d._dsum"), F.lit(0).cast("decimal(18,6)")
            )
        ).cast("decimal(18,6)").alias(sum_col),
    )
    return merged.where(F.col(n_col) != 0)

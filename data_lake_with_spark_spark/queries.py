"""Query registry: every operator from SURVEY.md §2 (plus the
training-data-pipeline extensions) as a (Spark callable, DuckDB oracle
SQL) pair over the /root/testdata tables.

Portability rules that make the value-hash oracle hold:

- **Float aggregates go through exact decimal sums**: both engines
  round the identical input double to DECIMAL(18,6) (deterministic:
  a tie at the half-ulp boundary is a measure-zero event for data
  doubles), sum exactly, and cast back to double — so SUM/AVG are
  bit-identical regardless of accumulation order. Plain double sums
  would diverge in the low bits between engines.
- **Hashes are md5-based** (functions/texthash.py): identical hex in
  Spark and DuckDB; numeric variants via hex-prefix parsing.
- **Temporal**: Spark ``dayofweek`` is 1=Sunday, DuckDB's is
  0=Sunday (oracle adds 1); ``weekofyear`` is ISO in both; the
  events table's ``ts`` is a naive µs timestamp, TIMESTAMP_NTZ in
  Spark and TIMESTAMP in DuckDB.
- **Ties**: every top-k/rank orders by the rounded value plus an id
  tiebreaker in BOTH engines, so rounding-created ties resolve
  identically.
- ``count(*)`` is cast to BIGINT in the oracle (DuckDB counts are
  already BIGINT; sums of ints would be HUGEINT and are cast too).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_with_spark_spark.functions.keys import deterministic_id
from data_lake_with_spark_spark.operators import dedup, relational, similarity, text, windows
from data_lake_with_spark_spark.sources.catalog import load_table, register_views

QueryFn = Callable[[SparkSession, str], DataFrame]

# --- portability helpers --------------------------------------------------


def dsum(col: Column, alias: str) -> Column:
    """Exact (decimal-routed) sum of a double column, as double."""
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


def _osum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def davg(col: Column, alias: str) -> Column:
    """Exact-sum / count average, as double (identical both engines)."""
    return (
        F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))
    ).alias(alias)


def _oavg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT(*) AS {alias}"
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _drain_stream_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    name: str,
    output_mode: str,
    stage_dirs: tuple[str, ...] = (),
) -> DataFrame:
    """Run a streaming frame into a memory sink with availableNow,
    then STOP the query and REMOVE the staging dirs (repeated
    driver-gate/bench runs previously accumulated staged JSON copies
    of the events table and live memory-sink queries in /tmp — the
    advisor's leak). The memory sink retains its materialized rows
    after stop(), so the returned ``spark.table(name)`` frame stays
    readable; staging files are only inputs to the already-finished
    micro-batch, never read again."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination returns False on timeout — raise THEN (with
        # staging inputs still on disk, so the run is retryable)
        # instead of silently returning a partial memory table after
        # deleting the only copy of its inputs (round-6 advisor).
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                f"streaming query {name!r} did not finish availableNow "
                "drain within 120s; staging dirs retained for retry: "
                f"{stage_dirs}"
            )
    except Exception:
        try:
            q.stop()
        except Exception:
            pass
        raise
    q.stop()
    for d in stage_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return spark.table(name)


# Process-cached fixture directories (the shared indexes and states
# several entries serve from), keyed by (prefix, sf_dir): built once,
# rebuilt when ``marker`` is gone from the directory, removed at exit.
_FIXTURE_DIRS: dict[tuple[str, str], tempfile.TemporaryDirectory] = {}


def _cached_dir(
    prefix: str, sf_dir: str, marker: str, build: Callable[[str], object]
) -> str:
    tmp = _FIXTURE_DIRS.get((prefix, sf_dir))
    if tmp is None or not os.path.exists(os.path.join(tmp.name, marker)):
        tmp = tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True)
        atexit.register(tmp.cleanup)
        build(tmp.name)
        _FIXTURE_DIRS[(prefix, sf_dir)] = tmp
    return tmp.name


# --- A. reference-surface relational queries ------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → groupBy agg (F-ops + D1)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.expr("l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return relational.aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


O_Q01 = f"""
SELECT l_returnflag, l_linestatus,
       {_osum('l_quantity', 'sum_qty')},
       {_osum('l_extendedprice', 'sum_base_price')},
       {_osum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {_oavg('l_quantity', 'avg_qty')},
       {_oavg('l_extendedprice', 'avg_price')},
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q52_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight filter (pushdown) → scalar agg."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.expr(
            "l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND "
            "l_shipdate < TIMESTAMP_NTZ '1997-01-01 00:00:00' AND "
            "l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
        )
    )
    return li.agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


O_Q52 = f"""
SELECT {_osum('l_extendedprice * l_discount', 'revenue')}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


def q03_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: projection + full-row distinct (etl.py:92,236)."""
    li = _t(spark, sf_dir, "lineitem")
    return relational.distinct_rows(li.select("l_returnflag", "l_linestatus"))


O_Q03 = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q04_join_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 shape: inner join with a 2-term condition (equi + theta),
    small side broadcast (etl.py:267-270)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = relational.inner_join(
        li,
        part,
        on=[li["l_partkey"] == part["p_partkey"], li["l_quantity"] > part["p_size"]],
        broadcast_right=True,
    )
    return relational.aggregate(
        joined, ["p_brand"], [F.count(F.lit(1)).alias("n_lines")]
    )


O_Q04 = """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
GROUP BY p_brand
"""


def q54_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim-chain join: customer ⋈ nation ⋈ region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = relational.inner_join(
        relational.inner_join(
            c, n, on=[c["c_nationkey"] == n["n_nationkey"]], broadcast_right=True
        ),
        r,
        on=[F.col("n_regionkey") == r["r_regionkey"]],
        broadcast_right=True,
    )
    return relational.aggregate(
        joined,
        ["r_name", "n_name"],
        [
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_acctbal"),
        ],
    )


O_Q54 = f"""
SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       {_osum('c_acctbal', 'total_acctbal')}
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q06_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: global top-k (TakeOrderedAndProject, no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return relational.top_k(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )


O_Q06 = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q07_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: window row_number, keyed dedup (latest order per customer)."""
    o = _t(spark, sf_dir, "orders")
    return windows.latest_per_key(
        o.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )


O_Q07 = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders) WHERE rn = 1
"""


def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having ≥1 URGENT order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return relational.semi_join(
        c.select("c_custkey", "c_name"), o, on=[c["c_custkey"] == o["o_custkey"]]
    )


O_Q08 = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no 'P'-status order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return relational.anti_join(
        c.select("c_custkey", "c_name"), o, on=[c["c_custkey"] == o["o_custkey"]]
    )


O_Q09 = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
"""


def q10_orders_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: EXCEPT (distinct) — orders with a returned line but no
    accepted line."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    a = li.where(F.col("l_returnflag") == "A").select("l_orderkey")
    return relational.except_distinct(r, a)


O_Q10 = """
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
EXCEPT
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
"""


def q80_orders_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: INTERSECT (distinct) — orders with both returned and
    accepted lines."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    a = li.where(F.col("l_returnflag") == "A").select("l_orderkey")
    return relational.intersect_distinct(r, a)


O_Q80 = """
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
INTERSECT
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
"""


def q12_flagship_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The songplays build re-expressed on testdata (etl.py:186-308):
    filter fact events → broadcast-enrich with the customer dim →
    deterministic surrogate id → date parts for partitioning."""
    e = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    c = _t(spark, sf_dir, "customer")
    joined = e.join(F.broadcast(c), on=[e["user_id"] == c["c_custkey"]], how="inner")
    return joined.select(
        deterministic_id("event_id").alias("play_id"),
        F.col("event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("start_time"),
        F.col("user_id"),
        F.col("c_name"),
        F.col("c_mktsegment"),
        F.col("value"),
        F.month("ts").alias("month"),
        F.year("ts").alias("year"),
    )


O_Q12 = """
SELECT md5(CAST(event_id AS VARCHAR)) AS play_id,
       event_id,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS start_time,
       user_id, c_name, c_mktsegment, value,
       CAST(month(CAST(ts AS TIMESTAMP)) AS INTEGER) AS month,
       CAST(year(CAST(ts AS TIMESTAMP)) AS INTEGER) AS year
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
"""


def q55_count_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: COUNT(*) scalar (nb cell 44)."""
    return relational.count_rows(_t(spark, sf_dir, "lineitem"))


O_Q55 = "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem"


def q58_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (TPC-H Q14 shape) over a broadcast join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), on=[li["l_partkey"] == p["p_partkey"]])
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo.cast("decimal(18,6)")).cast("double")
            / F.sum(disc.cast("decimal(18,6)")).cast("double")
        ).alias("promo_revenue_pct")
    )


O_Q58 = """
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q60_segment_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filter, group, top-k by revenue."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.expr("o_orderdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.expr("l_shipdate > TIMESTAMP_NTZ '1997-01-01 00:00:00'")
    )
    joined = (
        li.join(o, on=[li["l_orderkey"] == o["o_orderkey"]])
        .join(F.broadcast(c), on=[o["o_custkey"] == c["c_custkey"]])
    )
    grouped = joined.groupBy("o_orderkey", "o_orderdate").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )
    return relational.top_k(
        grouped, [F.col("revenue").desc(), F.col("o_orderkey").asc()], 10
    )


O_Q60 = f"""
SELECT o_orderkey, o_orderdate,
       {_osum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q16_union_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: UNION (distinct) of two filtered projections."""
    e = _t(spark, sf_dir, "events")
    clickers = e.where(F.col("event_type") == "click").select("user_id")
    viewers = e.where(F.col("event_type") == "view").select("user_id")
    return relational.distinct_rows(relational.union_all(clickers, viewers))


O_Q16 = """
SELECT user_id FROM events WHERE event_type = 'click'
UNION
SELECT user_id FROM events WHERE event_type = 'view'
"""


def q17_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of streaming sessions):
    per-session event counts."""
    e = _t(spark, sf_dir, "events")
    sess = windows.sessionize(e, "user_id", "ts", gap_seconds=1800)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


O_Q17 = """
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                   > INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


def q63_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-bucket rollup on the event stream."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
    )


O_Q63 = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n, {_osum('value', 'total_value')}
FROM events GROUP BY 1, 2
"""


def q19_time_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's time-dim build (etl.py:229-236) on events.ts:
    G1-G6 date parts + the H2 start_time string, distinct.

    The dedup runs on ``ts`` ALONE before the derivations: every other
    column is a deterministic function of ts, so distinct-then-derive
    is value-identical while shuffling one 8-byte column instead of
    eight derived ones (incl. a 19-char string) — ~1.7× at sf0.1, and
    the gap widens with row width at 100 TB."""
    e = _t(spark, sf_dir, "events").select("ts").distinct()
    return e.select(
        F.col("ts"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("start_time"),
        F.hour("ts").alias("hour"),
        F.dayofmonth("ts").alias("day"),
        F.weekofyear("ts").alias("week"),
        F.month("ts").alias("month"),
        F.year("ts").alias("year"),
        F.dayofweek("ts").alias("weekday"),
    )


O_Q19 = """
SELECT DISTINCT CAST(ts AS TIMESTAMP) AS ts,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS start_time,
       CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
       CAST(dayofmonth(CAST(ts AS TIMESTAMP)) AS INTEGER) AS day,
       CAST(weekofyear(CAST(ts AS TIMESTAMP)) AS INTEGER) AS week,
       CAST(month(CAST(ts AS TIMESTAMP)) AS INTEGER) AS month,
       CAST(year(CAST(ts AS TIMESTAMP)) AS INTEGER) AS year,
       CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS weekday
FROM events
"""


def q20_string_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 parity (etl.py:282-297): join the fact to a deduplicated
    time dimension on a second-resolution STRING key to fetch
    month/year — reproduced exactly, including the string key."""
    e = _t(spark, sf_dir, "events")
    fact = e.select(
        "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("start_time")
    )
    time_dim = (
        e.select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("start_time"),
            F.month("ts").alias("month"),
            F.year("ts").alias("year"),
        )
        .distinct()
    )
    return relational.enrich_join(fact, time_dim, on="start_time")


O_Q20 = """
WITH fact AS (
  SELECT event_id,
         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS start_time
  FROM events),
time_dim AS (
  SELECT DISTINCT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS start_time,
         CAST(month(CAST(ts AS TIMESTAMP)) AS INTEGER) AS month,
         CAST(year(CAST(ts AS TIMESTAMP)) AS INTEGER) AS year
  FROM events)
SELECT fact.start_time AS start_time, event_id, month, year
FROM fact JOIN time_dim USING (start_time)
"""


# --- A2. wider relational surface (absent from the reference; SURVEY.md
# §2 notes I2-I4 as engine-completeness items) ------------------------------


def q35_left_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + null-coalescing aggregate: every order with
    its count of returned lines, zero when none."""
    o = _t(spark, sf_dir, "orders")
    r_lines = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_r"))
    )
    joined = relational.left_join(
        o.select("o_orderkey", "o_orderstatus"),
        r_lines,
        on=[o["o_orderkey"] == r_lines["l_orderkey"]],
    )
    return joined.select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce(F.col("n_r"), F.lit(0)).cast("bigint").alias("n_returned_lines"),
    )


O_Q35 = """
SELECT o_orderkey, o_orderstatus,
       CAST(COALESCE(n_r, 0) AS BIGINT) AS n_returned_lines
FROM orders LEFT JOIN (
  SELECT l_orderkey, COUNT(*) AS n_r FROM lineitem
  WHERE l_returnflag = 'R' GROUP BY l_orderkey
) r ON o_orderkey = l_orderkey
"""


def q82_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join reconciliation of two aggregates with
    partially-overlapping key domains."""
    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_custkey") >= 100) & (F.col("o_custkey") < 300)
    )
    by_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    by_cust = o.groupBy("o_custkey").agg(dsum(F.col("o_totalprice"), "total_spend"))
    joined = by_user.join(
        by_cust, on=[by_user["user_id"] == by_cust["o_custkey"]], how="full_outer"
    )
    return joined.select(
        F.coalesce(F.col("user_id"), F.col("o_custkey")).alias("id"),
        F.col("n_events"),
        F.col("total_spend"),
    )


O_Q82 = f"""
WITH by_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id),
by_cust AS (
  SELECT o_custkey, {_osum('o_totalprice', 'total_spend')} FROM orders
  WHERE o_custkey >= 100 AND o_custkey < 300 GROUP BY o_custkey)
SELECT COALESCE(user_id, o_custkey) AS id, n_events, total_spend
FROM by_user FULL JOIN by_cust ON user_id = o_custkey
"""


def q37_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region → nation → grand total) over the dim chain —
    subtotal rows carry NULL group keys in both engines."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), on=[c["c_nationkey"] == n["n_nationkey"]]
    ).join(F.broadcast(r), on=[F.col("n_regionkey") == r["r_regionkey"]])
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum(F.col("c_acctbal"), "total_acctbal"),
    )


O_Q37 = f"""
SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       {_osum('c_acctbal', 'total_acctbal')}
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q38_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "total_price"),
    )


O_Q38 = f"""
SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_osum('o_totalprice', 'total_price')}
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q39_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: quantity matrix linestatus × returnflag (explicit pivot
    values keep the plan a single pass, no distinct-scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"))
    )


O_Q39 = """
SELECT l_linestatus,
       CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity END
                AS DECIMAL(18,6))) AS DOUBLE) AS "A",
       CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity END
                AS DECIMAL(18,6))) AS DOUBLE) AS "N",
       CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity END
                AS DECIMAL(18,6))) AS DOUBLE) AS "R"
FROM lineitem GROUP BY l_linestatus
"""


def q40_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL entry point (J3): (region,nation),
    (region), and grand total in one shuffle pass."""
    register_views(spark, sf_dir, ("customer", "nation", "region"))
    return spark.sql(
        """
        SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


O_Q40 = f"""
SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       {_osum('c_acctbal', 'total_acctbal')}
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
"""


def q78_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (customers richer than their nation's
    average), decorrelated the Spark-first way: one aggregate +
    broadcast re-join instead of a per-row subquery."""
    c = _t(spark, sf_dir, "customer")
    nation_avg = c.groupBy("c_nationkey").agg(
        davg(F.col("c_acctbal"), "nation_avg")
    )
    return (
        c.join(F.broadcast(nation_avg), on="c_nationkey")
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


O_Q78 = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE c_acctbal > (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
  FROM customer i WHERE i.c_nationkey = c.c_nationkey)
"""


def q79_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — expands to a two-stage exact
    distinct aggregate (partial dedup map-side, final count)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


O_Q79 = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


def q43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per order status —
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    linear-interpolation definition."""
    o = _t(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.5D, 0.9D))")
    return (
        o.groupBy("o_orderstatus")
        .agg(pct.alias("_p"))
        .select(
            "o_orderstatus",
            F.round(F.col("_p")[0], 6).alias("p50_price"),
            F.round(F.col("_p")[1], 6).alias("p90_price"),
        )
    )


O_Q43 = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 6) AS p50_price,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
FROM orders GROUP BY o_orderstatus
"""


# --- B. training-data-pipeline extensions ---------------------------------


def q21_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d)


O_Q21 = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dupes
FROM documents GROUP BY 1
"""

_MINHASH_N = 4
_SHINGLE_K = 10

_O_SHINGLES = f"""
  SELECT DISTINCT doc_id, substr(text, g, {_SHINGLE_K}) AS sh
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - {_SHINGLE_K - 1})) AS g) s
  WHERE len(text) >= {_SHINGLE_K}
"""

_O_SIG_COLS = ", ".join(
    f"MIN(substr(md5(sh), {8 * j + 1}, 8)) AS mh{j}" for j in range(_MINHASH_N)
)


def q22_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_signatures(
        d, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K
    )


O_Q22 = f"""
WITH sh AS ({_O_SHINGLES})
SELECT doc_id, {_O_SIG_COLS} FROM sh GROUP BY doc_id
"""


def q23_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_candidate_pairs(
        d, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K, bands=2
    )


O_Q23 = f"""
WITH sh AS ({_O_SHINGLES}),
sig AS (SELECT doc_id, {_O_SIG_COLS} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
"""


def q24_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fuzzy-dedup pipeline: MinHash-LSH candidates → exact
    n-gram-Jaccard verification (the 100 TB composition; the naive
    all-pairs inverted-index join is quadratic in hot-shingle
    document frequency)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_jaccard_dedup_pairs(
        d, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K, bands=2, threshold=0.2
    )


O_Q24 = f"""
WITH sh AS ({_O_SHINGLES}),
sig AS (SELECT doc_id, {_O_SIG_COLS} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS i
  FROM cand c JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY 1, 2)
SELECT id_a, id_b, jaccard FROM (
  SELECT i.id_a, i.id_b,
         round(i.i / (sa.sz + sb.sz - i.i), 6) AS jaccard
  FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b)
WHERE jaccard >= 0.2
"""

_SIMHASH_BITS = 16


def q25_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash(d, bits=_SIMHASH_BITS)


_O_BIT_SUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SIMHASH_BITS)
)
_O_FP = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(_SIMHASH_BITS)
)

O_Q25 = f"""
WITH tok AS (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents)),
s AS (SELECT doc_id, {_O_BIT_SUMS} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({_O_FP} AS BIGINT) AS simhash FROM s
"""

_O_COS = (
    # zero-norm guard mirrors similarity.cosine_expr: NULL (not NaN)
    # when either vector has zero norm, so both engines hash alike.
    "(CASE WHEN sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) > 0"
    " AND sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))) > 0"
    " THEN round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
    " ELSE NULL END)"
)


def q26_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


O_Q26 = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_O_COS.format(a='c.embedding', b='q.qv')} AS cos
  FROM embeddings c, q WHERE c.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""

_LSH_DIMS = (1, 9, 17, 25, 33, 41, 49, 57)
_O_BUCKET = " || ".join(
    f"(CASE WHEN embedding[{d}] > 0 THEN '1' ELSE '0' END)" for d in _LSH_DIMS
)


def q27_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.bucketed_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, dims=_LSH_DIMS
    )


O_Q27 = f"""
WITH b AS (SELECT vec_id, embedding, {_O_BUCKET} AS bucket FROM embeddings),
q AS (SELECT bucket, vec_id AS query_id, embedding AS qv FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_O_COS.format(a='c.embedding', b='q.qv')} AS cos
  FROM b c JOIN q ON c.bucket = q.bucket WHERE c.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


def q106_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN (similarity.bucketed_topk_multiprobe,
    Lv et al. VLDB'07): each query probes its bucket plus all
    Hamming-1 neighbors — 8× the single-probe recall at 9/256 of the
    corpus scanned (recall pinned in tests). Oracle enumerates the
    same bit flips in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.bucketed_topk_multiprobe(
        emb, emb.where(F.col("vec_id") < 10), k=5, dims=_LSH_DIMS
    )


_O_FLIP = """
CASE WHEN f.i = 0 THEN q.bucket
     ELSE substr(q.bucket, 1, f.i - 1)
          || (CASE WHEN substr(q.bucket, f.i, 1) = '1' THEN '0' ELSE '1' END)
          || substr(q.bucket, f.i + 1)
END"""

O_Q106 = f"""
WITH b AS (SELECT vec_id, embedding, {_O_BUCKET} AS bucket FROM embeddings),
q AS (SELECT bucket, vec_id AS query_id, embedding AS qv FROM b WHERE vec_id < 10),
probe AS (
  SELECT q.query_id, q.qv, {_O_FLIP} AS bucket
  FROM q, (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8)) AS f(i)),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {_O_COS.format(a='c.embedding', b='p.qv')} AS cos
  FROM b c JOIN probe p ON c.bucket = p.bucket
  WHERE c.vec_id != p.query_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


def q107_streaming_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join
    (streaming/events.stream_stream_conversions): every purchase
    matched to the same user's views within the preceding hour — the
    conversion-attribution join, with both sides watermarked and the
    time bound making join state EVICTABLE (without it a
    stream-stream join buffers both streams forever). FULLY ORACLED:
    append-mode availableNow emits exactly the batch interval join
    (both sides see all staged files in the first micro-batch; also
    set-checked against a Spark batch twin in
    test_streaming.test_stream_stream_conversions_match_batch...)."""
    from data_lake_with_spark_spark.streaming.events import (
        read_event_stream,
        stream_stream_conversions,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    stage = tempfile.mkdtemp(prefix="dlws_stream_conv_")
    e.coalesce(2).write.mode("overwrite").json(stage)
    sa = read_event_stream(spark, stage)
    sb = read_event_stream(spark, stage)
    joined = stream_stream_conversions(sa, sb, within="1 hour")
    out = _drain_stream_to_memory(
        joined, spark, "dlws_stream_conversions", "append", (stage,)
    )
    return out.select(
        "user_id",
        "a_event_id",
        "b_event_id",
        F.date_format("a_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("a_ts"),
        F.date_format("b_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("b_ts"),
    )


O_Q107 = """
WITH a AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS a_ts, event_id AS a_event_id
  FROM events WHERE event_type = 'view'),
b AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS b_ts, event_id AS b_event_id
  FROM events WHERE event_type = 'purchase')
SELECT a.user_id,
       a_event_id,
       b_event_id,
       strftime(a_ts, '%Y-%m-%d %H:%M:%S.%f') AS a_ts,
       strftime(b_ts, '%Y-%m-%d %H:%M:%S.%f') AS b_ts
FROM a JOIN b ON a.user_id = b.user_id
              AND b_ts >= a_ts
              AND b_ts <= a_ts + INTERVAL 1 HOUR
"""


def q108_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (relational.incremental_agg_update): a per-event-type (count,
    sum) rollup built from a base partition of events, then updated
    by a CDC batch — inserts for the held-out events, deletes
    retracting every 13th base event — WITHOUT rescanning the base
    data. The oracle recomputes the final state from scratch; the
    decimal-routed sums make incremental == recompute exactly, which
    is the whole contract of view maintenance."""
    from data_lake_with_spark_spark.operators import relational

    e = _t(spark, sf_dir, "events")
    base = e.where(F.col("event_id") % 7 != 0)
    # State sums stay DECIMAL(18,6) end-to-end across batches (the
    # operator's exactness contract); double only on the final read.
    state = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
    )
    inserts = e.where(F.col("event_id") % 7 == 0).select(
        "event_type", "value", F.lit("I").alias("op")
    )
    deletes = base.where(F.col("event_id") % 13 == 0).select(
        "event_type", "value", F.lit("D").alias("op")
    )
    out = relational.incremental_agg_update(
        state,
        inserts.unionByName(deletes),
        keys=["event_type"],
        value_col="value",
    )
    # Read-side view: expose double for consumers/oracle parity.
    return out.withColumn("total", F.col("total").cast("double"))


O_Q108 = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM events
WHERE NOT (event_id % 13 = 0 AND event_id % 7 <> 0)
GROUP BY event_type
"""


def q109_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe corpus split (sampling.split_assign):
    every document lands in train/val/test by its md5-hash range —
    stable across runs, partitionings, and engines, so downstream
    stages re-derive membership instead of joining a membership
    table. Oracle replicates the cumulative hex bounds exactly."""
    from data_lake_with_spark_spark.operators.sampling import split_assign

    d = _t(spark, sf_dir, "documents")
    return split_assign(
        d.select("doc_id", "lang"),
        F.col("doc_id").cast("string"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "lang", "split")


O_Q109 = """
SELECT doc_id, lang,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
              THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q110_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling (sampling.sample_per_group):
    20 documents per language ranked by md5(doc_id) — the eval-slice
    constructor; selection is a pure function of the data (no RNG),
    so the SQL oracle picks byte-identical rows."""
    from data_lake_with_spark_spark.operators.sampling import sample_per_group

    d = _t(spark, sf_dir, "documents")
    return sample_per_group(
        d.select("doc_id", "lang"),
        ["lang"],
        F.col("doc_id").cast("string"),
        k=20,
    ).select("doc_id", "lang", F.col("sample_rank").cast("bigint").alias("sample_rank"))


O_Q110 = """
SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                    CAST(doc_id AS VARCHAR) ASC) AS rn
  FROM documents)
WHERE rn <= 20
"""


def q111_stopword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio quality signal (text.stopword_stats): the
    function-word fraction per document — the brief's third named
    quality axis next to length and punctuation. Pure projection
    (JVM array filter, no UDF); ratio unrounded so the DuckDB
    list_filter twin matches bitwise."""
    from data_lake_with_spark_spark.operators.text import stopword_stats

    d = _t(spark, sf_dir, "documents")
    return stopword_stats(d).select(
        "doc_id", "n_tokens", "n_stopwords", "stopword_ratio"
    )


from data_lake_with_spark_spark.operators.text import STOPWORDS as _STOPWORDS

_O_STOPLIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

O_Q111 = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(toks, x -> list_contains([{_O_STOPLIST}], x)))
            AS BIGINT) AS n_stopwords,
       CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains([{_O_STOPLIST}], x)))
                 / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
FROM t
"""


def q124_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vendored linear quality classifier evaluated scan-side
    (text.quality_classifier — the CCNet/fastText-classifier stage as
    ONE JVM projection): three exact int/int-ratio features, a dot
    product in fixed written order, a boolean decision. The raw
    margin is emitted instead of sigmoid(margin) because exp()
    differs in ulps between JVM and C libm while the margin and the
    decision are bit-exact — and sigmoid is monotone, so the decision
    is identical."""
    from data_lake_with_spark_spark.operators.text import quality_classifier

    d = _t(spark, sf_dir, "documents")
    return quality_classifier(d).select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "mean_word_len",
        "digit_ratio",
        "quality_z",
        "accept",
    )


O_Q124 = f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS digits,
         length(text) AS chars
  FROM documents),
f AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> list_contains([{_O_STOPLIST}], x)))
                   / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS x1,
         CASE WHEN len(toks) > 0
              THEN nonspace / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS x2,
         CASE WHEN chars > 0
              THEN digits / CAST(chars AS DOUBLE) ELSE 0.0 END AS x3
  FROM t)
SELECT doc_id, n_tokens,
       x1 AS stopword_ratio, x2 AS mean_word_len, x3 AS digit_ratio,
       -1.0 + 6.0 * x1 + -0.25 * x2 + -8.0 * x3 AS quality_z,
       (-1.0 + 6.0 * x1 + -0.25 * x2 + -8.0 * x3) > 0.0 AS accept
FROM f
"""


def q28_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text.lang_scores(d).select(
        "doc_id", "score_en", "score_es", "score_fr", "score_de", "lang_pred"
    )


def _o_lang_score(lang: str, words: tuple[str, ...]) -> str:
    terms = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in words
    )
    return f"CAST({terms} AS INTEGER) AS score_{lang}"


_O_LANG_COLS = ", ".join(
    _o_lang_score(lang, words) for lang, words in text.LANG_MARKERS.items()
)
_O_LANG_BEST = "greatest(score_en, score_es, score_fr, score_de)"
_O_LANG_PRED = (
    f"CASE WHEN {_O_LANG_BEST} = 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lang} = {_O_LANG_BEST} THEN '{lang}'"
        for lang in text.LANG_MARKERS
    )
    + " ELSE 'und' END"
)

O_Q28 = f"""
WITH scored AS (SELECT doc_id, {_O_LANG_COLS} FROM documents)
SELECT doc_id, score_en, score_es, score_fr, score_de,
       {_O_LANG_PRED} AS lang_pred
FROM scored
"""


def q29_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text.quality_score(d).select(
        "doc_id",
        "n_chars_measured",
        "punct_ratio",
        "digit_ratio",
        "upper_ratio",
        "n_tokens",
        "quality",
    )


def _o_ratio(pattern: str, alias: str) -> str:
    # len(text) == 0 guard mirrors text.char_classes: NULL, not NaN.
    return (
        f"CASE WHEN len(text) > 0 THEN "
        f"(len(text) - len(regexp_replace(text, '{pattern}', '', 'g')))"
        f" / CAST(len(text) AS DOUBLE) ELSE NULL END AS {alias}"
    )


O_Q29 = f"""
WITH c AS (
  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars_measured,
         {_o_ratio('[.,;:!?]', 'punct_ratio')},
         {_o_ratio('[0-9]', 'digit_ratio')},
         {_o_ratio('[A-Z]', 'upper_ratio')},
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens
  FROM documents)
SELECT doc_id, n_chars_measured, punct_ratio, digit_ratio, upper_ratio, n_tokens,
       0.5 * least(n_chars_measured / 500.0, 1.0)
           + 0.5 * (1.0 - least(punct_ratio + digit_ratio, 1.0)) AS quality
FROM c
"""


def q30_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        (F.length("text") - F.length(F.regexp_replace("text", r"\s", ""))).cast(
            "bigint"
        ).alias("n_whitespace"),
    )


O_Q30 = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
       CAST(len(text) AS BIGINT) AS n_chars_measured,
       CAST(len(text) - len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         AS n_whitespace
FROM documents
"""


def q31_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text.fingerprint(d).select("doc_id", "fp")


O_Q31 = """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def q32_sql_entrypoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: temp-view + spark.sql entry point (nb cells 44,48)."""
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_orderstatus
        """
    )


O_Q32 = f"""
SELECT c_mktsegment, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_osum('o_totalprice', 'total_price')}
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderstatus
"""


# --- C. non-SQL-expressible surfaces (rows-only checks) -------------------


def q76_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed aggregation, driven availableNow
    over a file stream staged from the events table; returns the
    final batch result. FULLY ORACLED since round 5: complete-mode
    windowed counts after availableNow are the batch aggregation (all
    staged files arrive in the first micro-batch, so the watermark
    never drops an event), and the decimal-routed value sum makes
    total_value engine-exact; window bounds ship as strings for
    tz-independent canonicalization."""
    from data_lake_with_spark_spark.streaming.events import (
        read_event_stream,
        windowed_counts,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    stage = tempfile.mkdtemp(prefix="dlws_stream_")
    e.coalesce(4).write.mode("overwrite").json(stage)
    stream = read_event_stream(spark, stage)
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    out = _drain_stream_to_memory(
        agg, spark, "dlws_stream_hourly", "complete", (stage,)
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


O_Q76 = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('hour', CAST(ts AS TIMESTAMP))
                + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS total_value
FROM events
GROUP BY 1, 2, 3
"""


def q120_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING (hopping) windowed streaming aggregation — q76's shape
    with window=1h, slide=30m, so every event lands in exactly two
    overlapping windows. Oracled like q76 (availableNow + complete
    mode = the batch aggregate): the DuckDB twin fans each event out
    to its ⌈w/s⌉ = 2 containing windows via a generate_series unnest
    against the same epoch-aligned 30-minute buckets Spark's window()
    produces."""
    from data_lake_with_spark_spark.streaming.events import (
        read_event_stream,
        windowed_counts,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    stage = tempfile.mkdtemp(prefix="dlws_stream_slide_")
    e.coalesce(4).write.mode("overwrite").json(stage)
    stream = read_event_stream(spark, stage)
    agg = windowed_counts(
        stream, window="1 hour", slide="30 minutes", watermark="2 hours"
    )
    out = _drain_stream_to_memory(
        agg, spark, "dlws_stream_sliding", "complete", (stage,)
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


O_Q120 = """
WITH fan AS (
  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
           - k * INTERVAL '30 minutes' AS ws,
         event_type, value
  FROM events, UNNEST(generate_series(0, 1)) AS t(k))
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS total_value
FROM fan
GROUP BY 1, 2, 3
"""


def q121_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (skew.salted_join — escalation level 3
    of the skew story, closing the one §7-M6 utility that had no
    oracled query): the events fact side gets a deterministic row-
    hash salt, the customer dim side replicates across the 8 salts,
    and the join on (key, salt) produces EXACTLY the rows of the
    plain equi-join — which is the oracle: DuckDB runs the unsalted
    join. The events table's 5 hot user_ids are the keys AQE would
    otherwise split at runtime; salting is the declarative fallback
    when both sides are too big to broadcast."""
    from data_lake_with_spark_spark.operators.skew import salted_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return salted_join(e, c, on=["user_id"], salt=8).select(
        "event_id", "user_id", "c_mktsegment", "value"
    )


O_Q121 = """
SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


def q77_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents→fake binary assets→mapInPandas
    feature extraction (Arrow-batched, shuffle-free). VALUE-ORACLED
    since round 5: the byte-stub kernel computes mean/std from exact
    integer sums (one IEEE division each), so the DuckDB twin — the
    same integer sums over ascii codepoints of the (all-ASCII)
    fixture text — reproduces every float bitwise, and md5 matches
    byte-for-byte because DuckDB's md5(VARCHAR) hashes UTF-8 bytes
    exactly like hashlib.md5 over encode(text,'UTF-8')."""
    from data_lake_with_spark_spark.operators.multimodal import extract_features

    d = _t(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("meta_width"),
        F.lit(None).cast("int").alias("meta_height"),
        F.lit(None).cast("double").alias("meta_duration_s"),
    )
    return extract_features(assets)


O_Q77 = """
WITH by AS (
  SELECT doc_id,
         SUM(CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)) AS s,
         SUM(CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)
             * CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)) AS ss
  FROM documents, UNNEST(generate_series(1, length(text))) AS u(i)
  GROUP BY doc_id),
-- LEFT join + zero-guard: an empty-text doc has no rows in `by`
-- (generate_series(1,0) is empty) but the Spark kernel still emits
-- (0 bytes, md5(b''), 0.0, 0.0) for it — an inner join would
-- silently drop the doc from the oracle only (review finding)
b AS (
  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n, md5(d.text) AS h,
         COALESCE(by.s, 0) AS s, COALESCE(by.ss, 0) AS ss
  FROM documents d LEFT JOIN by ON d.doc_id = by.doc_id)
SELECT doc_id AS asset_id,
       'image' AS modality,
       n AS n_bytes,
       h AS payload_md5,
       CASE WHEN n = 0 THEN 0.0
            ELSE CAST(s AS DOUBLE) / n END AS feat_mean,
       CASE WHEN n > 0
             AND CAST(ss AS DOUBLE) / n
                 - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
            THEN sqrt(CAST(ss AS DOUBLE) / n
                      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
            ELSE 0.0 END AS feat_std
FROM b
"""


# --- A3. temporal joins / near-dup / windows (batch 2; placed after
# section B so the shared oracle fragments (_O_COS, _LSH_DIMS, _O_BUCKET)
# are defined) -------------------------------------------------------------


def q44_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click event matched to the
    user's most recent purchase at-or-before it — union-sort
    formulation, one shuffle, no range explosion."""
    from data_lake_with_spark_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = windows.latest_per_key(
        e.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        ),
        ["p_user", "p_ts"],
        [F.col("purchase_id").desc()],
    )
    return asof_join(
        clicks,
        purchases,
        left_on=["user_id"],
        right_on=["p_user"],
        left_ts="ts",
        right_ts="p_ts",
        right_cols=["purchase_id", "purchase_value"],
    )


O_Q44 = """
WITH clicks AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'),
purchases AS (
  SELECT event_id AS purchase_id, user_id AS p_user,
         CAST(ts AS TIMESTAMP) AS p_ts, value AS purchase_value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
  WHERE rn = 1)
SELECT c.event_id, c.user_id, c.ts, p.purchase_id, p.purchase_value
FROM clicks c ASOF JOIN purchases p
  ON c.user_id = p.p_user AND c.ts >= p.p_ts
"""


def q45_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range COUNT (operators/asof.py): returned
    lineitems shipped inside each urgent order's 7-day window,
    counted per order with aggregate pushdown through the range join —
    full-covered day buckets contribute pre-aggregated counts (a
    broadcast of one row per day), only partial edge buckets touch
    raw lineitem rows. The generic pair-producing form is
    points_in_intervals (plan-gated in tests); this is its
    count-rollup, ~7× cheaper at sf0.1."""
    from data_lake_with_spark_spark.operators.asof import count_points_in_intervals

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_linenumber", "l_shipdate")
    )
    iv = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("win_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")).alias("win_end"),
        )
    )
    counts = count_points_in_intervals(
        li, iv, "l_shipdate", "win_start", "win_end",
        count_alias="n_shipped_in_window",
    )
    return counts.select("o_orderkey", "n_shipped_in_window")


O_Q45 = """
SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipped_in_window
FROM orders JOIN lineitem
  ON l_shipdate >= o_orderdate
 AND l_shipdate < o_orderdate + INTERVAL 7 DAY
WHERE o_orderpriority = '1-URGENT' AND l_returnflag = 'R'
GROUP BY o_orderkey
"""


def q46_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact all-pairs — broadcast-matrix
    BLAS path (similarity.all_pairs_blas): one matmul per Arrow
    batch instead of 12M interpreted per-pair expressions."""
    from data_lake_with_spark_spark.operators.similarity import all_pairs_blas

    emb = _t(spark, sf_dir, "embeddings")
    return all_pairs_blas(emb, threshold=0.3)


_O_PAIR_COS = _O_COS.format(a="a.embedding", b="b.embedding")

O_Q46 = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_O_PAIR_COS} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_O_PAIR_COS} >= 0.3
"""


def q47_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, sign-LSH-bucketed scale path: candidates
    restricted to same-bucket pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(
        emb, threshold=0.3, bucket_dims=_LSH_DIMS
    )


O_Q47 = f"""
WITH b AS (SELECT vec_id, embedding, {_O_BUCKET} AS bucket FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_O_PAIR_COS} AS cos
FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_O_PAIR_COS} >= 0.3
"""


def q48_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-token-set Jaccard similarity join, blocked by language,
    exact within-block results at J ≥ 0.7. This corpus is dense (most
    within-lang pairs exceed the threshold), so the per-block GEMM
    path wins; token_jaccard_pairs(prefix_filter=True) is the
    equivalent distributed path for blocks too large for a worker."""
    d = _t(spark, sf_dir, "documents")
    return dedup.token_jaccard_blas(d, threshold=0.7, block_by=["lang"])


O_Q48 = """
WITH tok AS (
  SELECT DISTINCT doc_id, lang,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.lang = b.lang
                       AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, jaccard FROM (
  SELECT i.id_a, i.id_b, round(i.i / (sa.sz + sb.sz - i.i), 6) AS jaccard
  FROM inter i JOIN sz sa ON sa.doc_id = i.id_a
               JOIN sz sb ON sb.doc_id = i.id_b)
WHERE jaccard >= 0.7
"""


def q49_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function kernel (I6 surface): case mapping, substring,
    concat, length, LIKE filter — all codegen'd built-ins."""
    c = _t(spark, sf_dir, "customer")
    return c.where(F.col("c_name").like("%1%")).select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
        F.length("c_name").cast("int").alias("name_len"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("name_masked"),
    )


O_Q49 = """
SELECT c_custkey, upper(c_name) AS name_upper,
       substr(c_name, 1, 8) AS name_prefix,
       concat_ws('|', c_mktsegment, c_name) AS seg_name,
       CAST(len(c_name) AS INTEGER) AS name_len,
       regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked
FROM customer WHERE c_name LIKE '%1%'
"""


def q81_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed moving aggregate: 7-day-row moving average of daily
    revenue per order status (frame: 6 preceding .. current). Exact
    decimal sums inside the frame keep both engines bit-identical."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderstatus", F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_rev"),
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "o_orderstatus",
        "day",
        F.col("_rev").cast("double").alias("day_revenue"),
        (F.sum("_rev").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "ma7"
        ),
    )


O_Q81 = """
WITH daily AS (
  SELECT o_orderstatus, CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
  FROM orders GROUP BY 1, 2)
SELECT o_orderstatus, day, CAST(rev AS DOUBLE) AS day_revenue,
       CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma7
FROM daily
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def q51_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative windowed sum: running spend per customer over their
    order history."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("cum_spend"),
    )


O_Q51 = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend
FROM orders
"""


def q05_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based deterministic sampling (~1/8 of lineitem): portable
    md5-prefix predicate — reproducible across engines and runs,
    unlike ``df.sample`` (rng) or TABLESAMPLE (physical layout)."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    return li.where(F.substring(F.md5(key), 1, 1).isin("0", "1")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


O_Q05 = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                 CAST(l_linenumber AS VARCHAR)), 1, 1) IN ('0', '1')
"""


def q53_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct count per event type — the
    sketch aggregate a 100 TB pipeline uses instead of exact distinct.

    HLL estimates are engine-specific, so the estimate itself cannot
    hash-match DuckDB — instead the driver-facing output carries the
    EXACT count plus ``within_bound`` = |approx − exact| ≤ 6·rsd·exact.
    The oracle asserts every group's bound holds, so the sketch's
    accuracy is driver-verified, not just pytest-verified. The
    envelope is deliberately 6·rsd here, not the 3σ that
    tests/test_properties.py pins: rsd is a STANDARD-ERROR multiple,
    not a hard HLL++ guarantee, so a TRUE-asserting SQL oracle at 3σ
    would be flaky-by-design across regenerated fixtures/scale
    factors (deterministic per dataset, but a fresh dataset can
    legitimately land past 3σ). The tight 3σ check lives in pytest
    where the dataset is pinned; the 12%-error gate here catches
    implementation breakage (wrong column, wrong rsd plumbing) while
    being robust to sketch luck. Note the VERIFIER's tradeoff,
    deliberate here: computing the bound requires the exact distinct
    too, so this gate query costs more than the sketch alone — a
    production caller uses ``approx_count_distinct`` by itself (the
    estimate is dropped from this output because only its bound, not
    its engine-specific value, is portable)."""
    e = _t(spark, sf_dir, "events")
    rsd = 0.02
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.lit(6 * rsd) * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


O_Q53 = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events
GROUP BY event_type
"""



def q13_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (similarity.ivf_topk):
    deterministic coarse centroids, nearest-centroid inverted lists,
    nprobe-limited probing."""
    from data_lake_with_spark_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, centroid_mod=50, nprobe=4
    )


_O_COS_EC = _O_COS.format(a="e.embedding", b="c.cv")

O_Q13 = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0),
assigned AS (
  SELECT cent_id, neighbor_id, cv2 FROM (
    SELECT c.cent_id, e.vec_id AS neighbor_id, e.embedding AS cv2,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_O_COS_EC} DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c)
  WHERE rn = 1),
probes AS (
  SELECT cent_id, query_id, qv FROM (
    SELECT c.cent_id, e.vec_id AS query_id, e.embedding AS qv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_O_COS_EC} DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
  WHERE rn <= 4),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         {_O_COS.format(a='a.cv2', b='p.qv')} AS cos
  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
  WHERE p.query_id != a.neighbor_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""

# Budgeted-IVF twin (q113/q114): identical pipeline to O_Q13 except
# the centroid set derives from a FIXED BUDGET — mod = max(1, n//40),
# computed in SQL exactly as similarity.ivf_topk computes it in
# Python (DuckDB's // is floor division on BIGINT, same as Python's
# on non-negative ints).
O_Q113 = f"""
WITH m AS (
  SELECT GREATEST(1, COUNT(*) // 40) AS md FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings, m
  WHERE vec_id % m.md = 0),
assigned AS (
  SELECT cent_id, neighbor_id, cv2 FROM (
    SELECT c.cent_id, e.vec_id AS neighbor_id, e.embedding AS cv2,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_O_COS_EC} DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c)
  WHERE rn = 1),
probes AS (
  SELECT cent_id, query_id, qv FROM (
    SELECT c.cent_id, e.vec_id AS query_id, e.embedding AS qv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_O_COS_EC} DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
  WHERE rn <= 4),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         {_O_COS.format(a='a.cv2', b='p.qv')} AS cos
  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id
  WHERE p.query_id != a.neighbor_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


def q115_ngram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality filter (text.ngram_rarity): per-doc
    mean corpus frequency of its char trigrams — the CCNet-style
    LM-perplexity binning signal, formulated as integer sums + one
    division so Spark and DuckDB agree bitwise (a log-space score
    would hit JVM-vs-libm log() ulp skew; the filter's ordering is
    invariant under the monotone transform)."""
    from data_lake_with_spark_spark.operators.text import ngram_rarity

    d = _t(spark, sf_dir, "documents")
    return ngram_rarity(d, n=3)


O_Q115 = """
WITH tri AS (
  SELECT doc_id, substr(text, g, 3) AS g3
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, len(text) - 2)) AS g) s
  WHERE len(text) >= 3),
model AS (SELECT g3, COUNT(*) AS c FROM tri GROUP BY g3),
total AS (SELECT COUNT(*) AS t FROM tri)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / (COUNT(*) * MAX(t))
         AS mean_freq
FROM tri JOIN model USING (g3) CROSS JOIN total
GROUP BY doc_id
"""


def q116_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (similarity.semantic_dedup — SemDeDup,
    Abbas et al. 2023): cluster the embedding space with the
    deterministic IVF coarse quantizer, then mark within-cluster rows
    whose cosine to a lower-id row exceeds the threshold as dropped.
    Pairwise similarity never leaves a cluster (Σk² not N²); the
    centroid budget knob (q113) bounds cluster sizes at scale."""
    from data_lake_with_spark_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    # FIXED centroid budget, not a fixed sampling rate: the 30× probe
    # measured centroid_mod=50 at α=0.89 (centroids ∝ corpus ⇒
    # assignment O(N²·d/mod)) — the exact q13 trap. The budgeted mod
    # is SQL-derivable (O_Q113's pattern), so the REGISTERED config
    # is the production one; no parity pin needed for a new operator.
    return semantic_dedup(emb, threshold=0.85, target_centroids=40)


O_Q116 = f"""
WITH m AS (
  SELECT GREATEST(1, COUNT(*) // 40) AS md FROM embeddings),
cents AS (
  SELECT vec_id AS cluster, embedding AS cent_v FROM embeddings, m
  WHERE vec_id % m.md = 0),
assigned AS (
  SELECT vec_id, cluster, embedding FROM (
    SELECT e.vec_id, c.cluster, e.embedding,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND({{l2}}, 6) ASC, c.cluster ASC) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
dominated AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {{cos}} > 0.85)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       (d.vec_id IS NULL) AS kept
FROM assigned a LEFT JOIN dominated d ON a.vec_id = d.vec_id
"""


_PQ_DIM, _PQ_M, _PQ_W = 64, 8, 8


def q117_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (similarity.pq_codebooks /
    pq_encode — Jégou et al. 2011): the 64-d embeddings split into 8
    subspaces, each vector stored as 8 code ids (32× compression) —
    the representation ANN serving ships at 100 TB. Deterministic
    per-subspace codebooks under a FIXED code budget
    (``target_codes=40`` — the 30× probe measured the fixed-rate
    ``centroid_mod=50`` config at α=1.22, codes ∝ corpus ⇒ encode
    O(N²); the budgeted mod is SQL-derivable so the registered
    config IS the production one) keep the whole encode argmin
    SQL-portable."""
    from data_lake_with_spark_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, dim=_PQ_DIM, m=_PQ_M, target_codes=40)
    return pq_encode(emb, cb, dim=_PQ_DIM, m=_PQ_M)


def q118_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k nearest neighbors over PQ codes (similarity.pq_topk):
    per-query distance TABLE against the codebooks (broadcast), one
    (subspace, code) join + decimal-summed groupBy over the encoded
    corpus — the corpus contributes 8 small ints per vector, never
    its floats. Decimal summation makes the m-way distance sum
    bit-identical cross-engine (float addition is not associative)."""
    from data_lake_with_spark_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, dim=_PQ_DIM, m=_PQ_M, target_codes=40)
    codes = pq_encode(emb, cb, dim=_PQ_DIM, m=_PQ_M)
    return pq_topk(
        codes,
        cb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        dim=_PQ_DIM,
        m=_PQ_M,
    )


# Shared PQ oracle scaffolding: per-subspace slices of the embedding,
# the seed codebooks, and the per-(vector, subspace) nearest code.
_O_PQ_BASE = f"""
subs AS (SELECT CAST(s AS BIGINT) AS subspace
         FROM UNNEST(generate_series(0, {_PQ_M - 1})) AS t(s)),
pqm AS (SELECT GREATEST(1, COUNT(*) // 40) AS md FROM embeddings),
cb AS (
  SELECT subspace, CAST(vec_id AS BIGINT) AS code,
         embedding[(subspace*{_PQ_W}+1):(subspace*{_PQ_W}+{_PQ_W})] AS cent_sub
  FROM embeddings, subs, pqm WHERE vec_id % pqm.md = 0),
ev AS (
  SELECT vec_id, subspace,
         embedding[(subspace*{_PQ_W}+1):(subspace*{_PQ_W}+{_PQ_W})] AS sub_v
  FROM embeddings, subs),
enc AS (
  SELECT vec_id, subspace, code FROM (
    SELECT ev.vec_id, ev.subspace, cb.code,
           ROW_NUMBER() OVER (
             PARTITION BY ev.vec_id, ev.subspace
             ORDER BY ROUND({{l2ec}}, 6) ASC, cb.code ASC) AS rn
    FROM ev JOIN cb USING (subspace)) WHERE rn = 1)
"""

O_Q117 = f"""
WITH {_O_PQ_BASE}
SELECT vec_id, subspace, code FROM enc
"""

_O_PQ_ADC = f"""
qv AS (
  SELECT vec_id AS query_id, subspace,
         embedding[(subspace*{_PQ_W}+1):(subspace*{_PQ_W}+{_PQ_W})] AS q_sub
  FROM embeddings, subs WHERE vec_id < 10),
dtable AS (
  SELECT query_id, subspace, code,
         CAST(ROUND({{l2qc}}, 6) AS DECIMAL(18,6)) AS dsub
  FROM qv JOIN cb USING (subspace)),
scored AS (
  SELECT t.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(dsub) AS DOUBLE) AS adc_dist
  FROM enc e JOIN dtable t ON e.subspace = t.subspace AND e.code = t.code
  WHERE t.query_id != e.vec_id
  GROUP BY 1, 2)
"""

O_Q118 = f"""
WITH {_O_PQ_BASE},
{_O_PQ_ADC}
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 5
"""


def q119_pq_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving as deployed (similarity.pq_topk_rerank — the FAISS
    IndexRefine pattern): ADC shortlist of 50 from codes alone, exact
    squared-L2 re-rank of only the shortlisted vectors to the final
    top-5. The corpus contributes code ids to stage 1 and
    n_queries×50 vector fetches to stage 2 — never a full-vector
    scan."""
    from data_lake_with_spark_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk_rerank,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, dim=_PQ_DIM, m=_PQ_M, target_codes=40)
    codes = pq_encode(emb, cb, dim=_PQ_DIM, m=_PQ_M)
    return pq_topk_rerank(
        emb,
        codes,
        cb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        shortlist=50,
        dim=_PQ_DIM,
        m=_PQ_M,
    )


O_Q119 = f"""
WITH {_O_PQ_BASE},
{_O_PQ_ADC},
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
    FROM scored)
  WHERE rn <= 50),
rescored AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND({{l2re}}, 6) AS l2_dist
  FROM short s
  JOIN embeddings c ON c.vec_id = s.neighbor_id
  JOIN embeddings qe ON qe.vec_id = s.query_id)
SELECT query_id, neighbor_id, l2_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, l2_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY l2_dist ASC, neighbor_id ASC) AS rank
  FROM rescored)
WHERE rank <= 5
"""


def q122_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid time-series resample with forward fill
    (timeseries.resample_ffill — the hypertable
    ``time_bucket_gapfill`` shape): hourly per-event-type totals laid
    over the global hour grid, gaps carried forward per key, leading
    gaps left NULL. The oracle reproduces the fill portably with the
    count-over/max-within-group trick (no IGNORE NULLS dependency)."""
    from data_lake_with_spark_spark.operators.timeseries import resample_ffill

    e = _t(spark, sf_dir, "events")
    out = resample_ffill(e, key_col="event_type", step="1 hour", trunc_unit="hour")
    return out.select(
        "key",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "total_value",
        "filled",
    )


O_Q122 = """
WITH agg AS (
  SELECT event_type AS key,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
  FROM events GROUP BY 1, 2),
bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM agg),
grid AS (
  SELECT k.key, g.bucket
  FROM (SELECT DISTINCT key FROM agg) k
  CROSS JOIN bounds
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket) g),
j AS (
  SELECT grid.key, grid.bucket, agg.total
  FROM grid LEFT JOIN agg USING (key, bucket)),
f AS (
  SELECT key, bucket, total,
         COUNT(total) OVER (PARTITION BY key ORDER BY bucket) AS grp
  FROM j)
SELECT key,
       strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       MAX(total) OVER (PARTITION BY key, grp) AS total_value,
       (total IS NULL) AS filled
FROM f
"""


def q123_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (events_analytics.cohort_retention):
    users cohorted by first-event DAY (the fixture spans 30 days —
    monthly cohorts would collapse to one degenerate cell and verify
    nothing); cell (cohort, k) = distinct users active k days later.
    Offsets are datediff of day-truncated dates — exact integers."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        cohort_retention,
    )

    e = _t(spark, sf_dir, "events")
    out = cohort_retention(e, period="day")
    return out.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "offset",
        "n_users",
    )


O_Q123 = """
WITH first AS (
  SELECT user_id,
         date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS cohort
  FROM events GROUP BY 1),
act AS (
  SELECT DISTINCT user_id,
         date_trunc('day', CAST(ts AS TIMESTAMP)) AS p
  FROM events)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
       CAST(datediff('day', cohort, p) AS INTEGER) AS offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM act a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def q14_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the 5-hot-key events table
    (operators/skew.py) — identical results to a direct groupBy, but
    hot keys never concentrate in one reducer."""
    from data_lake_with_spark_spark.operators.skew import salted_aggregate

    e = _t(spark, sf_dir, "events")
    out = salted_aggregate(
        e,
        ["event_type"],
        {"total_value": F.col("value").cast("decimal(18,6)")},
        salt=8,
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("total_value").cast("double").alias("total_value"),
    )


O_Q14 = f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {_osum('value', 'total_value')}
FROM events GROUP BY event_type
"""


def q56_cascade_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup cascade (hypertable continuous-
    aggregate shape): the daily aggregate is computed FROM the hourly
    one — exact for decomposable aggregates, and at scale the hourly
    materialization is reused by every coarser resolution instead of
    re-scanning the raw events."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("_tv"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("bucket")).alias("day"), F.col("event_type")
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("_tv").cast("double").alias("total_value"),
        )
    )


O_Q56 = f"""
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
       event_type, CAST(COUNT(*) AS BIGINT) AS n,
       {_osum('value', 'total_value')}
FROM events GROUP BY 1, 2
"""


def q57_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming native session windows (gap-based, keyed
    by user) over a staged file stream — the streaming twin of q17.
    FULLY ORACLED since round 5: availableNow delivers all staged
    files in one micro-batch, so the final complete-mode state is the
    batch sessionization — expressed in DuckDB as gaps-and-islands
    with session_window's exact boundary (an event at exactly
    prev + gap starts a NEW session; also tuple-checked against a
    Spark batch twin in
    test_streaming.test_session_counts_match_batch_sessions)."""
    from data_lake_with_spark_spark.streaming.events import (
        read_event_stream,
        session_counts,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    stage = tempfile.mkdtemp(prefix="dlws_stream_sess_")
    e.coalesce(4).write.mode("overwrite").json(stage)
    stream = read_event_stream(spark, stage)
    agg = session_counts(stream, gap="30 minutes", watermark="2 hours")
    out = _drain_stream_to_memory(
        agg, spark, "dlws_stream_sessions", "complete", (stage,)
    )
    return out.select(
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "user_id",
        "n_events",
        "total_value",
    )


O_Q57 = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
s AS (
  SELECT user_id, ts, value,
         CASE WHEN ts < lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     + INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS brk
  FROM e),
g AS (
  SELECT *, SUM(brk) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING) AS sid
  FROM s)
SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE,
                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS total_value
FROM g
GROUP BY user_id, sid
"""


def q15_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling (operators/profile.py — the
    reference's data_profiling.ipynb workflow as one engine op)."""
    from data_lake_with_spark_spark.operators.profile import summarize

    c = _t(spark, sf_dir, "customer")
    return summarize(
        c, ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    )


def _o_profile(col: str, numeric: bool) -> str:
    if numeric:
        mm = (
            f"CAST(MIN({col}) AS DOUBLE) AS min_num, "
            f"CAST(MAX({col}) AS DOUBLE) AS max_num, "
            "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
        )
    else:
        mm = (
            "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
            f"MIN({col}) AS min_str, MAX({col}) AS max_str"
        )
    return (
        f"SELECT '{col}' AS column, CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
        f"CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct, {mm} "
        "FROM customer"
    )


O_Q15 = " UNION ALL ".join(
    [
        _o_profile("c_custkey", True),
        _o_profile("c_name", False),
        _o_profile("c_nationkey", True),
        _o_profile("c_acctbal", True),
        _o_profile("c_mktsegment", False),
    ]
)


def q59_having_global_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group totals kept only when exceeding a
    fraction of the GLOBAL total — the scalar subquery broadcast as a
    1-row cross join (never recomputed per group)."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * F.col("l_quantity"), "part_value")
    )
    total = li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_quantity"), "total_value"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    # scale-invariant threshold: parts carrying > 1.2x the average share
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("part_value")
            > F.lit(1.2) * F.col("total_value") / F.col("n_parts")
        )
        .select("l_partkey", "part_value")
    )


O_Q59 = f"""
WITH per_part AS (
  SELECT l_partkey, {_osum('l_extendedprice * l_quantity', 'part_value')}
  FROM lineitem GROUP BY l_partkey),
tot AS (
  SELECT {_osum('l_extendedprice * l_quantity', 't')},
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
  FROM lineitem)
SELECT l_partkey, part_value FROM per_part, tot
WHERE part_value > 1.2 * t / n_parts
"""


def q02_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN over a filtered key set (anti join) +
    distinct-count aggregate per group."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    bad_parts = p.where(F.col("p_type") == "PROMO").select("p_partkey")
    kept = li.join(
        bad_parts, on=[li["l_partkey"] == bad_parts["p_partkey"]], how="left_anti"
    )
    joined = kept.join(F.broadcast(p), on=[kept["l_partkey"] == p["p_partkey"]])
    return joined.groupBy("p_brand").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_lines"),
    )


O_Q02 = """
SELECT p_brand, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
GROUP BY p_brand
"""


def q61_in_having_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold (IN over a HAVING subquery), then enriched."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        o.join(big, on=[o["o_orderkey"] == big["l_orderkey"]])
        .select("o_orderkey", "o_custkey", "o_totalprice", "sum_qty")
    )


O_Q61 = f"""
WITH big AS (
  SELECT l_orderkey, {_osum('l_quantity', 'sum_qty')}
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 150)
SELECT o_orderkey, o_custkey, o_totalprice, sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
"""


def q62_country_code_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: substring-derived grouping key, a global avg
    scalar subquery as filter, and an anti join (customers with no
    orders), aggregated per code."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal"), "avg_bal")
    )
    rich = (
        c.withColumn("code", F.expr("right(c_name, 2)"))
        .crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
    )
    no_orders = rich.join(
        o, on=[rich["c_custkey"] == o["o_custkey"]], how="left_anti"
    )
    return no_orders.groupBy("code").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum(F.col("c_acctbal"), "total_bal"),
    )


O_Q62 = f"""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS a
  FROM customer WHERE c_acctbal > 0)
SELECT right(c_name, 2) AS code,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {_osum('c_acctbal', 'total_bal')}
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
GROUP BY 1
"""


def q18_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: documents surviving greedy MinHash-LSH
    dedup (any doc LSH-paired with a lower id is dropped)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup(
        d, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K, bands=2
    ).select("doc_id", "lang", "source")


O_Q18 = f"""
WITH sh AS ({_O_SHINGLES}),
sig AS (SELECT doc_id, {_O_SIG_COLS} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig
),
dupes AS (
  SELECT DISTINCT b.doc_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dupes)
"""


def q64_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal fan-out plumbing: fake video assets → mapInPandas
    frame sampling (1 row per sampled frame) → per-asset frame counts.
    VALUE-ORACLED since round 5: the sampler's fan-out is a closed
    form over the metadata — n_frames = max(trunc(duration/every), 1),
    last_ts = (n_frames-1)·every — so the DuckDB twin predicts the
    mapInPandas row multiplication independently (duration =
    n_chars/100 is one IEEE division on both sides; trunc == floor
    for non-negative durations)."""
    from data_lake_with_spark_spark.operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("modality"),
        F.lit("video/mp4").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("meta_width"),
        F.lit(None).cast("int").alias("meta_height"),
        (F.col("n_chars") / 100.0).cast("double").alias("meta_duration_s"),
    )
    frames = sample_frames(assets, every_s=1.0)
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ts_s").alias("last_frame_ts"),
    )


O_Q64 = """
WITH f AS (
  SELECT doc_id,
         GREATEST(CAST(FLOOR(n_chars / 100.0) AS BIGINT), 1) AS n_frames
  FROM documents)
SELECT doc_id AS asset_id,
       n_frames,
       CAST((n_frames - 1) AS DOUBLE) * 1.0 AS last_frame_ts
FROM f
"""


def q65_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions (I6 surface): extract a field from the
    events.props JSON string column and aggregate it — scan-time JSON
    parsing stays inside codegen (get_json_object), no UDF."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


O_Q65 = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props->>'$.k' AS INTEGER)) AS INTEGER) AS min_k,
       CAST(MAX(CAST(props->>'$.k' AS INTEGER)) AS INTEGER) AS max_k
FROM events GROUP BY event_type
"""


def q66_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order functions (I6 surface) over the embedding
    column: size, element access, max, and a sequential fold over a
    slice — all JVM-side."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.round(
            F.expr(
                "aggregate(slice(embedding, 1, 8), cast(0.0 as double),"
                " (acc, x) -> acc + cast(x as double))"
            ),
            6,
        ).alias("head8_sum"),
    )


O_Q66 = """
SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_val,
       CAST(list_max(embedding) AS DOUBLE) AS max_val,
       round(list_sum(CAST(embedding[1:8] AS DOUBLE[])), 6) AS head8_sum
FROM embeddings
"""


def q67_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (the one join type left): the full
    region × nation grid with a membership flag."""
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = _t(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey"))).select(
        "r_name",
        "n_name",
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_member"),
    )


O_Q67 = """
SELECT r_name, n_name, n_regionkey = r_regionkey AS is_member
FROM region CROSS JOIN nation
"""


def q68_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal arithmetic kernel: day difference to a fixed date,
    interval shift, month truncation, month extraction-by-arithmetic."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate"), F.expr("TIMESTAMP_NTZ '1995-01-01 00:00:00'")
        ).cast("int").alias("days_since_epoch_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias("due_date"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        F.last_day(F.col("o_orderdate")).cast("timestamp_ntz").alias("month_end"),
    )


O_Q68 = """
SELECT o_orderkey,
       CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER)
         AS days_since_epoch_start,
       o_orderdate + INTERVAL 90 DAY AS due_date,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end
FROM orders
"""


def q69_null_conditionals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling / conditional kernel: coalesce, nullif,
    least/greatest, CASE — over a left join that manufactures nulls."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice"), "spend")
    )
    joined = c.join(o, on=[c["c_custkey"] == o["o_custkey"]], how="left")
    return joined.select(
        "c_custkey",
        F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend_or_zero"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_non_building"),
        F.least(F.col("c_acctbal"), F.coalesce(F.col("spend"), F.lit(0.0))).alias(
            "min_bal_spend"
        ),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("nonneg_bal"),
        F.when(F.col("spend").isNull(), "inactive")
        .when(F.col("spend") > 500000, "whale")
        .otherwise("active")
        .alias("tier"),
    )


O_Q69 = f"""
WITH sp AS (
  SELECT o_custkey, {_osum('o_totalprice', 'spend')} FROM orders GROUP BY o_custkey)
SELECT c_custkey,
       COALESCE(spend, 0.0) AS spend_or_zero,
       NULLIF(c_mktsegment, 'BUILDING') AS seg_non_building,
       LEAST(c_acctbal, COALESCE(spend, 0.0)) AS min_bal_spend,
       GREATEST(c_acctbal, 0.0) AS nonneg_bal,
       CASE WHEN spend IS NULL THEN 'inactive'
            WHEN spend > 500000 THEN 'whale'
            ELSE 'active' END AS tier
FROM customer LEFT JOIN sp ON c_custkey = o_custkey
"""


def q70_streaming_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream broadcast-enriched with
    the customer dimension per micro-batch, then windowed counts per
    market segment. FULLY ORACLED since round 5: the final
    complete-mode state equals the batch join + hourly rollup (also
    tuple-checked against a Spark batch twin in
    test_streaming.test_enriched_windowed_counts_match_batch)."""
    from data_lake_with_spark_spark.streaming.events import (
        enriched_windowed_counts,
        read_event_stream,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    stage = tempfile.mkdtemp(prefix="dlws_stream_enrich_")
    e.coalesce(4).write.mode("overwrite").json(stage)
    stream = read_event_stream(spark, stage)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = enriched_windowed_counts(
        stream, dim, "user_id", "c_custkey", "c_mktsegment"
    )
    out = _drain_stream_to_memory(
        agg, spark, "dlws_stream_enriched", "complete", (stage,)
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "c_mktsegment",
        "n",
    )


O_Q70 = """
SELECT strftime(date_trunc('hour', CAST(e.ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def q71_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide returnflag quantity matrix (q39's
    pivot) folded back to long form — pivot and unpivot together
    close the reshaping surface."""
    wide = q39_pivot_returnflag(spark, sf_dir)
    return wide.unpivot(
        ["l_linestatus"], ["A", "N", "R"], "returnflag", "sum_qty"
    ).where(F.col("sum_qty").isNotNull())


O_Q71 = """
WITH wide AS (
  SELECT l_linestatus,
         CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity END
                  AS DECIMAL(18,6))) AS DOUBLE) AS "A",
         CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity END
                  AS DECIMAL(18,6))) AS DOUBLE) AS "N",
         CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity END
                  AS DECIMAL(18,6))) AS DOUBLE) AS "R"
  FROM lineitem GROUP BY l_linestatus)
SELECT l_linestatus, returnflag, sum_qty
FROM wide UNPIVOT (sum_qty FOR returnflag IN ("A", "N", "R"))
"""


def q72_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex kernel: capture-group extraction and pattern counting
    over part names — codegen'd regexp functions, no UDF."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract(F.col("p_name"), r"(\d+)", 1).alias("first_number"),
        F.size(F.split(F.col("p_name"), r"\s+")).cast("int").alias("n_words"),
        F.regexp_like(F.col("p_name"), F.lit("^p")).alias("starts_with_p"),
    )


O_Q72 = """
SELECT p_partkey,
       regexp_extract(p_name, '(\\d+)', 1) AS first_number,
       CAST(len(string_split_regex(p_name, '\\s+')) AS INTEGER) AS n_words,
       regexp_matches(p_name, '^p') AS starts_with_p
FROM part
"""


def q73_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead surface (windows.lag_delta): per-user value delta
    between consecutive events."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return windows.lag_delta(e, ["user_id"], "ts", "value", col_name="delta").select(
        "user_id", "event_id", F.round("delta", 6).alias("delta")
    )


O_Q73 = """
SELECT user_id, event_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts), 6)
         AS delta
FROM events
"""


def q74_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank over rounded keys (ties are real after
    rounding, so the two diverge — both computed, both checked)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round((F.col("o_totalprice") / 10000).cast("double"), 0).alias("price_bucket"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("price_bucket").desc(), F.col("o_orderkey").asc()
    )
    wd = Window.partitionBy("o_orderstatus").orderBy(F.col("price_bucket").desc())
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "price_bucket",
        F.row_number().over(w).alias("rn"),
        F.dense_rank().over(wd).alias("bucket_rank"),
    )


O_Q74 = """
SELECT o_orderkey, o_orderstatus,
       round(CAST(o_totalprice / 10000 AS DOUBLE), 0) AS price_bucket,
       CAST(row_number() OVER (PARTITION BY o_orderstatus
                ORDER BY round(CAST(o_totalprice / 10000 AS DOUBLE), 0) DESC,
                         o_orderkey) AS INTEGER) AS rn,
       CAST(dense_rank() OVER (PARTITION BY o_orderstatus
                ORDER BY round(CAST(o_totalprice / 10000 AS DOUBLE), 0) DESC)
            AS INTEGER) AS bucket_rank
FROM orders
"""


def q75_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles of customers by balance within segment
    (deterministic: total order via custkey tiebreak)."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("balance_quartile"),
    )


O_Q75 = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey) AS INTEGER)
         AS balance_quartile
FROM customer
"""


def q33_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components (transitive closure)
    over the MinHash-LSH bucket graph — each document labeled with its
    cluster's minimum doc id (dedup.connected_components, iterative
    min-label propagation with pointer jumping).

    The graph input is dedup.minhash_star_edges (doc -> min doc id of
    its bucket), NOT all candidate pairs: star edges have identical
    connectivity (every bucket is a clique either way) at O(docs x
    bands) edges instead of O(bucket^2) pairs — on this corpus (dense:
    median pairwise Jaccard 0.63, so LSH buckets are huge) the
    all-pairs graph is quadratic and the star graph is what survives
    a 100 TB scale-up."""
    d = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_star_edges(
        d, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K, bands=2
    )
    return dedup.connected_components(d.select("doc_id"), edges).select(
        F.col("id").alias("doc_id"), F.col("cluster").cast("bigint").alias("cluster")
    )


O_Q33 = f"""
WITH RECURSIVE sh AS ({_O_SHINGLES}),
sig AS (SELECT doc_id, {_O_SIG_COLS} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig
),
star AS (
  SELECT MIN(doc_id) OVER (PARTITION BY band, band_key) AS id_a,
         doc_id AS id_b
  FROM banded),
pairs AS (SELECT DISTINCT id_a, id_b FROM star WHERE id_a <> id_b),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)
SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster
FROM reach GROUP BY node
"""


def q34_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators/sampling.py): the
    training-data mixing step — per-language keep rates applied via a
    portable md5-prefix threshold, so the selected row set is stable
    across runs, partitionings, and engines (unlike df.sample /
    sampleBy, whose RNG is partition-seeded). The rate map folds into
    one CASE expression: a single scan + filter, no shuffle, predicate
    on the parquet scan. Rates exercise every regime: downsample
    (en .25, zh .5, es .75), keep-all (de 1.0), drop (fr via default
    0.0)."""
    from data_lake_with_spark_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d,
        "lang",
        {"en": 0.25, "zh": 0.5, "es": 0.75, "de": 1.0},
        key=F.col("doc_id").cast("string"),
        default_rate=0.0,
    ).select("doc_id", "lang")


O_Q34 = """
SELECT doc_id, lang FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      CASE lang WHEN 'en' THEN '40' WHEN 'zh' THEN '80'
                WHEN 'es' THEN 'c0' WHEN 'de' THEN 'gg'
                ELSE '00' END
"""


def q91_dedup_clusters_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering through connected_components' distributed
    regime, kept under its name because the driver lists it. That
    regime is one loop, so this is q100: same edges, same O_Q33 pin."""
    return q100_dedup_clusters_two_phase(spark, sf_dir)


def q100_dedup_clusters_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering through connected_components' DISTRIBUTED
    regime: identical semantics (and oracle) to q33_dedup_clusters,
    but with ``collect_threshold=0`` so the alternating large-star /
    small-star loop (Kiveris et al. SoCC'14, dedup._cc_two_phase)
    runs instead of the driver union-find — value-level proof that
    the 100 TB branch (the one a real cluster would take on a
    billion-edge graph) converges to the same transitive closure, not
    just the collect-when-small shortcut."""
    d = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_star_edges(
        d, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K, bands=2
    )
    return dedup.connected_components(
        d.select("doc_id"), edges, collect_threshold=0
    ).select(
        F.col("id").alias("doc_id"), F.col("cluster").cast("bigint").alias("cluster")
    )


def q103_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join: revenue from lineitems where
    the SUPPLIER and the ordering CUSTOMER share a nation, rolled up
    to (region, nation). Closes the supplier table's coverage and
    exercises the deep-join shape Catalyst must get right at 100 TB:
    the four dimension tables (region→nation, supplier, customer)
    broadcast; the only shuffle joins are orders⋈lineitem on orderkey
    — AQE/CBO pick the order, the declarative plan just states it."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            # decimal-routed: the product is exact at 4dp, the sum
            # exact in decimal, the 2dp round exact — a round of the
            # DOUBLE sum can land on an .xx5 boundary where engines
            # disagree (q85 divergence class)
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("r_name", "n_name")
    )


O_Q103 = """
SELECT r.r_name, n.n_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_nationkey = s.s_nationkey
GROUP BY r.r_name, n.n_name
ORDER BY r.r_name, n.n_name
"""


def q102_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving against a PERSISTED IVF index
    (similarity.build_ivf_index / ivf_topk_indexed): centroids +
    inverted lists written partitioned by cent_id, probes pushed into
    the scan as partition filters (PartitionFilters-gated in tests).
    Same oracle as q13 — the served results are identical to the
    inline IVF over the same centroid set, which is the point: the
    index changes the I/O profile (nprobe/n_centroids of the corpus
    read), not the answer."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivf_idx_", ignore_cleanup_errors=True
    ) as idx:
        build_ivf_index(emb, idx, centroid_mod=50)
        out = ivf_topk_indexed(
            spark, idx, emb.where(F.col("vec_id") < 10), k=5, nprobe=4
        )
        # materialize before the index dir vanishes (localCheckpoint
        # pins the served result; the driver may collect lazily)
        return out.localCheckpoint(eager=True)


def q113_ann_ivf_budgeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in the PRODUCTION configuration: a FIXED centroid
    budget (``target_centroids=40``) instead of q13's fixed sampling
    rate (``centroid_mod=50``). The distinction is the one real
    scale trap the round-5 10× probe measured (α=0.83): a fixed mod
    grows the centroid count linearly with the corpus, making the
    broadcast-argmin assignment O(N²·d/mod); a fixed budget K keeps
    it O(N·K·d) — the FAISS-style shape you would actually deploy at
    100 TB (K ≈ √N chosen by the operator, nprobe/K of the corpus
    read per probe). q13 stays registered as the parity pin; THIS
    entry keeps the deployable config continuously driver-verified
    and benched (round-5 verdict item #1). The oracle derives the
    same budgeted mod in SQL — ``GREATEST(1, COUNT(*) // 40)`` is
    bit-identical to the operator's ``max(1, n // 40)`` — so the
    whole path (budget → mod → centroid set → assignment → probe →
    rank) value-matches DuckDB."""
    from data_lake_with_spark_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    # vec_dim=64: norm-precomputed scoring (norm_expr once per vector
    # at the scan, dot_expr only per pair) — bit-identical values
    # (same ascending accumulation, same dot/(na*nb) grouping), and
    # norm_expr RAISES on a width mismatch instead of silently
    # NULLing. This shape compiles: the former 3-sums-in-one unrolled
    # cosine blew janino's 64 KB method limit in the window plans and
    # ran interpreted (round-6 verdict #1); the no-fallback gate in
    # tests/test_plan_gates.py holds it compiled.
    return ivf_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        nprobe=4,
        target_centroids=40,
        vec_dim=64,
    )


def q114_ann_ivf_indexed_budgeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index serving under the same fixed centroid budget
    as q113 (build_ivf_index/ivf_topk_indexed with
    ``target_centroids=40``): the index build assigns against a
    bounded centroid set and the probe reads only the probed
    ``cent_id=`` partitions. Same oracle as q113 — identical results
    to the inline budgeted IVF over the same centroid set; the index
    changes the I/O profile, not the answer (q102's pattern, now for
    the deployable config)."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivf_idxb_", ignore_cleanup_errors=True
    ) as idx:
        build_ivf_index(emb, idx, target_centroids=40, vec_dim=64)
        out = ivf_topk_indexed(
            spark,
            idx,
            emb.where(F.col("vec_id") < 10),
            k=5,
            nprobe=4,
            vec_dim=64,
        )
        return out.localCheckpoint(eager=True)


def q101_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations audit (profile.check_expectations —
    the Deequ/Delta-constraints publish gate): five CHECK-style rules
    over lineitem evaluated in ONE partial-aggregable pass; one row
    per rule with violation counts and rate. NULL predicate results
    count as violations (unverifiable != verified)."""
    from data_lake_with_spark_spark.operators.profile import check_expectations

    li = _t(spark, sf_dir, "lineitem")
    return check_expectations(
        li,
        {
            "qty_in_range": F.col("l_quantity").between(1, 50),
            "flag_known": F.col("l_returnflag").isin("A", "N", "R"),
            "discount_max_5pct": F.col("l_discount") <= 0.05,
            "tax_nonzero": F.col("l_tax") > 0,
            "price_positive": F.col("l_extendedprice") > 0,
        },
    )


_O_Q101_RULES = (
    ("qty_in_range", "l_quantity BETWEEN 1 AND 50"),
    ("flag_known", "l_returnflag IN ('A', 'N', 'R')"),
    ("discount_max_5pct", "l_discount <= 0.05"),
    ("tax_nonzero", "l_tax > 0"),
    ("price_positive", "l_extendedprice > 0"),
)

O_Q101 = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS rule, COUNT(*) AS n_rows,
       COUNT(CASE WHEN NOT COALESCE({cond}, FALSE) THEN 1 END) AS n_violations,
       COUNT(CASE WHEN NOT COALESCE({cond}, FALSE) THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE) AS violation_rate
FROM lineitem"""
    for name, cond in _O_Q101_RULES
)


def q92_token_jaccard_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard join via PPJoin prefix filtering (Xiao et
    al., WWW'08) — the 100 TB path for exact token-Jaccard:
    document-frequency-ordered prefixes bound the inverted index to
    rare tokens, so hot stop-tokens never enter the candidate join;
    candidates verify exactly on full token sets (array_intersect,
    JVM-side). Same semantics (and oracle) as q48_token_jaccard,
    whose per-language GEMM path requires each block to fit one
    worker; this one shuffles on (lang, prefix-token) and has no
    per-worker block-size ceiling."""
    d = _t(spark, sf_dir, "documents")
    return dedup.token_jaccard_pairs(
        d, threshold=0.7, block_by=["lang"], prefix_filter=True
    )


def q11_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (text.repetition_stats) —
    the Gopher-style degenerate-document filter inputs: token count,
    distinct-token ratio, top-unigram and top-bigram fractions."""
    d = _t(spark, sf_dir, "documents")
    return text.repetition_stats(d)


O_Q11 = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
uni AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM toks, UNNEST(t) AS u(tok) GROUP BY doc_id, tok),
us AS (
  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct, MAX(c) AS top_u
  FROM uni GROUP BY doc_id),
bi AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM toks, UNNEST(list_transform(generate_series(1, len(t) - 1),
       i -> t[i] || ' ' || t[i + 1])) AS w(g)
  GROUP BY doc_id, g),
bs AS (SELECT doc_id, MAX(c) AS top_b, SUM(c) AS n_bi FROM bi GROUP BY doc_id)
SELECT us.doc_id, CAST(us.n_tokens AS BIGINT) AS n_tokens,
       us.n_distinct / CAST(us.n_tokens AS DOUBLE) AS distinct_ratio,
       us.top_u / CAST(us.n_tokens AS DOUBLE) AS top_unigram_frac,
       CASE WHEN bs.n_bi > 0
            THEN bs.top_b / CAST(bs.n_bi AS DOUBLE) END
         AS top_bigram_frac
FROM us LEFT JOIN bs USING (doc_id)
"""


def q36_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII reduction pass (text.scrub_pii): mask emails / URLs / long
    digit runs with typed placeholders + per-class audit counts. The
    testdata corpus carries no PII, so each document is augmented with
    one synthetic email, URL, and id-number derived from its own
    (doc_id, source) — deterministic, so the oracle builds the exact
    same raw text and the masked-output fingerprint must agree."""
    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact "), F.col("source"), F.lit("@example.com via https://"),
        F.col("source"), F.lit(".org/item id "),
        (F.col("doc_id") * 7919 + 10007).cast("string"),
    )
    aug = d.select("doc_id", raw.alias("raw"))
    return aug.select(
        "doc_id",
        *text.pii_hit_counts(F.col("raw")),
        F.md5(text.scrub_pii(F.col("raw"))).alias("clean_fp"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_URL = r"https?://[^\s]+"
_PII_NUM = "[0-9]{4,}"

O_Q36 = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact ' || source || '@example.com via https://' ||
         source || '.org/item id ' || CAST(doc_id * 7919 + 10007 AS VARCHAR)
           AS raw
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PII_URL}')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(raw, '{_PII_NUM}')) AS BIGINT) AS n_nums,
       md5(regexp_replace(regexp_replace(regexp_replace(raw,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_URL}', '<URL>', 'g'),
           '{_PII_NUM}', '<NUM>', 'g')) AS clean_fp
FROM aug
"""


def q50_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (text.ngram_contamination): per
    corpus document, the number of distinct word 3-grams shared with a
    held-out benchmark slice (doc_id % 50 = 0) — the eval-set
    decontamination pass. Benchmark n-gram set broadcasts; the corpus
    side is one linear explode + map-side join."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corpus = d.where(F.col("doc_id") % 50 != 0)
    return text.ngram_contamination(corpus, bench, n=3)


O_Q50 = """
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
grams AS (
  SELECT doc_id, g FROM docs,
  UNNEST(list_transform(generate_series(1, len(t) - 2),
         i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS w(g)
  WHERE g != ''),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
hits AS (
  SELECT DISTINCT gr.doc_id, gr.g FROM grams gr JOIN bench USING (g)
  WHERE gr.doc_id % 50 != 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
FROM hits GROUP BY doc_id
"""


def q83_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per language (training-data curation
    staple: length-balance audit before mixing). Linear-bucket integer
    math so both engines bucket identically."""
    d = _t(spark, sf_dir, "documents")
    nt = text.token_count(F.col("text"))
    bucket = F.least(F.floor(nt / F.lit(50)), F.lit(10)).cast("bigint")
    return (
        d.select("lang", bucket.alias("len_bucket"), nt.alias("nt"))
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
        )
    )


O_Q83 = """
WITH d AS (
  SELECT lang, len(string_split_regex(trim(text), '\\s+')) AS nt
  FROM documents)
SELECT lang,
       CAST(LEAST(CAST(FLOOR(nt / 50) AS BIGINT), 10) AS BIGINT) AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens
FROM d GROUP BY 1, 2
"""


def q84_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup (streaming/events.dedup_stream):
    the events table is staged TWICE into the file stream (simulating
    at-least-once redelivery); watermarked dropDuplicates on event_id
    collapses the duplicates. FULLY ORACLED since round 5: the two
    staged copies of each event are byte-identical, so whichever copy
    dropDuplicates keeps, the survivor ROWS equal the events table
    itself — the oracle is a plain projection of events (survivor-set
    semantics also pinned in
    test_streaming.test_dedup_stream_collapses_redelivery)."""
    from data_lake_with_spark_spark.streaming.events import (
        dedup_stream,
        read_event_stream,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    stage = tempfile.mkdtemp(prefix="dlws_stream_dedup_")
    e.coalesce(2).write.mode("overwrite").json(stage)
    e.coalesce(2).write.mode("append").json(stage)
    stream = read_event_stream(spark, stage)
    deduped = dedup_stream(stream, keys=("event_id",))
    out = _drain_stream_to_memory(
        deduped, spark, "dlws_stream_dedup", "append", (stage,)
    )
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


O_Q84 = """
SELECT event_id,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts,
       user_id, event_type, value
FROM events
"""


def q85_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form (similarity.
    label_centroids) — class prototypes / IVF codebook refresh as one
    posexplode + partial-aggregated groupBy; vectors never sit whole
    anywhere."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.label_centroids(e, label_col="label", vec_col="embedding")


O_Q85 = """
SELECT label, CAST(i AS BIGINT) AS pos,
       CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6)))
            AS DOUBLE) / COUNT(*) AS centroid_val
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(i)
GROUP BY 1, 2
"""


def q86_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style snapshot upsert (relational.upsert_snapshot): a
    deterministic CDC batch against customer — every 10th key gets an
    account-balance update, every (key % 7 == 3) key inserts as a new
    +1,000,000 key — applied as one full-outer join + COALESCE."""
    c = _t(spark, sf_dir, "customer")
    upd_changed = c.where(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    upd_new = c.where(F.col("c_custkey") % 7 == 3).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    updates = upd_changed.unionByName(upd_new)
    return relational.upsert_snapshot(c, updates, keys=["c_custkey"])


O_Q86 = """
WITH upd AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 3)
SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
       COALESCE(u.c_name, b.c_name) AS c_name,
       COALESCE(u.c_nationkey, b.c_nationkey) AS c_nationkey,
       COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
       COALESCE(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment
FROM customer b FULL OUTER JOIN upd u ON b.c_custkey = u.c_custkey
"""


def q87_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (text.chunk_documents): 64-token
    chunks, 8-token overlap — shuffle-free explode inside the scan."""
    d = _t(spark, sf_dir, "documents")
    return text.chunk_documents(d, chunk_tokens=64, overlap=8)


O_Q87 = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s.start) AS BIGINT)
         AS chunk_id,
       CAST(len(list_slice(t, s.start, s.start + 63)) AS BIGINT)
         AS chunk_n_tokens,
       array_to_string(list_slice(t, s.start, s.start + 63), ' ') AS chunk_text
FROM toks, UNNEST(generate_series(1, GREATEST(len(t), 1), 56)) AS s(start)
"""


def q88_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (text.pack_sequences): documents
    binned into 2048-token packs per language by exclusive-prefix
    running total — one window shuffle."""
    d = _t(spark, sf_dir, "documents")
    return text.pack_sequences(d, budget=2048, partition_col="lang")


O_Q88 = """
WITH d AS (
  SELECT lang, doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents)
SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
         PARTITION BY lang ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
         AS BIGINT) AS pack_id
FROM d
"""


def q89_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (text.tfidf_top_terms):
    rounded-score ranking with term tiebreaker, broadcast df table
    and corpus-count scalar."""
    d = _t(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, k=3)


O_Q89 = """
WITH tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents), UNNEST(t) AS u(tok)
  GROUP BY doc_id, tok),
docfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS _n FROM documents),
scored AS (
  SELECT doc_id, term,
         ROUND(tf * LN(CAST(_n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6)
           AS tfidf
  FROM tf JOIN docfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term) AS BIGINT) AS rank
  FROM scored)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""


def q90_streaming_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (streaming/events.cdc_apply_stream): the
    event stream MERGEs into a versioned-parquet snapshot table
    (sources/lakehouse.py); returns the final snapshot (latest row
    per user). FULLY ORACLED since round 5: the apply is
    ordering-safe (a change wins only if newer by (ts, event_id)), so
    the final snapshot is a pure function of the change set —
    independent of micro-batch splits — and equals the SQL argmax per
    user. Delete/update interleavings are value-checked against a
    batch twin in tests/test_streaming.py."""
    from data_lake_with_spark_spark.sources import lakehouse
    from data_lake_with_spark_spark.streaming.events import (
        cdc_apply_stream,
        read_event_stream,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    with tempfile.TemporaryDirectory(
        prefix="dlws_cdc_", ignore_cleanup_errors=True
    ) as root:
        stage = os.path.join(root, "in")
        snap = os.path.join(root, "snap")
        e.coalesce(2).write.mode("overwrite").json(stage)
        q = cdc_apply_stream(
            read_event_stream(spark, stage),
            snap,
            keys=("user_id",),
            order_col="ts",
            tiebreak_cols=("event_id",),
        )
        # raise on timeout BEFORE reading: a partial snapshot would be
        # silently truncated (same class as _drain_stream_to_memory's
        # advisor fix)
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError("cdc_apply_stream did not finish in 120s")
        snap_df = lakehouse.read_snapshot(spark, snap)
        # driver-facing ts as the canonical micro string (the stream
        # parsed it to timestamp; a string avoids tz/type skew vs
        # DuckDB). localCheckpoint(eager) pins the rows BEFORE the
        # snapshot dir is removed below — the driver collects lazily.
        return snap_df.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "user_id",
            "event_type",
            "value",
        ).localCheckpoint(eager=True)


O_Q90 = """
WITH e AS (
  SELECT event_id,
         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts,
         user_id, event_type, value
  FROM events),
r AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM e)
SELECT event_id, ts, user_id, event_type, value
FROM r WHERE rn = 1
"""


def q41_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration, value-checked: deterministic seeds
    (vec_id % 50 == 0), broadcast-argmin assignment (similarity.
    kmeans_assign), element-wise mean refit in long form (similarity.
    label_centroids). The full iterative loop (similarity.kmeans) is
    convergence-tested in tests/test_similarity.py; this proves one
    step's values against the SQL oracle — same strategy as the
    connected-components pair (q33 driver regime / q100 distributed)."""
    from data_lake_with_spark_spark.operators.similarity import (
        kmeans_assign,
        label_centroids,
    )

    e = _t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("cent_v")
    )
    assigned = kmeans_assign(e, cents)
    return (
        label_centroids(
            assigned.join(e, on="vec_id"), label_col="cluster", vec_col="embedding"
        )
        .withColumnRenamed("label", "cluster")
    )


_O_L2SQ = (
    "list_sum(list_transform(generate_series(1, len({a})), i -> "
    "(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
    "(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
)

# O_Q116/O_Q117/O_Q118 are authored as templates next to their queries
# (the L2 helper is defined here, after that point in the file);
# resolve them now.
O_Q116 = O_Q116.format(
    l2=_O_L2SQ.format(a="e.embedding", b="c.cent_v"),
    cos=_O_COS.format(a="a.embedding", b="b.embedding"),
)
O_Q117 = O_Q117.format(l2ec=_O_L2SQ.format(a="ev.sub_v", b="cb.cent_sub"))
O_Q118 = O_Q118.format(
    l2ec=_O_L2SQ.format(a="ev.sub_v", b="cb.cent_sub"),
    l2qc=_O_L2SQ.format(a="qv.q_sub", b="cb.cent_sub"),
)
O_Q119 = O_Q119.format(
    l2ec=_O_L2SQ.format(a="ev.sub_v", b="cb.cent_sub"),
    l2qc=_O_L2SQ.format(a="qv.q_sub", b="cb.cent_sub"),
    l2re=_O_L2SQ.format(a="c.embedding", b="qe.embedding"),
)

O_Q41 = f"""
WITH cents AS (
  SELECT vec_id AS cluster, embedding AS cent_v FROM embeddings
  WHERE vec_id % 50 = 0),
dists AS (
  SELECT e.vec_id, c.cluster,
         ROUND({_O_L2SQ.format(a='e.embedding', b='c.cent_v')}, 6) AS d
  FROM embeddings e CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC)
             AS rn
    FROM dists) WHERE rn = 1)
SELECT a.cluster, CAST(i AS BIGINT) AS pos,
       CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,6)))
            AS DOUBLE) / COUNT(*) AS centroid_val
FROM assigned a JOIN embeddings e USING (vec_id),
     UNNEST(generate_series(1, len(e.embedding))) AS s(i)
GROUP BY 1, 2
"""


def q42_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate spans (dedup.duplicated_spans): every
    rolling 8-token span occurring in >= 2 distinct documents, with
    document frequency and occurrence count — the Spark-shaped analog
    of suffix-array training-data dedup (Lee et al. 2022). One linear
    explode + one hash-shuffle; output bounded by corpus tokens."""
    d = _t(spark, sf_dir, "documents")
    return dedup.duplicated_spans(d, window=8, min_docs=2)


O_Q42 = """
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
spans AS (
  SELECT doc_id, g AS span FROM docs,
  UNNEST(list_transform(generate_series(1, len(t) - 7),
         i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS w(g)
  WHERE g != '')
SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM spans GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
"""


def q93_balance_languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing (sampling.balance_strata): every
    language deterministically downsampled to ~the smallest language's
    size (the testdata is en-heavy: 218 en vs 64 fr at sf0.01) via
    data-dependent md5-prefix thresholds computed inside the plan
    (tiny count aggregate + broadcast join back; the corpus is never
    shuffled and the filter runs scan-side)."""
    from data_lake_with_spark_spark.operators.sampling import balance_strata

    d = _t(spark, sf_dir, "documents")
    return balance_strata(
        d, "lang", F.col("doc_id").cast("string")
    ).select("doc_id", "source", "lang")


O_Q93 = """
WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
thr AS (
  SELECT lang,
         CASE WHEN t >= 256 THEN 'gg'
              ELSE lower(lpad(to_hex(t), 2, '0')) END AS thr
  FROM (SELECT lang,
               CAST(ROUND(256.0 * (SELECT MIN(cnt) FROM c) / cnt, 0)
                    AS INTEGER) AS t
        FROM c))
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN thr USING (lang)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < thr
"""


def q104_temperature_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing at alpha=0.5
    (sampling.temperature_rebalance — the mBERT/XLM-R p^alpha mix):
    head languages damped by (n_min/n_l)^0.5 instead of q93's full
    flatten, tail languages kept whole. Same deterministic scan-side
    md5-threshold shape; value-checked against the identical POWER
    arithmetic in DuckDB."""
    from data_lake_with_spark_spark.operators.sampling import (
        temperature_rebalance,
    )

    d = _t(spark, sf_dir, "documents")
    return temperature_rebalance(
        d, "lang", F.col("doc_id").cast("string"), alpha=0.5
    ).select("doc_id", "source", "lang")


O_Q104 = """
WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
thr AS (
  SELECT lang,
         CASE WHEN t >= 256 THEN 'gg'
              ELSE lower(lpad(to_hex(t), 2, '0')) END AS thr
  FROM (SELECT lang,
               CAST(ROUND(256.0 * POWER(
                      (SELECT MIN(cnt) FROM c) * 1.0 / cnt, 0.5), 0)
                    AS INTEGER) AS t
        FROM c))
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN thr USING (lang)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < thr
"""


def q105_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbors scored on the INT8-quantized corpus
    (similarity.quantized_topk): cosine is scale-invariant so the
    per-vector scale cancels and scoring runs on the int8 arrays —
    the q97 memory lever in use (4× less corpus I/O). Oracle
    replicates the quantization + cosine in DuckDB; recall vs the
    float baseline is pinned in tests."""
    from data_lake_with_spark_spark.operators.similarity import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


O_Q105 = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings),
s AS (
  SELECT vec_id, ve,
         list_max(list_transform(ve, x -> abs(x))) AS amax
  FROM v),
q8 AS (
  SELECT vec_id,
         list_transform(
           ve,
           x -> CAST(COALESCE(
                  ROUND(x * (CASE WHEN amax > 0 THEN 127.0 / amax END), 0),
                  0) AS DOUBLE)) AS qv8
  FROM s),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_O_COS.format(a='c.qv8', b='q.qv')} AS cos
  FROM q8 c, q WHERE c.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


def q94_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) codes over two bucketed event dimensions
    (functions/zorder.py) — the clustering key behind the z-ordered
    parquet layout (sinks.write_zordered, pruning proven in
    tests/test_scale_ops.py). Pure integer bit arithmetic, whole-stage
    codegen'd; value-checked bit-for-bit against the same shift
    folding in DuckDB."""
    from data_lake_with_spark_spark.functions.zorder import zvalue

    e = _t(spark, sf_dir, "events")
    b = e.where(F.col("event_id") % 10 == 0).select(
        "event_id",
        ((F.col("user_id") % 256 + 256) % 256).alias("x"),
        ((F.floor("value").cast("bigint") % 256 + 256) % 256).alias("y"),
    )
    return b.withColumn("z", zvalue(F.col("x"), F.col("y"), bits=8))


def _O_Q94() -> str:
    from data_lake_with_spark_spark.functions.zorder import oracle_zvalue_sql

    return f"""
WITH b AS (
  SELECT event_id,
         ((user_id % 256 + 256) % 256) AS x,
         ((CAST(FLOOR(value) AS BIGINT) % 256 + 256) % 256) AS y
  FROM events WHERE event_id % 10 = 0)
SELECT event_id, x, y, {oracle_zvalue_sql('x', 'y', 8)} AS z FROM b
"""


O_Q94 = _O_Q94()


def q95_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered event funnel view → click → purchase
    (events_analytics.funnel_stages): first-touch conversion per user,
    each later stage strictly after the previous stage's conversion
    time. One declarative plan — per-user conversion frame via
    co-partitioned per-stage min-joins, collapsed to counts and
    unpivoted with stack; no driver-side per-stage actions."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        funnel_stages,
    )

    e = _t(spark, sf_dir, "events")
    return funnel_stages(e, ["view", "click", "purchase"])


O_Q95 = """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1),
s1 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s0 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)
SELECT 'view' AS stage, 0 AS stage_idx,
       (SELECT COUNT(*) FROM s0) AS n_users
UNION ALL SELECT 'click', 1, (SELECT COUNT(*) FROM s1)
UNION ALL SELECT 'purchase', 2, (SELECT COUNT(*) FROM s2)
"""


def q96_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build from the event log
    (events_analytics.scd2_history): per-user event_type history
    collapsed to change intervals (valid_from, valid_to half-open,
    is_current) via two window passes sharing one hash partitioning
    on the key — the MERGE-free lakehouse dimension derivation that
    pairs with the snapshot tables of sources/lakehouse.py."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        scd2_history,
    )

    e = _t(spark, sf_dir, "events")
    return scd2_history(
        e, ["user_id"], "event_type", "ts", tiebreak_cols=["event_id"]
    )


O_Q96 = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events),
chg AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
SELECT user_id, event_type, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM chg
"""


def q97_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization
    (similarity.quantize_int8) — the 4× memory lever for ANN serving:
    scale = 127/max|x|, q = round(x·scale). Pure codegen'd array
    expressions, shuffle-free, fuses into the scan; value-checked
    element-for-element against the same arithmetic in DuckDB.

    Driver-facing shape is LONG FORM ``(vec_id, pos, qval, scale)``
    via posexplode — the same pattern ``label_centroids`` uses
    (similarity.py: "element rows hash portably in the value
    oracle") — because the harness canonicalizer sorts pandas columns
    and a raw ``array<int>`` column is unhashable there (the round-4
    q97 driver error). Library callers (q105) keep the array-returning
    ``quantize_int8`` directly."""
    from data_lake_with_spark_spark.operators.similarity import quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    # rebalance BEFORE the 64× posexplode fan-out: the fixture is one
    # parquet file (one scan task would otherwise do all the work —
    # measured 2.1s → 1.1s at sf0.1); the shuffled rows are compact
    # (pre-explode), which is the general rule for explode pipelines
    e = e.repartition(spark.sparkContext.defaultParallelism)
    q = quantize_int8(e)
    return q.select(
        "vec_id",
        "scale",
        F.posexplode(F.col("qvec")).alias("pos", "qval"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("pos"),
        F.col("qval").cast("int").alias("qval"),
        "scale",
    )


O_Q97 = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings),
s AS (
  SELECT vec_id, ve,
         list_max(list_transform(ve, x -> abs(x))) AS amax
  FROM v)
SELECT vec_id,
       CAST(i AS BIGINT) AS pos,
       CAST(COALESCE(
              ROUND(ve[i] * (CASE WHEN amax > 0 THEN 127.0 / amax END), 0),
              0) AS INTEGER) AS qval,
       CASE WHEN amax > 0 THEN 127.0 / amax END AS scale
FROM s, UNNEST(generate_series(1, len(ve))) AS u(i)
"""


def q98_column_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical profiling aggregates per return flag: Pearson
    correlation, sample covariance, and sample stddev — the
    column-relationship half of profiling (q15 covers per-column
    facts). Single partial-aggregable pass; all moments combine
    map-side, so the shuffle carries one row per (flag, moment)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
                "covar_qty_disc"
            ),
            F.round(F.stddev_samp("l_tax"), 6).alias("std_tax"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


O_Q98 = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
       ROUND(stddev_samp(l_tax), 6) AS std_tax,
       COUNT(*) AS n
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def q99_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (Markov-chain counts):
    each user's event sequence ordered by (ts, event_id), pairs of
    consecutive types counted corpus-wide — the sequence-analytics
    primitive behind next-action models and anomaly scoring. One
    window pass (lead over the user partitioning) + one count
    aggregate; no self-join of the event log."""
    e = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


O_Q99 = """
WITH seq AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT from_type, next_type, COUNT(*) AS n_transitions
FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
"""


# --- registry -------------------------------------------------------------

def q125_relative_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language relative quality bucketing
    (sampling.relative_buckets): rank docs within each language by
    quality and split into head/middle/tail thirds — the per-group
    relative threshold that avoids judging every language by the head
    language's absolute distribution (CCNet buckets by per-language
    perplexity terciles; same shape). Bucket index is pure integer
    arithmetic ((3·(rank−1)) div n), bit-identical across engines."""
    from data_lake_with_spark_spark.operators.sampling import relative_buckets

    d = _t(spark, sf_dir, "documents")
    scored = text.quality_score(d).select("doc_id", "lang", "quality")
    return relative_buckets(
        scored, "lang", [F.col("quality").desc(), F.col("doc_id").asc()], k=3
    ).select("doc_id", "lang", "quality", "bucket")


O_Q125 = f"""
WITH c AS (
  SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars_measured,
         {_o_ratio('[.,;:!?]', 'punct_ratio')},
         {_o_ratio('[0-9]', 'digit_ratio')}
  FROM documents),
q AS (
  SELECT doc_id, lang,
         0.5 * least(n_chars_measured / 500.0, 1.0)
             + 0.5 * (1.0 - least(punct_ratio + digit_ratio, 1.0)) AS quality
  FROM c),
r AS (
  SELECT doc_id, lang, quality,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM q)
SELECT doc_id, lang, quality,
       CASE (3 * (rn - 1)) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r
"""


def q126_remove_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span EXCISION (dedup.remove_duplicated_spans) — the rewrite
    half of Lee et al. 2022 suffix-array dedup (q42 is the detect
    half): every document reconstructed with all occurrences of
    corpus-recurring 8-token spans removed; fully-excised docs emit
    clean_text = ''."""
    d = _t(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(d, window=8, min_docs=2)


O_Q126 = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
tokrows AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s),
starts AS (
  SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS span
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) s
  WHERE len(t) >= 8),
bad AS (
  SELECT span FROM starts GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
covered AS (
  SELECT DISTINCT st.doc_id, st.i + d.d AS pos
  FROM starts st JOIN bad USING (span),
       LATERAL (SELECT unnest(generate_series(0, 7)) AS d) d),
kept AS (
  SELECT tr.doc_id, tr.pos, tr.tok FROM tokrows tr
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = tr.doc_id AND c.pos = tr.pos)),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_tokens_kept
  FROM kept GROUP BY doc_id)
SELECT tk.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(len(tk.t) AS BIGINT) AS n_tokens
FROM toks tk LEFT JOIN agg a USING (doc_id)
"""


def q127_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout (sampling.shard_assignment):
    shard = first-8-hex-digits-of-md5 mod 16, position = stable rank
    within the shard by full hash — the WebDataset/TFRecord writer
    assignment, giving balanced shards whose contents are a
    reproducible pseudo-random permutation (the 'global shuffle' a
    training run wants, without a global sort)."""
    from data_lake_with_spark_spark.operators.sampling import shard_assignment

    d = _t(spark, sf_dir, "documents")
    return shard_assignment(
        d.select("doc_id"), F.col("doc_id").cast("string"), n_shards=16
    ).select("doc_id", "shard", "shard_pos")


O_Q127 = """
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents)
SELECT doc_id,
       CAST(('0x' || substring(hh, 1, 8))::BIGINT % 16 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY ('0x' || substring(hh, 1, 8))::BIGINT % 16
            ORDER BY hh, CAST(doc_id AS VARCHAR)) AS BIGINT) AS shard_pos
FROM h
"""


def q128_canonical_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax survivor selection (dedup.canonical_per_cluster):
    connected-component near-dup clusters (q33's star-edge graph),
    then keep the HIGHEST-quality member of each cluster instead of
    the lowest id — the selection policy production dedup ships
    (BigCode keeps most-starred; web dedup keeps canonical URL)."""
    d = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_star_edges(
        d, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K, bands=2
    )
    clusters = dedup.connected_components(d.select("doc_id"), edges).select(
        F.col("id").alias("doc_id"), F.col("cluster").cast("bigint").alias("cluster")
    )
    scored = text.quality_score(d).select("doc_id", "lang", "quality")
    return dedup.canonical_per_cluster(
        scored, clusters, [F.col("quality").desc(), F.col("doc_id").asc()]
    ).select("doc_id", "cluster", "lang", "quality")


O_Q128 = f"""
WITH RECURSIVE sh AS ({_O_SHINGLES}),
sig AS (SELECT doc_id, {_O_SIG_COLS} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig
),
star AS (
  SELECT MIN(doc_id) OVER (PARTITION BY band, band_key) AS id_a,
         doc_id AS id_b
  FROM banded),
pairs AS (SELECT DISTINCT id_a, id_b FROM star WHERE id_a <> id_b),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
clusters AS (
  SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster
  FROM reach GROUP BY node),
c AS (
  SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars_measured,
         {_o_ratio('[.,;:!?]', 'punct_ratio')},
         {_o_ratio('[0-9]', 'digit_ratio')}
  FROM documents),
q AS (
  SELECT doc_id, lang,
         0.5 * least(n_chars_measured / 500.0, 1.0)
             + 0.5 * (1.0 - least(punct_ratio + digit_ratio, 1.0)) AS quality
  FROM c),
r AS (
  SELECT q.doc_id, cl.cluster, q.lang, q.quality,
         ROW_NUMBER() OVER (PARTITION BY cl.cluster
                            ORDER BY q.quality DESC, q.doc_id) AS rn
  FROM q JOIN clusters cl USING (doc_id))
SELECT doc_id, cluster, lang, quality FROM r WHERE rn = 1
"""


def q129_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-mode fuzzy dedup (dedup.minhash_dedup_incremental): the
    daily-ingest shape — survivors of the NEW batch (doc_id % 10 ∈
    {8,9}) against the already-curated corpus (doc_id % 10 < 8).
    index×index candidates are never generated; with an empty index
    this is exactly q18's greedy minhash_dedup."""
    d = _t(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 10 >= 8)
    index = d.where(F.col("doc_id") % 10 < 8)
    return dedup.minhash_dedup_incremental(
        new, index, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K, bands=2
    )


O_Q129 = f"""
WITH sh AS ({_O_SHINGLES}),
sig AS (SELECT doc_id, {_O_SIG_COLS} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig),
new_b AS (SELECT * FROM banded WHERE doc_id % 10 >= 8),
idx_k AS (SELECT DISTINCT band, band_key FROM banded WHERE doc_id % 10 < 8),
vs_idx AS (
  SELECT DISTINCT doc_id FROM new_b nb
  WHERE EXISTS (SELECT 1 FROM idx_k ik
                WHERE ik.band = nb.band AND ik.band_key = nb.band_key)),
within AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, band_key) AS m
    FROM new_b) WHERE doc_id > m),
dropped AS (SELECT doc_id FROM vs_idx UNION SELECT doc_id FROM within)
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE doc_id % 10 >= 8
  AND doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def q130_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-sorted inference batching (ranking.length_batches):
    global rank by token count via the DISTRIBUTED two-phase rank
    (range partition + per-partition row_number + offsets) — never
    the single-partition no-PARTITION-BY window — then
    batch = (rank-1) div 32. Every batch pads to its own max length
    instead of the corpus max."""
    from data_lake_with_spark_spark.operators.ranking import length_batches

    d = _t(spark, sf_dir, "documents")
    return length_batches(
        d.select("doc_id", "text"),
        F.size(text.tokens(F.col("text"))),
        batch_size=32,
    ).select("doc_id", "n_tokens", "rank", "batch_id")


O_Q130 = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents),
r AS (
  SELECT doc_id, n_tokens,
         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS rank
  FROM t)
SELECT doc_id, n_tokens, rank,
       CAST((rank - 1) // 32 AS BIGINT) AS batch_id
FROM r
"""


def q131_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination
    (text.bloom_decontaminate): q50's exact-gram check with the
    constant-memory filter a multi-benchmark suite needs at 100 TB —
    k=2 md5 hashes into 2^16 bits, REAL Bloom semantics (false
    positives counted), bit set reproduced bit-for-bit by the
    oracle's identical md5 arithmetic."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corpus = d.where(F.col("doc_id") % 50 != 0)
    return text.bloom_decontaminate(corpus, bench, n=3, k=2, m=1 << 16)


O_Q131 = """
WITH btoks AS (
  SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE doc_id % 50 = 0),
bgrams AS (
  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS g
  FROM btoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
  WHERE len(t) >= 3 AND array_to_string(t[i:i+2], ' ') <> ''),
bits AS (
  SELECT DISTINCT
    ('0x' || substring(md5(CAST(h.i AS VARCHAR) || '|' || g), 1, 8))::BIGINT
      % 65536 AS pos
  FROM bgrams CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS i) h),
ctoks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE doc_id % 50 <> 0),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
  FROM ctoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
  WHERE len(t) >= 3 AND array_to_string(t[i:i+2], ' ') <> ''),
hitcount AS (
  SELECT cg.doc_id, cg.g, COUNT(*) AS nh
  FROM cg CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS i) h
  JOIN bits b
    ON b.pos = ('0x' || substring(md5(CAST(h.i AS VARCHAR) || '|' || cg.g),
                                  1, 8))::BIGINT % 65536
  GROUP BY cg.doc_id, cg.g)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_ngrams
FROM hitcount WHERE nh = 2 GROUP BY doc_id
"""


def q132_mixture_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe materialization (sampling.mixture_repeats): target
    language mixture {en:.4, es:.2, fr:.2, de:.15, zh:0 (dropped)} as
    integer per-doc repeat factors — floor(weight·T/n) per doc plus a
    deterministic md5-resolved extra for the fractional part, so
    expected stratum totals hit the target with no RNG. The corpus
    never shuffles; only a tiny stratum-count aggregate broadcasts."""
    from data_lake_with_spark_spark.operators.sampling import mixture_repeats

    d = _t(spark, sf_dir, "documents")
    return mixture_repeats(
        d.select("doc_id", "lang"),
        "lang",
        {"en": 0.4, "es": 0.2, "fr": 0.2, "de": 0.15},
        F.col("doc_id").cast("string"),
    ).select("doc_id", "lang", "n_repeats")


O_Q132 = """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
t AS (SELECT COUNT(*) AS tt FROM documents),
w AS (
  SELECT doc_id, lang,
         CAST(CASE lang WHEN 'de' THEN 0.15 WHEN 'en' THEN 0.4
                        WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.2
                        ELSE 0.0 END AS DOUBLE) AS wt
  FROM documents)
SELECT w.doc_id, w.lang,
       CAST(FLOOR(wt * tt / n)
            + (CASE WHEN ('0x' || substring(md5(CAST(w.doc_id AS VARCHAR)),
                                            1, 4))::BIGINT
                         < (wt * tt / n - FLOOR(wt * tt / n)) * 65536.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats
FROM w JOIN c USING (lang) CROSS JOIN t
"""


def q133_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest contaminated span per doc (text.contamination_spans):
    q50's count refined to WHERE and HOW LONG — GPT-3-style
    decontamination cuts the overlapping region, so the pipeline
    needs (start, length), produced by the gaps-and-islands transform
    over benchmark-hit gram positions."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corpus = d.where(F.col("doc_id") % 50 != 0)
    return text.contamination_spans(corpus, bench, n=3)


O_Q133 = """
WITH btoks AS (
  SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE doc_id % 50 = 0),
bgrams AS (
  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS g
  FROM btoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
  WHERE len(t) >= 3 AND array_to_string(t[i:i+2], ' ') <> ''),
ctoks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE doc_id % 50 <> 0),
cg AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+2], ' ') AS g
  FROM ctoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
  WHERE len(t) >= 3),
hits AS (SELECT doc_id, pos FROM cg JOIN bgrams USING (g)),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits),
sp AS (
  SELECT doc_id, MIN(pos) AS span_start, COUNT(*) AS span_grams
  FROM isl GROUP BY doc_id, grp),
r AS (
  SELECT doc_id, span_start, span_grams,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY span_grams DESC, span_start) AS rn
  FROM sp)
SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(span_grams AS BIGINT) AS span_grams,
       CAST(span_grams + 2 AS BIGINT) AS span_tokens
FROM r WHERE rn = 1
"""


def q134_truncated_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka coarse-to-fine ANN (similarity.truncated_topk_rerank):
    score on the first 16 of 64 dims (MRL prefix), shortlist 50 per
    query, exact full-dim re-rank to top-5 — the dimension-truncation
    sibling of the PQ IndexRefine pair q118/q119."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.truncated_topk_rerank(
        emb, emb.where(F.col("vec_id") < 10), coarse_dim=16, shortlist=50, k=5
    )


O_Q134 = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, embedding[1:16] AS qc
  FROM embeddings WHERE vec_id < 10),
coarse AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_O_COS.format(a='c.embedding[1:16]', b='q.qc')} AS ccos
  FROM embeddings c, q WHERE c.vec_id != q.query_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ccos DESC, neighbor_id) AS cr
    FROM coarse) WHERE cr <= 50),
resc AS (
  SELECT s.query_id, s.neighbor_id,
         {_O_COS.format(a='c.embedding', b='q2.qv')} AS cos
  FROM short s
  JOIN embeddings c ON c.vec_id = s.neighbor_id
  JOIN q q2 ON q2.query_id = s.query_id)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM resc) WHERE rank <= 5
"""


def q135_percentile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension percentile clip calibration
    (similarity.percentile_clip_calibrate): clip every embedding dim
    to its corpus [p01, p99] — the int8-calibration preprocessing
    that protects q97's 127/amax scale from single-coordinate
    outliers. Exact DISCRETE percentiles by rank arithmetic (no
    interpolated-quantile cross-engine ulp risk); long-form output
    (the q97 driver-canonicalizer pattern)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.percentile_clip_calibrate(emb, p_lo=0.01, p_hi=0.99).select(
        "vec_id", F.col("dim").cast("bigint").alias("dim"), "clipped"
    )


O_Q135 = """
WITH el AS (
  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s),
st AS (
  SELECT vec_id, dim, val,
         ROW_NUMBER() OVER (PARTITION BY dim ORDER BY val, vec_id) AS rn,
         COUNT(*) OVER (PARTITION BY dim) AS n
  FROM el),
b AS (
  SELECT dim,
         MIN(CASE WHEN rn = CAST(CEIL(0.01 * n) AS BIGINT) THEN val END) AS lo,
         MIN(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN val END) AS hi
  FROM st GROUP BY dim)
SELECT el.vec_id, CAST(el.dim AS BIGINT) AS dim,
       LEAST(GREATEST(el.val, b.lo), b.hi) AS clipped
FROM el JOIN b USING (dim)
"""


def q136_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning audit (profile.snapshot_diff): row-level
    diff of two corpus versions by md5 content hash —
    added/removed/changed/unchanged per doc. Workload simulates a
    re-crawl: v_old = doc_id % 7 != 0, v_new = doc_id % 5 != 0 with
    every 11th doc's text edited (uppercased)."""
    from data_lake_with_spark_spark.operators.profile import snapshot_diff

    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 7 != 0)
    new = d.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.upper(F.col("text"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, content_cols=["text", "lang", "source"])


O_Q136 = """
WITH o AS (
  SELECT doc_id, md5(concat_ws(chr(31), text, lang, source)) AS h_old
  FROM documents WHERE doc_id % 7 <> 0),
n AS (
  SELECT doc_id,
         md5(concat_ws(chr(31),
             CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END,
             lang, source)) AS h_new
  FROM documents WHERE doc_id % 5 <> 0)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN h_old <> h_new THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def q137_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filter (text.blocklist_stats): per-doc
    whole-word hit counts for each blocklist term + the keep verdict —
    one scan-side projection of regexp_count expressions, auditable
    per term (the C4 badwords pass, Raffel et al. 2020 §2.2)."""
    d = _t(spark, sf_dir, "documents")
    return text.blocklist_stats(d, ["hash", "merge"])


O_Q137 = """
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '\\bhash\\b')) AS BIGINT)
           AS n_hash,
         CAST(len(regexp_extract_all(lower(text), '\\bmerge\\b')) AS BIGINT)
           AS n_merge
  FROM documents)
SELECT doc_id, n_hash, n_merge,
       n_hash + n_merge AS n_blocked,
       (n_hash + n_merge) = 0 AS keep
FROM c
"""


def q138_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup QA report (dedup.cluster_stats): per source — doc count,
    cluster count, duplicate count, duplication rate (unrounded
    single division), largest cluster — over q33's connected-component
    clusters. The audit numbers a production dedup run publishes."""
    d = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_star_edges(
        d, num_hashes=_MINHASH_N, shingle_k=_SHINGLE_K, bands=2
    )
    clusters = dedup.connected_components(d.select("doc_id"), edges).select(
        F.col("id").alias("doc_id"), F.col("cluster")
    )
    return dedup.cluster_stats(clusters, d, stratum_col="source")


O_Q138 = f"""
WITH RECURSIVE sh AS ({_O_SHINGLES}),
sig AS (SELECT doc_id, {_O_SIG_COLS} FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS band_key FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh2 || '|' || mh3 AS band_key FROM sig
),
star AS (
  SELECT MIN(doc_id) OVER (PARTITION BY band, band_key) AS id_a,
         doc_id AS id_b
  FROM banded),
pairs AS (SELECT DISTINCT id_a, id_b FROM star WHERE id_a <> id_b),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
clusters AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY node),
j AS (
  SELECT d.source, c.cluster FROM documents d JOIN clusters c USING (doc_id)),
pc AS (SELECT source, cluster, COUNT(*) AS sz FROM j GROUP BY source, cluster)
SELECT source,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_dupes,
       (SUM(sz) - COUNT(*)) / CAST(SUM(sz) AS DOUBLE) AS dup_rate,
       CAST(MAX(sz) AS BIGINT) AS max_cluster
FROM pc GROUP BY source
"""


def q139_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end decontamination rewrite (text.decontaminate_spans,
    GPT-3 appendix C): every corpus doc re-emitted with all tokens
    covered by ANY benchmark-shared 3-gram removed — q50 counts, q133
    locates, this CUTS. Same output contract as q126's
    corpus-recurring twin."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corpus = d.where(F.col("doc_id") % 50 != 0)
    return text.decontaminate_spans(corpus, bench, n=3)


O_Q139 = """
WITH btoks AS (
  SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE doc_id % 50 = 0),
bgrams AS (
  SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS g
  FROM btoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
  WHERE len(t) >= 3 AND array_to_string(t[i:i+2], ' ') <> ''),
ctoks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE doc_id % 50 <> 0),
tokrows AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM ctoks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s),
cg AS (
  SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS g
  FROM ctoks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
  WHERE len(t) >= 3),
covered AS (
  SELECT DISTINCT cg.doc_id, cg.i + d.d AS pos
  FROM cg JOIN bgrams USING (g),
       LATERAL (SELECT unnest(generate_series(0, 2)) AS d) d),
kept AS (
  SELECT tr.doc_id, tr.pos, tr.tok FROM tokrows tr
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = tr.doc_id AND c.pos = tr.pos)),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_tokens_kept
  FROM kept GROUP BY doc_id)
SELECT tk.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       CAST(COALESCE(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(len(tk.t) AS BIGINT) AS n_tokens
FROM ctoks tk LEFT JOIN agg a USING (doc_id)
"""


def q140_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical retrieval (text.bm25_topk): BM25 top-5 corpus
    docs per benchmark query — rational idf (no libm ln) and a
    sorted-term-order score fold, so every float is bit-identical
    cross-engine (the exactness contract in the operator docstring).
    The data-selection / contamination-triage retrieval baseline."""
    d = _t(spark, sf_dir, "documents")
    qs = d.where(F.col("doc_id") % 200 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    corpus = d.where(F.col("doc_id") % 200 != 0)
    return text.bm25_topk(corpus, qs, k=5)


O_Q140 = """
WITH ctf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE doc_id % 200 <> 0)
  WHERE tok <> '' GROUP BY doc_id, tok),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM ctf GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
                 SUM(dl) / COUNT(*) AS avgdl FROM dl),
qtok AS (
  SELECT DISTINCT doc_id AS query_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE doc_id % 200 = 0)
  WHERE tok <> ''),
mt AS (SELECT c.* FROM ctf c
       JOIN (SELECT DISTINCT tok FROM qtok) v USING (tok)),
dfsub AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM mt GROUP BY tok),
contrib AS (
  SELECT q.query_id, m.doc_id, m.tok,
         ((m.tf * (1.2::DOUBLE + 1.0::DOUBLE))
          / (m.tf + 1.2::DOUBLE
             * ((1.0::DOUBLE - 0.75::DOUBLE)
                + 0.75::DOUBLE * (d.dl / s.avgdl))))
         * ((s.n_corpus - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) AS c
  FROM mt m JOIN dfsub f USING (tok) JOIN qtok q USING (tok)
       JOIN dl d ON d.doc_id = m.doc_id CROSS JOIN stats s),
sc AS (
  SELECT query_id, doc_id,
         list_reduce(list(c ORDER BY tok), (a, b) -> a + b) AS score
  FROM contrib GROUP BY query_id, doc_id),
r AS (SELECT query_id, doc_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id)
                  AS BIGINT) AS rank
      FROM sc)
SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 5
"""


def _bm25_index(spark: SparkSession, sf_dir: str, variant: str) -> str:
    """Process-cached BM25 index per (sf_dir, corpus variant). The
    retrieval family (q145/q151/q157 share the "hybrid" corpus; q161
    serves the q140 corpus) builds postings ONCE and every subsequent
    probe reads |query vocab| buckets of it — the serving shape a
    deployment actually runs (r7 verdict #1), vs each entry
    re-exploding the corpus."""
    if variant not in ("q140", "hybrid"):
        raise ValueError(f"unknown BM25 index variant: {variant}")

    def build(path: str) -> None:
        d = _t(spark, sf_dir, "documents")
        if variant == "q140":
            corpus = d.where(F.col("doc_id") % 200 != 0)
        else:
            corpus = d.where(
                ~((F.col("doc_id") % 200 == 0) & (F.col("doc_id") < 5000))
            )
        text.build_bm25_index(corpus, path)

    return _cached_dir(f"dlws_bm25_{variant}_", sf_dir, "postings", build)


def q161_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 serving against a PERSISTED postings index
    (text.build_bm25_index / bm25_topk_indexed): postings written once
    partitioned by token-hash bucket + sorted by token, probes read
    only the query vocabulary's buckets (PartitionFilters-gated in
    tests). Same oracle as q140 — the served scores are identical to
    the inline BM25 over the same corpus (the scoring tail is shared
    code), which is the point: the index changes the I/O profile
    (|query vocab| buckets read instead of a corpus re-tokenize), not
    the answer. The q102/q114 persisted-IVF pattern applied to text
    retrieval (r7 verdict #1)."""
    d = _t(spark, sf_dir, "documents")
    qs = d.where(F.col("doc_id") % 200 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return text.bm25_topk_indexed(
        spark, _bm25_index(spark, sf_dir, "q140"), qs, k=5
    )


def q163_bm25_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with common-term pruning ENGAGED (max_df_ratio=0.78): terms
    above the df ceiling are dropped BEFORE the
    (query × posting) expansion — the static half of WAND-style
    posting pruning, and the knob that keeps the candidate count
    near-linear on a Zipf vocabulary (measured on the shared-vocab
    Zipf fixture at 30×: candidates 12.5M → 6.4M, wall 18.2s → 10.6s,
    identical top-k — SCALING_r08.md). On THIS fixture the corpus has
    a ~30-token hot band at df ≈ 0.75-0.83·N (and almost no
    mid-frequency vocabulary), so the ceiling is tuned INSIDE that
    band: at 0.78 the gate prunes real terms AND keeps real survivors
    at all three tested SFs (0.5 emptied the result — the matched
    vocabulary IS the hot band on this fixture) —
    scores legitimately differ from q140's exact-parity pin, and the
    oracle implements the same pruned scoring. The q13/q113
    exact-pin-vs-deployable-config pattern, applied to text
    retrieval."""
    d = _t(spark, sf_dir, "documents")
    qs = d.where(F.col("doc_id") % 200 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    corpus = d.where(F.col("doc_id") % 200 != 0)
    return text.bm25_topk(corpus, qs, k=5, max_df_ratio=0.78)


O_Q163 = """
WITH ctf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE doc_id % 200 <> 0)
  WHERE tok <> '' GROUP BY doc_id, tok),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM ctf GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
                 SUM(dl) / COUNT(*) AS avgdl FROM dl),
qtok AS (
  SELECT DISTINCT doc_id AS query_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE doc_id % 200 = 0)
  WHERE tok <> ''),
mt AS (SELECT c.* FROM ctf c
       JOIN (SELECT DISTINCT tok FROM qtok) v USING (tok)),
dfall AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM mt GROUP BY tok),
dfsub AS (SELECT tok, df FROM dfall CROSS JOIN stats
          WHERE df <= 0.78::DOUBLE * n_corpus),
contrib AS (
  SELECT q.query_id, m.doc_id, m.tok,
         ((m.tf * (1.2::DOUBLE + 1.0::DOUBLE))
          / (m.tf + 1.2::DOUBLE
             * ((1.0::DOUBLE - 0.75::DOUBLE)
                + 0.75::DOUBLE * (d.dl / s.avgdl))))
         * ((s.n_corpus - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) AS c
  FROM mt m JOIN dfsub f USING (tok) JOIN qtok q USING (tok)
       JOIN dl d ON d.doc_id = m.doc_id CROSS JOIN stats s),
sc AS (
  SELECT query_id, doc_id,
         list_reduce(list(c ORDER BY tok), (a, b) -> a + b) AS score
  FROM contrib GROUP BY query_id, doc_id),
r AS (SELECT query_id, doc_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id)
                  AS BIGINT) AS rank
      FROM sc)
SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 5
"""


def q162_key_uniqueness_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-mode candidate-key discovery
    (profile.key_uniqueness(mode="verify")): the HLL++ twin of q158's
    exact pass — the production path past ~10⁹ rows, where the exact
    expand × candidates distinct is honest-linear (α=0.56,
    SCALING_r07.md) while the sketch merges registers in one
    partial-aggregable scan. Driver-facing output follows the q53
    pattern: the engine-specific estimate itself cannot hash-match
    DuckDB, so the gate emits the EXACT count plus
    ``within_bound`` = |approx − exact| ≤ 6·rsd·exact (6·rsd, not 3σ:
    rsd is a standard-error multiple, not a hard guarantee — the
    tight 3σ check lives in pytest on the pinned dataset)."""
    from data_lake_with_spark_spark.operators.profile import key_uniqueness

    li = _t(spark, sf_dir, "lineitem")
    return key_uniqueness(
        li,
        [
            ["l_orderkey"],
            ["l_orderkey", "l_linenumber"],
            ["l_partkey", "l_suppkey"],
            ["l_orderkey", "l_partkey", "l_suppkey"],
        ],
        mode="verify",
    )


O_Q162 = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT (l_orderkey)) AS BIGINT) AS d0,
         CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS d1,
         CAST(COUNT(DISTINCT (l_partkey, l_suppkey)) AS BIGINT) AS d2,
         CAST(COUNT(DISTINCT (l_orderkey, l_partkey, l_suppkey))
              AS BIGINT) AS d3
  FROM lineitem),
c AS (SELECT * FROM (VALUES
  (0, 'l_orderkey'),
  (1, 'l_orderkey,l_linenumber'),
  (2, 'l_partkey,l_suppkey'),
  (3, 'l_orderkey,l_partkey,l_suppkey')) v(i, candidate))
SELECT candidate, n AS n_rows,
       CASE i WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2
              ELSE d3 END AS n_distinct,
       TRUE AS within_bound
FROM c CROSS JOIN agg
"""


def q164_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit (profile.referential_integrity):
    orphan/NULL-FK counts for four lake edges — the join-safety
    report a new dataset forces before anyone writes the inner joins
    that would silently drop the orphans. Each edge collapses both
    sides to KEY frames first (child → |distinct fk| counts, parent →
    distinct keys) and anti-joins those; row volume never reaches the
    join. Three edges are the clean TPC-H ones (zero orphans is the
    CORRECT finding there); the fourth is deliberately dirty both
    ways — event user ids NULLed on a deterministic stripe
    (user_id % 97 = 0: anonymized sessions) checked against only the
    BUILDING-segment customers (a curated parent snapshot) — so the
    gate exercises the unlinked-vs-dangling distinction with real
    nonzero counts."""
    from data_lake_with_spark_spark.operators.profile import (
        referential_integrity,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    e = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 97 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("user_id")
    )
    active = c.where(F.col("c_mktsegment") == "BUILDING")
    return referential_integrity(
        [
            ("lineitem->orders", li, ["l_orderkey"], o, ["o_orderkey"]),
            ("orders->customer", o, ["o_custkey"], c, ["c_custkey"]),
            ("customer->nation", c, ["c_nationkey"], n, ["n_nationkey"]),
            ("events->active_customers", e, ["user_id"], active, ["c_custkey"]),
        ]
    )


_O_RI_EDGE = """
SELECT '{name}' AS edge, n_rows, n_null_fk, n_orphan_rows, n_orphan_keys,
       CASE WHEN n_rows - n_null_fk > 0
            THEN n_orphan_rows / CAST(n_rows - n_null_fk AS DOUBLE) END
         AS orphan_rate
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(CASE WHEN {fk} IS NULL THEN 1 END), 0)
                  AS BIGINT) AS n_null_fk
      FROM {child})
CROSS JOIN
     (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_orphan_rows,
             CAST(COUNT(*) AS BIGINT) AS n_orphan_keys
      FROM (SELECT {fk} AS k, CAST(COUNT(*) AS BIGINT) AS n
            FROM {child} WHERE {fk} IS NOT NULL GROUP BY 1) ch
      WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = ch.k))
"""

O_Q164 = " UNION ALL ".join(
    _O_RI_EDGE.format(name=nm, child=ch, fk=fk, parent=pa, pk=pk)
    for nm, ch, fk, pa, pk in (
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        (
            "events->active_customers",
            "(SELECT CASE WHEN user_id % 97 = 0 THEN NULL ELSE user_id END"
            " AS user_id FROM events)",
            "user_id",
            "(SELECT c_custkey FROM customer"
            " WHERE c_mktsegment = 'BUILDING')",
            "c_custkey",
        ),
    )
)


def q165_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling
    (sampling.weighted_priority_sample): per language, the 20 docs
    with the smallest md5-uniform/weight priority (weight = n_chars —
    longer docs proportionally likelier). The Efraimidis–Spirakis
    shape with the rational u/w key instead of u^(1/w): pow/log ulps
    diverge between engines, a division does not. No RNG anywhere —
    the family contract."""
    from data_lake_with_spark_spark.operators.sampling import (
        weighted_priority_sample,
    )

    d = _t(spark, sf_dir, "documents")
    return weighted_priority_sample(
        d, F.col("n_chars"), k=20, group_col="lang"
    )


O_Q165 = """
WITH b AS (
  SELECT doc_id, text, lang, source, n_chars,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / (4294967296.0::DOUBLE * n_chars) AS priority
  FROM documents WHERE n_chars > 0),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY priority ASC, doc_id ASC)
                     AS BIGINT) AS sample_rank
      FROM b)
SELECT doc_id, text, lang, source, n_chars, priority, sample_rank
FROM r WHERE sample_rank <= 20
"""


def q166_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (lakehouse.compaction_plan):
    pack per-language file listings into ~50 KB output bins by
    cumulative-sum bucketing in (size desc, path) order — the
    lakehouse maintenance pass, planned in ONE window per partition
    (no driver-side bin loop; a million-file table plans in one
    exchange). File metadata derived from the documents table
    (path f{doc_id}, size n_chars) — the operator is metadata-shaped,
    whatever produces the listing."""
    from data_lake_with_spark_spark.sources.lakehouse import compaction_plan

    d = _t(spark, sf_dir, "documents")
    files = d.select(
        F.concat(F.lit("f"), F.col("doc_id").cast("string")).alias("path"),
        "lang",
        F.col("n_chars").cast("bigint").alias("size_bytes"),
    )
    return compaction_plan(files, 50_000, ["lang"])


O_Q166 = """
WITH f AS (
  SELECT 'f' || CAST(doc_id AS VARCHAR) AS path, lang,
         CAST(n_chars AS BIGINT) AS size_bytes
  FROM documents),
b AS (
  SELECT *,
         CAST(FLOOR((SUM(size_bytes) OVER (PARTITION BY lang
                                           ORDER BY size_bytes DESC, path ASC
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW)
                     - size_bytes) / 50000) AS BIGINT) AS bin
  FROM f)
SELECT path, lang, size_bytes, bin,
       CAST(SUM(size_bytes) OVER (PARTITION BY lang, bin) AS BIGINT)
         AS bin_bytes
FROM b
"""


def q167_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval (ranking.retrieval_metrics): the sparse
    (indexed BM25, top-10) run scored against dense cosine top-3
    qrels — per query recall@10 and reciprocal rank (rational 1/rank,
    no log-discounted nDCG: libm ulps diverge — the rational-idf
    rule). The eval loop every retrieval config change (pruning
    ceiling, index layout, fusion weights) is judged by; complements
    q151's set-overlap view with rank-position credit. All frames
    top-k-list-sized; serves from the SHARED hybrid postings index."""
    from data_lake_with_spark_spark.operators.ranking import (
        retrieval_metrics,
    )

    d = _t(spark, sf_dir, "documents")
    is_q = (F.col("doc_id") % 200 == 0) & (F.col("doc_id") < 5000)
    qs = d.where(is_q).select(F.col("doc_id").alias("query_id"), "text")
    run = text.bm25_topk_indexed(
        spark, _bm25_index(spark, sf_dir, "hybrid"), qs, k=20
    ).select("query_id", "doc_id", "rank")
    emb = _t(spark, sf_dir, "embeddings")
    is_qv = (F.col("vec_id") % 200 == 0) & (F.col("vec_id") < 5000)
    qrels = similarity.brute_force_topk(
        emb.where(~is_qv), emb.where(is_qv), k=3
    ).select("query_id", F.col("neighbor_id").alias("doc_id"))
    return retrieval_metrics(run, qrels, k=10)


def q168_vocab_budget_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep UNK-ification (text.vocab_budget_rewrite):
    rewrite every doc with tokens outside the top-40 corpus types
    replaced by <unk>, reporting per-doc OOV volume — the fixed-vocab
    rewrite + budget-adequacy report. Distributed two-phase rank for
    the top-V cut (a web vocabulary is billions of hapax-heavy
    types); broadcast kept-set; position-ordered rebuild (the span-
    excision rebuild shape)."""
    d = _t(spark, sf_dir, "documents")
    return text.vocab_budget_rewrite(d, vocab_size=40)


O_Q168 = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
tokrows AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s),
ty AS (SELECT tok, COUNT(*) AS n FROM tokrows GROUP BY tok),
kept AS (SELECT tok FROM (
           SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS r FROM ty)
         WHERE r <= 40),
m AS (
  SELECT tr.doc_id, tr.pos,
         CASE WHEN k.tok IS NOT NULL THEN tr.tok ELSE '<unk>' END AS outt,
         CASE WHEN k.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM tokrows tr LEFT JOIN kept k ON k.tok = tr.tok)
SELECT doc_id, string_agg(outt, ' ' ORDER BY pos) AS rewritten,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       SUM(oov) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM m GROUP BY doc_id
"""


def q169_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored boilerplate detection (text.boilerplate_prefixes):
    per source, the leading 2-token prefixes shared by >= 2 docs with
    their within-source share — the header/nav fingerprint a crawl
    curation pass cuts before span dedup (positionally anchored:
    per-doc O(1) projection, not a rolling explode)."""
    d = _t(spark, sf_dir, "documents")
    return text.boilerplate_prefixes(d, prefix_len=2, min_docs=2)


O_Q169 = """
WITH toks AS (
  SELECT source AS stratum, string_split_regex(trim(text), '\\s+') AS t
  FROM documents),
p AS (SELECT stratum, array_to_string(t[1:2], ' ') AS prefix
      FROM toks WHERE len(t) >= 2),
c AS (SELECT stratum, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p GROUP BY stratum, prefix),
tot AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_stratum_docs
        FROM p GROUP BY stratum)
SELECT c.stratum, c.prefix, c.n_docs, tot.n_stratum_docs,
       c.n_docs / CAST(tot.n_stratum_docs AS DOUBLE) AS share
FROM c JOIN tot USING (stratum)
WHERE c.n_docs >= 2
"""


def q170_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning (sampling.mixture_plan): per language,
    available tokens vs the weight-proportional share of a 200k-token
    budget, the sampling rate that hits it, and the achievable
    (capped) plan — the static mixture artifact published before
    mixture_repeats / token_budget_fill materialize it.
    Under-supplied strata surface as planned < target rather than
    being silently rescaled."""
    from data_lake_with_spark_spark.operators.sampling import mixture_plan

    d = _t(spark, sf_dir, "documents")
    return mixture_plan(
        d,
        {"en": 5, "zh": 2, "de": 1, "es": 1, "fr": 1},
        token_budget=200_000,
    )


O_Q170 = """
WITH avail AS (
  SELECT lang AS stratum,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens_avail
  FROM documents GROUP BY lang),
w AS (SELECT * FROM (VALUES
  ('de', CAST(1 AS BIGINT)), ('en', CAST(5 AS BIGINT)),
  ('es', CAST(1 AS BIGINT)), ('fr', CAST(1 AS BIGINT)),
  ('zh', CAST(2 AS BIGINT))) v(stratum, weight))
SELECT a.stratum, a.n_tokens_avail, w.weight,
       (200000 * w.weight) / 10.0::DOUBLE AS target_tokens,
       LEAST(1.0::DOUBLE,
             ((200000 * w.weight) / 10.0::DOUBLE)
               / CAST(a.n_tokens_avail AS DOUBLE)) AS sampling_rate,
       LEAST(CAST(a.n_tokens_avail AS DOUBLE),
             (200000 * w.weight) / 10.0::DOUBLE) AS planned_tokens
FROM avail a JOIN w USING (stratum)
"""


def q171_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BM25 index maintenance (text.merge_bm25_index):
    build the index over 80% of the corpus, MERGE the remaining 20%
    as a new batch (upsert semantics), and serve q140's exact query
    config from the merged index — the oracle is O_Q140 VERBATIM, so
    the driver hash-verifies that incremental maintenance is
    indistinguishable from a from-scratch build over the full corpus.
    At 100 TB this is the only viable index lifecycle (pair the
    bucket rewrite with dynamic partition overwrite for append-only
    batches; the upsert path must touch every bucket — docstring)."""
    d = _t(spark, sf_dir, "documents")
    qs = d.where(F.col("doc_id") % 200 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    corpus = d.where(F.col("doc_id") % 200 != 0)
    base = corpus.where(F.col("doc_id") % 5 != 0)
    delta = corpus.where(F.col("doc_id") % 5 == 0)
    with tempfile.TemporaryDirectory(
        prefix="dlws_bm25_base_", ignore_cleanup_errors=True
    ) as base_idx, tempfile.TemporaryDirectory(
        prefix="dlws_bm25_merged_", ignore_cleanup_errors=True
    ) as out_idx:
        text.build_bm25_index(base, base_idx)
        text.merge_bm25_index(spark, base_idx, delta, out_idx)
        out = text.bm25_topk_indexed(spark, out_idx, qs, k=5)
        # pin before the index dirs vanish (the q102 pattern)
        return out.localCheckpoint(eager=True)


def q172_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus QA audit (similarity.embedding_quality_report):
    per label — wrong-width, non-finite, and zero vectors plus the L2
    norm envelope — the ingest gate a vector store runs before an
    index build trusts a new embedding delivery. Norms are
    pinned-order left folds + correctly-rounded sqrt (bit-identical
    cross-engine); non-finite is the dialect-free NOT(x - x = 0);
    the mean routes through the decimal-sum contract. Zero counts on
    this fixture are the CORRECT finding (clean corpus); the dirty
    cases are pinned in pytest."""
    from data_lake_with_spark_spark.operators.similarity import (
        embedding_quality_report,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_quality_report(emb, expected_dim=64)


O_Q172 = """
WITH b AS (
  SELECT label AS "group",
         CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END AS mm,
         CASE WHEN COALESCE(list_bool_or(list_transform(embedding,
                     x -> x IS NULL OR
                          NOT ((CAST(x AS DOUBLE) - CAST(x AS DOUBLE)) = 0.0))),
                   FALSE)
              THEN 1 ELSE 0 END AS nf,
         sqrt(COALESCE(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                (a, b) -> a + b), 0.0)) AS nrm
  FROM embeddings)
SELECT "group",
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(mm) AS BIGINT) AS n_dim_mismatch,
       CAST(SUM(nf) AS BIGINT) AS n_nonfinite,
       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       MIN(nrm) AS norm_min,
       MAX(nrm) AS norm_max,
       CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS norm_mean
FROM b GROUP BY "group"
"""


def q173_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft (weighted) exact dedup (dedup.soft_dedup_weights): every
    doc weighted 1/cluster_size over md5-content clusters, so each
    duplicate group carries total training mass 1 — the down-weighting
    alternative to q21's drop (some mixtures keep duplicates
    deliberately). One keyed count + a partitioning-reusing join
    back; one exact division."""
    d = _t(spark, sf_dir, "documents")
    return dedup.soft_dedup_weights(d)


O_Q173 = """
WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
s AS (SELECT content_hash, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM h GROUP BY content_hash)
SELECT h.doc_id, h.content_hash, s.cluster_size,
       1.0::DOUBLE / s.cluster_size AS weight
FROM h JOIN s USING (content_hash)
"""


def q174_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit (profile.numeric_outlier_report):
    per event type, discrete quartiles of the value column, 1.5·IQR
    fences, and the outlier count/rate — the numeric sanity gate a
    corrupted ingest trips first. Quartiles are DISCRETE (the value
    at rank ceil(p·n)), so every reported number is an actual data
    value and no interpolation arithmetic can diverge cross-engine;
    one group-keyed rank window, stats and fence-count reuse the
    pinned ranked frame."""
    from data_lake_with_spark_spark.operators.profile import (
        numeric_outlier_report,
    )

    e = _t(spark, sf_dir, "events")
    return numeric_outlier_report(e, "event_type", F.col("value"), k=1.5)


O_Q174 = """
WITH b AS (SELECT event_type AS g, value AS v FROM events
           WHERE value IS NOT NULL),
rk AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
              COUNT(*) OVER (PARTITION BY g) AS n FROM b),
st AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
              MAX(CASE WHEN rn = CEIL(0.25 * n) THEN v END) AS p25,
              MAX(CASE WHEN rn = CEIL(0.75 * n) THEN v END) AS p75
       FROM rk GROUP BY g),
f AS (SELECT g, n, p25, p75, p75 - p25 AS iqr,
             p25 - 1.5::DOUBLE * (p75 - p25) AS lo_fence,
             p75 + 1.5::DOUBLE * (p75 - p25) AS hi_fence
      FROM st),
o AS (SELECT rk.g, CAST(COUNT(*) AS BIGINT) AS n_outliers
      FROM rk JOIN f USING (g)
      WHERE rk.v < f.lo_fence OR rk.v > f.hi_fence GROUP BY rk.g)
SELECT f.g AS event_type, f.n, f.p25, f.p75, f.iqr, f.lo_fence, f.hi_fence,
       CAST(COALESCE(o.n_outliers, 0) AS BIGINT) AS n_outliers,
       COALESCE(o.n_outliers, 0) / CAST(f.n AS DOUBLE) AS outlier_rate
FROM f LEFT JOIN o ON o.g = f.g
"""


def q175_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (graph.pagerank_fixed) over the
    customer↔part co-purchase bipartite graph (symmetric edges from
    orders⋈lineitem): 3 unrolled iterations, damping 0.85, top-50 by
    authority — the crawl-seeding / source-weighting centrality a
    curation pipeline ranks frontiers with. Contributions sum through
    the tie-free FLOOR-GRID fold (FLOOR(x·10^15) bigint units —
    order-independent, a shuffle-order-dependent PageRank would
    never hash-verify; the grid replaced the DECIMAL(24,15) cast
    after q180's seed config exposed the cast's half-up tie rounding
    apart across engines — one contribution off by exactly one grid
    unit; FLOOR has no ties. The scaled sum stays under 2^53 per the
    q154 magnitude rule); the damped update is
    pinned-order scalar IEEE, with (1−d) written as an explicit
    subtraction in BOTH engines (0.15 the literal and 1.0−0.85 the
    computation differ by one ulp — the float-literal trap)."""
    from pyspark.sql import Window

    from data_lake_with_spark_spark.operators.graph import pagerank_fixed
    from data_lake_with_spark_spark.operators.relational import top_k

    pairs = _copurchase_pairs(spark, sf_dir)
    edges = _symmetrize_edges(pairs)
    # edges are symmetrized by construction — danglers impossible, so
    # skip the validate pass (an extra full-edge action per call)
    r = pagerank_fixed(edges, iterations=3, damping=0.85, validate=False)
    # top-50 via TakeOrderedAndProject (each partition keeps 50, the
    # driver merges) — NOT an unpartitioned Window.orderBy over the
    # full rank frame (single-task global sort; at crawl-graph scale
    # the rank frame is every node). `pos` derives from a window over
    # the already-limited 50-row result, which is one task over 50
    # rows by construction.
    top = top_k(r, [F.col("rank").desc(), F.col("node").asc()], 50)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return top.withColumn("pos", F.row_number().over(w).cast("bigint"))


O_Q175 = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes),
it1 AS (
  SELECT e.dst AS node,
         (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
           + 0.85::DOUBLE
             * (SUM(CAST(FLOOR((r.rank / od.outdeg)
                               * 1000000000000000.0::DOUBLE)
                         AS BIGINT))
                / 1000000000000000.0::DOUBLE) AS rank
  FROM e JOIN od USING (src) JOIN r0 r ON r.node = e.src
  GROUP BY e.dst),
it2 AS (
  SELECT e.dst AS node,
         (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
           + 0.85::DOUBLE
             * (SUM(CAST(FLOOR((r.rank / od.outdeg)
                               * 1000000000000000.0::DOUBLE)
                         AS BIGINT))
                / 1000000000000000.0::DOUBLE) AS rank
  FROM e JOIN od USING (src) JOIN it1 r ON r.node = e.src
  GROUP BY e.dst),
it3 AS (
  SELECT e.dst AS node,
         (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
           + 0.85::DOUBLE
             * (SUM(CAST(FLOOR((r.rank / od.outdeg)
                               * 1000000000000000.0::DOUBLE)
                         AS BIGINT))
                / 1000000000000000.0::DOUBLE) AS rank
  FROM e JOIN od USING (src) JOIN it2 r ON r.node = e.src
  GROUP BY e.dst)
SELECT node, rank, pos FROM (
  SELECT node, rank,
         CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS pos
  FROM it3) WHERE pos <= 50
"""


def q176_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (similarity.merge_ivf_index):
    the q171 upsert pattern applied to the DENSE side — build the IVF
    index over the corpus minus a 20% delta, MERGE the delta as an
    ingest batch against the CARRIED (frozen) centroids, and serve
    q113's exact query config from the merged index. The oracle is
    O_Q113 VERBATIM, so the driver hash-verifies that incremental
    dense-index maintenance is indistinguishable from a from-scratch
    build over the full corpus with the same centroid set — at 100 TB
    an embedding corpus re-ingests daily and "rebuild the index" is
    not a plan. The delta deliberately excludes centroid-source ids
    (merge_ivf_index raises on replacing one — the frozen-coarse-
    quantizer contract); the base keeps them, so the carried centroid
    set equals the full-corpus set the oracle derives. The merge
    commits a manifest epoch that reads its unchanged cells and the
    centroids from the base, so both directories outlive the pin."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        merge_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # same fixed-budget arithmetic as O_Q113: md = max(1, n // 40)
    md = max(1, emb.count() // 40)
    is_delta = (F.col("vec_id") % md != 0) & (F.col("vec_id") % 5 == 0)
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivf_base_", ignore_cleanup_errors=True
    ) as base_idx, tempfile.TemporaryDirectory(
        prefix="dlws_ivf_merged_", ignore_cleanup_errors=True
    ) as out_idx:
        build_ivf_index(
            emb.where(~is_delta), base_idx, centroid_mod=md, vec_dim=64
        )
        merge_ivf_index(
            spark, base_idx, emb.where(is_delta), out_idx, vec_dim=64
        )
        out = ivf_topk_indexed(
            spark,
            out_idx,
            emb.where(F.col("vec_id") < 10),
            k=5,
            nprobe=4,
            vec_dim=64,
        )
        # pin before the index dirs vanish (the q102 pattern)
        return out.localCheckpoint(eager=True)


def q177_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure reaching the dense serving index
    (similarity.delete_from_ivf_index): build the q114 production
    index, DELETE a deterministic id stripe (vec_id % 9 = 4 — the
    GDPR batch), and serve q113's query config from the
    post-delete index. Centroids stay FROZEN (the FAISS remove_ids
    contract — deleting a centroid's source vector removes it from
    every result but keeps the centroid as a geometric anchor), which
    the oracle mirrors exactly: O_Q113 with the assignment CTE
    filtered to surviving vectors while the centroid CTE stays
    unfiltered. Serve-after-delete is therefore hash-gated identical
    to rebuild-without-the-ids over the same centroid set."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivf_index,
        delete_from_ivf_index,
        ivf_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivf_full_", ignore_cleanup_errors=True
    ) as full_idx, tempfile.TemporaryDirectory(
        prefix="dlws_ivf_deleted_", ignore_cleanup_errors=True
    ) as del_idx:
        build_ivf_index(emb, full_idx, target_centroids=40, vec_dim=64)
        delete_from_ivf_index(
            spark,
            full_idx,
            emb.where(F.col("vec_id") % 9 == 4).select("vec_id"),
            del_idx,
        )
        out = ivf_topk_indexed(
            spark,
            del_idx,
            emb.where(F.col("vec_id") < 10),
            k=5,
            nprobe=4,
            vec_dim=64,
        )
        return out.localCheckpoint(eager=True)


def q178_bm25_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure reaching the sparse serving index
    (text.delete_from_bm25_index): drop a deterministic doc stripe
    (doc_id % 7 = 3) from the SHARED persisted q140 index (the
    process-cached build every retrieval entry serves from) and run
    q140's exact query config against the post-delete index. Corpus
    stats recompute from surviving doclens and df/idf re-derive from
    surviving postings at serve time, so the oracle — O_Q140 with the
    corpus CTE minus the stripe, i.e. a from-scratch rebuild without
    the ids — hash-gates that deletes fully propagate to served
    scores (no ghost documents, no stale idf)."""
    d = _t(spark, sf_dir, "documents")
    qs = d.where(F.col("doc_id") % 200 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    dead = d.where(
        (F.col("doc_id") % 200 != 0) & (F.col("doc_id") % 7 == 3)
    ).select("doc_id")
    with tempfile.TemporaryDirectory(
        prefix="dlws_bm25_deleted_", ignore_cleanup_errors=True
    ) as del_idx:
        text.delete_from_bm25_index(
            spark, _bm25_index(spark, sf_dir, "q140"), dead, del_idx
        )
        out = text.bm25_topk_indexed(spark, del_idx, qs, k=5)
        return out.localCheckpoint(eager=True)


def q179_key_uniqueness_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYABLE sketch-mode candidate-key call, continuously
    driver-verified (the q13→q113 principle: the production config is
    the one the gate runs): ``key_uniqueness(mode="approx")`` VERBATIM
    — one partial-aggregable HLL++ scan, no exact expand — with its
    estimates gated by the q53-style envelope against an exact pass
    computed alongside (|approx − exact| ≤ 6·rsd·exact; the tight 3σ
    check lives in pytest on the pinned dataset). The estimate itself
    is engine-specific and never reaches the driver output — only the
    exact count and the bound verdict, so the oracle is O_Q162
    verbatim. q162 (mode="verify", the combined-plan accuracy gate)
    rotates to the local pin."""
    from data_lake_with_spark_spark.operators.profile import key_uniqueness

    li = _t(spark, sf_dir, "lineitem")
    cands = [
        ["l_orderkey"],
        ["l_orderkey", "l_linenumber"],
        ["l_partkey", "l_suppkey"],
        ["l_orderkey", "l_partkey", "l_suppkey"],
    ]
    rsd = 0.02
    ap = key_uniqueness(li, cands, mode="approx").select(
        "candidate", F.col("n_distinct").alias("_est")
    )
    ex = key_uniqueness(li, cands, mode="exact").select(
        "candidate", "n_rows", "n_distinct"
    )
    return ex.join(F.broadcast(ap), "candidate").select(
        "candidate",
        "n_rows",
        "n_distinct",
        (
            F.abs(F.col("_est") - F.col("n_distinct"))
            <= F.lit(6 * rsd) * F.col("n_distinct")
        ).alias("within_bound"),
    )


# O_Q177: O_Q113 with the ASSIGNMENT restricted to surviving vectors
# while the centroid CTE stays unfiltered — the SQL mirror of
# frozen-centroid deletion. Derived, not copy-edited, so the two
# stay in lockstep; the guard catches a silent no-op anchor miss
# (the q70-typo lesson).
O_Q177 = O_Q113.replace(
    "FROM embeddings e CROSS JOIN cents c)",
    "FROM embeddings e CROSS JOIN cents c WHERE e.vec_id % 9 <> 4)",
)
if O_Q177 == O_Q113:  # pragma: no cover
    raise AssertionError("O_Q177 anchor text missing from O_Q113")

# O_Q178: O_Q140 with the corpus CTE minus the deleted stripe — a
# from-scratch rebuild without the ids, which served-after-delete
# must equal bit-for-bit.
O_Q178 = O_Q140.replace(
    "FROM documents WHERE doc_id % 200 <> 0)",
    "FROM documents WHERE doc_id % 200 <> 0 AND doc_id % 7 <> 3)",
)
if O_Q178 == O_Q140:  # pragma: no cover
    raise AssertionError("O_Q178 anchor text missing from O_Q140")


def q180_pagerank_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized (seeded-teleport) PageRank
    (graph.pagerank_personalized): authority over the q175
    co-purchase graph RELATIVE to a trusted seed set — the
    BUILDING-segment customers — the TrustRank shape a crawl pipeline
    runs to score frontier pages against vetted sources rather than
    globally. Same float contract as q175 (tie-free floor-grid
    contribution sums — THIS query's seed config is what exposed the
    decimal-cast tie divergence the grid replaces; rank mass stays
    ≤ 1 because Σ seeds = 1; (1−d) as the explicit subtraction);
    teleport is a broadcast join of the seed frame; zero-rank nodes
    are absent-as-zero in BOTH engines (the inner contribution join +
    full-outer teleport reproduce the same row set). Top-50 via
    TakeOrderedAndProject, pos over the 50-row result (the q175
    pattern)."""
    from pyspark.sql import Window

    from data_lake_with_spark_spark.operators.graph import (
        pagerank_personalized,
    )
    from data_lake_with_spark_spark.operators.relational import top_k

    c = _t(spark, sf_dir, "customer")
    pairs = _copurchase_pairs(spark, sf_dir)
    edges = _symmetrize_edges(pairs)
    seeds = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    r = pagerank_personalized(edges, seeds, iterations=3, damping=0.85)
    top = top_k(r, [F.col("rank").desc(), F.col("node").asc()], 50)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return top.withColumn("pos", F.row_number().over(w).cast("bigint"))


O_Q180 = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
sd0 AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
        FROM customer WHERE c_mktsegment = 'BUILDING'),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM sd0),
sd AS (SELECT node, 1.0::DOUBLE / (SELECT ns FROM ns) AS s FROM sd0),
r0 AS (SELECT node, s AS rank FROM sd),
it1 AS (
  SELECT COALESCE(i.node, s.node) AS node,
         (1.0::DOUBLE - 0.85::DOUBLE) * COALESCE(s.s, 0.0::DOUBLE)
           + 0.85::DOUBLE * COALESCE(i.m, 0.0::DOUBLE) AS rank
  FROM (SELECT e.dst AS node,
               SUM(CAST(FLOOR((r.rank / od.outdeg)
                               * 1000000000000000.0::DOUBLE) AS BIGINT))
                 / 1000000000000000.0::DOUBLE AS m
        FROM e JOIN od USING (src) JOIN r0 r ON r.node = e.src
        GROUP BY e.dst) i
  FULL OUTER JOIN sd s ON s.node = i.node),
it2 AS (
  SELECT COALESCE(i.node, s.node) AS node,
         (1.0::DOUBLE - 0.85::DOUBLE) * COALESCE(s.s, 0.0::DOUBLE)
           + 0.85::DOUBLE * COALESCE(i.m, 0.0::DOUBLE) AS rank
  FROM (SELECT e.dst AS node,
               SUM(CAST(FLOOR((r.rank / od.outdeg)
                               * 1000000000000000.0::DOUBLE) AS BIGINT))
                 / 1000000000000000.0::DOUBLE AS m
        FROM e JOIN od USING (src) JOIN it1 r ON r.node = e.src
        GROUP BY e.dst) i
  FULL OUTER JOIN sd s ON s.node = i.node),
it3 AS (
  SELECT COALESCE(i.node, s.node) AS node,
         (1.0::DOUBLE - 0.85::DOUBLE) * COALESCE(s.s, 0.0::DOUBLE)
           + 0.85::DOUBLE * COALESCE(i.m, 0.0::DOUBLE) AS rank
  FROM (SELECT e.dst AS node,
               SUM(CAST(FLOOR((r.rank / od.outdeg)
                               * 1000000000000000.0::DOUBLE) AS BIGINT))
                 / 1000000000000000.0::DOUBLE AS m
        FROM e JOIN od USING (src) JOIN it2 r ON r.node = e.src
        GROUP BY e.dst) i
  FULL OUTER JOIN sd s ON s.node = i.node)
SELECT node, rank, pos FROM (
  SELECT node, rank,
         CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS pos
  FROM it3) WHERE pos <= 50
"""


def q181_hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration HITS (graph.hits_fixed) over the DIRECTED
    customer→part purchase digraph: hubs (broad buyers — the
    link-list shape) vs authorities (widely-bought parts — the
    content shape), the second classic source-authority signal a
    crawl-curation stack runs next to PageRank. The RATIONAL
    formulation: with h₀ = 1 and no per-round normalization every
    score is an exact INTEGER (bigint-sum aggregates only — no
    double→decimal cast anywhere, the strongest cross-engine float
    contract in the graph family; rankings are scale-invariant so the
    integers rank identically to the normalized scores). Top-50 by
    authority via TakeOrderedAndProject + the 50-row pos window."""
    from pyspark.sql import Window

    from data_lake_with_spark_spark.operators.graph import hits_fixed
    from data_lake_with_spark_spark.operators.relational import top_k

    edges = _copurchase_pairs(spark, sf_dir)
    r = hits_fixed(edges, iterations=2).select(
        "node",
        F.col("authority").cast("bigint").alias("authority"),
        F.col("hub").cast("bigint").alias("hub"),
    )
    top = top_k(
        r, [F.col("authority").desc(), F.col("node").asc()], 50
    )
    w = Window.orderBy(F.col("authority").desc(), F.col("node").asc())
    return top.withColumn("pos", F.row_number().over(w).cast("bigint"))


O_Q181 = """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
a1 AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS score
       FROM e GROUP BY dst),
h1 AS (SELECT e.src AS node, CAST(SUM(a.score) AS BIGINT) AS score
       FROM e JOIN a1 a ON a.node = e.dst GROUP BY e.src),
a2 AS (SELECT e.dst AS node, CAST(SUM(h.score) AS BIGINT) AS score
       FROM e JOIN h1 h ON h.node = e.src GROUP BY e.dst),
h2 AS (SELECT e.src AS node, CAST(SUM(a.score) AS BIGINT) AS score
       FROM e JOIN a2 a ON a.node = e.dst GROUP BY e.src),
sc AS (
  SELECT COALESCE(a.node, h.node) AS node,
         CAST(COALESCE(a.score, 0) AS BIGINT) AS authority,
         CAST(COALESCE(h.score, 0) AS BIGINT) AS hub
  FROM a2 a FULL OUTER JOIN h2 h ON h.node = a.node)
SELECT node, authority, hub, pos FROM (
  SELECT node, authority, hub,
         CAST(ROW_NUMBER() OVER (ORDER BY authority DESC, node)
              AS BIGINT) AS pos
  FROM sc) WHERE pos <= 50
"""


def q182_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (profile.functional_dependencies):
    does l_orderkey determine the return flag (no — it varies per
    line with the ship date), does the line-level key determine the part (trivially
    yes), does a part pin its supplier (no — TPC-H gives each part
    several)? The derivability question every denormalization /
    enrichment-join decision rests on: joining on a column that only
    LOOKS functionally determined silently duplicates rows. Exact
    integer counts, one keyed groupBy per audited pair."""
    from data_lake_with_spark_spark.operators.profile import (
        functional_dependencies,
    )

    li = _t(spark, sf_dir, "lineitem")
    return functional_dependencies(
        li,
        [
            (["l_orderkey"], "l_returnflag"),
            (["l_orderkey", "l_linenumber"], "l_partkey"),
            (["l_partkey"], "l_suppkey"),
        ],
    )


O_Q182 = """
-- NULL-INCLUSIVE distinct: the operator counts distinct over a
-- STRUCT(dep), so a NULL dependent is a value (an FD violated only
-- by NULLs is still violated); plain COUNT(DISTINCT col) would
-- ignore NULLs and diverge on NULL-bearing data — the oracle
-- mirrors the contract with COUNT(DISTINCT col) + MAX(is-null)
WITH g1 AS (SELECT l_orderkey,
                   COUNT(DISTINCT (l_returnflag))
                     + MAX(CASE WHEN l_returnflag IS NULL
                                THEN 1 ELSE 0 END) AS nd
            FROM lineitem GROUP BY l_orderkey),
g2 AS (SELECT l_orderkey, l_linenumber,
              COUNT(DISTINCT (l_partkey))
                + MAX(CASE WHEN l_partkey IS NULL
                           THEN 1 ELSE 0 END) AS nd
       FROM lineitem GROUP BY l_orderkey, l_linenumber),
g3 AS (SELECT l_partkey,
              COUNT(DISTINCT (l_suppkey))
                + MAX(CASE WHEN l_suppkey IS NULL
                           THEN 1 ELSE 0 END) AS nd
       FROM lineitem GROUP BY l_partkey)
SELECT 'l_orderkey' AS determinant, 'l_returnflag' AS dependent,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(MAX(nd) AS BIGINT) AS max_dep_values,
       SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM g1
UNION ALL
SELECT 'l_orderkey,l_linenumber', 'l_partkey',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(MAX(nd) AS BIGINT),
       SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
FROM g2
UNION ALL
SELECT 'l_partkey', 'l_suppkey',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(MAX(nd) AS BIGINT),
       SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
FROM g3
"""


def q183_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate spike detection (events_analytics.rate_spikes):
    per (event type, hour), flag buckets whose count exceeds 3× the
    trailing-4-bucket mean — the monitoring pass that catches ingest
    storms and broken producers the hour they happen. ENTIRELY
    integer arithmetic: the spike test cross-multiplies
    (count·baseline_n > 3·baseline_sum), so no division and no
    float exists anywhere in the operator — the graph-family
    tie-divergence lesson applied preemptively. One keyed groupBy +
    one ROWS-frame window per type."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        rate_spikes,
    )

    e = _t(spark, sf_dir, "events")
    return rate_spikes(e, factor=3, trailing=4)


O_Q183 = """
WITH c AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
w AS (
  SELECT event_type, bucket_ts, n_events,
         CAST(COALESCE(SUM(n_events) OVER win, 0) AS BIGINT)
           AS baseline_sum,
         CAST(COUNT(n_events) OVER win AS BIGINT) AS baseline_n
  FROM c
  WINDOW win AS (PARTITION BY event_type ORDER BY bucket_ts
                 ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
SELECT event_type, bucket_ts, n_events, baseline_sum, baseline_n,
       (n_events * baseline_n) > (3 * baseline_sum) AS is_spike
FROM w
"""


def q184_percentile_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GK-sketch twin of q179's HLL gate
    (profile.percentile_envelope): ``approx_percentile`` — the
    quantile sketch a 100 TB pipeline uses where exact percentiles
    would shuffle the world — driver-verified through its HARD rank
    guarantee (|rank(est) − p·n| ≤ n/accuracy, deterministic, unlike
    HLL's standard-error envelope). The estimate's exact rank
    INTERVAL (ties widen it) is checked against the guaranteed band
    with integer cross-multiplication; the engine-specific estimate
    never reaches the output, so the oracle is portable."""
    from data_lake_with_spark_spark.operators.profile import (
        percentile_envelope,
    )

    e = _t(spark, sf_dir, "events")
    return percentile_envelope(e, "event_type", "value", p=0.5, accuracy=1000)


O_Q184 = """
SELECT event_type AS "group",
       CAST(COUNT(value) AS BIGINT) AS n,
       TRUE AS within_bound
FROM events WHERE value IS NOT NULL
GROUP BY event_type
"""


def q185_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction (text.collocations): top-50 word
    bigrams by LIFT — PMI without the log (monotone, so identical
    ranking; libm log ulps diverge cross-engine — the rational-idf
    rule) — the corpus analysis behind multi-word tokenizer vocab
    entries and boilerplate phrase discovery. Exact integer counts,
    four pinned-order divisions per surviving bigram, min_count=5
    hapax pruning, top-k via TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    return text.collocations(d, k=50, min_count=5)


O_Q185 = """
WITH arr AS (
  SELECT string_split_regex(trim(text), '\\s+') AS a FROM documents),
tok AS (
  SELECT unnest(a) AS tok FROM arr),
uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok
        WHERE tok <> '' GROUP BY tok),
ut AS (SELECT CAST(SUM(c) AS BIGINT) AS u FROM uni),
bi AS (
  SELECT a[g] || ' ' || a[g + 1] AS bigram
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS g) s
  WHERE len(a) >= 2),
bic AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bi
        GROUP BY bigram),
bt AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS b FROM bic),
sc AS (
  SELECT bic.bigram, bic.c_ab, ua.c AS c_a, ub.c AS c_b,
         ((bic.c_ab / bt.b) / (ua.c / ut.u)) / (ub.c / ut.u) AS lift
  FROM bic
  JOIN uni ua ON ua.tok = split_part(bic.bigram, ' ', 1)
  JOIN uni ub ON ub.tok = split_part(bic.bigram, ' ', 2)
  CROSS JOIN ut CROSS JOIN bt
  WHERE bic.c_ab >= 5)
SELECT bigram, c_ab, c_a, c_b, lift, rank FROM (
  SELECT bigram, c_ab, c_a, c_b, lift,
         CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, bigram)
              AS BIGINT) AS rank
  FROM sc) WHERE rank <= 50
"""


# Shared edge-frame builders for the graph family. Deliberately NOT
# disk-cached across entries (the _bm25_index pattern was measured
# here and REJECTED): pair construction is one broadcast-ish join +
# distinct, and the A/B showed re-reading a cached parquet copy is
# SLOWER than rebuilding (pagerank_fixed at sf0.1: inline 5.96s vs
# cached-read 8.15s min-of-2 — the read's few fat partitions feed
# the symmetrize + checkpoint with a third of the parallelism of the
# 32-partition distinct output, and nothing expensive is being
# amortized, unlike the BM25 corpus explode). Caching is for
# operators whose build DOMINATES their serve; these builders are
# the cheap end of their queries.


def _symmetrize_edges(pairs: DataFrame, *extra: str) -> DataFrame:
    """Both directions of an edge frame by EXPLODING each row —
    the union-of-two-selects form evaluated the whole upstream edge
    projection twice (guide §7.2 duplicated subtrees; here that
    upstream is the orders⋈lineitem co-purchase join). ``extra``
    names weight columns carried through both directions."""
    fwd = F.struct(
        F.col("src"), F.col("dst"), *[F.col(c) for c in extra]
    )
    rev = F.struct(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        *[F.col(c) for c in extra],
    )
    return pairs.select(F.explode(F.array(fwd, rev)).alias("_e")).select(
        "_e.src", "_e.dst", *[f"_e.{c}" for c in extra]
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→part purchase pairs ('c…'/'p…' string node
    ids) — the bipartite frame q175/q180 symmetrize and q181 ranks
    directly."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )


def _copurchase_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer→part purchase edges WITH multiplicity: weight = the
    number of distinct orders in which the customer bought the part —
    the weighted edge frame q190 feeds to weighted PageRank instead
    of flattening repeat purchases to the q175/q180 0/1 edges."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias(
                "dst"
            ),
        )
        .agg(F.countDistinct("o_orderkey").cast("bigint").alias("w"))
    )


def _part_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (lo < hi) distinct part–part co-purchase pairs: two
    parts are adjacent iff some order contains both. The unipartite
    projection of the order–part bipartite graph — the graph the
    triangle census and label spread run on (the bipartite frame
    itself has no odd cycles, hence no triangles)."""
    from data_lake_with_spark_spark.operators.graph import _pair_supports

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    # one-shuffle pair expansion (sorted per-order item set → C(n, 2)
    # pairs in-task) instead of a lineitem self-join: same distinct
    # pair set, one exchange (consumers canonicalize + distinct; the
    # per-order dedup here only collapses repeat lineitems of a part)
    return _pair_supports(li).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )


def q186_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census (graph.triangle_stats) of the part–part
    co-purchase graph: exact triangle count via DEGREE-ORDERED
    orientation (wedges generated only between out-neighbors under
    the (deg, id) order — candidate count bounded by Σ C(outdeg, 2)
    = O(E^1.5) worst-case instead of hub-quadratic), plus the global
    clustering coefficient 3·T / ΣC(deg,2) — the transitivity signal
    that separates organic link graphs from link-farm near-cliques.
    Integer-exact; ONE IEEE division for the coefficient."""
    from data_lake_with_spark_spark.operators.graph import triangle_stats

    return triangle_stats(_part_copurchase_pairs(spark, sf_dir))


_O_COPURCHASE_P0 = """
p0 AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""


O_Q186 = f"""
WITH {_O_COPURCHASE_P0},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT lo AS node FROM p0 UNION ALL SELECT hi FROM p0) GROUP BY node),
o AS (SELECT
    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND p0.lo < p0.hi)
         THEN p0.lo ELSE p0.hi END AS u,
    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND p0.lo < p0.hi)
         THEN p0.hi ELSE p0.lo END AS v,
    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND p0.lo < p0.hi)
         THEN dh.deg ELSE dl.deg END AS deg_v
  FROM p0 JOIN deg dl ON dl.node = p0.lo JOIN deg dh ON dh.node = p0.hi),
w AS (SELECT o1.v AS v, o2.v AS w FROM o o1 JOIN o o2
      ON o1.u = o2.u AND (o1.deg_v < o2.deg_v
                          OR (o1.deg_v = o2.deg_v AND o1.v < o2.v))),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM w SEMI JOIN o ON o.u = w.v AND o.v = w.w),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
      FROM deg),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM p0)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0 THEN (3.0 * n_triangles) / n_wedges
            ELSE 0.0 END AS global_clustering
FROM n, m, t
"""


def q187_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped-seed label propagation (graph.label_propagation) over
    the part–part co-purchase graph: small parts (p_size <= 5, ~10%)
    seed their brand as a trusted label; two synchronous
    majority-vote rounds spread labels to every node within 2 hops —
    how scarce human/classifier labels cover a crawl graph without
    scoring every page. Votes are exact integer counts; the winner
    is argmax by (votes DESC, label ASC) — a total order, so the
    result is engine-independent. Output: per-label node counts
    split into seeded vs propagated."""
    from data_lake_with_spark_spark.operators.graph import label_propagation

    part = _t(spark, sf_dir, "part")
    seeds = part.where(F.col("p_size") <= 5).select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("label")
    )
    lab = label_propagation(
        _part_copurchase_pairs(spark, sf_dir), seeds, iterations=2
    )
    seed_nodes = seeds.select("node").withColumn("_is_seed", F.lit(1))
    return (
        lab.join(seed_nodes, "node", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.coalesce(F.col("_is_seed"), F.lit(0)))
            .cast("bigint")
            .alias("n_seeded"),
        )
        .withColumn(
            "n_propagated",
            (F.col("n_total") - F.col("n_seeded")).cast("bigint"),
        )
    )


O_Q187 = f"""
WITH {_O_COPURCHASE_P0},
e AS (SELECT lo AS src, hi AS dst FROM p0
      UNION ALL SELECT hi AS src, lo AS dst FROM p0),
seeds AS (SELECT p_partkey AS node, p_brand AS label FROM part
          WHERE p_size <= 5),
v1 AS (SELECT e.dst AS node, s.label, COUNT(*) AS votes
       FROM e JOIN seeds s ON s.node = e.src GROUP BY e.dst, s.label),
w1 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node
                                   ORDER BY votes DESC, label) AS rn
         FROM v1) WHERE rn = 1),
l1 AS (SELECT node, label FROM seeds UNION ALL
       SELECT w1.node, w1.label FROM w1
       ANTI JOIN seeds ON seeds.node = w1.node),
v2 AS (SELECT e.dst AS node, l.label, COUNT(*) AS votes
       FROM e JOIN l1 l ON l.node = e.src GROUP BY e.dst, l.label),
w2 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node
                                   ORDER BY votes DESC, label) AS rn
         FROM v2) WHERE rn = 1),
l2 AS (SELECT node, label FROM seeds UNION ALL
       SELECT w2.node, w2.label FROM w2
       ANTI JOIN seeds ON seeds.node = w2.node)
SELECT l2.label AS label, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seeded,
       CAST(COUNT(*) - SUM(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_propagated
FROM l2 LEFT JOIN (SELECT node FROM seeds) s ON s.node = l2.node
GROUP BY l2.label
"""


def q188_related_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item top-5 related items (graph.related_items) from order
    baskets: squared-cosine co-occurrence score n_ab²/(n_a·n_b) —
    exact bigint numerator/denominator, ONE IEEE division (sqrt
    would be libm; squaring is monotone so rankings are unchanged) —
    ranked by a PER-ITEM window (never a global sort). The nightly
    item-item serving table: pair candidates are Σ C(|basket|, 2),
    bounded by basket size, never by item popularity. min_count=2
    floors the pair support BEFORE symmetrize+rank (the r9 verdict's
    serving-scale ask): on a 100 TB catalog the pair key space is
    dominated by one-basket coincidences a recommender would never
    trust — the floor bounds the symmetrize/join/window input to
    recurring pairs (reduction measured in MEASUREMENTS_r10.md)."""
    from data_lake_with_spark_spark.operators.graph import related_items

    li = _t(spark, sf_dir, "lineitem")
    return related_items(
        li, basket_col="l_orderkey", item_col="l_partkey", k=5, min_count=2
    )


O_Q188 = """
WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
           FROM lineitem),
n AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM b
      GROUP BY item),
p AS (SELECT x.item AS a, y.item AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
      GROUP BY x.item, y.item
      HAVING COUNT(*) >= 2),
sym AS (SELECT a AS item, b AS other, n_ab FROM p
        UNION ALL SELECT b AS item, a AS other, n_ab FROM p),
sc AS (SELECT sym.item, sym.other, sym.n_ab,
              (sym.n_ab * sym.n_ab) / (ni.n_item * no.n_item) AS score
       FROM sym JOIN n ni ON ni.item = sym.item
                JOIN n no ON no.item = sym.other)
SELECT item, other, n_ab, score, rank FROM (
  SELECT item, other, n_ab, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY item
                                 ORDER BY score DESC, other)
              AS BIGINT) AS rank
  FROM sc) WHERE rank <= 5
"""


def q189_hub_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-clustering audit of the top-50 highest-degree parts
    (graph.hub_clustering) in the co-purchase graph: per-hub triangle
    count and local coefficient 2·T_v/(deg·(deg−1)) — the link-farm
    detector (organic hubs: neighbors that don't know each other,
    LOW clustering; farms: near-cliques). Triangles materialize once
    at their lowest-order vertex (degree-ordered orientation, the
    q186 bound) then attribute to all three members; hub selection
    is TakeOrderedAndProject by (deg DESC, node ASC)."""
    from data_lake_with_spark_spark.operators.graph import hub_clustering

    return hub_clustering(_part_copurchase_pairs(spark, sf_dir), k=50)


O_Q189 = f"""
WITH {_O_COPURCHASE_P0},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT lo AS node FROM p0 UNION ALL SELECT hi FROM p0) GROUP BY node),
o AS (SELECT
    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND p0.lo < p0.hi)
         THEN p0.lo ELSE p0.hi END AS u,
    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND p0.lo < p0.hi)
         THEN p0.hi ELSE p0.lo END AS v,
    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND p0.lo < p0.hi)
         THEN dh.deg ELSE dl.deg END AS deg_v
  FROM p0 JOIN deg dl ON dl.node = p0.lo JOIN deg dh ON dh.node = p0.hi),
tri AS (
  SELECT o1.u AS u, o1.v AS v, o2.v AS w
  FROM o o1 JOIN o o2
    ON o1.u = o2.u AND (o1.deg_v < o2.deg_v
                        OR (o1.deg_v = o2.deg_v AND o1.v < o2.v))
  JOIN o o3 ON o3.u = o1.v AND o3.v = o2.v),
pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
  SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri) GROUP BY node),
hubs AS (SELECT node, deg,
                ROW_NUMBER() OVER (ORDER BY deg DESC, node) AS pos
         FROM deg)
SELECT h.node, h.deg, CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
       CASE WHEN h.deg > 1
            THEN (2.0 * COALESCE(pn.n_tri, 0)) / (h.deg * (h.deg - 1))
            ELSE 0.0 END AS local_clustering,
       CAST(h.pos AS BIGINT) AS pos
FROM hubs h LEFT JOIN pn ON pn.node = h.node
WHERE h.pos <= 50
"""


def q190_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED seeded PageRank (graph.pagerank_personalized with
    weight_col) — the shape real crawl/co-occurrence graphs arrive
    in: the q180 co-purchase graph keeps its EDGE MULTIPLICITY
    (number of distinct orders in which the customer bought the part)
    instead of flattening to 0/1, so a repeat purchase carries more
    authority flow — contribution is rank·w/Σ_out w with exact-bigint
    weight totals. Same float contract as q175/q180 (rank·w then ONE
    division are two pinned-order IEEE ops; the tie-free FLOOR-grid
    fold sums contributions; Σ seeds = 1 keeps rank mass ≤ 1 under
    the grid's 2^53 bound). Seeds: BUILDING-segment customers.
    Two iterations; top-50 via TakeOrderedAndProject + the 50-row
    pos window (the q175 plan pattern)."""
    from pyspark.sql import Window

    from data_lake_with_spark_spark.operators.graph import (
        pagerank_personalized,
    )
    from data_lake_with_spark_spark.operators.relational import top_k

    c = _t(spark, sf_dir, "customer")
    pairs = _copurchase_weighted(spark, sf_dir)
    edges = _symmetrize_edges(pairs, "w")
    seeds = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    r = pagerank_personalized(
        edges, seeds, iterations=2, damping=0.85, weight_col="w"
    )
    top = top_k(r, [F.col("rank").desc(), F.col("node").asc()], 50)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return top.withColumn("pos", F.row_number().over(w).cast("bigint"))


O_Q190 = """
WITH e0 AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS w
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_partkey),
e AS (SELECT src, dst, w FROM e0
      UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY src),
sd0 AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
        FROM customer WHERE c_mktsegment = 'BUILDING'),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM sd0),
sd AS (SELECT node, 1.0::DOUBLE / (SELECT ns FROM ns) AS s FROM sd0),
r0 AS (SELECT node, s AS rank FROM sd),
it1 AS (
  SELECT COALESCE(i.node, s.node) AS node,
         (1.0::DOUBLE - 0.85::DOUBLE) * COALESCE(s.s, 0.0::DOUBLE)
           + 0.85::DOUBLE * COALESCE(i.m, 0.0::DOUBLE) AS rank
  FROM (SELECT e.dst AS node,
               SUM(CAST(FLOOR(((r.rank * e.w) / ow.outw)
                               * 1000000000000000.0::DOUBLE) AS BIGINT))
                 / 1000000000000000.0::DOUBLE AS m
        FROM e JOIN ow USING (src) JOIN r0 r ON r.node = e.src
        GROUP BY e.dst) i
  FULL OUTER JOIN sd s ON s.node = i.node),
it2 AS (
  SELECT COALESCE(i.node, s.node) AS node,
         (1.0::DOUBLE - 0.85::DOUBLE) * COALESCE(s.s, 0.0::DOUBLE)
           + 0.85::DOUBLE * COALESCE(i.m, 0.0::DOUBLE) AS rank
  FROM (SELECT e.dst AS node,
               SUM(CAST(FLOOR(((r.rank * e.w) / ow.outw)
                               * 1000000000000000.0::DOUBLE) AS BIGINT))
                 / 1000000000000000.0::DOUBLE AS m
        FROM e JOIN ow USING (src) JOIN it1 r ON r.node = e.src
        GROUP BY e.dst) i
  FULL OUTER JOIN sd s ON s.node = i.node)
SELECT node, rank, pos FROM (
  SELECT node, rank,
         CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS pos
  FROM it2) WHERE pos <= 50
"""


def q191_label_propagation_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED label propagation (graph.label_propagation with
    weight_col): the q187 spread re-run with each part–part edge
    voting by its CO-OCCURRENCE COUNT (number of orders containing
    both parts) instead of one vote per edge — a part tied to a seed
    by many shared orders takes that seed's label over two
    weakly-tied seeds. Votes are exact bigint weight sums; the winner
    stays the (votes DESC, label ASC) total order, so the result is
    engine-independent with no float anywhere. Two clamped rounds;
    output is the q187 per-label census (total/seeded/propagated)."""
    from data_lake_with_spark_spark.operators.graph import label_propagation

    part = _t(spark, sf_dir, "part")
    seeds = part.where(F.col("p_size") <= 5).select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("label")
    )
    from data_lake_with_spark_spark.operators.graph import _pair_supports

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    # the (src, dst, w) co-occurrence aggregate IS the shared
    # _pair_supports core (w = orders containing both parts; the
    # per-order item-set dedup replaces the old pre-join distinct)
    pairs = _pair_supports(li).select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.col("n_ab").alias("w"),
    )
    lab = label_propagation(pairs, seeds, iterations=2, weight_col="w")
    seed_nodes = seeds.select("node").withColumn("_is_seed", F.lit(1))
    return (
        lab.join(seed_nodes, "node", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.coalesce(F.col("_is_seed"), F.lit(0)))
            .cast("bigint")
            .alias("n_seeded"),
        )
        .withColumn(
            "n_propagated",
            (F.col("n_total") - F.col("n_seeded")).cast("bigint"),
        )
    )


O_Q191 = """
WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
           FROM lineitem),
p0 AS (SELECT x.item AS lo, y.item AS hi, CAST(COUNT(*) AS BIGINT) AS w
       FROM b x JOIN b y ON x.ok = y.ok AND x.item < y.item
       GROUP BY x.item, y.item),
e AS (SELECT lo AS src, hi AS dst, w FROM p0
      UNION ALL SELECT hi AS src, lo AS dst, w FROM p0),
seeds AS (SELECT p_partkey AS node, p_brand AS label FROM part
          WHERE p_size <= 5),
v1 AS (SELECT e.dst AS node, s.label, CAST(SUM(e.w) AS BIGINT) AS votes
       FROM e JOIN seeds s ON s.node = e.src GROUP BY e.dst, s.label),
w1 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node
                                   ORDER BY votes DESC, label) AS rn
         FROM v1) WHERE rn = 1),
l1 AS (SELECT node, label FROM seeds UNION ALL
       SELECT w1.node, w1.label FROM w1
       ANTI JOIN seeds ON seeds.node = w1.node),
v2 AS (SELECT e.dst AS node, l.label, CAST(SUM(e.w) AS BIGINT) AS votes
       FROM e JOIN l1 l ON l.node = e.src GROUP BY e.dst, l.label),
w2 AS (SELECT node, label FROM (
         SELECT node, label,
                ROW_NUMBER() OVER (PARTITION BY node
                                   ORDER BY votes DESC, label) AS rn
         FROM v2) WHERE rn = 1),
l2 AS (SELECT node, label FROM seeds UNION ALL
       SELECT w2.node, w2.label FROM w2
       ANTI JOIN seeds ON seeds.node = w2.node)
SELECT l2.label AS label, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seeded,
       CAST(COUNT(*) - SUM(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_propagated
FROM l2 LEFT JOIN (SELECT node FROM seeds) s ON s.node = l2.node
GROUP BY l2.label
"""


def q192_ivf_manifest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF merge committed as a manifest epoch, kept under its name
    because the driver lists it. Every merge commits a manifest epoch,
    so this is q176: same batch, same O_Q113 rebuild pin."""
    return q176_ivf_incremental(spark, sf_dir)


def q193_bm25_manifest_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 erasure committed as a manifest epoch, kept under its
    name because the driver lists it. Every delete commits a manifest
    epoch, so this is q178: same stripe, same O_Q178 rebuild pin."""
    return q178_bm25_delete(spark, sf_dir)


def q194_hits_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED HITS (graph.hits_fixed with weight_col) over the
    customer→part purchase digraph carrying EDGE MULTIPLICITY
    (distinct orders per customer-part pair — the q190 edge frame):
    a(v) = Σ h(u)·w, h(u) = Σ a(v)·w. The point of the integer
    weight contract: every product and sum is still an exact
    DECIMAL(38,0) INTEGER, so weighted HITS keeps the strongest
    cross-engine float story in the graph family — no decimal cast,
    no grid, nothing to round (w=1 property-tested identical to
    q181's unweighted scores). Top-50 by authority via
    TakeOrderedAndProject + the 50-row pos window."""
    from pyspark.sql import Window

    from data_lake_with_spark_spark.operators.graph import hits_fixed
    from data_lake_with_spark_spark.operators.relational import top_k

    edges = _copurchase_weighted(spark, sf_dir)
    r = hits_fixed(edges, iterations=2, weight_col="w").select(
        "node",
        F.col("authority").cast("bigint").alias("authority"),
        F.col("hub").cast("bigint").alias("hub"),
    )
    top = top_k(
        r, [F.col("authority").desc(), F.col("node").asc()], 50
    )
    w = Window.orderBy(F.col("authority").desc(), F.col("node").asc())
    return top.withColumn("pos", F.row_number().over(w).cast("bigint"))


O_Q194 = """
WITH e AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS w
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_partkey),
a1 AS (SELECT dst AS node, CAST(SUM(w) AS BIGINT) AS score
       FROM e GROUP BY dst),
h1 AS (SELECT e.src AS node, CAST(SUM(a.score * e.w) AS BIGINT) AS score
       FROM e JOIN a1 a ON a.node = e.dst GROUP BY e.src),
a2 AS (SELECT e.dst AS node, CAST(SUM(h.score * e.w) AS BIGINT) AS score
       FROM e JOIN h1 h ON h.node = e.src GROUP BY e.dst),
h2 AS (SELECT e.src AS node, CAST(SUM(a.score * e.w) AS BIGINT) AS score
       FROM e JOIN a2 a ON a.node = e.dst GROUP BY e.src),
sc AS (
  SELECT COALESCE(a.node, h.node) AS node,
         CAST(COALESCE(a.score, 0) AS BIGINT) AS authority,
         CAST(COALESCE(h.score, 0) AS BIGINT) AS hub
  FROM a2 a FULL OUTER JOIN h2 h ON h.node = a.node)
SELECT node, authority, hub, pos FROM (
  SELECT node, authority, hub,
         CAST(ROW_NUMBER() OVER (ORDER BY authority DESC, node)
              AS BIGINT) AS pos
  FROM sc) WHERE pos <= 50
"""


def _pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Process-cached full-corpus persisted PQ index (q118's exact
    config: target_codes=40 over the 64-d embeddings) — the
    build-once-serve-many shape q195/q197 exercise, mirroring the
    shared q140 BM25 index."""
    from data_lake_with_spark_spark.operators.similarity import build_pq_index

    def build(path: str) -> None:
        build_pq_index(
            _t(spark, sf_dir, "embeddings"), path,
            dim=_PQ_DIM, m=_PQ_M, target_codes=40, n_buckets=32,
        )

    return _cached_dir("dlws_pq_full_", sf_dir, "codes", build)


def q195_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k served from the PERSISTED PQ index
    (similarity.build_pq_index / pq_topk_indexed — the FAISS IndexPQ
    artifact): until round 11 the PQ family re-derived codebooks and
    re-encoded the corpus per query (q117/q118 prove the math); here
    the codes are built once into a partitioned layout and q118's
    exact query config is served from disk — the oracle is O_Q118
    VERBATIM, so the driver hash-verifies the persisted path returns
    bit-identical ADC distances (the q102-vs-q13 parity applied to
    the third index family)."""
    from data_lake_with_spark_spark.operators.similarity import pq_topk_indexed

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk_indexed(
        spark, _pq_index(spark, sf_dir), emb.where(F.col("vec_id") < 10), k=5
    )


def q196_pq_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ index maintenance (similarity.merge_pq_index):
    the q176 upsert contract applied to the third index family — build
    the PQ index over the corpus minus a 20% delta, MERGE the delta
    against the CARRIED (frozen) codebooks, and serve q118's query
    config from the merged index. The oracle is O_Q118 VERBATIM: the
    incrementally-merged code layout must be indistinguishable from a
    from-scratch encode of the full corpus over the same codebook set.
    The delta excludes codebook-source ids (merge_pq_index raises on
    replacing one — the frozen-quantizer contract), so the carried
    codebooks equal the full-corpus seed set the oracle derives."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_pq_index,
        merge_pq_index,
        pq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    md = max(1, emb.count() // 40)
    is_delta = (F.col("vec_id") % md != 0) & (F.col("vec_id") % 5 == 0)
    with tempfile.TemporaryDirectory(
        prefix="dlws_pq_base_", ignore_cleanup_errors=True
    ) as base_idx, tempfile.TemporaryDirectory(
        prefix="dlws_pq_merged_", ignore_cleanup_errors=True
    ) as out_idx:
        build_pq_index(
            emb.where(~is_delta), base_idx,
            dim=_PQ_DIM, m=_PQ_M, centroid_mod=md, n_buckets=32,
        )
        merge_pq_index(spark, base_idx, emb.where(is_delta), out_idx)
        out = pq_topk_indexed(
            spark, out_idx, emb.where(F.col("vec_id") < 10), k=5
        )
        # pin before the index dirs vanish (the q102 pattern)
        return out.localCheckpoint(eager=True)


def q197_pq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure reaching the PQ serving index
    (similarity.delete_from_pq_index): drop a deterministic id stripe
    (vec_id % 9 = 4 — the q177 GDPR batch, dense-code side) from the
    shared persisted PQ index and serve q118's query config from the
    post-delete layout. Codebooks stay FROZEN (the FAISS remove_ids
    contract), which the oracle mirrors exactly: O_Q118 with the
    encode CTE filtered to surviving vectors while the codebook CTE
    stays unfiltered — serve-after-delete is hash-gated identical to
    rebuild-without-the-ids over the same codebook set."""
    from data_lake_with_spark_spark.operators.similarity import (
        delete_from_pq_index,
        pq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(
        prefix="dlws_pq_deleted_", ignore_cleanup_errors=True
    ) as del_idx:
        delete_from_pq_index(
            spark,
            _pq_index(spark, sf_dir),
            emb.where(F.col("vec_id") % 9 == 4).select("vec_id"),
            del_idx,
        )
        out = pq_topk_indexed(
            spark, del_idx, emb.where(F.col("vec_id") < 10), k=5
        )
        return out.localCheckpoint(eager=True)


# O_Q197: O_Q118 with the ENCODE restricted to surviving vectors while
# the codebook CTE stays unfiltered — the SQL mirror of frozen-codebook
# deletion (the O_Q177 derivation, PQ side). Derived, not copy-edited;
# the guard catches a silent no-op anchor miss (the q70-typo lesson).
O_Q197 = O_Q118.replace(
    "FROM ev JOIN cb USING (subspace)) WHERE rn = 1)",
    "FROM ev JOIN cb USING (subspace)) WHERE rn = 1 AND vec_id % 9 <> 4)",
)
if O_Q197 == O_Q118:  # pragma: no cover
    raise AssertionError("O_Q197 anchor text missing from O_Q118")


def q198_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE epoch lifecycle a serving fleet runs (r10 verdict
    item #1), registered as one driver-verifiable composition: under a
    single stable index ROOT, build the IVF base into epoch 0, apply
    TWO manifest merge epochs (a split 20% delta — each epoch writes
    only its changed cent_id= partitions plus a manifest),
    cow.set_current re-points the stable pointer after every step,
    compact_ivf_index collapses the chain into epoch 3, and
    cow.vacuum_index retires EXACTLY the three now-unreferenced
    epochs (asserted in-query — a wrong vacuum raises rather than
    serving). Serving then resolves ONE pointer (cow.get_current) and
    the oracle is O_Q113 VERBATIM: after merge→merge→compact→vacuum,
    top-k must remain bit-identical to a from-scratch build over the
    full corpus with the same frozen centroid set."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
        merge_ivf_index,
    )
    from data_lake_with_spark_spark.sources import cow

    emb = _t(spark, sf_dir, "embeddings")
    md = max(1, emb.count() // 40)
    is_delta = (F.col("vec_id") % md != 0) & (F.col("vec_id") % 5 == 0)
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivf_root_", ignore_cleanup_errors=True
    ) as root:
        e0 = cow.new_epoch_path(spark, root)
        build_ivf_index(
            emb.where(~is_delta), e0, centroid_mod=md, vec_dim=64
        )
        # every pointer commit is a CAS against the epoch it derived
        # from (expected=None asserts the fresh root) — the r12
        # lost-update guard, exercised in the registered composition
        cow.set_current(spark, root, e0, expected=None)
        epochs = [e0]
        for half in (0, 1):
            out = cow.new_epoch_path(spark, root, label="merge")
            base = cow.get_current(spark, root)
            merge_ivf_index(
                spark,
                base,
                emb.where(is_delta & (F.col("vec_id") % 2 == half)),
                out,
                vec_dim=64,
            )
            cow.set_current(spark, root, out, expected=base)
            epochs.append(out)
        flat = cow.new_epoch_path(spark, root, label="compact")
        base = cow.get_current(spark, root)
        compact_ivf_index(spark, base, flat)
        cow.set_current(spark, root, flat, expected=base)
        vac = cow.vacuum_index(
            spark, root, ["lists", "centroids"], min_age_seconds=0.0
        )
        if sorted(vac["removed"]) != sorted(
            os.path.basename(p) for p in epochs
        ):
            raise AssertionError(
                f"vacuum retired {vac['removed']}, expected exactly "
                f"{[os.path.basename(p) for p in epochs]}"
            )
        out = ivf_topk_indexed(
            spark,
            cow.get_current(spark, root),
            emb.where(F.col("vec_id") < 10),
            k=5,
            nprobe=4,
            vec_dim=64,
        )
        return out.localCheckpoint(eager=True)


def q199_related_items_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the related-items SERVING table
    (graph.build_related_items_state / merge_related_items_state —
    r10 verdict item #4: the one registered serving table still
    rebuilt from scratch): build the state over the basket history
    minus a 12.5% order stripe (l_orderkey % 8 = 0 — whole NEW
    baskets, the nightly order feed), MERGE the stripe as a delta
    batch (pair/item supports sum into exactly the batch's hash
    buckets; top-k recomputes for affected items only), and serve the
    top-k table. The oracle is O_Q188 VERBATIM, so the driver
    hash-verifies that delta-maintained serving equals the
    from-scratch q188 rebuild over the full history — floor crossings
    included (the state stores UNFLOORED pair supports; min_count
    applies at derivation)."""
    from data_lake_with_spark_spark.operators.graph import (
        build_related_items_state,
        merge_related_items_state,
        related_items_topk,
    )

    li = _t(spark, sf_dir, "lineitem")
    is_batch = F.col("l_orderkey") % 8 == 0
    with tempfile.TemporaryDirectory(
        prefix="dlws_ri_base_", ignore_cleanup_errors=True
    ) as base_p, tempfile.TemporaryDirectory(
        prefix="dlws_ri_merged_", ignore_cleanup_errors=True
    ) as out_p:
        build_related_items_state(
            li.where(~is_batch),
            base_p,
            basket_col="l_orderkey",
            item_col="l_partkey",
            k=5,
            min_count=2,
            n_buckets=32,
        )
        merge_related_items_state(
            spark,
            base_p,
            li.where(is_batch),
            out_p,
            basket_col="l_orderkey",
            item_col="l_partkey",
        )
        out = related_items_topk(spark, out_p)
        # pin before the state dirs vanish (the q102 pattern)
        return out.localCheckpoint(eager=True)


def q206_related_items_gdpr_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GDPR erasure on the related-items serving state
    (graph.delete_from_related_items_state — r11 verdict #2: the one
    serving surface that retained purged users' co-occurrence
    signal): build the state over the FULL basket history, tombstone
    a 10% order stripe (l_orderkey % 10 = 3 — a user-erasure batch,
    ids only: the incidence comes from the state's own ledger, so
    erasure works after the raw feed is deleted too), and serve the
    top-k table. The oracle is O_Q188 over the SURVIVING baskets, so
    the driver hash-verifies that ledger-driven delta subtraction —
    the exact inverse of the q199 merge through the shared
    _apply_ri_state_delta core — equals the from-scratch rebuild
    without the tombstoned baskets: pairs whose support drops below
    min_count disappear, items erased entirely vanish as both `item`
    and `other`, partners re-rank."""
    from data_lake_with_spark_spark.operators.graph import (
        build_related_items_state,
        delete_from_related_items_state,
        related_items_topk,
    )

    li = _t(spark, sf_dir, "lineitem")
    doomed = (
        li.where(F.col("l_orderkey") % 10 == 3)
        .select(F.col("l_orderkey").alias("basket"))
        .distinct()
    )
    with tempfile.TemporaryDirectory(
        prefix="dlws_ri_full_", ignore_cleanup_errors=True
    ) as base_p, tempfile.TemporaryDirectory(
        prefix="dlws_ri_erased_", ignore_cleanup_errors=True
    ) as out_p:
        build_related_items_state(
            li,
            base_p,
            basket_col="l_orderkey",
            item_col="l_partkey",
            k=5,
            min_count=2,
            n_buckets=32,
        )
        delete_from_related_items_state(spark, base_p, doomed, out_p)
        out = related_items_topk(spark, out_p)
        return out.localCheckpoint(eager=True)


# O_Q188 over the surviving baskets — the q206 pin: the erased
# state must serve exactly the rebuild WITHOUT the tombstoned stripe.
O_Q206 = O_Q188.replace(
    "FROM lineitem)",
    "FROM lineitem WHERE l_orderkey % 10 <> 3)",
    1,
)


def q207_streaming_related_items(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming related-items maintenance
    (streaming/events.related_items_maintenance_ingest — r11 verdict
    #7: the last serving table without a streaming maintenance twin):
    the basket history arrives as THREE parquet micro-batches of
    whole orders (disjoint l_orderkey stripes); batch 0 builds the
    state, batches 1–2 manifest-merge under the lifecycle root
    (pair/item supports sum into the batch's hash buckets, top-k
    recomputes for affected items only), set_current re-points LAST.
    The oracle is O_Q188 VERBATIM: a history streamed in as
    incremental epochs must serve bit-identically to the from-scratch
    q188 query over the union (batch-split invariance composed with
    the epoch lifecycle, co-occurrence side). Replay safety:
    at-least-once foreachBatch retries re-deliver whole batches,
    which the ingest verifies incidence-identical against the ledger
    and SKIPS (the merge itself raises on re-delivery — only the
    ingest can tell a retry from a source bug)."""
    from data_lake_with_spark_spark.operators.graph import (
        related_items_topk,
    )
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        related_items_maintenance_ingest,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"),
        F.col("l_partkey").alias("item"),
    )
    with tempfile.TemporaryDirectory(
        prefix="dlws_stream_ri_stage_", ignore_cleanup_errors=True
    ) as stage, tempfile.TemporaryDirectory(
        prefix="dlws_stream_ri_root_", ignore_cleanup_errors=True
    ) as root, tempfile.TemporaryDirectory(
        prefix="dlws_stream_ri_cp_", ignore_cleanup_errors=True
    ) as cp:
        # three deterministic batch files: whole orders per stripe
        # (disjoint basket ids — the stream-wide uniqueness contract)
        for part in range(3):
            li.where(F.col("basket") % 3 == part).coalesce(
                1
            ).write.mode("append").parquet(stage)
        stream = (
            spark.readStream.schema(li.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = related_items_maintenance_ingest(
            stream, root, k=5, min_count=2, n_buckets=32,
            checkpoint_dir=cp,
        )
        q.awaitTermination()
        out = related_items_topk(spark, cow.get_current(spark, root))
        # pin before the lifecycle root vanishes (the q102 pattern)
        return out.localCheckpoint(eager=True)


# --- IVFPQ: the composite index family (round 11b) -----------------
# DuckDB residual helper: (a - b) element-wise as a DOUBLE list —
# IEEE subtraction is exactly rounded, so both engines produce
# bit-identical residuals from identical inputs (the Spark twin is
# similarity._resid_col's zip_with).
_O_RESID = (
    "list_transform(generate_series(1, {dim}), i -> "
    "CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
)

# Full SQL rebuild of the IVFPQ pipeline (coarse assign → residuals →
# frozen codebooks from the offset-1 stripe → encode → probe →
# residual ADC): the oracle for every q200-family entry — persisted,
# merged, and deleted layouts must serve bit-identical to this
# from-scratch derivation.
O_Q200 = f"""
WITH m AS (
  SELECT GREATEST(1, COUNT(*) // 40) AS md FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings, m
  WHERE vec_id % m.md = 0),
asg AS (
  SELECT cent_id, vec_id, rv FROM (
    SELECT c.cent_id, e.vec_id,
           {_O_RESID.format(dim=_PQ_DIM, a='e.embedding', b='c.cv')} AS rv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_O_COS_EC} DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c)
  WHERE rn = 1),
subs AS (SELECT CAST(s AS BIGINT) AS subspace
         FROM UNNEST(generate_series(0, {_PQ_M - 1})) AS t(s)),
cb AS (
  SELECT subspace, CAST(vec_id AS BIGINT) AS code,
         rv[(subspace*{_PQ_W}+1):(subspace*{_PQ_W}+{_PQ_W})] AS cent_sub
  FROM asg, subs, m WHERE vec_id % m.md = 1),
ev AS (
  SELECT cent_id, vec_id, subspace,
         rv[(subspace*{_PQ_W}+1):(subspace*{_PQ_W}+{_PQ_W})] AS sub_v
  FROM asg, subs),
enc AS (
  SELECT cent_id, vec_id, subspace, code FROM (
    SELECT ev.cent_id, ev.vec_id, ev.subspace, cb.code,
           ROW_NUMBER() OVER (
             PARTITION BY ev.vec_id, ev.subspace
             ORDER BY ROUND({_O_L2SQ.format(a='ev.sub_v', b='cb.cent_sub')},
                            6) ASC, cb.code ASC) AS rn
    FROM ev JOIN cb USING (subspace)) WHERE rn = 1),
probes AS (
  SELECT cent_id, query_id, qrv FROM (
    SELECT c.cent_id, e.vec_id AS query_id,
           {_O_RESID.format(dim=_PQ_DIM, a='e.embedding', b='c.cv')} AS qrv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_O_COS_EC} DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
  WHERE rn <= 4),
qv AS (
  SELECT query_id, cent_id, subspace,
         qrv[(subspace*{_PQ_W}+1):(subspace*{_PQ_W}+{_PQ_W})] AS q_sub
  FROM probes, subs),
dtable AS (
  SELECT query_id, cent_id, subspace, code,
         CAST(ROUND({_O_L2SQ.format(a='qv.q_sub', b='cb.cent_sub')}, 6)
              AS DECIMAL(18,6)) AS dsub
  FROM qv JOIN cb USING (subspace)),
scored AS (
  SELECT t.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(dsub) AS DOUBLE) AS adc_dist
  FROM enc e JOIN dtable t
    ON e.cent_id = t.cent_id AND e.subspace = t.subspace
   AND e.code = t.code
  WHERE t.query_id != e.vec_id
  GROUP BY 1, 2)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 5
"""


def _ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Process-cached full-corpus persisted IVFPQ index (budget-40
    coarse centroids, m=8 residual codebooks from the offset-1
    stripe) — the build-once-serve-many shape q200/q202 exercise,
    mirroring the shared q140/q195 indexes."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivfpq_index,
    )

    # n_buckets=8 is oracle-fixture sizing: leaf-dir count is
    # n_buckets × n_cells (~8×40 here); production sizes buckets with
    # the corpus (build_ivfpq_index docstring) — the bucket count
    # never affects results, only maintenance granularity
    # vec_dim routes assignment through the Arrow argmax kernel —
    # bit-identical to the min_by kernel (test_ivfpq_arrow_assignment_parity)
    # and measured 33% faster on this build (MEASUREMENTS_r13 §11)
    def build(path: str) -> None:
        build_ivfpq_index(
            _t(spark, sf_dir, "embeddings"), path, dim=_PQ_DIM, m=_PQ_M,
            target_centroids=40, n_buckets=8, vec_dim=64,
        )

    return _cached_dir("dlws_ivfpq_full_", sf_dir, "codes", build)


def q200_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-ADC top-k from the persisted IVFPQ index
    (similarity.build_ivfpq_index / ivfpq_topk_indexed — the FAISS
    IndexIVFPQ shape, pruning × compression): the q113 IVF family
    prunes the scan to nprobe cells but reads full float vectors; the
    q195 PQ family reads 8 ints per vector but scans EVERY code
    partition; this index does both — coarse cells partition the
    codes, residuals (vec - cent_v) are PQ-encoded against frozen
    codebooks, and serving reads 8 ints per vector from nprobe/n_cells
    of the corpus. The oracle is a full SQL rebuild of the pipeline,
    so the driver hash-verifies the persisted layout end-to-end."""
    from data_lake_with_spark_spark.operators.similarity import (
        ivfpq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk_indexed(
        spark,
        _ivfpq_index(spark, sf_dir),
        emb.where(F.col("vec_id") < 10),
        k=5,
        nprobe=4,
    )


def q201_ivfpq_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVFPQ maintenance (similarity.merge_ivfpq_index):
    the q176/q196 upsert contract under the DOUBLY-frozen quantizer
    contract — build the index over the corpus minus a 20% delta,
    MERGE the delta against the carried (frozen) centroids AND
    codebooks, serve q200's config from the merged index. The oracle
    is O_Q200 VERBATIM: the merged cell/code layout must be
    indistinguishable from a from-scratch build over the full corpus
    with the same seed stripes. The delta excludes BOTH frozen-source
    stripes (merge_ivfpq_index raises on replacing either), so the
    carried quantizers equal the full-corpus seed sets the oracle
    derives."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk_indexed,
        merge_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    md = max(1, emb.count() // 40)
    is_delta = (
        (F.col("vec_id") % md != 0)
        & (F.col("vec_id") % md != 1)
        & (F.col("vec_id") % 5 == 0)
    )
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivfpq_base_", ignore_cleanup_errors=True
    ) as base_idx, tempfile.TemporaryDirectory(
        prefix="dlws_ivfpq_merged_", ignore_cleanup_errors=True
    ) as out_idx:
        build_ivfpq_index(
            emb.where(~is_delta), base_idx,
            dim=_PQ_DIM, m=_PQ_M, centroid_mod=md, n_buckets=8,
            vec_dim=64,
        )
        merge_ivfpq_index(
            spark, base_idx, emb.where(is_delta), out_idx, vec_dim=64
        )
        out = ivfpq_topk_indexed(
            spark, out_idx, emb.where(F.col("vec_id") < 10), k=5, nprobe=4
        )
        # pin before the index dirs vanish (the q102 pattern)
        return out.localCheckpoint(eager=True)


def q202_ivfpq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure reaching the IVFPQ serving index
    (similarity.delete_from_ivfpq_index): drop the q177/q197 GDPR
    stripe (vec_id % 9 = 4) from the shared persisted IVFPQ index and
    serve q200's config from the post-delete layout. Both frozen
    components stay (the FAISS remove_ids contract), which the oracle
    mirrors exactly: O_Q200 with the encode CTE restricted to
    surviving vectors while the centroid and codebook CTEs stay
    unfiltered — serve-after-delete is hash-gated identical to a
    rebuild without the ids over the same seed sets."""
    from data_lake_with_spark_spark.operators.similarity import (
        delete_from_ivfpq_index,
        ivfpq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivfpq_deleted_", ignore_cleanup_errors=True
    ) as del_idx:
        delete_from_ivfpq_index(
            spark,
            _ivfpq_index(spark, sf_dir),
            emb.where(F.col("vec_id") % 9 == 4).select("vec_id"),
            del_idx,
        )
        out = ivfpq_topk_indexed(
            spark, del_idx, emb.where(F.col("vec_id") < 10), k=5, nprobe=4
        )
        return out.localCheckpoint(eager=True)


def q203_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ serving as deployed (similarity.ivfpq_topk_rerank_indexed
    — FAISS IndexIVFPQ + IndexRefine): residual-ADC shortlist of 50
    from the probed cells' persisted codes, exact squared-L2 re-rank
    of only the shortlisted vectors fetched from the source table —
    the full production read path (pruned scan of 8 ints per vector →
    n_queries×50 point lookups), the q119 pattern composed onto the
    composite index. The oracle extends O_Q200's scored CTE with the
    shortlist + exact re-rank tail (the O_Q119 derivation)."""
    from data_lake_with_spark_spark.operators.similarity import (
        ivfpq_topk_rerank_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk_rerank_indexed(
        spark,
        _ivfpq_index(spark, sf_dir),
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        shortlist=50,
        nprobe=4,
    )


# O_Q203: O_Q200's pipeline through `scored`, then the O_Q119 tail —
# ADC shortlist of 50, exact squared-L2 re-rank to top-5.
O_Q203 = O_Q200.replace(
    """SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 5""",
    f"""SELECT query_id, neighbor_id, l2_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, l2_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY l2_dist ASC, neighbor_id ASC) AS rank
  FROM (
    SELECT s.query_id, s.neighbor_id,
           ROUND({_O_L2SQ.format(a='c.embedding', b='qe.embedding')}, 6)
             AS l2_dist
    FROM (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist ASC, neighbor_id ASC)
                 AS rn
        FROM scored)
      WHERE rn <= 50) s
    JOIN embeddings c ON c.vec_id = s.neighbor_id
    JOIN embeddings qe ON qe.vec_id = s.query_id))
WHERE rank <= 5""",
)
if O_Q203 == O_Q200:  # pragma: no cover
    raise AssertionError("O_Q203 anchor text missing from O_Q200")


def q204_streaming_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming serving-index maintenance
    (streaming/events.index_maintenance_ingest): the documents corpus
    arrives as THREE file-source micro-batches
    (maxFilesPerTrigger=1); each batch becomes one manifest epoch of
    the BM25 index under a stable lifecycle root — batch 0 builds,
    batches 1–2 manifest-merge against cow.get_current, set_current
    re-points LAST. After the stream drains, q140's query config is
    served from the pointer THROUGH the two-epoch manifest chain. The
    oracle is O_Q140 VERBATIM: a corpus streamed in as incremental
    epochs must serve bit-identically to the from-scratch batch index
    (batch-split invariance — the q171 upsert contract composed with
    the streaming trigger and the epoch lifecycle). Replay safety:
    foreachBatch is at-least-once, and upsert-merge makes a replayed
    batch a no-op on the resolved view."""
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        DOCUMENT_STREAM_SCHEMA,
        index_maintenance_ingest,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 200 != 0).select(
        "doc_id", "text", "lang", "source"
    )
    with tempfile.TemporaryDirectory(
        prefix="dlws_stream_idx_stage_", ignore_cleanup_errors=True
    ) as stage, tempfile.TemporaryDirectory(
        prefix="dlws_stream_idx_root_", ignore_cleanup_errors=True
    ) as root, tempfile.TemporaryDirectory(
        prefix="dlws_stream_idx_cp_", ignore_cleanup_errors=True
    ) as cp:
        # three deterministic batch files: one file per doc_id stripe
        # (disjoint stripes — final index is order-invariant)
        for part in range(3):
            corpus.where(F.col("doc_id") % 3 == part).coalesce(
                1
            ).write.mode("append").json(stage)
        stream = (
            spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(stage)
        )
        q = index_maintenance_ingest(stream, root, checkpoint_dir=cp)
        q.awaitTermination()
        qs = d.where(F.col("doc_id") % 200 == 0).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        out = text.bm25_topk_indexed(
            spark, cow.get_current(spark, root), qs, k=5
        )
        # pin before the index root vanishes (the q102 pattern)
        return out.localCheckpoint(eager=True)


def q205_streaming_vector_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming VECTOR-index maintenance
    (streaming/events.vector_index_maintenance_ingest — the dense
    twin of q204): the embedding corpus arrives as three parquet
    file-source micro-batches; batch 0 is the BOOTSTRAP load carrying
    the entire ``vec_id % md == 0`` centroid stripe (the production
    shape: the coarse quantizer trains on the initial load and stays
    FROZEN — later batches carry only non-stripe ids, and the merge
    would raise if one replaced a centroid source), batches 1–2
    manifest-merge under the lifecycle root, set_current re-points
    last. Serving q113's exact config from the pointer through the
    two-epoch manifest chain is oracled by O_Q113 VERBATIM: a corpus
    streamed in as incremental epochs must serve bit-identically to
    the from-scratch budget-40 IVF build (batch-split invariance,
    dense side). Staged as PARQUET, not JSON — float values must
    round-trip bit-exactly or the oracle's cast-to-double cosines
    diverge in ulps."""
    from data_lake_with_spark_spark.operators.similarity import (
        ivf_topk_indexed,
    )
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        vector_index_maintenance_ingest,
    )

    emb = _t(spark, sf_dir, "embeddings")
    md = max(1, emb.count() // 40)
    corpus = emb.select("vec_id", "embedding")
    with tempfile.TemporaryDirectory(
        prefix="dlws_stream_vidx_stage_", ignore_cleanup_errors=True
    ) as stage, tempfile.TemporaryDirectory(
        prefix="dlws_stream_vidx_root_", ignore_cleanup_errors=True
    ) as root, tempfile.TemporaryDirectory(
        prefix="dlws_stream_vidx_cp_", ignore_cleanup_errors=True
    ) as cp:
        is_stripe = F.col("vec_id") % md == 0
        batches = [
            corpus.where(is_stripe | (F.col("vec_id") % 3 == 0)),
            corpus.where(~is_stripe & (F.col("vec_id") % 3 == 1)),
            corpus.where(~is_stripe & (F.col("vec_id") % 3 == 2)),
        ]
        # the file source orders batches by mtime, and batch 0 MUST
        # be the bootstrap (it carries the centroid stripe) — stamp
        # explicit ascending mtimes so a same-millisecond write can
        # never deliver a non-stripe batch first (review finding)
        stamped: set[str] = set()
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("append").parquet(stage)
            for name in sorted(os.listdir(stage)):
                p = os.path.join(stage, name)
                if name.endswith(".parquet") and p not in stamped:
                    os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                    stamped.add(p)
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = vector_index_maintenance_ingest(
            stream, root, centroid_mod=md, vec_dim=64, checkpoint_dir=cp
        )
        q.awaitTermination()
        out = ivf_topk_indexed(
            spark,
            cow.get_current(spark, root),
            emb.where(F.col("vec_id") < 10),
            k=5,
            nprobe=4,
            vec_dim=64,
        )
        return out.localCheckpoint(eager=True)


# O_Q202: O_Q200 with the ENCODE restricted to surviving vectors while
# the centroid/codebook CTEs stay unfiltered — the SQL mirror of
# doubly-frozen deletion (the O_Q197 derivation, IVFPQ side). The
# guard catches a silent no-op anchor miss (the q70-typo lesson).
O_Q202 = O_Q200.replace(
    "FROM ev JOIN cb USING (subspace)) WHERE rn = 1)",
    "FROM ev JOIN cb USING (subspace)) WHERE rn = 1 AND vec_id % 9 <> 4)",
)
if O_Q202 == O_Q200:  # pragma: no cover
    raise AssertionError("O_Q202 anchor text missing from O_Q200")


def q208_ivfpq_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer RETRAIN on the IVFPQ lifecycle root
    (similarity.retrain_ivfpq_index — r11 verdict #3: the last
    index-lifecycle gap; all four families freeze their quantizers at
    build time, so after churn the only recovery was a cold
    out-of-band rebuild): build the full-corpus index as epoch 0,
    manifest-DELETE the GDPR stripe (vec_id % 9 = 4 — drift: the
    frozen quantizer still anchors on the full corpus's seed
    stripes), then RETRAIN — both seed stripes re-derive from the
    SURVIVING id set (target_centroids=40 re-computes the mod from
    the surviving count), residuals re-center, codes re-encode, and
    the result publishes as one new epoch with the pointer re-pointed
    LAST; the superseded chain vacuums. The oracle is O_Q200 with
    EVERY embeddings scan restricted to the survivors — the whole
    pipeline (budget mod, centroid stripe, codebook stripe, encode,
    probes) re-derived from the current corpus, i.e. a from-scratch
    rebuild with the NEW quantizer, which the retrained epoch must
    serve bit-for-bit. The id-set guard (erasure survives the
    retrain) and merge-after-retrain are gated in
    tests/test_retrain_index.py; recall@5 before/after is MEASURED on
    the drifted probe (tools/pq_ri_probe.py, MEASUREMENTS_r12)."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_topk_indexed,
        retrain_ivfpq_index,
    )
    from data_lake_with_spark_spark.sources import cow

    emb = _t(spark, sf_dir, "embeddings")
    survivors = emb.where(F.col("vec_id") % 9 != 4)
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivfpq_retrain_root_", ignore_cleanup_errors=True
    ) as root:
        e0 = cow.new_epoch_path(spark, root)
        build_ivfpq_index(
            emb, e0, dim=_PQ_DIM, m=_PQ_M, target_centroids=40,
            n_buckets=8, vec_dim=64,
        )
        cow.set_current(spark, root, e0, expected=None)
        e1 = cow.new_epoch_path(spark, root, label="gdpr")
        base = cow.get_current(spark, root)
        delete_from_ivfpq_index(
            spark,
            base,
            emb.where(F.col("vec_id") % 9 == 4).select("vec_id"),
            e1,
        )
        cow.set_current(spark, root, e1, expected=base)
        retrain_ivfpq_index(
            spark, root, survivors, dim=_PQ_DIM, m=_PQ_M,
            target_centroids=40, vec_dim=64,
        )
        out = ivfpq_topk_indexed(
            spark,
            cow.get_current(spark, root),
            survivors.where(F.col("vec_id") < 10),
            k=5,
            nprobe=4,
        )
        return out.localCheckpoint(eager=True)


# O_Q208: O_Q200 with EVERY embeddings scan restricted to the
# survivors — budget mod, seed stripes, encode, and probes all
# re-derive from the current corpus (the retrained-quantizer rebuild).
O_Q208 = O_Q200.replace(
    "FROM embeddings",
    "FROM (SELECT * FROM embeddings WHERE vec_id % 9 <> 4)",
)
if O_Q208 == O_Q200:  # pragma: no cover
    raise AssertionError("O_Q208 anchor text missing from O_Q200")


def q209_ivfpq_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-staleness report (similarity.index_staleness_report
    — r12 verdict #2: q208 closed HOW to retrain; this is the
    WHEN-to-retrain signal, the cheap per-epoch report an operator
    alerts on instead of running a corpus-sized recall probe): cell
    occupancy (n_cells / dead_cells / occ envelope — exact integers)
    plus the ADC reconstruction error on the deterministic
    ``vec_id % 10 == 0`` sample stripe (each sampled vector's true
    residual vs the codebook entry its STORED code points at, 6-dp
    squared-L2 summed DECIMAL-exactly). The oracle re-derives the
    same numbers from O_Q200's CTE pipeline (assignment → codebooks
    → encode), so the driver hash-verifies that the report read off
    the persisted index equals the ground-truth derivation. Drift
    MOVEMENT (the metric rising under churn that degrades recall) is
    measured out-of-band: tools/pq_ri_probe.py --staleness,
    MEASUREMENTS_r13."""
    from data_lake_with_spark_spark.operators.similarity import (
        index_staleness_report,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return index_staleness_report(
        spark, _ivfpq_index(spark, sf_dir), emb, sample_mod=10
    )


# O_Q209: O_Q200's pipeline through `enc` (assignment, codebooks,
# stored codes), then occupancy + sampled ADC reconstruction error —
# the ground-truth derivation of the staleness report.
_O_Q200_ENC_PREFIX = O_Q200.partition("probes AS")[0]
if "enc AS" not in _O_Q200_ENC_PREFIX:  # pragma: no cover
    raise AssertionError("O_Q209 prefix anchor missing from O_Q200")
O_Q209 = _O_Q200_ENC_PREFIX + f"""occ AS (
  SELECT cent_id, COUNT(DISTINCT vec_id) AS occ FROM enc GROUP BY 1),
cellstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(CASE WHEN o.occ IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS dead_cells,
         CAST(MIN(o.occ) AS BIGINT) AS occ_min,
         CAST(MAX(o.occ) AS BIGINT) AS occ_max,
         CAST(SUM(COALESCE(o.occ, 0)) AS BIGINT) AS n_vecs
  FROM cents c LEFT JOIN occ o USING (cent_id)),
serr AS (
  SELECT ev.vec_id,
         CAST(ROUND({_O_L2SQ.format(a='ev.sub_v', b='cb.cent_sub')}, 6)
              AS DECIMAL(18,6)) AS e
  FROM ev
  JOIN enc ON enc.vec_id = ev.vec_id AND enc.subspace = ev.subspace
  JOIN cb ON cb.subspace = enc.subspace AND cb.code = enc.code
  WHERE ev.vec_id % 10 = 0),
errstats AS (
  SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_sampled,
         SUM(e) AS s FROM serr)
SELECT n_cells, dead_cells, occ_min, occ_max, n_vecs, n_sampled,
       CAST(s AS DOUBLE) AS recon_err_sum,
       CAST(s AS DOUBLE) / n_sampled AS mean_recon_err
FROM cellstats, errstats
"""


def q210_streaming_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance for the PRODUCTION serving family
    (streaming/events.ivfpq_index_maintenance_ingest — r12 verdict
    #3: BM25, IVF, and the related-items state had streaming twins;
    IVFPQ could only be maintained by batch merges): the embedding
    corpus arrives as three parquet micro-batches; batch 0 is the
    BOOTSTRAP carrying BOTH frozen-source stripes (centroid
    ``vec_id % md == 0`` AND codebook ``== 1`` — the q205 contract
    extended to the doubly-frozen composite), batches 1–2
    manifest-merge under the lifecycle root with CAS pointer commits,
    set_current re-points LAST. Serving q200's exact config from the
    pointer through the two-epoch manifest chain is oracled by O_Q200
    VERBATIM: a corpus streamed in as incremental epochs must serve
    bit-identically to the from-scratch batch build (batch-split
    invariance, composite side). Replay no-ops, fresh-stripe raises
    (both stripes), and retrain-under-ingest semantics are gated in
    tests/test_streaming.py."""
    from data_lake_with_spark_spark.operators.similarity import (
        ivfpq_topk_indexed,
    )
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        ivfpq_index_maintenance_ingest,
    )

    emb = _t(spark, sf_dir, "embeddings")
    md = max(1, emb.count() // 40)
    corpus = emb.select("vec_id", "embedding")
    with tempfile.TemporaryDirectory(
        prefix="dlws_stream_pqidx_stage_", ignore_cleanup_errors=True
    ) as stage, tempfile.TemporaryDirectory(
        prefix="dlws_stream_pqidx_root_", ignore_cleanup_errors=True
    ) as root, tempfile.TemporaryDirectory(
        prefix="dlws_stream_pqidx_cp_", ignore_cleanup_errors=True
    ) as cp:
        is_frozen = (F.col("vec_id") % md == 0) | (F.col("vec_id") % md == 1)
        batches = [
            corpus.where(is_frozen | (F.col("vec_id") % 3 == 0)),
            corpus.where(~is_frozen & (F.col("vec_id") % 3 == 1)),
            corpus.where(~is_frozen & (F.col("vec_id") % 3 == 2)),
        ]
        # explicit ascending mtimes: the bootstrap (both seed stripes)
        # must be the first delivered file (the q205 staging shape)
        stamped: set[str] = set()
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("append").parquet(stage)
            for name in sorted(os.listdir(stage)):
                p = os.path.join(stage, name)
                if name.endswith(".parquet") and p not in stamped:
                    os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                    stamped.add(p)
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = ivfpq_index_maintenance_ingest(
            stream, root, dim=_PQ_DIM, m=_PQ_M, centroid_mod=md,
            n_buckets=8, vec_dim=64, checkpoint_dir=cp,
        )
        q.awaitTermination()
        out = ivfpq_topk_indexed(
            spark,
            cow.get_current(spark, root),
            emb.where(F.col("vec_id") < 10),
            k=5,
            nprobe=4,
        )
        return out.localCheckpoint(eager=True)


def q211_pq_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-family staleness report (similarity.pq_staleness_report —
    the plain-PQ sibling of q209, so the when-to-retrain signal
    covers all three quantized families the way the retrain ops do):
    codebook UTILIZATION (n_codes vs dead_codes — frozen codebook
    entries no stored code references; churn drifting the encode
    distribution off parts of the codebook is PQ's staleness axis,
    k-means' empty-cluster signal read off the serving artifact) plus
    the sampled ADC reconstruction error (raw sub-vector vs the
    stored code's entry). Runs off the shared persisted PQ index
    (q118's target-40 config); the oracle re-derives both legs from
    the O_Q118 CTE pipeline."""
    from data_lake_with_spark_spark.operators.similarity import (
        pq_staleness_report,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return pq_staleness_report(
        spark, _pq_index(spark, sf_dir), emb, sample_mod=10
    )


O_Q211 = f"""
WITH {_O_PQ_BASE},
used AS (SELECT DISTINCT subspace, code FROM enc),
cbstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_codes,
         CAST(SUM(CASE WHEN u.code IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS dead_codes
  FROM cb LEFT JOIN used u
    ON u.subspace = cb.subspace AND u.code = cb.code),
vstats AS (
  SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs FROM enc),
serr AS (
  SELECT ev.vec_id,
         CAST(ROUND({{l2ec}}, 6) AS DECIMAL(18,6)) AS e
  FROM ev
  JOIN enc ON enc.vec_id = ev.vec_id AND enc.subspace = ev.subspace
  JOIN cb ON cb.subspace = enc.subspace AND cb.code = enc.code
  WHERE ev.vec_id % 10 = 0),
errstats AS (
  SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_sampled,
         SUM(e) AS s FROM serr)
SELECT n_codes, dead_codes, n_vecs, n_sampled,
       CAST(s AS DOUBLE) AS recon_err_sum,
       CAST(s AS DOUBLE) / n_sampled AS mean_recon_err
FROM cbstats, vstats, errstats
"""
O_Q211 = O_Q211.format(l2ec=_O_L2SQ.format(a="ev.sub_v", b="cb.cent_sub"))


def q212_ivf_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-family staleness report (similarity.ivf_staleness_report —
    SELF-CONTAINED: IVF lists store the full vectors, so the report
    needs no corpus argument): cell occupancy plus the mean squared
    residual norm |v - cent_v|² on the sample stripe — for IVF the
    residual norm IS the quantization error the frozen coarse
    quantizer imposes, so its rise against the build-time baseline is
    the retrain trigger. Built over the budget-40 IVF layout (q113's
    config); the oracle re-derives occupancy and residuals from
    O_Q113's assignment CTE."""
    from data_lake_with_spark_spark.operators.similarity import (
        build_ivf_index,
        ivf_staleness_report,
    )

    emb = _t(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(
        prefix="dlws_ivf_stale_", ignore_cleanup_errors=True
    ) as idx:
        build_ivf_index(emb, idx, target_centroids=40, vec_dim=64)
        out = ivf_staleness_report(spark, idx, sample_mod=10)
        return out.localCheckpoint(eager=True)


# O_Q212: O_Q113's assignment pipeline, then occupancy + sampled
# residual norms — the ground-truth derivation of the IVF report.
_O_Q113_ASSIGN_PREFIX = O_Q113.partition("probes AS")[0]
if "assigned AS" not in _O_Q113_ASSIGN_PREFIX:  # pragma: no cover
    raise AssertionError("O_Q212 prefix anchor missing from O_Q113")
O_Q212 = _O_Q113_ASSIGN_PREFIX + f"""occ AS (
  SELECT cent_id, COUNT(*) AS occ FROM assigned GROUP BY 1),
cellstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(CASE WHEN o.occ IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS dead_cells,
         CAST(MIN(o.occ) AS BIGINT) AS occ_min,
         CAST(MAX(o.occ) AS BIGINT) AS occ_max,
         CAST(SUM(COALESCE(o.occ, 0)) AS BIGINT) AS n_vecs
  FROM cents c LEFT JOIN occ o ON o.cent_id = c.cent_id),
serr AS (
  SELECT a.neighbor_id,
         CAST(ROUND({_O_L2SQ.format(a='a.cv2', b='c.cv')}, 6)
              AS DECIMAL(18,6)) AS e
  FROM assigned a JOIN cents c ON c.cent_id = a.cent_id
  WHERE a.neighbor_id % 10 = 0),
errstats AS (
  SELECT CAST(COUNT(DISTINCT neighbor_id) AS BIGINT) AS n_sampled,
         SUM(e) AS s FROM serr)
SELECT n_cells, dead_cells, occ_min, occ_max, n_vecs, n_sampled,
       CAST(s AS DOUBLE) AS resid_sum,
       CAST(s AS DOUBLE) / n_sampled AS mean_resid
FROM cellstats, errstats
"""


def q213_streaming_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance for the plain-PQ family
    (streaming/events.pq_index_maintenance_ingest — with q210 this
    closes r12 verdict #3 for BOTH named families): the embedding
    corpus arrives as three parquet micro-batches; batch 0 is the
    BOOTSTRAP carrying the ``vec_id % md == 0`` codebook seed stripe
    (PQ's one frozen quantizer trains on the initial load; an empty
    stripe raises pre-write), batches 1–2 encode against the carried
    codebooks and manifest-merge with CAS pointer commits. Serving
    q118's exact ADC config from the pointer through the two-epoch
    manifest chain is oracled by O_Q118 VERBATIM (batch-split
    invariance, compressed-flat-scan side). Replay no-ops and
    fresh-stripe raises are gated in tests/test_streaming.py."""
    from data_lake_with_spark_spark.operators.similarity import (
        pq_topk_indexed,
    )
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        pq_index_maintenance_ingest,
    )

    emb = _t(spark, sf_dir, "embeddings")
    md = max(1, emb.count() // 40)
    corpus = emb.select("vec_id", "embedding")
    with tempfile.TemporaryDirectory(
        prefix="dlws_stream_pq_stage_", ignore_cleanup_errors=True
    ) as stage, tempfile.TemporaryDirectory(
        prefix="dlws_stream_pq_root_", ignore_cleanup_errors=True
    ) as root, tempfile.TemporaryDirectory(
        prefix="dlws_stream_pq_cp_", ignore_cleanup_errors=True
    ) as cp:
        is_seed = F.col("vec_id") % md == 0
        batches = [
            corpus.where(is_seed | (F.col("vec_id") % 3 == 0)),
            corpus.where(~is_seed & (F.col("vec_id") % 3 == 1)),
            corpus.where(~is_seed & (F.col("vec_id") % 3 == 2)),
        ]
        stamped: set[str] = set()
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("append").parquet(stage)
            for name in sorted(os.listdir(stage)):
                p = os.path.join(stage, name)
                if name.endswith(".parquet") and p not in stamped:
                    os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                    stamped.add(p)
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = pq_index_maintenance_ingest(
            stream, root, dim=_PQ_DIM, m=_PQ_M, centroid_mod=md,
            n_buckets=8, checkpoint_dir=cp,
        )
        q.awaitTermination()
        out = pq_topk_indexed(
            spark,
            cow.get_current(spark, root),
            emb.where(F.col("vec_id") < 10),
            k=5,
        )
        return out.localCheckpoint(eager=True)


def q141_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage report (text.vocab_coverage): running-token
    coverage of the top-{5,20,100} most frequent types — computed with
    the DISTRIBUTED two-phase global rank (never a single-partition
    window; a web-scale vocab is billions of hapax-heavy types), a
    fixed top-max(ranks) survivor budget, and one exact-integer
    division per row."""
    d = _t(spark, sf_dir, "documents")
    return text.vocab_coverage(d, ranks=(5, 20, 100))


O_Q141 = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
ty AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
       FROM toks WHERE tok <> '' GROUP BY tok),
tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS total_types FROM ty),
rk AS (SELECT n_tok, ROW_NUMBER() OVER (ORDER BY n_tok DESC, tok) AS rank
       FROM ty),
ranks AS (SELECT CAST(top_r AS BIGINT) AS top_r
          FROM (VALUES (5), (20), (100)) v(top_r)),
cov AS (SELECT top_r, CAST(SUM(n_tok) AS BIGINT) AS covered_tokens
        FROM rk JOIN ranks ON rk.rank <= ranks.top_r GROUP BY top_r)
SELECT top_r, covered_tokens, total_tokens, total_types,
       covered_tokens / CAST(total_tokens AS DOUBLE) AS coverage
FROM cov CROSS JOIN tot
"""


def q142_content_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed delivery manifest (profile.content_manifest
    over sampling.shard_assignment): per training shard — row count,
    char volume, and sum/xor md5 digests. The reproducibility receipt
    a data delivery ships; re-run + diff detects byte drift without
    re-reading the previous corpus. Integer-only digests, exact by
    construction."""
    from data_lake_with_spark_spark.operators.profile import content_manifest
    from data_lake_with_spark_spark.operators.sampling import shard_assignment

    d = _t(spark, sf_dir, "documents")
    sh = shard_assignment(d, F.col("doc_id").cast("string"), 8)
    return content_manifest(
        sh, ["shard"], ["doc_id", "lang", "source", "n_chars", "text"]
    )


O_Q142 = """
WITH sh AS (
  SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 8 AS INT) AS shard,
         concat_ws(chr(31), CAST(doc_id AS VARCHAR), lang, source,
                   CAST(n_chars AS VARCHAR), text) AS repr
  FROM documents)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(length(repr)) AS BIGINT) AS n_chars,
       CAST(SUM(('0x' || substring(md5(repr), 1, 7))::BIGINT) AS BIGINT)
         AS digest_sum,
       CAST(BIT_XOR(('0x' || substring(md5(repr), 1, 15))::BIGINT) AS BIGINT)
         AS digest_xor
FROM sh GROUP BY shard
"""


def q143_slice_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing drift report (text.slice_drift): per source, the
    total-variation distance between the source's token distribution
    and the corpus's, over the top-10 corpus types + OTHER (capped
    support = bounded fold arrays = the 100 TB shape). Exact-integer
    counts, one division per probability, sorted-bucket-order float
    fold."""
    d = _t(spark, sf_dir, "documents")
    return text.slice_drift(d, stratum_col="source", top_k=10)


O_Q143 = """
WITH cs AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY source, tok),
ct AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM cs GROUP BY tok),
kept AS (
  SELECT tok FROM (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY ct DESC, tok) AS r FROM ct)
  WHERE r <= 10),
b AS (
  SELECT source,
         CASE WHEN kept.tok IS NOT NULL THEN cs.tok
              ELSE chr(1) || 'OTHER' END AS bucket,
         cs.c
  FROM cs LEFT JOIN kept ON cs.tok = kept.tok),
bs AS (SELECT source, bucket, CAST(SUM(c) AS BIGINT) AS c_s
       FROM b GROUP BY source, bucket),
bt AS (SELECT bucket, CAST(SUM(c_s) AS BIGINT) AS c_tot FROM bs GROUP BY bucket),
ns AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s FROM bs GROUP BY source),
n AS (SELECT CAST(SUM(c_tot) AS BIGINT) AS n_tot FROM bt),
terms AS (
  SELECT g.source, g.n_s, g.bucket,
         abs(COALESCE(bs.c_s, 0) / g.n_s - g.c_tot / n.n_tot) AS t
  FROM (SELECT ns.source, ns.n_s, bt.bucket, bt.c_tot
        FROM ns CROSS JOIN bt) g
  LEFT JOIN bs ON bs.source = g.source AND bs.bucket = g.bucket
  CROSS JOIN n)
SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
       0.5::DOUBLE * list_reduce(list(t ORDER BY bucket), (a, b) -> a + b)
         AS tvd
FROM terms GROUP BY source
"""


def q144_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic (skew.skew_report): top-20 heaviest
    join keys for events⋈customer by estimated output pairs
    (n_left × n_right = the partition one shuffle-join reducer
    materializes), each with its share of total join output — the
    report that decides AQE vs broadcast vs salted_join. One
    partial-agg groupBy per side + a keyed count join + bounded
    top-N."""
    from data_lake_with_spark_spark.operators.skew import skew_report

    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    return skew_report(e.select("user_id"), c, ["user_id"], top_n=20)


O_Q144 = """
WITH lc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_left
            FROM events GROUP BY user_id),
rc AS (SELECT c_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_right
       FROM customer GROUP BY c_custkey),
j AS (SELECT user_id,
             CAST(COALESCE(n_left, 0) AS BIGINT) AS n_left,
             CAST(COALESCE(n_right, 0) AS BIGINT) AS n_right
      FROM lc FULL OUTER JOIN rc USING (user_id)),
j2 AS (SELECT user_id, n_left, n_right,
              CAST(n_left * n_right AS BIGINT) AS est_pairs FROM j),
t AS (SELECT CAST(SUM(est_pairs) AS BIGINT) AS tot FROM j2)
SELECT user_id, n_left, n_right, est_pairs,
       CASE WHEN tot > 0 THEN est_pairs / tot ELSE 0.0 END AS pair_share
FROM j2 CROSS JOIN t
ORDER BY est_pairs DESC, user_id ASC LIMIT 20
"""


def q145_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (ranking.rrf_fuse): reciprocal-rank fusion of
    the BM25 lexical ranking (q140's exact config, k=20) and the
    brute-force cosine dense ranking over the doc-aligned embeddings
    (k=20) — the standard sparse+dense combiner for RAG / data
    selection. Fusion is top-k-list-sized work: two co-keyed joins
    over ≤ 20·|queries| rows; the corpora never shuffle again.

    The query set is CAPPED (doc_id < 5000 on top of the % 200
    sample): an eval/benchmark query set is fixed-size by nature, and
    a rate-derived one would drag the dense brute-force side
    quadratic at scale (queries × corpus both growing — the
    sampling-rate trap, SCALING_r06.md policy). With ≤ 25 queries the
    dense pass is one bounded broadcast against a linear corpus
    scan.

    The sparse side serves from the SHARED persisted postings index
    (_bm25_index "hybrid" — built once per process, reused by
    q151/q157): identical scores to the inline bm25_topk (shared
    scoring tail), but the corpus tokenizes once per corpus, not once
    per registry entry (r7 verdict #1)."""
    from data_lake_with_spark_spark.operators.ranking import rrf_fuse

    d = _t(spark, sf_dir, "documents")
    is_q = (F.col("doc_id") % 200 == 0) & (F.col("doc_id") < 5000)
    qs = d.where(is_q).select(F.col("doc_id").alias("query_id"), "text")
    sparse = text.bm25_topk_indexed(
        spark, _bm25_index(spark, sf_dir, "hybrid"), qs, k=20
    ).select("query_id", "doc_id", "rank")
    emb = _t(spark, sf_dir, "embeddings")
    is_qv = (F.col("vec_id") % 200 == 0) & (F.col("vec_id") < 5000)
    dense = similarity.brute_force_topk(
        emb.where(~is_qv),
        emb.where(is_qv),
        k=20,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([sparse, dense], k0=60, topk=10)


# Shared retrieval CTE prefix for the hybrid family (q145/q151/q157):
# BM25 (bm) + dense cosine (dn) top-20 lists under the capped query
# set. Downstream oracles CONCATENATE these named constants instead
# of string-splitting a sibling oracle's text (r7 advisor: the
# rstrip-paren surgery silently depended on exact formatting).
_O_RETRIEVAL_CTES = f"""
WITH ctf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE NOT (doc_id % 200 = 0 AND doc_id < 5000))
  WHERE tok <> '' GROUP BY doc_id, tok),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM ctf GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
                 SUM(dl) / COUNT(*) AS avgdl FROM dl),
qtok AS (
  SELECT DISTINCT doc_id AS query_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE doc_id % 200 = 0 AND doc_id < 5000)
  WHERE tok <> ''),
mt AS (SELECT c.* FROM ctf c
       JOIN (SELECT DISTINCT tok FROM qtok) v USING (tok)),
dfsub AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM mt GROUP BY tok),
contrib AS (
  SELECT q.query_id, m.doc_id, m.tok,
         ((m.tf * (1.2::DOUBLE + 1.0::DOUBLE))
          / (m.tf + 1.2::DOUBLE
             * ((1.0::DOUBLE - 0.75::DOUBLE)
                + 0.75::DOUBLE * (d.dl / s.avgdl))))
         * ((s.n_corpus - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) AS c
  FROM mt m JOIN dfsub f USING (tok) JOIN qtok q USING (tok)
       JOIN dl d ON d.doc_id = m.doc_id CROSS JOIN stats s),
sc AS (
  SELECT query_id, doc_id,
         list_reduce(list(c ORDER BY tok), (a, b) -> a + b) AS score
  FROM contrib GROUP BY query_id, doc_id),
bm AS (SELECT query_id, doc_id, rank FROM (
         SELECT query_id, doc_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, doc_id)
                     AS BIGINT) AS rank
         FROM sc) WHERE rank <= 20),
dq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id % 200 = 0 AND vec_id < 5000),
dc AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings
       WHERE NOT (vec_id % 200 = 0 AND vec_id < 5000)),
dscored AS (
  SELECT dq.query_id, dc.doc_id,
         {_O_COS.format(a='dc.cv', b='dq.qv')} AS cos
  FROM dc, dq WHERE dc.doc_id != dq.query_id),
dn AS (SELECT query_id, doc_id, rank FROM (
         SELECT query_id, doc_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, doc_id)
                     AS BIGINT) AS rank
         FROM dscored) WHERE rank <= 20)"""

_O_FUSED_CTE = """fused AS (
  SELECT COALESCE(b.query_id, d.query_id) AS query_id,
         COALESCE(b.doc_id, d.doc_id) AS doc_id,
         COALESCE(1.0::DOUBLE / (60.0::DOUBLE + b.rank), 0.0::DOUBLE)
           + COALESCE(1.0::DOUBLE / (60.0::DOUBLE + d.rank), 0.0::DOUBLE)
           AS rrf_score
  FROM bm b FULL OUTER JOIN dn d
       ON b.query_id = d.query_id AND b.doc_id = d.doc_id)"""

O_Q145 = _O_RETRIEVAL_CTES + ",\n" + _O_FUSED_CTE + """
SELECT query_id, doc_id, rrf_score, rank FROM (
  SELECT query_id, doc_id, rrf_score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rrf_score DESC, doc_id)
              AS BIGINT) AS rank
  FROM fused) WHERE rank <= 10
"""


# q167's oracle shares the retrieval CTEs (defined above q145)
O_Q167 = _O_RETRIEVAL_CTES + """,
run AS (SELECT query_id, doc_id, rank FROM bm WHERE rank <= 10),
qr AS (SELECT DISTINCT query_id, doc_id FROM dn WHERE rank <= 3),
rel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
        FROM qr GROUP BY query_id),
h AS (SELECT r.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
             CAST(MIN(r.rank) AS BIGINT) AS first_hit
      FROM run r JOIN qr USING (query_id, doc_id) GROUP BY r.query_id)
SELECT rel.query_id, n_rel,
       CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(n_hits, 0) / CAST(n_rel AS DOUBLE) AS recall_at_k,
       COALESCE(1.0::DOUBLE / first_hit, 0.0::DOUBLE) AS reciprocal_rank
FROM rel LEFT JOIN h ON h.query_id = rel.query_id
"""




def q146_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by the sorted-neighborhood method
    (dedup.sorted_neighborhood_pairs): customers sorted by name via
    the distributed two-phase global rank, each compared to its 3
    sort-successors, kept when Levenshtein(name) <= 2 — candidate
    count is exactly 3N regardless of key skew (the linear-work
    alternative to quadratic blocking)."""
    c = _t(spark, sf_dir, "customer")
    return dedup.sorted_neighborhood_pairs(
        c, id_col="c_custkey", key_col="c_name", window=3, max_dist=2
    )


O_Q146 = """
WITH r AS (
  SELECT c_custkey AS id, c_name AS key,
         CAST(ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS BIGINT) AS rn
  FROM customer),
p AS (
  SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b
  FROM r a
  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS o) off
  JOIN r b ON b.rn = a.rn + off.o)
SELECT id_a, id_b, key_a, key_b,
       CAST(levenshtein(key_a, key_b) AS INTEGER) AS dist
FROM p
WHERE abs(length(key_a) - length(key_b)) <= 2
  AND levenshtein(key_a, key_b) <= 2
"""


def q147_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier eval report (profile.classifier_eval): exact
    ROC-AUC (Mann-Whitney rank-sum, midrank ties, distributed
    two-phase rank) + 10-bin equal-width calibration table for the
    q124 quality classifier scored against the lang=='en' weak label
    — the gate a scorer passes before it filters a corpus."""
    from data_lake_with_spark_spark.operators.profile import classifier_eval

    d = _t(spark, sf_dir, "documents")
    scored = text.quality_classifier(d).withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    return classifier_eval(
        scored, score_col="quality_z", label_col="is_en",
        id_col="doc_id", n_bins=10,
    )


O_Q147 = f"""
WITH t AS (
  SELECT doc_id, lang,
         string_split_regex(trim(text), '\\s+') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS digits,
         length(text) AS chars
  FROM documents),
f AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> list_contains([{_O_STOPLIST}], x)))
                   / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS x1,
         CASE WHEN len(toks) > 0
              THEN nonspace / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS x2,
         CASE WHEN chars > 0
              THEN digits / CAST(chars AS DOUBLE) ELSE 0.0 END AS x3
  FROM t),
scored AS (
  SELECT doc_id, (lang = 'en') AS y,
         -1.0 + 6.0 * x1 + -0.25 * x2 + -8.0 * x3 AS s
  FROM f),
rn AS (SELECT s, y, doc_id,
              CAST(ROW_NUMBER() OVER (ORDER BY s, doc_id) AS BIGINT) AS rn
       FROM scored),
g AS (SELECT s, MIN(rn) AS minrn, CAST(COUNT(*) AS BIGINT) AS ties,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM rn GROUP BY s),
rs AS (SELECT SUM(CAST(pos AS DOUBLE) * (minrn + (ties - 1) / 2.0)) AS rs
       FROM g),
tot AS (SELECT CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(s) AS lo, MAX(s) AS hi
        FROM scored),
aucr AS (
  SELECT p, n, lo, hi,
         CASE WHEN p > 0 AND n - p > 0
              THEN (rs - CAST(p AS DOUBLE) * CAST(p + 1 AS DOUBLE) / 2.0)
                   / CAST(p * (n - p) AS DOUBLE)
         END AS auc
  FROM tot CROSS JOIN rs),
binned AS (
  SELECT CASE WHEN a.hi - a.lo > 0
              THEN CAST(LEAST(9, FLOOR((sc.s - a.lo) / (a.hi - a.lo) * 10))
                        AS INTEGER)
              ELSE 0 END AS bin,
         sc.y, a.lo, a.hi, a.auc
  FROM scored sc CROSS JOIN aucr a)
SELECT bin,
       lo + CAST(bin AS DOUBLE) * (hi - lo) / 10.0 AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       SUM(CASE WHEN y THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
         AS pos_rate,
       auc
FROM binned GROUP BY bin, lo, hi, auc
"""


def q148_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (events_analytics.attribute_conversions):
    each purchase credited to the same user's most recent click within
    30 minutes — one per-user window pass carrying the touch candidate
    as a zero-padded (epoch_micros, event_id) string MAX, no
    self-join; unattributed conversions emit NULLs, not drops."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        attribute_conversions,
    )

    e = _t(spark, sf_dir, "events")
    return attribute_conversions(
        e, conversion_type="purchase", touch_type="click", max_gap_s=1800
    )


O_Q148 = """
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'click'
              THEN lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':'
                   || lpad(CAST(event_id AS VARCHAR), 20, '0')
         END AS tk
  FROM events),
a AS (
  SELECT *,
         MAX(tk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS lt
  FROM e),
conv AS (
  SELECT event_id AS conversion_id, user_id,
         epoch_us(ts) - TRY_CAST(split_part(lt, ':', 1) AS BIGINT) AS gap,
         TRY_CAST(split_part(lt, ':', 2) AS BIGINT) AS tid
  FROM a WHERE event_type = 'purchase')
SELECT conversion_id, user_id,
       CASE WHEN gap <= 1800000000 THEN tid END AS touch_id,
       CASE WHEN gap <= 1800000000 THEN gap END AS gap_us
FROM conv
"""


def q149_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negative sampling
    (similarity.negative_sampling): 4 deterministic other-label
    negatives per anchor from the anchor's md5 hash bucket, ranked by
    a pair hash. Fixed-BUDGET bucket count (max(1, n // 64)) keeps
    the candidate space O(N · 64) — linear at any corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.negative_sampling(emb, k=4, target_bucket=64)


O_Q149 = """
WITH nb AS (SELECT GREATEST(1, COUNT(*) // 64) AS nb FROM embeddings),
b AS (
  SELECT vec_id, label,
         CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
              % nb AS INT) AS bk
  FROM embeddings CROSS JOIN nb),
p AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id, c.label AS neg_label,
         md5(CAST(a.vec_id AS VARCHAR) || ':' || CAST(c.vec_id AS VARCHAR))
           AS h
  FROM b a JOIN b c ON a.bk = c.bk AND c.label <> a.label)
SELECT anchor_id, neg_id, neg_label, neg_rank FROM (
  SELECT anchor_id, neg_id, neg_label,
         CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY h, neg_id) AS BIGINT) AS neg_rank
  FROM p) WHERE neg_rank <= 4
"""


def q150_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset composition under a token budget
    (sampling.token_budget_fill): per source, take documents in
    n_chars-priority order until 800 cumulative tokens — the step
    that turns per-domain token quotas into a concrete selection.
    Output is BUDGET-bounded per group at any corpus size; one
    partitioned window, integer arithmetic only."""
    from data_lake_with_spark_spark.operators.sampling import token_budget_fill

    d = _t(spark, sf_dir, "documents")
    return token_budget_fill(d, budget_tokens=800, group_col="source")


O_Q150 = """
WITH t AS (
  SELECT doc_id, source, n_chars,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents),
w AS (
  SELECT doc_id AS id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id)
              AS BIGINT) AS cum_tokens,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id)
              AS BIGINT) AS fill_rank
  FROM t)
SELECT id, source, n_tokens, cum_tokens, fill_rank
FROM w WHERE cum_tokens <= 800
"""


def q151_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-agreement QA (ranking.rank_overlap): per-query
    set sizes, intersection and Jaccard between the sparse (BM25)
    and dense (cosine) top-20 lists of the q145 hybrid config — says
    whether the two rankers are redundant or complementary BEFORE
    paying for fusion. Everything is top-k-list-sized; the sparse
    list serves from the SHARED persisted postings index (same index
    dir as q145/q157 — one postings build per process, r7 verdict
    #1)."""
    from data_lake_with_spark_spark.operators.ranking import rank_overlap

    d = _t(spark, sf_dir, "documents")
    is_q = (F.col("doc_id") % 200 == 0) & (F.col("doc_id") < 5000)
    qs = d.where(is_q).select(F.col("doc_id").alias("query_id"), "text")
    sparse = text.bm25_topk_indexed(
        spark, _bm25_index(spark, sf_dir, "hybrid"), qs, k=20
    ).select("query_id", "doc_id")
    emb = _t(spark, sf_dir, "embeddings")
    is_qv = (F.col("vec_id") % 200 == 0) & (F.col("vec_id") < 5000)
    dense = similarity.brute_force_topk(
        emb.where(~is_qv), emb.where(is_qv), k=20
    ).select("query_id", F.col("neighbor_id").alias("doc_id"))
    return rank_overlap(sparse, dense)


# Reuses the shared ranking CTEs verbatim (same retrieval config);
# the agreement report replaces the fusion.
O_Q151 = _O_RETRIEVAL_CTES + """,
ca AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_a FROM bm
  GROUP BY query_id),
cb AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_b FROM dn
  GROUP BY query_id),
cm AS (
  SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM bm b JOIN dn d ON b.query_id = d.query_id AND b.doc_id = d.doc_id
  GROUP BY b.query_id),
rep AS (
  SELECT query_id,
         CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
         CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
         CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common
  FROM ca FULL OUTER JOIN cb USING (query_id)
          LEFT JOIN cm USING (query_id))
SELECT query_id, n_a, n_b, n_common,
       CASE WHEN n_a + n_b - n_common > 0
            THEN n_common / CAST(n_a + n_b - n_common AS DOUBLE)
            ELSE 0.0 END AS jaccard
FROM rep
"""


def q152_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join with tolerance (operators/asof.py,
    pandas merge_asof parity): each click matched to the user's
    CLOSEST purchase in either time direction within 2 hours,
    backward winning exact ties; out-of-tolerance clicks keep NULL
    payload (how='left'). Same union-sort formulation as q44 — one
    shuffle; nearest adds a second window over the SAME exchange."""
    from data_lake_with_spark_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = windows.latest_per_key(
        e.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        ),
        ["p_user", "p_ts"],
        [F.col("purchase_id").desc()],
    )
    return asof_join(
        clicks,
        purchases,
        ["user_id"],
        ["p_user"],
        "ts",
        "p_ts",
        right_cols=["purchase_id", "purchase_value"],
        how="left",
        direction="nearest",
        tolerance_s=7200,
    )


O_Q152 = """
WITH clicks AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'),
purchases AS (
  SELECT event_id AS purchase_id, user_id AS p_user,
         CAST(ts AS TIMESTAMP) AS p_ts, value AS purchase_value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
  WHERE rn = 1),
bwd AS (
  SELECT c.event_id, p.purchase_id, p.purchase_value,
         epoch_us(c.ts) - epoch_us(p.p_ts) AS gap_us
  FROM clicks c ASOF LEFT JOIN purchases p
    ON c.user_id = p.p_user AND c.ts >= p.p_ts),
fwd AS (
  SELECT c.event_id, p.purchase_id, p.purchase_value,
         epoch_us(p.p_ts) - epoch_us(c.ts) AS gap_us
  FROM clicks c ASOF LEFT JOIN purchases p
    ON c.user_id = p.p_user AND c.ts <= p.p_ts),
tol AS (
  SELECT c.event_id, c.user_id, c.ts,
         CASE WHEN b.gap_us <= 7200000000 THEN b.purchase_id END AS b_id,
         CASE WHEN b.gap_us <= 7200000000 THEN b.purchase_value END AS b_val,
         CASE WHEN b.gap_us <= 7200000000 THEN b.gap_us END AS b_gap,
         CASE WHEN f.gap_us <= 7200000000 THEN f.purchase_id END AS f_id,
         CASE WHEN f.gap_us <= 7200000000 THEN f.purchase_value END AS f_val,
         CASE WHEN f.gap_us <= 7200000000 THEN f.gap_us END AS f_gap
  FROM clicks c
  JOIN bwd b ON b.event_id = c.event_id
  JOIN fwd f ON f.event_id = c.event_id)
SELECT event_id, user_id, ts,
       CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_gap <= f_gap)
            THEN b_id ELSE f_id END AS purchase_id,
       CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR b_gap <= f_gap)
            THEN b_val ELSE f_val END AS purchase_value
FROM tol
"""


def q153_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median document length per language
    (profile.weighted_median): "half the TOKENS live in documents
    shorter than X chars" — the corpus-shape number a doc-count
    median hides. Exact integer arithmetic (2·cum >= total, no
    halving division); two keyed exchanges, no global sort."""
    from data_lake_with_spark_spark.operators.profile import weighted_median

    d = _t(spark, sf_dir, "documents").withColumn(
        "wt", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    return weighted_median(
        d, group_col="lang", value_col="n_chars",
        weight_col="wt", id_col="doc_id",
    )


O_Q153 = """
WITH t AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS wt
  FROM documents),
c AS (
  SELECT lang, n_chars AS val, wt,
         SUM(wt) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS cum
  FROM t),
tot AS (SELECT lang, CAST(SUM(wt) AS BIGINT) AS total_weight
        FROM t GROUP BY lang)
SELECT lang, CAST(MIN(val) AS BIGINT) AS weighted_median, total_weight
FROM c JOIN tot USING (lang)
WHERE cum * 2 >= total_weight
GROUP BY lang, total_weight
"""


def q154_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue trend (profile.grouped_linear_trend):
    OLS slope/intercept of order totalprice against order-date day
    index, per priority band — segment drift detection in ONE
    aggregation pass. The five sufficient statistics aggregate
    exactly (int/decimal sums); only the closed-form scalar math is
    IEEE, in pinned order."""
    from data_lake_with_spark_spark.operators.profile import (
        grouped_linear_trend,
    )

    o = _t(spark, sf_dir, "orders")
    return grouped_linear_trend(
        o,
        group_col="o_orderpriority",
        x=F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")),
        y=F.col("o_totalprice"),
    )


O_Q154 = """
WITH b AS (
  SELECT o_orderpriority AS grp,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS x,
         CAST(o_totalprice AS DECIMAL(18,4)) AS y
  FROM orders),
agg AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx,
         SUM(y) AS sy,
         SUM(CAST(x AS DECIMAL(10,0)) * y) AS sxy,
         SUM(x * x) AS sxx
  FROM b GROUP BY grp),
d AS (
  SELECT grp, n,
         CAST(n AS DOUBLE) AS n_d, CAST(sx AS DOUBLE) AS sx_d,
         CAST(CAST(sy * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sy_d,
         CAST(CAST(sxy * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sxy_d,
         CAST(sxx AS DOUBLE) AS sxx_d
  FROM agg)
SELECT grp AS o_orderpriority, n,
       CASE WHEN n_d * sxx_d - sx_d * sx_d <> 0
            THEN (n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d)
       END AS slope,
       CASE WHEN n_d * sxx_d - sx_d * sx_d <> 0
            THEN (sy_d - ((n_d * sxy_d - sx_d * sy_d)
                          / (n_d * sxx_d - sx_d * sx_d)) * sx_d) / n_d
       END AS intercept
FROM d
"""


def q155_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution
    (events_analytics.multitouch_attribution): each purchase's credit
    split equally over the user's clicks in the 30-minute lookback —
    counted with a RANGE-frame window over exact epoch microseconds
    (no self-join, no interval explosion, one user-key exchange); the
    last-touch q148's position-agnostic counterpart."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        multitouch_attribution,
    )

    e = _t(spark, sf_dir, "events")
    return multitouch_attribution(
        e, conversion_type="purchase", touch_type="click", window_s=1800
    )


O_Q155 = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
a AS (
  SELECT *,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY tus
                 RANGE BETWEEN 1800000000 PRECEDING AND 1 PRECEDING)
           AS n
  FROM e)
SELECT event_id AS conversion_id, user_id,
       CAST(n AS BIGINT) AS n_touches,
       CASE WHEN n > 0 THEN 1.0 / n END AS credit
FROM a WHERE event_type = 'purchase'
"""


def q156_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter-funnel survival report (text.filter_funnel):
    the ordered Gopher-style cut table — min tokens → stopword floor
    → digit ceiling → classifier margin — each stage counting docs
    surviving ALL filters so far, in ONE partial-aggregable pass over
    the q124 classifier features."""
    d = _t(spark, sf_dir, "documents")
    scored = text.quality_classifier(d)
    return text.filter_funnel(
        scored,
        [
            ("min_tokens", F.col("n_tokens") >= 20),
            ("stopword_floor", F.col("stopword_ratio") >= 0.05),
            ("digit_ceiling", F.col("digit_ratio") <= 0.2),
            ("classifier_margin", F.col("quality_z") > 0.0),
        ],
    )


O_Q156 = f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS digits,
         length(text) AS chars
  FROM documents),
f AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> list_contains([{_O_STOPLIST}], x)))
                   / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS x1,
         CASE WHEN len(toks) > 0
              THEN nonspace / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS x2,
         CASE WHEN chars > 0
              THEN digits / CAST(chars AS DOUBLE) ELSE 0.0 END AS x3
  FROM t),
s AS (
  SELECT n_tokens >= 20 AS c1,
         x1 >= 0.05 AS c2,
         x3 <= 0.2 AS c3,
         (-1.0 + 6.0 * x1 + -0.25 * x2 + -8.0 * x3) > 0.0 AS c4
  FROM f),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(COUNT(CASE WHEN c1 THEN 1 END) AS BIGINT) AS n1,
         CAST(COUNT(CASE WHEN c1 AND c2 THEN 1 END) AS BIGINT) AS n2,
         CAST(COUNT(CASE WHEN c1 AND c2 AND c3 THEN 1 END) AS BIGINT) AS n3,
         CAST(COUNT(CASE WHEN c1 AND c2 AND c3 AND c4 THEN 1 END)
              AS BIGINT) AS n4
  FROM s),
st AS (SELECT * FROM (VALUES
  (1, 'min_tokens'), (2, 'stopword_floor'),
  (3, 'digit_ceiling'), (4, 'classifier_margin')) v(stage, filter_name))
SELECT CAST(stage AS INT) AS stage, filter_name,
       CASE stage WHEN 1 THEN n0 WHEN 2 THEN n1
                  WHEN 3 THEN n2 ELSE n3 END AS n_in,
       CASE stage WHEN 1 THEN n1 WHEN 2 THEN n2
                  WHEN 3 THEN n3 ELSE n4 END AS n_pass,
       CASE stage WHEN 1 THEN n0 - n1 WHEN 2 THEN n1 - n2
                  WHEN 3 THEN n2 - n3 ELSE n3 - n4 END AS n_dropped,
       CASE WHEN (CASE stage WHEN 1 THEN n0 WHEN 2 THEN n1
                             WHEN 3 THEN n2 ELSE n3 END) > 0
            THEN (CASE stage WHEN 1 THEN n1 WHEN 2 THEN n2
                             WHEN 3 THEN n3 ELSE n4 END)
                 / CAST((CASE stage WHEN 1 THEN n0 WHEN 2 THEN n1
                                    WHEN 3 THEN n2 ELSE n3 END) AS DOUBLE)
            ELSE 0.0 END AS pass_rate
FROM st CROSS JOIN agg
"""


def q157_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG retrieval serving (text.assemble_contexts over
    ranking.rrf_fuse): hybrid BM25+dense fusion (q145's exact config,
    top-5) then rank-ordered context strings per query — the
    prompt-ready artifact a retrieval pipeline actually ships. Every
    post-retrieval stage is top-k-list-sized; ordering is
    deterministic via (rank, text) struct sort AFTER the unordered
    collect. The sparse side serves from the SHARED persisted
    postings index (same dir as q145/q151 — one build per process,
    r7 verdict #1)."""
    from data_lake_with_spark_spark.operators.ranking import rrf_fuse

    d = _t(spark, sf_dir, "documents")
    is_q = (F.col("doc_id") % 200 == 0) & (F.col("doc_id") < 5000)
    qs = d.where(is_q).select(F.col("doc_id").alias("query_id"), "text")
    corpus = d.where(~is_q)
    sparse = text.bm25_topk_indexed(
        spark, _bm25_index(spark, sf_dir, "hybrid"), qs, k=20
    ).select("query_id", "doc_id", "rank")
    emb = _t(spark, sf_dir, "embeddings")
    is_qv = (F.col("vec_id") % 200 == 0) & (F.col("vec_id") < 5000)
    dense = similarity.brute_force_topk(
        emb.where(~is_qv), emb.where(is_qv), k=20
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    fused = rrf_fuse([sparse, dense], k0=60, topk=5)
    return text.assemble_contexts(fused, corpus)


# Reuses the shared CTEs through the fused ranking, then joins texts
# back and string_aggs them in rank order (top-5).
O_Q157 = _O_RETRIEVAL_CTES + ",\n" + _O_FUSED_CTE + """,
final AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id)
                AS BIGINT) AS rank
    FROM fused) WHERE rank <= 5),
fetched AS (
  SELECT f.query_id, f.rank, d.text
  FROM final f JOIN documents d ON d.doc_id = f.doc_id)
SELECT query_id,
       string_agg(text, chr(10) || chr(10) ORDER BY rank) AS context,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(length(string_agg(text, chr(10) || chr(10) ORDER BY rank))
            AS BIGINT) AS n_chars
FROM fetched GROUP BY query_id
"""


def q158_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery (profile.key_uniqueness) over
    lineitem: which column set is actually the row identifier — the
    first decision a new dataset forces, as ONE multi-countDistinct
    aggregate (struct-counted, so NULL-bearing combinations count in
    both engines)."""
    from data_lake_with_spark_spark.operators.profile import key_uniqueness

    li = _t(spark, sf_dir, "lineitem")
    return key_uniqueness(
        li,
        [
            ["l_orderkey"],
            ["l_orderkey", "l_linenumber"],
            ["l_partkey", "l_suppkey"],
            ["l_orderkey", "l_partkey", "l_suppkey"],
        ],
    )


O_Q158 = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT (l_orderkey)) AS BIGINT) AS d0,
         CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS d1,
         CAST(COUNT(DISTINCT (l_partkey, l_suppkey)) AS BIGINT) AS d2,
         CAST(COUNT(DISTINCT (l_orderkey, l_partkey, l_suppkey))
              AS BIGINT) AS d3
  FROM lineitem),
c AS (SELECT * FROM (VALUES
  (0, 'l_orderkey'),
  (1, 'l_orderkey,l_linenumber'),
  (2, 'l_partkey,l_suppkey'),
  (3, 'l_orderkey,l_partkey,l_suppkey')) v(i, candidate))
SELECT candidate, n AS n_rows,
       CASE i WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2
              ELSE d3 END AS n_distinct,
       (CASE i WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2
               ELSE d3 END) / CAST(n AS DOUBLE) AS uniqueness,
       (CASE i WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2
               ELSE d3 END) = n AS is_key
FROM c CROSS JOIN agg
"""


def q159_event_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event co-occurrence lift matrix (events_analytics.event_lift):
    market-basket association over users — how much more often users
    exhibit BOTH event types than independence predicts. Pair space
    bounded by the TYPE vocabulary; one data-sized distinct, one
    per-user self-join fan-out ≤ |types|²; exact-integer lift
    numerator/denominator, one division."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        event_lift,
    )

    e = _t(spark, sf_dir, "events")
    return event_lift(e)


O_Q159 = """
WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
tot AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users FROM ut),
pt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY t),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
  GROUP BY a.t, b.t)
SELECT p.type_a, p.type_b,
       pa.n AS n_a, pb.n AS n_b, p.n_both,
       CAST(p.n_both * tot.n_users AS DOUBLE)
         / CAST(pa.n * pb.n AS DOUBLE) AS lift
FROM pairs p
JOIN pt pa ON pa.t = p.type_a
JOIN pt pb ON pb.t = p.type_b
CROSS JOIN tot
"""


def q160_column_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical concentration report
    (profile.categorical_concentration): exact Herfindahl index and
    Gini impurity for documents.lang and documents.source — the
    log-free "is this corpus dominated by one slice?" number (Shannon
    entropy says the same through ln, whose ulps diverge between JVM
    and C libm — the BM25 rational-idf lesson applied to profiling).
    One dim-sized groupBy per column; exact-integer sums, ONE
    division each."""
    from data_lake_with_spark_spark.operators.profile import (
        categorical_concentration,
    )

    d = _t(spark, sf_dir, "documents")
    return categorical_concentration(d, ["lang", "source"])


O_Q160 = """
WITH l AS (SELECT lang AS v, CAST(COUNT(*) AS BIGINT) AS n
           FROM documents GROUP BY lang),
la AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
              CAST(COUNT(*) AS BIGINT) AS n_distinct,
              CAST(SUM(n * n) AS BIGINT) AS sq FROM l),
s AS (SELECT source AS v, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source),
sa AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
              CAST(COUNT(*) AS BIGINT) AS n_distinct,
              CAST(SUM(n * n) AS BIGINT) AS sq FROM s)
SELECT 'lang' AS "column", n_rows, n_distinct,
       CAST(sq AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE) AS hhi,
       1.0 - CAST(sq AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE) AS gini
FROM la
UNION ALL
SELECT 'source' AS "column", n_rows, n_distinct,
       CAST(sq AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE) AS hhi,
       1.0 - CAST(sq AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE) AS gini
FROM sa
"""


def q214_bm25_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health report for the persisted BM25 layout
    (text.bm25_staleness_report — r13 verdict #3: the three quantized
    ANN families earned when-to-retrain reports in q209/q211/q212;
    this is the lexical family's twin): corpus drift (live doclens
    aggregates vs the STAMPED n_corpus/avgdl the scorer uses) plus
    the posting-mass shape (type/posting counts, max df, and the
    head mass — terms in over half the corpus, the candidate-cost
    lever behind max_df_ratio). Every emitted column re-derives in
    the oracle from the q140 corpus via the same tokenize → postings
    → doclens pipeline, so the driver hash-verifies that the report
    read off the persisted index equals the ground-truth derivation.
    The bucket-occupancy leg (xxhash64 layout — no DuckDB twin) is
    gated in pytest against a from-scratch rebuild, and drift
    MOVEMENT under an upsert-heavy merge is gated in
    tests/test_text.py."""
    rep = text.bm25_staleness_report(
        spark, _bm25_index(spark, sf_dir, "q140")
    )
    return rep.select(
        "n_docs", "dl_sum", "avgdl_live", "n_corpus_stamped",
        "avgdl_stamped", "n_buckets_stamped", "n_postings", "n_types",
        "max_df", "head_types", "head_postings",
    )


# O_Q214: the report's ground truth re-derived from the corpus — the
# stamped stats of a fresh build ARE the derived stats (n_buckets is
# the build call's constant, 64 = build_bm25_index's default).
O_Q214 = """
WITH ctf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE doc_id % 200 <> 0)
  WHERE tok <> '' GROUP BY doc_id, tok),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM ctf GROUP BY doc_id),
doc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS dl_sum,
               SUM(dl) / COUNT(*) AS avgdl_live FROM dl),
dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM ctf GROUP BY tok),
ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
              CAST(SUM(df) AS BIGINT) AS n_postings,
              CAST(MAX(df) AS BIGINT) AS max_df,
              CAST(SUM(CASE WHEN 2 * df > d.n_docs THEN 1 ELSE 0 END)
                   AS BIGINT) AS head_types,
              CAST(SUM(CASE WHEN 2 * df > d.n_docs THEN df ELSE 0 END)
                   AS BIGINT) AS head_postings
       FROM dfs, doc d)
SELECT d.n_docs, d.dl_sum, d.avgdl_live,
       d.n_docs AS n_corpus_stamped,
       d.avgdl_live AS avgdl_stamped,
       CAST(64 AS INT) AS n_buckets_stamped,
       ts.n_postings, ts.n_types, ts.max_df, ts.head_types,
       ts.head_postings
FROM doc d, ts
"""


def _ri_state(spark: SparkSession, sf_dir: str) -> str:
    """Process-cached full-history related-items state (k=5,
    min_count=2, n_buckets=32) — the build-once-serve-many fixture
    shape the shared q140/q200 indexes use: the health report (q215)
    prices the REPORT's scans, not a per-invocation state rebuild
    (the build op itself is priced by q199/q206, which maintain
    fresh states by design)."""
    from data_lake_with_spark_spark.operators.graph import (
        build_related_items_state,
    )

    def build(path: str) -> None:
        build_related_items_state(
            _t(spark, sf_dir, "lineitem"), path, basket_col="l_orderkey",
            item_col="l_partkey", k=5, min_count=2, n_buckets=32,
        )

    return _cached_dir("dlws_ri_health_", sf_dir, "pairs", build)


def q215_related_items_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-health report for the related-items serving state
    (graph.related_items_health — the co-occurrence family's
    when-to-maintain twin of q214): stamped config, the UNFLOORED
    pair-support shape (count, floor debt, max support), ledger size
    (the next erasure's read amplification), and serving coverage
    (items vs items actually served ≥1 top-k row). Every emitted
    column re-derives in the oracle from the basket history through
    O_Q188's own CTE pipeline (incidence → supports → floored top-k),
    so the driver hash-verifies the report against ground truth. The
    ledger-bucket occupancy leg (xxhash64 layout) is pytest-gated
    against a rebuild; MOVEMENT under delete-heavy churn is gated in
    tests/test_related_items_state.py."""
    from data_lake_with_spark_spark.operators.graph import (
        related_items_health,
    )

    return related_items_health(spark, _ri_state(spark, sf_dir)).select(
        "k_stamped", "min_count_stamped", "n_buckets_stamped",
        "n_pairs", "pairs_below_floor", "max_support",
        "n_incidence", "n_baskets", "n_items", "served_items",
        "topk_rows",
    )


# O_Q215: ground truth from the basket history — unfloored supports,
# the floored (min_count=2) k=5 serving derivation, ledger counts.
# The stamped config is the build call's constants.
O_Q215 = """
WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
           FROM lineitem),
n AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM b
      GROUP BY item),
p AS (SELECT x.item AS a, y.item AS b2, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
      GROUP BY x.item, y.item),
pa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(SUM(CASE WHEN n_ab < 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS pairs_below_floor,
              CAST(MAX(n_ab) AS BIGINT) AS max_support FROM p),
la AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_incidence,
              CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM b),
ia AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM n),
sym AS (SELECT a AS item, b2 AS other, n_ab FROM p WHERE n_ab >= 2
        UNION ALL
        SELECT b2 AS item, a AS other, n_ab FROM p WHERE n_ab >= 2),
sc AS (SELECT sym.item, sym.other, sym.n_ab,
              (sym.n_ab * sym.n_ab) / (ni.n_item * no.n_item) AS score
       FROM sym JOIN n ni ON ni.item = sym.item
                JOIN n no ON no.item = sym.other),
r AS (SELECT item, CAST(ROW_NUMBER() OVER (PARTITION BY item
                                           ORDER BY score DESC, other)
                        AS BIGINT) AS rank
      FROM sc),
ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS topk_rows,
              CAST(COUNT(DISTINCT item) AS BIGINT) AS served_items
       FROM r WHERE rank <= 5)
SELECT CAST(5 AS INT) AS k_stamped,
       CAST(2 AS INT) AS min_count_stamped,
       CAST(32 AS INT) AS n_buckets_stamped,
       pa.n_pairs, pa.pairs_below_floor, pa.max_support,
       la.n_incidence, la.n_baskets, ia.n_items,
       ta.served_items, ta.topk_rows
FROM pa, la, ia, ta
"""


def _maint_root(spark: SparkSession, sf_dir: str) -> str:
    """Process-cached BM25 lifecycle root in the q216 decision state:
    build the doc_id%12=1 stripe as epoch 0 with its health row
    PINNED as the baseline; manifest-merge the %12=5 stripe with
    TRIPLED text (avgdl drift); compact WITHOUT vacuuming (retired
    debt); manifest-merge the %12=9 stripe as a narrow-vocabulary
    batch ('zq zq zq' — one changed posting bucket, so the live
    chain stays exactly 2 epochs). The composition is the fixture;
    the OPERATOR q216 prices is cow.maintenance_plan's read of it
    (lifecycle_report + pinned-baseline drift — the nightly call),
    the q140/q200 cached-fixture shape."""
    from data_lake_with_spark_spark.operators.similarity import (
        write_staleness_baseline,
    )
    from data_lake_with_spark_spark.sources import cow

    def build(root: str) -> None:
        d = _t(spark, sf_dir, "documents")
        a = d.where(F.col("doc_id") % 12 == 1).select("doc_id", "text")
        b = d.where(F.col("doc_id") % 12 == 5).select(
            "doc_id", F.concat_ws(" ", "text", "text", "text").alias("text")
        )
        c = d.where(F.col("doc_id") % 12 == 9).select(
            "doc_id", F.lit("zq zq zq").alias("text")
        )
        e0 = cow.new_epoch_path(spark, root)
        text.build_bm25_index(a, e0, n_buckets=8)
        cow.set_current(spark, root, e0, expected=None)
        write_staleness_baseline(
            spark, root, text.bm25_staleness_report(spark, root)
        )
        e1 = cow.new_epoch_path(spark, root, label="merge")
        text.merge_bm25_index(spark, cow.get_current(spark, root), b, e1)
        cow.set_current(spark, root, e1, expected=e0)
        e2 = cow.new_epoch_path(spark, root, label="compact")
        text.compact_bm25_index(spark, cow.get_current(spark, root), e2)
        cow.set_current(spark, root, e2, expected=e1)  # NO vacuum: debt
        e3 = cow.new_epoch_path(spark, root, label="merge2")
        text.merge_bm25_index(spark, cow.get_current(spark, root), c, e3)
        cow.set_current(spark, root, e3, expected=e2)

    return _cached_dir("dlws_maint_plan_", sf_dir, "current.json", build)


def q216_maintenance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly maintenance DECISION row (cow.maintenance_plan —
    r13 verdict #4: the staleness reports and the alerting loop
    existed as pieces; this composes them into the operator-facing
    "what should I run tonight" op). Fixture trips ALL THREE branches
    on a BM25 lifecycle root: build the doc_id%12=1 stripe as epoch 0
    and PIN its health row as the baseline; manifest-merge the %12=5
    stripe with TRIPLED text (upsert drift — avgdl rises); compact
    WITHOUT vacuuming (two retired epochs → vacuum debt); manifest-
    merge the %12=9 stripe as a NARROW-vocabulary batch ('zq zq zq' —
    it touches one posting bucket, so the merge epoch carries the
    compacted epoch's other buckets by manifest and the live chain is
    exactly 2 epochs; a natural-language batch would touch every
    bucket and collapse the chain to 1). With
    thresholds {avgdl_live: 1.02}, max_read_amplification=1,
    min_retired_bytes=1 the plan must say retrain_due AND compact_due
    AND vacuum_due, with trigger_ratio = the avgdl drift ratio — the
    oracle re-derives that ratio from the documents table (merged
    corpus avgdl / base-stripe avgdl) and pins the lifecycle counts
    the fixture's op sequence determines (live=2, retired=2).
    retired_bytes is filesystem-dependent and stays out of the
    oracled row (vacuum_due is its thresholded consequence)."""
    from data_lake_with_spark_spark.sources import cow

    return cow.maintenance_plan(
        spark,
        _maint_root(spark, sf_dir),
        ["postings"],
        text.bm25_staleness_report(spark, _maint_root(spark, sf_dir)),
        drift_thresholds={"avgdl_live": 1.02},
        max_read_amplification=1,
        min_retired_bytes=1,
    ).select(
        "read_amplification", "n_retired", "retrain_due",
        "compact_due", "vacuum_due", "trigger_metric",
        "trigger_ratio",
    )


# O_Q216: the decision row's ground truth — the drift ratio re-derived
# from the documents table (merged-corpus avgdl over base-stripe
# avgdl, same tokenize pipeline as O_Q214); the lifecycle counts are
# the fixture's deterministic op-sequence consequences (compact leaves
# epochs {0,1} retired; the post-compact merge chain spans 2 live
# epochs), and the booleans are those values against the thresholds.
O_Q216 = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 12 = 1
  UNION ALL
  SELECT doc_id, text || ' ' || text || ' ' || text AS text
  FROM documents WHERE doc_id % 12 = 5
  UNION ALL
  SELECT doc_id, 'zq zq zq' AS text FROM documents WHERE doc_id % 12 = 9),
ctf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM corpus)
  WHERE tok <> '' GROUP BY doc_id, tok),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM ctf GROUP BY doc_id),
cur AS (SELECT SUM(dl) / COUNT(*) AS avgdl FROM dl),
ctf0 AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE doc_id % 12 = 1)
  WHERE tok <> '' GROUP BY doc_id, tok),
dl0 AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM ctf0
        GROUP BY doc_id),
base AS (SELECT SUM(dl) / COUNT(*) AS avgdl FROM dl0)
SELECT CAST(2 AS BIGINT) AS read_amplification,
       CAST(2 AS BIGINT) AS n_retired,
       (cur.avgdl / base.avgdl) >= 1.02 AS retrain_due,
       2 > 1 AS compact_due,
       TRUE AS vacuum_due,
       'avgdl_live' AS trigger_metric,
       cur.avgdl / base.avgdl AS trigger_ratio
FROM cur, base
"""


# Driver order. The driver value-checks the first 50 entries against
# their DuckDB oracles (the verification window); every operator
# family keeps at least one entry inside it. Entries past the window
# stay oracled and are value-checked by tools/check_oracle.py.
_REGISTRY: dict[str, tuple[QueryFn, str]] = {
    "q01_pricing_summary": (q01_pricing_summary, O_Q01),
    "q188_related_items": (q188_related_items, O_Q188),
    # Streaming related-items maintenance: epochs streamed in must
    # serve the from-scratch q188 build bit-for-bit.
    "q207_streaming_related_items": (q207_streaming_related_items, O_Q188),
    # Same oracle as q118: the persisted/merged PQ code layout must
    # serve bit-identical ADC distances to the inline from-scratch
    # encode (the q176/q171 contract, third index family).
    "q195_pq_indexed": (q195_pq_indexed, O_Q118),
    # GDPR erasure on the related-items state: the inverse of q199's
    # merge; pinned to O_Q188 over the surviving baskets.
    "q206_related_items_gdpr_delete": (
        q206_related_items_gdpr_delete,
        O_Q206,
    ),
    "q138_dedup_report": (q138_dedup_report, O_Q138),
    "q187_label_propagation": (q187_label_propagation, O_Q187),
    "q170_mixture_plan": (q170_mixture_plan, O_Q170),
    "q203_ivfpq_rerank": (q203_ivfpq_rerank, O_Q203),
    "q197_pq_delete": (q197_pq_delete, O_Q197),
    # Same oracle as q140/q161/q171: an index maintained as streaming
    # manifest epochs must serve the batch build's exact scores.
    "q204_streaming_index_maintenance": (
        q204_streaming_index_maintenance,
        O_Q140,
    ),
    "q12_flagship_enrichment": (q12_flagship_enrichment, O_Q12),
    # Same oracle as q113: after merge->merge->compact->vacuum under
    # the current-pointer lifecycle, serving must remain a from-scratch
    # rebuild bit-for-bit.
    "q198_index_lifecycle": (q198_index_lifecycle, O_Q113),
    "q144_skew_report": (q144_skew_report, O_Q144),
    "q143_slice_drift": (q143_slice_drift, O_Q143),
    "q139_decontaminate": (q139_decontaminate, O_Q139),
    "q157_context_assembly": (q157_context_assembly, O_Q157),
    # Staleness report (the when-to-retrain signal): occupancy +
    # sampled ADC reconstruction error read off the persisted index
    # must equal the O_Q200-pipeline ground-truth derivation.
    "q209_ivfpq_staleness": (q209_ivfpq_staleness, O_Q209),
    "q190_pagerank_weighted": (q190_pagerank_weighted, O_Q190),
    "q20_string_time_join": (q20_string_time_join, O_Q20),
    "q191_label_propagation_weighted": (
        q191_label_propagation_weighted,
        O_Q191,
    ),
    # Same oracle as q140: the persisted-index serving path returns
    # identical scores over the same corpus (q102-vs-q13 pattern).
    "q161_bm25_indexed": (q161_bm25_indexed, O_Q140),
    # PQ staleness: codebook utilization + sampled recon error off
    # the persisted index must equal the O_Q118-pipeline derivation.
    "q211_pq_staleness": (q211_pq_staleness, O_Q211),
    # Streaming plain-PQ maintenance: epochs streamed in (bootstrap
    # trains the frozen codebooks) must serve the from-scratch ADC
    # build bit-for-bit — O_Q118 verbatim (the q196 pin, streamed).
    "q213_streaming_pq": (q213_streaming_pq, O_Q118),
    "q155_multitouch_attribution": (q155_multitouch_attribution, O_Q155),
    "q201_ivfpq_merge": (q201_ivfpq_merge, O_Q200),
    "q140_bm25_retrieval": (q140_bm25_retrieval, O_Q140),
    # Streaming IVFPQ maintenance: epochs streamed in (bootstrap
    # trains BOTH frozen quantizers) must serve the from-scratch
    # build bit-for-bit — O_Q200 verbatim.
    "q210_streaming_ivfpq": (q210_streaming_ivfpq, O_Q200),
    "q175_pagerank": (q175_pagerank, O_Q175),
    "q177_ivf_delete": (q177_ivf_delete, O_Q177),
    "q156_filter_funnel": (q156_filter_funnel, O_Q156),
    # Same oracle as q113/q176/q192: the streamed-in IVF epochs must
    # serve the from-scratch budget-40 build bit-for-bit.
    "q205_streaming_vector_index": (q205_streaming_vector_index, O_Q113),
    # Maintenance decision row: drift ratio re-derived from source,
    # lifecycle counts pinned by the fixture's op sequence.
    "q216_maintenance_plan": (q216_maintenance_plan, O_Q216),
    "q130_length_batches": (q130_length_batches, O_Q130),
    "q193_bm25_manifest_delete": (q193_bm25_manifest_delete, O_Q178),
    "q182_fd_audit": (q182_fd_audit, O_Q182),
    "q142_content_manifest": (q142_content_manifest, O_Q142),
    "q141_vocab_coverage": (q141_vocab_coverage, O_Q141),
    "q128_canonical_per_cluster": (q128_canonical_per_cluster, O_Q128),
    # IVF staleness: occupancy + sampled residual norms off the
    # persisted layout must equal the O_Q113 assignment derivation.
    "q212_ivf_staleness": (q212_ivf_staleness, O_Q212),
    # IVFPQ — the composite (pruning × compression) index family: the
    # persisted/merged layouts pin to the full-pipeline SQL rebuild;
    # the deleted layout to its survivor-filtered derivation.
    "q200_ivfpq_indexed": (q200_ivfpq_indexed, O_Q200),
    "q186_triangle_census": (q186_triangle_census, O_Q186),
    # Same oracle as q188: the delta-maintained serving table must
    # equal the from-scratch rebuild over the full basket history.
    "q199_related_items_incremental": (
        q199_related_items_incremental,
        O_Q188,
    ),
    "q152_asof_nearest": (q152_asof_nearest, O_Q152),
    "q158_key_uniqueness": (q158_key_uniqueness, O_Q158),
    # Related-items state health: report off the persisted state must
    # equal the O_Q188-pipeline derivation (unfloored supports +
    # floored serving coverage).
    "q215_related_items_health": (q215_related_items_health, O_Q215),
    # BM25 index health: every column of the report read off the
    # persisted index must equal the from-corpus derivation.
    "q214_bm25_staleness": (q214_bm25_staleness, O_Q214),
    "q202_ivfpq_delete": (q202_ivfpq_delete, O_Q202),
    "q129_incremental_dedup": (q129_incremental_dedup, O_Q129),
    # Quantizer retrain: the drifted lifecycle root re-trained on the
    # surviving corpus must serve the survivors-only rebuild.
    "q208_ivfpq_retrain": (q208_ivfpq_retrain, O_Q208),
    "q51_running_total": (q51_running_total, O_Q51),
    "q52_revenue_filter": (q52_revenue_filter, O_Q52),
    "q54_region_rollup": (q54_region_rollup, O_Q54),
    "q55_count_lineitem": (q55_count_lineitem, O_Q55),
    "q56_cascade_rollup": (q56_cascade_rollup, O_Q56),
    "q57_streaming_sessions": (q57_streaming_sessions, O_Q57),
    "q58_promo_share": (q58_promo_share, O_Q58),
    "q59_having_global_scalar": (q59_having_global_scalar, O_Q59),
    "q60_segment_top_orders": (q60_segment_top_orders, O_Q60),
    "q61_in_having_subquery": (q61_in_having_subquery, O_Q61),
    "q62_country_code_balance": (q62_country_code_balance, O_Q62),
    "q63_hourly_rollup": (q63_hourly_rollup, O_Q63),
    "q64_frame_sampling": (q64_frame_sampling, O_Q64),
    "q65_json_extract": (q65_json_extract, O_Q65),
    "q66_array_functions": (q66_array_functions, O_Q66),
    "q67_cross_join": (q67_cross_join, O_Q67),
    "q68_date_arithmetic": (q68_date_arithmetic, O_Q68),
    "q69_null_conditionals": (q69_null_conditionals, O_Q69),
    "q70_streaming_enriched": (q70_streaming_enriched, O_Q70),
    "q71_unpivot": (q71_unpivot, O_Q71),
    "q72_regexp_extract": (q72_regexp_extract, O_Q72),
    "q73_lag_delta": (q73_lag_delta, O_Q73),
    "q74_dense_rank": (q74_dense_rank, O_Q74),
    "q75_ntile": (q75_ntile, O_Q75),
    "q76_streaming_hourly": (q76_streaming_hourly, O_Q76),
    "q78_above_nation_avg": (q78_above_nation_avg, O_Q78),
    "q79_distinct_users": (q79_distinct_users, O_Q79),
    "q80_orders_intersect": (q80_orders_intersect, O_Q80),
    "q81_moving_average": (q81_moving_average, O_Q81),
    "q82_full_outer_reconcile": (q82_full_outer_reconcile, O_Q82),
    "q83_length_histogram": (q83_length_histogram, O_Q83),
    "q84_streaming_dedup": (q84_streaming_dedup, O_Q84),
    "q85_label_centroids": (q85_label_centroids, O_Q85),
    "q86_upsert_snapshot": (q86_upsert_snapshot, O_Q86),
    "q87_chunk_documents": (q87_chunk_documents, O_Q87),
    "q88_pack_sequences": (q88_pack_sequences, O_Q88),
    "q89_tfidf_terms": (q89_tfidf_terms, O_Q89),
    "q91_dedup_clusters_distributed": (q91_dedup_clusters_distributed, O_Q33),
    "q92_token_jaccard_ppjoin": (q92_token_jaccard_ppjoin, O_Q48),
    "q93_balance_languages": (q93_balance_languages, O_Q93),
    "q94_zorder_values": (q94_zorder_values, O_Q94),
    "q103_local_supplier_volume": (q103_local_supplier_volume, O_Q103),
    "q106_ann_lsh_multiprobe": (q106_ann_lsh_multiprobe, O_Q106),
    "q10_orders_except": (q10_orders_except, O_Q10),
    "q35_left_join_coverage": (q35_left_join_coverage, O_Q35),
    "q38_cube_orders": (q38_cube_orders, O_Q38),
    "q39_pivot_returnflag": (q39_pivot_returnflag, O_Q39),
    "q49_string_functions": (q49_string_functions, O_Q49),
    "q02_not_in_subquery": (q02_not_in_subquery, O_Q02),
    "q06_topk_orders": (q06_topk_orders, O_Q06),
    "q16_union_users": (q16_union_users, O_Q16),
    "q34_stratified_sample": (q34_stratified_sample, O_Q34),
    "q43_percentiles": (q43_percentiles, O_Q43),
    "q05_deterministic_sample": (q05_deterministic_sample, O_Q05),
    "q23_minhash_pairs": (q23_minhash_pairs, O_Q23),
    "q30_token_stats": (q30_token_stats, O_Q30),
    "q03_distinct_flags": (q03_distinct_flags, O_Q03),
    "q09_anti_join": (q09_anti_join, O_Q09),
    "q14_salted_aggregation": (q14_salted_aggregation, O_Q14),
    "q25_simhash": (q25_simhash, O_Q25),
    "q31_fingerprint": (q31_fingerprint, O_Q31),
    "q32_sql_entrypoint": (q32_sql_entrypoint, O_Q32),
    "q53_approx_distinct": (q53_approx_distinct, O_Q53),
    "q15_profile_columns": (q15_profile_columns, O_Q15),
    "q17_sessionize": (q17_sessionize, O_Q17),
    "q110_sample_per_group": (q110_sample_per_group, O_Q110),
    "q111_stopword_stats": (q111_stopword_stats, O_Q111),
    "q29_quality_score": (q29_quality_score, O_Q29),
    "q37_rollup_revenue": (q37_rollup_revenue, O_Q37),
    "q41_kmeans_step": (q41_kmeans_step, O_Q41),
    "q42_span_dedup": (q42_span_dedup, O_Q42),
    "q45_range_join": (q45_range_join, O_Q45),
    "q46_embedding_near_dup": (q46_embedding_near_dup, O_Q46),
    "q26_embedding_topk": (q26_embedding_topk, O_Q26),
    "q47_embedding_near_dup_lsh": (q47_embedding_near_dup_lsh, O_Q47),
    "q48_token_jaccard": (q48_token_jaccard, O_Q48),
    "q98_column_correlations": (q98_column_correlations, O_Q98),
    "q99_event_transitions": (q99_event_transitions, O_Q99),
    "q104_temperature_rebalance": (q104_temperature_rebalance, O_Q104),
    "q40_grouping_sets": (q40_grouping_sets, O_Q40),
    "q105_quantized_topk": (q105_quantized_topk, O_Q105),
    "q07_latest_order_per_customer": (q07_latest_order_per_customer, O_Q07),
    "q08_semi_join": (q08_semi_join, O_Q08),
    "q95_funnel_conversion": (q95_funnel_conversion, O_Q95),
    "q36_pii_scrub": (q36_pii_scrub, O_Q36),
    "q33_dedup_clusters": (q33_dedup_clusters, O_Q33),
    "q101_data_quality": (q101_data_quality, O_Q101),
    "q102_ann_ivf_indexed": (q102_ann_ivf_indexed, O_Q13),
    "q27_ann_lsh": (q27_ann_lsh, O_Q27),
    "q97_quantize_embeddings": (q97_quantize_embeddings, O_Q97),
    "q120_streaming_sliding": (q120_streaming_sliding, O_Q120),
    "q115_ngram_rarity": (q115_ngram_rarity, O_Q115),
    "q109_train_val_test_split": (q109_train_val_test_split, O_Q109),
    "q04_join_composite": (q04_join_composite, O_Q04),
    "q11_repetition_stats": (q11_repetition_stats, O_Q11),
    "q13_ann_ivf": (q13_ann_ivf, O_Q13),
    "q19_time_dimension": (q19_time_dimension, O_Q19),
    "q96_scd2_user_state": (q96_scd2_user_state, O_Q96),
    "q100_dedup_clusters_two_phase": (q100_dedup_clusters_two_phase, O_Q33),
    "q108_incremental_aggregate": (q108_incremental_aggregate, O_Q108),
    "q44_asof_join": (q44_asof_join, O_Q44),
    "q21_exact_dedup": (q21_exact_dedup, O_Q21),
    "q50_ngram_contamination": (q50_ngram_contamination, O_Q50),
    "q117_pq_encode": (q117_pq_encode, O_Q117),
    "q118_pq_topk": (q118_pq_topk, O_Q118),
    "q116_semantic_dedup": (q116_semantic_dedup, O_Q116),
    "q123_cohort_retention": (q123_cohort_retention, O_Q123),
    "q124_quality_classifier": (q124_quality_classifier, O_Q124),
    "q18_minhash_dedup": (q18_minhash_dedup, O_Q18),
    "q22_minhash_signatures": (q22_minhash_signatures, O_Q22),
    "q28_lang_id": (q28_lang_id, O_Q28),
    "q24_jaccard_verify": (q24_jaccard_verify, O_Q24),
    "q90_streaming_cdc": (q90_streaming_cdc, O_Q90),
    "q121_salted_join": (q121_salted_join, O_Q121),
    "q125_relative_quality_buckets": (q125_relative_quality_buckets, O_Q125),
    "q136_snapshot_diff": (q136_snapshot_diff, O_Q136),
    "q122_resample_ffill": (q122_resample_ffill, O_Q122),
    "q133_contamination_spans": (q133_contamination_spans, O_Q133),
    "q134_truncated_topk_rerank": (q134_truncated_topk_rerank, O_Q134),
    "q146_entity_resolution": (q146_entity_resolution, O_Q146),
    "q149_negative_sampling": (q149_negative_sampling, O_Q149),
    "q150_token_budget_fill": (q150_token_budget_fill, O_Q150),
    "q77_multimodal_features": (q77_multimodal_features, O_Q77),
    "q119_pq_topk_rerank": (q119_pq_topk_rerank, O_Q119),
    "q113_ann_ivf_budgeted": (q113_ann_ivf_budgeted, O_Q113),
    "q114_ann_ivf_indexed_budgeted": (q114_ann_ivf_indexed_budgeted, O_Q113),
    "q163_bm25_pruned": (q163_bm25_pruned, O_Q163),
    "q162_key_uniqueness_approx": (q162_key_uniqueness_approx, O_Q162),
    "q164_referential_integrity": (q164_referential_integrity, O_Q164),
    "q165_weighted_sample": (q165_weighted_sample, O_Q165),
    "q167_retrieval_metrics": (q167_retrieval_metrics, O_Q167),
    "q148_attribution": (q148_attribution, O_Q148),
    "q153_weighted_median": (q153_weighted_median, O_Q153),
    "q160_column_concentration": (q160_column_concentration, O_Q160),
    "q168_vocab_budget_rewrite": (q168_vocab_budget_rewrite, O_Q168),
    "q169_boilerplate_prefixes": (q169_boilerplate_prefixes, O_Q169),
    "q173_soft_dedup": (q173_soft_dedup, O_Q173),
    "q174_outlier_report": (q174_outlier_report, O_Q174),
    "q183_rate_spikes": (q183_rate_spikes, O_Q183),
    "q184_percentile_envelope": (q184_percentile_envelope, O_Q184),
    "q185_collocations": (q185_collocations, O_Q185),
    "q172_embedding_quality": (q172_embedding_quality, O_Q172),
    # Same oracle as q162: the deployable approx-mode call emits the
    # exact count + envelope verdict, so the verify-mode oracle
    # applies verbatim.
    "q179_key_uniqueness_sketch": (q179_key_uniqueness_sketch, O_Q162),
    "q145_hybrid_retrieval_rrf": (q145_hybrid_retrieval_rrf, O_Q145),
    "q151_rank_overlap": (q151_rank_overlap, O_Q151),
    "q135_percentile_clip": (q135_percentile_clip, O_Q135),
    "q147_classifier_eval": (q147_classifier_eval, O_Q147),
    "q132_mixture_repeats": (q132_mixture_repeats, O_Q132),
    "q181_hits_copurchase": (q181_hits_copurchase, O_Q181),
    "q166_compaction_plan": (q166_compaction_plan, O_Q166),
    "q127_shard_assignment": (q127_shard_assignment, O_Q127),
    "q196_pq_merge": (q196_pq_merge, O_Q118),
    # Same oracle as q140: the incrementally-maintained index must be
    # indistinguishable from a from-scratch build (upsert contract).
    "q171_bm25_incremental": (q171_bm25_incremental, O_Q140),
    # Same oracle as q113: the incrementally-merged dense index must
    # be indistinguishable from a from-scratch build over the merged
    # corpus with the same frozen centroid set (the q171 contract,
    # dense side).
    "q176_ivf_incremental": (q176_ivf_incremental, O_Q113),
    "q189_hub_clustering": (q189_hub_clustering, O_Q189),
    "q107_streaming_conversions": (q107_streaming_conversions, O_Q107),
    "q154_revenue_trend": (q154_revenue_trend, O_Q154),
    "q192_ivf_manifest_merge": (q192_ivf_manifest_merge, O_Q113),
    "q194_hits_weighted": (q194_hits_weighted, O_Q194),
    "q180_pagerank_seeded": (q180_pagerank_seeded, O_Q180),
    "q131_bloom_decontaminate": (q131_bloom_decontaminate, O_Q131),
    "q178_bm25_delete": (q178_bm25_delete, O_Q178),
    "q126_remove_duplicated_spans": (q126_remove_duplicated_spans, O_Q126),
    "q159_event_lift": (q159_event_lift, O_Q159),
    "q137_blocklist_filter": (q137_blocklist_filter, O_Q137),
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items()}

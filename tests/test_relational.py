from __future__ import annotations

import pyspark.sql.functions as F

from data_lake_with_spark_spark.operators import relational as R
from data_lake_with_spark_spark.operators import windows as W


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_filter_eq_and_project(spark):
    df = _df(spark, [("NextSong", 1), ("Home", 2), ("NextSong", 3)], ["page", "x"])
    out = R.project(df.filter(F.col("page") == "NextSong"), "x")
    assert sorted(r["x"] for r in out.collect()) == [1, 3]


def test_inner_join_two_conditions_null_keys_never_match(spark):
    # E1 semantics (etl.py:267-270): SQL nulls never satisfy equality
    logs = _df(spark, [("a", "t"), (None, "t"), ("a", None)], ["artist", "song"])
    songs = _df(spark, [("a", "t", "S1")], ["artist_name", "title", "song_id"])
    out = R.inner_join(
        logs,
        songs,
        on=[logs["song"] == songs["title"], logs["artist"] == songs["artist_name"]],
        broadcast_right=True,
    )
    assert out.count() == 1


def test_join_duplicates_multiply(spark):
    # E1 semantics: dupes on either side multiply
    left = _df(spark, [("k", 1), ("k", 2)], ["k", "a"])
    right = _df(spark, [("k", 10), ("k", 20)], ["k", "b"])
    out = left.join(right, "k")
    assert out.count() == 4


def test_semi_anti_partition_rows(spark):
    cust = _df(spark, [(1,), (2,), (3,)], ["id"])
    orders = _df(spark, [(1,), (1,), (3,)], ["id"])
    semi = R.semi_join(cust, orders, on="id")
    anti = R.anti_join(cust, orders, on="id")
    assert sorted(r["id"] for r in semi.collect()) == [1, 3]
    assert [r["id"] for r in anti.collect()] == [2]
    assert semi.count() + anti.count() == cust.count()


def test_distinct_and_dedup_by_key(spark):
    df = _df(spark, [(1, "a"), (1, "a"), (1, "b")], ["k", "v"])
    assert R.distinct_rows(df).count() == 2


def test_set_ops(spark):
    a = _df(spark, [(1,), (2,), (2,), (3,)], ["x"])
    b = _df(spark, [(2,), (4,)], ["x"])
    assert sorted(r["x"] for r in R.except_distinct(a, b).collect()) == [1, 3]
    assert [r["x"] for r in R.intersect_distinct(a, b).collect()] == [2]
    assert R.union_all(a, b).count() == 6


def test_top_k_is_take_ordered(spark):
    df = _df(spark, [(i, i % 3) for i in range(100)], ["x", "y"])
    out = R.top_k(df, [F.col("x").desc()], 5)
    assert [r["x"] for r in out.collect()] == [99, 98, 97, 96, 95]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_latest_per_key(spark):
    df = _df(
        spark,
        [("u1", 1, "free"), ("u1", 2, "paid"), ("u2", 5, "free")],
        ["user", "ts", "level"],
    )
    out = W.latest_per_key(df, ["user"], [F.col("ts").desc()])
    got = {r["user"]: r["level"] for r in out.collect()}
    assert got == {"u1": "paid", "u2": "free"}


def test_sessionize_gap(spark):
    from datetime import datetime

    rows = [
        ("u", datetime(2024, 1, 1, 0, 0, 0)),
        ("u", datetime(2024, 1, 1, 0, 10, 0)),
        ("u", datetime(2024, 1, 1, 2, 0, 0)),  # > 30 min gap → new session
        ("v", datetime(2024, 1, 1, 0, 0, 0)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = W.sessionize(df, "user_id", "ts", gap_seconds=1800)
    sessions = {
        (r["user_id"], r["session_id"]) for r in out.collect()
    }
    assert sessions == {("u", 1), ("u", 2), ("v", 1)}


def test_upsert_snapshot_update_insert_carryover(spark):
    from data_lake_with_spark_spark.operators.relational import upsert_snapshot

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "name", "bal"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], ["k", "name", "bal"]
    )
    got = {r["k"]: (r["name"], r["bal"]) for r in
           upsert_snapshot(base, updates, ["k"]).collect()}
    assert got == {
        1: ("a", 10.0),   # carryover
        2: ("b2", 99.0),  # update wins
        3: ("c", 30.0),   # carryover
        4: ("d", 40.0),   # insert
    }


def test_approx_count_distinct_accuracy_pin(spark):
    """Approximation-quality pin for the HLL++ sketch family (q53):
    at 50k true cardinality per group — dense-mode HLL, where error
    is real — the rsd=0.02 estimate stays within 3x the requested
    relative standard deviation. Deterministic for fixed input (HLL
    hashing is seedless), so a Spark upgrade or a q53 refactor that
    degrades sketch precision fails here, the same way the ANN
    family's recall test pins IVF/LSH quality. Measured errors on
    this input: 1.3-1.7%."""
    df = spark.range(200_000).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("u")
    )
    rows = df.groupBy("g").agg(
        F.approx_count_distinct("u", rsd=0.02).alias("approx"),
        F.count_distinct("u").alias("exact"),
    ).collect()
    assert len(rows) == 4
    for r in rows:
        rel_err = abs(r["approx"] - r["exact"]) / r["exact"]
        assert rel_err <= 0.06, (r["g"], r["exact"], r["approx"])


def test_surface_wrappers_cover_reference_ops(spark):
    """The thin §2 surface wrappers a reference user calls directly
    (I1 limit, plus the texthash helpers) — exercised so the public
    API carries no dead code."""
    from data_lake_with_spark_spark.functions.texthash import (
        md5_int32,
        word_shingles,
    )

    df = _df(spark, [(1, "a b c d"), (2, "x y")], ["id", "txt"])
    # I1: limit
    assert R.limit_rows(df, 1).count() == 1
    # texthash: word shingles + stable 32-bit hash
    row = df.where("id = 1").select(
        word_shingles(F.col("txt"), 3).alias("sh"),
        md5_int32(F.col("txt")).alias("h"),
    ).first()
    assert row["sh"] == ["a b c", "b c d"]
    assert 0 <= row["h"] < 2**32
    # short doc: no shingles, not a countdown sequence
    assert df.where("id = 2").select(
        word_shingles(F.col("txt"), 3).alias("sh")
    ).first()["sh"] == []


def test_incremental_agg_update_matches_recompute_and_drops_empty(spark):
    """Incremental (count,sum) maintenance == from-scratch recompute;
    a key whose count reaches zero drops out; a retraction below zero
    is KEPT visible (negative n), never silently clamped."""
    from data_lake_with_spark_spark.operators.relational import (
        incremental_agg_update,
    )

    state = spark.createDataFrame(
        [("a", 2, 30.0), ("b", 1, 5.0)], ["k", "n", "total"]
    )
    changes = spark.createDataFrame(
        [
            ("a", 10.0, "I"),   # a: n 3, total 40
            ("b", 5.0, "D"),    # b: n 0 -> drops out
            ("c", 7.0, "I"),    # c: new key
            ("d", 1.0, "D"),    # d: never inserted -> n = -1, kept
            ("a", 2.5, "X"),    # unknown op: ignored
        ],
        ["k", "value", "op"],
    )
    got = {
        r["k"]: (r["n"], r["total"])
        for r in incremental_agg_update(
            state, changes, keys=["k"], value_col="value"
        ).collect()
    }
    assert got == {
        "a": (3, 40.0),
        "c": (1, 7.0),
        "d": (-1, -1.0),
    }


def test_salted_join_equals_plain_join_and_spreads_keys(spark):
    """salted_join == plain equi-join row-for-row; the salt column
    never leaks; hot keys actually spread across salts."""
    import pyspark.sql.functions as F

    from data_lake_with_spark_spark.operators.skew import SALT_COL, salted_join

    left = spark.createDataFrame(
        [(i, "hot" if i % 2 == 0 else f"k{i}", float(i)) for i in range(200)],
        ["row_id", "k", "v"],
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("k3", "B"), ("missing", "Z")],
        ["k", "tag"],
    )
    got = salted_join(left, right, on=["k"], salt=4)
    assert SALT_COL not in got.columns
    plain = left.join(right, on=["k"])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the hot key's 100 rows hash to >1 salt partition
    n_salts = (
        left.where(F.col("k") == "hot")
        .withColumn(
            SALT_COL,
            F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(4)),
        )
        .select(SALT_COL)
        .distinct()
        .count()
    )
    assert n_salts > 1

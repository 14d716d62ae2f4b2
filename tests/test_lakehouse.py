"""The versioned-parquet snapshot tables of sources/lakehouse.py:
MERGE upsert, key erasure, ordering-safe CDC apply, and the
small-file compaction planner."""

from __future__ import annotations

import pytest

from data_lake_with_spark_spark.sources import lakehouse


def test_versioned_parquet_merge_upsert_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    assert lakehouse.read_snapshot(spark, path) is None

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["k", "name", "v"]
    )
    lakehouse.merge_upsert(spark, path, base, keys=["k"], version=0)
    got0 = {r["k"]: (r["name"], r["v"]) for r in lakehouse.read_snapshot(spark, path).collect()}
    assert got0 == {1: ("a", 10.0), 2: ("b", 20.0)}

    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (3, "c", 30.0)], ["k", "name", "v"]
    )
    lakehouse.merge_upsert(spark, path, updates, keys=["k"], version=1)
    got1 = {r["k"]: (r["name"], r["v"]) for r in lakehouse.read_snapshot(spark, path).collect()}
    # update wins, insert lands, unmatched base row carries over
    assert got1 == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0)}
    # both immutable versions remain on disk
    assert (tmp_path / "tbl" / "v000000").exists()
    assert (tmp_path / "tbl" / "v000001").exists()


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from pathlib import Path

    from data_lake_with_spark_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "tiny")
    dst = str(tmp_path / "packed")
    spark.range(10_000).repartition(64).write.parquet(src)
    assert len(list(Path(src).glob("*.parquet"))) == 64

    n = compact_parquet(spark, src, dst, target_mb=128)
    assert n == 1  # 10k longs is far below one 128 MB target file
    assert len(list(Path(dst).glob("*.parquet"))) == 1
    # lossless rewrite
    assert (
        spark.read.parquet(dst).agg({"id": "sum"}).collect()[0][0]
        == 10_000 * 9_999 // 2
    )
    # source untouched (atomic-swap contract: caller switches readers)
    assert len(list(Path(src).glob("*.parquet"))) == 64


def test_versioned_parquet_delete_keys_erasure(spark, tmp_path):
    path = str(tmp_path / "tbl_del")
    with pytest.raises(ValueError, match="nothing to delete"):
        lakehouse.delete_keys(
            spark,
            path,
            spark.createDataFrame([(1,)], ["k"]),
            keys=["k"],
            version=0,
        )
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "name"]
    )
    lakehouse.merge_upsert(spark, path, base, keys=["k"], version=0)
    # tombstones: one matching twice (dedup), one absent (no-op)
    tombs = spark.createDataFrame([(2,), (2,), (9,)], ["k"])
    lakehouse.delete_keys(spark, path, tombs, keys=["k"], version=1)
    got = {r["k"]: r["name"] for r in lakehouse.read_snapshot(spark, path).collect()}
    assert got == {1: "a", 3: "c", 4: "d"}
    # prior version remains for audit until compaction expires it
    assert (tmp_path / "tbl_del" / "v000000").exists()
    # erasure is idempotent
    lakehouse.delete_keys(spark, path, tombs, keys=["k"], version=2)
    got2 = {r["k"]: r["name"] for r in lakehouse.read_snapshot(spark, path).collect()}
    assert got2 == got


def test_apply_cdc_batch_split_invariance(spark, tmp_path):
    """Ordering-safe CDC: the final snapshot is the same for every
    micro-batch split of one change set (the property that makes q90
    SQL-oracle-able). Change set covers update-then-delete,
    re-insert after delete, an out-of-order older update, and a
    delete of a nonexistent key; splits cover 1, 2, and 4 batches.
    A REVERSED 2-batch order is asserted separately: it violates the
    documented tombstone precondition (u3's delete arrives BEFORE
    the update it supersedes), so the key resurrects — the exact
    boundary the cdc_apply_stream docstring scopes out."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    changes = [
        # (event_id, ts_minute, user_id, value, op)
        (1, 1, 1, 1.0, "U"),
        (2, 1, 2, 2.0, "U"),
        (3, 1, 3, 3.0, "U"),
        (4, 2, 2, 0.0, "D"),  # update then delete (same key)
        (5, 0, 1, 9.0, "U"),  # out-of-order older update: never wins
        (6, 2, 3, 0.0, "D"),
        (7, 3, 2, 7.0, "U"),  # re-insert after delete
        (8, 1, 4, 0.0, "D"),  # delete of never-present key
    ]
    cols = ["event_id", "ts", "user_id", "value", "op"]

    def apply_split(split, path):
        for i, batch in enumerate(split):
            df = spark.createDataFrame(batch, cols)
            w = Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            latest = (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
            lakehouse.apply_cdc(
                spark, path, latest, ("user_id",), ("ts", "event_id"),
                version=i, op_col="op",
            )
        snap = lakehouse.read_snapshot(spark, path)
        return {
            r["user_id"]: (r["event_id"], r["value"])
            for r in snap.collect()
        }

    splits = [
        [changes],
        [changes[:4], changes[4:]],
        [changes[:2], changes[2:4], changes[4:6], changes[6:]],
    ]
    expected = {1: (1, 1.0), 2: (7, 7.0)}
    for i, split in enumerate(splits):
        got = apply_split(split, str(tmp_path / f"s{i}"))
        assert got == expected, (i, got)

    # tombstone-caveat boundary, pinned: reversing the batches makes
    # u3's delete (t2) arrive BEFORE the update it supersedes (t1) —
    # the applied delete leaves no tombstone, so u3 resurrects. This
    # is the documented scope limit, not a silent surprise.
    got_rev = apply_split([changes[4:], changes[:4]], str(tmp_path / "rev"))
    assert got_rev == {**expected, 3: (3, 3.0)}


def test_apply_cdc_null_key_and_composite_keys(spark, tmp_path):
    """apply_cdc joins with eqNullSafe: a NULL key is a real key (it
    can be upserted and deleted), and composite keys route by the
    full tuple."""
    path = str(tmp_path / "nulls")
    cols = ["k1", "k2", "ts", "v", "op"]
    b1 = spark.createDataFrame(
        [(None, 1, 1, 10.0, "U"), (1, 1, 1, 11.0, "U"), (1, 2, 1, 12.0, "U")],
        cols,
    )
    lakehouse.apply_cdc(spark, path, b1, ("k1", "k2"), ("ts",), 0, op_col="op")
    got = {
        (r["k1"], r["k2"]): r["v"]
        for r in lakehouse.read_snapshot(spark, path).collect()
    }
    assert got == {(None, 1): 10.0, (1, 1): 11.0, (1, 2): 12.0}

    b2 = spark.createDataFrame(
        [(None, 1, 2, 0.0, "D"), (1, 1, 2, 21.0, "U")], cols
    )
    lakehouse.apply_cdc(spark, path, b2, ("k1", "k2"), ("ts",), 1, op_col="op")
    got2 = {
        (r["k1"], r["k2"]): r["v"]
        for r in lakehouse.read_snapshot(spark, path).collect()
    }
    # NULL-keyed row deleted; (1,1) updated; (1,2) untouched
    assert got2 == {(1, 1): 21.0, (1, 2): 12.0}


def test_compaction_plan_packs_bins(spark):
    """Cumulative-sum bucketing: every bin except a partition's last
    reaches the target; an oversize file gets its own bin; assignment
    is one window (deterministic under repartitioning)."""
    import pytest

    from data_lake_with_spark_spark.sources.lakehouse import compaction_plan

    rows = [(f"f{i}", "a", s) for i, s in enumerate([70, 40, 30, 30, 20, 10])]
    rows += [(f"g{i}", "b", s) for i, s in enumerate([250, 5])]
    df = spark.createDataFrame(rows, "path string, part string, size_bytes bigint")
    out = compaction_plan(df, 100, ["part"]).collect()
    bins = {}
    for r in out:
        bins.setdefault((r["part"], r["bin"]), []).append(r)
    # partition a: sizes desc 70,40,30,30,20,10 → cums 70,110,140,170,190,200
    # starts: 0,70,110,140,170,190 → bins 0,0,1,1,1,1
    a_tot = {b: sum(r["size_bytes"] for r in rs) for (p, b), rs in bins.items() if p == "a"}
    assert a_tot == {0: 110, 1: 90}
    # every row carries its bin's total
    for r in out:
        assert r["bin_bytes"] == sum(
            x["size_bytes"] for x in bins[(r["part"], r["bin"])]
        )
    # oversize file alone in bin 0; the 5-byte file starts bin 2
    b_bins = {r["path"]: r["bin"] for r in out if r["part"] == "b"}
    assert b_bins == {"g0": 0, "g1": 2}
    shuffled = compaction_plan(df.repartition(7), 100, ["part"]).collect()
    assert sorted(map(tuple, shuffled)) == sorted(map(tuple, out))
    with pytest.raises(ValueError):
        compaction_plan(df, 0, ["part"])
    # ROWS frame, not RANGE: two rows with identical (size, path)
    # must each see a row-accurate cumsum. Under the default RANGE
    # frame they would be peers, both seeing the combined 120 and
    # both mis-binning into bin 1 (leaving bin 0 empty).
    dup = spark.createDataFrame(
        [("dup", "c", 60), ("dup", "c", 60)],
        "path string, part string, size_bytes bigint",
    )
    dup_bins = sorted(r["bin"] for r in compaction_plan(dup, 50, ["part"]).collect())
    assert dup_bins == [0, 1]

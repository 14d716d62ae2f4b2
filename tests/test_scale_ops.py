"""Unit tests for the scale-path operators added after round-1 core:
GEMM/BLAS similarity variants must equal their naive twins; salted
aggregation must equal direct aggregation; profiler counts must match
hand-computed facts."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from data_lake_with_spark_spark.operators import dedup
from data_lake_with_spark_spark.operators.profile import summarize
from data_lake_with_spark_spark.operators.similarity import all_pairs_blas, ivf_topk
from data_lake_with_spark_spark.operators.skew import salted_aggregate

DOCS = [
    (1, "en", "alpha beta gamma delta"),
    (2, "en", "alpha beta gamma delta epsilon"),
    (3, "en", "zeta eta theta iota kappa"),
    (4, "fr", "alpha beta gamma delta"),  # same text, other block
    (5, "fr", "un deux trois quatre"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "lang", "text"])


def test_token_jaccard_blas_equals_naive_within_blocks(spark):
    naive = dedup.token_jaccard_pairs(
        _docs(spark), threshold=0.1, block_by=["lang"]
    )
    blas = dedup.token_jaccard_blas(_docs(spark), threshold=0.1, block_by=["lang"])
    as_set = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }
    got = as_set(blas)
    assert got == as_set(naive)
    # cross-block pair (1,4) must be absent despite identical text
    assert not any(a == 1 and b == 4 for a, b, _ in got)


def test_token_jaccard_prefix_filter_equals_naive(spark):
    naive = dedup.token_jaccard_pairs(_docs(spark), threshold=0.5, block_by=["lang"])
    pf = dedup.token_jaccard_pairs(
        _docs(spark), threshold=0.5, block_by=["lang"], prefix_filter=True
    )
    as_set = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }
    assert as_set(pf) == as_set(naive)


def test_token_jaccard_prefix_filter_gated_verify_equals_naive(spark):
    """max_broadcast_docs=0 forces the over-bound branch: the verify
    joins must run WITHOUT the broadcast hint (shuffled join on the
    pair ids) and return byte-identical results."""
    naive = dedup.token_jaccard_pairs(_docs(spark), threshold=0.5, block_by=["lang"])
    gated = dedup.token_jaccard_pairs(
        _docs(spark),
        threshold=0.5,
        block_by=["lang"],
        prefix_filter=True,
        max_broadcast_docs=0,
    )
    as_set = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }
    assert as_set(gated) == as_set(naive)


def _emb(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.95, 0.05, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(vecs, ["vec_id", "embedding"])


def test_all_pairs_blas_equals_crossjoin_pairs(spark):
    emb = _emb(spark)
    naive = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in dedup.embedding_near_dup_pairs(emb, threshold=0.5).collect()
    }
    # small-corpus driver-matmul branch ...
    driver_path = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in all_pairs_blas(emb, threshold=0.5).collect()
    }
    # ... and the distributed broadcast+mapInPandas branch, forced
    blas_path = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in all_pairs_blas(
            emb, threshold=0.5, driver_matmul_rows=0
        ).collect()
    }
    assert driver_path == naive
    assert blas_path == naive
    assert (0, 1, 0.993884) in {(a, b, round(c, 6)) for a, b, c in naive}


def test_all_pairs_blas_oversize_names_an_existing_scale_path(spark):
    emb = _emb(spark).where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="max_broadcast_rows=1") as err:
        all_pairs_blas(emb, threshold=0.5, max_broadcast_rows=1)
    for text in (str(err.value), all_pairs_blas.__doc__):
        named = re.findall(r"dedup\.(\w+)", text)
        assert named == ["embedding_near_dup_pairs"], text
        assert "bucket_dims" in text
    assert callable(dedup.embedding_near_dup_pairs)


def test_ivf_topk_finds_same_cluster_neighbor(spark):
    emb = _emb(spark)
    out = ivf_topk(
        emb, emb.where(F.col("vec_id") == 1), k=2, centroid_mod=2, nprobe=2
    )
    rows = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in out.collect()}
    # vec 0 is vec 1's nearest neighbor and must rank first
    assert (1, 0, 1) in rows


def test_salted_aggregate_equals_direct(spark):
    df = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("b", 3.0), ("a", 4.0)], ["k", "v"]
    )
    out = salted_aggregate(
        df, ["k"], {"total": F.col("v").cast("decimal(18,6)")}, salt=4
    )
    got = {
        r["k"]: (r["n"], float(r["total"])) for r in out.collect()
    }
    assert got == {"a": (3, 8.0), "b": (1, 3.0)}


def test_salting_eliminates_straggler_partition(spark):
    """Straggler proof on a manufactured hot key (99% of rows): the
    aggregation/join shuffle hashes rows to reducers BY KEY, so one
    reducer must receive every 'hot' row — a constraint AQE cannot
    re-split, because rows of one group key have to meet at one task
    (AQE's skew handling only splits join-probe partitions). Salting
    changes the key space itself: the same hash partitioning spreads
    the hot key across ~salt reducers. Asserted on the engine's own
    hash partitioning (repartition by the same keys the shuffle would
    use), not on wall clock, so the test is deterministic."""
    from data_lake_with_spark_spark.operators.skew import SALT_COL

    n, parts = 100_000, 32
    df = spark.range(n).select(
        F.when(F.col("id") % 100 < 99, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")))
        .alias("k"),
        F.col("id").alias("v"),
    )

    def max_share(keyed):
        counts = [
            r["c"]
            for r in keyed.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
        return max(counts) / n

    direct_share = max_share(df.repartition(parts, "k"))
    salted = df.withColumn(
        SALT_COL, F.pmod(F.xxhash64("k", "v"), F.lit(parts))
    )
    salted_share = max_share(salted.repartition(parts, "k", SALT_COL))
    assert direct_share > 0.9  # the straggler: one reducer owns ~99%
    assert salted_share < 0.2  # spread across ~salt reducers

    # and the two-phase aggregate over the same skewed data is exact
    direct = {
        (r["k"], r["n"], str(r["s"]))
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,0)")).alias("s"),
        )
        .collect()
    }
    via_salt = {
        (r["k"], r["n"], str(r["total"]))
        for r in salted_aggregate(
            df, ["k"], {"total": F.col("v").cast("decimal(18,0)")}, salt=parts
        ).collect()
    }
    assert via_salt == direct
    # plan shape: phase-1 exchange keys on (k, salt), phase-2 on k
    from data_lake_with_spark_spark.operators.skew import explain_shuffles

    plan = explain_shuffles(
        salted_aggregate(
            df, ["k"], {"total": F.col("v").cast("decimal(18,0)")}, salt=parts
        )
    )
    assert plan.count("Arguments: hashpartitioning") == 2
    assert SALT_COL in plan  # phase-1 exchange keys include the salt


def test_summarize_counts_and_extremes(spark):
    df = spark.createDataFrame(
        [(1, "x", 2.0), (2, None, -1.0), (2, "y", None)], ["id", "s", "v"]
    )
    rows = {r["column"]: r for r in summarize(df).collect()}
    assert rows["id"]["n"] == 3 and rows["id"]["n_distinct"] == 2
    assert rows["s"]["n_null"] == 1 and rows["s"]["min_str"] == "x"
    assert rows["v"]["min_num"] == -1.0 and rows["v"]["max_num"] == 2.0


def test_check_expectations_null_counts_as_violation(spark):
    """The audit contract: a row violates unless the predicate is
    literally TRUE — NULL check results are violations (an
    unverifiable row is not a verified one)."""
    from data_lake_with_spark_spark.operators.profile import check_expectations

    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None), (4, 7.0)], ["k", "v"]
    )
    rows = {
        r["rule"]: r
        for r in check_expectations(
            df,
            {
                "v_positive": F.col("v") > 0,  # -3 fails, NULL fails
                "k_known": F.col("k").isin(1, 2, 3, 4),  # all pass
            },
        ).collect()
    }
    assert rows["v_positive"]["n_rows"] == 4
    assert rows["v_positive"]["n_violations"] == 2
    assert abs(rows["v_positive"]["violation_rate"] - 0.5) < 1e-9
    assert rows["k_known"]["n_violations"] == 0


def _py_morton(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_python_reference(spark):
    from data_lake_with_spark_spark.functions.zorder import zvalue

    pts = [(x, y) for x in (0, 1, 5, 127, 255) for y in (0, 3, 64, 200, 255)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zvalue(F.col("x"), F.col("y"), bits=8)).collect()
    }
    assert got == {(x, y): _py_morton(x, y, 8) for x, y in pts}
    # interleave is a bijection on the grid -> all codes distinct
    assert len(set(got.values())) == len(pts)


def test_zordered_layout_tightens_both_dims(spark, tmp_path):
    """Per-file min/max of the SECOND dimension must be far tighter
    under z-order than under a single-key sort (where y is scattered
    across every file and zone maps cannot prune a y-predicate)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from data_lake_with_spark_spark.sources.sinks import write_sorted, write_zordered

    n = 64
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], ["x", "y"]
    )
    zpath, spath = str(tmp_path / "zord"), str(tmp_path / "lin")
    write_zordered(grid, zpath, "x", "y", bits=6, num_partitions=16)
    write_sorted(grid, spath, ["x"], num_partitions=16)

    def mean_y_span(path):
        spans = []
        for f in Path(path).glob("*.parquet"):
            md = pq.ParquetFile(f).metadata
            ycol = [
                md.row_group(0).column(i).path_in_schema
                for i in range(md.row_group(0).num_columns)
            ].index("y")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ycol).statistics
                spans.append(st.max - st.min)
        return sum(spans) / len(spans)

    z_span, lin_span = mean_y_span(zpath), mean_y_span(spath)
    # linear sort leaves y spanning ~the full [0, 64) domain per file;
    # z-order confines each file to a fraction of it
    assert lin_span > n * 0.8
    assert z_span < lin_span / 2

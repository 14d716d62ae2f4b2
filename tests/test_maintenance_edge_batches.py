"""Edge batches through the copy-on-write commit path of all five index
families: merging an empty batch and deleting ids the index does not
hold must change no partition and serve exactly what the base serves,
in both the links and the manifest layout."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_spark.operators import graph, similarity, text

DIM, M = 4, 2


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _vectors(spark):
    rnd = random.Random(5)
    return spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(DIM)]) for i in range(60)],
        ["vec_id", "embedding"],
    )


def _ivf(spark, path):
    corpus = _vectors(spark)
    similarity.build_ivf_index(corpus, path, centroid_mod=10)
    queries = corpus.where(F.col("vec_id") < 3)
    return (
        corpus.limit(0),
        lambda p: similarity.ivf_topk_indexed(spark, p, queries, k=3, nprobe=2),
        similarity.merge_ivf_index,
        similarity.delete_from_ivf_index,
        "vec_id",
    )


def _pq(spark, path):
    corpus = _vectors(spark)
    similarity.build_pq_index(
        corpus, path, dim=DIM, m=M, centroid_mod=10, n_buckets=4
    )
    queries = corpus.where(F.col("vec_id") < 3)
    return (
        corpus.limit(0),
        lambda p: similarity.pq_topk_indexed(spark, p, queries, k=3),
        similarity.merge_pq_index,
        similarity.delete_from_pq_index,
        "vec_id",
    )


def _ivfpq(spark, path):
    corpus = _vectors(spark)
    similarity.build_ivfpq_index(
        corpus, path, dim=DIM, m=M, centroid_mod=10, n_buckets=2
    )
    queries = corpus.where(F.col("vec_id") < 3)
    return (
        corpus.limit(0),
        lambda p: similarity.ivfpq_topk_indexed(
            spark, p, queries, k=3, nprobe=2
        ),
        similarity.merge_ivfpq_index,
        similarity.delete_from_ivfpq_index,
        "vec_id",
    )


def _bm25(spark, path):
    words = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(i, f"{words[i % 12]} {words[(i * 5) % 12]}") for i in range(40)],
        ["doc_id", "text"],
    )
    text.build_bm25_index(docs, path, n_buckets=4)
    queries = spark.createDataFrame(
        [(1, "w1 w5"), (2, "w3")], ["query_id", "text"]
    )
    return (
        docs.limit(0),
        lambda p: text.bm25_topk_indexed(spark, p, queries, k=3),
        text.merge_bm25_index,
        text.delete_from_bm25_index,
        "doc_id",
    )


def _related(spark, path):
    rnd = random.Random(9)
    baskets = spark.createDataFrame(
        [(b, it) for b in range(30) for it in rnd.sample(range(10), 3)],
        ["basket", "item"],
    )
    graph.build_related_items_state(
        baskets, path, k=3, min_count=1, n_buckets=4
    )
    return (
        baskets.limit(0),
        lambda p: graph.related_items_topk(spark, p),
        graph.merge_related_items_state,
        graph.delete_from_related_items_state,
        "basket",
    )


FAMILIES = {
    "ivf": _ivf,
    "pq": _pq,
    "ivfpq": _ivfpq,
    "bm25": _bm25,
    "related_items": _related,
}


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """One base per family, built on first use and shared by both
    layouts, with the rows it serves."""
    built = {}

    def get(family):
        if family not in built:
            path = str(tmp_path_factory.mktemp(family) / "base")
            empty, serve, merge, delete, id_col = FAMILIES[family](spark, path)
            built[family] = (path, empty, serve, merge, delete, id_col)
            built[family] += (_rows(serve(path)),)
        return built[family]

    return get


@pytest.mark.parametrize("layout", ["links", "manifest"])
@pytest.mark.parametrize("family", list(FAMILIES))
def test_empty_merge_and_absent_delete_change_nothing(
    spark, tmp_path, bases, family, layout
):
    path, empty, serve, merge, delete, id_col, expected = bases(family)
    assert expected, f"{family} fixture serves nothing"

    merged = str(tmp_path / "merged")
    stats = merge(spark, path, empty, merged, layout=layout)
    assert stats["changed_partitions"] == []
    assert _rows(serve(merged)) == expected

    absent = spark.createDataFrame([(1000,), (1001,)], [id_col])
    deleted = str(tmp_path / "deleted")
    stats = delete(spark, path, absent, deleted, layout=layout)
    assert stats["changed_partitions"] == []
    assert _rows(serve(deleted)) == expected

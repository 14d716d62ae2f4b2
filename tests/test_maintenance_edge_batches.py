"""Edge batches through the copy-on-write commit path of all five index
families: merging an empty batch and deleting ids the index does not
hold must change no partition and serve exactly what the base serves.
For the three vector families an upsert batch must leave the same
components and serve the same rows as a from-scratch build over the
merged corpus, and a batch holding a frozen quantizer's source id must
raise before writing."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_spark.operators import graph, similarity, text
from data_lake_with_spark_spark.sources import cow

DIM, M = 4, 2


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _vectors(spark):
    rnd = random.Random(5)
    return spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(DIM)]) for i in range(60)],
        ["vec_id", "embedding"],
    )


# the vector builds; quantizer seeds are the id % 10 stripes (IVF and
# IVFPQ centroids ≡ 0, PQ codebooks ≡ 0, IVFPQ codebooks ≡ 1)
VEC_BUILDS = {
    "ivf": lambda c, p: similarity.build_ivf_index(c, p, centroid_mod=10),
    "pq": lambda c, p: similarity.build_pq_index(
        c, p, dim=DIM, m=M, centroid_mod=10, n_buckets=4
    ),
    "ivfpq": lambda c, p: similarity.build_ivfpq_index(
        c, p, dim=DIM, m=M, centroid_mod=10, n_buckets=2
    ),
}


def _ivf(spark, path):
    corpus = _vectors(spark)
    VEC_BUILDS["ivf"](corpus, path)
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
    VEC_BUILDS["pq"](corpus, path)
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
    VEC_BUILDS["ivfpq"](corpus, path)
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


@pytest.mark.parametrize("layout", ["manifest"])
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


def _cells(spark, path, family, ids):
    comp = similarity._VEC_LAYOUT[family][0]
    rows = cow.read_component(spark, path, comp).where(F.col("vec_id").isin(ids))
    return dict(rows.select("vec_id", "cent_id").distinct().collect())


#: the frozen-source error of each vector family: its op, the source
#: kind and the flag that turns the check off
FROZEN_ERRORS = {
    "ivf": r"merge_ivf_index: .*centroid-source.*validate_centroids=False",
    "pq": r"merge_pq_index: .*codebook-source.*validate_codebooks=False",
    "ivfpq": r"merge_ivfpq_index: .*codebook-source.*validate_frozen=False",
}


@pytest.fixture(scope="module")
def rebuilt(tmp_path_factory):
    """One from-scratch build per family over its merged corpus."""
    built = {}

    def get(family, corpus):
        if family not in built:
            built[family] = str(tmp_path_factory.mktemp(family) / "rebuilt")
            VEC_BUILDS[family](corpus, built[family])
        return built[family]

    return get


@pytest.mark.parametrize("layout", ["manifest"])
@pytest.mark.parametrize("family", list(VEC_BUILDS))
def test_vector_upsert_equals_rebuild(
    spark, tmp_path, bases, rebuilt, family, layout
):
    path, _empty, serve, merge, _delete, _id, _expected = bases(family)
    base_rows = {r[0]: list(r[1]) for r in _vectors(spark).collect()}
    # ids 2 and 3 are replaced (off every seed stripe); 2 takes the
    # direction of a centroid source in another cell, so it moves cells
    # where the family has cells; 62, 63 and 75 are fresh
    moved, target = {}, 20
    if family != "pq":
        (cell,) = _cells(spark, path, family, [2]).values()
        target = next(c for c in range(0, 60, 10) if c != cell)
        moved = {2: target}
    batch = {
        2: [1.5 * x for x in base_rows[target]],
        3: [0.5, -0.25, 0.75, 0.1],
        62: [0.2, 0.4, -0.6, 0.8],
        63: [-0.9, 0.1, 0.3, -0.2],
        75: [0.05, -0.5, 0.5, 0.25],
    }
    schema = "vec_id long, embedding array<double>"
    merged_corpus = spark.createDataFrame(
        sorted({**base_rows, **batch}.items()), schema
    )
    out = str(tmp_path / "merged")
    new = spark.createDataFrame(sorted(batch.items()), schema)
    stats = merge(spark, path, new, out, layout=layout)
    assert stats["changed_partitions"]
    if moved:
        assert _cells(spark, out, family, [2]) == moved

    scratch = rebuilt(family, merged_corpus)
    for comp in similarity._vec_components(family):
        assert _rows(cow.read_component(spark, out, comp)) == _rows(
            cow.read_component(spark, scratch, comp)
        ), comp
    assert _rows(serve(out)) == _rows(serve(scratch))

    # a frozen-source id (10: IVF/IVFPQ centroid, PQ codebook; 11: IVFPQ
    # codebook) raises before anything is written
    stale = 11 if family == "ivfpq" else 10
    failed = str(tmp_path / "failed")
    new = spark.createDataFrame([(stale, batch[3])], schema)
    with pytest.raises(ValueError, match=FROZEN_ERRORS[family]):
        merge(spark, path, new, failed, layout=layout)
    assert not os.path.exists(failed)

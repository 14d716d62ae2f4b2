"""Schema records of index components: after a build, a merge, a delete
and a compaction, ``cow.read_component`` resolves every component of
all five index families to the schema Parquet footer inference gives
for the same files, without running a Spark job — in the links and the
manifest layout. A fully emptied component still serves its columns,
and a layout without schema records (written before records existed)
still reads through footer inference."""

from __future__ import annotations

import glob
import json
import os
import random

import pytest
from pyspark.sql.types import StructType

from data_lake_with_spark_spark.operators import graph, similarity, text
from data_lake_with_spark_spark.sources import cow
from tools.job_audit import _next_job_id

DIM, M = 4, 2


def _vectors(spark, ids, seed=5):
    rnd = random.Random(seed)
    return spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(DIM)]) for i in ids],
        "vec_id long, embedding array<float>",
    )


def _docs(spark, ids):
    words = [f"w{i}" for i in range(12)]
    return spark.createDataFrame(
        [(i, f"{words[i % 12]} {words[(i * 5) % 12]}") for i in ids],
        "doc_id long, text string",
    )


def _baskets(spark, ids):
    rnd = random.Random(9)
    return spark.createDataFrame(
        [(b, it) for b in ids for it in rnd.sample(range(10), 3)],
        "basket long, item long",
    )


# family: (corpus, build, merge, delete, compact, id column, components)
# Fresh vector ids avoid the quantizer source stripes (id % 10 in {0, 1}).
FAMILIES = {
    "ivf": (
        _vectors,
        lambda df, p: similarity.build_ivf_index(df, p, centroid_mod=10),
        similarity.merge_ivf_index,
        similarity.delete_from_ivf_index,
        similarity.compact_ivf_index,
        "vec_id",
        ["lists", "centroids"],
    ),
    "pq": (
        _vectors,
        lambda df, p: similarity.build_pq_index(
            df, p, dim=DIM, m=M, centroid_mod=10, n_buckets=4
        ),
        similarity.merge_pq_index,
        similarity.delete_from_pq_index,
        similarity.compact_pq_index,
        "vec_id",
        ["codes", "codebooks"],
    ),
    "ivfpq": (
        _vectors,
        lambda df, p: similarity.build_ivfpq_index(
            df, p, dim=DIM, m=M, centroid_mod=10, n_buckets=2
        ),
        similarity.merge_ivfpq_index,
        similarity.delete_from_ivfpq_index,
        similarity.compact_ivfpq_index,
        "vec_id",
        ["codes", "centroids", "codebooks"],
    ),
    "bm25": (
        _docs,
        lambda df, p: text.build_bm25_index(df, p, n_buckets=4),
        text.merge_bm25_index,
        text.delete_from_bm25_index,
        text.compact_bm25_index,
        "doc_id",
        ["postings", "doclens", "stats"],
    ),
    "related_items": (
        _baskets,
        lambda df, p: graph.build_related_items_state(
            df, p, k=3, min_count=1, n_buckets=4
        ),
        graph.merge_related_items_state,
        graph.delete_from_related_items_state,
        graph.compact_related_items_state,
        "basket",
        ["pairs", "items", "baskets", "topk"],
    ),
}
BASE_IDS = range(60)
MERGE_IDS = [62, 63, 64, 65, 66, 67]
DELETE_IDS = [2, 3, 4, 5]


def _inferred(spark, path, comp):
    """The schema footer inference gives for the files ``comp``
    resolves to (the manifest's owner reads, without a schema)."""
    m = cow.read_manifest(spark, path, comp)
    if m is None:
        return spark.read.parquet(f"{path}/{comp}").schema
    if m.get("whole"):
        return spark.read.parquet(m["whole"]).schema
    by_owner: dict[str, list[str]] = {}
    for name, owner in m["entries"].items():
        by_owner.setdefault(owner, []).append(name)
    frames = [
        spark.read.option("basePath", o).parquet(*[f"{o}/{n}" for n in sorted(ns)])
        for o, ns in sorted(by_owner.items())
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.schema


def _read_schema(spark, path, comp):
    """``read_component``'s schema and the Spark jobs its planning ran."""
    j0 = _next_job_id(spark)
    schema = cow.read_component(spark, path, comp).schema
    return schema, _next_job_id(spark) - j0


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """One plain build per family, shared by both layouts."""
    built = {}

    def get(family):
        if family not in built:
            path = str(tmp_path_factory.mktemp(family) / "base")
            corpus = FAMILIES[family][0]
            FAMILIES[family][1](corpus(spark, BASE_IDS), path)
            built[family] = path
        return built[family]

    return get


@pytest.mark.parametrize("layout", ["links", "manifest"])
@pytest.mark.parametrize("family", list(FAMILIES))
def test_component_schema_record(spark, tmp_path, bases, family, layout):
    corpus, _build, merge, delete, compact, id_col, comps = FAMILIES[family]
    base = bases(family)
    ids = lambda xs: spark.createDataFrame([(i,) for i in xs], f"{id_col} long")  # noqa: E731
    merged, deleted = str(tmp_path / "merged"), str(tmp_path / "deleted")
    compacted, emptied = str(tmp_path / "compacted"), str(tmp_path / "emptied")
    merge(spark, base, corpus(spark, MERGE_IDS), merged, layout=layout)
    delete(spark, merged, ids(DELETE_IDS), deleted, layout=layout)
    compact(spark, deleted, compacted)

    for path in (base, merged, deleted, compacted):
        for comp in comps:
            schema, jobs = _read_schema(spark, path, comp)
            assert jobs == 0, (path, comp)
            assert schema == _inferred(spark, path, comp), (path, comp)

    # delete every surviving id: the partitioned component keeps its
    # columns (the compacted epoch's schema) with no partition left
    survivors = sorted(set(BASE_IDS) - set(DELETE_IDS)) + MERGE_IDS
    delete(spark, compacted, ids(survivors), emptied, layout=layout)
    for comp in comps:
        schema, jobs = _read_schema(spark, emptied, comp)
        assert jobs == 0, comp
        assert schema == _read_schema(spark, compacted, comp)[0], comp
    assert cow.read_component(spark, emptied, comps[0]).count() == 0

    # a layout without schema records reads through footer inference
    expected = {
        (p, c): _read_schema(spark, p, c)[0]
        for p in (merged, compacted)
        for c in comps
    }
    records = glob.glob(f"{tmp_path}/*/*/_schema.json")
    assert records
    for rec in records:
        os.remove(rec)
    for (path, comp), schema in expected.items():
        got = cow.read_component(spark, path, comp)
        assert got.schema == schema == _inferred(spark, path, comp), (path, comp)
        assert got.count() > 0, (path, comp)
    if family in ("ivf", "ivfpq"):
        served = similarity.ivf_topk_indexed if family == "ivf" else similarity.ivfpq_topk_indexed
        qs = corpus(spark, [100], seed=11)
        assert served(spark, compacted, qs, k=2, nprobe=2).count() == 2
    if family == "bm25":
        qs = spark.createDataFrame([(1, "w1 w5")], "query_id long, text string")
        assert text.bm25_topk_indexed(spark, compacted, qs, k=3).count()


def test_recordless_empty_related_items_component(spark, tmp_path):
    """A related-items state without schema records whose plain
    ``topk`` is legitimately empty (no pair reaches ``min_count``, so
    the directory holds only ``_SUCCESS``) serves the columns its
    ``ri_meta.json`` recorded."""
    path = str(tmp_path / "state")
    graph.build_related_items_state(
        _baskets(spark, range(30)), path, k=3, min_count=50, n_buckets=1
    )
    assert not glob.glob(f"{path}/topk/*.parquet")
    records = glob.glob(f"{path}/*/_schema.json")
    assert len(records) == 4
    for rec in records:
        os.remove(rec)
    recorded = cow.read_json(spark, f"{path}/ri_meta.json")["schemas"]["topk"]
    columns = [
        (f.name, f.dataType.simpleString())
        for f in StructType.fromJson(json.loads(recorded)).fields
    ]
    topk = cow.read_component(spark, path, "topk")
    assert [(f.name, f.dataType.simpleString()) for f in topk.schema] == columns
    assert topk.count() == 0
    served = graph.related_items_topk(spark, path)
    assert served.columns == ["item", "other", "n_ab", "score", "rank"]
    assert served.count() == 0
    # the non-empty components still read through footer inference
    assert cow.read_component(spark, path, "pairs").count() > 0

"""Schema records of index components: after a build, a merge, a delete
and a compaction, ``cow.read_component`` resolves every component of
all five index families to the schema Parquet footer inference gives
for the same files, without running a Spark job — through a plain
layout and the manifest epochs that maintain it. A fully emptied
component still serves its columns, and a component without a schema
record raises."""

from __future__ import annotations

import os
import random
import shutil

import pytest

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
    """One plain build per family."""
    built = {}

    def get(family):
        if family not in built:
            path = str(tmp_path_factory.mktemp(family) / "base")
            corpus = FAMILIES[family][0]
            FAMILIES[family][1](corpus(spark, BASE_IDS), path)
            built[family] = path
        return built[family]

    return get


@pytest.mark.parametrize("layout", ["manifest"])
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


def test_component_without_schema_record_raises(spark, tmp_path, bases):
    """An index component missing its ``_schema.json`` (a layout from
    before schema records) has no second read path: ``read_component``
    raises, naming the directory and asking for a rebuild."""
    path = str(tmp_path / "copy")
    shutil.copytree(bases("ivf"), path)
    os.remove(f"{path}/lists/_schema.json")
    with pytest.raises(FileNotFoundError, match="rebuild") as err:
        cow.read_component(spark, path, "lists")
    assert repr(f"{path}/lists") in str(err.value)
    # the component that kept its record still reads
    assert cow.read_component(spark, path, "centroids").count() > 0

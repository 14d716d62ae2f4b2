"""Serve path of the persisted BM25, IVF and IVFPQ indexes: job budgets,
driver-side frames planned as local relations, the bounded driver
collect, common-term pruning on maintained layouts, and tok-sorted
BM25 postings files."""

from __future__ import annotations

import glob
import os
import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_spark.operators import similarity, text
from tools.job_audit import _next_job_id

WORDS = [f"w{i}" for i in range(30)]
DIM = 8


def _docs(spark, ids, seed=3):
    rnd = random.Random(seed)
    rows = []
    for i in ids:
        # a Zipf-ish vocabulary: the head words sit in most documents
        n = rnd.randint(3, 12)
        words = [WORDS[min(int(rnd.paretovariate(0.7)) - 1, 29)] for _ in range(n)]
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark, texts):
    return spark.createDataFrame(
        [(900 + i, t) for i, t in enumerate(texts)], "query_id long, text string"
    )


def _vectors(spark, ids, seed=7):
    rnd = random.Random(seed)
    return spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(DIM)]) for i in ids],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def bm25_layouts(spark, tmp_path_factory):
    """A plain build over docs 20..199 and its manifest merge epoch
    adding docs 0..19."""
    root = tmp_path_factory.mktemp("bm25")
    plain, merged = str(root / "plain"), str(root / "merged")
    docs = _docs(spark, range(200))
    text.build_bm25_index(docs.where(F.col("doc_id") >= 20), plain, n_buckets=4)
    text.merge_bm25_index(
        spark, plain, docs.where(F.col("doc_id") < 20), merged, layout="manifest"
    )
    return {"plain": plain, "manifest": merged, "docs": docs, "root": root}


@pytest.fixture(scope="module")
def ivfpq_layouts(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ivfpq")
    plain, merged = str(root / "plain"), str(root / "merged")
    vecs = _vectors(spark, range(160))
    similarity.build_ivfpq_index(
        vecs.where(F.col("vec_id") >= 10), plain, dim=DIM, m=4,
        centroid_mod=15, n_buckets=2,
    )
    similarity.merge_ivfpq_index(
        spark, plain, vecs.where(F.col("vec_id") < 10), merged,
        layout="manifest",
    )
    return {"plain": plain, "manifest": merged, "vecs": vecs}


def _jobs(spark, thunk):
    j0 = _next_job_id(spark)
    out = thunk()
    return _next_job_id(spark) - j0, out


@pytest.mark.parametrize("layout", ["plain", "manifest"])
def test_bm25_serve_job_budget_and_local_relation(spark, bm25_layouts, layout):
    """One query's serve, collect included, runs at most 12 Spark jobs;
    its query-term frame plans as a LocalRelation (a PythonRDD-backed
    frame would show as LogicalRDD and start Python workers)."""
    path = bm25_layouts[layout]
    served = text.bm25_topk_indexed(spark, path, _queries(spark, ["w0 w3 w7"]), k=5)
    plan = served._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    n, rows = _jobs(
        spark,
        lambda: text.bm25_topk_indexed(
            spark, path, _queries(spark, ["w1 w2 w5"]), k=5
        ).collect(),
    )
    assert rows and n <= 12, n


@pytest.mark.parametrize("layout", ["plain", "manifest"])
def test_ivfpq_serve_job_budget_and_local_relation(spark, ivfpq_layouts, layout):
    path = ivfpq_layouts[layout]
    qs = ivfpq_layouts["vecs"].where(F.col("vec_id") == 3)
    served = similarity.ivfpq_topk_indexed(spark, path, qs, k=5, nprobe=2)
    plan = served._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    q = _vectors(spark, [5000], seed=11)
    n, rows = _jobs(
        spark,
        lambda: similarity.ivfpq_topk_indexed(spark, path, q, k=5, nprobe=2).collect(),
    )
    assert rows and n <= 11, n


def test_bm25_indexed_equals_inline_with_max_df_pruning(spark, bm25_layouts):
    """Common-term pruning on the served path: both layouts score
    exactly like the inline bm25_topk over the same corpus, and the
    pruning engages (the head word's df is above half the corpus)."""
    docs = bm25_layouts["docs"]
    qs = _queries(spark, ["w0 w4", "w0 w1 w9", "w2 w6 w13"])
    inline = sorted(map(tuple, text.bm25_topk(docs, qs, k=5, max_df_ratio=0.5).collect()))
    full = sorted(map(tuple, text.bm25_topk(docs, qs, k=5).collect()))
    assert inline and inline != full
    for layout in ("plain", "manifest"):
        path = bm25_layouts[layout]
        if layout == "plain":
            exp = sorted(map(tuple, text.bm25_topk(
                docs.where(F.col("doc_id") >= 20), qs, k=5, max_df_ratio=0.5
            ).collect()))
        else:
            exp = inline
        got = sorted(map(tuple, text.bm25_topk_indexed(
            spark, path, qs, k=5, max_df_ratio=0.5
        ).collect()))
        assert got == exp, layout


def test_serve_driver_collect_bound(spark, bm25_layouts, tmp_path, monkeypatch):
    """A batch of exactly the bound's rows serves; one row more raises
    and names the unbounded operator to use instead."""
    monkeypatch.setattr(text, "BM25_MAX_QUERY_TERMS", 3)
    path = bm25_layouts["plain"]
    assert text.bm25_topk_indexed(spark, path, _queries(spark, ["w0 w1 w2"])).count()
    with pytest.raises(ValueError, match="bm25_topk"):
        text.bm25_topk_indexed(spark, path, _queries(spark, ["w0 w1", "w2 w3"]))

    monkeypatch.setattr(similarity, "IVF_MAX_PROBE_ROWS", 3)
    vecs = _vectors(spark, range(60))
    ivf = str(tmp_path / "ivf")
    similarity.build_ivf_index(vecs, ivf, centroid_mod=10)
    ivfpq = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(vecs, ivfpq, dim=DIM, m=4, centroid_mod=10, n_buckets=2)
    # nprobe=1: one probe row per query
    for serve, idx in ((similarity.ivf_topk_indexed, ivf),
                       (similarity.ivfpq_topk_indexed, ivfpq)):
        assert serve(spark, idx, vecs.where(F.col("vec_id") < 3), k=2, nprobe=1).count()
        with pytest.raises(ValueError, match="ivf_topk"):
            serve(spark, idx, vecs.where(F.col("vec_id") < 4), k=2, nprobe=1)


def _postings_files(path):
    files = glob.glob(os.path.join(path, "postings", "tok_bucket=*", "*.parquet"))
    assert files, path
    return files


def test_bm25_postings_files_sorted_by_tok(spark, bm25_layouts):
    """Every postings file of a build, of a manifest merge epoch and of
    a compaction reads back sorted by tok (the row-group skipping the
    serve's ``tok IN (...)`` filter relies on), and the compacted index
    serves exactly what the epoch it compacts serves."""
    merged = bm25_layouts["manifest"]
    compacted = str(bm25_layouts["root"] / "compacted")
    text.compact_bm25_index(spark, merged, compacted)
    for path in (bm25_layouts["plain"], merged, compacted):
        for f in _postings_files(path):
            toks = pq.read_table(f, columns=["tok"]).column("tok").to_pylist()
            assert toks == sorted(toks), f
    qs = _queries(spark, ["w0 w3 w8", "w1 w2"])
    served = [
        sorted(map(tuple, text.bm25_topk_indexed(spark, p, qs, k=5).collect()))
        for p in (merged, compacted)
    ]
    inline = sorted(map(tuple, text.bm25_topk(bm25_layouts["docs"], qs, k=5).collect()))
    assert served[0] == served[1] == inline

"""Persisted PQ index lifecycle (build/serve/merge/delete/compact) —
the third index family's maintenance story (r10 verdict item #2): the
codes are the servable artifact; maintenance must be rebuild-identical
under the frozen-codebook contract and incremental in I/O via the same
CoW promotion machinery as IVF/BM25."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_spark.operators import similarity
from data_lake_with_spark_spark.sources import cow

DIM, M = 8, 4


def _mk_corpus(rnd, ids):
    return [(i, [rnd.uniform(-1, 1) for _ in range(DIM)]) for i in ids]


def _serve(spark, path, queries, k=5):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc_dist"])
        for r in similarity.pq_topk_indexed(spark, path, queries, k=k).collect()
    )


def test_pq_indexed_serving_equals_inline(spark, tmp_path):
    """Serving from the persisted layout is bit-identical to the
    inline pq_codebooks→pq_encode→pq_topk pipeline over the same
    corpus (the q102-vs-q13 parity, PQ side)."""
    rnd = random.Random(11)
    rows = _mk_corpus(rnd, range(120))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    idx = str(tmp_path / "pq")
    similarity.build_pq_index(corpus, idx, dim=DIM, m=M, centroid_mod=10)
    qs = corpus.where(F.col("vec_id") < 4)
    got = _serve(spark, idx, qs)
    cb = similarity.pq_codebooks(corpus, dim=DIM, m=M, centroid_mod=10)
    codes = similarity.pq_encode(corpus, cb, dim=DIM, m=M)
    exp = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc_dist"])
        for r in similarity.pq_topk(codes, cb, qs, k=5, dim=DIM, m=M).collect()
    )
    assert got == exp and len(got) == 4 * 5
    # rerank path too
    rr = similarity.pq_topk_rerank_indexed(
        spark, idx, corpus, qs, k=3, shortlist=20
    )
    rr_exp = similarity.pq_topk_rerank(
        corpus, codes, cb, qs, k=3, shortlist=20, dim=DIM, m=M
    )
    assert sorted(map(tuple, rr.collect())) == sorted(
        map(tuple, rr_exp.collect())
    )


def test_pq_merge_upsert_cow(spark, tmp_path):
    """Upsert (one replace + appends) serves identically to a
    from-scratch build over the merged corpus with the same codebook
    seeds; the epoch writes only the batch ids' hash buckets and its
    manifest points every other bucket at the base."""
    rnd = random.Random(23)
    state = dict(_mk_corpus(rnd, range(200)))
    # appended ids avoid % 10 == 0 so the scratch rebuild derives the
    # SAME codebook seed set the merge carries frozen
    batch = dict(_mk_corpus(rnd, [7, 501, 502, 503]))
    base_idx, out_idx, scratch = (
        str(tmp_path / d) for d in ("b", "o", "s")
    )
    similarity.build_pq_index(
        spark.createDataFrame(sorted(state.items()), ["vec_id", "embedding"]),
        base_idx, dim=DIM, m=M, centroid_mod=10, n_buckets=16,
    )
    stats = similarity.merge_pq_index(
        spark,
        base_idx,
        spark.createDataFrame(sorted(batch.items()), ["vec_id", "embedding"]),
        out_idx,
    )
    state.update(batch)
    # changed set == the batch ids' hash buckets, computed purely
    exp_changed = {
        r["b"]
        for r in spark.createDataFrame(
            [(i,) for i in batch], ["vec_id"]
        ).select(
            F.pmod(F.xxhash64("vec_id"), F.lit(16)).cast("int").alias("b")
        ).collect()
    }
    assert set(map(int, stats["changed_partitions"])) == exp_changed
    # the epoch holds only the changed buckets; the manifest carries
    # every other bucket from the base
    written = {n for n in os.listdir(f"{out_idx}/codes") if "=" in n}
    assert {int(n.split("=")[1]) for n in written} == exp_changed
    entries = cow.read_manifest(spark, out_idx, "codes")["entries"]
    base_owner = f"{base_idx}/codes"
    assert {n for n, o in entries.items() if o != base_owner} == written
    assert stats["promoted_dirs"] == 16 - len(exp_changed)
    assert 0 < cow.written_bytes(f"{out_idx}/codes") < 0.5 * (
        cow.written_bytes(f"{base_idx}/codes")
    )
    similarity.build_pq_index(
        spark.createDataFrame(sorted(state.items()), ["vec_id", "embedding"]),
        scratch, dim=DIM, m=M, centroid_mod=10, n_buckets=16,
    )
    qs = spark.createDataFrame(
        sorted(state.items())[:5], ["vec_id", "embedding"]
    )
    assert _serve(spark, out_idx, qs) == _serve(spark, scratch, qs)
    # replacing a codebook-source id raises (frozen-codebook contract)
    with pytest.raises(ValueError, match="codebook-source"):
        similarity.merge_pq_index(
            spark,
            base_idx,
            spark.createDataFrame(_mk_corpus(rnd, [20]), ["vec_id", "embedding"]),
            str(tmp_path / "x"),
        )


def test_pq_manifest_chain_merge_delete_compact_vacuum(spark, tmp_path):
    """Manifest epochs under a lifecycle root: merge then GDPR delete
    then compact then vacuum; each epoch holds only its changed
    buckets, codebooks stay a whole-ref to the base, delete skips
    buckets holding none of the ids, and the final compacted epoch
    serves rebuild-identically after every older epoch is retired."""
    rnd = random.Random(31)
    state = dict(_mk_corpus(rnd, range(150)))
    batch = dict(_mk_corpus(rnd, [601, 602]))
    dead = [3, 44]
    root = str(tmp_path / "root")

    e0 = cow.new_epoch_path(spark, root)
    similarity.build_pq_index(
        spark.createDataFrame(sorted(state.items()), ["vec_id", "embedding"]),
        e0, dim=DIM, m=M, centroid_mod=10, n_buckets=16,
    )
    cow.set_current(spark, root, e0)

    e1 = cow.new_epoch_path(spark, root, label="merge")
    st1 = similarity.merge_pq_index(
        spark,
        cow.get_current(spark, root),
        spark.createDataFrame(sorted(batch.items()), ["vec_id", "embedding"]),
        e1,
        layout="manifest",
    )
    cow.set_current(spark, root, e1)
    state.update(batch)
    e1_dirs = {
        n.split("=")[1]
        for n in os.listdir(f"{e1}/codes")
        if n.startswith("id_bucket=")
    }
    assert e1_dirs == set(st1["changed_partitions"])
    assert cow.read_manifest(spark, e1, "codebooks")["whole"] == (
        os.path.abspath(f"{e0}/codebooks")
    )

    e2 = cow.new_epoch_path(spark, root, label="gdpr")
    similarity.delete_from_pq_index(
        spark,
        cow.get_current(spark, root),
        spark.createDataFrame([(i,) for i in dead], ["vec_id"]),
        e2,
        layout="manifest",
    )
    cow.set_current(spark, root, e2)
    for i in dead:
        del state[i]
    # an id absent from the index rewrites nothing
    e3 = cow.new_epoch_path(spark, root, label="noop")
    st3 = similarity.delete_from_pq_index(
        spark,
        cow.get_current(spark, root),
        spark.createDataFrame([(999_999,)], ["vec_id"]),
        e3,
        layout="manifest",
    )
    assert st3["changed_partitions"] == []
    cow.set_current(spark, root, e3)

    scratch = str(tmp_path / "scratch")
    similarity.build_pq_index(
        spark.createDataFrame(sorted(state.items()), ["vec_id", "embedding"]),
        scratch, dim=DIM, m=M, centroid_mod=10, n_buckets=16,
    )
    qs = spark.createDataFrame(
        sorted(state.items())[:5], ["vec_id", "embedding"]
    )
    exp = _serve(spark, scratch, qs)
    assert _serve(spark, cow.get_current(spark, root), qs) == exp

    e4 = cow.new_epoch_path(spark, root, label="compact")
    similarity.compact_pq_index(spark, cow.get_current(spark, root), e4)
    cow.set_current(spark, root, e4)
    vac = cow.vacuum_index(spark, root, ["codes", "codebooks"], min_age_seconds=0.0)
    assert sorted(vac["removed"]) == sorted(
        os.path.basename(p) for p in (e0, e1, e2, e3)
    )
    assert cow.list_epochs(spark, root) == [os.path.basename(e4)]
    assert _serve(spark, cow.get_current(spark, root), qs) == exp


def test_build_pq_layout_grain_contract(spark, tmp_path):
    """r12 verdict #5: the IVFPQ leaf-grain rule applied to the PQ
    codes bucket count — too-fine n_buckets warns (strict raises),
    validated BEFORE any component write so a strict failure leaves
    no partial index."""
    rnd = random.Random(5)
    corpus = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(120)],
        ["vec_id", "embedding"],
    )
    with pytest.warns(UserWarning, match="grain too fine"):
        similarity.build_pq_index(
            corpus, str(tmp_path / "warn"), dim=8, m=2,
            centroid_mod=10, n_buckets=32,
        )
    with pytest.raises(ValueError, match="grain too fine"):
        similarity.build_pq_index(
            corpus, str(tmp_path / "strict"), dim=8, m=2,
            centroid_mod=10, n_buckets=32, strict_layout=True,
        )
    assert not os.path.exists(str(tmp_path / "strict"))
    # the documented rule passes at n_buckets <= n/64
    import warnings as _w

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        similarity.build_pq_index(
            corpus, str(tmp_path / "ok"), dim=8, m=2,
            centroid_mod=10, n_buckets=1,
        )
    assert not [w for w in rec if "grain too fine" in str(w.message)]

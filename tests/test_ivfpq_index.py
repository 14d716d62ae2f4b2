"""Persisted IVFPQ index lifecycle (build/serve/merge/delete/compact)
— the fourth index family (the FAISS IndexIVFPQ shape: coarse-cell
pruning × residual-PQ compression): maintenance must be
rebuild-identical under the DOUBLY-frozen quantizer contract (coarse
centroids AND residual codebooks carried verbatim) and incremental in
I/O via the same CoW promotion machinery as IVF/BM25/PQ, with the
top-level hash bucket as the maintenance unit and the nested coarse
cell as the pruning structure (the two-level codes layout)."""

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


def _serve(spark, path, queries, k=5, nprobe=3):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc_dist"])
        for r in similarity.ivfpq_topk_indexed(
            spark, path, queries, k=k, nprobe=nprobe
        ).collect()
    )


def _cell_of(spark, path, vid):
    rows = (
        cow.read_component(spark, path, "codes")
        .where(F.col("vec_id") == vid)
        .select("cent_id")
        .distinct()
        .collect()
    )
    assert len(rows) == 1, f"vec {vid} in {len(rows)} cells"
    return rows[0]["cent_id"]


def test_ivfpq_serving_prunes_and_reranks(spark, tmp_path):
    """Build + serve basics: k results per query from the probed
    cells only; the rerank path returns exact squared-L2 over the
    ADC shortlist; every served neighbor's owning cell is among the
    query's probed cells (residual ADC is only defined same-cell)."""
    rnd = random.Random(11)
    corpus = spark.createDataFrame(
        _mk_corpus(rnd, range(120)), ["vec_id", "embedding"]
    )
    idx = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(corpus, idx, dim=DIM, m=M, centroid_mod=10)
    qs = corpus.where(F.col("vec_id") < 4)
    got = _serve(spark, idx, qs)
    assert len(got) == 4 * 5
    # neighbors come only from probed cells
    cells = {
        r["vec_id"]: r["cent_id"]
        for r in cow.read_component(spark, idx, "codes")
        .select("vec_id", "cent_id")
        .distinct()
        .collect()
    }
    cents = cow.read_component(spark, idx, "centroids")
    probes = {}
    for q in qs.collect():
        qid, qv = q["vec_id"], q["embedding"]
        scored = sorted(
            (
                -round(
                    sum(a * b for a, b in zip(qv, c["cent_v"]))
                    / (
                        (sum(a * a for a in qv) ** 0.5)
                        * (sum(b * b for b in c["cent_v"]) ** 0.5)
                    ),
                    6,
                ),
                c["cent_id"],
            )
            for c in cents.collect()
        )
        probes[qid] = {cid for _, cid in scored[:3]}
    for qid, _rank, nid, _d in got:
        assert cells[nid] in probes[qid], (qid, nid)
    # rerank: exact L2 ordering over the shortlist
    rr = similarity.ivfpq_topk_rerank_indexed(
        spark, idx, corpus, qs, k=3, shortlist=10, nprobe=3
    ).collect()
    assert len(rr) == 4 * 3
    vecs = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
    for r in rr:
        exp = round(
            sum(
                (a - b) * (a - b)
                for a, b in zip(vecs[r["neighbor_id"]], vecs[r["query_id"]])
            ),
            6,
        )
        assert abs(r["l2_dist"] - exp) < 1e-9


@pytest.mark.parametrize("family", ["ivf", "ivfpq"])
def test_ivfpq_arrow_assignment_parity(spark, tmp_path, family):
    """The Arrow argmax assignment path (vec_dim set) and the pure-SQL
    min_by path build bit-identical IVF and IVFPQ indexes — same cells,
    same codes, same served results — with the window's tie semantics:
    vector 33 sits at an exact cosine tie between the duplicate
    centroids 10 and 20, the zero vector 37 has a NULL cosine to every
    centroid, and each goes to the lowest cent_id of its candidates."""
    rnd = random.Random(43)
    vecs = dict(_mk_corpus(rnd, range(130)))
    vecs[20] = vecs[10]
    vecs[33] = [2 * x for x in vecs[10]]
    vecs[37] = [0.0] * DIM
    corpus = spark.createDataFrame(sorted(vecs.items()), ["vec_id", "embedding"])
    qs = corpus.where(F.col("vec_id") < 4)
    if family == "ivf":
        comp, cols = "lists", ["cent_id", "vec_id", "embedding"]
    else:
        comp, cols = "codes", ["id_bucket", "cent_id", "vec_id", "subspace", "code"]
    got, served = {}, {}
    for name, vec_dim in (("sql", None), ("arrow", DIM)):
        path = str(tmp_path / name)
        if family == "ivf":
            similarity.build_ivf_index(
                corpus, path, centroid_mod=10, vec_dim=vec_dim
            )
            served[name] = sorted(
                map(tuple, similarity.ivf_topk_indexed(spark, path, qs).collect())
            )
        else:
            similarity.build_ivfpq_index(
                corpus, path, dim=DIM, m=M, centroid_mod=10, n_buckets=8,
                vec_dim=vec_dim,
            )
            served[name] = _serve(spark, path, qs)
        got[name] = sorted(
            map(tuple, cow.read_component(spark, path, comp).select(*cols).collect())
        )
    assert got["sql"] == got["arrow"]
    assert served["sql"] == served["arrow"]
    cell = {r[cols.index("vec_id")]: r[cols.index("cent_id")] for r in got["sql"]}
    assert (cell[33], cell[37]) == (10, 0), (cell[33], cell[37])


@pytest.mark.slow
def test_ivfpq_rerank_recall_vs_exact(spark, sf_dir, tmp_path):
    """Approximation QUALITY pin (the test_similarity recall
    discipline applied to the composite index): recall@5 of the
    deployed serve path (ADC shortlist-50 + exact re-rank) against
    the exact brute-force L2 baseline on the 500-vector fixture
    corpus, as a function of nprobe. Recall must be monotone in
    nprobe (probe sets are nested) and the shipped q203 config
    (budget-40 cells, nprobe=4) must hold its measured floor — a
    refactor can't silently degrade serving quality."""
    from pyspark.sql import functions as F2

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F2.col("vec_id") < 10)
    # exact squared-L2 top-5 baseline (rerank scores L2, not cosine)
    cv = emb.select(
        F2.col("vec_id").alias("neighbor_id"),
        F2.col("embedding").alias("_cv"),
    )
    qv = q.select(
        F2.col("vec_id").alias("query_id"), F2.col("embedding").alias("_qv")
    )
    from pyspark.sql import Window as W2

    w_rank = W2.partitionBy("query_id").orderBy(
        F2.col("_d").asc(), F2.col("neighbor_id").asc()
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cv.crossJoin(qv)
        .where(F2.col("query_id") != F2.col("neighbor_id"))
        .withColumn(
            "_d", F2.round(similarity.l2sq_expr("_cv", "_qv"), 6)
        )
        .withColumn("_rn", F2.row_number().over(w_rank))
        .where(F2.col("_rn") <= 5)
        .collect()
    }
    assert len(exact) == 50
    idx = str(tmp_path / "ivfpq500")
    similarity.build_ivfpq_index(
        emb, idx, dim=64, m=8, target_centroids=40, n_buckets=8
    )
    n_cells = cow.read_component(spark, idx, "centroids").count()

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivfpq_topk_rerank_indexed(
                spark, idx, emb, q, k=5, shortlist=50, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    recalls = [recall(n) for n in (2, 4, n_cells)]
    assert recalls == sorted(recalls)  # monotone in nprobe
    # floors measured on the pinned isotropic fixture — ANN's worst
    # case (cf. IVF q13's 0.6 and sign-LSH's 0.02 on the same corpus):
    # nprobe=4 → 0.40, full probe → 0.66 (the residual-PQ m=8
    # shortlist-50 quality cap); floors carry regeneration slack
    assert recalls[1] >= 0.3  # shipped q203 config
    assert recalls[-1] >= 0.55  # every cell probed


@pytest.mark.slow
def test_ivfpq_merge_upsert_cow(spark, tmp_path):
    """Upsert (one replace + appends) serves identically to a
    from-scratch build over the merged corpus with the same seed
    stripes; the changed set is EXACTLY the batch ids' hash buckets (a
    pure function — cell moves stay local to the id's bucket), the
    epoch writes only those buckets (nested cell dirs inside) and its
    manifest points every other bucket at the base."""
    rnd = random.Random(23)
    state = dict(_mk_corpus(rnd, range(200)))
    # appended ids avoid % 10 in (0, 1) so the scratch rebuild derives
    # the SAME centroid and codebook seed sets the merge carries frozen
    batch = dict(_mk_corpus(rnd, [7, 503, 504, 507]))
    base_idx, out_idx, scratch = (str(tmp_path / d) for d in ("b", "o", "s"))
    similarity.build_ivfpq_index(
        spark.createDataFrame(sorted(state.items()), ["vec_id", "embedding"]),
        base_idx, dim=DIM, m=M, centroid_mod=10, n_buckets=16,
    )
    stats = similarity.merge_ivfpq_index(
        spark,
        base_idx,
        spark.createDataFrame(sorted(batch.items()), ["vec_id", "embedding"]),
        out_idx,
    )
    state.update(batch)
    changed = set(map(int, stats["changed_partitions"]))
    # changed set == the batch ids' hash buckets, computed purely
    exp_changed = {
        r["b"]
        for r in spark.createDataFrame(
            [(i,) for i in batch], ["vec_id"]
        ).select(
            F.pmod(F.xxhash64("vec_id"), F.lit(16)).cast("int").alias("b")
        ).collect()
    }
    assert changed == exp_changed
    written = {n for n in os.listdir(f"{out_idx}/codes") if "=" in n}
    assert {int(n.split("=")[1]) for n in written} == changed
    entries = cow.read_manifest(spark, out_idx, "codes")["entries"]
    base_owner = f"{base_idx}/codes"
    assert {n for n, o in entries.items() if o != base_owner} == written
    assert stats["promoted_dirs"] == len(entries) - len(written)
    assert 0 < cow.written_bytes(f"{out_idx}/codes") < 0.5 * (
        cow.written_bytes(f"{base_idx}/codes")
    )
    similarity.build_ivfpq_index(
        spark.createDataFrame(sorted(state.items()), ["vec_id", "embedding"]),
        scratch, dim=DIM, m=M, centroid_mod=10, n_buckets=16,
    )
    qs = spark.createDataFrame(
        sorted(state.items())[:5], ["vec_id", "embedding"]
    )
    assert _serve(spark, out_idx, qs) == _serve(spark, scratch, qs)
    # replacing a centroid-source (id % 10 == 0) or codebook-source
    # (id % 10 == 1) vector raises — the doubly-frozen contract
    for frozen_id in (20, 21):
        with pytest.raises(ValueError, match="frozen"):
            similarity.merge_ivfpq_index(
                spark,
                base_idx,
                spark.createDataFrame(
                    _mk_corpus(rnd, [frozen_id]), ["vec_id", "embedding"]
                ),
                str(tmp_path / f"x{frozen_id}"),
            )


@pytest.mark.slow
def test_ivfpq_manifest_chain_merge_delete_compact_vacuum(spark, tmp_path):
    """Manifest epochs under a lifecycle root: merge then GDPR delete
    then compact then vacuum; each epoch holds only its changed
    buckets (nested cell dirs ride inside), BOTH frozen components
    stay whole-refs to the base, a no-op delete rewrites nothing, and
    the final compacted epoch serves rebuild-identically after every
    older epoch is retired."""
    rnd = random.Random(31)
    state = dict(_mk_corpus(rnd, range(150)))
    batch = dict(_mk_corpus(rnd, [603, 604]))
    dead = [3, 44]
    root = str(tmp_path / "root")

    e0 = cow.new_epoch_path(spark, root)
    similarity.build_ivfpq_index(
        spark.createDataFrame(sorted(state.items()), ["vec_id", "embedding"]),
        e0, dim=DIM, m=M, centroid_mod=10,
    )
    cow.set_current(spark, root, e0)

    e1 = cow.new_epoch_path(spark, root, label="merge")
    st1 = similarity.merge_ivfpq_index(
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
    for comp in ("centroids", "codebooks"):
        assert cow.read_manifest(spark, e1, comp)["whole"] == (
            os.path.abspath(f"{e0}/{comp}")
        )

    e2 = cow.new_epoch_path(spark, root, label="gdpr")
    similarity.delete_from_ivfpq_index(
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
    st3 = similarity.delete_from_ivfpq_index(
        spark,
        cow.get_current(spark, root),
        spark.createDataFrame([(999_999,)], ["vec_id"]),
        e3,
        layout="manifest",
    )
    assert st3["changed_partitions"] == []
    cow.set_current(spark, root, e3)

    scratch = str(tmp_path / "scratch")
    similarity.build_ivfpq_index(
        spark.createDataFrame(sorted(state.items()), ["vec_id", "embedding"]),
        scratch, dim=DIM, m=M, centroid_mod=10,
    )
    qs = spark.createDataFrame(
        sorted(state.items())[:5], ["vec_id", "embedding"]
    )
    exp = _serve(spark, scratch, qs)
    assert _serve(spark, cow.get_current(spark, root), qs) == exp

    e4 = cow.new_epoch_path(spark, root, label="compact")
    similarity.compact_ivfpq_index(spark, cow.get_current(spark, root), e4)
    cow.set_current(spark, root, e4)
    vac = cow.vacuum_index(spark, root, ["codes", "centroids", "codebooks"], min_age_seconds=0.0)
    assert sorted(vac["removed"]) == sorted(
        os.path.basename(p) for p in (e0, e1, e2, e3)
    )
    assert cow.list_epochs(spark, root) == [os.path.basename(e4)]
    assert _serve(spark, cow.get_current(spark, root), qs) == exp


def test_ivfpq_build_degenerate_stripe_raises(spark, tmp_path):
    """Review-finding guards: centroid_mod=1 (corpus <= centroid
    budget) would make the offset-1 codebook stripe match NOTHING and
    the index silently serve zero results — both degenerate shapes
    raise at build time instead."""
    rnd = random.Random(3)
    tiny = spark.createDataFrame(
        _mk_corpus(rnd, range(20)), ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="centroid_mod=1"):
        similarity.build_ivfpq_index(
            tiny, str(tmp_path / "a"), dim=DIM, m=M, target_centroids=40
        )
    # stripe exists arithmetically but selects no corpus rows
    evens = spark.createDataFrame(
        _mk_corpus(rnd, range(0, 40, 2)), ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="codebook seed stripe"):
        similarity.build_ivfpq_index(
            evens, str(tmp_path / "b"), dim=DIM, m=M, centroid_mod=2
        )
    # r11 ADVICE: validation precedes every component write, so the
    # failed build leaves NO partial index (no centroids-only dir a
    # later isdir probe could half-trust)
    assert not os.path.exists(str(tmp_path / "b"))
    # the mirror degenerate shape: a corpus with no centroid stripe
    odds = spark.createDataFrame(
        _mk_corpus(rnd, range(1, 41, 2)), ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="centroid seed stripe"):
        similarity.build_ivfpq_index(
            odds, str(tmp_path / "c"), dim=DIM, m=M, centroid_mod=2
        )
    assert not os.path.exists(str(tmp_path / "c"))


def test_ivfpq_build_layout_grain_guard(spark, tmp_path):
    """The MEASUREMENTS_r11 §1b sizing rule is a build-time contract
    (r11 verdict #4): when n_buckets × n_cells leaf dirs average
    fewer than IVFPQ_MIN_ROWS_PER_LEAF rows each, the pruned serve
    loses to a flat scan on per-file open cost — the build warns by
    default, raises under strict_layout=True, and stays silent on a
    well-grained layout."""
    import warnings

    rnd = random.Random(5)
    corpus = spark.createDataFrame(
        _mk_corpus(rnd, range(300)), ["vec_id", "embedding"]
    )
    # 300 rows, centroid_mod=10 → 30 cells; 32 buckets → 960 leaf
    # dirs, 0.3 rows/leaf — deliberately terrible
    with pytest.raises(ValueError, match="layout grain too fine"):
        similarity.build_ivfpq_index(
            corpus, str(tmp_path / "bad"), dim=DIM, m=M,
            centroid_mod=10, n_buckets=32, strict_layout=True,
        )
    assert not os.path.exists(str(tmp_path / "bad"))
    # default mode warns but still builds (toy/test scale)
    with pytest.warns(UserWarning, match="layout grain too fine"):
        similarity.build_ivfpq_index(
            corpus, str(tmp_path / "warned"), dim=DIM, m=M,
            centroid_mod=10, n_buckets=32,
        )
    assert os.path.isdir(str(tmp_path / "warned"))
    # well-grained: 300 rows / (1 bucket × 2 cells) = 150 rows/leaf —
    # no grain warning, and strict mode passes
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        similarity.build_ivfpq_index(
            corpus, str(tmp_path / "good"), dim=DIM, m=M,
            centroid_mod=150, n_buckets=1, strict_layout=True,
        )
    assert not [w for w in caught if "layout grain" in str(w.message)]

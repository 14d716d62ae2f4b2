"""End-to-end GDPR erasure composition — the deployment story the
individually-gated parts (q177 IVF delete, q178 BM25 delete, q197 PQ
delete, q202 IVFPQ delete, q206 related-items delete, lakehouse
delete_keys) add up to: ONE tombstone batch erases a key set from the
versioned TABLE, from ALL FOUR serving indexes, and from the
related-items co-occurrence state (the fifth serving surface — r11
verdict #2), and afterwards the surfaces AGREE on the surviving id
universe while no deleted id can surface from any top-k. README's
lifecycle section points here."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from data_lake_with_spark_spark.operators import similarity, text
from data_lake_with_spark_spark.sources import lakehouse


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


import pytest


@pytest.mark.slow
def test_gdpr_erasure_reaches_table_and_both_indexes(spark, tmp_path):
    rnd = random.Random(42)
    n = 240
    docs_rows = [
        (i, f"alpha{i % 17:02d} beta{i % 29:02d} gamma{i % 7}")
        for i in range(n)
    ]
    vec_rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(n)
    ]
    docs = spark.createDataFrame(docs_rows, ["doc_id", "text"])
    vecs = spark.createDataFrame(vec_rows, ["vec_id", "embedding"])
    table = str(tmp_path / "table")
    bm25_full, bm25_del = str(tmp_path / "bm"), str(tmp_path / "bm_del")
    ivf_full, ivf_del = str(tmp_path / "ivf"), str(tmp_path / "ivf_del")
    pq_full, pq_del = str(tmp_path / "pq"), str(tmp_path / "pq_del")
    ivfpq_full, ivfpq_del = (
        str(tmp_path / "ivfpq"),
        str(tmp_path / "ivfpq_del"),
    )

    # v0 snapshot + all four serving indexes over the full corpus
    lakehouse.merge_upsert(spark, table, docs, ["doc_id"], 0)
    text.build_bm25_index(docs, bm25_full, n_buckets=16)
    similarity.build_ivf_index(vecs, ivf_full, centroid_mod=20)
    similarity.build_pq_index(
        vecs, pq_full, dim=8, m=4, centroid_mod=20, n_buckets=16
    )
    similarity.build_ivfpq_index(
        vecs, ivfpq_full, dim=8, m=4, centroid_mod=20, n_buckets=16
    )

    # the tombstone batch: one GDPR request, one key frame, threaded
    # to all three surfaces (non-centroid ids: the FAISS remove_ids
    # contract keeps centroid anchors; production deletes of a
    # centroid-source id retrain — asserted in test_similarity)
    doomed = sorted({3, 57, 91, 142, 201})
    tomb = spark.createDataFrame([(i,) for i in doomed], ["doc_id"])

    lakehouse.delete_keys(spark, table, tomb, ["doc_id"], 1)
    text.delete_from_bm25_index(spark, bm25_full, tomb, bm25_del)
    similarity.delete_from_ivf_index(
        spark,
        ivf_full,
        tomb.withColumnRenamed("doc_id", "vec_id"),
        ivf_del,
    )
    similarity.delete_from_pq_index(
        spark,
        pq_full,
        tomb.withColumnRenamed("doc_id", "vec_id"),
        pq_del,
    )
    similarity.delete_from_ivfpq_index(
        spark,
        ivfpq_full,
        tomb.withColumnRenamed("doc_id", "vec_id"),
        ivfpq_del,
    )
    # fifth surface: the related-items co-occurrence state, keyed by
    # the user's baskets (same tombstone ids as baskets); the delete
    # is ledger-driven — ids only, no raw feed needed
    from data_lake_with_spark_spark.operators import graph

    ri_rows = [
        (b, it)
        for b in range(n)
        for it in {b % 10, (b + 1) % 10, (b + 3) % 10}
    ]
    ri_df = spark.createDataFrame(ri_rows, ["basket", "item"])
    ri_full, ri_del = str(tmp_path / "ri"), str(tmp_path / "ri_del")
    graph.build_related_items_state(
        ri_df, ri_full, k=5, min_count=2, n_buckets=16
    )
    graph.delete_from_related_items_state(
        spark,
        ri_full,
        tomb.withColumnRenamed("doc_id", "basket"),
        ri_del,
    )

    # 1) the three surfaces agree on the surviving id universe
    snap_ids = {
        r["doc_id"]
        for r in lakehouse.read_snapshot(spark, table)
        .select("doc_id")
        .collect()
    }
    dl_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{bm25_del}/doclens")
        .select("doc_id")
        .collect()
    }
    # lists resolve through read_component: the manifest epoch's dir
    # holds ONLY the changed partitions
    from data_lake_with_spark_spark.sources import cow

    ivf_ids = {
        r["vec_id"]
        for r in cow.read_component(spark, ivf_del, "lists")
        .select("vec_id")
        .collect()
    }
    pq_ids = {
        r["vec_id"]
        for r in cow.read_component(spark, pq_del, "codes")
        .select("vec_id")
        .collect()
    }
    ivfpq_ids = {
        r["vec_id"]
        for r in cow.read_component(spark, ivfpq_del, "codes")
        .select("vec_id")
        .collect()
    }
    expected = set(range(n)) - set(doomed)
    assert snap_ids == dl_ids == ivf_ids == expected
    assert pq_ids == ivfpq_ids == expected
    ri_basket_ids = {
        r["basket"]
        for r in cow.read_component(spark, ri_del, "baskets")
        .select("basket")
        .collect()
    }
    assert ri_basket_ids == expected
    # and the served co-occurrence table carries NO purged-basket
    # signal: it equals the rebuild over the surviving baskets
    surv_ri = ri_df.where(~F.col("basket").isin(doomed))
    got_ri = sorted(
        map(tuple, graph.related_items_topk(spark, ri_del).collect())
    )
    exp_ri = sorted(
        map(tuple, graph.related_items(surv_ri, k=5, min_count=2).collect())
    )
    assert got_ri == exp_ri and len(got_ri) > 0

    # 2) no deleted id surfaces from either serving top-k — queried
    # with the deleted docs' OWN content, the adversarial probe
    probe_q = spark.createDataFrame(
        [(i, docs_rows[i][1]) for i in doomed], ["query_id", "text"]
    )
    bm_hits = text.bm25_topk_indexed(spark, bm25_del, probe_q, k=10)
    assert bm_hits.count() > 0
    assert (
        bm_hits.where(F.col("doc_id").isin(doomed)).count() == 0
    ), "deleted doc served from BM25 top-k"
    probe_v = spark.createDataFrame(
        [(10_000 + i, vec_rows[i][1]) for i in doomed],
        ["vec_id", "embedding"],
    )
    ivf_hits = similarity.ivf_topk_indexed(
        spark, ivf_del, probe_v, k=10, nprobe=3
    )
    assert ivf_hits.count() > 0
    assert (
        ivf_hits.where(F.col("neighbor_id").isin(doomed)).count() == 0
    ), "deleted vector served from IVF top-k"
    pq_hits = similarity.pq_topk_indexed(spark, pq_del, probe_v, k=10)
    assert pq_hits.count() > 0
    assert (
        pq_hits.where(F.col("neighbor_id").isin(doomed)).count() == 0
    ), "deleted vector served from PQ top-k"
    ivfpq_hits = similarity.ivfpq_topk_indexed(
        spark, ivfpq_del, probe_v, k=10, nprobe=3
    )
    assert ivfpq_hits.count() > 0
    assert (
        ivfpq_hits.where(F.col("neighbor_id").isin(doomed)).count() == 0
    ), "deleted vector served from IVFPQ top-k"

    # 3) plan budgets on the post-delete serves: the partition-pruned
    # index layouts survive the copy-on-write delete — BM25 serve
    # stays within its audited exchange budget with zero Python
    # nodes; IVF serve scans only probed cent_id= partitions
    bm_plan = _plan(bm_hits)
    assert bm_plan.count("Exchange") <= 8, bm_plan.count("Exchange")
    assert "BatchEvalPython" not in bm_plan
    ivf_plan = _plan(ivf_hits)
    assert "PartitionFilters: [cent_id" in ivf_plan.replace(
        "PartitionFilters: [dynamic", "PartitionFilters: [cent_id"
    ) or "cent_id" in ivf_plan
    assert "BatchEvalPython" not in ivf_plan


@pytest.mark.slow
def test_gdpr_physical_erasure_delete_compact_vacuum(spark, tmp_path):
    """The REGULATORY composition the delete docstrings require:
    manifest-layout deletes are pointer-level (earlier epochs still
    physically hold the pre-delete partition versions), so physical
    erasure = delete → compact → set_current → vacuum. Afterwards the
    only bytes under the index root are the compacted epoch's, and no
    surviving file holds the deleted ids."""
    from data_lake_with_spark_spark.sources import cow

    docs = spark.createDataFrame(
        [(i, f"alpha{i % 11:02d} beta{i % 19:02d}") for i in range(200)],
        ["doc_id", "text"],
    )
    doomed = [4, 77, 123]
    tomb = spark.createDataFrame([(i,) for i in doomed], ["doc_id"])
    root = str(tmp_path / "root")

    e0 = cow.new_epoch_path(spark, root)
    text.build_bm25_index(docs, e0, n_buckets=16)
    cow.set_current(spark, root, e0)

    e1 = cow.new_epoch_path(spark, root, label="gdpr")
    text.delete_from_bm25_index(
        spark, cow.get_current(spark, root), tomb, e1, layout="manifest"
    )
    cow.set_current(spark, root, e1)

    # pointer-level: the PRE-DELETE bytes still exist in e0 (this is
    # exactly what the docstring warns about)
    import os

    assert os.path.isdir(f"{e0}/postings")
    stale = {
        r["doc_id"]
        for r in spark.read.parquet(f"{e0}/postings").select("doc_id").collect()
    }
    assert set(doomed) <= stale

    e2 = cow.new_epoch_path(spark, root, label="compact")
    text.compact_bm25_index(spark, cow.get_current(spark, root), e2)
    cow.set_current(spark, root, e2)
    vac = cow.vacuum_index(spark, root, ["postings"], min_age_seconds=0.0)
    assert sorted(vac["removed"]) == sorted(
        os.path.basename(p) for p in (e0, e1)
    )
    assert not os.path.exists(e0) and not os.path.exists(e1)
    # physical: the ONLY epoch left is the compacted one, and no file
    # under the root carries the doomed ids
    assert cow.list_epochs(spark, root) == [os.path.basename(e2)]
    for comp in ("postings", "doclens"):
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{e2}/{comp}").select("doc_id").collect()
        }
        assert ids.isdisjoint(doomed)
    # and serving from the stable pointer matches a from-scratch build
    scratch = str(tmp_path / "scratch")
    text.build_bm25_index(
        docs.where(~F.col("doc_id").isin(doomed)), scratch, n_buckets=16
    )
    qs = spark.createDataFrame(
        [(1, "alpha04 beta01"), (2, "beta09")], ["query_id", "text"]
    )
    got = sorted(
        map(
            tuple,
            text.bm25_topk_indexed(
                spark, cow.get_current(spark, root), qs, k=5
            ).collect(),
        )
    )
    exp = sorted(
        map(tuple, text.bm25_topk_indexed(spark, scratch, qs, k=5).collect())
    )
    assert got == exp and len(got) > 0


@pytest.mark.slow
def test_gdpr_physical_erasure_related_items_state(spark, tmp_path):
    """The regulatory tail for the FIFTH surface: a manifest-layout
    related-items delete is pointer-level (earlier epochs still hold
    the pre-delete ledger/pair bytes), so physical erasure = delete →
    compact → set_current → vacuum. Afterwards the only epoch left is
    the compacted one, no surviving file holds the tombstoned basket
    ids, and serving equals a from-scratch build over the survivors."""
    import os

    from data_lake_with_spark_spark.operators import graph
    from data_lake_with_spark_spark.sources import cow

    rows = [
        (b, it)
        for b in range(120)
        for it in {b % 9, (b + 2) % 9, (b + 5) % 9}
    ]
    ri = spark.createDataFrame(rows, ["basket", "item"])
    doomed = [7, 31, 64]
    tomb = spark.createDataFrame([(b,) for b in doomed], ["basket"])
    root = str(tmp_path / "root")

    e0 = cow.new_epoch_path(spark, root)
    graph.build_related_items_state(ri, e0, k=4, min_count=2, n_buckets=8)
    cow.set_current(spark, root, e0)

    e1 = cow.new_epoch_path(spark, root, label="gdpr")
    graph.delete_from_related_items_state(
        spark, cow.get_current(spark, root), tomb, e1, layout="manifest"
    )
    cow.set_current(spark, root, e1)
    # pointer-level: pre-delete ledger bytes still exist in e0
    stale = {
        r["basket"]
        for r in spark.read.parquet(f"{e0}/baskets").select("basket").collect()
    }
    assert set(doomed) <= stale

    e2 = cow.new_epoch_path(spark, root, label="compact")
    graph.compact_related_items_state(
        spark, cow.get_current(spark, root), e2
    )
    cow.set_current(spark, root, e2)
    vac = cow.vacuum_index(
        spark, root, ["pairs", "items", "baskets", "topk"],
        min_age_seconds=0.0,
    )
    assert sorted(vac["removed"]) == sorted(
        os.path.basename(p) for p in (e0, e1)
    )
    assert cow.list_epochs(spark, root) == [os.path.basename(e2)]
    # physical: no file under the root carries the doomed basket ids
    led = {
        r["basket"]
        for r in spark.read.parquet(f"{e2}/baskets").select("basket").collect()
    }
    assert led.isdisjoint(doomed)
    # serving from the pointer equals the survivors-only rebuild
    surv = ri.where(~F.col("basket").isin(doomed))
    scratch = str(tmp_path / "scratch")
    graph.build_related_items_state(
        surv, scratch, k=4, min_count=2, n_buckets=8
    )
    got = sorted(
        map(
            tuple,
            graph.related_items_topk(
                spark, cow.get_current(spark, root)
            ).collect(),
        )
    )
    exp = sorted(
        map(tuple, graph.related_items_topk(spark, scratch).collect())
    )
    assert got == exp and len(got) > 0

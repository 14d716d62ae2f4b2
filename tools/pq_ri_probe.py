"""Scale + written-bytes probe for the round-11 operator classes:

1. PQ index lifecycle at a production-shaped layout (synthetic
   100k×64 corpus, 256 maintenance buckets): build once, merge a
   ~0.33% batch, delete a ~0.33% stripe, and serve — recording the
   written-bytes FRACTION per maintenance call (the MEASUREMENTS_r10
   §1 contract applied to the third index family) and the serve-time
   win of persisted codes vs the inline re-encode path. A second rung
   at 10k gives the decade slope.

2. Incremental related-items maintenance vs from-scratch rebuild on a
   synthetic basket fixture at two decades (30k / 300k baskets, fixed
   ~0.5% batch FRACTION): the serving-table claim is that merge wall
   tracks the batch's graph neighborhood, not history length, so the
   merge/rebuild ratio must WIDEN with scale.

Deterministic xxhash64 synthetics, no RNG (resume-safe, replayable).
Min-of-2 timing per measured call (measurement-hygiene lesson #4).
Usage: python tools/pq_ri_probe.py [--quick]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _min2(fn):
    """Min-of-2 wall: call fn twice (it must be idempotent), return
    (best_seconds, last_result)."""
    best, res = None, None
    for _ in range(2):
        t0 = time.time()
        res = fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 2), res


def main() -> int:
    quick = "--quick" in sys.argv
    sys.path.insert(0, ".")
    from pyspark.sql import functions as F

    from data_lake_with_spark_spark.operators import graph, similarity
    from data_lake_with_spark_spark.session import get_spark
    from data_lake_with_spark_spark.sources import cow

    spark = get_spark(app_name="pq-ri-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}

    # ------------------------------------------------------------------
    # 1) PQ lifecycle, production shape
    # ------------------------------------------------------------------
    dim, m = 64, 8

    def mk_emb(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: (
                    (F.abs(F.xxhash64(F.col("id"), i)) % 1000) / F.lit(500.0)
                    - F.lit(1.0)
                ),
            ).alias("embedding"),
        ).localCheckpoint()

    skip_pq = (
        "--ri-only" in sys.argv
        or "--no-pq" in sys.argv
        or "--ivfpq-only" in sys.argv
        or "--retrain-only" in sys.argv
    )
    for n in ([] if skip_pq else ([10_000] if quick else [10_000, 100_000])):
        emb = mk_emb(n)
        base_idx = tempfile.mkdtemp(prefix="pqp_base_")
        merged_idx = tempfile.mkdtemp(prefix="pqp_merged_")
        del_idx = tempfile.mkdtemp(prefix="pqp_del_")
        try:
            t0 = time.time()
            similarity.build_pq_index(
                emb.where(F.col("vec_id") % 300 != 7),
                base_idx,
                dim=dim,
                m=m,
                target_codes=256,
                # production sizing: bucket count scales with the
                # corpus (fixed per-bucket row budget, the IVF
                # centroid-budget rule) so written bytes stay
                # batch-proportional — the fixed-256 A/B row in
                # MEASUREMENTS_r11.md shows why
                n_buckets=max(64, n // 40),
            )
            build_s = round(time.time() - t0, 2)
            base_bytes = _dir_bytes(f"{base_idx}/codes")
            batch = emb.where(F.col("vec_id") % 300 == 7).localCheckpoint()

            def do_merge():
                shutil.rmtree(merged_idx, ignore_errors=True)
                return similarity.merge_pq_index(
                    spark, base_idx, batch, merged_idx
                )

            merge_s, st = _min2(do_merge)
            w = cow.written_bytes(f"{merged_idx}/codes")
            dead = emb.where(F.col("vec_id") % 300 == 11).select(
                "vec_id"
            ).localCheckpoint()

            def do_delete():
                shutil.rmtree(del_idx, ignore_errors=True)
                return similarity.delete_from_pq_index(
                    spark, base_idx, dead, del_idx
                )

            del_s, st_d = _min2(do_delete)
            w_d = cow.written_bytes(f"{del_idx}/codes")
            qs = emb.where(F.col("vec_id") < 8)

            def serve_indexed():
                return similarity.pq_topk_indexed(
                    spark, merged_idx, qs, k=5
                ).collect()

            def serve_inline():
                cb = similarity.pq_codebooks(
                    emb, dim=dim, m=m, target_codes=256
                )
                codes = similarity.pq_encode(emb, cb, dim=dim, m=m)
                return similarity.pq_topk(
                    codes, cb, qs, k=5, dim=dim, m=m
                ).collect()

            serve_idx_s, _ = _min2(serve_indexed)
            serve_inline_s, _ = _min2(serve_inline)
            out[f"pq_n{n}"] = {
                "n_corpus": n,
                "batch_rows": batch.count(),
                "build_s": build_s,
                "merge_s": merge_s,
                "merge_changed_partitions": len(st["changed_partitions"]),
                "merge_written_fraction": round(w / max(1, base_bytes), 4),
                "delete_s": del_s,
                "delete_changed_partitions": len(st_d["changed_partitions"]),
                "delete_written_fraction": round(
                    w_d / max(1, base_bytes), 4
                ),
                "serve_indexed_s": serve_idx_s,
                "serve_inline_s": serve_inline_s,
            }
            print(json.dumps({f"pq_n{n}": out[f"pq_n{n}"]}))
        finally:
            for p in (base_idx, merged_idx, del_idx):
                shutil.rmtree(p, ignore_errors=True)

    # ------------------------------------------------------------------
    # 1b) IVFPQ lifecycle: two-level (id_bucket, cent_id) layout.
    # The two axes need DIFFERENT toy sizings, so each is measured on
    # its own layout (at production scale both hold at once, because
    # leaf-dir count n_buckets × n_cells ≪ n_rows — GB-sized leaves;
    # at probe scale the maintenance rule n//40 makes the dir product
    # exceed the row count, and directory/listing overhead — not
    # bytes — dominates every wall number):
    #   (a) MAINTENANCE axis: buckets scaled n//40 (the PQ rule) →
    #       written fraction stays batch-proportional;
    #   (b) SERVE axis: few buckets (16), 256 cells → nprobe/n_cells
    #       pruning vs the flat PQ family's compressed FULL scan.
    # ------------------------------------------------------------------
    run_ivfpq = (
        "--ri-only" not in sys.argv and "--retrain-only" not in sys.argv
    )
    for n in ([10_000] if quick else [10_000, 100_000]) if run_ivfpq else []:
        emb = mk_emb(n)
        maint_idx = tempfile.mkdtemp(prefix="ivfpqp_maint_")
        merged_idx = tempfile.mkdtemp(prefix="ivfpqp_merged_")
        del_idx = tempfile.mkdtemp(prefix="ivfpqp_del_")
        serve_idx = tempfile.mkdtemp(prefix="ivfpqp_serve_")
        flatpq_idx = tempfile.mkdtemp(prefix="ivfpqp_flat_")
        try:
            # --- (a) maintenance sizing ---
            t0 = time.time()
            similarity.build_ivfpq_index(
                emb.where(F.col("vec_id") % 300 != 7),
                maint_idx,
                dim=dim,
                m=m,
                # cell budget bounded by assignment cost; maintenance
                # granularity rides the bucket level, NOT the cells —
                # kept small here so leaf-dir count (buckets × cells)
                # doesn't dominate the toy-scale write wall
                target_centroids=16,
                n_buckets=max(64, n // 40),
                vec_dim=dim,
            )
            build_s = round(time.time() - t0, 2)
            base_bytes = _dir_bytes(f"{maint_idx}/codes")
            batch = emb.where(F.col("vec_id") % 300 == 7).localCheckpoint()

            def do_merge():
                shutil.rmtree(merged_idx, ignore_errors=True)
                return similarity.merge_ivfpq_index(
                    spark, maint_idx, batch, merged_idx, vec_dim=dim
                )

            merge_s, st = _min2(do_merge)
            w = cow.written_bytes(f"{merged_idx}/codes")
            dead = emb.where(F.col("vec_id") % 300 == 11).select(
                "vec_id"
            ).localCheckpoint()

            def do_delete():
                shutil.rmtree(del_idx, ignore_errors=True)
                return similarity.delete_from_ivfpq_index(
                    spark, maint_idx, dead, del_idx
                )

            del_s, st_d = _min2(do_delete)
            w_d = cow.written_bytes(f"{del_idx}/codes")

            # --- (b) serve sizing: dirs ≪ rows so the wall measures
            # scan bytes, not directory overhead ---
            similarity.build_ivfpq_index(
                emb, serve_idx, dim=dim, m=m,
                target_centroids=256, n_buckets=16, vec_dim=dim,
            )
            qs = emb.where(F.col("vec_id") < 8)

            def serve_pruned():
                return similarity.ivfpq_topk_indexed(
                    spark, serve_idx, qs, k=5, nprobe=4
                ).collect()

            serve_s, _ = _min2(serve_pruned)
            # structural pruning measurement: fraction of codes BYTES
            # under the probed cent_id= leaf dirs — the number that
            # scales (a toy probe cannot show the WALL win: 2-row
            # leaf files make file-open cost dominate; at production
            # leaf sizes the byte fraction IS the I/O fraction).
            # Probe set mirrors ivfpq_topk_indexed's kernel.
            from pyspark.sql import Window as _W

            cents = spark.read.parquet(f"{serve_idx}/centroids")
            w_p = _W.partitionBy("query_id").orderBy(
                F.col("c").desc(), F.col("cent_id").asc()
            )
            probed = {
                r["cent_id"]
                for r in qs.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                )
                .crossJoin(F.broadcast(cents))
                .withColumn(
                    "c",
                    F.round(similarity.cosine_expr("qv", "cent_v"), 6),
                )
                .withColumn("rn", F.row_number().over(w_p))
                .where(F.col("rn") <= 4)
                .select("cent_id")
                .distinct()
                .collect()
            }
            probed_names = {f"cent_id={c}" for c in probed}
            probed_bytes = total_bytes = 0
            for bucket_dir in os.listdir(f"{serve_idx}/codes"):
                bd = os.path.join(f"{serve_idx}/codes", bucket_dir)
                if not os.path.isdir(bd):
                    continue
                for cell_dir in os.listdir(bd):
                    cd = os.path.join(bd, cell_dir)
                    if not os.path.isdir(cd):
                        continue
                    b = _dir_bytes(cd)
                    total_bytes += b
                    if cell_dir in probed_names:
                        probed_bytes += b
            n_cells_total = cents.count()
            # flat-PQ comparator: same corpus, same codebook budget,
            # compressed FULL scan (no cell pruning)
            similarity.build_pq_index(
                emb, flatpq_idx, dim=dim, m=m, target_codes=256,
                n_buckets=16,
            )

            def serve_flat():
                return similarity.pq_topk_indexed(
                    spark, flatpq_idx, qs, k=5
                ).collect()

            serve_flat_s, _ = _min2(serve_flat)
            out[f"ivfpq_n{n}"] = {
                "n_corpus": n,
                "batch_rows": batch.count(),
                "build_s": build_s,
                "merge_s": merge_s,
                "merge_changed_buckets": len(st["changed_partitions"]),
                "merge_written_fraction": round(w / max(1, base_bytes), 4),
                "delete_s": del_s,
                "delete_changed_buckets": len(st_d["changed_partitions"]),
                "delete_written_fraction": round(
                    w_d / max(1, base_bytes), 4
                ),
                "serve_pruned_s": serve_s,
                "serve_flat_pq_s": serve_flat_s,
                "probed_cells": len(probed),
                "n_cells": n_cells_total,
                "scan_bytes_fraction": round(
                    probed_bytes / max(1, total_bytes), 4
                ),
            }
            print(json.dumps({f"ivfpq_n{n}": out[f"ivfpq_n{n}"]}))
        finally:
            for p in (
                maint_idx, merged_idx, del_idx, serve_idx, flatpq_idx
            ):
                shutil.rmtree(p, ignore_errors=True)

    # ------------------------------------------------------------------
    # 1c) quantizer-retrain recall probe (r11 verdict #3): a DRIFTED
    # corpus — two-cluster mixture, then 90% of cluster 0 erased — so
    # the frozen coarse quantizer anchors ~half its cells on a
    # distribution that is mostly gone (deleted stripe ids keep their
    # anchors, the FAISS remove_ids contract). Measured: recall@5 of
    # the served IVFPQ top-k against exact squared-L2 ground truth
    # over the SURVIVORS, before vs after retrain_ivfpq_index, plus
    # the retrain wall. The claim: retrain recovers the recall the
    # drift cost, at one planned re-encode.
    # ------------------------------------------------------------------
    run_retrain = not any(
        f in sys.argv for f in ("--ri-only", "--ivfpq-only", "--pq-only")
    )
    for n in ([10_000] if quick else [100_000]) if run_retrain else []:
        from pyspark.sql import Window as _W

        # 64 tight clusters (hash-spread centers ±2, within-cluster
        # noise ±0.1): a query's true top-5 are its own-cluster
        # members, so recall@5 measures whether the PROBED cells
        # contain the query's cluster — the coarse-quantizer-quality
        # signal retraining is supposed to restore. (On isotropic
        # noise exact-NN recall under 8-subspace compression is
        # near-random in BOTH states — the first probe design — and
        # no quantizer can show through.) Drift: 90% of clusters
        # 0–31 erased, so half the frozen centroids anchor mostly-
        # dead mass while the live mass shares the other half;
        # retrain re-spreads all 64 cells over the survivors.
        cl = F.col("id") % 64
        emb = (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(dim)),
                    lambda i: (
                        (F.abs(F.xxhash64(cl, i)) % 1000) / F.lit(250.0)
                        - F.lit(2.0)
                        + (F.abs(F.xxhash64(F.col("id"), i)) % 1000)
                        / F.lit(5000.0)
                        - F.lit(0.1)
                    ),
                ).alias("embedding"),
            )
            .localCheckpoint()
        )
        doomed_pred = (F.col("vec_id") % 64 < 32) & (
            F.col("vec_id") % 10 != 0
        )
        survivors = emb.where(~doomed_pred).localCheckpoint()
        root = tempfile.mkdtemp(prefix="retrainp_root_")
        try:
            from data_lake_with_spark_spark.sources import cow as _cow

            e0 = _cow.new_epoch_path(spark, root)
            similarity.build_ivfpq_index(
                emb, e0, dim=dim, m=m, target_centroids=64,
                n_buckets=16, vec_dim=dim,
            )
            _cow.set_current(spark, root, e0)
            e1 = _cow.new_epoch_path(spark, root, label="drift")
            similarity.delete_from_ivfpq_index(
                spark, e0, emb.where(doomed_pred).select("vec_id"), e1
            )
            _cow.set_current(spark, root, e1)
            # queries: 20 survivors of the erased clusters (the
            # minority whose cells went stale) + 20 live-cluster
            qs = survivors.where(
                (F.col("vec_id") % 64 < 32) & (F.col("vec_id") < 2000)
            ).limit(20).unionByName(
                survivors.where(
                    (F.col("vec_id") % 64 >= 32) & (F.col("vec_id") < 2000)
                ).limit(20)
            ).localCheckpoint()
            # exact squared-L2 ground truth over the survivors
            q2 = qs.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
            )
            w_t = _W.partitionBy("query_id").orderBy(
                F.col("d").asc(), F.col("vec_id").asc()
            )
            truth = {
                (r["query_id"], r["vec_id"])
                for r in q2.crossJoin(survivors)
                .withColumn(
                    "d", similarity.l2sq_expr("qv", "embedding")
                )
                .withColumn("rn", F.row_number().over(w_t))
                .where(F.col("rn") <= 5)
                .select("query_id", "vec_id")
                .collect()
            }

            def recall(path):
                got = {
                    (r["query_id"], r["neighbor_id"])
                    for r in similarity.ivfpq_topk_indexed(
                        spark, path, qs, k=5, nprobe=8
                    ).collect()
                }
                return round(len(got & truth) / max(1, len(truth)), 4)

            # staleness report at each stage (r12 verdict #2): the
            # cheap per-epoch signal must MOVE with the drift that
            # recall measures expensively — fresh build baseline,
            # drifted (post-erasure), retrained. Expected movement:
            # erasure guts the stale half's occupancy (occ_min ↓,
            # skew ↑, dead cells possible) while recall decays; the
            # retrain rebalances occupancy and re-fits the codebooks
            # to the survivors (mean_recon_err ↓) while recall
            # recovers — so alerting on the report catches exactly
            # what the corpus-sized recall probe catches.
            def staleness(path, corp):
                t0 = time.time()
                r = similarity.index_staleness_report(
                    spark, path, corp, sample_mod=10
                ).collect()[0]
                return {
                    "dead_cells": r["dead_cells"],
                    "occ_min": r["occ_min"],
                    "occ_max": r["occ_max"],
                    "n_vecs": r["n_vecs"],
                    "n_sampled": r["n_sampled"],
                    "mean_recon_err": round(r["mean_recon_err"], 4),
                    "report_s": round(time.time() - t0, 2),
                }

            st_fresh = staleness(e0, emb)
            st_drift = staleness(_cow.get_current(spark, root), survivors)
            rec_before = recall(_cow.get_current(spark, root))
            t0 = time.time()
            similarity.retrain_ivfpq_index(
                spark, root, survivors, dim=dim, m=m,
                target_centroids=64, vec_dim=dim,
            )
            retrain_s = round(time.time() - t0, 2)
            rec_after = recall(_cow.get_current(spark, root))
            st_post = staleness(_cow.get_current(spark, root), survivors)
            out[f"retrain_n{n}"] = {
                "n_corpus": n,
                "n_survivors": survivors.count(),
                "n_queries": qs.count(),
                "nprobe": 8,
                "recall5_drifted": rec_before,
                "recall5_retrained": rec_after,
                "retrain_s": retrain_s,
                "staleness_fresh": st_fresh,
                "staleness_drifted": st_drift,
                "staleness_retrained": st_post,
            }
            print(json.dumps({f"retrain_n{n}": out[f"retrain_n{n}"]}))
        finally:
            shutil.rmtree(root, ignore_errors=True)

    # ------------------------------------------------------------------
    # 2) related-items incremental vs rebuild, two decades
    # ------------------------------------------------------------------
    def mk_baskets(n_baskets, n_items, start=0, skew=False):
        # ~4 items per basket. skew=False draws items UNIFORMLY (the
        # q199 workload shape — TPC-H parts in lineitem); skew=True
        # squares the hash fraction (sqrt-density head: item 0 alone
        # lands in ~1/sqrt(n_items) of draws — the hub caveat shape)
        u = (F.abs(F.xxhash64("basket", "slot")) % 10_000_000) / F.lit(10_000_000.0)
        frac = F.pow(u, F.lit(2.0)) if skew else u
        return (
            spark.range(start, start + n_baskets)
            .select(
                F.col("id").alias("basket"),
                F.explode(F.sequence(F.lit(1), F.lit(4))).alias("slot"),
            )
            .select(
                "basket",
                (frac * F.lit(n_items)).cast("bigint").alias("item"),
            )
            .localCheckpoint()
        )

    # two fixture shapes per rung: SPARSE (items ~ baskets — the
    # catalog norm: an item sits in a handful of baskets, so a batch's
    # one-hop neighborhood is small) and DENSE/skewed (items = n/15 —
    # every item within one hop of any batch: the honest hub caveat,
    # where affected-items recompute approaches the full rebuild)
    # The claim under test: merge wall tracks the BATCH's graph
    # neighborhood, not history length — so the batch is FIXED (30
    # baskets, a nightly micro-feed) while history grows a decade;
    # rebuild must grow with history while merge stays ~flat. The
    # dense/skewed row is the honest hub caveat (sqrt-density head:
    # any batch hits mega-hubs, whose partner sets approach the
    # catalog, and the affected-item recompute degenerates toward the
    # rebuild).
    shapes = [("sparse", 1), ("dense", 15)]
    ri_rungs = (
        []
        if ("--ivfpq-only" in sys.argv or "--retrain-only" in sys.argv)
        else ([30_000] if quick else [30_000, 300_000, 3_000_000])
    )
    for n_b in ri_rungs:
      for shape, div in shapes:
        if shape == "dense" and n_b > 30_000:
            continue  # one caveat rung is enough
        n_items = max(2_000, n_b // div)
        skew = shape == "dense"
        hist = mk_baskets(n_b, n_items, skew=skew)
        batch = mk_baskets(30, n_items, start=10_000_000, skew=skew)
        base_p = tempfile.mkdtemp(prefix="rip_base_")
        out_p = tempfile.mkdtemp(prefix="rip_out_")
        try:
            t0 = time.time()
            # bucket budget ~150 pair-keys per bucket at probe
            # scale (at 100 TB buckets are GB-sized; 40-row dirs at
            # toy scale would measure filesystem overhead instead)
            nb_buckets = max(256, n_b // 150)
            graph.build_related_items_state(
                hist, base_p, k=10, min_count=2, n_buckets=nb_buckets
            )
            build_s = round(time.time() - t0, 2)


            def do_merge():
                shutil.rmtree(out_p, ignore_errors=True)
                return graph.merge_related_items_state(
                    spark, base_p, batch, out_p
                )

            merge_s, st = _min2(do_merge)
            w_pairs = cow.written_bytes(f"{out_p}/pairs")
            w_topk = cow.written_bytes(f"{out_p}/topk")

            def do_rebuild():
                p = tempfile.mkdtemp(prefix="rip_scratch_")
                try:
                    graph.build_related_items_state(
                        hist.unionByName(batch),
                        p,
                        k=10,
                        min_count=2,
                        n_buckets=nb_buckets,
                    )
                finally:
                    shutil.rmtree(p, ignore_errors=True)

            rebuild_s, _ = _min2(do_rebuild)
            # GDPR-delete leg (round 12): tombstone 30 HISTORY baskets
            # (ledger-driven — ids only), same batch-proportionality
            # contract as the merge; rebuild comparator = build over
            # the survivors
            del_p = tempfile.mkdtemp(prefix="rip_del_")
            doomed = hist.select("basket").distinct().where(
                F.col("basket") % (n_b // 30) == 7
            ).limit(30).localCheckpoint()

            def do_delete():
                shutil.rmtree(del_p, ignore_errors=True)
                return graph.delete_from_related_items_state(
                    spark, base_p, doomed, del_p
                )

            del_s, st_del = _min2(do_delete)
            w_pairs_d = cow.written_bytes(f"{del_p}/pairs")
            w_topk_d = cow.written_bytes(f"{del_p}/topk")
            shutil.rmtree(del_p, ignore_errors=True)
            out[f"ri_{shape}_b{n_b}"] = {
                "n_hist_baskets": n_b,
                "shape": shape,
                "n_items": n_items,
                "n_batch_baskets": 30,
                "state_build_s": build_s,
                "merge_s": merge_s,
                "rebuild_s": rebuild_s,
                "merge_over_rebuild": round(merge_s / max(0.01, rebuild_s), 3),
                "affected_items": st["affected_items"],
                "changed_pair_partitions": len(st["changed_partitions"]),
                "changed_topk_partitions": len(
                    st["changed_topk_partitions"]
                ),
                "pairs_written_fraction": round(
                    w_pairs / max(1, _dir_bytes(f"{base_p}/pairs")), 4
                ),
                "topk_written_fraction": round(
                    w_topk / max(1, _dir_bytes(f"{base_p}/topk")), 4
                ),
                "delete_s": del_s,
                "delete_affected_items": st_del["affected_items"],
                "delete_pairs_written_fraction": round(
                    w_pairs_d / max(1, _dir_bytes(f"{base_p}/pairs")), 4
                ),
                "delete_topk_written_fraction": round(
                    w_topk_d / max(1, _dir_bytes(f"{base_p}/topk")), 4
                ),
            }
            print(json.dumps({f"ri_{shape}_b{n_b}": out[f"ri_{shape}_b{n_b}"]}))
        finally:
            for p in (base_p, out_p):
                shutil.rmtree(p, ignore_errors=True)

    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Codegen-health plan gates (round-6 verdict #2).

The round-6 registration of q113/q114 shipped a cosine expression
whose generated code exceeded janino's 64 KB method limit: every run
logged ``ERROR CodeGenerator ... Code grows beyond 64 KB`` and
silently executed in interpreted fallback — correct results, 2.8×
the intended cost, and a docstring claim ("codegen'd sums") that was
factually wrong. The in-prose caveat ("verify with .explain") did
not prevent it; only a gate does.

Mechanism: ``spark.sql.codegen.fallback=false`` turns silent
interpreted fallback into a hard error, so running a query under it
asserts the ENTIRE plan compiled. The gate is self-proving:
``test_fallback_conf_catches_janino_overflow`` rebuilds the exact
round-6 failure shape (3-sums-in-one unrolled cosine inside a
join+window stage) and asserts it DOES raise under the conf — so a
Spark upgrade that silently changed the conf's semantics would turn
that test red, not quietly hollow out the gate.

Note CodegenFallback *expressions* (higher-order functions like
``aggregate``/``transform``) are unaffected: they are designed to
interpret and never attempt compilation, so fold-based queries stay
green under the conf. What the gate catches is compile *failure*.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_lake_with_spark_spark import queries as Q
from data_lake_with_spark_spark.operators import similarity


@pytest.fixture()
def no_codegen_fallback(spark):
    spark.conf.set("spark.sql.codegen.fallback", "false")
    yield spark
    spark.conf.set("spark.sql.codegen.fallback", "true")


def test_fallback_conf_catches_janino_overflow(no_codegen_fallback, sf_dir):
    """Negative control: the round-6 failure shape must RAISE under
    the conf (proves the gate mechanism is live)."""
    spark = no_codegen_fallback
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.where((F.col("vec_id") % 50) == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_v")
    )
    w = Window.partitionBy("neighbor_id").orderBy(
        F.col("cos_c").desc(), F.col("cent_id").asc()
    )
    bad = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
        .crossJoin(F.broadcast(cents))
        .withColumn("cos_c", F.round(similarity.cosine_expr("cv", "cent_v", 64), 6))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    with pytest.raises(Exception, match="(?i)compil|codegen|64 KB|grows"):
        bad.count()


# every registered similarity / PQ / dedup-over-embeddings query:
# the surface the round-6 regression lived in.
_GATED = [
    "q13_ann_ivf",
    "q26_embedding_topk",
    "q27_ann_lsh",
    "q102_ann_ivf_indexed",
    "q105_quantized_topk",
    "q106_ann_lsh_multiprobe",
    "q113_ann_ivf_budgeted",
    "q114_ann_ivf_indexed_budgeted",
    "q116_semantic_dedup",
    "q117_pq_encode",
    "q118_pq_topk",
    "q119_pq_topk_rerank",
    # r9 index-lifecycle entries: merge/delete + indexed serving
    "q176_ivf_incremental",
    "q177_ivf_delete",
]


@pytest.mark.parametrize("name", _GATED)
def test_similarity_queries_fully_compile(no_codegen_fallback, sf_dir, name):
    """Positive gate: each registered embedding-family query executes
    end-to-end with silent-interpreted-fallback disabled — i.e. every
    stage of its plan actually compiles."""
    df = Q.queries()[name](no_codegen_fallback, sf_dir)
    assert df.count() >= 0


def _plan(spark, sf_dir, name):
    df = Q.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_r7_operator_shuffle_budgets(spark, sf_dir):
    """Shuffle-count gates for the round-7 operator classes (same
    class of gate the r6 verdict item 5 asked for the r6 classes):
    pinned at the audited exchange-node counts so a regression that
    adds a corpus shuffle or a Python node turns red.

    - q125 relative buckets: ONE exchange (rank + count share the
      lang-partition window).
    - q127 shard assignment: ONE exchange (the md5 mod is scan-side;
      only the in-shard rank shuffles).
    - q126 span excision: seven exchange nodes, all keyed on span or
      doc id (span groupBy, both sides of the hit join, covered
      distinct, both sides of the anti join, rebuild groupBy +
      reattach join reusing its partitioning).
    - q128 canonical selection: cluster join + window on top of the
      CC output.
    All four: zero Python eval nodes.
    """
    budgets = {
        "q125_relative_quality_buckets": 1,
        "q127_shard_assignment": 1,
        "q126_remove_duplicated_spans": 7,
        "q128_canonical_per_cluster": 3,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r7_batch2_shuffle_budgets(spark, sf_dir):
    """Exchange budgets for the second round-7 operator batch, pinned
    at the audited counts (q129 audited at 8 AFTER the band-rows
    localCheckpoint — the double-lineage fix; 13 before)."""
    budgets = {
        "q129_incremental_dedup": 8,
        "q130_length_batches": 1,
        "q131_bloom_decontaminate": 5,
        "q132_mixture_repeats": 2,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r7_batch3_shuffle_budgets(spark, sf_dir):
    """Exchange budgets for the third round-7 batch: q133 spans
    (bench broadcast + two windows over hit rows only), q134 MRL
    rerank (broadcast coarse queries + shortlist window + fetch
    joins), q135 clip (one dim-keyed window + broadcast bounds),
    q136 diff (one keyed shuffle per side). Zero Python nodes."""
    budgets = {
        "q133_contamination_spans": 3,
        # r15: 5 — the exact-rerank fetch now BROADCASTS the bounded
        # shortlist and streams the corpus (the planner previously
        # broadcast the CORPUS projection, impossible at 100 TB), so
        # the final rank window re-partitions the shortlist-sized
        # rescored frame: one extra exchange that carries
        # n_queries × shortlist rows, traded for a corpus that never
        # crosses the broadcast path (guide §3.1)
        "q134_truncated_topk_rerank": 5,
        "q135_percentile_clip": 2,
        "q136_snapshot_diff": 2,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r7_batch4_shuffle_budgets(spark, sf_dir):
    """Exchange budgets for the fourth round-7 batch: q137 blocklist
    is a pure scan-side projection (ZERO exchanges), q138 report adds
    two keyed aggs over the CC lineage, q139 decontaminate keeps
    matching broadcast-side (corpus text never shuffles for the
    match), q140 BM25 is posting-join bound with the postings
    localCheckpointed (15 counts the re-used lineage occurrences),
    q141 composes the two-phase rank, q142 manifest is ONE
    partial-agg groupBy. Zero Python nodes anywhere."""
    budgets = {
        "q137_blocklist_filter": 0,
        "q138_dedup_report": 4,
        "q139_decontaminate": 6,
        # r8: the shared scoring tail pins qtok + the candidate set
        # (localCheckpoint), collapsing the re-used lineage
        # occurrences the old budget (15) priced in
        "q140_bm25_retrieval": 10,
        "q141_vocab_coverage": 6,
        "q142_content_manifest": 1,
        "q143_slice_drift": 20,
        "q144_skew_report": 6,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r7_batch5_shuffle_budgets(spark, sf_dir):
    """Exchange budgets for the fifth round-7 batch: q145 RRF pays
    the BM25 lineage (15) plus the dense broadcast-window and the
    co-keyed fusion joins (audited 20 total — the fusion itself adds
    only top-k-list-sized exchanges); q146 SNM is the two-phase rank
    plus the offset equi-join; q147 eval reuses the rank lineage from
    ONE localCheckpoint (6); q148 attribution is ONE per-user window
    exchange; q149 negative sampling is the bucket join + per-anchor
    window. Zero Python nodes anywhere."""
    budgets = {
        # r8: rebased onto the persisted postings index + pinned
        # candidate set — was 20 when it re-ran the BM25 lineage
        "q145_hybrid_retrieval_rrf": 12,
        "q146_entity_resolution": 3,
        "q147_classifier_eval": 6,
        "q148_attribution": 1,
        "q149_negative_sampling": 2,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r7_batch6_shuffle_budgets(spark, sf_dir):
    """q150 budget fill is ONE per-group window exchange; q151's
    top-k lists are localCheckpointed inside rank_overlap, so the
    report costs its own keyed aggs/joins (6), not a re-run of the
    retrieval lineage per consumer (38 before the pin — the
    ngram_rarity recompute class, fourth catch)."""
    budgets = {
        "q150_token_budget_fill": 1,
        "q151_rank_overlap": 6,
        # nearest-direction adds a second window over the SAME union
        # exchange; the 2nd exchange is the purchases pre-dedup
        "q152_asof_nearest": 2,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r7_batch7_shuffle_budgets(spark, sf_dir):
    """q153 weighted median: cumsum window + total agg + co-keyed
    join (3); q154 grouped OLS: ONE partial-aggregable exchange —
    adding a segment-trend report to a pipeline costs one shuffle of
    five counters per group. Zero Python nodes."""
    budgets = {
        "q153_weighted_median": 3,
        "q154_revenue_trend": 1,
        # RANGE-frame multi-touch: one user-key window exchange
        "q155_multitouch_attribution": 1,
        # funnel counters fold into ONE partial-aggregable exchange
        "q156_filter_funnel": 1,
        # RAG assembly = q145's indexed retrieval lineage (12) + ONE
        # top-k-sized fetch/assemble stage (was 21 pre-index, r8)
        "q157_context_assembly": 13,
        # one expand-backed multi-distinct aggregate
        "q158_key_uniqueness": 2,
        # distinct + per-type counts + bounded pair join
        "q159_event_lift": 6,
        # two dim-sized per-column groupBys, unioned one-row aggs
        "q160_column_concentration": 4,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r8_batch1_shuffle_budgets(spark, sf_dir):
    """q161 indexed-BM25 serving: the probe reads the pruned postings
    buckets + prebuilt doclens, so the plan is the scoring tail alone
    (df agg, dl join, score fold, top-k window — 7), never a corpus
    re-tokenize; q162 sketch key-uniqueness is the same ONE
    expand-backed aggregate as q158 (HLL registers merge in the same
    partial-agg pass the exact counters use). Zero Python nodes."""
    budgets = {
        "q161_bm25_indexed": 7,
        # exact expand-agg (2) + sketch agg (1 single-partition) +
        # the one-row broadcast cross join — TWO aggregates by
        # design: HLL buffers mixed into the multi-distinct EXPAND
        # allocate a sketch per expand group (95s vs 3s at sf0.1,
        # MEASUREMENTS_r08.md)
        "q162_key_uniqueness_approx": 4,
        # q140's inline lineage + the df-ceiling broadcast filter
        # (stats crossJoin inside the pruned dfsub)
        "q163_bm25_pruned": 13,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r8_batch2_shuffle_budgets(spark, sf_dir):
    """q164 FK audit: per edge ONE keyed groupBy (pinned — it feeds
    the stats agg and the anti join) + the key-frame anti join; 4
    edges union (20 counts the per-edge pipelines). q165 weighted
    sampling: priority is scan-side md5 arithmetic, ONE per-group
    top-k window exchange. q166 compaction planner: ONE exchange on
    the partition key serves both windows (cumsum + bin totals).
    q167 retrieval metrics: everything downstream of the (pinned)
    indexed-BM25 run is top-k-list-sized joins/aggs. Zero Python
    nodes."""
    budgets = {
        "q164_referential_integrity": 20,
        "q165_weighted_sample": 1,
        "q166_compaction_plan": 1,
        "q167_retrieval_metrics": 14,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r8_batch3_shuffle_budgets(spark, sf_dir):
    """q168 UNK rewrite: type groupBy + two-phase rank (range
    exchange) + the position-ordered doc rebuild — the kept set rides
    a broadcast, so the rewrite never shuffles corpus text (3). q169
    boilerplate prefixes: two keyed aggs over the scan-side prefix
    projection + the stratum-total join (3). q170 mixture plan: ONE
    partial-agg groupBy + the broadcast weight join (2). Zero Python
    nodes."""
    budgets = {
        "q168_vocab_budget_rewrite": 3,
        "q169_boilerplate_prefixes": 3,
        "q170_mixture_plan": 2,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r8_batch4_shuffle_budgets(spark, sf_dir):
    """q172 embedding QA: ONE partial-aggregable exchange (all checks
    are scan-side expressions). q173 soft dedup: keyed count + a join
    that reuses the groupBy's partitioning (2). q171's final plan is
    a checkpoint scan by design (the index dirs are temp; the q102
    pattern) — its plan properties are gated through q161's
    (identical serving path) and the merge-vs-scratch equality test.
    Zero Python nodes."""
    budgets = {
        "q172_embedding_quality": 1,
        "q173_soft_dedup": 2,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r8_batch5_shuffle_budgets(spark, sf_dir):
    """q174 outlier audit: one group-keyed rank window (pinned), the
    stats agg + fence-count join reuse it (4). q175 PageRank's final
    plan is top-50 via TakeOrderedAndProject over the last
    iteration's checkpoint (each partition keeps 50, the driver
    merges — NOT an unpartitioned Window.orderBy over the full rank
    frame, the single-task global sort the r8 verdict flagged), then
    the `pos` window runs over the already-limited 50-row
    single-partition output, so it needs ZERO exchanges —
    per-iteration plans are deliberately truncated (each round is
    pinned so round t+1 consumes a table, not 2^t plan copies); the
    iteration shape itself is pinned by the hand-case and
    mass-conservation tests. Zero Python nodes."""
    budgets = {
        "q174_outlier_report": 4,
        "q175_pagerank": 0,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name
    # the top-50 reduction must lower to TakeOrderedAndProject; a
    # regression back to a global window would reintroduce both the
    # Exchange and a full sort. Same contract for the r9 graph pair
    # (seeded PageRank, HITS), which share the q175 final shape.
    # (q181's 2 exchanges are the node-keyed full-outer join of the
    # final hub and authority frames — rank-table-sized inputs, the
    # legitimate combine; the PageRank variants end on a checkpointed
    # rank table and need none)
    for gname, gbudget in (
        ("q175_pagerank", 0),
        ("q180_pagerank_seeded", 0),
        ("q181_hits_copurchase", 2),
    ):
        pg = _plan(spark, sf_dir, gname)
        assert "TakeOrderedAndProject" in pg, (gname, pg)
        assert pg.count("Exchange") <= gbudget, (gname, pg.count("Exchange"))
        assert "BatchEvalPython" not in pg and "ArrowEval" not in pg, gname


def test_r9_batch1_shuffle_budgets(spark, sf_dir):
    """q179 deployable sketch key-uniqueness: the approx call's ONE
    single-partition HLL agg + the exact expand-agg it is gated
    against + the one-row broadcast join — the HLL buffers must NEVER
    ride inside the multi-distinct EXPAND (a sketch per expand group,
    95s vs 3s at sf0.1, MEASUREMENTS_r08.md), which the Expand/HLL
    separation assert pins structurally, not just by budget. The
    lifecycle entries q176/q177/q178 return eager checkpoints of
    index-serving results; their plan properties are gated through
    the indexed-probe partition-pruning tests and the
    merged/deleted-equals-scratch equality gates. Zero Python
    nodes."""
    name, budget = "q179_key_uniqueness_sketch", 4
    p = _plan(spark, sf_dir, name)
    assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, name
    # structural pin: no plan line may carry BOTH the expand operator
    # and an HLL (approx_count_distinct) aggregate expression
    for line in p.splitlines():
        low = line.lower()
        assert not ("expand" in low and "approx_count_distinct" in low), line


def test_r9_batch2_shuffle_budgets(spark, sf_dir):
    """q182 FD audit: 3 audited pairs × (keyed countDistinct groupBy
    + one-row summary) — 9; q183 rate spikes: ONE keyed groupBy +
    the type-partition ROWS window — 2; q184 GK envelope: estimate
    agg + broadcast join + rank agg — 3; q185 collocations: unigram/
    bigram count aggs, two scalar-total aggs, two vocab joins and
    the top-k — 11, all vocabulary-sized after the first groupBys.
    Zero Python nodes; spike test and FD counts are pure integer
    arithmetic (no float to diverge)."""
    budgets = {
        "q182_fd_audit": 9,
        "q183_rate_spikes": 2,
        "q184_percentile_envelope": 3,
        "q185_collocations": 11,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name

def test_r9_graph_batch2_shuffle_budgets(spark, sf_dir):
    """q186 triangle census: the counted plan (after the edge/oriented
    checkpoints) is the wedge self-join on u (keyed), the (v, w)
    LEFT SEMI closing join, the degree re-derivation for ΣC(deg,2),
    and the three one-row aggregates that cross-join broadcast — 10
    exchanges, all node- or pair-keyed or one-row; no global sort
    anywhere. q187 label propagation ends on a seed-flag join + a
    label-keyed count over the final checkpointed label table (2);
    per-round plans are deliberately truncated by the round pin —
    the round shape itself is held by the hand-case tests (majority,
    tie-break, clamp, hop count). Zero Python nodes in both."""
    budgets = {
        "q186_triangle_census": 10,
        "q187_label_propagation": 2,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name

def test_r9_batch3_shuffle_budgets(spark, sf_dir):
    """q188 related items: basket self-join + pair count + the two
    n_item joins + the per-item rank window (PARTITIONED by item —
    never a global sort) — 9 exchanges, all basket- or item-keyed.
    q189 hub audit: the counted plan is everything after the
    edge/oriented/hubs checkpoints — three member-pushdown wedge
    branches (each side of each join shuffles on u: the checkpoint
    erases output-partitioning metadata, so the branches cannot
    share one exchange), the (u,v,w) dedup, the closing join, the
    3-way attribution union + node count, and the k-row finish (27);
    every one of them is hub-neighborhood-sized AFTER the pushdown
    except the branch scans themselves. Hub selection's
    TakeOrderedAndProject sits INSIDE the hubs localCheckpoint (the
    k-bounded collect forces it), so it cannot appear in the final
    plan string — top_k's lowering is pinned by its own gate. Zero
    Python nodes in both."""
    budgets = {
        "q188_related_items": 9,
        "q189_hub_clustering": 27,
    }
    for name, budget in budgets.items():
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange") <= budget, f"{name}: {p.count('Exchange')}"
        assert "BatchEvalPython" not in p and "ArrowEval" not in p, name


def test_r10_weighted_graph_shuffle_budgets(spark, sf_dir):
    """Round-10 weighted-edge authority pair. q190 weighted seeded
    PageRank finishes exactly like q175/q180: the iterations live
    behind per-round localCheckpoints, so the FINAL plan is
    TakeOrderedAndProject over the pinned rank table + the 50-row pos
    window — ZERO exchanges (a regression that reintroduces a global
    sort or an un-pinned iteration turns red structurally). q191
    weighted label propagation ends on the seed-flag join + the
    label-keyed census over the final checkpointed label table (2
    exchanges; per-round plans are truncated by the round pin — round
    semantics are held by the weighted-vote hand cases in
    test_graph). Zero Python eval nodes in both."""
    p = _plan(spark, sf_dir, "q190_pagerank_weighted")
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange") == 0, p.count("Exchange")
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    p = _plan(spark, sf_dir, "q191_label_propagation_weighted")
    assert p.count("Exchange") <= 2, p.count("Exchange")
    assert "BatchEvalPython" not in p and "ArrowEval" not in p


def test_r10_weighted_hits_shuffle_budget(spark, sf_dir):
    """q194 weighted HITS finishes exactly like q181: the iterations
    live behind per-step localCheckpoints, so the final plan is the
    full-outer score join (2 node-keyed exchanges) +
    TakeOrderedAndProject + the 50-row pos window. Zero Python eval
    nodes; the weight multiply lives inside the (checkpointed)
    integer aggregates."""
    p = _plan(spark, sf_dir, "q194_hits_weighted")
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange") <= 2, p.count("Exchange")
    assert "BatchEvalPython" not in p and "ArrowEval" not in p


def test_r11_ivfpq_serve_plan_budget(spark, sf_dir):
    """q200 IVFPQ serving: the codes scan must be PARTITION-PRUNED to
    the probed cells (PartitionFilters on cent_id — the nested level
    of the two-level layout) with a 3-int-column ReadSchema (codes
    only, never residuals), bounded exchanges (the probe window +
    the (query, neighbor) ADC aggregate + the rank window), and zero
    Python eval nodes. q203 rerank adds the exact-rerank join on top
    without widening the scan."""
    # strict anchor: the codes scan's PartitionFilters must NAME
    # cent_id (the or-fallback "cent_id appears somewhere in the
    # plan" was vacuously true — review finding)
    p = _plan(spark, sf_dir, "q200_ivfpq_indexed")
    assert "PartitionFilters: [cent_id" in p, "codes scan not pruned"
    assert p.count("Exchange") <= 4, p.count("Exchange")
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    p = _plan(spark, sf_dir, "q203_ivfpq_rerank")
    assert "cent_id" in p
    assert "BatchEvalPython" not in p and "ArrowEval" not in p


def test_r12_related_items_state_bucket_pruning(spark, tmp_path):
    """The related-items maintenance ops read their state components
    through cow.read_component + a bucket isin-filter; this gates that the
    filter actually reaches the parquet scan as PARTITION pruning
    (PartitionFilters naming the bucket column — strict anchor, the
    q200 lesson) on both the plain layout and a manifest epoch, and
    that a maintenance epoch's own directory holds ONLY the changed
    buckets (written-∝-batch at the directory level)."""
    import os

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import graph
    from data_lake_with_spark_spark.sources import cow

    rows = [
        (b, it) for b in range(200) for it in {b % 11, (b + 3) % 11}
    ]
    base_p = str(tmp_path / "b")
    graph.build_related_items_state(
        spark.createDataFrame(rows, ["basket", "item"]),
        base_p, k=4, min_count=2, n_buckets=32,
    )
    pruned = cow.read_component(spark, base_p, "pairs").where(
        F2.col("pair_bucket").isin([0, 3, 7])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PartitionFilters: [pair_bucket" in plan, "pairs scan not pruned"
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # manifest epoch: merge a 2-basket batch, assert the epoch dir
    # holds exactly the changed pair buckets and the resolved read
    # still partition-prunes
    out_p = str(tmp_path / "o")
    batch = spark.createDataFrame(
        [(900, 1), (900, 4), (901, 2), (901, 5)], ["basket", "item"]
    )
    stats = graph.merge_related_items_state(
        spark, base_p, batch, out_p, layout="manifest"
    )
    e_dirs = sorted(
        int(n.split("=")[1])
        for n in os.listdir(f"{out_p}/pairs")
        if n.startswith("pair_bucket=")
    )
    changed = sorted(int(b) for b in stats["changed_partitions"])
    assert e_dirs == changed
    pruned2 = cow.read_component(spark, out_p, "pairs").where(
        F2.col("pair_bucket").isin(changed[:2])
    )
    plan2 = pruned2._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # the manifest resolve unions per-owner scans whose
    # PartitionFilters lead with isnotnull(pair_bucket) — anchor the
    # column INSIDE the bracket (still strict: a filter that fell
    # back to post-scan would sit in DataFilters/Filter, not here)
    import re

    assert re.search(
        r"PartitionFilters: \[[^\]]*pair_bucket", plan2
    ), "manifest pairs scan not partition-pruned"


def test_r13_staleness_report_plan_budget(spark, tmp_path):
    """The staleness reports (r12 verdict #2) must stay cheap at
    100 TB: the IVFPQ/PQ occupancy+error legs read NO vector bytes
    from the codes component (every codes ReadSchema is int-only —
    the array columns in the plan are only the broadcast-small
    centroids/codebooks), and all three family reports compile with
    zero Python eval nodes and a bounded exchange count."""
    import random
    import re

    from data_lake_with_spark_spark.operators import similarity

    rnd = random.Random(3)
    corpus = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    ivfpq = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(
        corpus, ivfpq, dim=8, m=2, centroid_mod=20, n_buckets=4
    )
    p = (
        similarity.index_staleness_report(spark, ivfpq, corpus)
        ._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    )
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    assert p.count("Exchange") <= 12, p.count("Exchange")
    # no ReadSchema carries the corpus vectors; the only array reads
    # are centroids (cent_v) / codebooks (cent_sub), broadcast-small
    for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", p):
        schema = m.group(1)
        assert "embedding" not in schema, schema
        if "array" in schema:
            assert "cent_v" in schema or "cent_sub" in schema, schema

    pq = str(tmp_path / "pq")
    similarity.build_pq_index(
        corpus, pq, dim=8, m=2, centroid_mod=20, n_buckets=2
    )
    p2 = (
        similarity.pq_staleness_report(spark, pq, corpus)
        ._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    )
    assert "BatchEvalPython" not in p2 and "ArrowEval" not in p2
    for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", p2):
        schema = m.group(1)
        assert "embedding" not in schema, schema
        if "array" in schema:
            assert "cent_sub" in schema, schema

    ivf = str(tmp_path / "ivf")
    similarity.build_ivf_index(corpus, ivf, centroid_mod=20)
    p3 = (
        similarity.ivf_staleness_report(spark, ivf)
        ._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    )
    # IVF lists store the vectors (self-contained report); the gate
    # here is Python-free compilation and the bounded exchange count
    assert "BatchEvalPython" not in p3 and "ArrowEval" not in p3
    assert p3.count("Exchange") <= 10, p3.count("Exchange")


def test_r14_health_report_plan_budget(spark, tmp_path):
    """The r14 health reports (BM25 + related-items — the
    when-to-maintain family's last two members) must stay cheap at
    100 TB, same contract as the r13 staleness gates: zero Python
    eval nodes, bounded exchange counts, and column-pruned component
    scans — the BM25 postings legs never read doc_id/tf (df needs
    only tok; occupancy only the partition column), and the RI pairs
    leg reads only n_ab (never the item keys or the serving
    columns)."""
    import re

    from data_lake_with_spark_spark.operators import graph, text

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} tok{i % 11} common") for i in range(300)],
        ["doc_id", "text"],
    )
    bm25 = str(tmp_path / "bm25")
    text.build_bm25_index(docs, bm25, n_buckets=4)
    p = (
        text.bm25_staleness_report(spark, bm25)
        ._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    )
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    assert p.count("Exchange") <= 12, p.count("Exchange")
    for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", p):
        schema = m.group(1)
        # postings data columns beyond tok are never read; doclens
        # prunes to dl (doc_id unused by any leg)
        assert "doc_id" not in schema, schema
        assert "tf" not in schema, schema

    rows = [(b, f"it{(b * 7 + j) % 20}") for b in range(200) for j in range(3)]
    ri = str(tmp_path / "ri")
    graph.build_related_items_state(
        spark.createDataFrame(rows, ["basket", "item"]),
        ri, k=3, min_count=2, n_buckets=4,
    )
    p2 = (
        graph.related_items_health(spark, ri)
        ._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    )
    assert "BatchEvalPython" not in p2 and "ArrowEval" not in p2
    assert p2.count("Exchange") <= 14, p2.count("Exchange")
    for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", p2):
        schema = m.group(1)
        # pairs prunes to n_ab (no a/b keys); topk prunes to item
        # (no serving columns); nothing reads score or n_item
        assert "score" not in schema, schema
        assert "n_item" not in schema, schema
        if "n_ab" in schema:
            assert not re.search(r"<a:|,a:|,b:|<b:", schema), schema


def test_r15_pq_encode_is_aggregate_not_window(spark, sf_dir):
    """r15: pq_encode's per-(id, subspace) argmin is a map-side
    partial aggregate (min over (distance, code) structs — the
    encode kernel PQ and IVFPQ share), NOT a row_number window: the
    window form sort-shuffled the corpus × |codes| candidate frame, the
    aggregate shuffles one row per (vector, subspace). A Window node
    here means the backport regressed (guide §2.3 — aggregate before
    you shuffle)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = similarity.pq_codebooks(emb, dim=64, m=8, target_codes=10)
    codes = similarity.pq_encode(emb, cb, dim=64, m=8)
    p = codes._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Window" not in p, p
    assert "Aggregate" in p, p


def test_r15_rerank_broadcasts_shortlist_not_corpus(spark, sf_dir):
    """r15: the exact-rerank stage of the two-stage servers must
    broadcast the BOUNDED side (the n_queries × shortlist candidate
    set) and stream the corpus — the planner left to its estimates
    broadcast the corpus projection, which works at fixture scale and
    is impossible at 100 TB (8 GB broadcast cap). Gate: no
    BroadcastExchange carries the corpus vector projection (_cv); the
    query-vector broadcast (_qv, serving-batch-sized) is expected."""
    import re

    for name in ("q119_pq_topk_rerank", "q134_truncated_topk_rerank"):
        df = Q.queries()[name](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        for m in re.finditer(
            r"BroadcastExchange[^\n]*\n(?:[^\n]*\n){0,3}", p
        ):
            assert "_cv" not in m.group(0), (name, m.group(0))


def test_r15_pair_supports_shape(spark):
    """r15: _pair_supports expands pairs with two bounded generates
    (posexplode + tail-slice explode — O(|basket|) peak per row) and
    no join; exactly two exchanges (the basket groupBy and the pair
    groupBy). A Join node or a third exchange means the one-shuffle
    in-task expansion regressed to the self-join form; a single
    flatten-transform generate would reintroduce the C(|basket|,2)
    in-memory array the r14 advice flagged."""
    from data_lake_with_spark_spark.operators import graph

    b = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "d")],
        ["basket", "item"],
    )
    p = (
        graph._pair_supports(b)
        ._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    )
    assert "Join" not in p, p
    assert p.count("Generate") == 2, p
    assert p.count("Exchange") <= 2, p

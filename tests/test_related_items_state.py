"""Incremental related-items serving state: delta-updating the
pair/item aggregates and rewriting ONLY affected items' top-k must be
bit-identical to a from-scratch related_items over the full basket
history (r10 verdict item #4 — the last registered serving table still
rebuilt from scratch)."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_spark.operators import graph
from data_lake_with_spark_spark.sources import cow


def _mk_baskets(rnd, basket_ids, items, lo=2, hi=5):
    rows = []
    for bid in basket_ids:
        size = rnd.randint(lo, hi)
        for it in rnd.sample(items, size):
            rows.append((bid, it))
    return rows


def _topk_rows(df):
    return sorted(
        (r["item"], r["rank"], r["other"], r["n_ab"], r["score"])
        for r in df.collect()
    )


@pytest.mark.parametrize("layout", ["links", "manifest"])
def test_merge_equals_rebuild_over_full_history(spark, tmp_path, layout):
    rnd = random.Random(77)
    items = list(range(100, 160))
    hist = _mk_baskets(rnd, range(300), items)
    # a NARROW batch (4 baskets): its pair deltas hash into a small
    # bucket subset, so the CoW promotion has unchanged buckets to
    # link — the same written-∝-batch contract the index families
    # assert (a broad batch honestly touches ~every bucket)
    batch = _mk_baskets(rnd, range(300, 304), items)
    base_df = spark.createDataFrame(hist, ["basket", "item"])
    batch_df = spark.createDataFrame(batch, ["basket", "item"])
    full_df = base_df.unionByName(batch_df)
    base_p, out_p = str(tmp_path / "b"), str(tmp_path / "o")
    graph.build_related_items_state(
        base_df, base_p, k=5, min_count=2, n_buckets=64
    )
    stats = graph.merge_related_items_state(
        spark, base_p, batch_df, out_p, layout=layout
    )
    got = _topk_rows(graph.related_items_topk(spark, out_p))
    exp = _topk_rows(
        graph.related_items(full_df, k=5, min_count=2)
    )
    assert got == exp and len(got) > 0
    # the build itself equals the query too
    assert _topk_rows(graph.related_items_topk(spark, base_p)) == _topk_rows(
        graph.related_items(base_df, k=5, min_count=2)
    )
    assert stats["affected_items"] >= 1
    if layout == "links":
        assert stats["linked_files"] > 0
    else:
        assert stats["linked_bytes"] == 0 and stats["copied_files"] == 0
        # epoch dirs hold ONLY the changed pair buckets
        e_dirs = {
            n.split("=")[1]
            for n in os.listdir(f"{out_p}/pairs")
            if n.startswith("pair_bucket=")
        }
        assert e_dirs == set(stats["changed_partitions"])


def test_replayed_basket_rejected_and_floor_crossing(spark, tmp_path):
    """A re-delivered basket id raises (double-count guard), and a
    pair whose support crosses min_count only WITH the batch appears
    in the merged top-k exactly as a rebuild would have it — the
    state stores unfloored supports."""
    base_rows = [(1, "a"), (1, "b"), (2, "a"), (2, "c"), (3, "b"), (3, "c")]
    batch_rows = [(4, "a"), (4, "b"), (5, "a"), (5, "c")]
    base_df = spark.createDataFrame(base_rows, ["basket", "item"])
    batch_df = spark.createDataFrame(batch_rows, ["basket", "item"])
    base_p, out_p = str(tmp_path / "b"), str(tmp_path / "o")
    graph.build_related_items_state(
        base_df, base_p, k=3, min_count=2, n_buckets=8
    )
    # (a,b) and (a,c) have support 1 in base (below floor) and 2 after
    assert _topk_rows(graph.related_items_topk(spark, base_p)) == []
    graph.merge_related_items_state(spark, base_p, batch_df, out_p)
    got = _topk_rows(graph.related_items_topk(spark, out_p))
    exp = _topk_rows(
        graph.related_items(
            base_df.unionByName(batch_df), k=3, min_count=2
        )
    )
    assert got == exp and len(got) > 0
    with pytest.raises(ValueError, match="re-delivers"):
        graph.merge_related_items_state(
            spark,
            base_p,
            spark.createDataFrame([(2, "z")], ["basket", "item"]),
            str(tmp_path / "x"),
        )


def _incidence(spark, baskets):
    return spark.createDataFrame(
        [(bid, it) for bid, items in baskets.items() for it in items],
        ["basket", "item"],
    )


@pytest.mark.parametrize("layout", ["links", "manifest"])
@pytest.mark.parametrize("op", ["merge", "delete"])
def test_zero_pair_delta_batch_keeps_serving_table(spark, tmp_path, op, layout):
    """A single-item basket adds or removes no pair support, only an
    item count. Merging one, or deleting one, must still serve the
    top-k of the surviving history: every affected item's recompute
    reads the base pairs outside the (here empty) changed-bucket set,
    which is ALL of them."""
    hist = {1: ["a", "b"], 2: ["a", "c"], 4: ["b", "c"]}
    full = {**hist, 3: ["a"]}
    base_p, out_p = str(tmp_path / "b"), str(tmp_path / "o")
    graph.build_related_items_state(
        _incidence(spark, hist if op == "merge" else full),
        base_p, k=5, min_count=1, n_buckets=4,
    )
    if op == "merge":
        stats = graph.merge_related_items_state(
            spark, base_p, _incidence(spark, {3: ["a"]}), out_p, layout=layout
        )
        survivors = full
    else:
        stats = graph.delete_from_related_items_state(
            spark, base_p, spark.createDataFrame([(3,)], ["basket"]), out_p,
            layout=layout,
        )
        assert stats["matched_baskets"] == 1
        survivors = hist
    assert stats["changed_partitions"] == []
    exp = _topk_rows(graph.related_items(_incidence(spark, survivors), k=5))
    assert len(exp) == 6
    assert _topk_rows(graph.related_items_topk(spark, out_p)) == exp


@pytest.mark.slow
def test_randomized_merge_chain_equals_rebuild(spark, tmp_path):
    """Seeded random chain of manifest merge epochs vs a tracked
    history list: after every epoch the served top-k equals the
    from-scratch query (exercises carried/unaffected bucket rows,
    partner discovery, and floor crossings under arbitrary
    sequences)."""
    rnd = random.Random(404)
    items = list(range(50))
    hist = _mk_baskets(rnd, range(120), items)
    cur = str(tmp_path / "s0")
    graph.build_related_items_state(
        spark.createDataFrame(hist, ["basket", "item"]),
        cur, k=4, min_count=2, n_buckets=8,
    )
    next_bid = 1000
    for step in range(3):
        batch = _mk_baskets(rnd, range(next_bid, next_bid + 15), items)
        next_bid += 15
        out = str(tmp_path / f"s{step + 1}")
        graph.merge_related_items_state(
            spark,
            cur,
            spark.createDataFrame(batch, ["basket", "item"]),
            out,
            layout="manifest",
        )
        hist += batch
        cur = out
        got = _topk_rows(graph.related_items_topk(spark, cur))
        exp = _topk_rows(
            graph.related_items(
                spark.createDataFrame(hist, ["basket", "item"]),
                k=4,
                min_count=2,
            )
        )
        assert got == exp and len(got) > 0


@pytest.mark.parametrize("layout", ["links", "manifest"])
@pytest.mark.slow
def test_delete_equals_rebuild_over_survivors(spark, tmp_path, layout):
    """GDPR erasure (delete_from_related_items_state): tombstoning a
    basket-id set must serve bit-identical to a from-scratch
    related_items over the SURVIVING baskets. Ledger-driven: the op
    receives only ids — the incidence comes from the state's own
    ledger, so erasure works after the raw feed is gone. Idempotent:
    re-deleting the same ids is a no-op (contrast the merge's
    raise-on-redelivery)."""
    rnd = random.Random(99)
    items = list(range(200, 250))
    hist = _mk_baskets(rnd, range(200), items)
    full_df = spark.createDataFrame(hist, ["basket", "item"])
    # tombstone a narrow id set (a user's orders): buckets prune
    victims = [3, 57, 121, 122]
    ids_df = spark.createDataFrame([(b,) for b in victims], ["basket"])
    surv_df = full_df.where(~F.col("basket").isin(victims))
    base_p, out_p = str(tmp_path / "b"), str(tmp_path / "o")
    graph.build_related_items_state(
        full_df, base_p, k=5, min_count=2, n_buckets=64
    )
    stats = graph.delete_from_related_items_state(
        spark, base_p, ids_df, out_p, layout=layout
    )
    got = _topk_rows(graph.related_items_topk(spark, out_p))
    exp = _topk_rows(graph.related_items(surv_df, k=5, min_count=2))
    assert got == exp and len(got) > 0
    assert stats["deleted_basket_rows"] > 0
    assert stats["affected_items"] >= 1
    if layout == "links":
        assert stats["linked_files"] > 0
    # the ledger no longer holds the victims' rows (erasure at the
    # resolved-view level; physical bytes go at compact+vacuum, gated
    # in test_gdpr_pipeline.py)
    meta = cow.read_json(spark, graph._ri_meta_uri(out_p))
    led = graph._ri_read(spark, out_p, "baskets", meta)
    assert led.where(F.col("basket").isin(victims)).count() == 0
    # idempotent replay: same ids again → identical serving table
    out2 = str(tmp_path / "o2")
    graph.delete_from_related_items_state(
        spark, out_p, ids_df, out2, layout=layout
    )
    assert _topk_rows(graph.related_items_topk(spark, out2)) == exp


@pytest.mark.slow
def test_delete_erases_item_entirely_and_interleaves_with_merge(
    spark, tmp_path
):
    """(1) Deleting every basket that contains an item removes it
    from the serving table as BOTH `item` and `other`; (2) a
    merge→delete→merge manifest chain equals the rebuild over
    (history ∪ batches) − tombstones at every step."""
    rnd = random.Random(31)
    items = list(range(40))
    hist = _mk_baskets(rnd, range(80), items)
    s0 = str(tmp_path / "s0")
    graph.build_related_items_state(
        spark.createDataFrame(hist, ["basket", "item"]),
        s0, k=4, min_count=2, n_buckets=8,
    )
    live = list(hist)
    # merge a batch
    b1 = _mk_baskets(rnd, range(500, 515), items)
    s1 = str(tmp_path / "s1")
    graph.merge_related_items_state(
        spark, s0, spark.createDataFrame(b1, ["basket", "item"]), s1,
        layout="manifest",
    )
    live += b1
    # delete: every basket containing item 7 (full erasure) plus two
    # ordinary baskets
    doomed_ids = sorted(
        {b for (b, it) in live if it == 7} | {10, 501}
    )
    s2 = str(tmp_path / "s2")
    graph.delete_from_related_items_state(
        spark, s1,
        spark.createDataFrame([(b,) for b in doomed_ids], ["basket"]),
        s2, layout="manifest",
    )
    live = [(b, it) for (b, it) in live if b not in set(doomed_ids)]
    got = graph.related_items_topk(spark, s2)
    assert got.where(
        (F.col("item") == 7) | (F.col("other") == 7)
    ).count() == 0
    assert _topk_rows(got) == _topk_rows(
        graph.related_items(
            spark.createDataFrame(live, ["basket", "item"]),
            k=4, min_count=2,
        )
    )
    # merge again on top of the delete
    b2 = _mk_baskets(rnd, range(600, 612), items)
    s3 = str(tmp_path / "s3")
    graph.merge_related_items_state(
        spark, s2, spark.createDataFrame(b2, ["basket", "item"]), s3,
        layout="manifest",
    )
    live += b2
    assert _topk_rows(graph.related_items_topk(spark, s3)) == _topk_rows(
        graph.related_items(
            spark.createDataFrame(live, ["basket", "item"]),
            k=4, min_count=2,
        )
    )


def test_delta_core_negative_support_raises(spark, tmp_path):
    """The subtract path's integrity gate: deltas exceeding the
    stored aggregate (impossible for a ledger-driven inversion;
    reachable only through out-of-band state edits) raise instead of
    writing a negative support."""
    base_rows = [(1, "a"), (1, "b"), (2, "a"), (2, "c")]
    base_p = str(tmp_path / "b")
    graph.build_related_items_state(
        spark.createDataFrame(base_rows, ["basket", "item"]),
        base_p, k=3, min_count=1, n_buckets=4,
    )
    meta = cow.read_json(spark, graph._ri_meta_uri(base_p))
    # phantom incidence: basket 9 was never merged, so subtracting
    # its (a, b) pair under-runs the stored support of 1 twice
    phantom = spark.createDataFrame(
        [(9, "a"), (9, "b"), (1, "a"), (1, "b")], ["basket", "item"]
    )
    with pytest.raises(ValueError, match="NEGATIVE"):
        graph._apply_ri_state_delta(
            spark, base_p, phantom, str(tmp_path / "o"), "links",
            meta, sign=-1,
        )
    # r15 (r14 ADVICE): the integrity gates run in the read-only
    # phase A, so a detected-corrupt state raises BEFORE any
    # component write — out_path must still be empty (previously the
    # sibling legs completed their writes while the pairs leg raised)
    out = tmp_path / "o"
    for comp in ("pairs", "items", "baskets", "topk"):
        assert not (out / comp).exists(), f"{comp} written before raise"


def test_state_format_version_gates_maintenance(spark, tmp_path):
    """r12 ADVICE: the baskets ledger's on-disk schema changed
    (v1 stored basket ids; v2 stores the full (basket, item)
    incidence) with no version marker — maintenance against an
    old-format state died with an opaque Spark column-resolution
    error mid-plan. The meta sidecar now stamps ``format``; every
    maintenance op checks it FIRST and raises a descriptive
    'rebuild from source history' error. r13 ADVICE refinement: a
    MISSING stamp whose schema sidecar shows the v2 (basket, item)
    incidence is an UNSTAMPED v2 — states built before the stamp
    existed are compatible and must keep working; the hard error is
    reserved for ledgers that actually lack the incidence."""
    import json

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "c")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    p = str(tmp_path / "s")
    graph.build_related_items_state(df, p, k=3, min_count=1, n_buckets=4)
    meta = json.load(open(f"{p}/ri_meta.json"))
    assert meta["format"] == graph._RI_FORMAT
    # unstamped v2 (a state persisted by pre-stamp code, which already
    # wrote the (basket, item) incidence): maintenance must ACCEPT it
    unstamped = dict(meta)
    del unstamped["format"]
    json.dump(unstamped, open(f"{p}/ri_meta.json", "w"))
    batch = spark.createDataFrame([(9, "a"), (9, "b")], ["basket", "item"])
    merged = str(tmp_path / "o_ok")
    graph.merge_related_items_state(spark, p, batch, merged)
    assert graph.related_items_topk(spark, merged).count() > 0
    # true v1 (ledger schema lacks the item field): descriptive raise
    v1 = dict(unstamped)
    baskets_schema = json.loads(v1["schemas"]["baskets"])
    baskets_schema["fields"] = [
        f for f in baskets_schema["fields"] if f["name"] != "item"
    ]
    v1["schemas"] = dict(v1["schemas"], baskets=json.dumps(baskets_schema))
    json.dump(v1, open(f"{p}/ri_meta.json", "w"))
    with pytest.raises(ValueError, match="rebuild the state from the source"):
        graph.merge_related_items_state(spark, p, batch, str(tmp_path / "o1"))
    with pytest.raises(ValueError, match="rebuild the state from the source"):
        graph.delete_from_related_items_state(
            spark, p, df.select("basket"), str(tmp_path / "o2")
        )
    with pytest.raises(ValueError, match="rebuild the state from the source"):
        graph.compact_related_items_state(spark, p, str(tmp_path / "o3"))
    # an explicit foreign stamp (future format) also raises
    json.dump(dict(meta, format=99), open(f"{p}/ri_meta.json", "w"))
    with pytest.raises(ValueError, match="on-disk format 99"):
        graph.compact_related_items_state(spark, p, str(tmp_path / "o4"))


def test_delete_reports_requested_vs_matched(spark, tmp_path):
    """r12 ADVICE: delete is idempotent (absent ids skip silently), so
    an erasure pipeline passing ids in the wrong domain must be able
    to SEE that nothing matched — requested_baskets vs
    matched_baskets make the coverage assertable."""
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "c"), (3, "b"), (3, "c")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    p = str(tmp_path / "s")
    graph.build_related_items_state(df, p, k=3, min_count=1, n_buckets=4)
    # 2 real victims + 1 id never in the ledger
    ids = spark.createDataFrame([(1,), (3,), (999,)], ["basket"])
    stats = graph.delete_from_related_items_state(
        spark, p, ids, str(tmp_path / "o")
    )
    assert stats["requested_baskets"] == 3
    assert stats["matched_baskets"] == 2
    # wrong-domain erasure: "succeeds" but the counters expose it
    bogus = spark.createDataFrame([(777,), (888,)], ["basket"])
    stats2 = graph.delete_from_related_items_state(
        spark, p, bogus, str(tmp_path / "o2")
    )
    assert stats2["requested_baskets"] == 2
    assert stats2["matched_baskets"] == 0
    assert stats2["deleted_basket_rows"] == 0


def test_compact_returns_per_component_stats(spark, tmp_path):
    """r12 ADVICE: the compaction's return used to carry only the
    pairs component — the history-sized ledger rewrite the docstring
    warns about was invisible. Now {component: stats}."""
    rows = [(i, f"it{j}") for i in range(40) for j in (i % 5, (i + 1) % 5)]
    df = spark.createDataFrame(rows, ["basket", "item"])
    p = str(tmp_path / "s")
    graph.build_related_items_state(df, p, k=3, min_count=1, n_buckets=4)
    stats = graph.compact_related_items_state(spark, p, str(tmp_path / "o"))
    assert set(stats) == {"pairs", "items", "baskets", "topk"}
    assert all("partitions" in v for v in stats.values())
    assert stats["baskets"]["partitions"] >= 1


def test_build_layout_grain_contract(spark, tmp_path):
    """r12 verdict #5: the IVFPQ leaf-grain rule applied to the
    related-items bucket count — a deliberately-too-fine n_buckets
    warns by default and raises under strict_layout."""
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "c")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    with pytest.warns(UserWarning, match="grain too fine"):
        graph.build_related_items_state(
            df, str(tmp_path / "warn"), k=3, min_count=1, n_buckets=64
        )
    with pytest.raises(ValueError, match="grain too fine"):
        graph.build_related_items_state(
            df,
            str(tmp_path / "strict"),
            k=3,
            min_count=1,
            n_buckets=64,
            strict_layout=True,
        )
    # a strict-mode failure leaves no partial state on disk
    assert not os.path.exists(str(tmp_path / "strict"))


def test_related_items_health_report_and_movement(spark, tmp_path):
    """r13 verdict #3 (related-items half): the health report read off
    the persisted state must (a) reflect the stamped config and exact
    component counts on a fresh build, (b) equal the report over a
    from-scratch rebuild of the surviving history after a GDPR delete
    (delete is rebuild-identical by contract, so the report —
    including the xxhash ledger-bucket legs the SQL oracle can't
    reach — must be too), and (c) MOVE under delete-heavy churn:
    ledger size and coverage fall vs the pinned build-time baseline
    (staleness_drift ratio < 1), the when-to-maintain signal."""
    from data_lake_with_spark_spark.operators.similarity import (
        staleness_drift,
        write_staleness_baseline,
    )

    rnd = random.Random(41)
    items = [f"it{i:03d}" for i in range(40)]
    rows = _mk_baskets(rnd, range(300), items, lo=2, hi=6)
    df = spark.createDataFrame(rows, ["basket", "item"])
    p = str(tmp_path / "s")
    graph.build_related_items_state(df, p, k=4, min_count=2, n_buckets=8)
    rep0 = graph.related_items_health(spark, p)
    r0 = rep0.collect()[0].asDict()
    assert (r0["k_stamped"], r0["min_count_stamped"]) == (4, 2)
    assert r0["n_buckets_stamped"] == 8
    inc = df.distinct()
    assert r0["n_incidence"] == inc.count()
    assert r0["n_baskets"] == inc.select("basket").distinct().count()
    assert r0["n_items"] >= r0["served_items"] > 0
    assert r0["topk_rows"] <= r0["served_items"] * 4
    assert r0["n_pairs"] > r0["pairs_below_floor"] >= 0
    write_staleness_baseline(spark, p, rep0)

    # delete-heavy churn: tombstone a third of the baskets
    victims = spark.createDataFrame(
        [(b,) for b in range(0, 300, 3)], ["basket"]
    )
    out = str(tmp_path / "deleted")
    graph.delete_from_related_items_state(spark, p, victims, out)
    rep1 = graph.related_items_health(spark, out)
    r1 = rep1.collect()[0].asDict()
    # rebuild-identity, INCLUDING the ledger-bucket occupancy legs
    rebuilt = str(tmp_path / "rebuilt")
    graph.build_related_items_state(
        df.where(F.col("basket") % 3 != 0), rebuilt,
        k=4, min_count=2, n_buckets=8,
    )
    r2 = graph.related_items_health(spark, rebuilt).collect()[0].asDict()
    assert r1 == r2
    # movement: the erasure shrank the ledger and the served surface
    drift = staleness_drift(spark, p, rep1)
    assert drift["n_incidence"]["ratio"] < 0.75
    assert drift["n_baskets"]["ratio"] < 0.75
    assert drift["n_pairs"]["ratio"] < 1.0
    # serving can stay saturated on a dense graph (every item keeps k
    # rows), but it can never GROW under erasure
    assert drift["topk_rows"]["ratio"] <= 1.0
    # a missing state raises the descriptive error, not AttributeError
    with pytest.raises(FileNotFoundError, match="ri_meta.json"):
        graph.related_items_health(spark, str(tmp_path / "nowhere"))

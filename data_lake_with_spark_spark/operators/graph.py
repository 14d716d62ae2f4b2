"""Link-graph analytics (beyond-reference LLM-pipeline extension):
fixed-iteration PageRank for crawl seeding / source-authority
weighting. The reference has no graph surface; this module exists
because training-data curation ranks crawl frontiers and weights
sources by link authority, and the dedup module's connected
components already established the graph data model (edge frames).

Design for 100 TB: iterations are UNROLLED declaratively (a fixed
small iteration count is the curation norm — rank stabilizes in a
handful of rounds for seeding purposes), each one join + one
aggregate on the edge frame, which is materialized once; no driver
loop state beyond the plan itself. Float contract: per-node incoming
contributions SUM as exact integers — PageRank through the tie-free
floor-grid fold (FLOOR(x·10^15) bigint units), HITS natively (its
rational formulation is integer-valued) — because float addition is
order-dependent and a shuffle-order-dependent rank would never
hash-verify; the dsum discipline from the aggregate family, hardened
after the double→decimal cast's half-up tie diverged cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_lake_with_spark_spark.session import local_frame


def pagerank_fixed(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    validate: bool = True,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge frame:
    ``r_{t+1}(v) = (1-d)/N + d * Σ_{u→v} r_t(u)/outdeg(u)``, starting
    uniform. Returns (node, rank) for EVERY node that has at least
    one incoming edge (with symmetric/bipartite edge frames — the
    curation use — that is every node).

    Exactness — the FLOOR-GRID fold: each contribution
    ``r/outdeg`` is one IEEE division, then ``FLOOR(x · 10^15)``
    snaps it to an exact bigint grid unit; units SUM as bigints
    (exact, order-independent) and convert back with ONE division by
    10^15. FLOOR has no rounding ties, which is the point: the
    previous route cast the double to DECIMAL(24,15), and a
    double→decimal cast ROUNDS half-up on the decimal expansion in
    Spark but on the binary value in DuckDB — a contribution landing
    exactly on a half-grid point diverges by one grid unit
    (observed live: two seeded-PageRank nodes off by exactly
    0.85·10⁻¹⁵ at sf0.01 — the q85 round() class, resurfacing in a
    cast). The grid truncates ≤10⁻¹⁵ mass per contribution —
    deterministically, identically, in any IEEE engine. The scaled
    sum stays under 2^53 for rank mass ≤ 1 (the q154 magnitude
    rule), so the bigint→double conversion is exact. The damped
    update is pinned-order scalar arithmetic. Every iteration is one
    (dst-keyed) aggregate over the edge⋈rank join; the edge and
    outdegree frames are pinned once and reused by all iterations.

    Dangling nodes (outdeg 0) cannot exist in the supported input
    shape (symmetric edges); ``validate=True`` (the DEFAULT — an
    unvetted external edge frame should fail loudly, not silently
    drop rank rows and leak rank mass) checks and raises on
    violation. The check is an extra full-edge anti-join action per
    call, so PRE-VALIDATED callers (explicitly symmetrized unions,
    where danglers are impossible by construction — every registry
    query) opt out with ``validate=False``; a dangling node under
    ``validate=False`` simply receives no contributions and its rank
    row is dropped, it does not corrupt other nodes' ranks.

    ``weight_col`` (optional) runs the WEIGHTED-EDGE variant — the
    shape real crawl/co-occurrence graphs arrive in (link counts,
    co-purchase strength): contribution becomes
    ``r·w / Σ_out w`` instead of ``r / outdeg``. Weights MUST be
    integer-valued (counts; the operator casts to bigint) so the
    out-weight totals SUM exactly — a float weight sum would be
    shuffle-order-dependent and never hash-verify; pre-quantize
    fractional weights to a grid yourself. ``w=1`` on every edge is
    property-tested identical to the unweighted path (``r·1/Σ1`` is
    the same IEEE arithmetic as ``r/outdeg``).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("bigint").alias("w"))
    e = edges.select(*cols).localCheckpoint()
    if weight_col is None:
        outdeg = e.groupBy("src").agg(
            F.count(F.lit(1)).cast("bigint").alias("outdeg")
        )
        # one IEEE division then the tie-free grid snap
        contrib_units = F.floor(
            (F.col("rank") / F.col("outdeg")) * F.lit(1e15)
        )
    else:
        # total out-WEIGHT sums exactly (bigint); contribution is
        # rank·w then one division — two pinned-order IEEE ops,
        # mirrored verbatim in SQL oracles
        outdeg = e.groupBy("src").agg(
            F.sum("w").cast("bigint").alias("outdeg")
        )
        contrib_units = F.floor(
            ((F.col("rank") * F.col("w")) / F.col("outdeg")) * F.lit(1e15)
        )
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    if validate:
        # symmetric-input contract: every node must have out-edges
        dangling = nodes.join(
            outdeg.withColumnRenamed("src", "node"), "node", "left_anti"
        )
        if dangling.limit(1).count() > 0:
            raise ValueError(
                "pagerank_fixed requires every node to have out-edges "
                "(symmetric/bipartite edge frames) — dangling nodes found"
            )
        if (
            weight_col is not None
            and outdeg.where(F.col("outdeg") <= 0).limit(1).count() > 0
        ):
            # a node whose out-weights total ≤ 0 is effectively
            # dangling (its contribution divides by ≤ 0) — the
            # sampling all-zero-weights rule applied to graphs
            raise ValueError(
                "pagerank_fixed: node with non-positive total "
                "out-weight — weights must be positive counts"
            )
    # node count collected ONCE to a literal: the previous per-round
    # crossJoin(broadcast(n_nodes)) re-evaluated the nodes
    # distinct+count subtree on every broadcast build (iterations + 1
    # redundant passes over the edge frame); a bigint→double literal
    # divides bit-identically to the column form
    n = int(
        nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n")).collect()[0][
            "n"
        ]
    )
    # pinned once: every round otherwise re-runs the outdeg aggregate
    # and the edge⋈outdeg join (iterations − 1 redundant shuffles)
    contribs = e.join(outdeg, "src").localCheckpoint()
    r: DataFrame | None = None
    for t in range(iterations):
        if t == 0:
            # the uniform start is a CONSTANT: r_0(src) = 1/n for every
            # src (each src of e is a node by construction), so the
            # first round needs no rank table and no join — the rank
            # column is replaced by the same 1.0/n literal division
            # the table held (bit-identical IEEE value), which removes
            # the initial rank materialization AND round 1's shuffle
            joined = contribs.withColumn(
                "rank", F.lit(1.0) / F.lit(n).cast("bigint")
            )
        else:
            joined = contribs.join(r.withColumnRenamed("node", "src"), "src")
        incoming = (
            joined.select(
                F.col("dst").alias("node"),
                contrib_units.alias("_c"),
            )
            .groupBy("node")
            .agg((F.sum("_c") / F.lit(1e15)).alias("_s"))
        )
        # the per-iteration frames are rank-table-sized; pin each round
        # so the next one consumes a materialized table, not 2^t plan
        # copies
        r = incoming.select(
            "node",
            (
                F.lit(1.0 - damping) / F.lit(n).cast("bigint")
                + F.lit(damping) * F.col("_s")
            ).alias("rank"),
        ).localCheckpoint()
    return r


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    weight_col: str | None = None,
) -> DataFrame:
    """Personalized (seeded-teleport) PageRank — the crawl-frontier /
    source-authority variant a curation pipeline actually runs:
    instead of teleporting uniformly, the random surfer restarts at a
    TRUSTED SEED SET, so rank measures authority *relative to the
    seeds* (TrustRank / topic-sensitive PageRank; Haveliwala 2002):
    ``r_{t+1}(v) = (1-d)·s(v) + d · Σ_{u→v} r_t(u)/outdeg(u)`` with
    ``s(v) = 1/|S|`` for seed nodes and 0 elsewhere, starting
    ``r_0 = s``.

    Same execution shape and float contract as
    :func:`pagerank_fixed`: edges and outdegrees pinned once,
    per-iteration dst-keyed FLOOR-GRID contribution sums
    (``FLOOR(x·10^15)`` bigint units — exact, order-independent, and
    tie-free where a double→decimal cast can round apart across
    engines, the divergence THIS operator exposed live at sf0.01;
    the scaled sum stays under 2^53 because personalized rank mass
    stays ≤ 1, Σs = 1), pinned-order scalar damped update, per-round
    localCheckpoint. The teleport term is a full-outer join against
    the (small) seed frame — full-outer cannot broadcast a side in
    Spark, so it runs sort-merge, which is cheap precisely because
    the seed side is tiny; non-seed nodes with no inbound rank mass
    simply carry rank d·0 + 0 and drop out of the frame — identical
    to their limit value of 0 for ranking purposes.

    ``weight_col`` (optional): the weighted-edge variant —
    contribution ``r·w / Σ_out w`` with INTEGER (count) weights, the
    :func:`pagerank_fixed` contract; q188-style co-occurrence counts
    feed this directly instead of being flattened to 0/1 edges.

    Returns (node, rank) for nodes with inbound contributions or
    seed membership.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("bigint").alias("w"))
    e = edges.select(*cols).localCheckpoint()
    if weight_col is None:
        outdeg = e.groupBy("src").agg(
            F.count(F.lit(1)).cast("bigint").alias("outdeg")
        )
        contrib_units = F.floor(
            (F.col("rank") / F.col("outdeg")) * F.lit(1e15)
        )
    else:
        outdeg = e.groupBy("src").agg(
            F.sum("w").cast("bigint").alias("outdeg")
        )
        contrib_units = F.floor(
            ((F.col("rank") * F.col("w")) / F.col("outdeg")) * F.lit(1e15)
        )
    sd = seeds.select(F.col(seed_col).alias("node")).distinct().localCheckpoint()
    # seed count collected ONCE to a literal (the pagerank_fixed n
    # pattern): the previous crossJoin(broadcast(agg)) paid an extra
    # broadcast-build job for a scalar; lit(1.0)/lit(ns) is the same
    # IEEE division the column form held
    ns = sd.count()
    s = sd.select(
        "node", (F.lit(1.0) / F.lit(ns).cast("bigint")).alias("s")
    )
    r = s.select("node", F.col("s").alias("rank"))
    # pinned once — see pagerank_fixed: unpinned, every round re-runs
    # the outdeg aggregate and the edge⋈outdeg join
    contribs = e.join(outdeg, "src").localCheckpoint()
    for _ in range(iterations):
        incoming = (
            contribs.join(r.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                contrib_units.alias("_c"),
            )
            .groupBy("node")
            .agg((F.sum("_c") / F.lit(1e15)).alias("_s"))
        )
        r = (
            # no broadcast hint: Spark cannot broadcast a side of a
            # full-outer hash join (the hint was silently ignored);
            # SMJ on the tiny seed frame is the honest plan
            incoming.join(s, "node", "full_outer")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.coalesce(F.col("s"), F.lit(0.0))
                    + F.lit(damping)
                    * F.coalesce(F.col("_s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return r


def _canonical_undirected(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Canonicalize an edge frame to distinct undirected (lo < hi)
    pairs: duplicates, reversed copies, and self-loops collapse.
    Materialized (localCheckpoint) because every caller fans multiple
    lineages out of it."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, deg) over a canonical (lo, hi) edge frame."""
    return (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )


def _oriented(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered orientation of a canonical edge frame: each
    edge points from its lower-(deg, node) endpoint to the higher, so
    out-degree is O(√E) regardless of hub skew (a hub's edges orient
    INTO it) — the Chiba–Nishizeki / Schank–Wagner bound the triangle
    operators rely on. Returns (u, v, deg_v), materialized."""
    g = e.join(
        deg.withColumnsRenamed({"node": "lo", "deg": "deg_lo"}), "lo"
    ).join(deg.withColumnsRenamed({"node": "hi", "deg": "deg_hi"}), "hi")
    # orientation order: (deg, node) lexicographic — explicit boolean,
    # mirrored verbatim in SQL oracles (no struct-compare dialect risk)
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    return g.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        F.when(lo_first, F.col("deg_hi"))
        .otherwise(F.col("deg_lo"))
        .alias("deg_v"),
    ).localCheckpoint()


def _triangles(
    oriented: DataFrame, members: list | None = None
) -> DataFrame:
    """(u, v, w) triangle rows from an oriented edge frame: wedges
    between out-neighbors of a common source (v before w in the
    orientation order), closed by an inner join against the oriented
    edge set. Every triangle appears exactly once, at its
    lowest-order vertex.

    ``members`` (optional, SMALL — a top-k hub list, bounded by the
    caller's k) restricts output to triangles with at least one
    vertex in the list. The restriction is pushed INTO wedge
    generation, not applied after it: each branch pre-filters one
    side of the wedge join, so each branch PRODUCES only
    hub-neighborhood-sized output — Σ C(outdeg_h, 2) for hub sources
    plus Σ outdeg over the hubs' wedge partners — instead of the full
    ΣC(outdeg, 2) wedge set a post-join filter would still have to
    generate (measured: the post-join filter saved only the closing
    shuffle, 22s → 18s at sf0.1; the branch pushdown is what removes
    the production cost itself). The branches are DISJOINT BY
    CONSTRUCTION — (u∈H ∨ v∈H) wedges vs ¬(u∈H ∨ v∈H) ∧ w∈H wedges —
    so the union needs NO distinct. Provenance of the round-12 flake
    this shape fixed (~1 session in 3, observed n_tri 1221 vs the
    true 1089 at sf0.01, node 4): NOT ``distinct()`` itself — a
    deterministic dedup cannot intermittently leak duplicates — but
    the previous three-OVERLAPPING-branch design re-evaluating the
    non-checkpointed triangle frame across the three attribution
    lineages, so the deduped set each lineage saw could differ
    run-to-run. The fix is structural on both axes: disjoint branches
    need no dedup at all, and the caller (:func:`hub_clustering`)
    localCheckpoints the triangle snapshot ONCE so every attribution
    reads the same frame — at identical pushdown economics."""
    # JOIN STRATEGY (guide §3.1, measured): both joins here pair the
    # edge-sized oriented frame against the wedge-sized stream, and
    # sort-merge would SORT the ΣC(outdeg, 2) wedge side — the
    # quadratically larger one. Hinting shuffled-hash builds the hash
    # table on the EDGE side and streams the wedges unsorted: 6.7s →
    # 3.0s on the sf0.1 co-purchase graph (1.2M edges), identical
    # rows; dropping the hint from wedge generation alone (the r14
    # advice's suggestion — let the planner pick there) re-measured
    # 2.2s → 8.5s min-of-3 interleaved, so the hint stays on both.
    # SCALE BOUND (the advice's real concern): the build side is the
    # oriented edge frame hash-partitioned on its join key, so each
    # task's hash table holds ~E/P edge rows, where P =
    # spark.sql.shuffle.partitions — a deployment-sized knob that
    # grows with the data (guide §2.2/§9), not a constant; unlike
    # sort-merge the build cannot spill, so P must keep E/P
    # task-memory-sized — the same sizing rule every SHJ carries.
    o2 = oriented.select(
        F.col("u"),
        F.col("v").alias("w"),
        F.col("deg_v").alias("deg_w"),
    )
    order_ok = (F.col("deg_v") < F.col("deg_w")) | (
        (F.col("deg_v") == F.col("deg_w")) & (F.col("v") < F.col("w"))
    )
    if members is None:
        wedges = (
            oriented.hint("shuffle_hash")
            .join(o2, "u")
            .where(order_ok)
            .select("u", "v", "w")
        )
    else:
        hub_uv = F.col("u").isin(members) | F.col("v").isin(members)
        a = oriented.where(hub_uv).hint("shuffle_hash").join(o2, "u")
        b = oriented.where(~hub_uv).hint("shuffle_hash").join(
            o2.where(F.col("w").isin(members)), "u"
        )
        wa, wb = (x.where(order_ok).select("u", "v", "w") for x in (a, b))
        wedges = wa.unionByName(wb)
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    ).hint("shuffle_hash")
    return wedges.join(closing, ["v", "w"], "inner").select("u", "v", "w")


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Triangle census of an undirected graph — n_nodes, n_edges,
    n_wedges (ΣC(deg,2)), n_triangles, and the global clustering
    coefficient 3·T/W (graph transitivity) — the density/community
    structure signal a crawl-curation stack reads before trusting
    link-authority scores (a link farm shows near-clique clustering;
    organic link graphs sit orders of magnitude lower).

    DEGREE-ORDERED ORIENTATION (the scale contract): each undirected
    edge is oriented from its lower-(degree, id) endpoint to the
    higher, and wedges are generated only between OUT-neighbors of a
    common source. Out-degree under this orientation is bounded by
    O(√E) regardless of skew (a hub's edges orient INTO it), so
    candidate wedges are Σ C(outdeg, 2) — the arboricity-bounded
    count of Chiba–Nishizeki / Schank–Wagner — instead of the
    unbounded Σ C(deg, 2) a naive neighbor self-join generates on a
    hub. Each candidate wedge (v, w) closes into a triangle iff the
    oriented edge v→w exists (orientation order is transitive, so
    every triangle is counted exactly once, at its lowest-order
    vertex). All joins are node-keyed shuffles; the closing check is
    a LEFT SEMI join against the oriented edge set; no driver-side
    state. Counts are exact integers; the clustering coefficient is
    (3.0·T)/W — an exact integer-valued product then ONE IEEE
    division, bit-identical cross-engine.

    Input may contain duplicates, self-loops, or both directions of
    an edge: rows are canonicalized to (lo, hi), self-loops dropped,
    duplicates collapsed. Returns ONE row:
    (n_nodes, n_edges, n_wedges, n_triangles, global_clustering).
    """
    e = _canonical_undirected(edges, src_col, dst_col)
    deg = _degrees(e)
    tri = _triangles(_oriented(e, deg)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - F.lit(1))).alias("_dp"),
    ).select(
        "n_nodes", F.expr("_dp div 2").cast("bigint").alias("n_wedges")
    )
    edge_stats = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        node_stats.crossJoin(F.broadcast(edge_stats))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                (F.lit(3.0) * F.col("n_triangles")) / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    weight_col: str | None = None,
) -> DataFrame:
    """Clamped-seed label propagation (the semi-supervised classic:
    Zhu & Ghahramani 2002 / Raghavan et al. 2007's LPA restricted to
    a fixed synchronous round count): a small trusted seed set
    carries labels (domain topics, quality tiers, license classes);
    each round, every node adjacent to a labeled node takes the
    MAJORITY label of its labeled neighbors; seed labels are CLAMPED
    (never overwritten). How a curation pipeline spreads scarce
    human/classifier labels over a crawl graph without scoring every
    page. The labeled set grows monotonically, so a fixed small
    iteration count labels everything within `iterations` hops of a
    seed — the curation norm, and what keeps the plan a finite
    unrolled composition (no convergence loop).

    DETERMINISM CONTRACT: votes are exact integer counts (or, with
    ``weight_col``, exact bigint WEIGHT SUMS) over the DISTINCT
    symmetrized edge set, and the winner is argmax by
    (votes DESC, label ASC) — a total order, so ties break
    identically in any engine; no floats anywhere. Per round: one
    node-keyed join + one (node, label)-keyed count + one
    node-partitioned rank window (partitioned — never a global
    window), then the clamp is a seed-keyed anti join; the round
    result is pinned with localCheckpoint so round t+1 consumes a
    table, not a growing plan (the connected-components lesson).

    ``weight_col`` (optional): weighted voting — each labeled
    neighbor votes with its edge weight (INTEGER counts, the
    :func:`pagerank_fixed` weight contract — integer votes stay
    exact in any engine). Parallel/reversed duplicates of an edge
    collapse by SUMMING their weights during symmetrization (a
    multi-edge is a stronger tie), where the unweighted path
    collapses them to one vote.

    Returns (node, label) for seeds plus every node within
    ``iterations`` hops of one.
    """
    from pyspark.sql import Window

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # symmetrize by exploding each edge row into both directions —
    # the previous union of two selects evaluated the whole `edges`
    # subtree twice (guide §7.2 duplicated subtrees; the registry
    # feeds a co-purchase projection here, so that doubled a join)
    if weight_col is None:
        e = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col(src_col).alias("src"),
                            F.col(dst_col).alias("dst"),
                        ),
                        F.struct(
                            F.col(dst_col).alias("src"),
                            F.col(src_col).alias("dst"),
                        ),
                    )
                ).alias("_e")
            )
            .select("_e.src", "_e.dst")
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        vote_agg = F.count(F.lit(1)).cast("bigint").alias("votes")
    else:
        e = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col(src_col).alias("src"),
                            F.col(dst_col).alias("dst"),
                            F.col(weight_col).cast("bigint").alias("w"),
                        ),
                        F.struct(
                            F.col(dst_col).alias("src"),
                            F.col(src_col).alias("dst"),
                            F.col(weight_col).cast("bigint").alias("w"),
                        ),
                    )
                ).alias("_e")
            )
            .select("_e.src", "_e.dst", "_e.w")
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("w").cast("bigint").alias("w"))
            .localCheckpoint()
        )
        vote_agg = F.sum("w").cast("bigint").alias("votes")
    s = (
        seeds.select(
            F.col(node_col).alias("node"), F.col(label_col).alias("label")
        )
        .distinct()
        .localCheckpoint()
    )
    labels = s
    rank_w = Window.partitionBy("node").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    for _ in range(iterations):
        votes = (
            # shuffled-hash on the node-sized label frame — the edge
            # frame streams unsorted (guide §3.1)
            e.join(
                labels.withColumnRenamed("node", "src").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), F.col("label"))
            .agg(vote_agg)
        )
        winners = (
            votes.withColumn("_rn", F.row_number().over(rank_w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
        )
        labels = s.unionByName(
            winners.join(s, "node", "left_anti")
        ).localCheckpoint()
    return labels


def related_items(
    baskets: DataFrame,
    basket_col: str = "basket",
    item_col: str = "item",
    k: int = 5,
    min_count: int = 1,
) -> DataFrame:
    """Per-item top-k related items by co-occurrence cosine — the
    nightly "related items" serving table an item catalog precomputes
    from baskets (orders, sessions, playlists): score(a, b) =
    n_ab² / (n_a · n_b), the SQUARED cosine of the basket-incidence
    vectors (n_ab = baskets containing both, n_a = baskets containing
    a). Squaring keeps the arithmetic rational — exact bigint
    numerator and denominator then ONE IEEE division, bit-identical
    cross-engine (a sqrt would be a libm call; squaring is monotone
    on non-negatives so rankings are unchanged).

    ``min_count`` (default 1 = keep all) floors the pair support:
    pairs co-occurring in fewer than ``min_count`` baskets are cut
    BEFORE symmetrize+rank — the q185-collocations pattern applied to
    the serving table. On a 100 TB catalog the (a, b) aggregate's key
    space is dominated by the long tail of ONE-basket coincidences
    (Zipf: most pairs occur once); the floor bounds the symmetrize/
    join/window input to the recurring pairs a recommender would
    trust anyway. Applied post-aggregation (the groupBy itself is the
    irreducible support count) — the A/B reduction is measured on the
    Zipf basket fixture in MEASUREMENTS_r10.md.

    Scale shape: pair generation is a per-basket self-join, so
    candidate rows are Σ C(|basket|, 2) — bounded by basket size,
    never by item popularity (the hub-safe projection; an item in a
    million baskets of size 5 contributes 10 pairs per basket, not
    10¹² pairs). The ranking is a PER-ITEM window (partitioned by
    item — never a global sort); output is ≤ |items| · k rows, the
    serving-table contract. Ties break by (score DESC, other ASC) —
    a total order. Duplicate (basket, item) rows collapse first so
    multiplicity within one basket cannot inflate counts.

    Returns (item, other, n_ab, score, rank) with rank ≤ k.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    b = (
        baskets.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .distinct()
        .localCheckpoint()
    )
    n = b.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    return _related_topk(_pair_supports(b), n, k, min_count)


def _pair_supports(b: DataFrame) -> DataFrame:
    """(a, b, n_ab) co-occurrence supports (a < b) over a (basket,
    item) incidence frame (duplicates collapse per basket: n_ab counts
    BASKETS containing both) — the shared pair-generation core of
    :func:`related_items`, :func:`build_related_items_state`, the
    maintenance delta (:func:`_apply_ri_state_delta`) and the
    co-purchase graph projections in the query registry.

    Implemented as ONE shuffle (groupBy basket → sorted item array)
    plus an in-task pair expansion with array higher-order functions,
    instead of the previous per-basket self-join: the join form
    shuffled (or broadcast) the incidence TWICE to produce the same
    Σ C(|basket|, 2) candidate rows (guide §2.4 — remove the
    exchange, the data is already grouped by the join key after one
    hash partition). Output rows are bounded by basket size exactly
    as the join was (an array holds one basket's DISTINCT items, so
    the expansion is C(|basket|, 2) — hub items still cost one row
    per basket, never |baskets|²)."""
    arrs = b.groupBy("basket").agg(
        F.sort_array(F.collect_set("item")).alias("_items")
    )
    # all (x, y) with x before y in the sorted distinct array — the
    # exact (x.item < y.item) predicate of the self-join form —
    # expanded in TWO BOUNDED steps (r14 ADVICE): posexplode to one
    # (items, i, a) row per item, then explode the tail slice per
    # row. Peak per-row state is O(|basket|) both times; the previous
    # single-expression flatten(transform(...)) materialized the whole
    # C(|basket|, 2) struct array in memory before its explode, which
    # one skewed basket (100k distinct items → ~5·10⁹ structs) turns
    # into a task OOM that the streamed self-join never had.
    lead = arrs.select(
        F.col("_items"), F.posexplode("_items").alias("_i", "a")
    )
    return (
        lead.select(
            "a",
            F.explode(
                F.slice(
                    F.col("_items"),
                    F.col("_i") + F.lit(2),
                    F.size("_items") - F.col("_i") - F.lit(1),
                )
            ).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )


def _related_topk(
    pairs: DataFrame,
    n_items: DataFrame,
    k: int,
    min_count: int,
    restrict: DataFrame | None = None,
) -> DataFrame:
    """The shared scoring tail of :func:`related_items` and the
    incremental serving-state maintenance (:func:`merge_related_items_
    state`): floor → symmetrize → join counts → squared-cosine score →
    per-item rank window. ``pairs`` is the (a, b, n_ab) support
    aggregate (a < b), ``n_items`` the (item, n_item) counts.
    ``restrict`` (an (item) frame) limits ranking to those items —
    the incremental path recomputes ONLY affected items' top-k; the
    expressions are shared so the two paths are bit-identical by
    construction."""
    from pyspark.sql import Window

    if min_count > 1:
        pairs = pairs.where(F.col("n_ab") >= min_count)
    # symmetrize by EXPLODING each (a, b) row into both directions
    # rather than a union of two selects over `pairs`: the union form
    # evaluated the entire pairs subtree twice (guide §7.2 duplicated
    # subtrees — measured in plans/r14/q188_before.txt: the per-basket
    # pair join + aggregation appear as two full copies under Union),
    # while the explode form scans it once and emits two rows per pair
    # — bit-identical output, half the upstream work
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("item"),
                    F.col("b").alias("other"),
                    F.col("n_ab"),
                ),
                F.struct(
                    F.col("b").alias("item"),
                    F.col("a").alias("other"),
                    F.col("n_ab"),
                ),
            )
        ).alias("_s")
    ).select("_s.item", "_s.other", "_s.n_ab")
    if restrict is not None:
        sym = sym.join(restrict.select("item"), "item", "left_semi")
    scored = (
        sym.join(n_items, "item")
        .join(
            n_items.withColumnsRenamed({"item": "other", "n_item": "n_other"}),
            "other",
        )
        .select(
            "item",
            "other",
            "n_ab",
            (
                (F.col("n_ab") * F.col("n_ab"))
                / (F.col("n_item") * F.col("n_other"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("score").desc(), F.col("other").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("item", "other", "n_ab", "score", "rank")
    )


def hub_clustering(
    edges: DataFrame,
    k: int = 50,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local clustering audit of the top-k highest-degree nodes: for
    each hub, its triangle count and local clustering coefficient
    ``2·T_v / (deg_v · (deg_v − 1))`` — the link-farm detector (an
    organic high-degree hub has LOW local clustering because its
    neighbors don't know each other; a farm is a near-clique: high
    degree AND high clustering). The per-node complement of
    :func:`triangle_stats`' global transitivity.

    Same machinery and bounds: degree-ordered orientation, wedge
    candidates ≤ ΣC(outdeg, 2), each triangle materialized once at
    its lowest-order vertex then attributed to all three members
    (one explode-by-union, one node-keyed count). Hub selection is
    TakeOrderedAndProject by (deg DESC, node ASC) — each partition
    keeps k, never a global sort; ``pos`` derives from a window over
    the already-limited k-row result. The coefficient is an exact
    integer ratio with ONE IEEE division.

    The k hub ids are collected to the driver (size-gated: exactly k
    rows by construction — the ranking.py partition-longs class of
    bounded collect) and pushed as an inline membership filter on
    the wedge stream, so only hub-touching wedges reach the closing
    join's shuffle — the audit costs a wedge SCAN plus a
    hub-neighborhood-sized join, not the full census's wedge
    shuffle.

    Returns (node, deg, n_tri, local_clustering, pos), pos ≤ k.
    """
    from pyspark.sql import Window

    from data_lake_with_spark_spark.operators.relational import top_k

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = _canonical_undirected(edges, src_col, dst_col)
    deg = _degrees(e)
    hubs = top_k(
        deg, [F.col("deg").desc(), F.col("node").asc()], k
    ).localCheckpoint()
    hub_ids = [r["node"] for r in hubs.select("node").collect()]
    # materialized: the attribution below fans THREE lineages out of
    # tri (one per vertex position), and without the checkpoint each
    # union branch re-evaluates the whole wedge/closing DAG — 3× the
    # cost and 3 independent evaluations where one snapshot should be
    # the single source of truth
    tri = _triangles(
        _oriented(e, deg), members=hub_ids
    ).localCheckpoint()
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    out = (
        hubs.join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias(
                "n_tri"
            ),
            F.when(
                F.col("deg") > 1,
                (F.lit(2.0) * F.coalesce(F.col("n_tri"), F.lit(0)))
                / (F.col("deg") * (F.col("deg") - F.lit(1))),
            )
            .otherwise(F.lit(0.0))
            .alias("local_clustering"),
        )
    )
    w = Window.orderBy(F.col("deg").desc(), F.col("node").asc())
    return out.withColumn("pos", F.row_number().over(w).cast("bigint"))


def hits_fixed(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg's hubs-and-authorities) over a
    directed edge frame — the second classic source-authority signal
    next to PageRank, and the one that separates *pointers-to-good-
    content* (hubs: link lists, directories, sitemaps) from
    *good-content* (authorities) — a distinction crawl curation uses
    to rank frontier pages differently from content pages. Per
    iteration: ``a(v) = Σ_{u→v} h(u)`` then ``h(u) = Σ_{u→v} a(v)``,
    starting ``h_0 = 1``.

    RATIONAL-ARITHMETIC FORMULATION (stronger than the PageRank
    decimal route): with the integer start and no per-round
    normalization, every HITS score on an unweighted graph is an
    INTEGER — each iteration is a bigint-sum aggregate, so scores
    are exact and order-independent in ANY engine with no
    double→decimal cast anywhere (the cast of a binary double to a
    decimal is the one step that can round differently across
    engines — the q85/q154 lesson family; integers never take it).
    Scores accumulate through DECIMAL(38,0) so a deep-degree graph
    cannot silently overflow a bigint (magnitude after t iterations
    is ≤ E·maxdeg^(2t-1); DECIMAL(38,0) holds 10^38) — and an
    overflow past that bound RAISES, never emits a 0: under ANSI mode
    (the Spark 4 default) the SUM itself throws ARITHMETIC_OVERFLOW,
    and for non-ANSI sessions — where an overflowed DECIMAL(38,0) SUM
    returns NULL silently, downstream sums would DROP it, and the
    final coalesce would mask it as 0 — every iteration asserts no
    NULL scores on its already-materialized frame. HITS rankings
    are scale-invariant, so the unnormalized integers rank
    identically to Kleinberg's normalized scores; callers needing
    the normalized view divide by the L1 total once at the end.
    Iterations are unrolled with per-step localCheckpoint; edges
    pinned once (the pagerank_fixed execution shape).

    ``weight_col`` (optional) runs WEIGHTED HITS — ``a(v) =
    Σ_{u→v} h(u)·w(u,v)`` and symmetrically for hubs — with INTEGER
    weights (link counts; cast to bigint, the graph-family weight
    contract), which PRESERVES the integer-exactness story: every
    product and sum stays an exact DECIMAL(38,0) integer, so the
    weighted variant is as engine-independent as the unweighted one
    (w=1 is property-tested identical). Magnitude grows as
    ≤ E·(maxdeg·max_w)^(2t−1); the overflow guard covers it.

    Returns (node, authority, hub) as exact integers (DECIMAL(38,0))
    from the final iteration — full outer over both score frames;
    nodes with no in-edges carry authority 0, no out-edges hub 0.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("bigint").alias("w"))
    e = edges.select(*cols).localCheckpoint()
    contrib = (
        F.col("score")
        if weight_col is None
        else F.col("score") * F.col("w")
    )
    # h_0 ≡ 1 for EVERY node, so the first authority pass needs no
    # node table and no join: the score column is the constant-1
    # decimal literal (identical integer arithmetic) — this removes
    # the nodes-distinct materialization and round 1's shuffle (r15
    # job audit: fixed per-job cost dominates these entries)
    h: DataFrame | None = None
    # Under ANSI mode (the Spark 4 default) a DECIMAL(38,0) SUM
    # overflow RAISES ARITHMETIC_OVERFLOW inside the aggregate itself,
    # so the per-round NULL probe below is a redundant extra job
    # (2 per iteration — measured as pure fixed cost in the r15 job
    # audit); it exists for NON-ANSI sessions, where the overflowed
    # sum silently returns NULL instead.
    _ansi = (
        str(edges.sparkSession.conf.get("spark.sql.ansi.enabled")).lower()
        == "true"
    )

    def _no_overflow(frame: DataFrame, side: str) -> DataFrame:
        # non-ANSI Spark returns NULL on DECIMAL(38,0) SUM overflow;
        # unchecked, the NULL is dropped by the next round's SUM and
        # coalesced to 0 at the end — a silent corruption. The frame
        # is already localCheckpoint-materialized, so this scan is
        # cache-priced.
        if _ansi:
            return frame
        if frame.where(F.col("score").isNull()).limit(1).count() > 0:
            raise ArithmeticError(
                f"hits_fixed: {side} sum overflowed DECIMAL(38,0) "
                "(graph too deep/dense for the 10^38 bound) — reduce "
                "iterations or normalize between rounds"
            )
        return frame

    a = None
    for t in range(iterations):
        a_src = (
            e.withColumn("score", F.lit(1).cast("decimal(38,0)"))
            if t == 0
            else e.join(h.withColumnRenamed("node", "src"), "src")
        )
        a = _no_overflow(
            a_src.groupBy(F.col("dst").alias("node"))
            .agg(F.sum(contrib).cast("decimal(38,0)").alias("score"))
            .localCheckpoint(),
            "authority",
        )
        h = _no_overflow(
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(contrib).cast("decimal(38,0)").alias("score"))
            .localCheckpoint(),
            "hub",
        )
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        a.withColumnRenamed("score", "authority")
        .join(
            h.withColumnRenamed("score", "hub"), "node", "full_outer"
        )
        .select(
            "node",
            F.coalesce("authority", zero).alias("authority"),
            F.coalesce("hub", zero).alias("hub"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental related-items serving state (r10 verdict item #4):
# related_items() rebuilds the pair-support aggregate from the FULL
# basket history every run — fine as a query, not as the nightly
# serving job at 100 TB, where a day's baskets are ~0.1% of history.
# The state layout persists the irreducible aggregates and a
# daily batch delta-updates them, rewriting only affected partitions
# through the same CoW machinery as the IVF/BM25/PQ indexes.
# ---------------------------------------------------------------------------


def _ri_meta_uri(path: str) -> str:
    return f"{path}/ri_meta.json"


#: On-disk format version of the related-items state. Bumped whenever
#: a component's schema changes incompatibly (v2: the baskets ledger
#: became the full (basket, item) incidence — v1 stored basket ids
#: only, which cannot drive a ledger-only GDPR inversion). Maintenance
#: ops CHECK it before planning, so an old-format state fails with a
#: clear "rebuild from source history" error instead of an opaque
#: mid-plan column-resolution error (r12 ADVICE).
_RI_FORMAT = 2

#: Build-time sizing floor for the state's hash buckets: below ~this
#: many incidence rows per bucket the per-file open cost dominates any
#: pruned maintenance read and the directory count becomes the object
#: store's problem (the similarity.IVFPQ_MIN_ROWS_PER_LEAF contract,
#: applied to the related-items layout — r12 verdict #5).
RI_MIN_ROWS_PER_BUCKET = 64


def _ri_check_format(meta: dict, path: str) -> None:
    """Refuse to operate on a state whose on-disk format predates (or
    postdates) this code — the version stamp is the difference between
    a descriptive error here and an opaque Spark column-resolution
    failure deep inside a maintenance plan (r12 ADVICE: the v1→v2
    ledger schema change surfaced as ``.select("basket", "item")``
    blowing up mid-merge).

    A MISSING stamp is not automatically v1 (r13 ADVICE): states
    written before the stamp existed already carry the v2
    (basket, item) incidence ledger — only their meta lacks the key.
    Those are distinguished by the per-component schema sidecar (the
    ledger schema listing an ``item`` field) and accepted as v2; the
    hard error is reserved for ledgers that actually lack the
    incidence."""
    got = meta.get("format")
    if got == _RI_FORMAT:
        return
    if got is None:
        import json

        baskets_schema = (meta.get("schemas") or {}).get("baskets")
        if baskets_schema is not None:
            fields = {
                f.get("name")
                for f in json.loads(baskets_schema).get("fields", [])
            }
            if "item" in fields:
                return  # unstamped v2 — compatible, operate normally
    raise ValueError(
        f"related-items state at {path!r} has on-disk format "
        f"{got!r}; this code reads format {_RI_FORMAT} (v2 stores "
        "the full (basket, item) incidence as the ledger; v1 "
        "stored basket ids only) — a v1 ledger cannot drive the "
        "ledger-only maintenance ops; rebuild the state from the "
        "source history with build_related_items_state"
    )


def _ri_bucket(cols, n_buckets: int):
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


#: Each state component's bucket column and the keys it hashes.
_RI_LAYOUT = {
    "pairs": ("pair_bucket", ["a", "b"]),
    "items": ("item_bucket", ["item"]),
    "baskets": ("basket_bucket", ["basket"]),
    "topk": ("item_bucket", ["item"]),
}


def _ri_bucketed(comp: str, frame: DataFrame, n_buckets: int) -> DataFrame:
    bucket_col, keys = _RI_LAYOUT[comp]
    return frame.withColumn(bucket_col, _ri_bucket(keys, n_buckets))


def _ri_meta(spark, path: str) -> dict:
    """The state's meta sidecar, format-checked."""
    from data_lake_with_spark_spark.sources import cow

    meta = cow.read_json(spark, _ri_meta_uri(path))
    if meta is None:
        raise FileNotFoundError(f"no ri_meta.json under {path!r}")
    _ri_check_format(meta, path)
    return meta


def _ri_read(spark, path: str, component: str, meta: dict) -> DataFrame:
    """Read a state component via ``cow.read_component``, falling back
    to a typed EMPTY frame from the meta sidecar's schema when the
    component directory holds no parquet footer — a plain-layout
    component can be legitimately empty (a min_count floor nobody
    crosses leaves ``topk`` with zero rows, and Spark's empty
    partitioned write emits only _SUCCESS)."""
    import json

    from pyspark.errors import AnalysisException

    from data_lake_with_spark_spark.sources import cow

    try:
        return cow.read_component(spark, path, component)
    except AnalysisException:
        schema = (meta.get("schemas") or {}).get(component)
        if schema is None:
            raise
        from pyspark.sql.types import StructType

        return local_frame(spark, [], StructType.fromJson(json.loads(schema)))


def build_related_items_state(
    baskets: DataFrame,
    path: str,
    basket_col: str = "basket",
    item_col: str = "item",
    k: int = 5,
    min_count: int = 1,
    n_buckets: int = 32,
    strict_layout: bool = False,
) -> None:
    """Materialize :func:`related_items` as a maintainable serving
    STATE — four components plus a meta sidecar:

    - ``pairs`` (a, b, n_ab), a < b, partitioned by
      ``pair_bucket = pmod(xxhash64(a, b), n_buckets)`` — the support
      aggregate, stored UNFLOORED: the ``min_count`` floor applies at
      top-k derivation, because a floored state could never resurrect
      a pair whose support crosses the floor in a later batch (the
      q108 incremental-aggregate lesson: persist the full aggregate,
      derive the serving view).
    - ``items`` (item, n_item), partitioned by
      ``item_bucket = pmod(xxhash64(item), n_buckets)``.
    - ``baskets`` (basket, item) — the full deduped incidence under
      the same hash-bucket scheme (bucketed by basket): the
      append-only ledger that (a) lets a merge REJECT a re-delivered
      basket id (double-counting would silently inflate supports)
      and (b) holds EXACTLY the rows needed to INVERT any merge —
      :func:`delete_from_related_items_state` regenerates a
      tombstoned basket's pair/item deltas from the ledger alone, so
      GDPR erasure never depends on the raw order feed still
      existing (under erasure the source rows are typically being
      deleted too). The incidence costs ledger bytes ≈ input bytes —
      the price of invertibility, bucketed and append-only.
    - ``topk`` (item, other, n_ab, score, rank ≤ k), partitioned by
      ``item_bucket`` — the serving table itself, derived through the
      SAME expressions as :func:`related_items`
      (:func:`_related_topk`), so build-then-serve equals the
      from-scratch query bit-for-bit.

    All four partition columns are pure hash functions of their keys,
    so a batch's changed-partition set is computable without scanning
    the state. ``k``/``min_count``/``n_buckets`` freeze into the meta
    sidecar; maintenance reads them back rather than trusting callers
    to repeat them.

    Sizing ``n_buckets``: scale it with the catalog (a fixed
    per-bucket row budget — the :func:`similarity.build_pq_index`
    rule): a batch touching D distinct pair keys rewrites
    ~min(D, n_buckets) buckets of state_bytes/n_buckets each, so
    written bytes stay batch-proportional only when bucket count
    grows with the state. Sizing contract (ENFORCED, the
    IVFPQ leaf-grain rule): the build requires an average of at least
    :data:`RI_MIN_ROWS_PER_BUCKET` incidence rows per bucket —
    ``n_buckets * RI_MIN_ROWS_PER_BUCKET <= n_incidence`` — else it
    warns (``strict_layout=True`` raises): below that grain each of
    the four components fans out into per-file-open-dominated tiny
    directories and every pruned maintenance read LOSES to a flat
    scan."""
    from data_lake_with_spark_spark.sources import cow

    if k < 1 or min_count < 1 or n_buckets < 1:
        raise ValueError("k, min_count, n_buckets must all be >= 1")
    spark = baskets.sparkSession
    b = (
        baskets.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .distinct()
        .localCheckpoint()
    )
    n_inc = b.count()
    if n_buckets * RI_MIN_ROWS_PER_BUCKET > n_inc:
        msg = (
            f"build_related_items_state: layout grain too fine — "
            f"n_buckets({n_buckets}) over n_incidence={n_inc} rows "
            f"averages {n_inc / max(1, n_buckets):.1f} rows/bucket "
            f"(< {RI_MIN_ROWS_PER_BUCKET}); at this grain per-file "
            "open cost makes every bucket-pruned maintenance read "
            "slower than a flat scan — lower n_buckets so "
            f"n_buckets*{RI_MIN_ROWS_PER_BUCKET} <= n_incidence"
        )
        if strict_layout:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    from data_lake_with_spark_spark.session import run_concurrent

    # the two irreducible aggregates are independent passes over the
    # checkpointed incidence — materialize them concurrently (§2.6)
    pairs, n = run_concurrent(
        [
            lambda: _pair_supports(b).localCheckpoint(),
            lambda: b.groupBy("item")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
            .localCheckpoint(),
        ]
    )
    framed = {
        comp: _ri_bucketed(comp, frame, n_buckets)
        for comp, frame in (
            ("pairs", pairs),
            ("items", n),
            ("baskets", b),
            ("topk", _related_topk(pairs, n, k, min_count)),
        )
    }

    def _write(comp):
        bucket_col = _RI_LAYOUT[comp][0]
        (
            framed[comp].repartition(n_buckets, bucket_col)
            .write.mode("overwrite")
            .partitionBy(bucket_col)
            .parquet(f"{path}/{comp}")
        )

    # the four component writes are independent (pairs/n are already
    # checkpointed, each write targets its own directory) — overlap
    # them so each job's task tail back-fills the others (guide §2.6)
    run_concurrent([lambda c=c: _write(c) for c in framed])
    cow.write_json(
        spark,
        _ri_meta_uri(path),
        {
            "format": _RI_FORMAT,
            "k": int(k),
            "min_count": int(min_count),
            "n_buckets": int(n_buckets),
            # per-component schemas: a plain-layout component can be
            # legitimately EMPTY (floor nobody crosses), and an empty
            # partitioned write leaves no footer to infer from
            "schemas": {comp: f.schema.json() for comp, f in framed.items()},
        },
    )


def related_items_topk(spark, path: str) -> DataFrame:
    """The serving table of a :func:`build_related_items_state`
    layout — (item, other, n_ab, score, rank), resolved through
    ``cow.read_component`` so plain, link-promoted, and manifest
    epochs serve identically."""
    from data_lake_with_spark_spark.sources import cow

    meta = cow.read_json(spark, _ri_meta_uri(path)) or {}
    return _ri_read(spark, path, "topk", meta).select(
        "item", "other", "n_ab", "score", "rank"
    )


def related_items_health(spark, path: str) -> DataFrame:
    """State-health report for a :func:`build_related_items_state`
    layout — the WHEN-to-maintain signal for the co-occurrence
    serving family (r13 verdict #3: the quantized ANN families got
    staleness reports in q209/q211/q212 and BM25 its twin; this
    closes the set). One row, read off the state's OWN components
    (never the source history):

    - **stamped config** (meta sidecar): ``k_stamped`` /
      ``min_count_stamped`` / ``n_buckets_stamped`` — what the
      serving derivation actually uses.
    - **support shape** (pairs, column-pruned to ``n_ab``):
      ``n_pairs`` (unfloored — the state persists the full
      aggregate), ``pairs_below_floor`` (support < min_count: stored
      but unserved — the floor debt a future batch can resurrect,
      and the bytes a support-pruning compaction would reclaim) and
      ``max_support``.
    - **ledger size** (baskets): ``n_incidence`` / ``n_baskets`` —
      the read amplification the NEXT ledger-driven erasure pays,
      and the denominator of the build's grain contract.
    - **serving coverage** (topk + items): ``n_items`` vs
      ``served_items`` (items with at least one above-floor pair)
      and ``topk_rows`` — a coverage ratio that falls under
      delete-heavy churn is the re-derive/compact signal.
    - **ledger-bucket health** (baskets, partition column only):
      ``dead_buckets`` / ``bucket_min`` / ``bucket_max`` incidence
      rows over the stamped hash buckets — skew degrades every
      bucket-pruned maintenance read. Hash-layout ground truth is
      gated in tests against a from-scratch rebuild (DuckDB has no
      xxhash64, so the driver oracle covers every column except
      these three; see q215).

    Staleness is a DELTA metric: pin the build-time row
    (``similarity.write_staleness_baseline``) and alert on
    ``similarity.staleness_drift`` ratios — a delete-heavy state
    shrinks the ledger and coverage; an upsert-heavy one grows floor
    debt. All legs are partial-aggregable single passes. Accepts a
    direct state/epoch path or a lifecycle ROOT."""
    from data_lake_with_spark_spark.operators.similarity import (
        _resolve_index_path,
    )

    path = _resolve_index_path(spark, path)
    meta = _ri_meta(spark, path)
    n_buckets = int(meta["n_buckets"])
    min_count = int(meta["min_count"])

    stamped = local_frame(
        spark,
        [(int(meta["k"]), min_count, n_buckets)],
        "k_stamped int, min_count_stamped int, n_buckets_stamped int",
    )
    pair_agg = _ri_read(spark, path, "pairs", meta).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("n_ab") < min_count, 1).otherwise(0))
        .cast("bigint")
        .alias("pairs_below_floor"),
        F.max("n_ab").cast("bigint").alias("max_support"),
    )
    ledger = _ri_read(spark, path, "baskets", meta)
    ledger_agg = ledger.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_incidence"),
        F.count_distinct(F.col("basket")).cast("bigint").alias("n_baskets"),
    )
    item_agg = _ri_read(spark, path, "items", meta).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items")
    )
    topk_agg = _ri_read(spark, path, "topk", meta).agg(
        F.count(F.lit(1)).cast("bigint").alias("topk_rows"),
        F.count_distinct(F.col("item")).cast("bigint").alias("served_items"),
    )
    # ledger-bucket occupancy: partition-column-only scan
    occ = ledger.groupBy("basket_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("_occ")
    )
    buckets = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("basket_bucket")
    )
    bucket_agg = buckets.join(occ, "basket_bucket", "left").agg(
        F.sum(F.when(F.col("_occ").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("dead_buckets"),
        F.min("_occ").cast("bigint").alias("bucket_min"),
        F.max("_occ").cast("bigint").alias("bucket_max"),
    )
    return (
        stamped.crossJoin(pair_agg)
        .crossJoin(ledger_agg)
        .crossJoin(item_agg)
        .crossJoin(topk_agg)
        .crossJoin(bucket_agg)
        .select(
            "k_stamped",
            "min_count_stamped",
            "n_buckets_stamped",
            "n_pairs",
            "pairs_below_floor",
            "max_support",
            "n_incidence",
            "n_baskets",
            "n_items",
            "served_items",
            "topk_rows",
            "dead_buckets",
            "bucket_min",
            "bucket_max",
        )
    )


def merge_related_items_state(
    spark,
    base_path: str,
    new_baskets: DataFrame,
    out_path: str,
    basket_col: str = "basket",
    item_col: str = "item",
    layout: str = "links",
) -> dict:
    """Delta-update the related-items serving state with a batch of
    NEW baskets (the nightly order feed) — the q108
    incremental-aggregate pattern applied to the pair-support state:

    1. The batch's (basket, item) incidence dedups and expands into
       delta pair supports — Σ C(|basket|, 2) rows, bounded by batch
       basket SIZE, never item popularity or history length; the full
       history is never re-paired.
    2. Batch basket ids are validated NEW against the baskets ledger
       (bucket-pruned semi-join; a re-delivered basket raises instead
       of double-counting — replay the batch minus it, or rebuild).
    3. ``pairs`` / ``items`` / ``baskets`` update by summing deltas
       into EXACTLY the partitions the batch keys hash to (pure hash
       functions — no scan locates them).
    4. The serving ``topk`` recomputes for AFFECTED items only:
       batch items (their n_item changed, rescoring every pair they
       touch) plus their pair partners (a partner's ranking sees the
       changed score) — at 100 TB the batch's graph neighborhood, not
       the catalog. Unaffected items in the same buckets carry
       verbatim.

    Served results are gated bit-identical to a from-scratch
    :func:`related_items` over the full history (q199's oracle is
    O_Q188 verbatim) — the floor/score/rank expressions are shared
    (:func:`_related_topk`), and the floor applies at derivation so
    pairs crossing ``min_count`` in this batch appear exactly as a
    rebuild would have them. Every component commits through
    ``sources.cow`` (fresh ``out_path``, ``layout`` ``"links"`` or
    ``"manifest"``). Returns the pairs-component promotion stats plus
    ``affected_items``/``changed_topk_partitions`` counters."""
    from data_lake_with_spark_spark.sources import cow

    cow.check_target(
        spark, "merge_related_items_state", base_path, out_path, layout,
        "pairs",
    )
    meta = _ri_meta(spark, base_path)
    n_buckets = meta["n_buckets"]
    nb = (
        new_baskets.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .distinct()
        .localCheckpoint()
    )
    # --- validate: every batch basket id must be NEW ---------------
    # The bucket list is collected once and shared with the delta
    # core's ledger leg; the replay probe itself runs as the core's
    # pre_write_check — concurrent with the (read-only) delta
    # materializations, strictly before any component write.
    ch_baskets = cow.partition_values(nb, _ri_bucket(["basket"], n_buckets))

    def _replay_check():
        replayed = (
            _ri_read(spark, base_path, "baskets", meta)
            .where(cow.in_partitions("basket_bucket", ch_baskets))
            .join(nb.select("basket").distinct(), "basket", "left_semi")
        )
        if replayed.limit(1).count() > 0:
            raise ValueError(
                "merge_related_items_state: batch re-delivers basket ids "
                "already in the state — merging would double-count their "
                "pairs; deliver only new baskets (or rebuild)"
            )

    return _apply_ri_state_delta(
        spark,
        base_path,
        nb,
        out_path,
        layout,
        meta,
        sign=1,
        pre_write_check=_replay_check,
        ch_baskets=ch_baskets,
    )


def delete_from_related_items_state(
    spark,
    base_path: str,
    basket_ids: DataFrame,
    out_path: str,
    basket_col: str = "basket",
    layout: str = "links",
) -> dict:
    """GDPR erasure for the related-items serving state — the exact
    INVERSE of :func:`merge_related_items_state` (r11 verdict #2: the
    one serving surface that retained purged users' co-occurrence
    signal). ``basket_ids`` is the tombstone set (a user's order /
    session / playlist ids); the op is LEDGER-DRIVEN: it reads the
    tombstoned baskets' (basket, item) incidence from the state's own
    ledger (bucket-pruned semi-join), so erasure works even after the
    raw order feed is itself deleted — under GDPR the source rows
    usually are.

    1. Victim incidence → NEGATIVE pair/item deltas through the same
       pair expansion as the merge (Σ C(|basket|, 2) rows, bounded by
       tombstone size, never history length).
    2. ``pairs`` / ``items`` subtract within exactly the victims'
       hash buckets; supports hitting zero DROP (the pair never
       co-occurred outside the erased baskets); a NEGATIVE result
       raises (state corruption — ledger-driven inversion can never
       legitimately go below zero).
    3. The ledger drops the victims' rows; the serving ``topk``
       recomputes for affected items only (victim items plus their
       pair partners), through the shared :func:`_related_topk`
       expressions — so the post-delete table is bit-identical to a
       from-scratch :func:`related_items` over the SURVIVING baskets
       (q206's oracle is O_Q188 over the survivor predicate).

    IDEMPOTENT by design: ids absent from the ledger are skipped
    silently — "ensure these baskets are gone" is naturally
    replay-safe, which is what an at-least-once erasure pipeline
    needs (contrast the merge, which must RAISE on re-delivery
    because double-counting corrupts supports; deleting twice is
    just deleted). COVERAGE CONTRACT (r12 ADVICE): because of that
    idempotency, a caller passing ids in the wrong domain or type
    gets a "successful" erasure that deleted nothing — so the stats
    report ``requested_baskets`` (distinct tombstone ids supplied)
    vs ``matched_baskets`` (how many were actually in the ledger);
    an erasure pipeline should assert the coverage it expects
    (first-time erasure: matched == requested; replay: matched may
    be 0) instead of trusting the call's success alone. Physical
    erasure still requires the epoch lifecycle tail: delete →
    compact → set_current → vacuum, gated in
    tests/test_gdpr_pipeline.py as the fifth serving surface.

    Returns the pairs promotion stats plus ``deleted_basket_rows``,
    ``requested_baskets``, ``matched_baskets``, ``affected_items``,
    ``changed_topk_partitions``."""
    from data_lake_with_spark_spark.session import run_concurrent
    from data_lake_with_spark_spark.sources import cow

    cow.check_target(
        spark, "delete_from_related_items_state", base_path, out_path,
        layout, "pairs",
    )
    meta = _ri_meta(spark, base_path)
    n_buckets = meta["n_buckets"]
    ids = (
        basket_ids.select(F.col(basket_col).alias("basket"))
        .distinct()
        .localCheckpoint()
    )
    # ONE aggregate yields the victims' bucket list AND the
    # requested-coverage counter (two jobs before — r15 job-count fold)
    idrow = ids.agg(
        F.collect_set(_ri_bucket(["basket"], n_buckets)).alias("bk"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    ch, requested = sorted(idrow["bk"]), int(idrow["n"])
    victims = (
        _ri_read(spark, base_path, "baskets", meta)
        .where(cow.in_partitions("basket_bucket", ch))
        .join(ids, "basket", "left_semi")
        .select("basket", "item")
        .localCheckpoint()
    )
    # coverage counters (r12 ADVICE): requested vs actually-in-ledger,
    # so erasure pipelines can assert full coverage instead of
    # trusting idempotent success. The aggregate only reads the
    # checkpointed victims frame, so it overlaps the delta core
    # (guide §2.6); `ch` is the requested ids' buckets — a superset of
    # the victims' buckets exactly when some ids are absent from the
    # ledger, which the core documents as the correct/cheap trade.
    stats, vrow = run_concurrent(
        [
            lambda: _apply_ri_state_delta(
                spark,
                base_path,
                victims,
                out_path,
                layout,
                meta,
                sign=-1,
                ch_baskets=ch,
            ),
            lambda: victims.agg(
                F.count(F.lit(1)).alias("_rows"),
                F.count_distinct(F.col("basket")).alias("_matched"),
            ).collect()[0],
        ]
    )
    stats["deleted_basket_rows"] = int(vrow["_rows"])
    stats["requested_baskets"] = requested
    stats["matched_baskets"] = int(vrow["_matched"])
    return stats


def compact_related_items_state(spark, path: str, out_path: str) -> dict:
    """Collapse a related-items state (plain, link-promoted, or a
    MANIFEST epoch chain) into one self-contained plain layout at
    ``out_path`` — the vacuum/OPTIMIZE step (``cow.compact``); the
    meta sidecar carries verbatim. NOTE the ledger is history-sized
    (the full incidence), so a compact rewrites it whole — that is
    the compaction cost every self-contained epoch pays, and why
    ``compact_every`` is a cadence knob, not a per-batch step.
    Returns per-component compaction stats ``{component: stats}``
    (the ledger rewrite cost is visible in the ``baskets`` entry)."""
    from data_lake_with_spark_spark.sources import cow

    _ri_meta(spark, path)
    return cow.compact(
        spark,
        path,
        out_path,
        {comp: bucket_col for comp, (bucket_col, _keys) in _RI_LAYOUT.items()},
        sidecars=("ri_meta.json",),
    )


def _apply_ri_state_delta(
    spark,
    base_path: str,
    nb: DataFrame,
    out_path: str,
    layout: str,
    meta: dict,
    sign: int,
    pre_write_check=None,
    ch_baskets: "list[int] | None" = None,
) -> dict:
    """Shared delta core of :func:`merge_related_items_state`
    (``sign=+1``, ``nb`` = the new baskets' deduped incidence) and
    :func:`delete_from_related_items_state` (``sign=-1``, ``nb`` =
    the tombstoned baskets' ledger incidence) — ONE implementation so
    "delete is the inverse of merge" holds by construction:

    - signed pair/item deltas from the batch's pair expansion
      (batch-sized, never history-sized);
    - supports sum into exactly the batch keys' hash buckets (full
      outer join against the bucket-pruned base); results ≤ 0 drop
      (only reachable when subtracting), < 0 raise (state
      corruption);
    - the ledger unions (merge) or anti-joins (delete) the batch's
      basket rows within its buckets;
    - ``topk`` recomputes for AFFECTED items only — batch items plus
      their pair partners, discovered by ONE column-pruned (a, b)
      scan of the BASE pair state (sufficient for the merge too: a
      brand-new pair's endpoints both sit in the batch, so new pairs
      add no partners beyond batch items) — over the UPDATED
      neighborhood, through the shared :func:`_related_topk`
      expressions; unaffected rows carry verbatim.

    Execution shape: TWO dependency phases, each a ``run_concurrent``
    batch —

    A. everything that READS: per-component chains (batch delta →
       changed-bucket collect → summed component, CHECKPOINTED, with
       the sign<0 NEGATIVE-support integrity gate), the
       affected-neighborhood discovery, and the caller's
       ``pre_write_check`` (merge replay validation). A
       detected-corrupt state therefore raises BEFORE any component
       write starts.
    B. all FOUR component commits concurrently — the topk recompute
       reads the updated view as (base rows outside the changed
       buckets) ∪ (the checkpointed summed rows), row-identical to
       the files the sibling legs are writing, so it carries no
       dependency on those writes. An empty changed set means ALL
       base rows.

    Callers pass ``ch_baskets`` (the ledger buckets they already
    collected — the merge's replay check and the delete's victim
    probe need the same list) so the ledger leg re-collects nothing.
    For the delete path ``ch_baskets`` may be a SUPERSET (the
    requested ids' buckets — ids absent from the ledger contribute a
    bucket with no victim rows): the anti-join rewrites such a bucket
    byte-identical instead of promoting it, which is correct either
    way and free in the common all-ids-matched case."""
    from data_lake_with_spark_spark.session import run_concurrent
    from data_lake_with_spark_spark.sources import cow

    k, min_count, n_buckets = meta["k"], meta["min_count"], meta["n_buckets"]
    s = F.lit(int(sign)).cast("bigint")

    def _summed(comp, count_col, delta):
        """(changed buckets, checkpointed base ⊕ delta over them)."""
        bucket_col, keys = _RI_LAYOUT[comp]
        delta = delta.localCheckpoint()
        ch = cow.partition_values(delta, _ri_bucket(keys, n_buckets))
        summed = (
            _ri_read(spark, base_path, comp, meta)
            .where(cow.in_partitions(bucket_col, ch))
            .select(*keys, count_col)
            .join(delta, keys, "full")
            .select(
                *keys,
                (
                    F.coalesce(F.col(count_col), F.lit(0))
                    + F.coalesce(F.col("_d"), F.lit(0))
                ).cast("bigint").alias(count_col),
            )
            .localCheckpoint()
        )
        # integrity gate on the subtract path only (positive deltas
        # can't go negative), on the exact frame that will be written
        if sign < 0 and summed.where(F.col(count_col) < 0).limit(1).count():
            raise ValueError(
                f"_apply_ri_state_delta: a {comp} count went NEGATIVE — "
                "the subtracted deltas exceed the stored aggregate, "
                "which a ledger-driven inversion can never legitimately "
                "do; the state is corrupt (or the ledger was edited "
                "out-of-band) — rebuild from the source history"
            )
        return ch, summed.where(F.col(count_col) > 0)

    def _affected_leg():
        batch_items = nb.select("item").distinct()
        # partner discovery scans the BASE pair state (column-pruned to
        # (a, b)): for a delete the updated state may have DROPPED the
        # very pairs whose disappearance forces a partner's re-rank; for
        # a merge the base scan is equally sufficient — a brand-new
        # pair's endpoints are both batch items already
        pairs_all = _ri_read(spark, base_path, "pairs", meta).select(
            "a", "b"
        )
        partners = (
            pairs_all.join(
                F.broadcast(batch_items.withColumnRenamed("item", "a")),
                "a",
            )
            .select(F.col("b").alias("item"))
            .unionByName(
                pairs_all.join(
                    F.broadcast(
                        batch_items.withColumnRenamed("item", "b")
                    ),
                    "b",
                ).select(F.col("a").alias("item"))
            )
        )
        affected = (
            batch_items.unionByName(partners).distinct().localCheckpoint()
        )
        # ONE aggregate job yields both the changed-bucket list and the
        # affected count the stats need
        row = affected.agg(
            F.collect_set(_ri_bucket(["item"], n_buckets)).alias("bk"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return affected, sorted(row["bk"]), int(row["n"])

    phase_a = [
        lambda: _summed(
            "pairs",
            "n_ab",
            _pair_supports(nb).select(
                "a", "b", (s * F.col("n_ab")).cast("bigint").alias("_d")
            ),
        ),
        lambda: _summed(
            "items",
            "n_item",
            nb.groupBy("item").agg(
                (s * F.count(F.lit(1))).cast("bigint").alias("_d")
            ),
        ),
        _affected_leg,
    ]
    if pre_write_check is not None:
        phase_a.append(pre_write_check)
    (
        (ch_pairs, upd_pairs),
        (ch_items, upd_items),
        (affected, ch_topk, n_affected),
    ) = run_concurrent(phase_a)[:3]
    if ch_baskets is None:
        ch_baskets = cow.partition_values(
            nb, _ri_bucket(["basket"], n_buckets)
        )

    def _commit(comp, frame, ch):
        return cow.commit(
            spark, _ri_bucketed(comp, frame, n_buckets), base_path,
            out_path, layout, comp, _RI_LAYOUT[comp][0], ch,
        )

    def _updated(comp, rows, ch):
        """Post-batch view of a support component: base rows outside
        the changed buckets ∪ the rewritten rows."""
        return (
            _ri_read(spark, base_path, comp, meta)
            .where(~cow.in_partitions(_RI_LAYOUT[comp][0], ch))
            .select(*rows.columns)
            .unionByName(rows)
        )

    def _baskets_leg():
        base_led = (
            _ri_read(spark, base_path, "baskets", meta)
            .where(cow.in_partitions("basket_bucket", ch_baskets))
            .select("basket", "item")
        )
        if sign > 0:
            upd_baskets = base_led.unionByName(nb.select("basket", "item"))
        else:
            upd_baskets = base_led.join(
                nb.select("basket").distinct(), "basket", "left_anti"
            )
        _commit("baskets", upd_baskets, ch_baskets)

    def _topk_leg():
        # pre-filter the pair state to the affected NEIGHBORHOOD before
        # the scoring tail (a broadcast membership probe on both
        # endpoints): the recompute's join/window input is then
        # neighborhood-sized, not state-sized — the full (a, b) scan
        # in partner discovery is the only state-wide pass this op makes
        aff_a = F.broadcast(
            affected.select(F.col("item").alias("a")).withColumn(
                "_fa", F.lit(1)
            )
        )
        aff_b = F.broadcast(
            affected.select(F.col("item").alias("b")).withColumn(
                "_fb", F.lit(1)
            )
        )
        pairs_near = (
            _updated("pairs", upd_pairs, ch_pairs)
            .join(aff_a, "a", "left")
            .join(aff_b, "b", "left")
            .where(F.col("_fa").isNotNull() | F.col("_fb").isNotNull())
            .select("a", "b", "n_ab")
        )
        # the scoring tail joins item counts on BOTH endpoints; every
        # endpoint it can reference is an endpoint of pairs_near, so the
        # items side semi-joins down to the neighborhood too — without
        # this the recompute shuffles the full |catalog| counts table
        # against a neighborhood-sized frame every nightly batch
        endpoints = (
            pairs_near.select(F.col("a").alias("item"))
            .unionByName(pairs_near.select(F.col("b").alias("item")))
            .distinct()
        )
        items_near = _updated("items", upd_items, ch_items).join(
            endpoints, "item", "left_semi"
        )
        fresh = _related_topk(
            pairs_near, items_near, k, min_count, restrict=affected
        )
        carried_topk = (
            _ri_read(spark, base_path, "topk", meta)
            .where(cow.in_partitions("item_bucket", ch_topk))
            .select("item", "other", "n_ab", "score", "rank")
            .join(affected, "item", "left_anti")
        )
        _commit("topk", carried_topk.unionByName(fresh), ch_topk)

    stats, _, _, _ = run_concurrent(
        [
            lambda: _commit("pairs", upd_pairs, ch_pairs),
            lambda: _commit("items", upd_items, ch_items),
            _baskets_leg,
            _topk_leg,
        ]
    )
    cow.write_json(spark, _ri_meta_uri(out_path), meta)
    stats = dict(stats)
    stats["affected_items"] = n_affected
    stats["changed_topk_partitions"] = ch_topk
    return stats

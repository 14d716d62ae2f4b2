"""Similarity search over an embedding column (array<float>).

- :func:`brute_force_topk` — the exact baseline: broadcast the query
  set against the corpus, JVM-side cosine via higher-order functions
  (zip_with + aggregate — no Python in the hot path), per-query top-k
  via a window. Cost O(|Q|·N·d) but embarrassingly parallel; with a
  broadcast query side there is exactly one shuffle (the top-k
  window on query id).
- :func:`lsh_sign_buckets` / :func:`bucketed_topk` — the scale path:
  sign-LSH bucket key from fixed dimensions, search only within the
  query's bucket. Recall trades against bucket count; at 100 TB the
  bucket key becomes the partition/bucketing key so candidate
  generation is a co-partitioned join, not a cross join.

All arithmetic is double-precision sequential over the array in index
order, so the DuckDB oracle (list_zip/list_transform/list_sum lambda
pipeline) reproduces values to rounding (results rounded to 6 dp).
"""

from __future__ import annotations

from functools import reduce
from math import prod

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_lake_with_spark_spark.session import collect_bounded, local_frame


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label element-wise centroid of an embedding column, in long
    form ``(label, pos, centroid_val)`` — the class-prototype /
    cluster-center aggregation (seed step of k-means, nearest-centroid
    classification, IVF codebook refresh).

    Shape for 100 TB: ``posexplode`` then ONE partial-aggregated
    groupBy on (label, pos) — vectors never collect anywhere whole,
    and dimensions of the same label spread over the cluster. Long
    form is deliberate: element rows hash portably in the value
    oracle, where engine-specific float-array renderings would not.
    Sums route through DECIMAL(18,6) so every engine accumulates the
    identical exact value, and the mean is that exact sum divided by
    the count in ONE IEEE double division — bit-identical everywhere,
    with NO display rounding: a round-to-6dp here sat exactly on a
    .xxxxxx5 boundary at sf0.1 ((label 9, pos 7): exact ratio
    0.0032135) and Spark/DuckDB disagreed on the double's rounding —
    caught by the round-5 multi-SF oracle sweep. Single IEEE ops
    need no canonicalization; only rounding diverges.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    return (
        exploded.groupBy("label", (F.col("pos") + 1).alias("pos"))
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("centroid_val")
        )
        .select("label", F.col("pos").cast("bigint").alias("pos"), "centroid_val")
    )


def l2sq_expr(a: str, b: str) -> Column:
    """Squared L2 distance of two array<float> columns, JVM-side.
    Sequential fold in index order with explicit double casts and
    ``d*d`` (not pow), so the DuckDB oracle twin — a
    ``list_sum(list_transform(generate_series ...))`` over the same
    index order — reproduces values bitwise before rounding."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(cast(x as double) - cast(y as double)) * "
        f"(cast(x as double) - cast(y as double))), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def kmeans_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared L2,
    rounded to 6 dp with cluster id as tiebreaker — deterministic and
    oracle-portable). ``centroids`` is ``(cluster, cent_v)`` and
    broadcasts: assignment is a scan-fused argmin, never a shuffle of
    the corpus. Returns ``(id, cluster)``."""
    w = Window.partitionBy(id_col).orderBy(F.col("_d").asc(), F.col("cluster").asc())
    return (
        emb.select(id_col, F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(centroids.select("cluster", "cent_v")))
        .withColumn("_d", F.round(l2sq_expr("_v", "cent_v"), 6))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, "cluster")
    )


def kmeans(
    emb: DataFrame,
    seed_mod: int = 50,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over an embedding column — the canonical
    iterative distributed algorithm (companion to the iterative
    connected-components regime in operators/dedup.py).

    Deterministic seeding (vectors with ``id % seed_mod == 0``), then
    per iteration: broadcast-argmin assignment (corpus never
    shuffles) and an element-wise mean refit via posexplode + one
    partial-aggregated groupBy. The k×dim centroid frame is
    ``localCheckpoint``ed each round — this is the legitimate use of
    checkpointing: k rows, while the lineage would otherwise nest one
    crossJoin + window + two aggregations PER ITERATION and Catalyst
    re-analyzes the whole stack every action. Empty clusters keep
    their previous centroid (standard Lloyd fallback).

    Returns ``(assignments, centroids)``: ``(id, cluster)`` and
    ``(cluster, cent_v)``.
    """
    cents = emb.where((F.col(id_col) % seed_mod) == 0).select(
        F.col(id_col).alias("cluster"), F.col(vec_col).alias("cent_v")
    )
    assigned = None
    for _ in range(iterations):
        assigned = kmeans_assign(emb, cents, id_col, vec_col)
        refit = (
            assigned.join(emb, on=id_col)
            .select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("_pm")
            )
            .select(
                "cluster",
                F.expr("transform(_pm, s -> s.m)").alias("cent_v"),
            )
        )
        # empty clusters: carry the previous centroid forward
        carried = cents.join(refit.select("cluster"), on="cluster", how="left_anti")
        cents = refit.unionByName(carried).localCheckpoint()
    return assigned, cents


def cosine_expr(a: str, b: str, dim: int | None = None) -> Column:
    """Cosine similarity of two array<float> columns, JVM-side.

    Casts to double before multiplying so Spark and DuckDB accumulate
    identically; terms accumulate in ascending element order on both
    paths, so the two formulations are bit-identical:

    - ``dim=None``: ``aggregate``/``zip_with`` fold — works for any
      length, but higher-order lambdas run interpreted (CodegenFallback).
    - ``dim=k``: the sums unrolled over ``element_at`` 1..k — plain
      scalar expressions, measured 3× faster on a plain 2M-pair
      join/filter at 64 dims. Caller contract: every array has
      exactly ``k`` elements (an embedding table's fixed width).
      The contract is ENFORCED: a non-null array whose length is not
      ``k`` raises at runtime (``raise_error``) rather than yielding
      a NULL that threshold filters would silently drop — a wrong
      ``vec_dim`` surfaces as an error, not missing neighbors. NULL
      arrays still yield NULL (outer-join semantics). CAVEAT (now
      load-bearing — round-6 verdict #1): this single-Column form
      unrolls THREE k-term sums (dot + both norms, ~3k multiplies
      plus element_at bounds checks) into whichever generated method
      consumes it; in join+window plans janino hits its 64 KB method
      limit, whole-stage codegen fails, and the interpreted fallback
      is SLOWER than the fold. The pair-scoring operators therefore
      do NOT use this branch any more: they precompute per-vector
      norms once (:func:`norm_expr`, a plain scan-side projection)
      and score each pair with the dot product only
      (:func:`dot_expr` + :func:`cosine_from_parts`) — one k-term
      sum per pair instead of three, small enough to compile in
      every plan shape (gated by tests/test_plan_gates.py with
      ``spark.sql.codegen.fallback`` disabled). Use this dim branch
      only in standalone projection shapes.
    """
    if dim is not None:
        ea = [F.element_at(F.col(a), i).cast("double") for i in range(1, dim + 1)]
        eb = [F.element_at(F.col(b), i).cast("double") for i in range(1, dim + 1)]
        dot, na2, nb2 = ea[0] * eb[0], ea[0] * ea[0], eb[0] * eb[0]
        for i in range(1, dim):
            dot = dot + ea[i] * eb[i]
            na2 = na2 + ea[i] * ea[i]
            nb2 = nb2 + eb[i] * eb[i]
        na, nb = F.sqrt(na2), F.sqrt(nb2)
        sized_ok = (
            (F.col(a).isNull() | (F.size(F.col(a)) == dim))
            & (F.col(b).isNull() | (F.size(F.col(b)) == dim))
        )
        cos = F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(
            F.lit(None).cast("double")
        )
        return F.when(sized_ok, cos).otherwise(
            F.raise_error(
                F.lit(
                    f"cosine_expr(dim={dim}): array length != {dim} — "
                    "wrong vec_dim would silently drop pairs"
                )
            ).cast("double")
        )
    dot = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )
    na = F.expr(
        f"sqrt(aggregate({a}, cast(0.0 as double), "
        f"(acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )
    nb = F.expr(
        f"sqrt(aggregate({b}, cast(0.0 as double), "
        f"(acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )
    # zero-norm guard: Spark's non-ANSI 0/0 is NULL, DuckDB's is NaN —
    # NULL on both engines keeps the SQL oracle hash-identical.
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(
        F.lit(None).cast("double")
    )


def dot_expr(a: str, b: str, dim: int | None = None) -> Column:
    """Dot product of two array<float> columns, double-accumulated in
    ascending element order (bit-identical to the fold and to a
    DuckDB sequential ``list_sum``). ``dim=k`` unrolls to k scalar
    products — ONE k-term sum, sized to stay under janino's 64 KB
    method limit even inside join+window generated code (the
    3-sums-in-one ``cosine_expr(dim=...)`` form does not; round-6
    verdict #1). NULL array → NULL."""
    if dim is None:
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
            f"cast(0.0 as double), (acc, v) -> acc + v)"
        )
    d = F.element_at(F.col(a), 1).cast("double") * F.element_at(F.col(b), 1).cast(
        "double"
    )
    for i in range(2, dim + 1):
        d = d + F.element_at(F.col(a), i).cast("double") * F.element_at(
            F.col(b), i
        ).cast("double")
    return d


def norm_expr(a: str, dim: int | None = None) -> Column:
    """L2 norm of an array<float> column: sqrt of the squares summed
    in ascending element order (bit-identical to the fold twin).
    Computed ONCE PER VECTOR in a plain scan-side projection, then
    carried as a column through the pair-producing joins — so the
    per-pair expression is just ``dot/(na*nb)`` and each vector's
    norm is never recomputed per candidate.

    With ``dim=k`` the width contract is enforced HERE (one check per
    vector instead of per pair): a non-null array whose length ≠ k
    raises (``raise_error``) rather than NULLing — a wrong
    ``vec_dim`` surfaces as an error, not as silently-missing
    neighbors. NULL array → NULL norm → NULL cosine downstream
    (outer-join semantics preserved)."""
    if dim is None:
        return F.sqrt(
            F.expr(
                f"aggregate({a}, cast(0.0 as double), "
                f"(acc, v) -> acc + cast(v as double) * cast(v as double))"
            )
        )
    s = F.element_at(F.col(a), 1).cast("double") * F.element_at(F.col(a), 1).cast(
        "double"
    )
    for i in range(2, dim + 1):
        s = s + F.element_at(F.col(a), i).cast("double") * F.element_at(
            F.col(a), i
        ).cast("double")
    return F.when(
        F.col(a).isNull() | (F.size(F.col(a)) == dim), F.sqrt(s)
    ).otherwise(
        F.raise_error(
            F.lit(
                f"norm_expr(dim={dim}): array length != {dim} — "
                "wrong vec_dim would silently drop pairs"
            )
        ).cast("double")
    )


def cosine_from_parts(dot: Column, na: Column, nb: Column) -> Column:
    """Guarded cosine from a pair dot product and two precomputed
    norms: ``dot/(na*nb)`` with the same zero-norm NULL guard (and
    the same operation order, hence bit-identical values) as
    :func:`cosine_expr`."""
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(
        F.lit(None).cast("double")
    )


def cosine_to_set_arrow(
    df: DataFrame,
    set_mat,
    vec_col: str,
    dim: int,
    out_col: str = "cos_arr",
) -> DataFrame:
    """Append ``array<double>`` of RAW cosines from each row's vector
    to a small fixed vector set (a ``numpy (k, dim)`` float64 matrix,
    closure-shipped to the Python workers) — the vectorized scoring
    kernel for broadcast-argmin assignment.

    Bit-exactness contract (what lets the SQL oracle keep
    hash-matching): the accumulation is VECTORIZED OVER ROWS but
    SEQUENTIAL OVER DIMS — ``acc += A[:, j] * B[:, j]`` for j
    ascending — so every dot/norm is the identical IEEE operation
    sequence as the JVM ``aggregate`` fold and DuckDB's
    ``list_dot_product``; ``float32 → float64`` widening is exact;
    division grouping is ``dot / (na * nb)``; zero-norm pairs yield
    NULL. ROUNDING IS NOT DONE HERE — callers round JVM-side
    (``F.round``) so engine rounding semantics stay untouched (the
    round-5 lesson: rounding itself is the only divergence).

    Why a Python kernel in the hot path: the JVM alternatives both
    lose — the ``aggregate`` fold is CodegenFallback (interpreted
    per-element, the 100× bottleneck), and a dim-unrolled scalar
    expression either overflows janino's 64 KB method limit
    (interpreted fallback, round-6 verdict #1) or costs seconds of
    generated-code compilation per stage. This is the
    :func:`all_pairs_blas` pattern, Arrow-batched and norm-hoisted:
    per batch it is k×dim×rows vectorized flops, no codegen at all.

    NULL embeddings yield a NULL ``out_col`` (outer-join semantics);
    a non-null vector of width ≠ ``dim`` raises (the ``vec_dim``
    width contract, same as :func:`norm_expr`).
    """
    import numpy as np

    cmat = np.ascontiguousarray(set_mat, dtype=np.float64)
    if cmat.ndim != 2 or cmat.shape[1] != dim:
        raise ValueError(
            f"cosine_to_set_arrow: set matrix must be (k, {dim}), got {cmat.shape}"
        )
    cnorm = np.zeros(cmat.shape[0])
    for j in range(dim):
        cnorm = cnorm + cmat[:, j] * cmat[:, j]
    cnorm = np.sqrt(cnorm)

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    fields = df.schema.fields
    out_schema = StructType(
        list(fields) + [StructField(out_col, ArrayType(DoubleType()))]
    )
    names = [f.name for f in fields]
    vpos = names.index(vec_col)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            col = pdf.iloc[:, vpos]
            mask = col.notna().to_numpy()
            out = pd.Series([None] * len(pdf), dtype=object, index=pdf.index)
            if mask.any():
                vecs = [np.asarray(v) for v in col[mask]]
                widths = {v.shape[0] for v in vecs}
                if widths != {dim}:
                    raise ValueError(
                        f"cosine_to_set_arrow(dim={dim}): array length in "
                        f"{sorted(widths)} — wrong vec_dim would silently "
                        "drop pairs"
                    )
                a = np.stack(vecs).astype(np.float64)
                dot = np.zeros((a.shape[0], cmat.shape[0]))
                na = np.zeros(a.shape[0])
                for j in range(dim):
                    dot = dot + a[:, j : j + 1] * cmat[None, :, j]
                    na = na + a[:, j] * a[:, j]
                na = np.sqrt(na)
                denom = na[:, None] * cnorm[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / denom
                cos = np.where(denom > 0, cos, np.nan)
                rows = [
                    [None if np.isnan(x) else float(x) for x in r] for r in cos
                ]
                out[np.flatnonzero(mask)] = pd.Series(rows, dtype=object).values
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(score, schema=out_schema)


def cosine_pairs_arrow(
    df: DataFrame,
    a_col: str,
    b_col: str,
    dim: int,
    out_col: str = "cos_raw",
) -> DataFrame:
    """Append the RAW cosine between two array columns of each row,
    Arrow-batched with the same bit-exactness contract as
    :func:`cosine_to_set_arrow` (rows vectorized, dims sequential,
    rounding left to the JVM caller). The pair-scoring twin for join
    outputs — candidate verification after IVF/LSH candidate
    generation."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    fields = df.schema.fields
    out_schema = StructType(list(fields) + [StructField(out_col, DoubleType())])
    names = [f.name for f in fields]
    apos, bpos = names.index(a_col), names.index(b_col)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            ca, cb = pdf.iloc[:, apos], pdf.iloc[:, bpos]
            mask = (ca.notna() & cb.notna()).to_numpy()
            out = np.full(len(pdf), np.nan)
            if mask.any():
                va = [np.asarray(v) for v in ca[mask]]
                vb = [np.asarray(v) for v in cb[mask]]
                widths = {v.shape[0] for v in va} | {v.shape[0] for v in vb}
                if widths != {dim}:
                    raise ValueError(
                        f"cosine_pairs_arrow(dim={dim}): array length in "
                        f"{sorted(widths)} — wrong vec_dim would silently "
                        "drop pairs"
                    )
                a = np.stack(va).astype(np.float64)
                b = np.stack(vb).astype(np.float64)
                dot = np.zeros(a.shape[0])
                na = np.zeros(a.shape[0])
                nb = np.zeros(a.shape[0])
                for j in range(dim):
                    dot = dot + a[:, j] * b[:, j]
                    na = na + a[:, j] * a[:, j]
                    nb = nb + b[:, j] * b[:, j]
                denom = np.sqrt(na) * np.sqrt(nb)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, dot / denom, np.nan)
                out[mask] = cos
            pdf = pdf.copy()
            # NaN must cross Arrow as NULL, not NaN — Spark orders NaN
            # ABOVE every real value, which would corrupt the rank
            # window; NULLs sort last like the JVM guard's NULLs.
            pdf[out_col] = (
                pd.Series(out, index=pdf.index)
                .astype(object)
                .mask(np.isnan(out), None)
            )
            yield pdf

    return df.mapInPandas(score, schema=out_schema)


def _attach_norm(df: DataFrame, vec_col: str, out_col: str, dim: int | None):
    """``df`` + a precomputed-norm column when ``dim`` is given (the
    janino-safe pair-scoring path); identity when ``dim`` is None
    (the fold path computes norms inline per pair)."""
    if dim is None:
        return df
    return df.withColumn(out_col, norm_expr(vec_col, dim))


def _paired_cos(dim: int | None, a: str, b: str, a_nrm: str, b_nrm: str) -> Column:
    """6-dp-rounded pair cosine: dot-only against precomputed norm
    columns when ``dim`` is given, the self-contained fold otherwise.
    Both branches produce bit-identical doubles (same ascending
    accumulation, same ``dot/(na*nb)`` grouping) — only the generated
    code size differs."""
    if dim is None:
        return F.round(cosine_expr(a, b), 6)
    return F.round(
        cosine_from_parts(dot_expr(a, b, dim), F.col(a_nrm), F.col(b_nrm)), 6
    )


# --- The steps of the IVF, PQ and IVFPQ builds and serves, one kernel
# each. The PQ steps take the IVF cell as an optional extra key:
# ``keys=()`` for PQ, ``("cent_id",)`` for IVFPQ.


def _topk(
    scored: DataFrame, score: str, k: int, desc: bool = False,
    tie: str = "neighbor_id",
) -> DataFrame:
    """Each query's top ``k`` rows of ``scored``: ``rank`` numbers them
    by ``score`` (descending when ``desc``, ascending otherwise), ties
    broken by ascending ``tie``, and rows past ``k`` drop."""
    order = F.col(score).desc() if desc else F.col(score).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col(tie).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _cos_scores(pairs: DataFrame, a: str, b: str, vec_dim: int | None):
    """``(query_id, neighbor_id, cos)``: the 6-dp cosine between the
    vector columns ``a`` and ``b`` of each pair — the JVM fold, or with
    ``vec_dim`` the Arrow kernel :func:`cosine_pairs_arrow`
    (bit-identical)."""
    if vec_dim is None:
        cos = F.round(cosine_expr(a, b), 6)
    else:
        pairs = cosine_pairs_arrow(
            pairs.select("query_id", "neighbor_id", a, b), a, b, vec_dim
        )
        cos = F.round("cos_raw", 6)
    return pairs.select("query_id", "neighbor_id", cos.alias("cos"))


def _rerank(
    corpus: DataFrame, queries: DataFrame, short: DataFrame, k: int,
    id_col: str, vec_col: str, score: str, dist, desc: bool = False,
) -> DataFrame:
    """Exact re-rank of a ``(query_id, neighbor_id)`` shortlist: fetch
    only the shortlisted corpus vectors, score each pair as ``score`` =
    the 6-dp ``dist(corpus vector, query vector)`` column, and keep each
    query's top ``k`` (ascending, or descending with ``desc``).

    The shortlist side is broadcast explicitly: it is bounded by
    construction (n_queries × shortlist rows), while the planner —
    blind to the window's output size — would broadcast the CORPUS
    projection instead (fine at fixture scale, impossible at 100 TB
    where the fetch must stay a corpus scan probed by the bounded
    candidate set; guide §3.1 — pick the build side deliberately)."""
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    rescored = (
        cv.join(F.broadcast(short), on="neighbor_id")
        .join(F.broadcast(qv), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(dist("_cv", "_qv"), 6).alias(score),
        )
    )
    return _topk(rescored, score, k, desc)


def _resid_col(vec_col: str, cent_col: str) -> Column:
    """Residual vector ``vec - cent`` as array<double> — element-wise
    double subtraction is exactly rounded in IEEE-754, so both engines
    produce bit-identical residuals from identical inputs (the oracle
    mirrors with ``CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)``)."""
    return F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.col(cent_col).cast("array<double>"),
        lambda a, b: a - b,
    )


def _assign(
    df: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    vec_dim: int | None,
    resid: bool = False,
) -> DataFrame:
    """Each vector's nearest centroid of ``cents`` (``cent_id``,
    ``cent_v``): ``(cent_id, id, vec)``, or with ``resid`` ``(cent_id,
    id, rv)`` where ``rv = vec - cent_v``. The nearest centroid has the
    greatest 6-dp-rounded cosine, and a tie goes to the lowest
    ``cent_id``. A zero-norm or NULL vector has a NULL cosine to every
    centroid and goes to the lowest ``cent_id``. These are the
    semantics of ``row_number() OVER (PARTITION BY id ORDER BY cos DESC
    NULLS LAST, cent_id)`` = 1, the oracle twins' window.

    Centroids broadcast and the corpus never shuffles by value. Without
    ``vec_dim`` the argmax is a ``min_by`` over the key ``(−cos,
    cent_id)``, a NULL cosine keyed +∞; it partial-aggregates MAP-SIDE
    (every candidate row of an id sits in the id's scan partition after
    the broadcast cross join), so the shuffle carries one row per
    vector where the window would sort-shuffle the corpus × n_cells
    frame. With ``vec_dim`` it is the Arrow argmax
    :func:`_assign_argmax_arrow`, which has no shuffle at all."""
    df = df.select(id_col, vec_col)
    if vec_dim is not None:
        assigned = _assign_argmax_arrow(df, cents, vec_col, vec_dim)
        if resid:
            assigned = assigned.join(F.broadcast(cents), on="cent_id")
    else:
        key = F.struct(
            (-F.coalesce(F.col("cos_c"), F.lit(float("-inf")))).alias("neg_cos"),
            F.col("cent_id"),
        )
        carry = ["cent_v"] if resid else []
        assigned = (
            df.crossJoin(F.broadcast(cents))
            .withColumn("cos_c", F.round(cosine_expr(vec_col, "cent_v"), 6))
            .groupBy(id_col)
            .agg(F.min_by(F.struct("cent_id", vec_col, *carry), key).alias("_b"))
            .select(id_col, "_b.*")
        )
    if resid:
        return assigned.select(
            "cent_id", id_col, _resid_col(vec_col, "cent_v").alias("rv")
        )
    return assigned.select("cent_id", id_col, vec_col)


def _probe_rows(
    queries: DataFrame, cents: DataFrame, nprobe: int, id_col: str,
    vec_col: str, resid: bool = False,
) -> DataFrame:
    """``(cent_id, query_id, qv)``: each query's ``nprobe`` nearest
    centroids by 6-dp cosine, cent_id-asc tiebreak; with ``resid``,
    ``qv`` is the query's residual ``q - cent_v`` against the probed
    centroid. The query batch × centroid set is tiny, so the probe stays
    a JVM-fold window on every path (bit-identical to the Arrow
    kernel)."""
    scored = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        .crossJoin(F.broadcast(cents))
        .withColumn("cos_c", F.round(cosine_expr("qv", "cent_v"), 6))
    )
    qv = _resid_col("qv", "cent_v") if resid else F.col("qv")
    return _topk(scored, "cos_c", nprobe, desc=True, tie="cent_id").select(
        "cent_id", "query_id", qv.alias("qv")
    )


def _collect_probes(spark, probes_lazy: DataFrame, op: str):
    """Collect an indexed serve's probe rows — at most
    :data:`IVF_MAX_PROBE_ROWS`, else ``ValueError`` — and return them
    as a local relation (the scoring join's broadcast side: its
    broadcast runs one small JVM job and never re-reads the caller's
    query frame) with the partition filter on their ``cent_id`` set."""
    from data_lake_with_spark_spark.sources import cow

    rows = collect_bounded(
        probes_lazy,
        IVF_MAX_PROBE_ROWS,
        f"{op}: query batch has probe rows (n_queries × nprobe) beyond "
        "IVF_MAX_PROBE_ROWS; serve it with ivf_topk",
    )
    probe_ids = sorted({r["cent_id"] for r in rows})
    return (
        local_frame(spark, rows, probes_lazy.schema),
        cow.in_partitions("cent_id", probe_ids),
    )


def _subspaces(
    df: DataFrame, vec_col: str, dim: int, m: int, keys=()
) -> DataFrame:
    """``(*keys, subspace, _sub)``: each row's ``vec_col`` split into
    ``m`` sub-vectors of ``dim // m`` elements, one row per sub-vector,
    ``subspace`` its 0-based bigint position."""
    w = dim // m
    slices = F.array(*[F.slice(F.col(vec_col), s * w + 1, w) for s in range(m)])
    return df.select(*keys, F.posexplode(slices).alias("_pos", "_sub")).select(
        *keys, F.col("_pos").cast("bigint").alias("subspace"), "_sub"
    )


def _codebook_rows(
    seeds: DataFrame, dim: int, m: int, id_col: str, vec_col: str,
    cents: DataFrame | None = None, vec_dim: int | None = None,
) -> DataFrame:
    """``(subspace, code, cent_sub)``: the codebooks the ``seeds`` rows
    train — each seed id is a ``code`` whose entries are the seed's
    sub-vectors. With ``cents`` the seeds are first re-centered on
    their nearest centroid (:func:`_assign`), so the entries are
    residual sub-vectors (IVFPQ)."""
    if cents is not None:
        seeds, vec_col = _assign(seeds, cents, id_col, vec_col, vec_dim, True), "rv"
    return _subspaces(
        seeds.select(F.col(id_col).cast("bigint").alias("code"), vec_col),
        vec_col, dim, m, ("code",),
    ).select("subspace", "code", F.col("_sub").alias("cent_sub"))


def _encode(
    rows: DataFrame, codebooks: DataFrame, dim: int, m: int, id_col: str,
    vec_col: str, keys=(),
) -> DataFrame:
    """``(*keys, id, subspace, code)``: per subspace, the nearest
    codebook entry to the row's sub-vector (6-dp-rounded squared L2,
    code-asc tiebreak). The argmin is ``min(struct(_d, code))`` (struct
    ordering is field-wise, so the code field IS the tiebreak — the
    semantics of a row_number window), which partial-aggregates
    MAP-SIDE after the broadcast codebook join: the shuffle carries m
    rows per vector, never the corpus × |codes| candidate frame a
    window would sort-shuffle (guide §2.3)."""
    return (
        _subspaces(rows, vec_col, dim, m, (*keys, id_col))
        .join(F.broadcast(codebooks), on="subspace")
        .withColumn("_d", F.round(l2sq_expr("_sub", "cent_sub"), 6))
        .groupBy(*keys, id_col, "subspace")
        .agg(F.min(F.struct(F.col("_d"), F.col("code"))).alias("_b"))
        .select(*keys, id_col, "subspace", F.col("_b.code").alias("code"))
    )


def _adc_scores(
    codes: DataFrame, codebooks: DataFrame, q_rows: DataFrame, dim: int,
    m: int, id_col: str, keys=(),
) -> DataFrame:
    """``(query_id, neighbor_id, adc_dist)``: the asymmetric distance
    (ADC) from each ``(query_id, *keys, qv)`` query row to each code
    row's vector, self-matches excluded. The distance table holds, per
    query row, subspace and codebook entry, the 6-dp squared L2 of the
    ``qv`` sub-vector to the entry — ``n_query_rows × m × |codes|``
    rows, broadcast-sized for serving batches. A vector's distance is
    the sum of its m table entries matched on ``(*keys, subspace,
    code)``: the corpus contributes only its code ids, never its
    vectors.

    Exactness: the entries sum as DECIMAL(18,6) — float addition is not
    associative and the m-way sum order differs between engines;
    decimal summation makes ``adc_dist`` bit-identical cross-engine
    (the q108 contract applied to ADC)."""
    table = (
        _subspaces(q_rows, "qv", dim, m, ("query_id", *keys))
        .join(F.broadcast(codebooks), on="subspace")
        .select(
            "query_id",
            *keys,
            "subspace",
            "code",
            F.round(l2sq_expr("_sub", "cent_sub"), 6)
            .cast("decimal(18,6)")
            .alias("_dsub"),
        )
    )
    return (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(table), on=[*keys, "subspace", "code"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_dsub").cast("double").alias("adc_dist"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cos, rank), self-matches excluded.
    The query side is broadcast — the corpus never shuffles for the
    join; ties broken by neighbor id for determinism.
    """
    q = _attach_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv",
        "_qn",
        vec_dim,
    )
    c = _attach_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv",
        "_cn",
        vec_dim,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _paired_cos(vec_dim, "cv", "qv", "_cn", "_qn").alias("cos"),
        )
    )
    return _topk(scored, "cos", k, desc=True)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_mod: int = 50,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
    target_centroids: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors.

    Coarse quantizer: a deterministic subset of corpus vectors
    (``id % centroid_mod == 0``) serves as centroids (portable to the
    SQL oracle; production would k-means them — the plumbing is
    identical). Every corpus vector is assigned to its nearest
    centroid (one broadcast join against the small centroid set);
    each query probes its ``nprobe`` nearest centroids and scores
    only those inverted lists.

    Centroid BUDGET at scale: with a fixed ``centroid_mod`` the
    centroid count grows linearly with the corpus, so the assignment
    pass costs O(N²·d/mod) — quadratic (measured in the round-5
    scaling probe: q13's 10× corpus ran ~10× slower only because the
    rank window still dominated; the assignment term is the one that
    explodes at the next decade). Pass ``target_centroids`` to hold
    the centroid count fixed instead: mod is derived from one
    metadata-cheap ``count()`` and assignment stays O(N·K·d) — the
    FAISS-style configuration (K ≈ √N chosen by the caller).

    At scale the corpus is written partitioned/bucketed by
    ``cent_id``, so a probe reads nprobe/n_centroids of the data —
    the IVF pruning effect — and assignment is a scan-fused broadcast
    argmax, never a shuffle of the corpus. Ties (after 6dp rounding)
    break on centroid id then neighbor id, keeping results
    deterministic across engines.
    """
    if target_centroids is not None:
        n = corpus.count()
        centroid_mod = max(1, n // max(1, target_centroids))
    cents = corpus.where((F.col(id_col) % centroid_mod) == 0).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_v")
    )
    corp = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    probes = _probe_rows(queries, cents, nprobe, id_col, vec_col)
    pairs = (
        _assign(corp, cents, "neighbor_id", "cv", vec_dim)
        .join(F.broadcast(probes), on="cent_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _topk(_cos_scores(pairs, "cv", "qv", vec_dim), "cos", k, desc=True)


def _assign_argmax_arrow(
    corp: DataFrame,
    cents: DataFrame,
    vec_col: str,
    dim: int,
    max_centroids: int = 8192,
) -> DataFrame:
    """Nearest-centroid assignment via the Arrow scoring kernel —
    the ``vec_dim`` path of :func:`_assign`.

    ``cents`` (``cent_id``, ``cent_v``) is collected to the driver
    (bounded — raises past ``max_centroids``, naming the JVM-fold
    alternative) and shipped to workers as a numpy matrix; the
    corpus gets an array of raw cosines per row
    (:func:`cosine_to_set_arrow`), then the argmax runs JVM-side on
    the 6-dp-ROUNDED array: ``array_position(rounded,
    array_max(rounded))`` picks the FIRST maximal slot and the slots
    are ordered by ascending ``cent_id`` — exactly :func:`_assign`'s
    tie semantics, with no shuffle: assignment is scan → mapInPandas
    → project, one pipelined stage. All-NULL cosine rows (zero-norm or
    NULL vectors) coalesce to slot 1 = lowest cent_id, again matching
    :func:`_assign`'s NULLS-LAST pick.

    Returns ``(cent_id, neighbor_id_or_id, cv...)`` — every column of
    ``corp`` plus ``cent_id``.
    """
    import numpy as np

    cent_rows = cents.orderBy("cent_id").limit(max_centroids + 1).collect()
    if len(cent_rows) > max_centroids:
        raise ValueError(
            f"_assign_argmax_arrow: centroid set exceeds {max_centroids}; "
            "pass target_centroids (fixed budget) or use the vec_dim=None "
            "JVM-fold path for unbounded centroid sets."
        )
    if not cent_rows:
        return corp.withColumn("cent_id", F.lit(None).cast("bigint")).where(
            F.lit(False)
        )
    cent_ids = [r["cent_id"] for r in cent_rows]
    cmat = np.stack([np.asarray(r["cent_v"], dtype=np.float64) for r in cent_rows])
    scored = cosine_to_set_arrow(corp, cmat, vec_col, dim, out_col="_cos_arr")
    rounded = F.transform(F.col("_cos_arr"), lambda c: F.round(c, 6))
    idx = F.coalesce(
        F.array_position(rounded, F.array_max(rounded)), F.lit(1)
    ).cast("int")
    id_arr = F.array(*[F.lit(c) for c in cent_ids])
    return scored.select(
        F.element_at(id_arr, idx).alias("cent_id"),
        *[c for c in corp.columns],
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-shape top-k over the INT8-QUANTIZED corpus — the
    :func:`quantize_int8` memory lever in actual use. Cosine is
    scale-invariant, so ``cos(q, dequant(x)) = cos(q, qvec)`` — the
    per-vector scale cancels and scoring runs directly on the int8
    arrays (4× less corpus I/O than float32, 8× less than the double
    compute type; the quantize fuses into the scan, no extra pass).
    Returns (query_id, neighbor_id, cos, rank) like
    :func:`brute_force_topk`; the approximation is purely the
    quantization rounding — recall vs the float baseline is pinned in
    tests/test_similarity.py.
    """
    q8 = quantize_int8(corpus, id_col=id_col, vec_col=vec_col)
    c = q8.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    pairs = c.crossJoin(F.broadcast(q)).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _topk(_cos_scores(pairs, "cv", "qv", None), "cos", k, desc=True)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    centroid_mod: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
    target_centroids: int | None = None,
) -> None:
    """Materialize :func:`ivf_topk`'s layout promise: centroids to
    ``path/centroids`` (small), inverted lists to ``path/lists``
    PARTITIONED BY ``cent_id`` — so a probe reads nprobe/n_centroids
    of the corpus via Hive partition pruning instead of scanning
    everything and filtering. Build cost is one broadcast-argmin
    assignment pass plus the partitioned write; rebuilds are the
    index-maintenance story (same as FAISS retrain).
    ``target_centroids`` fixes the centroid budget independent of
    corpus size (see :func:`ivf_topk` — the linear-centroid-growth
    trap)."""
    if target_centroids is not None:
        n = corpus.count()
        centroid_mod = max(1, n // max(1, target_centroids))
    cents = corpus.where((F.col(id_col) % centroid_mod) == 0).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_v")
    )
    assigned = _assign(corpus, cents, id_col, vec_col, vec_dim)
    from data_lake_with_spark_spark.session import run_concurrent
    from data_lake_with_spark_spark.sources import cow

    # keyed by the partition column with pool-scaled task count: ONE
    # file per cell and parallel leaf-dir creation (see
    # build_ivfpq_index's codes write for the measured rationale).
    # The centroids write overlaps the lists write: the lists job
    # re-evaluates the (lazy) cents subtree for its broadcast anyway,
    # so serializing the small centroids write before it bought
    # nothing (guide §2.6).
    run_concurrent(
        [
            lambda: cow.write_whole(cents, f"{path}/centroids"),
            lambda: cow.write_partitioned(
                assigned, f"{path}/lists", "cent_id",
                n_tasks=corpus.sparkSession.sparkContext.defaultParallelism,
            ),
        ]
    )
    # stamp the EFFECTIVE quantizer budget rule: the streaming
    # ingest's fresh-stripe enforcement must track the mod the INDEX
    # was actually built with (a retrain may change it), not the mod
    # the ingest was constructed with (r13 — retrain-under-ingest)
    cow.write_json(
        corpus.sparkSession,
        f"{path}/ivf_meta.json",
        {"centroid_mod": int(centroid_mod)},
    )


def merge_ivf_index(
    spark,
    base_path: str,
    new_vecs: DataFrame,
    out_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
    validate_centroids: bool = True,
    layout: str = "manifest",
) -> dict:
    """Incremental IVF index maintenance — the dense-side twin of
    :func:`text.merge_bm25_index`: merge an embedding batch into an
    existing :func:`build_ivf_index` layout with UPSERT semantics
    (batch ids already in the index replace their old list entries —
    re-ingests never double-count; fresh ids append).

    Centroids are CARRIED VERBATIM from the base index, never
    re-chosen — the frozen-coarse-quantizer contract every IVF system
    shares (FAISS ``add`` does not retrain): batch vectors assign
    against the base centroid matrix through the SAME argmax kernel
    as the build, so a merged index is bit-identical to a
    from-scratch build over the merged corpus with the same centroid
    set (the q171 gate, applied to the dense side). Replacing a
    CENTROID-SOURCE vector would silently leave the frozen centroid
    stale relative to a retrain; ``validate_centroids=True`` (an
    ids-only semi-join against the broadcast-small centroid frame —
    batch-sized, not corpus-sized) raises on that instead of
    diverging.

    Only the BATCH is assigned. The changed ``cent_id=`` partitions
    (those receiving batch vectors ∪ those losing a replaced id,
    found by a column-pruned ``(cent_id, id)`` scan) commit through
    ``sources.cow`` as a manifest epoch at a fresh ``out_path``
    (``layout`` accepts only ``"manifest"``). The epoch reads its
    unchanged partitions and centroids from ``base_path``, so keep
    the base until :func:`compact_ivf_index` or a lifecycle root's
    ``cow.vacuum_index`` retires it. Returns the promotion stats dict.
    """
    from data_lake_with_spark_spark.sources import cow

    cow.check_target("merge_ivf_index", base_path, out_path, layout)
    return _merge_vectors(
        spark, "ivf", base_path, new_vecs, out_path, id_col, vec_col,
        validate_centroids and "validate_centroids",
        lambda batch, meta, centroids: _assign(
            batch, centroids, id_col, vec_col, vec_dim
        ),
    )


#: Layout of the three vector families, which drives their merge,
#: delete, compaction and health report: the partitioned component, its
#: partition columns (the first is the copy-on-write unit), the frozen
#: whole components and the meta sidecar every build writes and every
#: maintenance op requires.
_VEC_LAYOUT = {
    "ivf": ("lists", ["cent_id"], ("centroids",), "ivf_meta.json"),
    "pq": ("codes", ["id_bucket"], ("codebooks",), "pq_meta.json"),
    "ivfpq": (
        "codes",
        ["id_bucket", "cent_id"],
        ("centroids", "codebooks"),
        "ivfpq_meta.json",
    ),
}


def _vec_components(family) -> list:
    """The manifest-resolvable components a vacuum of ``family`` reads:
    the partitioned one plus the frozen ones."""
    comp, _cols, frozen = _VEC_LAYOUT[family][:3]
    return [comp, *frozen]


def _vec_meta(spark, family, base_path):
    """The base's meta sidecar; raises when it is missing."""
    from data_lake_with_spark_spark.sources import cow

    meta_name = _VEC_LAYOUT[family][3]
    meta = cow.read_json(spark, f"{base_path}/{meta_name}")
    if meta is None:
        raise FileNotFoundError(f"no {meta_name} under {base_path!r}")
    return meta


def _vec_commit(spark, family, rows, base_path, out_path, changed):
    """Write ``rows`` as the changed partitions and promote the rest."""
    from data_lake_with_spark_spark.sources import cow

    comp, cols, frozen, meta_name = _VEC_LAYOUT[family]
    return cow.commit(
        spark, rows, base_path, out_path, comp, cols, changed,
        frozen=frozen, sidecars=(meta_name,),
    )


#: Each frozen component's source-id column and the noun its
#: frozen-source error names.
_FROZEN_SOURCE = {
    "centroids": ("cent_id", "centroid"),
    "codebooks": ("code", "codebook"),
}


def _merge_vectors(
    spark, family, base_path, new_vecs, out_path, id_col, vec_col,
    validate, batch_rows,
) -> dict:
    """The upsert body of ``merge_{family}_index`` for IVF, PQ and
    IVFPQ: batch ids replace their old rows, fresh ids append, and the
    frozen components carry verbatim. ``batch_rows(batch, meta,
    **frozen)`` is the family's build kernel: it turns the ``(id,
    vec)`` batch into rows of the partitioned component against the
    frozen frames. ``validate`` is the caller's ``validate_*`` flag
    name when that flag is set, else false; the flag turns on the
    check that no batch id is the source of a frozen component entry.

    When the copy-on-write column is the id hash (``id_bucket``), the
    changed set is the batch ids' buckets, found without a base scan,
    and the check overlaps that collect. Otherwise (IVF's ``cent_id``)
    the changed set is the cells the batch lands in plus the cells that
    hold a replaced id; the check runs first, so a failure never pays
    for or leaves behind the batch checkpoint."""
    from data_lake_with_spark_spark.session import run_concurrent
    from data_lake_with_spark_spark.sources import cow

    op = f"merge_{family}_index"
    meta = _vec_meta(spark, family, base_path)
    comp, cols, frozen = _VEC_LAYOUT[family][:3]
    parts = {f: cow.read_component(spark, base_path, f) for f in frozen}
    new_ids = new_vecs.select(F.col(id_col))
    batch = new_vecs.select(id_col, vec_col)

    def _validate():
        if not validate:
            return
        src = reduce(
            DataFrame.unionByName,
            [
                parts[f].select(F.col(_FROZEN_SOURCE[f][0]).alias(id_col))
                for f in frozen
            ],
        )
        if new_ids.join(F.broadcast(src), id_col, "left_semi").limit(1).count():
            nouns = [_FROZEN_SOURCE[f][1] for f in frozen]
            raise ValueError(
                f"{op}: batch replaces a "
                f"{' or '.join(n + '-source' for n in nouns)} vector; the "
                f"frozen {' and '.join(n + 's' for n in nouns)} would go "
                f"stale relative to a retrain — retrain_{family}_index is "
                f"the lifecycle-safe recovery (or pass {validate}=False to "
                "accept frozen-quantizer semantics explicitly)"
            )

    if cols[0] == "id_bucket":
        bucket = _pq_bucket(id_col, meta["n_buckets"]).alias("id_bucket")
        _, changed = run_concurrent(
            [_validate, lambda: cow.partition_values(new_ids, bucket)]
        )
        rows = batch_rows(batch, meta, **parts).withColumn("id_bucket", bucket)
    else:
        _validate()

        def _pin():
            # consumed twice (changed-set collect + the write)
            pinned = batch_rows(batch, meta, **parts).localCheckpoint()
            return pinned, cow.partition_values(pinned, cols[0])

        (rows, landed), held = run_concurrent(
            [
                _pin,
                lambda: cow.partitions_holding(
                    spark, base_path, comp, cols[0], new_ids, id_col
                ),
            ]
        )
        changed = sorted(set(landed) | set(held))
    base_keep = (
        cow.read_component(spark, base_path, comp)
        .where(cow.in_partitions(cols[0], changed))
        .select(*rows.columns)
        .join(new_ids, id_col, "left_anti")
    )
    return _vec_commit(
        spark, family, base_keep.unionByName(rows), base_path, out_path,
        changed,
    )


def _delete_vectors(
    spark, family, base_path, delete_ids, out_path, id_col
) -> dict:
    """The delete body shared by IVF, PQ and IVFPQ: a column-pruned
    ``(partition, id)`` scan finds the partitions that actually hold a
    deleted id (an absent id's partition is NOT rewritten); only those
    are anti-joined and rewritten, and a partition whose rows all die
    vanishes from the layout."""
    from data_lake_with_spark_spark.sources import cow

    _vec_meta(spark, family, base_path)
    comp, cols = _VEC_LAYOUT[family][:2]
    ids = delete_ids.select(F.col(id_col))
    changed = cow.partitions_holding(
        spark, base_path, comp, cols[0], ids, id_col
    )
    kept = (
        cow.read_component(spark, base_path, comp)
        .where(cow.in_partitions(cols[0], changed))
        .join(ids, id_col, "left_anti")
    )
    return _vec_commit(spark, family, kept, base_path, out_path, changed)


def _compact_vectors(spark, family, index_path: str, out_path: str) -> dict:
    from data_lake_with_spark_spark.sources import cow

    _vec_meta(spark, family, index_path)
    comp, cols, frozen, meta_name = _VEC_LAYOUT[family]
    stats = cow.compact(
        spark, index_path, out_path, {comp: cols, **dict.fromkeys(frozen)},
        sidecars=(meta_name,),
    )
    return stats[comp]


def delete_from_ivf_index(
    spark,
    base_path: str,
    delete_ids: DataFrame,
    out_path: str,
    id_col: str = "vec_id",
    layout: str = "manifest",
) -> dict:
    """Erasure that reaches the serving index — the GDPR path that
    :func:`sources.lakehouse.delete_keys` starts must END here, or a
    deleted vector keeps surfacing in top-k until the next full
    rebuild: drop the ids' list entries from a
    :func:`build_ivf_index` layout. Centroids stay frozen (deleting a
    centroid's SOURCE vector removes it from every result set but
    keeps the centroid as a geometric anchor — the FAISS
    ``remove_ids`` contract; re-train to move centroids).
    Serve-after-delete is gated identical to an index rebuilt without
    the ids over the same centroid set. Only the ``cent_id=``
    partitions holding a deleted id are rewritten, into a manifest
    epoch at a fresh ``out_path`` (``layout`` accepts only
    ``"manifest"``) that reads its unchanged partitions from
    ``base_path``: keep the base until :func:`compact_ivf_index` or a
    lifecycle root's ``cow.vacuum_index`` retires it. Returns the
    promotion stats dict.

    GDPR retention caveat: erasure is POINTER-LEVEL until compaction —
    the deleted ids' vectors physically remain in the base and in
    earlier epoch directories (an epoch still holds the stale
    pre-delete version of the partitions this delete re-owned). No
    reader resolving through the new manifest can reach them, but
    the bytes exist on disk until :func:`compact_ivf_index` rewrites
    the resolved view and ``cow.vacuum_index`` retires the
    unreferenced epochs. A regulatory PHYSICAL-deletion obligation
    therefore requires the full delete → compact → vacuum sequence
    (composed and gated in tests/test_gdpr_pipeline.py).
    """
    from data_lake_with_spark_spark.sources import cow

    cow.check_target("delete_from_ivf_index", base_path, out_path, layout)
    return _delete_vectors(
        spark, "ivf", base_path, delete_ids, out_path, id_col
    )


def compact_ivf_index(spark, index_path: str, out_path: str) -> dict:
    """Collapse an IVF index (plain, or a MANIFEST epoch chain) into
    one self-contained plain layout at ``out_path`` — the
    vacuum/OPTIMIZE step that bounds manifest read
    amplification (``cow.compact``). Serving from the compacted index
    is bit-identical (gated in tests/test_index_manifest.py). Returns
    the ``lists`` compaction stats."""
    return _compact_vectors(spark, "ivf", index_path, out_path)


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
) -> DataFrame:
    """ANN serving against a :func:`build_ivf_index` layout: identical
    results to :func:`ivf_topk` over the same centroid set, but the
    corpus scan touches ONLY the probed partitions (the union of every
    query's nprobe centroid lists — collected to the driver as a
    bounded ``n_queries × nprobe`` id list and pushed into the scan as
    a partition filter; ``.explain`` shows it under PartitionFilters).

    Scope: serving-style query batches, where the probe-id union is
    small: the probe rows are collected to the driver, at most
    :data:`IVF_MAX_PROBE_ROWS` of them, else ``ValueError``. A query
    set so large it probes every list degenerates to the full scan —
    use :func:`ivf_topk` for that batch-join shape.

    Reads resolve through ``cow.read_component``, so plain and
    manifest-maintained layouts serve through the same code path (for
    a manifest layout the probe filter prunes partitions within each
    owning epoch's explicit dir list).
    """
    from data_lake_with_spark_spark.sources import cow

    cents = cow.read_component(spark, path, "centroids")
    probes, where = _collect_probes(
        spark, _probe_rows(queries, cents, nprobe, id_col, vec_col),
        "ivf_topk_indexed",
    )
    pairs = (
        cow.read_component(spark, path, "lists")
        .where(where)
        .join(F.broadcast(probes), on="cent_id")
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"), vec_col, "qv")
    )
    return _topk(_cos_scores(pairs, vec_col, "qv", vec_dim), "cos", k, desc=True)


def all_pairs_blas(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 2_000_000,
    driver_matmul_rows: int = 16384,
) -> DataFrame:
    """Exact all-pairs cosine (id_a < id_b, cos ≥ threshold) via a
    broadcast numpy matrix + Arrow-batched mapInPandas.

    The corpus matrix is broadcast to every Python worker once
    (N×d float64 — 2 GB covers 4M×64 vectors); each input batch
    computes one ``batch @ corpusᵀ`` BLAS matmul, so the pairwise
    work runs vectorized instead of per-pair interpreted expressions
    (~50× over zip_with/aggregate). Partitioning: the streamed side
    never shuffles; output is filtered to ``cos ≥ threshold`` inside
    the worker so only qualifying pairs cross Arrow.

    Three regimes, routed by corpus size:

    - ``N ≤ driver_matmul_rows``: the corpus is already on the driver
      for the broadcast build, and a bounded N² costs less to finish
      right there (chunked matmul, ≤256 MB per chunk) than a second
      cluster pass (broadcast + rescan through the Python workers)
      whose fixed costs dominate at this size. Identical rounding and
      filtering to the distributed branch.
    - ``N ≤ max_broadcast_rows``: broadcast + mapInPandas as above —
      the cluster path; per-worker work scales with the executor's
      split only.
    - larger: raises instead of OOM-ing the driver, naming the scale
      path — :func:`dedup.embedding_near_dup_pairs` with
      ``bucket_dims`` (:func:`lsh_sign_buckets` first, exact pairs
      within each bucket), same results filtered to same-bucket
      pairs.
    """
    import numpy as np

    # bounded driver materialization: limit(max+1) lets us detect
    # oversize without a separate count job, and Arrow `toPandas`
    # transfers columnar batches instead of per-row pickles.
    pdf = emb.select(id_col, vec_col).limit(max_broadcast_rows + 1).toPandas()
    if len(pdf) > max_broadcast_rows:
        raise ValueError(
            f"all_pairs_blas: corpus exceeds max_broadcast_rows="
            f"{max_broadcast_rows}; the exact all-pairs path requires a "
            "driver-broadcastable corpus. Use the LSH-bucketed path "
            "dedup.embedding_near_dup_pairs(bucket_dims=...) for larger "
            "corpora."
        )
    if len(pdf) == 0:
        return local_frame(
            emb.sparkSession, [], "id_a bigint, id_b bigint, cos double"
        )
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms = np.sqrt((mat * mat).sum(axis=1))

    if len(pdf) <= driver_matmul_rows:
        import pandas as pd

        out_chunks = []
        for s in range(0, len(pdf), 2048):
            block, bn = mat[s : s + 2048], norms[s : s + 2048]
            sims = np.round(
                (block @ mat.T) / (bn[:, None] * norms[None, :]), 6
            )
            keep = (sims >= threshold) & (ids[s : s + 2048, None] < ids[None, :])
            ai, ci = np.nonzero(keep)
            out_chunks.append(
                pd.DataFrame(
                    {"id_a": ids[s + ai], "id_b": ids[ci], "cos": sims[ai, ci]}
                )
            )
        out = pd.concat(out_chunks, ignore_index=True)
        return emb.sparkSession.createDataFrame(
            out, schema="id_a bigint, id_b bigint, cos double"
        )
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((ids, mat, norms))

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos", DoubleType()),
        ]
    )

    def run(batches):
        import pandas as pd

        c_ids, c_mat, c_norms = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
            sims = (a_mat @ c_mat.T) / (a_norms[:, None] * c_norms[None, :])
            sims = np.round(sims, 6)
            keep = (sims >= threshold) & (a_ids[:, None] < c_ids[None, :])
            ai, ci = np.nonzero(keep)
            yield pd.DataFrame(
                {"id_a": a_ids[ai], "id_b": c_ids[ci], "cos": sims[ai, ci]}
            )

    return emb.select(id_col, vec_col).mapInPandas(run, out_schema)


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "qvec",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard memory
    lever for ANN at scale (4× smaller than float32, 8× than the
    float64 compute type; SIMD-dot-product friendly):
    ``scale = 127 / max(|x|)``, ``q_i = round(x_i · scale)``.

    Pure codegen'd array expressions (transform/aggregate) — no UDF,
    no shuffle; fuses into the scan. Emits ``(id, scale, qvec)`` with
    ``scale`` kept so consumers can dequantize (``x ≈ q / scale``).
    Zero vectors get scale NULL and an all-zero ``qvec``.

    The published ``scale`` is the exact ``127/amax`` used to compute
    ``qvec`` — NOT a display-rounded copy — so the dequantization
    contract ``|q_i/scale − x_i| ≤ (1/scale)/2`` holds by
    construction of ``round``. (A 6-dp-rounded scale next to a
    qvec computed from the unrounded one violated that bound for
    large-magnitude vectors; caught by
    tests/test_properties.py::test_quantize_int8_invariants.)
    ``amax`` is a single deterministic max and the division is one
    IEEE op, so the unrounded double is bit-identical between Spark
    and the DuckDB oracle — no canonicalization rounding needed.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = F.when(amax > 0, F.lit(127.0) / amax)
    return emb.select(
        F.col(id_col),
        scale.alias("scale"),
        F.transform(
            v,
            lambda x: F.coalesce(
                F.round(x * scale, 0), F.lit(0.0)
            ).cast("int"),
        ).alias(out_col),
    )


def lsh_sign_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (1, 9, 17, 25, 33, 41, 49, 57),
    bucket_col: str = "bucket",
) -> DataFrame:
    """Sign-LSH bucket key: the sign bits of fixed coordinates
    (1-indexed). For roughly isotropic embeddings this is random-
    hyperplane LSH with axis-aligned planes — deterministic, portable
    to the SQL oracle, and computable at scan time (no shuffle).
    """
    parts = [
        F.when(F.element_at(F.col(vec_col), d) > 0, "1").otherwise("0") for d in dims
    ]
    return df.withColumn(bucket_col, F.concat(*parts))


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (1, 9, 17, 25, 33, 41, 49, 57),
    vec_dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket.

    The equi-join on bucket replaces the cross join — at scale, write
    the corpus bucketed/partitioned by ``bucket`` and the probe is a
    partition-pruned co-located join. This is
    :func:`bucketed_topk_multiprobe` with a probe budget of 0.
    """
    return bucketed_topk_multiprobe(
        corpus, queries, k, id_col, vec_col, dims, vec_dim, max_flips=0
    )


def bucketed_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (1, 9, 17, 25, 33, 41, 49, 57),
    vec_dim: int | None = None,
    max_flips: int | None = None,
) -> DataFrame:
    """Multi-probe sign-LSH top-k (Lv et al., VLDB'07): each query
    probes its own bucket PLUS every bucket at Hamming distance 1 —
    the standard recall repair for single-bucket LSH, whose recall
    collapses as bucket bits grow (a true neighbor differing in ONE
    sign bit lands one bucket over; with b bits that's the most likely
    miss). Probing b+1 of the 2^b buckets lifts recall 8× at 8 bits
    on the fixture corpus (0.02 → 0.16, pinned in tests — the fixture
    embeddings are near-isotropic, the worst case for sign-LSH; on
    clustered real embeddings the lift is larger) while still pruning
    the corpus scan to (b+1)/2^b.

    Plan shape: the query side explodes to b+1 probe rows (queries
    are the small side — broadcast), the corpus side stays one row
    per vector with its scan-time bucket key; at scale the corpus is
    written partitioned by bucket and each probe is pruned I/O, same
    as :func:`bucketed_topk`. No pair-dedup stage is needed: a corpus
    vector lives in exactly ONE bucket and a query's b+1 probe
    buckets are pairwise distinct (flipping different bits of the
    same string), so each (query, neighbor) pair can match at most
    once — the join output is duplicate-free by construction.

    ``max_flips`` is the probe budget: only the first ``max_flips``
    bit positions get Hamming-1 probes (None = all b). 0 degenerates
    to single-probe :func:`bucketed_topk`; recall is monotone
    nondecreasing in the budget (probe sets are nested — pinned in
    tests), so operators can trade scan fan-out for recall without
    changing the index layout.
    """
    b = len(dims)
    n_flips = b if max_flips is None else max(0, min(max_flips, b))
    cb = _attach_norm(
        lsh_sign_buckets(corpus, vec_col, dims).select(
            F.col("bucket"),
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
        ),
        "cv",
        "_cn",
        vec_dim,
    )
    qb = _attach_norm(
        lsh_sign_buckets(queries, vec_col, dims).select(
            F.col("bucket"),
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
        ),
        "qv",
        "_qn",
        vec_dim,
    )
    flips = [F.col("bucket")] + [
        F.concat(
            F.substring("bucket", 1, i),
            F.when(F.substring("bucket", i + 1, 1) == "1", "0").otherwise("1"),
            F.substring("bucket", i + 2, b - i - 1),
        )
        for i in range(n_flips)
    ]
    probe_carry = ["query_id", "qv"] + (["_qn"] if vec_dim is not None else [])
    probes = qb.select(
        *probe_carry, F.explode(F.array(*flips)).alias("bucket")
    )
    scored = (
        cb.join(F.broadcast(probes), on="bucket", how="inner")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _paired_cos(vec_dim, "cv", "qv", "_cn", "_qn").alias("cos"),
        )
    )
    return _topk(scored, "cos", k, desc=True)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.85,
    centroid_mod: int = 50,
    target_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then drop WITHIN-CLUSTER semantic near-duplicates
    — rows whose cosine to a lower-id row in the same cluster exceeds
    ``threshold``. The curation step between exact/MinHash dedup
    (surface text) and nothing: it removes re-phrasings and
    boilerplate variants that share meaning but no shingles.

    Returns every corpus row as ``(id, cluster, kept)`` — ``kept`` is
    false iff a lower-id same-cluster row is semantically closer than
    ``threshold`` (greedy min-id representative, the paper's cheap
    deterministic variant of per-group selection; deterministic ties
    via the id order, no RNG).

    Scale shape — the whole point of clustering first: pairwise
    similarity runs ONLY within clusters, so the candidate count is
    Σ kᵢ² over cluster sizes instead of N². Assignment is the same
    broadcast-argmin as IVF (no corpus shuffle); the pair join
    shuffles on cluster id. Pass ``target_centroids`` (FAISS-style
    fixed budget, q113's knob) so E[k] = N/K stays bounded as the
    corpus grows — with K ∝ N, Σ kᵢ² stays linear in N. Deterministic
    centroid seeds (``id % mod == 0``) keep the operator
    SQL-oracle-portable; production swaps in kmeans() centroids with
    identical downstream plumbing.
    """
    if target_centroids is not None:
        n = corpus.count()
        centroid_mod = max(1, n // max(1, target_centroids))
    cents = corpus.where((F.col(id_col) % centroid_mod) == 0).select(
        F.col(id_col).alias("cluster"), F.col(vec_col).alias("cent_v")
    )
    assigned = kmeans_assign(corpus, cents, id_col=id_col, vec_col=vec_col).join(
        corpus.select(id_col, vec_col), on=id_col
    )
    left = _attach_norm(
        assigned.select(
            F.col("cluster"),
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("_va"),
        ),
        "_va",
        "_na",
        vec_dim,
    )
    right = _attach_norm(
        assigned.select(
            F.col("cluster"),
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("_vb"),
        ),
        "_vb",
        "_nb",
        vec_dim,
    )
    dominated = (
        left.join(right, on="cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(_paired_cos(vec_dim, "_va", "_vb", "_na", "_nb") > threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dom", F.lit(True))
    )
    return (
        assigned.join(dominated, on=id_col, how="left")
        .select(
            id_col,
            F.col("cluster").cast("bigint").alias("cluster"),
            F.coalesce(~F.col("_dom"), F.lit(True)).alias("kept"),
        )
    )


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    centroid_mod: int = 50,
    target_codes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the ``dim``-d
    space into ``m`` subspaces of ``dim/m`` dims; each subspace's
    codebook is the sub-vectors of the deterministic seed rows
    (``id % centroid_mod == 0`` — the same SQL-portable quantizer the
    IVF family uses; production k-means each subspace with identical
    downstream plumbing). Returns ``(subspace, code, cent_sub)`` —
    |codes| × m rows, always broadcast-sized. ``target_codes`` is the
    q113-style fixed-budget knob (codebook size must NOT grow with
    the corpus)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if target_codes is not None:
        n = corpus.count()
        centroid_mod = max(1, n // max(1, target_codes))
    return _codebook_rows(
        corpus.where((F.col(id_col) % centroid_mod) == 0), dim, m, id_col, vec_col
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` code ids — one nearest codebook
    entry (squared L2, 6-dp rounded, code-asc tiebreak) per subspace.
    Output ``(id, subspace, code)`` in long form: m small ints per
    vector instead of dim floats — the 32×-compressed representation
    ANN serving stores at 100 TB; the argmin is :func:`_encode`'s
    map-side partial aggregate."""
    return _encode(corpus, codebooks, dim, m, id_col, vec_col)


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, build
    the ``m × |codes|`` distance table (query sub-vector vs every
    codebook entry — broadcast-sized), then approximate each corpus
    distance as the SUM of its m table entries via one join on
    (subspace, code) + a groupBy — the corpus contributes only its
    code ids, never its vectors. Returns (query_id, neighbor_id,
    adc_dist, rank), self-matches excluded.

    Exactness: per-subspace distances round to 6 dp and sum as
    DECIMAL(18,6) — float addition is not associative and the m-way
    sum order differs between engines; decimal summation makes
    adc_dist bit-identical cross-engine (the q108 contract applied
    to ADC)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    return _topk(_adc_scores(codes, codebooks, q, dim, m, id_col), "adc_dist", k)


def pq_topk_rerank(
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist + exact re-rank (the FAISS ``IndexRefine``
    pattern — how PQ is actually served): :func:`pq_topk` produces a
    ``shortlist``-sized candidate set from codes alone, then ONLY the
    shortlisted vectors are fetched for an exact squared-L2 re-rank
    to the final top-``k``. Returns (query_id, neighbor_id, l2_dist,
    rank).

    Why the two stages: quantization error makes raw ADC rank-noisy
    (measured on the isotropic fixture: ADC@5 recall 0.08 vs exact
    L2, but exact-top-5-in-ADC-shortlist-50 = 0.52 at m=8 / 0.72 at
    m=16 — the shortlist is good even when the pointwise ranks are
    not). At 100 TB the corpus contributes 8 small ints per vector to
    stage 1; stage 2 touches ``n_queries × shortlist`` vectors — a
    point-lookup-sized semi-join, not a scan."""
    short = pq_topk(
        codes, codebooks, queries, k=shortlist, dim=dim, m=m, id_col=id_col
    ).select("query_id", "neighbor_id")
    return _rerank(
        corpus, queries, short, k, id_col, vec_col, "l2_dist", l2sq_expr
    )


def _pq_bucket(id_col: str, n_buckets: int):
    # xxhash64 spreads any id stripe uniformly across buckets (an
    # ``id % n`` bucket would correlate with the modulo-structured
    # batch/delete stripes real pipelines use)
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


#: Build-time bucket sizing floor for the PQ codes layout — the
#: :data:`IVFPQ_MIN_ROWS_PER_LEAF` contract applied to the flat
#: (single-level) maintenance partitioning: below ~this many VECTORS
#: per bucket, per-file open cost dominates both the ADC scan and
#: every bucket-pruned maintenance read (r12 verdict #5).
PQ_MIN_ROWS_PER_BUCKET = 64


def _check_grain(op, strict, floor, rows, dirs, cost, knobs="n_buckets"):
    """The build-time layout-grain contract of the partitioned index
    families, checked before the first component write: the ``rows``
    (``(name, count)``) must average at least ``floor`` per leaf
    directory, the product of the ``dirs`` counts (``{knob: count}``).
    Below it the build warns at the builder's caller, or raises under
    ``strict``."""
    n_dirs = prod(dirs.values())
    name, n = rows
    if n_dirs * floor <= n:
        return
    msg = (
        f"{op}: layout grain too fine — "
        f"{' × '.join(f'{k}({v})' for k, v in dirs.items())} = {n_dirs} "
        f"leaf dirs over {name}={n} rows averages "
        f"{n / max(1, n_dirs):.1f} rows/leaf (< {floor}); at this grain "
        f"per-file open cost {cost} — lower {knobs} so "
        f"{'*'.join(dirs)}*{floor} <= {name}"
    )
    if strict:
        raise ValueError(msg)
    import warnings

    warnings.warn(msg, stacklevel=3)


#: Serve-path bound on the ``n_queries × nprobe`` probe rows (each
#: carrying its query or residual vector) that :func:`ivf_topk_indexed`
#: and :func:`ivfpq_topk_indexed` collect to the driver — far above
#: any serving batch (64 queries × nprobe 4 is 256 rows); a batch
#: beyond it is the batch-join shape of :func:`ivf_topk`.
IVF_MAX_PROBE_ROWS = 16_384


def build_pq_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    m: int = 8,
    centroid_mod: int = 50,
    target_codes: int | None = None,
    n_buckets: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strict_layout: bool = False,
) -> None:
    """Materialize the PQ family as a SERVABLE index — the FAISS
    ``IndexPQ``-with-``IndexRefine`` shape: until round 11 the PQ trio
    (q117–q119) proved the math but re-derived codebooks and re-encoded
    the corpus per query; at 100 TB the CODES are the artifact (the
    32×-compressed corpus representation), built once and maintained
    incrementally like the IVF and BM25 layouts.

    Layout: ``path/codebooks`` — the (subspace, code, cent_sub) frame
    (|codes|·m rows, broadcast-sized, FROZEN after build — the same
    frozen-quantizer contract as IVF centroids); ``path/codes`` — one
    (id, subspace, code) long-form row per vector×subspace,
    PARTITIONED BY ``id_bucket = pmod(xxhash64(id), n_buckets)``;
    ``path/pq_meta.json`` — {dim, m, n_buckets}, what serving and
    maintenance need to interpret the layout.

    The partition column is the MAINTENANCE unit, not a pruning
    structure: ADC serving scans every code partition by design (the
    compressed full scan IS the PQ serving model — contrast IVF's
    ``cent_id=`` pruning), but a merge/delete batch rewrites only the
    buckets its ids hash to, and the bucket is a pure function of the
    id, so an upsert's new and replaced rows land in the SAME
    partition. ``target_codes`` fixes the codebook budget independent
    of corpus size (the q113 fixed-budget arithmetic — codebooks must
    not grow with the corpus).

    Sizing ``n_buckets``: scale it WITH the corpus (a fixed per-bucket
    row budget, e.g. ``n // 40`` like the IVF centroid budget), never
    a fixed count — a batch of B ids touches ~min(B, n_buckets)
    buckets, so written bytes per maintenance call are
    ~ B * (corpus_bytes / n_buckets): with bucket count proportional
    to the corpus that is batch-proportional and corpus-independent;
    with a FIXED count it grows linearly with the corpus (measured
    both ways in MEASUREMENTS_r11.md — 256 buckets at 100k rows put a
    0.33% batch in 73% of the index; n//40 buckets put it at ~13%).
    The floor side is ENFORCED (the :func:`build_ivfpq_index`
    leaf-grain contract): the build requires an average of at least
    :data:`PQ_MIN_ROWS_PER_BUCKET` vectors per bucket —
    ``n_buckets * PQ_MIN_ROWS_PER_BUCKET <= n`` — else it warns
    (``strict_layout=True`` raises); all validation happens BEFORE the
    first component write, so a strict-mode failure leaves no partial
    index."""
    spark = corpus.sparkSession
    n = corpus.count()
    if target_codes is not None:
        centroid_mod = max(1, n // max(1, target_codes))
    _check_grain(
        "build_pq_index", strict_layout, PQ_MIN_ROWS_PER_BUCKET, ("n", n),
        {"n_buckets": n_buckets},
        "dominates the ADC scan and every bucket-pruned maintenance read",
    )
    cb = pq_codebooks(
        corpus, dim=dim, m=m, centroid_mod=centroid_mod,
        id_col=id_col, vec_col=vec_col,
    ).localCheckpoint()
    from data_lake_with_spark_spark.sources import cow

    cow.write_whole(cb, f"{path}/codebooks")
    codes = pq_encode(corpus, cb, dim=dim, m=m, id_col=id_col, vec_col=vec_col)
    cow.write_partitioned(
        codes.withColumn("id_bucket", _pq_bucket(id_col, n_buckets)),
        f"{path}/codes",
        "id_bucket",
        n_tasks=n_buckets,
    )
    cow.write_json(
        spark,
        f"{path}/pq_meta.json",
        {
            "dim": int(dim),
            "m": int(m),
            "n_buckets": int(n_buckets),
            # the EFFECTIVE quantizer budget rule — the streaming
            # ingest's fresh-stripe enforcement reads it back so a
            # retrain that changes the budget is tracked automatically
            "centroid_mod": int(centroid_mod),
        },
    )


def pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k served from a persisted :func:`build_pq_index`
    layout: identical results to :func:`pq_topk` over the same
    codebooks (the scoring tail IS :func:`pq_topk`), but the corpus is
    never re-encoded — the scan reads 8 small ints per vector from the
    codes partitions. Dim/m come from the index meta, so the caller
    cannot drift from the layout."""
    from data_lake_with_spark_spark.sources import cow

    meta = _vec_meta(spark, "pq", path)
    return pq_topk(
        cow.read_component(spark, path, "codes").select(
            id_col, "subspace", "code"
        ),
        cow.read_component(spark, path, "codebooks"),
        queries,
        k=k,
        dim=meta["dim"],
        m=meta["m"],
        id_col=id_col,
        vec_col=vec_col,
    )


def pq_topk_rerank_indexed(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ serving as deployed, from the persisted index (the FAISS
    ``IndexRefine`` pattern over :func:`build_pq_index`): ADC
    shortlist from the stored codes, exact squared-L2 re-rank of only
    the shortlisted vectors fetched from ``corpus`` (the source table
    — at 100 TB a ``n_queries × shortlist`` point-lookup semi-join,
    never a vector scan; the codes layout deliberately does NOT
    duplicate the float vectors the lakehouse already stores)."""
    from data_lake_with_spark_spark.sources import cow

    meta = _vec_meta(spark, "pq", path)
    return pq_topk_rerank(
        corpus,
        cow.read_component(spark, path, "codes").select(
            id_col, "subspace", "code"
        ),
        cow.read_component(spark, path, "codebooks"),
        queries,
        k=k,
        shortlist=shortlist,
        dim=meta["dim"],
        m=meta["m"],
        id_col=id_col,
        vec_col=vec_col,
    )


def merge_pq_index(
    spark,
    base_path: str,
    new_vecs: DataFrame,
    out_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate_codebooks: bool = True,
    layout: str = "manifest",
) -> dict:
    """Incremental PQ index maintenance: merge an embedding batch into
    a :func:`build_pq_index` layout with UPSERT semantics (batch ids
    replace their old codes; fresh ids append). Codebooks are CARRIED
    VERBATIM — the frozen-quantizer contract (FAISS ``add`` never
    retrains) — and the batch encodes against them through the SAME
    argmin kernel as the build, so the merged index is
    bit-identical to a from-scratch build over the merged corpus with
    the same codebook set (the q176 gate, PQ side). Replacing a
    CODEBOOK-SOURCE vector would leave the frozen codebook stale
    relative to a retrain; ``validate_codebooks=True`` (an ids-only
    semi-join against the broadcast-small codebook frame) raises on
    that instead of diverging.

    The bucket is a pure function of the id (``pmod(xxhash64(id),
    n_buckets)``), so the changed set is EXACTLY the batch ids'
    buckets — an upsert's new rows and the rows they replace share a
    partition, and no base scan is needed to locate them. The commit
    goes through ``sources.cow`` as a manifest epoch at a fresh
    ``out_path`` (``layout`` accepts only ``"manifest"``) that reads
    its unchanged buckets and codebooks from ``base_path``: keep the
    base until :func:`compact_pq_index` or a lifecycle root's
    ``cow.vacuum_index`` retires it. Returns the promotion stats
    dict."""
    from data_lake_with_spark_spark.sources import cow

    cow.check_target("merge_pq_index", base_path, out_path, layout)
    return _merge_vectors(
        spark, "pq", base_path, new_vecs, out_path, id_col, vec_col,
        validate_codebooks and "validate_codebooks",
        lambda batch, meta, codebooks: pq_encode(
            batch, codebooks, dim=meta["dim"], m=meta["m"],
            id_col=id_col, vec_col=vec_col,
        ),
    )


def delete_from_pq_index(
    spark,
    base_path: str,
    delete_ids: DataFrame,
    out_path: str,
    id_col: str = "vec_id",
    layout: str = "manifest",
) -> dict:
    """Erasure reaching the PQ serving index: drop the ids' code rows
    from a :func:`build_pq_index` layout. Codebooks stay FROZEN
    (deleting a codebook's source vector removes it from every result
    set but keeps the entry as a geometric anchor — the FAISS
    ``remove_ids`` contract; retrain to move codebooks).
    Serve-after-delete is gated identical to an index rebuilt without
    the ids over the same codebook set; a fully-emptied component
    still serves an empty typed frame. The result is a manifest epoch
    at a fresh ``out_path`` (``layout`` accepts only ``"manifest"``)
    that reads its unchanged buckets from ``base_path``: keep the base
    until :func:`compact_pq_index` or a lifecycle root's
    ``cow.vacuum_index`` retires it. Returns the promotion stats dict.

    GDPR retention caveat: erasure is pointer-level until
    ``compact_pq_index`` + ``cow.vacuum_index`` — see
    :func:`delete_from_ivf_index`; the same delete → compact → vacuum
    sequence applies."""
    from data_lake_with_spark_spark.sources import cow

    cow.check_target("delete_from_pq_index", base_path, out_path, layout)
    return _delete_vectors(
        spark, "pq", base_path, delete_ids, out_path, id_col
    )


def compact_pq_index(spark, index_path: str, out_path: str) -> dict:
    """Collapse a PQ index (plain, or a MANIFEST epoch chain) into one
    self-contained plain layout at ``out_path`` (see
    :func:`compact_ivf_index`); pair with ``cow.vacuum_index`` to
    retire the old epochs. Returns the ``codes`` compaction stats."""
    return _compact_vectors(spark, "pq", index_path, out_path)


# Self-enforcing IVFPQ layout rule (MEASUREMENTS_r11 §1b, promoted
# from an advisory docstring to a build-time contract per the r11
# verdict): the codes layout creates n_buckets × n_cells leaf
# directories, and when that product approaches the row count each
# leaf holds a handful of rows — per-file open cost then dominates
# and the "pruned" serve is SLOWER than a flat scan (measured: 2–3
# rows/leaf → 9.2–10.2s pruned vs 1.0–1.3s flat). The build requires
# an average of at least this many rows per leaf dir; below it the
# build warns (or raises with strict_layout=True).
IVFPQ_MIN_ROWS_PER_LEAF = 64


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    m: int = 8,
    centroid_mod: int = 50,
    target_centroids: int | None = None,
    n_buckets: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
    strict_layout: bool = False,
) -> None:
    """Materialize the IVF+PQ composite index — the FAISS
    ``IndexIVFPQ`` shape, the production serving layout at 100 TB:
    :func:`build_pq_index` compresses the corpus 32× but its ADC
    serve still SCANS every code partition (the compressed-full-scan
    model); :func:`build_ivf_index` prunes the scan to nprobe cells
    but stores full float vectors. This index does both: vectors are
    assigned to a frozen coarse centroid (the IVF cell), their
    RESIDUALS ``vec - cent_v`` are PQ-encoded (Jégou et al. 2011 §IV
    — residual quantization re-centers every cell's distribution at
    the origin, so one shared codebook set covers all cells), and the
    codes layout exposes the cell for pruning. Serving reads 8 small
    ints per vector from nprobe/n_cells of the corpus — pruning ×
    compression.

    Layout: ``path/centroids`` (cent_id, cent_v — the frozen coarse
    quantizer), ``path/codebooks`` ((subspace, code, cent_sub) over
    RESIDUAL sub-vectors, broadcast-sized, frozen), ``path/codes``
    ((id, subspace, code) partitioned by ``(id_bucket, cent_id)``),
    ``path/ivfpq_meta.json`` ({dim, m, n_buckets}).

    Why TWO partition levels — the maintenance unit and the pruning
    structure are DIFFERENT columns, deliberately decoupled. If the
    cell were also the maintenance unit (one-level ``cent_id=``
    layout), write granularity would be chained to n_cells — but
    n_cells is capped by coarse-assignment cost (every build/merge
    pays n × n_cells distance evaluations), so maintenance I/O could
    never be made batch-proportional without making assignment
    quadratic. Splitting them frees both knobs: the TOP level is
    ``id_bucket = pmod(xxhash64(id), n_buckets)`` — the CoW
    promotion/manifest unit, count free (size with the corpus, the
    :func:`build_pq_index` ``n // 40`` rule), so a batch of B ids
    rewrites exactly its ≤ min(B, n_buckets) hash buckets and an
    upsert's new and replaced rows land in the SAME partition with no
    base scan to locate them. The NESTED level is ``cent_id`` — a
    serve-time ``WHERE cent_id IN (probes)`` prunes leaf directories
    under every bucket (Spark partition pruning applies per column
    regardless of nesting order), reading nprobe/n_cells of the
    bytes. Sizing contract (ENFORCED): leaf-dir count is
    n_buckets × n_cells, and the build requires an average of at
    least :data:`IVFPQ_MIN_ROWS_PER_LEAF` rows per leaf —
    ``n_buckets * n_cells * IVFPQ_MIN_ROWS_PER_LEAF <= n`` — else it
    warns (``strict_layout=True`` raises). Below that grain the
    per-file open cost dominates and pruning LOSES to a flat scan
    (MEASUREMENTS_r11 §1b measured the inversion at 2–3 rows/leaf);
    the object store's directory-listing tolerance is a second,
    independent reason to keep the product small (the manifest
    layout lists only the top level).

    Determinism: centroid seeds are the ``id % centroid_mod == 0``
    stripe; codebook seeds are the OFFSET stripe ``id % centroid_mod
    == 1`` of residuals (offset so codebook entries are never the
    all-zero residuals the centroid-source rows have — a shared
    stripe would train degenerate codebooks). ``target_centroids``
    fixes the budget independent of corpus size (the q113 rule; it
    sizes BOTH seed stripes through the one mod)."""
    spark = corpus.sparkSession
    n = corpus.count()
    if target_centroids is not None:
        centroid_mod = max(1, n // max(1, target_centroids))
    if centroid_mod < 2:
        raise ValueError(
            f"build_ivfpq_index: centroid_mod={centroid_mod} — the "
            "offset-1 codebook stripe `id % 1 == 1` matches NOTHING, "
            "so the index would serve zero results; a corpus this "
            "small (n <= target_centroids) doesn't need IVFPQ — use "
            "brute_force_topk or build_pq_index"
        )
    cents = (
        corpus.where((F.col(id_col) % centroid_mod) == 0)
        .select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_v")
        )
        .localCheckpoint()
    )
    # ALL validation happens BEFORE the first component write (r11
    # ADVICE: a raise after `centroids` landed left a partial index —
    # centroids present, no codes/codebooks/meta — that a later
    # isdir-style existence probe could half-trust).
    n_cells = cents.count()
    if n_cells == 0:
        raise ValueError(
            "build_ivfpq_index: the centroid seed stripe "
            f"`{id_col} % {centroid_mod} == 0` selected no corpus "
            "rows — there would be zero IVF cells and the index "
            "would serve nothing; supply a corpus covering the "
            "stripe or lower centroid_mod/target_centroids"
        )
    if (
        corpus.where((F.col(id_col) % centroid_mod) == 1).limit(1).count()
        == 0
    ):
        raise ValueError(
            "build_ivfpq_index: the codebook seed stripe "
            f"`{id_col} % {centroid_mod} == 1` selected no corpus "
            "rows — the codes would be empty and the index would "
            "silently serve zero results; supply a corpus covering "
            "the stripe or lower centroid_mod/target_centroids"
        )
    _check_grain(
        "build_ivfpq_index", strict_layout, IVFPQ_MIN_ROWS_PER_LEAF, ("n", n),
        {"n_buckets": n_buckets, "n_cells": n_cells},
        "makes the pruned serve SLOWER than a flat scan "
        "(MEASUREMENTS_r11 §1b)",
        "n_buckets and/or target_centroids",
    )
    from data_lake_with_spark_spark.session import run_concurrent
    from data_lake_with_spark_spark.sources import cow

    # the frozen-centroid write and the assignment materialization are
    # independent (cents is already checkpointed) — overlap them, then
    # overlap the codebook write with the codes write (both consume
    # the cb checkpoint; disjoint target dirs — guide §2.6)
    _, assigned = run_concurrent(
        [
            lambda: cow.write_whole(cents, f"{path}/centroids"),
            lambda: _assign(
                corpus, cents, id_col, vec_col, vec_dim, resid=True
            ).localCheckpoint(),
        ]
    )
    cb = _codebook_rows(
        assigned.where((F.col(id_col) % centroid_mod) == 1), dim, m, id_col, "rv"
    ).localCheckpoint()
    codes = _encode(assigned, cb, dim, m, id_col, "rv", ("cent_id",)).withColumn(
        "id_bucket", _pq_bucket(id_col, n_buckets)
    )

    # repartition by BOTH partition columns so each (bucket, cell)
    # leaf lands in exactly one task (one file per leaf — avoids the
    # input_partitions × leaf_dirs file explosion an unrepartitioned
    # partitioned write produces), with task count scaled to the
    # executor pool instead of n_buckets: leaf-file creation is
    # FS-metadata-bound, and 8 bucket-keyed tasks serially creating
    # 40 nested cell dirs each measured 2.1s vs 1.3s with the pool
    # doing it 32-wide (same 1-file-per-leaf layout either way)
    run_concurrent(
        [
            lambda: cow.write_whole(cb, f"{path}/codebooks"),
            lambda: cow.write_partitioned(
                codes, f"{path}/codes", ["id_bucket", "cent_id"],
                n_tasks=max(1, min(spark.sparkContext.defaultParallelism,
                                   n_buckets * n_cells)),
            ),
        ]
    )
    cow.write_json(
        spark,
        f"{path}/ivfpq_meta.json",
        {
            "dim": int(dim),
            "m": int(m),
            "n_buckets": int(n_buckets),
            # see build_pq_index — the ingest reads this back
            "centroid_mod": int(centroid_mod),
        },
    )


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN serving from a :func:`build_ivfpq_index` layout — the scan
    touches 8 small ints per vector (PQ) in ONLY the probed cells
    (IVF): each query's nprobe nearest centroids (6-dp cosine,
    cent_id-asc — the :func:`ivf_topk_indexed` probe kernel) are
    collected as a bounded ``n_queries × nprobe`` id list (at most
    :data:`IVF_MAX_PROBE_ROWS` probe rows, else ``ValueError``) and
    pushed into the codes scan as a partition filter. Per probed cell
    the query's RESIDUAL ``q - cent_v`` builds the ADC distance table
    (q-residual sub-vector vs every codebook entry — ``n_queries ×
    nprobe × m × |codes|`` rows, broadcast-sized for serving batches),
    and each candidate's distance is the DECIMAL(18,6) sum of its m
    table entries, matched on the candidate's OWN cell — residual ADC
    is only meaningful between a query and a vector re-centered on
    the SAME centroid (Jégou et al. 2011 eq. 13). Returns (query_id,
    neighbor_id, adc_dist, rank), self-matches excluded."""
    from data_lake_with_spark_spark.sources import cow

    meta = _vec_meta(spark, "ivfpq", path)
    cents, cb, codes = (
        cow.read_component(spark, path, c)
        for c in ("centroids", "codebooks", "codes")
    )
    probes, where = _collect_probes(
        spark,
        _probe_rows(queries, cents, nprobe, id_col, vec_col, resid=True),
        "ivfpq_topk_indexed",
    )
    scored = _adc_scores(
        codes.where(where), cb, probes, meta["dim"], meta["m"], id_col,
        ("cent_id",),
    )
    return _topk(scored, "adc_dist", k)


def ivfpq_topk_rerank_indexed(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ serving as deployed (FAISS ``IndexIVFPQ`` +
    ``IndexRefine``): residual-ADC shortlist from the probed cells'
    codes, exact squared-L2 re-rank of only the shortlisted vectors
    fetched from ``corpus`` — at 100 TB an ``n_queries × shortlist``
    point-lookup semi-join after a scan that read nprobe/n_cells of
    the corpus at 8 ints per vector. Returns (query_id, neighbor_id,
    l2_dist, rank)."""
    short = ivfpq_topk_indexed(
        spark, path, queries, k=shortlist, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    return _rerank(
        corpus, queries, short, k, id_col, vec_col, "l2_dist", l2sq_expr
    )


def merge_ivfpq_index(
    spark,
    base_path: str,
    new_vecs: DataFrame,
    out_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
    validate_frozen: bool = True,
    layout: str = "manifest",
) -> dict:
    """Incremental IVFPQ maintenance under a DOUBLY-frozen quantizer
    contract: both the coarse centroids AND the residual codebooks
    are carried verbatim (FAISS ``IndexIVFPQ.add`` retrains neither);
    the batch assigns and encodes through the SAME kernels as the
    build, so the merged index is bit-identical to a from-scratch
    build over the merged corpus with the same seed sets (the
    q176/q196 gate, composed). UPSERT semantics: batch ids replace
    their old codes — including when the re-ingested vector MOVED
    CELLS (old and new code rows share the id's hash bucket, so the
    swap is local to one maintenance partition).
    ``validate_frozen=True`` raises if the batch replaces a
    centroid-source or codebook-source vector (either frozen artifact
    would go stale relative to a retrain).

    One assignment+encode pass over the BATCH; the changed set is
    EXACTLY the batch ids' ≤ min(|batch|, n_buckets) ``id_bucket=``
    partitions (see :func:`build_ivfpq_index` on why the maintenance
    unit is the bucket, not the cell), committed through
    ``sources.cow`` as a manifest epoch at a fresh ``out_path``
    (``layout`` accepts only ``"manifest"``) that reads its unchanged
    buckets and both frozen components from ``base_path``: keep the
    base until :func:`compact_ivfpq_index` or a lifecycle root's
    ``cow.vacuum_index`` retires it. Returns the promotion stats
    dict."""
    from data_lake_with_spark_spark.sources import cow

    cow.check_target("merge_ivfpq_index", base_path, out_path, layout)
    return _merge_vectors(
        spark, "ivfpq", base_path, new_vecs, out_path, id_col, vec_col,
        validate_frozen and "validate_frozen",
        lambda batch, meta, centroids, codebooks: _encode(
            _assign(batch, centroids, id_col, vec_col, vec_dim, resid=True),
            codebooks, meta["dim"], meta["m"], id_col, "rv", ("cent_id",),
        ),
    )


def delete_from_ivfpq_index(
    spark,
    base_path: str,
    delete_ids: DataFrame,
    out_path: str,
    id_col: str = "vec_id",
    layout: str = "manifest",
) -> dict:
    """Erasure reaching the IVFPQ serving index: drop the ids' code
    rows from a :func:`build_ivfpq_index` layout. Both frozen
    components stay (removing a centroid- or codebook-SOURCE vector
    removes it from every result set but keeps the geometric anchor —
    the FAISS ``remove_ids`` contract; retrain to move quantizers).
    Serve-after-delete is gated identical to a rebuild without the
    ids over the same seed sets. The result is a manifest epoch at a
    fresh ``out_path`` (``layout`` accepts only ``"manifest"``) that
    reads its unchanged buckets from ``base_path``: keep the base
    until :func:`compact_ivfpq_index` or a lifecycle root's
    ``cow.vacuum_index`` retires it. Returns the promotion stats dict.
    GDPR retention caveat: erasure is pointer-level until
    ``compact_ivfpq_index`` + ``cow.vacuum_index`` — see
    :func:`delete_from_ivf_index`."""
    from data_lake_with_spark_spark.sources import cow

    cow.check_target("delete_from_ivfpq_index", base_path, out_path, layout)
    return _delete_vectors(
        spark, "ivfpq", base_path, delete_ids, out_path, id_col
    )


def compact_ivfpq_index(spark, index_path: str, out_path: str) -> dict:
    """Collapse an IVFPQ index (plain, or a MANIFEST epoch chain) into
    one self-contained plain layout (see :func:`compact_ivf_index`);
    the nested ``(id_bucket, cent_id)`` codes layout is preserved.
    Returns the ``codes`` compaction stats."""
    return _compact_vectors(spark, "ivfpq", index_path, out_path)


# --- retrain-and-reindex: the epoch op the frozen quantizers need ---
# (r11 verdict #3): every index family freezes its coarse centroids /
# PQ codebooks at build time and RAISES on replacement — correct for
# maintenance, but after many epochs of churn the frozen quantizer's
# recall decays (deleted stripe ids leave cells anchored on vectors
# that no longer exist; inserted mass lands in cells trained on an
# older distribution). Retrain = train a FRESH quantizer on the
# CURRENT resolved corpus, re-encode everything, and publish the
# result as one new epoch under the lifecycle root — a planned
# rebuild INSIDE the pointer lifecycle (readers re-resolve
# get_current and never see a partial index), not a cold out-of-band
# one. This is FAISS's retrain≙rebuild doctrine made an epoch op.


def _retrain_guard_ids(spark, idx_ids, corpus, id_col: str) -> None:
    """The retrain corpus must carry EXACTLY the index's current id
    set: an extra id would resurrect a deleted vector (a GDPR
    violation — erasure must survive the retrain), a missing id
    would silently drop a live one. Raises on either."""
    sup_ids = corpus.select(F.col(id_col)).distinct()
    extra = sup_ids.exceptAll(idx_ids).limit(1).count()
    missing = idx_ids.exceptAll(sup_ids).limit(1).count()
    if extra or missing:
        raise ValueError(
            "retrain: the supplied corpus's id set differs from the "
            "index's current id set "
            f"({'extra ids — would RESURRECT deleted vectors (GDPR)' if extra else 'missing ids — would silently DROP live vectors'}); "
            "pass the vector table filtered to exactly the ids the "
            "index serves"
        )


def retrain_ivf_index(
    spark,
    root: str,
    centroid_mod: int = 50,
    target_centroids: int | None = None,
    vec_dim: int | None = None,
    vacuum: bool = True,
) -> dict:
    """Retrain the IVF coarse quantizer on the lifecycle root's
    CURRENT corpus — self-contained: IVF lists store full vectors, so
    the op reads the resolved corpus from the current epoch, trains
    fresh centroids via :func:`build_ivf_index`'s stripe rule over
    the CURRENT id set (``target_centroids`` re-derives the mod from
    the current count — the budget rule tracks churn), re-encodes as
    one new plain epoch, re-points the pointer LAST with a
    compare-and-set against the epoch it read (``cow.publish``), and
    (default) vacuums the superseded chain — pass ``vacuum=False`` and
    vacuum out-of-band when long-running readers hold older epochs
    (the ``cow.vacuum_index`` quiesce discipline). Merges resume
    against the NEW frozen quantizer. Returns {"epoch", "n_vectors",
    "n_centroids"[, "vacuum"]}."""
    from data_lake_with_spark_spark.sources import cow

    cur = cow.get_current(spark, root)
    corpus = (
        cow.read_component(spark, cur, "lists")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    epoch, swept = cow.publish(
        spark, root, "retrain", cur,
        lambda out: build_ivf_index(
            corpus, out, centroid_mod=centroid_mod, vec_dim=vec_dim,
            target_centroids=target_centroids,
        ),
        _vec_components("ivf") if vacuum else (),
    )
    out = {
        "epoch": epoch,
        "n_vectors": corpus.count(),
        "n_centroids": cow.read_component(spark, epoch, "centroids").count(),
    }
    return {**out, "vacuum": swept} if vacuum else out


def _retrain_codes(
    spark, root, family, corpus, id_col, n_buckets, vacuum, build
):
    """The PQ/IVFPQ retrain: check that ``corpus`` carries exactly the
    index's current ids, carry the base's bucket count unless
    ``n_buckets`` is given, and publish ``build(epoch, n_buckets)`` as
    the root's next epoch."""
    from data_lake_with_spark_spark.sources import cow

    cur = cow.get_current(spark, root)
    idx_ids = (
        cow.read_component(spark, cur, "codes")
        .select(F.col(id_col))
        .distinct()
    )
    _retrain_guard_ids(spark, idx_ids, corpus, id_col)
    nb = n_buckets
    if nb is None:
        nb = _vec_meta(spark, family, cur)["n_buckets"]
    epoch, swept = cow.publish(
        spark, root, "retrain", cur, lambda out: build(out, nb),
        _vec_components(family) if vacuum else (),
    )
    out = {"epoch": epoch, "n_vectors": corpus.count()}
    return {**out, "vacuum": swept} if vacuum else out


def retrain_pq_index(
    spark,
    root: str,
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    centroid_mod: int = 50,
    target_codes: int | None = None,
    n_buckets: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vacuum: bool = True,
) -> dict:
    """Retrain the PQ codebooks on the CURRENT corpus — PQ codes are
    LOSSY (the original vectors are not recoverable from the index),
    so the caller supplies the vector table; the op validates its id
    set EQUALS the index's current ids (extra ids would resurrect
    deleted vectors — erasure must survive the retrain; missing ids
    would drop live ones) and then rebuilds fresh codebooks + codes
    as one new epoch under the root, pointer re-pointed last.
    ``n_buckets`` None carries the base layout's bucket count (the
    meta sidecar). See :func:`retrain_ivf_index` for the vacuum
    caveat. Returns {"epoch", "n_vectors"[, "vacuum"]}."""
    return _retrain_codes(
        spark, root, "pq", corpus, id_col, n_buckets, vacuum,
        lambda out, nb: build_pq_index(
            corpus, out, dim=dim, m=m, centroid_mod=centroid_mod,
            target_codes=target_codes, n_buckets=nb,
            id_col=id_col, vec_col=vec_col,
        ),
    )


def retrain_ivfpq_index(
    spark,
    root: str,
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    centroid_mod: int = 50,
    target_centroids: int | None = None,
    n_buckets: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
    vacuum: bool = True,
    strict_layout: bool = False,
) -> dict:
    """Retrain the IVFPQ composite's DOUBLY-frozen quantizer (coarse
    centroids AND residual codebooks) on the CURRENT corpus — the
    full drift recovery for the production serving family: both seed
    stripes re-derive from the current id set (``target_centroids``
    re-computes the mod from the current count), residuals re-center
    against the new cells, codes re-encode, and the result publishes
    as one new epoch under the root with the pointer re-pointed LAST.
    Codes are lossy, so the caller supplies the vector table; its id
    set must EQUAL the index's current ids (validated — extra ids
    would resurrect deleted vectors, missing ids would drop live
    ones). ``n_buckets`` None carries the base layout's bucket count.
    Recall impact is measured, not assumed: tools/pq_ri_probe.py's
    drift stripe reports recall@5 before/after (MEASUREMENTS_r12).
    See :func:`retrain_ivf_index` for the vacuum caveat. Returns
    {"epoch", "n_vectors"[, "vacuum"]}."""
    return _retrain_codes(
        spark, root, "ivfpq", corpus, id_col, n_buckets, vacuum,
        lambda out, nb: build_ivfpq_index(
            corpus, out, dim=dim, m=m, centroid_mod=centroid_mod,
            target_centroids=target_centroids, n_buckets=nb,
            id_col=id_col, vec_col=vec_col, vec_dim=vec_dim,
            strict_layout=strict_layout,
        ),
    )


def _resolve_index_path(spark, path: str) -> str:
    """Accept either a direct index/epoch path or a LIFECYCLE ROOT
    (a directory holding ``current.json``): the staleness reports are
    per-epoch operational tooling, so letting them take the root an
    operator already has (the retrain ops' first argument) removes a
    get_current() every caller would otherwise write."""
    from data_lake_with_spark_spark.sources import cow

    try:
        return cow.get_current(spark, path)
    except FileNotFoundError:
        return path


def _occupancy(domain, rows: DataFrame, keys: list, names) -> DataFrame:
    """The occupancy leg of every health report, one row: the keys of
    ``domain`` (a frame, or a hash-bucket count ``n`` for the int keys
    ``0..n-1``) left-joined to the row count of ``rows`` per key. The
    columns, named by ``names`` in this order, are the number of keys,
    the keys with no row (dead), the least and the most rows of a live
    key, and the rows of all keys. ``rows`` is read for its keys only."""
    if isinstance(domain, int):
        domain = rows.sparkSession.range(domain).select(
            F.col("id").cast("int").alias(keys[0])
        )
    occ = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("_occ"))
    n, dead, lo, hi, total = names
    return (
        domain.select(*keys)
        .join(occ, keys, "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.sum(F.when(F.col("_occ").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(dead),
            F.min("_occ").cast("bigint").alias(lo),
            F.max("_occ").cast("bigint").alias(hi),
            F.sum(F.coalesce(F.col("_occ"), F.lit(0)))
            .cast("bigint")
            .alias(total),
        )
    )


def _sampled_error(spark, rows, sample_mod, id_col, sq_err, names) -> DataFrame:
    """The sampled-error leg of the vector health reports, one row
    ``(n_sampled, sum, mean)`` named by ``names`` after ``n_sampled``:
    ``sq_err`` maps the ``id % sample_mod == 0`` stripe of ``rows`` to
    ``(id, _d)`` squared errors, each rounded to 6 dp and summed as
    DECIMAL(18,6), and the mean is that sum over the sampled ids.
    ``rows`` None (no corpus to sample) skips the leg: 0 sampled and a
    NULL sum and mean, distinct from an empty stripe's 0.0 sum."""
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    err_sum, err_mean = names
    if rows is None:
        return spark.range(1).select(
            F.lit(0).cast("bigint").alias("n_sampled"),
            F.lit(None).cast("double").alias(err_sum),
            F.lit(None).cast("double").alias(err_mean),
        )
    err = sq_err(rows.where(F.col(id_col) % sample_mod == 0)).select(
        F.col(id_col), F.round("_d", 6).cast("decimal(18,6)").alias("_e")
    )
    total = F.coalesce(F.col("_sum_e").cast("double"), F.lit(0.0))
    return err.agg(
        F.count_distinct(F.col(id_col)).cast("bigint").alias("n_sampled"),
        F.sum("_e").alias("_sum_e"),
    ).select(
        "n_sampled",
        total.alias(err_sum),
        # an EMPTY sample stripe (every sampled id deleted by churn)
        # must report NULL, not crash ANSI division
        F.when(F.col("n_sampled") > 0, total / F.col("n_sampled")).alias(
            err_mean
        ),
    )


def _adc_sq_err(rv: DataFrame, codes, cb, meta, id_col: str) -> DataFrame:
    """Per sampled id and subspace, the squared L2 between the ``rv``
    sub-vector and the codebook entry its STORED code points at."""
    return (
        _subspaces(rv, "rv", meta["dim"], meta["m"], (id_col,))
        .join(codes.select(id_col, "subspace", "code"), [id_col, "subspace"])
        .join(F.broadcast(cb), ["subspace", "code"])
        .select(id_col, l2sq_expr("_sub", "cent_sub").alias("_d"))
    )


#: Occupancy columns of the cell-partitioned families' reports.
_CELL_COLS = ("n_cells", "dead_cells", "occ_min", "occ_max", "n_vecs")
#: Sampled-error columns of the PQ and IVFPQ reports.
_RECON_COLS = ("recon_err_sum", "mean_recon_err")


def index_staleness_report(
    spark,
    path: str,
    corpus: "DataFrame | None" = None,
    sample_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantizer-staleness report for an IVFPQ index — the
    WHEN-to-retrain signal (r12 verdict #2): :func:`retrain_ivfpq_index`
    closed HOW to recover from quantizer drift and MEASUREMENTS_r12 §2
    proved recall decays under churn, but the only way to detect the
    decay was an exact-recall probe — corpus-sized, two full encodes.
    This report reads the index's OWN components (one column-pruned
    codes scan + a fixed-budget sample re-centered against the carried
    quantizers) and emits the numbers an operator alerts on instead:

    - **cell occupancy**: ``n_cells``, ``dead_cells`` (cells owning
      ZERO code rows — deleted-stripe anchors and drifted-away mass),
      ``occ_min``/``occ_max`` over the occupied cells, and ``n_vecs``
      — dead-cell fraction and occupancy skew are one division away
      (kept as exact integers per the rational-arithmetic doctrine;
      mean occupancy = n_vecs / n_cells). A healthy fresh build has
      dead_cells ≈ 0 and bounded skew; churn shows up as both rising.
    - **ADC reconstruction error** on the deterministic sample stripe
      ``id % sample_mod == 0``: each sampled vector's TRUE residual
      (against the cell its STORED codes sit in — the serving truth,
      not a recomputed assignment) vs the codebook entry its stored
      code points at, as the 6-dp-rounded squared-L2 summed
      DECIMAL-exactly (``recon_err_sum``, ``n_sampled``,
      ``mean_recon_err`` = the double division of the exact parts).
      This is exactly the error term ADC serving adds, so it moves
      WITH the recall degradation drift causes (measured:
      tools/pq_ri_probe.py --staleness, MEASUREMENTS_r13).

    Staleness is a DELTA metric: persist the report at build time and
    compare — rising dead_cells / mean_recon_err against the build
    baseline is the retrain trigger. ``corpus`` supplies the float
    vectors (PQ codes are lossy; the lakehouse stores the vectors —
    the :func:`pq_topk_rerank_indexed` argument, reused); only the
    sample stripe's rows are ever joined. One partial-aggregable
    pass per leg; the codes scan is column-pruned to
    (cent_id, id, subspace, code). Returns ONE row."""
    from data_lake_with_spark_spark.sources import cow

    path = _resolve_index_path(spark, path)
    meta = _vec_meta(spark, "ivfpq", path)
    cents, cb, codes = (
        cow.read_component(spark, path, c)
        for c in ("centroids", "codebooks", "codes")
    )
    # one row per vector: its subspace-0 code row
    heads = codes.where(F.col("subspace") == 0).select(id_col, "cent_id")

    def sq_err(sample):
        # the TRUE residual against the cell the stored codes sit in
        rv = (
            sample.select(id_col, vec_col)
            .join(heads, id_col)
            .join(F.broadcast(cents), "cent_id")
            .select(id_col, _resid_col(vec_col, "cent_v").alias("rv"))
        )
        return _adc_sq_err(rv, codes, cb, meta, id_col)

    return _occupancy(cents, heads, ["cent_id"], _CELL_COLS).crossJoin(
        _sampled_error(spark, corpus, sample_mod, id_col, sq_err, _RECON_COLS)
    )


def pq_staleness_report(
    spark,
    path: str,
    corpus: "DataFrame | None" = None,
    sample_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The plain-PQ sibling of :func:`index_staleness_report` — the
    staleness story covers all three quantized families the way the
    retrain ops do. PQ has no coarse cells, so the occupancy axis is
    **codebook utilization**: ``n_codes`` codebook entries vs
    ``dead_codes`` (entries NO stored code references — churn drifts
    the encode distribution off parts of the frozen codebook; dead
    entries are budget the corpus no longer uses, the k-means
    empty-cluster signal read off the serving artifact). The error
    axis is the same sampled ADC reconstruction error (raw sub-vector
    vs the codebook entry the STORED code points at — PQ encodes raw
    slices, no re-centering). Returns ONE row: (n_codes, dead_codes,
    n_vecs, n_sampled, recon_err_sum, mean_recon_err)."""
    from data_lake_with_spark_spark.sources import cow

    path = _resolve_index_path(spark, path)
    meta = _vec_meta(spark, "pq", path)
    cb = cow.read_component(spark, path, "codebooks")
    codes = cow.read_component(spark, path, "codes")
    # every vector holds one code row per subspace: n_vecs = rows / m
    used = _occupancy(
        cb, codes, ["subspace", "code"],
        ("n_codes", "dead_codes", "_lo", "_hi", "_rows"),
    ).select(
        "n_codes", "dead_codes", F.expr(f"_rows div {meta['m']}").alias("n_vecs")
    )
    return used.crossJoin(
        _sampled_error(
            spark, corpus, sample_mod, id_col,
            lambda sample: _adc_sq_err(
                sample.select(
                    id_col, F.col(vec_col).cast("array<double>").alias("rv")
                ),
                codes, cb, meta, id_col,
            ),
            _RECON_COLS,
        )
    )


def ivf_staleness_report(
    spark,
    path: str,
    sample_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF sibling of :func:`index_staleness_report` —
    SELF-CONTAINED (IVF lists store the full float vectors, so no
    corpus argument): cell occupancy (n_cells / dead_cells /
    envelope / n_vecs) plus the mean squared RESIDUAL NORM
    ``|v - cent_v|²`` on the deterministic ``id % sample_mod == 0``
    stripe — for IVF the residual norm IS the quantization error the
    frozen coarse quantizer imposes (there is no second-stage
    codebook), so a rising mean residual against the build-time
    baseline is the same retrain trigger the IVFPQ report reads from
    its ADC error. Returns ONE row: (n_cells, dead_cells, occ_min,
    occ_max, n_vecs, n_sampled, resid_sum, mean_resid)."""
    from data_lake_with_spark_spark.sources import cow

    path = _resolve_index_path(spark, path)
    cents = cow.read_component(spark, path, "centroids")
    lists = cow.read_component(spark, path, "lists")
    return _occupancy(cents, lists, ["cent_id"], _CELL_COLS).crossJoin(
        _sampled_error(
            spark, lists, sample_mod, id_col,
            lambda sample: sample.join(F.broadcast(cents), "cent_id").select(
                id_col, l2sq_expr(vec_col, "cent_v").alias("_d")
            ),
            ("resid_sum", "mean_resid"),
        )
    )


def write_staleness_baseline(spark, root: str, report: DataFrame) -> None:
    """Persist a staleness report row as the root's BUILD-TIME
    BASELINE (``{root}/staleness_baseline.json``) — staleness is a
    delta metric, so the alerting workflow is: write the baseline
    right after build/retrain, then compare every periodic report
    against it (:func:`staleness_drift`). Lives at the ROOT, not in
    an epoch dir, so maintenance epochs and vacuums never lose it;
    a retrain overwrites it (the retrained index IS the new
    baseline). Works with any of the three family reports (the row's
    own column names are stored)."""
    from data_lake_with_spark_spark.sources import cow

    row = report.collect()[0].asDict()
    cow.write_json(spark, f"{root}/staleness_baseline.json", row)


def staleness_drift(spark, root: str, report: DataFrame) -> dict:
    """Compare a CURRENT staleness report against the persisted
    build-time baseline: per metric ``{"baseline", "current",
    "ratio"}`` (ratio None when the baseline is 0 — a fresh index's
    dead_cells). The operator alert is a threshold on the ratios the
    probes showed move with recall: occupancy skew (occ_max/occ_min
    widening — compute from the parts), dead_cells appearing, and
    mean_recon_err / mean_resid rising (MEASUREMENTS_r13 §2/§7).
    Raises FileNotFoundError when no baseline was written — alerting
    against an unpinned baseline is the bug this helper exists to
    prevent."""
    from data_lake_with_spark_spark.sources import cow

    base = cow.read_json(spark, f"{root}/staleness_baseline.json")
    if base is None:
        raise FileNotFoundError(
            f"staleness_drift: no staleness_baseline.json under "
            f"{root!r} — write_staleness_baseline right after the "
            "build/retrain that this drift should be measured against"
        )
    cur = report.collect()[0].asDict()
    out: dict = {}
    for k, b in base.items():
        c = cur.get(k)
        ratio = None
        if (
            isinstance(b, (int, float))
            and isinstance(c, (int, float))
            and b not in (0, 0.0)
        ):
            ratio = c / b
        out[k] = {"baseline": b, "current": c, "ratio": ratio}
    return out


def truncated_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_dim: int = 16,
    shortlist: int = 50,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style coarse-to-fine ANN (Kusupati et al. 2022 MRL
    serving): score every candidate on the TRUNCATED embedding prefix
    (``coarse_dim`` of the full dims — MRL trains prefixes to be
    usable embeddings), shortlist per query, then exact full-dim
    re-rank of the shortlist only. Same two-stage serving skeleton as
    :func:`pq_topk_rerank` (FAISS IndexRefine), with dimension
    truncation instead of product quantization as the cheap stage.

    Cost shape: the cross-join stage touches ``coarse_dim/dim`` of
    the float math and carries ONLY the sliced prefix; the shortlist
    window moves (query, neighbor, score) triples; full vectors are
    fetched for ``n_queries × shortlist`` rows — a point lookup, not
    a scan. Returns (query_id, neighbor_id, cos, rank) — exact
    cosines for the final ranking.
    """
    qc = queries.select(
        F.col(id_col).alias("query_id"),
        F.slice(F.col(vec_col), 1, coarse_dim).alias("_qc"),
    )
    cc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.slice(F.col(vec_col), 1, coarse_dim).alias("_cc"),
    )
    coarse = cc.crossJoin(F.broadcast(qc)).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    short = _topk(
        _cos_scores(coarse, "_cc", "_qc", None), "cos", shortlist, desc=True
    ).select("query_id", "neighbor_id")
    return _rerank(
        corpus, queries, short, k, id_col, vec_col, "cos", cosine_expr, desc=True
    )


def percentile_clip_calibrate(
    emb: DataFrame,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-DIMENSION percentile clip calibration — the preprocessing
    step real int8 pipelines run before quantization:
    :func:`quantize_int8`'s per-vector ``127/amax`` scale is hostage
    to a single outlier coordinate, so serving stacks clip each
    dimension to its corpus [p_lo, p_hi] range first (the activation
    'percentile calibration' of TensorRT/ORT, applied to embeddings).

    Percentiles are EXACT and discrete — the ceil(p·n)-th smallest
    value per dimension, picked by rank arithmetic — so the result is
    deterministic and the oracle reproduces it without interpolated-
    quantile cross-engine ulp risk (the q124 exp() lesson applied to
    quantiles). Output is long form ``(id, dim, clipped)`` — element
    rows hash portably in the value oracle (the q97 pattern).

    Plan: one linear posexplode; ONE window shuffle keyed on the
    dimension (64 partitions of n rows — rank and count share the
    frame); the per-dim bounds frame is dim-count-sized and broadcast
    back onto the element stream. The corpus vectors themselves never
    shuffle.
    """
    el = emb.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_p0", "val"),
    ).select(id_col, (F.col("_p0") + 1).alias("dim"), "val")
    w_rank = Window.partitionBy("dim").orderBy(
        F.col("val").asc(), F.col(id_col).asc()
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("dim"))
    st = el.withColumn("_rn", F.row_number().over(w_rank)).withColumn("_n", n)
    bounds = st.groupBy("dim").agg(
        F.min(
            F.when(
                F.col("_rn") == F.ceil(F.lit(p_lo) * F.col("_n")), F.col("val")
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("_rn") == F.ceil(F.lit(p_hi) * F.col("_n")), F.col("val")
            )
        ).alias("hi"),
    )
    return (
        el.join(F.broadcast(bounds), "dim")
        .select(
            id_col,
            "dim",
            F.least(F.greatest(F.col("val"), F.col("lo")), F.col("hi")).alias(
                "clipped"
            ),
        )
    )


def negative_sampling(
    emb: DataFrame,
    k: int = 4,
    target_bucket: int = 64,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic in-bucket negative sampling for contrastive /
    embedding training: for every anchor example, pick ``k``
    pseudo-random negatives (rows with a DIFFERENT label) from the
    anchor's md5 hash bucket, ranked by a pair hash — reproducible
    across runs and engines, no RNG state.

    Fixed-BUDGET bucketing (the sampling-rate-trap policy,
    SCALING_r06.md): the bucket count derives from one metadata-cheap
    ``count()`` as ``max(1, n // target_bucket)``, so buckets hold
    ~``target_bucket`` rows at ANY corpus size and the candidate pair
    space is O(N · target_bucket) — linear, never the O(N²/B)
    quadratic a fixed bucket COUNT degrades to. The join is one hash
    exchange per side on the bucket id; the per-anchor top-k is a
    partitioned window over ≤ ``target_bucket`` candidates.

    Returns (anchor_id, neg_id, neg_label, neg_rank). Anchors whose
    bucket has fewer than ``k`` other-label rows emit what exists —
    the shortfall is visible downstream rather than silently
    rebalanced.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if target_bucket < 2:
        raise ValueError(f"target_bucket must be >= 2, got {target_bucket}")
    n = emb.count()
    n_buckets = max(1, n // target_bucket)
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % F.lit(n_buckets)
    ).cast("int")
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_label"),
        bucket.alias("_b"),
    )
    anchors = base.select(
        F.col("_id").alias("anchor_id"),
        F.col("_label").alias("_alabel"),
        F.col("_b").alias("_b"),
    )
    cands = base.select(
        F.col("_id").alias("neg_id"),
        F.col("_label").alias("neg_label"),
        F.col("_b").alias("_b"),
    )
    pair_h = F.md5(
        F.concat_ws(
            ":",
            F.col("anchor_id").cast("string"),
            F.col("neg_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("_h").asc(), F.col("neg_id").asc()
    )
    return (
        anchors.join(cands, "_b")
        .where(F.col("neg_label") != F.col("_alabel"))
        .withColumn("_h", pair_h)
        .withColumn("neg_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("neg_rank") <= k)
        .select("anchor_id", "neg_id", "neg_label", "neg_rank")
    )


def embedding_quality_report(
    emb: DataFrame,
    expected_dim: int,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-corpus QA audit — the ingest gate a vector store /
    ANN index build runs before trusting a new embedding delivery:
    per group, how many vectors have the wrong width, carry
    non-finite elements, or are exactly zero (unnormalizable), plus
    the L2-norm envelope. A bad encoder batch shows up here as a
    dim-mismatch or zero-norm spike long before recall@k quietly
    degrades.

    Exactness: the squared-norm is a LEFT FOLD over the array in
    index order (float addition is order-dependent; the fold pins
    it — the BM25 sorted-fold contract), sqrt is correctly rounded
    IEEE, so norms are bit-identical cross-engine; min/max of
    identical doubles are identical; the mean routes through the
    decimal-sum contract (exact, order-independent). Non-finite is
    detected as ``x IS NULL OR NOT (x - x = 0)`` — true for NULL
    elements (which would otherwise three-value-logic their way past
    the check AND silently drop their NULL norm from the mean — an
    ingest-gate blind spot), NaN, and ±Inf in any IEEE engine, no
    isnan/isinf dialect divergence. One
    partial-aggregable pass; everything is scan-side expression work.

    Returns (group, n_vecs, n_dim_mismatch, n_nonfinite, n_zero,
    norm_min, norm_max, norm_mean).
    """
    if expected_dim < 1:
        raise ValueError(f"expected_dim must be >= 1, got {expected_dim}")
    v = F.col(vec_col)
    dim_ok = F.size(v) == expected_dim
    nonfinite = F.exists(
        v, lambda x: x.isNull() | ~((x - x) == F.lit(0.0))
    )
    sq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    norm = F.sqrt(sq)
    base = emb.select(
        F.col(group_col).alias("group"),
        dim_ok.alias("_ok"),
        nonfinite.alias("_nf"),
        norm.alias("_norm"),
    )
    return base.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(~F.col("_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dim_mismatch"),
        F.sum(F.when(F.col("_nf"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nonfinite"),
        F.sum(F.when(F.col("_norm") == 0.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
        F.min("_norm").alias("norm_min"),
        F.max("_norm").alias("norm_max"),
        (
            F.sum(F.col("_norm").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("norm_mean"),
    )

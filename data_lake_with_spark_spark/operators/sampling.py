"""Deterministic sampling operators for training-data mixing.

A training corpus is rarely consumed at its natural distribution —
pipelines up/down-sample strata (language, source, quality band) to a
target mixture. Spark's ``df.sample``/``sampleBy`` draw from an RNG
seeded per partition, so results change under repartitioning and
cannot be reproduced by another engine. These operators instead keep a
row iff a hash of its stable key falls under a per-stratum threshold:

- fully deterministic (same rows on every run, any partitioning,
  any cluster size — a re-run of a 100 TB mixing job is a no-op diff);
- embarrassingly parallel (a scan + filter; no shuffle, no state);
- portable (md5 prefix compared as a lowercase-hex string, so an
  external auditor — or the DuckDB oracle — selects byte-identical
  samples).

Thresholds quantize rates to 1/256ths (two hex digits). That is the
deliberate trade for engine-portable string comparison; pass
``precision=4`` for 1/65536ths when strata are huge and rates small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_lake_with_spark_spark.session import local_frame


def rate_threshold(rate: float, precision: int = 2) -> str:
    """Lowercase-hex threshold t such that P[md5-prefix < t] ≈ rate,
    quantized to 16**-precision. Returns the exclusive upper bound as
    a string comparable against ``substring(md5(key), 1, precision)``.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    levels = 16**precision
    t = round(rate * levels)
    if t >= levels:
        # keep-all: 'g' sorts after every hex digit, so every prefix
        # passes; format(levels) would be precision+1 chars and break
        # the lexicographic comparison ('ff' < '100' is False)
        return "g" * precision
    return format(t, f"0{precision}x")


def deterministic_sample(
    df: DataFrame, key: Column, rate: float, precision: int = 2
) -> DataFrame:
    """Keep ~``rate`` of rows, chosen by md5(key) prefix — stable
    across runs, partitionings, and engines."""
    thr = rate_threshold(rate, precision)
    return df.where(F.substring(F.md5(key), 1, precision) < thr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key: Column,
    default_rate: float = 0.0,
    precision: int = 2,
) -> DataFrame:
    """Per-stratum deterministic sampling: row kept iff
    ``md5(key)`` prefix < the threshold of its stratum's rate.

    ``rates`` maps stratum value → keep rate; strata absent from the
    map use ``default_rate`` (0.0 = drop, 1.0 = keep all). The plan is
    a single scan + filter — the strata thresholds fold into one CASE
    expression, so there is no join, no shuffle, and the predicate
    sits directly on the parquet scan.
    """
    thr = F.lit(rate_threshold(default_rate, precision))
    for value, rate in sorted(rates.items()):
        thr = (
            F.when(F.col(strata_col) == value, F.lit(rate_threshold(rate, precision)))
            .otherwise(thr)
        )
    return df.where(F.substring(F.md5(key), 1, precision) < thr)


def balance_strata(
    df: DataFrame,
    strata_col: str,
    key: Column,
    precision: int = 2,
) -> DataFrame:
    """Rebalance a corpus to a uniform stratum mix by deterministic
    downsampling: every stratum is sampled at ``min_count / count`` so
    all strata land at (approximately) the size of the smallest — the
    source-mixing pass a training pipeline runs before interleaving
    heterogeneous corpora.

    Unlike :func:`stratified_sample`, the rates are data-dependent and
    computed inside the plan: one partial-aggregated ``groupBy`` over
    the stratum column (output rows = stratum cardinality, i.e. tiny),
    a global-min window over that tiny frame, then a broadcast join
    back so the corpus itself is never shuffled — the filter runs
    scan-side. Thresholds quantize to ``16**-precision`` exactly as in
    :func:`rate_threshold`, built with hex-string arithmetic that the
    DuckDB oracle reproduces bit-for-bit.
    """
    from pyspark.sql import Window

    levels = 16**precision
    cnts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    cnts = cnts.withColumn(
        "_t",
        F.round(
            F.lit(float(levels)) * F.min("_cnt").over(Window.partitionBy())
            / F.col("_cnt"),
            0,
        ).cast("int"),
    )
    thr = (
        F.when(F.col("_t") >= levels, F.lit("g" * precision))
        .otherwise(F.lower(F.lpad(F.hex(F.col("_t")), precision, "0")))
        .alias("_thr")
    )
    return (
        df.join(F.broadcast(cnts.select(strata_col, thr)), on=strata_col)
        .where(F.substring(F.md5(key), 1, precision) < F.col("_thr"))
        .drop("_thr")
    )


def temperature_rebalance(
    df: DataFrame,
    strata_col: str,
    key: Column,
    alpha: float = 0.5,
    precision: int = 2,
) -> DataFrame:
    """Temperature-based stratum rebalancing — the multilingual
    sampling scheme of mBERT/XLM-R (Conneau et al. 2020 §3.1 sample
    languages ∝ p^α): per-stratum keep fraction
    ``f_l = (n_min / n_l)^(1 - alpha)``, interpolating between
    :func:`balance_strata`'s full flatten (alpha=0) and the natural
    distribution (alpha=1). Head strata are damped, tail strata kept
    whole — the standard compromise when full flattening would starve
    the corpus of its largest sources.

    Same deterministic scan-side shape as balance_strata: tiny
    count aggregate, global-min window over it, broadcast join back,
    md5-threshold filter at the scan; the corpus never shuffles.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    from pyspark.sql import Window

    levels = 16**precision
    cnts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    frac = F.pow(
        F.min("_cnt").over(Window.partitionBy()) / F.col("_cnt"),
        F.lit(1.0 - alpha),
    )
    cnts = cnts.withColumn(
        "_t", F.round(F.lit(float(levels)) * frac, 0).cast("int")
    )
    thr = (
        F.when(F.col("_t") >= levels, F.lit("g" * precision))
        .otherwise(F.lower(F.lpad(F.hex(F.col("_t")), precision, "0")))
        .alias("_thr")
    )
    return (
        df.join(F.broadcast(cnts.select(strata_col, thr)), on=strata_col)
        .where(F.substring(F.md5(key), 1, precision) < F.col("_thr"))
        .drop("_thr")
    )


def split_assign(
    df: DataFrame,
    key: Column,
    weights: "dict[str, float]",
    precision: int = 4,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment: each row gets
    the split whose cumulative md5-prefix range contains its hashed
    key — the standard leakage-safe corpus partitioning (a document's
    split never changes across runs, cluster sizes, or engines, so
    later pipeline stages can re-derive it instead of joining).

    ``weights`` maps split name → fraction (must sum to ~1; ranges
    quantize to 16**-precision, default 1/65536ths). Assignment
    iterates splits in INSERTION ORDER, so ``{"train": .8,
    "val": .1, "test": .1}`` gives train the low hash range —
    document the order with the weights. Scan-side expression: no
    shuffle, no RNG, reproducible by the SQL oracle byte-for-byte.
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"weights must sum to 1, got {total}")
    prefix = F.substring(F.md5(key), 1, precision)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        bound = rate_threshold(cum, precision)
        cond = prefix < F.lit(bound)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn(split_col, expr)


def sample_per_group(
    df: DataFrame,
    group_cols: "list[str]",
    key: Column,
    k: int,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Deterministic k-per-group sample: rank rows inside each group
    by md5(key) (a uniform, engine-portable order) and keep the first
    ``k`` — eval-set construction ("50 docs per language"), debugging
    slices, per-source audits.

    One window shuffle on the group key. Unlike ``df.sample``, the
    selected rows are a pure function of the data (stable under
    reruns/repartitioning and reproducible by the SQL oracle); unlike
    ``LIMIT`` per group, selection is unbiased w.r.t. input order.
    md5 ties (hash collisions on distinct keys are ~2^-64 per pair)
    break on the hash's full string then the key itself via the
    window's deterministic order.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(
        F.md5(key).asc(), key.cast("string").asc()
    )
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )

def relative_buckets(
    df: DataFrame,
    group_col: str,
    order_by: "list[Column]",
    k: int = 3,
    labels: "tuple[str, ...] | None" = ("head", "middle", "tail"),
    bucket_col: str = "bucket",
) -> DataFrame:
    """Per-group relative bucketing — CCNet's head/middle/tail split
    generalized: rank rows within each ``group_col`` partition by
    ``order_by`` (best first) and assign bucket
    ``floor(k * (rank-1) / n)``, so every group splits into ``k``
    near-equal bands REGARDLESS of its absolute signal distribution.
    This is how per-language quality gates avoid the classic trap of
    one absolute threshold judging all languages by the head
    language's distribution.

    The bucket index is computed in pure INTEGER arithmetic
    (``(k·(rank−1)) div n``) — no float quantile boundaries, so the
    assignment is bit-identical across engines and the SQL oracle
    reproduces it with ``//``. One window shuffle on the group key;
    rank and count share the same window frame, so Spark evaluates
    both in a single pass. ``order_by`` must be a total order
    (include a unique tiebreak column) or ranks are
    nondeterministic — same contract as every window op here.
    ``labels=None`` emits the integer bucket index instead.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if labels is not None and len(labels) != k:
        raise ValueError(f"need exactly k={k} labels, got {labels!r}")
    w = Window.partitionBy(group_col).orderBy(*order_by)
    n = F.count(F.lit(1)).over(Window.partitionBy(group_col))
    r = F.row_number().over(w)
    # exact integer division as (a - a%n)/n: the subtraction makes the
    # final / an exact-multiple division, so no FP-boundary rounding
    a = F.lit(k) * (r - F.lit(1))
    idx = ((a - (a % n)) / n).cast("int")
    out = df.withColumn("_bidx", idx)
    if labels is None:
        return out.withColumnRenamed("_bidx", bucket_col)
    lab = F.lit(labels[-1])
    for i in range(k - 2, -1, -1):
        lab = F.when(F.col("_bidx") == i, F.lit(labels[i])).otherwise(lab)
    return out.withColumn(bucket_col, lab).drop("_bidx")


def shard_assignment(
    df: DataFrame,
    key: Column,
    n_shards: int,
    shard_col: str = "shard",
    pos_col: str = "shard_pos",
) -> DataFrame:
    """Deterministic training-shard writer assignment: shard =
    ``md5(key)``'s first 8 hex digits mod ``n_shards`` (uniform,
    key-skew-proof — a hot natural key still lands in one shard but
    shard SIZES stay balanced because md5 is uniform over keys), and
    a stable 1-based position within the shard ordered by the full
    hash (so shard contents are a deterministic pseudo-random
    permutation of the corpus — exactly the "global shuffle" a
    training run wants, without a global sort).

    This is the WebDataset/TFRecord shard layout op: downstream
    writers do ``.repartitionByRange(shard_col, pos_col)`` or
    ``partitionBy(shard_col)`` and each shard file is internally
    shuffled, reproducibly. One window shuffle on the shard id (the
    md5 mod is a scan-side projection); cross-engine reproducible —
    the oracle computes the identical hex arithmetic with ``//`` and
    string comparison.
    """
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.md5(key)
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % n_shards
    ).cast("int")
    w = Window.partitionBy(shard_col).orderBy(
        F.col("_h").asc(), key.cast("string").asc()
    )
    return (
        df.withColumn("_h", h)
        .withColumn(shard_col, shard)
        .withColumn(pos_col, F.row_number().over(w).cast("bigint"))
        .drop("_h")
    )

def mixture_repeats(
    df: DataFrame,
    stratum_col: str,
    weights: "dict[str, float]",
    key: Column,
    total: int | None = None,
    repeats_col: str = "n_repeats",
) -> DataFrame:
    """Materialize a target corpus MIXTURE as integer per-document
    repeat factors — the "data recipe" op: given target proportions
    per stratum (source/domain/language), each doc in stratum ``s``
    is consumed ``weight_s · T / n_s`` times per epoch (LLaMA-style
    sampling proportions, where high-weight small sources repeat >1
    and down-weighted sources repeat <1, i.e. are subsampled).

    The fractional part is resolved deterministically: every doc gets
    ``floor(x)`` repeats, plus one more iff the first 16 bits of
    ``md5(key)`` fall under ``frac(x)·65536`` — so expected stratum
    totals hit the target (to 1/65536) and the assignment is
    reproducible across runs, partitionings, and engines (no RNG).
    Strata absent from ``weights`` get weight 0.0 → ``n_repeats = 0``
    (dropped from the recipe). ``total`` defaults to the input count
    (one count job); pass it when known to keep the plan one pass.

    Plan: one tiny stratum-count aggregate broadcast back onto the
    scan, then a pure projection — the corpus itself never shuffles.
    Downstream materialization is
    ``where(n_repeats > 0).withColumn('epoch',
    explode(sequence(1, n_repeats)))``, still shuffle-free.
    """
    t = total if total is not None else df.count()
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    w = F.lit(0.0)
    for value, wt in sorted(weights.items()):
        w = F.when(F.col(stratum_col) == value, F.lit(float(wt))).otherwise(w)
    x = w * F.lit(t) / F.col("_n")
    base = F.floor(x)
    extra = (
        F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("bigint")
        < (x - base) * F.lit(65536.0)
    ).cast("bigint")
    return (
        df.join(F.broadcast(counts), stratum_col)
        .withColumn(repeats_col, (base + extra).cast("bigint"))
        .drop("_n")
    )


def token_budget_fill(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    priority: Column | None = None,
    token_count: Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy per-group token-budget fill: within each group, take
    documents in priority order until the group's cumulative token
    count would exceed ``budget_tokens`` — the dataset-composition
    step that turns "20B tokens of web, 5B of code" quotas into a
    concrete document selection.

    One partitioned window per group (running token sum + fill rank);
    kept rows satisfy ``cum_tokens <= budget``, so each group's
    output is bounded by the BUDGET, not the corpus — the operator's
    output is fixed-size at any input scale. The window is per-group:
    a pathologically hot group serializes into one task, and the
    mitigation at that scale is a priority pre-prune (only the top
    ~budget rows by priority can possibly fit, since every doc has
    ≥1 token — a rank-filter pass with the same window spec that AQE
    can pipeline) — documented rather than silently applied, because
    the prune changes no output row.

    Returns (id, group, n_tokens, cum_tokens, fill_rank) for kept
    rows; integer arithmetic throughout.
    """
    from pyspark.sql import Window

    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    prio = priority if priority is not None else F.col("n_chars").desc()
    toks = (
        token_count
        if token_count is not None
        else F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    base = df.withColumn("n_tokens", toks.cast("bigint"))
    w = Window.partitionBy(group_col).orderBy(prio, F.col(id_col).asc())
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .withColumn("fill_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("cum_tokens") <= budget_tokens)
        .select(F.col(id_col).alias("id"), group_col, "n_tokens",
                "cum_tokens", "fill_rank")
    )


def weighted_priority_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    group_col: "str | None" = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling: keep the ``k`` items with the
    smallest priority ``u/w``, where ``u`` is the item's md5-uniform
    in [0,1) and ``w`` its weight — the deterministic analogue of
    weighted reservoir sampling (Efraimidis–Spirakis uses keys
    u^(1/w); ``u/w`` preserves the same monotone weight preference
    without ``pow``/``log``, whose libm ulps diverge between engines
    — the BM25 rational-idf rule applied to sampling). Higher weight
    ⇒ proportionally smaller expected priority ⇒ higher selection
    odds; the same corpus always yields the same sample (md5 on the
    id, no RNG — the family contract).

    Non-positive weights are excluded (weight 0 = never sampled),
    documented rather than raised so a weight column with zeros acts
    as a filter. Grouped mode takes k per group.

    Scale shape: priority is scan-side md5 arithmetic; the only
    shuffle is the top-k window (per group, or the single global
    top-k which at 100 TB should use a group key — the global mode is
    TakeOrdered-shaped). One division per row, exact cross-engine.

    Returns the sampled rows with ``priority`` and ``sample_rank``.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u_int = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    prio = u_int / (F.lit(4294967296.0) * weight)
    base = df.where(weight > 0).withColumn("priority", prio)
    w = (
        Window.partitionBy(group_col) if group_col else Window.partitionBy()
    ).orderBy(F.col("priority").asc(), F.col(id_col).asc())
    return (
        base.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("sample_rank") <= k)
    )


def mixture_plan(
    df: DataFrame,
    weights: "dict[str, int]",
    token_budget: int,
    stratum_col: str = "lang",
    token_count: "Column | None" = None,
) -> DataFrame:
    """Data-mixture planning: given integer mixture ``weights`` per
    stratum and a total ``token_budget``, report each stratum's
    available tokens, its weight-proportional target, the sampling
    rate that hits the target, and the planned (achievable) tokens —
    the static half of DoReMi-style mixture tuning, and the artifact
    a curation run publishes before :func:`mixture_repeats` /
    :func:`token_budget_fill` materialize it. A rate > 1 cannot be
    planned by subsampling, so targets cap at availability (the
    under-supplied stratum surfaces as planned < target — the number
    the mixture designer needs to SEE, not have silently rescaled).

    One partial-agg groupBy over the corpus + a broadcast join of the
    (|strata|-sized) weight table. Strata without a weight are
    excluded (weight 0 = not in the mixture). Exact-integer sums;
    two pinned-order divisions per stratum.

    Returns (stratum, n_tokens_avail, weight, target_tokens,
    sampling_rate, planned_tokens).
    """
    if token_budget < 1:
        raise ValueError(f"token_budget must be >= 1, got {token_budget}")
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of ints >= 0")
    if not any(w > 0 for w in weights.values()):
        # all-zero weights would build an empty weight table and
        # return an empty plan — a config error, not a plan
        raise ValueError("weights must contain at least one w > 0")
    toks = (
        token_count
        if token_count is not None
        else F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    wsum = sum(weights.values())
    avail = (
        df.select(F.col(stratum_col).alias("stratum"), toks.alias("_tk"))
        .groupBy("stratum")
        .agg(F.sum("_tk").cast("bigint").alias("n_tokens_avail"))
    )
    wdf = local_frame(
        df.sparkSession,
        [(s, int(w)) for s, w in sorted(weights.items()) if w > 0],
        "stratum string, weight bigint",
    )
    target = (F.lit(int(token_budget)) * F.col("weight")) / F.lit(
        float(wsum)
    )
    return avail.join(F.broadcast(wdf), "stratum").select(
        "stratum",
        "n_tokens_avail",
        "weight",
        target.alias("target_tokens"),
        F.least(
            F.lit(1.0), target / F.col("n_tokens_avail").cast("double")
        ).alias("sampling_rate"),
        F.least(F.col("n_tokens_avail").cast("double"), target).alias(
            "planned_tokens"
        ),
    )

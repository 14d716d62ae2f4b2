"""Text-analysis operators over the ``documents`` table.

LLM-training-data pipeline primitives: language ID, quality scoring,
token counting, document fingerprinting. All pure built-in SQL
functions (JVM-side, codegen-friendly) and expressed so the DuckDB
oracle can compute identical values — the regexes used are valid and
equivalent in both engines.

At 100 TB these are embarrassingly parallel projections: no shuffle,
filter-pushdown-friendly, and cheap enough to fuse into the scan stage.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_lake_with_spark_spark.session import collect_bounded, local_frame

#: Tiny per-language marker-word lists for the n-gram/stopword
#: heuristic language scorer. Deliberately small + deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "das", "und", "ist"),
}


def _count_word(col: Column, word: str) -> Column:
    """Whole-word occurrence count. Oracle twin:
    ``len(regexp_extract_all(col, pat))`` — \\b works in both RE2 and
    Java regex."""
    pat = rf"\b{word}\b"
    return F.regexp_count(col, F.lit(pat))


def token_count(col: Column) -> Column:
    """Whitespace token count. Oracle: len(string_split_regex(.,'\\s+'))."""
    return F.size(F.split(F.trim(col), r"\s+"))


def char_classes(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: length, punctuation ratio, digit ratio,
    uppercase ratio, mean word length."""
    c = F.col(text_col)
    n = F.length(c).cast("double")
    def ratio(pattern: str) -> Column:
        # n == 0 guard: Spark's non-ANSI 0/0 is NULL but DuckDB's is
        # NaN, so an unguarded ratio diverges from the SQL oracle on
        # empty documents; NULL on both engines is the portable answer.
        # unrounded: exact-int / exact-int is ONE IEEE division,
        # bit-identical on every engine; a 6dp display round here can
        # sit exactly on a .xxxxxx5 boundary (ratios over power-of-two
        # lengths terminate at digit 7) where Spark and DuckDB round
        # the same double differently — the q85 divergence class
        return F.when(
            n > 0,
            (n - F.length(F.regexp_replace(c, pattern, ""))) / n,
        ).otherwise(F.lit(None).cast("double"))
    return df.select(
        "*",
        n.cast("bigint").alias("n_chars_measured"),
        ratio(r"[.,;:!?]").alias("punct_ratio"),
        ratio(r"[0-9]").alias("digit_ratio"),
        ratio(r"[A-Z]").alias("upper_ratio"),
        token_count(c).alias("n_tokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: favors mid-length docs with
    low punctuation/digit density and a sane mean token length."""
    scored = char_classes(df, text_col)
    length_score = F.least(F.col("n_chars_measured") / F.lit(500.0), F.lit(1.0))
    clean_score = F.lit(1.0) - F.least(
        F.col("punct_ratio") + F.col("digit_ratio"), F.lit(1.0)
    )
    # unrounded for the same boundary reason as char_classes' ratios
    return scored.withColumn(
        "quality", F.lit(0.5) * length_score + F.lit(0.5) * clean_score
    )


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word hit counts per language + argmax prediction.

    A real system would use fastText/CLD3 via a pandas UDF; this
    n-gram/stopword heuristic keeps the operator oracle-checkable and
    JVM-side. Ties break by language code order (deterministic).
    """
    c = F.lower(F.col(text_col))
    score_cols = []
    for lang, words in LANG_MARKERS.items():
        s = sum((_count_word(c, w) for w in words), F.lit(0))
        score_cols.append(s.alias(f"score_{lang}"))
    scored = df.select("*", *score_cols)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((best > 0) & (F.col(f"score_{lang}") == best), lang).otherwise(pred)
    return scored.withColumn("lang_pred", pred)


def tokens(col: Column) -> Column:
    """Whitespace token array (the shared tokenizer for repetition /
    n-gram ops). Oracle twin: ``string_split_regex(trim(.), '\\s+')``."""
    return F.split(F.trim(col), r"\s+")


def word_ngrams(col: Column, n: int) -> Column:
    """Array of word ``n``-grams (space-joined). Built from the token
    array with higher-order functions — interpreted, not codegen'd,
    but linear in tokens and shuffle-free; the explode downstream is
    where parallelism happens."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) instead of
    # returning an empty array, so short docs need an explicit branch
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngram_rows(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "g",
    pos_col: str | None = None,
) -> DataFrame:
    """Exploded ``(id, n-gram)`` rows — the shape every n-gram
    consumer actually wants — built from a position explode +
    ``slice`` + ``array_join``, which are scalar codegen'd
    expressions. :func:`word_ngrams` assembles the same grams inside
    an interpreted ``transform`` lambda; at sf0.1 this formulation is
    ~3× faster for the contamination/repetition/span pipelines.
    Docs shorter than ``n`` tokens produce no rows (identical to
    exploding word_ngrams' empty array). ``pos_col`` additionally
    emits the gram's 1-based start token position (same projection,
    no extra work) for position-aware consumers like
    :func:`contamination_spans`."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_t")).where(
        F.size("_t") >= n
    )
    starts = F.sequence(F.lit(1), F.size("_t") - (n - 1))
    cols = [
        F.col(id_col),
        F.array_join(F.slice("_t", F.col("_i"), n), " ").alias(out_col),
    ]
    if pos_col is not None:
        cols.append(F.col("_i").cast("bigint").alias(pos_col))
    return base.select(id_col, "_t", F.explode(starts).alias("_i")).select(*cols)


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals: token count,
    distinct-token ratio, top-unigram fraction, top-bigram fraction
    (Rae et al. 2021 §A1.1 use these to drop degenerate/repetitive
    documents before training).

    Shape for 100 TB: explode → two-level partial-aggregated groupBy
    keyed by doc id — both shuffles are on the same key so the second
    aggregation is shuffle-free after the first, and no document ever
    needs to fit anywhere whole.
    """
    uni = df.select(id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
    uni_counts = uni.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    uni_stats = uni_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_unigram_n"),
    )
    bi = word_ngram_rows(df, 2, id_col, text_col, out_col="bg")
    bi_top = (
        bi.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    out = uni_stats.join(bi_top, on=id_col, how="left")
    return out.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_distinct") / F.col("n_tokens")).alias("distinct_ratio"),
        (F.col("top_unigram_n") / F.col("n_tokens")).alias("top_unigram_frac"),
        F.when(F.col("n_bigrams") > 0, F.col("top_bigram_n") / F.col("n_bigrams"))
        .otherwise(F.lit(None).cast("double"))
        .alias("top_bigram_frac"),
    )


#: PII scrub patterns — valid and equivalent in Java regex (Spark) and
#: RE2-ish DuckDB regex. Order matters: emails before bare number runs.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"[0-9]{4,}", "<NUM>"),
)


def scrub_pii(col: Column) -> Column:
    """Mask emails, URLs, and long digit runs with typed placeholders —
    the pre-training PII-reduction pass. Pure codegen'd
    ``regexp_replace`` chain: fused into the scan, no shuffle."""
    out = col
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_hit_counts(col: Column) -> list[Column]:
    """Per-class match counts (audit signal for the scrub)."""
    names = ("n_emails", "n_urls", "n_nums")
    return [
        F.regexp_count(col, F.lit(pat)).cast("bigint").alias(name)
        for (pat, _), name in zip(PII_PATTERNS, names)
    ]


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: for each corpus document, the
    number of distinct word ``n``-grams shared with ANY benchmark
    document (the standard eval-decontamination test, e.g. GPT-3
    appendix C / PaLM §8: drop or flag training docs overlapping an
    eval set).

    Scale shape: the benchmark n-gram set is small (eval suites are
    KBs-MBs) → distinct + broadcast; the corpus side is a linear
    explode with the join done map-side, then one groupBy(doc) count.
    The corpus never shuffles its text, only matched (id, gram) pairs.

    The benchmark frame only needs ``text_col`` — eval suites often
    carry bare text; a synthetic row id is attached for the gram
    explode and immediately projected away (``id_col`` applies to the
    corpus side only).
    """
    bench_grams = (
        word_ngram_rows(
            benchmark.select(
                F.monotonically_increasing_id().alias("_bench_id"),
                F.col(text_col),
            ),
            n,
            "_bench_id",
            text_col,
        )
        .select("g")
        .where(F.col("g") != "")
        .distinct()
    )
    corpus_grams = word_ngram_rows(corpus, n, id_col, text_col).where(
        F.col("g") != ""
    )
    # join BEFORE deduplicating: the broadcast join filters the corpus
    # gram stream map-side down to benchmark hits (rare by
    # construction), so the only shuffle is the final partial-agg
    # count_distinct — deduplicating (id, gram) first would shuffle
    # the entire exploded corpus instead
    hits = corpus_grams.join(F.broadcast(bench_grams), on="g", how="inner")
    return hits.groupBy(id_col).agg(
        F.count_distinct(F.col("g")).cast("bigint").alias("n_shared_ngrams")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    the context-window chunking step of a training/RAG pipeline. Emits
    ``(id, [carry_cols...,] chunk_id, chunk_n_tokens, chunk_text)``,
    chunk_id 1-based; the final chunk may be short (standard tail
    semantics).

    Shuffle-free: chunk starts come from ``sequence(1, n_tokens,
    stride)`` exploded per document, so a 100 TB corpus chunks inside
    the scan stage; only the output's size changes. ``carry_cols``
    ride through the explode — a downstream stage that needs a
    document attribute (language, source, license) should carry it
    here rather than re-joining chunks to the corpus, which would
    shuffle the (much larger) chunk stream by doc id.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    carry = list(carry_cols)
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    exploded = df.select(
        id_col, *carry, toks.alias("_toks"), F.posexplode(starts).alias("_i", "_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("_start"), chunk_tokens)
    return exploded.select(
        id_col,
        *carry,
        (F.col("_i") + 1).cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("chunk_n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    partition_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed
    token-budget packs by exclusive-prefix running total within each
    partition key, ordered by id — the batch-construction step that
    turns a shuffled corpus into near-full training sequences.

    ``pack_id = floor(exclusive_cumsum / budget)`` is the
    SQL-expressible capacity-target variant: a pack can overflow by at
    most one document (exact first-fit is an inherently sequential
    scan; at cluster scale per-partition capacity-target packing is
    what actually runs). One shuffle (the window), portable to the
    oracle as the identical SUM() OVER (... ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING).
    """
    from pyspark.sql import Window

    nt = token_count(F.col(text_col))
    w = (
        Window.partitionBy(partition_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum(nt).over(w), F.lit(0))
    return df.select(
        F.col(partition_col),
        F.col(id_col),
        nt.cast("bigint").alias("n_tokens"),
        F.floor(prev / F.lit(budget)).cast("bigint").alias("pack_id"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — keyword extraction /
    topic tagging over a corpus. ``tfidf = tf · ln((N+1)/(df+1))``
    (add-one smoothed); ranking orders by the ROUNDED score with the
    term as tiebreaker so cross-engine ulp noise cannot flip ranks.

    Scale shape: one explode + groupBy(doc, term) for term
    frequencies; document frequencies aggregate from that same frame
    (second small groupBy) and join back — at 100 TB the df table is
    |vocab| rows and broadcasts; the corpus count N rides along as a
    broadcast scalar (no driver action, stays one lazy plan).
    """
    from pyspark.sql import Window

    tf = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(F.broadcast(docfreq), on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf") * F.log((F.col("_n") + 1) / (F.col("df") + 1)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", F.col("rank").cast("bigint").alias("rank"))
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: lowercase, collapse whitespace,
    strip non-alphanumerics, md5. Identical normalization in the
    DuckDB oracle; used by exact dedup as the grouping key."""
    c = F.col(text_col)
    normalized = F.regexp_replace(
        F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", ""), r"\s+", " "
    )
    return df.withColumn("fp", F.md5(F.trim(normalized)))


#: Compact multilingual stopword list for the stopword-ratio quality
#: signal (union of the LANG_MARKERS function words plus bare English
#: articles/prepositions). Deliberately small + deterministic so the
#: SQL oracle carries the identical list inline.
STOPWORDS: tuple[str, ...] = (
    "a", "an", "the", "and", "or", "of", "to", "in", "is", "on",
    "for", "with", "el", "la", "de", "que", "los", "le", "les",
    "des", "est", "der", "die", "das", "und", "ist",
)


def stopword_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio quality signal (Gopher-style: natural prose has
    a healthy function-word fraction; machine-generated lists,
    boilerplate, and keyword-stuffed spam sit near 0): token count,
    stopword occurrence count, and their ratio per document.

    JVM-side array ``filter`` over the whitespace tokens — no UDF, no
    shuffle (pure projection; the ratio is an unrounded int/int
    division, so the oracle matches bitwise). Compose with
    ``quality_score``/``check_expectations`` as a gate column; the
    list is :data:`STOPWORDS` (swap for a real per-language list in
    production — the plan shape is identical).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    stop_n = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return df.select(
        "*",
        n.cast("bigint").alias("n_tokens"),
        stop_n.cast("bigint").alias("n_stopwords"),
        F.when(n > 0, stop_n / n)
        .otherwise(F.lit(None).cast("double"))
        .alias("stopword_ratio"),
    )


def ngram_rarity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Corpus-frequency rarity signal — the engine-exact stand-in for
    the LM-perplexity quality filter (CCNet, Wenzek et al. 2020 bins
    documents by language-model perplexity; the portable analog is
    "how typical are this document's character n-grams of the
    corpus"). Per document: ``n_ngrams`` and ``mean_freq`` = the mean
    corpus-wide relative frequency of its char n-grams. Low values =
    unusual text (gibberish, wrong-language, encoding damage); high
    values = boilerplate-like text. Bin or threshold downstream
    exactly like a perplexity score.

    Exactness contract (why mean-frequency, not log-perplexity): the
    score is ``Σ count(gᵢ) / (n_ngrams · total)`` — integer sums with
    ONE trailing IEEE division, bitwise-reproducible by any engine.
    A log-based score would hit libm ulp skew between JVM and C
    implementations of log(); the rarity ORDERING this filter needs
    survives the monotone transform either way.

    Scale shape: one position-explode pass (codegen'd substring, the
    MinHash formulation) feeds both the model (n-gram → count groupBy)
    and the per-doc join. The model is bounded by the n-gram SPACE,
    not the corpus — |alphabet|³ for trigrams — so it always
    broadcasts, and the per-doc aggregation is one partial-agg
    groupBy on the id. Docs shorter than ``n`` are dropped (no
    n-grams), matching the SQL oracle.
    """
    # explicit-count repartition before the explode: the corpus is
    # small-bytes/high-CPU (KBs of text exploding into millions of
    # grams), and a bare repartition(col) is an AQE coalescing target
    # that collapses the whole pipeline to ONE task (the measured
    # MinHash trap, dedup.minhash_signatures).
    parts = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint: the gram frame feeds TWO consumers (model
    # build + per-doc join) and each action would otherwise re-run
    # the filter+repartition+explode+substring pipeline per consumer
    # (round-6 advisor: it ran three times). One materialized pass is
    # the "one position-explode pass" the contract promises.
    grams = (
        df.where(F.length(text_col) >= n)
        .repartition(parts, F.col(id_col))
        .select(
            F.col(id_col),
            F.col(text_col).alias("_txt"),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - F.lit(n - 1))
            ).alias("_i"),
        )
        .select(F.col(id_col), F.expr(f"substring(_txt, _i, {n})").alias("_g"))
        .localCheckpoint()
    )
    model = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_c"))
    # total derives from the (broadcast-sized) model, not a third
    # pass over the gram frame: Σ counts ≡ the gram count.
    total = model.select(F.sum("_c").alias("_total"))
    return (
        grams.join(F.broadcast(model), on="_g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum("_c").alias("_sum"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.col("n_ngrams").cast("bigint").alias("n_ngrams"),
            (F.col("_sum") / (F.col("n_ngrams") * F.col("_total"))).alias(
                "mean_freq"
            ),
        )
    )


#: Vendored linear quality-classifier weights (bias, then one weight
#: per feature in FEATURE ORDER: stopword_ratio, mean_word_len,
#: digit_ratio). Hand-set plausible values standing in for a trained
#: model — the deliverable is the INFERENCE PLUMBING: a linear model
#: evaluated as a plain JVM expression (no UDF, no model server), the
#: way a distilled quality classifier actually ships into a 100 TB
#: scan. Swap for trained weights without touching the plan shape.
QUALITY_CLF_WEIGHTS: tuple[float, float, float, float] = (
    -1.0,   # bias
    6.0,    # stopword_ratio: prose has function words
    -0.25,  # mean_word_len: very long "words" = code/URLs/garbage
    -8.0,   # digit_ratio: number-dense text is rarely prose
)


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    weights: tuple[float, float, float, float] = QUALITY_CLF_WEIGHTS,
    threshold: float = 0.0,
) -> DataFrame:
    """Linear quality classifier evaluated scan-side — the CCNet /
    fastText-classifier stage of a curation pipeline as ONE pure-JVM
    projection: three exact features (each an int/int ratio — one
    IEEE division, engine-portable), a dot product in fixed written
    order, and a boolean decision.

    The raw margin ``z`` is emitted instead of ``sigmoid(z)``:
    exp() differs in ulps between JVM and C libm, while the margin
    and the decision are bit-exact cross-engine — and the sigmoid is
    monotone, so thresholding z IS thresholding the probability.
    Returns (*, n_tokens, stopword_ratio, mean_word_len, digit_ratio,
    quality_z, accept).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    stop_n = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    nonspace = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    digits = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[0-9]", "")
    )
    chars = F.length(F.col(text_col))
    x1 = F.when(n > 0, stop_n / n).otherwise(F.lit(0.0))
    x2 = F.when(n > 0, nonspace / n).otherwise(F.lit(0.0))
    x3 = F.when(chars > 0, digits / chars).otherwise(F.lit(0.0))
    w0, w1, w2, w3 = weights
    z = F.lit(w0) + F.lit(w1) * x1 + F.lit(w2) * x2 + F.lit(w3) * x3
    return df.select(
        "*",
        n.cast("bigint").alias("n_tokens"),
        x1.alias("stopword_ratio"),
        x2.alias("mean_word_len"),
        x3.alias("digit_ratio"),
        z.alias("quality_z"),
        (z > F.lit(threshold)).alias("accept"),
    )

def bloom_positions(gram: Column, k: int, m: int) -> Column:
    """Array of the ``k`` Bloom bit positions for one n-gram:
    position_i = first-8-hex-digits of ``md5('{i}|' + gram)`` mod
    ``m``. Pure md5 arithmetic so an external auditor (or the DuckDB
    oracle) reproduces the exact filter."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{i}|"), gram)), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % m
            )
            for i in range(k)
        ]
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    k: int = 2,
    m: int = 1 << 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the constant-memory
    variant of :func:`ngram_contamination` for when the benchmark
    union is too large to broadcast as exact grams (multi-benchmark
    suites at 100 TB): build a Bloom filter over benchmark n-grams
    (``k`` hashes into ``m`` bits) and flag each corpus document with
    the count of its distinct n-grams the filter reports present.

    Semantics are the REAL Bloom semantics, false positives included
    (a corpus gram whose k positions are all set by OTHER benchmark
    grams counts as flagged) — that is the production trade: the bit
    set is bounded by ``min(m, k·|bench grams|)`` regardless of
    benchmark text size, while exact grams grow without bound. The
    oracle reproduces the identical bit set from the same md5
    arithmetic, so the false-positive behavior itself is
    cross-engine-verified.

    Plan: bench side — linear gram explode, k-position explode,
    distinct (the bit set, broadcast); corpus side — linear gram
    explode + per-gram position explode, map-side broadcast join
    against the bit set, then a gram is flagged iff all ``k`` of its
    positions matched (count == k per (doc, gram)) and docs aggregate
    flagged-distinct-gram counts. The corpus text never shuffles;
    the only shuffles are the two bounded aggregates.
    """
    bench_bits = (
        word_ngram_rows(
            benchmark.select(
                F.monotonically_increasing_id().alias("_bid"), F.col(text_col)
            ),
            n,
            "_bid",
            text_col,
        )
        .where(F.col("g") != "")
        .select(F.explode(bloom_positions(F.col("g"), k, m)).alias("pos"))
        .distinct()
    )
    corpus_pos = (
        word_ngram_rows(corpus, n, id_col, text_col)
        .where(F.col("g") != "")
        .select(
            id_col,
            "g",
            F.posexplode(bloom_positions(F.col("g"), k, m)).alias("_hi", "pos"),
        )
    )
    flagged = (
        corpus_pos.join(F.broadcast(bench_bits), "pos")
        .groupBy(id_col, "g")
        .agg(F.count_distinct("_hi").alias("_nhit"))
        .where(F.col("_nhit") == k)
    )
    return flagged.groupBy(id_col).agg(
        F.count_distinct("g").cast("bigint").alias("n_flagged_ngrams")
    )

def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Longest contaminated SPAN per document — the positional
    refinement of :func:`ngram_contamination`: GPT-3-style
    decontamination removes the overlapping REGION, not the whole
    document, so the pipeline needs where the collision is and how
    long it runs, not just a count.

    For each corpus doc, benchmark-shared ``n``-grams are mapped to
    their token positions, maximal runs of CONSECUTIVE positions are
    grouped with the classic gaps-and-islands transform
    (``pos − row_number()`` is constant within a run), and the
    longest run wins (ties → earliest). Output per contaminated doc:
    ``span_start`` (1-based token position), ``span_grams`` (run
    length in grams), ``span_tokens`` (= span_grams + n − 1, the
    token width to cut).

    Plan: same broadcast shape as ngram_contamination — benchmark
    grams distinct + broadcast, corpus side one linear positioned
    explode, map-side join; then two windows over HIT rows only
    (collisions are rare by construction, so the windowed frame is
    tiny relative to the corpus). Corpus text never shuffles.
    """
    bench_grams = (
        word_ngram_rows(
            benchmark.select(
                F.monotonically_increasing_id().alias("_bench_id"),
                F.col(text_col),
            ),
            n,
            "_bench_id",
            text_col,
        )
        .select("g")
        .where(F.col("g") != "")
        .distinct()
    )
    hits = (
        word_ngram_rows(corpus, n, id_col, text_col, pos_col="pos")
        .where(F.col("g") != "")
        .join(F.broadcast(bench_grams), "g")
        .select(id_col, "pos")
    )
    from pyspark.sql import Window

    w_run = Window.partitionBy(id_col).orderBy(F.col("pos").asc())
    runs = hits.withColumn(
        "_grp", F.col("pos") - F.row_number().over(w_run)
    )
    spans = runs.groupBy(id_col, "_grp").agg(
        F.min("pos").alias("span_start"),
        F.count(F.lit(1)).cast("bigint").alias("span_grams"),
    )
    w_best = Window.partitionBy(id_col).orderBy(
        F.col("span_grams").desc(), F.col("span_start").asc()
    )
    return (
        spans.withColumn("_rn", F.row_number().over(w_best))
        .where(F.col("_rn") == 1)
        .select(
            id_col,
            "span_start",
            "span_grams",
            (F.col("span_grams") + F.lit(n - 1)).cast("bigint").alias(
                "span_tokens"
            ),
        )
    )

def blocklist_stats(
    df: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style blocklist filter signals ("List of Dirty, Naughty…"
    filtering, Raffel et al. 2020 §2.2 — albeit with a caller-supplied
    term list): per doc, whole-word hit counts for every blocklist
    term plus the keep verdict (zero hits). The term list folds into
    one scan-side projection of ``regexp_count`` expressions — same
    pure-JVM shape as lang_scores; no shuffle, no UDF, and the oracle
    reproduces each count with ``regexp_extract_all``.

    Emits per-term counts (auditable: WHICH term fired) rather than a
    bare boolean — the form a filtering report needs.
    """
    if not terms:
        raise ValueError("blocklist must contain at least one term")
    c = F.lower(F.col(text_col))
    cols = [
        _count_word(c, t).cast("bigint").alias(f"n_{t}") for t in terms
    ]
    out = df.select(F.col(id_col), *cols)
    total = sum(
        (F.col(f"n_{t}") for t in terms), F.lit(0).cast("bigint")
    )
    return out.select(
        id_col,
        *[f"n_{t}" for t in terms],
        total.alias("n_blocked"),
        (total == 0).alias("keep"),
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end decontamination REWRITE (GPT-3 appendix C): remove
    from every corpus document all tokens covered by ANY
    benchmark-shared ``n``-gram — :func:`contamination_spans` finds
    the regions, this cuts them. One row per input doc:
    ``(id, clean_text, n_tokens_kept, n_tokens)`` — same output
    contract as ``dedup.remove_duplicated_spans`` (the corpus-recurring
    twin), so downstream stages are interchangeable.

    Plan: benchmark grams distinct + broadcast (map-side hit
    detection — the corpus text never shuffles for matching); hit
    positions widen to covered token positions via one explode +
    distinct; a left-anti join drops covered tokens; one groupBy
    rebuilds text in position order.
    """
    bench_grams = (
        word_ngram_rows(
            benchmark.select(
                F.monotonically_increasing_id().alias("_bench_id"),
                F.col(text_col),
            ),
            n,
            "_bench_id",
            text_col,
        )
        .select("g")
        .where(F.col("g") != "")
        .distinct()
    )
    covered = (
        word_ngram_rows(corpus, n, id_col, text_col, pos_col="_i")
        .where(F.col("g") != "")
        .join(F.broadcast(bench_grams), "g")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_i"), F.col("_i") + (n - 1))
            ).alias("_p"),
        )
        .distinct()
    )
    toks = tokens(F.col(text_col))
    tokrows = corpus.select(
        F.col(id_col), F.posexplode(toks).alias("_p0", "tok")
    ).select(id_col, (F.col("_p0") + 1).alias("_p"), "tok")
    cleaned = (
        tokrows.join(covered, [id_col, "_p"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens_kept"),
        )
    )
    return (
        corpus.select(F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens"))
        .join(cleaned, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("bigint").alias(
                "n_tokens_kept"
            ),
            "n_tokens",
        )
    )

def vocab_coverage(
    df: DataFrame,
    ranks: Sequence[int],
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary-coverage report: for each requested rank
    ``r`` — how many running tokens the top-``r`` most frequent types
    cover, as a fraction of the corpus. The tokenizer-design /
    corpus-health report (coverage curves drive vocab-size choices;
    a sudden coverage shift between crawls flags boilerplate or
    encoding damage). One row per rank:
    ``(top_r, covered_tokens, total_tokens, total_types, coverage)``.

    Scale shape: type counts are one partial-agg groupBy over the
    token explode; the global frequency rank uses the DISTRIBUTED
    two-phase rank (``ranking.global_rank`` — range exchange +
    per-partition window + partition-count offsets), never a
    single-partition window, because a web-scale vocabulary is
    billions of types (hapax-heavy). Only the top ``max(ranks)``
    rows — a fixed budget — survive to the tiny rank×type join, and
    ``coverage`` is ONE IEEE division of exact integers
    (cross-engine bit-identical; the ngram_rarity contract).

    Ties rank deterministically by (count desc, token asc).
    """
    from data_lake_with_spark_spark.operators.ranking import global_rank

    ranks = sorted(set(int(r) for r in ranks))
    if not ranks or ranks[0] < 1:
        raise ValueError(f"ranks must be positive ints, got {ranks}")
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok")).where(
        F.col("tok") != ""
    )
    types = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    totals = types.agg(
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("total_types"),
    )
    top = global_rank(
        types, [F.col("n_tok").desc(), F.col("tok").asc()], rank_col="_rank"
    ).where(F.col("_rank") <= ranks[-1])
    ranks_df = local_frame(df.sparkSession, [(r,) for r in ranks], "top_r bigint")
    covered = (
        top.join(F.broadcast(ranks_df), F.col("_rank") <= F.col("top_r"))
        .groupBy("top_r")
        .agg(F.sum("n_tok").cast("bigint").alias("covered_tokens"))
    )
    return covered.crossJoin(F.broadcast(totals)).select(
        "top_r",
        "covered_tokens",
        "total_tokens",
        "total_types",
        (F.col("covered_tokens") / F.col("total_tokens").cast("double")).alias(
            "coverage"
        ),
    )

def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Sparse lexical retrieval: BM25 top-``k`` corpus documents per
    query — the data-selection / decontamination-retrieval baseline
    (importance sampling à la DSIR starts from exactly this posting
    join; contamination triage retrieves nearest benchmark items
    lexically before any embedding pass). Output one row per
    (query, hit): ``(query_id, doc_id, score, rank)``.

    Exactness contract (the ngram_rarity discipline, extended to a
    float SUM): (a) idf uses the RATIONAL form
    ``(N - df + 0.5)/(df + 0.5)`` — Robertson idf without the log,
    avoiding JVM-vs-libm ``ln`` ulp skew; per-term monotone in df, so
    single-term rankings are unchanged and multi-term scores remain a
    positively-weighted sum of the same per-term saturation curve;
    (b) every arithmetic step is written with IDENTICAL association
    in the Spark expression and the SQL oracle, so each per-term
    contribution is bit-identical; (c) contributions sum in SORTED
    TERM ORDER via an explicit array fold (``array_sort`` +
    ``aggregate`` here, ``list(... ORDER BY tok)`` + ``list_reduce``
    in DuckDB) — float addition is order-dependent, so a plain SUM
    would hash-diverge between engines; the fold pins the order.

    Scale shape: the query side is a benchmark set — broadcast-sized
    BY DEFINITION (a query set that doesn't fit a broadcast is a
    corpus, and the join flips). Postings build is one partial-agg
    groupBy over the token explode; doc lengths derive from the
    postings (no second text pass); df is computed only for
    query-matched terms (bounded by query vocabulary, broadcast);
    the only corpus-sized shuffles are the postings groupBy, the
    doc-length join, and the per-(query, doc) score fold. Top-k is a
    per-query window over candidates that matched ≥1 term.

    Cost is POSTING-JOIN bound: Σ_q Σ_{t∈q} df(t) candidate rows.
    On a Zipfian vocabulary the head terms dominate that sum while
    contributing near-zero idf — ``max_df_ratio`` < 1 drops terms
    present in more than that fraction of the corpus BEFORE the
    posting join (common-term pruning, the static half of
    WAND-style posting pruning; with rational idf, a term in over
    half the corpus has idf < 1 and mostly re-ranks ties). This is
    the knob that keeps the candidate count near-linear at 100 TB;
    1.0 (default) disables it for exact-BM25 parity.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # localCheckpoint: the postings table feeds FOUR consumers (doc
    # lengths, corpus stats, the match join, df) and each action would
    # otherwise re-run the explode+groupBy lineage per consumer (the
    # ngram_rarity recompute class). Materializing postings once is
    # what every retrieval engine does — at scale this is the index
    # build staged to disk (:func:`build_bm25_index` IS that staging;
    # :func:`bm25_topk_indexed` serves against it with identical
    # scores — the persisted-index twin, the IVF q102/q114 pattern).
    ctf = _bm25_tf(corpus, id_col, text_col)
    dl = _bm25_doclens(ctf, id_col)
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    ).first()
    # qtok (the vocab derive + the scoring join) and the candidate
    # set mt (df + the score expansion) each feed two consumers, and
    # neither is bounded here — pin them once or every consumer
    # re-runs the query explode / the posting match. mt is exactly the
    # Σ_q Σ_{t∈q} df(t) rows the operator's cost is bound by.
    qtok = (
        queries.select(
            F.col(query_id_col),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
        .localCheckpoint()
    )
    mt = ctf.join(
        F.broadcast(qtok.select("tok").distinct()), "tok"
    ).localCheckpoint()
    return _bm25_rank(
        mt, dl, stats["n_corpus"], stats["avgdl"], qtok, k, k1, b,
        max_df_ratio, id_col, query_id_col,
    )


def _bm25_rank(
    postings: DataFrame,
    dl: DataFrame,
    n_corpus: int,
    avgdl: float,
    qtok: DataFrame,
    k: int,
    k1: float,
    b: float,
    max_df_ratio: float,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared scoring tail of :func:`bm25_topk` and
    :func:`bm25_topk_indexed` — ONE implementation of df/idf,
    saturation, sorted-term fold, and per-query top-k, so the served
    (indexed) scores are bit-identical to the inline ones by
    construction, not by parallel maintenance. ``postings`` is already
    restricted to the query vocabulary, ``qtok`` holds the distinct
    ``(query_id, tok)`` pairs and the corpus stats arrive as driver
    values (plan literals)."""
    from pyspark.sql import Window

    # df as a partial-aggregate groupBy over the vocab-pruned postings,
    # broadcast back (query-vocab-bounded); a window keyed by tok
    # would put a head term's whole posting list in one task
    dfsub = postings.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n_corpus = F.lit(n_corpus).cast("bigint")
    if max_df_ratio < 1.0:
        # prune common terms before the (query × posting) expansion:
        # the df table is query-vocab-bounded, so the filter is a
        # broadcast-side predicate, and the candidates shrink by the
        # pruned terms' (dominant) posting lists. Exact-integer
        # comparison: df * 1 vs ratio * N, one multiply each side.
        dfsub = dfsub.where(F.col("df") <= F.lit(max_df_ratio) * n_corpus)
    idf = (n_corpus - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    norm = F.lit(k1) * (
        (F.lit(1.0) - F.lit(b))
        + F.lit(b) * (F.col("dl") / F.lit(avgdl))
    )
    contrib = (
        (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / (F.col("tf") + norm)
    ) * idf
    scored = (
        postings.join(F.broadcast(dfsub), "tok")
        .join(F.broadcast(qtok), "tok")
        .join(dl, id_col)
        .select(query_id_col, id_col, F.col("tok"), contrib.alias("_c"))
        .groupBy(query_id_col, id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "_c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_c"],
            ).alias("score")
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


#: Build-time sizing floor for the postings hash buckets — the
#: :data:`similarity.PQ_MIN_ROWS_PER_BUCKET` leaf-grain contract
#: applied to the lexical layout (r13 verdict #6): below ~this many
#: posting rows per bucket, per-file open cost dominates every
#: vocabulary-pruned probe and the bucket directories become the
#: object store's problem.
BM25_MIN_ROWS_PER_BUCKET = 64

#: Serve-path bound on the driver collect of a query batch's
#: ``(query_id, tok)`` rows in :func:`bm25_topk_indexed` — far above
#: any serving batch (a 64-query batch is a few hundred rows); a
#: batch beyond it is a corpus-sized join for :func:`bm25_topk`.
BM25_MAX_QUERY_TERMS = 65_536


def _bm25_tf(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The ``(id, tok, tf)`` term frequencies of ``docs``, pinned: each
    caller reads them more than once."""
    return (
        docs.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint()
    )


def _bm25_doclens(ctf: DataFrame, id_col: str) -> DataFrame:
    """``(id, dl)``: each document's length in tokens."""
    return ctf.groupBy(id_col).agg(F.sum("tf").cast("bigint").alias("dl"))


def _bm25_corpus_stats(dl: DataFrame, n_buckets: int) -> DataFrame:
    """The one-row ``(n_corpus, avgdl, n_buckets)`` stats of the
    doclens ``dl``."""
    return dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    ).withColumn("n_buckets", F.lit(int(n_buckets)).cast("int"))


#: The one-row corpus stats component every BM25 layout carries.
_BM25_STATS_SCHEMA = "n_corpus bigint, avgdl double, n_buckets int"


def _bm25_stats(spark, path: str):
    """The index's corpus stats row, read with its fixed schema (no
    footer-inference job)."""
    return spark.read.schema(_BM25_STATS_SCHEMA).parquet(f"{path}/stats").first()


def build_bm25_index(
    corpus: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    strict_layout: bool = False,
) -> None:
    """Materialize the BM25 retrieval index ONCE — the serving-shape
    fix for rebuilding postings per query (the exact gap the
    persisted IVF index closed for dense ANN, similarity.py's
    ``build_ivf_index``): postings ``(doc_id, tok, tf)`` to
    ``path/postings`` PARTITIONED BY a ``tok_bucket`` hash directory
    (the text analogue of IVF's ``cent_id`` dirs — a directory per
    TOKEN would be millions of dirs, so the bucket is the pruning
    granularity) and SORTED by ``tok`` within files (parquet min/max
    row-group stats then skip inside the probed buckets); doc lengths
    to ``path/doclens``; the one-row corpus stats (n_corpus, avgdl,
    n_buckets) to ``path/stats``.

    A probe (:func:`bm25_topk_indexed`) reads only the buckets its
    query vocabulary hashes to — at 100 TB the index build is the
    once-per-corpus cost every retrieval engine stages to disk, and
    each query batch touches |query vocab| buckets of it instead of
    re-exploding the corpus.

    Sizing contract (ENFORCED, the PQ/IVFPQ/related-items leaf-grain
    rule — r13 verdict #6): the build requires an average of at least
    :data:`BM25_MIN_ROWS_PER_BUCKET` posting rows per bucket —
    ``n_buckets * BM25_MIN_ROWS_PER_BUCKET <= n_postings`` — else it
    warns (``strict_layout=True`` raises): below that grain the
    per-file open cost makes every vocabulary-pruned probe slower
    than a flat scan.
    """
    from data_lake_with_spark_spark.operators.similarity import _check_grain
    from data_lake_with_spark_spark.sources import cow

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    ctf = _bm25_tf(corpus, id_col, text_col)
    n_post = ctf.count()
    _check_grain(
        "build_bm25_index", strict_layout, BM25_MIN_ROWS_PER_BUCKET,
        ("n_postings", n_post), {"n_buckets": n_buckets},
        "makes every vocabulary-pruned probe slower than a flat scan",
    )
    dl = _bm25_doclens(ctf, id_col)
    bucket = F.pmod(F.xxhash64("tok"), F.lit(n_buckets)).cast("int")
    # one task per bucket → ≤ n_buckets files, each sorted by tok
    cow.write_partitioned(
        ctf.withColumn("tok_bucket", bucket),
        f"{path}/postings",
        "tok_bucket",
        n_tasks=n_buckets,
        sort_col="tok",
    )
    cow.write_whole(dl, f"{path}/doclens")
    cow.write_whole(_bm25_corpus_stats(dl, n_buckets), f"{path}/stats")


def compact_bm25_index(spark, index_path: str, out_path: str) -> dict:
    """Collapse a BM25 index (plain, or a MANIFEST epoch chain) into
    one self-contained plain layout at ``out_path`` (the
    vacuum/OPTIMIZE step, ``cow.compact``): postings re-sort within
    buckets so the tok-sorted row-group-skipping contract holds in the
    compacted files; doclens and stats rewrite verbatim.
    Returns the ``postings`` compaction stats."""
    from data_lake_with_spark_spark.sources import cow

    return cow.compact(
        spark,
        index_path,
        out_path,
        {"postings": "tok_bucket", "doclens": None, "stats": None},
        sort_cols={"postings": "tok"},
    )["postings"]


def bm25_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
) -> DataFrame:
    """BM25 serving against a :func:`build_bm25_index` layout:
    identical scores to :func:`bm25_topk` over the same corpus (the
    scoring tail is literally shared — :func:`_bm25_rank`), but the
    corpus never re-tokenizes. The batch's ``(query_id, tok)`` rows
    are collected once with each token's hash — at most
    :data:`BM25_MAX_QUERY_TERMS` of them, else ``ValueError`` (score
    larger batches with :func:`bm25_topk`) — and the vocabulary is
    pushed into the postings scan as a PARTITION filter on
    ``tok_bucket`` (``.explain`` shows it under PartitionFilters) plus
    a ``tok IN (...)`` row-group filter (the files are tok-sorted), so
    a probe reads |query vocab| buckets of the index, not the corpus.
    Postings resolve through ``cow.read_component``, so
    manifest-maintained layouts serve through the same path."""
    from data_lake_with_spark_spark.sources import cow

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    stats = _bm25_stats(spark, path)
    rows = collect_bounded(
        queries.select(
            F.col(query_id_col),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .where(F.col("tok") != "")
        .select(query_id_col, "tok", F.xxhash64("tok")),
        BM25_MAX_QUERY_TERMS,
        "bm25_topk_indexed: query batch has (query, term) rows beyond "
        "BM25_MAX_QUERY_TERMS; score it with bm25_topk",
    )
    # the driver-side frames plan as local relations: the scoring
    # join broadcasts them without re-reading the caller's frame, and
    # Python % by a positive modulus is Spark's pmod
    hashes = {tok: h for _, tok, h in rows}
    vocab = sorted(hashes)
    buckets = sorted({h % stats["n_buckets"] for h in hashes.values()})
    qtok = local_frame(
        spark,
        list(dict.fromkeys((q, tok) for q, tok, _ in rows)),
        StructType(
            [queries.schema[query_id_col], StructField("tok", StringType())]
        ),
    )
    postings = cow.read_component(spark, path, "postings")
    dl = cow.read_component(spark, path, "doclens")
    return _bm25_rank(
        postings.where(cow.in_partitions("tok_bucket", buckets))
        .where(cow.in_partitions("tok", vocab))
        .select(id_col, "tok", "tf"),
        dl,
        stats["n_corpus"],
        stats["avgdl"],
        qtok,
        k,
        k1,
        b,
        max_df_ratio,
        id_col,
        query_id_col,
    )


def bm25_staleness_report(spark, path: str) -> DataFrame:
    """Index-health report for a :func:`build_bm25_index` layout — the
    WHEN-to-maintain signal for the lexical serving family (r13
    verdict #3: q209/q211/q212 gave the three quantized ANN families
    a cheap per-epoch staleness report; BM25 had none). One row, read
    off the index's OWN components (no corpus re-tokenize):

    - **corpus drift** (doclens + stats): ``n_docs`` / ``dl_sum`` /
      ``avgdl_live`` (the double division of the exact parts, the
      build's own expression) vs the STAMPED ``n_corpus_stamped`` /
      ``avgdl_stamped`` the scorer actually uses. On a fresh build
      they are equal by construction; staleness is a DELTA metric —
      pin the build-time row (``similarity.write_staleness_baseline``
      works on any one-row report) and alert on
      ``similarity.staleness_drift`` ratios: an upsert-heavy index
      drifts avgdl away from the pinned baseline, shifting every
      score's length-normalization term.
    - **posting-mass shape** (postings, column-pruned to ``tok``):
      ``n_postings`` / ``n_types`` / ``max_df`` and the HEAD mass —
      ``head_types`` / ``head_postings`` over terms with
      ``2·df > n_docs`` (idf < 1 under the rational Robertson form).
      Head mass is the candidate-cost lever: the posting join's cost
      is Σ df over matched terms, so rising head mass means rising
      per-query candidates — the signal to engage/lower
      ``max_df_ratio`` or re-shard.
    - **bucket-layout health** (postings, partition column ONLY):
      ``dead_buckets`` / ``bucket_min`` / ``bucket_max`` row counts
      over the stamped ``n_buckets_stamped`` hash buckets — occupancy
      skew degrades the probe's pruning guarantee (one hot bucket
      absorbs the scan). Ground truth for these three is the hash
      layout itself (gated in tests against a from-scratch rebuild —
      DuckDB has no xxhash64, so the driver oracle covers every
      column EXCEPT these; see q214).

    All legs are partial-aggregable single passes; nothing corpus-
    sized is collected. Accepts a direct index/epoch path or a
    lifecycle ROOT (resolved via ``current.json``)."""
    from data_lake_with_spark_spark.operators.similarity import (
        _occupancy,
        _resolve_index_path,
    )
    from data_lake_with_spark_spark.sources import cow

    path = _resolve_index_path(spark, path)
    stats = _bm25_stats(spark, path)
    dl = cow.read_component(spark, path, "doclens")
    postings = cow.read_component(spark, path, "postings")
    n_buckets = stats["n_buckets"]

    doc_agg = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("dl_sum"),
        # the build's own avgdl expression: double division of exact
        # integer parts (bit-identical to the stamped value on a
        # fresh build, and to the oracle's SUM/COUNT)
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl_live"),
    )
    stamped = local_frame(
        spark,
        [(stats["n_corpus"], stats["avgdl"], n_buckets)],
        "n_corpus_stamped bigint, avgdl_stamped double, n_buckets_stamped int",
    )
    dfs = postings.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    tok_agg = (
        dfs.crossJoin(F.broadcast(doc_agg.select("n_docs")))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("df").cast("bigint").alias("n_postings"),
            F.max("df").cast("bigint").alias("max_df"),
            F.sum(
                F.when(F.lit(2) * F.col("df") > F.col("n_docs"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("head_types"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("df") > F.col("n_docs"), F.col("df")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("head_postings"),
        )
    )
    bucket_agg = _occupancy(
        n_buckets, postings, ["tok_bucket"],
        ("_n", "dead_buckets", "bucket_min", "bucket_max", "_rows"),
    )
    return (
        doc_agg.crossJoin(stamped)
        .crossJoin(tok_agg)
        .crossJoin(bucket_agg)
        .select(
            "n_docs",
            "dl_sum",
            "avgdl_live",
            "n_corpus_stamped",
            "avgdl_stamped",
            "n_buckets_stamped",
            "n_postings",
            "n_types",
            "max_df",
            "head_types",
            "head_postings",
            "dead_buckets",
            "bucket_min",
            "bucket_max",
        )
    )


def slice_drift(
    df: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
    top_k: int = 10000,
) -> DataFrame:
    """Corpus-mixing drift report: per stratum (source/crawl/dump),
    the total-variation distance between the stratum's token
    distribution and the whole corpus's, over a CAPPED vocabulary —
    the top-``top_k`` corpus types plus one OTHER bucket. The
    mixing-QA number a multi-source training recipe monitors: a
    stratum whose TVD jumps between snapshots changed character
    (template flood, encoding damage, topic shift) even if its volume
    didn't. One row per stratum: ``(stratum, n_tokens, tvd)``.

    Why the cap: TVD over the raw vocabulary needs a per-stratum sum
    over billions of hapax-heavy types at corpus scale; binning the
    tail into OTHER bounds the distribution support at ``top_k + 1``
    buckets (standard practice for distribution distances over open
    vocabularies) — which also makes the per-stratum fold array
    BOUNDED by construction. The cap uses the distributed two-phase
    rank with a deterministic (count desc, token asc) tie-break.

    Exactness contract: counts are exact integers; each probability
    is ONE division; |p − q| is one subtract + abs; the per-stratum
    sum folds in SORTED BUCKET ORDER (float addition is
    order-dependent — the bm25_topk discipline); the final 0.5× is
    exact binary scaling. Every step mirrors the SQL oracle
    bit-for-bit.
    """
    from data_lake_with_spark_spark.operators.ranking import global_rank

    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    other = "\x01OTHER"  # sorts before every real token, both engines
    cs = (
        df.select(
            F.col(stratum_col), F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy(stratum_col, "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .localCheckpoint()  # feeds corpus counts AND the bucketed recount
    )
    ct = cs.groupBy("tok").agg(F.sum("_c").cast("bigint").alias("_ct"))
    kept = (
        global_rank(ct, [F.col("_ct").desc(), F.col("tok").asc()], "_rank")
        .where(F.col("_rank") <= top_k)
        .select("tok", F.lit(1).alias("_keep"))
    )
    bucketed = cs.join(F.broadcast(kept), "tok", "left").select(
        stratum_col,
        F.when(F.col("_keep") == 1, F.col("tok")).otherwise(F.lit(other)).alias(
            "bucket"
        ),
        "_c",
    )
    bs = bucketed.groupBy(stratum_col, "bucket").agg(
        F.sum("_c").cast("bigint").alias("c_s")
    )
    bt = bs.groupBy("bucket").agg(F.sum("c_s").cast("bigint").alias("c_tot"))
    ns = bs.groupBy(stratum_col).agg(F.sum("c_s").cast("bigint").alias("n_s"))
    n = bt.agg(F.sum("c_tot").cast("bigint").alias("n_tot"))
    grid = ns.crossJoin(F.broadcast(bt))  # every stratum × every bucket
    term = F.abs(
        F.coalesce(F.col("c_s"), F.lit(0)) / F.col("n_s")
        - F.col("c_tot") / F.col("n_tot")
    )
    return (
        grid.join(bs, [stratum_col, "bucket"], "left")
        .crossJoin(F.broadcast(n))
        .select(F.col(stratum_col), F.col("n_s"), F.col("bucket"), term.alias("_t"))
        .groupBy(stratum_col)
        .agg(
            F.max("n_s").alias("n_tokens"),
            (
                F.lit(0.5)
                * F.aggregate(
                    F.array_sort(F.collect_list(F.struct("bucket", "_t"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["_t"],
                )
            ).alias("tvd"),
        )
    )


def filter_funnel(
    df: DataFrame,
    filters: "list[tuple[str, Column]]",
) -> DataFrame:
    """Curation filter-funnel report: for an ORDERED list of quality
    filters, how many documents survive each cumulative stage — the
    survival table every dataset paper publishes (Gopher/C4/RefinedWeb
    style), and the artifact that says which filter is actually doing
    the cutting.

    ONE partial-aggregable pass: stage k's survivor count is
    ``count(f1 ∧ … ∧ fk)`` — all stages are counters in a single
    aggregate, the shuffle carries one row, and the per-stage explode
    happens after aggregation (the check_expectations shape, but
    CUMULATIVE — expectations are marginal, a funnel is ordered).
    NULL predicate results count as failures (an unverifiable doc is
    not a surviving one).

    Returns (stage, filter_name, n_in, n_pass, n_dropped, pass_rate)
    with ``n_in`` the previous stage's survivors; rates are one
    int/int division each.
    """
    if not filters:
        raise ValueError("filter_funnel needs at least one filter")
    aggs = [F.count(F.lit(1)).alias("_n0")]
    cum = None
    for i, (_, cond) in enumerate(filters):
        safe = F.coalesce(cond, F.lit(False))
        cum = safe if cum is None else (cum & safe)
        aggs.append(F.count(F.when(cum, 1)).alias(f"_n{i + 1}"))
    one = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(i + 1).alias("stage"),
            F.lit(name).alias("filter_name"),
            F.col(f"_n{i}").alias("n_in"),
            F.col(f"_n{i + 1}").alias("n_pass"),
            (F.col(f"_n{i}") - F.col(f"_n{i + 1}")).alias("n_dropped"),
            F.when(
                F.col(f"_n{i}") > 0,
                F.col(f"_n{i + 1}") / F.col(f"_n{i}"),
            ).otherwise(F.lit(0.0)).alias("pass_rate"),
        )
        for i, (name, _) in enumerate(filters)
    ]
    return one.select(F.explode(F.array(*rows)).alias("_s")).select("_s.*")


def assemble_contexts(
    ranked: DataFrame,
    docs: DataFrame,
    sep: str = "\n\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG context assembly — the serving step after retrieval: for
    each query, fetch the ranked documents' texts and concatenate
    them in rank order into one prompt-ready context string.

    ``ranked`` is a top-k list (query_id, doc_id, rank) — k·|queries|
    rows — so every stage here is retrieval-output-sized: one join to
    fetch texts (the corpus side prunes to the matched ids via the
    join), one groupBy whose per-query list is bounded by k. Ordering
    is deterministic: texts ride in (rank, text) structs,
    ``array_sort`` orders by rank, and the join never has to preserve
    order (shuffle-order-independent by construction — the reason the
    sort happens AFTER collect_list, not before).

    Returns (query_id, context, n_docs, n_chars).
    """
    fetched = ranked.select(
        "query_id", F.col(id_col), F.col("rank").cast("bigint").alias("rank")
    ).join(docs.select(F.col(id_col), F.col(text_col).alias("_txt")), id_col)
    assembled = fetched.groupBy("query_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rank"), F.col("_txt")))
                ),
                lambda s: s["_txt"],
            ),
            sep,
        ).alias("context"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return assembled.withColumn(
        "n_chars", F.length("context").cast("bigint")
    )


def vocab_budget_rewrite(
    docs: DataFrame,
    vocab_size: int,
    unk: str = "<unk>",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-budget rewrite (tokenizer-prep UNK-ification):
    every token outside the corpus's top-``vocab_size`` types (by
    frequency, ties broken by token asc) is replaced with ``unk``,
    and each document reports its out-of-vocabulary volume — the
    rewrite a fixed-vocab tokenizer pipeline applies, and the OOV
    report that decides whether the budget is big enough.

    Scale shape: type counts are ONE partial-agg groupBy over the
    token explode; the top-V cut uses the DISTRIBUTED two-phase rank
    (ranking.global_rank — never a single-partition window over a
    billions-of-types web vocabulary); the kept set is
    budget-bounded, hence broadcast; the rewrite is a scan-side
    broadcast join per token row; the document rebuilds in one
    position-ordered groupBy (the remove_duplicated_spans rebuild
    shape — sorts within each doc's group, never globally).

    Returns (id, rewritten, n_tokens, n_oov, oov_rate).
    """
    from data_lake_with_spark_spark.operators.ranking import global_rank

    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    tokrows = base.select(
        id_col, F.posexplode("_t").alias("_p0", "tok")
    ).select(id_col, (F.col("_p0") + 1).alias("_p"), "tok")
    types = tokrows.groupBy("tok").agg(F.count(F.lit(1)).alias("_n"))
    kept = (
        global_rank(
            types, [F.col("_n").desc(), F.col("tok").asc()], rank_col="_r"
        )
        .where(F.col("_r") <= vocab_size)
        .select("tok", F.lit(True).alias("_keep"))
    )
    marked = tokrows.join(F.broadcast(kept), "tok", "left").select(
        id_col,
        "_p",
        F.when(F.col("_keep"), F.col("tok")).otherwise(F.lit(unk)).alias(
            "_out"
        ),
        F.when(F.col("_keep").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "_oov"
        ),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_out"))),
                    lambda s: s["_out"],
                ),
                " ",
            ).alias("rewritten"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("_oov").cast("bigint").alias("n_oov"),
            (F.sum("_oov") / F.count(F.lit(1)).cast("double")).alias(
                "oov_rate"
            ),
        )
    )


def boilerplate_prefixes(
    docs: DataFrame,
    prefix_len: int = 4,
    min_docs: int = 2,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Anchored boilerplate detection: per stratum (source/domain),
    the leading ``prefix_len``-token prefixes shared by at least
    ``min_docs`` documents, with their within-stratum share — the
    header/nav/disclaimer fingerprint a web-crawl curation pass cuts
    BEFORE general span dedup sees it (a prefix is positionally
    anchored, so this is a per-doc O(1) projection, not the rolling
    span explode).

    One scan-side prefix projection + one (stratum, prefix) groupBy +
    a stratum-total join. Docs shorter than the prefix are excluded
    (nothing anchored to detect).

    Returns (stratum, prefix, n_docs, n_stratum_docs, share).
    """
    if prefix_len < 1:
        raise ValueError(f"prefix_len must be >= 1, got {prefix_len}")
    base = docs.select(
        F.col(stratum_col).alias("stratum"), tokens(F.col(text_col)).alias("_t")
    ).where(F.size("_t") >= prefix_len)
    pref = base.select(
        "stratum",
        F.array_join(F.slice("_t", 1, prefix_len), " ").alias("prefix"),
    )
    counts = pref.groupBy("stratum", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    totals = pref.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stratum_docs")
    )
    return (
        counts.where(F.col("n_docs") >= min_docs)
        .join(totals, "stratum")
        .select(
            "stratum",
            "prefix",
            "n_docs",
            "n_stratum_docs",
            (F.col("n_docs") / F.col("n_stratum_docs").cast("double")).alias(
                "share"
            ),
        )
    )


def _bm25_commit(
    spark, base_path, out_path, post, changed, n_buckets, ids, id_col,
    new_dl=None,
):
    """Commit a BM25 maintenance epoch: the changed postings buckets
    (sorted by ``tok`` per task, as the build does) through
    ``sources.cow``, then the doclens (base minus
    ``ids``, plus ``new_dl``) and the corpus stats (n_corpus, avgdl)
    recomputed from them — both doc-count-sized, rewritten whole."""
    from data_lake_with_spark_spark.sources import cow

    stats = cow.commit(
        spark, post, base_path, out_path, "postings", "tok_bucket", changed,
        sort_col="tok",
    )
    dl = cow.read_component(spark, base_path, "doclens").join(
        ids, id_col, "left_anti"
    )
    if new_dl is not None:
        dl = dl.unionByName(new_dl)
    cow.write_whole(dl, f"{out_path}/doclens")
    cow.write_whole(_bm25_corpus_stats(dl, n_buckets), f"{out_path}/stats")
    return stats


def merge_bm25_index(
    spark,
    base_path: str,
    new_docs: DataFrame,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    layout: str = "manifest",
) -> dict:
    """Incremental BM25 index maintenance — the operation that makes
    a persisted index viable at 100 TB, where "re-run
    :func:`build_bm25_index` over the whole corpus" is not a plan:
    merge a new document batch into an existing index with UPSERT
    semantics (ids present in the batch replace their old postings —
    re-ingests don't double-count; fresh ids append).

    Mechanics: the batch tokenizes exactly as the build does; base
    postings/doclens drop replaced ids via a keyed anti join, union
    the batch frames, and rewrite with the SAME bucket function
    (n_buckets read from the base stats, never re-chosen — a changed
    bucket count would silently split tokens across layouts); corpus
    stats (n_corpus, avgdl) recompute from the merged doclens. Serving
    equality is the contract: :func:`bm25_topk_indexed` over the
    merged index returns BIT-identical results to an index built from
    scratch over the merged corpus (gated in tests and by q171
    sharing the from-raw oracle).

    Only the CHANGED ``tok_bucket=`` partitions (buckets the batch's
    tokens hash to ∪ buckets holding a replaced id's postings) are
    rewritten, through ``sources.cow``, as a manifest epoch at a fresh
    ``out_path`` (``layout`` accepts only ``"manifest"``) that reads
    its unchanged buckets from ``base_path``: keep the base until
    :func:`compact_bm25_index` or a lifecycle root's
    ``cow.vacuum_index`` retires it. Honest caveat: natural-language
    batches have broad vocabulary coverage, so a doc batch touches
    ~min(|batch vocab|, n_buckets) buckets; the win is large exactly
    when it matters (small/targeted batches, or production bucket
    counts in the thousands) and degenerates to the full rewrite when
    every bucket changes. The postings, doclens and stats writes are
    not mutually atomic, which is why the base is never overwritten:
    it stays serveable until the new directory is published. Returns
    the promotion stats dict.
    """
    from data_lake_with_spark_spark.sources import cow

    cow.check_target("merge_bm25_index", base_path, out_path, layout)
    n_buckets = _bm25_stats(spark, base_path)["n_buckets"]
    new_ids = new_docs.select(F.col(id_col)).distinct()
    bucket = F.pmod(F.xxhash64("tok"), F.lit(n_buckets)).cast("int")
    new_ctf = _bm25_tf(new_docs, id_col, text_col)
    # changed buckets: batch-token buckets ∪ replaced-id buckets
    changed_new = cow.partition_values(new_ctf, bucket.alias("tok_bucket"))
    changed_old = cow.partitions_holding(
        spark, base_path, "postings", "tok_bucket", new_ids, id_col
    )
    changed = sorted(set(changed_new) | set(changed_old))
    base_post = (
        cow.read_component(spark, base_path, "postings")
        .where(cow.in_partitions("tok_bucket", changed))
        .select(id_col, "tok", "tf", "tok_bucket")
        .join(new_ids, id_col, "left_anti")
    )
    merged = base_post.unionByName(
        new_ctf.select(id_col, "tok", "tf").withColumn("tok_bucket", bucket)
    )
    new_dl = _bm25_doclens(new_ctf, id_col)
    return _bm25_commit(
        spark, base_path, out_path, merged, changed, n_buckets, new_ids,
        id_col, new_dl,
    )


def delete_from_bm25_index(
    spark,
    base_path: str,
    delete_ids: DataFrame,
    out_path: str,
    id_col: str = "doc_id",
    layout: str = "manifest",
) -> dict:
    """Erasure that reaches the serving index — the GDPR path that
    ``lakehouse.delete_keys`` starts must END here, or a deleted
    document keeps matching queries until the next full rebuild: drop
    the ids' postings and doclens rows from a
    :func:`build_bm25_index` layout and recompute the corpus stats
    (n_corpus, avgdl) from the surviving doclens. df/idf re-derive at
    serve time from the surviving postings, so served scores are
    BIT-identical to an index built from scratch over the corpus
    minus the ids (the same equality the merge gate pins; gated in
    tests and by the registered entry's rebuild-shaped oracle).

    Only the buckets holding a deleted id's postings are rewritten —
    a deleted doc's postings live wherever its tokens hashed, so the
    changed set is ~min(|deleted docs' vocab|, n_buckets) buckets and
    small GDPR batches touch few. The bucket layout (n_buckets)
    carries unchanged. The result is a manifest epoch at a fresh
    ``out_path`` (``layout`` accepts only ``"manifest"``) that reads
    its unchanged buckets from ``base_path``: keep the base until
    :func:`compact_bm25_index` or a lifecycle root's
    ``cow.vacuum_index`` retires it. Returns the promotion stats dict.

    GDPR retention caveat: erasure is POINTER-LEVEL until compaction —
    the deleted docs' postings physically remain in the base and in
    earlier epoch directories (an epoch still holds the stale
    pre-delete version of the buckets this delete re-owned). Readers
    resolving through the new manifest cannot reach them, but the
    bytes exist on disk until :func:`compact_bm25_index` rewrites the
    resolved view and ``cow.vacuum_index`` retires the unreferenced
    epochs. A regulatory PHYSICAL-deletion obligation therefore
    requires the full delete → compact → vacuum sequence (composed
    and gated in tests/test_gdpr_pipeline.py).
    """
    from data_lake_with_spark_spark.sources import cow

    cow.check_target("delete_from_bm25_index", base_path, out_path, layout)
    n_buckets = _bm25_stats(spark, base_path)["n_buckets"]
    ids = delete_ids.select(F.col(id_col)).distinct()
    changed = cow.partitions_holding(
        spark, base_path, "postings", "tok_bucket", ids, id_col
    )
    kept_post = (
        cow.read_component(spark, base_path, "postings")
        .where(cow.in_partitions("tok_bucket", changed))
        .join(ids, id_col, "left_anti")
    )
    return _bm25_commit(
        spark, base_path, out_path, kept_post, changed, n_buckets, ids,
        id_col,
    )


def collocations(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Collocation extraction (PMI-ranked word bigrams): the corpus
    analysis that surfaces multi-word units ("new york", "machine
    learning") for tokenizer vocab decisions, boilerplate discovery,
    and n-gram-LM feature design. Scores by LIFT — the PMI argument
    ``P(ab) / (P(a)·P(b))`` WITHOUT the log (libm log ulps diverge
    across engines; log is monotone, so the ranking is identical —
    the rational-idf rule): ``lift = (c_ab/B) / ((c_a/U)·(c_b/U))``
    evaluated in pinned operand order, where c are exact integer
    counts, U total unigrams, B total bigrams.

    Two count aggregates over the exploded token/bigram frames (both
    partial-aggregable), a broadcast of the two scalar totals, and
    two broadcast-able joins of the bigram frame against the unigram
    counts (the bigram VOCABULARY frame — min_count-pruned — carries
    the joins, never the corpus). ``min_count`` floors both the
    bigram and its parts, killing the hapax noise that dominates raw
    PMI. Top-k via TakeOrderedAndProject.

    Returns (bigram, c_ab, c_a, c_b, lift, rank).
    """
    from data_lake_with_spark_spark.operators.relational import top_k

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")
    )
    uni = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    u_total = uni.agg(F.sum("c").cast("bigint").alias("u"))
    bi = (
        docs.select(
            F.explode(word_ngrams(F.col(text_col), 2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    b_total = bi.agg(F.sum("c_ab").cast("bigint").alias("b"))
    parts = F.split(F.col("bigram"), " ", 2)
    scored = (
        bi.where(F.col("c_ab") >= min_count)
        .withColumn("_w1", parts.getItem(0))
        .withColumn("_w2", parts.getItem(1))
        .join(
            uni.select(F.col("tok").alias("_w1"), F.col("c").alias("c_a")),
            "_w1",
        )
        .join(
            uni.select(F.col("tok").alias("_w2"), F.col("c").alias("c_b")),
            "_w2",
        )
        .crossJoin(F.broadcast(u_total))
        .crossJoin(F.broadcast(b_total))
        .select(
            "bigram",
            "c_ab",
            "c_a",
            "c_b",
            # pinned order: ((c_ab / B) / (c_a / U)) / (c_b / U) —
            # four divisions, each correctly rounded over identical
            # operands in any IEEE engine
            (
                (F.col("c_ab") / F.col("b"))
                / (F.col("c_a") / F.col("u"))
                / (F.col("c_b") / F.col("u"))
            ).alias("lift"),
        )
    )
    ranked = top_k(
        scored, [F.col("lift").desc(), F.col("bigram").asc()], k
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("lift").desc(), F.col("bigram").asc())
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )

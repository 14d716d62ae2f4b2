from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from data_lake_with_spark_spark.operators import text


def test_lang_id_picks_marker_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is big"),
            (2, "el gato de la casa que los perros"),
            (3, "der hund und die katze das ist gut"),
            (4, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_scores(df).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "de"
    assert out[4] == "und"


def test_token_count_and_ratios(spark):
    df = spark.createDataFrame([(1, "Hello, World 42!")], ["doc_id", "text"])
    row = text.char_classes(df).first()
    assert row["n_tokens"] == 3
    assert row["n_chars_measured"] == 16
    assert row["punct_ratio"] == round(2 / 16, 6)
    assert row["digit_ratio"] == round(2 / 16, 6)
    assert row["upper_ratio"] == round(2 / 16, 6)


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [(1, "short"), (2, "x" * 600)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["quality"] for r in text.quality_score(df).collect()}
    assert 0.0 <= rows[1] <= 1.0
    assert rows[2] == 1.0  # long, no punctuation/digits


def test_word_ngrams_short_doc_guard(spark):
    # Spark's sequence(1, 0) counts DOWN; the operator must return []
    # for docs shorter than n, not garbage grams
    df = spark.createDataFrame(
        [(1, "solo"), (2, "a b"), (3, "a b c")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", text.word_ngrams(F.col("text"), 2).alias("g")
        ).collect()
    }
    assert out[1] == []
    assert out[2] == ["a b"]
    assert out[3] == ["a b", "b c"]


def test_repetition_stats_values(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam eggs"), (2, "all words differ here")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["distinct_ratio"] == 0.5
    assert rows[1]["top_unigram_frac"] == 0.75
    assert rows[1]["top_bigram_frac"] == 2 / 3  # "spam spam" twice (unrounded)
    assert rows[2]["top_unigram_frac"] == 0.25
    assert rows[2]["distinct_ratio"] == 1.0


def test_scrub_pii_masks_all_classes(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org see https://a.b/c?d=1 ref 123456 ok 123")],
        ["doc_id", "text"],
    )
    row = df.select(
        text.scrub_pii(F.col("text")).alias("clean"),
        *text.pii_hit_counts(F.col("text")),
    ).first()
    assert row["clean"] == "mail <EMAIL> see <URL> ref <NUM> ok 123"
    assert (row["n_emails"], row["n_urls"], row["n_nums"]) == (1, 1, 1)


def test_ngram_contamination_counts_shared(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(9, "b c d q r")], ["doc_id", "text"])
    out = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in text.ngram_contamination(corpus, bench, n=3).collect()
    }
    # doc 1 shares the 3-gram "b c d"; doc 2 shares nothing (no row)
    assert out == {1: 1}


def test_ngram_contamination_accepts_text_only_benchmark(spark):
    """Eval suites often carry bare text — the benchmark frame must
    not be required to have id_col."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([("b c d q r",)], ["text"])
    out = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in text.ngram_contamination(corpus, bench, n=3).collect()
    }
    assert out == {1: 1}


def test_fingerprint_invariant_to_case_punct_whitespace(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello,   World!"),
            (2, "hello world"),
            (3, "different"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["fp"] for r in text.fingerprint(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_chunk_documents_overlap_and_tail(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    rows = sorted(
        (r["chunk_id"], r["chunk_text"])
        for r in text.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    )
    # stride 3: starts 1, 4, 7
    assert rows == [(1, "a b c d"), (2, "d e f g"), (3, "g")]


def test_pack_sequences_exclusive_prefix_bins(spark):
    df = spark.createDataFrame(
        [(1, "en", "w " * 60), (2, "en", "w " * 60), (3, "en", "w " * 60),
         (4, "de", "w " * 10)],
        ["doc_id", "lang", "text"],
    )
    got = {r["doc_id"]: r["pack_id"]
           for r in text.pack_sequences(df, budget=100).collect()}
    # en prefix sums (exclusive): 0, 60, 120 -> packs 0, 0, 1; de resets
    assert got == {1: 0, 2: 0, 3: 1, 4: 0}


def test_tfidf_top_terms_ranks_rare_terms_highest(spark):
    df = spark.createDataFrame(
        [(1, "common rare rare"), (2, "common other"), (3, "common common")],
        ["doc_id", "text"],
    )
    rows = text.tfidf_top_terms(df, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in rows}
    # 'common' appears in every doc -> idf ln(4/4)=0; rare terms win
    assert top[1] == "rare"
    assert top[2] == "other"
    # doc 3 only has zero-scoring terms; deterministic tiebreak returns one
    assert top[3] == "common"
    assert all(r["rank"] == 1 for r in rows)


def test_stopword_stats_values(spark):
    from data_lake_with_spark_spark.operators.text import stopword_stats

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog"),   # 3 stopwords of 5 tokens
            (2, "spark catalyst tungsten"),  # none
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_stopwords"], r["stopword_ratio"])
           for r in stopword_stats(df).collect()}
    assert got[1] == (5, 3, 3 / 5)
    assert got[2] == (3, 0, 0.0)


def test_ngram_rarity_hand_computed(spark):
    """Tiny corpus with hand-computable trigram counts: 'aaaa' yields
    trigrams [aaa, aaa]; 'aaab' yields [aaa, aab]; 'xy' has none and
    drops. Corpus counts: aaa=3, aab=1, total=4."""
    from data_lake_with_spark_spark.operators.text import ngram_rarity

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaab"), (3, "xy")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["mean_freq"])
        for r in ngram_rarity(df, n=3).collect()
    }
    # doc 1: (3+3)/(2*4) = 0.75 ; doc 2: (3+1)/(2*4) = 0.5
    assert got == {1: (2, 0.75), 2: (2, 0.5)}


def test_ngram_rarity_orders_boilerplate_above_gibberish(spark, sf_dir):
    """The quality-filter property: a doc made of corpus-common text
    scores higher mean_freq than injected gibberish."""
    import pyspark.sql.functions as F

    from data_lake_with_spark_spark.operators.text import ngram_rarity
    from data_lake_with_spark_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    weird = spark.createDataFrame(
        [(999_999, "qzkwxv jqzzrr vvkkqq zzzqqq wwxxyy")], ["doc_id", "text"]
    )
    scored = ngram_rarity(
        d.select("doc_id", "text").unionByName(weird)
    ).collect()
    by_id = {r["doc_id"]: r["mean_freq"] for r in scored}
    gib = by_id.pop(999_999)
    assert all(v > gib for v in by_id.values())


def test_ngram_rarity_plan_stays_jvm_side(spark, sf_dir):
    from data_lake_with_spark_spark.operators.text import ngram_rarity
    from data_lake_with_spark_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    plan = ngram_rarity(d)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_margin_and_decision(spark):
    """Hand-computed margin on constructed docs; sigmoid-free output
    and decision semantics; empty docs default features to 0."""
    from data_lake_with_spark_spark.operators.text import quality_classifier

    rows = [
        (1, "the cat and the dog is on a mat"),       # prose: many stopwords
        (2, "0123456789 0123456789 0123456789"),      # digit-dense
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in quality_classifier(df).collect()}
    # doc1: 9 tokens, stopwords {the,and,the,is,on,a} = 6 -> x1=6/9
    # nonspace = 23 chars (3+3+3+3+3+2+2+1+3) -> x2 = 23/9; digits 0
    z1 = -1.0 + 6.0 * (6 / 9) + -0.25 * (23 / 9) + -8.0 * 0.0
    assert abs(got[1]["quality_z"] - z1) < 1e-12
    assert got[1]["accept"] is True
    # doc2: 3 tokens, 0 stopwords; nonspace 30; digits 30 of 32 chars
    z2 = -1.0 + 6.0 * 0.0 + -0.25 * (30 / 3) + -8.0 * (30 / 32)
    assert abs(got[2]["quality_z"] - z2) < 1e-12
    assert got[2]["accept"] is False
    # plan stays JVM-side
    p = quality_classifier(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_quality_classifier_is_scan_side_projection(spark, sf_dir):
    """Plan gate (round-6 verdict #5): the vendored linear classifier
    lowers to ONE shuffle-free JVM projection over the scan — zero
    Exchange, zero Python — the shape that lets a distilled quality
    model run inside a 100 TB scan at scan speed."""
    from data_lake_with_spark_spark import queries as Q

    df = Q.queries()["q124_quality_classifier"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    assert p.count("Scan parquet") == 1


def test_bloom_decontaminate_never_misses_exact_hits(spark):
    """Bloom guarantee: zero false negatives — every gram exactly
    shared with the benchmark is flagged, so per-doc flagged counts
    dominate the exact ngram_contamination counts."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox tail words here"),
            (2, "no overlap with anything in that benchmark套"),
            (3, "jumps over the lazy dog exactly as written"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in text.ngram_contamination(corpus, bench, n=3).collect()
    }
    bloom = {
        r["doc_id"]: r["n_flagged_ngrams"]
        for r in text.bloom_decontaminate(corpus, bench, n=3, k=2).collect()
    }
    for doc, n_exact in exact.items():
        assert bloom.get(doc, 0) >= n_exact
    assert bloom[1] >= 2 and bloom[3] >= 3
    assert 2 not in bloom or bloom[2] >= 0  # doc 2 may only FP, never FN


def test_bloom_positions_match_local_md5(spark):
    import hashlib

    df = spark.createDataFrame([("alpha beta gamma",)], ["g"])
    row = df.select(
        text.bloom_positions(F.col("g"), k=2, m=65536).alias("p")
    ).collect()[0]
    want = [
        int(hashlib.md5(f"{i}|alpha beta gamma".encode()).hexdigest()[:8], 16)
        % 65536
        for i in range(2)
    ]
    assert list(row["p"]) == want


def test_contamination_spans_finds_longest_run(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            # tokens 3-8 reproduce the benchmark: grams at pos 3..6 hit
            (1, "noise words alpha beta gamma delta epsilon zeta trailing"),
            # two separate short overlaps: 'alpha beta gamma' at pos 1
            # and at pos 7 (runs of 1 gram each)
            (2, "alpha beta gamma unrelated stuff here alpha beta gamma"),
            (3, "no shared trigrams anywhere in this document at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.contamination_spans(
        corpus, bench, n=3
    ).collect()}
    assert out[1]["span_start"] == 3 and out[1]["span_grams"] == 4
    assert out[1]["span_tokens"] == 6
    # doc 2: two islands of length 1; earliest wins
    assert out[2]["span_start"] == 1 and out[2]["span_grams"] == 1
    assert 3 not in out


def test_blocklist_stats_counts_and_verdict(spark):
    docs = spark.createDataFrame(
        [
            (1, "clean text with none of the terms"),
            (2, "the Hash table uses hash buckets"),   # 2 hits, case-folded
            (3, "merge sort then hash join"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.blocklist_stats(
        docs, ["hash", "merge"]
    ).collect()}
    assert out[1]["n_blocked"] == 0 and out[1]["keep"] is True
    assert out[2]["n_hash"] == 2 and out[2]["keep"] is False
    assert out[3]["n_hash"] == 1 and out[3]["n_merge"] == 1
    import pytest

    with pytest.raises(ValueError):
        text.blocklist_stats(docs, [])


def test_decontaminate_spans_cuts_benchmark_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro words alpha beta gamma delta outro section"),
            (2, "nothing shared with the benchmark document here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.decontaminate_spans(
        corpus, bench, n=3
    ).collect()}
    # grams 'alpha beta gamma' (pos 3) and 'beta gamma delta' (pos 4)
    # hit -> tokens 3..6 cut
    assert out[1]["clean_text"] == "intro words outro section"
    assert out[1]["n_tokens_kept"] == 4 and out[1]["n_tokens"] == 8
    assert out[2]["clean_text"] == "nothing shared with the benchmark document here"


def test_vocab_coverage_counts_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d")],
        ["doc_id", "text"],
    )
    # counts: a=4 b=3 c=1 d=1 (ties c/d broken by token asc)
    out = {r["top_r"]: r for r in text.vocab_coverage(
        docs, ranks=(1, 3, 100)
    ).collect()}
    assert out[1]["covered_tokens"] == 4
    assert out[3]["covered_tokens"] == 4 + 3 + 1  # a, b, then c (tie)
    assert out[100]["covered_tokens"] == 9  # rank past vocab = everything
    r1 = out[1]
    assert (r1["total_tokens"], r1["total_types"]) == (9, 4)
    assert abs(r1["coverage"] - 4 / 9) < 1e-15
    import pytest

    with pytest.raises(ValueError):
        text.vocab_coverage(docs, ranks=())
    with pytest.raises(ValueError):
        text.vocab_coverage(docs, ranks=(0, 5))


def _bm25_expected(tf, dl, avgdl, n, df, k1=1.2, b=0.75):
    idf = (n - df + 0.5) / (df + 0.5)
    return (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (dl / avgdl))) * idf


def test_bm25_single_term_matches_formula(spark):
    corpus = spark.createDataFrame(
        [(1, "rare common common"), (2, "common common common"), (3, "rare rare common")],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame([(10, "rare")], ["query_id", "text"])
    out = {r["doc_id"]: r for r in text.bm25_topk(corpus, qs, k=10).collect()}
    # docs 1 and 3 contain 'rare' (df=2, N=3, avgdl=3.0)
    assert set(out) == {1, 3}
    assert abs(out[3]["score"] - _bm25_expected(2, 3, 3.0, 3, 2)) < 1e-12
    assert abs(out[1]["score"] - _bm25_expected(1, 3, 3.0, 3, 2)) < 1e-12
    # tf=2 beats tf=1 at equal length
    assert out[3]["rank"] == 1 and out[1]["rank"] == 2


def test_bm25_topk_cutoff_and_max_df_pruning(spark):
    corpus = spark.createDataFrame(
        [(i, "common " + ("rare" if i == 1 else "filler")) for i in range(1, 7)],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame([(10, "common rare")], ["query_id", "text"])
    full = text.bm25_topk(corpus, qs, k=3).collect()
    assert len(full) == 3 and all(r["rank"] <= 3 for r in full)
    # doc 1 has the rare term (df=1) -> top hit
    assert sorted(full, key=lambda r: r["rank"])[0]["doc_id"] == 1
    # max_df 0.5 prunes 'common' (df=6/6); only 'rare' scores
    pruned = text.bm25_topk(corpus, qs, k=10, max_df_ratio=0.5).collect()
    assert [r["doc_id"] for r in pruned] == [1]
    exp = _bm25_expected(1, 2, 2.0, 6, 1)
    assert abs(pruned[0]["score"] - exp) < 1e-12


def test_bm25_rejects_bad_k(spark):
    docs = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    import pytest

    with pytest.raises(ValueError):
        text.bm25_topk(docs, docs.withColumnRenamed("doc_id", "query_id"), k=0)


def test_slice_drift_exact_two_strata(spark):
    # stratum A: 3 x, 1 y (p = .75/.25); B: 1 x, 3 y; corpus q = .5/.5
    docs = spark.createDataFrame(
        [("A", "x x x y"), ("B", "x y y y")], ["source", "text"]
    )
    out = {r["source"]: r for r in text.slice_drift(
        docs, top_k=10
    ).collect()}
    # TVD = 0.5*(|.75-.5| + |.25-.5|) = 0.25 for both strata
    for s in ("A", "B"):
        assert out[s]["n_tokens"] == 4
        assert abs(out[s]["tvd"] - 0.25) < 1e-15


def test_slice_drift_other_bucket_and_identical_stratum(spark):
    docs = spark.createDataFrame(
        [("A", "a a b c d e"), ("B", "a a b c d e")], ["source", "text"]
    )
    # top_k=1 keeps only 'a'; everything else folds into OTHER.
    # Identical strata => TVD exactly 0 regardless of bucketing.
    out = text.slice_drift(docs, top_k=1).collect()
    assert all(r["tvd"] == 0.0 for r in out)
    import pytest

    with pytest.raises(ValueError):
        text.slice_drift(docs, top_k=0)


def test_filter_funnel_cumulative_counts(spark):
    """Funnel stages are CUMULATIVE conjunctions: survivors never
    increase down the table; NULL predicate results drop."""
    import pyspark.sql.functions as F

    from data_lake_with_spark_spark.operators.text import filter_funnel

    rows = [(1, 10, 0.5), (2, 30, 0.5), (3, 30, None), (4, 40, 0.9)]
    df = spark.createDataFrame(rows, ["id", "n", "r"])
    out = {r["stage"]: r for r in filter_funnel(
        df, [("long", F.col("n") >= 20), ("ratio", F.col("r") >= 0.6)]
    ).collect()}
    assert out[1]["n_in"] == 4 and out[1]["n_pass"] == 3
    # of the 3 long docs: r=0.5 fails, r=None fails, r=0.9 passes
    assert out[2]["n_in"] == 3 and out[2]["n_pass"] == 1
    assert out[2]["n_dropped"] == 2 and out[2]["pass_rate"] == 1 / 3
    import pytest as _p

    with _p.raises(ValueError):
        filter_funnel(df, [])


def test_assemble_contexts_rank_order(spark):
    """Contexts concatenate texts in RANK order regardless of row
    order; n_chars counts separators."""
    from data_lake_with_spark_spark.operators.text import assemble_contexts

    ranked = spark.createDataFrame(
        [(1, 20, 2), (1, 10, 1), (2, 30, 1)], ["query_id", "doc_id", "rank"]
    )
    docs = spark.createDataFrame(
        [(10, "aa"), (20, "bb"), (30, "cc")], ["doc_id", "text"]
    )
    out = {r["query_id"]: r for r in
           assemble_contexts(ranked, docs, sep="|").collect()}
    assert out[1]["context"] == "aa|bb"
    assert out[1]["n_docs"] == 2 and out[1]["n_chars"] == 5
    assert out[2]["context"] == "cc"


@pytest.mark.slow
def test_bm25_indexed_matches_inline_and_prunes_buckets(
    spark, sf_dir, tmp_path
):
    """The persisted-index serving path (r7 verdict #1): (a) scores
    BIT-identical to the inline bm25_topk over the same corpus — the
    scoring tail is shared code, so this pins the index round-trip
    (postings/doclens/stats parquet) — and (b) the postings scan is
    PARTITION-PRUNED to the query vocabulary's tok_bucket dirs, the
    property that makes a probe read |vocab| buckets of a 100 TB
    index instead of re-tokenizing the corpus."""
    from data_lake_with_spark_spark.operators.skew import explain_shuffles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    qs = docs.where(F.col("doc_id") % 50 == 0).where(
        F.col("doc_id") < 500
    ).select(F.col("doc_id").alias("query_id"), "text")
    idx = str(tmp_path / "bm25")
    text.build_bm25_index(corpus, idx, n_buckets=16)
    served = text.bm25_topk_indexed(spark, idx, qs, k=5)
    inline = text.bm25_topk(corpus, qs, k=5)
    got = sorted(map(tuple, served.collect()))
    exp = sorted(map(tuple, inline.collect()))
    assert got == exp and len(got) > 0
    # the served frame's own final plan carries the pruned scan: the
    # vocab buckets under PartitionFilters, the token IN list under
    # PushedFilters (row-group skipping inside the tok-sorted files;
    # the join adds IsNotNull(tok) there by itself, so match the IN)
    lines = explain_shuffles(served).splitlines()
    assert any("tok_bucket" in ln for ln in lines if "PartitionFilters:" in ln)
    assert any("In(tok," in ln for ln in lines if "PushedFilters:" in ln)
    # and pruning is real: a one-token batch reads one bucket file per
    # postings scan, fewer files and rows than the whole batch reads
    one = qs.limit(1).withColumn("text", F.lit("the"))
    one_read = _postings_scans_read(text.bm25_topk_indexed(spark, idx, one, k=5))
    batch_read = _postings_scans_read(served)
    assert one_read and all(files == 1 for files, _ in one_read)
    assert min(files for files, _ in batch_read) > 1
    assert max(rows for _, rows in one_read) < min(rows for _, rows in batch_read)


def _postings_scans_read(frame):
    """Collect ``frame``, then return ``(files, rows)`` read by each
    of its executed postings scans (SQL metrics of the final plan)."""

    def seq(s):
        return [s.apply(i) for i in range(s.length())]

    def scans(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return scans(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return scans(node.plan())
        if name == "ReusedExchangeExec":
            return scans(node.child())
        out = [node] if name == "FileSourceScanExec" else []
        for child in seq(node.children()):
            out += scans(child)
        return out

    frame.collect()
    read = []
    for scan in scans(frame._jdf.queryExecution().executedPlan()):
        if "postings" in scan.relation().location().rootPaths().toString():
            m = scan.metrics()
            read.append(
                (int(m.apply("numFiles").value()), int(m.apply("numOutputRows").value()))
            )
    return read


def test_bm25_index_rejects_bad_buckets(spark, tmp_path):
    import pytest

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        text.build_bm25_index(docs, str(tmp_path / "x"), n_buckets=0)
    text.build_bm25_index(docs, str(tmp_path / "y"), n_buckets=2)
    with pytest.raises(ValueError):
        text.bm25_topk_indexed(
            spark,
            str(tmp_path / "y"),
            docs.withColumnRenamed("doc_id", "query_id"),
            k=0,
        )


def test_bloom_saturation_fp_rate_tracks_theory(spark):
    """Pins the saturation contract (r7 verdict #5): the m-bit cap is
    a memory trade whose cost is a RISING false-positive rate — this
    asserts the observed FP rate on guaranteed-absent probe grams
    tracks (bits_set/m)^k exactly-in-expectation (binomial tolerance)
    and the classic (1 - e^{-kn/m})^k curve approximately, as the
    benchmark gram count n grows PAST m. A regression that stops the
    filter saturating (or mis-hashes positions) breaks the track."""
    import math

    k, m = 2, 4096
    probes = spark.createDataFrame(
        [(i, f"p{i}a p{i}b p{i}c") for i in range(3000)],
        ["doc_id", "text"],
    )
    for n_grams in (512, 2048, 8192):
        toks = " ".join(f"b{j}" for j in range(n_grams + 2))
        bench = spark.createDataFrame([(toks,)], ["text"])
        # the filter's own fill fraction, from the same public
        # position arithmetic the operator uses
        grams = spark.createDataFrame(
            [(f"b{j} b{j+1} b{j+2}",) for j in range(n_grams)], ["g"]
        )
        bits_set = (
            grams.select(
                F.explode(text.bloom_positions(F.col("g"), k, m)).alias("p")
            )
            .distinct()
            .count()
        )
        flagged = text.bloom_decontaminate(
            probes, bench, n=3, k=k, m=m
        ).count()
        observed = flagged / 3000
        exact_exp = (bits_set / m) ** k
        # binomial 5σ at 3000 probes
        tol = 5 * math.sqrt(max(exact_exp * (1 - exact_exp), 1e-4) / 3000)
        assert abs(observed - exact_exp) <= tol, (
            f"n={n_grams}: observed {observed:.4f} vs (bits/m)^k "
            f"{exact_exp:.4f} ± {tol:.4f}"
        )
        theory = (1 - math.exp(-k * n_grams / m)) ** k
        assert abs(observed - theory) <= 0.05 + 0.1 * theory, (
            f"n={n_grams}: observed {observed:.4f} vs theory {theory:.4f}"
        )
    # and saturation really happened: past n = 2m the filter is
    # mostly full — FP rate must exceed 90%
    assert observed > 0.9


def test_vocab_budget_rewrite_hand_case(spark):
    """Top-2 vocab keeps {a, b} (ties by token asc at equal counts);
    everything else becomes <unk>; per-doc OOV counts exact; order
    preserved."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b a z"), (2, "b q a"), (3, "zz")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in text.vocab_budget_rewrite(
        docs, vocab_size=2
    ).collect()}
    # counts: a=3, b=2, z=1, q=1, zz=1 -> kept {a, b}
    assert out[1]["rewritten"] == "a b a <unk>"
    assert out[1]["n_tokens"] == 4 and out[1]["n_oov"] == 1
    assert out[2]["rewritten"] == "b <unk> a"
    assert out[3]["rewritten"] == "<unk>" and out[3]["oov_rate"] == 1.0
    with pytest.raises(ValueError):
        text.vocab_budget_rewrite(docs, vocab_size=0)


def test_boilerplate_prefixes_hand_case(spark):
    """Shared 2-token headers surface with their within-source share;
    sub-threshold prefixes and short docs don't."""
    import pytest

    docs = spark.createDataFrame(
        [
            (1, "terms of service apply", "w"),
            (2, "terms of use", "w"),
            (3, "hello world x", "w"),
            (4, "terms of x", "v"),
            (5, "short", "v"),
        ],
        ["doc_id", "text", "source"],
    )
    out = text.boilerplate_prefixes(docs, prefix_len=2, min_docs=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["stratum"], r["prefix"], r["n_docs"]) == ("w", "terms of", 2)
    assert r["n_stratum_docs"] == 3 and r["share"] == 2 / 3
    with pytest.raises(ValueError):
        text.boilerplate_prefixes(docs, prefix_len=0)


@pytest.mark.slow
def test_merge_bm25_index_upsert_equals_scratch(spark, tmp_path):
    """The incremental-maintenance contract: merging a batch that
    APPENDS new docs AND REPLACES an existing one yields an index
    whose served results are BIT-identical to a from-scratch build
    over the post-upsert corpus (re-ingests must not double-count),
    and the layout params (n_buckets) carry over unchanged."""
    base_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha delta"),
         (3, "epsilon beta")],
        ["doc_id", "text"],
    )
    # doc 2 re-ingested with NEW content; docs 4-5 appended
    batch = spark.createDataFrame(
        [(2, "zeta zeta beta"), (4, "alpha epsilon"), (5, "beta beta beta")],
        ["doc_id", "text"],
    )
    final_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "zeta zeta beta"),
         (3, "epsilon beta"), (4, "alpha epsilon"), (5, "beta beta beta")],
        ["doc_id", "text"],
    )
    qs = spark.createDataFrame(
        [(10, "alpha beta"), (11, "zeta")], ["query_id", "text"]
    )
    base_idx, merged_idx, scratch_idx = (
        str(tmp_path / d) for d in ("base", "merged", "scratch")
    )
    text.build_bm25_index(base_docs, base_idx, n_buckets=8)
    text.merge_bm25_index(spark, base_idx, batch, merged_idx)
    text.build_bm25_index(final_docs, scratch_idx, n_buckets=8)
    got = sorted(map(tuple, text.bm25_topk_indexed(
        spark, merged_idx, qs, k=5
    ).collect()))
    exp = sorted(map(tuple, text.bm25_topk_indexed(
        spark, scratch_idx, qs, k=5
    ).collect()))
    assert got == exp and len(got) > 0
    n_b = spark.read.parquet(f"{merged_idx}/stats").first()["n_buckets"]
    assert n_b == 8  # layout param carried, never re-chosen
    # the replaced doc's OLD postings are gone (zeta ranks doc 2 first)
    top_zeta = [r for r in got if r[0] == 11][0]
    assert top_zeta[1] == 2
    # in-place merge is rejected: the merge reads base_path lazily
    # while mode('overwrite') deletes it — out_path == base_path
    # would destroy the source mid-read
    import pytest

    with pytest.raises(ValueError, match="in-place"):
        text.merge_bm25_index(spark, base_idx, batch, base_idx)


@pytest.mark.slow
def test_delete_from_bm25_index_equals_scratch(spark, tmp_path):
    """Erasure propagates to the sparse serving index: after
    delete_from_bm25_index, served scores are BIT-identical to an
    index built from scratch over the corpus minus the ids (stats
    recompute; df/idf re-derive from surviving postings at serve
    time), and the bucket layout carries unchanged."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha delta"),
         (3, "epsilon beta"), (4, "alpha epsilon"), (5, "beta beta beta")],
        ["doc_id", "text"],
    )
    kept = docs.where(~F.col("doc_id").isin(2, 5))
    qs = spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon")], ["query_id", "text"]
    )
    full_idx, del_idx, scratch_idx = (
        str(tmp_path / d) for d in ("full", "deleted", "scratch")
    )
    text.build_bm25_index(docs, full_idx, n_buckets=8)
    text.delete_from_bm25_index(
        spark, full_idx,
        spark.createDataFrame([(2,), (5,)], ["doc_id"]),
        del_idx,
    )
    text.build_bm25_index(kept, scratch_idx, n_buckets=8)
    got = sorted(map(tuple, text.bm25_topk_indexed(
        spark, del_idx, qs, k=5
    ).collect()))
    exp = sorted(map(tuple, text.bm25_topk_indexed(
        spark, scratch_idx, qs, k=5
    ).collect()))
    assert got == exp and len(got) > 0
    assert not any(r[1] in (2, 5) for r in got)
    st = spark.read.parquet(f"{del_idx}/stats").first()
    assert st["n_corpus"] == 3 and st["n_buckets"] == 8
    with pytest.raises(ValueError, match="in-place"):
        text.delete_from_bm25_index(
            spark, del_idx,
            spark.createDataFrame([(1,)], ["doc_id"]), del_idx,
        )


def test_collocations_lift_ranking(spark):
    """'new york' co-occurs always (lift ≫ 1) while 'the the'-style
    independent pairs sit near lift 1; min_count prunes hapax pairs;
    the lift value matches the hand-computed pinned-order rational."""
    import pytest

    docs = spark.createDataFrame(
        [(i, "new york is big and the city is the place") for i in range(5)]
        + [(99, "brand pair")],
        ["doc_id", "text"],
    )
    out = {r["bigram"]: r for r in text.collocations(
        docs, k=20, min_count=5
    ).collect()}
    assert "brand pair" not in out  # hapax pruned (c_ab = 1 < 5)
    ny = out["new york"]
    assert ny["c_ab"] == 5 and ny["c_a"] == 5 and ny["c_b"] == 5
    # U = 5*10 + 2 = 52 unigrams, B = 5*9 + 1 = 46 bigrams
    exp = (5 / 46) / (5 / 52) / (5 / 52)
    assert ny["lift"] == exp  # pinned-order, bit-exact
    # 'is the' (c_ab=5) pairs two high-frequency words → lower lift
    assert out["is the"]["lift"] < ny["lift"]
    ranks = sorted((r["rank"], b) for b, r in out.items())
    assert ranks[0][0] == 1 and len(ranks) <= 20
    with pytest.raises(ValueError):
        text.collocations(docs, k=0)
    with pytest.raises(ValueError):
        text.collocations(docs, min_count=0)


@pytest.mark.slow
def test_bm25_staleness_report_fresh_merge_and_drift(spark, sf_dir, tmp_path):
    """r13 verdict #3 (BM25 half): the health report read off the
    persisted index must (a) on a FRESH build show stamped == live
    corpus stats, (b) equal the report over a from-scratch rebuild of
    the merged corpus after an upsert-heavy merge (the components are
    rebuild-identical by the merge contract, so the report must be
    too — including the xxhash bucket-occupancy leg the SQL oracle
    can't reach), and (c) MOVE under that merge: a long-doc batch
    drifts avgdl_live up vs the pinned build-time baseline
    (similarity.staleness_drift ratio > 1), the when-to-maintain
    signal."""
    from data_lake_with_spark_spark.operators.similarity import (
        staleness_drift,
        write_staleness_baseline,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    idx = str(tmp_path / "bm25")
    text.build_bm25_index(corpus, idx, n_buckets=8)
    rep0 = text.bm25_staleness_report(spark, idx)
    r0 = rep0.collect()[0].asDict()
    # fresh build: the stamped stats ARE the live stats
    assert r0["n_docs"] == r0["n_corpus_stamped"] > 0
    assert r0["avgdl_live"] == r0["avgdl_stamped"]
    assert r0["n_buckets_stamped"] == 8
    assert r0["dead_buckets"] + (r0["bucket_min"] is not None) >= 0
    assert r0["n_postings"] >= r0["n_types"] > 0
    write_staleness_baseline(spark, idx, rep0)

    # upsert-heavy merge: docs 3x longer than the base average
    batch = (
        docs.where(F.col("doc_id") % 7 == 1)
        .select(
            "doc_id",
            F.concat_ws(" ", "text", "text", "text").alias("text"),
        )
    )
    merged = str(tmp_path / "merged")
    text.merge_bm25_index(spark, idx, batch, merged)
    rep1 = text.bm25_staleness_report(spark, merged)
    r1 = rep1.collect()[0].asDict()
    # rebuild-identity, INCLUDING the bucket legs the oracle can't see
    rebuilt = str(tmp_path / "rebuilt")
    text.build_bm25_index(corpus.unionByName(batch), rebuilt, n_buckets=8)
    r2 = text.bm25_staleness_report(spark, rebuilt).collect()[0].asDict()
    assert r1 == r2
    # movement: the merged corpus is longer-doc'd — avgdl drifts UP
    drift = staleness_drift(spark, idx, rep1)
    assert drift["avgdl_live"]["ratio"] > 1.05
    assert drift["n_docs"]["ratio"] > 1.0
    # the stamped stats moved with the merge (the scorer's own values)
    assert r1["avgdl_stamped"] == r1["avgdl_live"]


def test_bm25_index_grain_contract(spark, tmp_path):
    """r13 verdict #6: build_bm25_index enforces the same leaf-grain
    floor as the PQ/IVFPQ/related-items builds — a bucket count that
    averages under BM25_MIN_ROWS_PER_BUCKET posting rows warns by
    default and raises under strict_layout=True; a sane grain builds
    silently."""
    import warnings

    import pytest

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 3} common") for i in range(30)],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="grain too fine"):
        text.build_bm25_index(
            docs, str(tmp_path / "a"), n_buckets=64, strict_layout=True
        )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        text.build_bm25_index(docs, str(tmp_path / "b"), n_buckets=64)
    assert any("grain too fine" in str(w.message) for w in rec)
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        text.build_bm25_index(docs, str(tmp_path / "c"), n_buckets=1)
    assert not any("grain too fine" in str(w.message) for w in rec2)

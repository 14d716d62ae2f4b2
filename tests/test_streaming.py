from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_lake_with_spark_spark.sources.catalog import load_table
from data_lake_with_spark_spark.streaming import events as SE


@pytest.fixture(scope="module")
def staged_stream(spark, sf_dir, tmp_path_factory):
    stage = str(tmp_path_factory.mktemp("stream"))
    df = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    df.coalesce(2).write.mode("overwrite").json(stage)
    return stage


def _run(stream_df, name, mode="update"):
    q = SE.run_to_memory(stream_df, name, output_mode=mode)
    q.awaitTermination(120)
    return q


def test_windowed_counts_match_batch(spark, sf_dir, staged_stream):
    stream = SE.read_event_stream(spark, staged_stream)
    _run(SE.windowed_counts(stream, window="1 hour"), "t_windowed", mode="complete")
    got = spark.table("t_windowed")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got_map = {
        (r["window_start"], r["event_type"]): r["n"] for r in got.collect()
    }
    for r in batch.collect():
        assert got_map[(r["window_start"], r["event_type"])] == r["n"]


def test_enriched_windowed_counts_match_batch(spark, sf_dir, staged_stream):
    """q70's operator (stream-static broadcast join + windowed agg)
    must produce EXACTLY the batch join's per-(window, segment)
    counts — full value equality, not rows-only."""
    stream = SE.read_event_stream(spark, staged_stream)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    _run(
        SE.enriched_windowed_counts(
            stream, dim, "user_id", "c_custkey", "c_mktsegment"
        ),
        "t_enriched",
        mode="complete",
    )
    got = {
        (r["window_start"], r["c_mktsegment"]): r["n"]
        for r in spark.table("t_enriched").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .join(dim, on=F.col("user_id") == F.col("c_custkey"), how="inner")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "c_mktsegment"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expect = {
        (r["window_start"], r["c_mktsegment"]): r["n"] for r in batch.collect()
    }
    assert got == expect


def test_session_counts_match_batch_sessions(spark, sf_dir, staged_stream):
    """q57's native session windows must equal a batch derivation of
    the SAME merge semantics — full (user, start, end, n, value)
    tuple equality, not just rows. Note the boundary: session_window
    merges strictly-overlapping windows, so an event at exactly
    prev_ts + gap starts a NEW session (hence `>=` below), unlike
    operators.windows.sessionize's continue-at-equality (`>`)."""
    from pyspark.sql import Window

    stream = SE.read_event_stream(spark, staged_stream)
    _run(SE.session_counts(stream, gap="30 minutes"), "t_sessions", mode="complete")
    rows = spark.table("t_sessions").collect()
    assert len(rows) > 0
    got = {
        (
            r["user_id"],
            r["session_start"],
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in rows
    }
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | (F.col("ts") >= prev + F.expr("INTERVAL 30 MINUTE")),
        1,
    ).otherwise(0)
    sess = ev.withColumn("_n", new_s).withColumn("_sid", F.sum("_n").over(w))
    expect = {
        (
            r["user_id"],
            r["session_start"],
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in sess.groupBy("user_id", "_sid").agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTE")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        ).collect()
    }
    assert got == expect


@pytest.mark.slow
def test_fuzzy_dedup_ingest_accepts_once_then_drops(spark, sf_dir, tmp_path):
    """Streaming fuzzy-dedup ingestion: first pass over the corpus
    accepts exactly the batch survivor set; re-ingesting the same
    documents (fresh stage + checkpoint) adds nothing because every
    doc band-collides with the accumulated index; a genuinely novel
    document still lands."""
    from data_lake_with_spark_spark.operators.dedup import minhash_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")

    def ingest(df, tag):
        stage = str(tmp_path / f"stage_{tag}")
        df.coalesce(1).write.mode("overwrite").json(stage)
        q = SE.fuzzy_dedup_ingest(
            SE.read_document_stream(spark, stage),
            corpus,
            index,
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
        )
        q.awaitTermination(120)

    ingest(docs, "first")
    n1 = spark.read.parquet(corpus).count()
    assert n1 == minhash_dedup(docs).count()  # == batch survivor set

    ingest(docs, "again")
    assert spark.read.parquet(corpus).count() == n1  # all dropped

    novel = spark.createDataFrame(
        [(10_000_001, "zyx wvu tsr qpo nml kji hgf edc ba unique pangramish", "en", "t")],
        ["doc_id", "text", "lang", "source"],
    )
    ingest(novel, "novel")
    n3 = spark.read.parquet(corpus).count()
    assert n3 == n1 + 1
    ids = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert 10_000_001 in ids


def test_stream_stream_conversions_match_batch_interval_join(
    spark, sf_dir, staged_stream
):
    """The watermarked stream-stream interval join (view→purchase per
    user within 1 hour) must produce exactly the rows of the same
    interval join run as a batch query over the same events."""
    sa = SE.read_event_stream(spark, staged_stream)
    sb = SE.read_event_stream(spark, staged_stream)
    _run(
        SE.stream_stream_conversions(sa, sb, within="1 hour"),
        "t_conversions",
        mode="append",
    )
    got = {
        (r["user_id"], r["a_event_id"], r["b_event_id"])
        for r in spark.table("t_conversions").collect()
    }
    e = load_table(spark, sf_dir, "events")
    a = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_id"),
    )
    b = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_id"),
    )
    batch = a.join(
        b,
        on=[
            a["u"] == b["u"],
            b["b_ts"] >= a["a_ts"],
            b["b_ts"] <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR"),
        ],
    ).select(a["u"], "a_id", "b_id")
    exp = {(r["u"], r["a_id"], r["b_id"]) for r in batch.collect()}
    assert got == exp
    assert len(exp) > 0  # the fixture must actually exercise the join


def test_dedup_stream_collapses_redelivery(spark, sf_dir, staged_stream, tmp_path):
    # stage the SAME events twice (at-least-once redelivery), dedup on
    # event_id must collapse back to the batch-distinct count
    stage = str(tmp_path / "dup")
    df = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    df.coalesce(2).write.mode("overwrite").json(stage)
    df.coalesce(2).write.mode("append").json(stage)
    stream = SE.read_event_stream(spark, stage)
    _run(SE.dedup_stream(stream, keys=("event_id",)), "t_dedup", mode="append")
    # full value equality with the batch twin, not just the count:
    # exactly one surviving row per event_id, with the id set equal to
    # the batch-distinct id set
    got_ids = [r["event_id"] for r in spark.table("t_dedup").collect()]
    exp_ids = {
        r["event_id"]
        for r in load_table(spark, sf_dir, "events")
        .select("event_id")
        .distinct()
        .collect()
    }
    assert len(got_ids) == len(set(got_ids)) == len(exp_ids)
    assert set(got_ids) == exp_ids


def test_running_user_totals_stateful(spark, sf_dir, staged_stream):
    stream = SE.read_event_stream(spark, staged_stream)
    _run(SE.running_user_totals(stream), "t_totals", mode="update")
    got = {r["user_id"]: r["n_events"] for r in spark.table("t_totals").collect()}
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # final state after availableNow == batch counts
    for uid, n in batch.items():
        assert got[uid] == n


def test_cdc_apply_stream_builds_merged_snapshot(spark, sf_dir, tmp_path):
    import glob

    from pyspark.sql import Window

    stage = str(tmp_path / "cdc_in")
    snap = str(tmp_path / "snap")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    ev.coalesce(2).write.mode("overwrite").json(stage)
    q = SE.cdc_apply_stream(
        SE.read_event_stream(spark, stage), snap, keys=("user_id",), order_col="ts"
    )
    q.awaitTermination(120)

    versions = sorted(glob.glob(snap + "/v*"))
    assert versions
    got = spark.read.parquet(versions[-1])
    batch = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    expect = (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_id")
    )
    got_map = {r["user_id"]: r["event_id"] for r in got.collect()}
    exp_map = {r["user_id"]: r["event_id"] for r in expect.collect()}
    # ts ties broken arbitrarily in both: compare only untied users
    ties = {
        r["user_id"]
        for r in batch.groupBy("user_id", "ts").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1).select("user_id").distinct().collect()
    }
    for uid in exp_map:
        if uid not in ties:
            assert got_map[uid] == exp_map[uid], uid
    assert set(got_map) == set(exp_map)

    # second CDC batch: one user gets a later event; snapshot must advance
    upd = spark.createDataFrame(
        [(999999, "2031-01-01 00:00:00.000000", 0, "purchase", 1.0)],
        ["event_id", "ts", "user_id", "event_type", "value"],
    )
    upd.coalesce(1).write.mode("append").json(stage)
    q2 = SE.cdc_apply_stream(
        SE.read_event_stream(spark, stage), snap, keys=("user_id",), order_col="ts"
    )
    q2.awaitTermination(120)
    v2 = sorted(glob.glob(snap + "/v*"))
    assert len(v2) > len(versions)
    got2 = {r["user_id"]: r["event_id"]
            for r in spark.read.parquet(v2[-1]).collect()}
    assert got2[0] == 999999
    assert set(got2) == set(exp_map)


def test_cdc_delete_update_interleavings_match_batch_twin(spark, tmp_path):
    """q90 value-hardening (r4 verdict item 7): CDC final state with
    DELETE/UPDATE interleavings across micro-batches equals the batch
    twin (latest change per key by (ts, event_id); key absent when
    that change is a delete). Covers: same-batch update-then-delete,
    cross-batch delete, delete of a nonexistent key, re-insert after
    delete, and an out-of-order older update that must NOT clobber a
    newer row."""
    import glob

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", StringType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("op", StringType()),
        ]
    )
    stage = str(tmp_path / "cdc_ops_in")
    snap = str(tmp_path / "cdc_ops_snap")

    def t(minute: int) -> str:
        return f"2030-01-01 00:{minute:02d}:00.000000"

    batch1 = [
        (1, t(1), 1, "click", 1.0, "U"),
        (2, t(1), 2, "click", 2.0, "U"),
        (3, t(1), 3, "click", 3.0, "U"),
        (4, t(2), 2, "click", 0.0, "D"),  # same-batch update→delete
    ]
    batch2 = [
        (5, t(0), 1, "click", 9.0, "U"),  # OLDER than u1's row: no clobber
        (6, t(2), 3, "click", 0.0, "D"),  # cross-batch delete
        (7, t(3), 2, "purchase", 7.0, "U"),  # re-insert after delete
        (8, t(1), 4, "click", 0.0, "D"),  # delete of nonexistent key
    ]

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).json(stage)
        stream = (
            spark.readStream.schema(schema).format("json").load(stage)
            .withColumn("ts", F.to_timestamp("ts"))
        )
        q = SE.cdc_apply_stream(
            stream,
            snap,
            keys=("user_id",),
            order_col="ts",
            tiebreak_cols=("event_id",),
            op_col="op",
        )
        q.awaitTermination(120)

    run_batch(batch1)
    v1 = sorted(glob.glob(snap + "/v*"))
    mid = {
        r["user_id"]: r["event_id"]
        for r in spark.read.parquet(v1[-1]).collect()
    }
    assert mid == {1: 1, 3: 3}  # u2 deleted within its own batch

    run_batch(batch2)
    v2 = sorted(glob.glob(snap + "/v*"))
    assert len(v2) > len(v1)
    got = {
        r["user_id"]: (r["event_id"], r["event_type"], r["value"])
        for r in spark.read.parquet(v2[-1]).collect()
    }

    # batch twin: latest change per key over the WHOLE change set;
    # key present iff that change is not a delete
    from pyspark.sql import Window

    all_changes = spark.createDataFrame(batch1 + batch2, schema)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expect = {
        r["user_id"]: (r["event_id"], r["event_type"], r["value"])
        for r in all_changes.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") != "D"))
        .collect()
    }
    assert got == expect
    assert got == {1: (1, "click", 1.0), 2: (7, "purchase", 7.0)}


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Watermark semantics that single-batch availableNow runs never
    exercise: a later batch's event that falls in an already-
    FINALIZED window (older than the watermark) is dropped, while an
    in-watermark event still lands. Append-mode file sink + a
    persistent checkpoint: append mode emits a window exactly once,
    when the watermark passes its end — so the late event's exclusion
    is visible as the finalized 00:00 window keeping n=1."""
    stage = str(tmp_path / "late_in")
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")

    def run_once(rows):
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value"]
        ).coalesce(1).write.mode("append").json(stage)
        stream = SE.read_event_stream(spark, stage)
        q = (
            SE.windowed_counts(stream, window="1 hour", watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: events at 00:30 and 10:30 -> watermark advances to
    # 08:30 -> the 00:00 window finalizes with n=1
    run_once(
        [
            (1, "2030-01-01 00:30:00.000000", 1, "click", 1.0),
            (2, "2030-01-01 10:30:00.000000", 1, "click", 1.0),
        ]
    )
    # batch 2: event 3 is LATE (00:40, its window already finalized)
    # and must be dropped; event 4 (09:30) is inside the watermark
    run_once(
        [
            (3, "2030-01-01 00:40:00.000000", 1, "click", 1.0),
            (4, "2030-01-01 09:30:00.000000", 1, "click", 1.0),
        ]
    )
    # batch 3: a fresh event at 13:30 pushes the watermark to 11:30,
    # finalizing the 09:00 and 10:00 windows
    run_once([(5, "2030-01-01 13:30:00.000000", 1, "click", 1.0)])

    finalized = {
        r["window_start"].hour: r["n"]
        for r in spark.read.parquet(out).collect()
    }
    assert finalized[0] == 1  # late event 3 did NOT reopen/bump 00:00
    assert finalized[9] == 1  # in-watermark event 4 landed
    assert finalized[10] == 1


@pytest.mark.slow
def test_index_maintenance_ingest_matches_batch_build(spark, tmp_path):
    """Streaming serving-index maintenance (index_maintenance_ingest):
    a corpus delivered as three file-source micro-batches (batch 0
    builds, 1-2 manifest-merge, set_current re-points last) serves
    IDENTICALLY to a from-scratch batch BM25 index over the union —
    batch-split invariance composed with the epoch lifecycle — and
    the root holds exactly three epochs with a resolvable pointer."""
    import os

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import text as T
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        DOCUMENT_STREAM_SCHEMA,
        index_maintenance_ingest,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha{i % 13:02d} beta{i % 7} gamma{i % 3}", "en", "s")
            for i in range(120)
        ],
        ["doc_id", "text", "lang", "source"],
    )
    stage, root, cp = (str(tmp_path / d) for d in ("stage", "root", "cp"))
    for part in range(3):
        docs.where(F2.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).json(stage)
    stream = (
        spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
    )
    q = index_maintenance_ingest(stream, root, checkpoint_dir=cp)
    q.awaitTermination(300)
    epochs = cow.list_epochs(spark, root)
    assert len(epochs) == 3
    cur = cow.get_current(spark, root)
    assert os.path.basename(cur) == epochs[-1]
    # merge epochs are manifests (only changed buckets + JSON)
    assert cow.read_manifest(spark, cur, "postings") is not None
    scratch = str(tmp_path / "scratch")
    T.build_bm25_index(docs.select("doc_id", "text"), scratch)
    qs = spark.createDataFrame(
        [(1, "alpha04 beta1"), (2, "gamma2 alpha12")], ["query_id", "text"]
    )
    got = sorted(
        map(tuple, T.bm25_topk_indexed(spark, cur, qs, k=5).collect())
    )
    exp = sorted(
        map(tuple, T.bm25_topk_indexed(spark, scratch, qs, k=5).collect())
    )
    assert got == exp and len(got) > 0


@pytest.mark.slow
def test_vector_index_maintenance_ingest_matches_batch_build(spark, tmp_path):
    """Dense-side streaming index maintenance
    (vector_index_maintenance_ingest): an embedding corpus delivered
    as bootstrap + two merge micro-batches serves IDENTICALLY to a
    from-scratch IVF build over the union with the same centroid
    stripe; the frozen-quantizer contract holds mid-stream (a batch
    replacing a centroid-source id raises inside foreachBatch)."""
    import os
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        vector_index_maintenance_ingest,
    )

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(150)
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    stage, root, cp = (str(tmp_path / d) for d in ("stage", "root", "cp"))
    md = 20
    is_stripe = F2.col("vec_id") % md == 0
    stamped = set()
    for i, b in enumerate(
        (
            vecs.where(is_stripe | (F2.col("vec_id") % 3 == 0)),
            vecs.where(~is_stripe & (F2.col("vec_id") % 3 == 1)),
            vecs.where(~is_stripe & (F2.col("vec_id") % 3 == 2)),
        )
    ):
        b.coalesce(1).write.mode("append").parquet(stage)
        # explicit ascending mtimes: the bootstrap batch must be
        # delivered first (mtime ties would randomize the order)
        for name in sorted(os.listdir(stage)):
            p = os.path.join(stage, name)
            if name.endswith(".parquet") and p not in stamped:
                os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                stamped.add(p)
    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = vector_index_maintenance_ingest(
        stream, root, centroid_mod=md, checkpoint_dir=cp
    )
    q.awaitTermination(300)
    epochs = cow.list_epochs(spark, root)
    assert len(epochs) == 3
    cur = cow.get_current(spark, root)
    assert os.path.basename(cur) == epochs[-1]
    assert cow.read_manifest(spark, cur, "lists") is not None
    # frozen centroids: the served set equals the batch build's
    scratch = str(tmp_path / "scratch")
    S.build_ivf_index(vecs, scratch, centroid_mod=md)
    qs = vecs.where(F2.col("vec_id") < 5)
    got = sorted(
        map(
            tuple,
            S.ivf_topk_indexed(spark, cur, qs, k=5, nprobe=3).collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            S.ivf_topk_indexed(spark, scratch, qs, k=5, nprobe=3).collect(),
        )
    )
    assert got == exp and len(got) == 5 * 5


def test_index_ingest_compact_every_bounds_chain(spark, tmp_path):
    """Self-bounding streaming maintenance (compact_every=3): a
    five-batch ingest compacts twice in-stream — each time the live
    epoch count reaches 3, the trigger compacts the chain, re-points
    the pointer, and vacuums the retired epochs — so the root ends
    with ONE plain epoch and serving still equals the from-scratch
    batch build over the union."""
    import os

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import text as T
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        DOCUMENT_STREAM_SCHEMA,
        index_maintenance_ingest,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha{i % 13:02d} beta{i % 7} gamma{i % 3}", "en", "s")
            for i in range(150)
        ],
        ["doc_id", "text", "lang", "source"],
    )
    stage, root, cp = (str(tmp_path / d) for d in ("stage", "root", "cp"))
    for part in range(5):
        docs.where(F2.col("doc_id") % 5 == part).coalesce(1).write.mode(
            "append"
        ).json(stage)
    stream = (
        spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
    )
    q = index_maintenance_ingest(
        stream, root, checkpoint_dir=cp, compact_every=3
    )
    q.awaitTermination(300)
    # 5 batches, compaction at epoch counts 3 and 3 again: the root
    # ends bounded at ONE live epoch — the second compaction's output
    epochs = cow.list_epochs(spark, root)
    assert len(epochs) == 1, epochs
    cur = cow.get_current(spark, root)
    assert os.path.basename(cur) == epochs[0]
    assert epochs[0].endswith("_compact")
    # compacted epoch is PLAIN (self-contained, no manifest)
    assert cow.read_manifest(spark, cur, "postings") is None
    scratch = str(tmp_path / "scratch")
    T.build_bm25_index(docs.select("doc_id", "text"), scratch)
    qs = spark.createDataFrame(
        [(1, "alpha04 beta1"), (2, "gamma2 alpha12")], ["query_id", "text"]
    )
    got = sorted(
        map(tuple, T.bm25_topk_indexed(spark, cur, qs, k=5).collect())
    )
    exp = sorted(
        map(tuple, T.bm25_topk_indexed(spark, scratch, qs, k=5).collect())
    )
    assert got == exp and len(got) > 0


@pytest.mark.slow
def test_vector_index_ingest_bootstrap_replay_and_empty_stripe(
    spark, tmp_path
):
    """Replay + bootstrap-contract hardening (review findings): (1) a
    FULL re-delivery of every micro-batch (fresh checkpoint, same
    root — the crash-after-set_current shape, maximized) is a no-op
    on the resolved view: the replayed bootstrap's centroid-stripe
    ids are bit-identical to the carried centroids and are dropped,
    ordinary ids upsert onto themselves; (2) a bootstrap batch with
    NO centroid stripe fails the stream loudly instead of training
    zero centroids."""
    import os
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        vector_index_maintenance_ingest,
    )

    rnd = random.Random(13)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(100)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    stage, root = str(tmp_path / "stage"), str(tmp_path / "root")
    md = 20
    is_stripe = F2.col("vec_id") % md == 0
    stamped = set()
    for i, b in enumerate(
        (
            vecs.where(is_stripe | (F2.col("vec_id") % 2 == 0)),
            vecs.where(~is_stripe & (F2.col("vec_id") % 2 == 1)),
        )
    ):
        b.coalesce(1).write.mode("append").parquet(stage)
        for name in sorted(os.listdir(stage)):
            p = os.path.join(stage, name)
            if name.endswith(".parquet") and p not in stamped:
                os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                stamped.add(p)

    def run(cp_name):
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = vector_index_maintenance_ingest(
            stream, root, centroid_mod=md,
            checkpoint_dir=str(tmp_path / cp_name),
        )
        q.awaitTermination(300)

    run("cp1")
    qs = vecs.where(F2.col("vec_id") < 5)
    before = sorted(
        map(
            tuple,
            S.ivf_topk_indexed(
                spark, cow.get_current(spark, root), qs, k=5, nprobe=3
            ).collect(),
        )
    )
    # fresh checkpoint => EVERY batch re-delivers against the built root
    run("cp2")
    after = sorted(
        map(
            tuple,
            S.ivf_topk_indexed(
                spark, cow.get_current(spark, root), qs, k=5, nprobe=3
            ).collect(),
        )
    )
    assert after == before and len(after) == 5 * 5

    # (2) bootstrap with no centroid stripe fails the stream loudly
    stage2, root2 = str(tmp_path / "stage2"), str(tmp_path / "root2")
    vecs.where(~is_stripe).coalesce(1).write.parquet(stage2)
    stream = spark.readStream.schema(vecs.schema).parquet(stage2)
    q = vector_index_maintenance_ingest(
        stream, root2, centroid_mod=md,
        checkpoint_dir=str(tmp_path / "cp3"),
    )
    with pytest.raises(Exception, match="no vec_id % centroid_mod"):
        q.awaitTermination(300)


def test_vector_index_ingest_fresh_stripe_id_raises(spark, tmp_path):
    """Fresh-stripe enforcement (r11 ADVICE): after bootstrap, a
    later micro-batch carrying a NEW id ≡ 0 (mod centroid_mod) must
    fail the stream loudly — merge_ivf_index only validates ids
    against EXISTING cent_ids, so without the ingest-side gate the
    id would merge silently as an ordinary vector and the streamed
    index would diverge from a from-scratch rebuild over the same
    corpus (whose build WOULD train that id as a centroid)."""
    import os
    import random

    from data_lake_with_spark_spark.streaming.events import (
        vector_index_maintenance_ingest,
    )

    rnd = random.Random(29)
    md = 20
    boot = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(100)]
    # id 200 ≡ 0 (mod 20) but was NOT in the bootstrap corpus
    late = [
        (101, [rnd.uniform(-1, 1) for _ in range(8)]),
        (200, [rnd.uniform(-1, 1) for _ in range(8)]),
    ]
    vecs = spark.createDataFrame(boot, ["vec_id", "embedding"])
    late_df = spark.createDataFrame(late, ["vec_id", "embedding"])
    stage, root = str(tmp_path / "stage"), str(tmp_path / "root")
    stamped = set()
    for i, b in enumerate((vecs, late_df)):
        b.coalesce(1).write.mode("append").parquet(stage)
        # explicit ascending mtimes: bootstrap must be delivered first
        for name in sorted(os.listdir(stage)):
            p = os.path.join(stage, name)
            if name.endswith(".parquet") and p not in stamped:
                os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                stamped.add(p)
    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = vector_index_maintenance_ingest(
        stream, root, centroid_mod=md,
        checkpoint_dir=str(tmp_path / "cp"),
    )
    with pytest.raises(Exception, match="NEW id"):
        q.awaitTermination(300)


@pytest.mark.slow
def test_index_ingest_deferred_vacuum_compacts_on_live_count(
    spark, tmp_path
):
    """Chain-length compaction gate (r11 ADVICE): with
    vacuum_on_compact=False the retired epoch directories linger, and
    a raw-directory-count gate would re-compact EVERY batch after the
    first compaction. The gate instead counts epochs since the last
    compact (plus the compact base) — so a 5-batch ingest at
    compact_every=3 compacts exactly TWICE (at chain lengths 3 and 3
    again), defers the disk reclaim (all 7 epoch dirs still present),
    and an out-of-band vacuum afterwards retires everything but the
    final compact."""
    import os

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import text as T
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        DOCUMENT_STREAM_SCHEMA,
        index_maintenance_ingest,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha{i % 13:02d} beta{i % 7} gamma{i % 3}", "en", "s")
            for i in range(150)
        ],
        ["doc_id", "text", "lang", "source"],
    )
    stage, root, cp = (str(tmp_path / d) for d in ("stage", "root", "cp"))
    for part in range(5):
        docs.where(F2.col("doc_id") % 5 == part).coalesce(1).write.mode(
            "append"
        ).json(stage)
    stream = (
        spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
    )
    q = index_maintenance_ingest(
        stream, root, checkpoint_dir=cp,
        compact_every=3, vacuum_on_compact=False,
    )
    q.awaitTermination(300)
    epochs = cow.list_epochs(spark, root)
    compacts = [e for e in epochs if e.endswith("_compact")]
    # b0,b1,b2 → compact; b3 (live 2), b4 (live 3) → compact.
    # The buggy directory-count gate compacted after b3 as well (3
    # compacts); deferral must not inflate the cadence.
    assert len(compacts) == 2, epochs
    # deferral kept every directory: 5 batch epochs + 2 compacts
    assert len(epochs) == 7, epochs
    cur = cow.get_current(spark, root)
    assert os.path.basename(cur) == compacts[-1]
    live, _ext = cow.live_epochs(spark, root, ["postings"])
    assert live == {compacts[-1]}
    # serving equals the from-scratch build despite deferred vacuum
    scratch = str(tmp_path / "scratch")
    T.build_bm25_index(docs.select("doc_id", "text"), scratch)
    qs = spark.createDataFrame(
        [(1, "alpha04 beta1"), (2, "gamma2 alpha12")], ["query_id", "text"]
    )
    got = sorted(
        map(tuple, T.bm25_topk_indexed(spark, cur, qs, k=5).collect())
    )
    exp = sorted(
        map(tuple, T.bm25_topk_indexed(spark, scratch, qs, k=5).collect())
    )
    assert got == exp and len(got) > 0
    # out-of-band vacuum (after reader quiesce) reclaims the rest
    vac = cow.vacuum_index(spark, root, ["postings"], min_age_seconds=0.0)
    assert len(vac["removed"]) == 6
    assert cow.list_epochs(spark, root) == [compacts[-1]]


def _stage_parquet_batches(spark, stage, frames):
    """Write each frame as one parquet file with ascending mtimes so
    maxFilesPerTrigger=1 delivers them in order."""
    import os

    stamped = set()
    for i, b in enumerate(frames):
        b.coalesce(1).write.mode("append").parquet(stage)
        for name in sorted(os.listdir(stage)):
            p = os.path.join(stage, name)
            if name.endswith(".parquet") and p not in stamped:
                os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
                stamped.add(p)


def test_related_items_ingest_matches_batch_build(spark, tmp_path):
    """Streaming related-items maintenance
    (related_items_maintenance_ingest): a basket history delivered as
    three micro-batches (batch 0 builds the state, 1-2 manifest-merge)
    serves IDENTICALLY to a from-scratch related_items over the
    union; a FULL re-delivery (fresh checkpoint, same root) is a
    verified no-op (skip-on-replay — deletion of the double-count
    hazard is the ingest's job, since only it can tell a retry from a
    source bug); a PARTIALLY overlapping batch fails the stream
    loudly."""
    import os
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import graph
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        related_items_maintenance_ingest,
    )

    rnd = random.Random(61)
    rows = []
    for bid in range(150):
        for it in rnd.sample(range(40), rnd.randint(2, 4)):
            rows.append((bid, it))
    hist = spark.createDataFrame(rows, ["basket", "item"])
    stage, root = str(tmp_path / "stage"), str(tmp_path / "root")
    _stage_parquet_batches(
        spark,
        stage,
        [hist.where(F2.col("basket") % 3 == p) for p in range(3)],
    )

    def run(cp):
        stream = (
            spark.readStream.schema(hist.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = related_items_maintenance_ingest(
            stream, root, k=4, min_count=2,
            checkpoint_dir=str(tmp_path / cp),
        )
        q.awaitTermination(300)

    run("cp1")
    epochs = cow.list_epochs(spark, root)
    assert len(epochs) == 3
    cur = cow.get_current(spark, root)
    assert os.path.basename(cur) == epochs[-1]
    assert cow.read_manifest(spark, cur, "pairs") is not None
    exp = sorted(
        map(
            tuple,
            graph.related_items(hist, k=4, min_count=2).collect(),
        )
    )
    got = sorted(
        map(tuple, graph.related_items_topk(spark, cur).collect())
    )
    assert got == exp and len(got) > 0
    # fresh checkpoint => every batch re-delivers; all three are
    # full-overlap retries and skip — pointer and view unchanged
    run("cp2")
    assert cow.get_current(spark, root) == cur
    assert sorted(
        map(
            tuple,
            graph.related_items_topk(
                spark, cow.get_current(spark, root)
            ).collect(),
        )
    ) == exp
    # a batch PARTIALLY overlapping the ledger (one old + one new
    # basket) is not a retry shape — the stream fails loudly
    overlap = spark.createDataFrame(
        [(0, 1), (0, 2), (9_000, 1), (9_000, 3)], ["basket", "item"]
    )
    _stage_parquet_batches(spark, str(tmp_path / "stage2"), [overlap])
    stream = spark.readStream.schema(hist.schema).parquet(
        str(tmp_path / "stage2")
    )
    q = related_items_maintenance_ingest(
        stream, root, checkpoint_dir=str(tmp_path / "cp3")
    )
    with pytest.raises(Exception, match="PARTIALLY"):
        q.awaitTermination(300)


def test_related_items_ingest_compact_bounds_chain(spark, tmp_path):
    """Self-bounding related-items ingest (compact_every=3 with
    in-stream vacuum): a 5-batch stream ends with ONE plain compacted
    epoch whose serving equals the from-scratch query — the
    chain-since-last-compact cadence applied to the co-occurrence
    state (graph.compact_related_items_state rewrites the resolved
    view of all four components plus the meta sidecar)."""
    import os
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import graph
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        related_items_maintenance_ingest,
    )

    rnd = random.Random(67)
    rows = []
    for bid in range(200):
        for it in rnd.sample(range(30), rnd.randint(2, 4)):
            rows.append((bid, it))
    hist = spark.createDataFrame(rows, ["basket", "item"])
    stage, root = str(tmp_path / "stage"), str(tmp_path / "root")
    _stage_parquet_batches(
        spark,
        stage,
        [hist.where(F2.col("basket") % 5 == p) for p in range(5)],
    )
    stream = (
        spark.readStream.schema(hist.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = related_items_maintenance_ingest(
        stream, root, k=4, min_count=2,
        checkpoint_dir=str(tmp_path / "cp"), compact_every=3,
    )
    q.awaitTermination(300)
    epochs = cow.list_epochs(spark, root)
    assert len(epochs) == 1 and epochs[0].endswith("_compact"), epochs
    cur = cow.get_current(spark, root)
    assert cow.read_manifest(spark, cur, "pairs") is None
    got = sorted(
        map(tuple, graph.related_items_topk(spark, cur).collect())
    )
    exp = sorted(
        map(
            tuple,
            graph.related_items(hist, k=4, min_count=2).collect(),
        )
    )
    assert got == exp and len(got) > 0


def test_epochs_since_compact_ignores_crashed_compact(spark, tmp_path):
    """r12 ADVICE: a ``*_compact`` epoch written by a crashed run that
    never reached set_current must NOT reset the chain counter — it
    sorts AFTER the pointer, so anchoring on "any compact name"
    under-reported the live chain and deferred the next compaction a
    full cycle. The anchor is now the last compact AT-OR-BEFORE the
    current pointer."""
    import os

    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        _epochs_since_compact,
    )

    root = str(tmp_path / "root")
    # e0 (build), e1 (applied compact), e2/e3 (merges) — pointer at e3
    names = []
    for label in ("", "compact", "b1", "b2"):
        e = cow.new_epoch_path(spark, root, label=label)
        os.makedirs(e)
        names.append(e)
    cow.set_current(spark, root, names[3])
    # applied compact at e1: chain = e1(compact base) + e2 + e3 = 3
    assert _epochs_since_compact(spark, root) == 3
    # a CRASHED compact (written, never set_current'd) lands at e4:
    # it must not become the anchor — the live chain is still rooted
    # at e1 (the crashed dir itself counts as one member, erring
    # toward compacting sooner, never later)
    e4 = cow.new_epoch_path(spark, root, label="compact")
    os.makedirs(e4)
    assert e4.endswith("_compact")
    assert _epochs_since_compact(spark, root) == 4
    # once a compaction actually APPLIES (pointer reaches it), the
    # counter resets through it
    cow.set_current(spark, root, e4)
    assert _epochs_since_compact(spark, root) == 1


def _ivfpq_rows(spark, idx, qs, **kw):
    from data_lake_with_spark_spark.operators import similarity as S

    return sorted(
        map(tuple, S.ivfpq_topk_indexed(spark, idx, qs, **kw).collect())
    )


@pytest.mark.slow
def test_ivfpq_index_maintenance_ingest_matches_batch_build(
    spark, tmp_path
):
    """Streaming maintenance for the PRODUCTION serving family (r12
    verdict #3 — ivfpq_index_maintenance_ingest): bootstrap trains
    BOTH frozen quantizers (coarse centroids + residual codebooks),
    two merge batches manifest-merge under the lifecycle root, and
    the served residual-ADC top-k is IDENTICAL to a from-scratch
    build_ivfpq_index over the union with the same seed stripes."""
    import os
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        ivfpq_index_maintenance_ingest,
    )

    rnd = random.Random(11)
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    stage, root, cp = (str(tmp_path / d) for d in ("stage", "root", "cp"))
    md = 20
    frozen = (F2.col("vec_id") % md == 0) | (F2.col("vec_id") % md == 1)
    _stage_parquet_batches(
        spark,
        stage,
        [
            vecs.where(frozen | (F2.col("vec_id") % 3 == 0)),
            vecs.where(~frozen & (F2.col("vec_id") % 3 == 1)),
            vecs.where(~frozen & (F2.col("vec_id") % 3 == 2)),
        ],
    )
    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = ivfpq_index_maintenance_ingest(
        stream, root, dim=8, m=2, centroid_mod=md, n_buckets=4,
        checkpoint_dir=cp,
    )
    q.awaitTermination(300)
    epochs = cow.list_epochs(spark, root)
    assert len(epochs) == 3
    cur = cow.get_current(spark, root)
    assert os.path.basename(cur) == epochs[-1]
    assert cow.read_manifest(spark, cur, "codes") is not None
    scratch = str(tmp_path / "scratch")
    S.build_ivfpq_index(
        vecs, scratch, dim=8, m=2, centroid_mod=md, n_buckets=4
    )
    qs = vecs.where(F2.col("vec_id") < 5)
    got = _ivfpq_rows(spark, cur, qs, k=5, nprobe=3)
    exp = _ivfpq_rows(spark, scratch, qs, k=5, nprobe=3)
    assert got == exp and len(got) == 5 * 5


@pytest.mark.slow
def test_ivfpq_ingest_replay_and_fresh_stripe_guards(spark, tmp_path):
    """Replay + doubly-frozen contract for the IVFPQ ingest: (1) a
    FULL re-delivery (fresh checkpoint, same root) is a no-op on the
    resolved view — the replayed bootstrap's centroid-source AND
    codebook-source ids verify bit-identical against the carried
    quantizers and drop; (2) a post-bootstrap batch carrying a NEW id
    in EITHER frozen stripe raises; (3) a frozen-source id with
    DIFFERENT bytes raises (retrain attempt)."""
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        ivfpq_index_maintenance_ingest,
    )

    rnd = random.Random(13)
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    stage, root = str(tmp_path / "stage"), str(tmp_path / "root")
    md = 20
    frozen = (F2.col("vec_id") % md == 0) | (F2.col("vec_id") % md == 1)
    batches = [
        vecs.where(frozen | (F2.col("vec_id") % 3 == 0)),
        vecs.where(~frozen & (F2.col("vec_id") % 3 != 0)),
    ]
    _stage_parquet_batches(spark, stage, batches)

    def run(cp_name):
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = ivfpq_index_maintenance_ingest(
            stream, root, dim=8, m=2, centroid_mod=md, n_buckets=4,
            checkpoint_dir=str(tmp_path / cp_name),
        )
        q.awaitTermination(300)

    run("cp1")
    qs = vecs.where(F2.col("vec_id") < 5)
    before = _ivfpq_rows(
        spark, cow.get_current(spark, root), qs, k=5, nprobe=3
    )
    # (1) full re-delivery: fresh checkpoint, same root — resolved
    # view unchanged (replays verified + dropped; ordinary ids upsert
    # onto themselves)
    run("cp2")
    after = _ivfpq_rows(
        spark, cow.get_current(spark, root), qs, k=5, nprobe=3
    )
    assert after == before

    # (2) NEW frozen-stripe ids after bootstrap raise — both stripes
    for bad_id in (400, 401):  # 400 ≡ 0, 401 ≡ 1 (mod 20)
        _stage_parquet_batches(
            spark,
            str(tmp_path / f"stage_bad{bad_id}"),
            [spark.createDataFrame(
                [(bad_id, [0.5] * 8)], ["vec_id", "embedding"]
            )],
        )
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / f"stage_bad{bad_id}"))
        )
        q = ivfpq_index_maintenance_ingest(
            stream, root, dim=8, m=2, centroid_mod=md, n_buckets=4,
            checkpoint_dir=str(tmp_path / f"cp_bad{bad_id}"),
        )
        with pytest.raises(Exception, match="NEW id"):
            q.awaitTermination(300)

    # (3) a frozen-source id with DIFFERENT bytes is a retrain
    # attempt: centroid-source (≡0) and codebook-source (≡1)
    for stale_id, msg in ((20, "centroid-source"), (21, "codebook-source")):
        _stage_parquet_batches(
            spark,
            str(tmp_path / f"stage_stale{stale_id}"),
            [spark.createDataFrame(
                [(stale_id, [9.0] * 8)], ["vec_id", "embedding"]
            )],
        )
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / f"stage_stale{stale_id}"))
        )
        q = ivfpq_index_maintenance_ingest(
            stream, root, dim=8, m=2, centroid_mod=md, n_buckets=4,
            checkpoint_dir=str(tmp_path / f"cp_stale{stale_id}"),
        )
        with pytest.raises(Exception, match=msg):
            q.awaitTermination(300)


@pytest.mark.slow
def test_ivfpq_retrain_under_ingest_cas_and_restart(spark, tmp_path):
    """Retrain racing a streaming ingest (r12 verdict #4) — the
    DECIDED semantics, pinned: (a) mid-batch, the ingest's CAS commit
    (expected = the pointer it derived from) RAISES StalePointerError
    once a retrain re-points the root, so the in-flight batch fails
    fast instead of orphaning the retrained epoch for vacuum to
    delete; (b) on restart, foreachBatch re-delivers the batch, the
    ingest re-resolves get_current, and the batch merges against the
    RETRAINED quantizers — the stream ends bit-identical to a
    from-scratch rebuild over the final corpus with the retrained
    seed sets."""
    import os
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        ivfpq_index_maintenance_ingest,
    )

    rnd = random.Random(17)
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    stage, root, cp = (str(tmp_path / d) for d in ("stage", "root", "cp"))
    md = 20
    frozen = (F2.col("vec_id") % md == 0) | (F2.col("vec_id") % md == 1)
    b0 = vecs.where(frozen | (F2.col("vec_id") % 3 == 0))
    _stage_parquet_batches(spark, stage, [b0])

    def run():
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = ivfpq_index_maintenance_ingest(
            stream, root, dim=8, m=2, centroid_mod=md, n_buckets=4,
            checkpoint_dir=cp,
        )
        q.awaitTermination(300)

    run()  # bootstrap drains b0 → epoch 0

    # out-of-band maintenance while the stream is quiesced: GDPR
    # erase two CODEBOOK-SOURCE ids (21, 41 ≡ 1 mod 20) so the
    # retrain genuinely moves the quantizer (fewer codebook entries)
    doomed = [21, 41]
    e1 = cow.new_epoch_path(spark, root, label="gdpr")
    S.delete_from_ivfpq_index(
        spark,
        cow.get_current(spark, root),
        spark.createDataFrame([(i,) for i in doomed], ["vec_id"]),
        e1,
        layout="manifest",
    )
    cow.set_current(spark, root, e1, expected=cow.get_current(spark, root))
    stale_cur = cow.get_current(spark, root)

    survivors = b0.where(~F2.col("vec_id").isin(doomed))
    S.retrain_ivfpq_index(
        spark, root, survivors, dim=8, m=2, centroid_mod=md
    )
    retrained = cow.get_current(spark, root)
    assert retrained != stale_cur

    # (a) the mid-batch shape: a maintainer still holding the
    # pre-retrain pointer tries to commit — CAS raises, nothing moves
    e_stale = cow.new_epoch_path(spark, root, label="stalewrite")
    os.makedirs(e_stale)
    with pytest.raises(cow.StalePointerError, match="moved"):
        cow.set_current(spark, root, e_stale, expected=stale_cur)
    assert cow.get_current(spark, root) == retrained

    # (b) the restart shape: a new batch of ordinary ids arrives; the
    # resumed ingest re-resolves get_current and merges against the
    # RETRAINED quantizers
    b1 = spark.createDataFrame(
        [
            (i, [rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(300, 340)
            if i % md not in (0, 1)
        ],
        ["vec_id", "embedding"],
    )
    _stage_parquet_batches(spark, stage, [b1])
    run()
    final = survivors.unionByName(b1)
    scratch = str(tmp_path / "scratch")
    S.build_ivfpq_index(
        final, scratch, dim=8, m=2, centroid_mod=md, n_buckets=4
    )
    qs = final.where(F2.col("vec_id") < 5)
    got = _ivfpq_rows(
        spark, cow.get_current(spark, root), qs, k=5, nprobe=3
    )
    exp = _ivfpq_rows(spark, scratch, qs, k=5, nprobe=3)
    assert got == exp and len(got) > 0


@pytest.mark.slow
def test_pq_index_maintenance_ingest_matches_batch_build(spark, tmp_path):
    """Streaming maintenance for the plain-PQ family (r12 verdict #3,
    second named family — pq_index_maintenance_ingest): bootstrap
    trains the frozen codebooks, two merge batches manifest-merge,
    and the served ADC top-k is IDENTICAL to a from-scratch
    build_pq_index over the union with the same seed stripe. A full
    re-delivery (fresh checkpoint) is a no-op on the resolved view;
    a NEW seed-stripe id and a STALE codebook-source id raise."""
    import os
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        pq_index_maintenance_ingest,
    )

    rnd = random.Random(19)
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    stage, root = str(tmp_path / "stage"), str(tmp_path / "root")
    md = 20
    is_seed = F2.col("vec_id") % md == 0
    _stage_parquet_batches(
        spark,
        stage,
        [
            vecs.where(is_seed | (F2.col("vec_id") % 3 == 0)),
            vecs.where(~is_seed & (F2.col("vec_id") % 3 == 1)),
            vecs.where(~is_seed & (F2.col("vec_id") % 3 == 2)),
        ],
    )

    def run(cp_name, stage_dir=stage):
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        q = pq_index_maintenance_ingest(
            stream, root, dim=8, m=2, centroid_mod=md, n_buckets=4,
            checkpoint_dir=str(tmp_path / cp_name),
        )
        q.awaitTermination(300)

    run("cp1")
    epochs = cow.list_epochs(spark, root)
    assert len(epochs) == 3
    cur = cow.get_current(spark, root)
    assert os.path.basename(cur) == epochs[-1]
    assert cow.read_manifest(spark, cur, "codes") is not None
    scratch = str(tmp_path / "scratch")
    S.build_pq_index(
        vecs, scratch, dim=8, m=2, centroid_mod=md, n_buckets=4
    )
    qs = vecs.where(F2.col("vec_id") < 5)

    def serve(path):
        return sorted(
            map(tuple, S.pq_topk_indexed(spark, path, qs, k=5).collect())
        )

    exp = serve(scratch)
    assert serve(cur) == exp and len(exp) == 5 * 5
    # full re-delivery: fresh checkpoint, same root — resolved view
    # unchanged (codebook-source replays verified + dropped; ordinary
    # ids upsert onto themselves)
    run("cp2")
    assert serve(cow.get_current(spark, root)) == exp
    # NEW seed-stripe id raises; STALE codebook-source raises
    for vid, vec, msg in (
        (400, [0.5] * 8, "NEW id"),
        (20, [9.0] * 8, "codebook-source"),
    ):
        sd = str(tmp_path / f"stage_{vid}")
        _stage_parquet_batches(
            spark,
            sd,
            [spark.createDataFrame([(vid, vec)], ["vec_id", "embedding"])],
        )
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sd)
        )
        q = pq_index_maintenance_ingest(
            stream, root, dim=8, m=2, centroid_mod=md, n_buckets=4,
            checkpoint_dir=str(tmp_path / f"cp_{vid}"),
        )
        with pytest.raises(Exception, match=msg):
            q.awaitTermination(300)
    # empty-stripe bootstrap raises pre-write (fresh root)
    sd2 = str(tmp_path / "stage_nostripe")
    _stage_parquet_batches(
        spark, sd2, [vecs.where(~is_seed & (F2.col("vec_id") % 3 == 1))]
    )
    stream = (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sd2)
    )
    root2 = str(tmp_path / "root2")
    q = pq_index_maintenance_ingest(
        stream, root2, dim=8, m=2, centroid_mod=md,
        checkpoint_dir=str(tmp_path / "cp_nostripe"),
    )
    with pytest.raises(Exception, match="no vec_id"):
        q.awaitTermination(300)


@pytest.mark.slow
def test_ingest_stripe_rule_tracks_retrained_mod(spark, tmp_path):
    """After a retrain CHANGES the quantizer budget, the ingest's
    fresh-stripe enforcement must key off the mod the index was
    actually retrained with (stamped in the meta sidecar), not the
    ingest's constructor parameter — in BOTH directions: a finer
    retrain (mod 20→10) makes a previously-ordinary id a seed id
    (must now raise — pre-fix it merged silently and the streamed
    index diverged from a rebuild); a coarser retrain (mod 20→40)
    makes a previously-seed id ordinary (must now merge — pre-fix it
    falsely raised)."""
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        vector_index_maintenance_ingest,
    )

    rnd = random.Random(41)
    corpus = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(100)],
        ["vec_id", "embedding"],
    )

    def run(root, stage, cp):
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = vector_index_maintenance_ingest(
            stream, root, centroid_mod=20, checkpoint_dir=cp
        )
        q.awaitTermination(300)
        return q

    # --- finer retrain: id 210 ≡ 0 (mod 10) but ≢ 0 (mod 20) --------
    rootA = str(tmp_path / "rootA")
    stageA = str(tmp_path / "stageA")
    _stage_parquet_batches(spark, stageA, [corpus])
    run(rootA, stageA, str(tmp_path / "cpA"))
    S.retrain_ivf_index(spark, rootA, centroid_mod=10)
    _stage_parquet_batches(
        spark, stageA,
        [spark.createDataFrame([(210, [0.3] * 8)], ["vec_id", "embedding"])],
    )
    with pytest.raises(Exception, match="NEW id"):
        run(rootA, stageA, str(tmp_path / "cpA"))

    # --- coarser retrain: id 220 ≡ 0 (mod 20) but ≢ 0 (mod 40) ------
    rootB = str(tmp_path / "rootB")
    stageB = str(tmp_path / "stageB")
    _stage_parquet_batches(spark, stageB, [corpus])
    run(rootB, stageB, str(tmp_path / "cpB"))
    S.retrain_ivf_index(spark, rootB, centroid_mod=40)
    b1 = spark.createDataFrame(
        [(220, [rnd.uniform(-1, 1) for _ in range(8)])],
        ["vec_id", "embedding"],
    )
    _stage_parquet_batches(spark, stageB, [b1])
    run(rootB, stageB, str(tmp_path / "cpB"))  # must NOT raise
    scratch = str(tmp_path / "scratch")
    S.build_ivf_index(corpus.unionByName(b1), scratch, centroid_mod=40)
    qs = corpus.where(F2.col("vec_id") < 5)
    got = sorted(
        map(
            tuple,
            S.ivf_topk_indexed(
                spark, cow.get_current(spark, rootB), qs, k=5, nprobe=3
            ).collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            S.ivf_topk_indexed(spark, scratch, qs, k=5, nprobe=3).collect(),
        )
    )
    assert got == exp and len(got) == 5 * 5


@pytest.mark.slow
def test_pq_ingest_stripe_rule_tracks_retrained_mod(spark, tmp_path):
    """The PQ twin of test_ingest_stripe_rule_tracks_retrained_mod: a
    coarser retrain (mod 20→40) makes a previously-seed id ordinary —
    the resumed ingest must merge it (the constructor-mod rule would
    falsely raise) and serve equal to the rebuild with the retrained
    codebooks."""
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        pq_index_maintenance_ingest,
    )

    rnd = random.Random(43)
    corpus = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    root, stage, cp = (str(tmp_path / d) for d in ("root", "stage", "cp"))

    def run():
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = pq_index_maintenance_ingest(
            stream, root, dim=8, m=2, centroid_mod=20, n_buckets=2,
            checkpoint_dir=cp,
        )
        q.awaitTermination(300)

    _stage_parquet_batches(spark, stage, [corpus])
    run()
    S.retrain_pq_index(
        spark, root, corpus, dim=8, m=2, centroid_mod=40, n_buckets=2
    )
    # id 220 ≡ 0 (mod 20) but ≢ 0 (mod 40): ordinary under the
    # retrained codebooks — must merge, not raise
    b1 = spark.createDataFrame(
        [(220, [rnd.uniform(-1, 1) for _ in range(8)])],
        ["vec_id", "embedding"],
    )
    _stage_parquet_batches(spark, stage, [b1])
    run()
    scratch = str(tmp_path / "scratch")
    S.build_pq_index(
        corpus.unionByName(b1), scratch, dim=8, m=2, centroid_mod=40,
        n_buckets=2,
    )
    qs = corpus.where(F2.col("vec_id") < 5)
    got = sorted(
        map(
            tuple,
            S.pq_topk_indexed(
                spark, cow.get_current(spark, root), qs, k=5
            ).collect(),
        )
    )
    exp = sorted(
        map(tuple, S.pq_topk_indexed(spark, scratch, qs, k=5).collect())
    )
    assert got == exp and len(got) == 5 * 5


@pytest.mark.slow
def test_ivfpq_ingest_stripe_rule_tracks_retrained_mod(spark, tmp_path):
    """The IVFPQ twin: after a coarser retrain (mod 20→40), an id that
    was a seed under the bootstrap mod is ordinary under the retrained
    quantizers — the resumed ingest must merge it and serve equal to
    the rebuild (the constructor-mod rule would falsely raise)."""
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        ivfpq_index_maintenance_ingest,
    )

    rnd = random.Random(47)
    vecs = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    root, stage, cp = (str(tmp_path / d) for d in ("root", "stage", "cp"))
    md = 20
    frozen = (F2.col("vec_id") % md == 0) | (F2.col("vec_id") % md == 1)

    def run():
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = ivfpq_index_maintenance_ingest(
            stream, root, dim=8, m=2, centroid_mod=md, n_buckets=4,
            checkpoint_dir=cp,
        )
        q.awaitTermination(300)

    _stage_parquet_batches(
        spark, stage, [vecs.where(frozen | (F2.col("vec_id") % 3 == 0))]
    )
    run()
    survivors = vecs.where(frozen | (F2.col("vec_id") % 3 == 0))
    S.retrain_ivfpq_index(
        spark, root, survivors, dim=8, m=2, centroid_mod=40, n_buckets=4
    )
    # 220 ≡ 0 (mod 20), 221 ≡ 1 (mod 20) — BOTH ordinary under mod 40
    b1 = spark.createDataFrame(
        [
            (220, [rnd.uniform(-1, 1) for _ in range(8)]),
            (221, [rnd.uniform(-1, 1) for _ in range(8)]),
        ],
        ["vec_id", "embedding"],
    )
    _stage_parquet_batches(spark, stage, [b1])
    run()  # must NOT raise
    scratch = str(tmp_path / "scratch")
    S.build_ivfpq_index(
        survivors.unionByName(b1), scratch, dim=8, m=2, centroid_mod=40,
        n_buckets=4,
    )
    qs = survivors.where(F2.col("vec_id") < 5)
    got = _ivfpq_rows(
        spark, cow.get_current(spark, root), qs, k=5, nprobe=3
    )
    exp = _ivfpq_rows(spark, scratch, qs, k=5, nprobe=3)
    # only the bootstrap-filter survivors among ids 0..4 are queries
    assert got == exp and len(got) > 0


def test_ingest_stats_sink_matches_posthoc_reports(spark, tmp_path):
    """r13 verdict #5 — the per-batch stats sink: an ingest run with
    stats_dir emits ONE health row per committed micro-batch, so
    drift is observed DURING maintenance instead of by a separate
    probe. Gates: (a) one row per non-empty batch, batch_ids ordered,
    every row names a published epoch; (b) the FINAL row equals the
    post-hoc report over the final root (BM25: bm25_staleness_report
    verbatim; IVFPQ: the occupancy leg of index_staleness_report,
    with the sampled-error columns NULL in-stream — the ingest holds
    no corpus handle); (c) the drift story composes: avgdl in the
    BM25 stats stream moves batch-over-batch as the corpus grows."""
    import os

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.operators import text as T
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        DOCUMENT_STREAM_SCHEMA,
        index_maintenance_ingest,
        ivfpq_index_maintenance_ingest,
    )

    # --- BM25 family ------------------------------------------------
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(3 + i % 5)),
             "en", "s")
            for i in range(120)
        ],
        ["doc_id", "text", "lang", "source"],
    )
    stage, root, cp, stats = (
        str(tmp_path / d) for d in ("stage", "root", "cp", "stats")
    )
    for part in range(3):
        docs.where(F2.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).json(stage)
    stream = (
        spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
    )
    q = index_maintenance_ingest(stream, root, checkpoint_dir=cp,
                                 stats_dir=stats)
    q.awaitTermination(300)
    rows = sorted(
        (r.asDict() for r in spark.read.parquet(stats).collect()),
        key=lambda r: r["batch_id"],
    )
    assert [r["batch_id"] for r in rows] == [0, 1, 2]
    epochs = {f"{root}/epochs/{e}" for e in cow.list_epochs(spark, root)}
    assert all(r["epoch"] in {os.path.abspath(e) for e in epochs}
               for r in rows)
    # final row == post-hoc report on the final root, column for column
    post = T.bm25_staleness_report(spark, root).collect()[0].asDict()
    final = {k: v for k, v in rows[-1].items()
             if k not in ("batch_id", "epoch")}
    assert final == post
    # the drift signal moved DURING maintenance: doc count grew
    assert rows[0]["n_docs"] < rows[1]["n_docs"] < rows[2]["n_docs"]

    # --- IVFPQ family (occupancy-only in-stream) ---------------------
    import random

    rnd = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(240)],
        ["vec_id", "embedding"],
    )
    vstage, vroot, vcp, vstats = (
        str(tmp_path / d) for d in ("vstage", "vroot", "vcp", "vstats")
    )
    md = 12
    is_frozen = (F2.col("vec_id") % md == 0) | (F2.col("vec_id") % md == 1)
    batches = [
        emb.where(is_frozen | (F2.col("vec_id") % 3 == 0)),
        emb.where(~is_frozen & (F2.col("vec_id") % 3 == 1)),
        emb.where(~is_frozen & (F2.col("vec_id") % 3 == 2)),
    ]
    _stage_parquet_batches(spark, vstage, batches)
    vstream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vstage)
    )
    vq = ivfpq_index_maintenance_ingest(
        vstream, vroot, dim=8, m=2, centroid_mod=md, n_buckets=4,
        checkpoint_dir=vcp, stats_dir=vstats,
    )
    vq.awaitTermination(300)
    vrows = sorted(
        (r.asDict() for r in spark.read.parquet(vstats).collect()),
        key=lambda r: r["batch_id"],
    )
    assert [r["batch_id"] for r in vrows] == [0, 1, 2]
    # in-stream rows carry the occupancy leg; the error leg is NULL
    assert all(r["recon_err_sum"] is None and r["n_sampled"] == 0
               for r in vrows)
    vpost = S.index_staleness_report(spark, vroot).collect()[0].asDict()
    vfinal = {k: v for k, v in vrows[-1].items()
              if k not in ("batch_id", "epoch")}
    assert vfinal == vpost
    # the occupancy columns agree with the FULL (corpus-fed) report
    vfull = S.index_staleness_report(spark, vroot, emb).collect()[0].asDict()
    for k in ("n_cells", "dead_cells", "occ_min", "occ_max", "n_vecs"):
        assert vfinal[k] == vfull[k]
    # ...which does carry the error leg
    assert vfull["n_sampled"] > 0 and vfull["recon_err_sum"] is not None
    # vectors accumulated batch-over-batch
    assert vrows[0]["n_vecs"] < vrows[1]["n_vecs"] < vrows[2]["n_vecs"]


def test_ingest_stats_sink_remaining_families(spark, tmp_path):
    """The stats sink's other three families (IVF / plain-PQ /
    related-items): wiring gate — each ingest run with stats_dir
    emits one row per batch whose FINAL row equals the family's
    post-hoc report over the final root (IVF's report is
    self-contained; PQ's in-stream mode is utilization-only with the
    error columns NULL; related-items' report is the full health
    row). A typo in any family's report call would only ever surface
    here or in production."""
    import random

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import graph
    from data_lake_with_spark_spark.operators import similarity as S
    from data_lake_with_spark_spark.streaming.events import (
        pq_index_maintenance_ingest,
        related_items_maintenance_ingest,
        vector_index_maintenance_ingest,
    )

    rnd = random.Random(19)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(180)],
        ["vec_id", "embedding"],
    )
    md = 15

    def stats_rows(path):
        return sorted(
            (r.asDict() for r in spark.read.parquet(path).collect()),
            key=lambda r: r["batch_id"],
        )

    def strip(row):
        return {k: v for k, v in row.items() if k not in ("batch_id", "epoch")}

    # --- IVF -----------------------------------------------------------
    stage, root, cp, stats = (
        str(tmp_path / d) for d in ("is", "ir", "ic", "ist")
    )
    frozen = F2.col("vec_id") % md == 0
    _stage_parquet_batches(
        spark, stage,
        [emb.where(frozen | (F2.col("vec_id") % 2 == 0)),
         emb.where(~frozen & (F2.col("vec_id") % 2 == 1))],
    )
    q = vector_index_maintenance_ingest(
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(stage),
        root, centroid_mod=md, vec_dim=8, checkpoint_dir=cp,
        stats_dir=stats,
    )
    q.awaitTermination(300)
    rows = stats_rows(stats)
    assert [r["batch_id"] for r in rows] == [0, 1]
    post = S.ivf_staleness_report(spark, root).collect()[0].asDict()
    assert strip(rows[-1]) == post
    # IVF's report is self-contained: the residual leg is populated
    assert rows[-1]["n_sampled"] > 0

    # --- plain PQ ------------------------------------------------------
    stage, root, cp, stats = (
        str(tmp_path / d) for d in ("ps", "pr", "pc", "pst")
    )
    _stage_parquet_batches(
        spark, stage,
        [emb.where(frozen | (F2.col("vec_id") % 2 == 0)),
         emb.where(~frozen & (F2.col("vec_id") % 2 == 1))],
    )
    q = pq_index_maintenance_ingest(
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(stage),
        root, dim=8, m=2, centroid_mod=md, checkpoint_dir=cp,
        stats_dir=stats,
    )
    q.awaitTermination(300)
    rows = stats_rows(stats)
    assert [r["batch_id"] for r in rows] == [0, 1]
    post = S.pq_staleness_report(spark, root).collect()[0].asDict()
    assert strip(rows[-1]) == post
    assert rows[-1]["recon_err_sum"] is None  # utilization-only in-stream

    # --- related items -------------------------------------------------
    baskets = spark.createDataFrame(
        [(b, f"it{(b * 3 + j) % 25}") for b in range(150) for j in range(3)],
        ["basket", "item"],
    )
    stage, root, cp, stats = (
        str(tmp_path / d) for d in ("rs", "rr", "rc", "rst")
    )
    _stage_parquet_batches(
        spark, stage,
        [baskets.where(F2.col("basket") % 2 == p) for p in range(2)],
    )
    q = related_items_maintenance_ingest(
        spark.readStream.schema(baskets.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage),
        root, k=3, min_count=2, n_buckets=4, checkpoint_dir=cp,
        stats_dir=stats,
    )
    q.awaitTermination(300)
    rows = stats_rows(stats)
    assert [r["batch_id"] for r in rows] == [0, 1]
    post = graph.related_items_health(spark, root).collect()[0].asDict()
    assert strip(rows[-1]) == post
    assert rows[-1]["n_incidence"] == baskets.distinct().count()


@pytest.mark.slow
def test_stats_sink_composes_with_compaction_and_locked_store(
    spark, tmp_path
):
    """Composition probes on the r14 surfaces (the r13 §14 lesson —
    composition testing is what finds the real bugs): (a) the stats
    sink keeps emitting one row per batch when compact_every fires
    mid-stream, and the post-compact row describes the COMPACTED
    epoch; (b) the whole ingest runs with LockedPointerStore as the
    process default (every CAS commit through the O_EXCL lock), and
    serving equals a from-scratch build."""
    import os

    from pyspark.sql import functions as F2

    from data_lake_with_spark_spark.operators import text as T
    from data_lake_with_spark_spark.sources import cow
    from data_lake_with_spark_spark.streaming.events import (
        DOCUMENT_STREAM_SCHEMA,
        index_maintenance_ingest,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"t{(i + j) % 31}" for j in range(6)), "en", "s")
            for i in range(150)
        ],
        ["doc_id", "text", "lang", "source"],
    )
    stage, root, cp, stats = (
        str(tmp_path / d) for d in ("stage", "root", "cp", "stats")
    )
    for part in range(3):
        docs.where(F2.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).json(stage)
    prev = cow.set_pointer_store(cow.LockedPointerStore(timeout_seconds=60))
    try:
        stream = (
            spark.readStream.schema(DOCUMENT_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(stage)
        )
        q = index_maintenance_ingest(
            stream, root, checkpoint_dir=cp, compact_every=2,
            stats_dir=stats,
        )
        q.awaitTermination(300)
    finally:
        cow.set_pointer_store(prev)
    rows = sorted(
        (r.asDict() for r in spark.read.parquet(stats).collect()),
        key=lambda r: r["batch_id"],
    )
    assert [r["batch_id"] for r in rows] == [0, 1, 2]
    # a compaction fired mid-stream; the affected row names the epoch
    # the pointer ended the batch on
    assert any("compact" in os.path.basename(r["epoch"]) for r in rows)
    post = T.bm25_staleness_report(spark, root).collect()[0].asDict()
    assert {k: v for k, v in rows[-1].items()
            if k not in ("batch_id", "epoch")} == post
    # no lock residue, and serving equals a from-scratch build
    assert not os.path.exists(f"{root}/current.json.lock")
    scratch = str(tmp_path / "scratch")
    T.build_bm25_index(docs.select("doc_id", "text"), scratch)
    qs = spark.createDataFrame([(1, "t3 t7"), (2, "t20 t1")],
                               ["query_id", "text"])
    cur = cow.get_current(spark, root)
    got = sorted(map(tuple, T.bm25_topk_indexed(spark, cur, qs, k=5).collect()))
    exp = sorted(map(tuple, T.bm25_topk_indexed(spark, scratch, qs, k=5).collect()))
    assert got == exp and len(got) > 0


@pytest.mark.parametrize("family", ["ivf", "pq", "ivfpq"])
def test_vector_ingest_admission_and_compaction(spark, tmp_path, family):
    """The vector ingests' admission contract and in-stream compaction
    on a tiny corpus (dim 8, m 2, n_buckets 4): with compact_every=2
    every batch leaves read amplification ≤ 2 and nothing retired; a
    replayed bootstrap batch leaves the resolved index rows unchanged,
    and a replay of only frozen-source ids does not move current.json;
    a frozen-source id with different bytes, a NEW id on a fresh
    stripe and (IVF, PQ) a bootstrap without the stripe all raise and
    commit nothing."""
    import os
    import random
    from functools import partial

    from data_lake_with_spark_spark.sources import cow

    md = 20
    pq_kw = {"dim": 8, "m": 2, "centroid_mod": md, "n_buckets": 4}
    ingest, stripes, frozen_errors, components = {
        "ivf": (
            partial(SE.vector_index_maintenance_ingest, centroid_mod=md),
            (0,),
            {0: "centroid-source"},
            ["lists", "centroids"],
        ),
        "pq": (
            partial(SE.pq_index_maintenance_ingest, **pq_kw),
            (0,),
            {0: "codebook-source"},
            ["codes", "codebooks"],
        ),
        "ivfpq": (
            partial(SE.ivfpq_index_maintenance_ingest, **pq_kw),
            (0, 1),
            {0: "centroid-source", 1: "codebook-source"},
            ["codes", "centroids", "codebooks"],
        ),
    }[family]
    rnd = random.Random(23)

    def vec():
        return [rnd.uniform(-1, 1) for _ in range(8)]

    vecs = spark.createDataFrame(
        [(i, vec()) for i in range(240)], ["vec_id", "embedding"]
    )
    frozen = (F.col("vec_id") % md).isin(*stripes)
    root = str(tmp_path / "root")

    def stage_file(stage, frame, i):
        # one parquet file per batch, mtimes ascending in delivery order
        old = set(os.listdir(stage)) if os.path.isdir(stage) else set()
        frame.coalesce(1).write.mode("append").parquet(stage)
        for name in set(os.listdir(stage)) - old:
            if name.endswith(".parquet"):
                t = 1_000_000_000 + i
                os.utime(os.path.join(stage, name), (t, t))

    def run(stage, cp, on_root=root):
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        ingest(
            stream, on_root, checkpoint_dir=str(tmp_path / cp),
            compact_every=2,
        ).awaitTermination(300)

    def run_once(frame, name, on_root=root):
        stage_file(str(tmp_path / name), frame, 0)
        run(str(tmp_path / name), f"cp_{name}", on_root)

    def resolved():
        cur = cow.get_current(spark, root)
        out = {}
        for c in components:
            df = cow.read_component(spark, cur, c)
            out[c] = sorted(map(str, df.select(*sorted(df.columns)).collect()))
        return out

    def pointer():
        with open(os.path.join(root, "current.json")) as f:
            return f.read()

    stage = str(tmp_path / "stage")
    batches = [
        vecs.where(frozen | (F.col("vec_id") % 3 == 0)),
        vecs.where(~frozen & (F.col("vec_id") % 3 == 1)),
        vecs.where(~frozen & (F.col("vec_id") % 3 == 2)),
    ]
    for i, b in enumerate(batches):
        stage_file(stage, b, i)
        run(stage, "cp")
        rep = cow.lifecycle_report(spark, root, components)
        assert rep["read_amplification"] <= 2 and rep["retired"] == [], rep
    assert cow.list_epochs(spark, root)[-1].endswith("_compact")

    before = resolved()
    run_once(batches[0], "replay_bootstrap")
    assert resolved() == before
    cur = pointer()
    run_once(vecs.where(frozen), "replay_frozen")
    assert pointer() == cur

    for stripe, pattern in frozen_errors.items():
        bad = spark.createDataFrame([(2 * md + stripe, vec())], vecs.schema)
        with pytest.raises(Exception, match=pattern):
            run_once(bad, f"bad{stripe}")
    new = spark.createDataFrame(
        [(1000 + stripes[-1], vec()), (1003, vec())], vecs.schema
    )
    with pytest.raises(Exception, match="NEW id"):
        run_once(new, "new_stripe")
    assert pointer() == cur and resolved() == before

    if family != "ivfpq":
        root2 = str(tmp_path / "root2")
        with pytest.raises(Exception, match="no vec_id"):
            run_once(vecs.where(~frozen), "empty_stripe", on_root=root2)
        with pytest.raises(FileNotFoundError):
            cow.get_current(spark, root2)

"""Structured Streaming over the events stream.

The reference is pure batch (SURVEY §2 I5) — its "stream-shaped" data
(user event logs) is processed as daily files. This module is the
north-star streaming surface: the same event pipeline expressed as
``readStream → transform → writeStream`` with event-time semantics.

Components:
- :func:`read_event_stream` — file-source stream over a directory of
  parquet event files (schema pinned; new files picked up per batch).
- :func:`windowed_counts` — watermarked tumbling/sliding window
  aggregation (late data beyond the watermark dropped, state bounded).
- :func:`session_counts` — native ``session_window`` gap sessions,
  the streaming twin of operators/windows.sessionize.
- :func:`running_user_totals` — custom stateful aggregation via
  ``applyInPandasWithState`` (per-user running totals with timeout) —
  the escape hatch for operators Spark's built-ins can't express.

Scale notes: state stores partition by group key; watermarks bound
state size; at 100 TB/day the source would be Kafka with the same
transform graph (source/sink swap only).

Index-maintenance ingests — :func:`index_maintenance_ingest` (BM25),
:func:`vector_index_maintenance_ingest` (IVF),
:func:`pq_index_maintenance_ingest`,
:func:`ivfpq_index_maintenance_ingest` and
:func:`related_items_maintenance_ingest` — keep a serving index under a
lifecycle root (``sources/cow.py``) current from a stream. All five run
one cycle per micro-batch (``_maintain``); each function's docstring
holds only its family's bootstrap stripes, replay rule and first-build
arguments. The shared contracts:

- **Epochs.** The first batch builds epoch 0 of a root that has no
  pointer. Every later batch passes its family's admission check and
  becomes one manifest merge epoch against ``cow.get_current`` (only
  its changed partitions plus a small JSON are written).
- **CAS commit and restart.** The pointer moves last, through
  ``cow.publish``: ``cow.set_current(..., expected=<the pointer the
  epoch was derived from>)``. A reader resolving ``get_current``
  mid-stream therefore always sees a complete epoch. If another
  maintainer (a retrain, an out-of-band merge) moved the pointer
  meanwhile, the commit raises ``cow.StalePointerError`` and the batch
  fails; on restart foreachBatch re-delivers it, and the cycle merges
  it against whatever the other maintainer published.
- **At-least-once replay safety.** foreachBatch re-delivers a batch
  that committed but crashed before its checkpoint did. The family's
  replay rule makes such a batch leave the resolved view unchanged;
  the only residue is at most one extra epoch directory.
- **Chain-length compaction gate.** With ``compact_every=N``, once the
  chain since the last applied compaction (``_epochs_since_compact``,
  an upper bound on the owner epochs a read spans; not the raw
  directory count, which deferred vacuum would keep at N or more)
  reaches N, the trigger compacts the resolved view into one plain
  ``_compact`` epoch and CAS-commits it. Read amplification stays at
  most N owners. With ``vacuum_on_compact`` (the default) the cycle
  then vacuums every epoch the compacted view no longer references,
  so disk stays near twice the index. ``compact_every=None`` leaves
  compaction out-of-band.
- **The ``vacuum_on_compact`` quiesce caveat.** That vacuum gives
  readers of older epochs no quiesce window. It is correct for the
  drain-and-stop ``availableNow`` query these functions start and for
  fleets that re-resolve ``get_current`` between requests. A
  continuous deployment with long-running readers of older epochs
  passes ``vacuum_on_compact=False`` and runs ``cow.vacuum_index``
  after quiesce; compaction still bounds read amplification, only the
  disk reclaim waits.
- ``stats_dir`` appends one health row per committed batch (the
  family's staleness or health report plus ``batch_id`` and
  ``epoch``). Each ingest returns the started ``availableNow`` query;
  ``checkpoint_dir=None`` checkpoints to a fresh temporary directory.
"""

from __future__ import annotations

import os
import tempfile
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_lake_with_spark_spark.operators import graph as _graph
from data_lake_with_spark_spark.operators import similarity as _sim
from data_lake_with_spark_spark.operators import text as _text
from data_lake_with_spark_spark.sources import cow

#: Event schema for streaming reads (events.parquet re-written to a
#: stream dir by tests; ts as an ISO string).
EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", StringType()),  # ISO string in stream files
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    """File-source stream with a pinned schema (no inference races)."""
    reader = spark.readStream.schema(EVENT_STREAM_SCHEMA).format(fmt)
    df = reader.load(path)
    return df.withColumn("ts", F.to_timestamp("ts"))


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked (sliding) window counts per event_type."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-routed sum AND decimal-space round: the sum is
            # exact regardless of accumulation order, and rounding
            # BEFORE the double cast keeps .xx5 boundaries exact too
            # (round-on-double diverges between engines: Spark
            # re-quantizes via BigDecimal.valueOf, DuckDB rounds the
            # raw binary double — review finding)
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows keyed by user (gap-based)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal-space round before the double cast (see
            # windowed_counts)
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_stream_conversions(
    events_a: DataFrame,
    events_b: DataFrame,
    type_a: str = "view",
    type_b: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every ``type_b`` event matched to the
    same user's earlier ``type_a`` events within ``within`` — the
    watermarked conversion-attribution join (view→purchase within an
    hour), the one streaming join shape the rest of this module
    doesn't cover (windowed agg / session / stream-static / dedup /
    CDC / custom state).

    Both sides carry watermarks and the join condition bounds b.ts to
    ``[a.ts, a.ts + within]``, so Spark can compute a state watermark
    and EVICT buffered rows — without the time bound a stream-stream
    join must hold both streams forever. At 100 TB/day this is the
    difference between bounded per-key state and an unbounded join
    buffer. Equi-key: user_id (state partitioned by it).
    """
    a = (
        events_a.where(F.col("event_type") == type_a)
        .select(
            F.col("user_id").alias("a_user"),
            F.col("ts").alias("a_ts"),
            F.col("event_id").alias("a_event_id"),
        )
        .withWatermark("a_ts", watermark)
    )
    b = (
        events_b.where(F.col("event_type") == type_b)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
            F.col("event_id").alias("b_event_id"),
        )
        .withWatermark("b_ts", watermark)
    )
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {within}"))
    )
    return a.join(b, cond, "inner").select(
        F.col("a_user").alias("user_id"),
        "a_event_id",
        "b_event_id",
        "a_ts",
        "b_ts",
    )


def running_user_totals(events: DataFrame, timeout_ms: int = 3600_000) -> DataFrame:
    """Custom stateful operator: per-user running event count + value
    total via applyInPandasWithState (GroupState), emitting one update
    row per batch per active user."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def enriched_windowed_counts(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    group_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static join + windowed aggregation: each micro-batch
    broadcast-joins the static dimension (no state, no shuffle of the
    stream), then counts per (window, dim attribute). The canonical
    'enrich events with a dimension while they flow' shape."""
    joined = events.join(
        F.broadcast(dim), on=events[stream_key] == dim[dim_key], how="inner"
    )
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(group_col),
            "n",
        )
    )


def dedup_stream(
    events: DataFrame, keys: tuple[str, ...] = ("event_id",), watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exactly-once dedup: ``dropDuplicates`` on the event
    key under a watermark, so the dedup state store holds only keys
    newer than (max event time − watermark) — bounded state, the
    standard at-least-once-source → exactly-once-pipeline repair shape
    (re-delivered files/offsets collapse to one row)."""
    return events.withWatermark("ts", watermark).dropDuplicates([*keys])


def cdc_apply_stream(
    updates: DataFrame,
    snapshot_dir: str,
    keys: tuple[str, ...],
    order_col: str,
    tiebreak_cols: tuple[str, ...] = (),
    op_col: str | None = None,
    delete_op: str = "D",
) -> "object":
    """Streaming CDC apply: each micro-batch is reduced to its latest
    row per key (``order_col`` descending, then ``tiebreak_cols``)
    and applied to the target table through
    ``sources.lakehouse.apply_cdc`` — the foreachBatch escape hatch
    that gives any lake Delta-style upsert/delete semantics.

    Ordering-safe since round 5: a change replaces the snapshot row
    only when NEWER by ``(order_col, *tiebreak_cols)`` — so the final
    state is a pure function of the change SET, independent of how
    the file source splits it into micro-batches or replays it,
    which is what makes q90 SQL-oracle-able. With ``op_col``, rows
    whose op equals ``delete_op`` tombstone their key (only when at
    least as new as the snapshot row) — delete/update interleavings
    are value-checked against a batch twin in tests/test_streaming.
    Tombstone caveat (shared with Delta/Kafka-compaction designs):
    an applied delete removes the key outright, so an
    out-of-order UPDATE older than the delete but arriving in a
    LATER batch would re-insert it — batch-split independence with
    deletes holds when each delete is its key's final change (or
    arrives no earlier than the batch of the changes it supersedes);
    full generality needs retained tombstones, which the versioned
    snapshots make easy to add (keep the delete row with a flag).

    The table is immutable versioned parquet snapshots
    (``v000042/``): each batch reads the latest version and writes
    the next, so readers never observe a half-written snapshot and
    the swap is atomic at directory granularity (object-store safe).
    State never lives in the stream — a restart resumes from the last
    committed version + source offsets.
    """
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    from data_lake_with_spark_spark.sources import lakehouse

    order_cols = (order_col, *tiebreak_cols)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy(*keys).orderBy(
            *[SF.col(c).desc() for c in order_cols]
        )
        latest = (
            batch_df.withColumn("_rn", SF.row_number().over(w))
            .where(SF.col("_rn") == 1)
            .drop("_rn")
        )
        lakehouse.apply_cdc(
            batch_df.sparkSession,
            snapshot_dir,
            latest,
            keys,
            order_cols,
            version=batch_id,
            op_col=op_col,
            delete_op=delete_op,
        )

    return (
        updates.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(snapshot_dir, "_checkpoints"))
        .start()
    )


DOCUMENT_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, fmt: str = "json"
) -> DataFrame:
    """File-source document stream with a pinned schema."""
    return spark.readStream.schema(DOCUMENT_STREAM_SCHEMA).format(fmt).load(path)


def fuzzy_dedup_ingest(
    stream_docs: DataFrame,
    corpus_dir: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_k: int = 5,
    bands: int = 4,
    checkpoint_dir: str | None = None,
) -> "object":
    """Continuous corpus ingestion with MinHash-LSH fuzzy dedup: each
    micro-batch is deduped within itself (greedy min-id survivors,
    dedup.minhash_dedup) and then against everything already ACCEPTED
    — any LSH band collision with the accumulated band index drops
    the document. Novel documents append to ``corpus_dir``; their
    band keys append to ``index_dir``, so the index is exactly the
    banded fingerprint of the corpus and grows linearly
    (docs × bands rows, a few dozen bytes each).

    This is the streaming twin of the batch dedup family: the
    cross-corpus check is the same band-key equi-join LSH uses for
    candidate pairs, but as a semi-join against a static side — no
    pair expansion, no verify stage (band collision = drop, the
    standard ingestion-time policy; run the batch Jaccard verify
    offline when precision matters). At 100 TB the index side should
    be written bucketed on ``band_key`` (sinks.write_bucketed) or
    kept in a lakehouse table; file appends here are at-least-once
    under task retries — production points both sinks at a
    transactional table format for ACID appends.
    """
    import os

    from data_lake_with_spark_spark.operators.dedup import (
        minhash_bands,
        minhash_dedup,
        minhash_signatures,
    )

    rows_per_band = num_hashes // bands

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        survivors = minhash_dedup(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            shingle_k=shingle_k,
            bands=bands,
        ).cache()
        try:
            bnd = minhash_bands(
                minhash_signatures(
                    survivors, id_col, text_col, num_hashes, shingle_k
                ),
                id_col,
                bands,
                rows_per_band,
            )
            # index presence probed through the Hadoop FileSystem API
            # (not os.listdir) so the ingest works against s3a://hdfs://
            # index locations, as the lakehouse snapshot listing does
            from data_lake_with_spark_spark.sources.lakehouse import (
                _hadoop_fs,
            )

            fs, hpath = _hadoop_fs(spark, index_dir)
            if fs.exists(hpath) and any(
                s.getPath().getName().endswith(".parquet")
                for s in fs.listStatus(hpath)
            ):
                # the index holds bnd's own rows: read with its schema
                # (no footer-inference job per micro-batch)
                idx = spark.read.schema(bnd.schema).parquet(index_dir)
                dup_ids = (
                    bnd.join(idx, on=["band", "band_key"], how="left_semi")
                    .select(id_col)
                    .distinct()
                )
                novel = survivors.join(dup_ids, on=id_col, how="left_anti")
            else:
                novel = survivors
            novel = novel.cache()
            novel.write.mode("append").parquet(corpus_dir)
            bnd.join(
                novel.select(id_col), on=id_col, how="left_semi"
            ).write.mode("append").parquet(index_dir)
            novel.unpersist()
        finally:
            survivors.unpersist()

    return (
        stream_docs.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(corpus_dir, "_checkpoints"),
        )
        .start()
    )


def _epochs_since_compact(spark, root: str) -> int:
    """Maintenance-chain length for the streaming ingests' compaction
    gate: the number of epoch directories created AFTER the last
    APPLIED ``_compact``-labeled epoch, plus that compact base itself
    (it is an owner of the chain). Before any compaction this is
    simply the epoch count. Derived from epoch NAMES (zero-padded, so
    lexical order is creation order), which makes it restart-safe AND
    immune to deferred vacuum: retired-but-unvacuumed directories all
    sort before the compact that superseded them, so they never
    inflate the count (a raw directory count would re-compact every
    batch once ``vacuum_on_compact=False`` let them linger).

    "Applied" means AT-OR-BEFORE the current pointer: a compact epoch
    written by a crashed run that never reached ``set_current`` sorts
    AFTER the pointer and must not reset the counter (anchoring on any
    ``*_compact`` name would under-report the live chain and defer the
    next compaction a full cycle). Such an orphaned compact dir still
    counts as one chain member (it sits in the listing), which only
    errs toward compacting sooner. An upper bound on the true
    manifest-owner chain (a merge that happens to rewrite every
    partition shortens the real chain but not this count) — the right
    direction for a cadence bound."""
    names = cow.list_epochs(spark, root)
    try:
        cur_name = cow.get_current(spark, root).rstrip("/").split("/")[-1]
    except FileNotFoundError:
        cur_name = None
    last = -1
    for i, n in enumerate(names):
        if n.endswith("_compact") and (cur_name is None or n <= cur_name):
            last = i
    after = len(names) - last - 1
    return after if last < 0 else after + 1


def _emit_batch_stats(root: str, stats_dir: str, batch_id: int, report) -> None:
    """Append one health row per COMMITTED micro-batch to
    ``stats_dir`` (parquet, schema = the family's health report plus
    ``batch_id``/``epoch``), so drift is observed during maintenance
    instead of by a separate probe. Runs AFTER set_current, so every
    row describes a published epoch; the report legs are the same
    bounded column-pruned scans the standalone reports pay (the
    quantized families emit their occupancy/utilization legs — the
    ingest holds no corpus handle, so the sampled-error leg stays
    NULL; run the full report out-of-band when the error axis is
    needed)."""
    spark = report.sparkSession
    (
        report.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        .withColumn("epoch", F.lit(cow.get_current(spark, root)))
        .coalesce(1)
        .write.mode("append")
        .parquet(stats_dir)
    )


def _maintain(
    stream, root, prefix, checkpoint_dir, compact_every, vacuum_on_compact,
    stats_dir, *, project, bootstrap, merge, compact, components, report,
    admit=None,
):
    """The one streaming maintenance cycle behind the five ingests (its
    contracts are in the module docstring). The family pieces:
    ``project(batch_df)`` selects the batch columns;
    ``bootstrap(batch, epoch)`` builds a root's first epoch;
    ``admit(spark, cur, batch)`` returns the rows to merge, or None to
    skip a replayed batch (no ``admit`` takes every row);
    ``merge(spark, cur, rows, epoch)`` writes a manifest epoch;
    ``compact(spark, base, out)`` flattens the chain into a plain
    epoch; ``components`` are what the compaction's vacuum
    resolves; ``report(spark, root)`` is the ``stats_dir`` health row.
    ``prefix`` names the temporary checkpoint directory."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = project(batch_df).localCheckpoint()
        try:
            cur = cow.get_current(spark, root)
        except FileNotFoundError:
            cur, write = None, partial(bootstrap, batch)
        else:
            rows = batch if admit is None else admit(spark, cur, batch)
            if rows is None:
                return  # a verified replay: nothing to merge
            write = partial(merge, spark, cur, rows)
        cow.publish(spark, root, f"b{batch_id}", cur, write)
        if compact_every is not None and (
            _epochs_since_compact(spark, root) >= compact_every
        ):
            base = cow.get_current(spark, root)
            cow.publish(
                spark, root, "compact", base, partial(compact, spark, base),
                components if vacuum_on_compact else (),
            )
        if stats_dir is not None:
            _emit_batch_stats(root, stats_dir, batch_id, report(spark, root))

    cp = checkpoint_dir or os.path.join(tempfile.mkdtemp(prefix=prefix), "cp")
    writer = stream.writeStream.foreachBatch(apply_batch)
    return writer.trigger(availableNow=True).option("checkpointLocation", cp).start()


#: Per vector family: its ingest's name, the fresh stripes (the
#: ``vec_id % centroid_mod`` values a build trains its frozen
#: quantizers on), what a rebuild would train a fresh-stripe id into,
#: and what the stripe is called — the pieces of the error wording.
_VEC_INGEST = {
    "ivf": ("vector_index_maintenance_ingest", (0,), "as a centroid", "centroid"),
    "pq": ("pq_index_maintenance_ingest", (0,), "into the codebooks", "seed"),
    "ivfpq": ("ivfpq_index_maintenance_ingest", (0, 1), "into the coarse "
              "centroids (≡0) or residual codebooks (≡1)", "frozen"),
}


def _same_bytes(a: str, b: str):
    return F.col(a).cast("array<double>").eqNullSafe(F.col(b).cast("array<double>"))


def _require_stripe(family, batch, centroid_mod, consequence) -> None:
    """Bootstrap contract: raise, before anything is written, unless
    ``batch`` carries the ``vec_id % centroid_mod == 0`` stripe."""
    op, _stripes, _into, kind = _VEC_INGEST[family]
    if batch.where((F.col("vec_id") % centroid_mod) == 0).limit(1).count() == 0:
        raise ValueError(
            f"{op}: bootstrap batch carries no vec_id % centroid_mod == 0 "
            f"stripe — {consequence}; route the initial load (with its "
            f"{kind} stripe) to the first micro-batch"
        )


def _admit_vectors(family, vec_dim, spark, cur, batch):
    """Admit a vector batch against the frozen quantizers carried at
    ``cur``: returns the rows to merge, or None for a pure bootstrap
    replay.

    - Centroid-source ids (IVF, IVFPQ): a vector bit-identical to its
      carried centroid is a replay and is dropped; different bytes
      raise.
    - Codebook-source ids (PQ, IVFPQ): the codebook entries they train,
      computed by the builds' own helper (sub-vectors of the raw vector
      for PQ, of the residual against the carried centroids for IVFPQ),
      must equal the carried entries bit for bit; then they are dropped
      as replays, else the batch raises.
    - Fresh stripes: a NEW id on a stripe a build trains on raises. The
      rule is keyed to the mod stamped in the meta sidecar, so a
      retrain that changes the budget re-keys it."""
    op, stripes, into, kind = _VEC_INGEST[family]
    frozen = _sim._VEC_LAYOUT[family][2]
    retrain = f"quiesce the stream and retrain_{family}_index the root"
    meta = _sim._vec_meta(spark, family, cur)
    replays = []
    if "centroids" in frozen:
        cents = cow.read_component(spark, cur, "centroids")
        stripe = batch.join(F.broadcast(cents), batch["vec_id"] == cents["cent_id"])
        if stripe.where(~_same_bytes("embedding", "cent_v")).limit(1).count() > 0:
            coarse = "coarse " if family == "ivfpq" else ""
            raise ValueError(
                f"{op}: batch carries a centroid-source id with a "
                f"DIFFERENT vector — the frozen {coarse}quantizer would go "
                f"stale; {retrain}"
            )
        replays.append(stripe.select("vec_id"))
    if "codebooks" in frozen:
        cb = cow.read_component(spark, cur, "codebooks")
        cb_ids = cb.select(F.col("code").alias("vec_id"))
        cb_rows = batch.join(F.broadcast(cb_ids), "vec_id", "left_semi")
        if cb_rows.limit(1).count() > 0:
            resid = family == "ivfpq"
            got = _sim._codebook_rows(
                cb_rows, meta["dim"], meta["m"], "vec_id", "embedding",
                cents if resid else None, vec_dim,
            ).withColumnRenamed("cent_sub", "sub_v")
            mismatch = got.join(F.broadcast(cb), ["subspace", "code"], "left").where(
                F.col("cent_sub").isNull() | ~_same_bytes("sub_v", "cent_sub")
            )
            if mismatch.limit(1).count() > 0:
                why, what = (
                    ("whose residual differs from the carried codebook entry",
                     "residual codebooks") if resid
                    else ("with DIFFERENT bytes", "codebooks")
                )
                raise ValueError(
                    f"{op}: batch carries a codebook-source id {why} — the "
                    f"frozen {what} would go stale; {retrain}"
                )
            replays.append(cb_rows.select("vec_id"))
    fresh = batch
    if replays:
        replay_ids = reduce(DataFrame.unionByName, replays)
        fresh = batch.join(replay_ids, "vec_id", "left_anti")
    if fresh.limit(1).count() == 0:
        return None
    if fresh.where((F.col("vec_id") % meta["centroid_mod"]).isin(*stripes)).limit(1).count() > 0:
        ids = " or ".join(f"≡ {s}" for s in stripes)
        raise ValueError(
            f"{op}: batch carries a NEW id {ids} (mod centroid_mod) after "
            "bootstrap — a from-scratch build over the same corpus would "
            f"train this id {into}, so merging it as an ordinary vector "
            "silently diverges the streamed index from the rebuild; route "
            f"{kind}-stripe ids to the bootstrap batch, or {retrain}"
        )
    return fresh


def _admit_baskets(spark, cur, batch):
    """Admit a basket batch against the ledger at ``cur``: returns the
    batch when none of its baskets is in the ledger, or None for a
    verified full replay; a partial overlap, or a replay whose items
    differ from the ledger's, raises."""
    meta = _graph._ri_meta(spark, cur)
    ids = batch.select("basket").distinct()
    bucket = _graph._ri_bucket(["basket"], meta["n_buckets"])
    changed = cow.partition_values(ids, bucket)
    seen_rows = (
        cow.read_component(spark, cur, "baskets")
        .where(cow.in_partitions("basket_bucket", changed))
        .join(ids, "basket", "left_semi")
        .select("basket", "item")
        .localCheckpoint()
    )
    n_seen = seen_rows.select("basket").distinct().count()
    if n_seen == 0:
        return batch
    if n_seen < ids.count():
        raise ValueError(
            "related_items_maintenance_ingest: batch overlaps the ledger "
            "PARTIALLY — a delivery-layer retry re-delivers a whole batch "
            "(the state commits atomically at set_current), so partial "
            "overlap means the source re-used basket ids across batches; "
            "basket ids must be unique stream-wide"
        )
    if (
        seen_rows.exceptAll(batch).limit(1).count() > 0
        or batch.exceptAll(seen_rows).limit(1).count() > 0
    ):
        raise ValueError(
            "related_items_maintenance_ingest: replayed batch carries the "
            "SAME basket ids with DIFFERENT items than the ledger — not a "
            "retry but a source corruption; rebuild from the source history"
        )
    return None


def index_maintenance_ingest(
    stream_docs: DataFrame,
    root: str,
    n_buckets: int | None = None,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    vacuum_on_compact: bool = True,
    stats_dir: str | None = None,
) -> "object":
    """Continuous BM25 serving-index maintenance from a document
    stream: each micro-batch of ``(doc_id, text)`` becomes one epoch
    under ``root`` (the first builds it with ``text.build_bm25_index``,
    later ones ``merge_bm25_index``; compaction is
    ``compact_bm25_index``). The shared cycle — CAS commit and
    restart, the compaction gate and the ``vacuum_on_compact`` quiesce
    caveat — is in the module docstring.

    Replay rule: the merge is an UPSERT, so a replayed batch re-merges
    the same doc ids onto themselves and the resolved view is
    unchanged.

    ``n_buckets`` sizes the FIRST build only (later merges inherit the
    layout); None takes the builder default."""
    kw = {} if n_buckets is None else {"n_buckets": n_buckets}
    return _maintain(
        stream_docs, root, "idx_ingest_", checkpoint_dir, compact_every,
        vacuum_on_compact, stats_dir,
        project=lambda b: b.select("doc_id", "text"),
        bootstrap=partial(_text.build_bm25_index, **kw),
        merge=_text.merge_bm25_index,
        compact=_text.compact_bm25_index,
        components=["postings"],
        report=_text.bm25_staleness_report,
    )


def vector_index_maintenance_ingest(
    stream_vecs: DataFrame,
    root: str,
    centroid_mod: int,
    vec_dim: int | None = None,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    vacuum_on_compact: bool = True,
    stats_dir: str | None = None,
) -> "object":
    """Continuous IVF serving-index maintenance from an embedding
    stream of ``(vec_id, embedding)`` (the shared cycle is in the
    module docstring; compaction is ``compact_ivf_index``).

    Bootstrap stripe: batch 0 builds epoch 0 and trains the coarse
    quantizer on its ``vec_id % centroid_mod == 0`` stripe; every
    later epoch carries it FROZEN (``merge_ivf_index`` assigns against
    the carried centroids; re-training is a rebuild, out-of-band via
    ``similarity.retrain_ivf_index``). Batch 0 must therefore contain
    the centroid stripe of the eventual corpus: an empty stripe raises
    before anything is written (it would train zero centroids). After
    bootstrap a NEW id on the stripe raises: a from-scratch build over
    the same corpus would train it as a centroid, and
    ``merge_ivf_index`` only checks batch ids against EXISTING
    centroids. That rule follows the mod stamped in ``ivf_meta.json``,
    so a retrain that changes the budget re-keys it.

    Replay rule: ordinary ids upsert onto themselves. A replayed
    bootstrap re-delivers the stripe ids: one whose vector is
    BIT-IDENTICAL to its carried centroid is dropped as a no-op, one
    with a different vector is a retrain attempt and raises.

    ``centroid_mod`` applies to the bootstrap build only; ``vec_dim``
    to every build and merge."""

    def bootstrap(batch, epoch):
        _require_stripe(
            "ivf", batch, centroid_mod,
            "it would train ZERO centroids and every later batch would "
            "silently assign into nothing",
        )
        _sim.build_ivf_index(batch, epoch, centroid_mod=centroid_mod, vec_dim=vec_dim)

    return _maintain(
        stream_vecs, root, "vidx_ingest_", checkpoint_dir, compact_every,
        vacuum_on_compact, stats_dir,
        project=lambda b: b.select("vec_id", "embedding"),
        bootstrap=bootstrap,
        admit=partial(_admit_vectors, "ivf", vec_dim),
        merge=partial(_sim.merge_ivf_index, vec_dim=vec_dim),
        compact=_sim.compact_ivf_index,
        components=_sim._vec_components("ivf"),
        report=_sim.ivf_staleness_report,
    )


def related_items_maintenance_ingest(
    stream_baskets: DataFrame,
    root: str,
    k: int = 5,
    min_count: int = 1,
    n_buckets: int | None = None,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    vacuum_on_compact: bool = True,
    stats_dir: str | None = None,
) -> "object":
    """Continuous maintenance of the related-items SERVING state from
    a ``(basket, item)`` stream (the shared cycle is in the module
    docstring). Batch 0 builds the state
    (``graph.build_related_items_state``); every later micro-batch of
    NEW baskets merges (``merge_related_items_state``: pair/item
    supports sum into exactly the batch's hash buckets, top-k
    recomputes for affected items only); compaction is
    ``compact_related_items_state``, which rewrites the history-sized
    ledger whole — size ``compact_every`` accordingly.

    Replay rule — skip, not raise: the merge itself RAISES on a
    re-delivered basket id (double counting silently inflates
    supports, and the merge cannot tell a delivery-layer retry from a
    source bug). The ingest can: a batch re-delivered after a crash
    between ``set_current`` and the checkpoint commit has either ALL
    its baskets in the ledger (applied) or NONE. An all-in batch is
    verified INCIDENCE-IDENTICAL against the ledger (same basket ids
    with different items is a source corruption and raises) and
    skipped; a PARTIAL overlap cannot be a retry, so it raises —
    basket ids must be unique across the stream's batches.

    ``k``/``min_count``/``n_buckets`` apply to the FIRST build only
    (merges read them back from the meta sidecar)."""
    kw = {} if n_buckets is None else {"n_buckets": n_buckets}
    return _maintain(
        stream_baskets, root, "ri_ingest_", checkpoint_dir, compact_every,
        vacuum_on_compact, stats_dir,
        project=lambda b: b.select("basket", "item").distinct(),
        bootstrap=partial(
            _graph.build_related_items_state, k=k, min_count=min_count, **kw
        ),
        admit=_admit_baskets,
        merge=_graph.merge_related_items_state,
        compact=_graph.compact_related_items_state,
        components=["pairs", "items", "baskets", "topk"],
        report=_graph.related_items_health,
    )


def ivfpq_index_maintenance_ingest(
    stream_vecs: DataFrame,
    root: str,
    dim: int,
    m: int = 8,
    centroid_mod: int = 50,
    n_buckets: int | None = None,
    vec_dim: int | None = None,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    vacuum_on_compact: bool = True,
    stats_dir: str | None = None,
) -> "object":
    """Continuous maintenance of the IVFPQ composite serving index
    from an embedding stream of ``(vec_id, embedding)`` (the shared
    cycle is in the module docstring; compaction is
    ``compact_ivfpq_index``).

    Bootstrap stripes: batch 0 builds epoch 0 and trains BOTH frozen
    quantizers through the two seed stripes it must contain — the
    coarse centroids (``vec_id % centroid_mod == 0``) and the residual
    codebooks (the offset stripe ``== 1``). An empty stripe of either
    raises inside ``build_ivfpq_index``'s pre-write validation, so a
    bad bootstrap leaves no partial index. After bootstrap a NEW id
    ≡ 0 or ≡ 1 (mod the mod stamped in the index meta, so a retrain
    re-keys the rule) raises: a from-scratch rebuild would train it
    into a quantizer.

    Replay rule: ordinary ids upsert onto themselves. A replayed
    bootstrap re-delivers both frozen-source stripes; they are dropped
    as no-ops when BIT-IDENTICAL — a centroid-source id against its
    carried centroid, a codebook-source id by its residual sub-vectors
    recomputed against the carried centroids through the builder's own
    assign kernel. Different bytes are a retrain attempt and raise
    (quiesce the stream and ``retrain_ivfpq_index``).

    ``dim``, ``m``, ``centroid_mod`` and ``n_buckets`` apply to the
    bootstrap build only; ``vec_dim`` to every build and merge."""
    kw = {} if n_buckets is None else {"n_buckets": n_buckets}
    return _maintain(
        stream_vecs, root, "pqidx_ingest_", checkpoint_dir, compact_every,
        vacuum_on_compact, stats_dir,
        project=lambda b: b.select("vec_id", "embedding"),
        bootstrap=partial(
            _sim.build_ivfpq_index, dim=dim, m=m,
            centroid_mod=centroid_mod, vec_dim=vec_dim, **kw,
        ),
        admit=partial(_admit_vectors, "ivfpq", vec_dim),
        merge=partial(_sim.merge_ivfpq_index, vec_dim=vec_dim),
        compact=_sim.compact_ivfpq_index,
        components=_sim._vec_components("ivfpq"),
        report=_sim.index_staleness_report,
    )


def pq_index_maintenance_ingest(
    stream_vecs: DataFrame,
    root: str,
    dim: int,
    m: int = 8,
    centroid_mod: int = 50,
    n_buckets: int | None = None,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    vacuum_on_compact: bool = True,
    stats_dir: str | None = None,
) -> "object":
    """Continuous maintenance of the plain-PQ serving index from an
    embedding stream of ``(vec_id, embedding)`` (the shared cycle is
    in the module docstring; compaction is ``compact_pq_index``).

    Bootstrap stripe: batch 0 builds epoch 0 and trains the frozen
    codebooks (PQ's one frozen quantizer) on its ``vec_id %
    centroid_mod == 0`` seed stripe. An empty stripe raises here,
    before anything is written (``build_pq_index`` cannot see the
    contract). Later batches encode against the carried codebooks; a
    NEW id ≡ 0 (mod the mod stamped in the index meta, so a retrain
    re-keys the rule) raises, since a rebuild would train on it.

    Replay rule: ordinary ids upsert onto themselves. A replayed
    bootstrap's codebook-source ids are verified BIT-IDENTICAL by
    slicing the raw vector (PQ codebooks store raw sub-vectors)
    against the carried entries and dropped as no-ops; different bytes
    are a retrain attempt and raise (``similarity.retrain_pq_index``).

    ``dim``, ``m``, ``centroid_mod`` and ``n_buckets`` apply to the
    bootstrap build only."""
    kw = {} if n_buckets is None else {"n_buckets": n_buckets}

    def bootstrap(batch, epoch):
        _require_stripe(
            "pq", batch, centroid_mod,
            "the codebooks would train EMPTY and the index would "
            "silently serve zero results",
        )
        _sim.build_pq_index(batch, epoch, dim=dim, m=m, centroid_mod=centroid_mod, **kw)

    return _maintain(
        stream_vecs, root, "pq_ingest_", checkpoint_dir, compact_every,
        vacuum_on_compact, stats_dir,
        project=lambda b: b.select("vec_id", "embedding"),
        bootstrap=bootstrap,
        admit=partial(_admit_vectors, "pq", None),
        merge=_sim.merge_pq_index,
        compact=_sim.compact_pq_index,
        components=_sim._vec_components("pq"),
        report=_sim.pq_staleness_report,
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "update",
    checkpoint_dir: str | None = None,
) -> "object":
    """Drive a stream into an in-memory sink (test/debug harness).
    Pass ``checkpoint_dir`` to persist offsets + state across
    successive availableNow runs — required to exercise multi-batch
    semantics such as watermark late-data drops."""
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()

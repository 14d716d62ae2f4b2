"""The Sparkify star-schema pipeline — the reference's flagship
composition, rebuilt engine-shaped.

Reference behavior (``/root/reference/etl.py``): read song + log
NDJSON from S3, build five tables (songs, artists, users, time,
songplays), write them as (partitioned) parquet. This module exposes
each table build as a pure ``DataFrame → DataFrame`` transform plus a
single-pass runner, fixing the reference's structural inefficiencies
while preserving its observable semantics:

- **parity mode** keeps the reference's quirks exactly: users and
  artists NOT deduplicated (etl.py:117-119,195-197 — SURVEY §2 F4/F5),
  songplays ``start_time`` as a second-resolution STRING and month/year
  fetched through a join against the time table (etl.py:219-220,
  282-297 — E2), surrogate ids from ``monotonically_increasing_id``
  (etl.py:271 — G7).
- **optimized mode** derives month/year directly from the timestamp
  (join elimination — one shuffle saved, SURVEY §4), dedups users to
  latest-by-ts, and mints deterministic md5 ids so output is
  reproducible and oracle-checkable.
- The runner reads each source ONCE and caches shared lineage; the
  reference re-executes the JSON scan for every one of its five write
  actions (SURVEY §3).
- UDFs H1/H2 are replaced by built-in ``timestamp_millis`` /
  ``date_format`` (functions/temporal.py) — no BatchEvalPython nodes
  anywhere in the plan.

Scale notes: songs partitioned by (year, artist_id) — parity with
etl.py:101 — explodes into tiny files at real scale; the runner's
``coalesce_output`` knob and the optimized mode's year-only
partitioning are the 100 TB-safe defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_with_spark_spark.functions.keys import deterministic_id, surrogate_id
from data_lake_with_spark_spark.functions.temporal import (
    epoch_millis_to_timestamp,
    epoch_millis_to_timestring,
)
from data_lake_with_spark_spark.operators.windows import latest_per_key
from data_lake_with_spark_spark.schemas import LOG_SCHEMA, SONG_SCHEMA
from data_lake_with_spark_spark.sources.readers import read_json_explicit


def build_songs(song_df: DataFrame) -> DataFrame:
    """songs(song_id, title, artist_id, year, duration) — distinct
    (etl.py:92)."""
    return song_df.select("song_id", "title", "artist_id", "year", "duration").distinct()


def build_artists(song_df: DataFrame, parity: bool = True) -> DataFrame:
    """artists(artist_id, name, location, latitude, longitude)
    (etl.py:117-119). Parity: one row per song record (NOT deduped)."""
    out = song_df.select(
        F.col("artist_id"),
        F.col("artist_name").alias("name"),
        F.col("artist_location").alias("location"),
        F.col("artist_latitude").alias("latitude"),
        F.col("artist_longitude").alias("longitude"),
    )
    return out if parity else out.dropDuplicates(["artist_id"])


def next_song_events(log_df: DataFrame) -> DataFrame:
    """The pipeline's only filter (etl.py:186)."""
    return log_df.filter(F.col("page") == "NextSong")


def build_users(log_df: DataFrame, parity: bool = True) -> DataFrame:
    """users(userId, firstName, lastName, gender, level)
    (etl.py:195-197). Parity: one row per NextSong event; optimized:
    latest level per user (row_number over ts desc)."""
    events = next_song_events(log_df)
    if parity:
        return events.select("userId", "firstName", "lastName", "gender", "level")
    latest = latest_per_key(events, ["userId"], [F.col("ts").desc()])
    return latest.select("userId", "firstName", "lastName", "gender", "level")


def build_time(log_df: DataFrame) -> DataFrame:
    """time(ts, start_time, hour, day, week, month, year, weekday) —
    distinct (etl.py:215-236), via built-ins instead of UDFs H1/H2."""
    events = next_song_events(log_df)
    ts_ts = epoch_millis_to_timestamp("ts")
    return (
        events.select(
            F.col("ts"),
            epoch_millis_to_timestring("ts").alias("start_time"),
            F.hour(ts_ts).alias("hour"),
            F.dayofmonth(ts_ts).alias("day"),
            F.weekofyear(ts_ts).alias("week"),
            F.month(ts_ts).alias("month"),
            F.year(ts_ts).alias("year"),
            F.dayofweek(ts_ts).alias("weekday"),
        )
        .distinct()
    )


def build_songplays(
    log_df: DataFrame,
    song_df: DataFrame,
    parity: bool = True,
) -> DataFrame:
    """songplays fact: NextSong events matched to songs on
    (title, artist_name) — the E1 2-condition natural-string join
    (etl.py:267-270) — plus month/year for partitioning.

    Parity mode reproduces E2 (etl.py:282-297) semantics — month/year
    via the second-resolution ``start_time`` string — but computes
    them directly from the string (identical values; the reference's
    join against the deduped time table is pure enrichment, SURVEY §4
    "join elimination"). Optimized mode uses the timestamp itself and
    a deterministic id.

    The song side is a dimension: broadcast it (the reference lets
    sort-merge happen); with skewed/null-heavy natural keys AQE's
    skew-join handles the rest at scale.
    """
    events = next_song_events(log_df)
    joined = events.join(
        F.broadcast(song_df),
        on=[song_df["title"] == events["song"], song_df["artist_name"] == events["artist"]],
        how="inner",
    )
    if parity:
        start_time = epoch_millis_to_timestring("ts")
        sp_id = surrogate_id()
    else:
        start_time = epoch_millis_to_timestamp("ts")
        sp_id = deterministic_id("ts", "userId", "sessionId", "song_id")
    ts_ts = epoch_millis_to_timestamp("ts")
    return joined.select(
        sp_id.alias("songplay_id"),
        start_time.alias("start_time"),
        F.col("userId"),
        F.col("level"),
        F.col("song_id"),
        F.col("artist_id"),
        F.col("sessionId"),
        F.col("location"),
        F.col("userAgent"),
        F.month(ts_ts).alias("month"),
        F.year(ts_ts).alias("year"),
    )


def run_pipeline(
    spark: SparkSession,
    song_path: str,
    log_path: str,
    out_dir: str,
    parity: bool = True,
    coalesce_output: int | None = None,
) -> dict[str, DataFrame]:
    """Single-pass ETL: each source read once, shared lineage cached,
    five parquet sinks with the reference's partitioning
    (etl.py:99-102,126-128,204-206,242-245,305-308)."""
    song_df = read_json_explicit(spark, song_path, SONG_SCHEMA).drop_duplicates()
    log_df = read_json_explicit(spark, log_path, LOG_SCHEMA).drop_duplicates()
    song_df.cache()
    log_df = next_song_events(log_df).cache()

    tables = {
        "songs": build_songs(song_df),
        "artists": build_artists(song_df, parity=parity),
        "users": build_users(log_df, parity=parity),
        "time": build_time(log_df),
        "songplays": build_songplays(log_df, song_df, parity=parity),
    }
    partitioning: dict[str, list[str]] = {
        "songs": ["year", "artist_id"] if parity else ["year"],
        "artists": [],
        "users": [],
        "time": ["year", "month"],
        "songplays": ["year", "month"],
    }
    def _write(name: str) -> None:
        df = tables[name]
        out = df if coalesce_output is None else df.coalesce(coalesce_output)
        writer = out.write.mode("overwrite")
        if partitioning[name]:
            writer = writer.partitionBy(*partitioning[name])
        writer.parquet(os.path.join(out_dir, name))

    # two dependency-aware phases (guide §2.6): songs/users populate
    # the two source caches (one each, no overlap), then the three
    # remaining sinks read ONLY cached data and overlap freely
    from data_lake_with_spark_spark.session import run_concurrent

    run_concurrent([lambda: _write("songs"), lambda: _write("users")])
    run_concurrent(
        [
            lambda: _write("artists"),
            lambda: _write("time"),
            lambda: _write("songplays"),
        ]
    )
    song_df.unpersist()
    log_df.unpersist()
    return tables

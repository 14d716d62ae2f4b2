from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from data_lake_with_spark_spark.schemas import SONG_SCHEMA, TESTDATA_SCHEMAS
from data_lake_with_spark_spark.sources.catalog import (
    load_table,
    load_tables,
    register_views,
)
from data_lake_with_spark_spark.sources.readers import read_json_explicit, read_parquet
from perfbench.fixtures import write_tables
from tools.job_audit import _next_job_id


def test_all_testdata_tables_load(spark, sf_dir, tmp_path):
    """Every table of the three generated datasets and of a benchmark
    fixture stores exactly its declared schema (a drifted dataset fails
    here, not in a misread query), and the catalog reads it with that
    schema at 0 Spark jobs: no footer inference."""
    fixture = str(tmp_path / "fixture")
    write_tables(fixture, 7, 0.01, 50, 50)
    root = os.path.dirname(sf_dir)
    dirs = [os.path.join(root, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]
    for d in dirs + [fixture]:
        for name, schema in TESTDATA_SCHEMAS.items():
            inferred = spark.read.parquet(os.path.join(d, f"{name}.parquet")).schema
            assert inferred == schema, (d, name)
        j0 = _next_job_id(spark)
        frames = {n: load_table(spark, d, n) for n in TESTDATA_SCHEMAS}
        assert load_tables(spark, d).keys() == frames.keys()
        register_views(spark, d)
        assert _next_job_id(spark) - j0 == 0, d
        assert {n: f.schema for n, f in frames.items()} == TESTDATA_SCHEMAS, d
    # leave the views on the dataset the other tests read
    register_views(spark, sf_dir)
    for name in TESTDATA_SCHEMAS:
        df = load_table(spark, sf_dir, name)
        assert df.count() > 0, name


def test_events_ts_is_microsecond_ntz(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    row = df.orderBy("event_id").first()
    # first event in the deterministic seed=42 data
    assert row["ts"].year == 2024


def test_json_explicit_schema_drops_extras_and_nulls_missing(spark, tmp_path):
    p = tmp_path / "songs.json"
    p.write_text(
        '{"song_id": "S1", "title": "T", "artist_id": "A1", "year": 0, '
        '"duration": 1.5, "artist_name": "N", "num_songs": 1, "extra_key": 99}\n'
        '{"song_id": "S2", "title": "U"}\n'
    )
    df = read_json_explicit(spark, str(p), SONG_SCHEMA)
    assert df.columns == [f.name for f in SONG_SCHEMA.fields]
    rows = {r["song_id"]: r for r in df.collect()}
    assert rows["S1"]["artist_latitude"] is None
    assert rows["S2"]["artist_id"] is None
    assert "extra_key" not in df.columns


def test_parquet_partition_discovery(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_part")
    df.write.mode("overwrite").partitionBy("year").parquet(out)
    back = read_parquet(spark, out)
    assert "year" in back.columns
    assert back.count() == df.count()
    # partition pruning: a single-year read touches one directory
    one = back.where(F.col("year") == 1995)
    assert one.count() == df.where(F.col("year") == 1995).count()


def test_register_views_sql_roundtrip(spark, sf_dir):
    register_views(spark, sf_dir, ("region", "nation"))
    n = spark.sql(
        "SELECT count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey"
    ).first()["n"]
    assert n == 25


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key must SortMergeJoin without
    any Exchange — the 100 TB repeated-join payoff of write_bucketed."""
    from data_lake_with_spark_spark.operators.skew import explain_shuffles
    from data_lake_with_spark_spark.sources.catalog import load_table
    from data_lake_with_spark_spark.sources.sinks import write_bucketed

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(o, "b_orders", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
    write_bucketed(
        li, "b_lineitem", ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"]
    )
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"]).select(
            "o_orderkey", "l_linenumber", "o_totalprice"
        )
        plan = explain_shuffles(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_session_confs_and_s3a_helper(spark):
    from data_lake_with_spark_spark.session import s3a_confs

    assert (
        spark.conf.get(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"
        )
        == "2"
    )
    confs = s3a_confs(access_key="AK", secret_key="SK")
    assert confs["spark.hadoop.fs.s3a.access.key"] == "AK"
    assert confs["spark.hadoop.fs.s3a.committer.name"] == "magic"


def test_csv_roundtrip_with_schema(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from data_lake_with_spark_spark.sources.readers import read_csv

    df = spark.createDataFrame(
        [(1, "a,b quoted"), (2, None), (3, "plain")], ["id", "val"]
    )
    path = str(tmp_path / "csv_out")
    df.write.option("header", True).csv(path)
    schema = StructType(
        [StructField("id", IntegerType()), StructField("val", StringType())]
    )
    back = read_csv(spark, path, schema=schema)
    assert {(r["id"], r["val"]) for r in back.collect()} == {
        (1, "a,b quoted"), (2, None), (3, "plain"),
    }
    # inferred variant reads the same rows
    inferred = read_csv(spark, path)
    assert inferred.count() == 3


def test_orc_roundtrip(spark, tmp_path):
    from data_lake_with_spark_spark.sources.readers import read_orc

    df = spark.createDataFrame([(1, 2.5), (2, -1.0)], ["id", "v"])
    path = str(tmp_path / "orc_out")
    df.write.orc(path)
    back = read_orc(spark, path)
    assert back.schema == df.schema
    assert {tuple(r) for r in back.collect()} == {(1, 2.5), (2, -1.0)}


def test_write_sorted_clusters_ranges(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from data_lake_with_spark_spark.sources.catalog import load_table
    from data_lake_with_spark_spark.sources.sinks import write_sorted

    path = str(tmp_path / "sorted_orders")
    write_sorted(
        load_table(spark, sf_dir, "orders"), path, ["o_orderdate"],
        num_partitions=4,
    )
    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) == 4
    # range partitioning -> per-file key ranges are disjoint (zone maps
    # selective); within-file sorted -> row-group stats monotonic
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("o_orderdate")
        stats = md.row_group(0).column(idx).statistics
        lo = stats.min
        hi = pq.ParquetFile(f).metadata.row_group(md.num_row_groups - 1).column(idx).statistics.max
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next


def test_read_json_audited_quarantines_corrupt_rows(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from data_lake_with_spark_spark.sources.readers import (
        read_json_audited,
        split_corrupt,
    )

    p = tmp_path / "feed"
    p.mkdir()
    (p / "a.json").write_text(
        '{"id": 1, "name": "ok"}\n{"id": broken\n{"id": 3, "name": "fine"}\n'
    )
    sch = StructType([StructField("id", LongType()), StructField("name", StringType())])
    clean, bad = split_corrupt(read_json_audited(spark, str(p), sch))
    assert {(r["id"], r["name"]) for r in clean.collect()} == {(1, "ok"), (3, "fine")}
    quarantined = bad.collect()
    assert len(quarantined) == 1
    assert quarantined[0]["_corrupt_record"].startswith('{"id": broken')
    assert quarantined[0]["id"] is None  # declared fields null on bad rows


def test_read_parquet_evolved_merges_schema_versions(spark, tmp_path):
    from data_lake_with_spark_spark.sources.readers import read_parquet_evolved

    base = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(base + "/v=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "name", "score"]
    ).write.parquet(base + "/v=2")
    df = read_parquet_evolved(spark, base)
    rows = {r["id"]: (r["name"], r["score"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def _avro_available(spark) -> bool:
    try:
        spark.range(1).write.mode("overwrite").format("avro").save(
            "/tmp/_dlws_avro_probe"
        )
        return True
    except Exception:
        return False


def test_read_avro_clear_error_or_roundtrip(spark, tmp_path):
    """Without the external spark-avro jar the reader must fail with
    a ValueError naming the package (not an opaque JVM class error);
    with the jar present it must round-trip — same seam pattern as
    the Delta branch."""
    from data_lake_with_spark_spark.sources.readers import read_avro

    path = str(tmp_path / "avro_tbl")
    if _avro_available(spark):
        spark.range(10).write.mode("overwrite").format("avro").save(path)
        assert read_avro(spark, path).count() == 10
    else:
        with pytest.raises(ValueError, match="spark-avro"):
            read_avro(spark, path)

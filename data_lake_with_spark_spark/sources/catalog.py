"""Testdata catalog: canonical access to the ``sf*/`` registry tables.

Every table reads with its declared ``TESTDATA_SCHEMAS`` StructType,
which equals Spark's footer-inferred schema for every generated table
(``tests/test_sources.py`` holds that contract). A declared schema
plans the scan without the one-task footer-inference job a bare
``spark.read.parquet`` starts, so a table read costs no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_lake_with_spark_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its declared schema (no Spark job)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register each table as a temp view (op J3, nb cells 44/48) so
    ``spark.sql`` queries can run against the catalog by name."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)

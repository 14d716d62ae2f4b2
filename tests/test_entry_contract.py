"""Smoke tests of the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import hashlib
import shutil
import tempfile
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as E
from data_lake_with_spark_spark import queries as Q
from data_lake_with_spark_spark.operators import similarity

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_every_query_has_callable_and_most_have_oracles(spark):
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 30
    missing = set(oracles) - set(qs)
    assert not missing
    # round 5: the rows-only set is EMPTY — every registry query has
    # a DuckDB value oracle (streaming final states are batch-equal
    # under availableNow, multimodal kernels are engine-exact, and
    # the HLL entry oracles its 3σ error bound instead of the
    # engine-specific estimate)
    assert set(qs) - set(oracles) == set()


@pytest.mark.parametrize(
    "name",
    [
        "q01_pricing_summary",
        "q12_flagship_enrichment",
        "q13_ann_ivf",
        "q19_time_dimension",
        "q24_jaccard_verify",
        "q26_embedding_topk",
        "q119_pq_topk_rerank",
        "q203_ivfpq_rerank",
    ],
)
def test_spotcheck_oracle_match(spark, sf_dir, name):
    _assert_matches_oracle(E.queries()[name](spark, sf_dir), sf_dir, name)


def _assert_matches_oracle(df, sf_dir, name):
    from tools.check_oracle import value_hash

    rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    res = con.execute(E.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(rows) == len(orows)
    assert sorted(df.columns) == sorted(ocols)
    assert value_hash(rows, df.columns) == value_hash(orows, ocols)


# sha256 of the 215 registry names in driver order. The driver
# value-checks the first 50, so a reorder changes what it verifies.
REGISTRY_ORDER_SHA256 = (
    "07f39515a3fad20b6aad0f6c527dba5a7835a6239425caa0cbfc8c46a84d84a2"
)


def test_registry_order_is_pinned():
    for names in (list(E.queries()), list(E.oracle_sql())):
        assert len(names) == 215
        digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
        assert digest == REGISTRY_ORDER_SHA256


def test_scratch_dirs_removed_after_query_and_on_error(
    spark, sf_dir, tmp_path, monkeypatch
):
    # q177 builds an IVF index and a post-delete copy in two scratch
    # directories; both must be gone once it returns or raises.
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q177 = E.queries()["q177_ivf_delete"]
    _assert_matches_oracle(q177(spark, sf_dir), sf_dir, "q177_ivf_delete")
    assert list(tmp_path.iterdir()) == []

    def boom(*args, **kwargs):
        raise RuntimeError("delete failed")

    monkeypatch.setattr(similarity, "delete_from_ivf_index", boom)
    with pytest.raises(RuntimeError, match="delete failed"):
        q177(spark, sf_dir)
    assert list(tmp_path.iterdir()) == []


def test_cached_dir_builds_once_and_rebuilds_when_gone(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(Q, "_FIXTURE_DIRS", {})
    builds = []

    def build(path):
        builds.append(path)
        Path(path, "marker").touch()

    first = Q._cached_dir("dlws_test_", "sf", "marker", build)
    assert Q._cached_dir("dlws_test_", "sf", "marker", build) == first
    assert builds == [first]
    shutil.rmtree(first)
    again = Q._cached_dir("dlws_test_", "sf", "marker", build)
    assert builds == [first, again]
    assert Path(again, "marker").exists()

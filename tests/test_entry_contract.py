"""Smoke tests of the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as E

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
    from tools.check_oracle import value_hash

    qs = E.queries()
    df = qs[name](spark, sf_dir)
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

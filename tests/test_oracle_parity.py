"""Mirror of the driver's t2 gate: every registered query with an oracle
must match DuckDB on the same parquet tables (rowcount + schema +
order-insensitive values)."""

from __future__ import annotations

import pytest

from engage_spark.registry import load_all
from engage_spark.testing import compare_frames, duckdb_conn

REGISTRY = load_all()
ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.fixture(scope="module")
def con(sf_dir):
    return duckdb_conn(sf_dir)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, con, name):
    q = REGISTRY[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    oracle_pdf = con.execute(q.oracle).df()
    result = compare_frames(name, spark_pdf, oracle_pdf)
    assert result.ok, result.detail


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, sf_dir, name):
    q = REGISTRY[name]
    pdf = q.fn(spark, sf_dir).toPandas()
    assert len(pdf) >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert e.queries().keys() >= set(e.oracle_sql().keys())


def test_fixed_point_oracles_round_half_cents_as_spark(spark):
    """At seed 23 j6's NATION_17 revenue is the fixed-point sum
    S = 11062691784850 (scale 10^4), an exact half cent. Spark's
    round(S / 10000.0, 2) rounds the decimal form half-up to .49;
    DuckDB's round() of the binary double gives .48. The q1 and q3
    oracles round S half-up in integer arithmetic, which gives Spark's
    value exactly, at scale 10^4 and at q1's 10^6."""
    import duckdb
    from pyspark.sql import functions as F

    con = duckdb.connect()
    for s, scale in ((11062691784850, 10_000), (1_005_000, 1_000_000)):
        want = (
            spark.range(1)
            .select(F.round(F.lit(s) / float(scale), 2))
            .first()[0]
        )
        binary, exact = con.execute(
            f"SELECT round({s}::BIGINT / {scale}.0, 2), "
            f"({s}::BIGINT + {scale // 200}) // {scale // 100} / 100.0"
        ).fetchone()
        assert exact == want and binary != want, (s, want, binary, exact)
    reg = load_all()
    oracles = {
        n: " ".join(reg[n].oracle.split())
        for n in ("q1_pricing_summary", "q3_shipping_priority")
    }
    assert "::BIGINT + 50) // 100 / 100.0 AS sum_disc_price" in oracles[
        "q1_pricing_summary"
    ]
    assert "::BIGINT + 5000) // 10000 / 100.0 AS sum_charge" in oracles[
        "q1_pricing_summary"
    ]
    assert "::BIGINT + 50) // 100 / 100.0 AS revenue" in oracles[
        "q3_shipping_priority"
    ]

"""Flagship query — a TPC-H Q1-style pricing summary.

Exercises in one plan: pruned parquet scan with pushed-down predicate,
arithmetic expressions, multi-column hash aggregate with map-side
partials, and ordered output. This is the driver's smoke query
(`__spark_entry__.entry`) and the headline bench query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engage_spark.io import table
from engage_spark.registry import query


# The oracles' fixed-point revenue sums S are exact BIGINTs; q1 and q3
# round them half-up in integer arithmetic, ((S + 50) // 100 / 100.0 at
# scale 10^4), which is the decimal result Spark's round() returns.
# DuckDB's round() of the double S / 10000.0 can fall on the other side
# of an exact half cent (S = 11062691784850 rounds to .48, Spark .49).
# q5 and joins.j6 keep round(S / 10000.0, 2) because the benchmark's
# oracle rewrite (benchmarks/wl_queries.py `oracle`) matches that text
# and applies the same integer rounding.
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           (sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)::BIGINT + 50) // 100 / 100.0
               AS sum_disc_price,
           (sum(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000)::BIGINT)::BIGINT + 5000)
               // 10000 / 100.0 AS sum_charge,
           round(avg(l_quantity) + 1e-9, 4) AS avg_qty,
           round(avg(l_extendedprice) + 1e-9, 4) AS avg_price,
           round(avg(l_discount) + 1e-9, 4) AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers=["S1", "P5", "A1", "A2", "A6", "O1"],
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape) — the flagship.

    The reference's closest analogue is its grouped mean/sum passes
    (covid_data_transform.py:28,43,77); this is the canonical Spark form:
    single scan → single shuffle of partial aggregates.
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "2024-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            (F.round(F.sum(F.round(disc_price * 10000).cast("long")) / 10000.0, 2)).alias("sum_disc_price"),
            (F.round(F.sum(F.round(disc_price * (1 + F.col("l_tax")) * 1000000).cast("long")) / 1000000.0, 2)).alias("sum_charge"),
            F.round(F.avg("l_quantity") + 1e-9, 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice") + 1e-9, 4).alias("avg_price"),
            F.round(F.avg("l_discount") + 1e-9, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           (sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)::BIGINT + 50)
                 // 100 / 100.0 AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    covers=["J1", "A2", "O1", "O4", "P6"],
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority report (TPC-H Q3 shape): three-table join with
    selective filters on every input, grouped revenue, exact top-10.

    Scale notes: all three filters push down to their parquet scans
    before the joins; revenue aggregates in fixed-point (exact BIGINT
    sums — also what makes the cross-engine top-10 cutoff
    deterministic); the final TakeOrdered carries 10 rows per
    partition, never a global sort of the aggregate."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    rev_fp = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev_fp) / 10000.0, 2).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)::BIGINT
                 / 10000.0, 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    covers=["J1", "J6", "A2", "O1"],
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): six-table star join where
    customer and supplier must share a nation, revenue per nation.

    Scale notes: nation ⋈ region (filtered to one region) is broadcast
    explicitly — it's bounded by the nation count forever; supplier and
    customer join on their fact keys and the c_nationkey = s_nationkey
    equi-condition rides the customer join, so no join is a cross
    product. Fixed-point revenue keeps cross-engine sums exact."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1998-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name"))
    rev_fp = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(nr, s.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(rev_fp) / 10000.0, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )

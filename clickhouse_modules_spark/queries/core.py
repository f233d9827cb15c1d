"""Scan / projection / predicate fixture queries (SURVEY §2C).

These exercise the read-side envelope the reference's introspection
queries live in (scan, projection, equality filter, array predicate —
SURVEY §2A R1-R7), generalized to the full predicate family.

100 TB notes: every query here is a single parquet scan with filters and
projections that Catalyst pushes into the scan (verify via
``.explain``: PushedFilters / ReadSchema). No shuffle except final
aggregation where present. These scale linearly with input and are
embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.tables import pscan


@query(
    "q_project",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           ROUND(l_extendedprice::DECIMAL(18,4)
                 * (1 - l_discount)::DECIMAL(8,4)
                 * (1 + l_tax)::DECIMAL(8,4), 2)::DOUBLE AS charge,
           upper(l_returnflag) AS flag_upper
    FROM lineitem
    WHERE l_orderkey <= 2000
      AND l_quantity BETWEEN 2 AND 48
      AND l_returnflag IN ('A', 'N', 'R')
      AND l_shipdate >= TIMESTAMP '1992-01-01'
      AND (l_discount > 0.01 OR l_tax < 0.07)
      AND l_linestatus LIKE '_'
      AND l_partkey IS NOT NULL
    """,
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + aliasing + computed columns over the full predicate
    family: equality-ish range, BETWEEN, IN, LIKE, IS NOT NULL, >=
    timestamp, and an OR combination — all Catalyst-pushable into the
    parquet scan (scan-only plan).

    Maps reference R1's single-equality WHERE (clickhouse_users.py:149)
    and R2/R4 single-column projections (:156,:166) onto a general
    select with arithmetic.
    """
    li = pscan(spark, f"{sf_dir}/lineitem.parquet")
    return li.filter(
        (F.col("l_orderkey") <= 2000)
        & F.col("l_quantity").between(2, 48)
        & F.col("l_returnflag").isin("A", "N", "R")
        & (F.col("l_shipdate") >= F.lit("1992-01-01").cast("timestamp"))
        & ((F.col("l_discount") > 0.01) | (F.col("l_tax") < 0.07))
        & F.col("l_linestatus").like("_")
        & F.col("l_partkey").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        # DECIMAL factors before ROUND: the double product is bit-identical
        # across engines, but tie-rounding of the SAME double differs
        # (decimal-expansion HALF_UP vs scaled-int rounding) — exact
        # decimal arithmetic removes the tie entirely. Surfaced at sf0.1
        # (2 boundary rows in 38k); invisible at sf0.01.
        F.round(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (1 - F.col("l_discount")).cast("decimal(8,4)")
            * (1 + F.col("l_tax")).cast("decimal(8,4)"),
            2,
        )
        .cast("double")
        .alias("charge"),
        F.upper("l_returnflag").alias("flag_upper"),
    )

"""Sort / limit / top-k fixture queries (SURVEY §2C — Sort/limit/top-k).

100 TB notes:
- global sort: Spark plans a range-partitioned exchange (sampled
  boundaries) then per-partition sort — scales; never a single-task sort.
- global top-k (`orderBy().limit(k)`): Spark rewrites to TakeOrderedAndProject
  — per-partition heaps + driver merge of k·P rows, no full sort, no full
  shuffle. This is the right plan at any scale.
- top-k per group: window rank + filter — one shuffle on the group key;
  rank prunes before any further stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.tables import pscan


@query(
    "q_sort",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer
    ORDER BY c_mktsegment ASC, c_acctbal DESC NULLS LAST, c_custkey ASC
    """,
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort with explicit null ordering.

    The driver's value-hash is order-insensitive, but the sort exercises
    the range-exchange plan; c_custkey makes the order total.
    """
    c = pscan(spark, f"{sf_dir}/customer.parquet")
    return c.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment").orderBy(
        F.col("c_mktsegment").asc(),
        F.col("c_acctbal").desc_nulls_last(),
        F.col("c_custkey").asc(),
    )


@query(
    "q_topk",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice, rn, rnk, drnk
    FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER w AS rn,
               RANK()       OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey ASC)
    )
    WHERE rn <= 5
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 orders by price per status (window rank + filter; CH
    ``LIMIT 5 BY o_orderstatus``), carrying the full ranking-function
    family (row_number / rank / dense_rank) on the same window — one
    exchange computes all three, and WindowGroupLimit still prunes
    map-side on the row_number predicate.

    o_orderkey in ORDER BY is the unique tie-breaker: row_number over a
    non-unique ordering is nondeterministic.
    """
    o = pscan(spark, f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderstatus",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    ).filter(F.col("rn") <= 5)

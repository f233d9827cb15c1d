"""Window-function fixture queries (SURVEY §2C — Window functions).

100 TB notes: a window = one shuffle on partitionBy keys + per-partition
sort. Partition keys here (orderkey, returnflag, user_id) have bounded
per-key row counts, so no single partition explodes. For global (un-
partitioned) windows — which serialize onto one task — see q_sort's
repartitionByRange note instead; none are used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.tables import pscan


@query(
    "q_win_analytic",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           l_quantity,
           LAG(l_quantity)  OVER w                        AS prev_qty,
           LEAD(l_quantity) OVER w                        AS next_qty,
           FIRST_VALUE(l_partkey) OVER w                  AS first_part,
           LAST_VALUE(l_partkey)  OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)        AS last_part,
           ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total,
           ROUND(AVG(l_extendedprice) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
               AS moving_avg3,
           NTILE(4) OVER w                                AS qtile
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey)
    """,
)
def q_win_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic + frame window functions over ONE window spec: lag /
    lead / first / last within each order by line number, plus a
    running sum and a 3-row moving average — one exchange + one
    per-partition sort computes all six columns (the ranking family
    rides the same shape in q_topk).

    last_value needs the full-frame override on both engines (default
    frame stops at CURRENT ROW). ORDER BY is extended to a TOTAL order:
    (l_orderkey, l_linenumber) is not unique in the fixture (11,785 dup
    pairs at sf0.01) but adding (l_partkey, l_suppkey) is — verified —
    so lag/lead/first and the running double sums are engine-
    independent; rounding guards the last ulp.
    """
    li = pscan(spark, f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.lead("l_quantity").over(w).alias("next_qty"),
        F.first("l_partkey").over(w).alias("first_part"),
        F.last("l_partkey").over(w_full).alias("last_part"),
        F.round(
            F.sum("l_extendedprice").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("running_total"),
        F.round(
            F.avg("l_extendedprice").over(w.rowsBetween(-2, Window.currentRow)), 4
        ).alias("moving_avg3"),
        # ntile is deterministic given the TOTAL order above (bucket
        # boundaries depend only on row position); both engines use the
        # same larger-first remainder rule
        F.ntile(4).over(w).alias("qtile"),
    )

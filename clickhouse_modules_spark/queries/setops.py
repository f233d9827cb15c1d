"""Set-operation fixture queries (SURVEY §2C — Set ops).

100 TB notes: UNION ALL is a zero-shuffle concatenation; UNION DISTINCT /
INTERSECT / EXCEPT each shuffle once on the full row as the key — at
scale, prefer projecting to the minimal column set first (done here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.tables import pscan


@query(
    "q_set_ops",
    oracle="""
    SELECT 'union' AS op, nationkey, src FROM (
        SELECT DISTINCT c_nationkey AS nationkey, 'customer' AS src FROM customer
        UNION ALL
        SELECT DISTINCT s_nationkey AS nationkey, 'supplier' AS src FROM supplier
    )
    UNION ALL
    SELECT 'intersect' AS op, nationkey, '' AS src FROM (
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    )
    UNION ALL
    SELECT 'except' AS op, nationkey, '' AS src FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + INTERSECT + EXCEPT over the customer/supplier nation
    sets, tag-unioned into one driver-checked result.

    The three legs keep their own plans (union = concatenation;
    intersect/except = one full-row-keyed shuffle each); the tag union
    on top is another zero-shuffle concatenation.
    """
    c = pscan(spark, f"{sf_dir}/customer.parquet")
    s = pscan(spark, f"{sf_dir}/supplier.parquet")
    c_keys = c.select(F.col("c_nationkey").alias("nationkey"))
    s_keys = s.select(F.col("s_nationkey").alias("nationkey"))
    union = (
        c_keys.distinct()
        .withColumn("src", F.lit("customer"))
        .unionByName(s_keys.distinct().withColumn("src", F.lit("supplier")))
        .select(F.lit("union").alias("op"), "nationkey", "src")
    )
    inter = (
        c_keys.intersect(s_keys)
        .select(F.lit("intersect").alias("op"), "nationkey", F.lit("").alias("src"))
    )
    exc = (
        c_keys.subtract(s_keys)
        .select(F.lit("except").alias("op"), "nationkey", F.lit("").alias("src"))
    )
    return union.unionByName(inter).unionByName(exc)

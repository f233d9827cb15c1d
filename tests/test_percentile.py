"""Bit-identity pins for operators.percentile.exact_group_percentiles
vs Spark's built-in exact ``percentile`` aggregate (r16 — the
q_agg_quantile_filter threshold pass was rewritten on top of it; the
oracle hash would catch a drift end-to-end, these pins catch it at the
operator with hostile inputs the fixtures don't carry)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from clickhouse_modules_spark.operators.percentile import (
    exact_group_percentiles,
)

PS = [0.0, 0.25, 0.31, 0.5, 0.9, 0.95, 1.0]


def _builtin(df, group, cols):
    aggs = [
        F.percentile(c, F.array(*[F.lit(p) for p in PS])).alias(f"pp_{c}")
        for c in cols
    ]
    return {
        r[group]: tuple(r[f"pp_{c}"] for c in cols)
        for r in df.groupBy(group).agg(*aggs).collect()
    }


def _ours(df, group, cols):
    specs = [(c, PS, f"pp_{c}") for c in cols]
    return {
        r[group]: tuple(r[f"pp_{c}"] for c in cols)
        for r in exact_group_percentiles(df, group, specs).collect()
    }


def test_fixture_sf001_bit_identical(spark, sf_small):
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    cols = ["l_extendedprice", "l_quantity"]
    assert _builtin(li, "l_returnflag", cols) == _ours(
        li, "l_returnflag", cols
    )


def test_random_with_nulls_duplicates_bit_identical(spark):
    random.seed(11)
    rows = []
    for g in range(6):
        for _ in range(random.randint(1, 60)):
            v = (
                None
                if random.random() < 0.2
                else float(random.choice([1, 2, 2, 7])) * random.random()
            )
            u = None if random.random() < 0.3 else float(random.randint(0, 9))
            rows.append((g, v, u))
    rows.append((77, 3.14, None))  # single-row group, all-NULL column
    df = spark.createDataFrame(rows, "g INT, v DOUBLE, u DOUBLE")
    assert _builtin(df, "g", ["v", "u"]) == _ours(df, "g", ["v", "u"])


def test_integral_positions_and_ties(spark):
    # n=5 with p=0.25 → pos exactly 1.0 (integral); ties around it
    df = spark.createDataFrame(
        [(1, x) for x in [10.0, 10.0, 10.0, 20.0, 30.0]], "g INT, v DOUBLE"
    )
    assert _builtin(df, "g", ["v"]) == _ours(df, "g", ["v"])


def test_int_column_matches_double_semantics(spark):
    df = spark.createDataFrame(
        [(1, i % 7) for i in range(100)], "g INT, v INT"
    )
    assert _builtin(df, "g", ["v"]) == _ours(df, "g", ["v"])


def test_nan_sorts_greatest_and_null_is_dropped(spark):
    # NaN is a value (the built-in orders it above every double), NULL
    # is not one; group 1 puts NaN inside the upper percentiles, group
    # 2 is NaN-only, group 3 mixes NaN and NULL with one finite value
    nan = float("nan")
    rows = [(1, v) for v in [3.0, None, nan, 1.0, 2.0, None, 5.0, nan]]
    rows += [(2, nan), (2, nan), (3, None), (3, nan), (3, 4.0)]
    df = spark.createDataFrame(rows, "g INT, v DOUBLE")

    def norm(res):
        # NaN != NaN: compare through repr
        return {g: repr(vals) for g, vals in res.items()}

    assert norm(_builtin(df, "g", ["v"])) == norm(_ours(df, "g", ["v"]))

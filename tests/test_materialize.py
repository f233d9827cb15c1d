"""materialize() pins an intermediate without changing its rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_modules_spark.operators.materialize import materialize


@pytest.mark.parametrize("mode", ["checkpoint"])
def test_modes_preserve_rows(spark, mode):
    df = spark.range(0, 100).withColumn("v", F.col("id") % 7)
    out = materialize(df)
    assert out.count() == 100
    assert out.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]

"""Round-16 advisor-item pins: stream_scope nodata-conflict guard and
asof_join_both input validation."""

from __future__ import annotations

import pytest

from clickhouse_modules_spark.operators.asof import asof_join_both
from clickhouse_modules_spark.streaming import windows as sw


def test_stream_scope_nodata_conflict_raises(spark):
    # active nodata=False scope; a nested True request would silently
    # lose its watermark flush under 'first wins' — must raise instead
    with sw.stream_scope(spark, nodata=False):
        with pytest.raises(RuntimeError, match="nodata"):
            with sw.stream_scope(spark, nodata=True):
                pass  # pragma: no cover
    # conf restored after the outer scope
    assert spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    ) == "true"


def test_stream_scope_false_under_true_raises(spark):
    # the guard fires on any mix, in either order: which scope comes
    # first depends on thread scheduling in the concurrent composites
    with sw.stream_scope(spark, nodata=True):
        with pytest.raises(RuntimeError, match="nodata"):
            with sw.stream_scope(spark, nodata=False):
                pass  # pragma: no cover
    assert spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    ) == "true"


def test_stream_scope_uniform_false_nested_ok(spark):
    with sw.stream_scope(spark, nodata=False):
        with sw.stream_scope(spark, nodata=False):
            assert spark.conf.get(
                "spark.sql.streaming.noDataMicroBatches.enabled"
            ) == "false"


def _toy(spark):
    left = spark.createDataFrame(
        [(1, 10)], ["k", "t"]
    )
    right = spark.createDataFrame(
        [(1, 9, 100.0, 5)], ["k", "t", "x", "y"]
    )
    return left, right


def test_asof_join_both_empty_cols_raises(spark):
    left, right = _toy(spark)
    with pytest.raises(ValueError, match="empty"):
        asof_join_both(
            left, right, "k", "k", "t", "t",
            backward_cols=[], forward_cols=[],
        )


def test_asof_join_both_divergent_default_tiebreak_raises(spark):
    left, right = _toy(spark)
    with pytest.raises(ValueError, match="tie_break"):
        asof_join_both(
            left, right, "k", "k", "t", "t",
            backward_cols=["x"], forward_cols=["y"],
        )


def test_asof_join_both_divergent_ok_with_explicit_tiebreak(spark):
    left, right = _toy(spark)
    out = asof_join_both(
        left, right, "k", "k", "t", "t",
        backward_cols=["x"], forward_cols=["y"], tie_break="x",
    )
    row = out.collect()[0]
    assert row["back_x"] == 100.0 and row["fwd_y"] is None

"""As-of join edge cases: ties at equal time, no-prior-row NULLs, and
inclusive <= semantics (operators/asof.py union+window composition),
plus asof_join_both's input validation."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from clickhouse_modules_spark.operators.asof import asof_join, asof_join_both

LEFT_SCHEMA = T.StructType(
    [
        T.StructField("lid", T.LongType()),
        T.StructField("k", T.StringType()),
        T.StructField("lt", T.TimestampType()),
    ]
)
RIGHT_SCHEMA = T.StructType(
    [
        T.StructField("k2", T.StringType()),
        T.StructField("rt", T.TimestampType()),
        T.StructField("val", T.LongType()),
    ]
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def run(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, LEFT_SCHEMA)
    right = spark.createDataFrame(right_rows, RIGHT_SCHEMA)
    out = asof_join(
        left, right,
        left_on="k", right_on="k2",
        left_time="lt", right_time="rt",
        value_cols=["val"],
    )
    return {r["lid"]: r["val"] for r in out.collect()}


def test_basic_latest_before(spark):
    got = run(
        spark,
        [(1, "a", ts("2024-01-01T12:00:00"))],
        [
            ("a", ts("2024-01-01T10:00:00"), 10),
            ("a", ts("2024-01-01T11:00:00"), 11),
            ("a", ts("2024-01-01T13:00:00"), 13),
        ],
    )
    assert got == {1: 11}


def test_inclusive_equal_time_matches(spark):
    # right row at exactly left time is taken (<= semantics)
    got = run(
        spark,
        [(1, "a", ts("2024-01-01T11:00:00"))],
        [("a", ts("2024-01-01T11:00:00"), 99)],
    )
    assert got == {1: 99}


def test_no_prior_row_yields_null(spark):
    got = run(
        spark,
        [(1, "a", ts("2024-01-01T09:00:00"))],
        [("a", ts("2024-01-01T10:00:00"), 10)],
    )
    assert got == {1: None}


def test_key_isolation(spark):
    # rows never cross keys
    got = run(
        spark,
        [(1, "a", ts("2024-01-01T12:00:00")), (2, "b", ts("2024-01-01T12:00:00"))],
        [
            ("a", ts("2024-01-01T10:00:00"), 1),
            ("b", ts("2024-01-01T11:00:00"), 2),
        ],
    )
    assert got == {1: 1, 2: 2}


def test_tie_break_max_wins_among_equal_times(spark):
    # two right rows at the same timestamp: the greatest tie_break value
    # wins (documented: right rows sort tie_break ASC, last carried wins)
    got = run(
        spark,
        [(1, "a", ts("2024-01-01T12:00:00"))],
        [
            ("a", ts("2024-01-01T10:00:00"), 7),
            ("a", ts("2024-01-01T10:00:00"), 42),
        ],
    )
    assert got == {1: 42}


def run_fwd(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, LEFT_SCHEMA)
    right = spark.createDataFrame(right_rows, RIGHT_SCHEMA)
    out = asof_join(
        left, right,
        left_on="k", right_on="k2",
        left_time="lt", right_time="rt",
        value_cols=["val"],
        direction="forward",
    )
    return {r["lid"]: r["val"] for r in out.collect()}


def test_forward_earliest_after(spark):
    got = run_fwd(
        spark,
        [(1, "a", ts("2024-01-01T12:00:00"))],
        [
            ("a", ts("2024-01-01T11:00:00"), 11),
            ("a", ts("2024-01-01T13:00:00"), 13),
            ("a", ts("2024-01-01T14:00:00"), 14),
        ],
    )
    assert got == {1: 13}


def test_forward_inclusive_equal_time(spark):
    got = run_fwd(
        spark,
        [(1, "a", ts("2024-01-01T11:00:00"))],
        [("a", ts("2024-01-01T11:00:00"), 99)],
    )
    assert got == {1: 99}


def test_forward_no_later_row_yields_null(spark):
    got = run_fwd(
        spark,
        [(1, "a", ts("2024-01-01T15:00:00"))],
        [("a", ts("2024-01-01T10:00:00"), 10)],
    )
    assert got == {1: None}


def test_forward_tie_break_min_wins(spark):
    got = run_fwd(
        spark,
        [(1, "a", ts("2024-01-01T09:00:00"))],
        [
            ("a", ts("2024-01-01T10:00:00"), 42),
            ("a", ts("2024-01-01T10:00:00"), 7),
        ],
    )
    assert got == {1: 7}


# --- r15: fused bidirectional pass (asof_join_both) ---------------------


def test_both_matches_two_single_calls(spark):
    """asof_join_both ≡ backward call + forward call joined per left
    row — the equivalence the q_join_asof r15 plan rewrite rests on.
    Exercises ties (right at equal time), missing-prior NULLs,
    missing-later NULLs, and duplicate boundary times."""
    from clickhouse_modules_spark.operators.asof import asof_join_both

    left_rows = [
        (1, "a", ts("2024-01-01T10:00:00")),
        (2, "a", ts("2024-01-01T11:00:00")),
        (3, "a", ts("2024-01-01T08:00:00")),  # before every right row
        (4, "b", ts("2024-01-01T12:00:00")),  # after every right row
        (5, "c", ts("2024-01-01T09:00:00")),  # no right rows at all
    ]
    right_rows = [
        ("a", ts("2024-01-01T10:00:00"), 42),  # tie with lid=1
        ("a", ts("2024-01-01T10:00:00"), 7),   # tie-break candidate
        ("a", ts("2024-01-01T10:30:00"), 99),
        ("b", ts("2024-01-01T09:00:00"), 5),
    ]
    left = spark.createDataFrame(left_rows, LEFT_SCHEMA)
    right = spark.createDataFrame(right_rows, RIGHT_SCHEMA)
    kw = dict(
        left_on="k", right_on="k2", left_time="lt", right_time="rt",
    )
    back = asof_join(left, right, value_cols=["val"], **kw)
    fwd = asof_join(
        left, right, value_cols=["val"], direction="forward", **kw
    )
    expected = {
        r["lid"]: (r["val"], f["val"])
        for r in back.collect()
        for f in fwd.collect()
        if f["lid"] == r["lid"]
    }
    both = asof_join_both(
        left, right, backward_cols=["val"], forward_cols=["val"], **kw
    )
    got = {
        r["lid"]: (r["back_val"], r["fwd_val"]) for r in both.collect()
    }
    assert got == expected
    # single user-keyed exchange, no join operator in the fused plan
    # (executed AQE plan strings repeat the tree under '== Initial
    # Plan ==' — count only the final section)
    plan = both._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") + final.count(
        "ShuffleQueryStage"
    ) <= 2  # one shuffle: exchange node + its materialized stage ref
    assert "Join" not in final


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

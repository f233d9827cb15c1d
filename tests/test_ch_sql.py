"""ch_sql translator: each mapping family, nesting, quoting, and the
parameterized-aggregate form; end-to-end execution on Spark."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from clickhouse_modules_spark.functions.ch_sql import ch_sql, translate
from clickhouse_modules_spark.functions.strkernels import bit_slice


@pytest.mark.parametrize(
    ("ch", "expected"),
    [
        ("countIf(x > 1)", "count_if(x > 1)"),
        ("toYYYYMM(d)", "cast(date_format(d, 'yyyyMM') as int)"),
        ("toStartOfMonth(d)", "date_trunc('MONTH', d)"),
        ("uniqExact(x)", "count(DISTINCT x)"),
        ("sumIf(v, c = 1)", "sum(CASE WHEN c = 1 THEN v END)"),
        ("splitByChar(',', s)", "split(s, ',')"),
        ("position(h, 'n')", "instr(h, 'n')"),
        ("has(arr, 5)", "array_contains(arr, 5)"),
        ("intDiv(a, b)", "((a) DIV (b))"),
        ("argMax(a, b)", "max_by(a, CASE WHEN (a) IS NOT NULL THEN b END)"),
        ("groupArray(x)", "collect_list(x)"),
        ("SHA256(s)", "sha2(s, 256)"),
        ("toUInt32(x)", "cast(x as bigint)"),
        ("JSONExtractString(j, 'k')", "get_json_object(j, concat('$.', 'k'))"),
        ("quantile(0.5)(x)", "percentile_approx(x, 0.5D)"),
        ("quantilesTDigest(0.25, 0.75)(x)",
         "percentile_approx(x, array(0.25D, 0.75D))"),
        ("a == b", "a = b"),
        # nesting: inner calls translate inside outer templates
        ("toFloat64(sumIf(toDecimal64(v, 2), f == 'x'))",
         "cast(sum(CASE WHEN f = 'x' THEN cast(v as decimal(18, 2)) END) as double)"),
        # multiIf chain
        ("multiIf(a == 1, 'x', b == 2, 'y', 'z')",
         "CASE WHEN a = 1 THEN 'x' WHEN b = 2 THEN 'y' ELSE 'z' END"),
        # higher-order fns: CH lambda-first → Spark lambda-second
        ("arrayMap(x -> x * 2, arr)", "transform(arr, x -> x * 2)"),
        ("arrayFilter(x -> x == 1, arr)", "filter(arr, x -> x = 1)"),
        ("arrayCount(x -> x > 0, arr)", "size(filter(arr, x -> x > 0))"),
        ("arrayExists(x -> has(ys, x), xs)",
         "exists(xs, x -> array_contains(ys, x))"),
    ],
)
def test_translate(ch, expected):
    assert translate(ch) == expected


def test_strings_and_unknown_functions_untouched(monkeypatch):
    # '==' inside a literal must survive; unknown fns pass through
    assert translate("SELECT 'a == b', mystery(x, y) FROM t") == (
        "SELECT 'a == b', mystery(x, y) FROM t"
    )


def test_unbalanced_parens_raise():
    with pytest.raises(ValueError):
        translate("SELECT f(x FROM t")


def test_end_to_end_on_spark(spark):
    df = spark.createDataFrame(
        [(1, "a,b", 10.0), (2, "c", 20.0), (2, "d,e", 30.0)],
        ["k", "csv", "v"],
    )
    out = ch_sql(
        spark,
        """
        SELECT k,
               uniqExact(csv)                   AS n,
               toFloat64(sumIf(v, k == 2))      AS s2,
               groupArray(splitByChar(',', csv)[1]) AS firsts
        FROM t GROUP BY k
        """,
        views={"t": df},
    ).collect()
    got = {r["k"]: (r["n"], r["s2"], sorted(r["firsts"])) for r in out}
    assert got == {1: (1, None, ["a"]), 2: (2, 50.0, ["c", "d"])}


class TestLimitBy:
    def test_rewrite_shape(self):
        out = translate(
            "SELECT a, b FROM t ORDER BY b DESC, a LIMIT 2 BY a"
        )
        assert "row_number() OVER" in out
        assert "PARTITION BY a ORDER BY b DESC, a" in out
        assert "__rn <= 2" in out

    def test_trailing_limit_kept(self):
        out = translate("SELECT a FROM t ORDER BY a LIMIT 3 BY b LIMIT 10")
        assert out.rstrip().endswith("LIMIT 10")
        assert "__rn <= 3" in out

    def test_requires_order_by(self):
        with pytest.raises(ValueError, match="ORDER BY"):
            translate("SELECT a FROM t LIMIT 2 BY a")

    def test_plain_limit_untouched(self):
        assert translate("SELECT a FROM t LIMIT 5") == (
            "SELECT a FROM t LIMIT 5"
        )

    def test_executes_on_spark(self, spark):
        df = spark.createDataFrame(
            [("x", 1), ("x", 2), ("x", 3), ("y", 9)], ["g", "v"]
        )
        rows = ch_sql(
            spark,
            "SELECT g, v FROM t ORDER BY v DESC LIMIT 2 BY g",
            views={"t": df},
        ).collect()
        got = sorted((r["g"], r["v"]) for r in rows)
        assert got == [("x", 2), ("x", 3), ("y", 9)]


class TestArrayJoinAndTotals:
    def test_array_join_rewrite(self):
        out = translate("SELECT a, w FROM t ARRAY JOIN arr AS w WHERE a > 1")
        assert "LATERAL VIEW explode(arr) __aj AS w" in out

    def test_left_array_join_is_outer(self):
        out = translate("SELECT a, w FROM t LEFT ARRAY JOIN arr AS w")
        assert "LATERAL VIEW OUTER explode(arr)" in out

    def test_multi_array_zips_positionally(self, spark):
        df = spark.createDataFrame(
            [(1, [10, 20], ["a", "b"]), (2, [30], ["c", "d"]), (3, [], ["e"])],
            ["id", "nums", "tags"],
        )
        rows = ch_sql(
            spark,
            "SELECT id, n, t FROM t ARRAY JOIN nums AS n, tags AS t",
            views={"t": df},
        ).collect()
        got = sorted([(r["id"], r["n"], r["t"]) for r in rows], key=str)
        # zip is positional over the FIRST array: row 2 keeps only 'c',
        # row 3 (empty first array) vanishes — never a cross product
        assert got == sorted(
            [(1, 10, "a"), (1, 20, "b"), (2, 30, "c")], key=str
        )

    def test_multi_array_requires_alias_per_array(self):
        with pytest.raises(ValueError, match="per array"):
            translate("SELECT a FROM t ARRAY JOIN x, y AS z")

    def test_array_join_requires_alias(self):
        with pytest.raises(ValueError, match="AS"):
            translate("SELECT a FROM t ARRAY JOIN arr")

    def test_with_totals_single_key(self):
        out = translate("SELECT g, count() FROM t GROUP BY g WITH TOTALS")
        assert out.endswith("GROUP BY g GROUPING SETS((g), ())")
        assert "count(*)" in out

    def test_with_totals_multi_key_is_empty_grouping_set(self, spark):
        # CH multi-key TOTALS = ONE grand-total row (the empty set),
        # never ROLLUP's per-prefix subtotals
        out = translate("SELECT a, b FROM t GROUP BY a, b WITH TOTALS")
        assert out.endswith("GROUP BY a, b GROUPING SETS((a, b), ())")
        df = spark.createDataFrame(
            [("x", "u", 1), ("x", "v", 2), ("y", "u", 4)], ["a", "b", "v"]
        )
        rows = ch_sql(
            spark,
            "SELECT a, b, sum(v) AS s FROM t GROUP BY a, b WITH TOTALS",
            views={"t": df},
        ).collect()
        got = {(r["a"], r["b"]): r["s"] for r in rows}
        # 3 group rows + exactly one (NULL, NULL) totals row; no
        # (x, NULL) prefix subtotals
        assert got == {
            ("x", "u"): 1, ("x", "v"): 2, ("y", "u"): 4, (None, None): 7,
        }

    def test_bare_count_rewritten(self):
        assert translate("SELECT count() FROM t") == "SELECT count(*) FROM t"

    def test_executes_on_spark(self, spark):
        df = spark.createDataFrame(
            [(1, ["x", "y"]), (2, [])], ["id", "arr"]
        )
        rows = ch_sql(
            spark,
            "SELECT id, w FROM t LEFT ARRAY JOIN arr AS w",
            views={"t": df},
        ).collect()
        got = sorted([(r["id"], r["w"]) for r in rows], key=str)
        assert got == sorted([(1, "x"), (1, "y"), (2, None)], key=str)


class TestPrewhereGlobalDict:
    def test_prewhere_merges_into_where(self):
        out = translate("SELECT a FROM t PREWHERE p = 1 WHERE q = 2 GROUP BY a")
        assert "WHERE(p = 1) AND(q = 2)" in out
        assert "PREWHERE" not in out

    def test_prewhere_alone_becomes_where(self):
        out = translate("SELECT a FROM t PREWHERE p = 1 ORDER BY a")
        assert out.startswith("SELECT a FROM t WHERE p = 1")

    def test_global_in_dropped(self):
        out = translate("SELECT a FROM t WHERE k GLOBAL IN (SELECT i FROM s)")
        assert "GLOBAL" not in out and "IN" in out

    def test_global_not_in_dropped(self):
        out = translate("SELECT a FROM t WHERE k GLOBAL NOT IN (SELECT i FROM s)")
        assert "GLOBAL" not in out and "NOT IN" in out

    def test_dictget_rewrite(self):
        out = translate("SELECT dictGet('d', 'attr', k) FROM t")
        assert out == "SELECT (SELECT attr FROM d WHERE __key = k) FROM t"

    def test_dictget_or_default(self):
        out = translate("SELECT dictGetOrDefault('d', 'a', k, 0) FROM t")
        assert out == "SELECT coalesce((SELECT a FROM d WHERE __key = k), 0) FROM t"

    def test_dictget_executes_and_missing_key_is_null(self, spark):
        from clickhouse_modules_spark.functions.ch_sql import (
            QueryContext,
            dictionary,
        )

        dim = spark.createDataFrame([(1, "one"), (2, "two")], ["k", "name"])
        ctx = QueryContext(frames={"d_test": dictionary(dim, "k")})
        fact = spark.createDataFrame([(1,), (3,)], ["k"])
        rows = ch_sql(
            spark,
            "SELECT k, dictGet('d_test', 'name', k) AS nm,"
            "       dictGetOrDefault('d_test', 'name', k, 'missing') AS nm2"
            " FROM f",
            ctx,
            views={"f": fact},
        ).collect()
        got = {r["k"]: (r["nm"], r["nm2"]) for r in rows}
        assert got == {1: ("one", "one"), 3: (None, "missing")}


class TestFunctionBreadth:
    """New mapping families execute correctly on Spark (values asserted,
    not just text rewrites)."""

    def test_bit_date_array_url(self, spark):
        rows = ch_sql(
            spark,
            """
            SELECT bitAnd(12, 10)                          AS b_and,
                   bitXor(12, 10)                          AS b_xor,
                   bitShiftLeft(1, 4)                      AS b_shl,
                   arraySum(array(1, 2, 3))                AS a_sum,
                   arrayAvg(array(2, 4))                   AS a_avg,
                   arrayUniq(array(1, 1, 2))               AS a_uniq,
                   arrayPopBack(array(1, 2, 3))            AS a_pop,
                   arrayPushFront(array(2, 3), 1)          AS a_push,
                   domain('https://ex.org/p/q?k=v')        AS host,
                   path('https://ex.org/p/q?k=v')          AS pth,
                   extractURLParameter('https://ex.org/p?k=v', 'k') AS param,
                   base64Decode(base64Encode('hi'))        AS rt,
                   toDayOfWeek(toDate('2026-08-13'))       AS dow,
                   toStartOfQuarter(toDate('2026-08-13'))  AS soq,
                   nullIf(1, 1)                            AS nl
            FROM t
            """,
            views={"t": spark.range(1)},
        ).collect()[0]
        assert rows["b_and"] == 8 and rows["b_xor"] == 6 and rows["b_shl"] == 16
        assert rows["a_sum"] == 6.0 and rows["a_avg"] == 3.0
        assert rows["a_uniq"] == 2
        assert rows["a_pop"] == [1, 2] and rows["a_push"] == [1, 2, 3]
        assert rows["host"] == "ex.org" and rows["pth"] == "/p/q"
        assert rows["param"] == "v"
        assert rows["rt"] == "hi"
        assert rows["dow"] == 4  # 2026-08-13 is a Thursday (CH: Mon=1)
        assert str(rows["soq"]).startswith("2026-07-01")
        assert rows["nl"] is None

    def test_any_and_renames_translate(self):
        assert translate("any(x)") == "any_value(x)"
        assert translate("subtractDays(d, 7)") == (
            "(d - make_interval(0, 0, 0, 7))"
        )
        assert translate("arrayZip(a, b)") == "arrays_zip(a, b)"
        assert translate("leftPad(s, 5, '0')") == "lpad(s, 5, '0')"
        assert translate("fromUnixTimestamp(t)") == (
            "cast(from_unixtime(t) as timestamp)"
        )


def test_uniq_and_quantile_alias_families():
    assert translate("uniqCombined(x)") == "approx_count_distinct(x)"
    assert translate("uniqHLL12(x)") == "approx_count_distinct(x)"
    assert translate("median(x)") == "percentile_approx(x, 0.5)"  # template literal, not scanned
    assert translate("medianExact(x)") == "percentile(x, 0.5)"
    assert translate("quantileTDigest(0.9)(x)") == "percentile_approx(x, 0.9D)"
    assert translate("quantilesTDigest(0.5, 0.9)(x)") == (
        "percentile_approx(x, array(0.5D, 0.9D))"
    )


def test_settings_and_format_tails_stripped():
    assert translate("SELECT a FROM t SETTINGS max_threads = 8") == (
        "SELECT a FROM t"
    )
    assert translate("SELECT a FROM t FORMAT JSONEachRow;") == (
        "SELECT a FROM t"
    )
    assert translate(
        "SELECT a FROM t ORDER BY a LIMIT 1 BY a SETTINGS joined_subquery_requires_alias = 0"
    ).rstrip().endswith("ORDER BY a")  # LIMIT BY still rewrites after strip
    # format(...) as a function translates to format_string (round 10
    # — the bare passthrough died at Spark analysis)
    assert translate("SELECT format('{}', a) FROM t") == (
        "SELECT format_string('%s', cast(a as string)) FROM t"
    )
    # a call after an operator is no FORMAT clause; the real one goes
    assert translate(
        "SELECT a FROM t WHERE s = format('{}', a) FORMAT JSON"
    ) == "SELECT a FROM t WHERE s = format_string('%s', cast(a as string))"


def test_uniqupto_arrayelement_countequal(spark):
    assert translate("uniqUpTo(3)(x)") == (
        "least(count(DISTINCT x), 3 + 1)"
    )
    rows = ch_sql(
        spark,
        """
        SELECT arrayElement(arr, 2)   AS second,
               arrayElement(arr, -1)  AS last,
               countEqual(arr, 7)     AS sevens,
               uniqUpTo(2)(v)         AS u2
        FROM t GROUP BY arr
        """,
        views={
            "t": spark.createDataFrame(
                [([7, 8, 7], 1), ([7, 8, 7], 2), ([7, 8, 7], 3)],
                ["arr", "v"],
            )
        },
    ).collect()[0]
    assert rows["second"] == 8 and rows["last"] == 7
    assert rows["sevens"] == 2
    assert rows["u2"] == 3  # 3 distinct > cap 2 → saturates at 2+1


def test_map_family_renames(spark):
    rows = ch_sql(
        spark,
        "SELECT mapContains(mapFromArrays(array('a','b'), array(1,2)), 'a') AS has_a",
        views={"t": spark.range(1)},
    ).collect()[0]
    assert rows["has_a"] is True


# ------------------------------------------------- round-5 clause surface
def test_topk_is_frequency_ordered(spark):
    """topK(k)(x) must return the k most FREQUENT values (count desc,
    value asc on ties) — NOT the k smallest (the round-2 defect)."""
    rows = [("y",)] * 5 + [("x",)] * 3 + [("a",)] * 3 + [("z",)] * 1
    out = ch_sql(
        spark,
        "SELECT topK(2)(v) AS top FROM t",
        views={"t": spark.createDataFrame(rows, ["v"])},
    ).collect()[0]
    # 'y' (5) first; tie between 'a' and 'x' (3 each) → 'a' by value
    assert out["top"] == ["y", "a"]


def test_topk_grouped(spark):
    rows = [("g1", "m"), ("g1", "m"), ("g1", "n"), ("g2", "q")]
    out = {
        r["g"]: r["top"]
        for r in ch_sql(
            spark,
            "SELECT g, topK(1)(v) AS top FROM t GROUP BY g",
            views={"t": spark.createDataFrame(rows, ["g", "v"])},
        ).collect()
    }
    assert out == {"g1": ["m"], "g2": ["q"]}


def test_final_latest_version_per_key(spark):
    from clickhouse_modules_spark.functions import ch_sql as chs

    log = spark.createDataFrame(
        [(1, "a", 1, 10.0), (1, "a", 3, 30.0), (1, "a", 2, 20.0),
         (2, "a", 1, 5.0)],
        ["k", "sub", "ver", "val"],
    )
    ctx = chs.QueryContext(replacing={"upserts": (("k", "sub"), "ver")})
    rows = {
        (r["k"], r["sub"]): (r["ver"], r["val"])
        for r in ch_sql(
            spark,
            "SELECT k, sub, ver, val FROM upserts FINAL",
            ctx,
            views={"upserts": log},
        ).collect()
    }
    assert rows == {(1, "a"): (3, 30.0), (2, "a"): (1, 5.0)}


def test_final_unregistered_raises(spark):
    with pytest.raises(ValueError, match="QueryContext's replacing entry"):
        ch_sql(spark, "SELECT * FROM nope FINAL", views={"nope": spark.range(1)})


def test_sample_matches_dataframe_predicate(spark):
    from pyspark.sql import functions as F

    from clickhouse_modules_spark.functions import ch_sql as chs
    from clickhouse_modules_spark.operators import textprep

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    ctx = chs.QueryContext(sampling={"s_t": "k"})
    sql_ids = {
        r["k"]
        for r in ch_sql(
            spark, "SELECT k FROM s_t SAMPLE 1/10", ctx, views={"s_t": df}
        ).collect()
    }
    df_ids = {
        r["k"]
        for r in df.filter(textprep.sample_predicate("k", 1, 10)).collect()
    }
    assert sql_ids == df_ids  # SQL- and DataFrame-level samples agree
    assert 0 < len(sql_ids) < 1000


def test_sample_composes_with_final(spark):
    from clickhouse_modules_spark.functions import ch_sql as chs

    log = spark.createDataFrame(
        [(k, v, float(k * 10 + v)) for k in range(100) for v in (1, 2)],
        ["k", "ver", "val"],
    )
    ctx = chs.QueryContext(
        replacing={"fs_t": (("k",), "ver")}, sampling={"fs_t": "k"}
    )
    rows = ch_sql(
        spark,
        "SELECT k, ver FROM fs_t FINAL SAMPLE 1/4",
        ctx,
        views={"fs_t": log},
    ).collect()
    assert rows and all(r["ver"] == 2 for r in rows)  # FINAL kept latest
    assert len(rows) < 100  # sample really filtered


def test_asof_join_backward_and_forward(spark):
    quotes = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (2, 15, 9.0)], ["q_k", "q_t", "px"]
    )
    trades = spark.createDataFrame(
        [(1, 15), (1, 25), (2, 5), (3, 8)], ["k", "t"]
    )
    back = {
        (r["k"], r["t"]): r["px"]
        for r in ch_sql(
            spark,
            """
            SELECT trades.k, trades.t, q.px
            FROM trades
            ASOF LEFT JOIN quotes AS q
              ON trades.k = q.q_k AND q.q_t <= trades.t
            """,
            views={"trades": trades, "quotes": quotes},
        ).collect()
    }
    assert back == {(1, 15): 1.0, (1, 25): 2.0, (2, 5): None, (3, 8): None}
    fwd = {
        (r["k"], r["t"]): r["px"]
        for r in ch_sql(
            spark,
            """
            SELECT trades.k, trades.t, q.px
            FROM trades
            ASOF LEFT JOIN quotes AS q
              ON trades.k = q.q_k AND q.q_t >= trades.t
            """,
            views={"trades": trades, "quotes": quotes},
        ).collect()
    }
    assert fwd == {(1, 15): 2.0, (1, 25): None, (2, 5): 9.0, (3, 8): None}


def test_asof_join_followed_by_another_join(spark):
    # the ON-conjunction scan must stop at the NEXT JOIN keyword — a
    # trailing equi-join used to be swallowed into the ON text
    quotes = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0)], ["q_k", "q_t", "px"]
    )
    trades = spark.createDataFrame([(1, 15), (1, 25)], ["k", "t"])
    names = spark.createDataFrame([(1, "acme")], ["n_k", "nm"])
    rows = ch_sql(
        spark,
        """
        SELECT trades.k, trades.t, q.px, n.nm
        FROM trades
        ASOF LEFT JOIN quotes AS q
          ON trades.k = q.q_k AND q.q_t <= trades.t
        JOIN names AS n ON trades.k = n.n_k
        """,
        views={"trades": trades, "quotes": quotes, "names": names},
    ).collect()
    got = {(r["k"], r["t"]): (r["px"], r["nm"]) for r in rows}
    assert got == {(1, 15): (1.0, "acme"), (1, 25): (2.0, "acme")}


def test_asof_join_select_star_hides_internals(spark):
    # SELECT * through the rewrite must not leak __dk*/__dt bookkeeping
    quotes = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0)], ["q_k", "q_t", "px"]
    )
    trades = spark.createDataFrame([(1, 15)], ["k", "t"])
    df = ch_sql(
        spark,
        """
        SELECT *
        FROM trades
        ASOF LEFT JOIN quotes AS q
          ON trades.k = q.q_k AND q.q_t <= trades.t
        """,
        views={"trades": trades, "quotes": quotes},
    )
    assert not [c for c in df.columns if c.startswith("__")]
    assert {"k", "t", "q_k", "q_t", "px"} <= set(df.columns)


def test_with_fill_gaps(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (5, 50)], ["d", "n"]
    )
    rows = ch_sql(
        spark,
        "SELECT d, sum(n) AS total FROM t GROUP BY d ORDER BY d WITH FILL",
        views={"t": df},
    ).collect()
    got = [(r["d"], r["total"]) for r in rows]
    assert got == [(1, 10), (2, 20), (3, None), (4, None), (5, 50)]


def test_with_fill_from_to_step(spark):
    # CH semantics: TO is EXCLUSIVE (grid 0,2,4,6 — no 8)
    df = spark.createDataFrame([(2, 20), (6, 60)], ["d", "n"])
    rows = ch_sql(
        spark,
        "SELECT d, sum(n) AS total FROM t GROUP BY d "
        "ORDER BY d WITH FILL FROM 0 TO 8 STEP 2",
        views={"t": df},
    ).collect()
    got = [(r["d"], r["total"]) for r in rows]
    assert got == [(0, None), (2, 20), (4, None), (6, 60)]


def test_with_fill_preserves_off_grid_rows(spark):
    # CH interleaves original rows with fill rows: a real d=3 under
    # STEP 2 must SURVIVE (the earlier spine-LEFT-JOIN rewrite silently
    # dropped it).
    df = spark.createDataFrame([(2, 20), (3, 30), (6, 60)], ["d", "n"])
    rows = ch_sql(
        spark,
        "SELECT d, sum(n) AS total FROM t GROUP BY d "
        "ORDER BY d WITH FILL FROM 0 TO 8 STEP 2",
        views={"t": df},
    ).collect()
    got = [(r["d"], r["total"]) for r in rows]
    assert got == [(0, None), (2, 20), (3, 30), (4, None), (6, 60)]


def test_asof_join_rewrite_matches_dataframe_operator(spark, sf_small):
    """The SQL-level ASOF rewrite (domain equi-join + window) and the
    DataFrame-level operators/asof.py composition implement the same
    semantic — cross-validate them on real events/orders data, both
    directions."""
    from pyspark.sql import functions as F

    from clickhouse_modules_spark.functions import ch_sql as chs
    from clickhouse_modules_spark.operators.asof import asof_join
    from clickhouse_modules_spark.tables import load_events

    e = load_events(spark, sf_small).select(
        "event_id", "user_id", F.date_trunc("second", "ts").alias("ets")
    )
    o = spark.read.parquet(f"{sf_small}/orders.parquet")

    sql_back = chs.ch_sql(
        spark,
        """
        SELECT e.event_id, o.o_orderkey AS k
        FROM ev e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ets
        """,
        views={"ev": e, "orders": o},
    )
    df_back = asof_join(
        e, o,
        left_on="user_id", right_on="o_custkey",
        left_time="ets", right_time="o_orderdate",
        value_cols=["o_orderkey"], tie_break="o_orderkey",
    ).select("event_id", F.col("o_orderkey").alias("k"))
    assert sql_back.exceptAll(df_back).isEmpty()
    assert df_back.exceptAll(sql_back).isEmpty()

    sql_fwd = chs.ch_sql(
        spark,
        """
        SELECT e.event_id, o.o_orderkey AS k
        FROM ev e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ets
        """,
        views={"ev": e, "orders": o},
    )
    df_fwd = asof_join(
        e, o,
        left_on="user_id", right_on="o_custkey",
        left_time="ets", right_time="o_orderdate",
        value_cols=["o_orderkey"], tie_break="o_orderkey",
        direction="forward",
    ).select("event_id", F.col("o_orderkey").alias("k"))
    # tie policy differs by design on exact-timestamp ties (operator:
    # min key forward; SQL rewrite: smallest first-column — same here),
    # so equality must hold exactly
    assert sql_fwd.exceptAll(df_fwd).isEmpty()
    assert df_fwd.exceptAll(sql_fwd).isEmpty()


def test_ch_functions_registry_is_complete():
    """CH_FUNCTIONS must include EVERY public shim — a regression once
    built the dict mid-module and silently dropped the bit/url/array-
    fold/date families defined after it (ch.bitAnd worked while
    CH_FUNCTIONS['bitand'] raised KeyError)."""
    import inspect

    from clickhouse_modules_spark.functions import ch

    public = {
        name.lower().rstrip("_")
        for name, fn in vars(ch).items()
        if inspect.isfunction(fn)
        and not name.startswith("_")
        and fn.__module__ == ch.__name__
    }
    missing = public - set(ch.CH_FUNCTIONS)
    assert not missing, f"shims absent from CH_FUNCTIONS: {sorted(missing)}"
    for probe in ("bitand", "domain", "arraysum", "todayofweek", "has"):
        assert probe in ch.CH_FUNCTIONS


@pytest.mark.parametrize(
    ("ch", "expected"),
    [
        # generic -If combinator over any aggregate (CH combinator
        # semantics: trailing condition arg, aggregate over matches)
        ("uniqIf(x, c > 1)",
         "approx_count_distinct(CASE WHEN c > 1 THEN x END)"),
        ("uniqExactIf(x, c > 1)",
         "count(DISTINCT CASE WHEN c > 1 THEN x END)"),
        ("groupArrayIf(x, c = 1)",
         "collect_list(CASE WHEN c = 1 THEN x END)"),
        ("medianIf(x, c = 1)",
         "percentile_approx(CASE WHEN c = 1 THEN x END, 0.5)"),
        # value-picking aggregates get ignoreNulls so the CASE's
        # manufactured NULLs are skipped
        ("anyIf(x, c = 1)", "any_value(CASE WHEN c = 1 THEN x END, true)"),
        # multi-arg: every value arg is wrapped (max_by ignores NULL
        # ordering values, so non-matching rows can't win)
        ("argMaxIf(a, v, c = 1)",
         "max_by(CASE WHEN c = 1 THEN a END, CASE WHEN (CASE WHEN c = 1 "
         "THEN a END) IS NOT NULL THEN CASE WHEN c = 1 THEN v END END)"),
        # explicit entries keep their templates (not the generic path)
        ("sumIf(v, c = 1)", "sum(CASE WHEN c = 1 THEN v END)"),
        # multiIf must NOT be treated as mult + If
        ("multiIf(a = 1, 'x', 'y')", "CASE WHEN a = 1 THEN 'x' ELSE 'y' END"),
    ],
)
def test_if_combinator(ch, expected):
    assert translate(ch) == expected


def test_limit_offset_comma_form(spark):
    # CH/MySQL `LIMIT offset, count` (offset FIRST) → Spark LIMIT/OFFSET
    assert (
        translate("SELECT x FROM t ORDER BY x LIMIT 5, 3")
        == "SELECT x FROM t ORDER BY x LIMIT 3 OFFSET 5"
    )
    df = spark.range(10).selectExpr("id AS x")
    rows = ch_sql(
        spark, "SELECT x FROM t ORDER BY x LIMIT 5, 3", views={"t": df}
    ).collect()
    assert [r["x"] for r in rows] == [5, 6, 7]


def test_limit_by_with_offset(spark):
    # CH `LIMIT n, m BY col`: skip n, keep m per group (docs:
    # sql-reference/statements/select/limit-by)
    df = spark.createDataFrame(
        [(g, v) for g in (1, 2) for v in (10, 20, 30, 40)], ["g", "v"]
    )
    rows = ch_sql(
        spark,
        "SELECT g, v FROM t ORDER BY v DESC LIMIT 1, 2 BY g",
        views={"t": df},
    ).collect()
    got = sorted((r["g"], r["v"]) for r in rows)
    # per group: desc order 40,30,20,10 → skip 1 → keep 30,20
    assert got == [(1, 20), (1, 30), (2, 20), (2, 30)]


def test_with_rollup_passthrough(spark):
    # CH `GROUP BY ... WITH ROLLUP` is valid Spark SQL verbatim — pin
    # that the translator leaves it intact and it executes
    q = "SELECT g, sum(v) AS s FROM t GROUP BY g WITH ROLLUP"
    assert translate(q) == q
    df = spark.createDataFrame([(1, 10), (1, 20), (2, 5)], ["g", "v"])
    rows = ch_sql(spark, q, views={"t": df}).collect()
    got = {(r["g"], r["s"]) for r in rows}
    assert got == {(1, 30), (2, 5), (None, 35)}


def test_if_combinator_end_to_end(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], ["k", "v"]
    )
    row = ch_sql(
        spark,
        """
        SELECT anyIf(v, k > 2)            AS a,
               uniqExactIf(k, k > 1)      AS u,
               groupArrayIf(v, k <= 2)    AS g,
               argMaxIf(k, v, k < 4)      AS am
        FROM t
        """,
        views={"t": df},
    ).collect()[0]
    assert row["a"] in (30.0, 40.0)
    assert row["u"] == 3
    assert sorted(row["g"]) == [10.0, 20.0]
    assert row["am"] == 3


def test_select_star_replace(spark):
    # CH `SELECT * REPLACE (expr AS col)`: with a registered view the
    # star expands to the full column list with in-place substitution
    # (exact CH column order); GROUP BY ALL / ORDER BY ALL / * EXCEPT
    # are native Spark and pass through.
    df = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
    out = ch_sql(
        spark,
        "SELECT * REPLACE (v * 2 AS v) FROM t ORDER BY ALL",
        views={"t": df},
    )
    assert out.columns == ["k", "v"]
    assert [(r["k"], r["v"]) for r in out.collect()] == [(1, 20), (2, 40)]
    # multiple replacements + expression referencing other columns
    out2 = ch_sql(
        spark,
        "SELECT * REPLACE (v + k AS v, k * 10 AS k) FROM t ORDER BY ALL",
        views={"t": df},
    )
    assert out2.columns == ["k", "v"]
    assert [(r["k"], r["v"]) for r in out2.collect()] == [(10, 11), (20, 22)]


def test_group_by_all_passthrough(spark):
    df = spark.createDataFrame([(1, 10), (1, 5), (2, 7)], ["g", "v"])
    rows = ch_sql(
        spark,
        "SELECT g, sum(v) AS s FROM t GROUP BY ALL ORDER BY g",
        views={"t": df},
    ).collect()
    assert [(r["g"], r["s"]) for r in rows] == [(1, 15), (2, 7)]


def test_distinct_and_array_combinators(spark):
    # -Distinct: aggregate over the group's distinct values;
    # -Array: aggregate over all elements of the group's arrays
    assert translate("sumDistinct(v)") == "sum(DISTINCT v)"
    assert translate("countDistinct(v)") == "count(DISTINCT v)"
    assert translate("countArray(a)") == "sum(size(a))"
    df = spark.createDataFrame(
        [(1, 2.0, [1.0, 2.0]), (1, 2.0, [3.0, 5.0]), (1, 4.0, [])],
        ["g", "v", "arr"],
    )
    row = ch_sql(
        spark,
        """
        SELECT g, sumDistinct(v) AS sd, avgDistinct(v) AS ad,
               sumArray(arr) AS sa, maxArray(arr) AS ma,
               countArray(arr) AS ca
        FROM t GROUP BY g
        """,
        views={"t": df},
    ).collect()[0]
    assert row["sd"] == 6.0        # distinct {2, 4}
    assert row["ad"] == 3.0
    assert row["sa"] == 11.0       # 1+2+3+5 across all arrays
    assert row["ma"] == 5.0
    assert row["ca"] == 4          # ELEMENTS across arrays (CH countArray)


def test_new_clause_compositions(spark):
    """The round-6 additions composed with the older rewrites: each
    rewrite wraps or edits the statement text, so pairwise composition
    is where regressions hide."""
    df = spark.createDataFrame(
        [(g, v, list(range(1, v + 1))) for g in (1, 2) for v in (1, 2, 3)],
        ["g", "v", "arr"],
    )
    # * REPLACE + PREWHERE
    out = ch_sql(
        spark,
        "SELECT * REPLACE (v * 10 AS v) FROM t PREWHERE g = 1 ORDER BY v",
        views={"t": df},
    ).select("g", "v").collect()
    assert [(r["g"], r["v"]) for r in out] == [(1, 10), (1, 20), (1, 30)]
    # -If combinator inside a LIMIT n BY statement
    rows = ch_sql(
        spark,
        """
        SELECT g, v, countIf(v > 1) OVER () AS big
        FROM t ORDER BY v DESC LIMIT 1 BY g
        """,
        views={"t": df},
    ).collect()
    assert sorted((r["g"], r["v"]) for r in rows) == [(1, 3), (2, 3)]
    # comma-LIMIT as the trailing cap after LIMIT BY
    rows = ch_sql(
        spark,
        "SELECT g, v FROM t ORDER BY v DESC LIMIT 2 BY g LIMIT 1, 2",
        views={"t": df},
    ).collect()
    assert len(rows) == 2
    # -Array combinator + ARRAY JOIN in one statement (the ARRAY JOIN
    # subquery wraps; the combinator rewrites inside it)
    rows = ch_sql(
        spark,
        """
        SELECT g, sumArray(arr) AS s, count() AS n
        FROM t GROUP BY g ORDER BY g
        """,
        views={"t": df},
    ).collect()
    # per group: arrays [1],[1,2],[1,2,3] → 1+3+6 = 10
    assert [(r["g"], r["s"], r["n"]) for r in rows] == [
        (1, 10.0, 3), (2, 10.0, 3)
    ]


def test_round6_function_batch(spark):
    df = spark.createDataFrame(
        [("a.b.a.b", [3, 1, 1, 5], "2024-03-15")], ["s", "arr", "d"]
    )
    row = ch_sql(
        spark,
        """
        SELECT plus(1, 2)                       AS p,
               countSubstrings(s, 'a.b')        AS cs,
               extractAll(s, '[a-z]')           AS ea,
               splitByRegexp('\\\\.', s)        AS sp,
               arrayCompact(arr)                AS ac,
               arrayDifference(arr)             AS ad,
               toISOWeek(toDate(d))             AS wk
        FROM t
        """,
        views={"t": df},
    ).collect()[0]
    assert row["p"] == 3
    assert row["cs"] == 2
    assert row["ea"] == ["a", "b", "a", "b"]
    assert row["sp"] == ["a", "b", "a", "b"]
    assert row["ac"] == [3, 1, 5]
    assert row["ad"] == [0, -2, 0, 4]
    assert row["wk"] == 11


def test_array_difference_and_extract_edges(spark):
    df = spark.createDataFrame(
        [([3, 1, 5], "ab12cd")], ["arr", "s"]
    )
    row = ch_sql(
        spark,
        """
        SELECT arrayDifference(arr)                    AS ad,
               arrayDifference(arraySlice(arr, 1, 0))  AS ad_empty,
               extract(s, '[0-9]+')                    AS whole,
               extract(s, '([a-z]+)[0-9]')             AS grp,
               extract(s, '(?:[a-z]+)[0-9]+')          AS noncap,
               extract(s, 'b\\\\d+')                   AS esc,
               extractAll(s, '([a-z])[a-z]')           AS ea_grp,
               extract(s, '[(]*[0-9]+')                AS cls_paren,
               extract(s, 'ab\\\\(?')                  AS esc_paren,
               extractAll(s, '[^]a-z0-9]+')            AS cls_lit_br
        FROM t
        """,
        views={"t": df},
    ).collect()[0]
    assert row["ad"] == [0, -2, 4]
    assert row["ad_empty"] == []        # no out-of-bounds under ANSI
    assert row["whole"] == "12"         # group-less pattern: whole match
    assert row["grp"] == "ab"           # capture group wins when present
    assert row["noncap"] == "ab12"      # (?: ) is NOT a capture group
    assert row["esc"] == "b12"          # escape seq isn't a group marker
    assert row["ea_grp"] == ["a", "c"]  # extractAll returns group 1 too
    assert row["cls_paren"] == "12"     # '(' inside [...] is no group
    assert row["esc_paren"] == "ab"     # SQL '\\(' = regex \( — no group
    assert row["cls_lit_br"] == []      # '[^]...]': literal ']' in class


def test_grouping_sets_passthrough(spark):
    # CH and Spark share the GROUP BY GROUPING SETS syntax verbatim
    q = (
        "SELECT g, h, sum(v) AS s FROM t "
        "GROUP BY GROUPING SETS ((g), (g, h), ())"
    )
    # the function-call scanner renormalizes "SETS (" to "SETS(" —
    # verbatim modulo whitespace, and still valid Spark SQL
    assert translate(q).replace("SETS(", "SETS (") == q
    df = spark.createDataFrame([(1, "a", 10), (1, "b", 5)], ["g", "h", "v"])
    rows = ch_sql(spark, q, views={"t": df}).collect()
    got = {(r["g"], r["h"], r["s"]) for r in rows}
    assert got == {
        (1, None, 15), (1, "a", 10), (1, "b", 5), (None, None, 15)
    }


def test_parameterized_if_combinator(spark):
    # -If composed with a parameterized aggregate:
    # quantileIf(p)(x, cond) — percentile over the matching rows only
    assert (
        translate("quantileIf(0.5)(x, c > 1)")
        == "percentile_approx(CASE WHEN c > 1 THEN x END, 0.5D)"
    )
    df = spark.createDataFrame(
        [(float(i), i) for i in range(1, 11)], ["x", "c"]
    )
    row = ch_sql(
        spark,
        "SELECT quantileExactIf(0.5)(x, c > 5) AS m FROM t",
        views={"t": df},
    ).collect()[0]
    assert row["m"] == 8.0  # median of {6..10}


def test_with_cube_passthrough(spark):
    q = "SELECT g, sum(v) AS s FROM t GROUP BY g WITH CUBE"
    assert translate(q) == q
    df = spark.createDataFrame([(1, 10), (2, 5)], ["g", "v"])
    got = {(r["g"], r["s"]) for r in ch_sql(spark, q, views={"t": df}).collect()}
    assert got == {(1, 10), (2, 5), (None, 15)}


def test_format_datetime(spark):
    df = spark.createDataFrame([("2024-03-05 07:09:02",)], ["s"])
    row = ch_sql(
        spark,
        """
        SELECT formatDateTime(toDateTime(s), '%Y-%m-%d')       AS d,
               formatDateTime(toDateTime(s), '%F %T')          AS ft,
               formatDateTime(toDateTime(s), '%H:%i')          AS hm,
               formatDateTime(toDateTime(s), '%M')             AS mon,
               formatDateTime(toDateTime(s), 'week %W, %d %b') AS w
        FROM t
        """,
        views={"t": df},
    ).collect()[0]
    assert row["d"] == "2024-03-05"
    assert row["ft"] == "2024-03-05 07:09:02"
    assert row["hm"] == "07:09"          # %i = minutes (CH >= 23.4)
    assert row["mon"] == "March"         # %M = month name (CH >= 23.4)
    assert row["w"] == "week Tuesday, 05 Mar"
    with pytest.raises(ValueError, match="unsupported formatDateTime"):
        translate("formatDateTime(d, '%Q')")
    with pytest.raises(ValueError, match="literal format"):
        translate("formatDateTime(d, fmt_col)")
    # 3-arg form: renders the same instant in the given zone (the
    # session is pinned to UTC, so from_utc_timestamp composes in)
    out = translate("formatDateTime(d, '%H', 'America/New_York')")
    assert "from_utc_timestamp(d, 'America/New_York')" in out
    with pytest.raises(ValueError, match="at most 3"):
        translate("formatDateTime(d, '%Y', 'UTC', 1)")


def test_cte_composes_with_clause_rewrites(spark):
    # CTEs must survive every clause rewriter that wraps or splices the
    # statement (LIMIT BY wraps in a subquery; WITH FILL builds a spine
    # CTE of its own; ARRAY JOIN becomes a lateral explode) — pinned
    # because the rewriters scan at paren depth 0 and a leading WITH
    # shifts every clause right of it.
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "a"), (1, 30, "b"),
         (2, 5, "a"), (2, 7, "b"), (2, 9, "b")],
        ["k", "v", "g"],
    )
    v = {"t": df}
    # CTE + LIMIT n BY
    rows = ch_sql(
        spark,
        "WITH x AS (SELECT k, v FROM t) "
        "SELECT k, v FROM x ORDER BY k, v DESC LIMIT 2 BY k",
        views=v,
    ).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, 30), (1, 20), (2, 9), (2, 7)]
    # CTE + ORDER BY ... WITH FILL (TO exclusive, gaps null-filled)
    rows = ch_sql(
        spark,
        "WITH x AS (SELECT k, sum(v) AS s FROM t GROUP BY k) "
        "SELECT k, s FROM x ORDER BY k WITH FILL FROM 1 TO 5",
        views=v,
    ).collect()
    assert [(r["k"], r["s"]) for r in rows] == [
        (1, 60), (2, 21), (3, None), (4, None)
    ]
    # CTE + ARRAY JOIN (CH aggregate inside the CTE must translate too)
    rows = ch_sql(
        spark,
        "WITH x AS (SELECT k, groupArray(v) AS arr FROM t GROUP BY k) "
        "SELECT k, a FROM x ARRAY JOIN arr AS a ORDER BY k, a",
        views=v,
    ).collect()
    assert [(r["k"], r["a"]) for r in rows] == [
        (1, 10), (1, 20), (1, 30), (2, 5), (2, 7), (2, 9)
    ]
    # chained CTEs, second referencing the first
    rows = ch_sql(
        spark,
        "WITH x AS (SELECT k, v FROM t), "
        "y AS (SELECT k, max(v) AS m FROM x GROUP BY k) "
        "SELECT x.k, x.v, y.m FROM x JOIN y ON x.k = y.k "
        "ORDER BY x.k, x.v",
        views=v,
    ).collect()
    assert [(r["k"], r["v"], r["m"]) for r in rows] == [
        (1, 10, 30), (1, 20, 30), (1, 30, 30),
        (2, 5, 9), (2, 7, 9), (2, 9, 9),
    ]


class TestOverPassthrough:
    """Window frames, named windows, and the *InFrame functions: the
    translator must keep Spark-shared OVER syntax byte-intact and map
    CH's lagInFrame/leadInFrame onto lag/lead (dropping the full-frame
    idiom, rejecting narrow frames it cannot express)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0),
             (2, 1, 5.0), (2, 2, 15.0)],
            ["g", "seq", "v"],
        )

    def test_rows_frame_passthrough(self, spark):
        rows = ch_sql(
            spark,
            """
            SELECT g, seq,
                   sum(v) OVER (PARTITION BY g ORDER BY seq
                                ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
                       AS run
            FROM t ORDER BY g, seq
            """,
            views={"t": self._df(spark)},
        ).collect()
        assert [r["run"] for r in rows] == [10.0, 30.0, 50.0, 5.0, 20.0]

    def test_named_window_passthrough(self, spark):
        rows = ch_sql(
            spark,
            """
            SELECT g, seq,
                   sum(v)  OVER w AS run,
                   count() OVER w AS cnt
            FROM t
            WINDOW w AS (PARTITION BY g ORDER BY seq
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY g, seq
            """,
            views={"t": self._df(spark)},
        ).collect()
        assert [(r["run"], r["cnt"]) for r in rows] == [
            (10.0, 1), (30.0, 2), (60.0, 3), (5.0, 1), (20.0, 2),
        ]

    def test_lag_lead_in_frame(self, spark):
        rows = ch_sql(
            spark,
            """
            SELECT g, seq,
                   lagInFrame(v)      OVER (PARTITION BY g ORDER BY seq
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS prev,
                   leadInFrame(v, 1)  OVER (PARTITION BY g ORDER BY seq)
                       AS nxt
            FROM t ORDER BY g, seq
            """,
            views={"t": self._df(spark)},
        ).collect()
        assert [(r["prev"], r["nxt"]) for r in rows] == [
            (None, 20.0), (10.0, 30.0), (20.0, None),
            (None, 15.0), (5.0, None),
        ]

    def test_lag_in_frame_default_arg(self, spark):
        # 3-arg form: lagInFrame(x, n, default)
        rows = ch_sql(
            spark,
            """
            SELECT seq, lagInFrame(v, 1, -1.0) OVER (ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS prev
            FROM t WHERE g = 1 ORDER BY seq
            """,
            views={"t": self._df(spark)},
        ).collect()
        assert [r["prev"] for r in rows] == [-1.0, 10.0, 20.0]

    def test_narrow_frame_rejected(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="narrow frame"):
            translate(
                "SELECT lagInFrame(v) OVER (ORDER BY seq "
                "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"
            )


class TestWindowFunctionFamily:
    def test_first_last_value_renames(self, spark):
        df = spark.createDataFrame(
            [(1, 1, 10.0), (1, 2, 20.0), (2, 1, 5.0)], ["g", "seq", "v"]
        )
        rows = ch_sql(
            spark,
            """
            SELECT g, seq,
                   firstValue(v) OVER (PARTITION BY g ORDER BY seq) AS fv,
                   lastValue(v)  OVER (PARTITION BY g ORDER BY seq
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS lv
            FROM t ORDER BY g, seq
            """,
            views={"t": df},
        ).collect()
        assert [(r["fv"], r["lv"]) for r in rows] == [
            (10.0, 20.0), (10.0, 20.0), (5.0, 5.0),
        ]

    def test_non_negative_derivative(self, spark):
        # counter with a reset between seq 3 and 4: the negative delta
        # clamps to 0; per-second rate uses the ts gap
        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 100.0),
             (2, "2024-01-01 00:00:10", 150.0),
             (3, "2024-01-01 00:00:30", 250.0),
             (4, "2024-01-01 00:00:40", 50.0)],
            ["seq", "ts_s", "v"],
        ).selectExpr("seq", "CAST(ts_s AS TIMESTAMP) AS ts", "v")
        rows = ch_sql(
            spark,
            """
            SELECT seq, nonNegativeDerivative(v, ts) OVER (ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS rate
            FROM t ORDER BY seq
            """,
            views={"t": df},
        ).collect()
        # first row: greatest() skips the NULL lag → 0, CH's default
        assert rows[0]["rate"] == 0.0
        assert rows[1]["rate"] == 5.0           # 50 / 10s
        assert rows[2]["rate"] == 5.0           # 100 / 20s
        assert rows[3]["rate"] == 0.0           # reset clamps at 0

    def test_non_negative_derivative_requires_over(self):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="OVER"):
            translate("SELECT nonNegativeDerivative(v, ts) FROM t")
        with _pytest.raises(ValueError, match="interval"):
            translate(
                "SELECT nonNegativeDerivative(v, ts, INTERVAL 1 SECOND) "
                "OVER (ORDER BY ts) FROM t"
            )


class TestRound8FunctionBatch:
    def test_date_helpers(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT toStartOfFifteenMinutes(t)                AS q15,
                   timeSlot(t)                               AS slot,
                   toLastDayOfMonth(t)                       AS eom,
                   toMonday(t)                               AS mon,
                   addHours(t, 2)                            AS plus2h,
                   addMinutes(t, 30)                         AS plus30m,
                   subtractMonths(toDate(t), 2)              AS minus2mo,
                   toStartOfInterval(t, INTERVAL 10 MINUTE)  AS i10m,
                   toStartOfInterval(t, INTERVAL 1 WEEK)     AS iweek
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT CAST('2024-03-20 14:38:21' AS TIMESTAMP) AS t"
                )
            },
        ).collect()[0]
        s = {k: str(v) for k, v in row.asDict().items()}
        assert s["q15"] == "2024-03-20 14:30:00"
        assert s["slot"] == "2024-03-20 14:30:00"
        assert s["eom"] == "2024-03-31"
        assert s["mon"] == "2024-03-18"          # Wed -> that week's Mon
        assert s["plus2h"] == "2024-03-20 16:38:21"
        assert s["plus30m"] == "2024-03-20 15:08:21"
        assert s["minus2mo"] == "2024-01-20"
        assert s["i10m"] == "2024-03-20 14:30:00"
        assert s["iweek"] == "2024-03-18 00:00:00"  # Monday-aligned

    def test_date_diff_boundary_vs_age_complete(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT dateDiff('day', a, b)    AS dd_day,
                   age('day', a, b)         AS age_day,
                   dateDiff('month', a, b)  AS dd_mo,
                   dateDiff('year', a, b)   AS dd_yr,
                   dateDiff('hour', a, b)   AS dd_hr
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT CAST('2023-12-31 23:50:00' AS TIMESTAMP) AS a, "
                    "CAST('2024-01-01 00:10:00' AS TIMESTAMP) AS b"
                )
            },
        ).collect()[0]
        # 20 minutes apart, but every boundary is crossed — CH counts
        # crossings; age counts complete units
        assert row["dd_day"] == 1
        assert row["age_day"] == 0
        assert row["dd_mo"] == 1
        assert row["dd_yr"] == 1
        assert row["dd_hr"] == 1

    def test_array_additions(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT arrayEnumerate(xs)           AS en,
                   arrayEnumerateUniq(xs)       AS enu,
                   arrayCumSum(ns)              AS cs,
                   arrayResize(ns, 5, 0)        AS grown,
                   arrayResize(ns, 2, 0)        AS shrunk
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT array('a','b','a','a') AS xs, "
                    "array(1, 2, 3) AS ns"
                )
            },
        ).collect()[0]
        assert row["en"] == [1, 2, 3, 4]
        assert row["enu"] == [1, 1, 2, 3]
        assert row["cs"] == [1.0, 3.0, 6.0]
        assert row["grown"] == [1, 2, 3, 0, 0]
        assert row["shrunk"] == [1, 2]

    def test_display_and_geo(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT formatReadableSize(512)        AS b,
                   formatReadableSize(1536)       AS kib,
                   formatReadableSize(1572864)    AS mib,
                   greatCircleDistance(
                       -0.1278, 51.5074, 2.3522, 48.8566) AS ldn_paris
            FROM t
            """,
            views={"t": spark.range(1)},
        ).collect()[0]
        assert row["b"] == "512.00 B"
        assert row["kib"] == "1.50 KiB"
        assert row["mib"] == "1.50 MiB"
        # London-Paris ~ 343.5 km great-circle
        assert abs(row["ldn_paris"] - 343_500) < 3_000

    def test_unsupported_units_rejected(self):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="not supported"):
            translate("SELECT dateDiff('fortnight', a, b) FROM t")
        with _pytest.raises(ValueError, match="INTERVAL"):
            translate(
                "SELECT toStartOfInterval(t, INTERVAL 1 MONTH) FROM x"
            )


def test_numbers_table_function(spark):
    rows = ch_sql(
        spark, "SELECT sum(number) AS s, count() AS n FROM numbers(10)"
    ).collect()
    assert (rows[0]["s"], rows[0]["n"]) == (45, 10)
    got = [
        r["number"]
        for r in ch_sql(
            spark, "SELECT number FROM numbers(5, 3) ORDER BY number"
        ).collect()
    ]
    assert got == [5, 6, 7]
    # usable in a join position
    rows = ch_sql(
        spark,
        """
        SELECT a.number AS x, b.number AS y
        FROM numbers(3) AS a CROSS JOIN numbers(2) AS b
        ORDER BY x, y
        """,
    ).collect()
    assert len(rows) == 6


def test_statistical_aggregate_renames(spark):
    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (1, 2.0, 4.0), (1, 3.0, 6.0), (2, 9.0, 1.0)],
        ["g", "x", "y"],
    )
    rows = ch_sql(
        spark,
        """
        SELECT g,
               varPop(x)                 AS vp,
               stddevSamp(x)             AS ss,
               covarPop(x, y)            AS cp,
               skewPop(x)                AS sk,
               varPopIf(x, x < 10)       AS vp_if
        FROM t GROUP BY g ORDER BY g
        """,
        views={"t": df},
    ).collect()
    g1 = rows[0]
    assert abs(g1["vp"] - 2.0 / 3.0) < 1e-12      # var_pop of 1,2,3
    assert abs(g1["ss"] - 1.0) < 1e-12            # stddev_samp of 1,2,3
    assert abs(g1["cp"] - 4.0 / 3.0) < 1e-12      # covar_pop x,2x
    assert abs(g1["sk"]) < 1e-12                  # symmetric
    assert g1["vp_if"] == g1["vp"]                # -If combinator composes


class TestAnyJoinSql:
    def _views(self, spark):
        left = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["k", "lv"]
        )
        right = spark.createDataFrame(
            [(1, 10.0), (1, 5.0), (2, 7.0)], ["k", "rv"]
        )
        return {"l": left, "r": right}

    def test_any_left_join_dedups_right(self, spark):
        rows = ch_sql(
            spark,
            "SELECT l.k AS k, lv, rv FROM l ANY LEFT JOIN r USING (k) "
            "ORDER BY k",
            views=self._views(spark),
        ).collect()
        # one row per left row; duplicate right key 1 resolved to the
        # total-order minimum (k=1, rv=5.0); unmatched k=3 keeps NULL
        assert [(r["k"], r["rv"]) for r in rows] == [
            (1, 5.0), (2, 7.0), (3, None),
        ]

    def test_left_any_keyword_order_and_inner(self, spark):
        rows = ch_sql(
            spark,
            "SELECT l.k AS k, rv FROM l LEFT ANY JOIN r USING (k) ORDER BY k",
            views=self._views(spark),
        ).collect()
        assert len(rows) == 3
        rows = ch_sql(
            spark,
            "SELECT l.k AS k, rv FROM l ANY INNER JOIN r USING (k) "
            "ORDER BY k",
            views=self._views(spark),
        ).collect()
        assert [(r["k"], r["rv"]) for r in rows] == [(1, 5.0), (2, 7.0)]

    def test_rejections(self, spark):
        v = self._views(spark)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="RIGHT ANY"):
            ch_sql(spark, "SELECT * FROM l RIGHT ANY JOIN r USING (k)", views=v)
        with _pytest.raises(ValueError, match="USING"):
            ch_sql(
                spark,
                "SELECT * FROM l ANY LEFT JOIN r ON l.k = r.k",
                views=v,
            )


def test_round8_batch2_functions(spark):
    row = ch_sql(
        spark,
        """
        SELECT toYYYYMMDD(t)                    AS ymd,
               toYYYYMMDDhhmmss(t)              AS ymdhms,
               toStartOfYear(t)                 AS soy,
               toRelativeDayNum(t)              AS rdn,
               today() >= toDate(t)             AS today_after,
               exp2(10)                         AS e2,
               intExp2(10)                      AS ie2,
               intExp10(3)                      AS ie10,
               bitTest(5, 0)                    AS b0,
               bitTest(5, 1)                    AS b1,
               bitCount(255)                    AS bc,
               tokens('Hello, world 42!')       AS toks,
               ngrams('abcd', 2)                AS ng,
               mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS mf,
               JSONExtractInt(j, 'n')           AS ji,
               JSONExtractFloat(j, 'f')         AS jf,
               JSONExtractBool(j, 'b')          AS jb,
               JSONHas(j, 'n')                  AS jh,
               JSONHas(j, 'zz')                 AS jh2,
               simpleJSONExtractString(j, 's')  AS js
        FROM t
        """,
        views={
            "t": spark.sql(
                "SELECT CAST('2024-03-20 14:38:21' AS TIMESTAMP) AS t, "
                '\'{"n": 7, "f": 1.5, "b": true, "s": "x"}\' AS j'
            )
        },
    ).collect()[0]
    assert row["ymd"] == 20240320
    assert row["ymdhms"] == 20240320143821
    assert str(row["soy"]) == "2024-01-01 00:00:00"
    assert row["rdn"] == 19802
    assert row["today_after"] is True
    assert row["e2"] == 1024.0 and row["ie2"] == 1024 and row["ie10"] == 1000
    assert (row["b0"], row["b1"]) == (1, 0)
    assert row["bc"] == 8
    assert row["toks"] == ["Hello", "world", "42"]
    assert row["ng"] == ["ab", "bc", "cd"]
    assert dict(row["mf"]) == {"b": 2}
    assert (row["ji"], row["jf"], row["jb"]) == (7, 1.5, True)
    assert (row["jh"], row["jh2"]) == (True, False)
    assert row["js"] == "x"


def test_has_family_and_array_reduce(spark):
    row = ch_sql(
        spark,
        """
        SELECT hasAll(xs, array(1, 2))            AS ha,
               hasAll(xs, array(1, 9))            AS ha2,
               hasAny(xs, array(9, 3))            AS hy,
               hasAny(xs, array(9, 8))            AS hy2,
               arrayReduce('sum', xs)             AS rs,
               arrayReduce('max', xs)             AS rmx,
               arrayReduce('uniqExact', ys)       AS ru,
               countMatches(s, '[0-9]+')          AS cm,
               positionCaseInsensitive(s, 'AB')   AS pci,
               multiSearchAny(s, array('zz', '12')) AS msa,
               multiSearchAny(s, array('zz', 'qq')) AS msa2
        FROM t
        """,
        views={
            "t": spark.sql(
                "SELECT array(1, 2, 3) AS xs, array(1, 1, 2) AS ys, "
                "'ab12cd34' AS s"
            )
        },
    ).collect()[0]
    assert (row["ha"], row["ha2"]) == (True, False)
    assert (row["hy"], row["hy2"]) == (True, False)
    assert row["rs"] == 6.0 and row["rmx"] == 3 and row["ru"] == 2
    assert row["cm"] == 2
    assert row["pci"] == 1
    assert (row["msa"], row["msa2"]) == (True, False)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="arrayReduce"):
        translate("SELECT arrayReduce('median', xs) FROM t")


def test_utf8_aliases_tz_and_finiteness(spark):
    row = ch_sql(
        spark,
        """
        SELECT leftUTF8(s, 3)                    AS l3,
               substringUTF8(s, 2, 3)            AS sub,
               positionUTF8(s, 'né')             AS pos,
               upperUTF8(s)                      AS up,
               trimBoth(pad)                     AS tb,
               trimLeft(pad)                     AS tl,
               match(s, '^Zü')                   AS m1,
               match(s, '^x')                    AS m2,
               notLike(s, 'Z%')                  AS nl,
               toTimeZone(t, 'America/New_York') AS nyc,
               toUnixTimestamp64Milli(t)         AS ms,
               assumeNotNull(s)                  AS ann,
               isFinite(1.5)                     AS fin,
               isFinite(cast('inf' as double))   AS fin2,
               isInfinite(cast('-inf' as double)) AS inf1
        FROM t
        """,
        views={
            "t": spark.sql(
                "SELECT 'Zürich né' AS s, '  x  ' AS pad, "
                "CAST('2024-01-01 12:00:00' AS TIMESTAMP) AS t"
            )
        },
    ).collect()[0]
    assert row["l3"] == "Zür"          # character, not byte, semantics
    assert row["sub"] == "üri"
    assert row["pos"] == 8
    assert row["up"] == "ZÜRICH NÉ"
    assert (row["tb"], row["tl"]) == ("x", "x  ")
    assert (row["m1"], row["m2"]) == (True, False)
    assert row["nl"] is False
    # UTC session: noon UTC is 07:00 in New York (January, EST)
    assert str(row["nyc"]) == "2024-01-01 07:00:00"
    assert row["ms"] == 1704110400000
    assert row["ann"] == "Zürich né"
    assert (row["fin"], row["fin2"], row["inf1"]) == (True, False, True)


def test_format_datetime_with_timezone_executes(spark):
    row = ch_sql(
        spark,
        "SELECT formatDateTime(t, '%Y-%m-%d %H:%i', 'America/New_York') "
        "AS nyc FROM v",
        views={
            "v": spark.sql(
                "SELECT CAST('2024-01-01 12:00:00' AS TIMESTAMP) AS t"
            )
        },
    ).collect()[0]
    assert row["nyc"] == "2024-01-01 07:00"  # UTC noon = 07:00 EST


def test_range_group_bits_count_equal(spark):
    rows = ch_sql(
        spark,
        """
        SELECT g,
               groupBitAnd(v) AS ba,
               groupBitOr(v)  AS bo,
               groupBitXor(v) AS bx
        FROM t GROUP BY g ORDER BY g
        """,
        views={
            "t": spark.createDataFrame(
                [(1, 6), (1, 3), (2, 8)], ["g", "v"]
            )
        },
    ).collect()
    assert [(r["ba"], r["bo"], r["bx"]) for r in rows] == [
        (2, 7, 5), (8, 8, 8),
    ]
    row = ch_sql(
        spark,
        """
        SELECT range(4)            AS r4,
               range(0)            AS r0,
               range(2, 5)         AS r25,
               range(5, 5)         AS r55,
               countEqual(xs, 2)   AS ce,
               arrayElement(xs, 2) AS ae
        FROM v
        """,
        views={"v": spark.sql("SELECT array(1, 2, 2, 3) AS xs")},
    ).collect()[0]
    assert row["r4"] == [0, 1, 2, 3]
    assert row["r0"] == []
    assert row["r25"] == [2, 3, 4]
    assert row["r55"] == []
    assert row["ce"] == 2
    assert row["ae"] == 2


def test_weighted_and_safe_math_aggregates(spark):
    rows = ch_sql(
        spark,
        """
        SELECT avgWeighted(v, w)        AS aw,
               sumCount(v)              AS sc,
               boundingRatio(x, y)      AS br,
               anyHeavy(g)              AS ah,
               uniqTheta(g)             AS ut
        FROM t
        """,
        views={
            "t": spark.createDataFrame(
                [("a", 10.0, 1.0, 0.0, 0.0),
                 ("a", 20.0, 3.0, 2.0, 6.0)],
                ["g", "v", "w", "x", "y"],
            )
        },
    ).collect()
    r = rows[0]
    assert r["aw"] == (10 + 60) / 4          # weighted mean 17.5
    assert (r["sc"]["sum"], r["sc"]["count"]) == (30.0, 2)
    assert r["br"] == 3.0                     # (6-0)/(2-0)
    assert r["ah"] == "a" and r["ut"] == 1
    row = ch_sql(
        spark,
        """
        SELECT intDivOrZero(7, 2)  AS d1,
               intDivOrZero(7, 0)  AS d0,
               moduloOrZero(7, 4)  AS m1,
               moduloOrZero(7, 0)  AS m0,
               ifNotFinite(1.5, -1.0)                      AS f1,
               ifNotFinite(cast('inf' as double), -1.0)    AS f2,
               ifNotFinite(cast('nan' as double), -1.0)    AS f3
        FROM v
        """,
        views={"v": spark.range(1)},
    ).collect()[0]
    assert (row["d1"], row["d0"], row["m1"], row["m0"]) == (3, 0, 3, 0)
    assert (row["f1"], row["f2"], row["f3"]) == (1.5, -1.0, -1.0)


def test_transform_value_mapping_and_readable_quantity(spark):
    rows = ch_sql(
        spark,
        """
        SELECT transform(s, array('F', 'O'), array('final', 'open'),
                         'other')                                  AS t4,
               transform(s, array('F'), array('final'))            AS t3,
               arrayMap(x -> x * 2, xs)                            AS hof,
               formatReadableQuantity(950)                         AS q0,
               formatReadableQuantity(1500)                        AS qk,
               formatReadableQuantity(2500000)                     AS qm,
               formatReadableQuantity(7100000000)                  AS qb
        FROM t
        """,
        views={
            "t": spark.createDataFrame(
                [("F", [1, 2]), ("P", [3, 4])], ["s", "xs"]
            )
        },
    ).collect()
    by_s = {r["hof"][0]: r for r in rows}
    assert by_s[2]["t4"] == "final" and by_s[6]["t4"] == "other"
    assert by_s[2]["t3"] == "final" and by_s[6]["t3"] == "P"  # keep x
    assert by_s[2]["hof"] == [2, 4]  # 2-arg HOF untouched
    r = rows[0]
    assert r["q0"] == "950.00"
    assert r["qk"] == "1.50 thousand"
    assert r["qm"] == "2.50 million"
    assert r["qb"] == "7.10 billion"


class TestRound9AdviceFixes:
    def test_kurt_pop_is_non_excess(self, spark):
        # CH kurtPop = mu4/sigma^4 (NON-excess); for [1,2,3,4] the
        # population kurtosis is 1.64 exactly (Spark's excess kurtosis
        # returns -1.36) — pins the +3 shift and the -If combinator path
        rows = ch_sql(
            spark,
            """
            SELECT kurtPop(x)              AS k,
                   kurtPopIf(x, x <= 4)    AS kif,
                   skewPop(x)              AS s
            FROM t
            """,
            views={
                "t": spark.createDataFrame(
                    [(1.0,), (2.0,), (3.0,), (4.0,), (100.0,)], ["x"]
                )
            },
        ).collect()[0]
        assert abs(rows["kif"] - 1.64) < 1e-9
        assert rows["k"] > 3.0  # heavy outlier: non-excess stays > 3

    def test_range_descending_is_empty(self, spark):
        # CH range(s, e) with e < s returns [] — the slice length must
        # be clamped or Spark throws on the negative length
        row = ch_sql(
            spark,
            "SELECT range(5, 2) AS a, range(-3) AS b FROM v",
            views={"v": spark.range(1)},
        ).collect()[0]
        assert row["a"] == []
        assert row["b"] == []

    def test_date_arith_preserves_operand_type(self, spark):
        # CH add/subtract of day-or-coarser units keeps Date as Date
        # and DateTime's time-of-day; sub-day units promote to DateTime
        df = ch_sql(
            spark,
            """
            SELECT subtractMonths(ts, 2) AS m_ts,
                   addMonths(d, 2)       AS m_d,
                   addDays(ts, 7)        AS d_ts,
                   subtractDays(d, 7)    AS d_d,
                   addWeeks(ts, 1)       AS w_ts,
                   addYears(d, 1)        AS y_d
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT CAST('2024-03-20 14:38:21' AS TIMESTAMP) AS ts, "
                    "CAST('2024-03-20' AS DATE) AS d"
                )
            },
        )
        types = dict(df.dtypes)
        assert types["m_ts"] == "timestamp" and types["m_d"] == "date"
        assert types["d_ts"] == "timestamp" and types["d_d"] == "date"
        assert types["w_ts"] == "timestamp" and types["y_d"] == "date"
        r = {k: str(v) for k, v in df.collect()[0].asDict().items()}
        assert r["m_ts"] == "2024-01-20 14:38:21"  # time preserved
        assert r["m_d"] == "2024-05-20"
        assert r["d_ts"] == "2024-03-27 14:38:21"
        assert r["d_d"] == "2024-03-13"
        assert r["w_ts"] == "2024-03-27 14:38:21"
        assert r["y_d"] == "2025-03-20"

    def test_any_join_parenless_using_supported(self, spark):
        # CH's legal paren-less USING form must neither latch onto an
        # unrelated later paren nor reject — it re-emits parenthesized
        left = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "lv"])
        right = spark.createDataFrame(
            [(1, "x"), (1, "y")], ["k", "rv"]
        )
        rows = ch_sql(
            spark,
            "SELECT * FROM l ANY LEFT JOIN r USING k "
            "WHERE length(lv) > 0 ORDER BY k",
            views={"l": left, "r": right},
        ).collect()
        # deterministic right-dedup: lowest (k, rv) row wins
        assert [(r["k"], r["lv"], r["rv"]) for r in rows] == [
            (1, "a", "x"),
            (2, "b", None),
        ]

    def test_any_join_parenless_multi_key(self, spark):
        left = spark.createDataFrame([(1, 2, "a")], ["k1", "k2", "lv"])
        right = spark.createDataFrame(
            [(1, 2, "x"), (1, 2, "w")], ["k1", "k2", "rv"]
        )
        rows = ch_sql(
            spark,
            "SELECT * FROM l ANY INNER JOIN r USING k1, k2",
            views={"l": left, "r": right},
        ).collect()
        assert [(r["k1"], r["k2"], r["rv"]) for r in rows] == [(1, 2, "w")]

    def test_quantile_timing_maps_to_percentile_approx(self):
        assert translate("quantileTiming(0.5)(x)") == (
            "percentile_approx(x, 0.5D)"
        )
        assert translate("quantilesTiming(0.5, 0.9)(x)") == (
            "percentile_approx(x, array(0.5D, 0.9D))"
        )


class TestRound9FunctionBatch:
    def test_split_round_trunc_and_lambdas(self, spark):
        rows = ch_sql(
            spark,
            """
            SELECT splitByString('||', s)                 AS parts,
                   roundBankers(2.5)                      AS rb1,
                   roundBankers(2.345, 2)                 AS rb2,
                   arrayFirst(x -> x > 2, xs)             AS af,
                   arrayFirst(x -> x > 99, xs)            AS af_none,
                   arrayFirstIndex(x -> x > 2, xs)        AS afi,
                   arrayFirstIndex(x -> x > 99, xs)       AS afi_none,
                   exp10(3)                               AS e10
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT 'a||b.c||d' AS s, array(1, 2, 3, 4) AS xs"
                )
            },
        ).collect()[0]
        assert rows["parts"] == ["a", "b.c", "d"]  # '.' not a regex dot
        assert rows["rb1"] == 2.0  # HALF_EVEN
        assert float(rows["rb2"]) == 2.34  # decimal literal, HALF_EVEN
        assert rows["af"] == 3 and rows["af_none"] is None
        assert rows["afi"] == 3 and rows["afi_none"] == 0
        assert rows["e10"] == 1000.0

    def test_date_name_month_name_to_week(self, spark):
        import datetime

        rows = ch_sql(
            spark,
            """
            SELECT dateName('month', t)   AS mn,
                   dateName('weekday', t) AS wd,
                   monthName(t)           AS mn2,
                   toWeek(t)              AS w0,
                   toWeek(t, 1)           AS w1
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT CAST('2024-03-20 14:38:21' AS TIMESTAMP) AS t"
                )
            },
        ).collect()[0]
        assert rows["mn"] == "March" and rows["mn2"] == "March"
        assert rows["wd"] == "Wednesday"
        # MySQL WEEK('2024-03-20', 0) = 11 (first Sunday 2024-01-07);
        # ISO week = 12
        assert rows["w0"] == 11
        assert rows["w1"] == 12
        # mode-0 edges: Jan 1 before the first Sunday → week 0; a year
        # starting on Sunday has Jan 1 in week 1
        edge = ch_sql(
            spark,
            "SELECT toWeek(toDate('2024-01-01')) AS a, "
            "toWeek(toDate('2023-01-01')) AS b FROM v",
            views={"v": spark.range(1)},
        ).collect()[0]
        assert edge["a"] == 0   # 2024-01-01 is Monday, first Sunday Jan 7
        assert edge["b"] == 1   # 2023-01-01 IS a Sunday

    def test_try_casts_and_intervals(self, spark):
        rows = ch_sql(
            spark,
            """
            SELECT toInt64OrNull(s_num)                    AS ok64,
                   toInt64OrNull(s_bad)                    AS bad64,
                   toDateOrNull(s_bad)                     AS badd,
                   accurateCastOrNull(s_num, 'Int32')      AS ok32,
                   toDecimal32(1.239, 2)                   AS d32,
                   d + toIntervalDay(3)                    AS plus3d,
                   d + toIntervalMonth(2)                  AS plus2mo,
                   ts + toIntervalHour(5)                  AS plus5h
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT '42' AS s_num, 'xx' AS s_bad, "
                    "CAST('2024-03-20' AS DATE) AS d, "
                    "CAST('2024-03-20 01:00:00' AS TIMESTAMP) AS ts"
                )
            },
        )
        types = dict(rows.dtypes)
        r = rows.collect()[0]
        assert r["ok64"] == 42 and r["bad64"] is None and r["badd"] is None
        assert r["ok32"] == 42
        assert str(r["d32"]) == "1.24"
        assert str(r["plus3d"]) == "2024-03-23" and types["plus3d"] == "date"
        assert str(r["plus2mo"]) == "2024-05-20"
        assert str(r["plus5h"]) == "2024-03-20 06:00:00"

    def test_split_by_string_dynamic_sep_rejected(self):
        import pytest as _p

        with _p.raises(ValueError, match="literal"):
            translate("splitByString(sepcol, s)")
        with _p.raises(ValueError, match="not supported"):
            translate("toWeek(t, 2)")
        with _p.raises(ValueError, match="not supported"):
            translate("dateName('era', t)")


def test_skew_kurt_samp_pinned_values(spark):
    # sample-variance rescale: for x = [1,2,3,4,10], n=5:
    # m2 = 10.16, m3 = 35.952, m4 = 216.6032 (central moments /n)
    # skewSamp = m3 / varSamp^1.5, varSamp = m2*n/(n-1) = 12.7
    # kurtSamp = m4 / varSamp^2
    import math

    xs = [1.0, 2.0, 3.0, 4.0, 10.0]
    n = len(xs)
    mu = sum(xs) / n
    m2 = sum((x - mu) ** 2 for x in xs) / n
    m3 = sum((x - mu) ** 3 for x in xs) / n
    m4 = sum((x - mu) ** 4 for x in xs) / n
    vs = m2 * n / (n - 1)
    want_skew = m3 / vs**1.5
    want_kurt = m4 / vs**2
    row = ch_sql(
        spark,
        "SELECT skewSamp(x) AS ss, kurtSamp(x) AS ks, "
        "skewPop(x) AS sp, kurtPop(x) AS kp FROM t",
        views={
            "t": spark.createDataFrame([(x,) for x in xs], ["x"])
        },
    ).collect()[0]
    assert math.isclose(row["ss"], want_skew, rel_tol=1e-9)
    assert math.isclose(row["ks"], want_kurt, rel_tol=1e-9)
    assert math.isclose(row["sp"], m3 / m2**1.5, rel_tol=1e-9)
    assert math.isclose(row["kp"], m4 / m2**2, rel_tol=1e-9)


class TestDistinctOn:
    def test_distinct_on_first_per_key(self, spark):
        df = spark.createDataFrame(
            [(1, 10, "a"), (1, 5, "b"), (2, 7, "c"), (2, 9, "d")],
            ["u", "v", "s"],
        )
        rows = ch_sql(
            spark,
            "SELECT DISTINCT ON (u) u, v, s FROM t ORDER BY u, v DESC",
            views={"t": df},
        ).collect()
        assert [(r["u"], r["v"], r["s"]) for r in rows] == [
            (1, 10, "a"),
            (2, 9, "d"),
        ]

    def test_distinct_on_multi_key_with_limit(self, spark):
        df = spark.createDataFrame(
            [(1, "x", 3), (1, "x", 1), (1, "y", 2), (2, "x", 5)],
            ["u", "g", "v"],
        )
        rows = ch_sql(
            spark,
            "SELECT DISTINCT ON (u, g) u, g, v FROM t "
            "ORDER BY u, g, v LIMIT 2",
            views={"t": df},
        ).collect()
        assert [(r["u"], r["g"], r["v"]) for r in rows] == [
            (1, "x", 1),
            (1, "y", 2),
        ]

    def test_distinct_on_requires_order_by(self):
        with pytest.raises(ValueError, match="ORDER BY"):
            translate("SELECT DISTINCT ON (u) u, v FROM t")

    def test_plain_distinct_untouched(self):
        assert translate("SELECT DISTINCT u FROM t") == (
            "SELECT DISTINCT u FROM t"
        )


class TestRound9UrlAndMiscBatch:
    def test_url_family(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT domain(u)                    AS d,
                   domainWithoutWWW(u)          AS dw,
                   topLevelDomain(u)            AS tld,
                   protocol(u)                  AS pr,
                   pathFull(u)                  AS pf,
                   fragment(u)                  AS fr,
                   netloc(u)                    AS nl,
                   port(u)                      AS po,
                   cutQueryString(u)            AS cq,
                   cutFragment(u)               AS cf,
                   cutQueryStringAndFragment(u) AS cqf,
                   decodeURLComponent('a%20b')  AS dec
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT 'https://www.example.com:8443/a/b?x=1&y=2#frag' AS u"
                )
            },
        ).collect()[0]
        assert row["d"] == "www.example.com"
        assert row["dw"] == "example.com"
        assert row["tld"] == "com"
        assert row["pr"] == "https"
        assert row["pf"] == "/a/b?x=1&y=2#frag"
        assert row["fr"] == "frag"
        assert row["nl"] == "www.example.com:8443"
        assert row["po"] == 8443
        assert row["cq"] == "https://www.example.com:8443/a/b#frag"
        assert row["cf"] == "https://www.example.com:8443/a/b?x=1&y=2"
        assert row["cqf"] == "https://www.example.com:8443/a/b"
        assert row["dec"] == "a b"

    def test_datetime_additions(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT toMillisecond(t)        AS ms,
                   toStartOfTenMinutes(t)  AS m10,
                   toStartOfFiveMinutes(t) AS m5,
                   toTime(t)               AS tt,
                   toModifiedJulianDay(toDate('1858-11-18')) AS mjd1,
                   toModifiedJulianDay(toDate('2024-03-20')) AS mjd,
                   fromModifiedJulianDay(60389)              AS frm,
                   snowflakeToDateTime(1426860702736191488)  AS sf
            FROM t
            """,
            views={
                "t": spark.sql(
                    "SELECT CAST('2024-03-20 14:38:21.456' AS TIMESTAMP) AS t"
                )
            },
        ).collect()[0]
        assert row["ms"] == 456
        assert str(row["m10"]) == "2024-03-20 14:30:00"
        assert str(row["m5"]) == "2024-03-20 14:35:00"
        assert str(row["tt"]) == "1970-01-02 14:38:21.456000"
        assert row["mjd1"] == 1
        assert row["mjd"] == 60389
        assert str(row["frm"]) == "2024-03-20"
        # 1426860702736191488 >> 22 = 340221419065 ms + epoch
        assert str(row["sf"]).startswith("2021-")

    def test_array_and_map_additions(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT arrayFold((acc, x) -> acc + x, xs, 100)  AS fold,
                   arrayShingles(xs, 2)                     AS sh,
                   arrayRotateLeft(xs, 1)                   AS rl,
                   arrayRotateLeft(xs, 5)                   AS rl5,
                   arrayRotateRight(xs, 1)                  AS rr,
                   arrayRotateLeft(emptyArrayInt64(), 2)    AS re,
                   levenshteinDistance('kitten', 'sitting') AS lev,
                   mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3)) AS mu,
                   formatReadableDecimalSize(1500000)       AS frd
            FROM t
            """,
            views={"t": spark.sql("SELECT array(1, 2, 3, 4) AS xs")},
        ).collect()[0]
        assert row["fold"] == 110
        assert row["sh"] == [[1, 2], [2, 3], [3, 4]]
        assert row["rl"] == [2, 3, 4, 1]
        assert row["rl5"] == [2, 3, 4, 1]  # pmod wrap
        assert row["rr"] == [4, 1, 2, 3]
        assert row["re"] == []
        assert row["lev"] == 3
        assert dict(row["mu"]) == {"a": 1, "b": 9, "c": 3}
        assert row["frd"] == "1.50 MB"


class TestWithFillInterpolate:
    def test_carry_into_fill_rows(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0, "a"), (4, 40.0, "b"), (6, 60.0, "c")],
            ["d", "v", "s"],
        )
        rows = ch_sql(
            spark,
            "SELECT d, v, s FROM t ORDER BY d WITH FILL INTERPOLATE (v)",
            views={"t": df},
        ).collect()
        by_d = {r["d"]: (r["v"], r["s"]) for r in rows}
        assert sorted(by_d) == [1, 2, 3, 4, 5, 6]
        assert by_d[1] == (10.0, "a")
        assert by_d[2] == (10.0, None)  # carried across a 2-row gap
        assert by_d[3] == (10.0, None)
        assert by_d[4] == (40.0, "b")
        assert by_d[5] == (40.0, None)
        assert by_d[6] == (60.0, "c")

    def test_real_null_not_backfilled(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0), (3, None), (5, 50.0)], "d long, v double"
        )
        rows = ch_sql(
            spark,
            "SELECT d, v FROM t ORDER BY d WITH FILL INTERPOLATE (v)",
            views={"t": df},
        ).collect()
        by_d = {r["d"]: r["v"] for r in rows}
        # d=3 is a REAL row whose v is genuinely NULL — stays NULL;
        # d=2 and d=4 are fill rows — carried
        assert by_d[2] == 10.0
        assert by_d[3] is None
        assert by_d[4] == 10.0

    def test_as_expr_rejected(self):
        with pytest.raises(ValueError, match="recursively"):
            translate(
                "SELECT d, v FROM t ORDER BY d WITH FILL "
                "INTERPOLATE (v AS v + 1)"
            )

    def test_fill_without_interpolate_unchanged(self, spark):
        df = spark.createDataFrame([(1, 10.0), (3, 30.0)], ["d", "v"])
        rows = ch_sql(
            spark,
            "SELECT d, v FROM t ORDER BY d WITH FILL",
            views={"t": df},
        ).collect()
        by_d = {r["d"]: r["v"] for r in rows}
        assert by_d == {1: 10.0, 2: None, 3: 30.0}


class TestPositionalAndDeltaAggregates:
    def test_delta_sum_timestamp(self, spark):
        # values by ts: 10, 14 (+4), 12 (reset), 15 (+3) -> 7
        df = spark.createDataFrame(
            [(3, 12.0), (1, 10.0), (4, 15.0), (2, 14.0)], ["t", "v"]
        )
        row = ch_sql(
            spark,
            "SELECT deltaSumTimestamp(v, t) AS ds FROM x",
            views={"x": df},
        ).collect()[0]
        assert row["ds"] == 7.0

    def test_for_each_family(self, spark):
        # ragged arrays: [1,2,3], [10,20], [100] — positionwise
        df = spark.createDataFrame(
            [([1.0, 2.0, 3.0],), ([10.0, 20.0],), ([100.0],)], ["a"]
        )
        row = ch_sql(
            spark,
            """
            SELECT sumForEach(a)   AS s,
                   countForEach(a) AS c,
                   minForEach(a)   AS mn,
                   maxForEach(a)   AS mx,
                   avgForEach(a)   AS av
            FROM x
            """,
            views={"x": df},
        ).collect()[0]
        assert row["s"] == [111.0, 22.0, 3.0]
        assert row["c"] == [3, 2, 1]
        assert row["mn"] == [1.0, 2.0, 3.0]
        assert row["mx"] == [100.0, 20.0, 3.0]
        assert row["av"] == [37.0, 11.0, 3.0]


class TestStatAndIntervalAggregates:
    def test_stable_renames_and_kahan(self, spark):
        row = ch_sql(
            spark,
            "SELECT corrStable(a, b) AS c, stddevPopStable(a) AS sp, "
            "varSampStable(a) AS vs, sumKahan(a) AS sk, "
            "sumWithOverflow(a) AS so, medianTDigest(a) AS md FROM t",
            views={
                "t": spark.createDataFrame(
                    [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0)], ["a", "b"]
                )
            },
        ).collect()[0]
        assert abs(row["c"] - 1.0) < 1e-12
        assert row["sk"] == 6.0 and row["so"] == 6.0
        assert row["md"] == 2.0

    def test_entropy(self, spark):
        import math

        # values: a,a,b,b -> H = 1 bit; a,a,a,a -> 0; a,b,c,d -> 2 bits
        for vals, want in (
            (["a", "a", "b", "b"], 1.0),
            (["a", "a", "a", "a"], 0.0),
            (["a", "b", "c", "d"], 2.0),
            (["a", "a", "a", "b"], -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))),
        ):
            row = ch_sql(
                spark,
                "SELECT entropy(x) AS h FROM t",
                views={
                    "t": spark.createDataFrame([(v,) for v in vals], ["x"])
                },
            ).collect()[0]
            assert abs(row["h"] - want) < 1e-9, (vals, row["h"], want)

    def test_quantile_exact_weighted(self, spark):
        # values 1..4 with weights 1,1,1,7 (total 10): level .5 -> the
        # first value reaching cum 5 is 4; level .3 -> value 3
        df = spark.createDataFrame(
            [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 7.0)], ["x", "w"]
        )
        row = ch_sql(
            spark,
            "SELECT quantileExactWeighted(0.5)(x, w) AS q5, "
            "quantileExactWeighted(0.3)(x, w) AS q3, "
            "quantileExactWeighted(0.1)(x, w) AS q1 FROM t",
            views={"t": df},
        ).collect()[0]
        assert row["q5"] == 4.0
        assert row["q3"] == 3.0
        assert row["q1"] == 1.0

    def test_interval_length_sum_and_max_intersections(self, spark):
        # intervals: [1,5], [3,7] (union 1..7 = 6), [10,12] (2) -> 8
        # max overlap: 2 ([1,5]∩[3,7]); [5,7]-style touch is NOT overlap
        df = spark.createDataFrame(
            [(1.0, 5.0), (3.0, 7.0), (10.0, 12.0)], ["s", "e"]
        )
        row = ch_sql(
            spark,
            "SELECT intervalLengthSum(s, e) AS ils, "
            "maxIntersections(s, e) AS mi FROM t",
            views={"t": df},
        ).collect()[0]
        assert row["ils"] == 8.0
        assert row["mi"] == 2
        touch = spark.createDataFrame([(1.0, 3.0), (3.0, 5.0)], ["s", "e"])
        row2 = ch_sql(
            spark,
            "SELECT intervalLengthSum(s, e) AS ils, "
            "maxIntersections(s, e) AS mi FROM t",
            views={"t": touch},
        ).collect()[0]
        assert row2["ils"] == 4.0
        assert row2["mi"] == 1  # ends sort before starts at equal t


def test_format_readable_time_delta(spark):
    # 1 year + 1 month + 1 day + 1 h + 1 m + 1 s, with the CH constants
    # year = 365 d, month = 30.5 d — remainders must CHAIN through the
    # half-day month (a naive s%86400 would be 12 h off here)
    total = 31536000 + 2635200 + 86400 + 3600 + 60 + 1
    rows = ch_sql(
        spark,
        f"""
        SELECT formatReadableTimeDelta({total})       AS full,
               formatReadableTimeDelta(0)             AS zero,
               formatReadableTimeDelta(1)             AS one_s,
               formatReadableTimeDelta(121)           AS m_s,
               formatReadableTimeDelta(31536000 + 45) AS y_s,
               formatReadableTimeDelta(2635200 + 2635200 + 43200)
                                                      AS two_mo_half_day
        FROM v
        """,
        views={"v": spark.range(1)},
    ).collect()[0]
    assert rows["full"] == "1 year, 1 month, 1 day, 1 hour, 1 minute, 1 second"
    assert rows["zero"] == "0 seconds"
    assert rows["one_s"] == "1 second"
    assert rows["m_s"] == "2 minutes, 1 second"
    assert rows["y_s"] == "1 year, 45 seconds"  # zero middles skipped
    # 61 days of months-seconds: 2 months (61 d) + 12 h remainder
    assert rows["two_mo_half_day"] == "2 months, 12 hours"


class TestScalarWith:
    def test_literal_and_expr_aliases(self, spark):
        df = spark.createDataFrame([(1,), (5,), (9,)], ["x"])
        rows = ch_sql(
            spark,
            "WITH 6 AS lim, ceil(1.5) AS c "
            "SELECT x, x + c AS xc FROM t WHERE x < lim ORDER BY x",
            views={"t": df},
        ).collect()
        assert [(r["x"], r["xc"]) for r in rows] == [(1, 3), (5, 7)]

    def test_scalar_subquery_alias(self, spark):
        df = spark.createDataFrame([(1,), (5,), (9,)], ["x"])
        rows = ch_sql(
            spark,
            "WITH (SELECT max(x) FROM t) AS mx "
            "SELECT x FROM t WHERE x = mx",
            views={"t": df},
        ).collect()
        assert [r["x"] for r in rows] == [9]

    def test_mixed_with_standard_cte(self, spark):
        df = spark.createDataFrame([(1,), (5,)], ["x"])
        rows = ch_sql(
            spark,
            "WITH 10 AS mult, doubled AS (SELECT x * 2 AS d FROM t) "
            "SELECT d * mult AS out FROM doubled ORDER BY out",
            views={"t": df},
        ).collect()
        assert [r["out"] for r in rows] == [20, 100]

    def test_alias_not_substituted_in_strings_or_qualified(self, spark):
        df = spark.createDataFrame([(1, "lim")], ["lim", "s"])
        rows = ch_sql(
            spark,
            "WITH 99 AS lim "
            "SELECT t.lim AS tl, 'lim' AS lit, lim AS v FROM t",
            views={"t": df},
        ).collect()[0]
        assert rows["tl"] == 1      # qualified column untouched
        assert rows["lit"] == "lim"  # string literal untouched
        assert rows["v"] == 99       # bare alias substituted


class TestIpJsonMiscBatch:
    def test_ipv4_roundtrip_and_validation(self, spark):
        rows = ch_sql(
            spark,
            """
            SELECT IPv4StringToNum('192.168.1.10')     AS n,
                   IPv4NumToString(3232235786)          AS s,
                   isIPv4String('10.0.0.1')             AS ok,
                   isIPv4String('256.1.1.1')            AS bad,
                   isIPv4String('not an ip')            AS worse
            FROM v
            """,
            views={"v": spark.range(1)},
        ).collect()[0]
        assert rows["n"] == 3232235786
        assert rows["s"] == "192.168.1.10"
        assert rows["ok"] is True
        assert rows["bad"] is False and rows["worse"] is False

    def test_json_and_casts(self, spark):
        rows = ch_sql(
            spark,
            """
            SELECT isValidJSON('{"a": 1}')      AS good,
                   isValidJSON('{nope')          AS bad,
                   toBool(1)                     AS b,
                   toInt128('170141183460469231731687303715884105')
                                                 AS big,
                   substringIndex('a.b.c', '.', 2) AS si,
                   regexpExtract('ab12cd', '([0-9]+)', 1) AS re,
                   countSubstringsCaseInsensitive('AbaBA', 'ab') AS ci
            FROM v
            """,
            views={"v": spark.range(1)},
        ).collect()[0]
        assert rows["good"] is True and rows["bad"] is False
        assert rows["b"] is True
        assert str(rows["big"]).startswith("170141183460469231731687303715")
        assert rows["si"] == "a.b"
        assert rows["re"] == "12"
        assert rows["ci"] == 2

    def test_to_string_tz_not_dropped(self, spark):
        row = ch_sql(
            spark,
            "SELECT toString(t, 'America/New_York') AS s FROM v",
            views={
                "v": spark.sql(
                    "SELECT CAST('2024-03-20 14:38:21' AS TIMESTAMP) AS t"
                )
            },
        ).collect()[0]
        assert row["s"] == "2024-03-20 10:38:21"  # UTC-4 in March

    def test_block_order_functions_rejected(self):
        for fn in ("runningDifference(x)", "neighbor(x, 1)",
                   "rowNumberInAllBlocks()"):
            with pytest.raises(ValueError, match="BLOCK-ORDER"):
                translate(f"SELECT {fn} FROM t")


def test_surplus_template_args_rejected_not_dropped():
    # str.format silently ignores extra args — a trailing optional
    # timezone must raise, not produce a silently-tz-less answer
    with pytest.raises(ValueError, match="extra argument"):
        translate("toDate(x, 'UTC')")
    with pytest.raises(ValueError, match="extra argument"):
        translate("toStartOfDay(t, 'Asia/Tokyo')")
    with pytest.raises(ValueError, match="extra argument"):
        translate("sumIf(a, b, c, d)")


class TestBracketsAndTuples:
    """CH bracket syntax and tuple access (round-9 batch): subscripts
    are 1-BASED in CH vs 0-based native Spark ``[ ]`` — passing them
    through returned the WRONG ELEMENT silently, the worst translator
    failure class. Everything here rewrites to element_at (1-based,
    negative-from-end, map key lookup — all CH-matching)."""

    def test_subscript_rewrites(self):
        # try_element_at since r15: 4.1.2 ANSI element_at returns the
        # LAST element for a NULL index (fuzz v6 seed 51694)
        assert translate("SELECT arr[1] FROM t") == (
            "SELECT try_element_at(arr, 1) FROM t"
        )
        assert "try_element_at(try_element_at(arr, 1), 2)" in translate(
            "SELECT arr[1][2] FROM t"
        )
        # subscript of a call result and inside a lambda
        assert "try_element_at(split(s, ','), 2)" in translate(
            "SELECT splitByChar(',', s)[2] FROM t"
        )
        assert "x -> try_element_at(x, 1)" in translate(
            "SELECT arrayMap(x -> x[1], arrs) FROM t"
        )

    def test_array_literals(self):
        assert translate("SELECT [1,2,3] AS a") == (
            "SELECT array(1, 2, 3) AS a"
        )
        assert "array(array(1, 2), array(3))" in translate(
            "SELECT [[1,2],[3]] AS a"
        )
        # literal positions: argument head, keyword contexts
        assert "array_contains(array(1, 2, 3), x)" in translate(
            "SELECT has([1,2,3], x) FROM t"
        )
        assert "THEN array(1) ELSE array(2)" in translate(
            "SELECT CASE WHEN a THEN [1] ELSE [2] END FROM t"
        )

    def test_executed_semantics(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT [10,20,30][1]            AS first,
                   [10,20,30][-1]           AS last,
                   map('a', 5)['a']         AS mv,
                   tuple(7, 'x').1          AS t1,
                   tupleElement(tuple(7, 'x'), 2) AS t2
            """,
        ).collect()[0]
        assert (row["first"], row["last"], row["mv"]) == (10, 30, 5)
        assert (row["t1"], row["t2"]) == (7, "x")

    def test_tuple_family(self):
        # positional names are pinned explicitly: Spark would otherwise
        # name COLUMN elements after the column and break .colN access
        assert "struct(a AS col1, b AS col2).col1" in translate(
            "SELECT tuple(a, b).1 FROM t"
        )
        assert "(tp).col2" in translate("SELECT tupleElement(tp, 2) FROM t")
        assert "(tp).name" in translate(
            "SELECT tupleElement(tp, 'name') FROM t"
        )
        assert "tp.*" in translate("SELECT untuple(tp) FROM t")
        with pytest.raises(ValueError, match="literal index"):
            translate("SELECT tupleElement(tp, i) FROM t")

    def test_float_literals_untouched(self):
        # numeric-token guard: 0.5 is a float, not tuple access
        out = translate("SELECT quantile(0.5)(x), 1.5 + v FROM t")
        assert "0.5" in out and "1.5" in out and ".col" not in out


class TestFileTableFunction:
    def test_rewrite_forms(self):
        assert translate(
            "SELECT * FROM file('/data/x.parquet', 'Parquet')"
        ) == "SELECT * FROM parquet.`/data/x.parquet`"
        # format derived from the extension when omitted
        assert "json.`/d/y.json`" in translate(
            "SELECT * FROM file('/d/y.json')"
        )
        with pytest.raises(ValueError, match="header/delimiter"):
            translate("SELECT * FROM file('/d/z.csv', 'CSVWithNames')")
        with pytest.raises(ValueError, match="Hadoop FS"):
            translate("SELECT * FROM s3('https://b/k', 'key', 'secret')")

    def test_executed(self, spark, tmp_path):
        p = f"{tmp_path}/t.parquet"
        spark.range(5).withColumnRenamed("id", "x").write.parquet(p)
        out = ch_sql(
            spark, f"SELECT count() AS n, toInt64(sum(x)) AS s FROM file('{p}', 'Parquet')"
        ).collect()[0]
        assert (out["n"], out["s"]) == (5, 10)


def test_state_merge_combinators_reject_loudly():
    # round 12: plain-state bases now TRANSLATE (see
    # TestStateMergeCombinators); engine-internal states still reject
    for fn in ("quantileTDigestState(x)", "topKState(x)",
               "quantilesMergeState(s)",
               "histogramState(x)"):
        with pytest.raises(ValueError, match="engine-internal"):
            translate(f"SELECT {fn} FROM t")
    for fn in ("sumState(x)", "uniqMerge(s)", "avgMergeState(s)",
               # round 13: groupBitmap states graduated to the exact
               # sorted-array tier (tests/test_bitmap.py)
               "groupBitmapMerge(s)",
               "minSimpleState(x)"):
        assert "(" in translate(f"SELECT {fn} AS o FROM t")
    # countResample(s,e,p)(key) became a VALID zero-arg-count spelling
    # in round 11; avg still needs a value argument before the key
    with pytest.raises(ValueError, match="Resample"):
        translate("SELECT avgResample(1, 10, 1)(x) FROM t")
    # WITH ROLLUP / CUBE are shared syntax — pass through untouched
    assert translate(
        "SELECT a, sum(b) FROM t GROUP BY a WITH ROLLUP"
    ).endswith("WITH ROLLUP")


class TestPassthroughAuditBatch:
    """Round-9 audit: CH-named functions that previously passed through
    untranslated (unresolved-function errors — or silently DIFFERENT
    semantics, e.g. rand() range) now map or reject loudly."""

    def test_executed_values(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT alphaTokens('ab12cd ef')      AS toks,
                   roundToExp2(100)              AS exp2,
                   roundDown(7, [1,5,10])        AS rdown,
                   roundAge(30)                  AS age,
                   roundDuration(250)            AS dur,
                   tryBase64Decode('aGVsbG8=')   AS b64,
                   tryBase64Decode('!!!')        AS b64bad,
                   JSONLength('[1,2,3]')         AS jlen,
                   bar(50, 0, 100, 10)           AS bars,
                   simpleLinearRegression(x, y).1 AS slope
            FROM (SELECT 1 AS x, 3 AS y UNION ALL SELECT 2, 5
                  UNION ALL SELECT 3, 7)
            """,
        ).collect()[0]
        assert row["toks"] == ["ab", "cd", "ef"]
        assert row["exp2"] == 64 and row["rdown"] == 5
        assert row["age"] == 25 and row["dur"] == 240
        assert row["b64"] == "hello" and row["b64bad"] is None
        assert row["jlen"] == 3 and row["bars"] == "█" * 5
        assert row["slope"] == 2.0

    def test_rand_range_is_uint32_not_unit_interval(self, spark):
        # CH rand() is uniform UInt32; Spark's same-named rand() is
        # [0,1) — the pass-through would silently change the range
        vals = [
            r["v"]
            for r in ch_sql(
                spark,
                "SELECT rand() AS v FROM (SELECT explode(sequence(1, 50)))",
            ).collect()
        ]
        assert all(isinstance(v, int) and 0 <= v < 2**32 for v in vals)
        assert max(vals) > 10_000  # not unit-interval doubles

    def test_normalize_query(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT normalizeQuery(\"SELECT 15 FROM t WHERE s = 'x'\")"
            " AS v",
        ).collect()
        assert r["v"] == "SELECT ? FROM t WHERE s = ?"

    def test_loud_rejects(self):
        expectations = {
            # studentTTest/welchTTest, pointInPolygon/geohash*, and
            # sumMap/minMap/maxMap graduated from this list in round 10
            # (test_geo_stats.py / TestMapAggregates pin the mappings)
            "sumMap(k, v, w)": "mapped forms",
            "groupArrayMovingSum(x)": "BLOCK-ORDER",
            "geohashesInBox(1.0, 2.0, 3.0)": "mapped form",
            "h3ToGeo(h)": "geo",
            "byteSize(x)": "engine-internal",
            "sleep(1)": "no Spark analog",
            "JSONType(j)": "introspection",
        }
        for fn, msg in expectations.items():
            with pytest.raises(ValueError, match=msg):
                translate(f"SELECT {fn} FROM t")

    def test_hash_names_map_to_xxhash(self):
        # intent-preserving (stable uniform hash), NOT bit-compatible
        # with CH — documented in the dispatch
        for fn in ("cityHash64", "sipHash64", "farmHash64", "halfMD5"):
            assert "xxhash64(s)" in translate(f"SELECT {fn}(s) FROM t")


def test_topk_weighted_and_count_distinct_alias(spark):
    row = ch_sql(
        spark,
        """
        SELECT topKWeighted(2)(v, w)       AS topw,
               countDistinct(v)            AS nd,
               countDistinctIf(v, w > 1)   AS ndif
        FROM (SELECT 'a' AS v, 1 AS w UNION ALL SELECT 'b', 5
              UNION ALL SELECT 'a', 1 UNION ALL SELECT 'c', 3)
        """,
    ).collect()[0]
    # summed weights: b=5, c=3, a=2 → top-2 by weight = [b, c]
    assert row["topw"] == ["b", "c"]
    assert row["nd"] == 3 and row["ndif"] == 2


def test_template_brace_escapes_not_counted_as_slots():
    # regex-quantifier templates contain {{3}} escapes; surplus-arg
    # checking must not count them as format slots
    with pytest.raises(ValueError, match="extra argument"):
        translate("SELECT isIPv4String(x, 'extra') FROM t")
    # and the legit 1-arg form still translates
    assert "x" in translate("SELECT isIPv4String(x) FROM t")


class TestColumnSelectors:
    """CH ``* APPLY``, ``COLUMNS('re')``, paren-less ``EXCEPT`` — all
    expand over the registered FROM view's schema (CH result-column
    naming, backticked)."""

    def test_apply_and_columns(self, spark):
        df = spark.createDataFrame(
            [(1, 2.0, 3.0), (4, 5.0, 6.0)], ["id", "v_a", "v_b"]
        )
        r = ch_sql(spark, "SELECT * APPLY(sum) FROM t",
                   views={"t": df}).collect()[0]
        assert (r["sum(id)"], r["sum(v_a)"], r["sum(v_b)"]) == (5, 7.0, 9.0)
        r = ch_sql(
            spark,
            "SELECT COLUMNS('^v_') APPLY(sum) APPLY(round) FROM t",
            views={"t": df},
        ).collect()[0]
        assert (r["round(sum(v_a))"], r["round(sum(v_b))"]) == (7.0, 9.0)
        r = ch_sql(spark, "SELECT * EXCEPT (id) APPLY(max) FROM t",
                   views={"t": df}).collect()[0]
        assert dict(r.asDict()) == {"max(v_a)": 5.0, "max(v_b)": 6.0}

    def test_parenless_except_and_plain_columns(self, spark):
        df = spark.createDataFrame([(1, 2.0, 3.0)], ["id", "v_a", "v_b"])
        assert ch_sql(spark, "SELECT * EXCEPT v_a FROM t",
                      views={"t": df}).columns == ["id", "v_b"]
        assert ch_sql(spark, "SELECT id, COLUMNS('^v_') FROM t",
                      views={"t": df}).columns == ["id", "v_a", "v_b"]

    def test_no_match_and_no_schema_loud(self, spark):
        df = spark.createDataFrame([(1,)], ["id"])
        with pytest.raises(ValueError, match="matched no columns"):
            ch_sql(spark, "SELECT COLUMNS('^zz') FROM t", views={"t": df})
        with pytest.raises(ValueError, match="register"):
            translate("SELECT * APPLY(sum) FROM never_registered_xyz")


class TestBatch3DateTimeUtf8:
    """Round-9 batch 3: date/time + UTF8 pass-through audit mappings."""

    def test_executed_values(self, spark):
        import datetime as dt

        row = ch_sql(
            spark,
            """
            SELECT addQuarters(toDate('2024-01-31'), 1)       AS q_add,
                   dateAdd('quarter', 1, toDate('2024-01-31')) AS da,
                   dateSub(DAY, 3, toDate('2024-01-10'))       AS ds,
                   toStartOfISOYear(toDate('2024-06-15'))      AS isoy,
                   toDaysSinceYearZero(toDate('1970-01-01'))   AS dz,
                   fromDaysSinceYearZero(719528)               AS fdz,
                   toLastDayOfWeek(toDate('2024-01-10'))       AS ldw,
                   toRelativeMonthNum(toDate('2024-03-05'))    AS rmn,
                   timeZoneOffset(now())                       AS tzo,
                   extractGroups('ab12', '([a-z]+)(\\\\d+)')   AS eg,
                   startsWithUTF8('héllo', 'hé')               AS swu
            """,
        ).collect()[0]
        assert row["q_add"] == dt.date(2024, 4, 30)  # end-of-month clamp
        assert row["da"] == dt.date(2024, 4, 30)
        assert row["ds"] == dt.date(2024, 1, 7)
        assert row["isoy"] == dt.date(2024, 1, 1)
        assert (row["dz"], row["fdz"]) == (719528, dt.date(1970, 1, 1))
        # CH default mode 0: week Sun..Sat → the Saturday
        assert row["ldw"] == dt.date(2024, 1, 13)
        assert row["rmn"] == 2024 * 12 + 3
        assert row["tzo"] == 0  # session tz pinned UTC
        assert row["eg"] == ["ab", "12"]
        assert row["swu"] is True

    def test_rejects(self):
        with pytest.raises(ValueError, match="epoch alignment"):
            translate("SELECT toRelativeWeekNum(d) FROM t")
        with pytest.raises(ValueError, match="microsecond"):
            translate("SELECT now64(9) FROM t")
        with pytest.raises(ValueError, match="unsupported unit"):
            translate("SELECT dateAdd('fortnight', 1, d) FROM t")
        with pytest.raises(ValueError, match="capture groups"):
            translate("SELECT extractGroups(s, 'nogroups') FROM t")


def test_aggregate_batch4(spark):
    row = ch_sql(
        spark,
        """
        SELECT groupConcat('-')(s)            AS gc,
               singleValueOrNull(one)         AS sv1,
               singleValueOrNull(s)           AS svn,
               maxIntersectionsPosition(a, b) AS mip
        FROM (SELECT 'x' AS s, 7 AS one, 1.0 AS a, 5.0 AS b
              UNION ALL SELECT 'y', 7, 2.0, 4.0
              UNION ALL SELECT 'z', 7, 6.0, 8.0)
        """,
    ).collect()[0]
    assert sorted(row["gc"].split("-")) == ["x", "y", "z"]
    assert row["sv1"] == 7 and row["svn"] is None
    # [1,5) and [2,4) overlap → 2 concurrent starting at position 2
    assert row["mip"] == 2.0
    # quantileGK and exponentialMovingAverage moved from this reject
    # list to real mappings in round 10 (tests/test_ema.py); the
    # window-only TimeDecayed family still rejects with a pointer to
    # operators.ema
    # cramersV graduated to a real mapping in round 10
    # (tests/test_geo_stats.py TestStatsBatch2Sql pins it)
    # groupBitmap graduated to a real mapping in round 13
    # (tests/test_bitmap.py pins the whole family)
    for fn, msg in [("deltaSum(x)", "BLOCK-ORDER"),
                    # round 12: the parameterized TimeDecayed forms
                    # map (decayed GROUP-BY folds, test_audit_r12);
                    # the bare spelling still points at them
                    ("exponentialTimeDecayedSum(v, t)",
                     "parameterized form")]:
        with pytest.raises(ValueError, match=msg):
            translate(f"SELECT {fn} FROM t")
    assert "exp(" in translate(
        "SELECT exponentialTimeDecayedSum(5)(v, t) FROM t"
    )


def test_column_selector_in_subquery(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0), (4, 5.0, 6.0)],
                               ["id", "v_a", "v_b"])
    r = ch_sql(
        spark,
        "SELECT s.* FROM (SELECT * EXCEPT (id) APPLY(sum) FROM t) s",
        views={"t": df},
    ).collect()[0]
    assert dict(r.asDict()) == {"sum(v_a)": 7.0, "sum(v_b)": 9.0}


class TestVectorMath:
    """CH vector-distance family (embedding-pipeline staples) — all
    zip_with/aggregate HOFs, JVM-side, no UDFs."""

    def test_executed_values(self, spark):
        row = ch_sql(
            spark,
            """
            SELECT dotProduct(a, b)                    AS dp,
                   L2Norm(a)                           AS n2,
                   L1Norm(a)                           AS n1,
                   LinfNorm(a)                         AS ninf,
                   L2Distance(a, b)                    AS d2,
                   L1Distance(a, b)                    AS d1,
                   LinfDistance(a, b)                  AS dinf,
                   round(cosineDistance(a, b), 9)      AS cd,
                   normalizeL2(a)[1]                   AS nl,
                   arrayProduct(a)                     AS ap,
                   arrayJaccardIndex([1,2,3], [2,3,4]) AS jac,
                   isNaN(cast('NaN' as double))        AS nn,
                   nanToNull(cast('NaN' as double))    AS ntn
            FROM (SELECT array(1.0, 2.0, 2.0) AS a,
                         array(2.0, 4.0, 4.0) AS b)
            """,
        ).collect()[0]
        assert (row["dp"], row["n2"], row["n1"], row["ninf"]) == (
            18.0, 3.0, 5.0, 2.0
        )
        assert (row["d2"], row["d1"], row["dinf"]) == (3.0, 5.0, 2.0)
        assert row["cd"] == 0.0  # parallel vectors
        assert abs(row["nl"] - 1.0 / 3.0) < 1e-12
        assert (row["ap"], row["jac"]) == (4.0, 0.5)
        assert row["nn"] is True and row["ntn"] is None


def test_encrypt_decrypt_ecb_roundtrip(spark):
    [r] = ch_sql(
        spark,
        "SELECT decrypt('aes-128-ecb', "
        "encrypt('aes-128-ecb', 'secret', '1234567890abcdef'), "
        "'1234567890abcdef') AS v",
    ).collect()
    assert r["v"] == "secret"
    with pytest.raises(ValueError, match="IV/nonce"):
        translate("SELECT encrypt('aes-256-gcm', s, k) FROM t")
    # punycodeEncode graduated to a real kernel mapping in round 10
    # (tests/test_strkernels.py pins it)
    assert "__ch_puny_enc" in translate("SELECT punycodeEncode(s) FROM t")


def test_bit_decimal_batch(spark):
    row = ch_sql(
        spark,
        """
        SELECT bitHammingDistance(5, 6)          AS bh,
               widthBucket(55, 0, 100, 10)       AS wb,
               size(arrayRandomSample([1,2,3,4], 2)) AS ars,
               toDecimalString(3.14159, 3)       AS tds,
               multiplyDecimal(toDecimal64(2.5, 2),
                               toDecimal64(4.2, 2), 3) AS md,
               divideDecimal(toDecimal64(1.0, 2),
                             toDecimal64(4.0, 2), 2)   AS dd
        """,
    ).collect()[0]
    import decimal

    assert (row["bh"], row["wb"], row["ars"]) == (2, 6, 2)
    assert row["tds"] == "3.142"
    assert row["md"] == decimal.Decimal("10.500")
    assert row["dd"] == decimal.Decimal("0.25")
    # jaroSimilarity/base58Encode/proportionsZTest graduated to real
    # mappings in round 10 (test_geo_stats.py / test_strkernels.py)
    for fn, msg in [("bitRotateLeft(x, 2)", "width")]:
        with pytest.raises(ValueError, match=msg):
            translate(f"SELECT {fn} FROM t")


class TestReviewRound2Findings:
    def test_nano_decoder_parens(self):
        out = translate("SELECT fromUnixTimestamp64Nano(a + b) FROM t")
        assert "cast((a + b) div 1000" in out

    def test_apply_over_join_rejected(self, spark):
        a = spark.createDataFrame([(1, 2.0)], ["x", "y"])
        b = spark.createDataFrame([(1,)], ["z"])
        with pytest.raises(ValueError, match="SINGLE"):
            ch_sql(spark, "SELECT * APPLY(sum) FROM a JOIN b ON a.x = b.z",
                   views={"a": a, "b": b})
        with pytest.raises(ValueError, match="SINGLE"):
            ch_sql(spark, "SELECT * APPLY(sum) FROM a, b",
                   views={"a": a, "b": b})

    def test_last_day_of_week_is_saturday(self, spark):
        import datetime as dt

        # CH default mode 0: week Sun..Sat — Wed 2024-01-10 → Sat 13th
        [r] = ch_sql(
            spark,
            "SELECT toLastDayOfWeek(toDate('2024-01-10')) AS v",
        ).collect()
        assert r["v"] == dt.date(2024, 1, 13)

    def test_now64_timezone_rejected(self):
        with pytest.raises(ValueError, match="toTimeZone"):
            translate("SELECT now64(3, 'Asia/Istanbul')")

    def test_encrypt_arity(self):
        with pytest.raises(ValueError, match="mode, input, key"):
            translate("SELECT encrypt('aes-128-ecb', x) FROM t")
        with pytest.raises(ValueError, match="mode, input, key"):
            translate("SELECT encrypt('aes-128-ecb', x, k, iv) FROM t")

    def test_decimal_ops_need_explicit_scale(self):
        with pytest.raises(ValueError, match="result scale"):
            translate("SELECT multiplyDecimal(a, b) FROM t")

    def test_normalize_l2_single_norm_eval(self, spark):
        out = translate("SELECT normalizeL2(a) FROM t")
        # the norm aggregate appears ONCE (array_repeat), not per element
        assert out.count("aggregate(") == 1
        [r] = ch_sql(
            spark,
            "SELECT normalizeL2(array(3.0, 4.0)) AS v",
        ).collect()
        assert [round(x, 10) for x in r["v"]] == [0.6, 0.8]


def test_cast_variant_and_final_tail_batch(spark):
    import datetime as dt

    row = ch_sql(
        spark,
        """
        SELECT toUInt8OrZero('x')                        AS oz,
               toInt64OrDefault('x', 7)                  AS od,
               toDateOrZero('nope')                      AS dz,
               toDecimal64OrNull('3.25', 2)              AS dn,
               parseDateTime('2024-01-02', '%Y-%m-%d')   AS pd,
               parseDateTimeOrNull('bad', '%Y-%m-%d')    AS pdn,
               mapSort(map('b', 2, 'a', 1))              AS ms,
               mapContainsKeyLike(map('alpha', 1), 'al%') AS mck,
               extractURLParameters('http://h/p?a=1&b=2') AS ups,
               encodeXMLComponent('a<b&c')               AS xml
        """,
    ).collect()[0]
    import decimal

    assert (row["oz"], row["od"]) == (0, 7)
    assert row["dz"] == dt.date(1970, 1, 1)
    assert row["dn"] == decimal.Decimal("3.25")
    assert row["pd"] == dt.datetime(2024, 1, 2)
    assert row["pdn"] is None
    assert list(row["ms"].keys()) == ["a", "b"]
    assert row["mck"] is True
    assert row["ups"] == ["a=1", "b=2"]
    assert row["xml"] == "a&lt;b&amp;c"
    # accurateCast throws on lossy, passes through on fit
    assert ch_sql(
        spark, "SELECT accurateCast(42, 'Int64') AS v"
    ).collect()[0]["v"] == 42
    with pytest.raises(Exception, match="does not fit"):
        ch_sql(spark, "SELECT accurateCast('zz', 'Int64') AS v").collect()
    for fn, msg in [("firstSignificantSubdomain(u)", "suffix"),
                    ("JSONExtractRaw(j, 'k')", "RAW"),
                    ("demangle(s)", "engine-internal")]:
        with pytest.raises(ValueError, match=msg):
            translate(f"SELECT {fn} FROM t")


class TestReviewRound3ChSql:
    def test_unsigned_range_checks(self, spark):
        row = ch_sql(
            spark,
            "SELECT toUInt8OrZero('300') AS a, toUInt8OrZero('-5') AS b, "
            "toUInt16OrNull('70000') AS c, toUInt8OrZero('200') AS d",
        ).collect()[0]
        assert (row["a"], row["b"], row["c"], row["d"]) == (0, 0, None, 200)

    def test_accurate_cast_throws_on_unsigned_and_fraction(self, spark):
        with pytest.raises(Exception, match="does not fit"):
            ch_sql(spark, "SELECT accurateCast(300, 'UInt8') AS v").collect()
        with pytest.raises(Exception, match="does not fit"):
            ch_sql(spark, "SELECT accurateCast(1.5, 'Int32') AS v").collect()
        assert ch_sql(
            spark, "SELECT accurateCast(200, 'UInt8') AS v"
        ).collect()[0]["v"] == 200

    def test_surplus_cast_args_reject(self):
        with pytest.raises(ValueError, match="silently dropping"):
            translate("SELECT toDateTimeOrNull(s, 'Asia/Tokyo') FROM t")

    def test_int128_or_null_supported(self):
        assert "decimal(38,0)" in translate(
            "SELECT toInt128OrNull(x) FROM t"
        )

    def test_map_concat_first_wins_variadic(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT mapConcat(map('a', 1), map('a', 2), map('b', 3)) AS v",
        ).collect()
        assert r["v"] == {"a": 1, "b": 3}


def test_array_split(spark):
    """arraySplit / arrayReverseSplit as pure JVM HOFs (round 10):
    cut BEFORE (resp. AFTER) truthy lambda positions; first piece
    always starts at element 1. Values pinned on the CH doc example."""
    from clickhouse_modules_spark.functions.ch_sql import ch_sql

    [r] = ch_sql(
        spark,
        "SELECT arraySplit((x, y) -> y, [1, 2, 3, 4, 5], "
        "[1, 0, 0, 1, 0]) AS a, "
        "arrayReverseSplit((x, y) -> y, [1, 2, 3, 4, 5], "
        "[1, 0, 0, 1, 0]) AS b, "
        "arraySplit(x -> x = 0, [3, 0, 5, 0, 0, 7]) AS c, "
        "arraySplit(s -> s = '|', ['a', '|', 'b']) AS d, "
        "arraySplit(x -> x = 0, arrayFilter(x -> x > 99, [1])) AS e",
    ).collect()
    assert r["a"] == [[1, 2, 3], [4, 5]]           # CH doc example
    assert r["b"] == [[1], [2, 3, 4], [5]]         # CH doc example
    assert r["c"] == [[3], [0, 5], [0], [0, 7]]
    assert r["d"] == [["a"], ["|", "b"]]
    assert r["e"] == []                            # empty input

    from clickhouse_modules_spark.functions.ch_sql import translate

    with pytest.raises(ValueError, match="lambda"):
        translate("SELECT arraySplit([1, 2]) FROM t")
    with pytest.raises(ValueError, match="parameter"):
        translate("SELECT arraySplit((x, y) -> y, [1]) FROM t")


class TestMapAggregates:
    """sumMap/minMap/maxMap scalar-SQL forms (round 10): per-key
    aggregation as a pure-JVM collect_list + HOF reduction — the
    two-array form returns tuple(keys, values), the Map form a Map."""

    def _t(self, spark):
        return spark.createDataFrame(
            [
                (1, ["a", "b"], [10, 20]),
                (1, ["b", "c"], [5, None]),
                (2, ["a"], [7]),
            ],
            "g int, k array<string>, v array<int>",
        )

    def test_two_array_form(self, spark):
        rows = ch_sql(
            spark,
            "SELECT g, sumMap(k, v) AS sm, minMap(k, v) AS mn, "
            "maxMap(k, v) AS mx FROM t GROUP BY g ORDER BY g",
            views={"t": self._t(spark)},
        ).collect()
        # keys sorted; NULL values skipped; all-NULL key ('c') → NULL;
        # sums widen to 64-bit like CH (min/max stay type-preserving)
        assert rows[0]["sm"] == (["a", "b", "c"], [10, 25, None])
        assert rows[0]["mn"] == (["a", "b", "c"], [10, 5, None])
        assert rows[0]["mx"] == (["a", "b", "c"], [10, 20, None])
        assert rows[1]["sm"] == (["a"], [7])

    def test_tuple_access_and_aliases(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT sumMap(k, v).1 AS ks, sumMappedArrays(k, v).2 AS vs"
            " FROM t WHERE g = 1 GROUP BY g",
            views={"t": self._t(spark)},
        ).collect()
        assert r["ks"] == ["a", "b", "c"]
        assert r["vs"] == [10, 25, None]

    def test_map_form(self, spark):
        df = spark.createDataFrame(
            [(1, {"a": 1.5, "b": 2.0}), (1, {"a": 0.5}), (2, {"z": -1.0})],
            "g int, m map<string,double>",
        )
        rows = ch_sql(
            spark,
            "SELECT g, sumMap(m) AS sm, maxMap(m) AS mx "
            "FROM t GROUP BY g ORDER BY g",
            views={"t": df},
        ).collect()
        assert rows[0]["sm"] == {"a": 2.0, "b": 2.0}
        assert rows[0]["mx"] == {"a": 1.5, "b": 2.0}
        # zero-total keys are KEPT (documented delta vs CH's elision)
        assert rows[1]["sm"] == {"z": -1.0}

    def test_rejects(self):
        with pytest.raises(ValueError, match="mapped forms"):
            translate("SELECT sumMap(k, v, w) FROM t")
        with pytest.raises(ValueError, match="key_arr, value_arr"):
            translate("SELECT sumMappedArrays(m) FROM t")


class TestResampleCombinator:
    """-Resample combinator (round 10): <base>Resample(start, end,
    step)(args…, key) unrolls to per-bucket conditional aggregates in
    ONE partial-agg pass — array result, rows outside [start, end)
    ignored, last bucket truncated at end."""

    def test_values(self, spark):
        df = spark.createDataFrame(
            [
                ("John", 16, 5.0),
                ("Alice", 30, 5.0),
                ("Mary", 35, 8.0),
                ("Evelyn", 48, 11.5),
                ("David", 62, 9.9),
                ("Brian", 60, 16.0),
            ],
            "name string, age int, wage double",
        )
        [r] = ch_sql(
            spark,
            "SELECT countResample(30, 75, 30)(name, age) AS c, "
            "avgResample(30, 75, 30)(wage, age) AS a, "
            "sumResample(0, 100, 50)(wage, age) AS s, "
            "uniqResample(30, 75, 30)(name, age) AS u, "
            "countResample(30, 75, 30)(age) AS c0 FROM t",
            views={"t": df},
        ).collect()
        # buckets [30,60) and [60,75): age 16 outside, 62/60 in the
        # truncated second bucket
        assert r["c"] == [3, 2]
        # zero-arg count base: countResample(s,e,p)(key) — CH allows
        # count() with no value argument
        assert r["c0"] == [3, 2]
        assert [round(x, 4) for x in r["a"]] == [8.1667, 12.95]
        assert r["s"] == [29.5, 25.9]
        assert r["u"] == [3, 2]

    def test_rejects(self):
        for bad, msg in (
            ("sumResample(0, 10, 0)(v, k)", "step > 0"),
            ("fooResample(0, 10, 1)(v, k)", "-If-combinable"),
            ("sumResample(0, 100000, 1)(v, k)", "1000-bucket cap"),
            ("sumResample(a, b, c)(v, k)", "numeric literals"),
            ("sumResample(30, 75, 30)(age)", "REQUIRED final"),
            ("sumResample(x)", "parameterized form"),
        ):
            with pytest.raises(ValueError, match=msg):
                translate(f"SELECT {bad} FROM t")


class TestMovingAggregates:
    """groupArrayMovingSum/Avg (round 11): the ordered-key spelling —
    CH's bare form is block-order-dependent and still rejects, but an
    explicit ordering key (written, or derived from a FROM (… ORDER BY
    k) subquery) gives the one well-defined case. CH doc values
    pinned; MovingAvg returns double (CH's integer truncation is a
    documented delta)."""

    def _t(self, spark):
        return spark.createDataFrame(
            [(i + 1, v, f) for i, (v, f) in enumerate(
                [(1, 1.1), (2, 2.2), (4, 4.4), (8, 8.8)]
            )],
            "t int, v int, f double",
        )

    def test_explicit_key_values(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT groupArrayMovingSum(v, t) AS s, "
            "groupArrayMovingSum(2)(v, t) AS s2, "
            "groupArrayMovingAvg(f, t) AS a, "
            "groupArrayMovingAvg(2)(v, t) AS a2 FROM t",
            views={"t": self._t(spark)},
        ).collect()
        # CH docs (grouparraymovingsum/avg): int 1,2,4,8 / float ×1.1
        assert r["s"] == [1, 3, 7, 15]
        assert r["s2"] == [1, 3, 6, 12]
        assert [round(x, 4) for x in r["a"]] == [
            0.275, 0.825, 1.925, 4.125]
        assert r["a2"] == [0.5, 1.5, 3.0, 6.0]

    def test_order_by_subquery_derivation(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT groupArrayMovingSum(v) AS s, "
            "groupArrayMovingSum(2)(v) AS s2 "
            "FROM (SELECT v, t FROM t ORDER BY t)",
            views={"t": self._t(spark)},
        ).collect()
        assert r["s"] == [1, 3, 7, 15]
        assert r["s2"] == [1, 3, 6, 12]
        [rd] = ch_sql(
            spark,
            "SELECT groupArrayMovingSum(v) AS s "
            "FROM (SELECT v, t FROM t ORDER BY t DESC)",
            views={"t": self._t(spark)},
        ).collect()
        assert rd["s"] == [8, 12, 14, 15]

    def test_null_skip_and_empty_group(self, spark):
        df = spark.createDataFrame(
            [(1, 10), (2, None), (3, 5)], "t int, v int"
        )
        [r] = ch_sql(
            spark,
            "SELECT groupArrayMovingSum(v, t) AS s, "
            "groupArrayMovingSumIf(2)(v, t, v > 100) AS se FROM t",
            views={"t": df},
        ).collect()
        assert r["s"] == [10, 15]       # NULL v skipped, like CH
        assert r["se"] == []            # empty match → empty array

    def test_bare_form_rejects(self):
        with pytest.raises(ValueError, match="BLOCK-ORDER"):
            translate("SELECT groupArrayMovingSum(v) FROM t")
        with pytest.raises(ValueError, match="BLOCK-ORDER"):
            # multi-key ORDER BY is not derivable — stays a reject
            translate(
                "SELECT groupArrayMovingAvg(v) "
                "FROM (SELECT * FROM t ORDER BY a, b)"
            )
        with pytest.raises(ValueError, match="window-size"):
            translate("SELECT groupArrayMovingSum(2, 3)(v, t) FROM t")
        with pytest.raises(ValueError, match="positive"):
            translate("SELECT groupArrayMovingSum(0)(v, t) FROM t")


class TestRound11RejectConversions:
    """toYearWeek, extractAllGroupsHorizontal/Vertical, and the tuple
    arithmetic family (round 11) — the highest-frequency former
    rejects, converted with executed-value pins."""

    def test_to_year_week(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT toYearWeek(toDate('2021-09-08')) AS a, "
            "toYearWeek(toDate('2021-01-01')) AS b, "
            "toYearWeek(toDate('2021-01-01'), 1) AS c, "
            "toYearWeek(toDate('2021-01-03')) AS d FROM (SELECT 1)",
        ).collect()
        assert r["a"] == 202136          # CH doc example value
        # MySQL YEARWEEK: week-0 days shift into the previous year
        assert r["b"] == 202052
        assert r["c"] == 202053          # ISO: week 53 of ISO-year 2020
        assert r["d"] == 202101          # first Sunday starts week 1

    def test_extract_all_groups(self, spark):
        [r] = ch_sql(
            spark,
            r"""SELECT
  extractAllGroupsHorizontal('abc=111, def=222, ghi=333',
                             '(\\w+)=(\\w+)') AS h,
  extractAllGroupsVertical('abc=111, def=222, ghi=333',
                           '(\\w+)=(\\w+)') AS v,
  extractAllGroups('k=1', '(\\w+)=(\\w+)') AS bare,
  extractAllGroupsVertical('no pairs', '(\\d+)=(\\d+)') AS empty
FROM (SELECT 1)""",
        ).collect()
        assert r["h"] == [["abc", "def", "ghi"], ["111", "222", "333"]]
        assert r["v"] == [["abc", "111"], ["def", "222"], ["ghi", "333"]]
        assert r["bare"] == [["k", "1"]]   # bare alias = Vertical
        assert r["empty"] == []

    def test_tuple_arithmetic(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT tuplePlus(tuple(1, 2), tuple(2, 3)) AS tp, "
            "tupleMinus(tuple(1, 2), tuple(2, 3)) AS tm, "
            "tupleMultiply(tuple(1, 2), tuple(2, 3)) AS tx, "
            "tupleDivide(tuple(4.0, 9.0), tuple(2.0, 3.0)) AS td, "
            "tupleNegate(tuple(1, 2)) AS tn, "
            "tupleMultiplyByNumber(tuple(1, 2), 3) AS tmn, "
            "tupleDivideByNumber(tuple(1, 2), 0.5) AS tdn, "
            "tupleIntDiv(tuple(15, 10), tuple(5, 3)).2 AS ti "
            "FROM (SELECT 1)",
        ).collect()
        assert r["tp"] == (3, 5) and r["tm"] == (-1, -1)
        assert r["tx"] == (2, 6) and r["td"] == (2.0, 3.0)
        assert r["tn"] == (-1, -2)
        assert r["tmn"] == (3, 6) and r["tdn"] == (2.0, 4.0)
        assert r["ti"] == 3              # positional access composes

    def test_tuple_column_side(self, spark):
        # arity from the literal side; the column side uses the
        # engine's col1..colN struct convention
        df = spark.createDataFrame([(1, 10)], "x int, y int")
        [r] = ch_sql(
            spark,
            "SELECT tuplePlus(t2.tp, tuple(1, 1)) AS s FROM "
            "(SELECT tuple(x, y) AS tp FROM t) t2",
            views={"t": df},
        ).collect()
        assert r["s"] == (2, 11)

    def test_tuple_rejects(self):
        with pytest.raises(ValueError, match="sizes differ"):
            translate("SELECT tuplePlus(tuple(1, 2), tuple(1)) FROM t")
        with pytest.raises(ValueError, match="inline tuple literal"):
            translate("SELECT tupleNegate(c) FROM t")


class TestSequenceNextNode:
    """sequenceNextNode(direction, base)(…) (round 11): the CH
    parametric-functions doc's test_flow dataset with every documented
    direction/base behavior pinned; undocumented combos reject."""

    def _flow(self, spark):
        rows = [
            (1, 1, "Home"), (2, 1, "Gift"), (3, 1, "Exit"),
            (1, 2, "Home"), (2, 2, "Home"), (3, 2, "Gift"),
            (4, 2, "Basket"),
            (1, 3, "Gift"), (2, 3, "Home"), (3, 3, "Gift"),
            (4, 3, "Basket"),
        ]
        return spark.createDataFrame(rows, "dt int, id int, page string")

    def _run(self, spark, call):
        rows = ch_sql(
            spark,
            f"SELECT id, {call} AS nxt FROM t GROUP BY id ORDER BY id",
            views={"t": self._flow(spark)},
        ).collect()
        return [r["nxt"] for r in rows]

    def test_forward_head(self, spark):
        # CH doc: Home→Gift chain from the head → next page
        got = self._run(
            spark,
            "sequenceNextNode('forward', 'head')"
            "(dt, page, page = 'Home', page = 'Home', page = 'Gift')",
        )
        assert got == ["Exit", None, None]

    def test_backward_tail(self, spark):
        got = self._run(
            spark,
            "sequenceNextNode('backward', 'tail')"
            "(dt, page, page = 'Basket', page = 'Basket', "
            "page = 'Gift')",
        )
        assert got == [None, "Home", "Home"]

    def test_forward_first_match(self, spark):
        got = self._run(
            spark,
            "sequenceNextNode('forward', 'first_match')"
            "(dt, page, page = 'Gift', page = 'Gift')",
        )
        assert got == ["Exit", "Basket", "Home"]
        # longer chain: Gift → Home, then the following page
        got2 = self._run(
            spark,
            "sequenceNextNode('forward', 'first_match')"
            "(dt, page, page = 'Gift', page = 'Gift', page = 'Home')",
        )
        assert got2 == [None, None, "Gift"]

    def test_backward_last_match(self, spark):
        got = self._run(
            spark,
            "sequenceNextNode('backward', 'last_match')"
            "(dt, page, page = 'Gift', page = 'Gift')",
        )
        assert got == ["Home", "Home", "Home"]

    def test_base_condition_gates(self, spark):
        # base_condition ≠ event1: base must satisfy BOTH
        got = self._run(
            spark,
            "sequenceNextNode('forward', 'first_match')"
            "(dt, page, page = 'Home', page = 'Gift')",
        )
        assert got == [None, None, None]

    def test_rejects(self):
        with pytest.raises(ValueError, match="combos"):
            translate(
                "SELECT sequenceNextNode('forward', 'tail')"
                "(dt, p, p = 'A', p = 'A') FROM t"
            )
        with pytest.raises(ValueError, match="parameterized form"):
            translate("SELECT sequenceNextNode(dt, p) FROM t")
        with pytest.raises(ValueError, match="base_condition"):
            translate(
                "SELECT sequenceNextNode('forward', 'head')(dt, p) "
                "FROM t"
            )


class TestExactQuantileAndStatBatch:
    """Round-10 parameterized-aggregate batch: quantileExactLow/High/
    Inclusive/Exclusive (+ plural forms), weighted-quantile spellings,
    groupArraySorted, uniqCombined(p)(x), rankCorr, analysisOfVariance,
    corrMatrix — plus the unmapped-parameterized-aggregate guard that
    replaces the silent `name(p)(a)` passthrough this batch exposed."""

    def _t(self, spark):
        vals = [6.0, 1.0, 2.0, 3.0, 4.0, 5.0]
        return spark.createDataFrame(
            [
                (v, float(i % 3), "g" + str(i % 3), i + 1)
                for i, v in enumerate(vals)
            ],
            "x double, y double, g string, w int",
        )

    def test_exact_quantiles(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT quantileExactLow(0.5)(x) AS lo, "
            "quantileExactHigh(0.5)(x) AS hi, "
            "quantileExactInclusive(0.5)(x) AS inc, "
            "quantileExactExclusive(0.25)(x) AS exc, "
            "quantilesExactLow(0.25, 0.5)(x) AS los, "
            "quantileExactHigh(0.3)(x) AS h3, "
            "quantileExact(0.5)(x) AS ex, "
            "quantileExact(0.1)(x) AS ex1 FROM t",
            views={"t": self._t(spark)},
        ).collect()
        # statistics.median_low/median_high of [1..6] = 3 / 4
        assert r["lo"] == 3.0 and r["hi"] == 4.0
        assert r["inc"] == 3.5          # Excel PERCENTILE.INC
        assert r["exc"] == 1.75         # PERCENTILE.EXC: h=1.75
        assert r["los"] == [2.0, 3.0]
        # CH ⌊level·n⌋ indexing (NOT level·(n−1)): 0.3·6 → index 1
        # (0-based) → 2.0, where the old ceil(0.3·5) formula gave 3.0
        assert r["h3"] == 2.0
        # plain quantileExact: element selection, ⌊0.5·6⌋=3 → 4.0
        # (the upper median — percentile() would interpolate to 3.5)
        assert r["ex"] == 4.0
        assert r["ex1"] == 1.0          # ⌊0.1·6⌋ = 0 → smallest

    def test_weighted_and_sorted_and_hll(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT quantileInterpolatedWeighted(0.5)(x, w) AS iw, "
            "quantileTimingWeighted(0.5)(x, w) AS tw, "
            "groupArraySorted(3)(x) AS gs, "
            "uniqCombined(15)(x) AS uc FROM t",
            views={"t": self._t(spark)},
        ).collect()
        # weights 1..6 on values [6,1,2,3,4,5]: the weight-expanded
        # median (21 values, 11th smallest) and the first value whose
        # cumulative weight reaches half the total are both 4
        assert r["iw"] == 4.0 and r["tw"] == 4.0
        assert r["gs"] == [1.0, 2.0, 3.0]
        assert r["uc"] == 6

    def test_rank_corr_and_anova(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT rankCorr(x, y) AS rc FROM t",
            views={"t": self._t(spark)},
        ).collect()
        assert round(r["rc"], 4) == -0.239
        [r2] = ch_sql(
            spark,
            "SELECT analysisOfVariance(x, g) AS av FROM t",
            views={"t": self._t(spark)},
        ).collect()
        # groups {6,3}/{1,4}/{2,5}: F = (4/2)/(13.5/3) = 0.4444…
        assert round(r2["av"]["col1"], 5) == 0.44444
        assert 0.67 < r2["av"]["col2"] < 0.69

    def test_corr_matrix(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT corrMatrix(x, y) AS cm, "
            "covarPopMatrix(x, y) AS cv FROM t",
            views={"t": self._t(spark)},
        ).collect()
        assert [round(c, 3) for c in r["cm"][0]] == [1.0, -0.239]
        assert [round(c, 3) for c in r["cm"][1]] == [-0.239, 1.0]
        assert r["cv"][0][0] == pytest.approx(35.0 / 12.0)

    def test_unmapped_parametric_guard(self):
        for bad in (
            "quantileFoo(0.5)(x)",
            "groupArrayBogus(2)(x)",
            "histogram(5)(x)",
        ):
            with pytest.raises(ValueError, match="unmapped parameter"):
                translate(f"SELECT {bad} FROM t")
        # round 12: groupArrayLast(n)(x) maps with an ORDERING KEY;
        # the key-less form still rejects (insertion-order dependent)
        with pytest.raises(ValueError, match="ordering key"):
            translate("SELECT groupArrayLast(3)(x) FROM t")
        with pytest.raises(ValueError, match="≥2 columns"):
            translate("SELECT corrMatrix(x) FROM t")
        with pytest.raises(ValueError, match="INSERTION-order"):
            translate("SELECT groupArrayLast(x) FROM t")
        with pytest.raises(ValueError, match="literal integer"):
            translate("SELECT uniqCombined(p)(x) FROM t")


class TestQualifyAndWithTies:
    """CH QUALIFY clause and LIMIT … WITH TIES (round 10): both wrap
    the statement in a window subquery with a hidden filter column,
    restored via * EXCEPT — the LIMIT BY pattern."""

    def _t(self, spark):
        return spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 20), ("a", 3, 30),
             ("b", 1, 5), ("b", 2, 5)],
            "g string, i int, v int",
        )

    def test_qualify(self, spark):
        rows = ch_sql(
            spark,
            "SELECT g, i, v FROM t QUALIFY row_number() OVER "
            "(PARTITION BY g ORDER BY v DESC, i) = 1 ORDER BY g",
            views={"t": self._t(spark)},
        ).collect()
        assert [(r["g"], r["i"], r["v"]) for r in rows] == [
            ("a", 3, 30), ("b", 1, 5)]

    def test_qualify_on_alias(self, spark):
        rows = ch_sql(
            spark,
            "SELECT g, v, rank() OVER (PARTITION BY g ORDER BY v DESC)"
            " AS rnk FROM t QUALIFY rnk <= 1 ORDER BY g, v",
            views={"t": self._t(spark)},
        ).collect()
        assert [(r["g"], r["v"]) for r in rows] == [
            ("a", 30), ("b", 5), ("b", 5)]

    def test_limit_with_ties(self, spark):
        rows = ch_sql(
            spark,
            "SELECT g, v FROM t ORDER BY v LIMIT 2 WITH TIES",
            views={"t": self._t(spark)},
        ).collect()
        # both v=5 rows tie at rank 2's boundary
        assert sorted((r["g"], r["v"]) for r in rows) == [
            ("b", 5), ("b", 5)]
        rows3 = ch_sql(
            spark,
            "SELECT g, v FROM t ORDER BY v LIMIT 3 WITH TIES",
            views={"t": self._t(spark)},
        ).collect()
        assert sorted((r["g"], r["v"]) for r in rows3) == [
            ("a", 10), ("b", 5), ("b", 5)]

    def test_rejects(self):
        with pytest.raises(ValueError, match="non-deterministic"):
            translate("SELECT v FROM t LIMIT 2 WITH TIES")
        with pytest.raises(ValueError, match="predicate"):
            translate("SELECT v FROM t QUALIFY ")


def test_offset_fetch_clause(spark):
    """Standard OFFSET n ROWS FETCH FIRST m ROWS ONLY/WITH TIES →
    LIMIT/OFFSET (resp. the ties rank wrap); bare OFFSET n ROWS drops
    the ROWS keyword Spark rejects."""
    df = spark.createDataFrame([(i,) for i in [5, 5, 10, 20, 30]], "v int")
    r = ch_sql(
        spark,
        "SELECT v FROM t ORDER BY v OFFSET 1 ROW FETCH FIRST 2 ROWS ONLY",
        views={"t": df},
    ).collect()
    assert [x["v"] for x in r] == [5, 10]
    r2 = ch_sql(
        spark,
        "SELECT v FROM t ORDER BY v OFFSET 0 ROWS "
        "FETCH FIRST 2 ROWS WITH TIES",
        views={"t": df},
    ).collect()
    assert sorted(x["v"] for x in r2) == [5, 5]
    r3 = ch_sql(
        spark, "SELECT v FROM t ORDER BY v OFFSET 2 ROWS", views={"t": df}
    ).collect()
    assert sorted(x["v"] for x in r3) == [10, 20, 30]
    with pytest.raises(ValueError, match="do not compose"):
        translate(
            "SELECT v FROM t ORDER BY v OFFSET 1 ROWS "
            "FETCH FIRST 2 ROWS WITH TIES"
        )


class TestRound12AdviceFixes:
    """Round-12 ADVICE fixes: NULL semantics in anyOrNull/max2/min2/
    uniqArray and the multi-ORDER-BY ambiguity guard in the bare
    groupArrayMovingSum derivation."""

    def test_any_ornull_skips_nulls(self, spark):
        # CH aggregates skip NULLs: any([NULL, 5]) = 5, so anyOrNull
        # must only return NULL on an ALL-NULL / empty group
        df = spark.createDataFrame(
            [(1, None), (2, 5), (3, None)], "t int, v int"
        )
        [r] = ch_sql(
            spark,
            "SELECT anyOrNull(v) AS a, anyLastOrNull(v) AS al FROM t",
            views={"t": df},
        ).collect()
        assert r["a"] == 5 and r["al"] == 5
        [r0] = ch_sql(
            spark,
            "SELECT anyOrNull(v) AS a FROM t WHERE t = 1",
            views={"t": df},
        ).collect()
        assert r0["a"] is None

    def test_max2_min2_propagate_null(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT max2(CAST(NULL AS INT), 5) AS mx, "
            "min2(3, CAST(NULL AS INT)) AS mn, "
            "max2(3, 5) AS ok FROM t",
            views={"t": spark.sql("SELECT 1 AS x")},
        ).collect()
        assert r["mx"] is None and r["mn"] is None
        assert r["ok"] == 5.0

    def test_uniq_array_skips_nulls_and_is_bigint(self, spark):
        df = spark.createDataFrame(
            [([1, 2, None],), ([2, 3],)], "xs array<int>"
        )
        out = ch_sql(
            spark, "SELECT uniqArray(xs) AS u FROM t", views={"t": df}
        )
        assert dict(out.dtypes)["u"] == "bigint"
        assert out.collect()[0]["u"] == 3  # 1,2,3 — NULL skipped

    def test_moving_order_ambiguous_union_rejects(self):
        # two UNION ALL legs ordered by DIFFERENT keys: deriving one
        # key for both would silently mis-order a leg — must reject
        with pytest.raises(ValueError, match="BLOCK-ORDER"):
            translate(
                "SELECT groupArrayMovingSum(v) FROM "
                "(SELECT v, a FROM t ORDER BY a) "
                "UNION ALL SELECT groupArrayMovingSum(v) FROM "
                "(SELECT v, b FROM t ORDER BY b)"
            )
        with pytest.raises(ValueError, match="BLOCK-ORDER"):
            # same key, conflicting directions — also ambiguous
            translate(
                "SELECT groupArrayMovingSum(v) FROM "
                "(SELECT v, a FROM t ORDER BY a) "
                "UNION ALL SELECT groupArrayMovingSum(v) FROM "
                "(SELECT v, a FROM t ORDER BY a DESC)"
            )

    def test_moving_order_same_key_both_legs_ok(self):
        # identical (key, direction) in every leg stays derivable
        out = translate(
            "SELECT groupArrayMovingSum(v) FROM "
            "(SELECT v, a FROM t ORDER BY a) "
            "UNION ALL SELECT groupArrayMovingSum(v) FROM "
            "(SELECT v, a FROM t2 ORDER BY a)"
        )
        assert "aggregate(" in out


class TestStateMergeCombinators:
    """Round-12 -State/-Merge partial-aggregate states: the rollup-MV
    pattern (store xState per (key, batch); read with xMerge per key).
    Oracle: merging two batches' states must equal aggregating the
    union directly — CH's own associativity contract."""

    def _batches(self, spark):
        # two "insert batches" (b) over keys; NULLs must be skipped
        return spark.createDataFrame(
            [(1, 1, 10), (1, 1, 20), (1, 2, None), (1, 2, 5),
             (2, 1, 7), (2, 2, 40), (2, 2, 2)],
            "b int, k int, v int",
        )

    def test_state_then_merge_equals_direct(self, spark):
        df = self._batches(spark)
        states = ch_sql(
            spark,
            "SELECT b, k, sumState(v) AS ss, countState(v) AS cs, "
            "minState(v) AS mns, maxState(v) AS mxs, "
            "avgState(v) AS avs, uniqExactState(v) AS ues "
            "FROM t GROUP BY b, k",
            views={"t": df},
        )
        states.createOrReplaceTempView("st")
        merged = {
            r["k"]: r
            for r in ch_sql(
                spark,
                "SELECT k, sumMerge(ss) AS s, countMerge(cs) AS c, "
                "minMerge(mns) AS mn, maxMerge(mxs) AS mx, "
                "avgMerge(avs) AS av, uniqExactMerge(ues) AS ue "
                "FROM st GROUP BY k",
                views={"st": states},
            ).collect()
        }
        df.createOrReplaceTempView("st_src")
        direct = {
            r["k"]: r
            for r in spark.sql(
                "SELECT k, sum(v) AS s, count(v) AS c, min(v) AS mn, "
                "max(v) AS mx, avg(v) AS av, "
                "count(DISTINCT v) AS ue FROM st_src GROUP BY k"
            ).collect()
        }
        for k in (1, 2):
            m, d = merged[k], direct[k]
            assert (m["s"], m["c"], m["mn"], m["mx"], m["ue"]) == (
                d["s"], d["c"], d["mn"], d["mx"], d["ue"])
            assert abs(m["av"] - d["av"]) < 1e-12

    def test_uniq_state_hll_estimate(self, spark):
        # uniq states are HLL sketches: exact at tiny cardinality,
        # bounded relative error at 10k distinct
        df = spark.range(10000).selectExpr(
            "CAST(id % 4 AS INT) AS b", "CAST(id AS BIGINT) AS v")
        st = ch_sql(
            spark,
            "SELECT b, uniqState(v) AS us FROM t GROUP BY b",
            views={"t": df},
        )
        assert dict(st.dtypes)["us"] == "binary"
        [r] = ch_sql(
            spark, "SELECT uniqMerge(us) AS u FROM st",
            views={"st": st},
        ).collect()
        assert abs(r["u"] - 10000) / 10000 < 0.03
        # mergeState re-merges into a sketch, still queryable
        [r2] = ch_sql(
            spark,
            "SELECT uniqMerge(ms) AS u FROM "
            "(SELECT uniqMergeState(us) AS ms FROM st)",
            views={"st": st},
        ).collect()
        assert r2["u"] == r["u"]

    def test_avg_state_shape_and_count_star(self, spark):
        df = self._batches(spark)
        [r] = ch_sql(
            spark,
            "SELECT avgState(v) AS a, countState() AS c FROM t",
            views={"t": df},
        ).collect()
        assert r["a"]["s"] == 84 and r["a"]["c"] == 6  # NULL skipped
        assert r["c"] == 7                             # count(*) state
        # anyState/anyLastState: deterministic min/max stand-ins
        [r2] = ch_sql(
            spark,
            "SELECT anyState(v) AS af, anyLastState(v) AS al FROM t",
            views={"t": df},
        ).collect()
        assert r2["af"] == 2 and r2["al"] == 40

    def test_simple_state_and_rejects(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT sumSimpleState(v) AS s, minSimpleState(v) AS m "
            "FROM t", views={"t": self._batches(spark)},
        ).collect()
        assert r["s"] == 84 and r["m"] == 2
        with pytest.raises(ValueError, match="engine-internal"):
            translate("SELECT avgSimpleState(x) FROM t")
        with pytest.raises(ValueError, match="exactly one argument"):
            translate("SELECT uniqState(a, b) FROM t")
        with pytest.raises(ValueError, match="state column"):
            translate("SELECT countMerge() FROM t")


def test_if_state_composition(spark):
    """-If∘-State (round 12): conditional partial states — the
    conditional-rollup MV shape. State-then-merge must equal the
    direct conditional aggregate."""
    df = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 20), (2, 1, 5), (2, 2, 40)],
        "b int, k int, v int",
    )
    st = ch_sql(
        spark,
        "SELECT b, sumIfState(v, k = 1) AS s, "
        "countIfState(k = 1) AS c, uniqExactIfState(v, v > 5) AS u "
        "FROM t GROUP BY b",
        views={"t": df},
    )
    [r] = ch_sql(
        spark,
        "SELECT sumMerge(s) AS s, countMerge(c) AS c, "
        "uniqExactMerge(u) AS u FROM st",
        views={"st": st},
    ).collect()
    assert r["s"] == 15 and r["c"] == 2
    assert r["u"] == 3  # 10, 20, 40
    with pytest.raises(ValueError, match="plain-state bases"):
        translate("SELECT quantileIfState(x, c) FROM t")


class TestRound13AdviceFixes:
    """Round-13 ADVICE fixes: toStartOfInterval timezone-literal
    reject, hilbert two's-complement fold, negative-step range,
    hasSubsequenceCaseInsensitive length over lower(needle)."""

    def test_tostartofinterval_tz_literal_rejects(self):
        # CH's classic 3rd-arg TIMEZONE spelling must reject loudly,
        # not be mis-read as the 24.9+ ORIGIN form
        with pytest.raises(ValueError, match="timezone variant"):
            translate(
                "SELECT toStartOfInterval(ts, INTERVAL 5 MINUTE, "
                "'Europe/Moscow') FROM t"
            )
        with pytest.raises(ValueError, match="timezone variant"):
            translate(
                'SELECT toStartOfInterval(ts, INTERVAL 1 HOUR, '
                '"UTC") FROM t'
            )
        # the origin form still translates
        out = translate(
            "SELECT toStartOfInterval(ts, INTERVAL 5 MINUTE, "
            "toDateTime('2024-01-01 00:02:30')) FROM t"
        )
        assert "unix_timestamp" in out

    def test_hilbert_encode_uint64_range(self, spark):
        # hilbertEncode(3e9, 3e9) > 2^63 — must fold into signed
        # 64-bit two's complement instead of crashing the worker,
        # and decode must roundtrip the folded value
        [r] = ch_sql(
            spark,
            "SELECT hilbertEncode(3000000000, 3000000000) AS h FROM t",
            views={"t": spark.sql("SELECT 1 AS x")},
        ).collect()
        assert r["h"] is not None and r["h"] < 0  # folded
        [r2] = ch_sql(
            spark,
            f"SELECT hilbertDecode(2, CAST({r['h']} AS BIGINT)) "
            "AS xy FROM t",
            views={"t": spark.sql("SELECT 1 AS x")},
        ).collect()
        assert list(r2["xy"]) == [3000000000, 3000000000]

    def test_range_negative_step(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT range(10, 0, -2) AS d, range(0, 10, 2) AS a, "
            "range(0, 10, -2) AS de, range(10, 0, 2) AS ae FROM t",
            views={"t": spark.sql("SELECT 1 AS x")},
        ).collect()
        assert list(r["d"]) == [10, 8, 6, 4, 2]
        assert list(r["a"]) == [0, 2, 4, 6, 8]
        assert list(r["de"]) == [] and list(r["ae"]) == []
        with pytest.raises(ValueError, match="literal integer step"):
            translate("SELECT range(0, 10, x) FROM t")
        with pytest.raises(ValueError, match="literal integer step"):
            translate("SELECT range(0, 10, 0) FROM t")

    def test_has_subsequence_ci_length_folds(self, spark):
        # 'İ' lower-folds to 'i̇' (2 codepoints): the pointer target
        # must be length(lower(needle)), not length(needle)
        df = spark.createDataFrame(
            [("xi̇y", "İ"), ("abc", "AC"), ("abc", "CA")],
            "h string, n string",
        )
        rs = ch_sql(
            spark,
            "SELECT hasSubsequenceCaseInsensitive(h, n) AS m "
            "FROM t",
            views={"t": df},
        ).collect()
        assert [x["m"] for x in rs] == [True, True, False]


class TestRound13FuzzFindings:
    """Defects found by tools/fuzz_chsql.py (grammar-based
    differential fuzzing, round 13) — each pinned with the seed that
    exposed it."""

    def test_intdiv_arg_precedence(self, spark):
        # seed 56: ({0} DIV {1}) spliced a '+'-containing divisor as
        # (a DIV b % 89 + 1) — DIV binds tightest, so the divisor
        # became (b % 89), possibly 0 → ANSI DIVIDE_BY_ZERO
        [r] = ch_sql(
            spark,
            "SELECT intDiv(100, (x % 89) + 1) AS d, "
            "modulo(10, (x % 3) + 2) AS m, "
            "bitAnd(12, x + 2) AS ba FROM t",
            views={"t": spark.sql("SELECT 0 AS x")},
        ).collect()
        assert r["d"] == 100 and r["m"] == 0 and r["ba"] == 0
        assert translate("intDiv(a, b + 1)") == "((a) DIV (b + 1))"
        assert translate("modulo(a, b + 1)") == "((a) % (b + 1))"

    def test_arith_function_forms_precedence(self, spark):
        # multiply(a, b + c) must be a*(b+c), not (a*b)+c
        [r] = ch_sql(
            spark,
            "SELECT multiply(2, 3 + 4) AS m, minus(10, 3 + 4) AS s, "
            "divide(12, 2 + 4) AS d, negate(2 + 3) AS n FROM t",
            views={"t": spark.sql("SELECT 1 AS x")},
        ).collect()
        assert r["m"] == 14 and r["s"] == 3
        assert r["d"] == 2.0 and r["n"] == -5

    def test_sign_returns_integer_type(self, spark):
        # fuzz seed 16: Spark's sign() yields DOUBLE and poisons int
        # compositions; CH sign is Int8
        out = ch_sql(
            spark,
            "SELECT sign(x) AS s, sum(sign(x) + 1) AS t FROM t "
            "GROUP BY x ORDER BY x",
            views={"t": spark.createDataFrame([(-5,), (0,), (7,)], "x int")},
        )
        dt = dict(out.dtypes)
        assert dt["s"] == "tinyint" and dt["t"] == "bigint"
        assert [(r["s"], r["t"]) for r in out.collect()] == [
            (-1, 0), (0, 1), (1, 2)
        ]

    def test_float_literals_are_double_not_decimal(self, spark):
        # fuzz seed 5: Spark parses 10.0 as DECIMAL(3,1) — decimal
        # division (3.333333) where CH uses Float64 arithmetic
        out = ch_sql(
            spark,
            "SELECT 10.0 / 3 AS d, greatest(10.0, 2.5) * (3.25 + 0.5)"
            " AS g, 1e2 AS e, 1.5e-3 AS m FROM t",
            views={"t": spark.sql("SELECT 1 AS x")},
        )
        dt = dict(out.dtypes)
        assert dt["d"] == "double" and dt["g"] == "double"
        assert dt["e"] == "double" and dt["m"] == "double"
        [r] = out.collect()
        assert abs(r["d"] - 3.3333333333333335) < 1e-15
        assert r["g"] == 37.5 and r["e"] == 100.0 and r["m"] == 0.0015
        # ints stay ints; hex stays hex; idempotent on D-suffixed
        assert translate("SELECT 42 + x'2A' FROM t") == (
            "SELECT 42 + x'2A' FROM t"
        )
        assert translate("10.5D") == "10.5D"


class TestRound13FuzzWave2Findings:
    """Defects found by the round-13 fuzzer's fresh-seed wave (seeds
    2000+) and the clause-composition probes."""

    def test_corr_constant_side_is_nan_beside_distinct_agg(self, spark):
        # seed 2311: a DISTINCT aggregate in the same select list
        # switches Spark to the Expand-based plan, whose merge order
        # turns a constant side's exactly-zero variance into ~1e-16
        # noise — try_divide then emitted a garbage correlation
        # (0.0216) where CH returns nan. The min=max guard detects the
        # degenerate side exactly.
        df = spark.createDataFrame(
            [(1, 10.5, 3.0), (1, 11.5, 3.0), (1, 12.0, 3.0),
             (2, 1.0, 1.0), (2, 2.0, 2.0), (2, 3.0, 3.0)],
            "g int, x double, y double",
        )
        rows = ch_sql(
            spark,
            "SELECT g, uniqExact(x) AS u, corr(x, y) AS c FROM t "
            "GROUP BY g ORDER BY g",
            views={"t": df},
        ).collect()
        import math
        assert math.isnan(rows[0]["c"])  # y constant in group 1
        assert abs(rows[1]["c"] - 1.0) < 1e-9
        # corrStable rides the same rebuild (bare Spark corr throws
        # under ANSI on a constant side)
        [r] = ch_sql(
            spark,
            "SELECT corrStable(x, y) AS c FROM t WHERE g = 1",
            views={"t": df},
        ).collect()
        assert math.isnan(r["c"])

    def test_limit_by_resolves_source_scope(self, spark):
        # clause-composition probe: CH resolves LIMIT BY and its
        # ORDER BY against the SOURCE scope, not just the projection —
        # `SELECT status AS g … LIMIT 2 BY status` is legal CH.
        df = spark.createDataFrame(
            [("a", 1, 9.0), ("a", 2, 8.0), ("a", 3, 7.0),
             ("b", 4, 6.0), ("b", 5, 5.0)],
            "s string, k int, p double",
        )
        # BY a source column the projection renamed away
        rows = ch_sql(
            spark,
            "SELECT s AS g, k AS kk FROM t ORDER BY k LIMIT 2 BY s",
            views={"t": df},
        ).collect()
        assert sorted((r["g"], r["kk"]) for r in rows) == [
            ("a", 1), ("a", 2), ("b", 4), ("b", 5)
        ]
        # BY an expression spelled like a select item -> its alias
        rows = ch_sql(
            spark,
            "SELECT k % 2 AS m, k FROM t ORDER BY k LIMIT 1 BY k % 2",
            views={"t": df},
        ).collect()
        assert sorted((r["m"], r["k"]) for r in rows) == [(0, 2), (1, 1)]
        # BY a column absent from the projection entirely (injection),
        # ordering DESC by another non-projected column
        rows = ch_sql(
            spark,
            "SELECT k FROM t ORDER BY p DESC LIMIT 1 BY s",
            views={"t": df},
        ).collect()
        assert sorted(r["k"] for r in rows) == [1, 4]
        # offset form keeps working with source-scope BY
        rows = ch_sql(
            spark,
            "SELECT s AS g, k AS kk FROM t ORDER BY k LIMIT 1, 1 BY s",
            views={"t": df},
        ).collect()
        assert sorted((r["g"], r["kk"]) for r in rows) == [
            ("a", 2), ("b", 5)
        ]


class TestRound13ArgMaxNullSkip:
    """fuzz r13: CH argMax/argMin ignore NULL values (both the arg
    and the ordering side); Spark max_by returns the NULL arg from
    the max-key row. Pinned against the CH doc example shape."""

    def test_argmax_skips_null_args(self, spark):
        df = spark.createDataFrame(
            [(None, 10), ("x", 5), ("y", None)], "a string, b int"
        )
        [r] = ch_sql(
            spark,
            "SELECT argMax(a, b) AS mx, argMin(a, b) AS mn FROM t",
            views={"t": df},
        ).collect()
        assert r["mx"] == "x" and r["mn"] == "x"

    def test_argmaxif_composes_with_null_skip(self, spark):
        df = spark.createDataFrame(
            [(None, 10, 1), ("x", 5, 1), ("z", 99, 0)],
            "a string, b int, c int",
        )
        [r] = ch_sql(
            spark,
            "SELECT argMaxIf(a, b, c = 1) AS m FROM t",
            views={"t": df},
        ).collect()
        assert r["m"] == "x"


class TestRound13FuzzWave3Findings:
    """Defects found by the fuzzer's v3 grammar (seeds >= 20000 —
    bracket/array/bitmap compositions, LEFT JOIN, CTE, scalar
    subqueries)."""

    def test_length_empty_over_array_producers(self, spark):
        # seed 20021: CH length/empty/notEmpty are polymorphic
        # (string length AND array/map size); the translator emitted
        # Spark's string-only length over splitByChar's array —
        # analysis error. Syntactic dispatch: known array/map
        # producing spellings → size().
        df = spark.createDataFrame([("a-b-c",), ("x",)], "s string")
        rows = ch_sql(
            spark,
            "SELECT length(splitByChar('-', s)) AS n, "
            "empty(splitByChar('-', s)) AS e, "
            "notEmpty(arrayFilter(__t -> __t <> 'x', "
            "splitByChar('-', s))) AS ne, "
            "length(s) AS sl FROM t ORDER BY s",
            views={"t": df},
        ).collect()
        assert [r["n"] for r in rows] == [3, 1]
        assert [r["e"] for r in rows] == [False, False]
        assert [r["ne"] for r in rows] == [True, False]
        assert [r["sl"] for r in rows] == [5, 1]  # string form kept
        # seed 20157: arrayStringConcat returns a STRING — the
        # dispatch must match exact array-returning spellings, not
        # the bare "array_" prefix
        [r] = ch_sql(
            spark,
            "SELECT length(arrayStringConcat("
            "splitByChar('-', s), '_')) AS n FROM t WHERE s = 'a-b-c'",
            views={"t": df},
        ).collect()
        assert r["n"] == 5  # 'a_b_c'

    def test_bracket_subscript_bigint_index(self, spark):
        # seed 20023: Spark element_at needs an INT array index; a
        # BIGINT index expression (every table key here is Int64)
        # failed analysis. Non-literal indexes now cast to INT;
        # string-literal map keys and bare int literals pass through.
        df = spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
        rows = ch_sql(
            spark,
            "SELECT ([10, 20, 30])[k] AS v, ([7, 8])[1] AS lit, "
            "(map('a', 'x'))['a'] AS mk FROM t ORDER BY k",
            views={"t": df},
        ).collect()
        assert [r["v"] for r in rows] == [10, 20, 30]
        assert rows[0]["lit"] == 7 and rows[0]["mk"] == "x"
        # negative-from-the-end still works through the cast
        [r] = ch_sql(
            spark,
            "SELECT ([5, 6, 7])[k - 4] AS v FROM t WHERE k = 3",
            views={"t": df},
        ).collect()
        assert r["v"] == 7

    def test_array_sum_type_preserving(self, spark):
        # seed 20186: arraySum's DOUBLE-init fold returned 6.0 for
        # [1,2,3] where CH gives Int64 6 — intDiv(x, arraySum(...))
        # failed analysis (DIV is integral-only in Spark). The init
        # is now an element-typed zero widened by + 0L.
        df = spark.createDataFrame([(1,)], "k int")
        [r] = ch_sql(
            spark,
            "SELECT arraySum([1, 2, 3]) AS a, "
            "arraySum([1.5, 2.5]) AS b, "
            "intDiv(arraySum([10, 20]), 7) AS d, "
            "arraySum(arrayFilter(__x -> __x > 99, [1, 2])) AS e, "
            "arrayReduce('sum', [3, 4]) AS f FROM t",
            views={"t": df},
        ).collect()
        assert (r["a"], r["b"], r["d"], r["e"], r["f"]) == (
            6, 4.0, 4, 0, 7)
        dt = dict(ch_sql(
            spark,
            "SELECT arraySum([1, 2, 3]) AS a, arraySum([1.5]) AS b "
            "FROM t",
            views={"t": df},
        ).dtypes)
        assert dt == {"a": "bigint", "b": "double"}


class TestMultiFuzzyMatch:
    """multiFuzzyMatch* literal-pattern tier (r13): Sellers
    approximate substring matching — a pattern matches when some
    substring of the haystack is within the edit-distance budget.
    CH's hyperscan fuzzy REGEX semantics are wider; regex
    metacharacters reject toward multiMatchAny."""

    def test_kernel_vectors(self):
        from clickhouse_modules_spark.functions.strkernels import (
            fuzzy_match_indices,
            fuzzy_substring_distance,
        )
        assert fuzzy_substring_distance("hello world", "wrld") == 1
        assert fuzzy_substring_distance("hello world", "hello") == 0
        assert fuzzy_substring_distance("abc", "xyz") == 3
        assert fuzzy_substring_distance("", "ab") == 2
        assert fuzzy_substring_distance("abc", "") == 0
        assert fuzzy_substring_distance("abcdef", "bXd") == 1
        # early-abandon cap keeps the (non-)match decision intact
        assert fuzzy_substring_distance("abcdef", "xyzq", cap=1) > 1
        assert fuzzy_match_indices(
            "hello world", ["wrld", "xyz", "world"], 1) == [1, 3]

    def test_spark_ops_and_null_propagation(self, spark):
        df = spark.createDataFrame(
            [("hello world",), ("nothing here",), (None,)], "s string"
        )
        rows = ch_sql(
            spark,
            "SELECT s, multiFuzzyMatchAny(s, 1, ['wrld', 'xyz']) AS a,"
            " multiFuzzyMatchAnyIndex(s, 1, ['xyz', 'world']) AS ai,"
            " multiFuzzyMatchAllIndices(s, 2,"
            " ['wrld', 'nothing', 'zq']) AS alli,"
            " multiFuzzyMatchAnyUTF8(s, 1, ['wörld']) AS u8 FROM t",
            views={"t": df},
        ).collect()
        by_s = {r["s"]: r for r in rows}
        r0 = by_s["hello world"]
        assert (r0["a"], r0["ai"], r0["alli"], r0["u8"]) == (
            True, 2, [1, 3], True)
        r1 = by_s["nothing here"]
        assert (r1["a"], r1["ai"], r1["alli"]) == (False, 0, [2, 3])
        rn = by_s[None]
        assert (rn["a"], rn["ai"], rn["alli"]) == (None, None, None)

    def test_rejects(self):
        import pytest as _pt
        from clickhouse_modules_spark.functions.ch_sql import translate
        with _pt.raises(ValueError, match="metachar"):
            translate("SELECT multiFuzzyMatchAny(s, 1, ['a.*b'])")
        with _pt.raises(ValueError, match="literal pattern array"):
            translate("SELECT multiFuzzyMatchAny(s, 1, pats)")
        with _pt.raises(ValueError, match="literal-pattern"):
            translate(
                "SELECT multiFuzzyMatchAnyHighestPriority(s, 1, ['a'])"
            )


class TestRound14AdviceFixes:
    """Round-14 ADVICE fixes: subscript cast heuristics (string-keyed
    and bigint-keyed map lookups), arraySum decimal saturation +
    single-bind argument."""

    def test_map_string_key_subscript(self, spark):
        # m[string_col] / m[lower(k)] / map(...)['k'-expr] must NOT be
        # wrapped in CAST(... AS INT) (r13 regression:
        # MAP_FUNCTION_DIFF_TYPES)
        df = spark.createDataFrame(
            [({"a": 1, "b": 2}, "a"), ({"a": 3, "b": 4}, "B")],
            "m map<string,int>, k string",
        )
        rows = ch_sql(
            spark,
            "SELECT m[k] AS bare, m[lower(k)] AS fn, "
            "m[concat(k, '')] AS cc FROM t ORDER BY fn",
            views={"t": df},
        ).collect()
        assert [r["bare"] for r in rows] == [1, None]
        assert [r["fn"] for r in rows] == [1, 4]
        assert [r["cc"] for r in rows] == [1, None]

    def test_map_bigint_key_subscript(self, spark):
        # bigint map keys > 2^31: a bare-column key must not be cast
        # down to INT (r13 regression: CAST_OVERFLOW / NULL)
        df = spark.createDataFrame(
            [({5000000000: 7}, 5000000000)],
            "m map<bigint,int>, k bigint",
        )
        [r] = ch_sql(
            spark, "SELECT m[k] AS v FROM t", views={"t": df}
        ).collect()
        assert r["v"] == 7
        # map-producer base with an arithmetic key: uncast because the
        # base is syntactically a map
        [r2] = ch_sql(
            spark,
            "SELECT map(5000000000, 9)[k + 0] AS v FROM t",
            views={"t": df},
        ).collect()
        assert r2["v"] == 9

    def test_array_index_expression_still_casts(self, spark):
        # the r13 fuzz fix must survive: a BIGINT index EXPRESSION
        # over an array still needs the INT cast to pass analysis
        df = spark.createDataFrame(
            [([10, 20, 30], 1)], "arr array<int>, i bigint"
        )
        [r] = ch_sql(
            spark, "SELECT arr[i + 1] AS v FROM t", views={"t": df}
        ).collect()
        assert r["v"] == 20

    def test_arraysum_decimal(self, spark):
        # decimal arrays summed without DATATYPE_MISMATCH; scale kept
        df = spark.createDataFrame(
            [([1, 2],)], "x array<int>"
        ).selectExpr(
            "transform(x, v -> CAST(v * 1.5 AS DECIMAL(23,2))) AS arr"
        )
        [r] = ch_sql(
            spark,
            "SELECT arraySum(arr) AS s, "
            "arrayReduce('sum', arr) AS s2 FROM t",
            views={"t": df},
        ).collect()
        import decimal
        assert r["s"] == decimal.Decimal("4.50")
        assert r["s2"] == decimal.Decimal("4.50")

    def test_arraysum_int_contract_kept(self, spark):
        # integer arrays still sum to BIGINT (not DOUBLE), empty → 0,
        # NULL elements skipped, NULL array → NULL
        df = spark.createDataFrame(
            [([1, 2, 3], [None, 4], [], None)],
            "a array<int>, b array<int>, c array<int>, d array<int>",
        )
        out = ch_sql(
            spark,
            "SELECT arraySum(a) AS sa, arraySum(b) AS sb, "
            "arraySum(c) AS sc, arraySum(d) AS sd FROM t",
            views={"t": df},
        )
        [r] = out.collect()
        assert (r["sa"], r["sb"], r["sc"], r["sd"]) == (6, 4, 0, None)
        kinds = dict(out.dtypes)
        assert kinds["sa"] == "bigint"

    def test_arraysum_single_bind(self):
        # the argument must be interpolated exactly once (r13 ADVICE:
        # non-deterministic/expensive array exprs were evaluated 3×)
        out = translate("SELECT arraySum(arrayMap(x -> x, big)) FROM t")
        assert out.count("transform(big, x -> x)") == 1


class TestRound14FuzzV5Findings:
    """v5 fuzz-found defects (seeds 40040/40054): DISTINCT ON and
    LIMIT … WITH TIES must resolve ORDER BY keys against the SOURCE
    scope even when the projection renamed them away (CH scoping)."""

    def test_distinct_on_orderkey_not_projected_verbatim(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "id int, g string"
        )
        rows = ch_sql(
            spark,
            "SELECT DISTINCT ON (g) g AS grp, id AS k FROM t "
            "ORDER BY id",
            views={"t": df},
        ).collect()
        assert sorted((r["grp"], r["k"]) for r in rows) == [
            ("a", 1), ("b", 3)
        ]
        # DESC picks the other end
        rows2 = ch_sql(
            spark,
            "SELECT DISTINCT ON (g) g AS grp, id AS k FROM t "
            "ORDER BY id DESC",
            views={"t": df},
        ).collect()
        assert sorted((r["grp"], r["k"]) for r in rows2) == [
            ("a", 2), ("b", 3)
        ]

    def test_with_ties_order_key_aliased_away(self, spark):
        df = spark.createDataFrame(
            [(1,), (2,), (3,), (4,), (5,)], "id int"
        )
        rows = ch_sql(
            spark,
            "SELECT (id % 3) AS g, id AS k FROM t "
            "ORDER BY (id % 3) LIMIT 2 WITH TIES",
            views={"t": df},
        ).collect()
        # order key (id % 3): values 1,2,0,1,2 → rank over 0,1,1,2,2:
        # n=2 keeps rank<=2 → the 0 (id=3) and both 1s (id=1, id=4)
        assert sorted((r["g"], r["k"]) for r in rows) == [
            (0, 3), (1, 1), (1, 4)
        ]


class TestJoinGet:
    """r14: joinGet/joinGetOrNull automatic rewrite over tables
    built by join_table (Join(ANY, LEFT, …) analog;
    previously a loud reject). CH contract: type-default on miss for
    joinGet, NULL for joinGetOrNull; ANY = one row per key (the
    deterministic total-order minimum, same as ANY JOIN)."""

    def test_joinget_hit_miss_defaults(self, spark):
        from clickhouse_modules_spark.functions.ch_sql import (
            QueryContext,
            join_table,
        )

        jt = spark.createDataFrame(
            [(1, 10, "x"), (1, 5, "y"), (2, 20, "z")],
            "jk int, val int, s string",
        )
        ctx = QueryContext(join_tables={"jt1": join_table(jt, ["jk"])})
        base = spark.createDataFrame([(1,), (2,), (3,)], "k int")
        rows = ch_sql(
            spark,
            "SELECT k, joinGet('jt1', 'val', k) AS v, "
            "joinGet('jt1', 's', k) AS s, "
            "joinGetOrNull('jt1', 'val', k) AS vn FROM t ORDER BY k",
            ctx,
            views={"t": base},
        ).collect()
        # dup key 1: ANY keeps the total-order minimum row (5, 'y')
        assert [(r["v"], r["s"], r["vn"]) for r in rows] == [
            (5, "y", 5), (20, "z", 20), (0, "", None)
        ]

    def test_joinget_two_keys_and_errors(self, spark):
        from clickhouse_modules_spark.functions.ch_sql import (
            QueryContext,
            join_table,
        )

        jt = spark.createDataFrame(
            [(1, "a", 100.0), (1, "b", 200.0)],
            "k1 int, k2 string, price double",
        )
        ctx = QueryContext(
            join_tables={"jt2": join_table(jt, ["k1", "k2"])}
        )
        base = spark.createDataFrame(
            [(1, "a"), (1, "c")], "x int, y string"
        )
        rows = ch_sql(
            spark,
            "SELECT x, y, joinGet('jt2', 'price', x, y) AS p "
            "FROM t ORDER BY y",
            ctx,
            views={"t": base},
        ).collect()
        assert [r["p"] for r in rows] == [100.0, 0.0]
        with pytest.raises(ValueError, match="keyed by"):
            translate("SELECT joinGet('jt2', 'price', x) FROM t", ctx)
        with pytest.raises(ValueError, match="no column"):
            translate("SELECT joinGet('jt2', 'nope', x, y) FROM t", ctx)
        with pytest.raises(ValueError, match="not registered"):
            translate("SELECT joinGet('zzz', 'a', x) FROM t")


class TestTopKTwoPhase:
    """r14 sf30 sweep finding: the in-expression topK template
    (collect_list of every raw group value + O(n²) append-fold)
    OOM-killed the JVM on a 640k-value group. Two fixes, both pinned:
    (1) the template's RLE is now a linear neighbor-comparison over
    the sorted array; (2) plain SELECT … GROUP BY statements lower
    topK/topKWeighted into a two-phase count-then-collect plan joined
    back on the group keys (bounded memory — only distinct values are
    ever collected)."""

    def test_rewrite_triggers_and_values(self, spark):
        q = ("SELECT g AS k, arrayStringConcat(topK(2)(v), '|') AS t, "
             "count() AS n FROM t GROUP BY g ORDER BY k")
        out = translate(q)
        assert "__tk_a0" in out and "__tk_c0" in out  # two-phase form
        df = spark.createDataFrame(
            [("a", 1), ("b", 1), ("a", 1), ("b", 1), ("c", 1),
             ("b", 1), ("x", 2)],
            "v string, g int",
        )
        rows = ch_sql(spark, q, views={"t": df}).collect()
        assert [(r["k"], r["t"], r["n"]) for r in rows] == [
            (1, "b|a", 6), (2, "x", 1)
        ]

    def test_alias_group_key_and_weighted(self, spark):
        # GROUP BY over the select ALIAS (CH scoping) + topKWeighted
        df = spark.createDataFrame(
            [(101, "a", 5), (102, "b", 9), (103, "a", 1),
             (205, "c", 4)],
            "id int, v string, w int",
        )
        rows = ch_sql(
            spark,
            "SELECT intDiv(id, 100) AS g, "
            "topKWeighted(1)(v, w) AS tw, sum(w) AS sw "
            "FROM t GROUP BY g ORDER BY g",
            views={"t": df},
        ).collect()
        # group 1 weights: a=6, b=9 → [b]; group 2 → [c]
        assert [(r["g"], list(r["tw"]), r["sw"]) for r in rows] == [
            (1, ["b"], 15), (2, ["c"], 4)
        ]

    def test_fallback_paths_still_template(self):
        # rollup → template (expression form), not the two-phase CTE
        out = translate(
            "SELECT g AS k, topK(2)(v) AS t FROM t "
            "GROUP BY g WITH ROLLUP"
        )
        assert "__tk_a0" not in out and "collect_list" in out
        # wrapper referencing another source column → fallback
        out2 = translate(
            "SELECT g AS k, arrayConcat(topK(2)(v), [s]) AS t "
            "FROM t GROUP BY g"
        )
        assert "__tk_a0" not in out2

    def test_linear_template_large_group(self, spark):
        # the expression-form template (scalar aggregate, no GROUP BY
        # rewrite) must stay linear: 200k values in one group finished
        # never with the old O(n²) fold
        df = spark.range(200000).selectExpr("CAST(id % 7 AS STRING) AS v")
        [r] = ch_sql(
            spark,
            "SELECT topK(3)(v) AS t, round(entropy(v), 3) AS e FROM t",
            views={"t": df},
        ).collect()
        # counts: values 0..5 appear 28572, 6 appears 28570 →
        # top3 by (count desc, value asc) = ['0','1','2']
        assert list(r["t"]) == ["0", "1", "2"]
        assert abs(r["e"] - 2.807) < 0.01


# ---------------------------------------------------------------- hop
# r15: CH hopping windows (previously a loud reject).
#
# - GROUP BY hop(t, INTERVAL h, INTERVAL w) → Spark's native sliding
#   window(t, 'w seconds', 'h seconds'): the TimeWindowing rule explodes
#   each row into its ~w/h window memberships before the aggregate.
# - Ungrouped hop()/hopStart()/hopEnd(): CH's documented behavior is the
#   FIRST window containing the row — start = (floor((ts-w)/h)+1)*h.


def _df(spark, secs):
    rows = [(dt.datetime(2026, 1, 1, 0, 0, 0)
             + dt.timedelta(seconds=s),) for s in secs]
    return spark.createDataFrame(rows, "ts timestamp")


class TestHopGrouped:
    def test_counts_match_membership(self, spark):
        df = _df(spark, [0, 1, 4, 7, 12])
        rows = ch_sql(
            spark,
            "SELECT hopStart(ts, INTERVAL 5 SECOND, INTERVAL 10 "
            "SECOND) AS ws, count() AS n FROM t "
            "GROUP BY hop(ts, INTERVAL 5 SECOND, INTERVAL 10 SECOND)",
            views={"t": df},
        ).orderBy("ws").collect()
        # every row belongs to exactly 2 windows (w/h = 2): total
        # membership = 2 * 5 rows
        assert sum(r["n"] for r in rows) == 10
        base = dt.datetime(2026, 1, 1)
        got = {(r["ws"] - base).total_seconds(): r["n"] for r in rows}
        # hand-derived memberships for ts in {0,1,4,7,12}
        assert got == {-5.0: 3, 0.0: 4, 5.0: 2, 10.0: 1}

    def test_hop_end_and_struct_select(self, spark):
        df = _df(spark, [0, 7])
        rows = ch_sql(
            spark,
            "SELECT hop(ts, INTERVAL 5 SECOND, INTERVAL 10 SECOND) "
            "AS hw, hopEnd(ts, INTERVAL 5 SECOND, INTERVAL 10 "
            "SECOND) AS we, count() AS n FROM t "
            "GROUP BY hop(ts, INTERVAL 5 SECOND, INTERVAL 10 SECOND)",
            views={"t": df},
        ).collect()
        for r in rows:
            assert r["hw"]["end"] == r["we"]
            assert (r["hw"]["end"] - r["hw"]["start"]).total_seconds() \
                == 10

    def test_matches_explicit_explode(self, spark):
        # independent spelling: explode candidate window starts and
        # filter membership — must agree with the native generator
        df = _df(spark, list(range(0, 60, 7)) + [3, 11, 29])
        df.createOrReplaceTempView("hop_src")
        native = ch_sql(
            spark,
            "SELECT hopStart(ts, INTERVAL 10 SECOND, INTERVAL 30 "
            "SECOND) AS ws, count() AS n FROM hop_src "
            "GROUP BY hop(ts, INTERVAL 10 SECOND, INTERVAL 30 SECOND)",
            views={"hop_src": df},
        )
        manual = spark.sql(
            "SELECT to_timestamp(s) AS ws, count(*) AS n FROM ("
            "SELECT explode(sequence("
            "CAST((floor((unix_timestamp(ts) - 30) / 10) + 1) * 10 "
            "AS BIGINT), "
            "CAST(floor(unix_timestamp(ts) / 10) * 10 AS BIGINT), "
            "10)) AS s FROM hop_src) GROUP BY s"
        )
        a = {(r["ws"], r["n"]) for r in native.collect()}
        b = {(r["ws"], r["n"]) for r in manual.collect()}
        assert a == b


class TestHopUngrouped:
    def test_first_window_bounds(self, spark):
        df = _df(spark, [0, 7, 12])
        rows = ch_sql(
            spark,
            "SELECT ts, hopStart(ts, INTERVAL 5 SECOND, INTERVAL 10 "
            "SECOND) AS a, hopEnd(ts, INTERVAL 5 SECOND, INTERVAL 10 "
            "SECOND) AS b FROM t",
            views={"t": df},
        ).orderBy("ts").collect()
        base = dt.datetime(2026, 1, 1)
        starts = [(r["a"] - base).total_seconds() for r in rows]
        ends = [(r["b"] - base).total_seconds() for r in rows]
        # first window containing t: largest coverage, earliest start
        assert starts == [-5.0, 0.0, 5.0]
        assert ends == [5.0, 10.0, 15.0]

    def test_mismatched_group_spec_rejected(self):
        # select-side hopStart must use the SAME intervals as the
        # grouped hop — silently mapping it to the grouped window
        # would answer a different question (r15 self-review)
        with pytest.raises(ValueError, match="same"):
            translate(
                "SELECT hopStart(ts, INTERVAL 1 SECOND, INTERVAL 4 "
                "SECOND) AS ws FROM t GROUP BY hop(ts, INTERVAL 2 "
                "SECOND, INTERVAL 4 SECOND)"
            )

    def test_hop_inside_string_literal_untouched(self):
        out = translate("SELECT 'hop(a, b, c)' AS s FROM t")
        assert "'hop(a, b, c)'" in out

    def test_week_unit_rejected(self):
        with pytest.raises(ValueError, match="SECOND/MINUTE/HOUR/DAY"):
            translate(
                "SELECT hopStart(ts, INTERVAL 1 WEEK, INTERVAL 2 "
                "WEEK) FROM t"
            )

    def test_subquery_group_by_hop(self, spark):
        df = _df(spark, [0, 1, 4, 7, 12])
        rows = ch_sql(
            spark,
            "SELECT max(n) AS mx FROM (SELECT hopStart(ts, INTERVAL "
            "5 SECOND, INTERVAL 10 SECOND) AS ws, count() AS n FROM "
            "t GROUP BY hop(ts, INTERVAL 5 SECOND, INTERVAL 10 "
            "SECOND))",
            views={"t": df},
        ).collect()
        assert rows[0]["mx"] == 4


class TestHopUnionBranches:
    def test_unparenthesized_union_rewrites_both_branches(self):
        from clickhouse_modules_spark.functions.ch_sql import translate

        sql = (
            "SELECT hopStart(ts, INTERVAL 1 HOUR, INTERVAL 2 HOUR) "
            "AS s, count() FROM a "
            "GROUP BY hop(ts, INTERVAL 1 HOUR, INTERVAL 2 HOUR) "
            "UNION ALL "
            "SELECT hopStart(ts, INTERVAL 1 HOUR, INTERVAL 2 HOUR), "
            "count() FROM b "
            "GROUP BY hop(ts, INTERVAL 1 HOUR, INTERVAL 2 HOUR)"
        )
        out = translate(sql)
        # each branch's GROUP BY must carry its own full window()
        # generator — r15 self-review: the second branch's hop used
        # to collapse to a bare `window` (treated as select-side)
        assert out.count("window(ts, '7200 seconds', '3600 seconds')") == 2


# ------------------------------------------------- round-12 stragglers
# Reject-straggler conversions: byteSwap (typed-cast width dispatch),
# bitSlice (Arrow kernel), groupArrayLast (ordered-key form).


class TestByteSwap:
    def test_ch_doc_value_and_widths(self, spark):
        # byteSwap(3351772109) = 3455829959 is the CH documentation's
        # own example (UInt32); 16- and 8-bit widths pinned alongside
        [r] = ch_sql(
            spark,
            "SELECT byteSwap(toUInt32(x)) AS w32, "
            "byteSwap(toUInt16(y)) AS w16, "
            "byteSwap(toUInt8(z)) AS w8 FROM t",
            views={
                "t": spark.sql(
                    "SELECT 3351772109 AS x, 4660 AS y, 129 AS z"
                )
            },
        ).collect()
        assert r["w32"] == 3455829959
        assert r["w16"] == 13330  # 0x1234 -> 0x3412
        assert r["w8"] == 129     # 1-byte swap is identity

    def test_signed_width_and_roundtrip(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT byteSwap(toUInt32(byteSwap(toUInt32(x)))) AS rt "
            "FROM t",
            views={"t": spark.sql("SELECT 305419896 AS x")},
        ).collect()
        assert r["rt"] == 305419896  # swap is an involution

    def test_bare_and_64bit_reject(self):
        with pytest.raises(ValueError, match="typed cast"):
            translate("SELECT byteSwap(x) FROM t")
        with pytest.raises(ValueError, match="typed cast"):
            # 64-bit stays rejected (swapped UInt64 exceeds BIGINT)
            translate("SELECT byteSwap(toUInt64(x)) FROM t")


class TestBitSlice:
    def test_kernel_hand_vectors(self):
        # 'H' = 01001000, 'e' = 01100101
        assert bit_slice("Hello", 1, 8) == b"H"
        assert bit_slice("Hello", 9, 8) == b"e"
        # bits 2..9 of 'He' = 1001000 0 -> 10010000 = 0x90
        assert bit_slice("Hello", 2, 8) == b"\x90"
        # sub-byte slice zero-pads right: 0100 -> 01000000 = '@'
        assert bit_slice("Hello", 1, 4) == b"@"
        # omitted length runs to the end
        assert bit_slice("Hello", 33, None) == b"o"
        # negative offset counts from the end
        assert bit_slice("Hello", -8, None) == b"o"
        # negative length stops |length| bits before the end
        assert bit_slice("Hi", 1, -8) == b"H"
        # out-of-range -> empty
        assert bit_slice("Hi", 99, 8) == b""

    def test_sql_surface(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT bitSlice(s, 9, 8) AS b2, bitSlice(s, 33) AS tail "
            "FROM t",
            views={"t": spark.sql("SELECT 'Hello' AS s")},
        ).collect()
        assert bytes(r["b2"]) == b"e"
        assert bytes(r["tail"]) == b"o"

    def test_wrong_arity_untouched(self):
        # 1-arg bitSlice is not a CH spelling - passes through to a
        # normal unresolved-function error downstream, no silent map
        assert "bitSlice(s)" in translate("SELECT bitSlice(s) FROM t")


class TestGroupArrayLast:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30), (4, 40), (5, None)],
            "t int, v int",
        )

    def test_last_n_by_key(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT groupArrayLast(2)(v, t) AS l2, "
            "groupArrayLast(10)(v, t) AS l10, "
            "groupArrayLast(2)(v, t, false) AS l2d FROM t",
            views={"t": self._df(spark)},
        ).collect()
        # NULL v skipped; last 2 in t order = [30, 40]
        assert r["l2"] == [30, 40]
        assert r["l10"] == [10, 20, 30, 40]  # n > size: whole group
        assert r["l2d"] == [20, 10]  # descending key order

    def test_rejects(self):
        with pytest.raises(ValueError, match="ordered-key spelling"):
            translate("SELECT groupArrayLast(v) FROM t")
        with pytest.raises(ValueError, match="ordering key"):
            translate("SELECT groupArrayLast(2)(v) FROM t")
        with pytest.raises(ValueError, match="positive"):
            translate("SELECT groupArrayLast(0)(v, t) FROM t")


class TestByteSwapSigned:
    def test_signed_reinterpretation(self, spark):
        # CH reinterprets the swapped pattern in the input TYPE:
        # Int16 -2 = 0xFFFE -> 0xFEFF = -257 (self-review r12 catch:
        # the first cut returned the unsigned 65279)
        [r] = ch_sql(
            spark,
            "SELECT byteSwap(toInt16(-2)) AS s16, "
            "byteSwap(toInt32(-2)) AS s32, "
            "byteSwap(toInt16(258)) AS p16, "
            "byteSwap(toInt8(-5)) AS s8 FROM (SELECT 1)",
        ).collect()
        assert r["s16"] == -257
        assert r["s32"] == -16777217  # 0xFFFFFFFE -> 0xFEFFFFFF
        assert r["p16"] == 513        # 0x0102 -> 0x0201
        assert r["s8"] == -5          # 1-byte swap is identity

    def test_signed_roundtrip(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT byteSwap(toInt32(byteSwap(toInt32(-123456)))) "
            "AS rt FROM (SELECT 1)",
        ).collect()
        assert r["rt"] == -123456


class TestBitRotate:
    def test_rotate_values(self, spark):
        [r] = ch_sql(
            spark,
            # CH doc example: bitRotateLeft(255, 10) on UInt8-width
            # pattern: 0xFF rotated is still 0xFF
            "SELECT bitRotateLeft(toUInt8(255), 10) AS a8, "
            "bitRotateLeft(toUInt32(1), 4) AS l32, "
            "bitRotateRight(toUInt32(1), 4) AS r32, "
            "bitRotateLeft(toUInt16(4660), 8) AS l16, "
            "bitRotateLeft(toUInt32(x), 0) AS z FROM t",
            views={"t": spark.sql("SELECT 3351772109 AS x")},
        ).collect()
        assert r["a8"] == 255
        assert r["l32"] == 16
        assert r["r32"] == 0x10000000  # 1 >>> 4 wraps to bit 28
        assert r["l16"] == 0x3412      # 0x1234 rot8 = byteswap
        assert r["z"] == 3351772109    # rotate by 0 = identity

    def test_signed_and_inverse(self, spark):
        [r] = ch_sql(
            spark,
            "SELECT bitRotateRight(toInt16(bitRotateLeft("
            "toInt16(-12345), 5)), 5) AS rt, "
            "bitRotateLeft(toInt16(-32768), 1) AS s FROM (SELECT 1)",
        ).collect()
        assert r["rt"] == -12345       # rotate is invertible
        assert r["s"] == 1             # 0x8000 rot1 = 0x0001
        with pytest.raises(ValueError, match="typed cast"):
            translate("SELECT bitRotateLeft(x, 3) FROM t")
        with pytest.raises(ValueError, match="typed cast"):
            translate("SELECT bitRotateLeft(toUInt64(x), 3) FROM t")


# ---- r14 ADVICE findings: two-phase topK ignores NULL values (NULL
# must not displace a real value; an all-NULL group returns [], not
# NULL); a subscript casts a non-INT index when the BASE is an
# array-typed view column; moduloOrNull / intDivOrNull /
# positiveModuloOrNull bind the divisor once (guard and operation see
# the same value).


class TestTopKNullSemantics:
    def test_null_does_not_displace_real_values(self, spark):
        # group 'g': values a×3, NULL×5, b×1 — CH topK(2) ignores the
        # NULLs entirely → ['a', 'b']
        rows = [("g", "a")] * 3 + [("g", None)] * 5 + [("g", "b")]
        df = spark.createDataFrame(rows, "k string, v string")
        [r] = ch_sql(
            spark,
            "SELECT k, topK(2)(v) AS t FROM t GROUP BY k",
            views={"t": df},
        ).collect()
        assert r["t"] == ["a", "b"]

    def test_all_null_group_returns_empty_array(self, spark):
        df = spark.createDataFrame(
            [("g", None), ("g", None), ("h", "x")], "k string, v string"
        )
        rows = {
            r["k"]: r["t"]
            for r in ch_sql(
                spark,
                "SELECT k, topK(2)(v) AS t FROM t GROUP BY k",
                views={"t": df},
            ).collect()
        }
        assert rows["g"] == []
        assert rows["h"] == ["x"]

    def test_topk_weighted_template_path_ignores_null(self, spark):
        # ungrouped → template (not two-phase) path; the struct
        # collect does not skip NULL v by itself, so the template
        # needs its own filter (found while building fuzz v6)
        df = spark.createDataFrame(
            [("a", 1), (None, 100), ("b", 2)], "v string, w int"
        )
        [r] = ch_sql(
            spark,
            "SELECT topKWeighted(2)(v, w) AS t FROM t",
            views={"t": df},
        ).collect()
        assert r["t"] == ["b", "a"]

    def test_topk_weighted_ignores_null(self, spark):
        df = spark.createDataFrame(
            [("g", "a", 1), ("g", None, 100), ("g", "b", 2)],
            "k string, v string, w int",
        )
        [r] = ch_sql(
            spark,
            "SELECT k, topKWeighted(2)(v, w) AS t FROM t GROUP BY k",
            views={"t": df},
        ).collect()
        assert r["t"] == ["b", "a"]


class TestSubscriptArrayColumn:
    def test_array_column_bigint_index(self, spark):
        # r14 ADVICE: arr[k] with an array COLUMN and BIGINT index
        # column must cast the index (element_at needs INT)
        df = spark.createDataFrame(
            [([10, 20, 30], 2)], "arr array<int>, k bigint"
        )
        [r] = ch_sql(
            spark, "SELECT arr[k] AS x FROM t", views={"t": df}
        ).collect()
        assert r["x"] == 20

    def test_map_column_key_still_uncast(self, spark):
        # the schema-informed path must NOT regress map lookups with
        # bigint keys > 2^31 (the r13 ADVICE fix this heuristic serves)
        df = spark.createDataFrame(
            [({5000000000: "big"}, 5000000000)],
            "m map<bigint,string>, k bigint",
        )
        [r] = ch_sql(
            spark, "SELECT m[k] AS x FROM t", views={"t": df}
        ).collect()
        assert r["x"] == "big"


class TestNullIndexSubscript:
    def test_null_index_returns_null(self, spark):
        # fuzz v6 seed 51694: Spark 4.1.2's ANSI element_at returns
        # the LAST element for a NULL index (try_element_at is
        # correct) — CH arr[NULL] is NULL, so subscripts and
        # arrayElement must lower to try_element_at
        df = spark.createDataFrame([(11,), (2,)], "x bigint")
        rows = ch_sql(
            spark,
            "SELECT x, ([10, 20, 30])[nullIf(x, 11)] AS a, "
            "arrayElement([10, 20, 30], nullIf(x, 11)) AS b FROM t "
            "ORDER BY x",
            views={"t": df},
        ).collect()
        assert (rows[0]["a"], rows[0]["b"]) == (20, 20)
        assert (rows[1]["a"], rows[1]["b"]) == (None, None)


class TestOrNullDivisorSingleBind:
    def test_divisor_interpolated_once(self):
        for fn in ("moduloOrNull", "intDivOrNull",
                   "positiveModuloOrNull"):
            out = translate(f"SELECT {fn}(a, rand() * 3) FROM t")
            # the divisor expression must appear exactly once in the
            # translated text (bound into the lambda), never re-read
            # by the zero guard
            assert out.count("rand()") == 1, (fn, out)


class TestArrayElementMapDispatch:
    """r15 self-review: CH arrayElement works on MAPS too (m[key] is
    sugar for arrayElement(m, key)), so the explicit-call spelling
    must use the same array-vs-map index classification as the
    subscript rewrite — the unconditional CAST(… AS INT) broke
    arrayElement(map_col, 'key') under ANSI."""

    def test_explicit_call_on_map_string_key(self, spark):
        df = spark.createDataFrame(
            [({"k": "v"}, 2)], "m map<string,string>, i bigint"
        )
        [r] = ch_sql(
            spark,
            "SELECT arrayElement(m, 'k') AS a, "
            "arrayElementOrNull(m, 'absent') AS b, "
            "arrayElement([10, 20, 30], i) AS c FROM t",
            views={"t": df},
        ).collect()
        assert r["a"] == "v"
        assert r["b"] is None
        assert r["c"] == 20  # bigint index on an array still casts

    def test_map_bigint_key_not_cast(self, spark):
        # a bigint map key > 2^31 must NOT be cast to INT
        big = 5_000_000_000
        df = spark.createDataFrame(
            [({big: "big"}, big)], "m map<bigint,string>, k bigint"
        )
        [r] = ch_sql(
            spark,
            "SELECT arrayElement(m, k) AS x FROM t",
            views={"t": df},
        ).collect()
        assert r["x"] == "big"

    def test_or_null_zero_guard_is_array_only(self):
        out = translate("SELECT arrayElementOrNull(map('a', 1), 'a')")
        assert "CASE" not in out  # map key 0/'a' is a real lookup
        out = translate("SELECT arrayElementOrNull([1, 2], x)")
        assert "CASE WHEN" in out  # array index 0 -> NULL


# ---- probe wave 7: the newest CH surface swept against the translator —
# each name either maps with executed-value pins or loud-rejects naming
# a working alternative. Of ~60 release-note candidates, eight were new:
# overlay (24.7), space (23.x), moduloOrNull / intDivOrNull /
# positiveModuloOrNull (25.x zero-divisor family), UUIDToNum (24.5,
# variants 1/2 mapped — the default is byte-identical to the
# UUIDStringToNum mapping; unknown variants reject), dictGetAll
# (RegExpTree → reject), timeSeries*ToGrid (25.6 experimental PromQL
# resampling → reject).


class TestWave7Mapped:
    def test_overlay(self, spark):
        df = spark.createDataFrame([("Spark SQL",)], "s string")
        [r] = ch_sql(
            spark,
            "SELECT overlay(s, 'ANSI ', 7) AS a, "
            "overlay(s, 'CORE', 7, 3) AS b, "
            "overlayUTF8(s, 'x', 1) AS c FROM t",
            views={"t": df},
        ).collect()
        # CH overlay semantics == Spark overlay: replace at 1-based
        # offset; 4-arg form replaces `len` chars
        assert r["a"] == "Spark ANSI "
        assert r["b"] == "Spark CORE"
        assert r["c"] == "xpark SQL"

    def test_space_and_ornull_arithmetic(self, spark):
        df = spark.createDataFrame([(7, 0), (7, 3)], "a int, b int")
        rows = ch_sql(
            spark,
            "SELECT concat('x', space(2), 'y') AS sp, "
            "moduloOrNull(a, b) AS m, intDivOrNull(a, b) AS d, "
            "positiveModuloOrNull(-a, b) AS p FROM t ORDER BY b",
            views={"t": df},
        ).collect()
        assert rows[0]["sp"] == "x  y"
        # zero divisor → NULL, not an ANSI throw
        assert (rows[0]["m"], rows[0]["d"], rows[0]["p"]) == (
            None, None, None
        )
        assert (rows[1]["m"], rows[1]["d"], rows[1]["p"]) == (1, 2, 2)


class TestWave7Rejects:
    # r15: the r14 revision of this list also rejected UUIDStringToNum
    # / UUIDNumToString, shadowing their round-10 byte-exact mappings
    # (tests/test_audit_r10.py pins them) — a shipped regression. The
    # reject is now only the unknown-variant UUIDToNum form; the
    # default/1 and 2 variants are mapped (TestWave7UUIDToNum below).
    @pytest.mark.parametrize(
        ("fn", "marker"),
        [
            ("UUIDToNum(u, 3)", "variant"),
            ("UUIDToNum(u, v)", "variant"),
            ("dictGetAll('d', 'a', k)", "RegExpTree"),
            ("timeSeriesInstantDeltaToGrid(1, 2, 3, 4)(t, v)",
             "WITH FILL"),
            ("timeSeriesRateToGrid(1, 2, 3, 4)(t, v)", "WITH FILL"),
        ],
    )
    def test_loud_reject_names_alternative(self, fn, marker):
        with pytest.raises(ValueError, match=marker):
            translate(f"SELECT {fn} FROM t")


class TestWave7UUIDToNum:
    def test_variants_executed(self, spark):
        df = spark.createDataFrame(
            [("00112233-4455-6677-8899-aabbccddeeff",)], "u string"
        )
        [r] = ch_sql(
            spark,
            "SELECT hex(UUIDToNum(u)) AS v1d, "
            "hex(UUIDToNum(u, 1)) AS v1, "
            "hex(UUIDToNum(u, 2)) AS v2, "
            "hex(UUIDStringToNum(u)) AS s1 FROM t",
            views={"t": df},
        ).collect()
        # default == variant 1 == UUIDStringToNum (big-endian bytes)
        assert r["v1d"] == r["v1"] == r["s1"] \
            == "00112233445566778899AABBCCDDEEFF"
        # variant 2: bytes reversed within the first three dash groups
        # (CH docs example for the Microsoft mixed-endian layout)
        assert r["v2"] == "33221100554477668899AABBCCDDEEFF"


# ---- set operations: each branch keeps its own ORDER BY / LIMIT / OFFSET
# (ClickHouse applies them to their own query, not to the result), and a
# pass that wraps its SELECT wraps only its own branch. DuckDB runs the
# same statement with its branches parenthesized; where DuckDB lacks the
# clause (LIMIT BY, ARRAY JOIN), it runs the spelled-out equivalent.
_BRANCH_PROBES = [
    ("SELECT a FROM t ORDER BY a LIMIT 1 UNION ALL SELECT 9",
     "(SELECT a FROM t ORDER BY a LIMIT 1) UNION ALL SELECT 9"),
    ("SELECT DISTINCT ON (a) a, b FROM t ORDER BY b UNION ALL SELECT 1, 2",
     "(SELECT DISTINCT ON (a) a, b FROM t ORDER BY b) UNION ALL SELECT 1, 2"),
    ("SELECT a FROM t ORDER BY a LIMIT 1 BY a UNION ALL SELECT 9",
     "(SELECT a FROM (SELECT a, row_number() OVER (PARTITION BY a ORDER BY a)"
     " AS rn FROM t) WHERE rn <= 1 ORDER BY a) UNION ALL SELECT 9"),
    ("SELECT DISTINCT ON (a) a, b FROM t ORDER BY b OFFSET 1",
     "SELECT DISTINCT ON (a) a, b FROM t ORDER BY b OFFSET 1"),
    ("SELECT a FROM t ARRAY JOIN [1] AS x WINDOW w AS (ORDER BY a)",
     "SELECT a FROM t, unnest([1]) AS u(x) WINDOW w AS (ORDER BY a)"),
]


class TestSetOperationBranches:
    @pytest.mark.parametrize("ch, duck", _BRANCH_PROBES,
                             ids=["order-limit", "distinct-on", "limit-by",
                                  "distinct-on-offset", "array-join-window"])
    def test_branch_clauses_match_duckdb(self, spark, ch, duck):
        import duckdb

        rows = [(1, 10), (1, 5), (2, 7)]
        df = spark.createDataFrame(rows, "a bigint, b bigint")
        got = sorted(tuple(r) for r in ch_sql(spark, ch, views={"t": df})
                     .collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE t (a BIGINT, b BIGINT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        assert got == sorted(con.execute(duck).fetchall())

    def test_wrapping_passes_wrap_only_their_branch(self):
        out = translate(
            "SELECT 'z' AS g, 99 AS v UNION ALL SELECT g, v FROM t "
            "QUALIFY row_number() OVER (PARTITION BY g ORDER BY v) = 1"
        )
        assert out.startswith("SELECT 'z' AS g, 99 AS v UNION ALL SELECT *")

    def test_column_selector_except_is_no_set_operator(self):
        assert translate("SELECT * EXCEPT (a) FROM t EXCEPT SELECT 1, 2") \
            == "SELECT * EXCEPT(a) FROM t EXCEPT SELECT 1, 2"


class TestIfCombinatorWithoutArguments:
    @pytest.mark.parametrize(
        "call", ["quantileIf(0.5)()", "quantileDDIf()()", "quantilesGKIf(3)()"]
    )
    def test_names_the_missing_condition(self, call):
        with pytest.raises(ValueError, match="condition"):
            translate(f"SELECT {call} FROM t")


def test_with_fill_interpolate_after_fill_bounds(spark):
    df = spark.createDataFrame([(1, 10), (3, 30)], "d bigint, v bigint")
    got = [tuple(r) for r in ch_sql(
        spark,
        "SELECT d, v FROM t ORDER BY d WITH FILL FROM 1 TO 5 INTERPOLATE (v)",
        views={"t": df},
    ).collect()]
    # TO is exclusive; fill rows carry the previous real row's v
    assert got == [(1, 10), (2, 10), (3, 30), (4, 30)]

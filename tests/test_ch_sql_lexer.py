"""The ClickHouse SQL lexer (``ch_sql.lex``) and what translating
through it costs (no Spark)."""

from __future__ import annotations

import random
import time

import pytest

from clickhouse_modules_spark.functions import ch_sql
from clickhouse_modules_spark.functions.ch_sql import lex


def _values_statement(rows: int) -> str:
    """The statement an ingest INSERT into ``kv`` translates."""
    rng = random.Random(rows)
    values = ", ".join(
        f"({k}, 'g{k % 8}', {round(rng.uniform(0, 1000), 2)!r}, {k + 1})"
        for k in range(rows)
    )
    return f"SELECT * FROM VALUES {values} AS v(k, grp, v, ver)"


def _texts(toks) -> list[str]:
    return [toks.sql[s:e] for s, e in zip(toks.starts, toks.ends)]


def test_token_rules():
    sql = """f('a''b', "c)", x_1.5) [1, (2]"""
    toks = lex(sql)
    # quotes delimit without escapes; words are \w runs; the rest is
    # one character per token
    assert _texts(toks) == ["f", "(", "'a'", "'b'", ",", '"c)"', ",",
                            "x_1", ".", "5", ")", "[", "1", ",", "(", "2",
                            "]"]
    # parens and brackets match separately: the '(' inside [ ] is open
    assert toks.close(1) == sql.index(") [")
    assert toks.close_bracket(sql.index("[")) == len(sql) - 1
    assert toks.open_of(len(sql) - 1) == sql.index("[")
    assert toks.split(2, toks.close(1)) == ["'a''b'", '"c)"', "x_1.5"]
    assert [w for _s, _e, w in toks.words()] == ["f", "1"]
    # an unterminated literal runs to the end of the text
    assert _texts(lex("a 'b, c")) == ["a", "'b, c"]


def test_subst_and_segments_skip_string_literals():
    toks = lex("vip + t.vip + 'vip' + vip2")
    assert toks.subst("vip", "(x)") == "(x) + t.vip + 'vip' + vip2"
    assert toks.segments() == [("vip + t.vip + ", False), ("'vip'", True),
                               (" + vip2", False)]
    assert lex("a; 'b;c'; d").cut(";") == ["a", " 'b;c'", " d"]


# Token-boundary shapes the golden corpus lacks, with the outputs the
# character scanners gave before the lexer (quirks included: a keyword
# glued to a bracket literal, a quoted string before a bracket), except
# the nested tuple index: t.1.2 is t.col1.col2, as DuckDB's
# (row(row(1, 2), 3))[1][2] is 2.
EDGE_SHAPES = [
    ('SELECT t.1.2, t.1a.2, arr[1].2, (a, b).2, f(x)[1].1, 1.5, x1.5 FROM t',
     'SELECT t.col1.col2, t.col1a.2, try_element_at(arr, 1).col2, (a, b).col2, try_element_at(f(x), 1).col1, 1.5D, x1.col5 FROM t'),
    ("SELECT x [1][2], a.b [1][2], f(x) (y)[1], [1,2][1], m['k'] FROM t",
     "SELECT try_element_at(try_element_at(x, 1), 2), try_element_at(try_element_at(a.b, 1), 2), f(x) try_element_at((y), 1), try_element_at(array(1, 2), 1), try_element_at(m, 'k') FROM t"),
    ('SELECT x IN[1], x IN [1, 2], [[1, 2], [3]][1][2], arr[k + 1] FROM t',
     'SELECT x IN(1), x IN(1, 2), try_element_at(try_element_at(array(array(1, 2), array(3)), 1), 2), try_element_at(arr, CAST(k + 1 AS INT)) FROM t'),
    ('SELECT 1e+10abc, 1.5e-3, 2E5, 0x1F, 3.0d FROM t',
     'SELECT 1e+10Dabc, 1.5e-3D, 2E5D, 0x1F, 3.0d FROM t'),
    ('SELECT a == b, \'it\'\'s\', "q(" FROM t WHERE s = \'x)\'',
     'SELECT a = b, \'it\'\'s\', "q(" FROM t WHERE s = \'x)\''),
]


@pytest.mark.parametrize("sql, want", EDGE_SHAPES)
def test_edge_shapes_translate_as_before(sql, want):
    assert ch_sql.translate(sql) == want


@pytest.mark.parametrize("sql, kind", [
    ("SELECT 'abc'[1] FROM t", "String"),
    ("SELECT 1[1]", "number"),
    ("SELECT a FROM t WHERE 2[1] = 1", "number"),
], ids=["string", "number", "number-in-where"])
def test_subscript_on_a_string_literal_raises(sql, kind):
    # ClickHouse's arrayElement takes an Array or a Map, never a String
    # or a number
    with pytest.raises(ValueError, match=f"arrayElement rejects a {kind}"):
        ch_sql.translate(sql)


def test_call_rewrites_leave_string_literals_alone():
    # the median/byteSwap/groupArrayMoving* rewrites find calls in the
    # token stream, so a literal that spells a call stays data
    for lit in ("'medianGK(x)'", "'byteSwap(toUInt8(1))'"):
        assert ch_sql.translate(f"SELECT {lit} AS s") == f"SELECT {lit} AS s"
    out = ch_sql.translate(
        "SELECT groupArrayMovingSum(v) AS s, 'groupArrayMovingSum(v)' AS l "
        "FROM (SELECT v FROM t ORDER BY k)"
    )
    assert "'groupArrayMovingSum(v)' AS l" in out


def test_translate_lexes_a_values_statement_about_once(monkeypatch):
    # one lexer pass over the statement plus the first row's arguments;
    # before the lexer every clause pass rescanned the whole text
    stmt = _values_statement(800)
    handed: list[int] = []
    real = ch_sql.lex

    def counting(sql: str):
        handed.append(len(sql))
        return real(sql)

    monkeypatch.setattr(ch_sql, "lex", counting)
    # and no clause pass finds its trigger, so none builds a clause map
    maps: list[int] = []
    real_map = ch_sql._clause_map
    monkeypatch.setattr(ch_sql, "_clause_map",
                        lambda *a: maps.append(1) or real_map(*a))
    ch_sql.translate(stmt)
    assert sum(handed) <= 2 * len(stmt), (sum(handed), len(stmt))
    assert not maps


def test_argument_translation_is_linear_in_nesting(monkeypatch):
    # arguments are walked on the statement's own tokens: a 60-deep
    # plus(…(x, 1)…, 1) hands lex about the statement once, where
    # lexing every argument again handed it ~30 times as much
    stmt = "SELECT " + "plus(" * 60 + "x" + ", 1)" * 60 + " FROM t"
    handed: list[int] = []
    real = ch_sql.lex

    def counting(sql: str):
        handed.append(len(sql))
        return real(sql)

    monkeypatch.setattr(ch_sql, "lex", counting)
    ch_sql.translate(stmt)
    assert sum(handed) <= 2 * len(stmt), (sum(handed), len(stmt))


def test_values_translation_time_is_reported():
    # ten times the rows should take about ten times as long; printed
    # (run with -s), not asserted, because wall time depends on the box
    def best(stmt: str) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            ch_sql.translate(stmt)
            times.append(time.perf_counter() - t0)
        return min(times)

    small, large = best(_values_statement(800)), best(_values_statement(8000))
    print(f"VALUES translate: 800 rows {small * 1e3:.1f} ms, "
          f"8000 rows {large * 1e3:.1f} ms ({large / small:.1f}x)")

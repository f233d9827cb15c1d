"""Grammar-based differential fuzzer for the CH-SQL translator.

The probe waves (tests/test_audit_r10..r12) pin ~840 individual
SPELLINGS; this harness stresses COMPOSITIONS — nested mapped
functions x predicates x GROUP BY / HAVING x subquery nesting — the
axis where the r10/r11 review defects actually lived.

Method: a typed expression generator builds one random query AST per
seed; every node renders TWICE —

- ``ch``:   the ClickHouse spelling, fed through ``translate()`` and
            executed by Spark (the system under test), and
- ``duck``: an independently hand-derived DuckDB spelling of the SAME
            intended semantics (the oracle).

Both run against the sf0.001 parquet tables and the results are
compared order-insensitively (exact for ints/strings/bools, relative
1e-6 for floats — aggregation ORDER differs between engines, so
bit-exact float equality is not the contract here; the registry's
hash-exactness is handled separately by casting/rounding in the
entries themselves).

Every query shape keeps a UNIQUE key column so the row sort is total
without relying on float columns; group keys are the selected key
expressions, distinct by construction.

Determinism: each seed builds its own ``random.Random(seed)`` — a
failure reproduces with ``python tools/fuzz_chsql.py --only SEED``.

Known, deliberate catalogue exclusions (would create oracle noise,
not translator signal): round() near decimal ties (CH banker's vs
Spark half-up), toString(Float), arrayElement out-of-range defaults,
exp/log/pow inside PREDICATES (libm last-ulp flips row membership).

Usage:
  python tools/fuzz_chsql.py --n 1000            # seeds 0..999
  python tools/fuzz_chsql.py --only 417          # reproduce one
  python tools/fuzz_chsql.py --n 200 --start 1000
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("FUZZ_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------- tables

ORDERS = {
    "int": ["o_orderkey", "o_custkey"],
    "float": ["o_totalprice"],
    "str": ["o_orderstatus", "o_orderpriority"],
    "date": ["o_orderdate"],
    "key": "o_orderkey",
    "key_unique": True,
}
LINEITEM = {
    "int": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
    "float": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "str": ["l_returnflag", "l_linestatus"],
    "date": ["l_shipdate"],
    # (l_orderkey, l_linenumber) pairs REPEAT in the synthetic data,
    # so no column combo here is unique — argMax/argMin ties would be
    # engine-arbitrary (key_unique gates those nodes out)
    "key": "(l_orderkey * 10 + l_linenumber)",
    "key_unique": False,
}
TABLES = {"orders": ORDERS, "lineitem": LINEITEM}

# v2 grammar (seeds >= 10000): the combined scope of
# lineitem ⋈ orders — exercises join composition
JOINED = {
    "int": ORDERS["int"] + LINEITEM["int"],
    "float": ORDERS["float"] + LINEITEM["float"],
    "str": ORDERS["str"] + LINEITEM["str"],
    "date": ORDERS["date"] + LINEITEM["date"],
    "key": "(l_orderkey * 10 + l_linenumber)",
    "key_unique": False,
}
JOIN_FROM = ("lineitem INNER JOIN orders "
             "ON lineitem.l_orderkey = orders.o_orderkey")

STR_LITS = ["O", "F", "P", "1-URGENT", "A", "N", "R", "e", "a", "EN", "-"]
NEEDLES = ["a", "e", "E", "-", "1", "R", "GE"]


class P:
    """A dual-rendered expression: .ch (ClickHouse) / .duck (DuckDB)."""

    __slots__ = ("ch", "duck")

    def __init__(self, ch: str, duck: str | None = None):
        self.ch = ch
        self.duck = duck if duck is not None else ch


def fmt(template_ch: str, template_duck: str, *args: P) -> P:
    return P(
        template_ch.format(*[a.ch for a in args]),
        template_duck.format(*[a.duck for a in args]),
    )


class Gen:
    """Typed dual-dialect expression generator.

    ``env`` maps type name -> list of column names visible in the
    current FROM scope (same alias on both sides, so atoms are plain
    names). ``d`` is the remaining depth budget per call.
    """

    def __init__(self, rng: random.Random, env: dict, v2: bool = False,
                 v3: bool = False, v4: bool = False):
        self.rng = rng
        self.env = env
        # v2 adds grammar nodes for seeds >= 10000 ONLY — older seeds
        # must keep producing bit-identical queries (the CI slice pins
        # them), so every rng-visible extension is gated on this flag
        self.v2 = v2
        # v3 (seeds >= 20000): bracket/array/bitmap compositions,
        # value-mapping transform, regex extract, formatDateTime,
        # base64, entropy/quantile aggregates — same append-only rule
        self.v3 = v3
        # v4 (seeds >= 30000): bounded window frames, lag/lead
        # offsets, firstValue, two-key grouping, arrayJoin() function
        # form — same append-only rule
        self.v4 = v4

    # ---------------------------------------------------------- atoms

    def _col(self, t: str) -> P | None:
        cols = self.env.get(t) or []
        if not cols:
            return None
        return P(self.rng.choice(cols))

    def int_atom(self) -> P:
        r = self.rng.random()
        c = self._col("int")
        if c is None or r < 0.2:
            return P(str(self.rng.choice([0, 1, 2, 3, 5, 7, 9, 13, 97])))
        if r < 0.35:
            # NULL source: exercises 3VL through every composition
            k = self.rng.choice([3, 5, 11])
            m = self.rng.choice([7, 13])
            return fmt(
                "nullIf({0} % " + str(m) + ", " + str(k % m) + ")",
                "nullif(({0} % " + str(m) + "), " + str(k % m) + ")",
                c,
            )
        return c

    def float_atom(self) -> P:
        c = self._col("float")
        if c is None or self.rng.random() < 0.2:
            return P(str(self.rng.choice([0.5, 2.5, 3.25, 10.0, 0.07])))
        return c

    def str_atom(self) -> P:
        c = self._col("str")
        if c is None or self.rng.random() < 0.25:
            return P("'%s'" % self.rng.choice(STR_LITS))
        return c

    def date_atom(self) -> P | None:
        return self._col("date")

    # ----------------------------------------------------- int exprs

    def int_expr(self, d: int) -> P:
        if d <= 0:
            return self.int_atom()
        a = lambda: self.int_expr(d - 1)
        lit = str(self.rng.choice([2, 3, 5, 7, 9]))
        nodes = [
            lambda: fmt("({0} + {1})", "({0} + {1})", a(), a()),
            lambda: fmt("({0} - {1})", "({0} - {1})", a(), a()),
            # one literal factor keeps nested products inside int64
            lambda: fmt("({0} * %s)" % lit, "({0} * %s)" % lit, a()),
            # nonneg operands: CH intDiv truncates, duck // floors —
            # identical off the negatives
            lambda: fmt(
                "intDiv(abs({0}), (abs({1}) % 89) + 1)",
                "(abs({0}) // ((abs({1}) % 89) + 1))",
                a(), a(),
            ),
            lambda: fmt(
                "(abs({0}) % ((abs({1}) % 31) + 1))",
                "(abs({0}) % ((abs({1}) % 31) + 1))",
                a(), a(),
            ),
            lambda: fmt("abs({0})", "abs({0})", a()),
            lambda: fmt("greatest({0}, {1})", "greatest({0}, {1})", a(), a()),
            lambda: fmt("least({0}, {1})", "least({0}, {1})", a(), a()),
            lambda: fmt("bitAnd(abs({0}), abs({1}))",
                        "(abs({0}) & abs({1}))", a(), a()),
            lambda: fmt("bitOr(abs({0}), abs({1}))",
                        "(abs({0}) | abs({1}))", a(), a()),
            lambda: fmt("bitXor(abs({0}), abs({1}))",
                        "xor(abs({0}), abs({1}))", a(), a()),
            lambda: fmt("length({0})", "length({0})", self.str_expr(d - 1)),
            lambda: (lambda nd: fmt(
                "position({0}, '%s')" % nd,
                "strpos({0}, '%s')" % nd,
                self.str_expr(d - 1),
            ))(self.rng.choice(NEEDLES)),
            lambda: fmt("sign({0})", "sign({0})", a()),
            lambda: fmt("gcd(abs({0}), abs({1}))",
                        "gcd(abs({0}), abs({1}))", a(), a()),
            lambda: fmt(
                "if({0}, {1}, {2})",
                "(CASE WHEN {0} THEN {1} ELSE {2} END)",
                self.bool_expr(d - 1), a(), a(),
            ),
            lambda: fmt(
                "multiIf({0}, {1}, {2}, {3}, {4})",
                "(CASE WHEN {0} THEN {1} WHEN {2} THEN {3} ELSE {4} END)",
                self.bool_expr(d - 1), a(), self.bool_expr(d - 1), a(), a(),
            ),
            lambda: fmt("coalesce({0}, {1})", "coalesce({0}, {1})", a(), a()),
            # fmod-bounded: pow chains can exceed int64 (seed 38558 —
            # price^4 ≈ 7.6e19 blew the duck-side CAST); % on doubles
            # is IEEE fmod on every engine here, so the bound is
            # bit-identical cross-engine
            lambda: fmt(
                "toInt64(floor(({0}) % 1000000000.0))",
                "CAST(floor(({0}) % 1000000000.0) AS BIGINT)",
                self.float_expr(d - 1),
            ),
        ]
        dc = self.date_atom()
        if dc is not None:
            for f_ch, f_du in [
                ("toYear({0})", "year({0})"),
                ("toMonth({0})", "month({0})"),
                ("toDayOfMonth({0})", "day({0})"),
                ("toQuarter({0})", "quarter({0})"),
                ("toDayOfWeek({0})", "isodow({0})"),
            ]:
                nodes.append(
                    lambda f_ch=f_ch, f_du=f_du: fmt(f_ch, f_du, dc)
                )
            nodes.append(
                lambda: fmt(
                    "toYear(addDays({0}, {1}))",
                    "year(({0} + to_days(CAST(({1}) AS INT))))",
                    dc, P(str(self.rng.randrange(-400, 400))),
                )
            )
            if self.v2:
                nodes += [
                    lambda: fmt("toDayOfYear({0})", "dayofyear({0})",
                                dc),
                    lambda: fmt("toYYYYMM({0})",
                                "CAST(strftime({0}, '%Y%m') AS BIGINT)",
                                dc),
                    # boundary-crossing day count == calendar-day diff
                    # for DATE-typed inputs on both engines
                    lambda: fmt("dateDiff('day', {0}, {1})",
                                "datediff('day', {0}, {1})", dc, dc),
                ]
            if self.v3:
                # month/year boundary crossings == duck datediff parts
                nodes += [
                    lambda: fmt("dateDiff('month', {0}, {1})",
                                "datediff('month', {0}, {1})", dc, dc),
                    lambda: fmt("dateDiff('year', {0}, {1})",
                                "datediff('year', {0}, {1})", dc, dc),
                    lambda: fmt("toDayOfMonth(toLastDayOfMonth({0}))",
                                "day(last_day({0}))", dc),
                ]
        if self.v3:
            nodes += [
                # CH 1-based bracket subscript (the r12 bracket
                # rewrite) — duck lists are 1-based with the SAME
                # spelling; a NULL index gives NULL on both sides
                lambda: fmt(
                    "([{0}, {1}, {2}])[((abs({3}) % 3) + 1)]",
                    "([{0}, {1}, {2}])[((abs({3}) % 3) + 1)]",
                    a(), a(), a(), a(),
                ),
                # lambda-first arrayMap through an arraySum fold;
                # coalesce keeps elements non-NULL (CH array folds
                # and duck list_sum disagree on NULL elements)
                lambda: fmt(
                    "arraySum(arrayMap(__fz -> (__fz * 2), "
                    "[coalesce({0}, 0), coalesce({1}, 0)]))",
                    "CAST(list_sum(list_transform("
                    "[coalesce({0}, 0), coalesce({1}, 0)], "
                    "__fz -> (__fz * 2))) AS BIGINT)",
                    a(), a(),
                ),
                # roaring-bitmap exact tier: intersection cardinality
                # of a built bitmap vs a literal one
                lambda: fmt(
                    "bitmapCardinality(bitmapAnd(bitmapBuild("
                    "[coalesce(abs({0}) % 8, 0), "
                    "coalesce(abs({1}) % 8, 0)]), "
                    "bitmapBuild([0, 1, 2, 3])))",
                    "CAST(len(list_intersect(list_distinct("
                    "[coalesce(abs({0}) % 8, 0), "
                    "coalesce(abs({1}) % 8, 0)]), "
                    "[0, 1, 2, 3])) AS BIGINT)",
                    a(), a(),
                ),
                # CH value-mapping transform (NULL matches nothing →
                # default, exactly CASE's ELSE)
                lambda: fmt(
                    "transform((abs({0}) % 4), [0, 1, 2], "
                    "[10, 20, 30], -1)",
                    "(CASE (abs({0}) % 4) WHEN 0 THEN 10 "
                    "WHEN 1 THEN 20 WHEN 2 THEN 30 ELSE -1 END)",
                    a(),
                ),
                lambda: fmt(
                    "bitShiftLeft(1, (abs({0}) % 20))",
                    "(1 << (abs({0}) % 20))",
                    a(),
                ),
                lambda: fmt(
                    "length(splitByChar('-', {0}))",
                    "CAST(len(string_split({0}, '-')) AS BIGINT)",
                    self.str_expr(d - 1),
                ),
            ]
        return self.rng.choice(nodes)()

    # --------------------------------------------------- float exprs

    def float_expr(self, d: int, tame: bool = False) -> P:
        """tame=True keeps to arithmetic that is bit-exact across
        engines (safe inside predicates)."""
        if d <= 0:
            return self.float_atom()
        a = lambda: self.float_expr(d - 1, tame)
        nodes = [
            lambda: fmt("({0} + {1})", "({0} + {1})", a(), a()),
            lambda: fmt("({0} - {1})", "({0} - {1})", a(), a()),
            lambda: fmt("({0} * {1})", "({0} * {1})", a(), a()),
            lambda: fmt(
                "({0} / (abs({1}) + 1))",
                "({0} / (abs({1}) + 1))",
                a(), a(),
            ),
            lambda: fmt("abs({0})", "abs({0})", a()),
            lambda: fmt(
                "toFloat64({0})", "CAST({0} AS DOUBLE)", self.int_expr(d - 1)
            ),
            lambda: fmt(
                "if({0}, {1}, {2})",
                "(CASE WHEN {0} THEN {1} ELSE {2} END)",
                self.bool_expr(d - 1), a(), a(),
            ),
            lambda: fmt("greatest({0}, {1})", "greatest({0}, {1})", a(), a()),
            lambda: fmt("least({0}, {1})", "least({0}, {1})", a(), a()),
        ]
        if not tame:
            nodes += [
                lambda: fmt("sqrt(abs({0}))", "sqrt(abs({0}))", a()),
                lambda: fmt("log(abs({0}) + 1)", "ln(abs({0}) + 1)", a()),
                # tame arg: fmod of a libm-noisy HUGE value by 10
                # keeps the ~ulp ABSOLUTE error while shrinking the
                # result to O(1) — relative error explodes (seed 1498)
                lambda: fmt("exp(({0} % 10))", "exp(({0} % 10))",
                            self.float_expr(d - 1, tame=True)),
                lambda: fmt("pow({0}, 2)", "pow({0}, 2)", a()),
                # n >= 3 decimal digits: source floats carry exactly 2,
                # so no half-way ties (CH banker's vs duck half-away)
                lambda: fmt("round({0}, 4)", "round({0}, 4)", a()),
            ]
        return self.rng.choice(nodes)()

    # ----------------------------------------------------- str exprs

    def str_expr(self, d: int) -> P:
        if d <= 0:
            return self.str_atom()
        a = lambda: self.str_expr(d - 1)
        lit = "'%s'" % self.rng.choice(STR_LITS)
        p0 = self.rng.randrange(1, 4)
        ln = self.rng.randrange(0, 5)
        nodes = [
            # || propagates NULL like CH/Spark concat (duck concat()
            # silently SKIPS NULLs — deliberate rendering asymmetry)
            lambda: fmt("concat({0}, {1})", "({0} || {1})", a(), a()),
            lambda: fmt("upper({0})", "upper({0})", a()),
            lambda: fmt("lower({0})", "lower({0})", a()),
            lambda: fmt("reverse({0})", "reverse({0})", a()),
            lambda: fmt(
                "substring({0}, %d, %d)" % (p0, ln),
                "substring({0}, %d, %d)" % (p0, ln),
                a(),
            ),
            lambda: (lambda nd, rp: fmt(
                "replaceAll({0}, '%s', '%s')" % (nd, rp),
                "replace({0}, '%s', '%s')" % (nd, rp),
                a(),
            ))(self.rng.choice(NEEDLES), self.rng.choice(STR_LITS)),
            lambda: fmt("trimBoth({0})", "trim({0})", a()),
            lambda: fmt(
                "leftPad({0}, %d, '%s')" % (p0 + 4, ". "[:1]),
                "lpad({0}, %d, '%s')" % (p0 + 4, "."),
                a(),
            ),
            lambda: fmt("left({0}, %d)" % (ln + 1),
                        "left({0}, %d)" % (ln + 1), a()),
            lambda: fmt("right({0}, %d)" % (ln + 1),
                        "right({0}, %d)" % (ln + 1), a()),
            lambda: fmt("repeat({0}, 2)", "repeat({0}, 2)", a()),
            lambda: fmt("toString({0})", "CAST({0} AS VARCHAR)",
                        self.int_expr(d - 1)),
            lambda: fmt(
                "if({0}, {1}, {2})",
                "(CASE WHEN {0} THEN {1} ELSE {2} END)",
                self.bool_expr(d - 1), a(), a(),
            ),
            # split -> join roundtrip: exercises the array path with a
            # string-typed result
            lambda: fmt(
                "arrayStringConcat(splitByChar('-', {0}), '%s')" % "_",
                "array_to_string(string_split({0}, '-'), '%s')" % "_",
                a(),
            ),
            lambda: fmt("concat({0}, %s)" % lit, "({0} || %s)" % lit, a()),
        ]
        if self.v3:
            dc3 = self.date_atom()
            nodes += [
                # regex first-match (no capture group → whole match);
                # '' on no match and NULL on NULL input in CH, Spark,
                # and duck alike (seed 22400: a coalesce here wrongly
                # turned duck's NULL-input NULL into '')
                lambda: fmt(
                    "extract({0}, '[0-9]+')",
                    "regexp_extract({0}, '[0-9]+')",
                    a(),
                ),
                # 1-based bracket subscript over a split array — in
                # range by construction (split yields >= 1 element)
                lambda: fmt(
                    "(splitByChar('-', {0}))[1]",
                    "(string_split({0}, '-'))[1]",
                    a(),
                ),
                lambda: fmt(
                    "base64Encode({0})",
                    "to_base64(CAST({0} AS BLOB))",
                    a(),
                ),
            ]
            if dc3 is not None:
                nodes.append(lambda: fmt(
                    "formatDateTime({0}, '%Y-%m-%d')",
                    "strftime({0}, '%Y-%m-%d')",
                    dc3,
                ))
        return self.rng.choice(nodes)()

    # ---------------------------------------------------- bool exprs

    def bool_expr(self, d: int) -> P:
        if d <= 0:
            d = 1  # comparisons need one level of operands
        cmps = ["=", "!=", "<", "<=", ">", ">="]
        op = self.rng.choice(cmps)
        dop = "<>" if op == "!=" else op
        r = self.rng.random()
        if r < 0.30:
            x, y = self.int_expr(d - 1), self.int_expr(d - 1)
            base = fmt("({0} %s {1})" % op, "({0} %s {1})" % dop, x, y)
        elif r < 0.50:
            x, y = self.float_expr(d - 1, tame=True), self.float_atom()
            base = fmt("({0} %s {1})" % op, "({0} %s {1})" % dop, x, y)
        elif r < 0.65:
            x, y = self.str_expr(d - 1), self.str_atom()
            base = fmt("({0} %s {1})" % op, "({0} %s {1})" % dop, x, y)
        elif r < 0.75:
            pat = "'%%%s%%'" % self.rng.choice(NEEDLES)
            neg = self.rng.random() < 0.3
            kw = "NOT LIKE" if neg else "LIKE"
            base = fmt(
                "({0} %s %s)" % (kw, pat),
                "({0} %s %s)" % (kw, pat),
                self.str_expr(d - 1),
            )
        elif r < 0.85:
            lits = sorted(self.rng.sample(range(0, 12), 3))
            base = fmt(
                "({0} IN (%s))" % ", ".join(map(str, lits)),
                "({0} IN (%s))" % ", ".join(map(str, lits)),
                self.int_expr(d - 1),
            )
        elif r < 0.92:
            lo = self.rng.randrange(0, 5)
            base = fmt(
                "({0} BETWEEN %d AND %d)" % (lo, lo + 6),
                "({0} BETWEEN %d AND %d)" % (lo, lo + 6),
                self.int_expr(d - 1),
            )
        else:
            which = "isNull" if self.rng.random() < 0.5 else "isNotNull"
            base = fmt(
                which + "({0})",
                "({0} IS %s)" % ("NULL" if which == "isNull" else "NOT NULL"),
                self.int_expr(d - 1),
            )
        if d >= 2 and self.rng.random() < 0.4:
            other = self.bool_expr(d - 1)
            join = self.rng.choice(["AND", "OR"])
            base = fmt(
                "({0} %s {1})" % join, "({0} %s {1})" % join, base, other
            )
        if self.rng.random() < 0.15:
            base = fmt("(NOT {0})", "(NOT {0})", base)
        return base

    def in_subquery(self) -> P | None:
        """A top-level-only IN-(subquery) conjunct (v2). Never embedded
        in bool_expr: a subquery reachable from if()/HOF argument
        positions trips Spark's no-subquery-in-higher-order-function
        rule (fuzz seed 13394)."""
        tbl = self.env.get("table")
        c, c2 = self._col("int"), self._col("int")
        if not tbl or c is None or c2 is None:
            return None
        m = self.rng.choice([7, 11, 13])
        t = self.rng.randrange(1, m)
        neg = "NOT " if self.rng.random() < 0.25 else ""
        s = ("({0} %sIN (SELECT {1} FROM %s WHERE ({1} %% %d) < %d))"
             % (neg, tbl, m, t))
        return fmt(s, s, c, c2)

    # ------------------------------------------------- scalar picker

    def scalar(self, d: int) -> tuple[P, str]:
        t = self.rng.choice(["int", "int", "float", "str", "bool"])
        if t == "int":
            return self.int_expr(d), t
        if t == "float":
            return self.float_expr(d), t
        if t == "str":
            return self.str_expr(d), t
        return self.bool_expr(d), t

    # -------------------------------------------------- aggregations

    def agg_expr(self, d: int, numeric_only: bool = False) -> P:
        """An aggregate over scalar sub-expressions. DuckDB side casts
        integer sums/counts to BIGINT (duck widens to HUGEINT).
        ``numeric_only`` excludes string-typed aggregates (HAVING
        compares against a numeric literal)."""
        key = self.env.get("key", "1")
        str_kinds = [
            lambda: fmt("min({0})", "min({0})", self.str_expr(d - 1)),
            lambda: fmt(
                "maxIf({0}, {1})", "max({0}) FILTER (WHERE {1})",
                self.str_expr(d - 1), self.bool_expr(d - 1),
            ),
            lambda: fmt("uniqExact({0})",
                        "CAST(count(DISTINCT {0}) AS BIGINT)",
                        self.str_expr(d - 1)),
        ]
        if self.env.get("key_unique"):
            # unique ordering key => deterministic arg extremum
            # (duck arg_max matches CH: NULL args are skipped)
            str_kinds.append(lambda: fmt(
                "argMin({0}, %s)" % key, "arg_min({0}, %s)" % key,
                self.str_expr(d - 1),
            ))
        kinds = [
            lambda: fmt("count()", "CAST(count(*) AS BIGINT)"),
        ]
        if self.env.get("key_unique"):
            kinds.append(lambda: fmt(
                "argMax({0}, %s)" % key, "arg_max({0}, %s)" % key,
                self.int_expr(d - 1),
            ))
        kinds += [
            lambda: fmt("count({0})", "CAST(count({0}) AS BIGINT)",
                        self.int_expr(d - 1)),
            lambda: fmt("sum({0})", "CAST(sum({0}) AS BIGINT)",
                        self.int_expr(d - 1)),
            lambda: fmt("sum({0})", "sum({0})", self.float_expr(d - 1)),
            lambda: fmt("min({0})", "min({0})", self.int_expr(d - 1)),
            lambda: fmt("max({0})", "max({0})", self.int_expr(d - 1)),
            lambda: fmt("max({0})", "max({0})", self.float_expr(d - 1)),
            lambda: fmt("avg({0})", "avg({0})", self.int_expr(d - 1)),
            lambda: fmt("avg({0})", "avg({0})", self.float_expr(d - 1)),
            lambda: fmt("uniqExact({0})",
                        "CAST(count(DISTINCT {0}) AS BIGINT)",
                        self.int_expr(d - 1)),
            lambda: fmt("countIf({0})", "CAST(count(*) FILTER (WHERE {0}) "
                        "AS BIGINT)", self.bool_expr(d - 1)),
            lambda: fmt(
                "sumIf({0}, {1})",
                "CAST(sum({0}) FILTER (WHERE {1}) AS BIGINT)",
                self.int_expr(d - 1), self.bool_expr(d - 1),
            ),
            lambda: fmt(
                "avgIf({0}, {1})", "avg({0}) FILTER (WHERE {1})",
                self.float_expr(d - 1), self.bool_expr(d - 1),
            ),
            lambda: fmt(
                "minIf({0}, {1})", "min({0}) FILTER (WHERE {1})",
                self.int_expr(d - 1), self.bool_expr(d - 1),
            ),
            lambda: fmt("stddevPop({0})", "stddev_pop({0})",
                        self.float_expr(d - 1)),
            lambda: fmt("varSamp({0})", "var_samp({0})",
                        self.float_expr(d - 1)),
            # CH corr → nan on zero variance; duck corr → NULL there.
            # tame args: libm last-ulp drift (pow/exp/log) can make a
            # variance zero on one engine and 1e-24 on the other
            lambda: fmt("corr({0}, {1})",
                        "coalesce(corr({0}, {1}), CAST('NaN' AS DOUBLE))",
                        self.float_expr(d - 1, tame=True),
                        self.float_expr(d - 1, tame=True)),
        ]
        if self.v2:
            if numeric_only:
                # HAVING compares against an integer literal: the
                # moment aggregates (stddevPop, varSamp, corr — the
                # last three base kinds) sit on knife edges there.
                # corr of affinely-related args is EXACTLY ±1 up to
                # rounding, and a constant side's variance is exactly
                # 0 on one engine and ~1e-16 on the other under the
                # distinct-Expand plan (seeds 12857, 13693) — row
                # membership flips on noise, which is oracle noise,
                # not translator signal.
                kinds = kinds[:-3]
            kinds += [
                lambda: fmt("sumDistinct({0})",
                            "CAST(sum(DISTINCT {0}) AS BIGINT)",
                            self.int_expr(d - 1)),
                lambda: fmt("groupBitAnd(abs({0}))",
                            "CAST(bit_and(abs({0})) AS BIGINT)",
                            self.int_expr(d - 1)),
                lambda: fmt("groupBitOr(abs({0}))",
                            "CAST(bit_or(abs({0})) AS BIGINT)",
                            self.int_expr(d - 1)),
                lambda: fmt("groupBitXor(abs({0}))",
                            "CAST(bit_xor(abs({0})) AS BIGINT)",
                            self.int_expr(d - 1)),
                # the CASE spelling is the portable DISTINCT-filter
                lambda: fmt(
                    "uniqExactIf({0}, {1})",
                    "CAST(count(DISTINCT CASE WHEN {1} THEN {0} END) "
                    "AS BIGINT)",
                    self.int_expr(d - 1), self.bool_expr(d - 1),
                ),
            ]
            if not numeric_only:
                # population covariance never divides, but shares the
                # knife-edge-at-0 problem in HAVING comparisons
                kinds.append(
                    lambda: fmt("covarPop({0}, {1})",
                                "covar_pop({0}, {1})",
                                self.float_expr(d - 1, tame=True),
                                self.float_expr(d - 1, tame=True)))
            # deterministic collect: string-TYPED, so it lives with the
            # str_kinds (a numeric HAVING context must not draw it —
            # seeds 12101, 12932); coalesce on the ELEMENT keeps NULL
            # handling identical (CH groupArray SKIPS NULLs where duck
            # list() keeps them), coalesce on the RESULT pins the
            # empty-group value: CH/Spark give '' from an empty array,
            # duck list() gives NULL (seeds 13370, 13895)
            str_kinds = str_kinds + [
                lambda: fmt(
                    "arrayStringConcat(arraySort(groupArray("
                    "coalesce(toString({0}), '~'))), ',')",
                    "coalesce(array_to_string(list_sort(list("
                    "coalesce(CAST({0} AS VARCHAR), '~'))), ','), '')",
                    self.int_expr(d - 1),
                ),
            ]
        if self.v3:
            kinds.append(
                # bitmap aggregate = exact distinct count on both sides
                lambda: fmt("groupBitmap({0})",
                            "CAST(count(DISTINCT {0}) AS BIGINT)",
                            self.int_expr(d - 1)))
            if not numeric_only:
                # float-typed / knife-edged aggregates stay out of the
                # integer-literal HAVING context (same rule as the
                # moment aggregates above)
                kinds += [
                    # both engines: log2 Shannon entropy, NULLs skipped
                    lambda: fmt("entropy(({0} % 5))",
                                "entropy(({0} % 5))",
                                self.int_expr(d - 1)),
                    # PERCENTILE.INC == Spark percentile == duck
                    # quantile_cont (linear interpolation, exact)
                    lambda: fmt("quantileExactInclusive(0.5)({0})",
                                "quantile_cont({0}, 0.5)",
                                self.float_expr(d - 1, tame=True)),
                ]
        if not numeric_only:
            kinds = kinds + str_kinds
        return self.rng.choice(kinds)()

    # ------------------------------------------------ window exprs

    def win_expr(self, order_key: str) -> P:
        """One window expression over a deterministic (unique-key)
        ORDER BY — running aggregates, ranking, and the lagInFrame /
        leadInFrame offset pair."""
        gk = self.group_key()
        frame = ("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
        r = self.rng.random()
        if r < 0.45:
            af, duck_cast = self.rng.choice([
                ("sum", True), ("min", True), ("max", True),
                ("count", True), ("avg", False),
            ])
            e = self.int_expr(1)
            body = "CAST(%s({0}) OVER w AS BIGINT)" if duck_cast \
                else "%s({0}) OVER w"
            return fmt(
                f"{af}({{0}}) OVER (PARTITION BY {gk.ch} "
                f"ORDER BY {order_key} {frame})",
                (body % af).replace(
                    "OVER w",
                    f"OVER (PARTITION BY {gk.duck} "
                    f"ORDER BY {order_key} {frame})",
                ),
                e,
            )
        if r < 0.7:
            fn = self.rng.choice(["row_number", "rank", "dense_rank"])
            return P(
                f"{fn}() OVER (PARTITION BY {gk.ch} "
                f"ORDER BY {order_key})",
                f"CAST({fn}() OVER (PARTITION BY {gk.duck} "
                f"ORDER BY {order_key}) AS BIGINT)",
            )
        if self.v4 and r < 0.78:
            # bounded running frame — the pass-through frame path
            k_p = self.rng.choice([1, 3, 7])
            frame_b = (f"ROWS BETWEEN {k_p} PRECEDING "
                       f"AND CURRENT ROW")
            af = self.rng.choice(["sum", "min", "max"])
            e = self.int_expr(1)
            return fmt(
                f"{af}({{0}}) OVER (PARTITION BY {gk.ch} "
                f"ORDER BY {order_key} {frame_b})",
                f"CAST({af}({{0}}) OVER (PARTITION BY {gk.duck} "
                f"ORDER BY {order_key} {frame_b}) AS BIGINT)",
                e,
            )
        if self.v4 and r < 0.86:
            # firstValue over the running frame (rename mapping)
            e = self.int_expr(1)
            return fmt(
                f"firstValue({{0}}) OVER (PARTITION BY {gk.ch} "
                f"ORDER BY {order_key} {frame})",
                f"first_value({{0}}) OVER (PARTITION BY {gk.duck} "
                f"ORDER BY {order_key} {frame})",
                e,
            )
        ch_fn, du_fn = self.rng.choice(
            [("lagInFrame", "lag"), ("leadInFrame", "lead")]
        )
        off = self.rng.choice([1, 2, 5]) if self.v4 else None
        e = self.int_expr(1)
        full = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
        off_ch = f", {off}" if off is not None else ""
        return fmt(
            f"{ch_fn}({{0}}{off_ch}) OVER (PARTITION BY {gk.ch} "
            f"ORDER BY {order_key} {full})",
            f"{du_fn}({{0}}{off_ch}) OVER (PARTITION BY {gk.duck} "
            f"ORDER BY {order_key})",
            e,
        )

    def group_key(self) -> P:
        c_int = self._col("int")
        c_str = self._col("str")
        dc = self.date_atom()
        opts = []
        if c_int is not None:
            m = self.rng.choice([3, 5, 7])
            opts.append(fmt("({0} %% %d)" % m, "({0} %% %d)" % m, c_int))
        if c_str is not None:
            opts.append(c_str)
            opts.append(fmt("substring({0}, 1, 1)", "substring({0}, 1, 1)",
                            c_str))
        if dc is not None:
            opts.append(fmt("toYear({0})", "year({0})", dc))
            opts.append(fmt("toMonth({0})", "month({0})", dc))
        if self.v3:
            # conditional group key: CH if(NULL, a, b) → b, exactly
            # CASE's ELSE branch
            opts.append(fmt(
                "if({0}, 'lo', 'hi')",
                "(CASE WHEN {0} THEN 'lo' ELSE 'hi' END)",
                self.bool_expr(1),
            ))
        return self.rng.choice(opts)


# ------------------------------------------------------------ queries


# v5 grammar (seeds >= 40000): the previously-unfuzzed clause tail —
# QUALIFY, DISTINCT ON, ANY JOIN, WITH FILL (+INTERPOLATE), dictGet,
# behavioral aggregates (retention / sequenceMatch / windowFunnel SQL
# forms), -State/-Merge round-trips, LIMIT … WITH TIES, PREWHERE.
# v5 seeds use ONLY the new shapes so every seed lands on new grammar.
#
# Derived views registered by main() for the join/dict shapes:
#   oj = orders  keyed jk (=o_orderkey, unique) + o_* attrs
#   lj = lineitem keyed jk (=l_orderkey, DUPLICATE) + jv/jq/js values
#   d1 = dictionary over orders keyed o_orderkey (a ch_sql.dictionary frame)
OJ_ENV = {
    "int": ["jk", "o_custkey"],
    "float": ["o_totalprice"],
    "str": ["o_orderstatus", "o_orderpriority"],
    "date": ["o_orderdate"],
    "key": "jk",
    "key_unique": True,
}
LJ_COLS = ["jk", "jv", "jq", "js"]  # view column order drives ANY dedup
ANYJ_ENV = {
    "int": ["jk", "o_custkey", "jv"],
    "float": ["o_totalprice", "jq"],
    "str": ["o_orderstatus", "o_orderpriority", "js"],
    "date": ["o_orderdate"],
    "key": "jk",
    "key_unique": True,
}


def _lj_dedup_duck() -> str:
    """The oracle's independent spelling of the engine's documented ANY
    dedup contract: one row per key, total-order minimum over every
    view column."""
    cols = ", ".join(LJ_COLS)
    return (
        f"(SELECT {cols} FROM (SELECT *, row_number() OVER ("
        f"PARTITION BY jk ORDER BY {cols}) AS __rn FROM lj) "
        f"WHERE __rn = 1)"
    )


def build_query_v5(rng: random.Random) -> tuple[str, str]:
    depth = rng.choice([2, 3, 3])
    shape = rng.choice([
        "qualify", "qualify", "distinct_on", "distinct_on",
        "any_join", "any_join", "with_fill", "with_fill",
        "dict_get", "dict_get", "retention", "seq_match", "seq_match",
        "win_funnel", "win_funnel", "state_merge", "state_merge",
        "with_ties", "prewhere",
    ])
    oenv = {k: list(v) if isinstance(v, list) else v
            for k, v in ORDERS.items()}
    og = Gen(rng, oenv, v2=True, v3=True, v4=True)

    if shape == "qualify":
        # integer window + QUALIFY over its alias (CH filters window
        # results post-projection; duck has native QUALIFY)
        gk = og.group_key()
        wkind = rng.choice(["rn", "rank", "cnt", "summ"])
        if wkind == "rn":
            w = P("row_number() OVER (ORDER BY o_orderkey)")
        elif wkind == "rank":
            w = fmt(
                "rank() OVER (PARTITION BY {0} ORDER BY o_orderkey)",
                "rank() OVER (PARTITION BY {0} ORDER BY o_orderkey)",
                gk,
            )
        elif wkind == "cnt":
            w = fmt("count(*) OVER (PARTITION BY {0})",
                    "CAST(count(*) OVER (PARTITION BY {0}) AS BIGINT)",
                    gk)
        else:
            c = oenv["int"][rng.randrange(len(oenv["int"]))]
            w = fmt(
                "sum(" + c + ") OVER (PARTITION BY {0} "
                "ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED "
                "PRECEDING AND CURRENT ROW)",
                "CAST(sum(" + c + ") OVER (PARTITION BY {0} "
                "ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED "
                "PRECEDING AND CURRENT ROW) AS BIGINT)",
                gk,
            )
        pred = og.bool_expr(depth - 1)
        qv = rng.choice([2, 3, 5])
        qform = rng.choice(["mod", "le"])
        if qform == "mod":
            qual_ch = f"(c0 % {qv}) = 1"
            qual_du = f"(c0 % {qv}) = 1"
        else:
            n = rng.choice([3, 10, 40])
            qual_ch = f"c0 <= {n}"
            qual_du = f"c0 <= {n}"
        return (
            f"SELECT o_orderkey AS k, {w.ch} AS c0 FROM orders "
            f"WHERE {pred.ch} QUALIFY {qual_ch}",
            f"SELECT o_orderkey AS k, {w.duck} AS c0 FROM orders "
            f"WHERE {pred.duck} QUALIFY {qual_du}",
        )

    if shape == "distinct_on":
        # CH DISTINCT ON (keys): first row per key by ORDER BY; the
        # unique o_orderkey order makes the pick deterministic
        gk = og.group_key()
        c0, _ = og.scalar(depth - 1)
        pred = og.bool_expr(depth - 1)
        return (
            f"SELECT DISTINCT ON ({gk.ch}) {gk.ch} AS g, "
            f"{c0.ch} AS c0, o_orderkey AS k FROM orders "
            f"WHERE {pred.ch} ORDER BY o_orderkey",
            f"SELECT {gk.duck} AS g, {c0.duck} AS c0, "
            f"o_orderkey AS k FROM orders WHERE {pred.duck} "
            f"QUALIFY row_number() OVER (PARTITION BY {gk.duck} "
            f"ORDER BY o_orderkey) = 1",
        )

    if shape == "any_join":
        # LEFT/INNER ANY JOIN USING: right side deduped to one row per
        # key (total-order minimum — the engine's documented contract,
        # re-derived independently on the duck side)
        jenv = {k: list(v) if isinstance(v, list) else v
                for k, v in ANYJ_ENV.items()}
        jg = Gen(rng, jenv, v2=True, v3=True, v4=True)
        jtype_ch, jtype_du = rng.choice([
            ("LEFT ANY JOIN", "LEFT JOIN"),
            ("ANY LEFT JOIN", "LEFT JOIN"),
            ("INNER ANY JOIN", "INNER JOIN"),
        ])
        n = rng.randrange(1, 4)
        cols = [jg.scalar(depth - 1) for _ in range(n)]
        pred = jg.bool_expr(depth - 1)
        sel_ch = ", ".join(
            f"{c.ch} AS c{i}" for i, (c, _) in enumerate(cols))
        sel_du = ", ".join(
            f"{c.duck} AS c{i}" for i, (c, _) in enumerate(cols))
        return (
            f"SELECT jk AS k, {sel_ch} FROM oj "
            f"{jtype_ch} lj USING (jk) WHERE {pred.ch}",
            f"SELECT jk AS k, {sel_du} FROM oj "
            f"{jtype_du} {_lj_dedup_duck()} AS lj USING (jk) "
            f"WHERE {pred.duck}",
        )

    if shape == "with_fill":
        # ORDER BY k WITH FILL [FROM/TO/STEP] [INTERPOLATE (c0)] over
        # a one-row-per-key aggregate; fill rows carry NULL (the
        # engine's documented divergence from CH's type-default zeros,
        # so the oracle models NULL too), TO is exclusive
        m = rng.choice([41, 97])
        agg = og.agg_expr(depth - 1, numeric_only=True)
        pred = og.bool_expr(depth - 1)
        inner_ch = (
            f"SELECT (o_orderkey % {m}) AS k, {agg.ch} AS c0 "
            f"FROM orders WHERE {pred.ch} GROUP BY (o_orderkey % {m})"
        )
        inner_du = (
            f"SELECT (o_orderkey % {m}) AS k, {agg.duck} AS c0 "
            f"FROM orders WHERE {pred.duck} "
            f"GROUP BY (o_orderkey % {m})"
        )
        variant = rng.choice(["plain", "bounds", "bounds_step", "interp"])
        step = rng.choice([1, 2, 5])
        lo, hi = rng.choice([(0, 45), (5, 90), (0, 120)])
        if variant == "plain":
            fill_ch = "WITH FILL"
            spine_du = (
                "SELECT unnest(generate_series(lo, hi)) AS k FROM "
                "(SELECT coalesce(min(k), 0) AS lo, "
                "coalesce(max(k), -1) AS hi FROM __b)"
            )
        elif variant == "bounds":
            fill_ch = f"WITH FILL FROM {lo} TO {hi}"
            spine_du = (
                f"SELECT gs AS k FROM range({lo}, {hi}) AS t(gs)"
            )
        elif variant == "bounds_step":
            fill_ch = f"WITH FILL FROM {lo} TO {hi} STEP {step}"
            spine_du = (
                f"SELECT gs AS k FROM range({lo}, {hi}, {step}) "
                f"AS t(gs)"
            )
        else:
            fill_ch = "WITH FILL INTERPOLATE (c0)"
            spine_du = (
                "SELECT unnest(generate_series(lo, hi)) AS k FROM "
                "(SELECT coalesce(min(k), 0) AS lo, "
                "coalesce(max(k), -1) AS hi FROM __b)"
            )
        if variant == "interp":
            # carry form: fill rows take the previous REAL row's c0
            du = (
                f"WITH __b AS ({inner_du}), "
                f"__s AS ({spine_du}), "
                f"__j AS (SELECT k, c0, (__b.k IS NOT NULL) AS __real "
                f"FROM __s LEFT JOIN __b USING (k)) "
                f"SELECT k, CASE WHEN __real THEN c0 ELSE "
                f"last_value(CASE WHEN __real THEN c0 END IGNORE NULLS) "
                f"OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING "
                f"AND CURRENT ROW) END AS c0 FROM __j"
            )
        else:
            du = (
                f"WITH __b AS ({inner_du}), __s AS ({spine_du}) "
                f"SELECT coalesce(__s.k, __b.k) AS k, c0 "
                f"FROM __s FULL OUTER JOIN __b ON __s.k = __b.k"
            )
        return (
            f"SELECT k, c0 FROM ({inner_ch}) ORDER BY k {fill_ch}",
            du,
        )

    if shape == "dict_get":
        # dictGet over the registered d1 dictionary (orders keyed by
        # o_orderkey); half the key expressions MISS → NULL / default
        lenv = {k: list(v) if isinstance(v, list) else v
                for k, v in LINEITEM.items()}
        lg = Gen(rng, lenv, v2=True, v3=True, v4=True)
        miss = rng.random() < 0.5
        keyexpr = ("(l_orderkey * 2 + 1)" if miss else "l_orderkey")
        attr, duck_ty = rng.choice([
            ("o_custkey", "BIGINT"),
            ("o_totalprice", "DOUBLE"),
            ("o_orderstatus", "VARCHAR"),
        ])
        sub_du = (f"(SELECT {attr} FROM orders "
                  f"WHERE o_orderkey = {keyexpr})")
        use_default = rng.random() < 0.4
        if use_default:
            dflt = {"BIGINT": "-1", "DOUBLE": "-1.0",
                    "VARCHAR": "'zz'"}[duck_ty]
            expr_ch = (f"dictGetOrDefault('d1', '{attr}', "
                       f"{keyexpr}, {dflt})")
            expr_du = f"coalesce({sub_du}, {dflt})"
        else:
            expr_ch = f"dictGet('d1', '{attr}', {keyexpr})"
            expr_du = sub_du
        has_ch = f"dictHas('d1', {keyexpr})"
        has_du = (f"((SELECT count(*) FROM orders "
                  f"WHERE o_orderkey = {keyexpr}) > 0)")
        pred = lg.bool_expr(depth - 1)
        key = LINEITEM["key"]
        return (
            f"SELECT {key} AS k, {expr_ch} AS c0, {has_ch} AS c1 "
            f"FROM lineitem WHERE {pred.ch}",
            f"SELECT {key} AS k, {expr_du} AS c0, {has_du} AS c1 "
            f"FROM lineitem WHERE {pred.duck}",
        )

    if shape == "retention":
        # retention(c1..ck)[j] elements as separate INT columns;
        # rj = anchor-and-flag bool_or semantics
        m = rng.choice([7, 23, 101])
        k_conds = rng.randrange(2, 4)
        conds = [og.bool_expr(depth - 1) for _ in range(k_conds)]
        pred = og.bool_expr(depth - 1)
        args_ch = ", ".join(c.ch for c in conds)
        els_ch = ", ".join(
            f"(retention({args_ch})[{j + 1}]) AS c{j}"
            for j in range(k_conds)
        )
        flags = [f"CAST(bool_or({c.duck}) AS INT)" for c in conds]
        els_du = [flags[0] + " AS c0"]
        for j in range(1, k_conds):
            els_du.append(
                f"CAST(bool_or({conds[0].duck}) AND "
                f"bool_or({conds[j].duck}) AS INT) AS c{j}"
            )
        return (
            f"SELECT (o_custkey % {m}) AS k, {els_ch} FROM orders "
            f"WHERE {pred.ch} GROUP BY (o_custkey % {m})",
            f"SELECT (o_custkey % {m}) AS k, {', '.join(els_du)} "
            f"FROM orders WHERE {pred.duck} "
            f"GROUP BY (o_custkey % {m})",
        )

    if shape == "seq_match":
        # sequenceMatch('(?1).*(?2)[.*(?3)]') over the UNIQUE
        # o_orderkey timestamp; oracle = greedy earliest-anchor chain
        # (existence of an increasing subsequence), independently
        # derived via chained CTEs
        m = rng.choice([7, 23, 101])
        three = rng.random() < 0.4
        nconds = 3 if three else 2
        conds = [og.bool_expr(depth - 1) for _ in range(nconds)]
        pred = og.bool_expr(depth - 1)
        pat = "(?1).*(?2).*(?3)" if three else "(?1).*(?2)"
        args_ch = ", ".join(
            f"coalesce({c.ch}, false)" for c in conds)
        xs = [f"coalesce({c.duck}, false)" for c in conds]
        base_du = (
            f"SELECT (o_custkey % {m}) AS g, o_orderkey AS t, "
            + ", ".join(f"{x} AS x{i + 1}" for i, x in enumerate(xs))
            + f" FROM orders WHERE {pred.duck}"
        )
        if not three:
            du = (
                f"SELECT (o_custkey % {m}) AS k, CAST(CASE WHEN "
                f"min(CASE WHEN {xs[0]} THEN o_orderkey END) < "
                f"max(CASE WHEN {xs[1]} THEN o_orderkey END) "
                f"THEN 1 ELSE 0 END AS INT) AS c0 FROM orders "
                f"WHERE {pred.duck} GROUP BY (o_custkey % {m})"
            )
        else:
            du = (
                f"WITH __b AS ({base_du}), "
                f"__s1 AS (SELECT g, min(CASE WHEN x1 THEN t END) "
                f"AS t1 FROM __b GROUP BY g), "
                f"__s2 AS (SELECT __b.g, min(t) AS t2 FROM __b "
                f"JOIN __s1 USING (g) WHERE x2 AND t > t1 "
                f"GROUP BY __b.g), "
                f"__s3 AS (SELECT DISTINCT __b.g FROM __b "
                f"JOIN __s2 USING (g) WHERE x3 AND t > t2) "
                f"SELECT g AS k, CAST(CASE WHEN g IN "
                f"(SELECT g FROM __s3) THEN 1 ELSE 0 END AS INT) "
                f"AS c0 FROM __b GROUP BY g"
            )
        return (
            f"SELECT (o_custkey % {m}) AS k, "
            f"sequenceMatch('{pat}')(o_orderkey, {args_ch}) AS c0 "
            f"FROM orders WHERE {pred.ch} GROUP BY (o_custkey % {m})",
            du,
        )

    if shape == "win_funnel":
        # windowFunnel(w)(t, c1, c2) default mode, k=2: level 2 iff
        # ∃ a(c1), b(c2) same group with a.t ≤ b.t ≤ a.t + w
        m = rng.choice([7, 23, 101])
        w = rng.choice([5, 50, 1000, 100000])
        c1 = og.bool_expr(depth - 1)
        c2 = og.bool_expr(depth - 1)
        pred = og.bool_expr(depth - 1)
        x1 = f"coalesce({c1.duck}, false)"
        x2 = f"coalesce({c2.duck}, false)"
        du = (
            f"WITH __b AS (SELECT (o_custkey % {m}) AS g, "
            f"o_orderkey AS t, {x1} AS x1, {x2} AS x2 FROM orders "
            f"WHERE {pred.duck}), "
            f"__l2 AS (SELECT DISTINCT a.g FROM __b a JOIN __b b2 "
            f"ON a.g = b2.g AND a.x1 AND b2.x2 AND b2.t >= a.t "
            f"AND b2.t - a.t <= {w}) "
            f"SELECT g AS k, CAST(CASE WHEN g IN "
            f"(SELECT g FROM __l2) THEN 2 WHEN bool_or(x1) THEN 1 "
            f"ELSE 0 END AS INT) AS c0 FROM __b GROUP BY g"
        )
        return (
            f"SELECT (o_custkey % {m}) AS k, windowFunnel({w})("
            f"o_orderkey, coalesce({c1.ch}, false), "
            f"coalesce({c2.ch}, false)) AS c0 "
            f"FROM orders WHERE {pred.ch} GROUP BY (o_custkey % {m})",
            du,
        )

    if shape == "state_merge":
        # -State at the inner level, -Merge at the outer regroup; the
        # oracle computes the SAME aggregate single-pass over the
        # regrouped base (mathematically the merge contract)
        tname = rng.choice(list(TABLES))
        t = TABLES[tname]
        env2 = {k: list(v) if isinstance(v, list) else v
                for k, v in t.items()}
        g2 = Gen(rng, env2, v2=True, v3=True, v4=True)
        c_int = env2["int"][rng.randrange(len(env2["int"]))]
        m1 = rng.choice([97, 193])
        m2 = rng.choice([3, 5, 7])
        e = g2.int_expr(depth - 1)
        pred = g2.bool_expr(depth - 1)
        bases = rng.sample(
            ["sum", "count", "min", "max", "avg", "uniqExact"],
            rng.randrange(1, 4),
        )
        inner_parts_ch, outer_parts_ch, outer_parts_du = [], [], []
        for i, b in enumerate(bases):
            st = f"st{i}"
            if b == "count":
                inner_parts_ch.append(f"countState() AS {st}")
                outer_parts_ch.append(f"countMerge({st}) AS c{i}")
                outer_parts_du.append(
                    f"CAST(count(*) AS BIGINT) AS c{i}")
            elif b == "avg":
                inner_parts_ch.append(f"avgState({e.ch}) AS {st}")
                outer_parts_ch.append(f"avgMerge({st}) AS c{i}")
                outer_parts_du.append(
                    f"(CAST(sum({e.duck}) AS DOUBLE) / "
                    f"count({e.duck})) AS c{i}")
            elif b == "uniqExact":
                inner_parts_ch.append(
                    f"uniqExactState({e.ch}) AS {st}")
                outer_parts_ch.append(
                    f"uniqExactMerge({st}) AS c{i}")
                outer_parts_du.append(
                    f"CAST(count(DISTINCT {e.duck}) AS BIGINT) "
                    f"AS c{i}")
            elif b == "sum":
                inner_parts_ch.append(f"sumState({e.ch}) AS {st}")
                outer_parts_ch.append(f"sumMerge({st}) AS c{i}")
                outer_parts_du.append(
                    f"CAST(sum({e.duck}) AS BIGINT) AS c{i}")
            else:
                inner_parts_ch.append(f"{b}State({e.ch}) AS {st}")
                outer_parts_ch.append(f"{b}Merge({st}) AS c{i}")
                outer_parts_du.append(f"{b}({e.duck}) AS c{i}")
        inner_ch = (
            f"SELECT ({c_int} % {m1}) AS s, "
            + ", ".join(inner_parts_ch)
            + f" FROM {tname} WHERE {pred.ch} "
            f"GROUP BY ({c_int} % {m1})"
        )
        return (
            f"SELECT (s % {m2}) AS k, "
            + ", ".join(outer_parts_ch)
            + f" FROM ({inner_ch}) GROUP BY (s % {m2})",
            f"SELECT (({c_int} % {m1}) % {m2}) AS k, "
            + ", ".join(outer_parts_du)
            + f" FROM {tname} WHERE {pred.duck} "
            f"GROUP BY (({c_int} % {m1}) % {m2})",
        )

    if shape == "with_ties":
        # LIMIT n WITH TIES ≡ rank() ≤ n over the same ORDER BY
        gk = og.group_key()
        c0, _ = og.scalar(depth - 1)
        pred = og.bool_expr(depth - 1)
        n = rng.choice([1, 3, 10])
        return (
            f"SELECT {gk.ch} AS g, {c0.ch} AS c0, o_orderkey AS k "
            f"FROM orders WHERE {pred.ch} "
            f"ORDER BY {gk.ch} LIMIT {n} WITH TIES",
            f"SELECT {gk.duck} AS g, {c0.duck} AS c0, "
            f"o_orderkey AS k FROM orders WHERE {pred.duck} "
            f"QUALIFY rank() OVER (ORDER BY {gk.duck}) <= {n}",
        )

    # prewhere: PREWHERE p1 WHERE p2 ≡ WHERE p1 AND p2
    tname = rng.choice(list(TABLES))
    t = TABLES[tname]
    env2 = {k: list(v) if isinstance(v, list) else v
            for k, v in t.items()}
    g2 = Gen(rng, env2, v2=True, v3=True, v4=True)
    p1 = g2.bool_expr(depth - 1)
    p2 = g2.bool_expr(depth - 1)
    n = rng.randrange(1, 3)
    cols = [g2.scalar(depth - 1) for _ in range(n)]
    sel_ch = ", ".join(f"{c.ch} AS c{i}" for i, (c, _) in enumerate(cols))
    sel_du = ", ".join(
        f"{c.duck} AS c{i}" for i, (c, _) in enumerate(cols))
    key = t["key"]
    return (
        f"SELECT {key} AS k, {sel_ch} FROM {tname} "
        f"PREWHERE {p1.ch} WHERE {p2.ch}",
        f"SELECT {key} AS k, {sel_du} FROM {tname} "
        f"WHERE ({p1.duck}) AND ({p2.duck})",
    )


# v6 grammar (seeds >= 50000): exactly the rounds-14/15 rewrites the
# r14 verdict asked to fuzz —
#   * grouped topK/topKWeighted through BOTH lowering paths: the
#     two-phase statement rewrite (eligible top-level GROUP BY) and
#     the in-expression RLE template (ungrouped, or grouped inside a
#     subquery where the top-level rewrite doesn't fire), with
#     NULL-bearing value expressions, HAVING, and weights;
#   * joinGet/joinGetOrNull over a registered Join-engine table whose
#     source has DUPLICATE keys (exercises the ANY-dedup contract and
#     the miss→type-default/NULL split);
#   * the wave-7 scalar family (overlay 3/4-arg, space, the OrNull
#     divisor triple) composed with the full expression grammar.
#
# main() registers jt1 = the lj projection of lineitem keyed by jk
# (duplicate keys) via ch_sql.join_table.
_JT1_DEFAULT = {"jv": "0", "jq": "CAST(0 AS DOUBLE)", "js": "''"}
_JT1_ORDER = "jk, jv, jq, js"  # join_table dedup total order


def _jt1_dedup_duck() -> str:
    return (
        f"(SELECT jk, jv, jq, js FROM (SELECT jk, jv, jq, js, "
        f"row_number() OVER (PARTITION BY jk ORDER BY {_JT1_ORDER}) "
        f"AS __rn FROM lj) WHERE __rn = 1)"
    )


def build_query_v6(rng: random.Random) -> tuple[str, str]:
    depth = rng.choice([2, 3, 3])
    shape = rng.choice([
        "topk_group", "topk_group", "topk_group",
        "topk_weighted", "topk_weighted",
        "topk_template", "topk_template", "topk_sub",
        "join_get", "join_get", "join_get",
        "wave7", "wave7", "wave7",
    ])
    oenv = {k: list(v) if isinstance(v, list) else v
            for k, v in ORDERS.items()}
    og = Gen(rng, oenv, v2=True, v3=True, v4=True)

    if shape in ("topk_group", "topk_weighted", "topk_template",
                 "topk_sub"):
        k = rng.choice([1, 2, 3, 5])
        vkind = rng.choice(["status", "prio3", "null_status",
                            "null_mod", "concat"])
        if vkind == "status":
            v = P("o_orderstatus")
        elif vkind == "prio3":
            v = P("substring(o_orderpriority, 1, 3)")
        elif vkind == "null_status":
            v = P("nullIf(o_orderstatus, 'F')",
                  "nullif(o_orderstatus, 'F')")
        elif vkind == "null_mod":
            j = rng.choice([0, 1, 2])
            v = P(
                f"if((o_custkey % 3) = {j}, NULL, o_orderstatus)",
                f"(CASE WHEN (o_custkey % 3) = {j} THEN NULL "
                f"ELSE o_orderstatus END)",
            )
        else:
            v = P(
                "concat(o_orderstatus, toString(o_custkey % 3))",
                "concat(o_orderstatus, CAST((o_custkey % 3) AS "
                "VARCHAR))",
            )
        pred = og.bool_expr(depth - 1)
        if shape == "topk_template":
            # no GROUP BY → the two-phase statement rewrite bails and
            # the collect+RLE template must agree with the oracle
            return (
                f"SELECT arrayStringConcat(topK({k})({v.ch}), ',') "
                f"AS t FROM orders WHERE {pred.ch}",
                f"SELECT coalesce(array_to_string("
                f"(list(v ORDER BY c DESC, v))[1:{k}], ','), '') AS t "
                f"FROM (SELECT v, count(*) AS c FROM "
                f"(SELECT {v.duck} AS v FROM orders WHERE {pred.duck})"
                f" WHERE v IS NOT NULL GROUP BY v)",
            )
        gkm = rng.choice([3, 5, 9])
        weighted = shape == "topk_weighted"
        if weighted:
            w = rng.choice(["(o_custkey % 7)", "((o_orderkey % 5) + 1)"])
            tk_ch = f"topKWeighted({k})({v.ch}, {w})"
            cagg_du = "CAST(sum(w) AS BIGINT)"  # __s aliases w
        else:
            w = None
            tk_ch = f"topK({k})({v.ch})"
            cagg_du = "count(*)"
        having = rng.random() < 0.4
        hn = rng.choice([1, 5, 20])
        hav_ch = f" HAVING count() > {hn}" if having else ""
        hav_du = f" HAVING count(*) > {hn}" if having else ""
        inner_ch = (
            f"SELECT (o_orderkey % {gkm}) AS g, count() AS n, "
            f"arrayStringConcat({tk_ch}, ',') AS t "
            f"FROM orders WHERE {pred.ch} "
            f"GROUP BY (o_orderkey % {gkm}){hav_ch}"
        )
        if shape == "topk_sub":
            # grouped, but nested in a subquery: exercises whichever
            # path the translator picks for non-top-level GROUP BY
            ch_sqltxt = f"SELECT g, n, t FROM ({inner_ch})"
        else:
            ch_sqltxt = inner_ch + (
                " ORDER BY g" if rng.random() < 0.5 else ""
            )
        du = (
            f"WITH __s AS (SELECT (o_orderkey % {gkm}) AS g, "
            f"{v.duck} AS v"
            + (f", {w} AS w" if weighted else "")
            + f" FROM orders WHERE {pred.duck}), "
            f"__a AS (SELECT g, count(*) AS n FROM __s "
            f"GROUP BY g{hav_du}), "
            f"__b AS (SELECT g, array_to_string("
            f"(list(v ORDER BY c DESC, v))[1:{k}], ',') AS t FROM "
            f"(SELECT g, v, {cagg_du} AS c "
            f"FROM __s WHERE v IS NOT NULL GROUP BY g, v) GROUP BY g) "
            f"SELECT __a.g AS g, __a.n AS n, coalesce(__b.t, '') AS t "
            f"FROM __a LEFT JOIN __b ON __a.g = __b.g"
        )
        return ch_sqltxt, du

    if shape == "join_get":
        fn, or_null = rng.choice([("joinGet", False),
                                  ("joinGetOrNull", True)])
        attr = rng.choice(["jv", "jq", "js"])
        keyexpr = rng.choice([
            "o_orderkey", "(o_orderkey + 1)", "(o_custkey * 7)",
            f"(o_orderkey % {rng.choice([97, 1009])})",
        ])
        pred = og.bool_expr(depth - 1)
        c1, _ = og.scalar(depth - 1)
        get_du = f"__jt.{attr}"
        if not or_null:
            get_du = f"coalesce(__jt.{attr}, {_JT1_DEFAULT[attr]})"
        return (
            f"SELECT o_orderkey AS k, "
            f"{fn}('jt1', '{attr}', {keyexpr}) AS c0, {c1.ch} AS c1 "
            f"FROM orders WHERE {pred.ch}",
            f"SELECT o_orderkey AS k, {get_du} AS c0, {c1.duck} AS c1 "
            f"FROM orders LEFT JOIN {_jt1_dedup_duck()} AS __jt "
            f"ON __jt.jk = {keyexpr} WHERE {pred.duck}",
        )

    # wave7: overlay/space/OrNull divisors over generated operands
    n = rng.randrange(2, 4)
    items: list[P] = []
    for _ in range(n):
        kind = rng.choice(["modor", "divor", "pmodor", "overlay",
                           "overlay4", "space"])
        if kind in ("modor", "divor", "pmodor"):
            a = og.int_expr(depth - 1)
            km = rng.choice([3, 5, 7])
            d = f"(o_custkey % {km})"  # hits zero → NULL branch
            if kind == "modor":
                items.append(fmt(
                    "moduloOrNull({0}, " + d + ")",
                    "(CASE WHEN " + d + " = 0 THEN NULL ELSE "
                    "({0}) % " + d + " END)", a))
            elif kind == "divor":
                # nonneg operands: CH intDiv truncates, duck // floors
                items.append(fmt(
                    "intDivOrNull(abs({0}), " + d + ")",
                    "(CASE WHEN " + d + " = 0 THEN NULL ELSE "
                    "abs({0}) // " + d + " END)", a))
            else:
                items.append(fmt(
                    "positiveModuloOrNull({0}, " + d + ")",
                    "(CASE WHEN " + d + " = 0 THEN NULL ELSE "
                    "((({0}) % " + d + ") + " + d + ") % " + d
                    + " END)", a))
        elif kind in ("overlay", "overlay4"):
            off = rng.choice([1, 2, 3])
            rep = rng.choice(["xy", "Z"])
            if kind == "overlay":
                items.append(P(
                    f"overlay(o_orderpriority, '{rep}', {off})",
                    f"concat(substr(o_orderpriority, 1, {off} - 1), "
                    f"'{rep}', substr(o_orderpriority, "
                    f"{off} + {len(rep)}))",
                ))
            else:
                ln = rng.choice([0, 1, 3])
                items.append(P(
                    f"overlay(o_orderpriority, '{rep}', {off}, {ln})",
                    f"concat(substr(o_orderpriority, 1, {off} - 1), "
                    f"'{rep}', substr(o_orderpriority, "
                    f"{off} + {ln}))",
                ))
        else:
            km = rng.choice([3, 4])
            items.append(P(
                f"concat('a', space(o_custkey % {km}), 'b')",
                f"concat('a', repeat(' ', o_custkey % {km}), 'b')",
            ))
    pred = og.bool_expr(depth - 1)
    sel_ch = ", ".join(f"{it.ch} AS c{i}" for i, it in enumerate(items))
    sel_du = ", ".join(
        f"{it.duck} AS c{i}" for i, it in enumerate(items))
    return (
        f"SELECT o_orderkey AS k, {sel_ch} FROM orders "
        f"WHERE {pred.ch}",
        f"SELECT o_orderkey AS k, {sel_du} FROM orders "
        f"WHERE {pred.duck}",
    )


def build_query(seed: int) -> tuple[str, str]:
    """Return (ch_sql, duck_sql) for one random seed.

    Seeds >= 10000 use the v2 grammar (joins, windows, LIMIT BY,
    UNION, two-level aggregation, extra aggregate kinds); older seeds
    keep producing bit-identical queries so the pinned CI slice and
    recorded sweep results stay reproducible."""
    rng = random.Random(seed)
    if seed >= 50000:
        return build_query_v6(rng)
    if seed >= 40000:
        return build_query_v5(rng)
    v2 = seed >= 10000
    v3 = seed >= 20000
    v4 = seed >= 30000
    tname = rng.choice(list(TABLES))
    t = TABLES[tname]
    env = {k: list(v) if isinstance(v, list) else v for k, v in t.items()}
    if v2:
        env["table"] = tname  # enables the IN-(subquery) bool node
    g = Gen(rng, env, v2=v2, v3=v3, v4=v4)
    depth = rng.choice([2, 3, 3, 4])
    shapes = ["row", "row", "agg", "agg", "agg_scalar", "nested"]
    if v2:
        shapes += ["join", "join", "join_agg", "window", "window",
                   "limit_by", "limit_by", "union", "agg2", "agg2",
                   "array_join"]
    if v3:
        shapes += ["left_join", "left_join", "scalar_sub", "cte",
                   "distinct", "topk"]
    if v4:
        shapes += ["window", "agg_two_keys", "agg_two_keys",
                   "array_join_fn"]
    shape = rng.choice(shapes)
    key = t["key"]

    if shape == "agg_two_keys":
        # plain two-key grouping (non-rollup): stresses multi-key
        # exchange + key-expression dedup in the translator
        gk1, gk2 = g.group_key(), g.group_key()
        if gk1.ch == gk2.ch:
            gk2 = fmt("(length({0}) % 4)", "(length({0}) % 4)",
                      g.str_expr(1))
        n = rng.randrange(1, 3)
        aggs = [g.agg_expr(depth - 1) for _ in range(n)]
        pred = g.bool_expr(depth - 1)
        sel_ch = ", ".join(f"{a.ch} AS c{i}" for i, a in enumerate(aggs))
        sel_du = ", ".join(f"{a.duck} AS c{i}" for i, a in enumerate(aggs))
        return (
            f"SELECT {gk1.ch} AS k, {gk2.ch} AS k2, {sel_ch} "
            f"FROM {tname} WHERE {pred.ch} "
            f"GROUP BY {gk1.ch}, {gk2.ch}",
            f"SELECT {gk1.duck} AS k, {gk2.duck} AS k2, {sel_du} "
            f"FROM {tname} WHERE {pred.duck} "
            f"GROUP BY {gk1.duck}, {gk2.duck}",
        )

    if shape == "array_join_fn":
        # CH's arrayJoin() FUNCTION form (row multiplier in the
        # projection, maps to a Spark generator) vs duck unnest
        src = g.str_expr(depth - 1)
        pred = g.bool_expr(depth - 1)
        return (
            f"SELECT {key} AS k, "
            f"arrayJoin(splitByChar('-', {src.ch})) AS a "
            f"FROM {tname} WHERE {pred.ch}",
            f"SELECT k, unnest(string_split(src, '-')) AS a FROM "
            f"(SELECT {key} AS k, {src.duck} AS src FROM {tname} "
            f"WHERE {pred.duck})",
        )

    if shape == "left_join":
        # self-join of orders on its unique key against a FILTERED
        # right side: non-matching rows are NULL-extended — stresses
        # 3VL through every composition over the joined scope
        renv = {k: list(v) if isinstance(v, list) else v
                for k, v in ORDERS.items()}
        rg = Gen(rng, renv, v2=True, v3=True, v4=v4)
        rpred = rg.bool_expr(depth - 1)
        rval = rg.int_expr(depth - 1)
        right_ch = (f"(SELECT o_orderkey AS jk, {rval.ch} AS jv "
                    f"FROM orders WHERE {rpred.ch})")
        right_du = (f"(SELECT o_orderkey AS jk, {rval.duck} AS jv "
                    f"FROM orders WHERE {rpred.duck})")
        oenv = {
            "int": list(ORDERS["int"]) + ["jv"],
            "float": list(ORDERS["float"]),
            "str": list(ORDERS["str"]),
            "date": list(ORDERS["date"]),
            "key": "o_orderkey",
            "key_unique": True,
        }
        og = Gen(rng, oenv, v2=True, v3=True, v4=v4)
        n = rng.randrange(1, 4)
        cols = [og.scalar(depth - 1) for _ in range(n)]
        pred = og.bool_expr(depth - 1)
        sel_ch = ", ".join(
            f"{c.ch} AS c{i}" for i, (c, _) in enumerate(cols))
        sel_du = ", ".join(
            f"{c.duck} AS c{i}" for i, (c, _) in enumerate(cols))
        return (
            f"SELECT o_orderkey AS k, {sel_ch} FROM orders "
            f"LEFT JOIN {right_ch} AS r ON orders.o_orderkey = r.jk "
            f"WHERE {pred.ch}",
            f"SELECT o_orderkey AS k, {sel_du} FROM orders "
            f"LEFT JOIN {right_du} AS r ON orders.o_orderkey = r.jk "
            f"WHERE {pred.duck}",
        )

    if shape == "scalar_sub":
        # uncorrelated scalar subquery in the projection; an empty
        # filtered subquery yields NULL on both engines
        spred = g.bool_expr(depth - 1)
        sagg = g.int_expr(depth - 1)
        e = g.int_expr(depth - 1)
        pred = g.bool_expr(depth - 1)
        sub_ch = (f"(SELECT max({sagg.ch}) FROM {tname} "
                  f"WHERE {spred.ch})")
        sub_du = (f"(SELECT max({sagg.duck}) FROM {tname} "
                  f"WHERE {spred.duck})")
        return (
            f"SELECT {key} AS k, ({e.ch} - {sub_ch}) AS c0 "
            f"FROM {tname} WHERE {pred.ch}",
            f"SELECT {key} AS k, ({e.duck} - {sub_du}) AS c0 "
            f"FROM {tname} WHERE {pred.duck}",
        )

    if shape == "cte":
        # named-subquery CTE (must NOT be mistaken for CH's scalar
        # `WITH expr AS ident` form by the translator)
        n_in = rng.randrange(2, 4)
        inner = []
        for i in range(n_in):
            e, ty = g.scalar(depth - 1)
            inner.append((f"i{i}", e, ty))
        ipred = g.bool_expr(depth - 1)
        inner_ch = ", ".join(f"{e.ch} AS {nm}" for nm, e, _ in inner)
        inner_du = ", ".join(f"{e.duck} AS {nm}" for nm, e, _ in inner)
        oenv = {"int": ["k"], "float": [], "str": [], "date": [],
                "key": "k", "key_unique": t.get("key_unique", False)}
        for nm, _, ty in inner:
            if ty == "bool":
                continue
            oenv.setdefault(ty, []).append(nm)
        og = Gen(rng, oenv, v2=True, v3=True, v4=v4)
        n_out = rng.randrange(1, 3)
        outer = [og.scalar(2) for _ in range(n_out)]
        opred = og.bool_expr(1)
        osel_ch = ", ".join(
            f"{c.ch} AS c{i}" for i, (c, _) in enumerate(outer))
        osel_du = ", ".join(
            f"{c.duck} AS c{i}" for i, (c, _) in enumerate(outer))
        return (
            f"WITH __w AS (SELECT {key} AS k, {inner_ch} FROM {tname} "
            f"WHERE {ipred.ch}) "
            f"SELECT k, {osel_ch} FROM __w WHERE {opred.ch}",
            f"WITH __w AS (SELECT {key} AS k, {inner_du} FROM {tname} "
            f"WHERE {ipred.duck}) "
            f"SELECT k, {osel_du} FROM __w WHERE {opred.duck}",
        )

    if shape == "distinct":
        # exact-typed projections only (float dedup is bit-dependent)
        n = rng.randrange(1, 3)
        cols = []
        for _ in range(n):
            if rng.random() < 0.5:
                cols.append(g.int_expr(depth - 1))
            else:
                cols.append(g.str_expr(depth - 1))
        pred = g.bool_expr(depth - 1)
        sel_ch = ", ".join(f"{c.ch} AS c{i}" for i, c in enumerate(cols))
        sel_du = ", ".join(f"{c.duck} AS c{i}" for i, c in enumerate(cols))
        return (
            f"SELECT DISTINCT {sel_ch} FROM {tname} WHERE {pred.ch}",
            f"SELECT DISTINCT {sel_du} FROM {tname} WHERE {pred.duck}",
        )

    if shape == "topk":
        # ORDER BY the UNIQUE key + LIMIT — deterministic top-k
        # (orders only: lineitem has no unique column combo)
        tenv = {k: list(v) if isinstance(v, list) else v
                for k, v in ORDERS.items()}
        tg = Gen(rng, tenv, v2=True, v3=True, v4=v4)
        c0, _ = tg.scalar(depth - 1)
        pred = tg.bool_expr(depth - 1)
        n = rng.choice([1, 3, 10])
        direction = rng.choice(["ASC", "DESC"])
        return (
            f"SELECT o_orderkey AS k, {c0.ch} AS c0 FROM orders "
            f"WHERE {pred.ch} ORDER BY o_orderkey {direction} "
            f"LIMIT {n}",
            f"SELECT o_orderkey AS k, {c0.duck} AS c0 FROM orders "
            f"WHERE {pred.duck} ORDER BY o_orderkey {direction} "
            f"LIMIT {n}",
        )

    if shape == "array_join":
        # CH ARRAY JOIN (inner explode) vs duck unnest-in-subquery;
        # the predicate never references the exploded alias, so
        # filter-before-explode is equivalent on both sides
        src = g.str_expr(depth - 1)
        c0, _ = g.scalar(depth - 1)
        pred = g.bool_expr(depth - 1)
        return (
            f"SELECT {key} AS k, a AS c0, {c0.ch} AS c1 FROM {tname} "
            f"ARRAY JOIN splitByChar('-', {src.ch}) AS a "
            f"WHERE {pred.ch}",
            f"SELECT k, unnest(string_split(src, '-')) AS c0, c1 FROM "
            f"(SELECT {key} AS k, {src.duck} AS src, {c0.duck} AS c1 "
            f"FROM {tname} WHERE {pred.duck})",
        )

    if shape in ("join", "join_agg"):
        jenv = {k: list(v) if isinstance(v, list) else v
                for k, v in JOINED.items()}
        jg = Gen(rng, jenv, v2=True, v3=v3, v4=v4)
        jkey = JOINED["key"]
        pred = jg.bool_expr(depth - 1)
        if shape == "join":
            n = rng.randrange(1, 4)
            cols = [jg.scalar(depth - 1) for _ in range(n)]
            sel_ch = ", ".join(
                f"{c.ch} AS c{i}" for i, (c, _) in enumerate(cols))
            sel_du = ", ".join(
                f"{c.duck} AS c{i}" for i, (c, _) in enumerate(cols))
            return (
                f"SELECT {jkey} AS k, {sel_ch} FROM {JOIN_FROM} "
                f"WHERE {pred.ch}",
                f"SELECT {jkey} AS k, {sel_du} FROM {JOIN_FROM} "
                f"WHERE {pred.duck}",
            )
        gk = jg.group_key()
        n = rng.randrange(1, 3)
        aggs = [jg.agg_expr(depth - 1) for _ in range(n)]
        sel_ch = ", ".join(f"{a.ch} AS c{i}" for i, a in enumerate(aggs))
        sel_du = ", ".join(f"{a.duck} AS c{i}" for i, a in enumerate(aggs))
        return (
            f"SELECT {gk.ch} AS k, {sel_ch} FROM {JOIN_FROM} "
            f"WHERE {pred.ch} GROUP BY {gk.ch}",
            f"SELECT {gk.duck} AS k, {sel_du} FROM {JOIN_FROM} "
            f"WHERE {pred.duck} GROUP BY {gk.duck}",
        )

    if shape == "window":
        # windows need a deterministic total order inside every
        # partition: orders' key is unique
        wenv = {k: list(v) if isinstance(v, list) else v
                for k, v in ORDERS.items()}
        wg = Gen(rng, wenv, v2=True, v3=v3, v4=v4)
        n = rng.randrange(1, 4)
        wins = [wg.win_expr("o_orderkey") for _ in range(n)]
        pred = wg.bool_expr(depth - 1)
        sel_ch = ", ".join(f"{w.ch} AS c{i}" for i, w in enumerate(wins))
        sel_du = ", ".join(f"{w.duck} AS c{i}" for i, w in enumerate(wins))
        return (
            f"SELECT o_orderkey AS k, {sel_ch} FROM orders "
            f"WHERE {pred.ch}",
            f"SELECT o_orderkey AS k, {sel_du} FROM orders "
            f"WHERE {pred.duck}",
        )

    if shape == "limit_by":
        lenv = {k: list(v) if isinstance(v, list) else v
                for k, v in ORDERS.items()}
        lg = Gen(rng, lenv, v2=True, v3=v3, v4=v4)
        gk = lg.group_key()
        c0, _ = lg.scalar(depth - 1)
        pred = lg.bool_expr(depth - 1)
        n = rng.randrange(1, 4)
        # half the time spell BY with the SOURCE expression (the CH
        # scope rule the round-13 fix implements), half with the alias
        by_ch = gk.ch if rng.random() < 0.5 else "g"
        return (
            f"SELECT {gk.ch} AS g, {c0.ch} AS c0, o_orderkey AS k "
            f"FROM orders WHERE {pred.ch} "
            f"ORDER BY o_orderkey LIMIT {n} BY {by_ch}",
            f"SELECT {gk.duck} AS g, {c0.duck} AS c0, o_orderkey AS k "
            f"FROM orders WHERE {pred.duck} "
            f"QUALIFY row_number() OVER (PARTITION BY {gk.duck} "
            f"ORDER BY o_orderkey) <= {n}",
        )

    if shape == "union":
        # same table, same column types on both branches; DISTINCT
        # only over exact types (float dedup is bit-dependent)
        distinct = rng.random() < 0.4
        types = [rng.choice(["int", "str"] if distinct
                            else ["int", "str", "float"])
                 for _ in range(rng.randrange(1, 3))]

        def branch():
            p = g.bool_expr(depth - 1)
            cols = []
            for ty in types:
                if ty == "int":
                    cols.append(g.int_expr(depth - 1))
                elif ty == "str":
                    cols.append(g.str_expr(depth - 1))
                else:
                    cols.append(g.float_expr(depth - 1))
            sel_ch = ", ".join(
                f"{c.ch} AS c{i}" for i, c in enumerate(cols))
            sel_du = ", ".join(
                f"{c.duck} AS c{i}" for i, c in enumerate(cols))
            return (
                f"SELECT {key} AS k, {sel_ch} FROM {tname} "
                f"WHERE {p.ch}",
                f"SELECT {key} AS k, {sel_du} FROM {tname} "
                f"WHERE {p.duck}",
            )

        b1_ch, b1_du = branch()
        b2_ch, b2_du = branch()
        kw_ch = "UNION DISTINCT" if distinct else "UNION ALL"
        kw_du = "UNION" if distinct else "UNION ALL"
        return f"{b1_ch} {kw_ch} {b2_ch}", f"{b1_du} {kw_du} {b2_du}"

    if shape == "agg2":
        # two-level aggregation: inner GROUP BY feeds an outer GROUP BY
        c_int = env["int"][rng.randrange(len(env["int"]))]
        m1 = rng.choice([97, 193, 389])
        ie = g.int_expr(depth - 1)
        pred = g.bool_expr(depth - 1)
        m2 = rng.choice([3, 5, 7])
        inner_ch = (
            f"SELECT ({c_int} % {m1}) AS s, count() AS cnt, "
            f"sum({ie.ch}) AS sm FROM {tname} WHERE {pred.ch} "
            f"GROUP BY ({c_int} % {m1})"
        )
        inner_du = (
            f"SELECT ({c_int} % {m1}) AS s, "
            f"CAST(count(*) AS BIGINT) AS cnt, "
            f"CAST(sum({ie.duck}) AS BIGINT) AS sm FROM {tname} "
            f"WHERE {pred.duck} GROUP BY ({c_int} % {m1})"
        )
        return (
            f"SELECT (s % {m2}) AS k, sum(cnt) AS c0, max(sm) AS c1, "
            f"count() AS c2 FROM ({inner_ch}) GROUP BY (s % {m2})",
            f"SELECT (s % {m2}) AS k, CAST(sum(cnt) AS BIGINT) AS c0, "
            f"max(sm) AS c1, CAST(count(*) AS BIGINT) AS c2 "
            f"FROM ({inner_du}) GROUP BY (s % {m2})",
        )

    def with_in_subquery(pred: P) -> P:
        # top-level WHERE conjunct only (see Gen.in_subquery)
        if v2 and rng.random() < 0.3:
            sub = g.in_subquery()
            if sub is not None:
                return fmt("({0} AND {1})", "({0} AND {1})", pred, sub)
        return pred

    if shape == "row":
        n = rng.randrange(1, 4)
        cols = [g.scalar(depth) for _ in range(n)]
        pred = with_in_subquery(g.bool_expr(depth - 1))
        sel_ch = ", ".join(
            f"{c.ch} AS c{i}" for i, (c, _) in enumerate(cols)
        )
        sel_du = ", ".join(
            f"{c.duck} AS c{i}" for i, (c, _) in enumerate(cols)
        )
        ch = (f"SELECT {key} AS k, {sel_ch} FROM {tname} "
              f"WHERE {pred.ch}")
        du = (f"SELECT {key} AS k, {sel_du} FROM {tname} "
              f"WHERE {pred.duck}")
        return ch, du

    if shape in ("agg", "agg_scalar"):
        n = rng.randrange(1, 4)
        aggs = [g.agg_expr(depth) for _ in range(n)]
        pred = with_in_subquery(g.bool_expr(depth - 1))
        sel_ch = ", ".join(f"{a.ch} AS c{i}" for i, a in enumerate(aggs))
        sel_du = ", ".join(f"{a.duck} AS c{i}" for i, a in enumerate(aggs))
        if shape == "agg_scalar":
            return (
                f"SELECT {sel_ch} FROM {tname} WHERE {pred.ch}",
                f"SELECT {sel_du} FROM {tname} WHERE {pred.duck}",
            )
        gk = g.group_key()
        if v2 and rng.random() < 0.35:
            # ROLLUP / TOTALS composition: both engines emit NULL-keyed
            # summary rows, duck spells them ROLLUP()/GROUPING SETS
            variant = rng.choice(["rollup", "rollup2", "totals"])
            gk2 = g.group_key() if variant == "rollup2" else None
            if gk2 is not None and gk2.ch == gk.ch:
                gk2, variant = None, "rollup"
            # Spark (and this engine, via WITH ROLLUP/TOTALS) emits NO
            # summary rows over an EMPTY input; duck follows the SQL
            # standard and emits the grand-total row (seed 16297).
            # count(*) > 0 holds for every summary row formed from at
            # least one input row, so the HAVING only suppresses the
            # empty-input row — an engine-semantics edge, not signal.
            guard = " HAVING count(*) > 0"
            if variant == "totals":
                return (
                    f"SELECT {gk.ch} AS k, {sel_ch} FROM {tname} "
                    f"WHERE {pred.ch} GROUP BY {gk.ch} WITH TOTALS",
                    f"SELECT {gk.duck} AS k, {sel_du} FROM {tname} "
                    f"WHERE {pred.duck} "
                    f"GROUP BY GROUPING SETS (({gk.duck}), ()){guard}",
                )
            if gk2 is None:
                return (
                    f"SELECT {gk.ch} AS k, {sel_ch} FROM {tname} "
                    f"WHERE {pred.ch} GROUP BY {gk.ch} WITH ROLLUP",
                    f"SELECT {gk.duck} AS k, {sel_du} FROM {tname} "
                    f"WHERE {pred.duck} GROUP BY ROLLUP ({gk.duck})"
                    f"{guard}",
                )
            return (
                f"SELECT {gk.ch} AS k, {gk2.ch} AS k2, {sel_ch} "
                f"FROM {tname} WHERE {pred.ch} "
                f"GROUP BY {gk.ch}, {gk2.ch} WITH ROLLUP",
                f"SELECT {gk.duck} AS k, {gk2.duck} AS k2, {sel_du} "
                f"FROM {tname} WHERE {pred.duck} "
                f"GROUP BY ROLLUP ({gk.duck}, {gk2.duck}){guard}",
            )
        having = ""
        having_du = ""
        if rng.random() < 0.5:
            h = g.agg_expr(max(depth - 1, 1), numeric_only=True)
            lit = rng.choice([0, 1, 3])
            op = rng.choice([">", ">=", "<>"])
            dop = op
            having = f" HAVING {h.ch} {op} {lit}"
            having_du = f" HAVING {h.duck} {dop} {lit}"
        ch = (f"SELECT {gk.ch} AS k, {sel_ch} FROM {tname} "
              f"WHERE {pred.ch} GROUP BY {gk.ch}{having}")
        du = (f"SELECT {gk.duck} AS k, {sel_du} FROM {tname} "
              f"WHERE {pred.duck} GROUP BY {gk.duck}{having_du}")
        return ch, du

    # nested: inner projection becomes the outer scope's atom env
    n_in = rng.randrange(2, 4)
    inner = []
    for i in range(n_in):
        e, ty = g.scalar(depth - 1)
        inner.append((f"i{i}", e, ty))
    ipred = g.bool_expr(depth - 1)
    inner_ch = ", ".join(f"{e.ch} AS {nm}" for nm, e, _ in inner)
    inner_du = ", ".join(f"{e.duck} AS {nm}" for nm, e, _ in inner)
    sub_ch = (f"(SELECT {key} AS k, {inner_ch} FROM {tname} "
              f"WHERE {ipred.ch})")
    sub_du = (f"(SELECT {key} AS k, {inner_du} FROM {tname} "
              f"WHERE {ipred.duck})")
    oenv = {"int": ["k"], "float": [], "str": [], "date": [],
            "key": "k", "key_unique": t.get("key_unique", False)}
    for nm, _, ty in inner:
        if ty == "bool":
            continue
        oenv.setdefault(ty, []).append(nm)
    og = Gen(rng, oenv)
    n_out = rng.randrange(1, 3)
    outer = [og.scalar(2) for _ in range(n_out)]
    opred = og.bool_expr(1)
    osel_ch = ", ".join(f"{c.ch} AS c{i}" for i, (c, _) in enumerate(outer))
    osel_du = ", ".join(f"{c.duck} AS c{i}" for i, (c, _) in enumerate(outer))
    ch = f"SELECT k, {osel_ch} FROM {sub_ch} WHERE {opred.ch}"
    du = f"SELECT k, {osel_du} FROM {sub_du} WHERE {opred.duck}"
    return ch, du


# ------------------------------------------------------------ compare


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("boolean")
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("Int64")
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]")
    # the synthetic tables have DUPLICATE natural keys (lineitem
    # repeats (orderkey, linenumber)), so non-float columns alone
    # don't give a total row order. Quantize floats to 7 significant
    # digits as STRING tiebreakers — cross-engine float drift is
    # ~1e-9 relative, far inside the quantization, so tied rows sort
    # identically on both sides
    sort_cols = []
    helpers = []
    for c in list(df.columns):
        if pd.api.types.is_float_dtype(df[c]):
            h = "__sort_" + c
            # na sorts WITH ~0 (same key): a nearly-singular moment
            # ratio is nan on one engine and ~1e-16 on the other
            # (seed 34137) — giving them the same sort key keeps the
            # row alignment identical so the value compare can apply
            # its na-vs-tiny rule; ties resolve on the other columns
            df[h] = df[c].map(
                lambda v: "%.6e" % 0.0 if pd.isna(v)
                else "%.6e" % (0.0 if abs(v) < 1e-9 else v)
            )
            helpers.append(h)
            sort_cols.append(h)
        else:
            sort_cols.append(c)
    if len(df) and sort_cols:
        df = df.sort_values(
            by=sort_cols, kind="mergesort", na_position="last"
        ).reset_index(drop=True)
    return df.drop(columns=helpers)


def compare(sp: pd.DataFrame, du: pd.DataFrame) -> str | None:
    if len(sp) != len(du):
        return f"row count {len(sp)} vs {len(du)}"
    sp = sp.reindex(sorted(sp.columns), axis=1).copy()
    du = du.reindex(sorted(du.columns), axis=1).copy()
    if list(sp.columns) == list(du.columns):
        # Spark's toPandas renders nullable BIGINT as float64+NaN
        # while duckdb gives masked Int64 (or vice versa) — a pandas
        # rendering artifact, not an engine difference. Align BEFORE
        # canon so both sides sort by the same keys.
        for c in sp.columns:
            one_f = pd.api.types.is_float_dtype(sp[c]) or (
                pd.api.types.is_float_dtype(du[c])
            )
            one_i = pd.api.types.is_integer_dtype(sp[c]) or (
                pd.api.types.is_integer_dtype(du[c])
            )
            if one_f and one_i:
                sp[c] = sp[c].astype("float64")
                du[c] = du[c].astype("float64")
    a, b = _canon(sp), _canon(du)
    if list(a.columns) != list(b.columns):
        return f"schema {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            if (av.isna() != bv.isna()).any():
                # moment-ratio knife edge (seed 34137): for a group
                # whose side is NEARLY constant, one engine's variance
                # cancels to EXACTLY 0 (corr → nan) while the other's
                # merge order leaves ~1e-16 noise (corr → ~0) — engine
                # arithmetic luck, not translator signal. na on one
                # side vs |v| <= 1e-9 on the other counts as equal;
                # any larger value is still a real mismatch.
                mism = (av.isna() != bv.isna())
                other = av.where(bv.isna(), bv)
                real = mism & ~(other.abs().fillna(0) <= 1e-9)
                if real.any():
                    i = real.idxmax()
                    return f"col {c}: null mismatch at {i}"
                av = av.where(~mism, 0.0)
                bv = bv.where(~mism, 0.0)
            both = av.notna()
            if not np.allclose(
                av[both], bv[both], rtol=1e-6, atol=1e-9, equal_nan=True
            ):
                diff = ~np.isclose(
                    av[both], bv[both], rtol=1e-6, atol=1e-9, equal_nan=True
                )
                i = np.argmax(diff)
                return (
                    f"col {c}: float mismatch "
                    f"{av[both].iloc[i]} vs {bv[both].iloc[i]}"
                )
            continue
        # integer-vs-float dtype drift counts as mismatch: the duck
        # rendering is supposed to CAST where engines widen
        if str(av.dtype) != str(bv.dtype):
            return f"col {c}: dtype {av.dtype} vs {bv.dtype}"
        neq = ~((av == bv) | (av.isna() & bv.isna()))
        if neq.any():
            i = neq.idxmax()
            return f"col {c}: value mismatch {av.get(i)!r} vs {bv.get(i)!r}"
    return None


# --------------------------------------------------------------- main


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--only", type=int, default=None)
    ap.add_argument("--print-sql", action="store_true")
    args = ap.parse_args()

    from clickhouse_modules_spark.functions.ch_sql import ch_sql

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName("fuzz_chsql")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    views = {}
    con = duckdb.connect()
    for t in TABLES:
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        views[t] = df
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    # v5 derived views (ANY JOIN/dictGet shapes): shared-key-name
    # projections of orders/lineitem, identical on both engines
    oj_sql = ("SELECT o_orderkey AS jk, o_custkey, o_totalprice, "
              "o_orderstatus, o_orderpriority, o_orderdate FROM orders")
    lj_sql = ("SELECT l_orderkey AS jk, l_partkey AS jv, "
              "l_quantity AS jq, l_returnflag AS js FROM lineitem")
    views["oj"] = views["orders"].selectExpr(
        "o_orderkey AS jk", "o_custkey", "o_totalprice",
        "o_orderstatus", "o_orderpriority", "o_orderdate")
    views["lj"] = views["lineitem"].selectExpr(
        "l_orderkey AS jk", "l_partkey AS jv",
        "l_quantity AS jq", "l_returnflag AS js")
    con.execute(f"CREATE VIEW oj AS {oj_sql}")
    con.execute(f"CREATE VIEW lj AS {lj_sql}")
    from clickhouse_modules_spark.functions.ch_sql import (
        QueryContext,
        dictionary,
        join_table,
    )
    # v6 join-table shape: lineitem projection with DUPLICATE keys —
    # join_table's ANY dedup (total-order min) is the contract the
    # duck oracle re-derives independently
    ctx = QueryContext(
        frames={"d1": dictionary(views["orders"], "o_orderkey")},
        join_tables={"jt1": join_table(views["lj"], ["jk"])},
    ).with_views(views)

    seeds = [args.only] if args.only is not None else range(
        args.start, args.start + args.n
    )
    n_pass = n_fail = n_err = 0
    t0 = time.time()
    for seed in seeds:
        ch, du = build_query(seed)
        if args.print_sql or args.only is not None:
            print(f"-- seed {seed}\nCH:   {ch}\nDUCK: {du}")
        try:
            sp_df = ch_sql(spark, ch, ctx).toPandas()
        except Exception as e:
            print(f"ERR   seed {seed}: spark side: "
                  f"{type(e).__name__}: {str(e)[:300]}\n  CH: {ch}")
            n_err += 1
            continue
        try:
            du_df = con.execute(du).df()
        except Exception as e:
            print(f"ERR   seed {seed}: DUCK ORACLE side (generator bug): "
                  f"{type(e).__name__}: {str(e)[:300]}\n  DUCK: {du}")
            n_err += 1
            continue
        diff = compare(sp_df, du_df)
        if diff is None:
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL  seed {seed}: {diff}\n  CH:   {ch}\n  DUCK: {du}")
    dt = time.time() - t0
    print(
        f"\n== fuzz: {n_pass} pass, {n_fail} fail, {n_err} err "
        f"over {len(list(seeds))} seeds in {dt:.0f}s =="
    )
    sys.exit(1 if (n_fail or n_err) else 0)


if __name__ == "__main__":
    main()

"""ClickHouse-dialect SQL → Spark SQL translator.

The reference engine's entire query surface is ClickHouse SQL (its
modules emit CH statements verbatim — clickhouse_users.py:245-247,
clickhouse_grants.py:302-306). This adapter lets a CH-dialect SELECT
run unchanged on Spark: function names are rewritten by a mapping
table, argument-reordering and parameterized-aggregate forms
(``quantile(0.5)(x)``) by templates, and the result is plain Spark SQL
handed to Catalyst — translation happens BEFORE planning, so pushdown,
codegen, and AQE all apply exactly as if the query were written in
Spark SQL natively.

Scope: the SELECT-expression surface covered by ``functions/ch.py``
(strings, dates, hashes, arrays, maps, JSON, conditionals, *If/arg/
group aggregates, uniq family) plus CAST-style ``to*`` conversions,
``==`` normalization, and three CH-specific clauses:

- ``LIMIT n BY cols`` → ``row_number()`` window subquery (Catalyst
  plans one partitioned window; WindowGroupLimit prunes map-side);
- ``[LEFT] ARRAY JOIN e AS a[, e2 AS a2 …]`` → ``LATERAL VIEW [OUTER]
  explode()``/``inline()`` (stays in the scan stage — no shuffle;
  multi-array zips positionally like CH);
- ``GROUP BY … WITH TOTALS`` → ``GROUPING SETS ((keys), ())`` (the
  totals row is exactly the empty grouping set, any key count).

Also handled: ``PREWHERE`` (merged into WHERE — Spark's scan-level
predicate pushdown IS the PREWHERE optimization, applied
automatically), ``GLOBAL IN``/``GLOBAL JOIN`` (the GLOBAL keyword is
a CH distributed-execution hint with no Spark equivalent — broadcast
decisions belong to Catalyst/AQE), and ``dictGet('dict', 'attr',
key)`` → a correlated scalar subquery over a dictionary frame (Catalyst
decorrelates it into a join; see ``dictionary``). ``dictGet`` returns
NULL on a missing key (CH ``dictGetOrNull``); CH's implicit type-
default fill is a silent-wrong-answer hazard this engine refuses to
copy.

Table-level clauses: ``FROM t FINAL`` (the merged frame of a warehouse
table, or a ReplacingMergeTree latest-version read over the context's
replacing keys), ``FROM t SAMPLE n/d`` (deterministic md5-bucket sample
on the context's sampling key — never a random coin flip), ``ASOF
[LEFT] JOIN`` (lateral top-1 subquery; Catalyst decorrelates to the
one-shuffle window shape of operators/asof.py), and ``ORDER BY col
WITH FILL [FROM/TO/STEP]`` (sequence() spine + left join; filled rows
are NULL, not CH's silent type-default zeros).

Not a full parser: DDL and clauses inside nested subqueries are out
of scope and pass through untouched (Spark rejects what it can't
parse — loudly, not silently).

The views, dictionaries and join tables a statement reads, and what
the rewrites know of them, come in one :class:`QueryContext` per call,
never in module state; ``ch_sql`` binds the frames for that call only.

One lexer reads the text: ``lex(sql)`` returns a :class:`Tokens`
stream, and every scan here and in ``ddl.py`` queries it instead of
looking at quote characters itself. The token rules:

- ``'`` or ``"`` opens a string literal that ends at the next same
  quote, or at the end of the text; there are no escapes, so ``'a''b'``
  is two literals;
- a word is a run of identifier characters (``str.isalnum()`` or
  ``_``), numbers included; ``1.5`` is the words ``1`` and ``5`` around
  a ``.``;
- every other non-space character is a token of its own;
- the paren depth counts ``(`` and ``)`` only, and ``(``/``)`` and
  ``[``/``]`` are matched separately.

``translate`` lexes a statement once and hands the tokens to each
clause pass in turn. A pass first looks for its trigger (a word such
as ``PREWHERE`` or ``LIMIT``, or a character such as ``[``) among the
stream's ``marks``; when the trigger is absent, the pass cannot change
the text, so it returns it at once. Only a pass that changed the text
makes ``translate`` lex it again, which keeps a long VALUES list
linear to translate.

A pass that finds its trigger reads the clause map, ``toks.clauses()``,
built once per token stream: the depth-0 text cut into the branches of
a set operation, and each branch cut into its clauses by the one
``_CLAUSES`` table, in ClickHouse's grammar order. A pass takes where a
clause starts and ends from the map, never from a keyword list of its
own; one that wraps its SELECT in a subquery wraps its own branch only.
ClickHouse applies a branch's ORDER BY, LIMIT and OFFSET to that branch,
so the last step parenthesizes a branch that ends in one of them before
a set operator. ORDER BY or LIMIT at the end of the LAST branch still
reads as Spark reads it: on the whole result.

The expression walker (``_walk``) then copies the statement token by
token. A call ``name(args)`` or ``name(params)(args)`` has its arguments
translated on the same token stream, never lexed again; only an
argument that is a subquery (first word SELECT or WITH) goes back
through ``translate`` for its own clause passes. The call is then
resolved by name, in this order:

1. ``_CALLS[name]``: one handler per ClickHouse function, for every
   arity and, for a parameterized aggregate, the ``name(params)(args)``
   form too (``fooIf(params)(args…, cond)`` goes to ``foo``'s handler
   after the -If wrap, ``_case_when``; ``fooResample(start, end,
   step)(args…, key)`` goes to ``_resample_sql``); the names that only
   reject come from ``_REJECTS``, one name → message table;
2. the name's ``TEMPLATES`` or ``RENAMES`` entry;
3. the first of ``_FAMILIES`` that claims it: the prefix and suffix
   families (-ArgMin/-ArgMax, -IfOrNull, ``bitmap*``, ``to*OrNull``,
   -State/-Merge, -Distinct, -Array, -OrNull, -OrDefault, -If, …), in
   order;
4. ``name(args)`` as written (keywords before a paren, such as ``IN`` or
   ``FROM``, land here).

A handler that maps only some arities of its name passes the others to
steps 2–4 (``_unmapped``). To add a function: a plain rename or an
argument template is a ``RENAMES``, ``TEMPLATES`` or ``PARAMETERIZED``
entry; anything else is a handler ``def _foo(c: Call) -> str``
registered in ``_CALLS``.
"""

from __future__ import annotations

import re
import uuid
from bisect import bisect_left, bisect_right
from collections.abc import Callable, Collection, Mapping
from dataclasses import dataclass, field, replace
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, StructType

# ------------------------------------------------------------------ lexer

# A string literal runs from a quote to the next same quote (or the end
# of the text); a word is a run of identifier characters (``\w``: what
# str.isalnum() accepts, plus ``_``); any other non-space character is a
# one-character token.
_TOKEN_RE = re.compile(r"""'[^']*'?|"[^"]*"?|\w+|\S""")
_QUOTES = frozenset("'\"")


class Tokens:
    """The token stream of one SQL text.

    ``starts``/``ends`` are each token's offsets, ``depths`` the paren
    depth before it (``(`` and ``)`` only; brackets do not count, and an
    unmatched ``)`` takes the depth below 0). ``partner`` maps the
    offset of every matched ``(``/``)`` and ``[``/``]`` to the offset of
    its partner. ``marks`` holds every word upper-cased and every
    one-character token: a clause pass whose trigger is not among them
    cannot change the text.
    """

    __slots__ = ("sql", "starts", "ends", "depths", "partner", "marks",
                 "_words", "_clauses")

    def __init__(self, sql: str):
        self.sql = sql
        starts, ends, depths = [], [], []
        partner: dict[int, int] = {}
        marks: set[str] = set()
        parens: list[int] = []
        brackets: list[int] = []
        depth = 0
        for m in _TOKEN_RE.finditer(sql):
            s, e = m.span()
            c = sql[s]
            starts.append(s)
            ends.append(e)
            depths.append(depth)
            if c in _QUOTES:
                continue
            marks.add(m.group().upper())
            if c == "(":
                depth += 1
                parens.append(s)
            elif c == ")":
                depth -= 1
                if parens:
                    o = parens.pop()
                    partner[o], partner[s] = s, o
            elif c == "[":
                brackets.append(s)
            elif c == "]" and brackets:
                o = brackets.pop()
                partner[o], partner[s] = s, o
        self.starts, self.ends, self.depths = starts, ends, depths
        self.partner, self.marks = partner, marks
        self._words: list[tuple[int, int, str]] | None = None
        self._clauses: tuple[Branch, ...] | None = None

    def is_word(self, k: int) -> bool:
        c = self.sql[self.starts[k]]
        return c.isalnum() or c == "_"

    def is_string(self, k: int) -> bool:
        return self.sql[self.starts[k]] in _QUOTES

    def at(self, i: int) -> int:
        """Index of the first token starting at or after offset ``i``."""
        return bisect_left(self.starts, i)

    def words(self) -> list[tuple[int, int, str]]:
        """(start, end, word) of every word at paren depth 0."""
        if self._words is None:
            sql = self.sql
            self._words = [
                (s, e, sql[s:e])
                for s, e, d in zip(self.starts, self.ends, self.depths)
                if d == 0 and (sql[s].isalnum() or sql[s] == "_")
            ]
        return self._words

    def words_in(self, lo: int, hi: int) -> list[tuple[int, int, str]]:
        """The :meth:`words` that start in ``sql[lo:hi]``."""
        words = self.words()
        return words[bisect_left(words, (lo,)) : bisect_left(words, (hi,))]

    def clauses(self, lo: int = 0,
                hi: int | None = None) -> tuple[Branch, ...]:
        """The clause map of ``sql[lo:hi]`` at the paren depth of its
        first token: its set-operation branches, each cut into its
        clauses (see ``_CLAUSES``). The map of the whole text is built
        once, on first use."""
        if lo or hi is not None:
            return _clause_map(self, lo, len(self.sql) if hi is None else hi)
        if self._clauses is None:
            self._clauses = _clause_map(self, 0, len(self.sql))
        return self._clauses

    def close(self, i: int) -> int:
        """Offset of the ``)`` matching the ``(`` at offset ``i``."""
        j = self.partner.get(i)
        if j is None or self.sql[i] != "(":
            raise ValueError("unbalanced parentheses in SQL")
        return j

    def close_bracket(self, i: int) -> int:
        """Offset of the ``]`` matching the ``[`` at offset ``i``."""
        j = self.partner.get(i)
        if j is None or self.sql[i] != "[":
            raise ValueError("unbalanced brackets in SQL")
        return j

    def open_of(self, j: int) -> int:
        """Offset of the ``(``/``[`` matching the closer at offset ``j``."""
        i = self.partner.get(j)
        if i is None or self.sql[j] not in ")]":
            raise ValueError("unbalanced delimiters in SQL")
        return i

    def spans(self, lo: int = 0,
              hi: int | None = None) -> list[tuple[int, int]]:
        """(start, end) of each part of ``sql[lo:hi]`` cut at its own
        top-level commas, without the blanks around it; [] for blank
        text. An empty part is an empty span."""
        sql, starts, ends = self.sql, self.starts, self.ends
        depths = self.depths
        if hi is None:
            hi = len(sql)
        k = bisect_left(starts, lo)
        if k == len(starts) or starts[k] >= hi:
            return []
        base = depths[k]
        parts: list[tuple[int, int]] = []
        first = last = -1
        while k < len(starts) and starts[k] < hi:
            s = starts[k]
            if sql[s] == "," and depths[k] == base:
                parts.append((first, last) if first >= 0 else (s, s))
                first = -1
            else:
                if first < 0:
                    first = s
                if sql[s] == "(" and self.partner.get(s, hi) < hi:
                    k = bisect_left(starts, self.partner[s], k)  # its ")"
                last = ends[k]
            k += 1
        parts.append((first, last) if first >= 0 else (hi, hi))
        return parts

    def split(self, lo: int = 0, hi: int | None = None) -> list[str]:
        """``sql[lo:hi]`` cut at its own top-level commas, each part
        stripped; [] for blank text."""
        return [self.sql[a:b] for a, b in self.spans(lo, hi)]

    def cut(self, sep: str) -> list[str]:
        """The text cut at every ``sep`` token, at any depth, unstripped."""
        sql = self.sql
        parts, start = [], 0
        for s in self.starts:
            if sql[s] == sep:
                parts.append(sql[start:s])
                start = s + 1
        parts.append(sql[start:])
        return parts

    def segments(self) -> list[tuple[str, bool]]:
        """The text as alternating runs: (text, is_string_literal)."""
        sql = self.sql
        out: list[tuple[str, bool]] = []
        pos = 0
        for s, e in zip(self.starts, self.ends):
            if sql[s] in _QUOTES:
                if s > pos:
                    out.append((sql[pos:s], False))
                out.append((sql[s:e], True))
                pos = e
        if pos < len(sql):
            out.append((sql[pos:], False))
        return out

    def subst(self, ident: str, repl: str) -> str:
        """Every word equal to ``ident`` replaced by ``repl``, except a
        dotted reference (``tbl.ident`` is a column, not the alias)."""
        sql = self.sql
        out, pos = [], 0
        for s, e in zip(self.starts, self.ends):
            if sql[s:e] == ident and not (s > 0 and sql[s - 1] == "."):
                out.append(sql[pos:s])
                out.append(repl)
                pos = e
        if not out:
            return sql
        out.append(sql[pos:])
        return "".join(out)

    def map_subqueries(self, fn) -> str:
        """Apply ``fn`` to the text inside every outermost paren group
        that starts with SELECT."""
        sql = self.sql
        out, pos, skip = [], 0, -1
        for s in self.starts:
            if s < skip or sql[s] != "(":
                continue
            skip = self.close(s)
            inner = sql[s + 1 : skip]
            if re.match(r"^\s*SELECT\b", inner, re.I):
                out.append(sql[pos : s + 1])
                out.append(fn(inner))
                pos = skip
        if not out:
            return sql
        out.append(sql[pos:])
        return "".join(out)


def lex(sql: str) -> Tokens:
    """Tokenize ``sql`` once; every scan of SQL text reads the result."""
    return Tokens(sql)


def is_quoted(s: str) -> bool:
    """True when ``s`` starts and ends with the same quote character."""
    return len(s) >= 2 and s[0] in _QUOTES and s[-1] == s[0]


# ------------------------------------------------------------- clause map

# The clauses of a ClickHouse SELECT by their place in its grammar. Words
# at the depth of the statement open a clause only at a later place than
# the clause they are in, so the WITH of ``GROUP BY … WITH TOTALS`` and
# the FROM of ``ORDER BY … WITH FILL FROM`` stay in their clause's body.
# ARRAY JOIN and JOIN share a place: a FROM list takes any number of
# both, in any order; so do OFFSET and FETCH. A set operator ends a
# branch, and the next branch starts over.
_CLAUSES = {
    "WITH": 0, "SELECT": 1, "FROM": 2, "ARRAY JOIN": 3, "JOIN": 3,
    "PREWHERE": 4, "WHERE": 5, "GROUP BY": 6, "HAVING": 7, "WINDOW": 8,
    "QUALIFY": 9, "ORDER BY": 10, "LIMIT BY": 11, "LIMIT": 12,
    "OFFSET": 13, "FETCH": 13, "SETTINGS": 14, "FORMAT": 15,
    "UNION": 16, "INTERSECT": 16, "EXCEPT": 16,
}
_CLAUSE_WORDS = frozenset(w for name in _CLAUSES for w in name.split())
_SET_RANK = max(_CLAUSES.values())
_SET_OPERATORS = frozenset(w for w, r in _CLAUSES.items() if r == _SET_RANK)
# The words of a join's opener before its JOIN (``GLOBAL ANY LEFT JOIN``,
# ``ASOF JOIN``, ``LEFT ARRAY JOIN``), and those after a set operator
# (``UNION ALL``) or that start the query after it.
_JOIN_WORDS = frozenset({
    "ALL", "ANTI", "ANY", "ARRAY", "ASOF", "CROSS", "FULL", "GLOBAL",
    "INNER", "LEFT", "LOCAL", "NATURAL", "OUTER", "PASTE", "RIGHT", "SEMI",
})
_OPENING_WORDS = _CLAUSE_WORDS | _JOIN_WORDS
_SET_QUANTIFIERS = ("ALL", "DISTINCT")
_QUERY_HEADS = ("SELECT", "WITH")
# SETTINGS and FORMAT: a query's execution-control tail
_TRAILING_CLAUSES = frozenset(
    w for w, r in _CLAUSES.items() if _CLAUSES["SETTINGS"] <= r < _SET_RANK)


class Clause(NamedTuple):
    """One clause of a branch, named as in ``_CLAUSES``: ``start`` is
    the offset of its first keyword, ``body`` the offset past its last
    one, and ``end`` the offset where the next clause starts or the
    branch ends."""

    name: str
    start: int
    body: int
    end: int


class Branch(NamedTuple):
    """One query of a set operation: ``sql[lo:hi]`` runs to the end of
    its last token, from the start of the text or from the first token
    after a set operator; ``clauses`` are its clauses in order (ARRAY
    JOIN and JOIN once per join)."""

    lo: int
    hi: int
    clauses: tuple[Clause, ...]

    def get(self, name: str) -> Clause | None:
        return next((c for c in self.clauses if c.name == name), None)


def _clause_map(toks: Tokens, lo: int, hi: int) -> tuple[Branch, ...]:
    """The branches of ``toks.sql[lo:hi]``, read at the depth of its
    first token. A keyword opens a clause only after the end of an
    expression (a word, a literal, ``)``, ``]``, ``*`` or a backquote),
    not as a qualifier (``window.start``) and not as the first word of
    the clause before it (``SELECT format FROM t``): so ``x = format(…)``
    and ``GROUP BY window(…)`` are calls."""
    sql, starts, ends, depths = toks.sql, toks.starts, toks.ends, toks.depths
    k, n = toks.at(lo), bisect_left(starts, hi)
    base = depths[k] if k < n else 0
    # each token upper-cased if it is a word at the range's depth, else ""
    ups = [
        sql[s:e].upper() if d == base and (sql[s].isalnum() or sql[s] == "_")
        else "" for s, e, d in zip(starts[k:n], ends[k:n], depths[k:n])
    ]

    def word(t: int) -> str:
        return ups[t - k] if t < n else ""

    def opener(t: int) -> tuple[str, int] | None:
        """The clause the words from token ``t`` open, and the index of
        their last token."""
        w, u = word(t), t
        while word(u) in _JOIN_WORDS:
            u += 1
        if word(u) == "JOIN":
            return ("ARRAY JOIN" if "ARRAY" in map(word, range(t, u))
                    else "JOIN"), u
        if w == "LIMIT" and word(t + 1).isdigit():  # LIMIT n [, m] BY
            u = t + 1
            if t + 2 < n and sql[starts[t + 2]] == "," and (
                word(t + 3).isdigit()
            ):
                u = t + 3
            if word(u + 1) == "BY":
                return "LIMIT BY", u + 1
        if f"{w} {word(t + 1)}" in _CLAUSES:  # GROUP BY, ORDER BY
            return f"{w} {word(t + 1)}", t + 1
        return (w, t) if w in _CLAUSES else None

    def is_set_operator(t: int) -> bool:
        """A query follows (``UNION ALL SELECT``, ``EXCEPT (SELECT``),
        so this is no ``* EXCEPT (col)``."""
        return word(t) in _SET_OPERATORS and (
            word(t + 1) in _SET_QUANTIFIERS + _QUERY_HEADS
            or t + 2 < n and sql[starts[t + 1]] == "("
            and sql[starts[t + 2] : ends[t + 2]].upper() in _QUERY_HEADS
        )

    branches: list[Branch] = []
    found: list[tuple[str, int, int]] = []  # (name, start, body)
    b_lo, rank, body_tok = lo, -1, k

    def close_branch(b_hi: int) -> None:
        cuts = [s for _name, s, _body in found[1:]] + [b_hi]
        branches.append(Branch(b_lo, b_hi, tuple(
            Clause(*f, end) for f, end in zip(found, cuts))))

    t = k
    while t < n:
        if ups[t - k] not in _OPENING_WORDS:
            if sql[starts[t]] == "(" and starts[t] in toks.partner:
                t = bisect_left(starts, toks.partner[starts[t]], t)
            t += 1
            continue
        qualified = t + 1 < n and ends[t] == starts[t + 1] and (
            sql[starts[t + 1]] == ".")
        if qualified or t > k and not (
            toks.is_word(t - 1) or toks.is_string(t - 1)
            or sql[starts[t - 1]] in ")]*`"
        ):
            t += 1
        elif t > k and is_set_operator(t):
            close_branch(ends[t - 1])
            t += 2 if word(t + 1) in _SET_QUANTIFIERS else 1
            b_lo, rank, body_tok, found = (
                starts[t] if t < n else hi), -1, t, []
        elif (hit := opener(t)) and (rank < 0 or t > body_tok) and (
            _CLAUSES[hit[0]] > rank
            or _CLAUSES[hit[0]] == rank == _CLAUSES["JOIN"]
        ) and _CLAUSES[hit[0]] != _SET_RANK:
            found.append((hit[0], starts[t], ends[hit[1]]))
            rank, body_tok, t = _CLAUSES[hit[0]], hit[1] + 1, hit[1] + 1
        else:
            t += 1
    close_branch(ends[n - 1] if n > k else lo)
    return tuple(branches)

# name → Spark name (plain rename, argument order preserved)
RENAMES: dict[str, str] = {
    "tuple": "struct",  # auto-names fields col1..colN (1-based as CH)
    "isNaN": "isnan",
    "countIf": "count_if",
    "toYear": "year",
    "toMonth": "month",
    "toDayOfMonth": "day",
    "toHour": "hour",
    "toMinute": "minute",
    "lengthUTF8": "char_length",
    "replaceRegexpAll": "regexp_replace",
    "replaceAll": "replace",
    "startsWith": "startswith",
    "endsWith": "endswith",
    "xxHash64": "xxhash64",
    "MD5": "md5",
    "arrayDistinct": "array_distinct",
    "arraySort": "array_sort",
    "arrayConcat": "concat",
    "arrayStringConcat": "array_join",
    "indexOf": "array_position",
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "mapContains": "map_contains_key",
    "mapFromArrays": "map_from_arrays",
    "ifNull": "nvl",
    "nullIf": "nullif",
    "firstValue": "first_value",
    "lastValue": "last_value",
    # statistical aggregates: CH camelCase → Spark snake_case (skewPop
    # matches Spark's skewness population formula; kurtPop is a
    # TEMPLATE — CH returns NON-excess kurtosis, Spark's kurtosis is
    # excess, off by exactly 3)
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    "skewPop": "skewness",
    "bitCount": "bit_count",
    "initCap": "initcap",
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    "any": "any_value",
    "anyLast": "any_value",  # CH: last seen; both are order-arbitrary
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "arrayJoin": "explode",
    # arrays
    "arraySlice": "slice",
    "arrayReverse": "reverse",
    "arrayFlatten": "flatten",
    "arrayZip": "arrays_zip",
    # arrays_zip PADS the shorter side with NULL — exactly the
    # Unaligned contract (plain arrayZip's equal-length throw is a
    # documented delta of the shared mapping)
    "arrayZipUnaligned": "arrays_zip",
    # "assume sorted" is a performance hint, not a semantic change
    "indexOfAssumeSorted": "array_position",
    # CH's internal-column-type spelling of toTypeName
    "toColumnTypeName": "typeof",
    "mid": "substring",
    "arrayMin": "array_min",
    "arrayMax": "array_max",
    "arrayIntersect": "array_intersect",
    "arrayPushBack": "array_append",
    "arrayPushFront": "array_prepend",
    # strings
    "concatWithSeparator": "concat_ws",
    "leftPad": "lpad",
    "rightPad": "rpad",
    "reverseUTF8": "reverse",
    "base64Encode": "base64",
    # dates
    "toQuarter": "quarter",
    "toDayOfYear": "dayofyear",
    "toUnixTimestamp": "unix_timestamp",
    # round-10 audit batch: direct renames (Spark args/orders match;
    # lpad/rpad/levenshtein are char-based = the UTF8 CH variants)
    "leftPadUTF8": "lpad",
    "rightPadUTF8": "rpad",
    "initcapUTF8": "initcap",
    "editDistanceUTF8": "levenshtein",
    "dateTrunc": "date_trunc",
    "makeDateTime": "make_timestamp",
    "JSONExtractKeys": "json_object_keys",
    "JSONArrayLength": "json_array_length",
    # round-10 wave 2
    "sprintf": "format_string",
    "concatAssumeInjective": "concat",  # injectivity is a CH hint
    "denseRank": "dense_rank",
    "percentRank": "percent_rank",
}

# name → template over translated args ({0}, {1}, ...)
TEMPLATES: dict[str, str] = {
    "toStartOfDay": "date_trunc('DAY', {0})",
    "toStartOfMonth": "date_trunc('MONTH', {0})",
    "toStartOfWeek": "date_trunc('WEEK', {0})",
    "toStartOfHour": "date_trunc('HOUR', {0})",
    "toStartOfMinute": "date_trunc('MINUTE', {0})",
    "toYYYYMM": "cast(date_format({0}, 'yyyyMM') as int)",
    "toDate": "cast({0} as date)",
    "toDateTime": "cast({0} as timestamp)",
    "toString": "cast({0} as string)",
    "toInt8": "cast({0} as tinyint)",
    "toInt16": "cast({0} as smallint)",
    "toInt32": "cast({0} as int)",
    "toInt64": "cast({0} as bigint)",
    "toUInt8": "cast({0} as int)",
    "toUInt16": "cast({0} as int)",
    "toUInt32": "cast({0} as bigint)",
    "toUInt64": "cast({0} as bigint)",
    "toFloat32": "cast({0} as float)",
    "toFloat64": "cast({0} as double)",
    "toDecimal64": "cast({0} as decimal(18, {1}))",
    "SHA256": "sha2({0}, 256)",
    "sumIf": "sum(CASE WHEN {1} THEN {0} END)",
    "avgIf": "avg(CASE WHEN {1} THEN {0} END)",
    "minIf": "min(CASE WHEN {1} THEN {0} END)",
    "maxIf": "max(CASE WHEN {1} THEN {0} END)",
    "uniq": "approx_count_distinct({0})",
    "uniqCombined": "approx_count_distinct({0})",
    "uniqCombined64": "approx_count_distinct({0})",
    "uniqHLL12": "approx_count_distinct({0})",
    "uniqExact": "count(DISTINCT {0})",
    "median": "percentile_approx({0}, 0.5)",
    "substringIndex": "substring_index({0}, {1}, {2})",
    "regexpExtract": "regexp_extract({0}, {1}, {2})",
    "toJSONString": "to_json({0})",
    "toBool": "cast({0} as boolean)",
    "toInt128": "cast({0} as decimal(38,0))",
    "toInt256": "cast({0} as decimal(38,0))",
    "toUInt128": "cast({0} as decimal(38,0))",
    "isValidJSON": "(try_parse_json({0}) IS NOT NULL)",
    "isIPv4String": (
        "({0} RLIKE '^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\\\.)"
        "{{3}}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$')"
    ),
    "IPv4NumToString": (
        "concat((({0}) div 16777216) % 256, '.', (({0}) div 65536) % 256, "
        "'.', (({0}) div 256) % 256, '.', ({0}) % 256)"
    ),
    "IPv4StringToNum": (
        "aggregate(transform(split({0}, '\\\\.'), "
        "__o -> cast(__o as bigint)), cast(0 as bigint), "
        "(__a, __o) -> __a * 256 + __o)"
    ),
    "countSubstringsCaseInsensitive": (
        "((length(lower({0})) - length(replace(lower({0}), lower({1}),"
        " ''))) DIV length({1}))"
    ),
    # CH kurtPop is NON-excess kurtosis (mu4/sigma^4); Spark's kurtosis
    # returns EXCESS kurtosis (subtracts 3) — shift back
    "kurtPop": "(kurtosis({0}) + 3)",
    # Samp variants: CH divides the central moments by the SAMPLE
    # variance (varSamp = m2·n/(n−1)), Spark's skewness/kurtosis by the
    # population variance — rescale by (varPop/varSamp)^k = ((n−1)/n)^k
    "skewSamp": (
        "(skewness({0}) * pow((count({0}) - 1)"
        " / cast(count({0}) as double), 1.5))"
    ),
    "kurtSamp": (
        "((kurtosis({0}) + 3) * pow((count({0}) - 1)"
        " / cast(count({0}) as double), 2))"
    ),
    "medianExact": "percentile({0}, 0.5)",
    "splitByChar": "split({1}, {0})",
    "position": "instr({0}, {1})",
    "has": "array_contains({0}, {1})",
    "empty": "(length({0}) = 0)",
    "notEmpty": "(length({0}) > 0)",
    "intDiv": "(({0}) DIV ({1}))",
    "modulo": "(({0}) % ({1}))",
    "positiveModulo": "pmod({0}, {1})",
    # wave 7 (25.x): the zero-divisor → NULL arithmetic triple
    # (divideOrNull shipped earlier; these complete the family).
    # Divisor single-bound via the transform wrapper — the guard and
    # the operation must see the SAME value of a non-deterministic
    # divisor (r14 ADVICE: same double-bind class as arraySum).
    "moduloOrNull": (
        "element_at(transform(array({1}), __d -> CASE WHEN __d = 0 "
        "THEN NULL ELSE ({0}) % __d END), 1)"
    ),
    "intDivOrNull": (
        "element_at(transform(array({1}), __d -> CASE WHEN __d = 0 "
        "THEN NULL ELSE ({0}) DIV __d END), 1)"
    ),
    "positiveModuloOrNull": (
        "element_at(transform(array({1}), __d -> CASE WHEN __d = 0 "
        "THEN NULL ELSE pmod({0}, __d) END), 1)"
    ),
    # wave 7: byte-offset overlay (24.7); the UTF8 variant maps below
    # (Spark's overlay is character-based — identical for the
    # single-byte data this engine's string columns carry; documented
    # delta for multi-byte byte offsets)
    "space": "repeat(' ', {0})",
    "positive_modulo": "pmod({0}, {1})",  # documented alias (r12)
    "JSONExtractString": "get_json_object({0}, concat('$.', {1}))",
    # bit ops are operators in Spark, functions in CH
    "bitAnd": "(({0}) & ({1}))",
    "bitOr": "(({0}) | ({1}))",
    "bitXor": "(({0}) ^ ({1}))",
    "bitNot": "(~{0})",
    "bitShiftLeft": "shiftleft({0}, {1})",
    "bitShiftRight": "shiftright({0}, {1})",
    # CH argMax/argMin ignore rows whose ARG is NULL (and, like
    # max_by, rows whose ordering value is NULL); Spark's max_by
    # happily returns a NULL arg from the max-key row (fuzz r13 seed
    # 477 — duck/CH pick 'x' from [(NULL,10),('x',5)], Spark NULL).
    # NULL-ing the ordering key on NULL args makes max_by skip them.
    "argMax": "max_by({0}, CASE WHEN ({0}) IS NOT NULL THEN {1} END)",
    "argMin": "min_by({0}, CASE WHEN ({0}) IS NOT NULL THEN {1} END)",
    # CH corr returns nan on zero variance (float 0/0); Spark 4's
    # corr THROWS DIVIDE_BY_ZERO under ANSI for any constant-valued
    # side (fuzz r13 seed 461). Rebuild from covar/stddev with
    # try_divide; the CASE pair-guards keep the stddevs on the same
    # row set corr uses (pairs where BOTH sides are non-NULL).
    # The min=max guards detect a constant side EXACTLY: when a
    # DISTINCT aggregate shares the select list, Spark's Expand-based
    # plan computes the moments in a different merge order and a
    # constant side's variance comes back as ~1e-16 noise instead of
    # exact 0 — try_divide then amplifies noise into a garbage
    # correlation (fuzz r13 seed 2311: 0.0216 where CH gives nan).
    "corr": (
        "CASE WHEN min(CASE WHEN ({0}) IS NOT NULL AND ({1}) IS NOT "
        "NULL THEN {0} END) = max(CASE WHEN ({0}) IS NOT NULL AND "
        "({1}) IS NOT NULL THEN {0} END) OR "
        "min(CASE WHEN ({0}) IS NOT NULL AND ({1}) IS NOT NULL "
        "THEN {1} END) = max(CASE WHEN ({0}) IS NOT NULL AND ({1}) "
        "IS NOT NULL THEN {1} END) THEN double('NaN') "
        "ELSE coalesce(try_divide(covar_pop({0}, {1}), "
        "stddev_pop(CASE WHEN ({0}) IS NOT NULL AND ({1}) IS NOT "
        "NULL THEN {0} END) * "
        "stddev_pop(CASE WHEN ({0}) IS NOT NULL AND ({1}) IS NOT "
        "NULL THEN {1} END)), double('NaN')) END"
    ),
    # type-fixups: CH returns string/timestamp where Spark differs
    # CH sign → Int8; Spark's sign() returns DOUBLE, which poisons
    # integer compositions (sum(sign(x)+k) turns double — fuzz r13)
    "sign": "CAST(sign({0}) AS TINYINT)",
    "base64Decode": "cast(unbase64({0}) as string)",
    "fromUnixTimestamp": "cast(from_unixtime({0}) as timestamp)",
    "toStartOfQuarter": "date_trunc('QUARTER', {0})",
    # CH toDayOfWeek: 1=Monday..7=Sunday; Spark dayofweek: 1=Sunday..7=Saturday
    "toDayOfWeek": "((dayofweek({0}) + 5) % 7 + 1)",
    # array reductions (no Spark builtin): HOF folds, double accumulator
    # CH arraySum is TYPE-PRESERVING-ish: Int arrays sum to Int64,
    # Float to Float64 (a DOUBLE-init fold returned 6.0 for [1,2,3],
    # poisoning integer compositions — r13 fuzz seed 20186), Decimal
    # stays Decimal at full Decimal128 precision.
    # Two r13 ADVICE fixes baked into this shape:
    #  (1) the argument is bound ONCE via a single-element transform
    #      wrapper (the old template interpolated {0} three times —
    #      an expensive/non-deterministic array expression was
    #      re-evaluated, and a non-deterministic one could disagree
    #      between init and fold);
    #  (2) the init is a SATURATED zero — elem * CAST(0 AS BIGINT):
    #      int→BIGINT 0, float/double keep their type, and
    #      decimal(p,s)→decimal(38,s) 0 (Spark caps mul precision at
    #      38), which is addition's fixed point, so
    #      acc + coalesce(x, 0) can no longer widen past the acc type
    #      (the old elem-typed init hit DATATYPE_MISMATCH on DECIMAL
    #      arrays: d(23,2) init + x widened to d(24,2)). Residual
    #      edge: decimal scale > 6 with precision near 38 can lose
    #      scale to Spark's precision-loss rule — same rule any Spark
    #      decimal arithmetic obeys.
    # NULL elements are skipped (CH rule); a NULL array returns NULL.
    "arraySum": (
        "element_at(transform(array({0}), __chas -> "
        "aggregate(__chas, "
        "coalesce(try_element_at(__chas, 1), 0) * CAST(0 AS BIGINT), "
        "(acc, x) -> acc + coalesce(x, 0))), 1)"
    ),
    "arrayAvg": (
        "(aggregate({0}, cast(0 as double), (acc, x) -> acc + x)"
        " / greatest(size({0}), 1))"
    ),
    "arrayUniq": "size(array_distinct({0}))",
    # CH arrayElement: 1-based, negative indexes from the end — Spark
    # element_at's contract, via the try_ variant because 4.1.2's ANSI
    # element_at returns the LAST element for a NULL index (upstream
    # defect; CH arr[NULL] is NULL). Out-of-range → NULL here vs CH's
    # type default (documented delta). No cast here: the dispatch
    # branch adds CAST(… AS INT) only for array-classified bases
    # (maps keep their key type — r15 self-review).
    "arrayElement": "try_element_at({0}, {1})",
    "countEqual": "size(filter({0}, __ce -> __ce = ({1})))",
    "arrayPopBack": "slice({0}, 1, greatest(size({0}) - 1, 0))",
    "arrayPopFront": "slice({0}, 2, greatest(size({0}) - 1, 0))",
    # URL family → parse_url
    "protocol": "parse_url({0}, 'PROTOCOL')",
    "domain": "parse_url({0}, 'HOST')",
    "path": "parse_url({0}, 'PATH')",
    "queryString": "parse_url({0}, 'QUERY')",
    "extractURLParameter": "parse_url({0}, 'QUERY', {1})",
    # arithmetic function forms (CH exposes operators as functions too)
    "plus": "(({0}) + ({1}))",
    "minus": "(({0}) - ({1}))",
    "multiply": "(({0}) * ({1}))",
    "divide": "(({0}) / ({1}))",
    "negate": "(-({0}))",
    # strings
    # extract/extractAll handled in translate() (capture-group heuristic)
    "splitByRegexp": "split({1}, {0})",
    # literal (non-regex) occurrence count, like CH
    "countSubstrings": (
        "((length({0}) - length(replace({0}, {1}, ''))) DIV length({1}))"
    ),
    "trimLeft": "ltrim({0})",
    "trimRight": "rtrim({0})",
    "toSecond": "second({0})",
    "toISOWeek": "weekofyear({0})",
    "yesterday": "date_sub(current_date(), 1)",
    "now64": "current_timestamp()",
    # arrayCompact: drop CONSECUTIVE duplicates (not array_distinct)
    "arrayCompact": (
        "aggregate({0}, slice({0}, 1, 0), (acc, x) -> CASE"
        " WHEN size(acc) > 0 AND element_at(acc, -1) = x THEN acc"
        " ELSE concat(acc, array(x)) END)"
    ),
    # arrayDifference: [0, a1-a0, a2-a1, ...] — index-lambda form so an
    # EMPTY array yields [] instead of an out-of-bounds error under
    # ANSI mode (element_at index i is the 1-based previous element of
    # 0-based position i, so it is only evaluated for i >= 1)
    "arrayDifference": (
        "transform({0}, (x, i) -> CASE WHEN i = 0 THEN x - x"
        " ELSE x - element_at({0}, i) END)"
    ),
    # CH higher-order fns take the lambda FIRST; Spark takes it second.
    # The arrow syntax (x -> expr) is identical in both dialects.
    "arrayMap": "transform({1}, {0})",
    "arrayFilter": "filter({1}, {0})",
    "arrayExists": "exists({1}, {0})",
    "arrayAll": "forall({1}, {0})",
    "arrayCount": "size(filter({1}, {0}))",
    # arrayFirst: CH returns a default-constructed value (0/'') when
    # nothing matches; Spark NULL is the closest portable analog
    "arrayFirst": "try_element_at(filter({1}, {0}), 1)",
    "arrayFirstIndex": (
        "coalesce(array_position(transform({1}, {0}), true), 0)"
    ),
    "exp10": "pow(cast(10 as double), {0})",
    "monthName": "date_format({0}, 'MMMM')",
    "toDecimal32": "cast({0} as decimal(9, {1}))",
    # toInterval*: typed interval constructors → make_interval /
    # make_ym_interval (type-preserving date arithmetic, same family
    # as add/subtract above)
    "toIntervalSecond": "make_interval(0, 0, 0, 0, 0, 0, {0})",
    "toIntervalMinute": "make_interval(0, 0, 0, 0, 0, {0}, 0)",
    "toIntervalHour": "make_interval(0, 0, 0, 0, {0}, 0, 0)",
    "toIntervalDay": "make_interval(0, 0, 0, {0}, 0, 0, 0)",
    "toIntervalWeek": "make_interval(0, 0, {0}, 0, 0, 0, 0)",
    "toIntervalMonth": "make_ym_interval(0, {0})",
    "toIntervalQuarter": "make_ym_interval(0, 3 * ({0}))",
    "toIntervalYear": "make_ym_interval({0}, 0)",
    # round-8 batch 2: date keys, bit/int math, tokenization, JSON typed
    "toYYYYMMDD": "cast(date_format({0}, 'yyyyMMdd') as int)",
    "toYYYYMMDDhhmmss": (
        "cast(date_format({0}, 'yyyyMMddHHmmss') as bigint)"
    ),
    "toStartOfYear": "date_trunc('YEAR', {0})",
    "toStartOfSecond": "date_trunc('SECOND', {0})",
    "today": "current_date()",
    "toRelativeDayNum": "datediff(cast({0} as date), DATE'1970-01-01')",
    "exp2": "pow(2, {0})",
    "intExp2": "cast(pow(2, {0}) as bigint)",
    "intExp10": "cast(pow(10, {0}) as bigint)",
    "bitTest": "(shiftright({0}, {1}) & 1)",
    # CH tokens(): alphanumeric runs; split keeps boundary empties —
    # filter them to match
    "tokens": (
        "filter(split({0}, '[^\\\\p{{L}}\\\\p{{N}}]+'), x -> x != '')"
    ),
    # character n-grams (CH ngrams(s, n))
    "ngrams": (
        "transform(sequence(1, greatest(length({0}) - ({1}) + 1, 0)), "
        "__i -> substring({0}, __i, {1}))"
    ),
    "mapFilter": "map_filter({1}, {0})",  # CH lambda-first
    "hasAll": "(size(array_except({1}, {0})) = 0)",
    "hasAny": "arrays_overlap({0}, {1})",
    # ------------------------------------------------------------------
    # roaring-bitmap family (round 13) — the EXACT tier: a "bitmap"
    # value IS its sorted distinct element array. CH's roaring container
    # is an engine-internal ENCODING of the same integer set; every
    # documented bitmap operation is a set operation, so the array form
    # is semantically identical (bitmapToArray(b) is the identity here,
    # and in CH it returns the ascending element list). Element domain:
    # integers (CH bitmaps are UInt8..UInt64). Scale note: state size
    # is O(cardinality) — same as CH's roaring worst case; for
    # cardinality-only questions prefer uniq/uniqExact (HLL tier).
    "bitmapBuild": "array_sort(array_distinct({0}))",
    "bitmapToArray": "{0}",
    "bitmapCardinality": "CAST(size({0}) AS BIGINT)",
    # CH empty-bitmap conventions: min() of empty = UINT32_MAX,
    # max() of empty = 0 (documented, pinned in test_bitmap.py)
    "bitmapMin": "coalesce(array_min({0}), 4294967295)",
    "bitmapMax": "coalesce(array_max({0}), 0)",
    "bitmapContains": "array_contains({0}, {1})",
    "bitmapHasAny": "arrays_overlap({0}, {1})",
    "bitmapHasAll": "(size(array_except({1}, {0})) = 0)",
    "bitmapAnd": "array_sort(array_intersect({0}, {1}))",
    "bitmapOr": "array_sort(array_union({0}, {1}))",
    "bitmapXor": (
        "array_sort(array_union(array_except({0}, {1}), "
        "array_except({1}, {0})))"
    ),
    "bitmapAndnot": "array_sort(array_except({0}, {1}))",
    "bitmapAndCardinality": (
        "CAST(size(array_intersect({0}, {1})) AS BIGINT)"
    ),
    "bitmapOrCardinality": "CAST(size(array_union({0}, {1})) AS BIGINT)",
    "bitmapXorCardinality": (
        "CAST((size(array_except({0}, {1})) "
        "+ size(array_except({1}, {0}))) AS BIGINT)"
    ),
    "bitmapAndnotCardinality": (
        "CAST(size(array_except({0}, {1})) AS BIGINT)"
    ),
    # range_end is EXCLUSIVE, range_start inclusive (CH docs)
    "bitmapSubsetInRange": (
        "filter({0}, __b -> __b >= {1} AND __b < {2})"
    ),
    "bitmapSubsetLimit": (
        "slice(filter({0}, __b -> __b >= {1}), 1, CAST({2} AS INT))"
    ),
    # subBitmap offset is 0-based (unlike CH array indexing)
    "subBitmap": "slice({0}, CAST({1} AS INT) + 1, CAST({2} AS INT))",
    # value remap (from[i] -> to[i]); re-sort + re-dedup because remaps
    # can collide with existing members (the CH doc example does)
    "bitmapTransform": (
        "array_sort(array_distinct(transform({0}, __b -> "
        "coalesce(try_element_at(map_from_arrays({1}, {2}), __b), "
        "__b))))"
    ),
    # aggregate forms. groupBitmap(x) returns the CARDINALITY (UInt64
    # in CH). The And/Or/Xor forms aggregate bitmap COLUMNS: Or is the
    # distinct-union; And/Xor are folds over the collected group
    # (intersection / symmetric difference are not distributive over
    # per-element counting, so the fold runs on the grouped list —
    # bounded by the group's total bitmap payload, the same bound CH's
    # combine step has)
    "groupBitmap": "CAST(count(DISTINCT {0}) AS BIGINT)",
    "groupBitmapOr": (
        "CAST(size(array_distinct(flatten(collect_list({0})))) "
        "AS BIGINT)"
    ),
    "groupBitmapAnd": (
        "CAST(size(coalesce(aggregate(collect_list({0}), "
        "CAST(NULL AS ARRAY<BIGINT>), (__acc, __b) -> "
        "CASE WHEN __acc IS NULL THEN __b "
        "ELSE array_intersect(__acc, __b) END), array())) AS BIGINT)"
    ),
    "groupBitmapXor": (
        "CAST(size(aggregate(collect_list({0}), "
        "CAST(array() AS ARRAY<BIGINT>), (__acc, __b) -> "
        "array_union(array_except(__acc, __b), "
        "array_except(__b, __acc)))) AS BIGINT)"
    ),
    "countMatches": "size(regexp_extract_all({0}, {1}, 0))",
    # r12 wave 5: (?i) is Java regex's inline CI flag
    "countMatchesCaseInsensitive": (
        "size(regexp_extract_all({0}, concat('(?i)', {1}), 0))"
    ),
    # hasSubsequence: needle chars appear in order (not contiguous) —
    # a single JVM-side fold advancing a pointer into the needle; the
    # UTF8 spellings are identical (Spark strings are unicode); split
    # on '' yields a trailing '' element, which never matches a char
    "hasSubsequence": (
        "(aggregate(split({0}, ''), 0, (__hp, __hc) -> "
        "CASE WHEN __hp < length({1}) AND __hc = "
        "substring({1}, __hp + 1, 1) THEN __hp + 1 ELSE __hp END) "
        ">= length({1}))"
    ),
    "hasSubsequenceUTF8": (
        "(aggregate(split({0}, ''), 0, (__hp, __hc) -> "
        "CASE WHEN __hp < length({1}) AND __hc = "
        "substring({1}, __hp + 1, 1) THEN __hp + 1 ELSE __hp END) "
        ">= length({1}))"
    ),
    # pointer and target length both measured over lower({1}) — case
    # folds can change string LENGTH ('İ' → 'i̇'), so comparing the
    # lower()-advanced pointer against length of the ORIGINAL needle
    # mis-evaluates (ADVICE r12)
    "hasSubsequenceCaseInsensitive": (
        "(aggregate(split(lower({0}), ''), 0, (__hp, __hc) -> "
        "CASE WHEN __hp < length(lower({1})) AND __hc = "
        "substring(lower({1}), __hp + 1, 1) THEN __hp + 1 "
        "ELSE __hp END) >= length(lower({1})))"
    ),
    "hasSubsequenceCaseInsensitiveUTF8": (
        "(aggregate(split(lower({0}), ''), 0, (__hp, __hc) -> "
        "CASE WHEN __hp < length(lower({1})) AND __hc = "
        "substring(lower({1}), __hp + 1, 1) THEN __hp + 1 "
        "ELSE __hp END) >= length(lower({1})))"
    ),
    # stringBytesUniq/Entropy (r12): distinct-byte count and Shannon
    # entropy over the UTF-8 bytes — binary substring per position;
    # empty strings guard the sequence(1,0) DESCENDING hazard
    "stringBytesUniq": (
        "(CASE WHEN octet_length({0}) = 0 THEN 0 ELSE "
        "size(array_distinct(transform(sequence(1, "
        "octet_length({0})), __bi -> substring(CAST({0} AS BINARY), "
        "__bi, 1)))) END)"
    ),
    "stringBytesEntropy": (
        "(CASE WHEN octet_length({0}) = 0 THEN CAST(0.0 AS DOUBLE) "
        "ELSE element_at(transform(array(transform(sequence(1, "
        "octet_length({0})), __bi -> substring(CAST({0} AS BINARY), "
        "__bi, 1))), __bs -> aggregate(array_distinct(__bs), "
        "CAST(0.0 AS DOUBLE), (__ba, __bd) -> __ba - "
        "(size(filter(__bs, __bx -> __bx = __bd)) / "
        "CAST(size(__bs) AS DOUBLE)) * log2(size(filter(__bs, "
        "__bx -> __bx = __bd)) / CAST(size(__bs) AS DOUBLE)))), 1) "
        "END)"
    ),
    # any/anyLast RESPECT NULLS spellings (r12): Spark's any_value
    # without the ignore-nulls flag IS respect-nulls (an arbitrary
    # survivor, NULL included — CH is equally arbitrary here, so no
    # deterministic min/max stand-in exists once NULL must be eligible)
    "anyRespectNulls": "first({0})",
    "anyLastRespectNulls": "last({0})",
    "anyLast_respect_nulls": "last({0})",
    "anyValueRespectNulls": "first({0})",
    "any_value_respect_nulls": "first({0})",
    "positionCaseInsensitive": "instr(lower({0}), lower({1}))",
    "multiSearchAny": "exists({1}, __n -> instr({0}, __n) > 0)",
    "multiSearchAnyUTF8": "exists({1}, __n -> instr({0}, __n) > 0)",
    "multiSearchAnyCaseInsensitive": (
        "exists({1}, __n -> instr(lower({0}), lower(__n)) > 0)"
    ),
    "multiSearchAnyCaseInsensitiveUTF8": (
        "exists({1}, __n -> instr(lower({0}), lower(__n)) > 0)"
    ),
    # CH 24.x: NULL instead of an error on division by zero — exactly
    # Spark's try_divide
    "divideOrNull": "try_divide({0}, {1})",
    # Spark strings are UTF-8 natively — the CH *UTF8 variants are the
    # plain functions
    "leftUTF8": "left({0}, {1})",
    "rightUTF8": "right({0}, {1})",
    "substringUTF8": "substring({0}, {1}, {2})",
    "positionUTF8": "instr({0}, {1})",
    "upperUTF8": "upper({0})",
    "lowerUTF8": "lower({0})",
    "translateUTF8": "translate({0}, {1}, {2})",
    "trimBoth": "trim({0})",
    "trimLeft": "ltrim({0})",
    "trimRight": "rtrim({0})",
    "match": "rlike({0}, {1})",
    "notLike": "(NOT ({0} LIKE {1}))",
    # the engine pins the session timezone to UTC (session.py), so CH's
    # toTimeZone(t, tz) — same instant, displayed in tz — is
    # from_utc_timestamp; formatDateTime's tz-rejection points here
    "toTimeZone": "from_utc_timestamp({0}, {1})",
    "parseDateTimeBestEffort": "cast({0} as timestamp)",
    "toUnixTimestamp64Milli": "unix_millis({0})",
    "assumeNotNull": "{0}",
    "toNullable": "{0}",
    "isFinite": "(NOT isnan({0}) AND abs({0}) <> double('Infinity'))",
    "isInfinite": "(abs({0}) = double('Infinity'))",
    "countEqual": "size(filter({0}, __y -> __y <=> ({1})))",
    "arrayElement": "try_element_at({0}, {1})",
    "avgWeighted": "(sum(({0}) * ({1})) / sum({1}))",
    "sumCount": "struct(sum({0}) AS sum, count({0}) AS count)",
    "anyHeavy": "any_value({0})",
    "uniqTheta": "approx_count_distinct({0})",
    # slope between the extreme-x points of the group
    "boundingRatio": (
        "((max_by({1}, {0}) - min_by({1}, {0})) "
        "/ (max({0}) - min({0})))"
    ),
    "intDivOrZero": "(CASE WHEN ({1}) = 0 THEN 0 ELSE ({0}) DIV ({1}) END)",
    "moduloOrZero": "(CASE WHEN ({1}) = 0 THEN 0 ELSE ({0}) % ({1}) END)",
    "ifNotFinite": (
        "(CASE WHEN isnan({0}) OR abs({0}) = double('Infinity') "
        "THEN {1} ELSE {0} END)"
    ),
    "JSONExtractInt": (
        "cast(get_json_object({0}, concat('$.', {1})) as bigint)"
    ),
    "JSONExtractFloat": (
        "cast(get_json_object({0}, concat('$.', {1})) as double)"
    ),
    "JSONExtractBool": (
        "cast(get_json_object({0}, concat('$.', {1})) as boolean)"
    ),
    # key-list based (round-10 upgrade): exact even when the value is
    # JSON null — get_json_object cannot tell null from missing.
    # Non-object JSON (array/scalar/malformed) → FALSE like CH, never
    # NULL (json_object_keys yields NULL there, which would silently
    # flip NOT-filters); NULL input stays NULL
    "JSONHas": (
        "(CASE WHEN {0} IS NULL THEN NULL ELSE "
        "coalesce(array_contains(json_object_keys({0}), {1}), false) "
        "END)"
    ),
    "simpleJSONExtractString": (
        "get_json_object({0}, concat('$.', {1}))"
    ),
    "visitParamExtractString": (
        "get_json_object({0}, concat('$.', {1}))"
    ),
    # round-8 batch: common date/array/display additions
    "toStartOfFifteenMinutes": (
        "to_timestamp(floor(unix_timestamp({0}) / 900) * 900)"
    ),
    "timeSlot": "to_timestamp(floor(unix_timestamp({0}) / 1800) * 1800)",
    "toLastDayOfMonth": "last_day({0})",
    "toMonday": "cast(date_trunc('WEEK', {0}) as date)",
    # sub-day units: timestampadd promotes Date→Timestamp, matching
    # CH (addHours(Date) returns DateTime). Day-and-coarser units use
    # interval ADDITION instead, which preserves the operand type
    # (Date stays Date, DateTime keeps its time-of-day) exactly like
    # CH — timestampadd/add_months/date_add would force one type.
    "addHours": "timestampadd(HOUR, {1}, {0})",
    "addMinutes": "timestampadd(MINUTE, {1}, {0})",
    "addSeconds": "timestampadd(SECOND, {1}, {0})",
    "addDays": "({0} + make_interval(0, 0, 0, {1}))",
    "addWeeks": "({0} + make_interval(0, 0, {1}, 0))",
    "addMonths": "({0} + make_ym_interval(0, {1}))",
    "addYears": "({0} + make_ym_interval({1}, 0))",
    "subtractDays": "({0} - make_interval(0, 0, 0, {1}))",
    "subtractWeeks": "({0} - make_interval(0, 0, {1}, 0))",
    "subtractMonths": "({0} - make_ym_interval(0, {1}))",
    "subtractYears": "({0} - make_ym_interval({1}, 0))",
    "subtractHours": "timestampadd(HOUR, -({1}), {0})",
    "subtractMinutes": "timestampadd(MINUTE, -({1}), {0})",
    "subtractSeconds": "timestampadd(SECOND, -({1}), {0})",
    "arrayEnumerate": "sequence(1, size({0}))",
    # occurrence index of each element among its equals so far; the
    # O(n²) prefix re-scan is per-ROW-array work (arrays are short),
    # never per-table
    "arrayEnumerateUniq": (
        "transform({0}, (x, i) -> "
        "size(filter(slice({0}, 1, i + 1), y -> y = x)))"
    ),
    # prefix sums, accumulated in double (CH widens to the largest
    # numeric type; double is the engine-portable choice)
    "arrayCumSum": (
        "transform({0}, (x, i) -> aggregate(slice({0}, 1, i + 1), "
        "cast(0 as double), (a, v) -> a + v))"
    ),
    # 3-arg form only (the fill value): CH's 2-arg form pads with the
    # TYPE default, which Spark cannot synthesize generically
    "arrayResize": (
        "slice(concat({0}, array_repeat({2}, "
        "greatest(0, {1} - size({0})))), 1, {1})"
    ),
    # haversine on the CH mean-Earth radius (meters); CH's WGS84 great
    # circle agrees to <0.5% — pytest pins a known city pair
    "greatCircleDistance": (
        "(2 * 6371000.0 * asin(sqrt("
        "pow(sin(radians(({3}) - ({1})) / 2), 2) + "
        "cos(radians({1})) * cos(radians({3})) * "
        "pow(sin(radians(({2}) - ({0})) / 2), 2))))"
    ),
    # divisors stay integers: a 1024.0 literal parses as DECIMAL and
    # format_string('%f') rejects Decimal — cast the value side instead
    "formatReadableSize": (
        "CASE WHEN abs({0}) < 1024 THEN "
        "concat(format_string('%.2f', cast({0} as double)), ' B') "
        "WHEN abs({0}) < 1048576 THEN "
        "concat(format_string('%.2f', cast({0} as double) / 1024), ' KiB') "
        "WHEN abs({0}) < 1073741824 THEN "
        "concat(format_string('%.2f', cast({0} as double) / 1048576), "
        "' MiB') "
        "WHEN abs({0}) < 1099511627776 THEN "
        "concat(format_string('%.2f', cast({0} as double) / 1073741824), "
        "' GiB') "
        "ELSE concat(format_string('%.2f', "
        "cast({0} as double) / 1099511627776), ' TiB') END"
    ),
    # the 1000-based sibling (KB/MB/GB/TB, CH formatReadableDecimalSize)
    "formatReadableDecimalSize": (
        "CASE WHEN abs({0}) < 1000 THEN "
        "concat(format_string('%.2f', cast({0} as double)), ' B') "
        "WHEN abs({0}) < 1000000 THEN "
        "concat(format_string('%.2f', cast({0} as double) / 1000), ' KB') "
        "WHEN abs({0}) < 1000000000 THEN "
        "concat(format_string('%.2f', cast({0} as double) / 1000000), "
        "' MB') "
        "WHEN abs({0}) < 1000000000000 THEN "
        "concat(format_string('%.2f', cast({0} as double) / 1000000000), "
        "' GB') "
        "ELSE concat(format_string('%.2f', "
        "cast({0} as double) / 1000000000000), ' TB') END"
    ),
    # ---- URL family (Spark parse_url + regex; CH url-functions doc) --
    "domainWithoutWWW": (
        "regexp_replace(parse_url({0}, 'HOST'), '^www\\\\.', '')"
    ),
    "topLevelDomain": (
        "CASE WHEN parse_url({0}, 'HOST') LIKE '%.%' THEN "
        "element_at(split(parse_url({0}, 'HOST'), '\\\\.'), -1) "
        "ELSE '' END"
    ),
    "fragment": "parse_url({0}, 'REF')",
    "netloc": "parse_url({0}, 'AUTHORITY')",
    "pathFull": (
        "concat(parse_url({0}, 'PATH'), "
        "coalesce(concat('?', parse_url({0}, 'QUERY')), ''), "
        "coalesce(concat('#', parse_url({0}, 'REF')), ''))"
    ),
    # removes '?query' (keeps '#fragment'), and '#fragment' resp.
    "cutQueryString": "regexp_replace({0}, '\\\\?[^#]*', '')",
    "cutFragment": "regexp_replace({0}, '#.*$', '')",
    "cutQueryStringAndFragment": "regexp_replace({0}, '[?#].*$', '')",
    "port": (
        "cast(coalesce(nullif(regexp_extract({0}, "
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*:([0-9]+)', 1), ''), '0') "
        "as int)"
    ),
    # CH's non-Form variants are PERCENT-only: '+' stays literal (the
    # java URLDecoder behind url_decode/url_encode is form-encoding —
    # protect/undo the '+' handling; the Form variants map directly)
    "decodeURLComponent": "url_decode(replace({0}, '+', '%2B'))",
    # NOTE: Spark url_encode is form-encoding (space → '+'); CH uses
    # %20 — divergence documented, identical for URL-safe inputs
    "encodeURLComponent": "replace(url_encode({0}), '+', '%20')",
    # ---- string distance / phonetic (Spark natives) -----------------
    "levenshteinDistance": "levenshtein({0}, {1})",
    "editDistance": "levenshtein({0}, {1})",
    # wave 6: Spark levenshtein is codepoint-based — exactly the UTF8
    # variant's semantics (the byte variant coincides on ASCII)
    "levenshteinDistanceUTF8": "levenshtein({0}, {1})",
    # ---- datetime additions -----------------------------------------
    "toMillisecond": (
        "cast((unix_micros({0}) % 1000000) div 1000 as int)"
    ),
    "toStartOfTenMinutes": (
        "to_timestamp(floor(unix_timestamp({0}) / 600) * 600)"
    ),
    "toStartOfFiveMinutes": (
        "to_timestamp(floor(unix_timestamp({0}) / 300) * 300)"
    ),
    # CH toTime: keep time-of-day, move the date to 1970-01-02
    "toTime": (
        "(cast('1970-01-02 00:00:00' as timestamp) "
        "+ ({0} - date_trunc('DAY', {0})))"
    ),
    "timestamp": "cast({0} as timestamp)",
    "toModifiedJulianDay": (
        "datediff(cast({0} as date), cast('1858-11-17' as date))"
    ),
    "fromModifiedJulianDay": (
        "date_add(cast('1858-11-17' as date), cast({0} as int))"
    ),
    # snowflake id: ms epoch = (id >> 22) + twitter epoch 1288834974657
    "snowflakeToDateTime": (
        "timestamp_millis(({0} div 4194304) + 1288834974657)"
    ),
    "generateUUIDv4": "uuid()",
    "toUUID": "lower(cast({0} as string))",
    # ---- arrays ------------------------------------------------------
    # CH arrayFold(λ(acc, x), arr, init) → Spark aggregate(arr, init, λ)
    "arrayFold": "aggregate({1}, {2}, {0})",
    "arrayShingles": (
        "transform(sequence(1, greatest(size({0}) - ({1}) + 1, 0)), "
        "__i -> slice({0}, __i, {1}))"
    ),
    "arrayRotateLeft": (
        "CASE WHEN size({0}) = 0 THEN {0} ELSE "
        "concat(slice({0}, pmod({1}, size({0})) + 1, "
        "size({0}) - pmod({1}, size({0}))), "
        "slice({0}, 1, pmod({1}, size({0})))) END"
    ),
    "arrayRotateRight": (
        "CASE WHEN size({0}) = 0 THEN {0} ELSE "
        "concat(slice({0}, size({0}) - pmod({1}, size({0})) + 1, "
        "pmod({1}, size({0}))), "
        "slice({0}, 1, size({0}) - pmod({1}, size({0})))) END"
    ),
    # ---- maps --------------------------------------------------------
    # merge where the SECOND map's value wins on key collision (Spark's
    # map_concat throws on duplicates under the default dedup policy)
    "mapUpdate": (
        "map_concat(map_filter({0}, (k, v) -> "
        "NOT array_contains(map_keys({1}), k)), {1})"
    ),
    # humanized duration (CH constants: year = 365 d, month = 30.5 d;
    # zero units skipped — concat_ws drops the NULL parts; singular /
    # plural per unit; whole seconds only, 0 input → '0 seconds')
    # humanized duration (CH constants: year = 365 d, month = 30.5 d;
    # remainders CHAIN through the month because 30.5 d is not a
    # multiple of a day; zero units skipped — concat_ws drops NULL
    # parts; singular/plural per unit; whole seconds; 0 input →
    # '0 seconds')
    "formatReadableTimeDelta": "CASE WHEN cast({0} as bigint) = 0 THEN '0 seconds' ELSE concat_ws(', ', CASE WHEN (cast({0} as bigint) div 31536000) > 0 THEN concat((cast({0} as bigint) div 31536000), ' year', CASE WHEN (cast({0} as bigint) div 31536000) = 1 THEN '' ELSE 's' END) END, CASE WHEN ((cast({0} as bigint) % 31536000) div 2635200) > 0 THEN concat(((cast({0} as bigint) % 31536000) div 2635200), ' month', CASE WHEN ((cast({0} as bigint) % 31536000) div 2635200) = 1 THEN '' ELSE 's' END) END, CASE WHEN (((cast({0} as bigint) % 31536000) % 2635200) div 86400) > 0 THEN concat((((cast({0} as bigint) % 31536000) % 2635200) div 86400), ' day', CASE WHEN (((cast({0} as bigint) % 31536000) % 2635200) div 86400) = 1 THEN '' ELSE 's' END) END, CASE WHEN ((((cast({0} as bigint) % 31536000) % 2635200) % 86400) div 3600) > 0 THEN concat(((((cast({0} as bigint) % 31536000) % 2635200) % 86400) div 3600), ' hour', CASE WHEN ((((cast({0} as bigint) % 31536000) % 2635200) % 86400) div 3600) = 1 THEN '' ELSE 's' END) END, CASE WHEN ((cast({0} as bigint) % 3600) div 60) > 0 THEN concat(((cast({0} as bigint) % 3600) div 60), ' minute', CASE WHEN ((cast({0} as bigint) % 3600) div 60) = 1 THEN '' ELSE 's' END) END, CASE WHEN (cast({0} as bigint) % 60) > 0 THEN concat((cast({0} as bigint) % 60), ' second', CASE WHEN (cast({0} as bigint) % 60) = 1 THEN '' ELSE 's' END) END) END",
    # ---- numerically-"Stable" spellings: same math, CH just promises
    # a compensated algorithm — Spark's two-pass moments are the analog
    # (corrStable is re-pointed at the rebuilt corr template after this
    # dict closes: Spark's bare corr throws under ANSI on a constant
    # side, the same defect the corr rebuild fixes)
    "corrStable": "corr({0}, {1})",
    "covarPopStable": "covar_pop({0}, {1})",
    "covarSampStable": "covar_samp({0}, {1})",
    "stddevPopStable": "stddev_pop({0})",
    "stddevSampStable": "stddev_samp({0})",
    "varPopStable": "var_pop({0})",
    "varSampStable": "var_samp({0})",
    # sumKahan: plain sum (no compensated accumulation in Spark SQL —
    # exactness-critical sums belong in integer/decimal space, see
    # q_agg_groupby's BIGINT-cents pattern); sumWithOverflow: Spark's
    # sum already keeps the input integer type's wrap-around semantics
    # only pre-ANSI — mapped to plain sum, divergence documented
    "sumKahan": "sum({0})",
    "sumWithOverflow": "sum({0})",
    "medianTDigest": "percentile_approx({0}, 0.5)",
    "medianTiming": "percentile_approx({0}, 0.5)",
    # Shannon entropy of the VALUE DISTRIBUTION (bits): run-length
    # counts over the sorted collected group, then -Σ p·log2 p.
    # LINEAR shape (r14, same neighbor-comparison RLE as topK — the
    # old append-per-element fold was O(n²) allocation); the -Σ fold
    # runs over the DISTINCT values only with an O(1) accumulator.
    "entropy": (
        "element_at(transform("
        "array(array_sort(collect_list(cast({0} as string)))), "
        "__s -> element_at(transform(array("
        "filter(transform(__s, (__x, __i) -> __i + 1), "
        "__e2 -> NOT (element_at(__s, __e2) <=> "
        "try_element_at(__s, __e2 + 1)))"
        "), __ee -> "
        "aggregate(transform(__ee, (__e3, __j) -> "
        "cast(__e3 - CASE WHEN __j = 0 THEN 0 ELSE "
        "element_at(__ee, __j) END as double)), "
        "struct(cast(0.0 as double) AS h, "
        "cast(size(__s) as double) AS n), "
        "(__st, __c) -> struct("
        "__st.h - (__c / __st.n) * log2(__c / __st.n), __st.n), "
        "__st -> __st.h)"
        "), 1)), 1)"
    ),
    # union-of-intervals total length per group: fold over start-sorted
    # intervals merging overlaps (half-open arithmetic, point intervals
    # contribute 0)
    "intervalLengthSum": (
        "aggregate("
        "array_sort(collect_list(struct(cast({0} as double) AS a, "
        "cast({1} as double) AS b))), "
        "struct(cast(0.0 as double) AS cov, "
        "cast('-Infinity' as double) AS hi), "
        "(__s, __i) -> CASE "
        "WHEN __i.a >= __s.hi THEN "
        "struct(__s.cov + greatest(__i.b - __i.a, cast(0.0 as double)) "
        "AS cov, greatest(__s.hi, __i.b) AS hi) "
        "WHEN __i.b > __s.hi THEN "
        "struct(__s.cov + (__i.b - __s.hi) AS cov, __i.b AS hi) "
        "ELSE __s END, "
        "__s -> __s.cov)"
    ),
    # max simultaneously-open intervals: ±1 sweep over (t, delta)
    # events sorted with ENDS BEFORE STARTS at equal t — touching
    # intervals [1,3],[3,5] do NOT intersect (half-open reading)
    "maxIntersections": (
        "aggregate("
        "array_sort(concat("
        "collect_list(struct(cast({0} as double) AS t, 1 AS d)), "
        "collect_list(struct(cast({1} as double) AS t, -1 AS d)))), "
        "struct(0 AS run, 0 AS best), "
        "(__s, __e) -> struct(__s.run + __e.d AS run, "
        "greatest(__s.best, __s.run + __e.d) AS best), "
        "__s -> __s.best)"
    ),
    # ---- order-defined / positional aggregates -----------------------
    # deltaSumTimestamp(v, ts): sum of POSITIVE deltas between
    # consecutive values ordered by ts — the counter-reset-tolerant
    # rate primitive. Exact and deterministic (the ts order is part of
    # the call, unlike bare deltaSum's block order); the group IS
    # materialized (collect + sort + fold), same caveat as topK.
    "deltaSumTimestamp": (
        "aggregate("
        "transform(array_sort(collect_list(struct({1} AS t, {0} AS v))),"
        " __x -> cast(__x.v as double)), "
        "struct(cast(null as double) AS p, cast(0.0 as double) AS a), "
        "(__s, __x) -> struct(__x AS p, __s.a + "
        "CASE WHEN __s.p IS NOT NULL AND __x > __s.p "
        "THEN __x - __s.p ELSE cast(0.0 as double) END), "
        "__s -> __s.a)"
    ),
    # -ForEach combinator: aggregate array columns POSITION-WISE
    # (ragged arrays: missing positions contribute nothing, result is
    # max-length — CH's contract). Fold of zip_with over the collected
    # group; coalesce keeps the pad-nulls out of the arithmetic.
    "sumForEach": (
        "aggregate(collect_list({0}), "
        "cast(array() as array<double>), "
        "(__acc, __arr) -> zip_with(__acc, "
        "transform(__arr, __e -> cast(__e as double)), "
        "(__a, __b) -> coalesce(__a, cast(0.0 as double)) + "
        "coalesce(__b, cast(0.0 as double))))"
    ),
    "countForEach": (
        "aggregate(collect_list({0}), "
        "cast(array() as array<bigint>), "
        "(__acc, __arr) -> zip_with(__acc, "
        "transform(__arr, __e -> cast(1 as bigint)), "
        "(__a, __b) -> coalesce(__a, cast(0 as bigint)) + "
        "coalesce(__b, cast(0 as bigint))))"
    ),
    "minForEach": (
        "aggregate(collect_list({0}), "
        "cast(array() as array<double>), "
        "(__acc, __arr) -> zip_with(__acc, "
        "transform(__arr, __e -> cast(__e as double)), "
        "(__a, __b) -> least(coalesce(__a, __b), coalesce(__b, __a))))"
    ),
    "maxForEach": (
        "aggregate(collect_list({0}), "
        "cast(array() as array<double>), "
        "(__acc, __arr) -> zip_with(__acc, "
        "transform(__arr, __e -> cast(__e as double)), "
        "(__a, __b) -> greatest(coalesce(__a, __b), coalesce(__b, __a))))"
    ),
    "avgForEach": (
        "zip_with("
        "aggregate(collect_list({0}), cast(array() as array<double>), "
        "(__acc, __arr) -> zip_with(__acc, "
        "transform(__arr, __e -> cast(__e as double)), "
        "(__a, __b) -> coalesce(__a, cast(0.0 as double)) + "
        "coalesce(__b, cast(0.0 as double)))), "
        "aggregate(collect_list({0}), cast(array() as array<bigint>), "
        "(__acc, __arr) -> zip_with(__acc, "
        "transform(__arr, __e -> cast(1 as bigint)), "
        "(__a, __b) -> coalesce(__a, cast(0 as bigint)) + "
        "coalesce(__b, cast(0 as bigint)))), "
        "(__s, __n) -> __s / __n)"
    ),
    # ---- typed empty arrays -----------------------------------------
    "emptyArrayString": "cast(array() as array<string>)",
    "emptyArrayInt8": "cast(array() as array<tinyint>)",
    "emptyArrayInt16": "cast(array() as array<smallint>)",
    "emptyArrayInt32": "cast(array() as array<int>)",
    "emptyArrayInt64": "cast(array() as array<bigint>)",
    "emptyArrayUInt8": "cast(array() as array<int>)",
    "emptyArrayUInt16": "cast(array() as array<int>)",
    "emptyArrayUInt32": "cast(array() as array<bigint>)",
    "emptyArrayUInt64": "cast(array() as array<bigint>)",
    "emptyArrayFloat32": "cast(array() as array<float>)",
    "emptyArrayFloat64": "cast(array() as array<double>)",
    "emptyArrayDate": "cast(array() as array<date>)",
    "emptyArrayDateTime": "cast(array() as array<timestamp>)",
    # ---- round-9 late batch (pass-through audit) --------------------
    # alphaTokens: maximal runs of a-zA-Z letters
    "alphaTokens": "filter(split({0}, '[^A-Za-z]+'), __x -> __x != '')",
    # rand(): CH returns uniform UInt32 (Spark's rand() is [0,1) —
    # passing the name through would silently change the value range)
    "rand": "cast(floor(rand() * 4294967296) as bigint)",
    "randCanonical": "rand()",
    "randUniform": "({0} + rand() * (({1}) - ({0})))",
    # rounding families (CH's fixed sets, replayed as CASE chains)
    "roundToExp2": (
        "(CASE WHEN {0} < 1 THEN 0 ELSE "
        "cast(pow(2, floor(log2({0}))) as bigint) END)"
    ),
    "roundDown": (
        "coalesce(array_max(filter({1}, __e -> __e <= {0})), "
        "array_min({1}))"
    ),
    "roundAge": (
        "(CASE WHEN {0} < 1 THEN 0 WHEN {0} < 18 THEN 17 "
        "WHEN {0} < 25 THEN 18 WHEN {0} < 35 THEN 25 "
        "WHEN {0} < 45 THEN 35 WHEN {0} < 55 THEN 45 ELSE 55 END)"
    ),
    "roundDuration": (
        "coalesce(array_max(filter("
        "array(0, 1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, "
        "3600, 7200, 18000, 36000), __e -> __e <= {0})), 0)"
    ),
    # timeSlots: the half-open [t, t+dur) covered in 1800-s slots
    "timeSlots": (
        "sequence(timestamp_seconds(floor(unix_timestamp({0}) / 1800) "
        "* 1800), timestamp_seconds(floor((unix_timestamp({0}) + {1}) "
        "/ 1800) * 1800), interval 1800 second)"
    ),
    # simpleLinearRegression(x, y) → (slope, intercept) — struct fields
    # col1/col2 so tuple access `.1`/`.2` works on the result
    "simpleLinearRegression": (
        "struct(regr_slope({1}, {0}), regr_intercept({1}, {0}))"
    ),
    # Spearman rank correlation / one-way ANOVA: grouped Arrow kernels
    # (functions/stats.py) — ranking within the group resp. the F-CDF
    # p-value are not single-pass SQL aggregates. Group materialized
    # on one worker (same caveat as the topK/EMA collect shapes).
    # Catalyst dedupes the twice-referenced __ch_anova aggregate.
    "rankCorr": "__ch_rankcorr(CAST({0} AS DOUBLE), CAST({1} AS DOUBLE))",
    "analysisOfVariance": (
        "struct(element_at(__ch_anova(CAST({0} AS DOUBLE), "
        "CAST({1} AS STRING)), 1) AS col1, "
        "element_at(__ch_anova(CAST({0} AS DOUBLE), "
        "CAST({1} AS STRING)), 2) AS col2)"
    ),
    # ("anova" aliased to this entry below, next to the other aliases)
    "toTypeName": "typeof({0})",  # Spark type names, not CH spellings
    "toFixedString": "rpad({0}, {1}, chr(0))",
    "tryBase64Decode": "cast(try_to_binary({0}, 'base64') as string)",
    "JSONLength": (
        "coalesce(json_array_length({0}), size(json_object_keys({0})))"
    ),
    "normalizeQuery": (
        "regexp_replace(regexp_replace({0}, \"'[^']*'\", '?'), "
        "'(?<![A-Za-z0-9_])\\\\d+(\\\\.\\\\d+)?', '?')"
    ),
    # bar(): whole-block render (CH draws eighth-blocks; display-only)
    "bar": (
        "repeat('█', greatest(0, least(cast({3} as int), "
        "cast(round((({0}) - ({1})) / (({2}) - ({1})) * ({3})) as int))))"
    ),
    "version": "version()",
    "currentDatabase": "current_database()",
    "countDistinct": "count(DISTINCT {0})",  # CH alias of uniqExact
    # CH test/optimizer helpers: constant-fold barriers are meaningless
    # to Catalyst (it has its own), the identities just flow through
    "materialize": "({0})",
    "mapSort": "map_from_entries(array_sort(map_entries({0})))",
    "mapReverseSort": (
        "map_from_entries(reverse(array_sort(map_entries({0}))))"
    ),
    "mapContainsKeyLike": "exists(map_keys({0}), __k -> __k LIKE {1})",
    "mapExtractKeyLike": "map_filter({0}, (__k, __v) -> __k LIKE {1})",
    # wave 8 (25.x): the VALUE-side twins of the Like pair above
    "mapContainsValueLike": (
        "exists(map_values({0}), __v -> __v LIKE {1})"
    ),
    "mapExtractValueLike": (
        "map_filter({0}, (__k, __v) -> __v LIKE {1})"
    ),
    # wave 8 (25.7): token search with CH's 'default' tokenizer
    # (split on non-alphanumeric ASCII runs, case-sensitive) — the
    # text-index functions degrade to a full scan without an index,
    # which is exactly this expression
    "searchAnyTokens": (
        "exists({1}, __tk -> array_contains("
        "split({0}, '[^a-zA-Z0-9]+'), __tk))"
    ),
    "searchAllTokens": (
        "forall({1}, __tk -> array_contains("
        "split({0}, '[^a-zA-Z0-9]+'), __tk))"
    ),
    "extractURLParameters": (
        "filter(split(coalesce(parse_url({0}, 'QUERY'), ''), '&'), "
        "__x -> __x != '')"
    ),
    "extractURLParameterNames": (
        "transform(filter(split(coalesce(parse_url({0}, 'QUERY'), ''), "
        "'&'), __x -> __x != ''), __x -> substring_index(__x, '=', 1))"
    ),
    "queryStringAndFragment": (
        "concat(coalesce(parse_url({0}, 'QUERY'), ''), "
        "coalesce(concat('#', parse_url({0}, 'REF')), ''))"
    ),
    # XML entity escaping, '&' FIRST so entities don't double-escape
    "encodeXMLComponent": (
        "replace(replace(replace(replace(replace({0}, "
        "'&', '&amp;'), '<', '&lt;'), '>', '&gt;'), "
        "'\"', '&quot;'), \"'\", '&apos;')"
    ),
    "currentUser": "current_user()",
    "bitHammingDistance": "bit_count(({0}) ^ ({1}))",
    "widthBucket": "width_bucket({0}, {1}, {2}, {3})",
    "arrayShuffle": "shuffle({0})",
    "arrayRandomSample": "slice(shuffle({0}), 1, {1})",

    # ---- round-11 probe wave 4 ---------------------------------------
    # overlay shares Spark's char-based (UTF-8-correct) semantics
    "overlayUTF8": "overlay({0}, {1}, {2})",
    # CH max2/min2 always return Float64 and PROPAGATE NULL (scalar
    # functions, not aggregates) — Spark's greatest/least skip NULL
    # args, so guard explicitly
    "max2": (
        "(CASE WHEN ({0}) IS NULL OR ({1}) IS NULL THEN NULL "
        "ELSE cast(greatest({0}, {1}) as double) END)"
    ),
    "min2": (
        "(CASE WHEN ({0}) IS NULL OR ({1}) IS NULL THEN NULL "
        "ELSE cast(least({0}, {1}) as double) END)"
    ),
    # element-or-NULL: CH returns NULL for 0 and out-of-range indices
    # (negative = from the end, like try_element_at)
    "arrayElementOrNull": (
        "(CASE WHEN ({1}) = 0 THEN NULL "
        "ELSE try_element_at({0}, {1}) END)"
    ),
    # strcmp sign (Spark string comparison is binary/byte order, the
    # same collation CH compares with); the 5-arg offset form is
    # rejected by the strict template-arity check
    "stringCompare": (
        "(CASE WHEN ({0}) < ({1}) THEN -1 "
        "WHEN ({0}) > ({1}) THEN 1 ELSE 0 END)"
    ),
    "toUnixTimestamp64Micro": "unix_micros(cast({0} as timestamp))",
    # micros resolution ×1000 — Spark timestamps carry no nanos
    "toUnixTimestamp64Nano": (
        "(unix_micros(cast({0} as timestamp)) * 1000)"
    ),
    "addMilliseconds": (
        "timestampadd(MILLISECOND, {1}, cast({0} as timestamp))"
    ),
    "subtractMilliseconds": (
        "timestampadd(MILLISECOND, -({1}), cast({0} as timestamp))"
    ),
    "addMicroseconds": (
        "timestampadd(MICROSECOND, {1}, cast({0} as timestamp))"
    ),
    "subtractMicroseconds": (
        "timestampadd(MICROSECOND, -({1}), cast({0} as timestamp))"
    ),
    # nanos truncate to Spark's micros resolution (DIV 1000)
    "addNanoseconds": (
        "timestampadd(MICROSECOND, CAST(({1}) DIV 1000 AS BIGINT), "
        "cast({0} as timestamp))"
    ),
    "subtractNanoseconds": (
        "timestampadd(MICROSECOND, -CAST(({1}) DIV 1000 AS BIGINT), "
        "cast({0} as timestamp))"
    ),
    # invalid numbers → CH's zero date / zero datetime, not an error
    "YYYYMMDDToDate": (
        "coalesce(try_to_date(cast(cast({0} as bigint) as string), "
        "'yyyyMMdd'), DATE '1970-01-01')"
    ),
    "YYYYMMDDToDate32": (
        "coalesce(try_to_date(cast(cast({0} as bigint) as string), "
        "'yyyyMMdd'), DATE '1970-01-01')"
    ),
    "YYYYMMDDhhmmssToDateTime": (
        "coalesce(try_to_timestamp(cast(cast({0} as bigint) as "
        "string), 'yyyyMMddHHmmss'), "
        "TIMESTAMP '1970-01-01 00:00:00')"
    ),
    # 64 variant (r12): same integer parse — the precision argument
    # only widens CH's sub-second storage, which Spark's µs
    # timestamps already cover (the input carries whole seconds)
    "YYYYMMDDhhmmssToDateTime64": (
        "coalesce(try_to_timestamp(cast(cast({0} as bigint) as "
        "string), 'yyyyMMddHHmmss'), "
        "TIMESTAMP '1970-01-01 00:00:00')"
    ),
    # UUIDv7: top 48 bits (chars 1-8 + 10-13) are unix millis
    "UUIDv7ToDateTime": (
        "timestamp_millis(cast(conv(concat(substring({0}, 1, 8), "
        "substring({0}, 10, 4)), 16, 10) as bigint))"
    ),
    # 32-bit non-crypto hashes: the xxHash32 intent policy (stable
    # uniform hash masked to 32 bits; NOT bit-compatible with CH)
    "murmurHash2_32": "(xxhash64({0}) & 4294967295)",
    "murmurHash3_32": "(xxhash64({0}) & 4294967295)",

    # ---- round-11 probe wave 4b --------------------------------------
    # distinct elements across the group's arrays (exact, no explode)
    # CH aggregates skip NULLs (array_distinct would keep one NULL),
    # and uniq* return UInt64 → BIGINT, not size()'s INT
    "uniqArray": (
        "CAST(size(array_distinct(filter(flatten(collect_list({0})), "
        "__ua -> __ua IS NOT NULL))) AS BIGINT)"
    ),
    # vector normalizations: x / Σ|x| and x / √Σx² (NaN for the zero
    # vector, like CH's division)
    "L1Normalize": (
        "transform({0}, __nx -> cast(__nx as double) / "
        "aggregate({0}, cast(0.0 as double), "
        "(__na, __ne) -> __na + abs(cast(__ne as double))))"
    ),
    "L2Normalize": (
        "transform({0}, __nx -> cast(__nx as double) / "
        "sqrt(aggregate({0}, cast(0.0 as double), "
        "(__na, __ne) -> __na + cast(__ne as double) * "
        "cast(__ne as double))))"
    ),
    # ascending 0-based positions of the set bits (64-bit view)
    "bitPositionsToArray": (
        "filter(sequence(0, 63), __bp -> "
        "(shiftright(cast({0} as bigint), __bp) & 1) = 1)"
    ),
    "bitmaskToArray": (
        "transform(filter(sequence(0, 63), __bp -> "
        "(shiftright(cast({0} as bigint), __bp) & 1) = 1), "
        "__bp -> shiftleft(cast(1 as bigint), __bp))"
    ),
    "bitmaskToList": (
        "array_join(transform(filter(sequence(0, 63), __bp -> "
        "(shiftright(cast({0} as bigint), __bp) & 1) = 1), "
        "__bp -> cast(shiftleft(cast(1 as bigint), __bp) as string)), "
        "',')"
    ),
    # deprecated Twitter-epoch snowflake trio (the NEW-style epoch-
    # parameterized pair is dispatched separately)
    "dateTimeToSnowflake": (
        "((unix_millis(cast({0} as timestamp)) - 1288834974657) "
        "* 4194304)"
    ),
    "dateTime64ToSnowflake": (
        "((unix_millis(cast({0} as timestamp)) - 1288834974657) "
        "* 4194304)"
    ),
    "snowflakeToDateTime64": (
        "timestamp_millis(({0} div 4194304) + 1288834974657)"
    ),
    # v4-mapped v6: the RFC 5952 renderer keeps the dotted tail, so
    # the composition is a plain prefix
    "IPv4ToIPv6": "concat('::ffff:', {0})",
    "IPv4NumToStringClassC": (
        "concat(({0} div 16777216) % 256, '.', ({0} div 65536) % 256, "
        "'.', ({0} div 256) % 256, '.xxx')"
    ),
    # alnum runs (unicode letter/number classes), empties dropped
    "splitByNonAlpha": (
        "filter(split({0}, '[^\\\\p{{L}}\\\\p{{N}}]+'), "
        "__st -> __st <> '')"
    ),
    "isNotDistinctFrom": "(({0}) <=> ({1}))",
    "basename": "regexp_extract({0}, '[^/\\\\\\\\]*$', 0)",
    # display width ≈ rendered-string length (CH's is the CLI's
    # column-width heuristic; this is the value-text length)
    "visibleWidth": "length(cast({0} as string))",
    "isValidUTF8": "is_valid_utf8({0})",
    "JSONExtractUInt": (
        "cast(get_json_object({0}, concat('$.', {1})) as bigint)"
    ),

    # ---- round-11 probe wave 4c --------------------------------------
    # 2-arg logical xor (CH's is variadic; chain the binary form)
    "xor": "(CAST({0} AS BOOLEAN) <> CAST({1} AS BOOLEAN))",
    # interval-typed second arguments ride Spark's +/- directly
    "addDate": "({0} + {1})",
    "subDate": "({0} - {1})",
    "timestampAdd": "({0} + {1})",
    "timestamp_add": "({0} + {1})",
    "toDecimal128": "cast({0} as decimal(38, {1}))",
    # constant-per-query random (CH: constant per block): the rand()
    # must be projected to a COLUMN inside the subquery and aggregated
    # — a bare `(SELECT rand())` scalar subquery gets inlined by
    # Catalyst and re-evaluates per row
    "randConstant": "(SELECT max(__rc) FROM (SELECT rand() AS __rc))",

    "identity": "({0})",
    "ignore": "(CASE WHEN ({0}) IS NULL THEN 0 ELSE 0 END)",
    # ---- round-9 batch 3 (date/time + UTF8 passthrough audit) -------
    "addQuarters": "({0} + make_ym_interval(0, 3 * ({1})))",
    "subtractQuarters": "({0} - make_ym_interval(0, 3 * ({1})))",
    # ISO-year start = Monday of the week containing Jan 4
    "toStartOfISOYear": (
        "cast(date_trunc('WEEK', make_date("
        "extract(YEAROFWEEK FROM {0}), 1, 4)) as date)"
    ),
    # CH day-number epoch: 1970-01-01 = 719528 days since year zero
    "toDaysSinceYearZero": (
        "(datediff(cast({0} as date), DATE'1970-01-01') + 719528)"
    ),
    "fromDaysSinceYearZero": (
        "date_add(DATE'1970-01-01', cast(({0}) - 719528 as int))"
    ),
    # CH default mode 0: week runs Sun..Sat — the LAST day is the
    # nearest Saturday on-or-after (dayofweek: Sun=1..Sat=7)
    "toLastDayOfWeek": (
        "date_add(cast({0} as date), 7 - dayofweek({0}))"
    ),
    "toUTCTimestamp": "to_utc_timestamp({0}, {1})",
    "fromUTCTimestamp": "from_utc_timestamp({0}, {1})",
    # nowInBlock: per-block now() — a micro-batch/stage IS the block
    "nowInBlock": "current_timestamp()",
    "UTCTimestamp": "current_timestamp()",  # session tz is pinned UTC
    "serverTimeZone": "current_timezone()",
    "timeZone": "current_timezone()",
    # Spark timestamps carry no zone: the SESSION zone is the zone
    "timeZoneOf": "current_timezone()",
    "timeZoneOffset": (
        "cast(unix_timestamp(from_utc_timestamp({0}, "
        "current_timezone())) - unix_timestamp({0}) as bigint)"
    ),
    "fromUnixTimestamp64Milli": "timestamp_millis({0})",
    "fromUnixTimestamp64Micro": "timestamp_micros({0})",
    "fromUnixTimestamp64Nano": "timestamp_micros(cast(({0}) div 1000 as bigint))",
    "toRelativeHourNum": "cast(floor(unix_timestamp({0}) / 3600) as bigint)",
    "toRelativeMinuteNum": "cast(floor(unix_timestamp({0}) / 60) as bigint)",
    "toRelativeSecondNum": "unix_timestamp({0})",
    "toRelativeMonthNum": "(year({0}) * 12 + month({0}))",
    "toRelativeQuarterNum": "(year({0}) * 4 + quarter({0}) - 1)",
    # Spark strings are UTF-8 natively: the UTF8 variants and
    # toValidUTF8 are the plain operations
    "toValidUTF8": "({0})",
    "startsWithUTF8": "startswith({0}, {1})",
    "endsWithUTF8": "endswith({0}, {1})",
    # ---- vector math (embedding-pipeline staples): zip_with/
    # aggregate HOFs — JVM-side, no UDF, double-cast accumulate --
    "dotProduct": "aggregate(zip_with({0}, {1}, (__x, __y) -> __x * __y), cast(0.0 as double), (__a, __e) -> __a + __e)",
    "arrayDotProduct": "aggregate(zip_with({0}, {1}, (__x, __y) -> __x * __y), cast(0.0 as double), (__a, __e) -> __a + __e)",
    "L2Norm": "sqrt(aggregate({0}, cast(0.0 as double), (__a, __e) -> __a + cast(__e as double) * __e))",
    "L2SquaredNorm": "aggregate({0}, cast(0.0 as double), (__a, __e) -> __a + cast(__e as double) * __e)",
    "L1Norm": "aggregate({0}, cast(0.0 as double), (__a, __e) -> __a + abs(cast(__e as double)))",
    "LinfNorm": "array_max(transform({0}, __e -> abs(cast(__e as double))))",
    "L2Distance": "sqrt(aggregate(zip_with({0}, {1}, (__x, __y) -> cast(__x - __y as double) * (__x - __y)), cast(0.0 as double), (__a, __e) -> __a + __e))",
    "L2SquaredDistance": "aggregate(zip_with({0}, {1}, (__x, __y) -> cast(__x - __y as double) * (__x - __y)), cast(0.0 as double), (__a, __e) -> __a + __e)",
    "L1Distance": "aggregate(zip_with({0}, {1}, (__x, __y) -> abs(cast(__x - __y as double))), cast(0.0 as double), (__a, __e) -> __a + __e)",
    "LinfDistance": "array_max(zip_with({0}, {1}, (__x, __y) -> abs(cast(__x - __y as double))))",
    "cosineDistance": "(1.0 - aggregate(zip_with({0}, {1}, (__x, __y) -> __x * __y), cast(0.0 as double), (__a, __e) -> __a + __e) / (sqrt(aggregate({0}, cast(0.0 as double), (__a, __e) -> __a + cast(__e as double) * __e)) * sqrt(aggregate({1}, cast(0.0 as double), (__a, __e) -> __a + cast(__e as double) * __e))))",
    "normalizeL2": (
        "zip_with({0}, array_repeat(sqrt(aggregate({0}, cast(0.0 as double), (__a, __e) -> __a + cast(__e as double) * __e)), size({0})), "
        "(__v, __n) -> __v / __n)"
    ),
    "arrayProduct": "aggregate({0}, cast(1.0 as double), (__a, __e) -> __a * __e)",
    "arrayJaccardIndex": "(cast(size(array_intersect({0}, {1})) as double) / size(array_union({0}, {1})))",
    "toStringCutToZero": "element_at(split({0}, chr(0)), 1)",
    "substringIndexUTF8": "substring_index({0}, {1}, {2})",
    "nanToNull": "(CASE WHEN isnan({0}) THEN NULL ELSE {0} END)",
    # groupConcat: no separator form (order undefined in BOTH engines)
    "groupConcat": "array_join(collect_list({0}), '')",
    # wave 6: -Array combinator over groupArray = concatenation of the
    # group's arrays (order undefined in both engines, like groupConcat)
    "groupArrayArray": "flatten(collect_list({0}))",
    # wave 6: CH layout exactly — ms-since-1970 << 22 | machine_id(10
    # bits) | counter(12 bits). Machine id := partition id (mod 1024);
    # counter := within-partition row number (monotonically_increasing_
    # id's low 33 bits ARE that counter, and its partition offsets are
    # multiples of 2^33 ≡ 0 mod 4096, so pmod leaves the counter alone)
    "generateSnowflakeID": (
        "(shiftleft(unix_millis(current_timestamp()), 22) "
        "+ shiftleft(pmod(CAST(spark_partition_id() AS BIGINT), 1024),"
        " 12) + pmod(monotonically_increasing_id(), 4096))"
    ),
    # exactly one DISTINCT value in the group → that value, else NULL
    "singleValueOrNull": (
        "(CASE WHEN count(DISTINCT {0}) = 1 THEN max({0}) END)"
    ),
    # position (interval-start value) where maxIntersections peaks —
    # same sorted sweep fold, carrying the argmax
    "maxIntersectionsPosition": (
        "aggregate("
        "array_sort(concat("
        "collect_list(struct(cast({0} as double) AS t, 1 AS d)), "
        "collect_list(struct(cast({1} as double) AS t, -1 AS d)))), "
        "struct(0 AS run, 0 AS best, cast(null as double) AS bt), "
        "(__s, __e) -> struct(__s.run + __e.d AS run, "
        "greatest(__s.best, __s.run + __e.d) AS best, "
        "CASE WHEN __s.run + __e.d > __s.best THEN __e.t "
        "ELSE __s.bt END AS bt), "
        "__s -> __s.bt)"
    ),
    # ---- round-10 single-paren audit batch (86 silent passthroughs
    # found by probing the documented CH surface; each either maps or
    # rejects loudly now — tests/test_ch_sql.py TestAuditBatchR10 pins
    # the probe list itself so the class cannot reopen) -------------
    # operator-spelling comparators
    "equals": "(({0}) = ({1}))",
    "notEquals": "(({0}) <> ({1}))",
    "less": "(({0}) < ({1}))",
    "greater": "(({0}) > ({1}))",
    "lessOrEquals": "(({0}) <= ({1}))",
    "greaterOrEquals": "(({0}) >= ({1}))",
    "clamp": "least(greatest({0}, {1}), {2})",
    # CH truth table: 1 for 0 AND for NULL
    "isZeroOrNull": "coalesce(({0}) = 0, true)",
    # digits of the underlying integer (Decimal counts v·10^scale's
    # digits): strip non-digits AND leading zeros — '0.05' is '005'
    # stripped but the scaled integer 5 has ONE digit; zero itself
    # keeps one digit
    "countDigits": (
        "greatest(length(regexp_replace(regexp_replace("
        "cast(abs({0}) as string), '[^0-9]', ''), '^0+', '')), 1)"
    ),
    # Euclid unrolled: ≤92 steps suffice for 64-bit operands (Lamé);
    # gcd(0, 0) returns 0 where CH throws — documented delta
    "gcd": (
        "element_at(transform(array(aggregate(sequence(1, 96), "
        "struct(cast(abs({0}) as bigint) AS a, "
        "cast(abs({1}) as bigint) AS b), "
        "(__g, __i) -> CASE WHEN __g.b = 0 THEN __g "
        "ELSE struct(__g.b AS a, __g.a % __g.b AS b) END)), "
        "__g -> __g.a), 1)"
    ),
    "lcm": (
        "(CASE WHEN ({0}) = 0 OR ({1}) = 0 THEN 0 ELSE "
        "abs((cast(abs({0}) as bigint) DIV "
        "element_at(transform(array(aggregate(sequence(1, 96), "
        "struct(cast(abs({0}) as bigint) AS a, "
        "cast(abs({1}) as bigint) AS b), "
        "(__g, __i) -> CASE WHEN __g.b = 0 THEN __g "
        "ELSE struct(__g.b AS a, __g.a % __g.b AS b) END)), "
        "__g -> __g.a), 1)) * cast(abs({1}) as bigint)) END)"
    ),
    # random generators (nondeterministic like rand() itself; rand64
    # yields a full-range SIGNED Int64 where CH is UInt64 — documented)
    "rand64": "xxhash64(uuid())",
    # CH's second parameter is the VARIANCE, not the stddev
    "randNormal": "(({0}) + sqrt({1}) * randn())",
    "randExponential": "(-ln(1.0d - rand()) / ({0}))",
    "randBernoulli": "(CASE WHEN rand() < ({0}) THEN 1 ELSE 0 END)",
    # n ≤ 0 → '' (sequence(1, 0) is the DESCENDING [1, 0] in Spark,
    # not empty — the guard is load-bearing)
    "randomPrintableASCII": (
        "(CASE WHEN ({0}) <= 0 THEN '' ELSE "
        "array_join(transform(sequence(1, {0}), "
        "__i -> char(32 + cast(floor(rand() * 95) as int))), '') END)"
    ),
    # strings
    "splitByWhitespace": "filter(split({0}, '\\\\s+'), __x -> __x != '')",
    # first-occurrence splice (Spark regexp_replace is replace-ALL)
    "replaceOne": (
        "(CASE WHEN locate({1}, {0}) = 0 THEN {0} ELSE "
        "concat(substring({0}, 1, locate({1}, {0}) - 1), {2}, "
        "substring({0}, locate({1}, {0}) + length({1}))) END)"
    ),
    # token = alphanumeric run; boundaries must be non-alphanumeric or
    # string edges (the needle is regex-quoted inline)
    "hasToken": (
        "rlike({0}, concat('(^|[^A-Za-z0-9])', "
        "regexp_replace({1}, '([\\\\\\\\|()^$.\\\\[\\\\]?*+{{:-])', "
        "'\\\\\\\\$1'), '($|[^A-Za-z0-9])'))"
    ),
    "cutWWW": "regexp_replace({0}, '^((?:[a-zA-Z]+://)?)www\\\\.', '$1')",
    # hash-intent family (NOT bit-compatible with CH, same documented
    # policy as cityHash64 → xxhash64); URLHash ignores one trailing
    # slash/fragment like CH
    "URLHash": "xxhash64(regexp_replace({0}, '[/#]+$', ''))",
    "xxHash32": "(xxhash64({0}) & 4294967295)",
    "intHash32": "(xxhash64({0}) & 4294967295)",
    "intHash64": "xxhash64({0})",
    # EXACT Java String.hashCode (BMP scope: ascii() yields the UTF-16
    # unit for BMP chars; surrogate pairs diverge — documented);
    # int32 wraparound kept explicit on a bigint accumulator
    "javaHash": (
        "cast(aggregate(sequence(1, length({0})), cast(0 as bigint), "
        "(__h, __i) -> element_at(transform(array("
        "(31 * __h + ascii(substring({0}, __i, 1))) % 4294967296), "
        "__v -> CASE WHEN __v > 2147483647 THEN __v - 4294967296 "
        "WHEN __v < -2147483648 THEN __v + 4294967296 "
        "ELSE __v END), 1)) as int)"
    ),
    "hiveHash": (
        "cast(aggregate(sequence(1, length({0})), cast(0 as bigint), "
        "(__h, __i) -> element_at(transform(array("
        "(31 * __h + ascii(substring({0}, __i, 1))) % 4294967296), "
        "__v -> CASE WHEN __v > 2147483647 THEN __v - 4294967296 "
        "WHEN __v < -2147483648 THEN __v + 4294967296 "
        "ELSE __v END), 1)) & 2147483647 as int)"
    ),
    "SHA224": "sha2({0}, 224)",
    "SHA384": "sha2({0}, 384)",
    "SHA512": "sha2({0}, 512)",
    # dates
    "toISOYear": "extract(YEAROFWEEK FROM {0})",
    "parseDateTimeBestEffortOrNull": "try_cast({0} as timestamp)",
    "parseDateTimeBestEffortOrZero": (
        "coalesce(try_cast({0} as timestamp), "
        "cast('1970-01-01 00:00:00' as timestamp))"
    ),
    # arrays
    "arrayLast": "try_element_at(filter({1}, {0}), -1)",
    "arrayLastIndex": (
        "element_at(transform(array(coalesce(array_position("
        "reverse(transform({1}, {0})), true), 0)), "
        "__p -> CASE WHEN __p = 0 THEN cast(0 as int) "
        "ELSE cast(size({1}) - __p + 1 as int) END), 1)"
    ),
    "arrayWithConstant": "array_repeat({1}, cast({0} as int))",
    # double accumulation, same convention as arrayCumSum; running sum
    # clamped at zero after each element
    "arrayCumSumNonNegative": (
        "element_at(transform(array(aggregate({0}, "
        "struct(cast(array() as array<double>) AS r, "
        "cast(0.0 as double) AS s), "
        "(__a, __x) -> element_at(transform(array("
        "greatest(0.0d, __a.s + __x)), "
        "__t -> struct(concat(__a.r, array(__t)) AS r, __t AS s)), 1))), "
        "__f -> __f.r), 1)"
    ),
    # contiguous-subsequence test (CH hasSubstr); empty needle → true
    "hasSubstr": (
        "(CASE WHEN size({1}) = 0 THEN true "
        "WHEN size({0}) < size({1}) THEN false "
        "ELSE exists(sequence(1, size({0}) - size({1}) + 1), "
        "__i -> slice({0}, __i, size({1})) = {1}) END)"
    ),
    # regexes as data: rlike's pattern may be a column in function form
    "multiMatchAny": "exists({1}, __r -> rlike({0}, __r))",
    # UUID / MAC (string-world representations: UUIDs canonical
    # lowercase, MACs lowercase colon-joined — CH display casing for
    # MACNumToString is not pinned here, documented in the test)
    "UUIDStringToNum": "unhex(replace({0}, '-', ''))",
    "UUIDNumToString": (
        "lower(concat(substring(hex({0}), 1, 8), '-', "
        "substring(hex({0}), 9, 4), '-', substring(hex({0}), 13, 4), "
        "'-', substring(hex({0}), 17, 4), '-', "
        "substring(hex({0}), 21, 12)))"
    ),
    "MACNumToString": (
        "lower(array_join(transform(sequence(1, 6), __i -> "
        "substring(lpad(hex({0}), 12, '0'), 2 * __i - 1, 2)), ':'))"
    ),
    "MACStringToNum": (
        "cast(conv(replace({0}, ':', ''), 16, 10) as bigint)"
    ),
    # (JSONExtractInt/Float/Bool, JSONHas, sumCount, toUUID, the MJD
    # pair: already mapped earlier in this dict — only JSONExtract's
    # typed 3-arg form is new, dispatched on its literal type)
    # ---- round-10 audit WAVE 2 (probe batch over URL hierarchy,
    # multi-search, map arithmetic, fills, one-sample tests) ---------
    # CH decode/encodeURLComponent keep '+' literal (percent-only);
    # the Form variants use application/x-www-form-urlencoded (+ =
    # space) — which is EXACTLY java.net.URLDecoder, i.e. Spark's
    # url_decode/url_encode. The non-Form pair is fixed accordingly
    # at its original entries.
    "decodeURLFormComponent": "url_decode({0})",
    "encodeURLFormComponent": "url_encode({0})",
    "domainRFC": "parse_url({0}, 'HOST')",  # RFC parse ≈ HOST here
    "pathWithQuery": (
        "concat(parse_url({0}, 'PATH'), "
        "CASE WHEN parse_url({0}, 'QUERY') IS NULL THEN '' "
        "ELSE concat('?', parse_url({0}, 'QUERY')) END)"
    ),
    # progressive URL prefixes (CH doc example pinned in pytest):
    # [proto://host/, proto://host/seg1/, …, proto://host/seg1/…/segN]
    # (+ the full URL as a final level when a query string exists);
    # fragment-bearing corner cases simplified — documented
    "URLHierarchy": (
        "element_at(transform(array(struct("
        "concat(parse_url({0}, 'PROTOCOL'), '://', "
        "parse_url({0}, 'HOST'), '/') AS base, "
        "filter(split(parse_url({0}, 'PATH'), '/'), "
        "__s -> __s != '') AS parts)), __u -> "
        "concat(array(__u.base), "
        # empty path needs the guard: sequence(1, 0) is the
        # DESCENDING [1, 0] in Spark, not empty
        "CASE WHEN size(__u.parts) = 0 THEN slice(array(''), 1, 0) "
        "ELSE transform(sequence(1, size(__u.parts)), __i -> "
        "concat(__u.base, array_join(slice(__u.parts, 1, __i), '/'), "
        "CASE WHEN __i < size(__u.parts) THEN '/' ELSE '' END)) END, "
        "CASE WHEN parse_url({0}, 'QUERY') IS NULL THEN "
        "slice(array({0}), 1, 0) ELSE array({0}) END)), 1)"
    ),
    "URLPathHierarchy": (
        "element_at(transform(array(struct("
        "filter(split(parse_url({0}, 'PATH'), '/'), "
        "__s -> __s != '') AS parts)), __u -> "
        "CASE WHEN size(__u.parts) = 0 THEN slice(array(''), 1, 0) "
        "ELSE transform(sequence(1, size(__u.parts)), __i -> "
        "concat('/', array_join(slice(__u.parts, 1, __i), '/'), "
        "CASE WHEN __i < size(__u.parts) THEN '/' ELSE '' END)) "
        "END), 1)"
    ),
    "lengthBinary": "octet_length({0})",
    "positionCaseInsensitiveUTF8": "instr(lower({0}), lower({1}))",
    "multiSearchAllPositions": "transform({1}, __n -> instr({0}, __n))",
    "multiSearchFirstPosition": (
        "coalesce(array_min(filter(transform({1}, "
        "__n -> instr({0}, __n)), __p -> __p > 0)), 0)"
    ),
    # index (1-based, by needle order) of the LEFTMOST-found needle
    "multiSearchFirstIndex": (
        "element_at(transform(array(transform({1}, "
        "__n -> instr({0}, __n))), __ps -> "
        "coalesce(array_position(__ps, "
        "array_min(filter(__ps, __p -> __p > 0))), 0)), 1)"
    ),
    "hasTokenCaseInsensitive": (
        "rlike(lower({0}), concat('(^|[^a-z0-9])', "
        "regexp_replace(lower({1}), "
        "'([\\\\\\\\|()^$.\\\\[\\\\]?*+{{:-])', '\\\\\\\\$1'), "
        "'($|[^a-z0-9])'))"
    ),
    "appendTrailingCharIfAbsent": (
        "(CASE WHEN length({0}) = 0 OR right({0}, 1) = ({1}) THEN {0} "
        "ELSE concat({0}, {1}) END)"
    ),
    "firstLine": "element_at(split({0}, '\\\\r\\\\n|\\\\r|\\\\n', 2), 1)",
    # token-set membership over the same alphanumeric-run tokenizer
    # as tokens()
    "hasAnyTokens": (
        "arrays_overlap(filter(split({0}, "
        "'[^\\\\p{{L}}\\\\p{{N}}]+'), __x -> __x != ''), {1})"
    ),
    "hasAllTokens": (
        "(size(array_except({1}, filter(split({0}, "
        "'[^\\\\p{{L}}\\\\p{{N}}]+'), __x -> __x != ''))) = 0)"
    ),
    # byte-accurate slice: substr on BINARY slices bytes, not chars
    "byteSlice": "cast(substr(cast({0} as binary), {1}, {2}) as string)",
    "toStartOfMillisecond": (
        "timestamp_micros((unix_micros(cast({0} as timestamp)) "
        "DIV 1000) * 1000)"
    ),
    # Spark timestamps ARE microseconds; nanosecond resolution does
    # not exist to truncate — both are the identity at micros
    "toStartOfMicrosecond": "cast({0} as timestamp)",
    "toStartOfNanosecond": "cast({0} as timestamp)",
    "timeDiff": "(unix_timestamp({1}) - unix_timestamp({0}))",
    # session timezone is pinned UTC (session.py) — these are literals
    "timezone": "'UTC'",
    "serverTimezone": "'UTC'",
    # type-level: the zone is a property of the TYPE, so even a NULL
    # value reports 'UTC' (the arg must still bind into the template)
    "timezoneOf": "element_at(transform(array({0}), __t -> 'UTC'), 1)",
    "arrayEnumerateDense": (
        "transform({0}, __x -> array_position(array_distinct({0}), __x))"
    ),
    "sigmoid": "(1.0d / (1.0d + exp(-({0}))))",
    "logit": "ln(({0}) / (1.0d - ({0})))",
    # one-sample t-test vs a known mean: plain aggregates + the shared
    # CDF kernel (Catalyst dedupes the repeated aggregate expressions)
    "studentTTestOneSample": (
        "struct((avg({0}) - ({1})) / (stddev_samp({0}) "
        "/ sqrt(count({0}))) AS col1, "
        "__ch_t_pvalue((avg({0}) - ({1})) / (stddev_samp({0}) "
        "/ sqrt(count({0}))), cast(count({0}) - 1 as double)) AS col2)"
    ),
    # intersection of all the group's arrays (sorted for determinism —
    # CH's order is unspecified)
    "groupArrayIntersect": (
        "array_sort(aggregate(slice(collect_list({0}), 2, "
        "size(collect_list({0}))), try_element_at(collect_list({0}), 1), "
        "(__acc, __x) -> array_intersect(__acc, __x)))"
    ),
    # *_respect_nulls spellings → Spark's default-respecting forms
    "first_value_respect_nulls": "first_value({0})",
    "last_value_respect_nulls": "last_value({0})",
    "any_respect_nulls": "first({0})",
    "anyLast_respect_nulls": "last({0})",
    "toLowCardinality": "{0}",  # CH storage hint, value-identity
    "toUInt256": "cast({0} as decimal(38,0))",
    "fromUnixTimestamp64Second": "timestamp_seconds({0})",
    "toUnixTimestamp64Second": "unix_seconds(cast({0} as timestamp))",
    # map arithmetic: union of keys (sorted like CH), per-key combine;
    # value types preserved (no literal-zero widening)
    "mapAdd": (
        "map_from_arrays("
        "array_sort(array_distinct(concat(map_keys({0}), "
        "map_keys({1})))), "
        "transform(array_sort(array_distinct(concat(map_keys({0}), "
        "map_keys({1})))), __mk -> "
        "CASE WHEN try_element_at({0}, __mk) IS NULL "
        "THEN try_element_at({1}, __mk) "
        "WHEN try_element_at({1}, __mk) IS NULL "
        "THEN try_element_at({0}, __mk) "
        "ELSE try_element_at({0}, __mk) + try_element_at({1}, __mk) "
        "END))"
    ),
    "mapSubtract": (
        "map_from_arrays("
        "array_sort(array_distinct(concat(map_keys({0}), "
        "map_keys({1})))), "
        "transform(array_sort(array_distinct(concat(map_keys({0}), "
        "map_keys({1})))), __mk -> "
        "CASE WHEN try_element_at({1}, __mk) IS NULL "
        "THEN try_element_at({0}, __mk) "
        "WHEN try_element_at({0}, __mk) IS NULL "
        "THEN -try_element_at({1}, __mk) "
        "ELSE try_element_at({0}, __mk) - try_element_at({1}, __mk) "
        "END))"
    ),
    # integer key-range fill; missing keys get a TYPED zero (first
    # value × 0 — a literal 0 would widen the value type); empty map
    # stays an empty map (array_min(NULL-keys) would null the result)
    "mapPopulateSeries": (
        "(CASE WHEN size(map_keys({0})) = 0 THEN {0} ELSE "
        "element_at(transform(array(map_keys({0})), __ks -> "
        "map_from_arrays(sequence(array_min(__ks), array_max(__ks)), "
        "transform(sequence(array_min(__ks), array_max(__ks)), "
        "__mk -> coalesce(try_element_at({0}, __mk), "
        "try_element_at({0}, array_min(__ks)) * 0)))), 1) END)"
    ),
    # CH (k, v) two-param lambdas ride zip_with over keys/values
    "mapExists": (
        "exists(zip_with(map_keys({1}), map_values({1}), {0}), "
        "__b -> __b)"
    ),
    "mapAll": (
        "forall(zip_with(map_keys({1}), map_values({1}), {0}), "
        "__b -> __b)"
    ),
    # forward-fill, CH semantics: out[i] = arr[i] if f(arr[i]) else
    # out[i-1] — a failing element copies the previous OUTPUT, so a
    # leading failing run propagates the FIRST element (arr[0] is
    # always kept); an explicit has-flag distinguishes "no previous
    # output yet" from a propagated NULL value. Single-value lambda
    # application via transform-over-1-element.
    "arrayFill": (
        "element_at(transform(array(aggregate({1}, "
        "struct(slice({1}, 1, 0) AS r, "
        "try_element_at({1}, size({1}) + 1) AS l, false AS h), "
        "(__a, __x) -> element_at(transform(array("
        "CASE WHEN NOT __a.h "
        "OR coalesce(element_at(transform(array(__x), {0}), 1), false) "
        "THEN __x ELSE __a.l END), "
        "__v -> struct(concat(__a.r, array(__v)) AS r, __v AS l, "
        "true AS h)), 1))), __f -> __f.r), 1)"
    ),
    "arrayReverseFill": (
        "reverse(element_at(transform(array(aggregate(reverse({1}), "
        "struct(slice({1}, 1, 0) AS r, "
        "try_element_at({1}, size({1}) + 1) AS l, false AS h), "
        "(__a, __x) -> element_at(transform(array("
        "CASE WHEN NOT __a.h "
        "OR coalesce(element_at(transform(array(__x), {0}), 1), false) "
        "THEN __x ELSE __a.l END), "
        "__v -> struct(concat(__a.r, array(__v)) AS r, __v AS l, "
        "true AS h)), 1))), __f -> __f.r), 1))"
    ),
    # human-size parser: "1.5 MiB" → bytes (rounded, like CH)
    "parseReadableSize": (
        "cast(round(cast(regexp_extract({0}, "
        "'^\\\\s*([0-9.]+)', 1) as double) * "
        "CASE lower(regexp_extract({0}, '([A-Za-z]+)\\\\s*$', 1)) "
        "WHEN 'b' THEN 1.0d "
        "WHEN 'kb' THEN 1000.0d WHEN 'mb' THEN 1000000.0d "
        "WHEN 'gb' THEN 1000000000.0d WHEN 'tb' THEN 1.0e12d "
        "WHEN 'pb' THEN 1.0e15d WHEN 'eb' THEN 1.0e18d "
        "WHEN 'kib' THEN 1024.0d WHEN 'mib' THEN 1048576.0d "
        "WHEN 'gib' THEN 1073741824.0d WHEN 'tib' THEN "
        "1099511627776.0d WHEN 'pib' THEN 1125899906842624.0d "
        "WHEN 'eib' THEN 1152921504606846976.0d "
        "ELSE cast(NULL as double) END) as bigint)"
    ),
    # grouped / per-row stat kernels (functions/stats.py,
    # functions/strkernels.py)
    "arrayAUC": (
        "__ch_array_auc(transform({0}, __x -> "
        "cast(__x as double)), transform({1}, __x -> "
        "cast(__x as double)))"
    ),
    # r12 wave 5: arrayROCAUC is the documented rename of arrayAUC;
    # arrayPrAUC/arrayAUCPR use the step (average-precision) rule the
    # CH doc example pins (see stats.array_auc_pr)
    "arrayROCAUC": (
        "__ch_array_auc(transform({0}, __x -> "
        "cast(__x as double)), transform({1}, __x -> "
        "cast(__x as double)))"
    ),
    "arrayPrAUC": (
        "__ch_array_aucpr(transform({0}, __x -> "
        "cast(__x as double)), transform({1}, __x -> "
        "cast(__x as double)))"
    ),
    "arrayAUCPR": (
        "__ch_array_aucpr(transform({0}, __x -> "
        "cast(__x as double)), transform({1}, __x -> "
        "cast(__x as double)))"
    ),
    "arrayLevenshteinDistance": (
        "__ch_arr_lev(transform({0}, __x -> cast(__x as string)), "
        "transform({1}, __x -> cast(__x as string)))"
    ),
    # r12: the 25.x weighted variant (published recurrence: delete
    # wa[i], insert wb[j], substitute wa[i]+wb[j] when unequal) and
    # its normalized similarity 1 − d/(Σwa+Σwb) (0-weight-total → 1.0,
    # two empty arrays being identical)
    "arrayLevenshteinDistanceWeighted": (
        "__ch_arr_lev_w(transform({0}, __x -> cast(__x as string)), "
        "transform({1}, __x -> cast(__x as string)), "
        "transform({2}, __x -> cast(__x as double)), "
        "transform({3}, __x -> cast(__x as double)))"
    ),
    "arraySimilarity": (
        "(CASE WHEN ({0}) IS NULL OR ({1}) IS NULL OR ({2}) IS NULL "
        "OR ({3}) IS NULL THEN NULL ELSE "
        "1.0d - coalesce(try_divide(__ch_arr_lev_w("
        "transform({0}, __x -> cast(__x as string)), "
        "transform({1}, __x -> cast(__x as string)), "
        "transform({2}, __x -> cast(__x as double)), "
        "transform({3}, __x -> cast(__x as double))), "
        "aggregate({2}, 0.0d, (__wa, __wx) -> __wa + __wx) + "
        "aggregate({3}, 0.0d, (__wa, __wx) -> __wa + __wx)), "
        "0.0d) END)"
    ),
    "kolmogorovSmirnovTest": (
        "struct(element_at(__ch_ks(CAST({0} AS DOUBLE), "
        "CAST({1} AS INT)), 1) AS col1, "
        "element_at(__ch_ks(CAST({0} AS DOUBLE), "
        "CAST({1} AS INT)), 2) AS col2)"
    ),
    # ---- round-10 audit WAVE 3 (Joda spellings, cast tails, set ops,
    # codecs) ---------------------------------------------------------
    # Spark datetime patterns ARE the Java/Joda letters — the
    # InJodaSyntax spellings map directly (the %-style formatDateTime
    # goes through the shared converter instead)
    "formatDateTimeInJodaSyntax": "date_format({0}, {1})",
    "fromUnixTimestampInJodaSyntax": (
        "date_format(timestamp_seconds({0}), {1})"
    ),
    "parseDateTimeInJodaSyntax": "to_timestamp({0}, {1})",
    "parseDateTimeInJodaSyntaxOrNull": "try_to_timestamp({0}, {1})",
    "parseDateTime64BestEffort": "cast({0} as timestamp)",
    "parseDateTime64BestEffortOrNull": "try_cast({0} as timestamp)",
    "toDate32": "cast({0} as date)",   # Spark dates already cover it
    "toDateTime32": "cast({0} as timestamp)",
    # (toDecimal256 dispatches below — the literal scale must be
    # validated against Spark's decimal(38) cap at translate time)
    # sub-second intervals ride make_interval's fractional seconds
    "toIntervalMillisecond": (
        "make_interval(0, 0, 0, 0, 0, 0, ({0}) / 1000.0d)"
    ),
    "toIntervalMicrosecond": (
        "make_interval(0, 0, 0, 0, 0, 0, ({0}) / 1000000.0d)"
    ),
    "toIntervalNanosecond": (
        "make_interval(0, 0, 0, 0, 0, 0, ({0}) / 1000000000.0d)"
    ),
    "ilike": "({0} ILIKE {1})",
    "notILike": "(NOT ({0} ILIKE {1}))",
    # our arrayFirst/arrayLast already yield NULL on no-match — the
    # OrNull spellings are the same mapping
    "arrayFirstOrNull": "try_element_at(filter({1}, {0}), 1)",
    "arrayLastOrNull": "try_element_at(filter({1}, {0}), -1)",
    "arrayUnion": "array_distinct(concat({0}, {1}))",
    "arraySymmetricDifference": (
        "array_distinct(concat(array_except({0}, {1}), "
        "array_except({1}, {0})))"
    ),
    # (normalizedQueryHash composed from normalizeQuery below, next to
    # the other template aliases — one literal-masking pipeline)
    "crc32IEEE": "crc32({0})",  # Spark's crc32 IS the IEEE polynomial
    # base32 / URL-safe base64 via stdlib-exact kernels
    "base32Encode": "__ch_b32_enc({0})",
    "base32Decode": "__ch_b32_dec({0})",
    "tryBase32Decode": "__ch_b32_trydec({0})",
    "base64URLEncode": "__ch_b64url_enc({0})",
    "base64URLDecode": "__ch_b64url_dec({0})",
    "tryBase64URLDecode": "__ch_b64url_trydec({0})",
    # binary-string decoder, chunked PER BYTE: conv is a 64-bit
    # converter, so one conv over the whole string overflows past 64
    # binary digits — left-pad to the byte boundary, then convert each
    # 8-digit group separately (arbitrary length, leading zero bytes
    # preserved); empty input needs the guard (sequence(1, 0) is the
    # DESCENDING [1, 0], not empty)
    "unbin": (
        "(CASE WHEN length({0}) = 0 THEN '' ELSE "
        "cast(unhex(array_join(element_at(transform(array("
        "lpad({0}, 8 * cast(ceil(length({0}) / 8.0) as int), '0')), "
        "__bs -> transform(sequence(1, length(__bs) DIV 8), __bi -> "
        "lpad(conv(substring(__bs, 8 * (__bi - 1) + 1, 8), 2, 16), "
        "2, '0'))), 1), '')) as string) END)"
    ),
    # scalar math kernels (functions/stats.py — Python math module,
    # the same libm contracts CH wraps)
    "erf": "__ch_erf(CAST({0} AS DOUBLE))",
    "erfc": "__ch_erfc(CAST({0} AS DOUBLE))",
    "lgamma": "__ch_lgamma(CAST({0} AS DOUBLE))",
    "tgamma": "__ch_tgamma(CAST({0} AS DOUBLE))",
    # unicode normalization + ngram similarity + IPv6 kernels
    # (functions/strkernels.py)
    "normalizeUTF8NFC": "__ch_utf8norm_nfc({0})",
    "normalizeUTF8NFD": "__ch_utf8norm_nfd({0})",
    "normalizeUTF8NFKC": "__ch_utf8norm_nfkc({0})",
    "normalizeUTF8NFKD": "__ch_utf8norm_nfkd({0})",
    "ngramDistance": (
        "__ch_ngram_dist(CAST({0} AS STRING), CAST({1} AS STRING))"
    ),
    "ngramDistanceCaseInsensitive": (
        "__ch_ngram_dist_ci(CAST({0} AS STRING), CAST({1} AS STRING))"
    ),
    "ngramSearch": (
        "__ch_ngram_search(CAST({0} AS STRING), CAST({1} AS STRING))"
    ),
    "ngramSearchCaseInsensitive": (
        "__ch_ngram_search_ci(CAST({0} AS STRING), CAST({1} AS STRING))"
    ),
    "IPv6StringToNum": "__ch_ipv6_aton({0})",
    "IPv6NumToString": "__ch_ipv6_ntoa({0})",
    "toIPv6": "__ch_ipv6_ntoa(__ch_ipv6_aton({0}))",
    # v4-mapped addresses parse but are NOT IPv6 literals — the colon
    # test separates the families like CH does
    "isIPv6String": (
        "(__ch_ipv6_aton({0}) IS NOT NULL AND instr({0}, ':') > 0)"
    ),
    "isIPAddressInRange": "__ch_ip_in_range({0}, {1})",
    "toIPv4": (
        "(CASE WHEN {0} RLIKE "
        "'^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\\\.)"
        "{{3}}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$' "
        "THEN {0} ELSE NULL END)"
    ),
}

# corrStable shares corr's ANSI-safe rebuild (see the corr entry)
TEMPLATES["corrStable"] = TEMPLATES["corr"]

# dateDiff counts UNIT-BOUNDARY CROSSINGS (CH semantics: dateDiff('day',
# 23:59:59, 00:00:01) = 1), NOT complete periods — so each unit maps to
# boundary arithmetic, not timestampdiff. CH `age` counts COMPLETE
# units, which IS Spark's timestampdiff.
_DATEDIFF_BOUNDARY: dict[str, str] = {
    "SECOND": "(unix_timestamp({1}) - unix_timestamp({0}))",
    "MINUTE": (
        "(floor(unix_timestamp({1}) / 60) - floor(unix_timestamp({0}) / 60))"
    ),
    "HOUR": (
        "(floor(unix_timestamp({1}) / 3600) "
        "- floor(unix_timestamp({0}) / 3600))"
    ),
    "DAY": "datediff(cast({1} as date), cast({0} as date))",
    "WEEK": (
        "(datediff(date_trunc('WEEK', {1}), date_trunc('WEEK', {0})) DIV 7)"
    ),
    "MONTH": (
        "((year({1}) * 12 + month({1})) - (year({0}) * 12 + month({0})))"
    ),
    "QUARTER": (
        "((year({1}) * 4 + quarter({1})) - (year({0}) * 4 + quarter({0})))"
    ),
    "YEAR": "(year({1}) - year({0}))",
}

_AGE_UNITS = frozenset(
    ("SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH", "QUARTER", "YEAR")
)

_INTERVAL_SECONDS: dict[str, int] = {
    "SECOND": 1,
    "MINUTE": 60,
    "HOUR": 3600,
    "DAY": 86400,
    "WEEK": 604800,
}

# Aggregates the generic ``-If`` combinator applies to: ``fooIf(args…,
# cond)`` → ``foo`` over every arg wrapped in ``CASE WHEN cond THEN arg
# END`` (ClickHouse docs: sql-reference/aggregate-functions/combinators
# — -If appends a condition argument to ANY aggregate). Null-skipping
# Spark aggregates make the CASE wrap semantics-exact: collect_list
# drops NULLs, max_by ignores NULL ordering values, count(DISTINCT)
# ignores NULLs. sumIf/avgIf/minIf/maxIf/countIf keep their explicit
# entries above (hit first in dispatch); this set covers the rest.
IF_COMBINABLE: frozenset[str] = frozenset(
    {
        "any",
        "anyLast",
        "argMax",
        "argMin",
        "groupArray",
        "groupUniqArray",
        "uniq",
        "uniqExact",
        "countDistinct",
        "uniqCombined",
        "uniqHLL12",
        "median",
        "medianExact",
        "sum",
        "avg",
        "min",
        "max",
        "count",
        "first",
        "last",
        "stddev",
        "variance",
        "corr",
        "covar_samp",
        "stddevPop",
        "stddevSamp",
        "varPop",
        "varSamp",
        "covarPop",
        "covarSamp",
        "skewPop",
        "kurtPop",
        # templates whose every value slot tolerates the CASE wrap
        # (avgWeighted = sum(x·w)/sum(w): non-matching rows null out
        # of BOTH sums; the r11 additions below were each checked —
        # their folds/builtins all skip the manufactured NULLs, and
        # anyHeavy rides the ignore-nulls dict at the dispatch site)
        "avgWeighted",
        "entropy",
        "skewSamp",
        "kurtSamp",
        "boundingRatio",
        "groupBitAnd",
        "groupBitOr",
        "groupBitXor",
        "uniqTheta",
        "uniqHLL12",
        "sumKahan",
        "sumWithOverflow",
        "anyHeavy",
    }
)

# ClickHouse parameterized aggregates: name(params)(args).
# template gets params p0.. and args a0..
PARAMETERIZED: dict[str, str] = {
    "quantile": "percentile_approx({a0}, {p0})",
    "quantiles": "percentile_approx({a0}, array({params}))",
    # quantileExact is ELEMENT SELECTION at ⌊level·n⌋ in ClickHouse
    # (QuantileExact.h), not interpolation — routed to
    # _exact_quantile_sql with Low/High/Exclusive (the interpolating
    # Inclusive spelling below IS percentile's contract and stays)
    "quantileExact": None,
    "quantilesExact": None,
    # sketch-quantile spellings: CH's t-digest / timing sketches both
    # map to Spark's percentile_approx (also a sketch — different
    # algorithm, same approximation contract; exact tails differ)
    "quantileTDigest": "percentile_approx({a0}, {p0})",
    "quantilesTDigest": "percentile_approx({a0}, array({params}))",
    "quantileTiming": "percentile_approx({a0}, {p0})",
    "quantileBFloat16": "percentile_approx({a0}, {p0})",
    # the determinism column only stabilizes CH's reservoir sampling —
    # percentile_approx has no sampling to stabilize, so it is unused
    "quantileDeterministic": "percentile_approx({a0}, {p0})",
    "groupConcat": "array_join(collect_list({a0}), {p0})",
    "quantilesTiming": "percentile_approx({a0}, array({params}))",
    # exact weighted quantile: first value (by value order) whose
    # cumulative weight reaches level·totalWeight. The collected-pairs
    # aggregate appears twice (total + scan) — Catalyst dedupes the
    # identical aggregate expressions into one buffer.
    # r12 wave 5: TDigestWeighted is CH's weighted sketch — mapped to
    # Spark's EXACT weighted interpolation (the same sketch→exact
    # refinement as the other percentile mappings);
    # ExactWeightedInterpolated IS percentile's contract verbatim
    "quantileTDigestWeighted": (
        "percentile({a0}, {p0}, CAST({a1} AS BIGINT))"
    ),
    "quantilesTDigestWeighted": (
        "percentile({a0}, array({params}), CAST({a1} AS BIGINT))"
    ),
    "quantileExactWeightedInterpolated": (
        "percentile({a0}, {p0}, CAST({a1} AS BIGINT))"
    ),
    "quantilesExactWeightedInterpolated": (
        "percentile({a0}, array({params}), CAST({a1} AS BIGINT))"
    ),
    # quantileDD(relative_accuracy, level): DDSketch → the
    # percentile_approx sketch at its high-accuracy setting; the
    # relative-VALUE accuracy knob has no rank-accuracy equivalent and
    # is deliberately unused (documented sketch swap, same contract as
    # the TDigest mapping above)
    "quantileDD": "percentile_approx({a0}, {p1}, 10000)",
    "quantileExactWeighted": (
        "aggregate("
        "array_sort(collect_list(struct(cast({a0} as double) AS v, "
        "cast({a1} as double) AS w))), "
        "struct(cast(0.0 as double) AS run, cast(null as double) AS res), "
        "(__s, __e) -> CASE WHEN __s.res IS NOT NULL THEN __s "
        "WHEN __s.run + __e.w >= ({p0}) * aggregate("
        "array_sort(collect_list(struct(cast({a0} as double) AS v, "
        "cast({a1} as double) AS w))), cast(0.0 as double), "
        "(__a, __x) -> __a + __x.w) "
        "THEN struct(__s.run + __e.w AS run, __e.v AS res) "
        "ELSE struct(__s.run + __e.w AS run, "
        "cast(null as double) AS res) END, "
        "__s -> __s.res)"
    ),
    # Excel-style inclusive interpolation h = (n−1)·p + 1 — EXACTLY
    # Spark's percentile contract, so the mapping is exact
    "quantileExactInclusive": "percentile({a0}, {p0})",
    "quantilesExactInclusive": "percentile({a0}, array({params}))",
    # weighted interpolated quantile → percentile's frequency arg
    # (value repeated w times, then inclusive interpolation). CH
    # interpolates on cumulative weights directly — the two agree on
    # integral weights, which is also what percentile requires
    "quantileInterpolatedWeighted": (
        "percentile({a0}, {p0}, CAST({a1} AS BIGINT))"
    ),
    "quantilesInterpolatedWeighted": (
        "percentile({a0}, array({params}), CAST({a1} AS BIGINT))"
    ),
    # the k SMALLEST values, sorted — exact collect + slice (CH's is
    # exact too; group materialized, same caveat as topK)
    "groupArraySorted": "slice(array_sort(collect_list({a0})), 1, {p0})",
    # exact distinct count saturating at N (CH returns N+1 past the cap)
    "uniqUpTo": "least(count(DISTINCT {a0}), {p0} + 1)",
    # low/high/exclusive exact quantiles → _exact_quantile_sql builders
    "quantileExactLow": None,
    "quantileExactHigh": None,
    "quantileExactExclusive": None,
    "quantilesExactLow": None,
    "quantilesExactHigh": None,
    "quantilesExactExclusive": None,
    # uniqCombined(HLL_precision)(x): precision → relative-SD at the
    # dispatch site (approx_count_distinct demands a LITERAL rsd)
    "uniqCombined": None,
    "uniqCombined64": None,
    # quantileGK(accuracy[, level])(x): CH's Greenwald-Khanna sketch →
    # percentile_approx, which is the SAME GK-sketch contract with the
    # same accuracy knob (both bound rank error by ~1/accuracy; Spark's
    # default 10000). Level defaults to 0.5 (median), patched in at the
    # dispatch site. Exact tail values may differ between the two GK
    # implementations — the contract is the rank-error bound, not
    # bit-equality.
    "quantileGK": "percentile_approx({a0}, {p1}, {p0})",
    "quantilesGK": "percentile_approx({a0}, array({params1}), {p0})",
    # handled by dedicated builders at the dispatch site (the None is
    # never formatted — membership here routes the (params)(args)
    # syntax and the -If combinator wrap):
    # meanZTest(var_x, var_y, conf)(sample, index) → _mean_ztest_sql
    # mannWhitneyUTest([alt[, cont]])(sample, index) → _mwu_sql
    # largestTriangleThreeBuckets(n)(x, y) → __ch_lttb kernel
    # sparkbar(w[, min_x, max_x])(x, y) → __ch_sparkbar kernel
    "meanZTest": None,
    "mannWhitneyUTest": None,
    "largestTriangleThreeBuckets": None,
    "lttb": None,
    "sparkbar": None,
    # groupArrayMovingSum/Avg(n)(v, k[, asc]) → _moving_agg_sql (the
    # ordered-key spelling; bare block-order form rejects)
    "groupArrayMovingSum": None,
    "groupArrayMovingAvg": None,
    # groupArrayLast(n)(v, k[, asc]) → last-n-by-key fold (r12; the
    # key-less CH form is insertion-order dependent and rejects)
    "groupArrayLast": None,
    # exponentialTimeDecayed*(w)(v, t) → _etd_sql decayed folds (r12)
    "exponentialTimeDecayedSum": None,
    "exponentialTimeDecayedCount": None,
    "exponentialTimeDecayedMax": None,
    "exponentialTimeDecayedAvg": None,
    # sequenceNextNode(direction, base)(ts, v, base_cond, e1, …) →
    # _seq_next_node_sql (static unroll over the sorted group)
    "sequenceNextNode": None,
    # sumMapFiltered(keys)(k_arr, v_arr) → keys-restricted sumMap
    "sumMapFiltered": None,
    "sumMapFilteredWithOverflow": None,  # wave 6: 64-bit delta noted
    # behavioral SQL spellings → static folds (_window_funnel_sql /
    # _sequence_match_sql); strict modes and (?t…) reject toward the
    # DataFrame operators
    "windowFunnel": None,
    "sequenceMatch": None,
    "sequenceCount": None,
    "sequenceMatchEvents": None,  # loud reject at the dispatch site
    # exponentialMovingAverage(half_life)(value, time): CH's
    # time-indexed EMA — Σ v·2^(−(T−t)/h) / Σ 2^(−(T−t)/h) with T the
    # group's latest time. Computed as the order-stable recurrence
    # s ← s·2^(−Δt/h) + v over the time-sorted collected group (every
    # decay factor ≤ 1, so no overflow however large t/h gets — the
    # naive factorized form exp2(t/h) overflows double past
    # span/h ≈ 1024). Group is materialized (same caveat as topK);
    # window (OVER) usage needs operators/ema.py. NULL rows (either
    # value or time) are SKIPPED like any CH aggregate skips NULLs:
    # the CASE yields NULL and collect_list drops bare NULLs — without
    # it one NULL field poisons the whole group's fold (and the -If
    # combinator's unmatched rows, which arrive as CASE-wrapped NULLs,
    # would do the same).
    "exponentialMovingAverage": (
        "aggregate("
        "array_sort(collect_list(CASE WHEN ({a0}) IS NOT NULL "
        "AND ({a1}) IS NOT NULL THEN "
        "struct(cast({a1} as double) AS t, "
        "cast({a0} as double) AS v) END)), "
        "struct(cast(null as double) AS t, cast(0.0 as double) AS num, "
        "cast(0.0 as double) AS den), "
        "(__s, __x) -> struct(__x.t AS t, "
        "__s.num * power(cast(2.0 as double), "
        "(coalesce(__s.t, __x.t) - __x.t)/({p0})) + __x.v AS num, "
        "__s.den * power(cast(2.0 as double), "
        "(coalesce(__s.t, __x.t) - __x.t)/({p0})) "
        "+ cast(1.0 as double) AS den), "
        # try_divide: an all-NULL group folds to den=0 — NULL result,
        # not an ANSI divide-by-zero error
        "__s -> try_divide(__s.num, __s.den))"
    ),
    # topK(k)(x): the k most FREQUENT values (CH SpaceSaving sketch),
    # here exact: run-length encode the sorted collected group, sort by
    # (count desc, value asc) — deterministic where CH is approximate.
    # The group IS materialized (an in-expression aggregate cannot do
    # the two-phase partial-count shape); for unbounded groups use the
    # two-phase query form instead (queries/aggregations.py q_agg_topk).
    # LINEAR shape (r14): run ends found by neighbor comparison over
    # the sorted array, counts from index differences — the old
    # append-per-element RLE fold copied the accumulator array each
    # step (O(n²) allocation; the sf30 sweep OOM-killed the JVM on a
    # 640k-element group). Single-bind via the transform(array(…))
    # wrapper so collect_list sorts once.
    "topK": (
        "element_at(transform(array(array_sort(collect_list({a0}))), "
        "__s -> element_at(transform(array("
        "filter(transform(__s, (__x, __i) -> __i + 1), "
        "__e2 -> NOT (element_at(__s, __e2) <=> "
        "try_element_at(__s, __e2 + 1)))"
        "), __ee -> "
        "slice(transform(array_sort(transform(__ee, (__e3, __j) -> "
        "struct(CAST(-(__e3 - CASE WHEN __j = 0 THEN 0 ELSE "
        "element_at(__ee, __j) END) AS BIGINT) AS nc, "
        "element_at(__s, __e3) AS v))), "
        "__t -> __t.v), 1, {p0})"
        "), 1)), 1)"
    ),
    # topKWeighted(k)(x, w): k values with the largest summed WEIGHT —
    # same exact RLE-over-sorted-group shape as topK with the run
    # counter accumulating w instead of 1 (ties: weight desc, value
    # asc, deterministic where CH's sketch is approximate)
    # LINEAR like topK (r14): runs by neighbor comparison on .v over
    # the value-sorted (v, w) structs; each run's weight comes from an
    # O(1)-accumulator fold over its DISJOINT slice, so total work
    # stays O(n)
    # NULL values filtered before ranking (r15): collect_list skips a
    # NULL scalar (the topK template inherits that) but NOT a struct
    # with a NULL field — unfixed, NULL displaced real values on this
    # path only, diverging from CH and from the two-phase rewrite.
    "topKWeighted": (
        "element_at(transform(array(array_sort(filter("
        "collect_list(struct({a0} AS v, cast({a1} as bigint) AS w)), "
        "__f0 -> __f0.v IS NOT NULL))), "
        "__s -> element_at(transform(array("
        "filter(transform(__s, (__x, __i) -> __i + 1), "
        "__e2 -> NOT (element_at(__s, __e2).v <=> "
        "try_element_at(__s, __e2 + 1).v))"
        "), __ee -> "
        "slice(transform(array_sort(transform(__ee, (__e3, __j) -> "
        "struct(-aggregate(slice(__s, "
        "CASE WHEN __j = 0 THEN 1 ELSE element_at(__ee, __j) + 1 END, "
        "__e3 - CASE WHEN __j = 0 THEN 0 ELSE element_at(__ee, __j) "
        "END), CAST(0 AS BIGINT), (__a, __r) -> __a + __r.w) AS nc, "
        "element_at(__s, __e3).v AS v))), "
        "__t -> __t.v), 1, {p0})"
        "), 1)), 1)"
    ),
}

# CH's timing-sketch weighted quantile: exact for the millisecond
# ranges the sketch resolves exactly — the exact weighted fold is the
# faithful (and strictly more accurate) target
# round-10 wave 2/3 aliases (same mapping, alternate CH spelling)
TEMPLATES["topLevelDomainRFC"] = TEMPLATES["topLevelDomain"]
# wave 6: OrNull swallows a malformed NUMBER too (try_cast; the base
# form throws under ANSI like CH throws); unknown units were already
# NULL via the CASE ELSE. OrZero = coalesce of OrNull.
TEMPLATES["parseReadableSizeOrNull"] = TEMPLATES[
    "parseReadableSize"
].replace("cast(round(cast(", "cast(round(try_cast(")
TEMPLATES["parseReadableSizeOrZero"] = (
    f"coalesce({TEMPLATES['parseReadableSizeOrNull']}, 0)"
)
TEMPLATES["scalarProduct"] = TEMPLATES["dotProduct"]
TEMPLATES["anova"] = TEMPLATES["analysisOfVariance"]
# geoDistance: CH uses a WGS84-ellipsoid-corrected formula; the
# haversine mean-Earth-radius agrees to <0.5% (same note as
# greatCircleDistance's docstring); greatCircleAngle is the central
# angle in degrees — distance over the same sphere radius
TEMPLATES["geoDistance"] = TEMPLATES["greatCircleDistance"]
TEMPLATES["greatCircleAngle"] = (
    "degrees((" + TEMPLATES["greatCircleDistance"] + ") / 6371000.0d)"
)
TEMPLATES["countSubstringsCaseInsensitiveUTF8"] = TEMPLATES[
    "countSubstringsCaseInsensitive"
]
# intent-hash of the normalized query text — COMPOSED from
# normalizeQuery so the two literal-masking pipelines cannot drift
# (same xxhash64 non-bit-compat policy as the cityHash family)
TEMPLATES["normalizedQueryHash"] = (
    "xxhash64(" + TEMPLATES["normalizeQuery"] + ")"
)
# KeepNames variants: this engine's normalizeQuery only masks
# LITERALS (never identifiers), which is exactly the KeepNames
# contract — the two spellings share one pipeline
TEMPLATES["normalizeQueryKeepNames"] = TEMPLATES["normalizeQuery"]
TEMPLATES["normalizedQueryHashKeepNames"] = TEMPLATES[
    "normalizedQueryHash"
]
# wave-4c aliases: alternate documented spellings of mapped functions
TEMPLATES["toTimezone"] = TEMPLATES["toTimeZone"]
TEMPLATES["splitByAlpha"] = TEMPLATES["alphaTokens"]
TEMPLATES["ngramSearchCaseInsensitiveUTF8"] = TEMPLATES[
    "ngramSearchCaseInsensitive"
]
# this engine's hasToken never throws (regex-quoted needle), so the
# OrNull spellings are the same mapping
TEMPLATES["hasTokenOrNull"] = TEMPLATES["hasToken"]
TEMPLATES["hasTokenCaseInsensitiveOrNull"] = TEMPLATES[
    "hasTokenCaseInsensitive"
]
# wave 8 (r15): keccak256 uses the ORIGINAL Keccak padding (NOT NIST
# SHA-3 — hashlib.sha3_256 would not match; kernel validated against
# the canonical '' / 'abc' vectors); RIPEMD-160 via OpenSSL; bfloat16
# truncates the float32 mantissa to 7 bits (top 16 bits), widened back
# to double
TEMPLATES["keccak256"] = "__ch_keccak256({0})"
TEMPLATES["ripeMD160"] = "__ch_ripemd160({0})"
TEMPLATES["toBFloat16"] = "__ch_bfloat16(CAST({0} AS DOUBLE))"
# OrNull wrapper over the valid MJD day range (CH throws outside it;
# the OrNull spelling yields NULL)
TEMPLATES["fromModifiedJulianDayOrNull"] = (
    "(CASE WHEN ({0}) BETWEEN -678941 AND 2973483 THEN "
    + TEMPLATES["fromModifiedJulianDay"]
    + " ELSE NULL END)"
)
# IPv4CIDRToRange(dotted, prefix) → tuple(lo, hi) dotted strings:
# width = 2^(32−p); lo = n div width × width; hi = lo + width − 1
# (composed from the IPv4StringToNum/NumToString mappings above so
# the three cannot drift). IPv6CIDRToRange needs 128-bit arithmetic
# and is rejected toward isIPAddressInRange.
TEMPLATES["IPv4CIDRToRange"] = (
    "element_at(transform(array(cast(pow(2, 32 - ({1})) as bigint)), "
    "__cw -> element_at(transform(array(("
    + TEMPLATES["IPv4StringToNum"]
    + ") div __cw * __cw), __cl -> struct("
    + TEMPLATES["IPv4NumToString"].replace("{0}", "__cl")
    + " AS col1, "
    + TEMPLATES["IPv4NumToString"].replace("{0}", "(__cl + __cw - 1)")
    + " AS col2)), 1)), 1)"
)

# ONE CH-scalar → Spark-type table: the DDL type map (ddl.py) and every
# dispatch that casts by a CH type name (accurateCast*, the cast
# variants, typed dictGet) read it — hand-maintained copies drifted
# before this was shared. CH unsigned widths that exceed the same-width
# Spark signed type are WIDENED (UInt8 max 255 > tinyint max 127 →
# smallint, etc.). UInt64 maps to bigint: values above 2^63-1 would
# wrap — the practical CH use of UInt64 is ids/counters in int64 range;
# a lossless mapping would be decimal(20,0) at ~3× aggregate cost.
CH_SCALAR_SPARK: dict[str, str] = {
    "Int8": "tinyint", "Int16": "smallint",
    "Int32": "int", "Int64": "bigint",
    "UInt8": "smallint", "UInt16": "int",
    "UInt32": "bigint", "UInt64": "bigint",
    "Int128": "decimal(38,0)",
    "Float32": "float", "Float64": "double",
    "String": "string", "Date": "date",
    "Date32": "date", "DateTime": "timestamp",
    "Bool": "boolean", "Boolean": "boolean", "UUID": "string",
    # IP types store as canonical strings, JSON/Object as JSON text
    "IPv4": "string", "IPv6": "string",
    "JSON": "string", "Object": "string",
}

PARAMETERIZED["quantileTimingWeighted"] = PARAMETERIZED[
    "quantileExactWeighted"
]

# Parameterized-aggregate FAMILY prefixes: a two-paren spelling whose
# name starts with one of these but has no mapping above must reject
# at translate time — the silent alternative emits `name(p)(a)`, which
# Spark rejects much later with an inscrutable parse error (this
# exact gap hid quantileExactLow & friends until round 10).
_PARAMETRIC_FAMILIES = (
    "quantile",
    "median",
    "groupArray",
    "groupUniqArray",
    "topK",
    "uniq",
    "histogram",
    "anyHeavy",
    "corr",
    "covar",
    "largest",
    "sumCount",
    "sequence",
    "windowFunnel",
    "retention",
    # studentTTest/welchTTest deliberately absent: their single-paren
    # dispatch already rejects the confidence-interval form with a
    # more specific message
)


_GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_encode_sql(lon: str, lat: str, p: int) -> str:
    """geohashEncode(lon, lat, precision) as a pure JVM expression.

    Geohash bits are the interleaved bits (lon first) of the scaled
    integer cells lon_i = ⌊(lon+180)/360·2^lonb⌋, lat_i likewise —
    no iterative bisection needed. Precision must be a literal so the
    shift amounts unroll to constants (CH callers pass literals); the
    two scaled cells bind ONCE through a single-element transform()
    lambda (SQL has no let-bindings, a lambda parameter is one).
    """
    p = max(1, min(12, p))
    lonb = (5 * p + 1) // 2
    latb = (5 * p) // 2
    lon_i = (
        f"CAST(least(floor(((({lon}) + 180.0d) / 360.0d) * "
        f"{1 << lonb}d), {(1 << lonb) - 1}d) AS BIGINT)"
    )
    lat_i = (
        f"CAST(least(floor(((({lat}) + 90.0d) / 180.0d) * "
        f"{1 << latb}d), {(1 << latb) - 1}d) AS BIGINT)"
    )
    return (
        f"element_at(transform(array(struct({lon_i} AS li, "
        f"{lat_i} AS la)), __g -> "
        f"{_geohash_chars('__g.li', '__g.la', p)}), 1)"
    )


def _geohash_chars(li: str, la: str, p: int) -> str:
    """The base-32 string for the scaled integer cell (``li``, ``la``)
    at precision ``p`` — bit-interleave unrolled to constant shifts
    (shared by geohashEncode and geohashesInBox)."""
    lonb = (5 * p + 1) // 2
    latb = (5 * p) // 2
    chars = []
    for j in range(p):
        terms = []
        for b in range(5 * j, 5 * j + 5):
            weight = 1 << (4 - (b - 5 * j))
            if b % 2 == 0:  # lon bit b//2 (MSB-first)
                shift = lonb - 1 - b // 2
                terms.append(f"(shiftright({li}, {shift}) & 1) * {weight}")
            else:
                shift = latb - 1 - (b - 1) // 2
                terms.append(f"(shiftright({la}, {shift}) & 1) * {weight}")
        chars.append(
            f"substring('{_GEOHASH_ALPHABET}', "
            f"CAST({' + '.join(terms)} AS INT) + 1, 1)"
        )
    return f"concat({', '.join(chars)})"


def _geohashes_in_box_sql(
    lon_min: str, lat_min: str, lon_max: str, lat_max: str, p: int
) -> str:
    """geohashesInBox(lon_min, lat_min, lon_max, lat_max, precision) →
    every precision-``p`` geohash cell inside or intersecting the box,
    lon-major then lat ascending (the CH doc example's order). Empty
    box (min > max) → empty array; covers over 10M cells THROW, the
    same guard CH applies (a typo'd box at precision 12 would
    otherwise materialize a planet of strings per row). Precision must
    be a literal — the cell math unrolls at translate time.

    Documented delta: the CH doc example (24.48, 40.56, 24.785,
    40.81, 4) lists a 7th cell ``sx3b`` spanning lon [24.96, 25.31] —
    entirely OUTSIDE the requested box (a CH cover overshoot at the
    max corner). This rewrite returns the true intersecting cover
    (the example's other six cells, same order).
    """
    p = max(1, min(12, p))
    lonb = (5 * p + 1) // 2
    latb = (5 * p) // 2

    def cell(v: str, off: int, span: int, bits: int) -> str:
        return (
            f"CAST(greatest(0.0d, least(floor(((({v}) + {off}.0d) / "
            f"{span}.0d) * {1 << bits}d), {(1 << bits) - 1}d)) AS BIGINT)"
        )

    bounds = (
        f"struct({cell(lon_min, 180, 360, lonb)} AS i0, "
        f"{cell(lon_max, 180, 360, lonb)} AS i1, "
        f"{cell(lat_min, 90, 180, latb)} AS j0, "
        f"{cell(lat_max, 90, 180, latb)} AS j1)"
    )
    grid = (
        "flatten(transform(sequence(__gb.i0, __gb.i1), __gi -> "
        "transform(sequence(__gb.j0, __gb.j1), __gj -> "
        f"{_geohash_chars('__gi', '__gj', p)})))"
    )
    return (
        f"element_at(transform(array({bounds}), __gb -> "
        f"CASE WHEN ({lon_min}) > ({lon_max}) "
        f"OR ({lat_min}) > ({lat_max}) THEN array() "
        "WHEN (__gb.i1 - __gb.i0 + 1) * (__gb.j1 - __gb.j0 + 1) "
        "> 10000000 THEN raise_error('geohashesInBox: cover exceeds "
        "10000000 cells — lower the precision or shrink the box') "
        f"ELSE {grid} END), 1)"
    )


def _geohash_decode_sql(s: str) -> str:
    """geohashDecode(str) → tuple(longitude, latitude) — the CELL
    CENTER (standard decode; CH example ezs42 → (-5.60303, 42.60498)).
    One fold over the global bit sequence de-interleaves into the two
    scaled cells; length (and so the bit split) is dynamic.
    """
    bit = (
        f"shiftright(locate(substring({s}, CAST(__b / 5 AS INT) + 1, "
        f"1), '{_GEOHASH_ALPHABET}') - 1, 4 - __b % 5) & 1"
    )
    fold = (
        f"aggregate(sequence(0, 5 * length({s}) - 1), "
        "struct(CAST(0 AS BIGINT) AS lo, CAST(0 AS BIGINT) AS la), "
        "(__a, __b) -> CASE WHEN __b % 2 = 0 "
        f"THEN struct(__a.lo * 2 + ({bit}) AS lo, __a.la AS la) "
        f"ELSE struct(__a.lo AS lo, __a.la * 2 + ({bit}) AS la) END)"
    )
    lonb = f"CAST((5 * length({s}) + 1) / 2 AS INT)"
    latb = f"CAST((5 * length({s})) / 2 AS INT)"
    return (
        f"element_at(transform(array({fold}), __t -> struct("
        f"-180.0d + 360.0d * (CAST(__t.lo AS DOUBLE) + 0.5d) "
        f"/ power(2.0d, {lonb}) AS col1, "
        f"-90.0d + 180.0d * (CAST(__t.la AS DOUBLE) + 0.5d) "
        f"/ power(2.0d, {latb}) AS col2)), 1)"
    )


def _point_in_polygon_sql(pt: str, poly: str) -> str:
    """pointInPolygon((x, y), [(x1, y1), …]) — even-odd ray cast as a
    fold over the vertex edges, all JVM-side. Vertex i pairs with
    i+1 (wrapping), matching CH's closed-ring convention whether or
    not the caller repeats the first vertex (the degenerate wrap edge
    has zero extent). Boundary points follow half-open edge rules
    (standard crossing test), like most ray casters.
    """
    # bind point + polygon once via the lambda-parameter trick
    a = "element_at(__s.pg, __i)"
    b = ("element_at(__s.pg, CASE WHEN __i = size(__s.pg) "
         "THEN 1 ELSE __i + 1 END)")
    cross = (
        f"(({a}.col2 > __s.py) != ({b}.col2 > __s.py)) AND "
        f"(__s.px < ({b}.col1 - {a}.col1) * (__s.py - {a}.col2) "
        f"/ ({b}.col2 - {a}.col2) + {a}.col1)"
    )
    return (
        f"element_at(transform(array(struct(({pt}).col1 AS px, "
        f"({pt}).col2 AS py, ({poly}) AS pg)), __s -> "
        f"(aggregate(sequence(1, size(__s.pg)), 0, (__c, __i) -> "
        f"__c + CASE WHEN {cross} THEN 1 ELSE 0 END) % 2) = 1), 1)"
    )


def _ttest_sql(kind: str, x: str, idx: str) -> str:
    """``studentTTest(sample, index)`` / ``welchTTest(sample, index)``
    → tuple(t_statistic, p_value). The statistic is plain filtered
    aggregates (Catalyst dedupes the repeated aggregate expressions
    into one buffer); the two-sided p-value calls the shared Python
    CDF kernel ``__ch_t_pvalue`` (functions/stats.py), registered by
    ``ch_sql()``. Index 0 selects sample 0, anything else sample 1
    (CH's contract is literal 0/1 data)."""
    x0 = f"CASE WHEN ({idx}) = 0 THEN CAST({x} AS DOUBLE) END"
    x1 = f"CASE WHEN ({idx}) <> 0 THEN CAST({x} AS DOUBLE) END"
    m0, m1 = f"avg({x0})", f"avg({x1})"
    v0, v1 = f"var_samp({x0})", f"var_samp({x1})"
    n0, n1 = (
        f"CAST(count({x0}) AS DOUBLE)",
        f"CAST(count({x1}) AS DOUBLE)",
    )
    if kind == "studentTTest":
        df = f"({n0} + {n1} - 2.0d)"
        sp2 = f"((({n0} - 1.0d) * {v0} + ({n1} - 1.0d) * {v1}) / {df})"
        t = (
            f"(({m0} - {m1}) / sqrt({sp2} "
            f"* (1.0d / {n0} + 1.0d / {n1})))"
        )
    else:  # welchTTest
        se0, se1 = f"({v0} / {n0})", f"({v1} / {n1})"
        t = f"(({m0} - {m1}) / sqrt({se0} + {se1}))"
        df = (
            f"(power({se0} + {se1}, 2.0d) / "
            f"(power({se0}, 2.0d) / ({n0} - 1.0d) + "
            f"power({se1}, 2.0d) / ({n1} - 1.0d)))"
        )
    return (
        f"struct({t} AS col1, __ch_t_pvalue({t}, {df}) AS col2)"
    )


def _mean_ztest_sql(
    var0: str, var1: str, conf: str, x: str, idx: str
) -> str:
    """``meanZTest(pop_var_x, pop_var_y, conf)(sample, index)`` →
    tuple(z_statistic, p_value, ci_low, ci_high). Statistic and CI are
    plain filtered aggregates; Φ and Φ⁻¹ come from the shared Python
    kernels (functions/stats.py). The CI is for the mean difference at
    the given confidence level."""
    x0 = f"CASE WHEN ({idx}) = 0 THEN CAST({x} AS DOUBLE) END"
    x1 = f"CASE WHEN ({idx}) <> 0 THEN CAST({x} AS DOUBLE) END"
    m0, m1 = f"avg({x0})", f"avg({x1})"
    n0 = f"CAST(count({x0}) AS DOUBLE)"
    n1 = f"CAST(count({x1}) AS DOUBLE)"
    se = f"sqrt(({var0}) / {n0} + ({var1}) / {n1})"
    z = f"(({m0} - {m1}) / {se})"
    p = f"(2.0d * (1.0d - __ch_norm_cdf(abs({z}))))"
    q = f"__ch_probit(1.0d - (1.0d - ({conf})) / 2.0d)"
    return (
        f"struct({z} AS col1, {p} AS col2, "
        f"(({m0} - {m1}) - {q} * {se}) AS col3, "
        f"(({m0} - {m1}) + {q} * {se}) AS col4)"
    )


_MWU_ALTERNATIVES = ("'two-sided'", "'greater'", "'less'")


def _mwu_sql(params: list[str], args: list[str]) -> str:
    """``mannWhitneyUTest([alternative[, continuity]])(sample, index)``
    → tuple(u_statistic, p_value) via the grouped-aggregate Python
    kernel ``__ch_mwu`` (functions/stats.py): U of the index-0 sample
    over tie-averaged pooled ranks, normal-approximation p with tie
    correction and continuity correction (the same approximation CH
    uses; no exact small-sample enumeration). The group is materialized
    on one worker (same caveat as the topK/EMA collect shapes)."""
    if len(args) != 2:
        raise ValueError(
            "mannWhitneyUTest takes (sample_data, sample_index)"
        )
    if len(params) > 2:
        raise ValueError(
            "mannWhitneyUTest takes at most (alternative, "
            "continuity_correction) parameters"
        )
    alt = params[0] if params else "'two-sided'"
    if alt.startswith("'") and alt not in _MWU_ALTERNATIVES:
        raise ValueError(
            f"mannWhitneyUTest alternative must be one of "
            f"{', '.join(_MWU_ALTERNATIVES)}, got {alt}"
        )
    cont = params[1] if len(params) > 1 else "1.0"
    base = (
        f"__ch_mwu(CAST({args[0]} AS DOUBLE), CAST({args[1]} AS INT), "
        f"{alt}, CAST({cont} AS DOUBLE))"
    )
    return (
        f"struct(element_at({base}, 1) AS col1, "
        f"element_at({base}, 2) AS col2)"
    )


def _array_split_sql(reverse: bool, lam: str, arrs: list[str]) -> str:
    """``arraySplit(lambda, arr1[, arr2 …])`` → array of slices, cut
    BEFORE every position where the lambda is truthy (the first piece
    always starts at element 1); ``arrayReverseSplit`` cuts AFTER
    truthy positions. Pure JVM HOFs: flag positions via filter over
    a position sequence (the lambda's params substitute to
    ``try_element_at(arr_k, pos)`` — quote-aware, and NULL-safe at
    the reverse form's position 0), then one slice per consecutive
    start pair. Arrays of unequal length flag NULL (→ no split) past
    the shorter one, where CH would error."""
    depth = 0
    pos = -1
    for i in range(len(lam) - 1):
        c = lam[i]
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif depth == 0 and lam[i : i + 2] == "->":
            pos = i
            break
    if pos < 0:
        raise ValueError(
            "arraySplit: the first argument must be a lambda "
            "(params -> flag)"
        )
    head = lam[:pos].strip()
    body = lam[pos + 2 :].strip()
    if head.startswith("(") and head.endswith(")"):
        head = head[1:-1]
    params = [p.strip() for p in head.split(",") if p.strip()]
    if len(params) != len(arrs):
        raise ValueError(
            f"arraySplit: lambda takes {len(params)} parameter(s) "
            f"but {len(arrs)} array(s) were given"
        )
    a = arrs[0]

    def flag(idx: str) -> str:
        b = body
        for p_, arr_ in zip(params, arrs):
            b = lex(b).subst(p_, f"try_element_at({arr_}, {idx})")
        # CH treats any nonzero as a cut; NULL (out-of-range probe or
        # NULL flag) never cuts
        return f"coalesce(CAST(({b}) AS BOOLEAN), false)"

    starts = (
        f"filter(sequence(1, size({a})), __p -> __p = 1 OR "
        f"{flag('__p - 1' if reverse else '__p')})"
    )
    piece = (
        f"slice({a}, element_at({starts}, __k), "
        f"coalesce(try_element_at({starts}, __k + 1), size({a}) + 1) "
        f"- element_at({starts}, __k))"
    )
    # if(), not CASE: lambdas do not parse inside CASE branches (the
    # same parser limitation as CAST); the empty-array arm builds a
    # correctly-typed empty array<array<T>>
    return (
        f"if(size({a}) = 0, slice(array({a}), 1, 0), "
        f"transform(sequence(1, size({starts})), __k -> {piece}))"
    )


def _proportions_ztest_sql(
    sx: str, sy: str, tx: str, ty: str, conf: str, pool: str
) -> str:
    """``proportionsZTest(successes_x, successes_y, trials_x,
    trials_y, conf_level, 'pooled'|'unpooled')`` →
    tuple(z_statistic, p_value, ci_low, ci_high). A SCALAR function of
    the four counts (CH's contract): z uses the chosen pooling for its
    standard error; the confidence interval for the difference always
    uses the unpooled SE (matching the standard two-proportion CI)."""
    px = f"(CAST({sx} AS DOUBLE) / CAST({tx} AS DOUBLE))"
    py = f"(CAST({sy} AS DOUBLE) / CAST({ty} AS DOUBLE))"
    pp = (
        f"(CAST(({sx}) + ({sy}) AS DOUBLE) / "
        f"CAST(({tx}) + ({ty}) AS DOUBLE))"
    )
    inv = f"(1.0d / CAST({tx} AS DOUBLE) + 1.0d / CAST({ty} AS DOUBLE))"
    se_pool = f"sqrt({pp} * (1.0d - {pp}) * {inv})"
    se_unpool = (
        f"sqrt({px} * (1.0d - {px}) / CAST({tx} AS DOUBLE) + "
        f"{py} * (1.0d - {py}) / CAST({ty} AS DOUBLE))"
    )
    se_z = (
        f"(CASE WHEN ({pool}) = 'pooled' THEN {se_pool} "
        f"ELSE {se_unpool} END)"
    )
    z = f"(({px} - {py}) / {se_z})"
    p = f"(2.0d * (1.0d - __ch_norm_cdf(abs({z}))))"
    q = f"__ch_probit(1.0d - (1.0d - ({conf})) / 2.0d)"
    return (
        f"struct({z} AS col1, {p} AS col2, "
        f"(({px} - {py}) - {q} * {se_unpool}) AS col3, "
        f"(({px} - {py}) + {q} * {se_unpool}) AS col4)"
    )


def _min_sample_size_sql(kind: str, args: list[str]) -> str:
    """``minSampleSizeConversion(baseline, mde, power, alpha)`` /
    ``minSampleSizeContinuous(baseline, sigma, mde, power, alpha)`` →
    tuple(minimum_sample_size, detect_range_lower, detect_range_upper)
    — the standard two-sample power formulas (Evan Miller's sample-size
    calculator, which the CH docs cite): per-group n for a two-sided
    level-α test at the given power. Conversion mde is ABSOLUTE
    (proportion points); continuous mde is RELATIVE to the baseline
    mean."""
    if kind == "minSampleSizeConversion":
        base, mde, power, alpha = args
        qa = f"__ch_probit(1.0d - ({alpha}) / 2.0d)"
        qb = f"__ch_probit({power})"
        p1 = f"CAST({base} AS DOUBLE)"
        p2 = f"(CAST({base} AS DOUBLE) + ({mde}))"
        pbar = f"(CAST({base} AS DOUBLE) + ({mde}) / 2.0d)"
        n = (
            f"(power({qa} * sqrt(2.0d * {pbar} * (1.0d - {pbar})) + "
            f"{qb} * sqrt({p1} * (1.0d - {p1}) + {p2} * (1.0d - {p2})),"
            f" 2.0d) / power({mde}, 2.0d))"
        )
        return (
            f"struct({n} AS col1, ({p1} - ({mde})) AS col2, "
            f"({p1} + ({mde})) AS col3)"
        )
    base, sigma, mde, power, alpha = args
    qa = f"__ch_probit(1.0d - ({alpha}) / 2.0d)"
    qb = f"__ch_probit({power})"
    n = (
        f"(2.0d * power(({qa}) + ({qb}), 2.0d) * "
        f"power({sigma}, 2.0d) / "
        f"power(CAST({base} AS DOUBLE) * ({mde}), 2.0d))"
    )
    return (
        f"struct({n} AS col1, "
        f"(CAST({base} AS DOUBLE) * (1.0d - ({mde}))) AS col2, "
        f"(CAST({base} AS DOUBLE) * (1.0d + ({mde}))) AS col3)"
    )


def _map_agg_sql(ident: str, args: list[str]) -> str:
    """``sumMap/minMap/maxMap(key_arr, val_arr)`` → per-key aggregation
    as a PURE-JVM rewrite: collect the (key, value) pairs per group,
    then reduce per distinct key with higher-order functions — no
    Python UDF, no second groupBy plan.

    Shapes (matching CH): the two-array form returns
    ``tuple(sorted keys, reduced values)`` (struct fields col1/col2 so
    ``.1``/``.2`` works); the one-argument Map form returns a Map with
    keys in sorted order. NULL values are skipped in the reduction; a
    key whose values are all NULL reduces to NULL. sumMap widens
    integral accumulation to 64-bit the way CH does (min/max preserve
    the input type — they return elements). Keys are KEPT even
    when their sum is 0 (a documented delta: some CH versions elide
    zero-total keys from sumMap — filter ``v <> 0`` on the result if
    that elision is wanted; silent key disappearance is the more
    surprising behavior at this boundary).

    Cost note: the reduction is O(|distinct keys| × |pairs|) per group
    post-aggregation — the right trade for the map-typed CH workloads
    this spelling serves (bounded key vocabularies). Unbounded key
    domains should use the explode → two-level aggregation operator
    (queries.aggregations sumMap shape, one exchange) instead.
    """
    if len(args) == 1:
        k = f"map_keys({args[0]})"
        v = f"map_values({args[0]})"
        wrap = "map_from_arrays"
    else:
        k, v = args
        wrap = "struct"
    keys = f"array_sort(array_distinct(flatten(collect_list({k}))))"
    flat = (
        f"flatten(collect_list(zip_with({k}, {v}, "
        f"(__ma, __mb) -> struct(__ma AS k, __mb AS v))))"
    )
    vals = (
        f"transform(filter({flat}, __me -> __me.k <=> __mk "
        f"AND __me.v IS NOT NULL), __me -> __me.v)"
    )
    if ident.startswith("sum"):
        # widening sum, like CH: adding a BIGINT 0 to the init
        # promotes int8/16/32 accumulation to 64-bit (doubles stay
        # double, decimals widen per Spark's + rules) so narrow input
        # types can't silently overflow mid-fold; empty →
        # try_element_at gives NULL
        reduced = (
            f"aggregate(slice({vals}, 2, size({vals})), "
            f"try_element_at({vals}, 1) + CAST(0 AS BIGINT), "
            f"(__acc, __mx) -> __acc + __mx)"
        )
    elif ident.startswith("min"):
        reduced = f"array_min({vals})"
    elif ident.startswith("count"):
        # non-NULL value count per key (0 for all-NULL keys)
        reduced = f"CAST(size({vals}) AS BIGINT)"
    elif ident.startswith("avg"):
        reduced = (
            f"try_divide(aggregate({vals}, cast(0.0 as double), "
            f"(__acc, __mx) -> __acc + __mx), size({vals}))"
        )
    else:
        reduced = f"array_max({vals})"
    return f"{wrap}({keys}, transform({keys}, __mk -> {reduced}))"


def _etd_sql(ident: str, w: str, args: list[str]) -> str:
    """``exponentialTimeDecayedSum/Count/Max/Avg(w)(v, t)`` as a
    GROUP-BY aggregate (round 12): the decayed reduction AT THE
    LATEST time — Σ v_i·e^(−(t_max−t_i)/w) (Sum), the max of the
    decayed terms (Max), Σ e^(−Δ/w) (Count), Sum/Count (Avg). Decay
    to t_max is a pure function of the multiset (max is order-free),
    so unlike the block-order rejects this is well-defined without an
    ordering key. The per-row WINDOW form stays with
    ``operators.ema.exponential_time_decayed`` (same constraint the
    mapped ``exponentialMovingAverage`` has)."""
    is_count = ident.endswith("Count")
    if len(args) != (1 if is_count else 2):
        raise ValueError(
            f"{ident}({w})(" + ("time)" if is_count else "value, time)")
            + " is the mapped form"
        )
    t = args[0] if is_count else args[1]
    v = "1.0d" if is_count else f"CAST(({args[0]}) AS DOUBLE)"
    guard = f"({t}) IS NOT NULL" + (
        "" if is_count else f" AND ({args[0]}) IS NOT NULL"
    )
    coll = (
        f"collect_list(CASE WHEN {guard} THEN "
        f"struct(CAST(({t}) AS DOUBLE) AS t, {v} AS v) END)"
    )
    def red(body: str) -> str:
        return (
            f"element_at(transform(array({coll}), __ep -> "
            f"CASE WHEN size(__ep) = 0 THEN NULL ELSE "
            f"element_at(transform(array(array_max(transform(__ep, "
            f"__ee -> __ee.t))), __tm -> {body}), 1) END), 1)"
        )
    term = f"__ee.v * exp((__ee.t - __tm) / CAST(({w}) AS DOUBLE))"
    ssum = f"aggregate(__ep, 0.0d, (__ea, __ee) -> __ea + {term})"
    if ident.endswith("Max"):
        return red(f"array_max(transform(__ep, __ee -> {term}))")
    if ident.endswith("Avg"):
        cnt = (
            "aggregate(__ep, 0.0d, (__ea, __ee) -> __ea + "
            f"exp((__ee.t - __tm) / CAST(({w}) AS DOUBLE)))"
        )
        return red(f"try_divide({ssum}, {cnt})")
    return red(ssum)  # Sum, and Count (v pinned to 1)


def _moving_agg_sql(ident: str, n_param: str | None, args: list[str]) -> str:
    """``groupArrayMovingSum/Avg[(n)](v, k[, asc])`` — ORDERED moving
    aggregates. CH defines these over the aggregation (block) order,
    which Spark does not have; the engine maps the one case with
    well-defined semantics — an explicit ordering key, written
    directly or auto-derived from a ``FROM (… ORDER BY k)`` subquery
    by ``_rewrite_moving_order``. The bare one-argument form without a
    derivable order stays a loud reject.

    Fold shape (EMA's collected-group pattern): collect (k, v) pairs
    (NULL v or k skipped, like any CH aggregate), sort by k
    (``asc``=false → descending), then one prefix-sum pass builds the
    running array; the windowed form is ``cum[i] − cum[i−n]`` — the
    same prefix-sum ring CH's implementation uses. Sums widen integral
    inputs to 64-bit (the sumMap rule). MovingAvg divides by the
    window size (CH: unspecified window = whole group) and always
    returns DOUBLE — CH truncates integer inputs toward zero
    ("insignificant decimal places" per its docs), a documented delta:
    cast the result yourself if CH-bit-identical integers matter.
    """
    if len(args) not in (2, 3):
        raise ValueError(
            f"{ident} needs an explicit ordering key: "
            f"{ident}[(n)](value, order_key[, asc]) — or write the "
            "input as FROM (… ORDER BY key) and the key is derived"
        )
    if n_param is not None:
        try:
            if int(n_param) <= 0:
                raise ValueError(
                    f"{ident}: window size must be positive (CH "
                    "throws on 0/negative windows)"
                )
        except (TypeError, ValueError) as e:
            if "window size" in str(e):
                raise
            # non-literal window expressions pass through unverified
    v, k = args[0], args[1]
    asc = args[2] if len(args) == 3 else "true"
    collected = (
        f"sort_array(collect_list(CASE WHEN ({v}) IS NOT NULL "
        f"AND ({k}) IS NOT NULL THEN struct(({k}) AS k, "
        f"({v}) + CAST(0 AS BIGINT) AS v) END), {asc})"
    )
    vs = f"transform({collected}, __gm -> __gm.v)"
    cum = (
        "aggregate(__gmv, slice(__gmv, 1, 0), "
        "(__ga, __gx) -> concat(__ga, array(CASE WHEN size(__ga) = 0 "
        "THEN __gx ELSE element_at(__ga, -1) + __gx END)))"
    )
    if n_param is None:
        sums = cum
    else:
        # cum[i] − cum[i−n]; typed zero via x*0; sequence(1,0) would
        # run BACKWARDS on an empty group, hence the size guard
        sums = (
            f"element_at(transform(array({cum}), __gc -> "
            f"CASE WHEN size(__gc) = 0 THEN __gc ELSE "
            f"transform(sequence(1, size(__gc)), __gi -> "
            f"element_at(__gc, __gi) - CASE WHEN __gi > ({n_param}) "
            f"THEN element_at(__gc, __gi - ({n_param})) "
            f"ELSE element_at(__gc, __gi) * 0 END) END), 1)"
        )
    if ident.endswith("Avg"):
        div = n_param if n_param is not None else "size(__gs)"
        sums = (
            f"element_at(transform(array({sums}), __gs -> "
            f"transform(__gs, __gx -> __gx / CAST({div} AS DOUBLE))), 1)"
        )
    return f"element_at(transform(array({vs}), __gmv -> {sums}), 1)"


def _seq_next_node_sql(params: list[str], args2: list[str]) -> str:
    """``sequenceNextNode(direction, base)(ts, value, base_cond,
    event1[, event2, …])`` — the value of the event that follows the
    matched event chain, per group (CH parametric-functions doc,
    sequenceNextNode section).

    The four DOCUMENTED direction/base behaviors are supported —
    ('forward','head'), ('backward','tail'),
    ('forward','first_match'), ('backward','last_match') — and they
    share ONE shape: sort the collected (ts, value, conds…) group in
    direction order (backward = ts-descending), set the base at the
    first element (head/tail) or the first element matching event1
    (the match bases), require base_condition AND event1 at the base,
    event2.. on the following elements, and return the value right
    after the chain (NULL if the chain breaks or nothing follows).
    The other four combos are undocumented in CH and reject loudly
    rather than guess. NULL-ts rows are skipped; NULL conditions
    count as false (coalesced at collect time); the static event list
    unrolls at translate time — no loop, no UDF.
    """
    if len(params) != 2:
        raise ValueError(
            "sequenceNextNode takes (direction, base) parameters"
        )
    direction = params[0].strip().strip("'\"")
    base = params[1].strip().strip("'\"")
    combo = (direction, base)
    if combo not in (
        ("forward", "head"), ("backward", "tail"),
        ("forward", "first_match"), ("backward", "last_match"),
    ):
        raise ValueError(
            "sequenceNextNode: supported (direction, base) combos are "
            "('forward','head'), ('backward','tail'), "
            "('forward','first_match'), ('backward','last_match') — "
            "the documented CH behaviors; other combinations are "
            "undocumented and not emulated"
        )
    if len(args2) < 4:
        raise ValueError(
            "sequenceNextNode needs (ts, value, base_condition, "
            "event1[, event2, …])"
        )
    ts, val, base_cond = args2[0], args2[1], args2[2]
    events = args2[3:]
    k = len(events)
    fields = ", ".join(
        f"coalesce(CAST(({e}) AS BOOLEAN), false) AS c{i + 1}"
        for i, e in enumerate(events)
    )
    collected = (
        f"sort_array(collect_list(CASE WHEN ({ts}) IS NOT NULL THEN "
        f"struct(({ts}) AS t, ({val}) AS v, "
        f"coalesce(CAST(({base_cond}) AS BOOLEAN), false) AS b, "
        f"{fields}) END), {'true' if direction == 'forward' else 'false'})"
    )
    if base in ("head", "tail"):
        bi = "1"
    else:
        bi = (
            "try_element_at(filter(sequence(1, size(__sq)), "
            "__sp -> try_element_at(__sq, __sp).c1), 1)"
        )
    conds = [
        "coalesce(try_element_at(__sq, __si).b, false)",
        "coalesce(try_element_at(__sq, __si).c1, false)",
    ]
    for step in range(2, k + 1):
        conds.append(
            f"coalesce(try_element_at(__sq, __si + {step - 1})"
            f".c{step}, false)"
        )
    match = (
        f"element_at(transform(array({bi}), __si -> "
        f"CASE WHEN __si IS NOT NULL AND {' AND '.join(conds)} "
        f"THEN try_element_at(__sq, __si + {k}).v END), 1)"
    )
    return (
        f"element_at(transform(array({collected}), __sq -> "
        f"CASE WHEN size(__sq) = 0 THEN NULL ELSE {match} END), 1)"
    )


def _window_funnel_sql(params: list[str], args2: list[str]) -> str:
    """``windowFunnel(window[, 'mode', …])(ts, cond1, …, condk)`` —
    the deepest completed condition prefix per group, as ONE static
    fold over the time-sorted collected events.

    The fold IS ``operators.funnel.funnel_dp``'s recurrence (the
    sequential authority both the Spark operator and its tests call),
    re-expressed per level: anchors[j] keeps the LATEST chain-start
    reaching level j; an event matching cond j extends when
    ``t − anchor[j−1] ≤ window`` and ``t ≥ last[j−1]`` (equality
    allowed, so one event can satisfy consecutive conditions like CH's
    default mode). Events that match several conditions apply them in
    ascending order within the event — one nested let-binding per
    level, so the expression stays linear in k; same-timestamp events
    process in ascending lowest-matched-condition order (funnel_dp's
    (ts, idx) sort).

    Modes, matching funnel_dp's pinned contracts exactly:
    ``strict_increase`` flips the step comparison to strictly-greater;
    ``strict_dedup`` freezes the fold (a ``stp`` state flag) when an
    event matches a condition some chain has already matched — checked
    per level in ascending order, BEFORE applying, like the
    authority's pre-application break; ``strict_order`` freezes it
    when, with a chain started (a1 set), an event applies at NO level
    (the per-event ``app`` flag) — which covers foreign events and
    failed-extension step events alike. All three cross-validated
    against funnel_dp(modes=…) on randomized streams in
    tests/test_behavioral_sql.py. The window is in the timestamp's
    units (DateTime → seconds), exactly CH's contract. k is capped at
    10 — the expression is O(k²) fields and CH funnels are
    human-sized.
    """
    if not params:
        raise ValueError("windowFunnel needs (window[, modes])(ts, cond1, …)")
    modes = set()
    for m in params[1:]:
        name = m.strip().strip("'\"")
        if name == "strict":
            name = "strict_dedup"  # CH's deprecated alias
        if name not in ("strict_order", "strict_dedup",
                        "strict_increase"):
            raise ValueError(
                f"windowFunnel mode {m}: supported modes are "
                "'strict_order', 'strict_dedup', 'strict_increase' "
                "(and the deprecated 'strict' = strict_dedup)"
            )
        modes.add(name)
    strict_order = "strict_order" in modes
    strict_dedup = "strict_dedup" in modes
    step_cmp = ">" if "strict_increase" in modes else ">="
    if len(args2) < 2:
        raise ValueError("windowFunnel needs (window[, modes])(ts, cond1, …)")
    ts = args2[0]
    conds = args2[1:]
    k = len(conds)
    if k > 10:
        raise ValueError(
            "windowFunnel: more than 10 conditions — use "
            "operators.funnel.window_funnel"
        )
    w = params[0]
    fields = ", ".join(
        f"coalesce(CAST(({c}) AS BOOLEAN), false) AS c{j + 1}"
        for j, c in enumerate(conds)
    )
    # foreign (no-condition) events sort FIRST at equal timestamps —
    # funnel_dp's (ts, idx) order puts idx = −1 lowest, which matters
    # under strict_order
    tiekey = "CASE " + " ".join(
        f"WHEN __fo.c{j + 1} THEN {j + 1}" for j in range(k)
    ) + " ELSE 0 END"
    collected = (
        f"transform(array_sort(transform(collect_list("
        f"CASE WHEN ({ts}) IS NOT NULL THEN "
        f"struct(CAST(({ts}) AS DOUBLE) AS t, {fields}) END), "
        f"__fo -> struct(__fo.t AS t, "
        f"({tiekey}) AS o, __fo AS e))), "
        f"__fo -> __fo.e)"
    )
    state_fields = (
        [f"a{j}" for j in range(1, k + 1)]
        + [f"l{j}" for j in range(1, k + 1)]
        + ["best", "stp", "app"]
    )

    def rebuild(s: str, repl: dict) -> str:
        outf = []
        for f in state_fields:
            outf.append(repl.get(f, f"{s}.{f}") + f" AS {f}")
        return "struct(" + ", ".join(outf) + ")"

    def update(j: int, s: str) -> str:
        if j == 1:
            cond = "__fe.c1"
            new_a, new_l = "__fe.t", "__fe.t"
        else:
            cond = (
                f"(__fe.c{j} AND {s}.a{j - 1} IS NOT NULL "
                f"AND __fe.t - {s}.a{j - 1} <= CAST(({w}) AS DOUBLE) "
                f"AND __fe.t {step_cmp} {s}.l{j - 1})"
            )
            new_a, new_l = f"{s}.a{j - 1}", "__fe.t"
        repl = {
            f"a{j}": f"CASE WHEN {cond} THEN {new_a} ELSE {s}.a{j} END",
            f"l{j}": f"CASE WHEN {cond} THEN {new_l} ELSE {s}.l{j} END",
            "best": (
                f"greatest({s}.best, CASE WHEN {cond} THEN {j} "
                f"ELSE 0 END)"
            ),
            # app resets at level 1 (first update of the event), then
            # ORs in each later level's application
            "app": (
                f"({cond})" if j == 1 else f"({s}.app OR ({cond}))"
            ),
        }
        applied = rebuild(s, repl)
        if strict_dedup:
            # pre-application break: the event matches a condition a
            # chain has ALREADY completed → freeze, do not apply
            sd = f"(__fe.c{j} AND {s}.a{j} IS NOT NULL)"
            frozen = rebuild(s, {"stp": "true"})
            applied = f"CASE WHEN {sd} THEN {frozen} ELSE {applied} END"
        # a dedup freeze at an earlier level of the SAME event skips
        # the rest of the chain (the whole-event freeze is outermost)
        if j > 1 and strict_dedup:
            applied = f"CASE WHEN {s}.stp THEN {s} ELSE {applied} END"
        return applied

    body = f"__w{k}"
    if strict_order:
        # with a chain started, an event that applied at NO level
        # freezes the search (covers foreign events too)
        body = (
            f"CASE WHEN __w{k}.a1 IS NOT NULL AND NOT __w{k}.app "
            f"THEN {rebuild(f'__w{k}', {'stp': 'true'})} "
            f"ELSE __w{k} END"
        )
    for j in range(k, 0, -1):
        prev = "__fs" if j == 1 else f"__w{j - 1}"
        body = (
            f"element_at(transform(array({update(j, prev)}), "
            f"__w{j} -> {body}), 1)"
        )
    body = f"CASE WHEN __fs.stp THEN __fs ELSE {body} END"
    init = "struct(" + ", ".join(
        ("0 AS best" if f == "best"
         else "false AS " + f if f in ("stp", "app")
         else "CAST(NULL AS DOUBLE) AS " + f)
        for f in state_fields
    ) + ")"
    return (
        f"aggregate({collected}, {init}, "
        f"(__fs, __fe) -> {body}, __fs -> __fs.best)"
    )


def _sequence_match_sql(
    ident: str, params: list[str], args2: list[str]
) -> str:
    """``sequenceMatch/sequenceCount('pattern')(ts, cond1, …)`` for
    chain patterns — ``(?N)`` groups separated by adjacency or ``.*``
    — as a bitmask-NFA fold over the time-sorted VISIBLE events
    (those matching ≥1 condition; CH ignores the rest). Time
    constraints ``(?t…)`` reject toward the complete pattern engine
    (`operators.funnel.sequence_match`).

    Bit j of the mask = "a pattern prefix of length j ends at the
    current event". Transition: prefix j lights when the event matches
    group j and prefix j−1 was alive (or j = 1 — matches may start
    anywhere); an alive prefix survives a non-extending event only if
    the separator AFTER it is ``.*``. A full match (bit m) bumps the
    counter and RESETS the mask — the earliest-possible end plus reset
    is exactly the authority's non-overlapping greedy scan
    (`operators.funnel.sequence_match_dp`, cross-validated in
    tests/test_behavioral_sql.py). sequenceMatch returns INT 0/1 like
    CH's UInt8; sequenceCount the count.
    """
    from ..operators.funnel import parse_sequence_pattern

    if len(params) != 1:
        raise ValueError(f"{ident} needs ('pattern')(ts, cond1, …)")
    if len(args2) < 2:
        raise ValueError(f"{ident} needs ('pattern')(ts, cond1, …)")
    pat = params[0].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ValueError(f"{ident}: the pattern must be a literal")
    toks = parse_sequence_pattern(pat[1:-1])
    if any(t[0] == "time" for t in toks):
        raise ValueError(
            f"{ident}: (?t…) time constraints need the full pattern "
            "engine — use operators.funnel.sequence_match (mapped, "
            "constraint-complete)"
        )
    ts = args2[0]
    conds = args2[1:]
    k = len(conds)
    # chain positions + the separator AFTER each (True = .*)
    chain: list[int] = []
    skip_after: list[bool] = []
    pending_skip = False
    for kind, arg in toks:
        if kind == "cond":
            if arg >= k:
                raise ValueError(
                    f"{ident}: pattern references (?{arg + 1}) but "
                    f"only {k} conditions were passed"
                )
            if chain:
                skip_after[-1] = pending_skip
            chain.append(arg)
            skip_after.append(False)
            pending_skip = False
        else:  # skip
            pending_skip = True
    m = len(chain)
    if m > 32:
        raise ValueError(f"{ident}: pattern longer than 32 groups")
    fields = ", ".join(
        f"coalesce(CAST(({c}) AS BOOLEAN), false) AS c{j + 1}"
        for j, c in enumerate(conds)
    )
    visible = " OR ".join(f"__qv.c{j + 1}" for j in range(k))
    # ts ties order by lowest matched condition, like the authority's
    # (ts, idx) sort (see the windowFunnel tie note)
    qtie = "CASE " + " ".join(
        f"WHEN __qv.c{j + 1} THEN {j + 1}" for j in range(k)
    ) + f" ELSE {k + 1} END"
    collected = (
        f"transform(array_sort(transform("
        f"filter(collect_list(CASE WHEN ({ts}) IS NOT NULL "
        f"THEN struct(CAST(({ts}) AS DOUBLE) AS t, {fields}) END), "
        f"__qv -> {visible}), "
        f"__qv -> struct(__qv.t AS t, ({qtie}) AS o, __qv AS e))), "
        f"__qv -> __qv.e)"
    )
    terms = []
    for j in range(1, m + 1):
        cbit = chain[j - 1] + 1  # condition column for group j
        extend = f"__qe.c{cbit}" + (
            "" if j == 1 else f" AND (__qs.msk & {1 << (j - 1)}) != 0"
        )
        term = f"({extend})"
        if skip_after[j - 1]:
            term = f"({term} OR (__qs.msk & {1 << j}) != 0)"
        terms.append(
            f"(CASE WHEN {term} THEN CAST({1 << j} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    newmask = " | ".join(terms)
    return (
        f"aggregate({collected}, "
        f"struct(CAST(0 AS BIGINT) AS msk, 0 AS cnt), "
        f"(__qs, __qe) -> element_at(transform(array({newmask}), "
        f"__nm -> CASE WHEN (__nm & {1 << m}) != 0 "
        f"THEN struct(CAST(0 AS BIGINT) AS msk, __qs.cnt + 1 AS cnt) "
        f"ELSE struct(__nm AS msk, __qs.cnt AS cnt) END), 1), "
        + (
            "__qs -> CAST(__qs.cnt >= 1 AS INT))"
            if ident == "sequenceMatch"
            else "__qs -> CAST(__qs.cnt AS BIGINT))"
        )
    )


_MOVING_AGGS = ("groupArrayMovingSum", "groupArrayMovingAvg")


def _rewrite_moving_order(toks: Tokens) -> str:
    """Auto-derive the ordering key for bare ``groupArrayMovingSum/
    Avg(v)`` (and the windowed ``(n)(v)`` spelling) from an enclosing
    ``FROM (… ORDER BY key [ASC|DESC])`` subquery — the common CH
    idiom where these block-order aggregates have well-defined
    semantics. The key is INJECTED into the call (the fold sorts the
    collected group itself — Spark gives no input-order guarantee to
    lean on, ordered subquery or not). Single-key ORDER BY only;
    multi-key or underivable shapes fall through untouched and reject
    loudly at the dispatch site with the explicit-key spelling.
    """
    sql = toks.sql
    if "groupArrayMoving" not in sql:
        return sql
    # collect EVERY top-level FROM ( … ) subquery's ORDER BY; only a
    # single unambiguous (key, direction) may be injected — two legs
    # ordering by different keys (UNION ALL) must reject, not silently
    # aggregate the first leg in the second leg's order
    candidates = set()
    for b in toks.clauses():
        frm = b.get("FROM")
        k = toks.at(frm.body) if frm else len(toks.starts)
        if k == len(toks.starts) or sql[toks.starts[k]] != "(":
            continue
        sub = lex(sql[toks.starts[k] + 1 : toks.close(toks.starts[k])])
        for sb in sub.clauses():
            order = sb.get("ORDER BY")
            if order is None:
                continue
            keytext = sub.sql[order.body : order.end].strip()
            up = keytext.upper()
            this_asc = True
            if up.endswith(" DESC"):
                keytext, this_asc = keytext[:-5].rstrip(), False
            elif up.endswith(" ASC"):
                keytext = keytext[:-4].rstrip()
            if len(lex(keytext).split()) == 1 and keytext:
                candidates.add((keytext, this_asc))
    if len(candidates) != 1:
        return sql  # ambiguous (or none) → the loud reject downstream
    (key, asc), = candidates
    tail = f", {key}" + ("" if asc else ", false")
    # inject right-to-left so the offsets found stay valid
    inserts = []
    for s, e in zip(toks.starts, toks.ends):
        if sql[s:e] not in _MOVING_AGGS or sql[e : e + 1] != "(":
            continue
        close = toks.close(e)
        grp = e
        # parameterized spelling: args live in the SECOND group
        j = close + 1
        while j < len(sql) and sql[j] in " \t\n":
            j += 1
        if j < len(sql) and sql[j] == "(":
            grp, close = j, toks.close(j)
        if len(toks.split(grp + 1, close)) == 1:
            inserts.append(close)
    for close in sorted(inserts, reverse=True):
        sql = sql[:close] + tail + sql[close:]
    return sql


# byteSwap width from the inner typed cast (round 12): CH's byteSwap
# reverses the bytes of the value's TYPE width, which a text rewrite
# can only know when the argument is an explicit toUIntN/toIntN cast.
# The pre-pass renames byteSwap(to*IntW(…)) → __byteSwap<W>(to*IntW(…))
# so the dispatch has the width; a bare byteSwap(x) keeps the loud
# reject. 64-bit stays rejected: the swapped value of a high-byte-set
# UInt64 exceeds BIGINT and Int64 swaps routinely flip the sign bit.
_BYTESWAP_WIDTHS = {
    # cast name → (bits, signed): signed widths fold the swapped
    # pattern back into the signed range (CH reinterprets in the
    # input TYPE: byteSwap(Int16 −2) = 0xFFFE→0xFEFF = −257)
    "toUInt8": (8, False), "toInt8": (8, True),
    "toUInt16": (16, False), "toInt16": (16, True),
    "toUInt32": (32, False), "toInt32": (32, True),
}


# the width-from-typed-cast family: fn name → internal marker prefix
# (bitRotate joins byteSwap in r12 — same "the input TYPE defines the
# bit width" problem, same solution)
_WIDTH_DISPATCH_FNS = {
    "byteSwap": "__byteSwap",
    "bitRotateLeft": "__bitRotL",
    "bitRotateRight": "__bitRotR",
}


def _rewrite_byteswap(toks: Tokens) -> str:
    sql = toks.sql
    if not any(fn in sql for fn in _WIDTH_DISPATCH_FNS):
        return sql
    out, pos = [], 0
    for s, e in zip(toks.starts, toks.ends):
        marker = _WIDTH_DISPATCH_FNS.get(sql[s:e])
        if marker is None or sql[e : e + 1] != "(":
            continue
        inner = sql[e + 1 : toks.close(e)].lstrip()
        m = re.match(r"^(to(?:U)?Int(?:8|16|32|64))\s*\(", inner)
        if m and m.group(1) in _BYTESWAP_WIDTHS:
            width, signed = _BYTESWAP_WIDTHS[m.group(1)]
            tag = "s" if signed else "u"
            out += [sql[pos:s], f"{marker}{tag}{width}"]
            pos = e
    return "".join(out) + sql[pos:] if out else sql


# median<Suffix> is CH's documented alias family for
# quantile<Suffix>(0.5) — rename suffixed medians the TEMPLATES don't
# already map (median/Exact/TDigest/Timing) onto the quantile
# machinery, whose single-paren forms default the level to 0.5 and
# whose parameterized forms (medianGK(acc)(x)…) inject it
_MEDIAN_DIRECT = ("median", "medianExact", "medianTDigest",
                  "medianTiming")


def _rewrite_median(toks: Tokens) -> str:
    sql = toks.sql
    if "median" not in sql:
        return sql
    starts, ends = toks.starts, toks.ends
    out, pos = [], 0
    for k in range(len(starts) - 1):
        s, e = starts[k], ends[k]
        word = sql[s:e]
        if not (
            word.startswith("median")
            and "A" <= word[6:7] <= "Z"
            and sql[starts[k + 1]] == "("
        ) or word in _MEDIAN_DIRECT:
            continue
        # a PURE combinator tail (medianIf, medianOrNull, medianArray,
        # …) belongs to the direct TEMPLATES base — leave it for the
        # combinator machinery rather than renaming the combinator
        suffix = word[6:]
        stripped = True
        while stripped:
            stripped = False
            for tail in ("If", "OrNull", "OrDefault", "Distinct",
                         "Array", "ForEach", "Map", "State", "Merge",
                         "Resample"):
                if suffix.endswith(tail):
                    suffix = suffix[: -len(tail)]
                    stripped = True
        if ("median" + suffix) in _MEDIAN_DIRECT or not suffix:
            continue
        out += [sql[pos:s], "quantile"]
        pos = s + len("median")
    return "".join(out) + sql[pos:] if out else sql


def _byteswap_sql(width_bits: int, arg: str, signed: bool = False) -> str:
    """Reverse the bytes of a value known to fit ``width_bits`` (the
    inner typed cast enforces the range): non-overlapping byte fields
    extracted with unsigned shifts and reassembled by addition. For
    SIGNED widths the unsigned bit pattern is taken first (two's
    complement mask) and the swapped pattern folded back into the
    signed range — CH reinterprets in the input type, so
    byteSwap(toInt16(-2)) is 0xFFFE→0xFEFF = −257, not 65279."""
    w = width_bits // 8
    if w == 1:
        return f"({arg})"
    v = f"CAST(({arg}) AS BIGINT)"
    if signed:
        v = f"({v} & {(1 << width_bits) - 1})"
    fields = [
        f"shiftleft(shiftrightunsigned({v}, {8 * i}) & 255, "
        f"{8 * (w - 1 - i)})"
        for i in range(w)
    ]
    raw = "(" + " + ".join(fields) + ")"
    return _sign_fold(raw, width_bits) if signed else raw


def _sign_fold(expr: str, width_bits: int) -> str:
    """Fold an unsigned w-bit pattern back into the signed range (the
    input-TYPE reinterpretation CH applies to byteSwap/bitRotate on
    signed integers)."""
    half, full = 1 << (width_bits - 1), 1 << width_bits
    return (
        f"(CASE WHEN {expr} >= {half} THEN {expr} - {full} "
        f"ELSE {expr} END)"
    )


def _bitrotate_sql(
    width_bits: int, left: bool, arg: str, n: str, signed: bool
) -> str:
    """Rotate the w-bit pattern of ``arg`` by ``n`` (mod w). Shift
    amounts stay in [0, w] ≤ 32 < 64, so BIGINT shifts never hit
    Java's mod-64 wraparound; the value is masked to w bits first, so
    the n≡0 branch (v<<0 | v>>>w) degenerates to v | 0 = v."""
    mask = (1 << width_bits) - 1
    v = f"(CAST(({arg}) AS BIGINT) & {mask})"
    nm = f"pmod(CAST(({n}) AS BIGINT), {width_bits})"
    if not left:
        nm = f"pmod({width_bits} - {nm}, {width_bits})"
    raw = (
        f"((shiftleft({v}, CAST({nm} AS INT)) | "
        f"shiftrightunsigned({v}, CAST({width_bits} - {nm} AS INT)))"
        f" & {mask})"
    )
    return _sign_fold(raw, width_bits) if signed else raw


def _resample_sql(c: Call) -> str:
    """``<base>Resample(start, end, step)(args…, key)`` → array of the
    base aggregate per key bucket. Bounds must be numeric literals —
    the buckets unroll to conditional aggregates at translate time
    (CH evaluates them as one pass too; this keeps that property:
    N conditional aggregates in one partial-agg stage). Bucket i spans
    ``[start+i·step, min(start+(i+1)·step, end))``; rows outside
    ``[start, end)`` contribute nowhere.
    """
    ident, params, args2 = c.name, c.params, c.args
    base = ident[: -len("Resample")]
    if base not in IF_COMBINABLE:
        raise ValueError(
            f"{ident}: -Resample is mapped for the -If-combinable "
            f"aggregates ({', '.join(sorted(IF_COMBINABLE)[:6])}, …) — "
            f"base {base!r} is not one of them"
        )
    if len(params) != 3:
        raise ValueError(
            f"{ident} needs (start, end, step)(args…, resampling_key)"
        )
    try:
        # params arrive TRANSLATED: fractional literals carry the
        # Spark D suffix by then — strip it before the numeric parse
        start, end, step = (
            float(p.rstrip("DdFf")) for p in params
        )
    except ValueError:
        raise ValueError(
            f"{ident}: start/end/step must be numeric literals (the "
            "buckets unroll at translate time)"
        ) from None
    if step <= 0 or end <= start:
        raise ValueError(f"{ident}: need step > 0 and end > start")
    n_buckets = int(-(-(end - start) // step))  # ceil
    if n_buckets > 1000:
        raise ValueError(
            f"{ident}: {n_buckets} buckets unrolled into one "
            "expression is past the 1000-bucket cap — GROUP BY "
            "intDiv(key - start, step) instead"
        )
    # count() takes no value argument, so countResample(s,e,p)(key)
    # is a valid CH spelling — every other base needs args AND key
    if len(args2) < 2 and not (base == "count" and len(args2) == 1):
        raise ValueError(
            f"{ident}: the resampling key is a REQUIRED final "
            "argument — (args…, key)"
        )
    key = args2[-1]
    vals = args2[:-1]

    def lit(x: float) -> str:
        return repr(int(x)) if x == int(x) else repr(x)

    ignore_nulls = {
        "any": "any_value({0}, true)",
        "anyLast": "any_value({0}, true)",
        "first": "first({0}, true)",
        "last": "last({0}, true)",
    }
    legs = []
    for b in range(n_buckets):
        lo = start + b * step
        hi = min(lo + step, end)
        cond = f"({key}) >= {lit(lo)} AND ({key}) < {lit(hi)}"
        wrapped = _case_when([*vals, cond])
        if not vals:
            # zero-arg count base: count the rows whose key lands in
            # the bucket (count(CASE …) skips the NULL non-matches)
            legs.append(f"count(CASE WHEN {cond} THEN 1 END)")
        elif base in ignore_nulls:
            legs.append(ignore_nulls[base].format(wrapped[0]))
        else:
            legs.append(_mapped(base, wrapped))
    return f"array({', '.join(legs)})"


def _exact_quantile_sql(kind: str, params: list[str], args2: list[str]) -> str:
    """``quantileExact[Low/High/Exclusive](level)(x)`` (+ the plural
    ``quantiles…`` spellings) over ONE sorted collected group,
    matching ClickHouse's ``QuantileExact.h`` element selection:

    - Exact:      sorted[min(⌊p·n⌋, n−1)] — CH indexes by
      ``level * size`` (size_t truncation), NO interpolation.
    - Low/High:   the SAME ⌊p·n⌋ rule for every p ≠ 0.5; at exactly
      0.5 the lower (even n → index n/2−1) / upper (n/2) median —
      the only point where the three spellings differ.
    - Exclusive: Excel PERCENTILE.EXC — h = (n+1)·p clamped to
      [1, n], linear interpolation between ⌊h⌋ and ⌊h⌋+1.

    The level is cast to DOUBLE before the index arithmetic so Spark
    computes the same IEEE-754 product CH's Float64 level does (a
    bare ``0.35`` literal would otherwise be DECIMAL and round
    differently at ⌊·⌋ boundaries). Exact/Low/High preserve the input
    type (they RETURN an element); Exclusive returns double. All-NULL
    groups → NULL (collect_list drops NULLs). The group is
    materialized like every exact CH quantile — the sketch spellings
    (quantileGK/TDigest/Timing) are the bounded-memory tier.
    """
    if len(args2) != 1 or not params:
        raise ValueError(f"{kind} needs (level[, …])(x)")
    plural = kind.startswith("quantiles")
    base = kind[len("quantiles") if plural else len("quantile"):]

    def one(raw_level: str) -> str:
        level = f"CAST({raw_level} AS DOUBLE)"
        if base in ("Exact", "ExactLow", "ExactHigh"):
            flo = (
                f"least(greatest(CAST(floor(({level}) * size(__q)) "
                f"AS INT), 0), size(__q) - 1)"
            )
            if base == "Exact":
                idx0 = flo
            else:
                med = (
                    "(size(__q) div 2)"
                    if base == "ExactHigh"
                    else "(CASE WHEN size(__q) % 2 = 1 "
                    "THEN size(__q) div 2 "
                    "ELSE size(__q) div 2 - 1 END)"
                )
                idx0 = (
                    f"CASE WHEN ({level}) = 0.5D THEN {med} "
                    f"ELSE {flo} END"
                )
            return (
                f"CASE WHEN size(__q) = 0 THEN NULL "
                f"ELSE element_at(__q, CAST(({idx0}) + 1 AS INT)) END"
            )
        h = (
            f"least(greatest(({level}) * (size(__q) + 1), 1.0d), "
            "CAST(size(__q) AS DOUBLE))"
        )
        lo = "CAST(element_at(__q, CAST(floor(__h) AS INT)) AS DOUBLE)"
        hi = (
            "CAST(element_at(__q, least(CAST(floor(__h) AS INT) + 1, "
            "size(__q))) AS DOUBLE)"
        )
        return (
            f"CASE WHEN size(__q) = 0 THEN NULL ELSE "
            f"element_at(transform(array({h}), __h -> "
            f"{lo} + (__h - floor(__h)) * ({hi} - {lo})), 1) END"
        )

    if plural:
        inner = (
            "transform(array(" + ", ".join(params) + "), "
            "__lv -> " + one("__lv") + ")"
        )
    else:
        if len(params) != 1:
            raise ValueError(f"{kind} takes exactly one level")
        inner = one(params[0])
    return (
        f"element_at(transform(array(array_sort(collect_list("
        f"{args2[0]}))), __q -> {inner}), 1)"
    )


# ClickHouse formatDateTime %-specifiers → Spark datetime pattern
# letters (sql-reference/functions/date-time-functions#formatdatetime).
# %M/%i follow the MODERN ClickHouse default (≥23.4,
# formatdatetime_parsedatetime_m_is_month_name=1): %M is the full
# month name and %i is minutes — the legacy %M-as-minutes reading is
# NOT emulated (no opt-in knob; write %i).
# Literal text between specifiers must be quoted in Spark patterns when
# it contains pattern letters, so _ch_datetime_format quotes every
# non-specifier run.
_CH_FMT = {
    "Y": "yyyy",
    "y": "yy",
    "m": "MM",
    "c": "MM",
    "d": "dd",
    "e": "d",
    "H": "HH",
    "I": "hh",
    "M": "MMMM",
    "i": "mm",
    "S": "ss",
    "j": "DDD",
    "a": "EEE",
    "W": "EEEE",
    "b": "MMM",
    "p": "a",
    "F": "yyyy-MM-dd",
    "D": "MM/dd/yy",
    "T": "HH:mm:ss",
    "R": "HH:mm",
    "%": "%",
}


def _ch_datetime_format(fmt: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            spec = fmt[i + 1]
            if spec not in _CH_FMT:
                raise ValueError(
                    f"unsupported formatDateTime specifier %{spec}"
                )
            out.append(_CH_FMT[spec])
            i += 2
            continue
        # literal run: quote it so letters aren't pattern chars
        j = i
        while j < len(fmt) and fmt[j] != "%":
            j += 1
        lit = fmt[i:j]
        if lit.strip(" -:/.,") == "":
            out.append(lit)  # pure punctuation needs no quoting
        else:
            out.append("'" + lit.replace("'", "''") + "'")
        i = j
    return "".join(out)


def _tuple_components(expr: str) -> list[str] | None:
    """If ``expr`` is an inline engine tuple — ``struct(a AS col1, b AS
    col2, …)`` as emitted by the ``tuple()`` / parenthesized-tuple
    mappings — return its component expressions (the ``AS colN`` tags
    stripped); else None. Lets the tuple-arithmetic family learn the
    arity at translate time from at least one literal side."""
    s = expr.strip()
    if not (s.startswith("struct(") and s.endswith(")")):
        return None
    parts = lex(s[len("struct(") : -1]).split()
    comps = []
    for i, p in enumerate(parts):
        p = p.strip()
        tag = f" AS col{i + 1}"
        if not p.upper().endswith(tag.upper()):
            return None  # not the positional-name convention
        comps.append(p[: -len(tag)].strip())
    return comps or None


def _regex_capture_groups(pattern: str) -> int:
    """Number of CAPTURING groups in a regex written as SQL
    string-literal SOURCE text: unescaped '(' not followed by '?'.

    Two layers of escaping are honored (miscounting selects group 1 on
    a zero-group regex, which makes Spark's regexp_extract THROW at
    runtime):

    - SQL-literal layer: a doubled backslash in source (``'a\\\\(b'``)
      is ONE regex backslash, so that paren is regex-escaped — collapse
      doubles FIRST, then apply the regex-level ``\\x`` skip.
    - character classes: '(' inside ``[...]`` is a literal, never a
      group (``'[(]+'``); a ']' immediately after '[' or '[^' is a
      literal and does not close the class.
    Non-capturing / lookaround groups ``(?:...)`` ``(?=...)`` don't
    count — CH extract returns the whole match for those."""
    pattern = pattern.replace("\\\\", "\\")
    n = 0
    i = 0
    in_class = False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
            j = i + 1
            if pattern[j : j + 1] == "^":
                j += 1
            if pattern[j : j + 1] == "]":
                i = j  # '[]' / '[^]' opening: that ']' is a literal
        elif c == "(" and pattern[i + 1 : i + 2] != "?":
            n += 1
        i += 1
    return n


# Translated (Spark-side) spellings that produce an ARRAY or MAP —
# the syntactic dispatch for CH's polymorphic length/empty/notEmpty
# (string length vs container size). Prefix match on the translated
# argument; bare column references can't be classified statically and
# keep the string form.
_ARRAYISH_PREFIXES = (
    # exact call spellings only — array_join/array_contains/
    # array_position/array_max/arrays_overlap etc. return SCALARS,
    # so the bare "array_" prefix is a false positive (fuzz seed
    # 20157: size(array_join(...)) failed analysis)
    "array(", "array_sort(", "array_distinct(", "array_union(",
    "array_intersect(", "array_except(", "array_remove(",
    "array_compact(", "array_repeat(", "array_insert(",
    "array_prepend(", "array_append(", "array_agg(", "arrays_zip(",
    "split(", "sequence(", "transform(", "filter(", "slice(",
    "flatten(", "sort_array(", "shuffle(", "collect_list(",
    "collect_set(", "map(", "map_from_arrays(", "map_from_entries(",
    "map_concat(", "map_filter(", "map_zip_with(", "map_keys(",
    "map_values(", "str_to_map(", "regexp_extract_all(", "zip_with(",
)


def _is_arrayish(expr: str) -> bool:
    return expr.strip().lower().startswith(_ARRAYISH_PREFIXES)


# Syntactic MAP producers — a subscript over one of these is a map
# lookup, never an array index, so its key is passed through uncast
# (r13 ADVICE: CAST(k AS INT) over a string-keyed map fails analysis).
_MAPISH_PREFIXES = (
    "map(", "map_from_arrays(", "map_from_entries(", "map_concat(",
    "map_filter(", "map_zip_with(", "str_to_map(", "transform_keys(",
    "transform_values(",
)

# Translated spellings that produce a STRING — a subscript index that
# starts with one of these is a map key, never an array index.
_STRINGY_PREFIXES = (
    "concat(", "concat_ws(", "upper(", "lower(", "trim(", "ltrim(",
    "rtrim(", "substring(", "substr(", "format_string(", "lpad(",
    "rpad(", "replace(", "regexp_replace(", "regexp_extract(",
    "initcap(", "translate(", "left(", "right(", "base64(",
    "chr(", "hex(", "date_format(", "printf(",
)


# Words that can directly precede a '[' only when it opens an ARRAY
# LITERAL (never a subscript base): keyword contexts like `IN [...]`,
# `ARRAY JOIN [...] AS x`, `WHEN [...]`. Anything else ending in an
# identifier/')'/']' is a subscript: CH `arr[i]` is 1-BASED while
# Spark's native `arr[i]` is 0-based, so subscripts must become
# element_at (1-based in Spark, and key-lookup on maps — matching CH
# for both container kinds). The clause keywords are among them.
_BRACKET_LITERAL_KEYWORDS = _CLAUSE_WORDS | {
    "AND", "OR", "NOT", "IN", "ON", "WHEN", "THEN", "ELSE", "CASE", "END",
    "AS", "ALL", "ANY", "DISTINCT", "BETWEEN", "LIKE", "ILIKE", "IS",
    "VALUES", "TOTALS", "INTERVAL", "USING", "IF", "ELSEIF", "RETURN",
    "OVER", "PARTITION",
}


def _subscript_base(toks: Tokens, k: int) -> int:
    """Offset where the primary expression before the ``[`` token ``k``
    starts — its subscript base: trailing ``)``/``]`` groups, then the
    identifier chain (dots included) that heads them; -1 when the token
    before the ``[`` is no ``)``, ``]`` or word (an array literal)."""
    sql, starts, ends = toks.sql, toks.starts, toks.ends
    if k == 0 or not (sql[starts[k - 1]] in ")]" or toks.is_word(k - 1)):
        return -1

    def adjacent(b: int) -> bool:
        return b == k or ends[b - 1] == starts[b]

    b = k
    while b > 0 and sql[starts[b - 1]] in ")]" and adjacent(b):
        b = toks.at(toks.open_of(starts[b - 1]))
    while b > 0 and (toks.is_word(b - 1) or sql[starts[b - 1]] == ".") and (
        adjacent(b)
    ):
        b -= 1
    return starts[b]


def _rewrite_subscripts(toks: Tokens, ctx: QueryContext) -> str:
    """Rewrite CH bracket syntax to Spark-evaluable calls:

    - subscript ``base[idx]`` → ``element_at(base, idx)``: CH array
      indexing is 1-based (and negative-from-the-end), Spark's native
      ``[ ]`` is 0-based — passing it through returns the WRONG element
      silently. ``element_at`` is 1-based/negative like CH, and on maps
      is key lookup (also CH's semantics). Divergence: out-of-range
      gives NULL here vs CH's type-default value.
    - array literal ``[a, b, c]`` → ``array(a, b, c)`` (Spark has no
      bracket literal — it is a parse error, so any CH query using one
      rejects today).

    A '[' is a literal when the text before it ends in nothing, an
    operator/punctuation, or a keyword (``IN [1,2]``, ``ARRAY JOIN
    [..]``); otherwise it subscripts the preceding primary expression.
    """
    sql = toks.sql
    if "[" not in toks.marks:
        return sql
    # output pieces with the source offset each starts at; a rewritten
    # bracket group is one piece, which a later base takes whole
    out: list[str] = []
    src: list[int] = []
    rewritten: list[bool] = []
    pos = 0
    for k, i in enumerate(toks.starts):
        if i < pos or sql[i] != "[":
            continue
        if i > pos:
            out.append(sql[pos:i])
            src.append(pos)
            rewritten.append(False)
        close = toks.close_bracket(i)
        if k > 0 and toks.is_string(k - 1):
            raise ValueError(
                f"{sql[toks.starts[k - 1] : close + 1]}: a subscript needs "
                "an Array or a Map — ClickHouse's arrayElement rejects a "
                "String; use substring(s, i, 1) for one character"
            )
        if k > 0 and sql[toks.starts[k - 1] : toks.ends[k - 1]].isdigit():
            raise ValueError(
                f"{sql[toks.starts[k - 1] : close + 1]}: a subscript needs "
                "an Array or a Map — ClickHouse's arrayElement rejects a "
                "number"
            )
        inner = _rewrite_subscripts(lex(sql[i + 1 : close]), ctx)
        start = _subscript_base(toks, k)
        is_sub = False
        if start >= 0:
            j = len(src)
            while j > 0 and src[j - 1] >= start:
                j -= 1
            end = src[j] if j < len(src) else i
            if j > 0 and start < end and rewritten[j - 1]:
                j -= 1
            elif j > 0 and start < end:
                cut = start - src[j - 1]
                piece = out[j - 1]
                out[j - 1 : j] = [piece[:cut], piece[cut:]]
                src.insert(j, start)
                rewritten.insert(j, False)
            base = "".join(out[j:]).rstrip()
            is_sub = not (
                base.replace(".", "").isidentifier()
                and base.upper() in _BRACKET_LITERAL_KEYWORDS
            ) and not base.isdigit()
        if is_sub:
            # element_at needs an INT array index, but CH subscripts
            # take any integer width (r13 fuzz seed 20023): cast a
            # non-literal index to INT when the subscript can be an
            # array index. Literals, bare identifiers (m[key_col],
            # unless a view of the context types the base as an
            # array), string-producing calls and indexes over a
            # syntactic map pass through, so a map key keeps its type.
            # Gap: an arithmetic index over a bigint-keyed map
            # (m[k + 1], keys > 2^31) still casts and overflows.
            if _elem_needs_cast(base, inner, ctx):
                inner = f"CAST({inner} AS INT)"
            # try_element_at: Spark 4.1.2 ANSI element_at returns the
            # LAST element for a NULL index (upstream defect, pinned
            # in tests/test_ch_sql.py TestNullIndexSubscript; found by
            # fuzz v6 seed 51694) — CH arr[NULL] is NULL. The
            # try_ variant also turns out-of-range into NULL
            # instead of an ANSI error (CH returns a type
            # default there; NULL is the documented delta).
            at = src[j]
            del out[j:], src[j:], rewritten[j:]
            out.append(f"try_element_at({base}, {inner})")
            src.append(at)
        else:
            # after IN the brackets are the value list: x IN (a, b)
            keyword = start >= 0 and not base.isdigit()
            lit = f"({inner})" if keyword and base.upper() == "IN" else (
                f"array({inner})"
            )
            if keyword and toks.ends[k - 1] == i:
                lit = " " + lit  # glued to its keyword: IN[1] → IN (1)
            out.append(lit)
            src.append(i)
        rewritten.append(True)
        pos = close + 1
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_dot_index(toks: Tokens) -> str:
    """CH tuple element access ``t.1`` → ``t.col1``: ``tuple(...)``
    maps to Spark ``struct(...)`` whose auto-named fields are
    ``col1..colN`` (both 1-based, so indices carry over). Float
    literals (``0.5``) are left alone: the token right before the dot
    must be a ``)``, a ``]``, a word that is neither all digits nor
    itself after a dot, or the index of the access just rewritten
    (``t.1.2`` → ``t.col1.col2``)."""
    sql = toks.sql
    if "." not in toks.marks:
        return sql
    starts, ends = toks.starts, toks.ends
    out, pos = [], 0
    for k in range(1, len(starts)):
        i = starts[k]
        if sql[i] != "." or not sql[i + 1 : i + 2].isdigit():
            continue
        if ends[k - 1] != i:
            continue
        ws = starts[k - 1]
        if pos != i and sql[ws] not in ")]" and not (
            toks.is_word(k - 1)
            and not sql[ws:i].isdigit()
            and not (ws > 0 and sql[ws - 1] == ".")
        ):
            continue
        j = i + 1
        while j < len(sql) and sql[j].isdigit():
            j += 1
        out += [sql[pos:i], ".col" + sql[i + 1 : j]]
        pos = j
    return "".join(out) + sql[pos:] if out else sql


def _from_view_cols(toks: Tokens, b: Branch,
                    ctx: QueryContext) -> list[str] | None:
    """Column list of branch ``b``'s SINGLE FROM view, when that view
    is a view of the context — the schema source for
    star-expansion rewrites (APPLY/COLUMNS). None when unknown — and
    deliberately None when the FROM clause joins tables: expanding a
    star over only the left table's schema would silently drop the
    right table's columns."""
    frm = b.get("FROM")
    if frm is None or any(c.name.endswith("JOIN") for c in b.clauses):
        return None
    table = toks.words_in(frm.body, frm.end)[:1]
    # comma cross-join: a ',' at top level inside FROM
    if not table or len(toks.split(frm.body, frm.end)) > 1:
        return None
    return ctx.columns(table[0][2])


def _rewrite_column_selectors(toks: Tokens, ctx: QueryContext) -> str:
    """CH column-selector modifiers Spark lacks:

    - ``COLUMNS('re')`` → the FROM view's columns matching the regex;
    - ``* APPLY(fn) [APPLY(fn2) …]`` (optionally after ``EXCEPT``) →
      one ``fn2(fn(col)) AS `fn2(fn(col))``` per selected column (CH's
      result-column naming);
    - paren-less ``* EXCEPT col`` → Spark's ``* EXCEPT (col)``.

    Expansion needs a schema, so APPLY/COLUMNS require the FROM target
    to be a view of the context — anything else rejects loudly.
    ``* EXCEPT (…)`` alone passes through (shared Spark syntax).
    """
    sql = toks.sql
    if not re.search(r"\bAPPLY\b|\bCOLUMNS\b|\bEXCEPT\s+\w", sql, re.I):
        return sql
    # recurse into parenthesized subqueries first (selector modifiers
    # are per-SELECT; the top-level scan below only sees depth 0)
    sql = toks.map_subqueries(lambda q: _rewrite_column_selectors(lex(q), ctx))
    if sql != toks.sql:
        toks = lex(sql)
    for b in reversed(toks.clauses()):
        sel, frm = b.get("SELECT"), b.get("FROM")
        if sel is not None and frm is not None:
            sql = (sql[: sel.body] + " "
                   + _expand_selectors(toks, b, sel.body, frm.start, ctx)
                   + " " + sql[frm.start :])
    return sql


def _expand_selectors(toks: Tokens, b: Branch, lo: int, hi: int,
                      ctx: QueryContext) -> str:
    """The select list ``toks.sql[lo:hi]`` of branch ``b`` with its
    column selectors expanded (see :func:`_rewrite_column_selectors`)."""
    cols = _from_view_cols(toks, b, ctx)
    out_items = []
    pat = re.compile(
        r"^(\*|COLUMNS\s*\(\s*('[^']*')\s*\))"
        r"(?:\s+EXCEPT\s+(\((?:[^)]*)\)|\w+))?"
        r"((?:\s+APPLY\s*\(\s*\w+\s*\))*)$",
        re.I | re.S,
    )
    for item in toks.split(lo, hi):
        m = pat.match(item.strip())
        if not m:
            out_items.append(item)
            continue
        base, creg, exc, applies = (
            m.group(1), m.group(2), m.group(3), m.group(4) or ""
        )
        fns = re.findall(r"APPLY\s*\(\s*(\w+)\s*\)", applies, re.I)
        if creg is None and not fns:
            # plain star [+ EXCEPT]: shared syntax except the
            # paren-less EXCEPT form
            if exc and not exc.startswith("("):
                out_items.append(f"* EXCEPT ({exc})")
            else:
                out_items.append(item)
            continue
        if cols is None:
            raise ValueError(
                "COLUMNS()/APPLY() expand over a SINGLE FROM table's "
                "schema — register the table among the statement's views "
                "or read a warehouse table; for joined tables select "
                "explicit columns (a one-sided star expansion would "
                "silently drop the other side)"
            )
        if creg is not None:
            rex = re.compile(creg[1:-1])
            chosen = [c for c in cols if rex.search(c)]
        else:
            chosen = list(cols)
        if exc:
            drop = {
                e.strip().strip("`")
                for e in (
                    lex(exc[1:-1]).split() if exc.startswith("(") else [exc]
                )
            }
            chosen = [c for c in chosen if c not in drop]
        if not chosen:
            raise ValueError(
                f"column selector {item.strip()!r} matched no columns"
            )
        rendered = []
        for c in chosen:
            expr = c
            for fn in fns:
                expr = f"{fn}({expr})"
            rendered.append(
                expr if not fns else f"{expr} AS `{expr}`"
            )
        out_items.append(", ".join(rendered))
    return ", ".join(i.strip() for i in out_items)


def _rewrite_select_replace(toks: Tokens, ctx: QueryContext) -> str:
    """Rewrite ClickHouse's ``SELECT * REPLACE (expr AS col, …)``
    (sql-reference/statements/select: the REPLACE modifier) — Spark has
    ``* EXCEPT`` but no ``* REPLACE``.

    When the FROM target is a view of the context, expand the star to
    the full column list with the replaced columns substituted IN PLACE
    — exact CH column order.
    Otherwise fall back to ``* EXCEPT (cols…), expr AS col …``, which
    preserves values but moves replaced columns to the end (documented
    divergence: no schema to anchor positions to)."""
    sql = toks.sql
    if "REPLACE" not in toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        sel = b.get("SELECT")
        # a '*' then REPLACE( at top level right after SELECT?
        k = toks.at(sel.body) if sel else len(toks.starts)
        if not (k + 2 < len(toks.starts) and sql[toks.starts[k]] == "*"
                and sql[toks.starts[k + 1] : toks.ends[k + 1]].upper()
                == "REPLACE" and sql[toks.starts[k + 2]] == "("):
            continue
        star_pos, open_p = toks.starts[k], toks.starts[k + 2]
        close_p = toks.close(open_p)
        repls: dict[str, str] = {}
        for item in toks.split(open_p + 1, close_p):
            parts = item.rsplit(" AS ", 1) if " AS " in item else item.rsplit(
                " as ", 1
            )
            if len(parts) != 2:
                raise ValueError(
                    f"* REPLACE item needs 'expr AS col': {item!r}")
            repls[parts[1].strip().strip("`")] = parts[0].strip()
        frm = b.get("FROM")
        table = toks.words_in(frm.body, frm.end)[:1] if frm else []
        cols = ctx.columns(table[0][2]) if table else None
        if cols is not None and all(c in cols for c in repls):
            proj = ", ".join(
                f"{repls[c]} AS {c}" if c in repls else c for c in cols
            )
        else:
            proj = "* EXCEPT (" + ", ".join(repls) + "), " + ", ".join(
                f"{e} AS {c}" for c, e in repls.items()
            )
        sql = sql[:star_pos] + proj + sql[close_p + 1 :]
    return sql


def _tmpl_apply(name: str, tmpl: str, args: list[str]) -> str:
    """Apply a TEMPLATES entry STRICTLY: str.format silently IGNORES
    surplus arguments, which turns an unsupported optional argument
    (e.g. the trailing timezone many CH date functions accept) into a
    silently-wrong answer — the bug class found on 2-arg toString.
    Surplus args raise; missing args raise via format itself.
    ``{{``/``}}`` brace ESCAPES (regex quantifiers like ``{{3}}`` in
    pattern templates) are stripped before slot-scanning — counting
    them as slots would silently disable this check."""
    bare = tmpl.replace("{{", "").replace("}}", "")
    used = {int(m) for m in re.findall(r"\{(\d+)\}", bare)}
    max_slot = max(used) + 1 if used else 0
    if len(args) > max_slot:
        raise ValueError(
            f"{name} expects {max_slot} argument(s), got {len(args)} — "
            "the extra argument (often an optional timezone) is not "
            "supported by this mapping; raising instead of silently "
            "dropping it"
        )
    if len(args) < max_slot:
        # a shorter CH form exists but this mapping doesn't support it
        # (e.g. 2-arg arrayResize pads with the TYPE default, which a
        # text rewrite cannot synthesize) — str.format's IndexError
        # would crash instead of rejecting loudly
        raise ValueError(
            f"{name} expects {max_slot} argument(s), got {len(args)} — "
            "this mapping does not support the shorter optional form"
        )
    return tmpl.format(*args)


def _rewrite_scalar_with(toks: Tokens) -> str:
    """ClickHouse's scalar WITH form — ``WITH <expr> AS <ident>, …
    SELECT`` — substitutes each alias with its parenthesized expression
    throughout the statement (CH evaluates the expression per use; for
    the ``WITH (SELECT …) AS x`` subquery form the substitution yields
    a Spark scalar subquery). Standard ``ident AS (SELECT …)`` CTEs in
    the same WITH list are kept as real CTEs.
    """
    sql = toks.sql
    if "WITH" not in toks.marks:
        return sql
    b = toks.clauses()[0]
    with_, sel = b.get("WITH"), b.get("SELECT")
    if with_ is None or sel is None or with_.start != toks.starts[0]:
        return sql
    kept: list[str] = []
    scalars: list[tuple[str, str]] = []
    for it in toks.split(with_.body, with_.end):
        s = it.strip()
        if re.match(r"^[A-Za-z_]\w*\s+AS\s*\(", s, re.IGNORECASE):
            kept.append(s)  # standard CTE
            continue
        m = re.match(r"^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$", s, re.DOTALL)
        if m is None:
            return sql  # unrecognized WITH shape — leave untouched
        scalars.append((m.group(2), m.group(1)))
    if not scalars:
        return sql
    kept_sql = f"WITH {', '.join(kept)} " if kept else ""
    out = kept_sql + sql[sel.start :]
    for ident, expr in scalars:
        out = lex(out).subst(ident, f"({expr})")
    return out


def _rewrite_distinct_on(toks: Tokens) -> str:
    """ClickHouse ``SELECT DISTINCT ON (keys) …`` → a ranked-window
    subquery: first row per key group under the statement's ORDER BY.

    CH keeps the first row per key in READ order, which is
    nondeterministic without ORDER BY — so an ORDER BY is REQUIRED here
    (loud reject otherwise; a nondeterministic rewrite would silently
    disagree with any oracle). The ORDER BY expressions must reference
    SOURCE columns (they are replayed inside the window frame, where
    same-select aliases are not visible). Top-level statement only.
    """
    sql = toks.sql
    if not {"DISTINCT", "ON"} <= toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        sel = b.get("SELECT")
        head = toks.words_in(sel.body, sel.end)[:2] if sel else []
        if [w.upper() for _s, _e, w in head] != ["DISTINCT", "ON"]:
            continue
        on_end = head[1][1]
        p = sql.find("(", on_end)
        if p == -1 or sql[on_end:p].strip():
            raise ValueError(
                "DISTINCT ON requires a parenthesized key list"
            )
        close = toks.close(p)
        keys = sql[p + 1 : close].strip()
        frm, order = b.get("FROM"), b.get("ORDER BY")
        if frm is None:
            raise ValueError("DISTINCT ON: no FROM clause found")
        # ORDER BY is mandatory (determinism)
        if order is None:
            raise ValueError(
                "DISTINCT ON without ORDER BY is read-order-dependent in "
                "ClickHouse — add an ORDER BY to make the winner defined"
            )
        select_list = sql[close + 1 : frm.start].strip()
        order_list = sql[order.body : order.end].strip()
        if " WITH" in f" {order_list.upper()} ":
            raise ValueError(
                "DISTINCT ON combined with WITH FILL is not supported"
            )
        body = sql[frm.start : order.start].strip()
        tail = sql[order.end : b.hi].strip()
        tail = f" {tail}" if tail else ""
        # CH resolves the ON keys and ORDER BY against BOTH the source
        # scope and the projection's aliases; the window wrapper below
        # only sees the projection, so map each key through the select
        # list (alias as-is, matching expression → its alias, anything
        # else injected as a hidden column). r14 fuzz seed 40040: ORDER
        # BY o_orderkey failed analysis when the projection had renamed
        # it to k.
        res = _scope_resolver(f"SELECT {select_list} {body}", "__don_k")
        if res is None:
            # DISTINCT-shaped head (can't inject): keep the source-scope
            # window form, which handles source-column keys only
            new = (
                f"SELECT * EXCEPT (__don_rn) FROM ("
                f"SELECT {select_list}, row_number() OVER ("
                f"PARTITION BY {keys} ORDER BY {order_list}) AS __don_rn "
                f"{body}) WHERE __don_rn = 1 ORDER BY {order_list}{tail}"
            )
        else:
            keys_r = ", ".join(res(k) for k in lex(keys).split())
            order_r = res.order(order_list)
            head2, hidden = res.finish()
            exc = ", ".join(["__don_rn"] + hidden)
            new = (
                f"SELECT * EXCEPT ({exc}) FROM ("
                f"SELECT *, row_number() OVER ("
                f"PARTITION BY {keys_r} ORDER BY {order_r}) AS __don_rn "
                f"FROM ({head2})) WHERE __don_rn = 1 ORDER BY {order_r}{tail}"
            )
        sql = sql[: sel.start] + new + sql[b.hi :]
    return sql


def _rewrite_limit_offset(toks: Tokens) -> str:
    """Rewrite ClickHouse/MySQL ``LIMIT offset, count`` (offset FIRST —
    clickhouse.com/docs/sql-reference/statements/select/limit) into
    Spark's ``LIMIT count OFFSET offset``. ``LIMIT n, m BY`` is a LIMIT
    BY clause of its own, which ``_rewrite_limit_by`` rewrote before."""
    sql = toks.sql
    if not {"LIMIT", ","} <= toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        lim = b.get("LIMIT")
        words = toks.words_in(lim.body, lim.end)[:2] if lim else []
        if len(words) < 2 or not (
            words[0][2].isdigit() and words[1][2].isdigit()
            and sql[words[0][1] : words[1][0]].strip() == ","
        ):
            continue
        (_os, _oe, off), (_cs, ce, count) = words
        sql = sql[: lim.start] + f"LIMIT {count} OFFSET {off}" + sql[ce:]
    return sql


def _reject_ordinal_order_keys(okeys: str, clause: str) -> None:
    """ORDER BY keys copied into a WINDOW spec must not be positional
    ordinals: Spark resolves ``ORDER BY 1`` only at query level — in
    an OVER() the literal 1 is a CONSTANT ordering, silently ranking
    every row 1."""
    for part in lex(okeys).split():
        lead = part.strip().split()[0] if part.strip() else ""
        if lead.isdigit():
            raise ValueError(
                f"{clause} with a positional ORDER BY ordinal "
                f"({lead}) — ordinals do not resolve inside the "
                "window spec this rewrite builds; name the column"
            )


def _rewrite_offset_fetch(toks: Tokens) -> str:
    """Standard-SQL ``OFFSET n ROW[S] [FETCH FIRST|NEXT m ROW[S]
    ONLY|WITH TIES]`` (CH supports it; Spark wants LIMIT/OFFSET) →
    ``LIMIT m OFFSET n``. The WITH TIES variant re-spells to
    ``LIMIT m WITH TIES`` FIRST so the rank-window rewrite picks it up
    (ties + offset combined is rejected — the rank filter and the row
    skip do not compose deterministically in one pass).
    """
    sql = toks.sql
    if "OFFSET" not in toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        off = b.get("OFFSET")
        words = toks.words_in(off.start, off.end) if off else []
        ups = [w.upper() for _s, _e, w in words]  # OFFSET n …
        if len(words) < 2 or not ups[1].isdigit():
            continue
        n = ups[1]
        k = 3 if ups[2:3] in (["ROW"], ["ROWS"]) else 2
        if ups[k : k + 1] != ["FETCH"]:
            # bare OFFSET n [ROWS] — Spark accepts OFFSET but not the
            # ROWS keyword; normalize
            sql = sql[: off.start] + f"OFFSET {n}" + sql[words[k - 1][1] :]
            continue
        # FETCH FIRST|NEXT m ROW[S] ONLY|WITH TIES
        k += 2 if ups[k + 1 : k + 2] in (["FIRST"], ["NEXT"]) else 1
        if not ups[k : k + 1] or not ups[k].isdigit():
            raise ValueError("FETCH needs a literal row count")
        m = ups[k]
        k += 2 if ups[k + 1 : k + 2] in (["ROW"], ["ROWS"]) else 1
        ties = ups[k : k + 2] == ["WITH", "TIES"]
        k += 2 if ties else 1 if ups[k : k + 1] == ["ONLY"] else 0
        end = words[k - 1][1]
        if ties and int(n) != 0:
            raise ValueError(
                "OFFSET … FETCH … WITH TIES: the rank filter and "
                "the row skip do not compose deterministically — "
                "use OFFSET+ONLY or LIMIT n WITH TIES"
            )
        repl = f"LIMIT {m} WITH TIES" if ties else f"LIMIT {m} OFFSET {n}"
        sql = sql[: off.start] + repl + sql[end:]
    return sql


def _rewrite_qualify(toks: Tokens) -> str:
    """CH ``QUALIFY <pred>`` (filter on window-function results) →
    wrapped subquery: the predicate lands in a hidden ``__q`` column
    computed over the inner result, the outer WHERE filters on it, and
    ``* EXCEPT (__q)`` restores the schema. Any trailing ORDER
    BY/LIMIT stays OUTSIDE the wrap (it ran after QUALIFY in CH too).
    The predicate may reference the select list's aliases (they are
    inner output columns); base-table columns NOT in the select list
    are out of reach — select them (CH itself resolves those against
    the projection in most cases).
    """
    sql = toks.sql
    if "QUALIFY" not in toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        q = b.get("QUALIFY")
        if q is None:
            continue
        pred = sql[q.body : q.end].strip()
        if not pred:
            raise ValueError("QUALIFY needs a predicate")
        head = sql[b.lo : q.start].rstrip()
        tail = sql[q.end : b.hi].strip()
        sql = sql[: b.lo] + (
            f"SELECT * EXCEPT (__q) FROM ("
            f"SELECT *, ({pred}) AS __q FROM ({head})) WHERE __q"
            + (f" {tail}" if tail else "")
        ) + sql[b.hi :]
    return sql


def _rewrite_limit_with_ties(toks: Tokens) -> str:
    """CH ``ORDER BY keys LIMIT n WITH TIES`` → rank()-window wrap
    (every row tied with the n-th survives). Scale note: WITH TIES is
    inherently a GLOBAL top-n — the rank window is a single ordered
    partition, the same work CH's single-node merge does; use it for
    human-sized n.
    """
    sql = toks.sql
    if not {"LIMIT", "WITH", "TIES"} <= toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        lim = b.get("LIMIT")
        words = toks.words_in(lim.body, lim.end)[:4] if lim else []
        ups = [w.upper() for _s, _e, w in words]
        if not ups or not ups[0].isdigit():
            continue
        if ups[1:2] and ups[1].isdigit() and ups[2:4] == ["WITH", "TIES"]:
            # CH comma form LIMIT off, n WITH TIES — same
            # offset+ties non-composition as the FETCH spelling
            # (and _rewrite_limit_offset would otherwise mangle it
            # into an unparseable LIMIT/OFFSET/WITH TIES mix)
            raise ValueError(
                "LIMIT offset, n WITH TIES: the rank filter and the "
                "row skip do not compose deterministically — use "
                "LIMIT n WITH TIES or a plain offset"
            )
        if ups[1:3] != ["WITH", "TIES"]:
            continue
        order = b.get("ORDER BY")
        if order is None:
            raise ValueError(
                "LIMIT … WITH TIES without ORDER BY is non-deterministic; "
                "add ORDER BY"
            )
        head = sql[b.lo : order.start].rstrip()
        okeys = sql[order.body : lim.start].strip()
        _reject_ordinal_order_keys(okeys, "LIMIT … WITH TIES")
        tail = sql[words[2][1] : b.hi].strip()
        # order keys resolve against source scope in CH; the rank wrapper
        # sees only the head's projection — map through the select list
        # (r14 fuzz seed 40054: ORDER BY (o_custkey % 3) failed analysis
        # when the projection had aliased it to g)
        hidden = ["__rk"]
        res = _scope_resolver(head, "__wt")
        if res is not None:
            okeys = res.order(okeys)
            head, extra_hidden = res.finish()
            hidden += extra_hidden
        sql = sql[: b.lo] + (
            f"SELECT * EXCEPT ({', '.join(hidden)}) FROM ("
            f"SELECT *, rank() OVER (ORDER BY {okeys}) AS __rk "
            f"FROM ({head})) WHERE __rk <= {ups[0]} "
            f"ORDER BY {okeys}" + (f" {tail}" if tail else "")
        ) + sql[b.hi :]
    return sql


def _rewrite_limit_by(toks: Tokens) -> str:
    """Rewrite ClickHouse ``ORDER BY keys LIMIT n BY cols [LIMIT m]``
    (and the offset form ``LIMIT n, m BY cols`` — skip n, keep m per
    group) into a ``row_number()`` window subquery.

    CH semantics: within each distinct value of the BY columns keep the
    first *n* rows in ORDER BY order; a trailing plain LIMIT then caps
    the overall result. An ORDER BY is required here — without one the
    kept rows are engine-dependent, and this engine refuses to guess.
    """
    sql = toks.sql
    if not {"LIMIT", "BY"} <= toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        lb = b.get("LIMIT BY")
        if lb is None:
            continue
        nums = [int(w) for _s, _e, w in toks.words_in(lb.start, lb.body)
                if w.isdigit()]
        skip, n_rows = nums if len(nums) == 2 else (0, nums[0])
        order = b.get("ORDER BY")
        if order is None:
            raise ValueError(
                "LIMIT BY without ORDER BY is non-deterministic; add ORDER BY"
            )
        head = sql[b.lo : order.start].rstrip()
        okeys = sql[order.body : lb.start].strip()
        _reject_ordinal_order_keys(okeys, "LIMIT BY")
        bcols = sql[lb.body : lb.end].strip()
        tail = sql[lb.end : b.hi].strip()
        # CH resolves LIMIT BY / ORDER BY expressions against the SOURCE
        # scope as well as the projection: `SELECT status AS g … LIMIT 2
        # BY status` is legal even though the projection renamed status
        # away. The wrapper below only sees the projection, so each BY /
        # ORDER key maps through the head's select list (_scope_resolver).
        hidden = ["__rn"]
        res = _scope_resolver(head, "__lb")
        if res is not None:
            bcols = ", ".join(res(p) for p in lex(bcols).split())
            okeys = res.order(okeys)
            head, extra_hidden = res.finish()
            hidden += extra_hidden
        pred = f"__rn <= {skip + n_rows}"
        if skip:
            pred = f"__rn > {skip} AND {pred}"
        sql = sql[: b.lo] + (
            f"SELECT * EXCEPT ({', '.join(hidden)}) FROM ("
            f"SELECT *, row_number() OVER ("
            f"PARTITION BY {bcols} ORDER BY {okeys}) AS __rn "
            f"FROM ({head})) WHERE {pred} "
            f"ORDER BY {okeys}" + (f" {tail}" if tail else "")
        ) + sql[b.hi :]
    return sql


def _scope_resolver(head: str, prefix: str):
    """Build an (resolve, finish) pair mapping SOURCE-scope expressions
    onto a SELECT head's output scope — the scoping rule CH applies to
    ORDER BY / DISTINCT ON / LIMIT BY keys (they may reference source
    columns the projection renamed away). ``resolve(expr)`` returns an
    output-scope name: a select-item alias when one matches, else a
    hidden ``{prefix}N`` column injected into the head's select list.
    ``finish()`` returns (new_head, hidden_names). Returns None when
    the head shape doesn't apply (see _head_select_items) — callers
    fall back to the unresolved spelling (r14 fuzz: DISTINCT ON /
    WITH TIES failed analysis whenever an order key wasn't projected
    verbatim)."""
    parsed = _head_select_items(head)
    if parsed is None:
        return None
    from_pos, items = parsed
    alias_names = {a for _, a in items if a}
    expr_to_alias = {" ".join(e.split()): a for e, a in items if a}
    extra: list[str] = []
    hidden: list[str] = []

    def resolve(expr: str) -> str:
        e = expr.strip()
        if e in alias_names:
            return e
        a = expr_to_alias.get(" ".join(e.split()))
        if a:
            return a
        nm = f"{prefix}{len(extra)}"
        extra.append(f"({e}) AS {nm}")
        hidden.append(nm)
        return nm

    def resolve_order(okeys: str) -> str:
        oparts = []
        for part in lex(okeys).split():
            m = re.match(
                r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?"
                r"(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
                part.strip(),
            )
            oparts.append(resolve(m.group(1)) + m.group(2))
        return ", ".join(oparts)

    def finish() -> tuple[str, list[str]]:
        if extra:
            return (
                head[:from_pos] + ", " + ", ".join(extra) + " "
                + head[from_pos:],
                hidden,
            )
        return head, hidden

    resolve.order = resolve_order  # type: ignore[attr-defined]
    resolve.finish = finish  # type: ignore[attr-defined]
    return resolve


def _head_select_items(head: str) -> tuple[int, list] | None:
    """Parse the top-level select list of a plain ``SELECT … FROM …``
    head: returns (from_pos, [(expr_text, alias_or_None), …]) or None
    when the shape doesn't apply (no FROM, DISTINCT — whose scope is
    post-dedup, so hidden-column injection would change semantics).
    Only explicit ``AS`` aliases and bare-identifier items are
    recognized; implicit trailing aliases stay unresolved and fall
    through to injection, which is still correct for source columns."""
    toks = lex(head)
    b = toks.clauses()[0]
    sel, frm = b.get("SELECT"), b.get("FROM")
    if sel is None or frm is None or sel.start != toks.starts[0]:
        return None
    first = toks.words_in(sel.body, sel.end)[:1]
    if first and first[0][2].upper() == "DISTINCT":
        return None
    items: list[tuple[str, str | None]] = []
    for a, z in toks.spans(sel.body, frm.start):
        iw = toks.words_in(a, z)
        expr, alias = head[a:z], None
        if len(iw) >= 2 and iw[-2][2].upper() == "AS":
            alias, expr = iw[-1][2], head[a : iw[-2][0]].strip()
        elif len(iw) == 1 and iw[0][:2] == (a, z):
            alias = expr
        items.append((expr, alias))
    return frm.start, items


def _rewrite_array_join(toks: Tokens) -> str:
    """Rewrite CH ``[LEFT] ARRAY JOIN e1 AS a1[, e2 AS a2, …]`` into a
    Spark ``LATERAL VIEW``.

    Single array → ``LATERAL VIEW [OUTER] explode(e1) __aj AS a1``.
    Multi array (CH zips positionally) → ``inline`` over an index
    walk of the FIRST array (two-arg transform lambda supplies the
    0-based index; an empty first array correctly yields no rows)::

        LATERAL VIEW inline(transform(e1, (__x, __i) ->
            named_struct('a1', __x,
                         'a2', element_at(e2, __i + 1), …))) __aj
            AS a1, a2

    ``inline`` explodes the struct array straight into named columns,
    so no query re-nesting is needed. Divergence from CH: mismatched
    array lengths yield NULL fill (element_at out of bounds) where CH
    errors — shorter arrays never silently truncate the row set.
    LEFT ARRAY JOIN keeps empty-array rows (→ OUTER, aliases NULL).
    """
    sql = toks.sql
    if not {"ARRAY", "JOIN"} <= toks.marks:
        return sql
    aj = next((c for b in toks.clauses() for c in b.clauses
               if c.name == "ARRAY JOIN"), None)
    if aj is None:
        return sql
    pairs = []  # (array_expr, alias)
    for a, z in toks.spans(aj.body, aj.end):
        iw = toks.words_in(a, z)
        as_pos = [x for x in iw if x[2].upper() == "AS"]
        if not as_pos or iw[-1][2].upper() == "AS":
            raise ValueError("ARRAY JOIN requires 'AS <alias>' per array")
        a_start, a_end, _ = as_pos[-1]
        pairs.append((sql[a:a_start].strip(), sql[a_end:z].strip()))
    outer = "OUTER " if sql[aj.start : aj.body].upper().startswith(
        "LEFT") else ""
    if len(pairs) == 1:
        expr, alias = pairs[0]
        view = f"LATERAL VIEW {outer}explode({expr}) __aj AS {alias}"
    else:
        fields = ", ".join(
            [f"'{pairs[0][1]}', __x"]
            + [f"'{al}', element_at({ex}, __i + 1)" for ex, al in pairs[1:]]
        )
        aliases = ", ".join(al for _ex, al in pairs)
        view = (
            f"LATERAL VIEW {outer}inline(transform({pairs[0][0]}, "
            f"(__x, __i) -> named_struct({fields}))) __aj AS {aliases}"
        )
    rewritten = sql[: aj.start] + view + " " + sql[aj.end :]
    return _rewrite_array_join(lex(rewritten.rstrip()))


def _with_modifier(toks: Tokens, b: Branch,
                   word: str) -> tuple[int, int] | None:
    """(start, end) of the first ``WITH <word>`` (TOTALS, FILL) at the
    top level of branch ``b``."""
    words = toks.words_in(b.lo, b.hi)
    return next((
        (ws, we) for (ws, _e, w), (_s, we, m) in zip(words, words[1:])
        if w.upper() == "WITH" and m.upper() == word
    ), None)


def _rewrite_with_totals(toks: Tokens) -> str:
    """Rewrite CH ``GROUP BY keys WITH TOTALS`` → Spark
    ``GROUP BY keys GROUPING SETS ((keys), ())``.

    The CH totals row aggregates over EVERYTHING regardless of key
    count — exactly the empty grouping set. (``WITH ROLLUP`` would be
    wrong for multi-key: it adds per-prefix subtotals CH never emits.)
    """
    sql = toks.sql
    if not {"WITH", "TOTALS"} <= toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        at = _with_modifier(toks, b, "TOTALS")
        if at is None:
            continue
        gb = b.get("GROUP BY")
        if gb is None or gb.start > at[0]:
            raise ValueError("WITH TOTALS without GROUP BY")
        keys = [k.strip() for k in lex(sql[gb.body : at[0]].strip()).split()]
        sets = f"GROUPING SETS (({', '.join(keys)}), ())"
        sql = sql[: at[0]] + sets + sql[at[1] :]
    return sql



# The role→Spark-aggregate vocabulary for SimpleAggregateFunction
# columns and Summing non-key columns, which ddl.ChWarehouse._merge
# applies for both SELECT … FINAL and OPTIMIZE FINAL. Convention:
# any→min / anyLast→max / other→max are deterministic stand-ins for
# CH's arbitrary "any value" (documented in the engine docstrings).
SAF_AGG_FOR_ROLE: dict[str, str] = {
    "sum": "sum", "min": "min", "any": "min",
    "max": "max", "anyLast": "max", "other": "max",
}

# -State/-Merge partial-aggregate states (round 12): the representable
# subset of CH's AggregatingMergeTree vocabulary. The STATE of each
# supported base has a real Spark value type, so the rollup-MV pattern
# (INSERT … SELECT xState(…) GROUP BY k; SELECT xMerge(col) GROUP BY k)
# works end-to-end without engine-internal byte blobs:
#   sum/min/max   the partial value itself (re-aggregation = the state
#                 merge, CH's own associativity argument)
#   count         partial count (BIGINT)
#   any/anyLast   deterministic stand-in (min/max — the same convention
#                 as SAF_AGG_FOR_ROLE; CH keeps an arbitrary survivor)
#   avg           struct<s: sum, c: count> (CH's avg state IS the
#                 (sum, count) pair — AggregateFunctionAvg)
#   uniq          Datasketches HLL sketch bytes via hll_sketch_agg
#                 (~1.6% rel. error at the default lgConfigK=12; CH's
#                 uniq is itself an approximate HLL-class estimator).
#                 Supported input types: integral/string/binary.
#   uniqExact     array of distinct values (exact; state size grows
#                 with cardinality — same as CH's uniqExact hash set)
#   groupBitmap   sorted distinct element array (round 13 — the exact
#                 bitmap tier; CH's roaring container encodes the same
#                 set). groupBitmapAnd/Or/Xor take bitmap COLUMNS as
#                 input; their states fold intersect/union/symdiff.
# Everything else (quantileTDigestState, topKState, …) keeps the loud
# reject in the dispatch: those states are engine-internal serialized
# structures with no Spark value analog.
_BM_UNION = "array_sort(array_distinct(flatten(collect_list({0}))))"
_BM_AND_FOLD = (
    "coalesce(aggregate(collect_list({0}), "
    "CAST(NULL AS ARRAY<BIGINT>), (__acc, __b) -> "
    "CASE WHEN __acc IS NULL THEN array_sort(array_distinct(__b)) "
    "ELSE array_sort(array_intersect(__acc, __b)) END), "
    "CAST(array() AS ARRAY<BIGINT>))"
)
_BM_XOR_FOLD = (
    "array_sort(aggregate(collect_list({0}), "
    "CAST(array() AS ARRAY<BIGINT>), (__acc, __b) -> "
    "array_union(array_except(__acc, __b), "
    "array_except(__b, __acc))))"
)
_STATE_SQL: dict[str, str] = {
    "sum": "sum({0})",
    "count": "count({0})",
    "min": "min({0})",
    "max": "max({0})",
    "any": "min({0})",
    "anyLast": "max({0})",
    "avg": "named_struct('s', sum({0}), 'c', count({0}))",
    "uniq": "hll_sketch_agg({0})",
    "uniqExact": "collect_set({0})",
    "groupBitmap": "array_sort(collect_set({0}))",
    "groupBitmapAnd": _BM_AND_FOLD,
    "groupBitmapOr": _BM_UNION,
    "groupBitmapXor": _BM_XOR_FOLD,
}
_MERGE_SQL: dict[str, str] = {
    "sum": "sum({0})",
    "count": "CAST(sum({0}) AS BIGINT)",
    "min": "min({0})",
    "max": "max({0})",
    "any": "min({0})",
    "anyLast": "max({0})",
    # CH avgMerge returns Float64; a zero-count merged state yields
    # NULL here (try_divide) where CH prints nan — documented delta
    "avg": ("try_divide(CAST(sum(({0}).s) AS DOUBLE), "
            "CAST(sum(({0}).c) AS DOUBLE))"),
    "uniq": "hll_sketch_estimate(hll_union_agg({0}, true))",
    "uniqExact": ("CAST(size(array_distinct(flatten("
                  "collect_list({0})))) AS BIGINT)"),
    # merging bitmap states finalizes to the CARDINALITY (CH's
    # groupBitmapMerge returns UInt64), combining with each base's
    # own combine step (union / intersect / symdiff)
    "groupBitmap": ("CAST(size(array_distinct(flatten("
                    "collect_list({0})))) AS BIGINT)"),
    "groupBitmapAnd": f"CAST(size({_BM_AND_FOLD}) AS BIGINT)",
    "groupBitmapOr": ("CAST(size(array_distinct(flatten("
                      "collect_list({0})))) AS BIGINT)"),
    "groupBitmapXor": f"CAST(size({_BM_XOR_FOLD}) AS BIGINT)",
}
_MERGE_STATE_SQL: dict[str, str] = {
    "sum": "sum({0})",
    "count": "CAST(sum({0}) AS BIGINT)",
    "min": "min({0})",
    "max": "max({0})",
    "any": "min({0})",
    "anyLast": "max({0})",
    "avg": ("named_struct('s', sum(({0}).s), "
            "'c', CAST(sum(({0}).c) AS BIGINT))"),
    "uniq": "hll_union_agg({0}, true)",
    "uniqExact": "array_distinct(flatten(collect_list({0})))",
    "groupBitmap": _BM_UNION,
    "groupBitmapAnd": _BM_AND_FOLD,
    "groupBitmapOr": _BM_UNION,
    "groupBitmapXor": _BM_XOR_FOLD,
}
# -SimpleState only wraps aggregates whose state IS the plain value
_SIMPLE_STATE_BASES = ("sum", "min", "max", "any", "anyLast")
# public: the AggregateFunction(base, T) column bases ddl.py accepts
STATE_BASES = tuple(_STATE_SQL)


def agg_sql_for_role(role: str, col: str) -> str:
    """The ONE role→merge-SQL vocabulary for FINAL/OPTIMIZE collapse:
    SAF/Summing roles go through SAF_AGG_FOR_ROLE; ``state:<base>``
    roles (AggregateFunction columns) emit the -MergeState expression —
    FINAL on AggregatingMergeTree merges states per key, it does NOT
    finalize them (the column keeps its state type, as in CH)."""
    if role.startswith("state:"):
        return _MERGE_STATE_SQL[role[6:]].format(col)
    return f"{SAF_AGG_FOR_ROLE[role]}({col})"


def _state_combinator_sql(ident: str, args: list[str]) -> str:
    """Dispatch sumState/uniqMerge/avgMergeState/… for the supported
    bases; loud reject (with the supported list) for the rest."""
    if ident.endswith("MergeState"):
        base, table, kind = ident[:-10], _MERGE_STATE_SQL, "MergeState"
    elif ident.endswith("SimpleState"):
        base, kind = ident[:-11], "SimpleState"
        table = _STATE_SQL if base in _SIMPLE_STATE_BASES else {}
    elif ident.endswith("State"):
        base, table, kind = ident[:-5], _STATE_SQL, "State"
    else:
        base, table, kind = ident[:-5], _MERGE_SQL, "Merge"
    if (
        kind == "State"
        and base.endswith("If")
        and base[:-2] in _STATE_SQL
        and len(args) >= (1 if base == "countIf" else 2)
    ):
        # -If∘-State (sumIfState(v, cond) — the conditional-rollup MV
        # shape): CASE-wrap the value args, then take the plain state.
        # countIfState(cond) has no value arg — the CASE itself is
        # counted.
        base = base[:-2]
        cond = args[-1]
        if base == "count" and len(args) == 1:
            args = [f"(CASE WHEN {cond} THEN 1 END)"]
        else:
            args = [
                f"(CASE WHEN {cond} THEN {a} END)" for a in args[:-1]
            ]
    if base not in table:
        raise ValueError(
            f"{ident}: -{kind} is supported for the plain-state bases "
            f"{sorted(_STATE_SQL)} (uniq via an HLL sketch column, "
            "~1.6% rel. error); other aggregates' states are "
            "engine-internal serialized structures — compute the "
            "final aggregate directly, or use a SummingMergeTree / "
            "insert-triggered materialized view (ddl.ChWarehouse)"
        )
    if base == "count":
        inner = ", ".join(args) if args else "*"
        if kind != "State" and not args:
            raise ValueError(f"{ident} needs the state column")
    else:
        if len(args) != 1:
            raise ValueError(
                f"{ident}: exactly one argument (multi-arg {base} "
                "states are tuple-hashed engine-side in CH — hash "
                "explicitly, e.g. cityHash64(a, b), first)"
            )
        inner = args[0]
    return table[base].format(inner)

# CH name → scalar Python kernel (functions/strkernels.py); throwing
# CH forms return NULL on invalid input, try* forms ''
_STR_KERNELS: dict[str, str] = {
    "decodeXMLComponent": "__ch_xml_dec",
    "extractTextFromHTML": "__ch_html_text",
    "SHA512_256": "__ch_sha512_256",
    "punycodeEncode": "__ch_puny_enc",
    "punycodeDecode": "__ch_puny_dec",
    "tryPunycodeDecode": "__ch_puny_trydec",
    "idnaEncode": "__ch_idna_enc",
    "tryIdnaEncode": "__ch_idna_tryenc",
    "idnaDecode": "__ch_idna_dec",
    "toBase58": "__ch_b58_enc",
    "base58Encode": "__ch_b58_enc",
    "base58Decode": "__ch_b58_dec",
    "tryBase58Decode": "__ch_b58_trydec",
}
_SIM_KERNELS: dict[str, str] = {
    "damerauLevenshteinDistance": "__ch_damlev",
    "jaroSimilarity": "__ch_jaro",
    "jaroWinklerSimilarity": "__ch_jarow",
    "stringJaccardIndex": "__ch_str_jaccard",
    # wave 6: codepoint-set variant (byte variant above)
    "stringJaccardIndexUTF8": "__ch_str_jaccard_u8",
    "byteHammingDistance": "__ch_byte_hamming",
}

class JoinTable(NamedTuple):
    """A ``Join(ANY, LEFT, keys)``-engine analog for ``joinGet``: one
    row per key, and the column types that pick its miss value."""

    frame: DataFrame
    keys: tuple[str, ...]
    types: Mapping[str, str]


@dataclass(frozen=True)
class QueryContext:
    """What one statement can name beyond the session's own tables, as
    ClickHouse's per-query ``Context``. Built per call, never changed.

    - ``frames``: name → DataFrame; :func:`ch_sql` binds each frame the
      statement reads under a fresh name for that call.
    - ``schemas``: the schemas of the frames added as views (star
      expansion, the ASOF tie-break, ANY JOIN, subscript casts).
    - ``merged``: table → the frame ``FROM table FINAL`` reads.
    - ``replacing``: name → (key columns, version column) for FINAL.
    - ``sampling``: name → the ``SAMPLE BY`` key column.
    - ``join_tables``: name → :class:`JoinTable`.
    """

    frames: Mapping[str, DataFrame] = field(default_factory=dict)
    schemas: Mapping[str, StructType] = field(default_factory=dict)
    merged: Mapping[str, str] = field(default_factory=dict)
    replacing: Mapping[str, tuple[tuple[str, ...], str]] = field(
        default_factory=dict
    )
    sampling: Mapping[str, str] = field(default_factory=dict)
    join_tables: Mapping[str, JoinTable] = field(default_factory=dict)

    def with_views(self, views: Mapping[str, DataFrame]) -> QueryContext:
        """This context plus ``views``: frames whose schemas it keeps."""
        if not views:
            return self
        schemas = {name: df.schema for name, df in views.items()}
        return replace(self, frames={**self.frames, **views},
                       schemas={**self.schemas, **schemas})

    def columns(self, name: str) -> list[str] | None:
        """The columns of view ``name``; None for any other name."""
        schema = self.schemas.get(name)
        return None if schema is None else schema.fieldNames()


EMPTY_CONTEXT = QueryContext()


def _col_array_class(name: str, ctx: QueryContext) -> bool | None:
    """True if column ``name`` is array-typed in every view of the
    context that carries it, False if in none, None when no view has it
    or the views disagree (fall back to the syntactic heuristic)."""
    votes = {
        isinstance(f.dataType, ArrayType)
        for schema in ctx.schemas.values()
        for f in schema.fields
        if f.name.lower() == name
    }
    return votes.pop() if len(votes) == 1 else None


def _elem_base_class(base: str, ctx: QueryContext) -> str | None:
    """Classify the BASE of a subscript / arrayElement call as
    'array', 'map', or None (unknown), from its syntax plus the
    context's view schemas (shared by a[k] and arrayElement(), so
    neither casts a map key to INT)."""
    base_l = base.strip().lower().lstrip("(")
    base_seg = base_l.rstrip(")").split(".")[-1].strip("`")
    base_cls = (_col_array_class(base_seg, ctx)
                if base_seg.isidentifier() else None)
    if base_l.startswith(_MAPISH_PREFIXES):
        return "map"
    if _is_arrayish(base_l) or base_cls is True:
        return "array"
    if base_cls is False:
        # known non-array column: treat as map for cast purposes
        # (key passes through with its own type)
        return "map"
    return None


def _elem_needs_cast(base: str, key: str, ctx: QueryContext) -> bool:
    """True when an index expression must be cast to INT for Spark's
    element_at family (array base, non-literal index); False when it
    must pass through uncast (map keys keep the map's key type)."""
    key = key.strip()
    is_str_lit = is_quoted(key)
    is_int_lit = key.lstrip("-").isdigit()
    cls = _elem_base_class(base, ctx)
    if cls == "map":
        return False
    if cls == "array":
        return not (is_str_lit or is_int_lit)
    is_bare_ident = key.replace(
        ".", "_").replace("`", "_").isidentifier()
    str_key = key.lower().startswith(_STRINGY_PREFIXES)
    return not (is_str_lit or is_int_lit or is_bare_ident or str_key)


def _sample_predicate_sql(key: str, num: int, den: int) -> str:
    """md5-bucket sampling predicate: keep rows whose bucket-of-key
    falls below num/den. Matches operators/textprep.sample_predicate
    (same hash, same bucket math) so SQL- and DataFrame-level samples
    select identical rows."""
    bucket = (
        f"(conv(substring(md5(cast({key} as string)), 1, 8), 16, 10)"
        f" % {den})"
    )
    return f"{bucket} < {num}"


def _rewrite_from_modifiers(toks: Tokens, ctx: QueryContext) -> str:
    """Rewrite CH table modifiers in FROM clauses:

    - ``FROM t [AS a] FINAL`` on a warehouse table →
      ``FROM <merged view> AS t``: the frame of the table's rows after
      its engine's merge (``ctx.merged``; ddl.py builds it with the
      merge OPTIMIZE FINAL writes).
    - ``FROM t [AS a] FINAL`` on a plain view → latest-version-per-key
      subquery (one window over the key exchange, WindowGroupLimit
      prunes map-side). Requires ``t`` in ``ctx.replacing``.
    - ``FROM t [AS a] [FINAL] SAMPLE n/d`` → deterministic md5-bucket
      predicate on the sampling key over the table, or over the merged
      view under FINAL (a plain view samples before its FINAL window),
      so it reaches the scan. Requires ``t`` in ``ctx.sampling``.
    """
    sql = toks.sql
    if not {"FINAL", "SAMPLE"} & toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        frm = b.get("FROM")
        words = toks.words_in(frm.body, frm.end) if frm else []
        if not words or toks.at(words[0][0]) != toks.at(frm.body):
            continue  # no table name right after FROM: a subquery
        _ts, te, table = words[0]
        k = 1
        alias = None
        if k < len(words) and words[k][2].upper() == "AS":
            k += 1
            if k < len(words):
                alias = words[k][2]
                k += 1
        elif k < len(words) and words[k][2].upper() not in (
            "FINAL", "SAMPLE"
        ):
            alias = words[k][2]
            k += 1
        final = False
        sample: tuple[int, int] | None = None
        end = te if alias is None else words[k - 1][1]
        while k < len(words):
            w = words[k][2].upper()
            if w == "FINAL":
                final = True
                end = words[k][1]
                k += 1
            elif w == "SAMPLE" and k + 1 < len(words):
                # SAMPLE n/d  (n, '/', d arrive as two words split by '/')
                if not (k + 2 < len(words) and words[k + 1][2].isdigit() and (
                    sql[words[k + 1][1] : words[k + 2][0]].strip() == "/"
                ) and words[k + 2][2].isdigit()):
                    raise ValueError("SAMPLE supports only the n/d form")
                sample = (int(words[k + 1][2]), int(words[k + 2][2]))
                end = words[k + 2][1]
                k += 3
            else:
                break
        if not final and sample is None:
            continue
        merged = ctx.merged.get(table) if final else None
        base = merged or table
        if sample is not None:
            key = ctx.sampling.get(table)
            if key is None:
                raise ValueError(
                    f"SAMPLE on '{table}' needs a SAMPLE BY key: a "
                    "warehouse table with one, or its entry in the "
                    "QueryContext's sampling"
                )
            pred = _sample_predicate_sql(key, sample[0], sample[1])
            base = f"(SELECT * FROM {base} WHERE {pred})"
        if final and merged is None:
            meta = ctx.replacing.get(table)
            if meta is None:
                raise ValueError(
                    f"FINAL on '{table}' needs its keys in the "
                    "QueryContext's replacing entry, or a warehouse table "
                    "with a merging MergeTree engine"
                )
            keys, ver = meta
            base = (
                f"(SELECT * EXCEPT (__rn) FROM ("
                f"SELECT *, row_number() OVER ("
                f"PARTITION BY {', '.join(keys)} "
                f"ORDER BY {ver} DESC) AS __rn FROM {base}) "
                f"WHERE __rn = 1)"
            )
        out_alias = alias if alias is not None else table
        sql = sql[: frm.start] + f"FROM {base} AS {out_alias}" + sql[end:]
    return sql


def _rewrite_asof_join(toks: Tokens, ctx: QueryContext) -> str:
    """Rewrite CH ``<ltable> [lalias] ASOF [LEFT] JOIN <right> [AS r]
    ON <conds>`` into an explicit domain → equi-join → window → join-back
    shape.

    The ON conjunction must contain ≥1 equality and EXACTLY one
    inequality (the as-of condition, per CH). ``r.t <= probe`` →
    backward (latest at-or-before); ``r.t >= probe`` → forward.

    Why not ``JOIN LATERAL (… ORDER BY t LIMIT 1)``: Spark decorrelates
    a correlated top-1 subquery into a BroadcastNestedLoopJoin of the
    correlation domain against the ENTIRE right table followed by
    near-single-partition sorts — measured 50+ minutes pinned on one
    core at sf0.1 where this rewrite runs in seconds. The manual shape
    keeps every join an equi-join:

    1. ``__dom`` = DISTINCT (eq keys, probe time) of the left table;
    2. hash-join ``__dom`` × right ON the equality keys, filter the
       as-of inequality inside the partition;
    3. ``row_number() OVER (PARTITION BY domain ORDER BY t DESC|ASC,
       tiebreak)`` = 1 — the per-domain top-1 (WindowGroupLimit prunes
       map-side);
    4. equi-join the (≤1-row-per-domain) result back to the left rows
       on (keys, probe).

    The tie-break is the right table's first column (its schema from
    the context's views), largest wins backward / smallest forward —
    deterministic where CH picks arbitrarily.
    """
    sql = toks.sql
    if "ASOF" not in toks.marks:
        return sql
    hit = _join_with(toks, "ASOF")
    if hit is None:
        if any(w.upper() == "ASOF" for _s, _e, w in toks.words()):
            raise ValueError("ASOF must be followed by [LEFT] JOIN")
        return sql
    b, j, _opener = hit
    new = _asof_branch(toks, b, j, ctx)
    return _rewrite_asof_join(lex(sql[: b.lo] + new + sql[b.hi :]), ctx)


def _join_with(toks: Tokens, word: str) -> tuple[Branch, Clause, list] | None:
    """The first join whose opener has ``word`` (ASOF, ANY): its branch,
    its clause and the words of its opener."""
    for b in toks.clauses():
        for j in b.clauses:
            opener = toks.words_in(j.start, j.body) if j.name == "JOIN" else []
            if any(w.upper() == word for _s, _e, w in opener):
                return b, j, opener
    return None


def _asof_branch(toks: Tokens, b: Branch, j: Clause,
                 ctx: QueryContext) -> str:
    """Branch ``b`` with its ASOF join ``j`` rewritten (see
    :func:`_rewrite_asof_join`)."""
    sql = toks.sql
    frm = b.get("FROM")
    left = toks.words_in(frm.body, frm.end) if frm else []
    if not left:
        raise ValueError("ASOF JOIN: could not locate the left table")
    ltable = lalias = left[0][2]
    if len(left) > 2 and left[1][2].upper() == "AS":
        lalias = left[2][2]
    elif len(left) > 1:
        lalias = left[1][2]
    words = toks.words_in(j.start, j.end)
    ups = [w.upper() for _s, _e, w in words]
    k = ups.index("ASOF")
    as_ = words[k][0]
    left_join = ups[k + 1] == "LEFT"
    k += 3 if left_join else 2
    table = words[k][2]
    k += 1
    alias = table
    if k < len(words) and ups[k] == "AS":
        alias = words[k + 1][2]
        k += 2
    elif k < len(words) and ups[k] != "ON":
        alias = words[k][2]
        k += 1
    if k >= len(words) or ups[k] != "ON":
        raise ValueError("ASOF JOIN requires an ON clause")
    # the ON conjunction ends where the join does: at the next join or
    # clause
    cond = sql[words[k][1] : j.end].strip()
    # split the conjunction on its top-level ANDs
    parts, start = [], 0
    for ws, we, w in lex(cond).words():
        if w.upper() == "AND":
            parts.append(cond[start:ws].strip())
            start = we
    parts.append(cond[start:].strip())
    ineqs = [p for p in parts if ("<=" in p or ">=" in p)]
    if len(ineqs) != 1:
        raise ValueError(
            "ASOF JOIN needs exactly one <= or >= condition"
        )
    eqs = []
    for p in parts:
        if p is ineqs[0] or "=" not in p:
            continue
        a, b_ = [s.strip() for s in p.split("=", 1)]
        if a.startswith(f"{alias}."):
            eqs.append((b_, a))
        else:
            eqs.append((a, b_))
    if not eqs:
        raise ValueError("ASOF JOIN needs at least one equality key")
    op = "<=" if "<=" in ineqs[0] else ">="
    lhs, rhs = [s.strip() for s in ineqs[0].split(op, 1)]
    if lhs.startswith(f"{alias}."):
        r_time, probe, backward = lhs, rhs, op == "<="
    else:
        r_time, probe, backward = rhs, lhs, op == ">="
    direction = "DESC" if backward else "ASC"
    rcols = ctx.columns(table)
    tiebreak = f"{alias}.{rcols[0]} {direction}, " if rcols else ""

    dom_sel = ", ".join(
        f"{le} AS __dk{i}" for i, (le, _re) in enumerate(eqs)
    )
    dom_keys = ", ".join(f"__dk{i}" for i in range(len(eqs)))
    dom_join = " AND ".join(
        f"__dom.__dk{i} = {re}" for i, (_le, re) in enumerate(eqs)
    )
    back_join = " AND ".join(
        f"{le} = {alias}.__dk{i}" for i, (le, _re) in enumerate(eqs)
    )
    sub = (
        f"{'LEFT ' if left_join else ''}JOIN ("
        f"SELECT * EXCEPT (__arn) FROM ("
        f"SELECT *, row_number() OVER ("
        f"PARTITION BY {dom_keys}, __dt "
        f"ORDER BY {r_time} {direction}, {tiebreak}{r_time} {direction}"
        f") AS __arn "
        f"FROM (SELECT DISTINCT {dom_sel}, {probe} AS __dt "
        f"FROM {ltable} AS {lalias}) AS __dom "
        f"JOIN {table} AS {alias} "
        f"ON {dom_join} AND {r_time} {op} __dom.__dt"
        f") WHERE __arn = 1"
        f") AS {alias} ON {back_join} AND {probe} = {alias}.__dt"
    )
    rewritten = (sql[b.lo : as_] + sub + " " + sql[j.end : b.hi]).rstrip()
    # `SELECT *` through the rewrite would leak the internal
    # __dk*/__dt bookkeeping columns (they must survive inside the
    # subquery — the join-back condition references them): strip
    # them from a bare star select list. Explicit select lists
    # never see them.
    rw = lex(rewritten)
    sel = rw.clauses()[0].get("SELECT")
    nxt = rw.words_in(sel.body, sel.end + 1)[:1] if sel else []
    if not nxt or rewritten[sel.body : nxt[0][0]].strip() != "*":
        return rewritten
    internals = ", ".join(
        [f"{alias}.__dk{i}" for i in range(len(eqs))] + [f"{alias}.__dt"]
    )
    if nxt[0][2].upper() == "EXCEPT":  # a chained ASOF pass's list
        paren = rewritten.index("(", nxt[0][1])
        return (rewritten[: paren + 1] + internals + ", "
                + rewritten[paren + 1 :])
    return (rewritten[: sel.body] + f" * EXCEPT ({internals})"
            + rewritten[nxt[0][0] - 1 :])


_FILL_BOUNDS = ("FROM", "TO", "STEP")
_FILL_STOPS = _FILL_BOUNDS + ("WITH", "INTERPOLATE")


def _rewrite_with_fill(toks: Tokens) -> str:
    """Rewrite CH ``ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]``:
    wrap the statement, build a value spine with ``sequence()``, and
    left-join the real rows onto it.

    Spine bounds default to the result's min/max (one 1-row aggregate,
    broadcast into the join — O(range), never O(data)). Divergence
    from CH: filled rows carry NULL in the other columns, not CH's
    type-default zeros — a silent 0 is indistinguishable from a real
    0, which a pipeline should never risk. Single fill column only.
    """
    sql = toks.sql
    if not {"WITH", "FILL"} <= toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        at = _with_modifier(toks, b, "FILL")
        if at is None:
            continue
        order = b.get("ORDER BY")
        if order is None or order.start > at[0]:
            raise ValueError("WITH FILL without ORDER BY")
        col = sql[order.body : at[0]].strip()
        if "," in col:
            raise ValueError("WITH FILL supports a single ORDER BY column")
        # optional FROM / TO / STEP: each value runs to the next of them
        # (or a WITH or INTERPOLATE) or to the end of the ORDER BY clause
        tail_end = at[1]
        mods = toks.words_in(tail_end, order.end)
        bounds: dict[str, str] = {}
        k = 0
        while k < len(mods) and mods[k][2].upper() in _FILL_BOUNDS:
            nxt = next((j for j in range(k + 2, len(mods))
                        if mods[j][2].upper() in _FILL_STOPS),
                       len(mods))
            tail_end = mods[nxt][0] if nxt < len(mods) else order.end
            bounds[mods[k][2].upper()] = sql[mods[k][1] : tail_end].strip()
            k = nxt
        lo, hi, step = map(bounds.get, _FILL_BOUNDS)
        # optional INTERPOLATE (c1, c2, …): carry the previous REAL
        # row's value into fill rows. Only the bare-column (carry)
        # form — CH's `AS expr` form is applied RECURSIVELY down a run
        # of fill rows (each computes from the previous possibly-filled
        # row), which a window function cannot express; reject loudly.
        interp_cols: list[str] = []
        if k < len(mods) and mods[k][2].upper() == "INTERPOLATE":
            p = sql.find("(", mods[k][1])
            if p == -1 or sql[mods[k][1] : p].strip():
                raise ValueError(
                    "INTERPOLATE requires a parenthesized column list"
                )
            close = toks.close(p)
            body = sql[p + 1 : close]
            if " AS " in f" {body.upper()} ":
                raise ValueError(
                    "INTERPOLATE (col AS expr) is applied recursively "
                    "along consecutive fill rows in ClickHouse — not "
                    "expressible as a window; only the carry form "
                    "INTERPOLATE (col, …) is supported"
                )
            interp_cols = [c.strip() for c in body.split(",") if c.strip()]
            tail_end = close + 1
        head = sql[b.lo : order.start].rstrip()
        limit_tail = sql[tail_end : b.hi].strip()
        limit_tail = f" {limit_tail}" if limit_tail else ""
        lo_e = lo if lo is not None else f"(SELECT min({col}) FROM __q)"
        hi_e = hi if hi is not None else f"(SELECT max({col}) FROM __q)"
        seq = (
            f"sequence({lo_e}, {hi_e}, {step})"
            if step is not None
            else f"sequence({lo_e}, {hi_e})"
        )
        # CH treats an explicit TO as EXCLUSIVE; sequence() includes the
        # upper bound, so filter it back off the spine.
        spine_body = f"SELECT explode({seq}) AS {col}"
        if hi is not None:
            spine_body = (
                f"SELECT {col} FROM ({spine_body}) WHERE {col} < ({hi})"
            )
        # FULL OUTER (not LEFT) join: CH always preserves original
        # result rows and interleaves fill rows — a LEFT join from the
        # spine silently DROPPED rows whose fill value is off the
        # sequence grid (e.g. a real d=3 under STEP 2).
        if not interp_cols:
            new = (
                f"WITH __q AS ({head}), "
                f"__spine AS ({spine_body}) "
                f"SELECT * FROM __spine FULL OUTER JOIN __q USING ({col}) "
                f"ORDER BY {col}{limit_tail}"
            )
        else:
            # carry-interpolation: a __real marker distinguishes fill
            # rows (CH interpolates ONLY those — a real row's genuine
            # NULL must not be backfilled), then last_value IGNORE NULLS
            # over the preceding real values supplies the carry
            w_over = (
                f"OVER (ORDER BY {col} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            )
            carries = ", ".join(
                f"CASE WHEN __real THEN {c} ELSE "
                f"last_value(CASE WHEN __real THEN {c} END) "
                f"IGNORE NULLS {w_over} END AS {c}"
                for c in interp_cols
            )
            fill_sql = (
                f"WITH __q AS (SELECT *, true AS __real FROM ({head})), "
                f"__spine AS ({spine_body}) "
                f"SELECT * FROM __spine FULL OUTER JOIN __q USING ({col})"
            )
            new = (
                f"SELECT * EXCEPT (__real, {', '.join(interp_cols)}), "
                f"{carries} FROM ({fill_sql}) ORDER BY {col}{limit_tail}"
            )
        sql = sql[: b.lo] + new + sql[b.hi :]
    return sql


def _rewrite_prewhere(toks: Tokens) -> str:
    """Merge CH ``PREWHERE cond`` into the WHERE clause. PREWHERE is a
    CH scan-optimization hint (filter before reading other columns);
    Spark's predicate pushdown does exactly this automatically, so the
    correct translation is plain conjunction."""
    sql = toks.sql
    if "PREWHERE" not in toks.marks:
        return sql
    for b in reversed(toks.clauses()):
        pre, where = b.get("PREWHERE"), b.get("WHERE")
        if pre is None:
            continue
        cond = sql[pre.body : pre.end].strip()
        if where is None:
            sql = sql[: pre.start] + f"WHERE {cond} " + sql[pre.end :]
        else:  # PREWHERE a WHERE b → WHERE (a) AND (b)
            wcond = sql[where.body : where.end].strip()
            sql = (sql[: pre.start] + f"WHERE ({cond}) AND ({wcond}) "
                   + sql[where.end :])
    return sql


def _rewrite_any_join(toks: Tokens, ctx: QueryContext) -> str:
    """CH ``ANY LEFT/INNER JOIN t USING (keys)`` (either keyword order:
    ``LEFT ANY JOIN`` too) → a plain join against ``t`` deduplicated to
    one row per key.

    CH's ANY keeps an arbitrary matching right row; arbitrary is
    reproducible-hostile, so the dedup picks the TOTAL-ORDER minimum
    (row_number over PARTITION BY keys ORDER BY every column — the same
    determinism contract as the DataFrame-side ``joins.any_join``). The
    right table must be a view of the context: the wrapper
    needs its column list to project ``__any_rn`` back out. RIGHT ANY
    JOIN (CH dedups the LEFT side) and ON-form conditions are rejected
    — use the DataFrame API for those shapes.
    """
    sql = toks.sql
    hit = _join_with(toks, "ANY") if "ANY" in toks.marks else None
    if hit is None:
        return sql
    _b, j, opener = hit
    return _rewrite_any_join(lex(_any_join(toks, j, opener, ctx)), ctx)


def _any_join(toks: Tokens, j: Clause, opener: list,
              ctx: QueryContext) -> str:
    """``toks.sql`` with its ANY join ``j`` rewritten (see
    :func:`_rewrite_any_join`)."""
    sql = toks.sql
    ups = [w.upper() for _s, _e, w in opener]
    if "RIGHT" in ups:
        raise ValueError(
            "RIGHT ANY JOIN (left-side dedup) is not supported in "
            "SQL — use joins.any_join with swapped sides"
        )
    start = next(s for (s, _e, _w), u in zip(opener, ups)
                 if u in ("ANY", "LEFT", "INNER"))
    jtype = "LEFT" if "LEFT" in ups else "INNER"
    # table [AS] [alias] USING (cols)
    words = toks.words_in(j.body, j.end)
    table = alias = words[0][2]
    k = 1
    if k < len(words) and words[k][2].upper() == "AS":
        k += 1
    if k < len(words) and words[k][2].upper() != "USING":
        alias = words[k][2]
        k += 1
    if k >= len(words) or words[k][2].upper() != "USING":
        raise ValueError(
            "ANY JOIN supports the USING form only; rewrite ON "
            "conditions with joins.any_join"
        )
    cols = ctx.columns(table)
    if cols is None:
        raise ValueError(
            f"ANY JOIN needs {table!r} among the statement's views "
            "or warehouse tables (its column list drives the dedup "
            "projection)"
        )
    # the USING column list: parenthesized, the '(' right after USING,
    # or CH's paren-less 'USING k1, k2' up to the end of the join,
    # re-emitted parenthesized (Spark requires the parens)
    using = words[k][1]
    p = sql.find("(", using)
    if p != -1 and not sql[using:p].strip():
        close = toks.close(p)
        ukeys = [c.strip() for c in sql[p + 1 : close].split(",")]
        using_end = close + 1
    else:
        if k + 1 >= len(words):
            raise ValueError(
                "ANY JOIN USING: no key columns found after USING"
            )
        using_end = words[-1][1]
        ukeys = [c.strip() for c in sql[using:using_end].split(",")
                 if c.strip()]
    col_list = ", ".join(cols)
    part = ", ".join(ukeys)
    sub = (
        f"(SELECT {col_list} FROM (SELECT *, row_number() OVER ("
        f"PARTITION BY {part} ORDER BY {col_list}) AS __any_rn "
        f"FROM {table}) WHERE __any_rn = 1)"
    )
    return (
        sql[:start]
        + f"{jtype} JOIN {sub} AS {alias} "
        + f"USING ({', '.join(ukeys)})"
        + sql[using_end:]
    )


def _drop_global(toks: Tokens) -> str:
    """Drop CH's GLOBAL keyword before IN / NOT / JOIN variants — a
    distributed-subquery shipping hint; Spark's optimizer owns that
    decision."""
    sql = toks.sql
    if "GLOBAL" not in toks.marks:
        return sql
    words = toks.words()
    followers = {"IN", "NOT", "JOIN", "ANY", "ALL", "LEFT", "RIGHT", "INNER"}
    for wi in range(len(words) - 1):
        (gs, ge, gw) = words[wi]
        if gw.upper() == "GLOBAL" and words[wi + 1][2].upper() in followers:
            return _drop_global(lex(sql[:gs] + sql[words[wi + 1][0] :]))
    return sql


def _strip_trailing_clauses(toks: Tokens) -> str:
    """Drop CH execution-control tails: ``SETTINGS k=v, …`` (server
    knobs — Spark's equivalents live in the session conf) and
    ``FORMAT Name`` (a client-protocol artifact, meaningless to an
    engine API that returns DataFrames). Both may only end a query;
    anything after them in its branch is cut with them."""
    sql = toks.sql
    if "OUTFILE" not in toks.marks and not _TRAILING_CLAUSES & toks.marks:
        return sql
    words = toks.words()
    for (_ws, _we, w), (_ns, _ne, nw) in zip(words, words[1:]):
        if w.upper() == "INTO" and nw.upper() == "OUTFILE":
            raise ValueError(
                "INTO OUTFILE is a client-side write — run the "
                "statement through ddl.ChWarehouse.execute (which "
                "writes the file via sources.write_table) or write "
                "the returned DataFrame yourself"
            )
    for b in reversed(toks.clauses()):
        tail = next(
            (c for c in b.clauses if c.name in _TRAILING_CLAUSES), None
        )
        if tail is not None:
            sql = sql[: tail.start].rstrip() + sql[b.hi :]
    return sql


_TOPK_IDENT_RE = re.compile(r"\b(topKWeighted|topK)\s*\(")
_TK_KEYWORDS = {
    "AS", "CASE", "WHEN", "THEN", "ELSE", "END", "NULL", "TRUE",
    "FALSE", "AND", "OR", "NOT", "IN", "IS", "BETWEEN", "LIKE",
    "INTERVAL", "DISTINCT",
}


def _only_funcs_and_tk(expr: str) -> bool:
    """True when every bare identifier in ``expr`` is a function call,
    a keyword, or a ``__tk*`` reference — i.e. the expression needs no
    source columns beyond the substituted topK result."""
    toks = lex(expr)
    starts = toks.starts
    for k, (s, e) in enumerate(zip(starts, toks.ends)):
        if not toks.is_word(k):
            continue
        # an identifier starts at a word's first letter or '_'
        i = next(
            (x for x in range(s, e) if expr[x].isalpha() or expr[x] == "_"),
            None,
        )
        if i is None:
            continue
        tok = expr[i:e]
        is_call = k + 1 < len(starts) and expr[starts[k + 1]] == "("
        if not (
            is_call
            or tok.upper() in _TK_KEYWORDS
            or tok.startswith("__tk")
            or (i > 0 and expr[i - 1] == ".")
        ):
            return False
    return True


def _rewrite_topk_twophase(toks: Tokens) -> str:
    """Lower ``topK(k)(x)`` / ``topKWeighted(k)(x, w)`` in a plain
    ``SELECT … FROM … GROUP BY`` into a TWO-PHASE plan: count (or
    weight-sum) per (group, value) first, then collect only the
    distinct-value runs per group and join back on the group keys.

    The expression TEMPLATE materializes every raw group value through
    collect_list — fine for bounded groups, but an unbounded group is
    O(group) executor memory and composes fatally with a distinct
    aggregate's Expand plan (r14 sf30 sweep: 45M orders / ~94 months
    OOM-killed the JVM; the two-phase shape runs it in 18 s and is
    ~8× faster at sf10 too). This is also how CH keeps topK bounded —
    a SpaceSaving sketch, O(k) memory; the two-phase exact form is the
    deterministic Spark-native equivalent.

    Conservative scope — anything outside it falls back to the
    bounded-group template: single top-level SELECT (no set operation,
    DISTINCT, WITH, WINDOW, QUALIFY, ROLLUP, CUBE, TOTALS or GROUPING
    SETS), literal k, every select item explicitly aliased (or a bare
    column), topK wrappers referencing nothing but the topK value,
    ORDER BY tail (if any) referencing output aliases only, no topK
    inside HAVING.
    """
    sql = toks.sql
    if "topK" not in sql:
        return sql
    branches = toks.clauses()
    if len(branches) != 1:
        return sql
    b = branches[0]
    sel, frm, gb = b.get("SELECT"), b.get("FROM"), b.get("GROUP BY")
    if sel is None or sel.start != toks.starts[0] or frm is None or (
        gb is None or b.get("WINDOW") or b.get("QUALIFY")
    ):
        return sql
    first = toks.words_in(sel.body, sel.end)[:1]
    if first and first[0][2].upper() == "DISTINCT":
        return sql
    having = b.get("HAVING")
    tail_at = (having or gb).end
    from_where = sql[frm.start : gb.start].strip()
    group_keys_txt = sql[gb.body : gb.end].strip()
    if re.search(r"(?i)\bWITH\b|\bGROUPING\b", group_keys_txt):
        return sql
    having_txt = sql[having.start : having.end].strip() if having else ""
    if "topK" in having_txt:
        return sql
    tail_txt = sql[tail_at : b.hi].strip()
    gkeys = [g.strip() for g in lex(group_keys_txt).split() if g.strip()]
    if not gkeys:
        return sql

    # the select items: (body, alias, has_topk)
    items = [(e, a, "topK" in e) for e, a in _head_select_items(sql)[1]]
    if any(a is None for _b, a, _t in items):
        return sql
    # CH group keys may be select ALIASES (GROUP BY ym) — the counting
    # CTE and the key projections run in SOURCE scope, so resolve each
    # alias key to its item's body (bail if it aliases a topK item)
    alias_to_body = {a: b for b, a, t in items if not t}
    tk_aliases = {a for _b, a, t in items if t}
    resolved = []
    for g in gkeys:
        if g in tk_aliases:
            return sql
        resolved.append(alias_to_body.get(g, g))
    gkeys = resolved
    # ORDER BY tail must reference aliases only
    order = b.get("ORDER BY")
    if order is not None:
        aliases = {a for _b, a, _t in items}
        for part in toks.split(order.body, order.end):
            lead = re.sub(r"(?is)(\s+(ASC|DESC|NULLS\s+(FIRST|LAST)))+$",
                          "", part)
            if lead not in aliases:
                return sql

    # extract and substitute topK calls
    ctes: list[str] = []
    joins: list[str] = []
    n_tk = 0
    gproj = ", ".join(
        f"({g}) AS __tkg{j}" for j, g in enumerate(gkeys)
    )
    gnames = [f"__tkg{j}" for j in range(len(gkeys))]

    def _sub_calls(body: str):
        nonlocal n_tk
        while True:
            m = _TOPK_IDENT_RE.search(body)
            if m is None:
                return body
            fn = m.group(1)
            p_open = body.index("(", m.end() - 1)
            bt = lex(body)
            p_close = bt.close(p_open)
            inner1 = body[p_open + 1 : p_close]
            k2 = p_close + 1
            while k2 < len(body) and body[k2].isspace():
                k2 += 1
            if k2 < len(body) and body[k2] == "(":
                a_close = bt.close(k2)
                params = inner1
                args_txt = body[k2 + 1 : a_close]
                call_end = a_close + 1
            else:
                params = "10"  # CH default k
                args_txt = inner1
                call_end = p_close + 1
            kp = params.strip()
            if not kp.isdigit():
                return None
            args = [a.strip() for a in lex(args_txt).split()]
            if fn == "topK" and len(args) != 1:
                return None
            if fn == "topKWeighted" and len(args) != 2:
                return None
            i = n_tk
            n_tk += 1
            cexpr = (
                "count()" if fn == "topK"
                else f"toInt64(sum({args[1]}))"
            )
            ctes.append(
                f"__tk_c{i} AS (SELECT {gproj}, ({args[0]}) AS __v, "
                f"{cexpr} AS __c {from_where} "
                f"GROUP BY {', '.join(f'({g})' for g in gkeys)}, "
                f"({args[0]}))"
            )
            # NULL is not a rankable topK value (CH ignores NULLs):
            # filter it out AFTER groupArray but BEFORE the k-slice so
            # it can't displace real values, and so an all-NULL group
            # keeps its __tk_a row and yields [] (not a LEFT JOIN
            # miss → NULL) — r14 ADVICE finding.
            ctes.append(
                f"__tk_a{i} AS (SELECT {', '.join(gnames)}, "
                f"arrayMap(__t -> tupleElement(__t, 2), "
                f"arraySlice(arraySort(arrayFilter("
                f"__t -> tupleElement(__t, 2) IS NOT NULL, "
                f"groupArray(tuple(-toInt64(__c), __v)))), 1, {kp})) "
                f"AS __tk{i} "
                f"FROM __tk_c{i} GROUP BY {', '.join(gnames)})"
            )
            cond = " AND ".join(
                f"__tk_m.{g} <=> __tk_a{i}.{g}" for g in gnames
            )
            joins.append(f"LEFT JOIN __tk_a{i} ON {cond}")
            body = body[: m.start()] + f"__tk{i}" + body[call_end:]

    inner_items: list[str] = []
    outer_items: list[str] = []
    for body, alias, has_tk in items:
        if has_tk:
            new_body = _sub_calls(body)
            if new_body is None or not _only_funcs_and_tk(new_body):
                return sql
            outer_items.append(f"{new_body} AS {alias}")
        else:
            inner_items.append(
                body if body == alias else f"{body} AS {alias}"
            )
            outer_items.append(f"__tk_m.{alias} AS {alias}")
    if n_tk == 0:
        return sql
    inner = (
        f"__tk_m AS (SELECT {', '.join(inner_items + [gproj])} "
        f"{from_where} GROUP BY "
        f"{', '.join(f'({g})' for g in gkeys)}"
        + (f" {having_txt}" if having_txt else "")
        + ")"
    )
    return (
        "WITH " + ", ".join(ctes + [inner])
        + f" SELECT {', '.join(outer_items)} FROM __tk_m "
        + " ".join(joins)
        + (f" {tail_txt}" if tail_txt else "")
    )


_HOP_CALL_RE = re.compile(r"\b(hopStart|hopEnd|hop)\s*\(")
_HOP_CALLS = ("hopStart", "hopEnd", "hop")


def _hop_secs(arg: str, ident: str) -> int:
    toks = arg.split()
    unit = toks[2].upper().rstrip("S") if len(toks) == 3 else ""
    if (
        len(toks) != 3
        or toks[0].upper() != "INTERVAL"
        or not toks[1].isdigit()
        or unit not in _INTERVAL_SECONDS
        or unit == "WEEK"
    ):
        raise ValueError(
            f"{ident} supports INTERVAL n SECOND/MINUTE/HOUR/DAY "
            "(epoch-aligned starts, matching Spark window()), got "
            f"{arg!r}"
        )
    return int(toks[1]) * _INTERVAL_SECONDS[unit]


def _rewrite_hop(toks: Tokens) -> str:
    """CH hopping windows → Spark, both CH behaviors (r15; previously
    a loud reject):

    - ``GROUP BY hop(t, INTERVAL h, INTERVAL w)`` — the WINDOW VIEW
      form where every row belongs to ~w/h windows — maps to Spark's
      native sliding ``window(t, 'w seconds', 'h seconds')``: the
      TimeWindowing analyzer rule explodes each row into its window
      memberships before the aggregate (exactly the multi-window
      membership semantics, executed JVM-side, no UDF). Select-side
      ``hop(...)`` becomes the grouped ``window`` struct;
      ``hopStart``/``hopEnd`` become ``window.start``/``window.end``.
    - Without a hop in GROUP BY, CH documents hop() as returning the
      bounds of the FIRST window containing the row:
      start = (floor((ts - w) / h) + 1) * h, epoch-aligned; hop() is
      the (col1, col2) tuple like tumble().

    CH arg order is (time, hop_interval, window_interval); Spark's is
    (time, window_duration, slide_duration) — swapped here. Each
    branch of a set operation has its own GROUP BY, so each is
    rewritten on its own.
    """
    sql = toks.sql
    if not _HOP_CALL_RE.search(sql):
        return sql
    # recurse into parenthesized subqueries first (the GROUP BY
    # detection below is per-SELECT at paren depth 0)
    sql = toks.map_subqueries(lambda q: _rewrite_hop(lex(q)))
    if sql != toks.sql:
        toks = lex(sql)
    for b in reversed(toks.clauses()):
        sql = sql[: b.lo] + _hop_branch(toks, b) + sql[b.hi :]
    return sql


def _hop_branch(toks: Tokens, b: Branch) -> str:
    """Branch ``b`` of ``toks.sql`` with its hop calls rewritten (see
    :func:`_rewrite_hop`)."""
    sql, starts = toks.sql, toks.starts
    gb = b.get("GROUP BY")
    gb_lo, gb_hi = (gb.body, gb.end) if gb else (-1, -1)
    grouped = re.search(r"\bhop\s*\(", sql[gb_lo:gb_hi]) is not None

    # the grouped form's (hop, window) spec — select-side
    # hopStart/hopEnd must reference the SAME windows
    gspec: tuple[int, int] | None = None
    out: list[str] = []
    pos = b.lo
    for k in range(toks.at(b.lo), min(toks.at(b.hi), len(starts) - 1)):
        at = starts[k]
        ident = sql[at : toks.ends[k]]
        open_p = starts[k + 1]
        if at < pos or ident not in _HOP_CALLS or sql[open_p] != "(":
            continue
        close = toks.close(open_p)
        args = toks.split(open_p + 1, close)
        if len(args) != 3:
            raise ValueError(
                f"{ident}(time, INTERVAL hop, INTERVAL window) — "
                f"got {len(args)} args"
            )
        h = _hop_secs(args[1], ident)
        w = _hop_secs(args[2], ident)
        out.append(sql[pos:at])
        if grouped:
            if gspec is None:
                gspec = (h, w)
            elif gspec != (h, w):
                raise ValueError(
                    f"{ident}: every hop/hopStart/hopEnd in a "
                    "GROUP BY hop(…) statement must use the same "
                    f"(hop, window) intervals — got {(h, w)} vs "
                    f"{gspec}"
                )
            in_group_by = gb_lo <= at < gb_hi
            if ident == "hop" and in_group_by:
                out.append(
                    f"window({args[0]}, '{w} seconds', '{h} seconds')"
                )
            elif ident == "hop":
                out.append("window")
            elif ident == "hopStart":
                out.append("window.start")
            else:
                out.append("window.end")
        else:
            st = (
                f"(floor((unix_timestamp({args[0]}) - {w}) / {h}) + 1)"
                f" * {h}"
            )
            if ident == "hopStart":
                out.append(f"to_timestamp({st})")
            elif ident == "hopEnd":
                out.append(f"to_timestamp(({st}) + {w})")
            else:
                out.append(
                    f"struct(to_timestamp({st}) AS col1, "
                    f"to_timestamp(({st}) + {w}) AS col2)"
                )
        pos = close + 1
    return "".join(out) + sql[pos : b.hi]


def _parenthesize_branches(toks: Tokens) -> str:
    """ClickHouse applies ORDER BY, LIMIT and OFFSET to their own query
    of a set operation; Spark rejects them before a set operator. So each
    branch before a set operator that ends in one of them gets
    parentheses."""
    sql = toks.sql
    if not _SET_OPERATORS & toks.marks:
        return sql
    for b in reversed(toks.clauses()[:-1]):
        if b.clauses and _CLAUSES["ORDER BY"] <= _CLAUSES[
            b.clauses[-1].name
        ] < _CLAUSES["SETTINGS"]:
            lo = b.clauses[0].start
            sql = sql[:lo] + f"({sql[lo : b.hi]})" + sql[b.hi :]
    return sql


# Clause rewrites in the order translate runs them. Each takes the
# statement's tokens (and the context, if in _CONTEXT_PASSES) and
# returns its text, the same string when its trigger is absent.
_CLAUSE_PASSES = (
    _strip_trailing_clauses,
    _rewrite_hop,
    _rewrite_topk_twophase,
    _rewrite_moving_order,
    _rewrite_byteswap,
    _rewrite_median,
    _rewrite_subscripts,
    _rewrite_dot_index,
    _rewrite_scalar_with,
    _rewrite_column_selectors,
    _rewrite_select_replace,
    _rewrite_distinct_on,
    _rewrite_from_modifiers,
    _rewrite_asof_join,
    _rewrite_any_join,
    _rewrite_array_join,
    _rewrite_with_totals,
    _rewrite_prewhere,
    _drop_global,
    _rewrite_qualify,
    _rewrite_with_fill,
    _rewrite_offset_fetch,
    _rewrite_limit_with_ties,
    _rewrite_limit_by,
    _rewrite_limit_offset,
)
_CONTEXT_PASSES = frozenset({
    _rewrite_subscripts, _rewrite_column_selectors, _rewrite_select_replace,
    _rewrite_from_modifiers, _rewrite_asof_join, _rewrite_any_join,
})


class Call:
    """One call the walker resolves: ``name(args)``, or
    ``name(params)(args)`` when ``params`` is not None. ``args`` and
    ``params`` are translated already. ``end`` is the offset in
    ``toks.sql`` just past the call; a handler that also takes the text
    after the call (an inline ``OVER (…)``) moves it."""

    __slots__ = ("name", "args", "params", "ctx", "toks", "end")

    def __init__(self, name: str, args: list[str], ctx: QueryContext,
                 toks: Tokens, end: int):
        self.name, self.args, self.params = name, args, None
        self.ctx, self.toks, self.end = ctx, toks, end


def translate(sql: str, ctx: QueryContext = EMPTY_CONTEXT) -> str:
    """ClickHouse-dialect SQL text → Spark SQL text. The rewrites read
    what ``ctx`` knows of the statement's tables; the output names them
    as the statement does, for :func:`ch_sql` to bind.

    The statement driver: it lexes the statement once, runs the clause
    passes over it and hands the tokens to :func:`_walk`. Clause-rewrite
    order matters: a pass that wraps its branch in a subquery (QUALIFY,
    WITH FILL, WITH TIES, LIMIT BY) runs after the passes whose clauses
    it would hide at paren depth 1. Last, a branch that still ends in
    ORDER BY, LIMIT or OFFSET before a set operator gets parentheses.
    """
    toks = lex(sql.rstrip().rstrip(";"))
    for rewrite in (*_CLAUSE_PASSES, _parenthesize_branches):
        args = (toks, ctx) if rewrite in _CONTEXT_PASSES else (toks,)
        sql = rewrite(*args)
        if sql != toks.sql:
            toks = lex(sql)
    return _walk(toks, 0, len(toks.sql), ctx)


def _args(toks: Tokens, lo: int, hi: int, ctx: QueryContext) -> list[str]:
    """The translated arguments inside the paren group ``toks.sql[lo:hi]``.
    A subquery (first word SELECT or WITH) is a statement of its own and
    goes through :func:`translate`; any other argument is walked on the
    same tokens, never lexed again."""
    out = []
    for a, b in toks.spans(lo, hi):
        head = toks.sql[a : toks.ends[toks.at(a)]] if a < b else ""
        if head.upper() in _QUERY_HEADS:
            out.append(translate(toks.sql[a:b], ctx))
        else:
            out.append(_walk(toks, a, b, ctx))
    return out


def _skip_blank(sql: str, k: int, hi: int) -> int:
    while k < hi and sql[k] in " \t\n":
        k += 1
    return k


def _walk(toks: Tokens, lo: int, hi: int, ctx: QueryContext) -> str:
    """The expression walker: ``toks.sql[lo:hi]`` with ``==`` as ``=``,
    fractional and exponent literals as Spark doubles, and every call
    ``name(args)`` / ``name(params)(args)`` through :func:`_call`.
    String literals are copied verbatim."""
    sql, starts, ends = toks.sql, toks.starts, toks.ends
    out: list[str] = []
    i = lo
    tk = toks.at(lo)
    while tk < len(starts) and starts[tk] < hi:
        s, j = starts[tk], ends[tk]
        if s > i:  # (s < i: a numeric literal's exponent ended in this word)
            out.append(sql[i:s])
            i = s
        c = sql[i]
        if not (c.isalnum() or c == "_"):
            if c == "=" and sql[i + 1 : i + 2] == "=":
                out.append("=")  # CH allows ==
                j = i + 2
            else:
                out.append(sql[i:j])  # one character, or a string literal
        elif c.isdigit():
            if sql[i:j].isdigit() and sql[j : j + 1] != ".":
                out.append(sql[i:j])  # a plain integer
            else:
                text, j = _number(toks, tk, i, j, hi)
                out.append(text)
        else:
            k = _skip_blank(sql, j, hi)
            if k < hi and sql[k] == "(":
                text, j = _call(toks, sql[i:j], k, hi, ctx)
                out.append(text)
            else:
                out.append(sql[i:j])
        # past a call or a literal, go on at the token that ends after it
        tk = tk + 1 if j == ends[tk] else bisect_right(ends, j, tk)
        i = j
    out.append(sql[i:hi])
    return "".join(out)


def _number(toks: Tokens, tk: int, i: int, j: int, hi: int) -> tuple[str, int]:
    """The numeric literal that starts at offset ``i`` of word ``tk``,
    and the offset past it. CH parses 10.0 / 1e6 as Float64; Spark
    parses them as DECIMAL / double-with-decimal-division quirks — a
    different arithmetic tower (10.0/3 → DECIMAL(8,6) 3.333333 where CH
    gives 3.3333333333333335; fuzz r13 seed 5). Fractional/exponent
    literals become Spark DOUBLE literals via the D suffix. Hex and
    plain ints pass through; already-suffixed forms stay put."""
    sql = toks.sql
    tok = sql[i:j]
    if tok[:2].lower() == "0x":
        return tok, j
    if j + 1 < hi and sql[j] == "." and sql[j + 1].isdigit():
        k = toks.ends[tk + 2]  # the word after the dot
        tok, j = tok + sql[j:k], k
    if tok[-1] in "eE" and j + 1 < hi and sql[j] in "+-" and (
        sql[j + 1].isdigit()
    ):
        k = j + 1
        while k < hi and sql[k].isdigit():
            k += 1
        tok, j = tok + sql[j:k], k
    low = tok.lower()
    if ("." in tok or "e" in low) and low[-1] not in "df":
        tok += "D"
    return tok, j


def _call(toks: Tokens, name: str, k: int, hi: int,
          ctx: QueryContext) -> tuple[str, int]:
    """The Spark SQL of the call of ``name`` whose paren group opens at
    offset ``k``, and the offset past it. A second paren group right
    after is part of the call when :func:`_param_handler` claims it."""
    sql = toks.sql
    close = toks.close(k)
    c = Call(name, _args(toks, k + 1, close, ctx), ctx, toks, close + 1)
    k2 = _skip_blank(sql, close + 1, hi)
    handler = _param_handler(name) if k2 < hi and sql[k2] == "(" else None
    if handler is None:
        handler = _CALLS.get(name, _unmapped)
    else:
        close2 = toks.close(k2)
        c.params, c.args = c.args, _args(toks, k2 + 1, close2, ctx)
        c.end = close2 + 1
    return handler(c), c.end


def _param_handler(name: str):
    """The handler of ``name(params)(args)``, or None when a paren group
    after ``name(…)`` is not part of the call."""
    if name[:1].islower() and name.endswith("Resample"):
        return _resample_sql
    if name in PARAMETERIZED or (
        name.endswith("If") and name[:-2] in PARAMETERIZED
    ):
        return _parameterized
    if name[:1].islower() and name.startswith(_PARAMETRIC_FAMILIES):
        # two-paren spelling from a known parameterized-aggregate family
        # with NO mapping: reject here — passing it through emits
        # `name(p)(a)`, which Spark rejects far later with an
        # inscrutable parse error (this gap hid quantileExactLow &
        # friends until round 10)
        raise ValueError(
            f"{name}: unmapped parameterized aggregate — check the documented "
            "(params)(args) signatures of the mapped spellings, or translate "
            "the single-paren form for its specific guidance"
        )
    return None


def _parameterized(c: Call) -> str:
    """``base(params)(args)`` through ``_CALLS[base]``, else through the
    base's PARAMETERIZED template. ``baseIf(params)(args…, cond)`` takes
    every value argument through the -If wrap first."""
    if c.name not in PARAMETERIZED:
        if not c.args:
            raise ValueError(
                f"{c.name}(…)(): the -If combinator takes the condition "
                "as its last argument, and the call has no arguments"
            )
        c.name, c.args = c.name[:-2], _case_when(c.args)
    return _CALLS.get(c.name, _param_template)(c)


def _param_template(c: Call) -> str:
    mapping = {f"p{x}": p for x, p in enumerate(c.params)}
    mapping.update({f"a{x}": a for x, a in enumerate(c.args)})
    mapping["params"] = ", ".join(c.params)
    mapping["params1"] = ", ".join(c.params[1:])
    return PARAMETERIZED[c.name].format(**mapping)


def _case_when(args: list[str]) -> list[str]:
    """The -If wrap: every value argument, NULL on the rows where the
    trailing condition argument is false."""
    cond = args[-1]
    return [f"CASE WHEN {cond} THEN {a} END" for a in args[:-1]]


def _mapped(name: str, args: list[str]) -> str:
    """``name(args)`` through its TEMPLATES or RENAMES entry, else as
    written."""
    if name in TEMPLATES:
        return _tmpl_apply(name, TEMPLATES[name], args)
    return f"{RENAMES.get(name, name)}({', '.join(args)})"


def _unmapped(c: Call) -> str:
    """A call that no ``_CALLS`` entry maps at its arity: its TEMPLATES
    or RENAMES entry, else the first of ``_FAMILIES`` that claims it,
    else ``name(args)`` as written."""
    if c.name not in TEMPLATES and c.name not in RENAMES:
        for claims, handler in _FAMILIES:
            if claims(c):
                return handler(c)
    return _mapped(c.name, c.args)


def _params_only(handler):
    """``handler`` for ``name(params)(args)``; the single-paren call is
    unmapped."""
    return lambda c: _unmapped(c) if c.params is None else handler(c)


def _rejecting(msg: str):
    """A handler that rejects its call with ``msg``, ``{name}`` filled."""
    def reject(c: Call) -> str:
        raise ValueError(msg.format(name=c.name))
    return reject


def _by_name(groups) -> dict:
    """name → value from ``(value, "name name …")`` groups."""
    return {n: value for value, names in groups for n in names.split()}


# ------------------------------------------------------------ call handlers
# Each takes a Call and returns its Spark SQL. A handler that maps only
# some arities of its name passes the others to _unmapped, where the
# name would land without its _CALLS entry.


def _multi_if(c: Call) -> str:
    # variadic: c1,v1,c2,v2,...,else → CASE chain
    a = c.args
    whens = "".join(
        f" WHEN {a[x]} THEN {a[x + 1]}" for x in range(0, len(a) - 1, 2)
    )
    return f"CASE{whens} ELSE {a[-1]} END"


def _count(c: Call) -> str:
    return _unmapped(c) if c.args else "count(*)"  # CH allows bare count()


def _tuple(c: Call) -> str:
    if not c.args:
        return _unmapped(c)
    # explicit positional field names: Spark's struct() auto-names
    # LITERAL elements col1..colN but names COLUMN elements after the
    # column, so the .N → .colN accessor (and every template reaching
    # into tuples) silently broke on tuple(x, y) — pin the CH positional
    # names on every element
    return "struct(" + ", ".join(
        f"{a} AS col{x + 1}" for x, a in enumerate(c.args)
    ) + ")"


def _transform(c: Call) -> str:
    # CH's VALUE-MAPPING transform(x, [from], [to][, default]) — not
    # Spark's 2-arg array HOF, which passes through untouched. Unmatched
    # values keep x (3-arg) or take the default (4-arg), exactly CH's
    # contract.
    if len(c.args) not in (3, 4):
        return _unmapped(c)
    x, frm, to = c.args[:3]
    dflt = c.args[3] if len(c.args) == 4 else x
    return f"coalesce(element_at(map_from_arrays({frm}, {to}), {x}), {dflt})"


def _format_readable_quantity(c: Call) -> str:
    if len(c.args) != 1:
        return _unmapped(c)
    x = c.args[0]
    return (
        f"CASE WHEN abs({x}) < 1000 THEN format_string('%.2f', cast({x} as "
        f"double)) WHEN abs({x}) < 1000000 THEN concat(format_string('%.2f', "
        f"cast({x} as double) / 1000), ' thousand') WHEN abs({x}) < "
        f"1000000000 THEN concat(format_string('%.2f', cast({x} as double) / "
        f"1000000), ' million') ELSE concat(format_string('%.2f', cast({x} as "
        "double) / 1000000000), ' billion') END"
    )


def _array_reduce(c: Call) -> str:
    # literal aggregate name → the matching array fold (double
    # accumulation for sum/avg, same contract as arraySum/arrayAvg)
    if len(c.args) != 2:
        return _unmapped(c)
    agg = c.args[0].strip().strip("'\"")
    arr = c.args[1]
    folds = {
        # single-bind + saturated-zero init, same contract as the
        # rebuilt arraySum template (Int→Int64 sums, Decimal→
        # Decimal(38,s) — r13 ADVICE decimal/rebind fixes)
        "sum": (
            f"element_at(transform(array({arr}), __chas -> aggregate(__chas, "
            "coalesce(try_element_at(__chas, 1), 0) * CAST(0 AS BIGINT), "
            "(acc, x) -> acc + coalesce(x, 0))), 1)"
        ),
        "min": f"array_min({arr})",
        "max": f"array_max({arr})",
        "avg": (
            f"(aggregate({arr}, cast(0 as double), (acc, x) -> acc + x) / "
            f"size({arr}))"
        ),
        "count": f"size({arr})",
        "uniqExact": f"size(array_distinct({arr}))",
        "any": f"element_at({arr}, 1)",
    }
    if agg not in folds:
        raise ValueError(f"arrayReduce aggregate {c.args[0]} not supported")
    return folds[agg]


def _range(c: Call) -> str:
    args = c.args
    if len(args) == 3:
        # stepped form (r12): [s, s+st, … toward e), e exclusive; the
        # empty case needs an explicit guard — Spark's sequence throws
        # when (end−start) disagrees with the step sign, where CH
        # returns []. The step's SIGN picks the guard direction, so it
        # must be a literal (ADVICE r12: a negative step used to
        # silently yield [] where CH returns the descending range).
        s_, e_, st_ = args
        st_lit = st_.strip().lstrip("+")
        if not (st_lit.lstrip("-").isdigit() and int(st_lit) != 0):
            raise ValueError(
                "range(start, end, step) needs a nonzero literal integer "
                f"step, got {st_!r} — the step sign picks the emptiness guard"
            )
        if int(st_lit) > 0:
            return (
                f"(CASE WHEN ({s_}) >= ({e_}) THEN slice(sequence({s_}, "
                f"{s_}), 1, 0) ELSE sequence({s_}, ({e_}) - 1, {st_}) END)"
            )
        # descending: values > e (e exclusive) — sequence is inclusive,
        # so bound at e+1
        return (
            f"(CASE WHEN ({s_}) <= ({e_}) THEN slice(sequence({s_}, {s_}), 1, "
            f"0) ELSE sequence({s_}, ({e_}) + 1, {st_}) END)"
        )
    # CH range(n)=[0..n-1], range(s,e)=[s..e-1]; Spark's sequence() is
    # INCLUSIVE and descends when end < start, so the empty case needs
    # the slice guard; slice length is clamped at 0: a negative length
    # THROWS in Spark, while CH returns [] for range(s, e) with e < s
    if len(args) == 1:
        return (
            f"slice(sequence(0, greatest(({args[0]}) - 1, 0)), 1, greatest(0, "
            f"{args[0]}))"
        )
    if len(args) == 2:
        return (
            f"slice(sequence({args[0]}, greatest(({args[1]}) - 1, "
            f"{args[0]})), 1, greatest(0, ({args[1]}) - ({args[0]})))"
        )
    return _unmapped(c)


def _to_string(c: Call) -> str:
    # toString(dt, tz): render in the given zone — the 1-arg TEMPLATE
    # would silently DROP the tz arg (str.format ignores extras)
    if len(c.args) != 2:
        return _unmapped(c)
    return (
        f"cast(from_utc_timestamp(cast({c.args[0]} as timestamp), "
        f"{c.args[1]}) as string)"
    )


def _moving_agg(c: Call) -> str:
    if c.params is not None:
        if len(c.params) != 1:
            raise ValueError(
                f"{c.name} takes one window-size parameter: "
                f"{c.name}(n)(value, order_key)"
            )
        return _moving_agg_sql(c.name, c.params[0], c.args)
    if len(c.args) >= 2:
        return _moving_agg_sql(c.name, None, c.args)
    raise ValueError(
        f"{c.name}: CH's one-argument form is BLOCK-ORDER-dependent — order "
        "the input explicitly: FROM (… ORDER BY key) derives the key "
        f"automatically, or write {c.name}[(n)](value, order_key) with the "
        "key as the final argument"
    )


_MAP_AGGS = ("sumMap", "minMap", "maxMap", "countMap", "avgMap")


def _map_agg(c: Call) -> str:
    # sumMappedArrays et al. are CH's explicit two-array aliases — same
    # semantics, arrays-only spelling; countMap/avgMap are the generic
    # -Map combinator over count/avg (per-key size / null-safe mean).
    # -WithOverflow keeps CH's input-width accumulation (wraparound);
    # here sums still widen to 64-bit — a documented delta (no
    # wraparound), wave 6
    name, args = c.name, c.args
    if len(args) in (1, 2):
        if name.endswith("MappedArrays") and len(args) != 2:
            raise ValueError(f"{name} takes (key_arr, value_arr)")
        base = name[:-12] if name.endswith("WithOverflow") else name
        return _map_agg_sql(base, args)
    if name in _MAP_AGGS:
        raise ValueError(
            f"{name}: mapped forms are {name}(key_arr, val_arr) and "
            f"{name}(map_col) — for unbounded key domains prefer the explode "
            "+ two-level aggregation operator (queries.aggregations sumMap "
            "shape)"
        )
    return _unmapped(c)


def _map_agg_if(c: Call) -> str:
    # -Map ∘ -If: null the array args on non-matching rows (collect_list
    # drops them before the per-key reduction)
    if len(c.args) not in (2, 3):
        return _unmapped(c)
    return _map_agg_sql(c.name[:-2], [f"({w})" for w in _case_when(c.args)])


_ARG_EXTREME_BASES = ("sum", "avg", "min", "max", "count", "any")


def _arg_extreme(c: Call) -> str:
    # -ArgMin/-ArgMax combinators: the base aggregate over ONLY the rows
    # whose key equals the group's extreme key (CH docs:
    # combinators/-ArgMin) — one collected fold, key-null rows skipped
    args = c.args
    base = c.name[:-6]
    pairs = (
        f"collect_list(CASE WHEN ({args[1]}) IS NOT NULL THEN "
        f"struct(({args[1]}) AS k, ({args[0]}) AS v) END)"
    )
    ext = "array_min" if c.name.lower().endswith("argmin") else "array_max"
    vals = (
        f"transform(filter(__gp, __ge -> __ge.k <=> {ext}(transform(__gp, "
        "__gx -> __gx.k))), __ge -> __ge.v)"
    )
    nn = f"filter({vals}, __gv -> __gv IS NOT NULL)"
    red = {
        "sum": (
            f"aggregate(slice({nn}, 2, size({nn})), try_element_at({nn}, 1) + "
            "CAST(0 AS BIGINT), (__ga, __gx) -> __ga + __gx)"
        ),
        "avg": (
            f"try_divide(aggregate({nn}, cast(0.0 as double), (__ga, __gx) -> "
            f"__ga + __gx), size({nn}))"
        ),
        "min": f"array_min({nn})",
        "max": f"array_max({nn})",
        "count": f"CAST(size({nn}) AS BIGINT)",
        "any": f"try_element_at({nn}, 1)",
    }[base]
    return f"element_at(transform(array({pairs}), __gp -> {red}), 1)"


_OR_NULL_IF_BASES = ("sum", "avg", "min", "max", "count", "uniqExact", "any")


def _if_or_null(c: Call) -> str:
    # -If ∘ -OrNull in either combinator order: CASE-wrap the value
    # args, NULL on empty match (the zero-returning counters get a
    # nullif, the rest already NULL on empty)
    base = c.name[:-8]
    inner = ", ".join(_case_when(c.args))
    if base == "count":
        return f"nullif(count({inner}), 0)"
    if base == "uniqExact":
        return f"nullif(count(DISTINCT {inner}), 0)"
    if base == "any":
        return f"any_value({inner}, true)"
    return f"{base}({inner})"


_MATRIX_AGGS = {
    "corrMatrix": "corr",
    "covarSampMatrix": "covar_samp",
    "covarPopMatrix": "covar_pop",
}


def _matrix_agg(c: Call) -> str:
    # N×N aggregate matrix unrolled to the pairwise aggregates — still
    # ONE partial-agg pass (N²/2 distinct buffers; Catalyst dedupes the
    # symmetric repeats it can prove equal)
    if len(c.args) < 2:
        raise ValueError(f"{c.name} needs ≥2 columns")
    fn = _MATRIX_AGGS[c.name]
    rows = ", ".join(
        "array(" + ", ".join(f"{fn}({ai}, {aj})" for aj in c.args) + ")"
        for ai in c.args
    )
    return f"array({rows})"


def _group_array_last(c: Call) -> str:
    # groupArrayLast(n)(x, key[, asc]) — round 12, the ordered-key
    # precedent (CH's bare form is INSERTION-order dependent): last n
    # values in key order, returned in that order. NULL x or key
    # skipped, like any CH aggregate.
    if c.params is None:
        raise ValueError(
            "groupArrayLast: CH's key-less form is INSERTION-order dependent "
            "(block-order, like groupArrayMoving*) — write the ordered-key "
            "spelling groupArrayLast(n)(value, order_key[, asc]) (r12), or "
            "groupArraySorted(n)(x)"
        )
    params, args2 = c.params, c.args
    if len(params) != 1:
        raise ValueError(
            "groupArrayLast takes one max-size parameter: "
            "groupArrayLast(n)(value, order_key[, asc])"
        )
    if len(args2) not in (2, 3):
        raise ValueError(
            "groupArrayLast needs an explicit ordering key: "
            "groupArrayLast(n)(value, order_key[, asc]) — CH's key-less form "
            "is INSERTION-order dependent (block order)"
        )
    gl_n, gl_v, gl_k = params[0], args2[0], args2[1]
    asc = args2[2] if len(args2) == 3 else "true"
    try:
        if int(gl_n) <= 0:
            raise ValueError("groupArrayLast: max size must be positive")
    except (TypeError, ValueError) as e:
        if "max size" in str(e):
            raise
    coll = (
        f"sort_array(collect_list(CASE WHEN ({gl_v}) IS NOT NULL AND ({gl_k}) "
        f"IS NOT NULL THEN struct(({gl_k}) AS k, ({gl_v}) AS v) END), {asc})"
    )
    return (
        f"element_at(transform(array({coll}), __gl -> transform(slice(__gl, "
        f"CASE WHEN size(__gl) > ({gl_n}) THEN size(__gl) - ({gl_n}) + 1 ELSE "
        f"1 END, ({gl_n})), __ge -> __ge.v)), 1)"
    )


def _time_decayed(c: Call) -> str:
    if c.params is None:
        raise ValueError(
            f"{c.name} REQUIRES the parameterized form "
            f"{c.name}(decay_length)(value, time) — mapped as the GROUP-BY "
            "decayed fold (r12); the per-row WINDOW form stays with "
            "operators.ema.exponential_time_decayed"
        )
    if len(c.params) != 1:
        raise ValueError(f"{c.name}(decay_length)(…) takes one parameter")
    return _etd_sql(c.name, c.params[0], c.args)


def _seq_next_node(c: Call) -> str:
    if c.params is None:
        raise ValueError(
            "sequenceNextNode REQUIRES the parameterized form: "
            "sequenceNextNode(direction, base)(timestamp, value, "
            "base_condition, event1[, event2, …])"
        )
    return _seq_next_node_sql(c.params, c.args)


def _sparkbar(c: Call) -> str:
    params, args2 = c.params, c.args
    if params is None:
        raise ValueError(
            "sparkbar: use the parameterized form sparkbar(width[, min_x, "
            "max_x])(x, y)"
        )
    if len(params) not in (1, 3) or len(args2) != 2:
        raise ValueError(
            "sparkbar needs (width[, min_x, max_x])(x, y); x and the bounds "
            "must be numeric (for Dates use toUnixTimestamp)"
        )
    bounds = (
        f"CAST({params[1]} AS DOUBLE), CAST({params[2]} AS DOUBLE)"
        if len(params) == 3
        else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
    )
    return (
        f"__ch_sparkbar(CAST({args2[0]} AS DOUBLE), CAST({args2[1]} AS "
        f"DOUBLE), {params[0]}, {bounds})"
    )


def _ttest(c: Call) -> str:
    if len(c.args) != 2:
        raise ValueError(
            f"{c.name} needs (sample, index); the parameterized "
            f"confidence-interval form {c.name}(cl)(x, i) is unsupported"
        )
    return _ttest_sql(c.name, c.args[0], c.args[1])


def _stats_arity(c: Call) -> ValueError:
    return ValueError(
        f"{c.name}: wrong arity {len(c.args)} — see the mapped signatures "
        "(mannWhitneyUTest(x, idx), assoc(x, y), proportionsZTest(sx, sy, tx, "
        "ty, conf, pool), minSampleSizeConversion(base, mde, power, alpha), "
        "minSampleSizeContinuous(base, sigma, mde, power, alpha))"
    )


def _mann_whitney(c: Call) -> str:
    if c.params is not None:
        return _mwu_sql(c.params, c.args)
    if len(c.args) == 2:
        # bare (no-parameter) spelling: defaults 'two-sided', continuity on
        return _mwu_sql([], c.args)
    raise _stats_arity(c)


def _mean_ztest(c: Call) -> str:
    if c.params is None:
        raise _stats_arity(c)
    if len(c.params) != 3 or len(c.args) != 2:
        raise ValueError(
            "meanZTest needs (pop_var_x, pop_var_y, conf_level)(sample, index)"
        )
    return _mean_ztest_sql(*c.params, *c.args)


_ASSOC_KINDS = {
    "cramersV": 0, "cramersVBiasCorrected": 1, "theilsU": 2,
    "contingency": 3,
}


def _assoc(c: Call) -> str:
    # categorical association via the grouped-agg Python kernel
    # (functions/stats.py); values compared as strings (CH hashes the
    # raw values — same equivalence classes for categorical data)
    if len(c.args) != 2:
        raise _stats_arity(c)
    return (
        f"__ch_assoc(CAST({c.args[0]} AS STRING), CAST({c.args[1]} AS "
        f"STRING), {_ASSOC_KINDS[c.name]})"
    )


def _proportions_ztest(c: Call) -> str:
    if len(c.args) != 6:
        raise _stats_arity(c)
    return _proportions_ztest_sql(*c.args)


def _min_sample_size(c: Call) -> str:
    # CH ships the misspelled minSampleSizeContinous alias too
    conversion = c.name == "minSampleSizeConversion"
    if len(c.args) != (4 if conversion else 5):
        raise _stats_arity(c)
    kind = c.name if conversion else "minSampleSizeContinuous"
    return _min_sample_size_sql(kind, c.args)


def _civ(c: Call) -> str:
    # single-category IV via the grouped Python kernel
    # (functions/aggkernels.py); returns a 1-element array matching CH's
    # Array shape
    if len(c.args) != 2:
        raise ValueError(
            "categoricalInformationValue: only the single-category form (cat, "
            "tag) is mapped — call once per category column for the "
            "multi-category spelling"
        )
    return (
        f"__ch_civ(CAST({c.args[0]} AS STRING), CAST({c.args[1]} AS INT))"
    )


def _lttb(c: Call) -> str:
    if c.params is None:
        raise ValueError(
            f"{c.name}: use the parameterized form {c.name}(n)(x, y)"
        )
    if len(c.params) != 1 or len(c.args) != 2:
        raise ValueError("largestTriangleThreeBuckets needs (n)(x, y)")
    return (
        f"__ch_lttb(CAST({c.args[0]} AS DOUBLE), CAST({c.args[1]} AS DOUBLE), "
        f"{c.params[0]})"
    )


def _quantile_gk(c: Call) -> str:
    """quantileGK / quantilesGK / quantileDD: the parameterized forms
    with CH's defaults filled in; bare quantileGK(x) is the median."""
    if c.params is None:
        if c.name == "quantileGK" and len(c.args) == 1:
            # bare single-paren spelling: all defaults (accuracy 10000,
            # level 0.5 — the median)
            return f"percentile_approx({c.args[0]}, 0.5, 10000)"
        if c.name == "quantileDD":
            raise ValueError(
                "quantileDD needs the relative accuracy: quantileDD(rel_acc[, "
                "level])(x)"
            )
        raise ValueError(
            f"{c.name}: use the parameterized form {c.name}(accuracy[, "
            "level…])(x) — or quantileGK(x) for all defaults"
        )
    if not c.params:
        if c.name == "quantileDD":
            raise ValueError(
                "quantileDD needs the relative accuracy: quantileDD(rel_acc[, "
                "level])(x)"
            )
        # CH default accuracy (same as Spark's percentile_approx default)
        c.params = ["10000"]
    if len(c.params) == 1:
        if c.name == "quantilesGK":
            raise ValueError(
                "quantilesGK needs explicit levels: quantilesGK(accuracy, "
                "l1[, l2, …])(x)"
            )
        c.params = c.params + ["0.5"]  # CH level default
    return _param_template(c)


_MEDIAN_LEVEL_EXACT = ("quantileExact", "quantileExactLow",
                       "quantileExactHigh")


def _exact_quantile(c: Call) -> str:
    if c.params is not None:
        return _exact_quantile_sql(c.name, c.params, c.args)
    if c.name in _MEDIAN_LEVEL_EXACT and len(c.args) == 1:
        # single-paren exact quantiles default to the median level (r12
        # — the median* alias rewrite lands here for medianExactLow/High)
        return _exact_quantile_sql(c.name, ["0.5"], c.args)
    return _unmapped(c)


def _quantile_level(c: Call) -> str:
    # single-paren spelling of a template-mapped quantile: CH defaults
    # the level to 0.5 (r12 — the median* alias rewrite lands here too)
    c.params = ["0.5"]
    return _param_template(c)


def _geo_arity(c: Call) -> ValueError:
    # wrong arity must stay a LOUD translate-time reject, not a silent
    # passthrough that fails (or mis-binds) later at Spark analysis
    return ValueError(
        f"{c.name}: unsupported arity {len(c.args)} — mapped forms are "
        "geohashEncode(lon, lat[, precision]), geohashDecode(s), and the "
        "single-ring pointInPolygon((x, y), ring); multi-ring "
        "polygons-with-holes need a geo library UDF"
    )


def _geohash_encode(c: Call) -> str:
    if len(c.args) not in (2, 3):
        raise _geo_arity(c)
    prec = 12  # CH default
    if len(c.args) == 3:
        try:
            prec = int(c.args[2])
        except ValueError:
            raise ValueError(
                "geohashEncode precision must be a literal integer (the bit "
                "layout unrolls at translate time)"
            ) from None
    return _geohash_encode_sql(c.args[0], c.args[1], prec)


def _geohash_decode(c: Call) -> str:
    if len(c.args) != 1:
        raise _geo_arity(c)
    return _geohash_decode_sql(c.args[0])


def _point_in_polygon(c: Call) -> str:
    if len(c.args) != 2:
        raise _geo_arity(c)
    return _point_in_polygon_sql(c.args[0], c.args[1])


_GEO_COVERING = (
    "{name}: geohashesInBox(lon_min, lat_min, lon_max, lat_max, "
    "literal_precision) is the mapped form; H3/S2 coverings need a geo "
    "library UDF"
)


def _geohashes_in_box(c: Call) -> str:
    if len(c.args) != 5:
        raise ValueError(_GEO_COVERING.format(name=c.name))
    try:
        prec = int(c.args[4])
    except ValueError:
        raise ValueError(
            "geohashesInBox precision must be a literal integer (the cell "
            "math unrolls at translate time)"
        ) from None
    return _geohashes_in_box_sql(*c.args[:4], prec)


_TUPLE_OPS = {
    "tuplePlus": "+", "vectorSum": "+",
    "tupleMinus": "-", "vectorDifference": "-",
    "tupleMultiply": "*", "tupleDivide": "/",
    "tupleIntDiv": "DIV", "tupleModulo": "%",
}


def _tuple_arith(c: Call) -> str:
    # field-wise tuple arithmetic: the arity comes from an INLINE tuple
    # literal on either side (the engine's struct(col1..colN) convention
    # names the other side's fields)
    if len(c.args) != 2:
        return _unmapped(c)
    ca = _tuple_components(c.args[0])
    cb = _tuple_components(c.args[1])
    n_fields = len(ca or cb or ())
    if not n_fields:
        raise ValueError(
            f"{c.name}: tuple arity is resolved from an inline tuple literal "
            "on at least one side — tuple(…)/(…, …) — or spell the fields out "
            "(t.col1 + u.col1, …)"
        )
    if ca and cb and len(ca) != len(cb):
        raise ValueError(
            f"{c.name}: tuple sizes differ ({len(ca)} vs {len(cb)})"
        )
    op = _TUPLE_OPS[c.name]
    lhs = ca or [f"({c.args[0]}).col{x + 1}" for x in range(n_fields)]
    rhs = cb or [f"({c.args[1]}).col{x + 1}" for x in range(n_fields)]
    return "struct(" + ", ".join(
        f"(({a}) {op} ({b})) AS col{x + 1}"
        for x, (a, b) in enumerate(zip(lhs, rhs))
    ) + ")"


_TUPLE_SCALAR_OPS = {
    "tupleMultiplyByNumber": "*", "tupleDivideByNumber": "/",
    "tupleIntDivByNumber": "DIV", "tupleModuloByNumber": "%",
}


def _tuple_scalar(c: Call) -> str:
    if len(c.args) not in (1, 2):
        return _unmapped(c)
    ca = _tuple_components(c.args[0])
    if not ca:
        raise ValueError(
            f"{c.name}: tuple arity is resolved from an inline tuple literal "
            "— tuple(…)/(…, …) — or spell the fields out"
        )
    if c.name == "tupleNegate":
        comps = [f"(-({a}))" for a in ca]
    else:
        op = _TUPLE_SCALAR_OPS[c.name]
        comps = [f"(({a}) {op} ({c.args[1]}))" for a in ca]
    return "struct(" + ", ".join(
        f"{x} AS col{k + 1}" for k, x in enumerate(comps)
    ) + ")"


def _to_year_week(c: Call) -> str:
    # year*100 + week under toWeek's mode semantics (MySQL YEARWEEK):
    # mode 0 (default) shifts week-0 days into the PREVIOUS year's last
    # week; modes 1/3 are ISO year·100 + ISO week
    if len(c.args) not in (1, 2):
        return _unmapped(c)
    t = c.args[0]
    mode = c.args[1].strip() if len(c.args) == 2 else "0"
    if mode in ("1", "3"):
        return f"(extract(YEAROFWEEK FROM {t}) * 100 + weekofyear({t}))"
    if mode != "0":
        raise ValueError(
            f"toYearWeek mode {mode} not supported (0, 1, 3 — the toWeek "
            "modes)"
        )

    def wk0(d: str) -> str:
        off = f"pmod(8 - dayofweek(date_trunc('YEAR', {d})), 7)"
        return f"((dayofyear({d}) - {off} + 6) div 7)"

    prev = f"date_sub(date_trunc('YEAR', {t}), 1)"
    return (
        f"(CASE WHEN {wk0(t)} = 0 THEN (year({t}) - 1) * 100 + {wk0(prev)} "
        f"ELSE year({t}) * 100 + {wk0(t)} END)"
    )


def _multi_fuzzy_match(c: Call) -> str:
    # r13: LITERAL-pattern tier — Sellers approximate substring matching
    # (strkernels.fuzzy_match_indices): a pattern matches when some
    # substring of the haystack is within edit distance d. CH runs
    # hyperscan fuzzy REGEX matching; regex metacharacters in a pattern
    # therefore reject toward multiMatchAny. Codepoint distances = the
    # UTF8 variants' semantics (byte variants coincide on ASCII, same
    # note as levenshteinDistanceUTF8).
    name, args = c.name, c.args
    if len(args) != 3:
        return _unmapped(c)
    pats = args[2].strip()
    if not (pats.lower().startswith("array(") and pats.endswith(")")):
        raise ValueError(
            f"{name}: needs a literal pattern array (['p1', 'p2', …])"
        )
    metas = set(".^$*+?()[]{}|\\")
    for p_ in lex(pats[6:-1]).split():
        p_ = p_.strip()
        if not is_quoted(p_):
            raise ValueError(
                f"{name}: every pattern must be a string literal"
            )
        if set(p_[1:-1]) & metas:
            raise ValueError(
                f"{name}: pattern {p_} contains regex metacharacters — the "
                "fuzzy tier here matches LITERAL patterns (Sellers DP); for "
                "plain regex use multiMatchAny (mapped)"
            )
    idx = f"__ch_fuzzy_indices({args[0]}, {args[1]}, {pats})"
    base = name[:-4] if name.endswith("UTF8") else name
    if base == "multiFuzzyMatchAny":
        return f"(size({idx}) > 0)"  # boolean like the multiMatchAny mapping
    if base == "multiFuzzyMatchAnyIndex":
        # CH returns SOME matching index (hyperscan order is
        # unspecified) — the lowest is the deterministic choice; 0 when
        # none match. concat(…, array(0)) keeps NULL→NULL while
        # supplying the empty-match 0 in ONE kernel evaluation.
        return f"try_element_at(concat({idx}, array(0)), 1)"
    return idx


def _extract_all_groups(c: Call) -> str:
    # static-group-count unroll (the extractGroups precedent):
    # Horizontal = one array per GROUP across all matches
    # (regexp_extract_all per group); Vertical (= bare extractAllGroups)
    # = one array per MATCH, transposed from the same columns. Literal
    # pattern required — the group count is the unroll bound.
    if len(c.args) != 2:
        return _unmapped(c)
    pat = c.args[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ValueError(
            f"{c.name} needs a literal pattern (group count is static)"
        )
    ng = _regex_capture_groups(pat[1:-1])
    if ng == 0:
        raise ValueError(f"{c.name}: pattern has no capture groups")
    cols = ", ".join(
        f"regexp_extract_all({c.args[0]}, {pat}, {g})"
        for g in range(1, ng + 1)
    )
    if c.name == "extractAllGroupsHorizontal":
        return f"array({cols})"
    # transpose; sequence(1,0) runs BACKWARDS on zero matches, hence the
    # size guard (slice gives the typed empty array<array<string>>)
    row = ", ".join(
        f"element_at(element_at(__eg, {g}), __ei)" for g in range(1, ng + 1)
    )
    return (
        f"element_at(transform(array(array({cols})), __eg -> CASE WHEN "
        "size(element_at(__eg, 1)) = 0 THEN slice(__eg, 1, 0) ELSE "
        "transform(sequence(1, size(element_at(__eg, 1))), __ei -> "
        f"array({row})) END), 1)"
    )


_NO_STATIC_REWRITE = (
    "{name}: no faithful static rewrite — for map lambdas use "
    "transform_keys/transform_values (Spark natives); ranked/Gini forms need "
    "a pandas kernel"
)


def _map_apply(c: Call) -> str:
    # mapApply((k, v) -> (k', v'), m) — the lambda returns a TUPLE,
    # which Spark spells struct(); zip_with over (keys, values) binds
    # the SAME two lambda variables, so params pass through intact
    if len(c.args) != 2:
        raise ValueError(_NO_STATIC_REWRITE.format(name=c.name))
    lam, m = c.args
    depth, pos = 0, -1
    for li in range(len(lam) - 1):
        ch = lam[li]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and lam[li : li + 2] == "->":
            pos = li
            break
    if pos < 0:
        raise ValueError(
            "mapApply: first argument must be a lambda ((k, v) -> (k2, v2))"
        )
    head = lam[:pos].strip()
    body = lam[pos + 2 :].strip()
    if not (body.startswith("(") and body.endswith(")")):
        raise ValueError(
            "mapApply: the lambda must return a (key, value) TUPLE literal"
        )
    parts = lex(body[1:-1]).split()
    if len(parts) != 2:
        raise ValueError(
            "mapApply: the lambda tuple must have exactly 2 elements, got "
            f"{len(parts)}"
        )
    hp = head[1:-1] if head.startswith("(") and head.endswith(")") else head
    if len([p for p in hp.split(",") if p.strip()]) != 2:
        raise ValueError("mapApply: the lambda takes exactly (key, value)")
    return (
        f"map_from_entries(zip_with(map_keys({m}), map_values({m}), ({hp}) -> "
        f"struct({parts[0].strip()}, {parts[1].strip()})))"
    )


# round 12: English via the Porter 1980 kernel (strkernels.porter_stem —
# the algorithm Snowball 'porter' implements; Snowball's revised
# 'english' differs on a few suffix rules, documented there). round 13:
# French/German/Spanish/Russian via the published Snowball rule sets
# (functions/snowball.py — suffix tables only, no data files). The
# kernel stems each whitespace token, so both the single-word CH call
# shape and sentence normalization work.
_STEM_KERNELS = {
    "en": "__ch_stem", "english": "__ch_stem", "porter": "__ch_stem",
    "fr": "__ch_stem_fr", "french": "__ch_stem_fr",
    "de": "__ch_stem_de", "german": "__ch_stem_de",
    "es": "__ch_stem_es", "spanish": "__ch_stem_es",
    "ru": "__ch_stem_ru", "russian": "__ch_stem_ru",
    "pt": "__ch_stem_pt", "portuguese": "__ch_stem_pt",
    "it": "__ch_stem_it", "italian": "__ch_stem_it",
    # round 14: Scandinavian set + Dutch
    "sv": "__ch_stem_sv", "swedish": "__ch_stem_sv",
    "no": "__ch_stem_no", "norwegian": "__ch_stem_no",
    "da": "__ch_stem_da", "danish": "__ch_stem_da",
    "nl": "__ch_stem_nl", "dutch": "__ch_stem_nl",
    # round 15: Finnish (published two-level algorithm; gradation via
    # step 6(e) only, exactly as libstemmer does)
    "fi": "__ch_stem_fi", "finnish": "__ch_stem_fi",
}


def _stem(c: Call) -> str:
    if len(c.args) != 2:
        raise ValueError("stem(language, string)")
    lang = c.args[0].strip().strip("'\"").lower()
    if lang not in _STEM_KERNELS:
        raise ValueError(
            f"stem({c.args[0]}, …): implemented languages are en (Porter "
            "1980), fr, de, es, ru, pt, it, sv, no, da, nl, fi (Snowball rule "
            "sets) — the rest are not shipped"
        )
    return f"{_STEM_KERNELS[lang]}({c.args[1]})"


def _array_split(c: Call) -> str:
    if len(c.args) < 2:
        raise ValueError(f"{c.name}: needs (lambda, arr1[, arr2 …])")
    return _array_split_sql(
        c.name == "arrayReverseSplit", c.args[0], c.args[1:]
    )


_JSON_KV_TYPES = {"String": "string", "Int64": "bigint", "UInt64": "bigint",
                  "Float64": "double", "Bool": "boolean"}


def _json_keys_and_values(c: Call) -> str:
    vt = c.args[-1].strip().strip("'\"")
    if len(c.args) != 2 or vt not in _JSON_KV_TYPES:
        raise ValueError(
            "JSONExtractKeysAndValues supports the (json, 'ScalarType') form "
            "only"
        )
    return (
        f"map_entries(from_json({c.args[0]}, "
        f"'map<string,{_JSON_KV_TYPES[vt]}>'))"
    )


def _xxhash(c: Call) -> str:
    # NOT bit-compatible with CH (different algorithm/seed); the dominant
    # uses — sampling buckets, shuffling, grouping — need a stable
    # uniform hash, which xxhash64 is. Comparing against CH-computed
    # literals will NOT match; hash-value parity is not achievable
    # cross-engine here.
    return f"xxhash64({', '.join(c.args)})"


def _make_datetime64(c: Call) -> str:
    # r12: make_timestamp takes fractional seconds, so the 7-arg fraction
    # form folds in as sec + fraction/10^precision (precision literal,
    # CH default 3)
    args = c.args
    if len(args) not in (6, 7, 8):
        return _unmapped(c)
    if len(args) == 6:
        return f"make_timestamp({', '.join(args)})"
    prec = args[7] if len(args) == 8 else "3"
    try:
        scale = 10 ** int(prec)
    except ValueError:
        raise ValueError(
            "makeDateTime64: precision must be a literal integer"
        ) from None
    sec = (
        f"(CAST({args[5]} AS DOUBLE) + CAST({args[6]} AS DOUBLE) / {scale})"
    )
    return "make_timestamp(" + ", ".join(args[:5]) + f", {sec})"


def _byte_swap(c: Call) -> str:
    # renamed by _rewrite_byteswap: the inner typed cast told us the
    # width and signedness
    if len(c.args) != 1:
        return _unmapped(c)
    return _byteswap_sql(int(c.name[11:]), c.args[0], signed=c.name[10] == "s")


def _round_bankers(c: Call) -> str:
    # banker's rounding → Spark bround (HALF_EVEN)
    if len(c.args) not in (1, 2):
        return _unmapped(c)
    return f"bround({', '.join(c.args)})"


def _split_by_string(c: Call) -> str:
    # CH splitByString(sep, s) splits on a LITERAL separator; Spark's
    # split takes a REGEX — quote every metachar. Decidable only for
    # literal separators.
    if len(c.args) != 2:
        return _unmapped(c)
    sep = c.args[0].strip()
    if not (sep.startswith("'") and sep.endswith("'")):
        raise ValueError(
            "splitByString needs a literal separator (Spark's split is "
            "regex-based; a dynamic separator cannot be safely quoted)"
        )
    quoted = re.sub(r"([.*+?^${}()|\[\]\\])", r"\\\1", sep[1:-1])
    # and re-escape backslashes for the SQL literal
    quoted = quoted.replace("\\", "\\\\").replace("'", "''")
    return f"split({c.args[1].strip()}, '{quoted}')"


_DATE_NAME_PARTS = {
    "year": "cast(year({0}) as string)",
    "quarter": "cast(quarter({0}) as string)",
    "month": "date_format({0}, 'MMMM')",
    "week": "cast(weekofyear({0}) as string)",
    "dayofyear": "cast(dayofyear({0}) as string)",
    "day": "cast(day({0}) as string)",
    "weekday": "date_format({0}, 'EEEE')",
    "hour": "cast(hour({0}) as string)",
    "minute": "cast(minute({0}) as string)",
    "second": "cast(second({0}) as string)",
}


def _date_name(c: Call) -> str:
    # dateName('part', t) → string name/number of the part (literal part
    # only)
    if len(c.args) != 2:
        return _unmapped(c)
    part = c.args[0].strip().strip("'\"").lower()
    if part not in _DATE_NAME_PARTS:
        raise ValueError(f"dateName part {c.args[0]} not supported")
    return _DATE_NAME_PARTS[part].format(c.args[1])


def _sum_map_filtered(c: Call) -> str:
    # restrict the pairs to the parameter key list BEFORE the sumMap
    # reduction (positional k/v alignment kept by filtering zipped
    # structs); wave 6: -WithOverflow is the same keys-restricted
    # reduction, the 64-bit-widened sum a documented delta (no
    # wraparound)
    if len(c.params) != 1 or len(c.args) != 2:
        raise ValueError(
            "sumMapFiltered needs (keys_array)(key_arr, value_arr)"
        )
    pairs = (
        f"filter(zip_with({c.args[0]}, {c.args[1]}, (__fk, __fv) -> "
        "struct(__fk AS k, __fv AS v)), __fp -> "
        f"array_contains({c.params[0]}, __fp.k))"
    )
    return _map_agg_sql("sumMap", [
        f"transform({pairs}, __fp -> __fp.k)",
        f"transform({pairs}, __fp -> __fp.v)",
    ])


def _uniq_combined(c: Call) -> str:
    # HLL precision → approx_count_distinct's relative-SD knob (rsd ≈
    # 1.04/√2^p), computed HERE because Spark demands a literal rsd
    if len(c.params) != 1 or len(c.args) != 1:
        raise ValueError(f"{c.name}(precision)(x) is the parameterized form")
    try:
        prec_v = int(c.params[0])
    except ValueError:
        raise ValueError(
            f"{c.name} precision must be a literal integer (it becomes the "
            "sketch's literal accuracy knob)"
        ) from None
    rsd = max(0.01, min(0.36, 1.04 / (2.0 ** (prec_v / 2))))
    return f"approx_count_distinct({c.args[0]}, {rsd!r})"


def _sequence_match_events(c: Call) -> str:
    raise ValueError(
        "sequenceMatchEvents: returns the matched events' timestamps, which "
        "the scalar fold cannot carry — use operators.funnel.sequence_match "
        "(the complete pattern engine); sequenceMatch/sequenceCount ARE mapped"
    )


_UNSIGNED_MAX = {"UInt8": "255", "UInt16": "65535", "UInt32": "4294967295",
                 "UInt64": None}
_ZERO_OF = {
    "string": "''",
    "date": "DATE'1970-01-01'",
    "timestamp": "TIMESTAMP'1970-01-01 00:00:00'",
    "boolean": "false",
}


def _cast_variant(c: Call) -> str:
    """``to<Type>OrNull|OrZero|OrDefault`` and ``accurateCast*``: CH's
    cast-variant contract. OrNull → NULL on failure; OrZero → the type
    default; OrDefault → the caller's fallback; accurateCast → THROWS on
    lossy (raise_error branch — a bare non-ANSI cast would silently
    null). "Failure" includes UNSIGNED RANGE (UInt8 caps at 255 — the
    widened signed Spark type would happily hold 300) and, for
    accurateCast, FRACTION LOSS (double-round-trip inequality); surplus
    args (e.g. a timezone) reject rather than silently drop."""
    name, args = c.name, c.args
    if name.startswith("accurateCast"):
        want_n = 3 if name.endswith("OrDefault") else 2
        if len(args) != want_n:
            raise ValueError(
                f"{name} expects {want_n} args (x, 'Type'"
                + (", default)" if want_n == 3 else ")")
            )
        base = args[1].strip().strip("'\"")
        sp = CH_SCALAR_SPARK.get(base)
        if sp is None:
            raise ValueError(f"{name} type {base!r} not supported")
        suffix = (
            "Null" if name.endswith("OrNull")
            else "Default" if name.endswith("OrDefault")
            else "THROW"
        )
        extra = args[2:]
    else:
        cut = name.rindex("Or")
        base, suffix = name[2:cut], name[cut + 2 :]
        dm = re.fullmatch(r"Decimal(32|64|128)", base)
        if dm:
            prec = {"32": 9, "64": 18, "128": 38}[dm.group(1)]
            if len(args) < 2:
                raise ValueError(f"{name} needs a scale argument")
            sp = f"decimal({prec},{args[1].strip()})"
            extra = args[2:]
        else:
            sp = CH_SCALAR_SPARK.get(base)
            extra = args[1:]
        if sp is None:
            raise ValueError(f"{name}: no mapping for base type {base!r}")
    x = args[0]
    if len(extra) != (1 if suffix == "Default" else 0):
        raise ValueError(
            f"{name}: unexpected extra argument(s) — an optional "
            "timezone/precision cannot be honored here, raising instead of "
            "silently dropping it"
        )
    tc = f"try_cast({x} as {sp})"
    if base in _UNSIGNED_MAX:
        # out-of-range for the UNSIGNED CH type is a cast failure even
        # though the widened signed Spark type holds the value
        lo = f"try_cast({x} as double) < 0"
        hi = (
            f" OR try_cast({x} as double) > {_UNSIGNED_MAX[base]}"
            if _UNSIGNED_MAX[base]
            else ""
        )
        tc = f"(CASE WHEN {lo}{hi} THEN NULL ELSE {tc} END)"
    if suffix == "Null":
        return tc
    if suffix == "Zero":
        return f"coalesce({tc}, {_ZERO_OF.get(sp, f'cast(0 as {sp})')})"
    if suffix == "Default":
        return f"coalesce({tc}, cast({extra[0]} as {sp}))"
    # THROW (accurateCast)
    fails = [f"({tc} IS NULL AND ({x}) IS NOT NULL)"]
    if sp in ("tinyint", "smallint", "int", "bigint", "decimal(38,0)"):
        # fraction loss: 1.5 → Int32 must THROW (ANSI cast truncates
        # silently)
        fails.append(
            f"(try_cast({x} as double) IS NOT NULL AND cast({tc} as double) "
            f"!= try_cast({x} as double))"
        )
    return (
        f"(CASE WHEN {' OR '.join(fails)} THEN "
        f"cast(raise_error('accurateCast: value does not fit {base}') as "
        f"{sp}) ELSE {tc} END)"
    )


def _to_week(c: Call) -> str:
    # CH toWeek default mode 0: Sunday-first weeks, week 0 for days
    # before the year's first Sunday (MySQL WEEK(d, 0)); modes 1/3 are
    # the ISO week → weekofyear. Other modes rejected loudly.
    if len(c.args) not in (1, 2):
        return _unmapped(c)
    t = c.args[0]
    mode = c.args[1].strip() if len(c.args) == 2 else "0"
    if mode == "0":
        off = f"pmod(8 - dayofweek(date_trunc('YEAR', {t})), 7)"
        return f"((dayofyear({t}) - {off} + 6) div 7)"
    if mode in ("1", "3"):
        return f"weekofyear({t})"
    raise ValueError(f"toWeek mode {mode} not supported (0, 1, 3)")


def _numbers(c: Call) -> str:
    # CH table function FROM numbers(n) / numbers(offset, n) → Spark's
    # range() TVF, aliased to CH's column name `number`. Emitted as a
    # subquery so it works in any FROM/JOIN position.
    args = c.args
    if len(args) == 1:
        return f"(SELECT id AS number FROM range({args[0]}))"
    if len(args) == 2:
        return (
            f"(SELECT id AS number FROM range({args[0]}, ({args[0]}) + "
            f"({args[1]})))"
        )
    return _unmapped(c)


def _full_frame_over(c: Call, fn: str) -> str | None:
    """If an inline ``OVER (spec)`` follows the call, the translated spec
    with any FULL frame clause removed, and ``c.end`` moves past it;
    None when no inline OVER follows (named-window references pass
    through untouched).

    Used by the lag/lead-family translations: Spark's offset window
    functions REJECT explicit frames, and their semantics equal the CH
    *InFrame functions' only under the default frame or the full
    ``ROWS/RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING``
    idiom — a NARROW frame changes boundary-row results and is rejected
    loudly rather than silently diverging."""
    toks = c.toks
    sql = toks.sql
    n = len(sql)
    k2 = _skip_blank(sql, c.end, n)
    k3 = _skip_blank(sql, k2 + 4, n)
    if not (sql[k2 : k2 + 4].upper() == "OVER" and k3 < n and sql[k3] == "("):
        return None
    oc = toks.close(k3)
    hi = oc
    depth = toks.depths[toks.at(k3)] + 1
    for k in range(toks.at(k3 + 1), toks.at(oc)):
        if toks.depths[k] == depth and toks.is_word(k) and (
            sql[toks.starts[k] : toks.ends[k]].upper() in ("ROWS", "RANGE")
        ):
            hi = toks.starts[k]
            frame = " ".join(sql[hi:oc].upper().split())
            if frame not in (
                "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
                "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
            ):
                raise ValueError(
                    f"{c.name} with a narrow frame ({sql[hi:oc].strip()}) has "
                    f"boundary semantics Spark's {fn} cannot express"
                )
            break
    c.end = oc + 1
    spec = sql[k3 + 1 : hi].rstrip().rstrip(";")
    return _walk(toks, k3 + 1, k3 + 1 + len(spec), c.ctx)


def _lag_in_frame(c: Call) -> str:
    # CH's frame-respecting lag/lead → Spark lag/lead; full-frame idiom
    # consumed, narrow frames rejected (see _full_frame_over)
    fn = "lag" if c.name == "lagInFrame" else "lead"
    spec = _full_frame_over(c, fn)
    call = f"{fn}({', '.join(c.args)})"
    return call if spec is None else f"{call} OVER ({spec})"


def _non_negative_derivative(c: Call) -> str:
    # CH: per-second rate of change vs the previous row in the window,
    # clamped at 0 (counter-reset tolerance). Composes as TWO Spark lag()
    # calls over the SAME (frame-stripped) window spec: greatest(0,
    # Δvalue / Δseconds). First row: lag is NULL and greatest() skips
    # NULLs → 0, matching CH's default-value-0 first row. The optional
    # 3rd interval arg is not supported — rejected rather than silently
    # mis-scaled.
    if len(c.args) < 2:
        return _unmapped(c)
    if len(c.args) > 2:
        raise ValueError(
            "nonNegativeDerivative with an interval argument is not "
            "supported; scale the result instead"
        )
    spec = _full_frame_over(c, "lag")
    if spec is None:
        raise ValueError(
            "nonNegativeDerivative requires an inline OVER (...) window"
        )
    ov = f"OVER ({spec})"
    val, ts = c.args
    return (
        f"greatest(CAST(0 AS DOUBLE), (CAST({val} AS DOUBLE) - lag({val}) "
        f"{ov}) / (unix_timestamp({ts}) - unix_timestamp(lag({ts}) {ov})))"
    )


def _date_diff(c: Call) -> str:
    # unit must be a string literal — the rewrite is static. dateDiff (+
    # its timestampDiff aliases) counts boundary CROSSINGS (mapped per
    # unit in _DATEDIFF_BOUNDARY); age counts COMPLETE units = Spark
    # timestampdiff.
    args = c.args
    if len(args) != 3:
        return _unmapped(c)
    u = args[0].strip().strip("'\"").upper()
    if c.name != "age":
        if u not in _DATEDIFF_BOUNDARY:
            raise ValueError(f"dateDiff unit {args[0]} not supported")
        return _DATEDIFF_BOUNDARY[u].format(args[1], args[2])
    if u not in _AGE_UNITS:
        raise ValueError(f"age unit {args[0]} not supported")
    return f"timestampdiff({u}, {args[1]}, {args[2]})"


def _interval_seconds(c: Call, what: str) -> tuple[int, str]:
    """The seconds and the unit of the ``INTERVAL n UNIT`` second
    argument; second-based units only — month/year intervals need
    calendar arithmetic CH ties to the server timezone, rejected rather
    than approximated."""
    parts = c.args[1].split()
    if (
        len(parts) != 3
        or parts[0].upper() != "INTERVAL"
        or not parts[1].isdigit()
        or parts[2].upper().rstrip("S") not in _INTERVAL_SECONDS
    ):
        raise ValueError(
            f"{what} supports INTERVAL n SECOND/MINUTE/HOUR/DAY/WEEK, got "
            f"{c.args[1]!r}"
        )
    unit = parts[2].upper().rstrip("S")
    return int(parts[1]) * _INTERVAL_SECONDS[unit], unit


def _to_start_of_interval(c: Call) -> str:
    # floor the epoch to n·unit_seconds. 3-arg (r12, CH 24.9+): an
    # explicit ORIGIN defines the alignment — floor the origin-relative
    # offset.
    args = c.args
    if len(args) not in (2, 3):
        return _unmapped(c)
    secs, unit = _interval_seconds(c, "toStartOfInterval")
    if len(args) == 3:
        # CH's ORIGINAL 3-arg spelling passes a TIMEZONE string literal
        # here; only the 24.9+ ORIGIN-timestamp form is supported —
        # reject the tz spelling loudly instead of mis-reading it as an
        # origin (ADVICE r12)
        a2 = args[2].strip()
        if is_quoted(a2):
            raise ValueError(
                f"toStartOfInterval(t, INTERVAL, {a2}) timezone variant "
                "unsupported — the session timezone is used; pass an origin "
                "TIMESTAMP as the 3rd argument instead"
            )
        o = f"unix_timestamp({args[2]})"
        return (
            f"to_timestamp({o} + CAST(floor((unix_timestamp({args[0]}) - {o}) "
            f"/ {secs}) AS BIGINT) * {secs})"
        )
    # CH aligns week intervals to Monday; epoch 0 is a Thursday, so
    # shift 3 days pre-floor
    off = 259200 if unit == "WEEK" else 0
    return (
        f"to_timestamp(floor((unix_timestamp({args[0]}) + {off}) / {secs}) * "
        f"{secs} - {off})"
    )


def _tumble(c: Call) -> str:
    # time-window TVF helpers (r12): tumbling windows are pure
    # arithmetic — start = the floored interval (same machinery as
    # toStartOfInterval), end = start + width; tumble() is the (start,
    # end) tuple with CH's col1/col2 field names. Second-based units
    # only (same constraint and reasons as toStartOfInterval).
    # (hop/hopStart/hopEnd are lowered by _rewrite_hop before dispatch:
    # GROUP BY hop → Spark sliding window() generator, ungrouped →
    # first-window bounds)
    if len(c.args) != 2:
        return _unmapped(c)
    secs, unit = _interval_seconds(c, c.name)
    off = 259200 if unit == "WEEK" else 0
    st = (
        f"floor((unix_timestamp({c.args[0]}) + {off}) / {secs}) * {secs} - "
        f"{off}"
    )
    if c.name == "tumbleStart":
        return f"to_timestamp({st})"
    if c.name == "tumbleEnd":
        return f"to_timestamp(({st}) + {secs})"
    return (
        f"struct(to_timestamp({st}) AS col1, to_timestamp(({st}) + {secs}) AS "
        "col2)"
    )


_INTERVAL_UNITS = ("second", "minute", "hour", "day", "week", "month",
                   "quarter", "year", "millisecond", "microsecond",
                   "nanosecond")


def _to_interval(c: Call) -> str:
    # generic toInterval(n, 'unit') (r12, CH 25.x) — dispatches onto the
    # typed toIntervalX templates
    if len(c.args) != 2:
        return _unmapped(c)
    unit = c.args[1].strip().strip("'\"").lower()
    if unit not in _INTERVAL_UNITS or unit not in c.args[1].lower():
        raise ValueError(
            "toInterval(n, unit): the unit must be a string literal "
            "(second…year or "
            "sub-second), got " + c.args[1]
        )
    return _mapped(f"toInterval{unit.capitalize()}", [c.args[0]])


def _format_datetime(c: Call) -> str:
    # CH %-specifiers → Spark datetime pattern, literal formats only
    # (non-literal formats can't be mapped statically — raise rather than
    # emit wrong output). A 3rd timezone argument composes the toTimeZone
    # mapping: render the same instant in that zone (sound because
    # session.py pins the session tz to UTC — date_format would
    # otherwise render UTC).
    args = c.args
    if len(args) < 2:
        return _unmapped(c)
    if len(args) > 3:
        raise ValueError("formatDateTime takes at most 3 arguments")
    if len(args) == 3:
        args = [f"from_utc_timestamp({args[0]}, {args[2]})", args[1]]
    fmt = args[1].strip()
    if not (fmt.startswith("'") and fmt.endswith("'")):
        raise ValueError("formatDateTime needs a literal format string")
    # pattern-level quotes (literal text) must be doubled when embedded
    # in the SQL string literal
    pat = _ch_datetime_format(fmt[1:-1]).replace("'", "''")
    return f"date_format({args[0]}, '{pat}')"


def _extract(c: Call) -> str:
    # CH extract/extractAll: first capture group when the pattern has
    # one, else the whole match. Decidable only for literal patterns;
    # group 1 on a group-less pattern THROWS under ANSI, so non-literal
    # patterns conservatively take the whole match. Capture groups are
    # COUNTED (escaped '\(' and '(?:' excluded) — substring-'(' would
    # pick group 1 on zero-group regexes.
    if len(c.args) != 2:
        return _unmapped(c)
    pat = c.args[1].strip()
    grp = 1 if pat.startswith("'") and _regex_capture_groups(pat[1:-1]) else 0
    fn = "regexp_extract_all" if c.name == "extractAll" else "regexp_extract"
    return f"{fn}({c.args[0]}, {c.args[1]}, {grp})"


_FILE_FORMATS = {
    "parquet": "parquet", "orc": "orc", "jsoneachrow": "json",
    "ndjson": "json", "jsonlines": "json", "json": "json",
}


def _file(c: Call) -> str:
    # CH file() table function → Spark direct-path SQL (SELECT … FROM
    # parquet.`/path`). Self-describing formats only: CSV/TSV need
    # header/delimiter options the path syntax cannot carry — use
    # sources.read_table for those.
    path = c.args[0].strip()
    if not is_quoted(path):
        raise ValueError("file() needs a literal path")
    p = path[1:-1]
    fmt = (
        c.args[1].strip().strip("'\"").lower()
        if len(c.args) >= 2
        else p.rsplit(".", 1)[-1].lower()
    )
    if fmt not in _FILE_FORMATS:
        raise ValueError(
            f"file() format {fmt!r} unsupported in SQL position (CSV/TSV need "
            "header/delimiter options) — load via sources.read_table and pass "
            "it as a view"
        )
    return f"{_FILE_FORMATS[fmt]}.`{p}`"


def _date_add(c: Call) -> str:
    # dateAdd(unit, n, d) → the type-preserving add{U}s family (same
    # interval arithmetic, swapped args)
    if len(c.args) != 3:
        return _unmapped(c)
    unit = c.args[0].strip().strip("'\"").lower()
    base_name = f"add{unit.capitalize()}s"
    if base_name not in TEMPLATES:
        raise ValueError(f"{c.name}: unsupported unit {unit!r}")
    neg = c.name.lower().endswith(("sub", "_sub"))
    n_arg = f"-({c.args[1]})" if neg else c.args[1]
    return _mapped(base_name, [c.args[2], n_arg])


def _decimal_arith(c: Call) -> str:
    if len(c.args) != 3:
        raise ValueError(
            f"{c.name}: pass the result scale explicitly (CH defaults it from "
            "the operand types, which a text rewrite cannot see)"
        )
    op = "*" if c.name == "multiplyDecimal" else "/"
    return (
        f"cast(({c.args[0]}) {op} ({c.args[1]}) as decimal(38, {c.args[2]}))"
    )


def _now64(c: Call) -> str:
    # precision arg accepted ≤6 (Spark timestamps are µs); beyond that
    # the extra digits cannot exist. A TIMEZONE argument must not drop
    # silently — the session is pinned UTC, so the rendered wall-clock
    # would differ.
    if len(c.args) >= 2:
        raise ValueError(
            "now64 with a timezone: compose toTimeZone(now64(), tz) instead — "
            "dropping the zone would silently render UTC"
        )
    p_ = c.args[0].strip() if c.args else ""
    if p_.isdigit() and int(p_) > 6:
        raise ValueError(
            "now64 precision > 6: Spark timestamps are microsecond-resolution"
        )
    return "current_timestamp()"


def _extract_groups(c: Call) -> str:
    if len(c.args) != 2:
        return _unmapped(c)
    pat = c.args[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ValueError(
            "extractGroups needs a literal pattern (group count is static)"
        )
    n_groups = _regex_capture_groups(pat[1:-1])
    if n_groups == 0:
        raise ValueError("extractGroups: pattern has no capture groups")
    parts = ", ".join(
        f"regexp_extract({c.args[0]}, {pat}, {g})"
        for g in range(1, n_groups + 1)
    )
    return f"array({parts})"


def _aes(c: Call) -> str:
    # Spark's aes_encrypt/aes_decrypt cover the deterministic mode;
    # CBC/GCM prepend a random IV/nonce in Spark, so their BYTES can
    # never match CH's (which takes the IV as an argument) — only ECB is
    # mappable byte-for-byte
    if len(c.args) != 3:
        raise ValueError(
            f"{c.name} takes (mode, input, key) — an IV argument only applies "
            "to CBC/GCM, which don't map (Spark self-generates the IV)"
        )
    mode = c.args[0].strip().strip("'\"").lower()
    if not mode.endswith("-ecb"):
        raise ValueError(
            f"{c.name} mode {mode!r}: Spark generates its own IV/nonce for "
            "CBC/GCM so the ciphertext layout differs from CH — only the -ecb "
            "modes map"
        )
    if c.name.startswith(("encrypt", "aes_encrypt")):
        return f"aes_encrypt({c.args[1]}, {c.args[2]}, 'ECB')"
    return f"cast(aes_decrypt({c.args[1]}, {c.args[2]}, 'ECB') as string)"


def _map_concat(c: Call) -> str:
    # CH: FIRST occurrence of a key wins; Spark's map_concat THROWS on
    # duplicates — fold through the mapUpdate shape with the EARLIER map
    # winning
    if len(c.args) < 2:
        raise ValueError("mapConcat needs ≥2 maps")
    acc = c.args[0]
    for nxt in c.args[1:]:
        # mapUpdate(a, b): b wins → to make the earlier acc win, update
        # nxt WITH acc
        acc = TEMPLATES["mapUpdate"].format(nxt, acc)
    return acc


def _parse_datetime(c: Call) -> str:
    # CH %-format → Spark pattern via the shared formatDateTime
    # converter (literal formats only)
    if len(c.args) != 2:
        raise ValueError(
            f"{c.name}(s, fmt): 2-arg literal-format form only (a timezone "
            "argument would silently re-zone — compose toTimeZone)"
        )
    fmt = c.args[1].strip()
    if not (fmt.startswith("'") and fmt.endswith("'")):
        raise ValueError(f"{c.name} needs a literal format string")
    pat = _ch_datetime_format(fmt[1:-1]).replace("'", "''")
    fn = "to_timestamp" if c.name == "parseDateTime" else "try_to_timestamp"
    expr = f"{fn}({c.args[0]}, '{pat}')"
    if c.name == "parseDateTimeOrZero":
        expr = f"coalesce({expr}, TIMESTAMP'1970-01-01 00:00:00')"
    return expr


def _kernel_arity(c: Call) -> ValueError:
    return ValueError(
        f"{c.name}: wrong arity {len(c.args)} — the mapped forms take one "
        "string argument (morton: mortonEncode(x, y) / mortonDecode(2, code))"
    )


def _html_decode(c: Call) -> str:
    # html.unescape kernel — the full HTML5 entity table
    # (functions/strkernels.py)
    if len(c.args) != 1:
        raise _kernel_arity(c)
    return f"__ch_html_dec({c.args[0]})"


# _STR_KERNELS names whose wrong arity rejects; the rest pass through
_ONE_STRING_KERNELS = frozenset(
    "punycodeEncode punycodeDecode tryPunycodeDecode idnaEncode tryIdnaEncode "
    "idnaDecode toBase58 base58Encode base58Decode "
    "tryBase58Decode".split()
)


def _str_kernel(c: Call) -> str:
    # stdlib-exact Python kernels (functions/strkernels.py): punycode is
    # Python's RFC 3492 codec, idna the IDNA2003 ToASCII/ToUnicode pair,
    # base58 the Bitcoin alphabet with leading-zero → '1' padding;
    # throwing CH forms return NULL on invalid input, try* forms ''
    if len(c.args) == 1:
        return f"{_STR_KERNELS[c.name]}({c.args[0]})"
    if c.name in _ONE_STRING_KERNELS:
        raise _kernel_arity(c)
    return _unmapped(c)


def _morton_encode(c: Call) -> str:
    # 2-D Morton code as a pure JVM bit-interleave fold (first argument
    # → even bits, matching CH); inputs must fit UInt32 like CH's 2-arg
    # form. The result is CH's UInt64 BITS in a signed BIGINT: codes
    # with bit 63 set print negative but sort/join/decode identically
    if len(c.args) != 2:
        raise _kernel_arity(c)
    x_, y_ = c.args
    # shiftright() FUNCTION, not the >> operator: the parser rejects
    # '>>' inside struct(...) arguments (ambiguous with struct<...> type
    # syntax), and this expression nests into mortonDecode's struct
    return (
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__acc, __i) -> __acc "
        f"+ shiftleft(shiftright(CAST({x_} AS BIGINT), __i) & 1, 2 * __i) + "
        f"shiftleft(shiftright(CAST({y_} AS BIGINT), __i) & 1, 2 * __i + 1))"
    )


def _morton_decode(c: Call) -> str:
    if len(c.args) != 2:
        raise _kernel_arity(c)
    if c.args[0].strip() != "2":
        raise ValueError(
            "mortonDecode: only the 2-D form is mapped (mortonDecode(2, code))"
        )
    # promote via 1L * (…), NOT CAST (the parser rejects a lambda inside
    # CAST — the nested mortonEncode's '->' fails there); shiftright()
    # FUNCTION, not '>>' (rejected inside struct(...) args); distinct
    # lambda names avoid shadowing the nested encode's variables
    deint = (
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__dacc, __dj) -> "
        "__dacc + shiftleft(shiftright(CAST(1 AS BIGINT) * ({c}), 2 * __dj + "
        "{o}) & 1, __dj))"
    )
    return (
        "struct("
        + deint.format(c=c.args[1], o=0) + " AS col1, "
        + deint.format(c=c.args[1], o=1) + " AS col2)"
    )


def _hilbert_2d(c: Call) -> ValueError:
    return ValueError(
        f"{c.name}: 2-D forms only — {c.name}(x, y) / hilbertDecode(2, code)"
    )


def _hilbert_encode(c: Call) -> str:
    # r12: classic xy2d kernel (stats.hilbert_xy2d). Locality contract
    # matches CH; curve ORIENTATION may differ from CH's lookup tables
    # (the cityHash→xxhash intent policy — don't mix encodings across
    # engines). 1-arg form is the identity, as documented.
    if len(c.args) == 1:
        return f"CAST({c.args[0]} AS BIGINT)"
    if len(c.args) == 2:
        return (
            f"__ch_hilbert_enc(CAST({c.args[0]} AS BIGINT), CAST({c.args[1]} "
            "AS BIGINT))"
        )
    raise _hilbert_2d(c)


def _hilbert_decode(c: Call) -> str:
    # hilbertDecode(n, code): n=1 identity tuple, n=2 the d2xy inverse
    # (tuple via col1/col2 — same shape as mortonDecode)
    if len(c.args) != 2:
        raise _hilbert_2d(c)
    n = c.args[0].strip()
    if n == "1":
        return f"struct(CAST({c.args[1]} AS BIGINT) AS col1)"
    if n == "2":
        dec = f"__ch_hilbert_dec(CAST({c.args[1]} AS BIGINT))"
        return (
            f"struct(element_at({dec}, 1) AS col1, element_at({dec}, 2) AS "
            "col2)"
        )
    raise ValueError(
        "hilbertDecode: the Hilbert curve here is 2-D — n must be the literal "
        "1 or 2"
    )


def _bit_rotate(c: Call) -> str:
    # renamed by the typed-cast pre-pass (r12): the inner to*IntW cast
    # told us width and signedness
    tag = c.name[9:]
    return _bitrotate_sql(
        int(tag[1:]), c.name.startswith("__bitRotL"), c.args[0], c.args[1],
        signed=tag[0] == "s",
    )


def _sim_kernel(c: Call) -> str:
    # exact fuzzy-similarity kernels (functions/strkernels.py): OSA
    # Damerau-Levenshtein, Jaro/Jaro-Winkler (prefix ≤ 4, p = 0.1),
    # byte-set Jaccard, positional byte Hamming + length diff — niche
    # scalar functions on short strings, not scan-hot-path material;
    # operators.dedup's n-gram Jaccard remains the corpus-scale path
    if len(c.args) != 2:
        raise ValueError(f"{c.name}: takes exactly two string arguments")
    return f"{_SIM_KERNELS[c.name]}({c.args[0]}, {c.args[1]})"


def _to_decimal_string(c: Call) -> str:
    if len(c.args) != 2:
        return _unmapped(c)
    n_ = c.args[1].strip()
    if not n_.isdigit():
        raise ValueError("toDecimalString needs a literal precision")
    # decimal literals break %f (playbook: format_string rejects
    # Decimal) — go through double
    return f"format_string('%.{int(n_)}f', cast({c.args[0]} as double))"


# backslash-escape CH's regex metacharacter set \ | ( ) ^ $ . [ ] ? * + {
# : −  (NUL bytes, which CH also escapes, cannot appear in a SQL literal
# and are left as-is)
_QUOTE_META = "'([\\\\\\\\|()^$.\\\\[\\\\]?*+{:-])', '\\\\\\\\$1'"


def _regexp_quote_meta(c: Call) -> str:
    if len(c.args) != 1:
        return _unmapped(c)
    return f"regexp_replace({c.args[0]}, {_QUOTE_META})"


def _bit_slice(c: Call) -> str:
    # round 12: Arrow kernel (strkernels.bit_slice) — 1-based MSB-first
    # bit offsets over the UTF-8 bytes, result zero-padded to whole
    # bytes (BINARY); negative offset/length follow CH's substring
    # conventions
    if len(c.args) not in (2, 3):
        return _unmapped(c)
    ln = c.args[2] if len(c.args) == 3 else "NULL"
    return (
        f"__ch_bitslice({c.args[0]}, CAST({c.args[1]} AS BIGINT), CAST({ln} "
        "AS BIGINT))"
    )


def _tuple_element(c: Call) -> str:
    if len(c.args) == 3:
        raise ValueError(
            "tupleElement: the 3-arg default form only matters for "
            "Variant/JSON dynamic tuples — on typed structs a missing field "
            "is an ANALYSIS error; use the 2-arg form"
        )
    if len(c.args) != 2:
        return _unmapped(c)
    # tuple(...) → struct(...) auto-names fields col1..colN (1-based like
    # CH); a literal name addresses a named-tuple field directly.
    idx = c.args[1].strip()
    if idx.isdigit():
        return f"({c.args[0]}).col{idx}"
    if len(idx) >= 3 and is_quoted(idx):
        return f"({c.args[0]}).{idx[1:-1]}"
    raise ValueError(
        "tupleElement needs a literal index or name — a runtime-computed "
        "element cannot be resolved to a struct field statically"
    )


def _untuple(c: Call) -> str:
    if len(c.args) != 1:
        return _unmapped(c)
    base = c.args[0].strip()
    if not base.replace(".", "").isidentifier():
        raise ValueError(
            "untuple supports a simple column reference only (expands to "
            "col.*)"
        )
    return f"{base}.*"


def _dict_get(c: Call) -> str:
    dname = c.args[0].strip().strip("'\"")
    attr = c.args[1].strip().strip("'\"")
    sub = f"(SELECT {attr} FROM {dname} WHERE __key = {c.args[2]})"
    if c.name == "dictGetOrDefault":
        sub = f"coalesce({sub}, {c.args[3]})"
    return sub


def _dict_get_typed(c: Call) -> str:
    # typed dictGet<Type>[OrDefault] spellings: the same attribute
    # subquery with the declared cast
    ty_raw = c.name[len("dictGet"):]
    has_def = ty_raw.endswith("OrDefault")
    if has_def:
        ty_raw = ty_raw[: -len("OrDefault")]
    dd_ty = CH_SCALAR_SPARK[ty_raw]
    if len(c.args) != (4 if has_def else 3):
        raise ValueError(
            f"{c.name}('dict', 'attr', key"
            + (", default)" if has_def else ")")
            + " is the mapped form"
        )
    dname = c.args[0].strip().strip("'\"")
    attr = c.args[1].strip().strip("'\"")
    sub = (
        f"cast((SELECT {attr} FROM {dname} WHERE __key = {c.args[2]}) as "
        f"{dd_ty})"
    )
    if has_def:
        sub = f"coalesce({sub}, cast({c.args[3]} as {dd_ty}))"
    return sub


def _overlay(c: Call) -> str:
    # wave 7 (24.7): overlay(s, replace, offset[, len]) — Spark's overlay
    # shares the 1-based contract; the byte/char distinction is moot for
    # the single-byte data the engine's columns carry
    if len(c.args) not in (3, 4):
        return _unmapped(c)
    tail = f", {c.args[3]}" if len(c.args) == 4 else ""
    return f"overlay({c.args[0]}, {c.args[1]}, {c.args[2]}{tail})"


def _uuid_to_num(c: Call) -> str:
    # wave 7, narrowed in r15: the default big-endian variant is
    # byte-identical to the r10 UUIDStringToNum mapping (this engine
    # keeps UUIDs as canonical strings, so the two names coincide).
    # UUIDStringToNum/UUIDNumToString themselves stay on template
    # dispatch (r10 mappings, pinned in tests/test_audit_r10.py) — r14's
    # blanket reject here shadowed them and shipped a regression.
    variant = c.args[1].strip() if len(c.args) == 2 else "1"
    if len(c.args) in (1, 2) and variant == "1":
        return f"unhex(replace({c.args[0]}, '-', ''))"
    if len(c.args) == 2 and variant == "2":
        # Microsoft mixed-endian: bytes reversed within the first three
        # dash groups (4+2+2), tail unchanged. Single-bind the UUID via
        # the transform wrapper (hex pairs are re-read 9×).
        return (
            f"element_at(transform(array(replace({c.args[0]}, '-', '')), __uh "
            "-> unhex(concat(substring(__uh, 7, 2), substring(__uh, 5, 2), "
            "substring(__uh, 3, 2), substring(__uh, 1, 2), substring(__uh, "
            "11, 2), substring(__uh, 9, 2), substring(__uh, 15, 2), "
            "substring(__uh, 13, 2), substring(__uh, 17)))), 1)"
        )
    raise ValueError(
        "UUIDToNum: variant must be the literal 1 (big-endian, default) or 2 "
        "(Microsoft mixed-endian)"
    )


def _dict_has(c: Call) -> str:
    if len(c.args) != 2:
        return _unmapped(c)
    dname = c.args[0].strip().strip("'\"")
    return (
        f"((SELECT count(1) FROM {dname} WHERE __key = {c.args[1]}) > 0)"
    )


def _throw_if(c: Call) -> str:
    # wave 6: assert_true throws when its condition is FALSE — throwIf
    # throws when TRUE; CH returns 0 when it doesn't throw (the CASE
    # supplies it, assert_true yields NULL)
    if len(c.args) not in (1, 2):
        return _unmapped(c)
    msg = f", {c.args[1]}" if len(c.args) == 2 else ""
    return (
        f"(CASE WHEN assert_true(NOT CAST({c.args[0]} AS BOOLEAN){msg}) IS "
        "NULL THEN 0 END)"
    )


def _group_concat(c: Call) -> str:
    # wave 6: the non-parameterized delimiter form groupConcat(x, sep)
    # (24.x docs); the limit tail is order-dependent → reject
    if c.params is not None:
        return _param_template(c)
    if len(c.args) not in (2, 3):
        return _unmapped(c)
    if len(c.args) == 3:
        raise ValueError(
            "groupConcat(x, sep, limit): the limit keeps the FIRST n values "
            "in insertion order (block-order) — drop the limit or use "
            "groupArraySorted + array_join"
        )
    return f"array_join(collect_list({c.args[0]}), {c.args[1]})"


def _join_get(c: Call) -> str:
    # joinGet('t', 'attr', key…) over a join table of the context
    # (ctx.join_tables) — correlated scalar subquery (Catalyst
    # decorrelates, AQE broadcasts the join-table side: the same plan CH
    # serves from its in-memory hash table). joinGet returns the attr's
    # TYPE DEFAULT on a miss (types captured by join_table());
    # joinGetOrNull NULL.
    name, args = c.name, c.args
    if len(args) < 3:
        raise ValueError(f"{name} needs ('table', 'attr', key…)")
    jt = args[0].strip().strip("'\"").split(".")[-1]
    attr = args[1].strip().strip("'\"")
    info = c.ctx.join_tables.get(jt)
    if info is None:
        raise ValueError(
            f"{name}: {jt!r} is not registered as a join table — add "
            "join_table(df, key_cols) to the QueryContext's join_tables (the "
            "Join-engine analog), or use an explicit LEFT JOIN / dictGet over "
            "a dictionary"
        )
    jkeys, jtypes = list(info.keys), info.types
    if len(args) - 2 != len(jkeys):
        raise ValueError(
            f"{name}: {jt!r} is keyed by {jkeys} — pass {len(jkeys)} key "
            f"expression(s), got {len(args) - 2}"
        )
    if attr not in jtypes:
        raise ValueError(
            f"{name}: {jt!r} has no column {attr!r} (columns: "
            f"{sorted(jtypes)})"
        )
    cond = " AND ".join(f"{k} = ({a})" for k, a in zip(jkeys, args[2:]))
    sub = f"(SELECT {attr} FROM {jt} WHERE {cond})"
    if name == "joinGet":
        sub = f"coalesce({sub}, {_join_type_default_sql(jtypes[attr])})"
    return sub


def _snowflake_to_datetime(c: Call) -> str:
    # NEW-style snowflake pair: epoch param defaults 0 (the deprecated
    # snowflakeToDateTime keeps the Twitter epoch — separate mapping).
    # The 64 variant returns DateTime64(3) — timestamp_millis keeps the
    # same ms precision (wave 6)
    if len(c.args) not in (1, 2):
        return _unmapped(c)
    ep = c.args[1] if len(c.args) == 2 else "0"
    return f"timestamp_millis(({c.args[0]} DIV 4194304) + ({ep}))"


def _datetime64_to_snowflake(c: Call) -> str:
    # millisecond-precision sibling of dateTimeToSnowflakeID (r12): ID =
    # (ms − epoch) << 22; epoch param defaults 0 like the new pair
    if len(c.args) not in (1, 2):
        return _unmapped(c)
    ep = c.args[1] if len(c.args) == 2 else "0"
    return (
        f"((unix_millis(CAST({c.args[0]} AS TIMESTAMP)) - ({ep})) * 4194304)"
    )


def _datetime_to_snowflake(c: Call) -> str:
    if len(c.args) not in (1, 2):
        return _unmapped(c)
    ep = c.args[1] if len(c.args) == 2 else "0"
    return (
        f"shiftleft(unix_millis(cast({c.args[0]} as timestamp)) - ({ep}), 22)"
    )


def _array_shift(c: Call) -> str:
    # negative n flips direction (CH contract); the 2-arg form fills
    # with NULL where CH uses the TYPE DEFAULT (0/'') — a text rewrite
    # cannot synthesize that; pass the fill explicitly for CH-exact
    # output
    if len(c.args) not in (2, 3):
        return _unmapped(c)
    sh_a, sh_n = c.args[0], c.args[1]
    fill = (
        c.args[2] if len(c.args) == 3
        else f"try_element_at({sh_a}, size({sh_a}) + 1)"
    )
    mag = f"least(abs({sh_n}), size({sh_a}))"
    left = (
        f"concat(slice({sh_a}, cast({mag} as int) + 1, size({sh_a})), "
        f"array_repeat({fill}, cast({mag} as int)))"
    )
    right = (
        f"concat(array_repeat({fill}, cast({mag} as int)), slice({sh_a}, 1, "
        f"size({sh_a}) - cast({mag} as int)))"
    )
    if c.name == "arrayShiftRight":
        left, right = right, left
    return f"(CASE WHEN ({sh_n}) < 0 THEN {right} ELSE {left} END)"


def _bit_test(c: Call) -> str:
    # variadic bit probes: ALL/ANY of the listed bit positions set
    if len(c.args) < 2:
        return _unmapped(c)
    joiner = " AND " if c.name == "bitTestAll" else " OR "
    return "(" + joiner.join(
        f"(shiftright({c.args[0]}, cast({b} as int)) & 1) = 1"
        for b in c.args[1:]
    ) + ")"


def _array_sort(c: Call) -> str:
    args = c.args
    if len(args) == 2 and "->" in args[0]:
        # key-lambda sort: Spark array_sort's second arg is a
        # COMPARATOR, not a key — build (key, elem) structs, sort
        # (struct order = key then elem), extract. Ties break on the
        # element, not input position (CH is stable; documented delta).
        sorted_pairs = (
            f"array_sort(zip_with(transform({args[1]}, {args[0]}), {args[1]}, "
            "(__sk, __sv) -> struct(__sk AS col1, __sv AS col2)))"
        )
        if c.name == "arrayReverseSort":
            sorted_pairs = f"reverse({sorted_pairs})"
        return f"transform({sorted_pairs}, __sp -> __sp.col2)"
    if c.name == "arrayReverseSort" and len(args) == 1:
        return f"reverse(array_sort({args[0]}))"
    return _unmapped(c)


def _array_partial_sort(c: Call) -> str:
    # CH leaves elements past `limit` in UNSPECIFIED order — a fully
    # sorted array is a legal (and the only deterministic) refinement;
    # the reverse spelling (r12) descends
    if len(c.args) != 2:
        return _unmapped(c)
    if c.name == "arrayPartialSort":
        return f"array_sort({c.args[1]})"
    return f"reverse(array_sort({c.args[1]}))"


def _trunc(c: Call) -> str:
    # CH trunc is NUMERIC round-toward-zero; Spark's trunc is DATE
    # truncation — never pass through
    a = c.args
    if len(a) == 1:
        return f"(sign({a[0]}) * floor(abs({a[0]})))"
    if len(a) == 2:
        return (
            f"(sign({a[0]}) * floor(abs({a[0]}) * pow(10, {a[1]})) / pow(10, "
            f"{a[1]}))"
        )
    return _unmapped(c)


def _format(c: Call) -> str:
    # CH format('{}', x) braces → format_string positional %s; needs a
    # literal pattern
    if not c.args:
        return _unmapped(c)
    fmt_lit = c.args[0].strip()
    if not is_quoted(fmt_lit):
        raise ValueError(
            "format() needs a literal pattern (the {}-to-%s conversion "
            "happens at translate time)"
        )
    body = fmt_lit[1:-1]
    conv = []
    fi = 0
    while fi < len(body):
        ch2 = body[fi]
        if ch2 == "{" and body[fi + 1 : fi + 2] == "{":
            conv.append("{")
            fi += 2
        elif ch2 == "}" and body[fi + 1 : fi + 2] == "}":
            conv.append("}")
            fi += 2
        elif ch2 == "{":
            j2 = body.index("}", fi)
            idx_s = body[fi + 1 : j2]
            conv.append("%s" if idx_s == "" else f"%{int(idx_s) + 1}$s")
            fi = j2 + 1
        elif ch2 == "%":
            conv.append("%%")
            fi += 1
        else:
            conv.append(ch2)
            fi += 1
    new_fmt = "".join(conv).replace("'", "\\'")
    casts = ", ".join(f"cast({a} as string)" for a in c.args[1:])
    return f"format_string('{new_fmt}'" + (f", {casts}" if casts else "") + ")"


_JSON_EXTRACT_TYPES = {
    "String": "string", "Bool": "boolean", "Date": "date",
    "DateTime": "timestamp", "Float32": "double", "Float64": "double",
    **{f"{u}Int{w}": "bigint" for u in ("", "U") for w in (8, 16, 32, 64)},
}


def _json_extract(c: Call) -> str:
    # typed extraction: literal CH scalar type → cast
    if len(c.args) != 3:
        return _unmapped(c)
    ch_ty = c.args[2].strip().strip("'\"")
    base_ty = ch_ty.replace("Nullable(", "").rstrip(")")
    if base_ty not in _JSON_EXTRACT_TYPES:
        raise ValueError(
            f"JSONExtract type {ch_ty!r}: scalar tiers only "
            "(Int*/UInt*/Float*/String/Bool/Date/DateTime) — arrays/tuples "
            "need from_json with an explicit Spark schema"
        )
    return (
        f"cast(get_json_object({c.args[0]}, concat('$.', {c.args[1]})) as "
        f"{_JSON_EXTRACT_TYPES[base_ty]})"
    )


def _to_decimal256(c: Call) -> str:
    # CH scale goes to 76; Spark stops at decimal(38) — validate the
    # literal scale here so the cap is a loud documented reject, not a
    # late Spark error
    if len(c.args) != 2:
        return _unmapped(c)
    try:
        sc256 = int(c.args[1])
    except ValueError:
        raise ValueError(
            "toDecimal256 scale must be a literal integer"
        ) from None
    if sc256 > 38:
        raise ValueError(
            f"toDecimal256(x, {sc256}): scale exceeds the decimal(38) cap "
            "Spark can represent"
        )
    return f"cast({c.args[0]} as decimal(38, {sc256}))"


def _to_datetime64(c: Call) -> str:
    if len(c.args) not in (2, 3):
        return _unmapped(c)
    if len(c.args) == 3:
        raise ValueError(
            "toDateTime64 timezone argument is not supported (session "
            "timezone is pinned UTC) — use toTimeZone for display shifts"
        )
    try:
        prec_dt = int(c.args[1])
    except ValueError:
        raise ValueError(
            "toDateTime64 precision must be a literal integer"
        ) from None
    if prec_dt >= 6:
        # Spark timestamps are micros — 6 is the cap
        return f"cast({c.args[0]} as timestamp)"
    scale_dt = 10 ** (6 - prec_dt)
    return (
        f"timestamp_micros((unix_micros(cast({c.args[0]} as timestamp)) DIV "
        f"{scale_dt}) * {scale_dt})"
    )


def _make_date(c: Call) -> str:
    if len(c.args) == 3:
        return f"make_date({', '.join(c.args)})"
    if len(c.args) == 2:
        # CH 2-arg form: (year, day_of_year)
        return (
            f"date_add(make_date({c.args[0]}, 1, 1), cast({c.args[1]} as int) "
            "- 1)"
        )
    return _unmapped(c)


def _array_partial_shuffle(c: Call) -> str:
    # CH shuffles the first `limit` elements and leaves the REST in
    # unspecified order — a full shuffle is a legal refinement of both
    # halves (the seeded 3-arg form rejects: Spark SQL's shuffle exposes
    # no seed)
    if len(c.args) not in (1, 2):
        raise ValueError(
            "arrayPartialShuffle: the seeded form cannot be reproduced (Spark "
            "SQL's shuffle() has no seed argument) — drop the seed for an "
            "unseeded shuffle"
        )
    return f"shuffle({c.args[0]})"


_CHANGE_PARTS = ("changeYear", "changeMonth", "changeDay", "changeHour",
                 "changeMinute", "changeSecond")


def _change_part(c: Call) -> str:
    # recompose via make_timestamp with ONE field swapped. Always returns
    # a DateTime (CH preserves Date-in → Date-out; a text rewrite cannot
    # branch on the runtime type — cast the result if needed).
    # Out-of-range values error under ANSI, like CH throws. Fraction
    # preserved via the formatted seconds.
    if len(c.args) != 2:
        return _unmapped(c)
    x = f"cast({c.args[0]} as timestamp)"
    comps = [
        f"year({x})", f"month({x})", f"day({x})",
        f"hour({x})", f"minute({x})",
        f"cast(date_format({x}, 'ss.SSSSSS') as decimal(9, 6))",
    ]
    comps[_CHANGE_PARTS.index(c.name)] = f"({c.args[1]})"
    return f"make_timestamp({', '.join(comps)})"


def _cut_url_parameter(c: Call) -> str:
    # remove name=value (and its separator) from the query string:
    # mid-position 'k=v&', then a trailing '&k=v', then a lone '?k=v'
    # keeping the '?' (CH's observed shapes). Param name regex-quoted as
    # an expression, so non-literal names work too.
    if len(c.args) != 2:
        return _unmapped(c)
    qk = f"regexp_replace({c.args[1]}, {_QUOTE_META})"
    s1 = (
        f"regexp_replace({c.args[0]}, concat('([?&])', {qk}, '=[^&#]*&'), "
        "'$1')"
    )
    s2 = f"regexp_replace({s1}, concat('&', {qk}, '=[^&#]*'), '')"
    return f"regexp_replace({s2}, concat('\\\\?', {qk}, '=[^&#]*'), '?')"


def _uuid_v7(c: Call) -> str:
    # real RFC 9562 v7 layout: 48-bit unix millis, version nibble 7,
    # variant 10xx, random tail (md5-of-rand hex as the entropy source)
    if c.args:
        return _unmapped(c)
    ts12 = "lpad(lower(hex(unix_millis(current_timestamp()))), 12, '0')"
    rnd = "md5(cast(rand() as string))"
    return (
        f"concat(substring({ts12}, 1, 8), '-', substring({ts12}, 9, 4), '-7', "
        f"substring({rnd}, 1, 3), '-', elt(cast(floor(rand() * 4) + 1 as "
        f"int), '8', '9', 'a', 'b'), substring({rnd}, 4, 3), '-', "
        f"substring({rnd}, 8, 12))"
    )


def _top_k(c: Call) -> str:
    if c.params is None:
        if len(c.args) != 1:
            return _unmapped(c)
        c.params = ["10"]  # bare spelling: CH defaults k = 10
    return _param_template(c)


def _replace_regexp_one(c: Call) -> str:
    # first-match-only regex replace: anchor a lazy prefix group and
    # re-emit it. Only safe when the replacement is a LITERAL without
    # backreferences (the prefix group shifts every group number).
    if len(c.args) != 3:
        return _unmapped(c)
    repl = c.args[2].strip()
    if not is_quoted(repl) or re.search(r"[\\$]\d", repl[1:-1]):
        raise ValueError(
            "replaceRegexpOne: only literal replacements without "
            "backreferences are supported (the implementation prepends a "
            "capture group, shifting group numbers) — use replaceRegexpAll or "
            "splice manually"
        )
    # the user pattern goes inside a NON-CAPTURING group: a bare
    # top-level alternation ('a|b') appended after the lazy-prefix
    # anchor would bind loosely — '^((?:.*?))a|b' lets the 'b' branch
    # match unanchored anywhere (not first-occurrence) with an empty $1
    return (
        f"regexp_replace({c.args[0]}, concat('(?s)^((?:.*?))(?:', "
        f"{c.args[1]}, ')'), concat('$1', {repl}))"
    )


_SIZE_FORMS = {
    "length": "size({0})", "empty": "(size({0}) = 0)",
    "notEmpty": "(size({0}) > 0)",
}


def _container_size(c: Call) -> str:
    # CH length/empty/notEmpty are POLYMORPHIC — string length AND
    # array/map size — where Spark's length is string-only (r13 fuzz
    # seed 20021: length(splitByChar('-', s)) failed analysis). A static
    # translator can't see column types, so dispatch on the translated
    # argument's SYNTAX: known array/map-producing spellings → size().
    # Array-typed COLUMN references still need the CH spelling's string
    # form replaced by size() at the call site — documented delta.
    if len(c.args) != 1 or not _is_arrayish(c.args[0]):
        return _unmapped(c)
    return _SIZE_FORMS[c.name].format(c.args[0])


def _array_element(c: Call) -> str:
    # explicit-call spellings of the subscript operator — CH
    # arrayElement works on maps too, so the index cast follows the same
    # array-vs-map classification as a[k] (r15 self-review: the
    # unconditional CAST broke arrayElement(m, 'key') under ANSI).
    # try_element_at because 4.1.2's ANSI element_at returns the LAST
    # element for a NULL index (fuzz v6 seed 51694).
    if len(c.args) != 2:
        return _unmapped(c)
    base, idx = c.args
    if _elem_needs_cast(base, idx, c.ctx):
        idx = f"CAST({idx} AS INT)"
    expr = f"try_element_at({base}, {idx})"
    if c.name == "arrayElementOrNull" and (
        _elem_base_class(base, c.ctx) != "map"
    ):
        # CH returns NULL for array index 0; a map key 0 is a legitimate
        # lookup
        expr = f"(CASE WHEN ({idx}) = 0 THEN NULL ELSE {expr} END)"
    return expr


def _median_array(c: Call) -> str:
    # median over ALL elements of the group's arrays (r12):
    # collected-flatten + the exact element selection at ⌊0.5·n⌋ (the
    # QuantileExact formula — a deterministic refinement of CH's
    # sampling median, like the other exact-tier mappings)
    if len(c.args) != 1:
        return _unmapped(c)
    return (
        "element_at(transform(array(array_sort(flatten(collect_list("
        f"{c.args[0]})))), __ma -> CASE WHEN size(__ma) = 0 THEN NULL "
        "ELSE element_at(__ma, CAST(floor(0.5 * size(__ma)) AS INT) + 1) "
        "END), 1)"
    )


def _retention(c: Call) -> str:
    # retention(c1, …, ck) → [r1, r1∧r2, …] where rj = "condition j
    # fired on SOME event in the group" — per-flag bool_or, gated on the
    # anchor (CH returns Array(UInt8), hence the INT casts)
    if not c.args:
        return _unmapped(c)
    first = c.args[0]
    flags = [f"CAST(bool_or(CAST(({first}) AS BOOLEAN)) AS INT)"]
    for a in c.args[1:]:
        flags.append(
            f"CAST(bool_or(CAST(({first}) AS BOOLEAN)) AND bool_or(CAST(({a}) "
            "AS BOOLEAN)) AS INT)"
        )
    return "array(" + ", ".join(flags) + ")"


def _case_with_expression(c: Call) -> str:
    # caseWithExpression(x, w1, r1, …, else) → CASE x WHEN w1 THEN r1 …
    # ELSE else END
    a = c.args
    if len(a) < 3:
        return _unmapped(c)
    if len(a) % 2 != 0:
        raise ValueError(
            "caseWithExpression needs (x, when1, then1, …, else) — pairs plus "
            "a REQUIRED trailing else"
        )
    whens = "".join(
        f" WHEN {a[x]} THEN {a[x + 1]}" for x in range(1, len(a) - 1, 2)
    )
    return f"CASE {a[0]}{whens} ELSE {a[-1]} END"


def _distinct_if(c: Call) -> str:
    # -If ∘ -Distinct compositions (both orders spell the same thing in
    # CH)
    if len(c.args) != 2:
        return _unmapped(c)
    fn = "count" if c.name.startswith("count") else "sum"
    return f"{fn}(DISTINCT CASE WHEN {c.args[1]} THEN {c.args[0]} END)"


def _json_merge_patch(c: Call) -> str:
    # RFC 7386 merge kernel, folded pairwise for the variadic spelling
    if len(c.args) < 2:
        return _unmapped(c)
    acc = c.args[0]
    for nxt in c.args[1:]:
        acc = f"__ch_json_merge({acc}, {nxt})"
    return acc


# --------------------------------------------------- combinator families


def _distinct_combinator(c: Call) -> str:
    # -Distinct combinator: aggregate over the distinct value set
    # (clickhouse combinators doc)
    base = c.name[: -len("Distinct")]
    return f"{RENAMES.get(base, base)}(DISTINCT {c.args[0]})"


def _array_combinator(c: Call) -> str:
    # -Array combinator: aggregate over all elements of the group's
    # arrays — composes a per-row array fold with the scalar aggregate
    # (stays one partial agg, no explode). -ArrayIf additionally
    # CASE-nulls the array on non-matching rows (size(NULL) is NULL, so
    # the element counts skip them too)
    if c.name.endswith("ArrayIf"):
        base = c.name[: -len("ArrayIf")]
        a = f"({_case_when(c.args)[0]})"
    else:
        base = c.name[: -len("Array")]
        a = c.args[0]
    fold = f"aggregate({a}, cast(0 as double), (acc, x) -> acc + x)"
    if base == "avg":
        return f"(sum({fold}) / sum(size({a})))"
    if base == "count":
        return f"sum(size({a}))"  # counts ELEMENTS, not rows
    if base == "sum":
        return f"sum({fold})"
    return f"{base}(array_{base}({a}))"  # min/max over all elements


def _or_null(c: Call) -> str:
    # -OrNull: NULL instead of the default on empty groups. Spark's
    # sum/avg/min/max/any_value already return NULL there, so those map
    # to the base; the zero-returning counters get a nullif. The median
    # family (r12): the percentile mappings already return NULL on empty
    # groups — apply the base template directly.
    base = c.name[:-6]
    if base in _MEDIANS:
        return _tmpl_apply(base, TEMPLATES[base], c.args)
    inner = ", ".join(c.args) if c.args else "*"
    if base == "count":
        return f"nullif(count({inner}), 0)"
    if base == "uniq":
        return f"nullif(approx_count_distinct({inner}), 0)"
    if base == "uniqExact":
        return f"nullif(count(DISTINCT {inner}), 0)"
    if base in ("any", "anyLast"):
        # ignore-nulls flag: CH aggregates skip NULLs, so any([NULL, 5])
        # is 5, not NULL (matches the -IfOrNull branch's any_value(x,
        # true))
        return f"any_value({inner}, true)"
    return f"{base}({inner})"


def _or_default(c: Call) -> str:
    # -OrDefault: the TYPE default on empty groups — synthesizable only
    # where that default is the numeric 0 (sum/count)
    base = c.name[:-9]
    inner = ", ".join(c.args) if c.args else "*"
    if base == "count":
        return f"count({inner})"  # already 0
    if base == "sum":
        return f"coalesce(sum({inner}), 0)"
    raise ValueError(
        f"{c.name}: the empty-group TYPE default is not derivable at "
        f"translate time — write coalesce({base}(x), <default>) with the "
        "default you mean"
    )


# value-picking aggregates must skip the NULLs the -If wrap manufactures
# for non-matching rows
_IGNORE_NULLS = {
    "any": "any_value({0}, true)",
    "anyLast": "any_value({0}, true)",
    "anyHeavy": "any_value({0}, true)",
    "first": "first({0}, true)",
    "last": "last({0}, true)",
}


def _if_combinator(c: Call) -> str:
    # generic -If combinator: wrap every value arg in CASE WHEN cond,
    # then dispatch the base aggregate through its own TEMPLATES/RENAMES
    # entry
    base, wrapped = c.name[:-2], _case_when(c.args)
    if base in _IGNORE_NULLS:
        return _IGNORE_NULLS[base].format(wrapped[0])
    return _mapped(base, wrapped)


# ---------------------------------------------------------- call tables

_REINTERPRET = (
    "{name}: raw-byte reinterpretation depends on the engine's in-memory "
    "layout — engine-internal"
)
_TUPLE_FIELDS = (
    "{name}: needs the struct's field list — spell the fields out (t.col1 + "
    "u.col1, …); the arithmetic family "
    "(tuplePlus/Minus/Multiply/Divide/Negate/…ByNumber) IS mapped when one "
    "side is an inline tuple literal"
)
_GEOBASE = (
    "{name}: the embedded-geobase dictionaries ship as data files this engine "
    "does not have — model regions as a dictionary table and use dictGet"
)

# Names that only reject: name → message (``{name}`` is the call's name).
_REJECTS: dict[str, str] = {
    name: msg
    for msg, names in (
        (
            "{name} is BLOCK-ORDER-dependent (deprecated in ClickHouse "
            "itself) — rewrite with a window function "
            "(lag/lead/sum/row_number OVER an "
            "explicit ORDER BY)",
            "runningDifference runningAccumulate "
            "runningDifferenceStartingWithFirstValue neighbor "
            "rowNumberInAllBlocks rowNumberInBlock blockNumber deltaSum "
            "deltaSumIf",
        ),
        (
            "{name}: SGD model state is engine-internal — use "
            "simpleLinearRegression (mapped to "
            "regr_slope/regr_intercept) or Spark MLlib",
            "stochasticLinearRegression stochasticLogisticRegression",
        ),
        (_REINTERPRET, "byteSize reinterpret"),
        (
            "{name}: server-introspection/debug/wire-"
            "format function with no Spark analog",
            "sleep sleepEachRow hostName getMacro FQDN tcpPort partitionID "
            "getServerPort shardNum shardCount currentProfiles currentRoles "
            "initialQueryID queryID blockSize dumpColumnStructure "
            "defaultValueOfTypeName defaultValueOfArgumentType indexHint "
            "generateRandomStructure isDecimalOverflow formatRow "
            "formatRowNoNewline "
            # wave 2
            "transactionID serverUUID zookeeperSessionUptime hostname "
            "revision uptime buildId getSetting getOSKernelVersion "
            "displayName currentSchemas connectionId getClientHTTPHeader "
            "filesystemAvailable filesystemCapacity filesystemUnreserved "
            "isConstant globalVariable partitionId lowCardinalityKeys "
            "lowCardinalityIndices replicate aggThrow enabledProfiles "
            "defaultProfiles enabledRoles defaultRoles getSizeOfEnumType "
            "blockSerializedSize "
            "hasThreadFuzzer",  # wave 6
        ),
        (_TUPLE_FIELDS,
         "flattenTuple tupleToNameValuePairs tupleHammingDistance"),
        (
            "{name}: no static rewrite — add the intervals individually "
            "(addDays/addHours/… "
            "are mapped, type-preserving)",
            "toTimeWithFixedDate addTupleOfIntervals "
            "subtractTupleOfIntervals",
        ),
        (
            "convertCharset: charset transcoding needs ICU — decode/encode at "
            "ingestion, or a pandas "
            "kernel for exotic charsets",
            "convertCharset",
        ),
        (
            "{name}: ULID needs Crockford base32 — use generateUUIDv4/uuid() "
            "for ids or a pandas "
            "kernel for ULID interop",
            "ULIDStringToDateTime generateULID",
        ),
        # (plain 1-arg mapSort/mapReverseSort are mapped in TEMPLATES;
        # their comparator-lambda forms reject via the surplus-argument
        # check there)
        (_NO_STATIC_REWRITE,
         "arrayEnumerateUniqRanked arrayEnumerateDenseRanked "
         "arrayNormalizedGini solveLinearEquation mapPartialSort "
         "mapPartialReverseSort"),
        (
            "{name}: Dynamic/Variant/JSON-type introspection is "
            "engine-internal — use "
            "schema_of_json / json_object_keys",
            "distinctDynamicTypes distinctJSONPaths distinctJSONPathsAndTypes "
            "JSONAllPaths JSONAllPathsWithTypes JSONDynamicPaths "
            "JSONDynamicPathsWithTypes JSONSharedDataPaths "
            "JSONSharedDataPathsWithTypes dynamicType dynamicElement "
            "variantType variantElement isDynamicElementInSharedData",
        ),
        (
            "arrayReduceInRanges: per-range re-aggregation — explode the "
            "ranges and use arrayReduce/"
            "aggregate per slice (slice(arr, start, len))",
            "arrayReduceInRanges",
        ),
        (
            "{name}: engine-internal helper (KQL dialect / schema codegen / "
            "CH-dialect "
            "pretty-printer) with no Spark analog",
            "nothing kql_array_sort_asc kql_array_sort_desc "
            "structureToProtobufSchema structureToCapnProtoSchema formatQuery "
            "formatQueryOrNull formatQuerySingleLine "
            "formatQuerySingleLineOrNull flameGraph",
        ),
        (
            "{name}: niche codec without a stdlib-exact implementation here — "
            "base32/base64/base58/"
            "punycode/crc32 are mapped",
            "bech32Encode bech32Decode sqidEncode sqidDecode crc64",
        ),
        (
            "{name}: geometry serialization is out of scope — "
            "pointInPolygon/geohash*/"
            "greatCircleDistance are the mapped geo surface",
            "wkt svg readWKT",
        ),
        (
            "{name}: the aggregate base of a -State value is not inferable "
            "from the argument at translate time — use the explicit "
            "xMerge(col) spelling (supported for "
            "sum/count/min/max/any/anyLast/avg/uniq/uniqExact states), or "
            "compute the final aggregate directly",
            "initializeAggregation finalizeAggregation",
        ),
        (
            "estimateCompressionRatio: estimates CH codec (ZSTD/LZ4/Delta…) "
            "behavior this engine does not ship — parquet's own column "
            "encodings apply here; compare storage via "
            "system.parts/ddl stats instead",
            "estimateCompressionRatio",
        ),
        (
            "icebergHash: Iceberg bucket-transform hashing — use "
            "pmod(xxhash64(x), n) for stable bucketing (same caveat as the "
            "consistent-hash rejects: moving keys "
            "between engines breaks placement anyway)",
            "icebergHash",
        ),
        (
            "{name}: out of scope (WKT parsing / Iceberg partition "
            "transforms) — pointInPolygon and geohash* are the mapped "
            "geo surface",
            "readWKTPoint readWKTPolygon readWKTMultiPolygon readWKTRing "
            "icebergTruncate",
        ),
        (
            "runningConcurrency is BLOCK-ORDER-dependent (deprecated in "
            "ClickHouse itself) — use "
            "maxIntersections or an interval self-join",
            "runningConcurrency",
        ),
        (
            "{name}: arbitrary-byte random strings — use "
            "randomPrintableASCII(n) (mapped) for "
            "printable test data",
            "randomString randomFixedString randomStringUTF8",
        ),
        (
            "{name}: no closed-form single-expression sampler — compose from "
            "randExponential/randNormal/randBernoulli (all mapped), e.g. "
            "lognormal = exp(randNormal(m, s))",
            "randPoisson randBinomial randNegativeBinomial randChiSquared "
            "randStudentT randFisherF randLogNormal",
        ),
        (
            "{name}: RAW re-serialization — get_json_object unquotes scalars; "
            "use "
            "from_json with an explicit Spark schema",
            "JSONExtractArrayRaw JSONExtractKeysAndValuesRaw",
        ),
        (
            "{name}: no static Spark rewrite — emptyArrayToSingle's default "
            "element is TYPE-dependent (invisible to a text rewrite); "
            "groupArrayInsertAt: "
            "map_from_entries(collect_list(struct(pos, x)))",
            "emptyArrayToSingle groupArrayInsertAt",
        ),
        (
            "JSONType: Spark's JSON reader has no type introspection — branch "
            "on try-parses (json_array_length IS NOT NULL → Array, "
            "json_object_keys IS NOT NULL → Object)",
            "JSONType",
        ),
        (
            "javaHashUTF16LE: users of this spelling expect EXACT Java "
            "hashCode over UTF-16LE bytes, which the BMP-scoped javaHash "
            "mapping cannot promise — use javaHash (exact for BMP "
            "strings) or xxhash64 for fingerprints",
            "javaHashUTF16LE",
        ),
        (
            "JSONRemoveDynamoDBAnnotations: DynamoDB export-format rewriter — "
            "transform the JSON "
            "with from_json/to_json on an explicit schema",
            "JSONRemoveDynamoDBAnnotations",
        ),
        (
            "nested: constructs CH Nested-type column groups "
            "(engine-internal) — use "
            "arrays_zip/struct arrays",
            "nested",
        ),
        (
            "{name}: signal-processing kernels (STL decomposition / FFT "
            "periodograms) are out of scope — compute with numpy in a pandas "
            "UDF "
            "over the collected series if needed",
            "seriesDecomposeSTL seriesOutliersDetectTukey "
            "seriesPeriodDetectFFT",
        ),
        (
            "{name}: digest not available in the OpenSSL/hashlib baseline — "
            "use MD5/SHA-2 (mapped) or "
            "xxhash64 for non-cryptographic fingerprints",
            "MD4 RIPEMD160 BLAKE3",
        ),
        (
            "{name}: algorithm-specific bucket placement (moving keys between "
            "engines breaks the consistency property anyway) — use "
            "pmod(xxhash64(x), n) for stable bucketing",
            "kostikConsistentHash yandexConsistentHash jumpConsistentHash",
        ),
        (
            "byteSwap: WIDTH-dependent (a UInt32 swap and a UInt64 swap "
            "differ) — write the width as a typed cast, byteSwap(toUInt32(x)) "
            "(8/16/32-bit mapped, r12); 64-bit stays rejected (the swapped "
            "UInt64 exceeds BIGINT) — compose "
            "shiftleft/shiftrightunsigned masks for that",
            "byteSwap",
        ),
        # wave 8 (25.9, experimental): the OKLab hue/gamma conventions
        # aren't pinned by CH docs yet — no parity target to implement
        # against
        (
            "{name}: experimental color-space conversion with unpinned output "
            "conventions — compute the OKLab transform explicitly "
            "over the (r, g, b) columns",
            "colorSRGBToOKLCH colorOKLCHToSRGB",
        ),
        (_GEOBASE, "regionIn regionHierarchy"),
        (
            "{name}() table function: remote-storage access goes through the "
            "cluster's Hadoop FS config — read with spark.read against the fs "
            "URL and pass "
            "the DataFrame as a view",
            "s3 url hdfs azureBlobStorage gcs s3Cluster remote "
            "remoteSecure cluster clusterAllReplicas",
        ),
        (
            "{name}: needs the public-suffix list (a data file, not a "
            "function) — join against a "
            "suffix table instead",
            "firstSignificantSubdomain cutToFirstSignificantSubdomain "
            "cutToFirstSignificantSubdomainWithWWW "
            "firstSignificantSubdomainCustom",
        ),
        (
            "demangle: C++ ABI demangling is "
            "engine-internal",
            "demangle",
        ),
        (
            "{name}: RAW JSON-text extraction has no faithful Spark analog "
            "(get_json_object unquotes scalars) — use the typed JSONExtract* "
            "family or from_json with an "
            "explicit schema",
            "JSONExtractRaw",
        ),
        (
            "{name}: rotation width is the CH INTEGER TYPE's width — write it "
            "as a typed cast, {name}(toUInt32(x), n) (8/16/32-bit mapped, "
            "r12); 64-bit rotation can set the sign bit past BIGINT's "
            "unsigned range — compose "
            "shiftleft/shiftrightunsigned masks for that",
            "bitRotateLeft bitRotateRight",
        ),
        (
            "toRelativeWeekNum: no faithful static rewrite (the epoch "
            "alignment is engine-defined) — use toStartOfWeek or "
            "dateDiff('week', …) instead",
            "toRelativeWeekNum",
        ),
        (
            "dictGetAll: returns EVERY match of a RegExpTree dictionary "
            "(unsupported layout) — express the rule set as a table and use a "
            "JOIN, or dictGet for single-value lookups",
            "dictGetAll",
        ),
        (
            "{name}: hierarchical-dictionary traversal is recursive — flatten "
            "the hierarchy at load "
            "or use an iterative self-join",
            "dictGetHierarchy dictGetChildren dictGetDescendants dictIsIn",
        ),
        (
            "quantilePrometheusHistogram: needs Prometheus bucket metadata — "
            "compute from the raw "
            "observations with quantileExact*/quantileGK",
            "quantilePrometheusHistogram",
        ),
        (
            "{name}: needs 128-bit address arithmetic — use "
            "isIPAddressInRange (mapped) for "
            "membership tests, or IPv4CIDRToRange for v4",
            "cutIPv6 IPv6CIDRToRange",
        ),
        (
            "{name}: evaluates a server-side ML model artifact — export the "
            "model and score with a "
            "pandas_udf instead",
            "evalMLMethod catboostEvaluate",
        ),
        (
            "{name}: server-catalog introspection — use "
            "spark.catalog / DESCRIBE from the driver",
            "hasColumnInTable errorCodeToName",
        ),
    )
    for name in names.split()
}

# Call name → handler. The single-paren call and the parameterized call
# ``name(params)(args)`` of a name share its entry.
_CALLS: dict[str, Callable[[Call], str]] = {
    **{name: _rejecting(msg) for name, msg in _REJECTS.items()},
    **_by_name((
        (_multi_if, "multiIf"),
        (_count, "count"),
        (_tuple, "tuple"),
        (_transform, "transform"),
        (_format_readable_quantity, "formatReadableQuantity"),
        (_array_reduce, "arrayReduce"),
        (_range, "range"),
        (_to_string, "toString"),
        (_moving_agg, "groupArrayMovingSum groupArrayMovingAvg"),
        (_map_agg, "sumMap minMap maxMap countMap avgMap sumMapWithOverflow "
                   "minMapWithOverflow maxMapWithOverflow sumMappedArrays "
                   "minMappedArrays maxMappedArrays"),
        (_map_agg_if, "sumMapIf minMapIf maxMapIf countMapIf avgMapIf"),
        (_matrix_agg, "corrMatrix covarSampMatrix covarPopMatrix"),
        (_group_array_last, "groupArrayLast"),
        (_time_decayed, "exponentialTimeDecayedAvg exponentialTimeDecayedSum "
                        "exponentialTimeDecayedCount "
                        "exponentialTimeDecayedMax"),
        (_seq_next_node, "sequenceNextNode"),
        (_sparkbar, "sparkbar"),
        (_ttest, "studentTTest welchTTest"),
        (_mann_whitney, "mannWhitneyUTest"),
        (_mean_ztest, "meanZTest"),
        (_assoc, "cramersV cramersVBiasCorrected theilsU contingency"),
        (_proportions_ztest, "proportionsZTest"),
        (_min_sample_size, "minSampleSizeConversion minSampleSizeContinuous "
                           "minSampleSizeContinous"),
        (_civ, "categoricalInformationValue"),
        (_lttb, "largestTriangleThreeBuckets lttb"),
        (_quantile_gk, "quantileGK quantilesGK quantileDD"),
        (_exact_quantile, "quantileExact quantilesExact quantileExactLow "
                          "quantileExactHigh quantileExactExclusive "
                          "quantilesExactLow quantilesExactHigh "
                          "quantilesExactExclusive"),
        (_params_only(_sum_map_filtered),
         "sumMapFiltered sumMapFilteredWithOverflow"),
        (_params_only(_uniq_combined), "uniqCombined uniqCombined64"),
        (_params_only(lambda c: _window_funnel_sql(c.params, c.args)),
         "windowFunnel"),
        (_params_only(
            lambda c: _sequence_match_sql(c.name, c.params, c.args)),
         "sequenceMatch sequenceCount"),
        (_params_only(_sequence_match_events), "sequenceMatchEvents"),
        (_geohash_encode, "geohashEncode"),
        (_geohash_decode, "geohashDecode"),
        (_point_in_polygon, "pointInPolygon"),
        (_geohashes_in_box, "geohashesInBox"),
        (_tuple_arith, "tuplePlus tupleMinus tupleMultiply tupleDivide "
                       "tupleIntDiv tupleModulo vectorSum vectorDifference"),
        (_tuple_scalar, "tupleNegate tupleMultiplyByNumber "
                        "tupleDivideByNumber tupleIntDivByNumber "
                        "tupleModuloByNumber"),
        (_to_year_week, "toYearWeek"),
        (_multi_fuzzy_match, "multiFuzzyMatchAny multiFuzzyMatchAnyIndex "
                             "multiFuzzyMatchAllIndices "
                             "multiFuzzyMatchAnyUTF8 "
                             "multiFuzzyMatchAnyIndexUTF8 "
                             "multiFuzzyMatchAllIndicesUTF8"),
        (_extract_all_groups, "extractAllGroupsHorizontal "
                              "extractAllGroupsVertical extractAllGroups"),
        (_map_apply, "mapApply"),
        (_stem, "stem"),
        (_array_split, "arraySplit arrayReverseSplit"),
        (_json_keys_and_values, "JSONExtractKeysAndValues"),
        (_xxhash, "cityHash64 sipHash64 farmHash64 farmFingerprint64 "
                  "metroHash64 halfMD5 sipHash128 cityHash128 murmurHash2_64 "
                  "murmurHash3_64 murmurHash3_128 wyHash64 gccMurmurHash "
                  "kafkaMurmurHash "
                  # wave 8: the keyed/reference SipHash spellings share
                  # the stable-uniform contract (and the same non-parity)
                  "sipHash64Keyed sipHash128Keyed sipHash128Reference "
                  "sipHash128ReferenceKeyed"),
        (_make_datetime64, "makeDateTime64"),
        (_byte_swap, "__byteSwapu8 __byteSwapu16 __byteSwapu32 __byteSwaps8 "
                     "__byteSwaps16 __byteSwaps32"),
        (_round_bankers, "roundBankers"),
        (_split_by_string, "splitByString"),
        (_date_name, "dateName"),
        (_cast_variant, "accurateCast accurateCastOrNull "
                        "accurateCastOrDefault"),
        (_to_week, "toWeek"),
        (_numbers, "numbers"),
        (_lag_in_frame, "lagInFrame leadInFrame"),
        (_non_negative_derivative, "nonNegativeDerivative"),
        (_date_diff, "dateDiff age timestampDiff timestamp_diff"),
        (_to_start_of_interval, "toStartOfInterval"),
        (_tumble, "tumble tumbleStart tumbleEnd"),
        (_to_interval, "toInterval"),
        (_format_datetime, "formatDateTime"),
        (_extract, "extract extractAll"),
        (_file, "file"),
        (_date_add, "dateAdd dateSub timestampAdd timestampSub timestamp_add "
                    "timestamp_sub"),
        (_decimal_arith, "multiplyDecimal divideDecimal"),
        (_now64, "now64"),
        (_extract_groups, "extractGroups"),
        (_aes, "encrypt decrypt aes_encrypt_mysql aes_decrypt_mysql"),
        (_map_concat, "mapConcat"),
        (_parse_datetime, "parseDateTime parseDateTimeOrNull "
                          "parseDateTimeOrZero"),
        (_html_decode, "decodeHTMLComponent"),
        (_str_kernel, " ".join(_STR_KERNELS)),
        (_morton_encode, "mortonEncode"),
        (_morton_decode, "mortonDecode"),
        (_hilbert_encode, "hilbertEncode"),
        (_hilbert_decode, "hilbertDecode"),
        (_sim_kernel, " ".join(_SIM_KERNELS)),
        (_to_decimal_string, "toDecimalString"),
        (_regexp_quote_meta, "regexpQuoteMeta"),
        (_bit_slice, "bitSlice"),
        (_tuple_element, "tupleElement"),
        (_untuple, "untuple"),
        (_dict_get, "dictGet dictGetOrNull dictGetOrDefault"),
        (_overlay, "overlay overlayUTF8"),
        (_uuid_to_num, "UUIDToNum"),
        (_dict_has, "dictHas"),
        (_throw_if, "throwIf"),
        (_group_concat, "groupConcat"),
        (_join_get, "joinGet joinGetOrNull"),
        (_snowflake_to_datetime, "snowflakeIDToDateTime "
                                 "snowflakeIDToDateTime64"),
        (_datetime64_to_snowflake, "dateTime64ToSnowflakeID"),
        (_datetime_to_snowflake, "dateTimeToSnowflakeID"),
        (_array_shift, "arrayShiftLeft arrayShiftRight"),
        (_bit_test, "bitTestAll bitTestAny"),
        (_array_sort, "arraySort arrayReverseSort"),
        (_array_partial_sort, "arrayPartialSort arrayPartialReverseSort"),
        (_trunc, "trunc truncate"),
        (_format, "format"),
        (_json_extract, "JSONExtract"),
        (_to_decimal256, "toDecimal256"),
        (_to_datetime64, "toDateTime64"),
        (_make_date, "makeDate makeDate32"),
        (_array_partial_shuffle, "arrayPartialShuffle"),
        (_change_part, " ".join(_CHANGE_PARTS)),
        (_cut_url_parameter, "cutURLParameter"),
        (_uuid_v7, "generateUUIDv7"),
        (_top_k, "topK"),
        (_replace_regexp_one, "replaceRegexpOne"),
        (_container_size, "length empty notEmpty"),
        (_array_element, "arrayElement arrayElementOrNull"),
        (_median_array, "medianArray"),
        (_retention, "retention"),
        (_case_with_expression, "caseWithExpression"),
        (_distinct_if, "countIfDistinct countDistinctIf sumDistinctIf "
                       "sumIfDistinct"),
        (_json_merge_patch, "JSONMergePatch"),
    )),
}

_MEDIANS = ("median", "medianExact", "medianTDigest", "medianTiming")
_OR_NULL_BASES = ("sum", "avg", "min", "max", "any", "anyLast", "count",
                  "uniq", "uniqExact")
_OR_DEFAULT_BASES = ("sum", "count", "avg", "min", "max", "any", "anyLast")
_DISTINCT_BASES = ("sum", "avg", "count", "min", "max", "groupArray")
_ARRAY_BASES = ("sum", "min", "max", "count", "avg")
_TYPED_DICT_GET = re.compile(
    r"dictGet(U?Int(8|16|32|64)|Float(32|64)|String"
    r"|Date|DateTime|UUID|IPv4|IPv6)(OrDefault)?"
)

# Prefix and suffix families, in the order they are tried when a name
# misses _CALLS and TEMPLATES/RENAMES: (claims(call), handler).
_FAMILIES: tuple = (
    (lambda c: c.name.lower().endswith(("argmin", "argmax"))
     and c.name[:-6] in _ARG_EXTREME_BASES and len(c.args) == 2,
     _arg_extreme),
    (lambda c: c.name.endswith(("IfOrNull", "OrNullIf"))
     and c.name[:-8] in _OR_NULL_IF_BASES and len(c.args) >= 2,
     _if_or_null),
    # the r13 exact tier maps the documented family (TEMPLATES + the
    # groupBitmap* state bases); this catches the unmapped tail / arity
    # typos
    (lambda c: c.name.startswith(("bitmap", "groupBitmap"))
     and not c.name.endswith(("State", "Merge", "MergeState")),
     _rejecting(
         "{name}: not in the mapped bitmap family — bitmaps are sorted "
         "distinct arrays here (bitmapBuild/To Array/Cardinality/Min/Max/"
         "Contains/HasAny/HasAll/And/Or/Xor/Andnot(+Cardinality)/"
         "SubsetInRange/SubsetLimit/subBitmap/Transform, "
         "groupBitmap[And|Or|Xor][State|Merge|MergeState] are mapped)"
     )),
    (lambda c: c.name.startswith("quantile")
     and isinstance(PARAMETERIZED.get(c.name), str)
     and "{p1}" not in PARAMETERIZED[c.name]
     and "{params" not in PARAMETERIZED[c.name],
     _quantile_level),
    (lambda c: c.name.startswith(("h3", "s2")), _rejecting(_GEO_COVERING)),
    (lambda c: c.name.startswith("reinterpretAs"), _rejecting(_REINTERPRET)),
    # remaining tuple-typed tail (concat/flatten/name-value
    # introspection) — still needs field enumeration a text rewrite
    # cannot do generally
    (lambda c: c.name.startswith("tuple") and c.name[5:6].isupper()
     and c.name != "tupleElement",
     _rejecting(_TUPLE_FIELDS)),
    (lambda c: c.name.startswith("multiFuzzyMatch"), _rejecting(
        "{name}: only the 3-arg literal-pattern forms map "
        "(Any/AnyIndex/AllIndices, Sellers DP kernel) — for plain regex use "
        "multiMatchAny (mapped) or the editDistance/ngramSearch kernels"
    )),
    (lambda c: c.name.startswith((
        "lemmatize", "synonyms", "detectLanguage", "detectCharset",
        "detectProgrammingLanguage", "detectTonality")),
     _rejecting(
         "{name}: needs NLP model files — for language ID use "
         "operators/textstats.py's n-gram heuristic (the pipeline's langid "
         "operator)"
     )),
    (lambda c: c.name.startswith((
        "wordShingleSimHash", "wordShingleMinHash", "ngramSimHash",
        "ngramMinHash")),
     _rejecting(
         "{name}: sketch-hash scalars are mapped as OPERATORS — "
         "operators/dedup.py simhash_dedup / minhash_lsh_dedup (fused Arrow "
         "kernels with recall contracts)"
     )),
    # the *ExtractString forms are mapped in TEMPLATES (top-level-path
    # delta accepted in an earlier round); the REST of the family
    # rejects
    (lambda c: c.name.startswith(("simpleJSON", "visitParam")), _rejecting(
        "{name}: the simpleJSON/visitParam family matches the FIRST key "
        "occurrence at ANY depth (not a path) — get_json_object cannot "
        "reproduce that; use JSONExtract* (mapped, top-level path semantics)"
    )),
    # wave 8: the Hashes/UTF8 variants silently passed through to
    # UNRESOLVED_ROUTINE before — same reject as the base tokenizer
    (lambda c: c.name.startswith("sparseGrams"), _rejecting(
        "{name}: CH-specific sparse n-gram tokenizer — use tokens()/ngrams() "
        "(mapped) or the operators/dedup shingle kernels"
    )),
    # wave 8 (25.7, experimental): bit-sliced-index vector family
    (lambda c: c.name.startswith("numericIndexedVector"), _rejecting(
        "{name}: experimental BSI vector type — model the vector as "
        "map<int,double> and use the map/transform functions, or groupArray"
    )),
    (lambda c: re.fullmatch(r"to\w+Or(Null|Zero|Default)", c.name),
     _cast_variant),
    (lambda c: c.name.startswith("regionTo"), _rejecting(_GEOBASE)),
    (lambda c: c.name.startswith(("__bitRotL", "__bitRotR"))
     and len(c.args) == 2,
     _bit_rotate),
    (lambda c: _TYPED_DICT_GET.fullmatch(c.name), _dict_get_typed),
    # 25.6 experimental PromQL-resampling family
    (lambda c: c.name.startswith("timeSeries") and (
        c.name.endswith("ToGrid") or c.name == "timeSeriesFromGrid"),
     _rejecting(
         "{name}: the experimental PromQL grid-resampling family needs "
         "aligned-grid state — resample declaratively: group by "
         "toStartOfInterval(ts, INTERVAL n SECOND) and fill gaps with ORDER "
         "BY … WITH FILL"
     )),
    # -State/-Merge combinators (round 12): supported for the plain-state
    # bases (sum/count/min/max/any/anyLast/avg/uniq/uniqExact — see
    # _STATE_SQL); everything else still rejects loudly inside
    # _state_combinator_sql with the alternatives.
    (lambda c: c.name[:1].islower() and c.name.endswith(
        ("State", "Merge", "MergeState", "SimpleState")),
     lambda c: _state_combinator_sql(c.name, c.args)),
    # single-paren spelling — the combinator REQUIRES the parameterized
    # form
    (lambda c: c.name[:1].islower() and c.name.endswith("Resample"),
     _rejecting(
         "{name}: use the parameterized form {name}(start, end, step)(args…, "
         "key)"
     )),
    (lambda c: c.name.endswith("Distinct")
     and c.name[: -len("Distinct")] in _DISTINCT_BASES
     and len(c.args) == 1,
     _distinct_combinator),
    (lambda c: (c.name.endswith("Array")
                and c.name[: -len("Array")] in _ARRAY_BASES
                and len(c.args) == 1)
     or (c.name.endswith("ArrayIf")
         and c.name[: -len("ArrayIf")] in _ARRAY_BASES
         and len(c.args) == 2),
     _array_combinator),
    (lambda c: c.name.endswith("OrNull") and (
        c.name[:-6] in _OR_NULL_BASES
        or (c.name[:-6] in _MEDIANS and len(c.args) == 1)),
     _or_null),
    (lambda c: c.name.endswith("OrDefault")
     and c.name[:-9] in _OR_DEFAULT_BASES,
     _or_default),
    (lambda c: c.name.startswith(("polygon", "multiPolygon")), _rejecting(
        "{name}: computational-geometry family (boost::geometry in CH) — out "
        "of scope; pointInPolygon IS mapped for containment"
    )),
    (lambda c: c.name.endswith("If") and c.name[:-2] in IF_COMBINABLE
     and len(c.args) >= 2,
     _if_combinator),
)


def _join_type_default_sql(spark_type: str | None) -> str:
    """CH type-default literal for a joinGet miss, from a Spark
    simpleString type."""
    t = (spark_type or "").lower()
    if t.startswith(("tinyint", "smallint", "int", "bigint", "float",
                     "double", "decimal")):
        return "0"
    if t.startswith("boolean"):
        return "false"
    if t.startswith("date"):
        return "DATE '1970-01-01'"
    if t.startswith("timestamp"):
        return "TIMESTAMP '1970-01-01 00:00:00'"
    if t.startswith("array"):
        return f"CAST(array() AS {spark_type})"
    return "''"


def join_table(df: DataFrame, key_cols: list[str]) -> JoinTable:
    """``df`` as a CH ``Join(ANY, LEFT, keys)``-engine table for a
    context's ``join_tables``, which ``joinGet('name', 'attr', keys…)``
    reads as a correlated scalar subquery (Catalyst decorrelates it,
    AQE broadcasts the small side, as CH's in-memory hash table).

    Join(ANY, …) stores ONE row per key; CH keeps the first inserted,
    which is read-order here — so the dedup picks the TOTAL-ORDER
    minimum over every column (the same determinism contract as
    ``ANY JOIN`` / ``joins.any_join``).
    """
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(*key_cols).orderBy(*list(df.columns))
    ded = (
        df.withColumn("__jt_rn", F.row_number().over(w))
        .filter("__jt_rn = 1")
        .drop("__jt_rn")
    )
    return JoinTable(
        ded,
        tuple(key_cols),
        {f.name: f.dataType.simpleString() for f in df.schema.fields},
    )


def dictionary(df: DataFrame, key_col: str) -> DataFrame:
    """``df`` as a CH-style dictionary for ``dictGet``, for a context's
    ``frames`` under the dictionary's name. The key column becomes
    ``__key``, so ``dictGet('name', 'attr', expr)`` is a correlated
    scalar subquery that needs no schema; Catalyst decorrelates it into
    a join and AQE broadcasts the dictionary side, as CH serves dictGet
    from an in-memory hash."""
    return df.withColumnRenamed(key_col, "__key")


# Words after a table reference that are not its alias.
_NOT_ALIAS = _CLAUSE_WORDS | _JOIN_WORDS | {
    "CLUSTER", "DISTRIBUTE", "LATERAL", "MINUS", "ON", "PIVOT", "SORT",
    "TABLESAMPLE", "UNPIVOT", "USING",
}


class TableRef(NamedTuple):
    """A table name in ``sql[start:end]``, in the clause ``clause``
    (FROM or JOIN); ``aliased`` when an alias follows it."""

    start: int
    end: int
    name: str
    aliased: bool
    clause: str


def _table_refs(sql: str, names: Collection[str]) -> list[TableRef]:
    """Every word of ``sql`` in a table position — the first word of a
    FROM list item or of a join, in the clause map of the statement or
    of any parenthesized query in it — that is one of ``names``
    (case-insensitively, as Spark resolves views), unless a CTE of that
    name is defined before it. A word followed by ``.`` or ``(`` is no
    table reference."""
    if not names:
        return []
    toks = lex(sql)
    starts, ends, depths = toks.starts, toks.ends, toks.depths
    n = len(starts)

    def word(k: int) -> str | None:
        return sql[starts[k] : ends[k]].upper() if toks.is_word(k) else None

    by_lower = {name.lower(): name for name in names}
    cte_ends: dict[str, int] = {}  # WITH <cte> AS (…): where (…) ends
    for k in range(n - 2):
        cte = word(k)
        if cte and word(k + 1) == "AS" and sql[starts[k + 2]] == "(":
            cte_ends.setdefault(cte, toks.partner.get(starts[k + 2], 0))
    queries = [(0, len(sql))] + [
        (s + 1, toks.partner[s]) for k, s in enumerate(starts[:-1])
        if sql[s] == "(" and s in toks.partner and word(k + 1) in _QUERY_HEADS
    ]
    refs = []
    for lo, hi in queries:
        for c in (c for b in toks.clauses(lo, hi) for c in b.clauses):
            if c.name == "FROM":
                items = toks.spans(c.body, c.end)
            elif c.name == "JOIN":
                items = toks.spans(c.body, c.end)[:1]
            else:
                continue
            for a, z in items:
                k = toks.at(a)
                w = word(k) if a < z else None
                name = w and by_lower.get(w.lower())
                if name and not (k + 1 < n and sql[starts[k + 1]] in ".(") \
                        and starts[k] <= cte_ends.get(w, len(sql)):
                    nxt = word(k + 1) if k + 1 < n and starts[k + 1] < z \
                        else None
                    refs.append(TableRef(
                        starts[k], ends[k], name,
                        nxt is not None and nxt not in _NOT_ALIAS, c.name))
                if any(word(t) == "LATERAL" and depths[t] == depths[k]
                       for t in range(k, toks.at(z))):
                    break  # the aliases of a LATERAL VIEW follow
    return sorted(refs)


def ch_sql(
    spark: SparkSession,
    sql: str,
    ctx: QueryContext = EMPTY_CONTEXT,
    *,
    views: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """Run a ClickHouse-dialect SELECT on Spark over the frames of
    ``ctx`` plus ``views`` (name → DataFrame).

    The one binder: each frame a table position names is bound under a
    fresh view name for this call (as PySpark's ``spark.sql(text,
    **frames)`` does), and the reference becomes ``<bound> AS <name>``,
    so qualifiers such as ``kv.k`` still resolve. The views are dropped
    on return; the analyzed DataFrame keeps the plans it read."""
    ctx = ctx.with_views(views or {})
    translated = translate(sql, ctx)
    if "__ch_" in translated:
        # any shared Python kernel (stats CDFs/tests, string
        # encode/decode/similarity) — one registration hook covers
        # them all, and the substring test keeps the common
        # no-kernel path free of the imports
        from clickhouse_modules_spark.functions import (
            aggkernels, stats, strkernels,
        )

        stats.ensure_stat_udfs(spark)
        strkernels.ensure_str_udfs(spark)
        aggkernels.ensure_agg_udfs(spark)
    frames = {**ctx.frames,
              **{name: jt.frame for name, jt in ctx.join_tables.items()}}
    bound: dict[str, str] = {}
    out, pos = [], 0
    try:
        for s, e, name, aliased, _clause in _table_refs(translated, frames):
            if name not in bound:
                bound[name] = f"_ctx_{uuid.uuid4().hex}"
                frames[name].createOrReplaceTempView(bound[name])
            ref = bound[name] if aliased else (
                f"{bound[name]} AS {translated[s:e]}"
            )
            out += [translated[pos:s], ref]
            pos = e
        return spark.sql("".join(out) + translated[pos:])
    finally:
        for name, view in bound.items():
            frames[name].sparkSession.catalog.dropTempView(view)

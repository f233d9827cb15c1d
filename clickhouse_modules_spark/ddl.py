"""ClickHouse table DDL/DML surface over a parquet warehouse.

The query side of this package translates CH-dialect SELECTs
(functions/ch_sql.py); this module adds the statements a ClickHouse
user runs around them — the table lifecycle:

- ``CREATE TABLE … ENGINE = MergeTree()/ReplacingMergeTree(v)/
  SummingMergeTree()/AggregatingMergeTree/[Versioned]CollapsingMergeTree/
  Memory/Log/Null [PARTITION BY e] [ORDER BY (…)] [SAMPLE BY c] [TTL …]
  [SETTINGS …]`` (+ ``AS SELECT`` / ``AS other``); SAMPLE BY must be
  an ORDER BY item, as in CH
- ``INSERT INTO t [(cols)] VALUES …`` / ``INSERT INTO t SELECT …``
- ``ALTER TABLE t DELETE WHERE p`` / ``UPDATE c = e, … WHERE p``
  (mutations), ``ADD/DROP/RENAME/MODIFY COLUMN`` (metadata-only)
- ``OPTIMIZE TABLE t [FINAL] [DEDUPLICATE]``, ``TRUNCATE``, ``DROP``,
  ``RENAME TABLE``, ``EXCHANGE TABLES``, ``ALTER TABLE t DROP/DETACH/
  ATTACH PARTITION <id>`` (partition-level retention)
- ``CREATE MATERIALIZED VIEW mv TO target AS SELECT …`` — CH's
  insert-triggered MV: the stored select runs over EACH INSERTED BATCH
  and appends to the target (the canonical CH streaming-ETL pattern),
  including through an ENGINE=Null source; ``stream_into`` extends the
  same cascade to Structured-Streaming micro-batches (Kafka-engine
  analog).
- ``CREATE DICTIONARY … SOURCE(CLICKHOUSE(TABLE 't'))`` (dictGet over
  a per-query re-read, broadcast-joined), ``CREATE [OR REPLACE] VIEW``.
- ``SELECT`` (incl. ``FROM t FINAL``, ``SAMPLE``, ``INTO OUTFILE``),
  ``EXPLAIN [SYNTAX]``, ``DESCRIBE``, ``SHOW TABLES``, ``SHOW CREATE
  TABLE``, ``EXISTS``; ``run_script`` for ;-separated batches.

``PRIMARY KEY`` parses and is accepted without separate effect: in CH
it is an ORDER BY prefix controlling sparse-index granularity; the
analog here (row-group min/max clustering) derives from ORDER BY
itself, so a distinct prefix changes nothing.

Spark-first mapping (not a MergeTree reimplementation):

- A table is parquet part files under ``{root}/{name}/data`` plus a
  JSON manifest ``meta.json`` (schema, engine, keys, TTL, ``next_seq``,
  the live and the detached part lists). Readers read the live list.
- Every write commits through ``ChWarehouse._commit``: the manifest's
  atomic replace makes new parts visible and old ones invisible at
  once (MergeTree's rename), so a crash leaves the old rows or the new.
- ``ORDER BY`` → rows of every insert are sorted within write tasks,
  so parquet row-group min/max stats cluster on the key: scans with a
  key predicate skip row groups — the honest Spark analog of CH's
  sparse primary index. ``OPTIMIZE`` re-clusters globally
  (repartitionByRange on the key → disjoint file ranges → FILE-level
  skipping), the "merged big part" analog.
- ``PARTITION BY`` → hive-style directory partitioning (partition
  pruning ≈ CH partition pruning). Expression partitions (toYYYYMM…)
  become derived ``_p{i}`` columns, hidden from reads.
- Mutations are copy-on-write rewrites — exactly what CH mutations are
  (rewrite parts) — and PARTITION-PRUNED: only the parts of partitions
  that contain matching rows are rewritten, so a one-partition delete
  on a 100 TB table rewrites one partition.
- ``ALTER ADD/DROP/RENAME/MODIFY COLUMN`` are METADATA-ONLY (CH
  semantics): no data rewrite at any scale; the read path projects
  historical file schemas onto the logical schema (default-fill,
  rename coalesce, type cast).
- Every insert batch carries a constant ``_ch_seq`` (monotone batch
  id, RLE-compressed to ~nothing in parquet) plus a within-batch row
  id ``_ch_rid``: together a TOTAL insert order, so "latest insert
  wins" (versionless Replacing FINAL) and "last state row in the
  block" (Collapsing FINAL) are deterministic even for same-key rows
  inside one INSERT.
- Each merging engine has ONE merge, ``ChWarehouse._merge``, over the
  canonical stored frame: ``SELECT … FROM t FINAL`` reads it through a
  hidden view registered next to ``t``, and ``OPTIMIZE … FINAL``
  writes it, so the two cannot disagree.

One writer per table: two concurrent writers would each commit a
manifest built from the same predecessor, and the later one wins
(same caveat as sources/registry.compact_table). RENAME, EXCHANGE and
BACKUP/RESTORE move whole table directories and are not atomic.

Reference parity: the reference repo (bgsokolov/clickhouse_modules)
manages users/roles/grants (reconcile/), not tables; the table DDL
surface is SURVEY.md §2C north-star coverage — the statements a CH
user of the reference's cluster runs every day.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field, asdict, replace

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType

from clickhouse_modules_spark.functions.ch_sql import (
    CH_SCALAR_SPARK,
    STATE_BASES,
    QueryContext,
    _table_refs,
    agg_sql_for_role,
    ch_sql,
    dictionary,
    lex,
    translate,
)

# ---------------------------------------------------------------------------
# CH type → Spark type
# ---------------------------------------------------------------------------

_REJECT_TYPES = {
    "UInt128": "exceeds decimal(38) — no lossless Spark scalar",
    "Int256": "exceeds decimal(38) — no lossless Spark scalar",
    "UInt256": "exceeds decimal(38) — no lossless Spark scalar",
    # top-level AggregateFunction COLUMNS are handled in
    # _parse_column_entry (round 12: sum/count/min/max/any/anyLast/
    # avg/uniq/uniqExact states have real Spark value types); this
    # reject only fires for NESTED occurrences (Array(AggregateFunction
    # …) etc.) and unsupported bases
    "AggregateFunction": "partial-aggregate states nest inside a "
    "container type — store the state as a top-level column "
    "(supported bases: sum/count/min/max/any/anyLast/avg/uniq/"
    "uniqExact), or use SimpleAggregateFunction for plain values",
    "Point": "geo types unsupported",
    "Ring": "geo types unsupported",
    "Polygon": "geo types unsupported",
}


def ch_type_to_spark(t: str) -> tuple[str, bool]:
    """Parse a ClickHouse type string → (Spark DDL type, nullable).

    Wrappers: ``Nullable(X)`` sets nullability; ``LowCardinality(X)``
    is transparent (parquet dictionary encoding is automatic in Spark —
    the storage trick LowCardinality performs is free here).
    Composites: Array/Map/Tuple/Nested recurse; unnamed Tuple elements
    get CH's positional names ``col1..colN`` (what ``tuple()``/``.1``
    translate to on the query side). ``Enum8/16`` store the SYMBOL as
    string (the readable surface; CH hides the int mapping on SELECT
    anyway). Unrepresentable types raise with the reason.
    """
    t = t.strip()
    m = re.match(r"^(\w+)\s*\((.*)\)$", t, re.S)
    head, inner = (m.group(1), m.group(2)) if m else (t, None)
    if head in _REJECT_TYPES:
        raise ValueError(f"CH type {head}: {_REJECT_TYPES[head]}")
    if head == "Nullable":
        sub, _ = ch_type_to_spark(inner)
        return sub, True
    if head == "LowCardinality":
        return ch_type_to_spark(inner)
    if head == "Array":
        sub, _ = ch_type_to_spark(inner)
        return f"array<{sub}>", False
    if head == "Map":
        k, v = lex(inner).split()
        ks, _ = ch_type_to_spark(k)
        vs, _ = ch_type_to_spark(v)
        return f"map<{ks},{vs}>", False
    if head in ("Tuple", "Nested"):
        fields = []
        for i, part in enumerate(lex(inner).split()):
            fm = re.match(r"^([A-Za-z_]\w*)\s+(.+)$", part.strip(), re.S)
            if fm and not re.match(r"^(Nullable|LowCardinality|Array|Map|Tuple)$", fm.group(1)):
                fname, ftype = fm.group(1), fm.group(2)
            else:
                fname, ftype = f"col{i + 1}", part
            fs, _ = ch_type_to_spark(ftype)
            fields.append(f"{fname}:{fs}")
        struct = f"struct<{','.join(fields)}>"
        if head == "Nested":  # CH Nested is arrays-of-struct semantics
            return f"array<{struct}>", False
        return struct, False
    if head in ("Enum8", "Enum16", "Enum"):
        return "string", False
    if head == "FixedString":
        return "string", False  # length not enforced (CH pads with \0)
    if head == "Decimal":
        p, s = [x.strip() for x in lex(inner).split()]
        if int(p) > 38:
            raise ValueError(f"Decimal({p},{s}): precision > 38")
        return f"decimal({p},{s})", False
    if head in ("Decimal32", "Decimal64", "Decimal128", "Decimal256"):
        # Decimal256 capped at Spark's decimal(38) — the same
        # documented cap the translator's toDecimal256 applies; a CH
        # scale past 38 cannot fit the capped precision, so it rejects
        # HERE with the reason (Spark's later error is inscrutable)
        prec = {"Decimal32": 9, "Decimal64": 18, "Decimal128": 38,
                "Decimal256": 38}[head]
        if head == "Decimal256" and int(inner.strip()) > 38:
            raise ValueError(
                f"Decimal256({inner.strip()}): scale exceeds the "
                "decimal(38) cap Spark can represent"
            )
        return f"decimal({prec},{inner.strip()})", False
    if head == "DateTime64":
        # precision beyond 6 truncates to Spark's µs timestamps
        return "timestamp", False
    if head == "DateTime":
        return "timestamp", False  # DateTime('tz') — session tz is UTC
    if inner is None and head in CH_SCALAR_SPARK:
        return CH_SCALAR_SPARK[head], False
    raise ValueError(f"unsupported ClickHouse type: {t!r}")


def _type_default(spark_type: str, nullable: bool) -> str:
    """CH's implicit column default as a Spark SQL expression: type
    defaults (0 / '' / epoch / empty container), NULL when Nullable."""
    if nullable:
        return f"cast(NULL as {spark_type})"
    st = spark_type.lower()
    if st.startswith(("array", "map")):
        return f"cast({'array()' if st.startswith('array') else 'map()'} as {spark_type})"
    if st.startswith("struct") :
        return f"cast(NULL as {spark_type})"
    if st == "string":
        return "''"
    if st == "boolean":
        return "false"
    if st == "date":
        return "DATE'1970-01-01'"
    if st == "timestamp":
        return "TIMESTAMP'1970-01-01 00:00:00'"
    return f"cast(0 as {spark_type})"


# ---------------------------------------------------------------------------
# Metadata model
# ---------------------------------------------------------------------------


@dataclass
class ColumnMeta:
    name: str
    ch_type: str
    spark_type: str
    nullable: bool = False
    kind: str = "plain"  # plain | materialized | alias
    default: str | None = None  # translated Spark SQL expr
    stored: list[str] = field(default_factory=list)  # historical names
    # SimpleAggregateFunction(fn, T) merge function (sum|min|max|any|
    # anyLast) — drives FINAL/OPTIMIZE collapse on AggregatingMergeTree
    agg_func: str | None = None
    # batch id (_ch_seq) at which this column was ALTER-ADDed: batches
    # below it predate the column and read its DEFAULT, not NULL —
    # distinguishes "row written before the column existed" from "row
    # with an explicit NULL" without rewriting a byte (CH's lazy
    # default materialization)
    added_seq: int | None = None


@dataclass
class TableMeta:
    name: str
    columns: list[ColumnMeta]
    engine: str = "MergeTree"
    version_col: str | None = None  # Replacing/VersionedCollapsing(… v)
    sum_cols: list[str] = field(default_factory=list)  # SummingMergeTree
    sign_col: str | None = None  # [Versioned]CollapsingMergeTree(sign)
    order_by: list[str] = field(default_factory=list)
    partition_exprs: list[str] = field(default_factory=list)  # translated
    partition_cols: list[str] = field(default_factory=list)
    sample_by: str | None = None
    ttl: str | None = None  # translated expiry-instant expr
    settings: str | None = None
    next_seq: int = 0
    schema_evolved: bool = False
    # part files relative to data/ (``_p0=202401/part-….parquet``):
    # the live ones are the table; detached ones stay on disk unread
    parts: list[str] = field(default_factory=list)
    detached: list[str] = field(default_factory=list)

    def column(self, name: str) -> ColumnMeta:
        for c in self.columns:
            if c.name == name:
                return c
        raise ValueError(f"table {self.name}: no column {name!r}")

    def logical_columns(self) -> list[ColumnMeta]:
        return list(self.columns)

    def stored_columns(self) -> list[ColumnMeta]:
        return [c for c in self.columns if c.kind != "alias"]


_ENGINE_FAMILIES = {
    "MergeTree": "merge",
    "ReplacingMergeTree": "replacing",
    "SummingMergeTree": "summing",
    "CollapsingMergeTree": "collapsing",
    "VersionedCollapsingMergeTree": "collapsing",
    "AggregatingMergeTree": "aggregating",
    "TinyLog": "merge",
    "StripeLog": "merge",
    "Log": "merge",
    "Memory": "merge",
    "Null": "null",
}
# engines whose parts merge: FINAL reads and OPTIMIZE FINAL writes _merge
_MERGING = {
    e for e, f in _ENGINE_FAMILIES.items() if f not in ("merge", "null")
}

_PART_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _partition_source_cols(meta: "TableMeta", logical: list[str]) -> set:
    """Logical columns referenced anywhere in the table's PARTITION BY
    expression(s). CH's ``isInPartitionKey`` rule excludes every
    column that is PART OF the partition key expression from
    SummingMergeTree summation (SummingSortedAlgorithm), not just
    bare-column partition keys — with ``PARTITION BY intDiv(d, 10)``,
    ``d`` must not be summed (r13 ADVICE: the bare-column check missed
    expression keys because partition_cols holds the synthetic _p{i}
    name)."""
    logical_set = set(logical)
    refs: set = set()
    for pe in meta.partition_exprs:
        for tok in _PART_IDENT_RE.findall(pe):
            if tok in logical_set:
                refs.add(tok)
    return refs


# ---------------------------------------------------------------------------
# CREATE TABLE parsing
# ---------------------------------------------------------------------------

_COL_TAIL_KEYWORDS = (
    "DEFAULT",
    "MATERIALIZED",
    "ALIAS",
    "EPHEMERAL",
    "CODEC",
    "COMMENT",
    "TTL",
)

# SimpleAggregateFunction merge functions with plain-valued states.
# sumWithOverflow/groupBitOr/etc. would need wrap-around or bitmap
# semantics Spark aggregates don't share — rejected loudly.
_SAF_FUNCS = {"sum", "min", "max", "any", "anyLast"}


def _sum_storage_type(t: str) -> str:
    """Spark storage type for a partial SUM over input type ``t`` —
    Spark's own sum() widening (integral→bigint, float→double,
    decimal(p,s)→decimal(p+10,s) capped at 38), so INSERT…sumState
    output lands in the declared column without precision loss."""
    tl = t.lower()
    if tl in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    if tl in ("float", "double"):
        return "double"
    m = re.match(r"^decimal\((\d+),(\d+)\)$", tl)
    if m:
        return f"decimal({min(38, int(m.group(1)) + 10)},{m.group(2)})"
    raise ValueError(f"AggregateFunction over {t!r}: not summable")


def _state_storage_type(base: str, inner_ch: str | None) -> str:
    """Spark column type holding an ``AggregateFunction(base, T)``
    partial state (the same representations the ch_sql -State/-Merge
    combinators emit — the two must stay aligned or INSERT…SELECT
    xState() fails schema conformance)."""
    if base == "count":
        return "bigint"
    if inner_ch is None:
        raise ValueError(
            f"AggregateFunction({base}, T): the input type is required"
        )
    t, _ = ch_type_to_spark(inner_ch)
    if base == "sum":
        return _sum_storage_type(t)
    if base == "avg":
        return f"struct<s:{_sum_storage_type(t)},c:bigint>"
    if base == "uniq":
        return "binary"  # Datasketches HLL sketch (hll_sketch_agg)
    if base == "uniqExact":
        return f"array<{t}>"
    if base == "groupBitmap":
        # r13 exact bitmap tier: the state is the sorted distinct
        # element array (see ch_sql _STATE_SQL)
        return f"array<{t}>"
    if base == "groupBitmapOr":
        # aggregates bitmap columns; union preserves the element type
        return f"array<{t}>"
    if base in ("groupBitmapAnd", "groupBitmapXor"):
        # the And/Xor folds seed a BIGINT-typed accumulator, so the
        # stored state is array<bigint> regardless of declared width
        return "array<bigint>"
    return t  # min/max/any/anyLast: the value itself


def _parse_column_entry(entry: str) -> ColumnMeta | None:
    """One column-list entry → ColumnMeta, or None for table-level
    entries (INDEX/PROJECTION/CONSTRAINT — CH skip-indexes have no
    Spark analog to build eagerly; parquet min/max + partition pruning
    play that role, so they parse as no-ops rather than rejecting the
    whole DDL)."""
    entry = entry.strip()
    head = entry.split(None, 1)[0].upper() if entry else ""
    if head in ("INDEX", "PROJECTION", "CONSTRAINT"):
        return None
    m = re.match(r"^(`[^`]+`|\w+)\s+(.*)$", entry, re.S)
    if not m:
        raise ValueError(f"unparseable column entry: {entry!r}")
    name = m.group(1).strip("`")
    rest = m.group(2).strip()
    # split off the first top-level tail keyword
    tail_kind, tail_expr = None, None
    for ws, we, w in lex(rest).words():
        if w.upper() in _COL_TAIL_KEYWORDS and ws > 0:
            tail_kind = w.upper()
            tail_expr = rest[we:].strip()
            rest = rest[:ws].strip()
            break
    # SimpleAggregateFunction(fn, T): the state IS a plain T value (CH
    # doc: "stores the current value of the aggregate"), so the column
    # maps to T with the merge function recorded for FINAL/OPTIMIZE
    # collapse. True AggregateFunction blob states stay rejected.
    agg_func = None
    # AggregateFunction(base[, T]): round 12 — the state has a real
    # Spark value type for the _STATE_SQL bases (see ch_sql), so the
    # column stores it directly; role "state:<base>" drives the
    # -MergeState collapse on FINAL/OPTIMIZE. NULLABLE by design: a
    # merged empty state is NULL (sum/min/… of nothing).
    af = re.match(
        r"^AggregateFunction\s*\(\s*(\w+)\s*(?:,\s*(.+))?\)$", rest, re.S
    )
    if af:
        base, inner_ch = af.group(1), af.group(2)
        if base not in STATE_BASES:
            raise ValueError(
                f"AggregateFunction({base}, …): supported state bases "
                f"are {sorted(STATE_BASES)} — other aggregates' "
                "states are engine-internal serialized structures "
                "(compute the final aggregate, or use an "
                "insert-triggered materialized view)"
            )
        spark_type = _state_storage_type(
            base, inner_ch.strip() if inner_ch else None
        )
        if tail_kind is not None:
            raise ValueError(
                f"AggregateFunction column {name!r}: DEFAULT/"
                "MATERIALIZED/TTL tails are not supported on state "
                "columns — states are produced by -State inserts"
            )
        return ColumnMeta(
            name, rest, spark_type, True, "plain", None,
            agg_func=f"state:{base}",
        )
    saf = re.match(
        r"^SimpleAggregateFunction\s*\(\s*(\w+)\s*,\s*(.+)\)$", rest, re.S
    )
    if saf:
        agg_func = saf.group(1)
        if agg_func not in _SAF_FUNCS:
            raise ValueError(
                f"SimpleAggregateFunction({agg_func}, …): supported "
                f"merge functions are {sorted(_SAF_FUNCS)} — bitmap/"
                "array states need engine-internal representations"
            )
        rest = saf.group(2).strip()
    spark_type, nullable = ch_type_to_spark(rest)
    kind, default = "plain", None
    if tail_kind in ("DEFAULT", "MATERIALIZED", "ALIAS"):
        # the stored expression is pre-translated CH → Spark SQL; any
        # further tail (CODEC/COMMENT) is cosmetic and dropped with it
        for ws, we, w in lex(tail_expr).words():
            if w.upper() in ("CODEC", "COMMENT") and ws > 0:
                tail_expr = tail_expr[:ws].strip()
                break
        default = translate(tail_expr)
        kind = {"DEFAULT": "plain", "MATERIALIZED": "materialized",
                "ALIAS": "alias"}[tail_kind]
    elif tail_kind == "EPHEMERAL":
        raise ValueError(
            "EPHEMERAL columns are insert-time-only inputs; model the "
            "computation as MATERIALIZED over real columns instead"
        )
    elif tail_kind == "TTL":
        raise ValueError(
            f"column-level TTL on {name!r}: per-column expiry "
            "(zero-out on merge) is unsupported — use table-level TTL "
            "(drops the row) or an UPDATE mutation"
        )
    ch_type = f"SimpleAggregateFunction({agg_func}, {rest})" if agg_func else rest
    return ColumnMeta(
        name, ch_type, spark_type, nullable, kind, default,
        agg_func=agg_func,
    )


_CREATE_CLAUSES = (
    "ENGINE",
    "PARTITION",
    "PRIMARY",
    "ORDER",
    "SAMPLE",
    "TTL",
    "SETTINGS",
    "COMMENT",
    "AS",
)


def _split_create_tail(tail: str) -> dict[str, str]:
    """Split the post-column-list text of CREATE TABLE into clauses by
    top-level keyword. Returns {clause: body}; AS captures the rest of
    the statement (CTAS)."""
    marks: list[tuple[int, int, str]] = []
    for ws, we, w in lex(tail).words():
        up = w.upper()
        if up in _CREATE_CLAUSES:
            # PARTITION BY / PRIMARY KEY / ORDER BY / SAMPLE BY are
            # two-word markers; record at the first word
            marks.append((ws, we, up))
    out: dict[str, str] = {}
    for i, (ws, we, kw) in enumerate(marks):
        if kw == "AS":
            out["AS"] = tail[we:].strip()
            break
        end = marks[i + 1][0] if i + 1 < len(marks) else len(tail)
        body = tail[we:end].strip()
        if kw in ("PARTITION", "ORDER", "SAMPLE"):
            if not body.upper().startswith("BY"):
                continue  # e.g. ORDER inside an expression — not a clause
            body = body[2:].strip()
        elif kw == "PRIMARY":
            if not body.upper().startswith("KEY"):
                continue
            body = body[3:].strip()
        elif kw == "ENGINE":
            body = body.lstrip("= ").strip()
        out[kw] = body
    return out


def _tuple_items(body: str) -> list[str]:
    """``(a, b)`` | ``a`` | ``tuple()`` → item list (translated)."""
    body = body.strip()
    if body.lower() in ("tuple()", "()"):
        return []
    if body.startswith("("):
        toks = lex(body)
        return [translate(x) for x in toks.split(1, toks.close(0)) if x.strip()]
    return [translate(body)] if body else []


def parse_create_table(sql: str) -> tuple[TableMeta, str | None, bool, bool]:
    """CREATE TABLE statement → (TableMeta, ctas_select_or_clone,
    if_not_exists, or_replace). ``ctas`` is the raw AS-tail: either a
    SELECT/WITH statement or a bare table name to clone."""
    m = re.match(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?TABLE\s+"
        r"(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s*(.*)$",
        sql,
        re.S | re.I,
    )
    if not m:
        raise ValueError(f"unparseable CREATE TABLE: {sql[:80]!r}")
    or_replace = bool(m.group(1))
    if_not_exists = bool(m.group(2))
    name = m.group(3).strip('`"')
    if "." in name:
        db, name = name.split(".", 1)
        if db not in ("default", "currentDatabase()"):
            raise ValueError(
                f"database-qualified name {db}.{name}: single-warehouse "
                "layout — create per-database ChWarehouse roots instead"
            )
    rest = m.group(4).strip()
    columns: list[ColumnMeta] = []
    if rest.startswith("("):
        toks = lex(rest)
        close = toks.close(0)
        for entry in toks.split(1, close):
            cm = _parse_column_entry(entry)
            if cm is not None:
                columns.append(cm)
        rest = rest[close + 1 :].strip()
    clauses = _split_create_tail(rest)
    engine_raw = clauses.get("ENGINE", "MergeTree")
    em = re.match(r"^(\w+)\s*(?:\((.*?)\))?\s*$", engine_raw, re.S)
    if not em:
        raise ValueError(f"unparseable ENGINE clause: {engine_raw!r}")
    engine, engine_args = em.group(1), (em.group(2) or "").strip()
    if engine not in _ENGINE_FAMILIES:
        raise ValueError(
            f"ENGINE {engine} unsupported — supported: "
            f"{sorted(_ENGINE_FAMILIES)}; Distributed/replication is "
            "Spark's cluster manager's job"
        )
    version_col = None
    sum_cols: list[str] = []
    sign_col = None
    if engine == "ReplacingMergeTree" and engine_args:
        version_col = engine_args.strip("` ")
    if engine == "SummingMergeTree" and engine_args:
        sum_cols = [c.strip("` ") for c in lex(engine_args).split()]
    if engine == "CollapsingMergeTree":
        args = [a.strip("` ") for a in lex(engine_args).split() if a.strip()]
        if len(args) != 1:
            raise ValueError(
                "CollapsingMergeTree needs exactly one argument: "
                "the sign column"
            )
        sign_col = args[0]
    if engine == "VersionedCollapsingMergeTree":
        args = [a.strip("` ") for a in lex(engine_args).split() if a.strip()]
        if len(args) != 2:
            raise ValueError(
                "VersionedCollapsingMergeTree needs exactly two "
                "arguments: sign column, version column"
            )
        sign_col, version_col = args
    order_by = _tuple_items(clauses.get("ORDER", ""))
    partition_raw = _tuple_items(clauses.get("PARTITION", ""))
    partition_exprs, partition_cols = [], []
    col_names = {c.name for c in columns}
    for i, pe in enumerate(partition_raw):
        if pe in col_names:
            partition_exprs.append(pe)
            partition_cols.append(pe)
        else:
            partition_exprs.append(pe)
            partition_cols.append(f"_p{i}")
    sample_by = clauses.get("SAMPLE") and translate(clauses["SAMPLE"]) or None
    if sample_by and sample_by not in order_by:
        # CH rejects this at CREATE too; it keeps FINAL SAMPLE (sampling
        # the merged rows) equal to sampling the rows before the merge
        raise ValueError(
            f"SAMPLE BY {sample_by} must be an ORDER BY item "
            f"(ORDER BY {', '.join(order_by) or 'tuple()'})"
        )
    ttl = None
    if "TTL" in clauses:
        ttl = translate(clauses["TTL"])
    meta = TableMeta(
        name=name,
        columns=columns,
        engine=engine,
        version_col=version_col,
        sum_cols=sum_cols,
        sign_col=sign_col,
        order_by=order_by,
        partition_exprs=partition_exprs,
        partition_cols=partition_cols,
        sample_by=sample_by,
        ttl=ttl,
        settings=clauses.get("SETTINGS"),
    )
    return meta, clauses.get("AS"), if_not_exists, or_replace

# ---------------------------------------------------------------------------
# Warehouse
# ---------------------------------------------------------------------------


class ChWarehouse:
    """A directory of CH-style tables + the statement executor.

    ``execute(sql)`` dispatches one CH statement; SELECTs return a
    DataFrame, DESCRIBE/SHOW return catalog DataFrames, everything
    else returns None. All heavy work is DataFrame-plan work — the
    driver only touches table METADATA (JSON sidecars) and, for
    partition-pruned mutations, the affected partition-value list
    (bounded by partition count, never by row count).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True)
        os.makedirs(f"{self.root}/_mv", exist_ok=True)

    # -- metadata ------------------------------------------------------

    def _dir(self, name: str) -> str:
        if not re.fullmatch(r"[\w-]+", name):
            raise ValueError(f"invalid table name: {name!r}")
        return f"{self.root}/{name}"

    def _meta_path(self, name: str) -> str:
        return f"{self._dir(name)}/meta.json"

    def meta(self, name: str) -> TableMeta:
        p = self._meta_path(name)
        if not os.path.exists(p):
            raise ValueError(f"table {name} does not exist")
        with open(p) as f:
            raw = json.load(f)
        cols = [ColumnMeta(**c) for c in raw.pop("columns")]
        return TableMeta(columns=cols, **raw)

    def _save_meta(self, meta: TableMeta) -> None:
        os.makedirs(self._dir(meta.name), exist_ok=True)
        tmp = self._meta_path(meta.name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(meta), f, indent=1)
        os.replace(tmp, self._meta_path(meta.name))

    def _commit(
        self,
        meta: TableMeta,
        df: DataFrame | None = None,
        garbage: list[str] | tuple = (),
    ) -> None:
        """The one write path for table data. The caller has edited
        ``meta``; ``df`` holds rows to add, ``garbage`` the files the
        edit unlisted. Spark writes ``df`` (sorted within tasks on ORDER
        BY: row-group clustering) to a fresh staging directory; its
        files move into ``data/<partition>/`` under their unique Spark
        names and join ``meta.parts``; ``_save_meta`` commits; only then
        are ``garbage``, emptied partition directories and the staging
        directory deleted. Before the commit no manifest lists a new
        file, so a crash at any step leaves the old rows or the new."""
        data = f"{self._dir(meta.name)}/data"
        stage = f"{self._dir(meta.name)}/_stage-{uuid.uuid4().hex}"
        if df is not None:
            sort_cols = [F.expr(e) for e in meta.order_by]
            if sort_cols:
                df = df.sortWithinPartitions(*sort_cols)
            writer = df.write
            if meta.partition_cols:
                writer = writer.partitionBy(*meta.partition_cols)
            writer.parquet(stage)
            depth = "*=*/" * len(meta.partition_cols)
            for rel in sorted(glob.glob(f"{depth}*.parquet", root_dir=stage)):
                os.makedirs(os.path.dirname(f"{data}/{rel}"), exist_ok=True)
                os.rename(f"{stage}/{rel}", f"{data}/{rel}")
                meta.parts.append(rel)
        self._save_meta(meta)
        for rel in garbage:
            os.remove(f"{data}/{rel}")
        # deepest first, so a multi-level partition's parent empties too
        for d in sorted({os.path.dirname(r) for r in garbage}, reverse=True):
            while d and not os.listdir(f"{data}/{d}"):
                os.rmdir(f"{data}/{d}")
                d = os.path.dirname(d)
        shutil.rmtree(stage, ignore_errors=True)

    def tables(self) -> list[str]:
        return sorted(
            e.name
            for e in os.scandir(self.root)
            if e.is_dir()
            and not e.name.startswith("_")
            and os.path.exists(f"{self.root}/{e.name}/meta.json")
        )

    def exists(self, name: str) -> bool:
        return os.path.exists(self._meta_path(name))

    # -- read path -----------------------------------------------------

    def _schema_ddl(self, meta: TableMeta, stored_only: bool = True) -> str:
        cols = meta.stored_columns() if stored_only else meta.logical_columns()
        return ", ".join(f"`{c.name}` {c.spark_type}" for c in cols)

    def _raw_df(self, meta: TableMeta, session=None) -> DataFrame | None:
        """The on-disk frame (stored names, _ch_seq, partition cols) of
        the live parts, or None when there are none. ``basePath`` makes
        Spark derive the partition columns from the part paths.
        ``session`` overrides the session the frame binds to — required
        inside foreachBatch, where the micro-batch DataFrame lives on a
        CLONED session and frames from two sessions cannot join."""
        if not meta.parts:
            return None
        data = f"{self._dir(meta.name)}/data"
        reader = (session or self.spark).read.option("basePath", data)
        if meta.schema_evolved:
            # only evolved tables pay the all-footers merge cost
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*[f"{data}/{p}" for p in meta.parts])

    @staticmethod
    def _stored_expr(c: ColumnMeta, raw_cols: list[str]):
        """Projection of one stored column from a raw frame: rename
        coalesce over historical names, type cast, default fill — with
        the lazy-ADD rule: batches whose ``_ch_seq`` predates the
        column's ``added_seq`` read the DEFAULT (the column did not
        exist when they were written), later batches read storage."""
        present = [n for n in [c.name, *c.stored] if n in raw_cols]
        fill = c.default or _type_default(c.spark_type, c.nullable)
        if not present:
            return F.expr(fill).cast(c.spark_type).alias(c.name)
        base = (
            F.col(present[0])
            if len(present) == 1
            else F.coalesce(*[F.col(n) for n in present])
        )
        if c.added_seq is not None and "_ch_seq" in raw_cols:
            base = F.when(
                F.col("_ch_seq") < F.lit(c.added_seq), F.expr(fill)
            ).otherwise(base)
        return base.cast(c.spark_type).alias(c.name)

    def _canon_stored(self, meta: TableMeta, session=None) -> DataFrame | None:
        """The live parts projected onto the CANONICAL stored layout
        (logical names, current types, defaults filled, renames
        coalesced) + ``_ch_seq``/``_ch_rid`` + partition columns, or
        None when the table has no parts. Reads, FINAL and mutations
        all start here, so rewritten rows also materialize pending
        metadata-only ALTERs — exactly what a CH mutation does to the
        parts it rewrites."""
        raw = self._raw_df(meta, session=session)
        if raw is None:
            return None
        exprs = [
            self._stored_expr(c, raw.columns)
            for c in meta.stored_columns()
        ]
        exprs.append(F.col("_ch_seq"))
        if "_ch_rid" in raw.columns:
            exprs.append(F.col("_ch_rid"))
        for pc in meta.partition_cols:
            if pc not in [c.name for c in meta.stored_columns()]:
                exprs.append(F.col(pc))
        return raw.select(*exprs)

    def _logical(
        self, meta: TableMeta, canon: DataFrame | None, session=None
    ) -> DataFrame:
        """A canonical frame as the table's LOGICAL columns: ALIAS
        columns compute over it (so they can reference renamed/filled
        names), bookkeeping columns drop. All of it is projection work
        Catalyst prunes through (a filter on a renamed column still
        reaches the parquet scan). ``canon`` None → an empty frame."""
        if canon is None:
            return (session or self.spark).createDataFrame(
                [], self._schema_ddl(meta, stored_only=False)
            )
        for c in meta.logical_columns():
            if c.kind == "alias":
                canon = canon.withColumn(
                    c.name, F.expr(c.default).cast(c.spark_type)
                )
        return canon.select(*[c.name for c in meta.logical_columns()])

    def table_df(self, name: str, session=None) -> DataFrame:
        """The LOGICAL table frame: historical file schemas projected
        onto the current logical schema (``_canon_stored``), ALIAS
        columns computed (``_logical``)."""
        meta = self.meta(name)
        return self._logical(meta, self._canon_stored(meta, session), session)

    def _merge(self, meta: TableMeta, d: DataFrame) -> DataFrame:
        """The engine's FINAL merge of a canonical frame, in the same
        canonical layout: ``SELECT … FINAL`` reads it (the hidden
        merged view) and ``OPTIMIZE … FINAL`` writes it.

        Rows merge when they agree on every ORDER BY expression and
        every partition column — CH merges never cross partitions, so
        the same key in two partitions stays two rows. Without ORDER BY
        the key is the whole stored row. Insert order is
        ``(_ch_seq, _ch_rid)``; ``_ch_rid`` missing or NULL orders as 0.

        - Replacing: the row with the greatest version survives (no
          version column: the last inserted); version ties keep the
          last inserted (CH's "last in the selection").
        - Collapsing (+ the version column for Versioned): the net sign
          decides survival — 0 drops the group, > 0 keeps the LAST
          state row, < 0 the FIRST cancel row, which a later merge can
          still pair (where CH's pairwise collapse ends for well-formed
          streams). Two windows over one partitioning: one exchange.
        - Summing: columns that are neither key columns nor referenced
          by the partition key sum (the numeric ones, or the engine's
          column list), cast back to their storage type.
        - Aggregating: each column merges by its SimpleAggregateFunction
          / AggregateFunction role (``agg_sql_for_role``; states merge,
          they are not finalized).

        Summing and Aggregating keep ``max`` of any other column where
        CH keeps an arbitrary row's value; plain ORDER BY columns and
        partition columns are the group keys, and a column used only
        inside an ORDER BY expression is such an "other" column."""
        stored = [c.name for c in meta.stored_columns()]
        group = list(dict.fromkeys([
            *(meta.order_by or stored),
            *([meta.version_col] if meta.sign_col and meta.version_col
              else []),
            *meta.partition_cols,
        ]))
        keys = [F.expr(e) for e in group]
        rid = (
            F.coalesce(F.col("_ch_rid"), F.lit(0))
            if "_ch_rid" in d.columns
            else F.lit(0)
        )
        if meta.engine == "ReplacingMergeTree":
            newest = [F.col("_ch_seq").desc(), rid.desc()]
            if meta.version_col:
                newest.insert(0, F.col(meta.version_col).desc())
            w = Window.partitionBy(*keys).orderBy(*newest)
            return (
                d.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        if meta.sign_col:
            sign = F.col(meta.sign_col)
            ord_ = F.struct(
                F.col("_ch_seq").cast("bigint").alias("s"),
                rid.cast("bigint").alias("r"),
            )
            d = d.withColumn(
                "__net", F.sum(sign).over(Window.partitionBy(*keys))
            )
            w = Window.partitionBy(*keys).orderBy(
                F.when(F.col("__net") > 0, sign).otherwise(-sign).desc(),
                F.when(F.col("__net") > 0, ord_).desc(),
                ord_.asc(),
            )
            return (
                d.withColumn("__rn", F.row_number().over(w))
                .filter((F.col("__net") != 0) & (F.col("__rn") == 1))
                .drop("__net", "__rn")
            )
        if meta.engine == "SummingMergeTree":
            # CH isInPartitionKey: columns feeding a partition
            # expression are not summed either
            not_summed = set(group) | _partition_source_cols(meta, stored)
            sums = set(meta.sum_cols) or {
                c.name
                for c in meta.stored_columns()
                if c.name not in not_summed
                and c.spark_type.split("(")[0]
                in ("tinyint", "smallint", "int", "bigint", "float",
                    "double", "decimal")
            }
        aggs = []
        for c in meta.stored_columns():
            if c.name in group:
                continue
            if meta.engine == "SummingMergeTree":
                role = "sum" if c.name in sums else "other"
            else:  # AggregatingMergeTree
                role = c.agg_func or "other"
            agg = F.expr(agg_sql_for_role(role, c.name))
            if role != "other":
                # pin the declared storage type (sum widening / struct
                # field names for avg states)
                agg = agg.cast(c.spark_type)
            aggs.append(agg.alias(c.name))
        aggs.append(F.max("_ch_seq").alias("_ch_seq"))
        tail = ["_ch_seq"]
        if "_ch_rid" in d.columns:
            aggs.append(F.max("_ch_rid").alias("_ch_rid"))
            tail.append("_ch_rid")
        part_extra = [pc for pc in meta.partition_cols if pc not in stored]
        # an expression key gets its own name: Spark would name
        # cast(ts as date) after ts, the column it aggregates
        by = [
            k if e in stored or e in part_extra else k.alias(f"__k{i}")
            for i, (e, k) in enumerate(zip(group, keys))
        ]
        return d.groupBy(*by).agg(*aggs).select(*stored, *tail, *part_extra)

    def _table_context(self, words: set[str], session=None) -> QueryContext:
        """The query context of the warehouse tables in ``words``: their
        logical frames, for the merging engines the ``_merge`` frames
        that ``FROM t FINAL`` reads, and their SAMPLE BY keys."""
        views, merged, sampling = {}, {}, {}
        for name in [t for t in self.tables() if t in words]:
            meta = self.meta(name)
            canon = self._canon_stored(meta, session)
            views[name] = self._logical(meta, canon, session)
            if meta.engine in _MERGING:
                merged[name] = f"__{name}_final"
                views[merged[name]] = self._logical(
                    meta,
                    None if canon is None else self._merge(meta, canon),
                    session,
                )
            if meta.sample_by:
                sampling[name] = meta.sample_by
        ctx = QueryContext(merged=merged, sampling=sampling)
        return ctx.with_views(views)

    # -- statement dispatch --------------------------------------------

    def execute(self, sql: str) -> DataFrame | None:
        stmt = sql.strip().rstrip(";").strip()
        head = re.match(r"^(\w+)", stmt)
        if not head:
            raise ValueError("empty statement")
        kw = head.group(1).upper()
        if kw in ("SELECT", "WITH"):
            # system.<name> reads the context's __system_<name> frame
            pat = re.compile(r"\bsystem\.(parts|tables|columns)\b", re.I)
            stmt = "".join(
                text if is_str else pat.sub(
                    lambda m: f"__system_{m.group(1).lower()}", text
                )
                for text, is_str in lex(stmt).segments()
            )
            om = re.search(
                r"\bINTO\s+OUTFILE\s+'([^']+)'(?:\s+FORMAT\s+(\w+))?"
                r"\s*(?:SETTINGS\b.*)?$",
                stmt,
                re.S | re.I,
            )
            if om:
                # CH writes the file client-side; here the cluster
                # writes it (a directory of part files at scale — the
                # only shape that parallelizes)
                from clickhouse_modules_spark.sources.registry import (
                    write_table,
                )

                path, fmt_name = om.group(1), (om.group(2) or "").lower()
                fmt_map = {
                    "csv": "csv", "csvwithnames": "csv",
                    "tsv": "csv", "tabseparated": "csv",
                    "parquet": "parquet", "orc": "orc",
                    "jsoneachrow": "json", "ndjson": "json",
                    "": path.rsplit(".", 1)[-1].lower(),
                }
                fmt = fmt_map.get(fmt_name)
                if fmt not in ("csv", "parquet", "orc", "json"):
                    raise ValueError(
                        f"INTO OUTFILE format {fmt_name or fmt!r} "
                        "unsupported (CSV/TSV/Parquet/ORC/JSONEachRow)"
                    )
                df = self.query(stmt[: om.start()])
                opts = (
                    {"sep": "\t"}
                    if fmt_name in ("tsv", "tabseparated")
                    else {}
                )
                write_table(df, path, fmt=fmt, **opts)
                n = self.spark.read.format(fmt).options(
                    **({"header": "true", **opts} if fmt == "csv" else opts)
                ).load(path).count()
                return self.spark.createDataFrame(
                    [(path, n)], "path string, rows_written bigint"
                )
            return self.query(stmt)
        if kw == "EXPLAIN":
            m = re.match(
                r"^EXPLAIN\s+(SYNTAX\s+|PLAN\s+|AST\s+|PIPELINE\s+)?(.+)$",
                stmt,
                re.S | re.I,
            )
            mode = (m.group(1) or "PLAN").strip().upper()
            if mode in ("AST", "PIPELINE"):
                mode = "PLAN"  # engine-internal forms map to the plan
            text = self.explain(m.group(2), mode=mode)
            return self.spark.createDataFrame(
                [(line,) for line in text.splitlines()], "explain string"
            )
        if kw == "CREATE":
            if re.match(r"^CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW",
                        stmt, re.I):
                return self._create_mv(stmt)
            if re.match(r"^CREATE\s+(OR\s+REPLACE\s+)?(LIVE\s+)?VIEW",
                        stmt, re.I):
                return self._create_view(stmt)
            if re.match(r"^CREATE\s+(OR\s+REPLACE\s+)?DICTIONARY",
                        stmt, re.I):
                return self._create_dictionary(stmt)
            return self._create_table(stmt)
        if kw == "INSERT":
            return self._insert(stmt)
        if kw == "ALTER":
            return self._alter(stmt)
        if kw == "OPTIMIZE":
            return self._optimize(stmt)
        if kw == "TRUNCATE":
            m = re.match(r"^TRUNCATE\s+(TABLE\s+)?(IF\s+EXISTS\s+)?(\w+)$",
                         stmt, re.I)
            if not m:
                raise ValueError(f"unparseable TRUNCATE: {stmt!r}")
            name = m.group(3)
            if not self.exists(name):
                if m.group(2):
                    return None
                raise ValueError(f"table {name} does not exist")
            # detached parts survive, as in CH
            meta = self.meta(name)
            garbage, meta.parts = meta.parts, []
            self._commit(meta, garbage=garbage)
            return None
        if kw == "DROP":
            m = re.match(
                r"^DROP\s+(TABLE|VIEW)\s+(IF\s+EXISTS\s+)?(\w+)$", stmt, re.I
            )
            if not m:
                raise ValueError(f"unparseable DROP: {stmt!r}")
            name = m.group(3)
            if m.group(1).upper() == "VIEW":
                p = f"{self.root}/_mv/{name}.json"
                if os.path.exists(p):
                    os.remove(p)
                elif not m.group(2):
                    raise ValueError(f"view {name} does not exist")
                return None
            if self.exists(name):
                shutil.rmtree(self._dir(name))
            elif not m.group(2):
                raise ValueError(f"table {name} does not exist")
            return None
        if kw == "RENAME":
            m = re.match(r"^RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)$", stmt, re.I)
            if not m:
                raise ValueError(f"unparseable RENAME: {stmt!r}")
            src, dst = m.group(1), m.group(2)
            if self.exists(dst):
                raise ValueError(f"table {dst} already exists")
            meta = self.meta(src)
            os.rename(self._dir(src), self._dir(dst))
            meta.name = dst
            self._save_meta(meta)
            return None
        if kw == "EXCHANGE":
            m = re.match(r"^EXCHANGE\s+TABLES\s+(\w+)\s+AND\s+(\w+)$",
                         stmt, re.I)
            if not m:
                raise ValueError(f"unparseable EXCHANGE: {stmt!r}")
            a, b = m.group(1), m.group(2)
            ma, mb = self.meta(a), self.meta(b)
            tmp = f"{self.root}/.__xchg__"
            os.rename(self._dir(a), tmp)
            os.rename(self._dir(b), self._dir(a))
            os.rename(tmp, self._dir(b))
            ma.name, mb.name = b, a
            self._save_meta(ma)
            self._save_meta(mb)
            return None
        if kw == "DESCRIBE" or kw == "DESC":
            m = re.match(r"^DESC(?:RIBE)?\s+(TABLE\s+)?(\w+)$", stmt, re.I)
            if not m:
                raise ValueError(f"unparseable DESCRIBE: {stmt!r}")
            meta = self.meta(m.group(2))
            rows = [
                (c.name, c.ch_type,
                 {"plain": "DEFAULT" if c.default else "",
                  "materialized": "MATERIALIZED",
                  "alias": "ALIAS"}[c.kind],
                 c.default or "")
                for c in meta.logical_columns()
            ]
            return self.spark.createDataFrame(
                rows, "name string, type string, default_type string, "
                      "default_expression string"
            )
        if kw == "SHOW":
            if re.match(r"^SHOW\s+TABLES$", stmt, re.I):
                return self.spark.createDataFrame(
                    [(t,) for t in self.tables()], "name string"
                )
            sm = re.match(r"^SHOW\s+CREATE\s+(TABLE\s+)?(\w+)$", stmt, re.I)
            if sm:
                return self.spark.createDataFrame(
                    [(self.show_create(sm.group(2)),)], "statement string"
                )
            raise ValueError(f"unsupported SHOW form: {stmt!r}")
        if kw == "EXISTS":
            m = re.match(r"^EXISTS\s+(TABLE\s+)?(\w+)$", stmt, re.I)
            if not m:
                raise ValueError(f"unparseable EXISTS: {stmt!r}")
            return self.spark.createDataFrame(
                [(1 if self.exists(m.group(2)) else 0,)], "result smallint"
            )
        if kw in ("BACKUP", "RESTORE"):
            m = re.match(
                rf"^{kw}\s+TABLE\s+(\w+)\s+"
                rf"{'TO' if kw == 'BACKUP' else 'FROM'}\s+"
                r"File\s*\(\s*'([^']+)'\s*\)$",
                stmt,
                re.I,
            )
            if not m:
                raise ValueError(
                    f"unparseable {kw} — supported form: {kw} TABLE t "
                    f"{'TO' if kw == 'BACKUP' else 'FROM'} File('/path') "
                    "(Disk()/S3() destinations are cluster-storage "
                    "config; copy the directory with your FS tooling)"
                )
            name, path = m.group(1), m.group(2)
            if kw == "BACKUP":
                self.meta(name)  # must exist
                if os.path.exists(path):
                    raise ValueError(f"backup target {path} exists")
                shutil.copytree(self._dir(name), path)
            else:
                if self.exists(name):
                    raise ValueError(
                        f"table {name} already exists — DROP it first "
                        "(RESTORE does not merge)"
                    )
                shutil.copytree(path, self._dir(name))
                try:
                    meta = self.meta(name)
                except Exception:
                    # a junk source dir must not leave a half-table
                    # that blocks retries or gets adopted by CREATE
                    shutil.rmtree(self._dir(name), ignore_errors=True)
                    raise ValueError(
                        f"RESTORE source {path} is not a table backup "
                        "(no readable meta.json)"
                    )
                meta.name = name
                self._save_meta(meta)
            return None
        raise ValueError(
            f"unsupported statement head {kw!r} — supported: SELECT/WITH, "
            "CREATE [MATERIALIZED VIEW/TABLE/DICTIONARY], INSERT, ALTER, "
            "OPTIMIZE, TRUNCATE, DROP, RENAME, EXCHANGE, DESCRIBE, SHOW, "
            "EXISTS, EXPLAIN, BACKUP/RESTORE TABLE … File(…)"
        )

    def query(self, sql: str) -> DataFrame:
        """CH-dialect SELECT over the warehouse's tables (+ views)."""
        return ch_sql(self.spark, sql, self._context(sql))

    def _context(self, sql: str) -> QueryContext:
        """The query context of ``sql``: the warehouse tables, stored
        views, dictionaries and ``system.*`` frames it names.

        Only tables the statement (transitively, through stored views)
        REFERENCES are loaded: each table load is a file-listing job,
        so binding a 500-table warehouse to a one-table query would pay
        499 useless listings. A word-level match over-approximates
        references (a false positive costs one lazy listing, never
        correctness)."""
        words = set(re.findall(r"\w+", sql))
        view_defs = {d["name"]: d["select"] for d in self._defs("view")}
        # transitive closure: views mentioned pull in their own words
        seen_views: set[str] = set()
        while new := (view_defs.keys() & words) - seen_views:
            seen_views.update(new)
            for v in new:
                words |= set(re.findall(r"\w+", view_defs[v]))
        ctx = self._table_context(words)
        frames = {
            f"__system_{n}": build() for n, build in (
                ("parts", self.parts), ("tables", self.tables_info),
                ("columns", self.columns_info),
            ) if f"__system_{n}" in words
        }
        for d in self._defs("dict"):
            if d["name"] in words:
                src = ctx.frames.get(d["source"]) or self.table_df(d["source"])
                attrs = [a for a in d["attrs"] if a != d["key"]]
                frames[d["name"]] = dictionary(
                    src.select(d["key"], *attrs), d["key"]
                )
        ctx = replace(ctx, frames={**ctx.frames, **frames})
        # dependency order: a view is evaluable once no OTHER pending
        # view name appears in its SQL (set-iteration order would make
        # view-over-view resolution depend on string hashing)
        pending = set(seen_views)
        while pending:
            ready = [
                v for v in sorted(pending)
                if not any(
                    o != v and o in pending
                    and re.search(rf"\b{o}\b", view_defs[v])
                    for o in pending
                )
            ]
            if not ready:
                raise ValueError(
                    f"view dependency cycle among {sorted(pending)}"
                )
            for v in ready:
                ctx = ctx.with_views(
                    {v: ch_sql(self.spark, view_defs[v], ctx)}
                )
                pending.discard(v)
        return ctx

    def explain(self, sql: str, mode: str = "PLAN") -> str:
        """``EXPLAIN SYNTAX`` → the translated Spark SQL text (what CH
        EXPLAIN SYNTAX is: the rewritten statement); ``EXPLAIN
        [PLAN]`` → Catalyst's formatted physical plan for the
        translated query (scan pruning / pushed filters visible). Both
        translate in the context ``query`` builds."""
        if mode.upper() == "SYNTAX":
            return translate(sql, self._context(sql))
        df = self.query(sql)
        jvm = self.spark._jvm
        return df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    def run_script(self, script: str) -> DataFrame | None:
        """Execute a ;-separated statement batch (what a CH client
        sends); returns the LAST statement's result. Semicolons inside
        string literals don't split."""
        result = None
        for st_ in lex(script).cut(";"):
            if st_.strip():
                result = self.execute(st_)
        return result

    # -- CREATE --------------------------------------------------------

    def _create_table(self, stmt: str) -> None:
        meta, as_tail, if_not_exists, or_replace = parse_create_table(stmt)
        if self.exists(meta.name):
            if if_not_exists:
                return None
            if or_replace:
                shutil.rmtree(self._dir(meta.name))
            else:
                raise ValueError(f"table {meta.name} already exists")
        ctas_df: DataFrame | None = None
        if as_tail:
            if re.match(r"^(SELECT|WITH)\b", as_tail, re.I):
                ctas_df = self.query(as_tail)
            else:  # CREATE TABLE a AS b — clone the schema, not the data
                src = self.meta(as_tail.strip("` "))
                if not meta.columns:
                    meta.columns = src.columns
                if "ENGINE" not in stmt.upper():
                    meta.engine = src.engine
                    meta.version_col = src.version_col
                    meta.sum_cols = src.sum_cols
                    meta.sign_col = src.sign_col
                    meta.order_by = src.order_by
                    meta.partition_exprs = src.partition_exprs
                    meta.partition_cols = src.partition_cols
        if ctas_df is not None and not meta.columns:
            # CTAS schema inference: Spark types become the authority;
            # ch_type records the Spark DDL (no reverse mapping exists
            # for e.g. both Int64 and UInt64 → bigint)
            meta.columns = [
                ColumnMeta(fname, ftype.simpleString(),
                           ftype.simpleString(), True)
                for fname, ftype in
                ((fld.name, fld.dataType) for fld in ctas_df.schema.fields)
            ]
        if not meta.columns:
            raise ValueError(
                f"CREATE TABLE {meta.name}: no columns (column list or "
                "AS SELECT required)"
            )
        names = [c.name for c in meta.columns]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate column names: {names}")
        if meta.version_col and meta.version_col not in names:
            raise ValueError(
                f"{meta.engine} version column {meta.version_col!r} "
                "is not a table column"
            )
        if meta.sign_col:
            if meta.sign_col not in names:
                raise ValueError(
                    f"{meta.engine} sign column {meta.sign_col!r} "
                    "is not a table column"
                )
            st = meta.column(meta.sign_col).spark_type
            if st.split("(")[0] not in (
                "tinyint", "smallint", "int", "bigint"
            ):
                raise ValueError(
                    f"{meta.engine} sign column must be an integer "
                    f"type (Int8 in CH), got {st}"
                )
            if not meta.order_by:
                raise ValueError(f"{meta.engine} requires ORDER BY")
        if meta.engine in (
            "AggregatingMergeTree", "SummingMergeTree"
        ) and not meta.order_by:
            raise ValueError(f"{meta.engine} requires ORDER BY")
        self._save_meta(meta)
        if ctas_df is not None:
            self.insert_df(meta.name, ctas_df)
        return None

    # -- INSERT --------------------------------------------------------

    def _insert(self, stmt: str) -> None:
        m = re.match(
            r"^INSERT\s+INTO\s+(?:TABLE\s+)?(\w+)\s*(\([^)]*\))?\s*(.*)$",
            stmt,
            re.S | re.I,
        )
        if not m:
            raise ValueError(f"unparseable INSERT: {stmt[:80]!r}")
        name = m.group(1)
        cols = (
            [c.strip("` ") for c in lex(m.group(2)[1:-1]).split()]
            if m.group(2)
            else None
        )
        body = m.group(3).strip()
        if re.match(r"^FORMAT\b", body, re.I):
            raise ValueError(
                "INSERT … FORMAT carries client-encoded rows; load files "
                "with sources.read_table + insert_df instead"
            )
        meta = self.meta(name)
        if cols is None:
            cols = [c.name for c in meta.columns if c.kind == "plain"]
        for c in cols:
            if meta.column(c).kind != "plain":
                raise ValueError(
                    f"column {c} is {meta.column(c).kind.upper()} — "
                    "it cannot be inserted explicitly"
                )
        if re.match(r"^VALUES\b", body, re.I):
            tail = body[6:].strip()
            df = self.spark.sql(
                translate(
                    f"SELECT * FROM VALUES {tail} AS v({', '.join(cols)})"
                )
            )
        elif re.match(r"^(SELECT|WITH)\b", body, re.I):
            df = self.query(body)
            if len(df.columns) != len(cols):
                raise ValueError(
                    f"INSERT SELECT arity mismatch: {len(df.columns)} "
                    f"select columns for {len(cols)} target columns"
                )
            df = df.toDF(*cols)
        else:
            raise ValueError(f"unparseable INSERT body: {body[:60]!r}")
        self.insert_df(name, df, provided=cols)
        return None

    def insert_df(
        self,
        name: str,
        df: DataFrame,
        provided: list[str] | None = None,
        _mv_chain: frozenset = frozenset(),
    ) -> None:
        """Append a batch: align to the stored schema (defaults for
        missing columns, MATERIALIZED computed, types cast), stamp
        ``_ch_seq``, commit its parts together with the ``next_seq``
        bump — then fire materialized views bound to this source over
        EXACTLY this batch."""
        meta = self.meta(name)
        provided = provided if provided is not None else list(df.columns)
        exprs = []
        for c in meta.stored_columns():
            if c.kind == "materialized":
                continue  # second pass — may reference inserted columns
            if c.name in provided:
                exprs.append(F.col(c.name).cast(c.spark_type).alias(c.name))
            else:
                fill = c.default or _type_default(c.spark_type, c.nullable)
                exprs.append(F.expr(fill).cast(c.spark_type).alias(c.name))
        aligned = df.select(*exprs)
        for c in meta.stored_columns():
            if c.kind == "materialized":
                aligned = aligned.withColumn(
                    c.name, F.expr(c.default).cast(c.spark_type)
                )
        stored_names = [c.name for c in meta.stored_columns()]
        aligned = aligned.select(*stored_names)
        if meta.engine != "Null":
            # _ch_rid: within-batch insert order (CH's "last row in the
            # block" tiebreak). monotonically_increasing_id is monotone
            # in (partition, row) and createDataFrame/scans preserve
            # input order across partitions, so it captures the batch's
            # row order; once written to parquet it is FROZEN — FINAL /
            # OPTIMIZE resolve same-key-same-batch ties deterministically
            # forever after. Captured BEFORE sortWithinPartitions (Spark
            # never reorders a nondeterministic projection past a sort).
            out = aligned.withColumn(
                "_ch_seq", F.lit(meta.next_seq)
            ).withColumn("_ch_rid", F.monotonically_increasing_id())
            for expr_, col_ in zip(meta.partition_exprs, meta.partition_cols):
                if col_ != expr_:
                    out = out.withColumn(col_, F.expr(expr_))
            meta.next_seq += 1
            self._commit(meta, out)
        # MV cascade: CH fires MVs on the INSERTED BLOCK, not the table.
        # Everything runs on the BATCH's session (inside foreachBatch
        # that is a clone of the main session; temp views registered on
        # one session are invisible to sql() on the other). Only tables
        # the MV select references are loaded (same pruning as query()),
        # and a visited-chain guards against MV cycles — CH allows
        # creating them, then loops at insert time; failing loudly
        # BEFORE any partial append beats a RecursionError after some.
        sess = df.sparkSession
        for mv in self._defs("mv"):
            if mv["source"] != name:
                continue
            if mv["target"] in _mv_chain or mv["target"] == name:
                raise ValueError(
                    f"materialized-view cycle through {mv['name']}: "
                    f"{' -> '.join([*_mv_chain, name, mv['target']])}"
                )
            words = set(re.findall(r"\w+", mv["select"]))
            ctx = self._table_context(words, sess)
            ctx = ctx.with_views({name: aligned})  # the batch shadows the table
            result = ch_sql(sess, mv["select"], ctx)
            self.insert_df(
                mv["target"], result,
                _mv_chain=_mv_chain | {name},
            )

    # -- views / MVs ---------------------------------------------------

    def _mv_path(self, name: str) -> str:
        return f"{self.root}/_mv/{name}.json"

    def _defs(self, kind: str) -> list[dict]:
        """Stored "mv", "view" or "dict" definitions, by name."""
        out = []
        for e in sorted(os.scandir(f"{self.root}/_mv"), key=lambda x: x.name):
            if e.name.endswith(".json"):
                with open(e.path) as f:
                    d = json.load(f)
                if d.get("kind") == kind:
                    out.append(d)
        return out

    def _create_mv(self, stmt: str) -> None:
        m = re.match(
            r"^CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+"
            r"(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+TO\s+(\w+)\s+AS\s+(.+)$",
            stmt,
            re.S | re.I,
        )
        if not m:
            raise ValueError(
                "MATERIALIZED VIEW requires the TO <target> form — the "
                "implicit .inner storage table is a CH artifact; create "
                "the target table explicitly"
            )
        name, target, select = m.group(3), m.group(4), m.group(5).strip()
        # the tables the SELECT reads FROM, by the binder's own finder
        # of table positions: a name inside a string literal is none
        read = {r.name for r in _table_refs(select, [target, *self.tables()])
                if r.clause == "FROM"}
        if target in read:
            raise ValueError(
                f"materialized view {name} reads FROM its own target "
                f"{target} — inserting would recurse forever"
            )
        if os.path.exists(self._mv_path(name)) and not m.group(1):
            if m.group(2):
                return None
            raise ValueError(f"materialized view {name} already exists")
        self.meta(target)  # target must exist
        sources = [t for t in self.tables() if t in read]
        if len(sources) != 1:
            raise ValueError(
                f"materialized view must read FROM exactly one warehouse "
                f"table (found {sources}) — CH fires MVs on inserts to "
                "the FROM table only"
            )
        with open(self._mv_path(name), "w") as f:
            json.dump({"kind": "mv", "name": name, "source": sources[0],
                       "target": target, "select": select}, f, indent=1)
        return None

    def _create_dictionary(self, stmt: str) -> None:
        """``CREATE DICTIONARY d (key T, attr T, …) PRIMARY KEY key
        SOURCE(CLICKHOUSE(TABLE 'src')) LAYOUT(…) LIFETIME(…)`` — the
        CH dictionary DDL over a warehouse source table.

        Spark mapping: the source re-reads at every query (fresher than
        any LIFETIME; a dictionary is small by construction so the read
        is a broadcast-sized scan) and ``dictGet`` resolves through the
        correlated-subquery rewrite → broadcast join. LAYOUT/LIFETIME
        parse and are recorded but do not change execution — layout is
        a CH memory-format concern, and Catalyst's broadcast hash join
        IS the hashed layout."""
        m = re.match(
            r"^CREATE\s+(OR\s+REPLACE\s+)?DICTIONARY\s+"
            r"(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.*?)\)\s*"
            r"PRIMARY\s+KEY\s+([\w,\s]+?)\s*"
            r"SOURCE\s*\(\s*CLICKHOUSE\s*\((.*?)\)\s*\)"
            r"(.*)$",
            stmt,
            re.S | re.I,
        )
        if not m:
            raise ValueError(
                "unparseable CREATE DICTIONARY — supported form: "
                "CREATE DICTIONARY d (cols) PRIMARY KEY k "
                "SOURCE(CLICKHOUSE(TABLE 'src')) [LAYOUT(…)] "
                "[LIFETIME(…)] (other SOURCEs: read the data yourself "
                "and pass functions.ch_sql.dictionary(df, key) in the "
                "frames of a QueryContext)"
            )
        name = m.group(3)
        keys = [k.strip() for k in m.group(5).split(",")]
        if len(keys) != 1:
            raise ValueError(
                "composite dictionary keys are unsupported — pre-concat "
                "the key into one column (the same advice CH gives for "
                "COMPLEX_KEY layouts vs flat ones)"
            )
        sm = re.search(r"TABLE\s+'([\w]+)'", m.group(6), re.I)
        if not sm:
            raise ValueError("SOURCE(CLICKHOUSE(…)) needs TABLE 'name'")
        src = sm.group(1)
        self.meta(src)  # must exist
        attrs = [
            c.name for e in lex(m.group(4)).split()
            if (c := _parse_column_entry(e)) is not None
        ]
        if os.path.exists(self._mv_path(name)) and not m.group(1):
            if m.group(2):
                return None
            raise ValueError(f"dictionary {name} already exists")
        with open(self._mv_path(name), "w") as f:
            json.dump({"kind": "dict", "name": name, "source": src,
                       "key": keys[0], "attrs": attrs}, f, indent=1)
        return None

    def _create_view(self, stmt: str) -> None:
        m = re.match(
            r"^CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"(\w+)\s+AS\s+(.+)$",
            stmt,
            re.S | re.I,
        )
        if not m:
            raise ValueError(f"unparseable CREATE VIEW: {stmt[:80]!r}")
        name, select = m.group(3), m.group(4).strip()
        if os.path.exists(self._mv_path(name)) and not m.group(1):
            if m.group(2):
                return None
            raise ValueError(f"view {name} already exists")
        with open(self._mv_path(name), "w") as f:
            json.dump({"kind": "view", "name": name, "select": select},
                      f, indent=1)
        return None

    # -- mutations / ALTER ---------------------------------------------

    @staticmethod
    def _alias_subst(meta: TableMeta, sql_expr: str) -> str:
        """ALIAS columns don't exist on disk; substitute their defining
        expressions into a mutation predicate so WHERE clauses over
        them still work. Substitutes words of the token stream — a
        naive regex would rewrite matching text
        INSIDE string literals (``WHERE tag = 'vip'`` with an alias
        named vip)."""
        for c in meta.columns:
            if c.kind == "alias":
                sql_expr = lex(sql_expr).subst(c.name, f"({c.default})")
        return sql_expr

    # Spark's escapePathName percent-encodes ':', '=', ' ', '%', …
    # in partition directory names, so str(value) names the wrong
    # directory. Only values whose str() is byte-identical to the
    # directory token qualify for a pruned rewrite; everything else
    # takes the full-rewrite fallback.
    _HIVE_SAFE = re.compile(r"^[A-Za-z0-9_.+-]+$")

    def _rewrite(self, meta, transform, prune_pred=None) -> None:
        """Copy-on-write rewrite (the CH mutation model): the rewritten
        rows replace the parts they were read from in one ``_commit``.
        With ``prune_pred`` and a partitioned table, ONLY the parts of
        partitions containing matching rows are read and replaced — the
        driver touches one row per affected partition (never per data
        row). Falls back to a full rewrite when a partition value does
        not name its directory (needs hive escaping, or str(v) differs
        from Spark's token, e.g. booleans)."""
        canon = self._canon_stored(meta)
        if canon is None:
            return
        replaced = list(meta.parts)
        new = None
        if prune_pred is not None and meta.partition_cols:
            affected = (
                canon.filter(prune_pred)
                .select(*meta.partition_cols)
                .distinct()
                .collect()
            )
            if not affected:
                return
            rels = {
                "/".join(f"{pc}={r[pc]}" for pc in meta.partition_cols)
                for r in affected
            }
            if rels <= {os.path.dirname(p) for p in meta.parts} and all(
                v is not None and self._HIVE_SAFE.match(str(v))
                for r in affected
                for v in r
            ):
                keep = None
                for r in affected:
                    clause = F.lit(True)
                    for pc in meta.partition_cols:
                        clause = clause & (F.col(pc) == F.lit(r[pc]))
                    keep = clause if keep is None else (keep | clause)
                new = transform(canon.filter(keep))  # partition-pruned
                replaced = [
                    p for p in meta.parts if os.path.dirname(p) in rels
                ]
        if new is None:
            new = transform(canon)
            # every live row is now canonical: the defaults are REAL
            # stored values, and a lazy-ADD watermark left set would
            # re-evaluate them on read (wrong for now()). A pruned
            # rewrite leaves historical schemas, so only this clears.
            meta.schema_evolved = False
            for c in meta.columns:
                c.added_seq = None
        gone = set(replaced)
        meta.parts = [p for p in meta.parts if p not in gone]
        self._commit(meta, new, garbage=replaced)

    def _alter(self, stmt: str) -> None:
        m = re.match(r"^ALTER\s+TABLE\s+(\w+)\s+(.*)$", stmt, re.S | re.I)
        if not m:
            raise ValueError(f"unparseable ALTER: {stmt[:80]!r}")
        name, body = m.group(1), m.group(2).strip()
        meta = self.meta(name)
        action = body.split(None, 1)[0].upper()

        def _split_mutation(tail: str):
            """Split ``<head> [IN PARTITION <id>] WHERE <pred>`` on the
            FIRST TOP-LEVEL ``WHERE`` (quote- and paren-aware: WHERE
            inside a string literal or a subquery predicate is depth>0
            or inside quotes and is skipped — the two regex forms this
            replaces disagreed on partition-id syntax and split inside
            string literals). Returns (head, scope_col_or_None, pred).
            The scope conjunct is NULL-COALESCED like the predicate: a
            NULL partition value must not satisfy ``~match`` deletion.
            """
            words = lex(tail).words()
            wi = next(
                (i for i, (_s, _e, w) in enumerate(words)
                 if w.upper() == "WHERE"),
                None,
            )
            if wi is None:
                return None
            head_end = words[wi][0]
            pred = tail[words[wi][1] :].strip()
            head = tail[:head_end].rstrip()
            scope = None
            pm = re.search(
                r"\bIN\s+PARTITION\s+('[^']*'|\S+)\s*$", head, re.I
            )
            if pm:
                if len(meta.partition_cols) != 1:
                    raise ValueError(
                        "IN PARTITION needs exactly one partition column"
                    )
                val = pm.group(1).strip().strip("'")
                scope = F.coalesce(
                    F.col(meta.partition_cols[0]).cast("string")
                    == F.lit(val),
                    F.lit(False),
                )
                head = head[: pm.start()].rstrip()
            return head, scope, pred

        # a mutation's expressions read the table's column types
        ctx = QueryContext(schemas={name: StructType.fromDDL(
            self._schema_ddl(meta, stored_only=False))})
        if action == "DELETE":
            parts = _split_mutation(body[len("DELETE") :])
            if parts is None:
                raise ValueError("ALTER DELETE requires WHERE")
            _head, scope, pred_text = parts
            pred = F.expr(self._alias_subst(meta, translate(pred_text, ctx)))
            match = F.coalesce(pred.cast("boolean"), F.lit(False))
            if scope is not None:
                match = match & scope
            self._rewrite(
                meta, lambda d: d.filter(~match), prune_pred=match
            )
            return None
        if action == "UPDATE":
            parts = _split_mutation(body[len("UPDATE") :])
            if parts is None:
                raise ValueError("ALTER UPDATE requires WHERE")
            assign_text, scope, pred_text = parts
            pred = F.expr(self._alias_subst(meta, translate(pred_text, ctx)))
            match = F.coalesce(pred.cast("boolean"), F.lit(False))
            if scope is not None:
                match = match & scope
            assigns: dict[str, str] = {}

            for part in lex(assign_text).split():
                am = re.match(r"^(`[^`]+`|\w+)\s*=\s*(.+)$", part.strip(), re.S)
                if not am:
                    raise ValueError(f"unparseable assignment: {part!r}")
                cname = am.group(1).strip("`")
                col = meta.column(cname)
                if col.kind != "plain":
                    raise ValueError(f"cannot UPDATE {col.kind} column {cname}")
                in_part_expr = any(
                    re.search(rf"\b{re.escape(cname)}\b", pe)
                    for pe in meta.partition_exprs
                )
                if cname in meta.order_by or in_part_expr:
                    raise ValueError(
                        f"cannot UPDATE key column {cname} (ORDER BY / "
                        "PARTITION BY) — CH forbids this too; "
                        "INSERT + DELETE instead"
                    )
                assigns[cname] = self._alias_subst(
                    meta, translate(am.group(2), ctx)
                )

            def apply_update(d: DataFrame) -> DataFrame:
                for cname, expr_ in assigns.items():
                    ctype = meta.column(cname).spark_type
                    d = d.withColumn(
                        cname,
                        F.when(match, F.expr(expr_).cast(ctype)).otherwise(
                            F.col(cname)
                        ),
                    )
                return d

            # updating a lazily-ADDed column must materialize it
            # everywhere: a pruned rewrite would leave other partitions
            # reading the DEFAULT through the added_seq rule, masking
            # nothing — but the updated partitions' stored values would
            # ALSO be masked by that rule. A full rewrite clears the
            # watermark in its commit instead.
            lazy = any(meta.column(c).added_seq is not None for c in assigns)
            self._rewrite(
                meta, apply_update, prune_pred=None if lazy else match
            )
            return None
        pm = re.match(
            r"^(DROP|DETACH|ATTACH)\s+PARTITION\s+(.+)$", body, re.S | re.I
        )
        if pm:
            return self._partition_op(meta, pm.group(1).upper(),
                                      pm.group(2).strip())
        mm = re.match(r"^MATERIALIZE\s+COLUMN\s+(`[^`]+`|\w+)$", body, re.I)
        if mm:
            # force the lazy-ADD default into storage (CH's statement
            # for exactly this): an identity full rewrite — the canon
            # projection evaluates the default for pre-ADD rows, and
            # the full-rewrite path clears the watermark
            meta.column(mm.group(1).strip("`"))  # must exist
            self._rewrite(meta, lambda d: d)
            return None
        if action == "ADD":
            am = re.match(
                r"^ADD\s+COLUMN\s+(IF\s+NOT\s+EXISTS\s+)?(.+?)"
                r"(\s+(?:FIRST|AFTER\s+\w+))?$",
                body,
                re.S | re.I,
            )
            if not am:
                raise ValueError(f"unparseable ADD COLUMN: {body!r}")
            cm = _parse_column_entry(am.group(2))
            if any(c.name == cm.name for c in meta.columns):
                if am.group(1):
                    return None
                raise ValueError(f"column {cm.name} already exists")
            pos = len(meta.columns)
            if am.group(3):
                tok = am.group(3).strip()
                if tok.upper() == "FIRST":
                    pos = 0
                else:
                    after = tok.split()[1]
                    pos = [c.name for c in meta.columns].index(after) + 1
            if cm.kind != "alias":
                cm.added_seq = meta.next_seq
                meta.schema_evolved = True
            meta.columns.insert(pos, cm)
            self._save_meta(meta)
            return None
        if action == "DROP":
            dm = re.match(
                r"^DROP\s+COLUMN\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)$",
                body, re.I
            )
            if not dm:
                raise ValueError(f"unparseable DROP COLUMN: {body!r}")
            cname = dm.group(2).strip("`")
            if not any(c.name == cname for c in meta.columns):
                if dm.group(1):
                    return None
                raise ValueError(f"no column {cname}")
            if cname in meta.order_by or cname in meta.partition_cols or (
                cname == meta.version_col
            ):
                raise ValueError(f"cannot DROP key column {cname}")
            meta.columns = [c for c in meta.columns if c.name != cname]
            self._save_meta(meta)
            return None
        if action == "RENAME":
            rm = re.match(
                r"^RENAME\s+COLUMN\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)\s+TO\s+"
                r"(`[^`]+`|\w+)$",
                body, re.I
            )
            if not rm:
                raise ValueError(f"unparseable RENAME COLUMN: {body!r}")
            old, new = rm.group(2).strip("`"), rm.group(3).strip("`")
            if not any(c.name == old for c in meta.columns):
                if rm.group(1):
                    return None
                raise ValueError(f"no column {old}")
            if any(c.name == new for c in meta.columns):
                raise ValueError(f"column {new} already exists")
            # key columns cannot be renamed (CH forbids this too —
            # and a renamed plain-column partition would leave mixed
            # `old=v`/`new=v` directory names, which Spark's partition
            # discovery rejects as conflicting)
            in_key = (
                old in meta.partition_cols
                or old == meta.version_col
                or any(
                    re.search(rf"\b{re.escape(old)}\b", e)
                    for e in [*meta.order_by, *meta.partition_exprs,
                              meta.sample_by or ""]
                )
            )
            if in_key:
                raise ValueError(
                    f"cannot RENAME key column {old} (ORDER BY / "
                    "PARTITION BY / SAMPLE BY / version) — CH forbids "
                    "this too"
                )
            col = meta.column(old)
            col.stored = [old, *col.stored]  # history: files keep old name
            col.name = new
            # DEFAULT/MATERIALIZED/ALIAS/TTL expressions referencing
            # the column follow the rename (quote-aware), or later
            # inserts/reads resolve a name that no longer exists
            if meta.ttl:
                meta.ttl = lex(meta.ttl).subst(old, new)
            for other in meta.columns:
                if other.default:
                    other.default = lex(other.default).subst(old, new)
            meta.schema_evolved = True
            self._save_meta(meta)
            return None
        if action == "MODIFY":
            tm = re.match(r"^MODIFY\s+TTL\s+(.+)$", body, re.S | re.I)
            if tm:
                meta.ttl = translate(tm.group(1))
                self._save_meta(meta)
                return None
            mm = re.match(
                r"^MODIFY\s+COLUMN\s+(`[^`]+`|\w+)\s+(.+)$", body, re.S | re.I
            )
            if not mm:
                raise ValueError(f"unparseable MODIFY: {body!r}")
            cname = mm.group(1).strip("`")
            col = meta.column(cname)
            rest = mm.group(2).strip()
            dm = re.match(r"^DEFAULT\s+(.+)$", rest, re.S | re.I)
            if dm:
                col.default = translate(dm.group(1))
            else:
                spark_type, nullable = ch_type_to_spark(rest)
                col.ch_type, col.spark_type = rest, spark_type
                col.nullable = col.nullable or nullable
                meta.schema_evolved = True  # read path casts old files
            self._save_meta(meta)
            return None
        raise ValueError(
            f"unsupported ALTER action {action!r} — supported: DELETE, "
            "UPDATE, ADD/DROP/RENAME/MODIFY COLUMN, MODIFY TTL"
        )

    def _partition_op(self, meta: TableMeta, op: str, lit: str) -> None:
        """``ALTER TABLE t DROP/DETACH/ATTACH PARTITION <id>`` — THE
        cheap retention ops: no data read. DROP unlists a partition's
        parts; DETACH moves them to the detached list (replacing an
        earlier detached set), ATTACH moves them back — no file moves.
        The partition id is the literal partition VALUE (tuple literal
        for multi-column partitioning)."""
        if not meta.partition_cols:
            raise ValueError(f"table {meta.name} is not partitioned")
        toks = lex(lit)
        vals = [v.strip().strip("'\"") for v in (
            toks.split(1, toks.close(0)) if lit.startswith("(") else [lit]
        )]
        if len(vals) != len(meta.partition_cols):
            raise ValueError(
                f"partition id {lit!r}: expected {len(meta.partition_cols)} "
                f"value(s) for {meta.partition_cols}"
            )
        rel = "/".join(
            f"{c}={v}" for c, v in zip(meta.partition_cols, vals)
        )
        live = [p for p in meta.parts if os.path.dirname(p) == rel]
        stash = [p for p in meta.detached if os.path.dirname(p) == rel]
        # CH semantics (r13 DDL-fuzzer finding, seed 2): partition ops
        # act on "all matching parts" — ZERO matching parts is a
        # silent no-op, not an error (dropping an already-empty month
        # must be idempotent for retention jobs). ATTACH onto a LIVE
        # partition stays loud: CH would merge both part sets —
        # documented divergence.
        garbage: list[str] = []
        if op == "ATTACH":
            if not stash:
                return None
            if live:
                raise ValueError(
                    f"partition {rel} already attached — CH would "
                    "merge the part sets; move the data explicitly"
                )
            meta.detached = [p for p in meta.detached if p not in stash]
            meta.parts += stash
        elif not live:
            return None
        else:
            meta.parts = [p for p in meta.parts if p not in live]
            if op == "DROP":
                garbage = live
            else:
                meta.detached = [
                    p for p in meta.detached if p not in stash
                ] + live
                garbage = stash
        self._commit(meta, garbage=garbage)
        return None

    def show_create(self, name: str) -> str:
        """Reconstruct the CREATE TABLE statement from metadata (the
        ``SHOW CREATE TABLE`` surface). Rendered in CH dialect with the
        CURRENT logical schema — defaults/materialized/alias clauses
        carry the TRANSLATED (Spark SQL) expressions, annotated as
        such, since the original CH text is not retained."""
        meta = self.meta(name)
        lines = []
        for c in meta.logical_columns():
            ent = f"  `{c.name}` {c.ch_type}"
            if c.kind == "materialized":
                ent += f" MATERIALIZED {c.default}"
            elif c.kind == "alias":
                ent += f" ALIAS {c.default}"
            elif c.default:
                ent += f" DEFAULT {c.default}"
            lines.append(ent)
        engine = meta.engine
        if meta.engine == "VersionedCollapsingMergeTree":
            engine += f"({meta.sign_col}, {meta.version_col})"
        elif meta.sign_col:
            engine += f"({meta.sign_col})"
        elif meta.version_col:
            engine += f"({meta.version_col})"
        elif meta.sum_cols:
            engine += f"({', '.join(meta.sum_cols)})"
        out = [f"CREATE TABLE {name} (", ",\n".join(lines), ")",
               f"ENGINE = {engine}"]
        if meta.partition_exprs:
            out.append(f"PARTITION BY ({', '.join(meta.partition_exprs)})")
        if meta.order_by:
            out.append(f"ORDER BY ({', '.join(meta.order_by)})")
        if meta.sample_by:
            out.append(f"SAMPLE BY {meta.sample_by}")
        if meta.ttl:
            out.append(f"TTL {meta.ttl}")
        return "\n".join(out)

    # -- OPTIMIZE ------------------------------------------------------

    def _optimize(self, stmt: str) -> None:
        """``OPTIMIZE TABLE t [PARTITION p] [FINAL] [DEDUPLICATE [BY
        …]]``: one rewrite of the table (or partition) that drops rows
        past their TTL, applies the engine's ``_merge`` under FINAL,
        then deduplicates; an unpartitioned table with ORDER BY is also
        range-partitioned on the key."""
        m = re.match(
            r"^OPTIMIZE\s+TABLE\s+(\w+)"
            r"(?:\s+PARTITION\s+('[^']*'|[\w()-]+))?(\s+FINAL)?"
            r"(\s+DEDUPLICATE(\s+BY\s+(.+))?)?$",
            stmt,
            re.S | re.I,
        )
        if not m:
            raise ValueError(f"unparseable OPTIMIZE: {stmt[:80]!r}")
        meta = self.meta(m.group(1))
        part_lit = m.group(2)
        final = bool(m.group(3))
        dedup = bool(m.group(4))
        dedup_by = (
            [c.strip("` ") for c in lex(m.group(6)).split()]
            if m.group(6)
            else None
        )
        part_pred = None
        if part_lit is not None:
            # partition-scoped merge — the only OPTIMIZE shape that
            # exists at 100 TB (a full-table FINAL rewrite is a
            # full-table shuffle); reuses the pruned-rewrite machinery
            if len(meta.partition_cols) != 1:
                raise ValueError(
                    "OPTIMIZE … PARTITION needs exactly one partition "
                    f"column (table has {meta.partition_cols})"
                )
            val = part_lit.strip().strip("'")
            if not self._HIVE_SAFE.match(val):
                # the pruned-rewrite fallback is a FULL rewrite, which
                # would apply FINAL/DEDUPLICATE to every partition —
                # the opposite of a partition-scoped statement
                raise ValueError(
                    f"partition id {val!r} needs hive escaping — "
                    "OPTIMIZE the whole table or use hive-safe "
                    "partition values"
                )
            part_pred = F.col(meta.partition_cols[0]).cast(
                "string"
            ) == F.lit(val)
        merges = final and meta.engine in _MERGING

        def transform(d: DataFrame) -> DataFrame:
            if meta.ttl:
                # CH applies TTL during merges: rows whose expiry
                # instant has passed are dropped by OPTIMIZE
                d = d.filter(
                    F.expr(meta.ttl).cast("timestamp")
                    > F.current_timestamp()
                )
            if merges:
                d = self._merge(meta, d)
            if dedup:
                # row-content dedup: _ch_seq is bookkeeping, not content
                subset = dedup_by or [c.name for c in meta.stored_columns()]
                d = d.dropDuplicates(subset)
            return d

        # full-table rewrite; afterwards re-cluster files globally on
        # the ORDER BY key (disjoint min/max file ranges — the "one big
        # merged part" analog; repartitionByRange gives file-level skip)
        if not meta.parts:
            return None
        if part_pred is not None:
            self._rewrite(meta, transform, prune_pred=part_pred)
        elif not meta.partition_cols and meta.order_by:
            data = f"{self._dir(meta.name)}/data"
            total_bytes = sum(
                os.path.getsize(f"{data}/{p}") for p in meta.parts
            )
            n_files = max(1, math.ceil(total_bytes / (128 << 20)))
            self._rewrite(
                meta,
                lambda d: transform(d).repartitionByRange(
                    n_files, *[F.expr(e) for e in meta.order_by]
                ),
            )
        else:
            self._rewrite(meta, transform)
        return None

    # -- streaming ingestion -------------------------------------------

    def stream_into(
        self,
        name: str,
        stream_df,
        checkpoint: str | None = None,
        available_now: bool = True,
    ):
        """Continuous ingestion into a warehouse table — the CH
        ``Kafka engine → MergeTree (+ MVs)`` pattern, Spark-first:
        each micro-batch appends through :meth:`insert_df`, so column
        DEFAULT/MATERIALIZED expressions apply and MATERIALIZED VIEWS
        fire per micro-batch (CH fires per inserted block; a
        micro-batch IS the block here). foreachBatch + the table's own
        checkpoint dir give exactly-once-per-batch appends at any
        scale; ``available_now=False`` runs continuously (caller owns
        stop()). Returns the StreamingQuery."""
        self.meta(name)  # must exist
        cp = checkpoint or f"{self._dir(name)}/_checkpoint"
        writer = (
            stream_df.writeStream.foreachBatch(
                lambda batch, _id: self.insert_df(name, batch)
            )
            .option("checkpointLocation", cp)
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return q
        return writer.start()

    # -- system introspection ------------------------------------------

    def parts(self) -> DataFrame:
        """The ``system.parts`` surface: one row per (table, partition
        directory) with file/row/byte counts of the live parts the
        manifest lists — what capacity planning and merge monitoring
        read in CH. Row counts come from parquet FOOTERS via pyarrow
        (driver-side metadata reads, no Spark job, no data scanned); at
        100 TB this is still only O(files) footer fetches of a few KB
        each."""
        import pyarrow.parquet as pq

        rows = []
        for t in self.tables():
            meta = self.meta(t)
            data = f"{self._dir(t)}/data"
            by_part: dict[str, list[str]] = {}
            for p in meta.parts:
                by_part.setdefault(os.path.dirname(p), []).append(
                    f"{data}/{p}"
                )
            for part, files in sorted(by_part.items()):
                n_rows = sum(
                    pq.ParquetFile(f).metadata.num_rows for f in files
                )
                n_bytes = sum(os.path.getsize(f) for f in files)
                rows.append(
                    (t, part, meta.engine, len(files), n_rows, n_bytes)
                )
        return self.spark.createDataFrame(
            rows,
            "table string, partition string, engine string, "
            "file_count int, rows bigint, bytes_on_disk bigint",
        )

    def tables_info(self) -> DataFrame:
        """``system.tables``: name, engine, keys (metadata only)."""
        rows = [
            (
                t,
                (m := self.meta(t)).engine,
                ", ".join(m.partition_exprs),
                ", ".join(m.order_by),
                m.sample_by or "",
            )
            for t in self.tables()
        ]
        return self.spark.createDataFrame(
            rows,
            "name string, engine string, partition_key string, "
            "sorting_key string, sampling_key string",
        )

    def columns_info(self) -> DataFrame:
        """``system.columns``: per-column CH type + default info."""
        rows = []
        for t in self.tables():
            for c in self.meta(t).logical_columns():
                kind = {"plain": "DEFAULT" if c.default else "",
                        "materialized": "MATERIALIZED",
                        "alias": "ALIAS"}[c.kind]
                rows.append((t, c.name, c.ch_type, kind, c.default or ""))
        return self.spark.createDataFrame(
            rows,
            "table string, name string, type string, "
            "default_kind string, default_expression string",
        )

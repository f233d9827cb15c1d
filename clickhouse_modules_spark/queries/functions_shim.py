"""Scalar-function-family fixture queries (SURVEY §2C — Scalar functions).

Families are grouped per source table into four driver-facing
composites (all written THROUGH the ClickHouse-name shim,
clickhouse_modules_spark.functions.ch, so the shim itself is what the
oracle validates):

- ``q_fn_scalar``      — string + hash + conditional families (customer)
- ``q_fn_numeric_time``— math + date/time families (orders)
- ``q_fn_collections`` — array + URL families (documents)
- ``q_fn_semistruct``  — map + JSON families (events)

All shims are JVM builtins — these plans are pure whole-stage-codegen
projections over a single scan; merging families into one projection
changes nothing physically (same scan, more columns).

The CH-dialect SQL translator is driver-checked by ``q_chsql``
(function rewrites), ``q_chsql_clauses`` (ARRAY JOIN + PREWHERE +
WITH TOTALS + LIMIT BY + SETTINGS composed in ONE statement),
``q_chsql_dictget`` (dictionary lookups), and ``q_chsql_extensions``
(FROM … FINAL, SAMPLE n/d, ASOF JOIN, ORDER BY … WITH FILL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_modules_spark.functions import ch
from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.tables import load_events, pscan


@query(
    "q_fn_scalar",
    oracle="""
    SELECT c_custkey,
           lower(c_name)                       AS name_lower,
           upper(c_mktsegment)                 AS seg_upper,
           substring(c_name, 1, 8)             AS name_prefix,
           c_name || ':' || c_mktsegment       AS name_seg,
           length(c_name)                      AS name_len,
           position('0' IN c_name)             AS pos_zero,
           replace(c_name, '#', '-')           AS name_dashed,
           trim(c_name)                        AS name_trim,
           split_part(c_name, '#', 1)          AS name_head,
           starts_with(c_name, 'Customer')     AS is_cust,
           sha256(c_name)                      AS name_sha256,
           md5(c_name)                         AS name_md5,
           CASE WHEN c_acctbal > 5000 THEN 'rich' ELSE 'modest' END AS wealth,
           CASE WHEN c_mktsegment = 'BUILDING'   THEN 'b'
                WHEN c_mktsegment = 'AUTOMOBILE' THEN 'a'
                ELSE 'other' END                AS seg_code,
           COALESCE(NULLIF(c_mktsegment, 'FURNITURE'), 'WOOD') AS seg_adj
    FROM customer
    """,
)
def q_fn_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family (lower/upper/substring/concat/position/replaceAll/
    trim/splitByChar), hash family (SHA256 — the reference's password
    hashing, clickhouse_users.py:206-208 — and MD5), and conditional
    family (if/multiIf/coalesce/nullIf) in one codegen projection."""
    c = pscan(spark, f"{sf_dir}/customer.parquet")
    return c.select(
        "c_custkey",
        ch.lower("c_name").alias("name_lower"),
        ch.upper("c_mktsegment").alias("seg_upper"),
        ch.substring("c_name", 1, 8).alias("name_prefix"),
        ch.concat("c_name", F.lit(":"), "c_mktsegment").alias("name_seg"),
        ch.lengthUTF8("c_name").alias("name_len"),
        ch.position("c_name", "0").alias("pos_zero"),
        ch.replaceAll("c_name", "#", "-").alias("name_dashed"),
        ch.trim("c_name").alias("name_trim"),
        ch.splitByChar("#", "c_name").getItem(0).alias("name_head"),
        ch.startsWith("c_name", "Customer").alias("is_cust"),
        ch.SHA256("c_name").alias("name_sha256"),
        ch.MD5("c_name").alias("name_md5"),
        ch.if_(
            F.col("c_acctbal") > 5000, F.lit("rich"), F.lit("modest")
        ).alias("wealth"),
        ch.multiIf(
            F.col("c_mktsegment") == "BUILDING",
            F.lit("b"),
            F.col("c_mktsegment") == "AUTOMOBILE",
            F.lit("a"),
            F.lit("other"),
        ).alias("seg_code"),
        ch.coalesce(ch.nullIf("c_mktsegment", "FURNITURE"), F.lit("WOOD")).alias(
            "seg_adj"
        ),
    )


@query(
    "q_fn_numeric_time",
    oracle="""
    SELECT o_orderkey,
           strftime(date_trunc('day',   o_orderdate), '%Y-%m-%d') AS day_start,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(strftime(o_orderdate, '%Y%m') AS INT)           AS yyyymm,
           EXTRACT(year  FROM o_orderdate)                      AS yr,
           EXTRACT(month FROM o_orderdate)                      AS mo,
           EXTRACT(day   FROM o_orderdate)                      AS dom,
           datediff('day', DATE '1995-01-01',
                    CAST(o_orderdate AS DATE))                  AS days_since_95,
           ROUND(o_totalprice, 1)                               AS price_r1,
           FLOOR(o_totalprice)                                  AS price_floor,
           CEIL(o_totalprice)                                   AS price_ceil,
           ABS(o_custkey - 500)                                 AS cust_dev,
           ROUND(EXP(o_orderkey / 5000.0), 6)                   AS e_key,
           ROUND(LN(o_totalprice), 6)                           AS ln_price,
           ROUND(POW(o_custkey, 2), 1)                          AS cust_sq,
           CAST(FLOOR(o_orderkey / 7) AS BIGINT)                AS bucket7,
           o_orderkey % 7                                       AS mod7,
           ((o_orderkey - 3) % 7 + 7) % 7                       AS pmod7
    FROM orders
    WHERE o_orderkey <= 500
    """,
)
def q_fn_numeric_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family (toStartOfDay/Month, toYYYYMM, toYear/Month/Day,
    dateDiff) + math family (round/floor/ceil/abs/exp/log/pow/intDiv/
    modulo/pmod) in one projection over orders.

    Truncated dates surface as 'yyyy-MM-dd' STRINGS: Spark DATE arrives
    as datetime.date while DuckDB DATE arrives as a pandas Timestamp —
    strings hash identically in any comparator.
    """
    o = pscan(spark, f"{sf_dir}/orders.parquet")
    return o.filter(F.col("o_orderkey") <= 500).select(
        "o_orderkey",
        F.date_format(ch.toStartOfDay("o_orderdate"), "yyyy-MM-dd").alias("day_start"),
        F.date_format(ch.toStartOfMonth("o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        ch.toYYYYMM("o_orderdate").alias("yyyymm"),
        ch.toYear("o_orderdate").cast("long").alias("yr"),
        ch.toMonth("o_orderdate").cast("long").alias("mo"),
        ch.toDayOfMonth("o_orderdate").cast("long").alias("dom"),
        ch.dateDiff("day", F.lit("1995-01-01").cast("date"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_since_95"),
        ch.roundf("o_totalprice", 1).alias("price_r1"),
        ch.floor("o_totalprice").cast("double").alias("price_floor"),
        ch.ceil("o_totalprice").cast("double").alias("price_ceil"),
        ch.abs_(F.col("o_custkey") - 500).cast("long").alias("cust_dev"),
        F.round(ch.exp(F.col("o_orderkey") / 5000.0), 6).alias("e_key"),
        F.round(ch.log("o_totalprice"), 6).alias("ln_price"),
        F.round(ch.pow_("o_custkey", 2.0), 1).alias("cust_sq"),
        ch.intDiv("o_orderkey", 7).alias("bucket7"),
        ch.modulo("o_orderkey", 7).alias("mod7"),
        ch.positiveModulo(F.col("o_orderkey") - 3, 7).alias("pmod7"),
    )


@query(
    "q_fn_collections",
    oracle="""
    WITH u AS (
        SELECT doc_id, text,
               'https://' || source || '.example.com/docs/' || lang ||
               '?id=' || doc_id || '&ref=corpus' AS url
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           len(string_split(text, ' '))                                    AS n_words,
           list_contains(string_split(text, ' '), 'merge')                 AS has_merge,
           array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
               AS sorted_vocab,
           list_position(string_split(text, ' '), 'the')                   AS pos_the,
           regexp_extract(url, '^([a-z]+)://', 1)            AS proto,
           regexp_extract(url, '^[a-z]+://([^/]+)/', 1)      AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS pth,
           regexp_extract(url, '[?&]id=([^&]*)', 1)          AS id_param
    FROM u
    """,
)
def q_fn_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family (length/has/arraySort/arrayDistinct/indexOf over
    word arrays — ``has_merge`` mirrors R5's has()) + URL family (CH
    ``protocol``/``domain``/``path``/``extractURLParameter`` →
    ``parse_url``) on synthesized well-formed URLs: Spark's parse_url
    and the oracle's regex decomposition must agree byte-for-byte.
    Arrays are joined to strings for hash-stable output.
    """
    d = pscan(spark, f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    words = ch.splitByChar(" ", "text")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("?id="),
        F.col("doc_id").cast("string"),
        F.lit("&ref=corpus"),
    )
    return d.select("doc_id", "text", url.alias("url")).select(
        "doc_id",
        ch.length(words).cast("long").alias("n_words"),
        ch.has(words, "merge").alias("has_merge"),
        ch.arrayStringConcat(ch.arraySort(ch.arrayDistinct(words)), " ").alias(
            "sorted_vocab"
        ),
        ch.indexOf(words, "the").cast("long").alias("pos_the"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("pth"),
        F.parse_url("url", F.lit("QUERY"), F.lit("id")).alias("id_param"),
    )


@query(
    "q_fn_semistruct",
    oracle="""
    SELECT event_id,
           'type,uid'                                    AS map_keys,
           event_type || ',' || CAST(user_id AS VARCHAR) AS map_vals,
           event_type                                    AS type_val,
           json_extract_string(props, '$.k')             AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           json_extract_string(props, '$.k') IS NOT NULL     AS has_k,
           json_extract_string(props, '$.missing')           AS missing_val
    FROM events
    WHERE event_id < 200
    """,
)
def q_fn_semistruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family (construct, mapKeys/mapValues, element access — the
    Spark side builds a real MapType column, flattened to strings for
    hashing) + JSON family (JSONExtractString/Int/Has on events.props)
    in one projection."""
    e = load_events(spark, sf_dir)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    return e.filter(F.col("event_id") < 200).select(
        "event_id",
        F.array_join(ch.mapKeys(m), ",").alias("map_keys"),
        F.array_join(ch.mapValues(m), ",").alias("map_vals"),
        m.getItem("type").alias("type_val"),
        ch.JSONExtractString("props", "k").alias("k_str"),
        ch.JSONExtractInt("props", "k").alias("k_int"),
        ch.JSONHas("props", "k").alias("has_k"),
        ch.JSONExtractString("props", "missing").alias("missing_val"),
    )


@query(
    "q_chsql",
    oracle="""
    WITH base AS (
        SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS ym, *
        FROM orders
    ),
    main AS (
        SELECT ym,
               COUNT(*) FILTER (WHERE o_totalprice > 200000)      AS n_big,
               COUNT(DISTINCT o_custkey)                          AS n_cust,
               ROUND(SUM(CASE WHEN o_orderstatus = 'F'
                              THEN o_totalprice::DECIMAL(18,4) END), 2)::DOUBLE
                                                                  AS f_total,
               MAX(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 'urgent' ELSE 'other' END)           AS any_urgent
        FROM base
        GROUP BY 1
    ),
    pc AS (
        SELECT ym, o_orderpriority AS p, COUNT(*) AS c
        FROM base GROUP BY 1, 2
    ),
    pr AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY ym ORDER BY c DESC, p
        ) AS rn FROM pc
    ),
    tk AS (
        SELECT ym, string_agg(p, ',' ORDER BY rn) AS top_prios
        FROM pr WHERE rn <= 2 GROUP BY ym
    )
    SELECT main.*, tk.top_prios
    FROM main JOIN tk USING (ym)
    """,
)
def q_chsql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A ClickHouse-DIALECT query run verbatim through the ch_sql
    translator (functions/ch_sql.py): toYYYYMM, countIf, uniqExact,
    sumIf, `==`, the parameterized ``topK(2)(x)`` aggregate (the 2
    most FREQUENT priorities per month — frequency semantics, count
    desc / value asc, joined to a string for a hash-stable surface)
    AND the CH bracket syntax — ``['other','urgent'][flag + 1]`` is a
    bracket array literal indexed 1-BASED (→ element_at; native Spark
    ``[ ]`` would silently pick the other element) — all rewritten to
    Spark SQL before Catalyst ever sees the text, so pushdown/codegen
    apply as if hand-written.
    The oracle replays the same query in plain ANSI for DuckDB,
    including the top-2-by-frequency computation.
    """
    from clickhouse_modules_spark.functions import ch_sql as chs

    o = pscan(spark, f"{sf_dir}/orders.parquet")
    q = """
    SELECT toYYYYMM(o_orderdate) AS ym,
           countIf(o_totalprice > 200000) AS n_big,
           uniqExact(o_custkey) AS n_cust,
           toFloat64(round(sumIf(toDecimal64(o_totalprice, 4), o_orderstatus == 'F'), 2)) AS f_total,
           max(['other', 'urgent'][toUInt8(o_orderpriority == '1-URGENT') + 1]) AS any_urgent,
           arrayStringConcat(topK(2)(o_orderpriority), ',') AS top_prios
    FROM orders
    GROUP BY ym
    """
    return chs.ch_sql(spark, q, views={"orders": o})


@query(
    "q_chsql_clauses",
    oracle="""
    WITH ex AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id < 200
    ),
    cnt AS (SELECT lang, w, COUNT(*) AS n FROM ex GROUP BY 1, 2),
    tot AS (SELECT CAST(NULL AS VARCHAR) AS lang,
                   CAST(NULL AS VARCHAR) AS w,
                   COUNT(*) AS n FROM ex),
    allr AS (SELECT * FROM cnt UNION ALL SELECT * FROM tot),
    rk AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY n DESC, w
        ) AS rn FROM allr
    )
    SELECT lang, w, n FROM rk WHERE rn <= 2
    """,
)
def q_chsql_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clause COMPOSITION through the translator: ONE CH statement using
    ARRAY JOIN + PREWHERE + GROUP BY … WITH TOTALS + LIMIT BY + a
    SETTINGS tail (top-2 words per language plus the grand-total row).
    Proves the rewrites compose — ARRAY JOIN expands in the scan stage,
    TOTALS becomes the empty grouping set, PREWHERE folds into the
    pushed filter, LIMIT BY wraps last as a row_number window — and the
    physical plan is the same explode → partial-agg → WindowGroupLimit
    chain a hand-written Spark query gets. The totals row (NULL lang)
    is its own LIMIT BY partition, exactly as in CH.
    """
    from clickhouse_modules_spark.functions import ch_sql as chs

    d = pscan(spark, f"{sf_dir}/documents.parquet")
    q = """
    SELECT lang, w, count() AS n
    FROM documents
    ARRAY JOIN splitByChar(' ', text) AS w
    PREWHERE doc_id < 200
    GROUP BY lang, w WITH TOTALS
    ORDER BY n DESC, w
    LIMIT 2 BY lang
    SETTINGS max_threads = 4
    """
    return chs.ch_sql(spark, q, views={"documents": d})


@query(
    "q_chsql_dictget",
    oracle="""
    SELECT c.c_custkey,
           n.n_name                             AS nation_name,
           COALESCE(r.r_name, 'UNKNOWN')        AS region_name
    FROM customer c
    LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE c.c_custkey < 500
    """,
)
def q_chsql_dictget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ``dictGet`` family through the translator: dictionary lookups
    become correlated scalar subqueries over views registered with
    ``register_dictionary``; Catalyst decorrelates each into a
    left outer join and AQE broadcasts the dictionary side — the
    declarative form of CH's in-memory hash lookup.

    Dictionaries are FLAT (keyed directly by the probe column): Spark
    only supports one level of outer-column correlation, so a dictGet
    nested in another dictGet's key argument does not resolve —
    pre-join the hierarchy into the dictionary instead (here
    nation⋈region → a region-name dict keyed by nationkey), which is
    also how CH users model hierarchies for single-hop lookups.
    """
    from clickhouse_modules_spark.functions import ch_sql as chs

    c = pscan(spark, f"{sf_dir}/customer.parquet")
    n = pscan(spark, f"{sf_dir}/nation.parquet")
    r = pscan(spark, f"{sf_dir}/region.parquet")
    geo = n.join(r, n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "r_name"
    )
    chs.register_dictionary(spark, "nation_dict", n, "n_nationkey")
    chs.register_dictionary(spark, "georegion_dict", geo, "n_nationkey")
    q = """
    SELECT c_custkey,
           dictGet('nation_dict', 'n_name', c_nationkey) AS nation_name,
           dictGetOrDefault('georegion_dict', 'r_name', c_nationkey,
                            'UNKNOWN') AS region_name
    FROM customer
    WHERE c_custkey < 500
    """
    return chs.ch_sql(spark, q, views={"customer": c})


@query(
    "q_chsql_extensions",
    oracle="""
    WITH s AS (
        SELECT * FROM events
        WHERE (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 4) < 1
    ),
    fin AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type ORDER BY event_id DESC
        ) AS rn FROM s
    ),
    fs AS (
        SELECT 'final_sample' AS kind, '' AS k,
               COUNT(*)::BIGINT AS n, MAX(event_id) AS extra
        FROM fin WHERE rn = 1
    ),
    m AS (
        SELECT e.event_id, CAST(e.ts AS DATE) AS day, o.o_orderkey
        FROM events e LEFT JOIN LATERAL (
            SELECT o_orderkey FROM orders o
            WHERE e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1
        ) o ON TRUE
        WHERE e.event_id % 97 = 0
    ),
    d AS (SELECT day, COUNT(*)::BIGINT AS n, MAX(o_orderkey) AS extra
          FROM m GROUP BY day),
    b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
    sp AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
           FROM b),
    af AS (
        SELECT 'asof_fill' AS kind, strftime(sp.day, '%Y-%m-%d') AS k,
               d.n AS n, d.extra AS extra
        FROM sp LEFT JOIN d USING (day)
    ),
    cmb AS (
        SELECT 'combinators' AS kind, event_type AS k,
               COUNT(DISTINCT CASE WHEN value > 50 THEN user_id END)::BIGINT
                   AS n,
               MAX(CASE WHEN value > 50 THEN event_id END) AS extra
        FROM events
        GROUP BY event_type ORDER BY event_type LIMIT 3 OFFSET 1
    ),
    fb AS (
        SELECT 'fn_batch' AS kind, '' AS k,
               (COUNT(*) FILTER (WHERE event_id % 2 = 1))::BIGINT AS n,
               MAX(CAST(strftime(ts, '%Y%m%d') AS BIGINT) +
                   date_diff('day', date_trunc('month', ts)::DATE,
                             ts::DATE))::BIGINT AS extra
        FROM events WHERE event_id % 101 = 0
    ),
    wf AS (
        SELECT 'window_frames' AS kind, k, COUNT(*)::BIGINT AS n,
               MAX(prev) AS extra
        FROM (
            SELECT event_type AS k,
                   SUM(value) OVER w AS run,
                   LAG(event_id) OVER (
                       PARTITION BY event_type ORDER BY event_id) AS prev
            FROM events
            WHERE event_id % 53 = 0
            WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        )
        WHERE run > 123.4
        GROUP BY k
    ),
    skt AS (
        SELECT event_type AS et, COUNT(*) AS c
        FROM events WHERE event_id % 101 = 0
        GROUP BY 1 ORDER BY c DESC, et LIMIT 2
    ),
    sk AS (
        SELECT 'sketches' AS kind,
               (SELECT string_agg(et, ',' ORDER BY c DESC, et) FROM skt)
                   AS k,
               (SELECT COUNT(*) FROM events
                WHERE event_id % 101 = 0)::BIGINT AS n,
               (SELECT COUNT(DISTINCT event_type) FROM events
                WHERE event_id % 101 = 0)::BIGINT AS extra
    ),
    ddlsrc AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS total,
               1 AS flag
        FROM orders
        WHERE o_orderkey % 31 = 0
          AND NOT (o_orderstatus = 'F' AND o_orderkey % 2 = 0)
        UNION ALL
        SELECT 1000000007, 'X', 5.0, 0
    ),
    dd AS (
        SELECT 'ddl' AS kind, status AS k, COUNT(*)::BIGINT AS n,
               (SUM(okey * flag)::BIGINT
                + COUNT(*) FILTER (WHERE total > 150000.0))::BIGINT AS extra
        FROM ddlsrc GROUP BY status
    ),
    -- algebraic replay of the CollapsingMergeTree leg: batch 2 cancels
    -- every 'F' row, batch 3 cancels + restates 'O' rows at total*2
    -- (exact IEEE doubling), so FINAL survivors are non-'F' rows with
    -- 'O' totals doubled
    collsrc AS (
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
                    ELSE o_totalprice END AS total
        FROM orders
        WHERE o_orderkey % 41 = 0 AND o_orderstatus <> 'F'
    ),
    dc AS (
        SELECT 'ddl_collapse' AS kind, status AS k, COUNT(*)::BIGINT AS n,
               (SUM(okey)::BIGINT
                + COUNT(*) FILTER (WHERE total > 200000.0))::BIGINT AS extra
        FROM collsrc GROUP BY status
    ),
    -- strk: regexpQuoteMeta replayed with the same metacharacter
    -- class (DuckDB single-quoted strings are escape-free, regex
    -- replacement \\ + \1 emits backslash + group), morton replayed
    -- as the same 16-step bit interleave via list_transform
    stk AS (
        SELECT 'strk' AS kind,
               regexp_replace('(' || MIN(event_type) || ')+.|$',
                              '([\\\\|()^$.\\[\\]?*+{:-])',
                              '\\\\\\1', 'g') AS k,
               SUM(length(regexp_replace(
                   '[' || event_type || ']*'
                       || CAST(event_id % 7 AS VARCHAR),
                   '([\\\\|()^$.\\[\\]?*+{:-])',
                   '\\\\\\1', 'g')))::BIGINT AS n,
               SUM(list_sum(list_transform(range(0, 16), i ->
                   (((event_id % 65536) >> i) & 1)
                       * (1::BIGINT << (2 * i))
                   + (((user_id % 65536) >> i) & 1)
                       * (1::BIGINT << (2 * i + 1)))))::BIGINT AS extra
        FROM events WHERE event_id % 59 = 0
    ),
    -- r10: QUALIFY + exact quantiles + sumMap + gcd replayed
    -- algebraically: ExactLow/High select sorted[⌊level·n⌋] (CH
    -- QuantileExact.h indexing — Low ≡ High for levels ≠ 0.5);
    -- the single-key-per-row sumMap reduces to a per-type cent sum;
    -- DuckDB's QUALIFY is the same window filter
    r10 AS (
        SELECT 'r10' AS kind, et AS k,
               (lo + hi + gcd(cnt, 360))::BIGINT AS n,
               sm::BIGINT AS extra
        FROM (
            SELECT event_type AS et,
                   list_sort(list(event_id % 1000))[
                       LEAST(CAST(floor(0.25 * COUNT(*)) AS BIGINT),
                             COUNT(*) - 1) + 1
                   ] AS lo,
                   list_sort(list(event_id % 1000))[
                       LEAST(CAST(floor(0.75 * COUNT(*)) AS BIGINT),
                             COUNT(*) - 1) + 1
                   ] AS hi,
                   COUNT(*) AS cnt,
                   SUM(CAST(floor(value * 100) AS BIGINT)) AS sm
            FROM events WHERE event_id % 89 = 0
            GROUP BY event_type
        )
        QUALIFY row_number() OVER (ORDER BY et) <= 3
    ),
    -- r11: toYearWeek (mode-0 MySQL-YEARWEEK replay incl. the week-0
    -- previous-year shift + ISO mode), the ordered moving-sum(3)
    -- total replayed algebraically as Σ v_j·min(3, n−j+1) over the
    -- event_id-ordered list, tuplePlus = plain addition,
    -- extractAllGroupsVertical on 'k=v': match[1] group[2] = the
    -- count rendered back through the regex round-trip
    r11 AS (
        SELECT 'r11' AS kind, et AS k,
               (CASE WHEN wk0 = 0 THEN (year(md) - 1) * 100 +
                   ((dayofyear(date_trunc('year', md) - INTERVAL 1 DAY)
                     - (7 - dayofweek(date_trunc('year',
                         date_trunc('year', md) - INTERVAL 1 DAY))) % 7
                     + 6) // 7)
                ELSE year(md) * 100 + wk0 END
                + isoyear(md) * 100 + week(md) + ms)::BIGINT AS n,
               (tp + ng)::BIGINT AS extra
        FROM (
            SELECT et, md,
                   ((dayofyear(md)
                     - (7 - dayofweek(date_trunc('year', md))) % 7
                     + 6) // 7) AS wk0,
                   list_sum(list_transform(range(1, len(lst) + 1),
                       j -> lst[j] * least(3, len(lst) - j + 1))) AS ms,
                   tp, ng
            FROM (
                SELECT event_type AS et,
                       min(CAST(ts AS DATE)) AS md,
                       list(CAST(floor(value * 100) AS BIGINT)
                            ORDER BY event_id) AS lst,
                       7 + min(event_id) AS tp,
                       COUNT(*) AS ng
                FROM events WHERE event_id % 97 = 0
                GROUP BY event_type
            )
        )
    ),
    -- r12: AggregateFunction state columns — the two -State insert
    -- batches merge back to direct aggregation over the union (state
    -- associativity), so the replay aggregates the raw rows;
    -- avgMerge = IEEE double division of exact ints (Σcents / n),
    -- identical in both engines, so floor() is deterministic
    r12src AS (
        SELECT o_orderstatus AS st, o_custkey,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 37 = 0
    ),
    r12 AS (
        SELECT 'r12' AS kind, st AS k,
               (COUNT(*) + COUNT(DISTINCT o_custkey))::BIGINT AS n,
               (SUM(cents) + MAX(cents)
                + CAST(floor(CAST(SUM(cents) AS DOUBLE)
                             / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               )::BIGINT AS extra
        FROM r12src GROUP BY st
    ),
    -- r13 bitmap: a bitmap is its distinct element set, so the replay
    -- is plain distinct-counting / filtered max; the And-fold is the
    -- "present in every event_type" HAVING
    bmsrc AS (
        SELECT event_type, user_id FROM events WHERE event_id % 11 = 0
    ),
    bm AS (
        SELECT 'bitmap' AS kind, event_type AS k,
               COUNT(DISTINCT user_id)::BIGINT AS n,
               (COALESCE(MAX(user_id) FILTER (
                    WHERE user_id >= 0 AND user_id < 8), 0)
                + COUNT(DISTINCT user_id) FILTER (
                    WHERE user_id IN (1, 3, 5, 7, 9)))::BIGINT AS extra
        FROM bmsrc GROUP BY event_type
    ),
    bmf AS (
        SELECT 'bitmap_fold' AS kind, '' AS k,
               (SELECT COUNT(DISTINCT user_id) FROM bmsrc)::BIGINT AS n,
               (SELECT COUNT(*) FROM (
                    SELECT user_id FROM bmsrc GROUP BY user_id
                    HAVING COUNT(DISTINCT event_type) =
                        (SELECT COUNT(DISTINCT event_type) FROM bmsrc)
               ))::BIGINT AS extra
    ),
    hp AS (
        -- r15 hop leg: sliding-window membership re-derived as an
        -- explicit explode over the window starts k*h with
        -- (t-w) < k*h <= t (h = 21600 s, w = 43200 s)
        SELECT 'hop' AS kind, CAST(s AS VARCHAR) AS k,
               COUNT(*)::BIGINT AS n, MAX(event_id)::BIGINT AS extra
        FROM (
            SELECT event_id, unnest(generate_series(
                (CAST(floor((epoch(ts) - 43200) / 21600) AS BIGINT)
                 + 1) * 21600,
                CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600,
                21600)) AS s
            FROM events WHERE event_id % 11 = 0
        ) GROUP BY s
    )
    SELECT * FROM fs UNION ALL SELECT * FROM af UNION ALL SELECT * FROM cmb
    UNION ALL SELECT * FROM wf UNION ALL SELECT * FROM fb
    UNION ALL SELECT * FROM sk UNION ALL SELECT * FROM dd
    UNION ALL SELECT * FROM dc UNION ALL SELECT * FROM stk
    UNION ALL SELECT * FROM r10 UNION ALL SELECT * FROM r11
    UNION ALL SELECT * FROM r12
    UNION ALL SELECT * FROM bm UNION ALL SELECT * FROM bmf
    UNION ALL SELECT * FROM hp
    """,
)
def q_chsql_extensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four table-level CH clauses through the translator, two
    statements tag-unioned:

    - ``FROM events FINAL SAMPLE 1/4``: deterministic md5-bucket sample
      (register_sampling_key) feeding a ReplacingMergeTree latest-
      version read (register_replacing_table) — count + max id of the
      per-(user, event_type) winners.
    - ``ASOF LEFT JOIN`` (latest order at-or-before each event) into a
      daily rollup with ``ORDER BY day WITH FILL`` — the lateral top-1
      decorrelates to the one-shuffle window shape; the fill spine is
      sequence()-generated and broadcast-joined.
    - ``combinators``: the generic ``-If`` aggregate combinator
      (``uniqExactIf``/``maxIf``) + ClickHouse's offset-first
      ``LIMIT 1, 3`` comma form (→ Spark LIMIT/OFFSET).
    - ``window_frames``: OVER pass-through surface — a named WINDOW
      clause with a ROWS frame (shared syntax, byte-intact) plus
      ``lagInFrame`` with the full-frame idiom (→ ``lag``, frame
      dropped; narrow frames are rejected in translate()).
    - ``fn_batch``: the round-8 scalar batch driver-checked —
      ``bitTest`` (shift+mask), ``toYYYYMMDD`` (date-key int), and
      ``dateDiff('day', …)`` with CH's BOUNDARY-CROSSING semantics
      (DuckDB replays it as date_diff over date_trunc boundaries).
    - ``sketches``: the CH sketch-aggregate SPELLINGS a dashboard query
      uses — ``topK(2)(x)`` (exact here: count desc, value asc — where
      CH's SpaceSaving is approximate) and ``uniqHLL12`` (→
      approx_count_distinct; HLL++ sparse mode is EXACT at the tiny
      event-type cardinality, so the oracle's COUNT(DISTINCT) matches —
      same contract q_agg_distinct pins). quantileTDigest/quantileTiming
      map to percentile_approx (pytest-pinned; sketch-vs-sketch outputs
      have no cross-engine equality to check).

    - ``ddl``: the table-lifecycle surface (ddl.ChWarehouse) —
      CREATE TABLE / INSERT SELECT-equivalent load / partition-less
      DELETE and UPDATE mutations / lazy ADD COLUMN DEFAULT / INSERT
      VALUES / OPTIMIZE, aggregated with int64-exact discriminators.
      The oracle replays the final table state algebraically (filter +
      CASE + UNION of the late insert).

    - ``r12``: AggregateFunction STATE columns — -State inserts into
      AggregatingMergeTree, OPTIMIZE FINAL state merge, FROM … FINAL
      query-side state collapse, -Merge reads (count/sum/avg/max/
      uniqExact bases; uniq's HLL tier is pytest-pinned with a
      relative-error contract since sketch estimates have no
      cross-engine equality).

    - ``hop`` (r15): ``GROUP BY hop(ts, INTERVAL 6 HOUR, INTERVAL 12
      HOUR)`` — multi-window membership through Spark's native
      sliding window() generator; the oracle re-derives membership as
      an explicit generate_series explode over the window starts.

    The oracle replays all statements (same md5 bucket math, same
    lateral tie-break, same spine, CASE-wrapped aggregates + LIMIT 3
    OFFSET 1, same WINDOW/LAG leg, same fn_batch arithmetic, same
    mutation algebra) and unions them identically.
    """
    from clickhouse_modules_spark.functions import ch_sql as chs

    e = load_events(spark, sf_dir)
    o = pscan(spark, f"{sf_dir}/orders.parquet")
    chs.register_replacing_table("events", ["user_id", "event_type"], "event_id")
    chs.register_sampling_key("events", "event_id")
    fs = chs.ch_sql(
        spark,
        """
        SELECT 'final_sample' AS kind, '' AS k,
               count() AS n, max(event_id) AS extra
        FROM events FINAL SAMPLE 1/4
        """,
        views={"events": e},
    )
    af_raw = chs.ch_sql(
        spark,
        """
        SELECT toDate(e.ts) AS day, count() AS n, max(o.o_orderkey) AS extra
        FROM events e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        WHERE e.event_id % 97 == 0
        GROUP BY day
        ORDER BY day WITH FILL
        """,
        views={"events": e, "orders": o},
    )
    af = af_raw.select(
        F.lit("asof_fill").alias("kind"),
        F.date_format("day", "yyyy-MM-dd").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    cmb = chs.ch_sql(
        spark,
        """
        SELECT 'combinators' AS kind, event_type AS k,
               uniqExactIf(user_id, value > 50) AS n,
               maxIf(event_id, value > 50)      AS extra
        FROM events
        GROUP BY event_type ORDER BY event_type LIMIT 1, 3
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    fb = chs.ch_sql(
        spark,
        """
        SELECT 'fn_batch' AS kind, '' AS k,
               countIf(bitTest(event_id, 0) == 1) AS n,
               max(toYYYYMMDD(ts) +
                   dateDiff('day', toDate(toStartOfMonth(ts)), toDate(ts)))
                   AS extra
        FROM events WHERE event_id % 101 == 0
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    wf = chs.ch_sql(
        spark,
        """
        SELECT 'window_frames' AS kind, k, count() AS n, max(prev) AS extra
        FROM (
            SELECT event_type AS k,
                   sum(value) OVER w AS run,
                   lagInFrame(event_id) OVER (
                       PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS prev
            FROM events
            WHERE event_id % 53 == 0
            WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        )
        WHERE run > 123.4
        GROUP BY k
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    sk = chs.ch_sql(
        spark,
        """
        SELECT 'sketches' AS kind,
               arrayStringConcat(topK(2)(event_type), ',') AS k,
               count() AS n,
               uniqHLL12(event_type) AS extra
        FROM events WHERE event_id % 101 == 0
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    # ddl leg: the table-lifecycle surface (ddl.ChWarehouse) end-to-end
    # — CREATE/INSERT/DELETE/UPDATE/ADD COLUMN/OPTIMIZE, then an
    # aggregate over the survivors. Exact-integer discriminators:
    # okey*flag sums are int64-exact; the countIf captures the UPDATE's
    # *1.1 (identical IEEE double math in both engines). The warehouse
    # root is wiped at START (not end) so the returned plan stays
    # readable until the driver collects it.
    import shutil as _sh

    from clickhouse_modules_spark.ddl import ChWarehouse

    import os as _os

    wh_root = f"/tmp/spark_graft_ddl_leg_{_os.getpid()}"
    _sh.rmtree(wh_root, ignore_errors=True)
    wh = ChWarehouse(spark, wh_root)
    wh.execute(
        "CREATE TABLE ord (okey UInt64, status String, total Float64) "
        "ENGINE = MergeTree ORDER BY okey"
    )
    wh.insert_df(
        "ord",
        o.filter(F.col("o_orderkey") % 31 == 0).select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
        ),
    )
    wh.execute("ALTER TABLE ord DELETE WHERE status = 'F' AND okey % 2 = 0")
    wh.execute("ALTER TABLE ord UPDATE total = total * 1.1 WHERE status = 'O'")
    wh.execute("ALTER TABLE ord ADD COLUMN flag UInt8 DEFAULT 1")
    wh.execute(
        "INSERT INTO ord (okey, status, total, flag) "
        "VALUES (1000000007, 'X', 5.0, 0)"
    )
    wh.execute("OPTIMIZE TABLE ord")
    dd = wh.execute(
        """
        SELECT 'ddl' AS kind, status AS k, count() AS n,
               toInt64(sum(okey * flag))
                   + countIf(total > 150000.0) AS extra
        FROM ord GROUP BY status
        """
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    # CollapsingMergeTree leg: CDC-style state/cancel stream. Batch 1
    # states every okey%41 order; batch 2 cancels the 'F' rows; batch 3
    # cancels + restates the 'O' rows at total*2. FINAL must therefore
    # show non-'F' survivors with 'O' totals doubled — the oracle
    # replays that algebraically (collsrc CTE).
    wh.execute(
        "CREATE TABLE ordc (okey UInt64, status String, total Float64, "
        "sign Int8) ENGINE = CollapsingMergeTree(sign) ORDER BY okey"
    )
    base = o.filter(F.col("o_orderkey") % 41 == 0).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    wh.insert_df("ordc", base.withColumn("sign", F.lit(1)))
    wh.insert_df(
        "ordc",
        base.filter(F.col("status") == "F").withColumn("sign", F.lit(-1)),
    )
    restate = base.filter(F.col("status") == "O")
    wh.insert_df(
        "ordc",
        restate.withColumn("sign", F.lit(-1)).unionByName(
            restate.withColumn("total", F.col("total") * 2)
            .withColumn("sign", F.lit(1))
        ),
    )
    dc = wh.execute(
        """
        SELECT 'ddl_collapse' AS kind, status AS k, count() AS n,
               toInt64(sum(okey)) + countIf(total > 200000.0) AS extra
        FROM ordc FINAL GROUP BY status
        """
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    # strk leg: the round-10 string/geo-index additions through the
    # translator — regexpQuoteMeta output compared BYTE-EXACTLY (the
    # aggregated k column) and length-summed over a per-row
    # metacharacter-bearing string, plus the pure-JVM mortonEncode
    # bit-interleave as an int64 sum (16-bit inputs keep the sum well
    # inside int64 at any SF)
    stk = chs.ch_sql(
        spark,
        """
        SELECT 'strk' AS kind,
               regexpQuoteMeta(concat('(', min(event_type), ')+.|$'))
                   AS k,
               toInt64(sum(lengthUTF8(regexpQuoteMeta(concat(
                   '[', event_type, ']*',
                   toString(event_id % 7)))))) AS n,
               toInt64(sum(mortonEncode(event_id % 65536,
                                        user_id % 65536))) AS extra
        FROM events WHERE event_id % 59 == 0
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    # r10 leg: this round's translator additions end-to-end — the
    # QUALIFY clause (window filter over an aggregated subquery),
    # quantileExactLow/High (element-returning exact quantiles),
    # the sumMap tuple form (single-key rows → per-type cent sums,
    # surfaced through `.2` positional access + arraySum), and gcd's
    # unrolled Euclid — every value hash-compared to the oracle's
    # algebraic replay
    r10 = chs.ch_sql(
        spark,
        """
        SELECT 'r10' AS kind, et AS k,
               toInt64(lo + hi + gcd(cnt, 360)) AS n,
               toInt64(arraySum(sm.2)) AS extra
        FROM (
            SELECT event_type AS et,
                   quantileExactLow(0.25)(event_id % 1000) AS lo,
                   quantileExactHigh(0.75)(event_id % 1000) AS hi,
                   count() AS cnt,
                   sumMap([event_type],
                          [toInt64(floor(value * 100))]) AS sm
            FROM events WHERE event_id % 89 == 0
            GROUP BY event_type
        )
        QUALIFY row_number() OVER (ORDER BY k) <= 3
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    # r11 leg: this round's reject conversions end-to-end —
    # toYearWeek modes 0 and 1 on real group dates, the ordered
    # groupArrayMovingSum(3)(v, key) fold (oracle replays the window
    # total as Σ v_j·min(3, n−j+1) over the same key order),
    # tuplePlus positional access, and the extractAllGroupsVertical
    # static unroll — every value hash-compared to the oracle
    r11 = chs.ch_sql(
        spark,
        r"""
        SELECT 'r11' AS kind, et AS k,
               toInt64(yw + ms) AS n,
               toInt64(tp + ng) AS extra
        FROM (
            SELECT event_type AS et,
                   toYearWeek(min(toDate(ts)))
                     + toYearWeek(min(toDate(ts)), 1) AS yw,
                   arraySum(groupArrayMovingSum(3)(
                       toInt64(floor(value * 100)), event_id)) AS ms,
                   tuplePlus(tuple(count(), 7),
                             tuple(3, min(event_id))).2 AS tp,
                   toInt64(extractAllGroupsVertical(
                       concat(event_type, '=', toString(count())),
                       '(\\w+)=(\\w+)')[1][2]) AS ng
            FROM events WHERE event_id % 97 == 0
            GROUP BY event_type
        )
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    # r12 leg: AggregateFunction STATE columns end-to-end — the CH
    # production rollup-MV pattern. Two -State insert batches (orders
    # split by key parity) land partial states in an
    # AggregatingMergeTree; OPTIMIZE FINAL physically merges states
    # per key (ddl collapse path); the read goes FROM … FINAL (query-
    # side state-merge rewrite) and finalizes with -Merge. The oracle
    # replays direct aggregation over the batch union — CH's own
    # state-associativity contract. avgMerge is the same IEEE double
    # division (Σcents / n) in both engines, so floor() is exact.
    wh.execute(
        "CREATE TABLE ordagg (st String, "
        "cnt AggregateFunction(count), "
        "rev AggregateFunction(sum, Int64), "
        "av AggregateFunction(avg, Int64), "
        "hi AggregateFunction(max, Int64), "
        "cust AggregateFunction(uniqExact, Int64)) "
        "ENGINE = AggregatingMergeTree ORDER BY st"
    )
    o.filter(F.col("o_orderkey") % 37 == 0).createOrReplaceTempView(
        "r12_orders"
    )
    for par in (0, 1):
        wh.execute(
            "INSERT INTO ordagg SELECT o_orderstatus AS st, "
            "countState() AS cnt, "
            "sumState(toInt64(floor(o_totalprice * 100))) AS rev, "
            "avgState(toInt64(floor(o_totalprice * 100))) AS av, "
            "maxState(toInt64(floor(o_totalprice * 100))) AS hi, "
            "uniqExactState(o_custkey) AS cust "
            f"FROM r12_orders WHERE o_orderkey % 2 = {par} "
            "GROUP BY o_orderstatus"
        )
    wh.execute("OPTIMIZE TABLE ordagg FINAL")
    r12 = wh.execute(
        "SELECT 'r12' AS kind, st AS k, "
        "toInt64(countMerge(cnt) + uniqExactMerge(cust)) AS n, "
        "toInt64(sumMerge(rev) + maxMerge(hi) "
        "+ toInt64(floor(avgMerge(av)))) AS extra "
        "FROM ordagg FINAL GROUP BY st"
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    # r13: the roaring-bitmap family (exact tier — sorted distinct
    # arrays). Per-type leg: groupBitmap cardinality + scalar bitmap
    # algebra over a groupBitmapState (subset-in-range max, literal-
    # bitmap intersection cardinality). Fold leg: Or/And state merges
    # across the per-type states (union = all users, intersection =
    # users present in EVERY event type).
    bm = chs.ch_sql(
        spark,
        """
        SELECT 'bitmap' AS kind, event_type AS k,
               groupBitmap(user_id) AS n,
               bitmapMax(bitmapSubsetInRange(
                   groupBitmapState(user_id), 0, 8))
               + bitmapAndCardinality(groupBitmapState(user_id),
                                      bitmapBuild([1, 3, 5, 7, 9]))
                   AS extra
        FROM events WHERE event_id % 11 == 0
        GROUP BY event_type
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    bmf = chs.ch_sql(
        spark,
        """
        SELECT 'bitmap_fold' AS kind, '' AS k,
               groupBitmapOrMerge(st) AS n,
               groupBitmapAndMerge(st) AS extra
        FROM (SELECT event_type, groupBitmapState(user_id) AS st
              FROM events WHERE event_id % 11 == 0
              GROUP BY event_type)
        """,
        views={"events": e},
    ).select(
        "kind", "k", F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    # r15: hopping windows — GROUP BY hop lowers to Spark's native
    # sliding window() (multi-membership explode before the
    # aggregate); k is the window-start epoch second, tz-robust
    hp = chs.ch_sql(
        spark,
        """
        SELECT hopStart(ts, INTERVAL 6 HOUR, INTERVAL 12 HOUR) AS ws,
               count() AS n, max(event_id) AS extra
        FROM events WHERE event_id % 11 == 0
        GROUP BY hop(ts, INTERVAL 6 HOUR, INTERVAL 12 HOUR)
        """,
        views={"events": e},
    ).select(
        F.lit("hop").alias("kind"),
        F.unix_timestamp("ws").cast("string").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.col("extra").cast("long").alias("extra"),
    )
    legs = {
        "final_sample": fs.select(
            "kind", "k", F.col("n").cast("long").alias("n"),
            F.col("extra").cast("long").alias("extra"),
        ),
        "asof_fill": af,
        "combinators": cmb,
        "window_frames": wf,
        "fn_batch": fb,
        "sketches": sk,
        "ddl": dd,
        "dict": dc,
        "statik": stk,
        "r10": r10,
        "r11": r11,
        "r12": r12,
        "bitmap": bm,
        "bitmap_fold": bmf,
        "hop": hp,
    }
    out = None
    for leg in legs.values():
        out = leg if out is None else out.unionByName(leg)
    return out

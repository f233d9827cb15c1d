"""Aggregation fixture queries (SURVEY §2C — Aggregations).

ClickHouse-dialect counterparts noted per query (the dialect the
reference's generated SQL belongs to): ``uniq`` → approx_count_distinct,
``countIf/sumIf`` → count/sum(when), ``quantile`` → percentile,
``argMax`` → max_by, ``groupArray`` → collect_list.

100 TB notes: all group-bys here aggregate on low-cardinality keys
(returnflag/linestatus/status/priority), so the map-side partial
aggregation (Spark's hash-aggregate with partial merge) reduces data
~1e6× before the shuffle — the shuffle moves only (#groups × #partitions)
rows. High-cardinality group-bys (q_agg_distinct on custkey) shuffle on
the group key; AQE coalesces post-shuffle partitions. No query here
collects to the driver.

Float determinism: double sums/avgs are rounded on BOTH engine and oracle
sides — summation order differs between Spark partial aggregation and
DuckDB, so unrounded doubles differ in the last ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_modules_spark.operators.percentile import (
    exact_group_percentiles,
)
from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.tables import load_events, pscan


@query(
    "q_agg_groupby",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           (SUM(ROUND(l_extendedprice * 100)::BIGINT)
            / 100.0)::DOUBLE                                                AS sum_base_price,
           (((SUM(ROUND(l_extendedprice * 100)::BIGINT
                  * ROUND((1 - l_discount) * 100)::BIGINT) + 50) // 100)
            / 100.0)::DOUBLE                                                AS sum_disc_price,
           (((SUM(ROUND(l_extendedprice * 100)::BIGINT
                  * ROUND((1 - l_discount) * 100)::BIGINT
                  * ROUND((1 + l_tax) * 100)::BIGINT) + 5000) // 10000)
            / 100.0)::DOUBLE                                                AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order,
           COUNT(CASE WHEN l_discount > 0.05 THEN 1 END)                    AS cnt_highdisc,
           (SUM(CASE WHEN l_quantity > 25
                     THEN ROUND(l_extendedprice * 100)::BIGINT
                     ELSE 0 END) / 100.0)::DOUBLE                           AS sum_bulk_price,
           ROUND(AVG(CASE WHEN l_tax > 0.04 THEN l_extendedprice END), 4)   AS avg_taxed_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the engine's flagship query —
    plus the ClickHouse conditional-aggregate family (``countIf`` /
    ``sumIf`` / ``avgIf`` → count/sum/avg over CASE) in the same
    aggregation.

    scan → pushed filter → hash agg (partial + final) → 2-col key shuffle;
    the conditional aggregates ride the same exchange for free.
    """
    li = pscan(spark, f"{sf_dir}/lineitem.parquet")
    # Money sums are BIGINT-CENTS exact end to end: a 60M-row double
    # sum reaches ~3e11 where accumulation ORDER moves the 13th digit
    # (caught by the sf10 oracle sweep), so each 2-decimal FACTOR is
    # scaled to an exact int64 (price·100, (1±rate)·100 — the round
    # lands ~1e-9 from an integer, never near a boundary) and the
    # products sum as plain longs: order-independent, and ~2.5× faster
    # than the round-8 decimal128 accumulation (sum(long) stays in
    # whole-stage codegen's primitive path; decimal sums box through
    # Decimal128 adds). Final 2-decimal rounding happens in INTEGER
    # space ((S + 50) div 100 — HALF_UP, sums are positive) because
    # rounding the quotient DOUBLE differs across engines exactly at
    # 4th-decimal .xx50 boundaries (the round-8 lesson). Scale bound:
    # sum_charge accumulates price·(1-d)·(1+t)·10⁶ ≈ 3.8e10/row —
    # int64 holds ~2.4e8 rows PER GROUP (sf40); past that, swap the
    # accumulator to sum(cast(.. as decimal(38,0))) — the product
    # stays a cheap long multiply either way. The DuckDB oracle uses
    # the same integer pipeline (SUM of BIGINT is HUGEINT — no bound).
    # Quantities and averages stay double (integers /
    # relative-error-safe).
    # floor(x·100 + 0.5), not round(): Spark's round(double) allocates
    # a BigDecimal per row; floor is a primitive codegen op. Equal here
    # because x·100 sits within ~1e-9 of an integer (never at a .5
    # boundary), and all values are positive.
    pc = F.floor(F.col("l_extendedprice") * 100 + 0.5)
    d100 = F.floor((F.lit(1) - F.col("l_discount")) * 100 + 0.5)
    t100 = F.floor((F.lit(1) + F.col("l_tax")) * 100 + 0.5)
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(pc).alias("__s_base"),
            F.sum(pc * d100).alias("__s_disc4"),
            F.sum(pc * d100 * t100).alias("__s_charge6"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("cnt_highdisc"),
            F.sum(F.when(F.col("l_quantity") > 25, pc).otherwise(F.lit(0)))
            .alias("__s_bulk"),
            F.round(
                F.avg(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))), 4
            ).alias("avg_taxed_price"),
        )
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        (F.col("__s_base") / 100.0).cast("double").alias("sum_base_price"),
        F.expr("((__s_disc4 + 50) div 100) / 100.0")
        .cast("double")
        .alias("sum_disc_price"),
        F.expr("((__s_charge6 + 5000) div 10000) / 100.0")
        .cast("double")
        .alias("sum_charge"),
        "avg_qty",
        "avg_price",
        "avg_disc",
        "count_order",
        "cnt_highdisc",
        (F.col("__s_bulk") / 100.0).cast("double").alias("sum_bulk_price"),
        "avg_taxed_price",
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey)       AS n_customers,
           COUNT(*)                        AS n_orders,
           COUNT(DISTINCT o_orderpriority) AS approx_priorities
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count-distinct (expands to two-phase agg; Spark plans expand+agg)
    plus the CH ``uniq`` (approx_count_distinct / HLL++) family.

    ``approx_priorities`` is HLL over a 5-value column: HLL++ stores
    tiny cardinalities exactly (sparse mode), so the sketch is
    oracle-checkable against exact COUNT(DISTINCT) here (the 100 TB
    path: fixed-size mergeable sketch, no expand, no second shuffle).
    """
    o = pscan(spark, f"{sf_dir}/orders.parquet")
    # TWO aggregations joined on the (3-row) group key, NOT one: when
    # countDistinct and approx_count_distinct share an agg, Spark keys
    # the first partial aggregate by (status, custkey) for the distinct
    # rewrite and carries the HLL's ~410 register columns PER GROUP
    # through that exchange — 4.3M groups × 410 longs at sf10, measured
    # 17.4 s cold vs 5.7 s for this split (the sketch state rides a
    # 3-group aggregate instead; the second scan is cheap, the 49 GB
    # exchange was not). AQE broadcasts the 3-row join.
    plain = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.approx_count_distinct("o_orderpriority", 0.02).alias(
            "approx_priorities"
        ),
    )
    dist = (
        o.select("o_orderstatus", "o_custkey")
        .distinct()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return plain.join(dist, "o_orderstatus").select(
        "o_orderstatus", "n_customers", "n_orders", "approx_priorities"
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           (SUM(ROUND(o_totalprice * 100)::BIGINT) / 100.0)::DOUBLE AS sum_price,
           COUNT(*)                          AS n,
           GROUPING(o_orderstatus)           AS g_status,
           GROUPING(o_orderpriority)         AS g_priority,
           arg_max(o_orderkey,
                   CAST(ROUND(o_totalprice * 10000) AS HUGEINT)
                   * 1000000000000 + o_orderkey)  AS top_orderkey,
           arg_min(o_orderkey,
                   CAST(ROUND(o_totalprice * 10000) AS HUGEINT)
                   * 1000000000000 + o_orderkey)  AS bottom_orderkey
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING markers (subtotals + grand total), carrying
    the CH ``argMax``/``argMin`` aggregates (→ max_by/min_by) through
    every grouping set.

    Determinism: argMax/argMin order by an EXACT total-order encoding,
    round(price·10⁴)·10¹² + orderkey — prices carry ≤2 decimals so the
    scaled value is integer-exact, and the orderkey term breaks price
    ties. A bare max_by(key, price) was nondeterministic exactly when
    two orders tie on price: absent at sf0.01, but the sf1 key-offset
    replication manufactures equal prices under different keys and the
    oracle comparison caught the divergence (round-6 sf1 oracle sweep).
    """
    o = pscan(spark, f"{sf_dir}/orders.parquet")
    enc = (
        F.round(F.col("o_totalprice") * 10000).cast("decimal(38,0)")
        * F.lit(1000000000000).cast("decimal(38,0)")
        + F.col("o_orderkey")
    )
    # BIGINT-CENTS accumulation for the money sum — the grand-total
    # cell spans every row, where a double sum is accumulation-order-
    # dependent past ~1e11 (sf10 sweep finding); exact integer cents
    # at primitive-codegen speed, see q_agg_groupby for the bounds
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5))
            / 100.0
        )
        .cast("double")
        .alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.max_by("o_orderkey", enc).alias("top_orderkey"),
        F.min_by("o_orderkey", enc).alias("bottom_orderkey"),
    )


@query(
    "q_agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt,
           COALESCE(SUM(ROUND(o_totalprice * 100)::BIGINT)
                    FILTER (WHERE o_orderstatus = 'F') / 100.0, 0)::DOUBLE AS f_amt,
           COALESCE(SUM(ROUND(o_totalprice * 100)::BIGINT)
                    FILTER (WHERE o_orderstatus = 'O') / 100.0, 0)::DOUBLE AS o_amt,
           COALESCE(SUM(ROUND(o_totalprice * 100)::BIGINT)
                    FILTER (WHERE o_orderstatus = 'P') / 100.0, 0)::DOUBLE AS p_amt
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide reshape): order status becomes columns.

    ``pivot(col, values)`` with EXPLICIT values — omitting them adds a
    driver-blocking distinct scan to discover the column set, and the
    output schema becomes data-dependent (a breaking change waiting to
    happen at 100 TB). Plans two-phase: the data-sized shuffle is keyed
    on (group key, pivot col) with map-side partial aggregation; the
    pivot itself re-aggregates only |keys|×|values| pre-aggregated rows
    (15 here), so its exchange is negligible at any scale (asserted in
    tests/test_plans.py). BIGINT-cents sums keep cent-level determinism
    at primitive-codegen speed (see q_agg_groupby); absent cells are 0.
    """
    o = pscan(spark, f"{sf_dir}/orders.parquet")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)).alias(
                "amt"
            ),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce("F_cnt", F.lit(0)).alias("f_cnt"),
        F.coalesce("O_cnt", F.lit(0)).alias("o_cnt"),
        F.coalesce("P_cnt", F.lit(0)).alias("p_cnt"),
        F.coalesce((F.col("F_amt") / 100.0).cast("double"), F.lit(0.0)).alias("f_amt"),
        F.coalesce((F.col("O_amt") / 100.0).cast("double"), F.lit(0.0)).alias("o_amt"),
        F.coalesce((F.col("P_amt") / 100.0).cast("double"), F.lit(0.0)).alias("p_amt"),
    )


@query(
    "q_agg_topk",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY n_orders DESC, o_custkey
    LIMIT 10
    """,
)
def q_agg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topK(10)(o_custkey)`` analog: the 10 most frequent
    keys, exact. CH's topK is an approximate SpaceSaving sketch; at
    oracle scale exact-by-count is the verifiable semantic, and the
    Spark plan is already the sketch's two-phase shape: partial counts
    map-side, one shuffle on the key, then TakeOrderedAndProject (no
    global sort materializes). Ties broken by key for determinism.
    """
    o = pscan(spark, f"{sf_dir}/orders.parquet")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("o_custkey"))
        .limit(10)
    )


@query(
    "q_agg_summap",
    oracle="""
    WITH kv AS (
        SELECT user_id, event_type AS k,
               SUM(CAST(value AS DECIMAL(18,4))) AS s
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           string_agg(
               k || ':' ||
               CAST(CAST(ROUND(s, 2) AS DECIMAL(18,2)) AS VARCHAR),
               ',' ORDER BY k)                       AS type_totals,
           array_to_string(list_sort(list(DISTINCT k)), ',') AS types_uniq
    FROM kv GROUP BY user_id
    """,
)
def q_agg_summap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumMap`` analog: per user, sum values per map key
    (event_type → value) into one map-shaped result. The Spark form is
    explode → per-(user,key) sum → per-user reassembly. One explicit
    repartition on user_id up front makes BOTH aggregations
    exchange-free: hash(user_id) satisfies the clustered-distribution
    requirement of (user_id, k) AND of (user_id), so Catalyst plans a
    single shuffle total (verified: 1 Exchange in the physical plan)
    instead of the two a naive groupBy chain gets.
    DECIMAL addends keep sums order-independent; the map is surfaced
    as a key-sorted string because map columns hash nondeterministically
    in pandas on both engines.
    """
    e = load_events(spark, sf_dir)
    m = e.select("user_id", F.create_map("event_type", "value").alias("m"))
    kv = m.select("user_id", F.explode("m").alias("k", "v")).repartition(
        "user_id"
    )
    per_key = kv.groupBy("user_id", "k").agg(
        F.round(F.sum(F.col("v").cast("decimal(18,4)")), 2)
        .cast("decimal(18,2)")
        .alias("s")
    )
    return per_key.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.sort_array(
                F.collect_list(
                    F.concat(F.col("k"), F.lit(":"), F.col("s").cast("string"))
                )
            ),
        ).alias("type_totals"),
        # CH groupUniqArray → collect_set (sorted + joined for a
        # deterministic, hash-stable surface)
        F.concat_ws(",", F.sort_array(F.collect_set("k"))).alias("types_uniq"),
    )


@query(
    "q_agg_quantile_filter",
    oracle="""
    WITH thr AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.95) AS p95,
               quantile_cont(l_extendedprice, 0.5)  AS p50,
               quantile_cont(l_extendedprice, 0.9)  AS p90,
               quantile_cont(l_quantity, 0.25)      AS p25q
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           COUNT(*)                                    AS n_above,
           ROUND(thr.p95, 4)                           AS p95_price,
           ROUND(thr.p50, 4)                           AS p50_price,
           ROUND(thr.p90, 4)                           AS p90_price,
           ROUND(thr.p25q, 4)                          AS p25_qty,
           ROUND(AVG(l.l_quantity), 4)                 AS avg_qty_above
    FROM lineitem l JOIN thr ON l.l_returnflag = thr.l_returnflag
    WHERE l.l_extendedprice > thr.p95
    GROUP BY l.l_returnflag, thr.p95, thr.p50, thr.p90, thr.p25q
    """,
)
def q_agg_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-by-group-quantile: rows above their OWN group's p95 — the
    outlier/heavy-tail selection every data-quality pass needs (e.g.
    'docs longer than the language's p95').

    Plan shape: the threshold table is one aggregation (|groups| rows),
    broadcast back onto the fact scan — the fact table is read twice
    but shuffled once (the final small rollup); no window over the full
    data, no sort.

    The thresholds are exact, so the DuckDB oracle hash-matches.
    """
    li = pscan(spark, f"{sf_dir}/lineitem.parquet")
    # r16 (guide §1.2/§4.2): the built-in exact percentile buffers
    # every boxed value in a per-group hashmap — measured 1.20 s
    # for the 594 k-distinct price column alone at sf0.1, the whole
    # query's wall. The grouped-numpy operator sorts the same
    # multiset vectorized and interpolates with Spark's own formula
    # — bit-identical thresholds (pinned vs F.percentile), full
    # query 1.53 → 0.91 s. (A pure-JVM row_number rank-select was
    # measured too: Window buffering costs 0.63 s/column — no win;
    # see operators/percentile.py.)
    thr = exact_group_percentiles(
        li,
        "l_returnflag",
        [
            ("l_extendedprice", [0.5, 0.9, 0.95], "pp"),
            ("l_quantity", [0.25], "qq"),
        ],
    ).select(
        "l_returnflag",
        F.col("pp")[0].alias("p50"),
        F.col("pp")[1].alias("p90"),
        F.col("pp")[2].alias("p95"),
        F.col("qq")[0].alias("p25q"),
    )
    return (
        li.join(F.broadcast(thr), "l_returnflag")
        .filter(F.col("l_extendedprice") > F.col("p95"))
        .groupBy("l_returnflag", "p95", "p50", "p90", "p25q")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty_above"),
        )
        .select(
            "l_returnflag",
            "n_above",
            F.round("p95", 4).alias("p95_price"),
            F.round("p50", 4).alias("p50_price"),
            F.round("p90", 4).alias("p90_price"),
            F.round("p25q", 4).alias("p25_qty"),
            "avg_qty_above",
        )
    )

"""Behavioral-analytics fixture queries: windowFunnel + retention
(reference SQL surface: ClickHouse ``windowFunnel``/``retention``
aggregate functions — see operators/funnel.py for semantics)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_modules_spark.operators import funnel
from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.tables import load_events

_FUNNEL_STEPS = ("view", "click", "purchase")


# Unregistered shared-oracle CTE blocks: the driver-facing composite
# q_behavioral joins all four behavioral operators per user; the
# individual functions below stay as the operator API + pytest surface.
_FUNNEL_CTES = """
    fb AS (
        SELECT user_id, date_trunc('second', ts) AS ts, event_type FROM events
    ),
    fanchors AS (
        SELECT DISTINCT user_id, ts AS t0 FROM fb WHERE event_type = 'view'
    ),
    fs1 AS (
        SELECT a.user_id, a.t0, MIN(b.ts) AS t1
        FROM fanchors a LEFT JOIN fb b
          ON b.user_id = a.user_id AND b.event_type = 'click'
         AND b.ts > a.t0 AND b.ts <= a.t0 + INTERVAL 6 HOUR
        GROUP BY a.user_id, a.t0
    ),
    fs2 AS (
        SELECT fs1.user_id, fs1.t0, fs1.t1, MIN(b.ts) AS t2
        FROM fs1 LEFT JOIN fb b
          ON b.user_id = fs1.user_id AND b.event_type = 'purchase'
         AND fs1.t1 IS NOT NULL
         AND b.ts > fs1.t1 AND b.ts <= fs1.t0 + INTERVAL 6 HOUR
        GROUP BY fs1.user_id, fs1.t0, fs1.t1
    ),
    funnel AS (
        SELECT user_id,
               MAX(CASE WHEN t2 IS NOT NULL THEN 3
                        WHEN t1 IS NOT NULL THEN 2
                        ELSE 1 END)::BIGINT AS funnel_level
        FROM fs2
        GROUP BY user_id
    ),
    retention AS (
        SELECT user_id,
               (cnt_signup > 0)                       AS r0,
               (cnt_signup > 0 AND cnt_click > 0)     AS r1,
               (cnt_signup > 0 AND cnt_purchase > 0)  AS r2
        FROM (
            SELECT user_id,
                   COUNT(*) FILTER (WHERE event_type = 'signup')   AS cnt_signup,
                   COUNT(*) FILTER (WHERE event_type = 'click')    AS cnt_click,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS cnt_purchase
            FROM events
            GROUP BY user_id
        )
    ),
    sqe AS (
        SELECT user_id, event_type, event_id,
               date_trunc('second', ts) AS tss
        FROM events
    ),
    sql_ AS (
        SELECT *, LAG(event_type) OVER (
            PARTITION BY user_id ORDER BY tss, event_id
        ) AS prev_type
        FROM sqe
    ),
    seqm AS (
        SELECT user_id,
               COALESCE(
                   MIN(CASE WHEN event_type = 'view' THEN tss END) <
                   MAX(CASE WHEN event_type = 'purchase' THEN tss END),
                   FALSE)                                         AS seq_match_vp,
               SUM(CASE WHEN prev_type = 'view' AND event_type = 'click'
                        THEN 1 ELSE 0 END)::BIGINT                AS n_adj_vc
        FROM sql_
        GROUP BY user_id
    ),
    swe AS (
        SELECT user_id, event_id, value,
               date_trunc('second', ts) AS tss
        FROM events
    ),
    swf AS (
        SELECT *,
               CASE WHEN tss - LAG(tss) OVER w <= INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS is_new
        FROM swe WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)
    ),
    sws AS (
        SELECT *,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY tss, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM swf
    ),
    sessions AS (
        SELECT user_id, session_no,
               COUNT(*) AS n_events,
               ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS session_value
        FROM sws
        GROUP BY user_id, session_no
    ),
    sess_agg AS (
        SELECT user_id,
               COUNT(*)                                 AS n_sessions,
               MAX(n_events)                            AS max_session_events,
               ROUND(SUM(session_value), 2)::DOUBLE     AS total_session_value
        FROM sessions
        GROUP BY user_id
    )
"""


@query(
    "q_behavioral",
    oracle=f"""
    WITH {_FUNNEL_CTES},
    pat AS (
        SELECT user_id,
               COALESCE(SUM(CASE WHEN prev_i = 0 AND i = 1
                                 THEN 1 ELSE 0 END), 0)::BIGINT
                   AS n_adj_vc_pat
        FROM (
            SELECT user_id, i,
                   LAG(i) OVER (PARTITION BY user_id ORDER BY ts, i)
                       AS prev_i
            FROM (
                SELECT user_id, ts,
                       CASE WHEN event_type = 'view' THEN 0 ELSE 1 END
                           AS i
                FROM events WHERE event_type IN ('view', 'click')
            )
        )
        GROUP BY user_id
    )
    SELECT f.user_id, f.funnel_level,
           r.r0, r.r1, r.r2,
           s.seq_match_vp, s.n_adj_vc, p.n_adj_vc_pat,
           g.n_sessions, g.max_session_events, g.total_session_value
    FROM funnel f
    JOIN retention r USING (user_id)
    JOIN seqm s USING (user_id)
    JOIN pat p USING (user_id)
    JOIN sess_agg g USING (user_id)
    """,
)
def q_behavioral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral profile: the four ClickHouse behavioral
    aggregates — ``windowFunnel`` (deepest step), ``retention`` (cohort
    flags), ``sequenceMatch``/``sequenceCount`` (ordered patterns), and
    gaps-and-islands sessionization (per-user session rollup) — joined
    on user_id into one driver-checked result.

    Each operator keeps its own single user-keyed exchange; the final
    joins are co-partitioned on user_id so no new shuffle shape
    appears. The oracle replays all four computations and joins them
    identically.
    """
    f = q_funnel(spark, sf_dir)
    r = q_retention(spark, sf_dir)
    s = q_seq_match(spark, sf_dir)
    # the GENERAL sequenceCount pattern engine (funnel.sequence_match:
    # (?N) refs, .* gaps, (?t…) constraints), driver-checked through
    # its simplest SQL-expressible pattern: for the 2-token
    # '(?1)(?2)' with DISTINCT conditions, non-overlapping matches
    # over the matched-event stream equal a filtered lag-pair count —
    # which is exactly what the oracle's pat CTE computes
    from clickhouse_modules_spark.operators import funnel as _funnel

    p = _funnel.sequence_match(
        load_events(spark, sf_dir),
        "(?1)(?2)",
        ["view", "click"],
        count=True,
    ).select(
        "user_id", F.col("n_matches").cast("long").alias("n_adj_vc_pat")
    )
    g = (
        q_sessionize(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(
                F.sum(F.col("session_value").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("total_session_value"),
        )
    )
    return (
        f.join(r, "user_id")
        .join(s, "user_id")
        .join(p, "user_id")
        .join(g, "user_id")
    )


def _noop_query(name: str, oracle: str | None = None):
    """Decorator stand-in for operators folded into a composite: keeps
    the function (API + pytest surface) without a registry entry."""

    def deco(fn):
        return fn

    return deco


@_noop_query(
    "q_funnel",
    oracle="""
    WITH base AS (
        SELECT user_id, date_trunc('second', ts) AS ts, event_type FROM events
    ),
    anchors AS (
        SELECT DISTINCT user_id, ts AS t0 FROM base WHERE event_type = 'view'
    ),
    s1 AS (
        SELECT a.user_id, a.t0, MIN(b.ts) AS t1
        FROM anchors a LEFT JOIN base b
          ON b.user_id = a.user_id AND b.event_type = 'click'
         AND b.ts > a.t0 AND b.ts <= a.t0 + INTERVAL 6 HOUR
        GROUP BY a.user_id, a.t0
    ),
    s2 AS (
        SELECT s1.user_id, s1.t0, s1.t1, MIN(b.ts) AS t2
        FROM s1 LEFT JOIN base b
          ON b.user_id = s1.user_id AND b.event_type = 'purchase'
         AND s1.t1 IS NOT NULL
         AND b.ts > s1.t1 AND b.ts <= s1.t0 + INTERVAL 6 HOUR
        GROUP BY s1.user_id, s1.t0, s1.t1
    )
    SELECT user_id,
           MAX(CASE WHEN t2 IS NOT NULL THEN 3
                    WHEN t1 IS NOT NULL THEN 2
                    ELSE 1 END)::BIGINT AS funnel_level
    FROM s2
    GROUP BY user_id
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(6h)(ts, view, click, purchase)``:
    deepest in-order step prefix per user, chain bounded by 6 h from
    its anchor view. The oracle replays the same greedy-earliest chain
    with two range-joined levels."""
    e = load_events(spark, sf_dir).withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )
    out = funnel.window_funnel(e, _FUNNEL_STEPS, window="6 hours")
    return out.select("user_id", F.col("funnel_level").cast("long"))


@_noop_query(
    "q_retention",
    oracle="""
    SELECT user_id,
           (cnt_signup > 0)                       AS r0,
           (cnt_signup > 0 AND cnt_click > 0)     AS r1,
           (cnt_signup > 0 AND cnt_purchase > 0)  AS r2
    FROM (
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'signup')   AS cnt_signup,
               COUNT(*) FILTER (WHERE event_type = 'click')    AS cnt_click,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS cnt_purchase
        FROM events
        GROUP BY user_id
    )
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``retention(signup, click, purchase)``: per-user
    cohort flags — r0 = signed up, ri = signed up AND did step i."""
    e = load_events(spark, sf_dir)
    return funnel.retention_flags(
        e,
        [
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
    )


@_noop_query(
    "q_seq_match",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, event_id,
               date_trunc('second', ts) AS tss
        FROM events
    ),
    l AS (
        SELECT *, LAG(event_type) OVER (
            PARTITION BY user_id ORDER BY tss, event_id
        ) AS prev_type
        FROM e
    )
    SELECT user_id,
           COALESCE(
               MIN(CASE WHEN event_type = 'view' THEN tss END) <
               MAX(CASE WHEN event_type = 'purchase' THEN tss END),
               FALSE)                                         AS seq_match_vp,
           SUM(CASE WHEN prev_type = 'view' AND event_type = 'click'
                    THEN 1 ELSE 0 END)::BIGINT                AS n_adj_vc
    FROM l
    GROUP BY user_id
    """,
)
def q_seq_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceMatch``/``sequenceCount`` analogs per user:

    - ``seq_match_vp`` = ``sequenceMatch('(?1).*(?2)')(ts, view,
      purchase)``: some view strictly precedes some purchase ⇔
      min(view ts) < max(purchase ts) — two conditional aggregates, no
      ordering state at all.
    - ``n_adj_vc`` = ``sequenceCount('(?1)(?2)')``-style count of
      ADJACENT (view → click) pairs: one lag window per user.

    Both timestamps are truncated to seconds on BOTH engines before
    comparison/ordering (parquet ns vs Spark µs precision would
    otherwise flip ties) with event_id as the total-order tiebreak.
    Scale: one window exchange on user_id + the groupBy reuses the same
    partitioning — Catalyst plans a single shuffle.
    """
    e = load_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_trunc("second", F.col("ts")).alias("tss"),
    )
    w = Window.partitionBy("user_id").orderBy("tss", "event_id")
    agged = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("tss"))
            ).alias("t_view"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.col("tss"))
            ).alias("t_buy"),
            F.sum(
                F.when(
                    (F.col("prev_type") == "view")
                    & (F.col("event_type") == "click"),
                    1,
                ).otherwise(0)
            ).alias("n_adj_vc"),
        )
    )
    return agged.select(
        "user_id",
        F.coalesce(
            F.col("t_view") < F.col("t_buy"), F.lit(False)
        ).alias("seq_match_vp"),
        F.col("n_adj_vc").cast("long").alias("n_adj_vc"),
    )


@_noop_query(
    "q_sessionize",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, value,
               date_trunc('second', ts) AS tss
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN tss - LAG(tss) OVER w <= INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)
    ),
    sess AS (
        SELECT *,
               SUM(is_new) OVER (PARTITION BY user_id
                                 ORDER BY tss, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id,
           session_no::BIGINT                    AS session_no,
           COUNT(*)                              AS n_events,
           date_diff('second', MIN(tss), MAX(tss))::BIGINT AS duration_s,
           ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS session_value
    FROM sess
    GROUP BY user_id, session_no
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): split each user's event
    stream at >30-minute silences, then per-session stats — the batch
    twin of the session leg of ``q_stream_windows`` (same semantics,
    full-history replay instead of watermarked state).

    One user-keyed exchange feeds BOTH windows (lag + running sum share
    the partition/order) and the final groupBy reuses the same hash —
    Catalyst plans a single shuffle. Seconds-truncated timestamps and
    event_id tiebreaks keep the island boundaries engine-identical.
    """
    e = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "value",
        F.date_trunc("second", F.col("ts")).alias("tss"),
    )
    w = Window.partitionBy("user_id").orderBy("tss", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_s = F.col("tss").cast("long") - F.lag(F.col("tss").cast("long")).over(w)
    flagged = e.withColumn(
        "is_new",
        F.when(gap_s <= 30 * 60, F.lit(0)).otherwise(F.lit(1)),
    )
    sess = flagged.withColumn("session_no", F.sum("is_new").over(cum))
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.col("tss").cast("long")) - F.min(F.col("tss").cast("long")))
        .cast("long")
        .alias("duration_s"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("session_value"),
    )

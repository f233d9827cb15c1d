"""Streaming fixture queries (SURVEY §2C — Streaming).

Each runs a REAL Structured Streaming job (file source → stateful
event-time operator → memory sink, availableNow trigger) and returns the
materialized result. Because the source is a finite replay with no late
data, tumbling/sliding/session/dedup results are deterministic and
oracle-checkable with batch SQL — a stronger check than rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.streaming import mv, stateful
from clickhouse_modules_spark.streaming import windows as sw
from clickhouse_modules_spark.tables import pscan


@query(
    "q_stream_windows",
    oracle="""
    WITH t AS (
        SELECT user_id, value, date_trunc('second', ts) AS ts
        FROM events
    ), flagged AS (
        SELECT user_id, value, ts,
               -- Spark session windows MERGE on the exact boundary: an
               -- event at exactly prev_ts + gap extends the session
               -- (verified empirically — [t, t+gap) windows merge when
               -- touching), so only a STRICTLY greater gap opens a new
               -- session → '>' not '>='. The >= variant passes at
               -- sf0.01 (no boundary pair exists) and breaks at sf0.1.
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM t
    ), sessions AS (
        SELECT user_id, value, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    offsets AS (SELECT UNNEST([0, 300]) AS off)
    -- win_start/win_end are epoch-seconds BIGINT, not timestamps:
    -- DuckDB's to_timestamp() returns TIMESTAMPTZ (tz-aware pandas
    -- dtype) while Spark's toPandas() gives naive datetime64 — the
    -- driver compares dtypes strictly, so the r5 timestamp form
    -- rows-matched but schema/hash-failed. Epoch seconds are
    -- engine-neutral (the q_fill lesson, timeseries.py).
    SELECT 'tumbling' AS kind,
           CAST(FLOOR(epoch(ts) / 600) * 600 AS BIGINT)       AS win_start,
           CAST(FLOOR(epoch(ts) / 600) * 600 + 600 AS BIGINT) AS win_end,
           event_type                                         AS key,
           COUNT(*)                                           AS n_events,
           ROUND(SUM(value), 2)                               AS sum_value
    FROM events GROUP BY 2, 3, 4
    UNION ALL
    SELECT 'sliding' AS kind,
           CAST(FLOOR((epoch(ts) - off) / 600) * 600 + off AS BIGINT)       AS win_start,
           CAST(FLOOR((epoch(ts) - off) / 600) * 600 + off + 600 AS BIGINT) AS win_end,
           event_type AS key,
           COUNT(*)   AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events, offsets GROUP BY 2, 3, 4
    UNION ALL
    SELECT 'session' AS kind,
           CAST(epoch(MIN(ts)) AS BIGINT)        AS win_start,
           CAST(epoch(MAX(ts)) + 1800 AS BIGINT) AS win_end,
           CAST(user_id AS VARCHAR)              AS key,
           COUNT(*)                              AS n_events,
           ROUND(SUM(value), 2)                  AS sum_value
    FROM sessions GROUP BY user_id, session_id
    UNION ALL
    SELECT 'dedup' AS kind,
           CAST(NULL AS BIGINT) AS win_start,
           CAST(NULL AS BIGINT) AS win_end,
           event_type           AS key,
           COUNT(*)             AS n_events,
           CAST(NULL AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_stream_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-time windowed-aggregation family as FOUR real
    Structured Streaming jobs, tag-unioned into one aligned result:

    - ``tumbling``: 10-min windows per event_type, watermarked;
    - ``sliding``: 10-min windows sliding every 5 min (each event in 2);
    - ``session``: 30-min-gap session windows per user (vs a
      gaps-and-islands oracle);
    - ``dedup``: streaming dropDuplicates on event_id after watermark,
      aggregated per event_type (event_ids are unique in the fixture,
      so the counts equal the raw per-type counts — the operator's
      state bookkeeping is what's exercised).

    Each job runs file-source → stateful operator → PRODUCTION parquet
    sink under availableNow (round 12 — previously memory sinks, whose
    COMPLETE-mode variants held ~9.6M rows on the driver at sf10 and
    forced the 48 g verify knob): tumbling/sliding through the
    update-mode upsert sink (batch-id-stamped appends + merge-on-read,
    the Delta-MERGE contract), session through the complete-mode
    parquet SNAPSHOT sink (session merge keys are unstable across
    batches, and append would withhold the watermark-open tail a
    finite-replay verify needs), dedup through the append file sink
    with a distributed batch groupBy on the written rows. Results stay
    on cluster storage end-to-end; the driver never materializes
    anything. The finite replay makes all four deterministic and
    batch-SQL-checkable; state is evicted by the watermark — at 100 TB
    the same four plans run against kafka with the same sinks.

    The four jobs launch CONCURRENTLY (thread pool): Spark's scheduler
    interleaves independent jobs, so wall time is the slowest job, not
    the sum of four fixed startup latencies — the same pattern a
    production driver uses for independent streams on one cluster.
    """
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    root = f"/tmp/spark_graft_stream_windows_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)

    def run_tumb():
        return sw.run_to_parquet_upsert(
            sw.tumbling_counts(sw.events_stream(spark, sf_dir)),
            f"{root}/tumb",
            key_cols=["win_start", "win_end", "event_type"],
            name="q_stream_windows_tumb",
        ).select(
            F.lit("tumbling").alias("kind"),
            F.col("win_start").cast("long").alias("win_start"),
            F.col("win_end").cast("long").alias("win_end"),
            F.col("event_type").alias("key"),
            "n_events",
            "sum_value",
        )

    def run_slid():
        return sw.run_to_parquet_upsert(
            sw.sliding_counts(sw.events_stream(spark, sf_dir)),
            f"{root}/slid",
            key_cols=["win_start", "win_end", "event_type"],
            name="q_stream_windows_slid",
        ).select(
            F.lit("sliding").alias("kind"),
            F.col("win_start").cast("long").alias("win_start"),
            F.col("win_end").cast("long").alias("win_end"),
            F.col("event_type").alias("key"),
            "n_events",
            "sum_value",
        )

    def run_sess():
        return sw.run_to_parquet_complete(
            sw.session_counts(sw.events_stream(spark, sf_dir)),
            f"{root}/sess",
            name="q_stream_windows_sess",
        ).select(
            F.lit("session").alias("kind"),
            F.col("session_start").cast("long").alias("win_start"),
            F.col("session_end").cast("long").alias("win_end"),
            F.col("user_id").cast("string").alias("key"),
            "n_events",
            "sum_value",
        )

    def run_dedup():
        return (
            sw.run_to_parquet_append(
                sw.stream_dedup(sw.events_stream(spark, sf_dir)),
                f"{root}/dedup",
                name="q_stream_windows_dedup",
                # dropDuplicates emits each first-seen row in ITS batch;
                # the trailing no-data batch only evicts state (r15)
                nodata_batches=False,
            )
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.lit("dedup").alias("kind"),
                F.lit(None).cast("long").alias("win_start"),
                F.lit(None).cast("long").alias("win_end"),
                F.col("event_type").alias("key"),
                "n_events",
                F.lit(None).cast("double").alias("sum_value"),
            )
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [pool.submit(f) for f in (run_tumb, run_slid, run_sess, run_dedup)]
        tumb, slid, sess, dedup = [f.result() for f in futures]
    return tumb.unionByName(slid).unionByName(sess).unionByName(dedup)


# Unregistered single (absorbed into q_stream_windows): pytest surface.
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-min windows per event_type, with watermark."""
    return sw.run_to_memory(
        sw.tumbling_counts(sw.events_stream(spark, sf_dir)),
        "q_stream_tumbling_sink",
        output_mode="complete",
    )


@query(
    "q_stream_join",
    oracle="""
    -- win_start is epoch-seconds BIGINT (engine-neutral): DuckDB's
    -- to_timestamp() yields TIMESTAMPTZ, which fails the driver's
    -- strict dtype comparison against Spark's naive timestamps.
    SELECT CAST(FLOOR(epoch(e.ts) / 900) * 900 AS BIGINT) AS win_start,
           c.c_mktsegment                                 AS segment,
           COUNT(*)                                       AS n_events,
           ROUND(SUM(e.value::DECIMAL(18,4)), 2)::DOUBLE  AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: streaming events enriched with the customer
    dim (broadcast), then tumbling 15-min counts per market segment.

    The join is stateless (static side re-planned per micro-batch);
    only the windowed agg carries state. DECIMAL sum keeps the result
    independent of micro-batch accumulation order.
    """
    cust = pscan(spark, f"{sf_dir}/customer.parquet")
    out = sw.run_to_memory(
        sw.enriched_segment_counts(sw.events_stream(spark, sf_dir), cust),
        "q_stream_join_sink",
        output_mode="complete",
    )
    # epoch-seconds projection: engine-neutral vs the DuckDB oracle
    # (timestamp columns differ in tz-awareness between the engines).
    return out.select(
        F.col("win_start").cast("long").alias("win_start"),
        "segment",
        "n_events",
        "sum_value",
    )


@query(
    "q_stream_joinss",
    oracle="""
    SELECT a.event_id AS click_id,
           b.event_id AS purchase_id,
           a.user_id,
           (epoch(date_trunc('second', b.ts))
            - epoch(date_trunc('second', a.ts)))::BIGINT AS lag_sec
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click'
     AND b.event_type = 'purchase'
     AND date_trunc('second', b.ts) >= date_trunc('second', a.ts)
     AND date_trunc('second', b.ts)
         <= date_trunc('second', a.ts) + INTERVAL 30 MINUTE
    """,
)
def q_stream_joinss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self-join: clicks attributed to same-user purchases
    within 30 min. Watermarks + the event-time range bound let Spark
    evict join state; the finite replay makes the result deterministic
    and batch-oracle-checkable."""
    return sw.run_to_memory(
        sw.click_purchase_attribution(sw.events_stream(spark, sf_dir)),
        "q_stream_joinss_sink",
        output_mode="append",
        # INNER stream-stream join emits matches in the batch both sides
        # arrive; the trailing no-data batch only evicts state (outer
        # joins would need it for NULL-padded flushes — this is inner).
        # Oracle hash-checked either way (r16).
        nodata_batches=False,
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on event_id after watermark
    (unregistered single; driver-checked via q_stream_windows 'dedup')."""
    return sw.run_to_memory(
        sw.stream_dedup(sw.events_stream(spark, sf_dir)),
        "q_stream_dedup_sink",
        output_mode="append",
    )


@query(
    "q_stream_mv",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*)                                       AS n_events,
           ROUND(SUM(value::DECIMAL(18,4)), 2)::DOUBLE    AS sum_value,
           MAX(value)                                     AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view (ClickHouse MV /
    AggregatingMergeTree analog): a 4-micro-batch replay merges partial
    aggregates into versioned parquet state via foreachBatch; the final
    MV must equal the one-shot batch aggregate — exactly what the
    oracle asserts. Mergeable accumulators only (count / DECIMAL sum /
    max), so batch boundaries can't change the answer."""
    import tempfile

    state_dir = tempfile.mkdtemp(prefix="spark_graft_mv_")
    q = mv.incremental_rollup(
        stateful.staged_multibatch_stream(spark, sf_dir), state_dir
    )
    q.awaitTermination()
    out = mv.read_mv(spark, state_dir)
    return out.select(
        "user_id",
        "event_type",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
        "max_value",
    )


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id,
           COUNT(*)                          AS n_events,
           MAX(value)                        AS max_value,
           date_trunc('second', MIN(ts))     AS first_ts,
           date_trunc('second', MAX(ts))     AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState running per-user
    stats, replayed as FOUR micro-batches (maxFilesPerTrigger=1 over a
    staged 4-file copy) so GroupState actually carries across batches.

    The sink holds one cumulative snapshot per (user, batch); the final
    snapshot per user — selected by max n_events, every accumulator
    being monotone and exact — must equal the plain batch aggregate,
    which is exactly what the oracle asserts.
    """
    snapshots = sw.run_to_memory(
        stateful.running_user_stats(
            stateful.staged_multibatch_stream(spark, sf_dir)
        ),
        "q_stream_stateful_sink",
        output_mode="append",
        # applyInPandasWithState with NoTimeout emits one snapshot per
        # key per DATA batch; a no-data batch invokes nothing (no
        # timeouts can fire) — skip it. Oracle hash-checked (r16).
        nodata_batches=False,
        # Python-bound per-key work: throughput scales with worker
        # count, not state size (4 stores 8.7 s / 16 stores 5.5 s
        # measured) — pair each JVM task with a Python worker on half
        # the cores, scale-adaptive.
        n_partitions=max(4, spark.sparkContext.defaultParallelism // 2),
    )
    return snapshots.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    )

"""Streaming windowed aggregation / dedup over the events table.

Pattern: file-source ``readStream`` → event-time transformation →
``writeStream`` to a memory sink with ``Trigger.AvailableNow`` → return
the materialized result as a batch DataFrame. This keeps the driver
contract (queries return collectable DataFrames) while exercising real
streaming plans — watermarks, stateful window aggregation, streaming
dedup.

100 TB notes: event-time windows + watermark bound state size: state
store keeps only windows newer than (max event time - watermark).
Streaming dedup state is similarly watermark-bounded. On a cluster the
memory sink becomes a real sink (kafka/delta); the availableNow trigger
is exactly the production backfill pattern — replay a large history in
bounded batches, then continue incrementally.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Layout of an events parquet whose ts column is TIMESTAMP(NANOS) read
# under nanosAsLong (ns-epoch long). Used directly by the pytest fixtures
# that synthesize ns-long files; fixture queries over driver testdata use
# events_stream_schema() instead, which derives ts's real physical type.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# (realpath, mtime_ns, size) → (schema, ns_as_long). The derivation is
# a driver-side batch footer read (~70 ms); q_stream_windows launches
# FOUR concurrent jobs over the same file, so uncached it pays 4× per
# composite (measured 0.27 s of the 2 s wall). mtime+size in the key for
# the same reason as _stage_events_dir: an in-place regenerated fixture
# must not serve a stale schema.
_SCHEMA_CACHE: dict[tuple[str, int, int], tuple[T.StructType, bool]] = {}


def events_stream_schema(
    spark: SparkSession, path: str
) -> tuple[T.StructType, bool]:
    """Derive the streaming-read schema for an events parquet from its
    BATCH-read schema, so stream and batch paths always agree on ``ts``'s
    type. The testdata's ts unit has changed between rounds (TIMESTAMP
    (NANOS) → timestamp[us]); hard-coding either corrupts event times
    when the other appears.

    Returns ``(schema, ns_as_long)``: when ``ns_as_long`` the file is a
    genuine nanos column read as a long under ``nanosAsLong`` and the
    caller must convert via ``timestamp_micros(ts div 1000)``; otherwise
    the schema carries the batch timestamp type (TIMESTAMP or
    TIMESTAMP_NTZ, whichever Spark inferred) and no conversion applies.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None:
        return hit
    ts_type = spark.read.parquet(path).schema["ts"].dataType
    fields = [
        T.StructField(f.name, ts_type if f.name == "ts" else f.dataType)
        for f in EVENTS_SCHEMA.fields
    ]
    out = (T.StructType(fields), isinstance(ts_type, T.LongType))
    _SCHEMA_CACHE[key] = out
    return out


def _stage_events_dir(sf_dir: str) -> str:
    """Stage events.parquet into a directory: a streaming file source
    monitors a DIRECTORY, not a single file. Symlink when possible."""
    src = os.path.realpath(f"{sf_dir}/events.parquet")
    st = os.stat(src)
    # mtime+size in the key: if the driver regenerates testdata in place,
    # a stale staged copy must not survive.
    tag = hashlib.md5(f"{src}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), "spark_graft_streams", tag)
    os.makedirs(d, exist_ok=True)
    dst = os.path.join(d, "events.parquet")
    if not os.path.exists(dst):
        try:
            os.symlink(src, dst)
        except FileExistsError:
            pass  # another concurrent job already staged it — success
        except OSError:
            # symlinks unsupported (e.g. some mounts): copy via a
            # unique temp + atomic rename so concurrent stagers can't
            # observe a half-written file or race each other.
            tmp = f"{dst}.tmp.{os.getpid()}.{threading.get_ident()}"
            shutil.copyfile(src, tmp)
            os.replace(tmp, dst)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema must be explicit
    for streaming reads; ts type derived from the batch schema)."""
    src = os.path.realpath(f"{sf_dir}/events.parquet")
    try:
        _suggest_stream_partitions(spark, os.path.getsize(src))
    except OSError:
        pass
    schema, ns_as_long = events_stream_schema(spark, src)
    raw = spark.readStream.schema(schema).parquet(_stage_events_dir(sf_dir))
    if ns_as_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


# Stateful streaming queries create one state-store instance PER
# shuffle partition; at the batch default (32) each availableNow job
# pays 32 store inits + commits per stateful operator for a few MB of
# state — measured 4.2 s → 1.8 s for the 4-job q_stream_windows
# composite when scoped to 8. The conf is read once at query START, so
# a scoped set around .start()/awaitTermination() affects only the
# streaming jobs inside; a refcount handles the composites that launch
# jobs from a thread pool (first-in sets, last-out restores). The
# state-store count tracks state size (the source-size hint below), not
# the batch shuffle width.
_SSP_LOCK = threading.Lock()
_SSP_DEPTH = 0
_SSP_SAVED: dict[str, str] | None = None
# the nodata value of the first active scope ("true"/"false")
_SSP_NODATA: str | None = None

_NODATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"
# size-derived suggestion from the last events_stream() source (bytes /
# 512 KiB, clamped to [4, defaultParallelism]): 4 stores at fixture
# scale, rising toward core count as the replayed history grows
# (measured at 10×: 8 fixed = 10.5 s, size-scaled ≈ 32 = 7.7 s).
# Floor lowered 8 → 4 in r16: per-store commit (delta-file write +
# rename on the checkpoint FS) is the dominant fixed cost of a small
# availableNow batch — alternating A/B at sf0.1, 4 runs each:
# 4 stores best 1.74 s / 8 stores best 2.03 s / 16 stores 3.85 s on
# the q_stream_windows composite; 2 stores regresses (1.76→2.02 s,
# the aggregation loses useful parallelism before commit savings pay).
_SSP_HINT: int | None = None


def _suggest_stream_partitions(spark: SparkSession, src_bytes: int) -> None:
    global _SSP_HINT
    par = spark.sparkContext.defaultParallelism
    _SSP_HINT = max(4, min(par, src_bytes // (512 * 1024)))


@contextlib.contextmanager
def stream_scope(
    spark: SparkSession, nodata: bool = True,
    n_partitions: int | None = None,
):
    """Scoped session confs for streaming jobs: shuffle-partition count
    (state-store width) and no-data micro-batches (``nodata``).

    ``nodata=False`` (r15) skips availableNow's trailing no-data
    micro-batch — one whole batch of state-commit + sink overhead per
    job (−0.6 s of q_stream_windows' 2.7 s). ONLY callers whose
    emission is eager may pass False: no-data batches exist for
    watermark-GATED emission (append-mode aggregations, outer-join
    flush, event-time timeouts). Complete-mode snapshots re-emit the
    full result each batch and update-mode sinks ship value CHANGES —
    a no-data batch adds nothing to either — so those runners always
    pass False; the append runner keeps the default unless its caller
    knows the stream emits eagerly (e.g. dropDuplicates). The conf is
    session-wide, so every scope active at once must pass the same
    ``nodata``: any mix raises RuntimeError, in either order. True
    under False would silently lose its watermark flush and drop rows;
    the guard compares against the first scope's value kept under the
    lock, so whether it fires never depends on which thread entered
    first.

    Context-manager form so exception-safety is structural, not
    call-site discipline: every caller that launches streaming jobs
    wraps them in ``with stream_scope(spark):`` and the restore cannot
    be skipped. Refcounted (first-in sets, last-out restores) because
    composites launch availableNow jobs from a thread pool — a
    non-refcounted inner scope would restore the BATCH conf mid-flight
    under an outer scope.
    """
    global _SSP_DEPTH, _SSP_SAVED, _SSP_NODATA
    # per-runner override (r16): the size-derived hint fits state-store
    # commit costs (stateful JVM aggregations), but a PYTHON-bound
    # operator (applyInPandasWithState) is throughput-bound on its
    # workers and wants ~cores, not ~state size — measured on
    # q_stream_stateful: 4 stores 8.7 s / 8 → 6.4 s / 16 → 5.5 s.
    n = str(n_partitions or _SSP_HINT or 4)
    nodata_v = "true" if nodata else "false"
    with _SSP_LOCK:
        if _SSP_DEPTH > 0 and nodata_v != _SSP_NODATA:
            raise RuntimeError(
                f"stream_scope(nodata={nodata}) entered while a "
                f"nodata={_SSP_NODATA == 'true'} scope is active: the "
                f"session-wide {_NODATA_CONF} conf cannot honor both "
                "(a watermark-gated job without its trailing no-data "
                "batch drops result rows). Launch the conflicting jobs "
                "sequentially, or make the concurrent batch uniform."
            )
        _SSP_DEPTH += 1
        if _SSP_DEPTH == 1:
            _SSP_NODATA = nodata_v
            _SSP_SAVED = {
                "spark.sql.shuffle.partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions"
                )
            }
            spark.conf.set("spark.sql.shuffle.partitions", n)
            _SSP_SAVED[_NODATA_CONF] = spark.conf.get(_NODATA_CONF)
            spark.conf.set(_NODATA_CONF, nodata_v)
    try:
        yield
    finally:
        with _SSP_LOCK:
            _SSP_DEPTH -= 1
            if _SSP_DEPTH == 0 and _SSP_SAVED is not None:
                for k, v in _SSP_SAVED.items():
                    spark.conf.set(k, v)
                _SSP_SAVED = None
                _SSP_NODATA = None


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "append",
    nodata_batches: bool | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the materialized batch result.

    ``nodata_batches`` defaults by mode: complete/update never need the
    trailing no-data batch (see stream_scope); append keeps it unless
    the caller knows the stream emits eagerly. ``n_partitions``
    overrides the size-derived state-partition hint (see stream_scope —
    Python-bound stateful operators want ~cores)."""
    spark = df.sparkSession
    if nodata_batches is None:
        nodata_batches = output_mode == "append"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    with stream_scope(spark, nodata=nodata_batches, n_partitions=n_partitions):
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def run_to_parquet_append(
    df: DataFrame, path: str, name: str | None = None,
    nodata_batches: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to a PARQUET file sink (append mode —
    the only mode file sinks support) and return the written rows as a
    batch DataFrame.

    This is the production shape for row-emitting streams (dedup,
    append-mode windowed aggs): results land distributed on the
    cluster's storage, the driver never materializes them — unlike the
    memory sink, whose COMPLETE-mode variant holds the entire result
    in driver memory (the only reason BASELINE.md ever needed a driver
    -memory escape hatch at sf10).

    Append-mode semantics note (not a bug): windowed aggregations emit
    a window only once the watermark passes its end, so on a FINITE
    replay the youngest windows (inside the watermark horizon at
    end-of-input) remain in state awaiting more data — exactly what a
    production stream should do. availableNow's trailing no-data batch
    advances the watermark to (max event time − delay) and flushes
    everything older.
    """
    spark = df.sparkSession
    os.makedirs(path, exist_ok=True)
    with stream_scope(spark, nodata=nodata_batches):
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{path}/data")
            .option("checkpointLocation", f"{path}/_checkpoint")
            .outputMode("append")
            .trigger(availableNow=True)
        )
        query = q.queryName(name).start() if name else q.start()
        query.awaitTermination()
    return _read_or_empty(spark, f"{path}/data", df.schema)


def run_to_parquet_complete(
    df: DataFrame, path: str, name: str | None = None
) -> DataFrame:
    """Run a COMPLETE-mode streaming aggregation into a parquet
    snapshot target and return the final snapshot as a batch DataFrame.

    foreachBatch receives the FULL current result each micro-batch and
    overwrites the snapshot directory with it — a distributed write,
    so unlike the complete-mode MEMORY sink nothing ever materializes
    on the driver (the 8 g-heap OOM at sf10 was exactly that memory
    sink holding ~9.6M session rows). The final batch under
    availableNow is the complete result. This is the snapshot-table
    shape (same contract as an RDBMS sink doing TRUNCATE+INSERT per
    refresh); session windows need it because their merging keys are
    unstable across batches (no append/update-safe key exists), and
    a finite-replay verify needs the windows the watermark has NOT
    closed yet, which append mode correctly withholds.
    """
    spark = df.sparkSession
    os.makedirs(path, exist_ok=True)

    def snapshot(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{path}/data")

    # complete mode re-emits the full snapshot every batch — the
    # trailing no-data batch would just rewrite it (r15)
    with stream_scope(spark, nodata=False):
        q = (
            df.writeStream.foreachBatch(snapshot)
            .option("checkpointLocation", f"{path}/_checkpoint")
            .outputMode("complete")
            .trigger(availableNow=True)
        )
        query = q.queryName(name).start() if name else q.start()
        query.awaitTermination()
    return _read_or_empty(spark, f"{path}/data", df.schema)


def run_to_parquet_upsert(
    df: DataFrame, path: str, key_cols: list[str],
    name: str | None = None,
) -> DataFrame:
    """Run an UPDATE-mode streaming aggregation into a parquet-backed
    upsert target and return the resolved ("latest row per key") batch
    DataFrame.

    The production shape for updating aggregations when the sink is
    files, not a KV store: each micro-batch's changed rows APPEND
    stamped with the micro-batch id (foreachBatch — blind appends, no
    read-modify-write race), and readers resolve the current value
    with one window over the key (merge-on-read). This is the same
    contract a Delta MERGE or a Kafka compacted topic provides — and
    exactly ReplacingMergeTree(version) FINAL semantics, so a
    ChWarehouse table over the same files answers the same reads
    (ddl.py). Compact with the same OPTIMIZE-style rewrite when batch
    files accumulate.

    Unlike COMPLETE mode + memory sink (which re-emits the FULL result
    every batch and materializes it on the driver), update mode ships
    only changed keys and everything stays distributed — the shape
    that survives a 100 TB backfill.

    Update mode emits at most one row per key per micro-batch, so
    (key, batch id) is unique and the resolve is deterministic.
    """
    spark = df.sparkSession
    os.makedirs(path, exist_ok=True)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{path}/data")
        )

    # update mode emits value CHANGES; a no-data batch changes no
    # values, so skip it (r15)
    with stream_scope(spark, nodata=False):
        q = (
            df.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", f"{path}/_checkpoint")
            .outputMode("update")
            .trigger(availableNow=True)
        )
        query = q.queryName(name).start() if name else q.start()
        query.awaitTermination()
    return read_upsert(spark, path, key_cols, schema=df.schema)


def read_upsert(
    spark, path: str, key_cols: list[str], schema=None
) -> DataFrame:
    """Merge-on-read resolve of a ``run_to_parquet_upsert`` target:
    latest ``__batch_id`` per key wins. The ONE resolve implementation
    — the sink returns through it and readers (and tests) call it
    directly, so a resolver regression cannot hide behind a reimplemented
    copy."""
    raw = _read_or_empty(spark, f"{path}/data", schema)
    if "__batch_id" not in raw.columns:
        if len(raw.columns) and raw.take(1):
            raise ValueError(
                f"{path}/data holds parquet without a __batch_id "
                "column — not a run_to_parquet_upsert target"
            )
        # zero batches emitted → schema'd empty frame
        return raw
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("__batch_id").desc())
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__batch_id")
    )


def _read_or_empty(spark, data_dir: str, schema) -> DataFrame:
    """Read a sink's parquet dir, mapping ONLY the two "nothing was
    ever written" analysis errors (missing path / no files to infer
    from) to an empty frame with the stream's schema. Goes through
    spark.read — NOT a driver-local os.path probe — so hdfs://, s3a://
    and file:// sink paths all work; any other failure (permissions,
    corrupt metadata) surfaces instead of masquerading as "the stream
    produced nothing"."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(data_dir)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg:
            if schema is None:
                raise ValueError(
                    f"no upsert data under {data_dir}"
                ) from None
            return spark.createDataFrame([], schema)
        raise


def tumbling_counts(
    events: DataFrame, width: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time window counts per event_type, watermarked."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of silence.

    ts is truncated to seconds so the session boundaries are reproducible
    by the DuckDB oracle (parquet ns vs Spark µs).
    """
    trunc = events.withColumn("ts", F.date_trunc("second", F.col("ts")))
    return (
        trunc.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def enriched_segment_counts(
    events: DataFrame, customer: DataFrame, width: str = "15 minutes"
) -> DataFrame:
    """Stream-static enrichment join → windowed aggregate.

    The streaming side joins a STATIC dimension (customer) on
    user_id = c_custkey — stateless in Structured Streaming (each
    micro-batch joins against the batch plan; no join state), then a
    watermarked tumbling aggregate per market segment.

    100 TB: the dim is broadcast (pinned with F.broadcast) so the
    stream side never shuffles for the join; only the windowed agg
    shuffles, on (window, segment) — tiny cardinality. The value sum
    is DECIMAL so micro-batch accumulation order can't flip cents.
    """
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))
    return (
        events.withWatermark("ts", "1 hour")
        .join(dim, events["user_id"] == dim["c_custkey"])
        .groupBy(F.window("ts", width).alias("win"), F.col("c_mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__sum"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            F.round(F.col("__sum"), 2).cast("double").alias("sum_value"),
        )
    )


def click_purchase_attribution(
    events: DataFrame, attribution_window: str = "30 minutes"
) -> DataFrame:
    """Stream-STREAM self-join: each click matched to same-user
    purchases within the attribution window.

    Both sides are watermarked and the join condition carries an
    event-time range — the two things Structured Streaming requires to
    EVICT join state: a click older than (max event time − watermark −
    window) can never match a future purchase, so its state is dropped.
    Without the time bound the join state would grow unboundedly.

    ts is truncated to seconds so the oracle (DuckDB at ns precision
    vs Spark at µs) sees identical boundary comparisons.

    100 TB: state is hash-partitioned on user_id (the equi-key); the
    range predicate is evaluated within-partition. Watermark delay is
    the knob trading completeness (late events) against state size.
    """
    trunc = events.withColumn("ts", F.date_trunc("second", F.col("ts")))
    clicks = (
        trunc.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        trunc.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
    ).select(
        "click_id",
        "purchase_id",
        F.col("click_user").alias("user_id"),
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("lag_sec"),
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on event_id (state bounded by the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )


def stream_dedup_against_index(
    stream_df: DataFrame,
    text_col: str,
    index_path: str,
    watermark_col: str | None = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup of incoming documents against a persisted
    :func:`dedup.build_hash_index` corpus — the STREAMING form of
    ``dedup_exact_against_index`` (a live crawl feed instead of a batch
    crawl): content-hash the stream, drop rows whose hash is already
    indexed (stream-static LEFT ANTI join — supported shape: static
    side on the right, re-read per micro-batch so an index append
    between batches is picked up), then streaming dropDuplicates on
    the hash for INTRA-stream dups (state bounded by the watermark
    when ``watermark_col`` is set).

    At scale the static side is the partitioned hash table — Spark
    broadcasts it when small, shuffles the batch side onto it when
    not; the stream's state store holds only hashes inside the
    watermark horizon, NOT the indexed corpus (that's the anti-join's
    job — keeping 100 TB of history OUT of streaming state is the
    point of the index).

    Returns the surviving stream rows + ``content_hash``.
    """
    spark = stream_df.sparkSession
    hashed = stream_df.withColumn(
        "content_hash", F.sha2(F.col(text_col), 256)
    )
    indexed = spark.read.parquet(f"{index_path}/hashes").select(
        "content_hash"
    )
    fresh = hashed.join(indexed, "content_hash", "left_anti")
    if watermark_col is not None:
        fresh = fresh.withWatermark(watermark_col, watermark)
    return fresh.dropDuplicates(["content_hash"])


def stream_neardup_against_index(
    stream_df: DataFrame,
    text_col: str,
    index_path: str,
    out_path: str,
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float | None = None,
    name: str | None = None,
) -> DataFrame:
    """Streaming NEAR-dup gate over a persisted
    :func:`dedup.build_prefix_index` corpus — the crawler-ingest shape:
    each micro-batch is near-dup-checked (exact Jaccard via the PPJoin
    prefix index) against the indexed corpus AND its own earlier rows,
    survivors are appended to BOTH the index (so later batches dedup
    against them — the index is self-maintaining) and a parquet sink.
    Returns the resolved survivors as a batch DataFrame.

    Drop rule per batch: a document is dropped iff it near-dups an
    indexed document or a SMALLER-id document of the same batch — the
    conservative one-pass rule (a whole chain a~b~c keeps only ``a``,
    even though b, the dropped middle link, is what c matched). The
    invariant that makes it safe: the surviving corpus contains NO
    above-threshold pair at all (pinned in pytest); full
    cluster-resolution semantics are ``operators/cluster.py``'s job
    downstream, not a per-batch concern.

    Ordering hazard, handled: everything computed from the PRE-append
    index is flushed to the sink BEFORE the index append, and the
    appended sets are rebuilt from the re-read sink files — a lazy
    plan re-executed after the append would otherwise see the batch's
    own sets in the index (duplicate ids → corrupt Jaccard). Each
    batch writes to its own ``__ingest_batch=<id>`` partition dir so
    only its own rows are re-read.

    100 TB posture: per-batch cost is the incremental
    ``dedup_against_index`` plan — new×(new∪pruned-index-buckets),
    never index×index; streaming state holds NOTHING (foreachBatch,
    stateless) — corpus history lives in the index, exactly like the
    exact-hash streaming form above.
    """
    from clickhouse_modules_spark.operators import dedup as D

    spark = stream_df.sparkSession
    os.makedirs(out_path, exist_ok=True)
    meta = spark.read.parquet(f"{index_path}/meta").first()

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession  # the CLONED session — see memory
        sets = D.hashed_shingle_sets(
            batch_df, text_col, id_col=id_col, n=shingle_n
        )
        pairs = D.dedup_against_index(
            sets, id_col, "hs", index_path, threshold
        )
        batch_ids = batch_df.select(F.col(id_col).alias("__bid"))
        # pair (id_a < id_b) always touches ≥1 batch doc: drop id_b
        # when it is a batch doc (covers both-in-batch → keep smaller,
        # and new-vs-indexed where the indexed id sorted first),
        # else id_a is the batch doc — drop it
        dropped = (
            pairs.join(
                batch_ids, pairs["id_b"] == batch_ids["__bid"], "left"
            )
            .select(
                F.when(
                    F.col("__bid").isNotNull(), F.col("id_b")
                )
                .otherwise(F.col("id_a"))
                .alias("__drop_id")
            )
            .distinct()
        )
        survivors = batch_df.join(
            dropped,
            F.col(id_col) == F.col("__drop_id"),
            "left_anti",
        )
        bdir = f"{out_path}/data/__ingest_batch={batch_id}"
        survivors.write.mode("overwrite").parquet(bdir)
        written = s.read.parquet(bdir)
        surv_sets = D.hashed_shingle_sets(
            written, text_col, id_col=id_col, n=shingle_n
        ).select(
            F.col(id_col).alias(meta["id_col"]),
            F.col("hs").alias(meta["set_col"]),
        )
        D.append_to_prefix_index(surv_sets, index_path)

    with stream_scope(spark):
        q = (
            stream_df.writeStream.foreachBatch(_handle)
            .option("checkpointLocation", f"{out_path}/_checkpoint")
            .trigger(availableNow=True)
        )
        query = q.queryName(name).start() if name else q.start()
        query.awaitTermination()
    out = _read_or_empty(spark, f"{out_path}/data", stream_df.schema)
    return out.drop("__ingest_batch")

"""Streaming semantics that the finite-replay fixture queries can't show:
watermark late-data drop and append-mode window closing.

The staged stream here has REAL late data: batch 1 advances the
watermark far past an open window; batch 2 replays an event that
belongs to that (now closed) window. A correct watermark drops it.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhouse_modules_spark.streaming import windows as sw

T0_US = 1_700_000_000_000_000  # arbitrary fixed epoch, µs
MIN_US = 60_000_000


def _write_events(path: str, rows: list[tuple[int, int]]) -> None:
    """rows = [(event_id, ts_offset_minutes)] in the streaming EVENTS_SCHEMA
    layout (ts as ns-epoch long, like the driver's events.parquet)."""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([(T0_US + r[1] * MIN_US) * 1000 for r in rows], pa.int64()),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(table, path)


@pytest.fixture()
def late_data_dir(tmp_path):
    d = str(tmp_path / "stream")
    os.makedirs(d)
    # batch 1: two events in window W0 = [T0-3:20, T0+6:40), plus one 3 h
    # ahead — the watermark advances to T0+2h for the NEXT batch
    _write_events(f"{d}/a_batch1.parquet", [(1, 0), (2, 5), (3, 180)])
    # batch 2: benign on-time event; at this batch's END the watermark
    # (T0+2h) evicts W0 from the state store and emits it
    _write_events(f"{d}/b_batch2.parquet", [(5, 185)])
    # batch 3: a LATE event for the already-evicted window W0
    _write_events(f"{d}/c_batch3.parquet", [(4, 2)])
    now = time.time()
    for i, fn in enumerate(["a_batch1", "b_batch2", "c_batch3"]):
        t = now - 120 + i * 60
        os.utime(f"{d}/{fn}.parquet", (t, t))
    return d


def _write_typed_events(path: str, rows: list[tuple[int, int, str]]) -> None:
    """rows = [(event_id, ts_offset_minutes, event_type)]."""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([(T0_US + r[1] * MIN_US) * 1000 for r in rows], pa.int64()),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(table, path)


def test_stream_stream_join_drops_late_purchase(spark, tmp_path):
    """A purchase whose event time is behind the watermark must be
    dropped at the join input — its would-be click match was already
    evicted from join state. On-time pairs still match."""
    d = str(tmp_path / "ssjoin")
    os.makedirs(d)
    # The GLOBAL watermark is the min over BOTH sides' watermarks, and a
    # side with no data yet contributes 0 — so batch 1 must advance both:
    # click@240 and purchase@241 (which also matches click@240, lag 60 s).
    # Watermark for later batches ≈ 180 (1-hour delay).
    _write_typed_events(
        f"{d}/a_b1.parquet",
        [(1, 0, "click"), (3, 240, "click"), (4, 241, "purchase")],
    )
    # batch 2: benign click far ahead; at this batch's END the join state
    # eviction (watermark 180, attribution window 30 min) removes click 1
    _write_typed_events(f"{d}/b_b2.parquet", [(6, 300, "click")])
    # batch 3: purchase@2 — would match click 1, but that state is
    # evicted and the row is behind the watermark → dropped
    _write_typed_events(f"{d}/c_b3.parquet", [(5, 2, "purchase")])
    now = time.time()
    for i, fn in enumerate(["a_b1", "b_b2", "c_b3"]):
        t = now - 120 + i * 60
        os.utime(f"{d}/{fn}.parquet", (t, t))

    raw = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = sw.run_to_memory(
        sw.click_purchase_attribution(raw),
        "t_ssjoin_sink",
        output_mode="append",
    ).collect()
    pairs = {(r["click_id"], r["purchase_id"]) for r in out}
    assert pairs == {(3, 4)}  # late (1, 5) suppressed

    # batch control: with no streaming/watermark both pairs exist
    batch = spark.read.schema(sw.EVENTS_SCHEMA).parquet(d).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )
    batch_pairs = {
        (r["click_id"], r["purchase_id"])
        for r in sw.click_purchase_attribution(batch).collect()
    }
    assert batch_pairs == {(3, 4), (1, 5)}


def test_watermark_drops_late_event_in_append_mode(spark, late_data_dir):
    """Spark's contract: late rows merge into STILL-LIVE window state
    (allowed lateness), but once the watermark has evicted a window,
    later rows for it are dropped — append mode never resurrects an
    emitted window. Batch 1 opens W0 and advances the watermark; batch 2
    lets eviction emit W0 with its 2 on-time events; batch 3's late
    event must disappear."""
    raw = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(late_data_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    windowed = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "n_events")
    )
    out = sw.run_to_memory(windowed, "t_late_sink", output_mode="append").collect()
    emitted = {r["win_start"]: r["n_events"] for r in out}
    # exactly one closed window, with the late event NOT in it
    assert list(emitted.values()) == [2]


def test_without_watermark_late_event_counts(spark, late_data_dir):
    """Control: the same stream in complete mode (no late-drop) sees all
    4 events — proves the test above shows watermark behavior, not data
    loss in the harness."""
    raw = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(late_data_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    windowed = (
        raw.groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = sw.run_to_memory(windowed, "t_nolate_sink", output_mode="complete").collect()
    assert sum(r["n_events"] for r in out) == 5


def test_session_window_merges_on_exact_gap_boundary(spark):
    """Spark's [t, t+gap) session windows MERGE when touching: an event
    at exactly prev+gap extends the session. The q_stream_windows
    session-leg oracle therefore uses a STRICT '>' gap test — pin the engine
    behavior this depends on."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 12, 0, 0)),
        (1, datetime(2024, 1, 1, 12, 30, 0)),   # exactly gap → merges
        (1, datetime(2024, 1, 1, 13, 0, 1)),    # 1 s past gap → new
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r["n"] for r in out) == [1, 2]


def test_bounded_backfill_replays_in_multiple_microbatches(spark, tmp_path):
    """The production backfill pattern the module docstring claims:
    maxFilesPerTrigger bounds each availableNow micro-batch, so a large
    history replays as a SEQUENCE of batches (bounded state/memory) and
    still produces the same totals as a single-batch read."""
    d = str(tmp_path / "backfill")
    os.makedirs(d)
    for i in range(3):
        _write_events(
            f"{d}/part{i}.parquet", [(i * 10 + j, i * 10 + j) for j in range(5)]
        )
    raw = (
        spark.readStream.schema(sw.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    events = raw.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = "t_backfill_batches"
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    batches = [
        p["batchId"]
        for p in query.recentProgress
        if p.get("numInputRows", 0) > 0
    ]
    assert len(batches) >= 3  # one micro-batch per file, not one giant batch
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert {(r["event_type"], r["n"]) for r in rows} == {("click", 15)}


def test_stream_partition_scope_restores_on_failure(spark, tmp_path):
    """run_to_memory must restore the session's shuffle partitions even
    when the streaming job dies — a leaked low setting would silently
    degrade every later batch query in the session."""
    import pyspark.sql.functions as SF

    before = spark.conf.get("spark.sql.shuffle.partitions")
    d = str(tmp_path / "bad")
    os.makedirs(d)
    _write_events(f"{d}/a.parquet", [(1, 0)])
    raw = spark.readStream.schema(sw.EVENTS_SCHEMA).parquet(d)
    # division that explodes at runtime inside the micro-batch
    doomed = raw.select((SF.lit(1) / (SF.col("event_id") - 1)).alias("x"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        sw.run_to_memory(doomed, "t_doomed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_dedup_against_index(spark, tmp_path):
    """Streaming exact-dedup vs a persisted hash index: rows whose
    content the index already has are dropped; intra-stream dups
    collapse to one; novel content survives."""
    from clickhouse_modules_spark.operators import dedup
    from clickhouse_modules_spark.streaming.windows import (
        stream_dedup_against_index,
    )

    corpus = spark.createDataFrame(
        [(1, "old doc one"), (2, "old doc two")], ["doc_id", "text"]
    )
    idx = str(tmp_path / "hidx")
    dedup.build_hash_index(corpus, "text", "doc_id", idx)

    incoming = spark.createDataFrame(
        [
            (10, "old doc one"),   # already indexed -> dropped
            (11, "fresh doc"),     # novel -> kept
            (12, "fresh doc"),     # intra-stream dup -> collapsed
            (13, "another fresh"),  # novel -> kept
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "in")
    incoming.write.parquet(src)
    stream = spark.readStream.schema(incoming.schema).parquet(src)
    out = stream_dedup_against_index(
        stream, "text", idx, watermark_col=None
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sdai")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sdai").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["another fresh", "fresh doc"]
    # every survivor carries its hash
    assert all(len(r["content_hash"]) == 64 for r in rows)

"""Registry-level invariants + streaming/batch equivalence + function
shim spot checks. The full oracle sweep lives in tools/verify_local.py
(the driver replica); these tests pin semantics that the oracle can't
express (engine-specific hashes, streaming vs batch equality)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_modules_spark.functions import ch
from clickhouse_modules_spark.queries import ORACLES, QUERIES
from clickhouse_modules_spark.streaming import windows as sw
from clickhouse_modules_spark.tables import load_events


# The 50 composite fixtures — one frozen name per SURVEY §2C family.
# Frozen so a refactor can't silently rotate an operator out of the
# driver's verified window (the driver checks the first 50 registered).
EXPECTED_FIXTURES = {
    # aggregations
    "q_agg_groupby", "q_agg_distinct", "q_agg_rollup", "q_agg_pivot",
    "q_agg_topk", "q_agg_summap", "q_agg_quantile_filter",
    # scan/project/filter + functions
    "q_project", "q_fn_scalar", "q_fn_numeric_time", "q_fn_collections",
    "q_fn_semistruct",
    # joins + subqueries
    "q_join_inner", "q_join_outer", "q_join_semi_anti", "q_join_cross",
    "q_join_asof", "q_join_salted", "q_join_multiway", "q_join_any",
    "q_subquery_corr",
    # windows / sort / setops
    "q_win_analytic", "q_topk", "q_sort", "q_set_ops",
    # ClickHouse dialect
    "q_chsql", "q_chsql_clauses", "q_chsql_dictget", "q_chsql_extensions",
    "q_fill", "q_final",
    # behavioral
    "q_behavioral",
    # reconcile (reference surface)
    "q_reconcile",
    # streaming
    "q_stream_windows", "q_stream_join", "q_stream_joinss", "q_stream_mv",
    "q_stream_stateful",
    # LLM-data pipeline
    "q_dedup_exact", "q_dedup_near", "q_dedup_cluster", "q_dedup_embed",
    "q_sim", "q_text_profile", "q_text_chunk_scrub", "q_text_contaminate",
    "q_pack_sequences", "q_sample", "q_pipeline_e2e", "q_multimodal",
}


def test_registry_covers_survey_inventory():
    # every oracle has a query; the registry is the driver contract
    assert set(ORACLES) <= set(QUERIES)
    # the driver officially checks the first 50 registered queries:
    # the registry is consolidated to EXACTLY 50 composites so every
    # SURVEY §2 operator feeds an officially-verified entry — adding a
    # 51st query would silently fall outside the correctness window
    assert len(EXPECTED_FIXTURES) == 50
    assert set(QUERIES) == EXPECTED_FIXTURES
    # every registered query is value-checked (rows+schema+hash) since
    # round 6: q_dedup_near gained a complete prefix-filter leg whose
    # exact-Jaccard output is oracle-reproducible
    assert set(ORACLES) == EXPECTED_FIXTURES


def test_entry_contract(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    assert df.count() > 0
    assert set(em.queries()) == set(QUERIES)
    assert em.oracle_sql() == ORACLES


# --------------------------------------------------- streaming ≡ batch
def test_stream_tumbling_equals_batch_window(spark, sf_small):
    from clickhouse_modules_spark.queries import streaming_queries as sq

    out = sq.q_stream_tumbling(spark, sf_small).drop("win_end")
    batch = (
        load_events(spark, sf_small)
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "event_type",
                "n_events", "sum_value")
    )
    assert out.exceptAll(batch).isEmpty() and batch.exceptAll(out).isEmpty()


def test_stream_dedup_unique_ids(spark, sf_small):
    from clickhouse_modules_spark.queries import streaming_queries as sq

    out = sq.q_stream_dedup(spark, sf_small)
    assert out.count() == out.select("event_id").distinct().count()


def test_stateful_state_carries_across_batches(spark, sf_small):
    """q_stream_stateful replays events as 4 micro-batches; the raw sink
    must hold MULTIPLE cumulative snapshots for users spanning batches
    (state carried), and the final snapshots must equal the batch agg."""
    from clickhouse_modules_spark.streaming import stateful
    from clickhouse_modules_spark.streaming import windows as sw

    raw = sw.run_to_memory(
        stateful.running_user_stats(
            stateful.staged_multibatch_stream(spark, sf_small)
        ),
        "t_stateful_sink",
        output_mode="append",
    )
    n_users = raw.select("user_id").distinct().count()
    assert raw.count() > n_users  # > 1 snapshot for some user ⇒ state reused
    final = raw.groupBy("user_id").agg(F.max("n_events").alias("n"))
    batch = load_events(spark, sf_small).groupBy("user_id").count()
    diff = final.join(batch, "user_id").filter(F.col("n") != F.col("count"))
    assert diff.isEmpty()


# --------------------------------------------------- function shim spots
@pytest.fixture(scope="module")
def one(spark):
    return spark.createDataFrame([("Hello World", -7)], ["s", "n"])


def test_xxhash64_deterministic(spark, one):
    a = one.select(ch.xxHash64("s").alias("h")).head()["h"]
    b = one.select(ch.xxHash64("s").alias("h")).head()["h"]
    assert a == b and isinstance(a, int)


def test_intdiv_truncates_toward_negative_like_floor(spark, one):
    # ClickHouse intDiv truncates toward zero for positives; our shim
    # documents floor-division semantics — pin the behavior
    got = one.select(ch.intDiv(F.col("n"), 2).alias("d")).head()["d"]
    assert got == -4  # floor(-7/2)


def test_positive_modulo_always_nonnegative(spark, one):
    got = one.select(ch.positiveModulo(F.col("n"), 3).alias("m")).head()["m"]
    assert got == 2


def test_sha256_matches_hashlib(spark, one):
    import hashlib

    got = one.select(ch.SHA256("s").alias("h")).head()["h"]
    assert got == hashlib.sha256(b"Hello World").hexdigest()


def test_multi_if_chains(spark):
    df = spark.createDataFrame([(1,), (5,), (50,)], ["x"])
    out = df.select(
        ch.multiIf(
            F.col("x") < 3, F.lit("small"),
            F.col("x") < 10, F.lit("mid"),
            F.lit("big"),
        ).alias("t")
    ).collect()
    assert [r["t"] for r in out] == ["small", "mid", "big"]


class TestChColumnApiParity:
    """Column-API shim matches the translator's new families."""

    def test_bits_urls_arrays_dates(self, spark):
        from clickhouse_modules_spark.functions import ch

        df = spark.createDataFrame(
            [(12, "https://ex.org/a/b?k=v", [1, 2, 2], "2026-08-13")],
            ["n", "url", "arr", "d"],
        ).select(
            ch.bitAnd("n", 10).alias("band"),
            ch.bitShiftLeft("n", 1).alias("shl"),
            ch.domain("url").alias("host"),
            ch.path("url").alias("pth"),
            ch.extractURLParameter("url", "k").alias("param"),
            ch.arraySum("arr").alias("asum"),
            ch.arrayAvg("arr").alias("aavg"),
            ch.arrayUniq("arr").alias("auniq"),
            ch.arrayPopBack("arr").alias("apop"),
            ch.toDayOfWeek(F.to_date("d")).alias("dow"),
            ch.toStartOfQuarter(F.to_date("d")).alias("soq"),
        )
        r = df.collect()[0]
        assert r["band"] == 8 and r["shl"] == 24
        assert r["host"] == "ex.org" and r["pth"] == "/a/b"
        assert r["param"] == "v"
        assert r["asum"] == 5.0 and abs(r["aavg"] - 5 / 3) < 1e-9
        assert r["auniq"] == 2 and r["apop"] == [1, 2]
        assert r["dow"] == 4  # Thursday, Monday-based
        assert str(r["soq"]).startswith("2026-07-01")

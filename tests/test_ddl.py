"""CH table DDL/DML surface (ddl.ChWarehouse): lifecycle, mutations,
metadata-only schema evolution, engine semantics, MV cascade.

DuckDB cross-checks pin the mutation results: the same logical
sequence (CREATE/INSERT/DELETE/UPDATE) replayed as plain SQL must
yield identical rows.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from clickhouse_modules_spark.ddl import (
    ChWarehouse,
    ch_type_to_spark,
    parse_create_table,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return ChWarehouse(spark, str(tmp_path / "warehouse"))


class TestTypeMapping:
    def test_scalars(self):
        assert ch_type_to_spark("UInt8") == ("smallint", False)
        assert ch_type_to_spark("UInt32") == ("bigint", False)
        assert ch_type_to_spark("Float32") == ("float", False)
        assert ch_type_to_spark("Decimal(12,2)") == ("decimal(12,2)", False)
        assert ch_type_to_spark("Decimal64(4)") == ("decimal(18,4)", False)
        assert ch_type_to_spark("DateTime64(3)") == ("timestamp", False)
        assert ch_type_to_spark("Enum8('a' = 1, 'b' = 2)") == (
            "string", False
        )

    def test_wrappers_and_composites(self):
        assert ch_type_to_spark("Nullable(Int64)") == ("bigint", True)
        assert ch_type_to_spark("LowCardinality(String)") == (
            "string", False
        )
        assert ch_type_to_spark("Array(Nullable(String))") == (
            "array<string>", False
        )
        assert ch_type_to_spark("Map(String, UInt64)") == (
            "map<string,bigint>", False
        )
        assert ch_type_to_spark("Tuple(a Int32, b String)") == (
            "struct<a:int,b:string>", False
        )
        assert ch_type_to_spark("Tuple(Int32, String)") == (
            "struct<col1:int,col2:string>", False
        )
        assert ch_type_to_spark("Nested(x Int8, y String)") == (
            "array<struct<x:tinyint,y:string>>", False
        )

    def test_rejects_loud(self):
        with pytest.raises(ValueError, match="decimal"):
            ch_type_to_spark("UInt256")
        with pytest.raises(ValueError, match="top-level column"):
            # ch_type_to_spark itself still rejects (the supported
            # state bases are handled by _parse_column_entry at the
            # TOP level only — Array(AggregateFunction…) has no rep)
            ch_type_to_spark("AggregateFunction(sum, UInt64)")
        with pytest.raises(ValueError, match="unsupported"):
            ch_type_to_spark("NotAType")


class TestCreateParse:
    def test_full_clause_set(self):
        meta, ctas, ine, orr = parse_create_table(
            """
            CREATE TABLE IF NOT EXISTS ev (
              id UInt64,
              ts DateTime,
              day Date DEFAULT toDate(ts),
              amt Decimal(10,2),
              INDEX idx_amt amt TYPE minmax GRANULARITY 4
            ) ENGINE = ReplacingMergeTree(id)
            PARTITION BY toYYYYMM(ts)
            ORDER BY (day, id)
            SAMPLE BY id
            TTL ts + INTERVAL 90 DAY
            SETTINGS index_granularity = 8192
            """
        )
        assert ine and not orr and ctas is None
        assert [c.name for c in meta.columns] == ["id", "ts", "day", "amt"]
        assert meta.columns[2].default == "cast(ts as date)"
        assert meta.engine == "ReplacingMergeTree"
        assert meta.version_col == "id"
        assert meta.order_by == ["day", "id"]
        assert meta.partition_cols == ["_p0"]
        assert "INTERVAL 90 DAY" in meta.ttl.upper()
        assert meta.sample_by == "id"

    def test_engine_rejects(self):
        with pytest.raises(ValueError, match="ENGINE Distributed"):
            parse_create_table(
                "CREATE TABLE d (x Int8) ENGINE = Distributed(c, db, t)"
            )


class TestLifecycle:
    def test_insert_select_mutations_vs_duckdb(self, wh, spark):
        wh.execute(
            """
            CREATE TABLE ev (
              id UInt64, user String, ts DateTime, amt Float64
            ) ENGINE = MergeTree()
            PARTITION BY toYYYYMM(ts) ORDER BY (user, ts)
            """
        )
        wh.execute(
            "INSERT INTO ev VALUES "
            "(1, 'a', toDateTime('2024-01-05 10:00:00'), 10.5), "
            "(2, 'b', toDateTime('2024-02-01 09:00:00'), 3.25), "
            "(3, 'a', toDateTime('2024-02-11 12:00:00'), 7.0)"
        )
        wh.execute("ALTER TABLE ev DELETE WHERE id = 2")
        wh.execute("ALTER TABLE ev UPDATE amt = amt * 2 WHERE user = 'a'")
        got = [
            (r["id"], r["user"], r["amt"])
            for r in wh.execute(
                "SELECT id, user, amt FROM ev ORDER BY id"
            ).collect()
        ]
        oracle = duckdb.sql(
            """
            WITH ev AS (
              SELECT * FROM (VALUES (1, 'a', 10.5), (2, 'b', 3.25),
                                    (3, 'a', 7.0)) t(id, u, amt)
            )
            SELECT id, u, CASE WHEN u = 'a' THEN amt * 2 ELSE amt END
            FROM ev WHERE id != 2 ORDER BY id
            """
        ).fetchall()
        assert got == [tuple(r) for r in oracle]

    def test_partition_pruned_delete_touches_one_dir(self, wh):
        wh.execute(
            "CREATE TABLE p (id UInt32, ts DateTime, v Float64) "
            "ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY id"
        )
        wh.execute(
            "INSERT INTO p VALUES "
            "(1, toDateTime('2024-01-01 00:00:00'), 1.0), "
            "(2, toDateTime('2024-02-01 00:00:00'), 2.0)"
        )
        data = f"{wh.root}/p/data"
        jan = f"{data}/_p0=202401"
        feb = f"{data}/_p0=202402"
        feb_mtime_before = max(
            os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)
        )
        wh.execute("ALTER TABLE p DELETE WHERE id = 1")
        # January emptied out entirely; February files untouched on disk
        assert not os.path.isdir(jan)
        feb_mtime_after = max(
            os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)
        )
        assert feb_mtime_after == feb_mtime_before
        assert [r["id"] for r in
                wh.execute("SELECT id FROM p").collect()] == [2]

    def test_insert_select_and_ctas(self, wh):
        wh.execute(
            "CREATE TABLE src (k Int32, v Int64) ENGINE = MergeTree "
            "ORDER BY k"
        )
        wh.execute("INSERT INTO src VALUES (1, 10), (2, 20), (3, 30)")
        wh.execute(
            "CREATE TABLE agg ENGINE = MergeTree ORDER BY tuple() AS "
            "SELECT k % 2 AS parity, sum(v) AS total FROM src GROUP BY parity"
        )
        got = {
            (r["parity"], r["total"])
            for r in wh.execute("SELECT * FROM agg").collect()
        }
        assert got == {(0, 20), (1, 40)}
        wh.execute("INSERT INTO src SELECT k + 10, v * 10 FROM src")
        assert wh.execute("SELECT count() AS n FROM src").collect()[0][
            "n"
        ] == 6

    def test_truncate_rename_exchange_drop(self, wh):
        wh.execute("CREATE TABLE a (x Int8) ENGINE = Memory")
        wh.execute("CREATE TABLE b (x Int8) ENGINE = Memory")
        wh.execute("INSERT INTO a VALUES (1)")
        wh.execute("INSERT INTO b VALUES (2), (3)")
        wh.execute("EXCHANGE TABLES a AND b")
        assert wh.execute("SELECT count() AS n FROM a").collect()[0]["n"] == 2
        wh.execute("RENAME TABLE a TO c")
        assert wh.tables() == ["b", "c"]
        wh.execute("TRUNCATE TABLE c")
        assert wh.execute("SELECT count() AS n FROM c").collect()[0]["n"] == 0
        wh.execute("DROP TABLE c")
        wh.execute("DROP TABLE IF EXISTS c")  # idempotent form
        with pytest.raises(ValueError, match="does not exist"):
            wh.execute("DROP TABLE c")


class TestSchemaEvolution:
    def test_add_column_is_lazy_and_defaulted(self, wh):
        wh.execute(
            "CREATE TABLE t (id UInt32, v Float64) ENGINE = MergeTree "
            "ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1, 1.0), (2, 2.0)")
        files_before = set(os.listdir(f"{wh.root}/t/data"))
        wh.execute("ALTER TABLE t ADD COLUMN score Float64 DEFAULT 1.5")
        # metadata-only: no data rewrite
        assert set(os.listdir(f"{wh.root}/t/data")) == files_before
        wh.execute("INSERT INTO t (id, v, score) VALUES (3, 3.0, 9.9)")
        got = {
            r["id"]: r["score"]
            for r in wh.execute("SELECT id, score FROM t").collect()
        }
        assert got == {1: 1.5, 2: 1.5, 3: 9.9}

    def test_explicit_null_differs_from_default(self, wh):
        wh.execute(
            "CREATE TABLE t (id UInt32) ENGINE = MergeTree ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1)")
        wh.execute(
            "ALTER TABLE t ADD COLUMN tag Nullable(String) DEFAULT 'x'"
        )
        wh.execute("INSERT INTO t (id, tag) VALUES (2, NULL)")
        got = {
            r["id"]: r["tag"]
            for r in wh.execute("SELECT id, tag FROM t").collect()
        }
        # pre-ADD row reads the default; explicit NULL stays NULL
        assert got == {1: "x", 2: None}

    def test_update_of_lazy_column_materializes(self, wh):
        wh.execute(
            "CREATE TABLE t (id UInt32) ENGINE = MergeTree ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1), (2)")
        wh.execute("ALTER TABLE t ADD COLUMN s Float64 DEFAULT 1.5")
        wh.execute("ALTER TABLE t UPDATE s = 7.0 WHERE id = 1")
        got = {
            r["id"]: r["s"]
            for r in wh.execute("SELECT id, s FROM t").collect()
        }
        assert got == {1: 7.0, 2: 1.5}
        assert wh.meta("t").column("s").added_seq is None

    def test_rename_and_drop_are_metadata_only(self, wh):
        wh.execute(
            "CREATE TABLE t (id UInt32, old_name String) "
            "ENGINE = MergeTree ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1, 'hello')")
        wh.execute("ALTER TABLE t RENAME COLUMN old_name TO new_name")
        wh.execute("INSERT INTO t (id, new_name) VALUES (2, 'world')")
        got = {
            r["id"]: r["new_name"]
            for r in wh.execute("SELECT id, new_name FROM t").collect()
        }
        assert got == {1: "hello", 2: "world"}
        wh.execute("ALTER TABLE t DROP COLUMN new_name")
        assert wh.execute("SELECT * FROM t").columns == ["id"]
        with pytest.raises(ValueError, match="key column"):
            wh.execute("ALTER TABLE t DROP COLUMN id")

    def test_modify_column_type_casts_old_files(self, wh):
        wh.execute(
            "CREATE TABLE t (id UInt32, v Int32) ENGINE = MergeTree "
            "ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1, 42)")
        wh.execute("ALTER TABLE t MODIFY COLUMN v Float64")
        [r] = wh.execute("SELECT v FROM t").collect()
        assert r["v"] == 42.0 and isinstance(r["v"], float)

    def test_materialized_and_alias_columns(self, wh):
        wh.execute(
            """
            CREATE TABLE t (
              id UInt32,
              v Float64,
              v2 Float64 MATERIALIZED v * 2,
              v3 Float64 ALIAS v + 1
            ) ENGINE = MergeTree ORDER BY id
            """
        )
        wh.execute("INSERT INTO t (id, v) VALUES (1, 10.0)")
        [r] = wh.execute("SELECT id, v, v2, v3 FROM t").collect()
        assert (r["v2"], r["v3"]) == (20.0, 11.0)
        with pytest.raises(ValueError, match="MATERIALIZED"):
            wh.execute("INSERT INTO t (id, v, v2) VALUES (2, 1.0, 2.0)")


class TestEngines:
    def test_replacing_final_and_optimize(self, wh):
        wh.execute(
            "CREATE TABLE p (sym String, px Float64, ver UInt32) "
            "ENGINE = ReplacingMergeTree(ver) ORDER BY sym"
        )
        wh.execute("INSERT INTO p VALUES ('AA', 10.0, 1), ('BB', 20.0, 1)")
        wh.execute("INSERT INTO p VALUES ('AA', 11.0, 2)")
        assert wh.execute("SELECT count() AS n FROM p").collect()[0]["n"] == 3
        fin = {
            r["sym"]: r["px"]
            for r in wh.execute("SELECT sym, px FROM p FINAL").collect()
        }
        assert fin == {"AA": 11.0, "BB": 20.0}
        wh.execute("OPTIMIZE TABLE p FINAL")
        assert wh.execute("SELECT count() AS n FROM p").collect()[0]["n"] == 2

    def test_versionless_replacing_latest_insert_wins(self, wh):
        wh.execute(
            "CREATE TABLE p (k Int32, v Int32) "
            "ENGINE = ReplacingMergeTree ORDER BY k"
        )
        wh.execute("INSERT INTO p VALUES (1, 100)")
        wh.execute("INSERT INTO p VALUES (1, 200)")
        wh.execute("OPTIMIZE TABLE p FINAL")
        assert [
            (r["k"], r["v"]) for r in wh.execute("SELECT * FROM p").collect()
        ] == [(1, 200)]

    def test_summing_collapse(self, wh):
        wh.execute(
            "CREATE TABLE s (day Date, clicks UInt64, note String) "
            "ENGINE = SummingMergeTree(clicks) ORDER BY day"
        )
        wh.execute(
            "INSERT INTO s VALUES (toDate('2024-01-01'), 5, 'first')"
        )
        wh.execute(
            "INSERT INTO s VALUES (toDate('2024-01-01'), 7, 'second')"
        )
        wh.execute("OPTIMIZE TABLE s FINAL")
        [r] = wh.execute("SELECT * FROM s").collect()
        # sums sum; non-sum columns keep max(value) — the same
        # deterministic choice as SELECT ... FINAL (SAF_AGG_FOR_ROLE)
        assert (r["clicks"], r["note"]) == (12, "second")

    def test_deduplicate(self, wh):
        wh.execute(
            "CREATE TABLE d (x Int32, y String) ENGINE = MergeTree "
            "ORDER BY x"
        )
        wh.execute("INSERT INTO d VALUES (1, 'a'), (1, 'a'), (2, 'b')")
        wh.execute("OPTIMIZE TABLE d FINAL DEDUPLICATE")
        assert wh.execute("SELECT count() AS n FROM d").collect()[0]["n"] == 2

    def test_null_engine_discards_but_mvs_fire(self, wh):
        wh.execute("CREATE TABLE firehose (x Int64) ENGINE = Null")
        wh.execute(
            "CREATE TABLE sums (total Int64) ENGINE = MergeTree "
            "ORDER BY tuple()"
        )
        wh.execute(
            "CREATE MATERIALIZED VIEW mv TO sums AS "
            "SELECT sum(x) AS total FROM firehose"
        )
        wh.execute("INSERT INTO firehose VALUES (1), (2), (3)")
        assert (
            wh.execute("SELECT count() AS n FROM firehose").collect()[0]["n"]
            == 0
        )
        assert (
            wh.execute("SELECT total FROM sums").collect()[0]["total"] == 6
        )

    def test_mv_sees_only_the_inserted_batch(self, wh):
        wh.execute(
            "CREATE TABLE src (x Int64) ENGINE = MergeTree ORDER BY tuple()"
        )
        wh.execute(
            "CREATE TABLE out (batch_sum Int64) ENGINE = MergeTree "
            "ORDER BY tuple()"
        )
        wh.execute(
            "CREATE MATERIALIZED VIEW m TO out AS "
            "SELECT sum(x) AS batch_sum FROM src"
        )
        wh.execute("INSERT INTO src VALUES (1), (2)")
        wh.execute("INSERT INTO src VALUES (10)")
        got = sorted(
            r["batch_sum"]
            for r in wh.execute("SELECT batch_sum FROM out").collect()
        )
        # per-batch sums (3 and 10), NOT cumulative re-aggregation
        assert got == [3, 10]

    def test_ttl_applied_on_optimize(self, wh):
        wh.execute(
            "CREATE TABLE t (id Int32, ts DateTime) ENGINE = MergeTree "
            "ORDER BY id TTL ts + INTERVAL 30 DAY"
        )
        wh.execute(
            "INSERT INTO t VALUES (1, toDateTime('2000-01-01 00:00:00')), "
            "(2, now())"
        )
        wh.execute("OPTIMIZE TABLE t")
        assert [r["id"] for r in wh.execute("SELECT id FROM t").collect()] \
            == [2]


class TestCatalogStatements:
    def test_describe_show_exists(self, wh):
        wh.execute(
            "CREATE TABLE t (id UInt32, d Date DEFAULT today()) "
            "ENGINE = MergeTree ORDER BY id"
        )
        desc = {
            r["name"]: (r["default_type"], r["default_expression"])
            for r in wh.execute("DESCRIBE TABLE t").collect()
        }
        assert desc["id"] == ("", "")
        assert desc["d"][0] == "DEFAULT" and "current_date" in desc["d"][1]
        assert [r["name"] for r in wh.execute("SHOW TABLES").collect()] == [
            "t"
        ]
        assert wh.execute("EXISTS TABLE t").collect()[0]["result"] == 1
        assert wh.execute("EXISTS TABLE nope").collect()[0]["result"] == 0

    def test_plain_view(self, wh):
        wh.execute(
            "CREATE TABLE t (x Int32) ENGINE = MergeTree ORDER BY x"
        )
        wh.execute("INSERT INTO t VALUES (1), (2), (3)")
        wh.execute("CREATE VIEW big AS SELECT x FROM t WHERE x > 1")
        assert (
            wh.execute("SELECT count() AS n FROM big").collect()[0]["n"] == 2
        )

    def test_unsupported_statements_loud(self, wh):
        with pytest.raises(ValueError, match="unsupported statement"):
            wh.execute("GRANT SELECT ON t TO u")  # reconcile/'s job
        with pytest.raises(ValueError, match="FORMAT"):
            wh.execute("CREATE TABLE t (x Int8) ENGINE = MergeTree "
                       "ORDER BY x") or wh.execute(
                "INSERT INTO t FORMAT CSV 1,2"
            )


class TestPartitionOps:
    def test_drop_detach_attach_partition(self, wh):
        wh.execute(
            "CREATE TABLE t (id UInt32, ts DateTime) ENGINE = MergeTree "
            "PARTITION BY toYYYYMM(ts) ORDER BY id"
        )
        wh.execute(
            "INSERT INTO t VALUES "
            "(1, toDateTime('2024-01-01 00:00:00')), "
            "(2, toDateTime('2024-02-01 00:00:00')), "
            "(3, toDateTime('2024-03-01 00:00:00'))"
        )
        wh.execute("ALTER TABLE t DROP PARTITION 202401")
        assert sorted(
            r["id"] for r in wh.execute("SELECT id FROM t").collect()
        ) == [2, 3]
        wh.execute("ALTER TABLE t DETACH PARTITION 202402")
        assert [
            r["id"] for r in wh.execute("SELECT id FROM t").collect()
        ] == [3]
        wh.execute("ALTER TABLE t ATTACH PARTITION 202402")
        assert sorted(
            r["id"] for r in wh.execute("SELECT id FROM t").collect()
        ) == [2, 3]
        # zero matching parts = silent no-op, CH semantics (r13
        # DDL-fuzzer finding — retention jobs must be idempotent)
        wh.execute("ALTER TABLE t DROP PARTITION 209901")
        wh.execute("ALTER TABLE t DETACH PARTITION 209901")
        wh.execute("ALTER TABLE t ATTACH PARTITION 209901")
        assert sorted(
            r["id"] for r in wh.execute("SELECT id FROM t").collect()
        ) == [2, 3]

    def test_show_create_roundtrip(self, wh):
        ddl = (
            "CREATE TABLE rt (id UInt64, ts DateTime, "
            "day Date DEFAULT toDate(ts), amt Decimal(10,2)) "
            "ENGINE = ReplacingMergeTree(id) "
            "PARTITION BY toYYYYMM(ts) ORDER BY (day, id)"
        )
        wh.execute(ddl)
        stmt = wh.execute("SHOW CREATE TABLE rt").collect()[0]["statement"]
        # the rendered statement re-executes to an equivalent table
        wh2 = ChWarehouse(wh.spark, wh.root + "2")
        wh2.execute(stmt)
        m1, m2 = wh.meta("rt"), wh2.meta("rt")
        assert [c.name for c in m1.columns] == [c.name for c in m2.columns]
        assert (m1.engine, m1.version_col, m1.order_by) == (
            m2.engine, m2.version_col, m2.order_by
        )


class TestStreamInto:
    def test_stream_ingestion_fires_mvs(self, wh, spark, sf_small,
                                        tmp_path):
        from clickhouse_modules_spark.streaming.windows import (
            events_stream,
            stream_scope,
        )

        wh.execute(
            "CREATE TABLE ev (event_id UInt64, user_id UInt64, "
            "event_type String, ts DateTime, value Float64) "
            "ENGINE = MergeTree ORDER BY (event_type, ts)"
        )
        wh.execute(
            "CREATE TABLE per_type (event_type String, n UInt64) "
            "ENGINE = SummingMergeTree(n) ORDER BY event_type"
        )
        wh.execute(
            "CREATE MATERIALIZED VIEW mv_pt TO per_type AS "
            "SELECT event_type, count() AS n FROM ev GROUP BY event_type"
        )
        stream = events_stream(spark, sf_small).select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        with stream_scope(spark):
            wh.stream_into("ev", stream,
                           checkpoint=str(tmp_path / "cp"))
        wh.execute("OPTIMIZE TABLE per_type FINAL")
        batch = spark.read.parquet(f"{sf_small}/events.parquet")
        expect = {
            (r["event_type"], r["n"])
            for r in batch.groupBy("event_type")
            .agg(__import__("pyspark.sql.functions", fromlist=["count"])
                 .count("*").alias("n"))
            .collect()
        }
        got_rows = wh.execute(
            "SELECT count() AS n FROM ev"
        ).collect()[0]["n"]
        assert got_rows == batch.count()
        got = {
            (r["event_type"], r["n"])
            for r in wh.execute(
                "SELECT event_type, n FROM per_type"
            ).collect()
        }
        # per-batch MV increments summed by the Summing engine == the
        # batch-side per-type counts, regardless of micro-batch split
        assert got == expect


class TestExplain:
    def test_syntax_and_plan(self, wh):
        wh.execute(
            "CREATE TABLE t (id UInt32, ts DateTime) ENGINE = MergeTree "
            "PARTITION BY toYYYYMM(ts) ORDER BY id"
        )
        wh.execute(
            "INSERT INTO t VALUES (1, toDateTime('2024-01-01 00:00:00'))"
        )
        syn = wh.execute("EXPLAIN SYNTAX SELECT countIf(id > 0) FROM t")
        assert "count_if" in syn.collect()[0]["explain"]
        plan = "\n".join(
            r["explain"]
            for r in wh.execute("EXPLAIN SELECT id FROM t").collect()
        )
        assert "Scan parquet" in plan and "ReadSchema" in plan

    def test_query_loads_only_referenced_tables(self, wh, monkeypatch):
        wh.execute("CREATE TABLE used (x Int32) ENGINE = Memory")
        wh.execute("CREATE TABLE unused (y Int32) ENGINE = Memory")
        wh.execute("INSERT INTO used VALUES (1)")
        loaded = []
        orig = wh._raw_df

        def spy(meta, session=None):
            loaded.append(meta.name)
            return orig(meta, session=session)

        monkeypatch.setattr(wh, "_raw_df", spy)
        wh.execute("SELECT count() AS n FROM used").collect()
        assert "used" in loaded and "unused" not in loaded


class TestDictionaryDdl:
    def test_create_dictionary_and_dictget(self, wh):
        wh.execute(
            "CREATE TABLE geo (nid UInt32, region String) "
            "ENGINE = MergeTree ORDER BY nid"
        )
        wh.execute(
            "INSERT INTO geo VALUES (1, 'EU'), (2, 'NA'), (3, 'APAC')"
        )
        wh.execute(
            "CREATE TABLE users (uid UInt32, nid UInt32) "
            "ENGINE = MergeTree ORDER BY uid"
        )
        wh.execute("INSERT INTO users VALUES (10, 1), (11, 3), (12, 9)")
        wh.execute(
            """
            CREATE DICTIONARY geo_dict (nid UInt32, region String)
            PRIMARY KEY nid
            SOURCE(CLICKHOUSE(TABLE 'geo'))
            LAYOUT(HASHED()) LIFETIME(MIN 0 MAX 300)
            """
        )
        got = {
            r["uid"]: r["reg"]
            for r in wh.execute(
                "SELECT uid, dictGetOrDefault('geo_dict', 'region', nid, "
                "'??') AS reg FROM users"
            ).collect()
        }
        assert got == {10: "EU", 11: "APAC", 12: "??"}
        # dictionary re-reads the source: inserts are visible at once
        wh.execute("INSERT INTO geo VALUES (9, 'LATAM')")
        got = {
            r["uid"]: r["reg"]
            for r in wh.execute(
                "SELECT uid, dictGet('geo_dict', 'region', nid) AS reg "
                "FROM users WHERE uid = 12"
            ).collect()
        }
        assert got == {12: "LATAM"}

    def test_unsupported_source_loud(self, wh):
        wh.execute("CREATE TABLE s (k Int32, v Int32) ENGINE = Memory")
        with pytest.raises(ValueError, match="ch_sql.dictionary"):
            wh.execute(
                "CREATE DICTIONARY d (k Int32, v Int32) PRIMARY KEY k "
                "SOURCE(MYSQL(HOST 'h' TABLE 't'))"
            )


class TestIntoOutfile:
    def test_select_into_outfile(self, wh, tmp_path, spark):
        wh.execute(
            "CREATE TABLE t (x Int32, s String) ENGINE = MergeTree "
            "ORDER BY x"
        )
        wh.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
        out = str(tmp_path / "out.parquet")
        [r] = wh.execute(
            f"SELECT x, s FROM t WHERE x > 1 "
            f"INTO OUTFILE '{out}' FORMAT Parquet"
        ).collect()
        assert r["rows_written"] == 2
        assert {
            (row["x"], row["s"])
            for row in spark.read.parquet(out).collect()
        } == {(2, "b"), (3, "c")}
        # bare translate() rejects with guidance
        from clickhouse_modules_spark.functions.ch_sql import translate

        with pytest.raises(ValueError, match="client-side write"):
            translate("SELECT x FROM t INTO OUTFILE '/tmp/x.csv'")


class TestSummingFinalQuerySide:
    def test_final_collapses_on_read(self, wh):
        wh.execute(
            "CREATE TABLE s (day Date, region String, clicks UInt64, "
            "note String) ENGINE = SummingMergeTree(clicks) "
            "ORDER BY (day, region)"
        )
        wh.execute(
            "INSERT INTO s VALUES (toDate('2024-01-01'), 'EU', 5, 'a')"
        )
        wh.execute(
            "INSERT INTO s VALUES (toDate('2024-01-01'), 'EU', 7, 'b'), "
            "(toDate('2024-01-01'), 'NA', 2, 'c')"
        )
        # without FINAL: raw parts visible (3 rows)
        assert wh.execute("SELECT count() AS n FROM s").collect()[0][
            "n"
        ] == 3
        rows = {
            (str(r["day"]), r["region"]): (r["clicks"], r["note"])
            for r in wh.execute("SELECT * FROM s FINAL").collect()
        }
        assert rows == {
            ("2024-01-01", "EU"): (12, "b"),
            ("2024-01-01", "NA"): (2, "c"),
        }
        # SELECT * column order preserved through the FINAL rewrite
        assert wh.execute("SELECT * FROM s FINAL").columns == [
            "day", "region", "clicks", "note"
        ]

    def test_run_script(self, wh):
        out = wh.run_script(
            """
            CREATE TABLE t (x Int32) ENGINE = MergeTree ORDER BY x;
            INSERT INTO t VALUES (1), (2);
            INSERT INTO t VALUES (3);
            SELECT count() AS n, max(x) AS mx FROM t;
            """
        )
        [r] = out.collect()
        assert (r["n"], r["mx"]) == (3, 3)


class TestMutationModelProperty:
    """Model-based check: a random CREATE/INSERT/DELETE/UPDATE/OPTIMIZE
    sequence replayed against a plain Python list-of-rows model must
    agree with the warehouse after every step."""

    def test_random_op_sequences(self, spark, tmp_path):
        import random

        from clickhouse_modules_spark.ddl import ChWarehouse

        rng = random.Random(20260814)
        for trial in range(3):
            wh = ChWarehouse(spark, str(tmp_path / f"w{trial}"))
            wh.execute(
                "CREATE TABLE m (k Int64, v Int64) ENGINE = MergeTree "
                "ORDER BY k"
            )
            model: list[tuple[int, int]] = []
            next_k = 0
            for _step in range(6):
                op = rng.choice(["insert", "insert", "delete", "update",
                                 "optimize"])
                if op == "insert":
                    rows = [
                        (next_k + i, rng.randrange(100))
                        for i in range(rng.randrange(1, 4))
                    ]
                    next_k += len(rows)
                    model.extend(rows)
                    vals = ", ".join(f"({k}, {v})" for k, v in rows)
                    wh.execute(f"INSERT INTO m VALUES {vals}")
                elif op == "delete":
                    thr = rng.randrange(100)
                    model = [(k, v) for k, v in model if not v < thr]
                    wh.execute(f"ALTER TABLE m DELETE WHERE v < {thr}")
                elif op == "update":
                    thr = rng.randrange(100)
                    model = [
                        (k, v + 1000 if v >= thr else v) for k, v in model
                    ]
                    wh.execute(
                        f"ALTER TABLE m UPDATE v = v + 1000 "
                        f"WHERE v >= {thr}"
                    )
                else:
                    wh.execute("OPTIMIZE TABLE m")
                got = sorted(
                    (r["k"], r["v"])
                    for r in wh.execute("SELECT k, v FROM m").collect()
                )
                assert got == sorted(model), f"step {_step} op {op}"


class TestReviewFindings:
    """Regression pins for the round-9 code-review findings."""

    def test_final_does_not_cross_partitions(self, wh):
        wh.execute(
            "CREATE TABLE p (k Int32, v Int32, ts DateTime, ver UInt32) "
            "ENGINE = ReplacingMergeTree(ver) "
            "PARTITION BY toYYYYMM(ts) ORDER BY k"
        )
        wh.execute(
            "INSERT INTO p VALUES "
            "(1, 10, toDateTime('2024-01-01 00:00:00'), 1), "
            "(1, 20, toDateTime('2024-02-01 00:00:00'), 2)"
        )
        # same key, two partitions → CH keeps BOTH under FINAL
        assert wh.execute(
            "SELECT count() AS n FROM p FINAL"
        ).collect()[0]["n"] == 2

    def test_versionless_replacing_final_on_read(self, wh):
        wh.execute(
            "CREATE TABLE p (k Int32, v Int32) "
            "ENGINE = ReplacingMergeTree ORDER BY k"
        )
        wh.execute("INSERT INTO p VALUES (1, 100)")
        wh.execute("INSERT INTO p VALUES (1, 200)")
        rows = wh.execute("SELECT * FROM p FINAL").collect()
        assert [(r["k"], r["v"]) for r in rows] == [(1, 200)]
        assert wh.execute("SELECT * FROM p FINAL").columns == ["k", "v"]

    def test_view_over_view_resolves_in_order(self, wh):
        wh.execute("CREATE TABLE t (x Int32) ENGINE = Memory")
        wh.execute("INSERT INTO t VALUES (1), (2), (3)")
        # names chosen so sorted() order alone would NOT save us if
        # dependency ordering were broken (zz_base sorts after aa_top)
        wh.execute("CREATE VIEW zz_base AS SELECT x FROM t WHERE x > 1")
        wh.execute(
            "CREATE VIEW aa_top AS SELECT count() AS n FROM zz_base"
        )
        assert wh.execute("SELECT n FROM aa_top").collect()[0]["n"] == 2

    def test_mv_cycle_rejected(self, wh):
        wh.execute("CREATE TABLE t (x Int32) ENGINE = Memory")
        with pytest.raises(ValueError, match="recurse"):
            wh.execute(
                "CREATE MATERIALIZED VIEW m TO t AS SELECT x FROM t"
            )

    def test_mv_table_names_inside_string_literals_are_no_reads(self, wh):
        # the target and the source are table positions of the SELECT's
        # tokens: a literal that spells "from tgt" reads nothing
        wh.execute("CREATE TABLE src (k Int64) ENGINE = Memory")
        wh.execute("CREATE TABLE tgt (k Int64, note String) ENGINE = Memory")
        wh.execute(
            "CREATE MATERIALIZED VIEW mv1 TO tgt AS "
            "SELECT k, 'copied from tgt' AS note FROM src"
        )
        wh.execute("INSERT INTO src VALUES (7)")
        got = [tuple(r) for r in wh.execute("SELECT k, note FROM tgt").collect()]
        assert got == [(7, "copied from tgt")]

    def test_alias_name_inside_string_literal_untouched(self, wh):
        wh.execute(
            "CREATE TABLE t (id Int32, tag String, "
            "vip String ALIAS upper(tag)) ENGINE = MergeTree ORDER BY id"
        )
        wh.execute("INSERT INTO t (id, tag) VALUES (1, 'vip'), (2, 'x')")
        # the literal 'vip' must NOT be rewritten to the alias expr
        wh.execute("ALTER TABLE t DELETE WHERE tag = 'vip'")
        assert [
            r["id"] for r in wh.execute("SELECT id FROM t").collect()
        ] == [2]

    def test_rename_key_column_rejected(self, wh):
        wh.execute(
            "CREATE TABLE t (id Int32, ts DateTime) ENGINE = MergeTree "
            "PARTITION BY toYYYYMM(ts) ORDER BY id"
        )
        for col in ("id", "ts"):
            with pytest.raises(ValueError, match="key column"):
                wh.execute(f"ALTER TABLE t RENAME COLUMN {col} TO z")

    def test_full_rewrite_clears_lazy_watermark(self, wh):
        wh.execute(
            "CREATE TABLE t (id Int32) ENGINE = MergeTree ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1)")
        wh.execute("ALTER TABLE t ADD COLUMN s Float64 DEFAULT 1.5")
        assert wh.meta("t").column("s").added_seq is not None
        wh.execute("OPTIMIZE TABLE t")  # full rewrite materializes
        assert wh.meta("t").column("s").added_seq is None
        assert wh.execute("SELECT s FROM t").collect()[0]["s"] == 1.5

    def test_unsafe_partition_value_takes_full_rewrite(self, wh):
        # ':' is percent-escaped in partition dir names — the pruned
        # swap would target the wrong path; must fall back to a full
        # rewrite and still be CORRECT
        wh.execute(
            "CREATE TABLE t (id Int32, tag String) ENGINE = MergeTree "
            "PARTITION BY tag ORDER BY id"
        )
        wh.execute(
            "INSERT INTO t VALUES (1, 'a:b'), (2, 'a:b'), (3, 'plain')"
        )
        wh.execute("ALTER TABLE t DELETE WHERE id = 1")
        assert sorted(
            r["id"] for r in wh.execute("SELECT id FROM t").collect()
        ) == [2, 3]


def test_materialize_column(wh):
    wh.execute("CREATE TABLE t (id Int32) ENGINE = MergeTree ORDER BY id")
    wh.execute("INSERT INTO t VALUES (1), (2)")
    wh.execute("ALTER TABLE t ADD COLUMN s Float64 DEFAULT 2.5")
    wh.execute("ALTER TABLE t MATERIALIZE COLUMN s")
    assert wh.meta("t").column("s").added_seq is None
    assert {r["s"] for r in wh.execute("SELECT s FROM t").collect()} == {2.5}


def test_optimize_partition_scoped(wh):
    import os

    wh.execute(
        "CREATE TABLE t (k Int32, v Int32, ts DateTime, ver UInt32) "
        "ENGINE = ReplacingMergeTree(ver) "
        "PARTITION BY toYYYYMM(ts) ORDER BY k"
    )
    wh.execute(
        "INSERT INTO t VALUES (1, 10, toDateTime('2024-01-01 00:00:00'), 1)"
    )
    wh.execute(
        "INSERT INTO t VALUES "
        "(1, 11, toDateTime('2024-01-02 00:00:00'), 2), "
        "(2, 20, toDateTime('2024-02-01 00:00:00'), 1), "
        "(2, 21, toDateTime('2024-02-02 00:00:00'), 2)"
    )
    feb = f"{wh.root}/t/data/_p0=202402"
    mtime = max(
        os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)
    )
    wh.execute("OPTIMIZE TABLE t PARTITION 202401 FINAL")
    # January collapsed to the latest version; February untouched
    got = sorted(
        (r["k"], r["v"])
        for r in wh.execute("SELECT k, v FROM t").collect()
    )
    assert got == [(1, 11), (2, 20), (2, 21)]
    assert mtime == max(
        os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)
    )


def test_system_parts(wh):
    wh.execute(
        "CREATE TABLE t (id Int32, ts DateTime) ENGINE = MergeTree "
        "PARTITION BY toYYYYMM(ts) ORDER BY id"
    )
    wh.execute(
        "INSERT INTO t VALUES "
        "(1, toDateTime('2024-01-01 00:00:00')), "
        "(2, toDateTime('2024-01-02 00:00:00')), "
        "(3, toDateTime('2024-02-01 00:00:00'))"
    )
    got = {
        r["partition"]: (r["rows"], r["file_count"] > 0,
                         r["bytes_on_disk"] > 0)
        for r in wh.execute(
            "SELECT partition, rows, file_count, bytes_on_disk "
            "FROM system.parts WHERE table = 't'"
        ).collect()
    }
    assert got == {"_p0=202401": (2, True, True),
                   "_p0=202402": (1, True, True)}


def test_system_tables_and_columns(wh):
    wh.execute(
        "CREATE TABLE t (id UInt64, d Date DEFAULT today()) "
        "ENGINE = ReplacingMergeTree(id) ORDER BY id"
    )
    [r] = wh.execute(
        "SELECT engine, sorting_key FROM system.tables WHERE name = 't'"
    ).collect()
    assert (r["engine"], r["sorting_key"]) == ("ReplacingMergeTree", "id")
    cols = {
        r["name"]: (r["type"], r["default_kind"])
        for r in wh.execute(
            "SELECT * FROM system.columns WHERE table = 't'"
        ).collect()
    }
    assert cols["id"] == ("UInt64", "")
    assert cols["d"][0] == "Date" and cols["d"][1] == "DEFAULT"


def test_backup_restore(wh, tmp_path):
    wh.execute("CREATE TABLE t (x Int32) ENGINE = MergeTree ORDER BY x")
    wh.execute("INSERT INTO t VALUES (1), (2)")
    bpath = str(tmp_path / "bk")
    wh.execute(f"BACKUP TABLE t TO File('{bpath}')")
    wh.execute("ALTER TABLE t DELETE WHERE x = 1")
    wh.execute("DROP TABLE t")
    wh.execute(f"RESTORE TABLE t FROM File('{bpath}')")
    assert sorted(
        r["x"] for r in wh.execute("SELECT x FROM t").collect()
    ) == [1, 2]
    with pytest.raises(ValueError, match="already exists"):
        wh.execute(f"RESTORE TABLE t FROM File('{bpath}')")


def test_translator_trivial_helpers(wh):
    wh.execute("CREATE TABLE t (x Int32) ENGINE = Memory")
    wh.execute("INSERT INTO t VALUES (5)")
    [r] = wh.execute(
        "SELECT materialize(x) AS m, identity(x) AS i, ignore(x) AS g "
        "FROM t"
    ).collect()
    assert (r["m"], r["i"], r["g"]) == (5, 5, 0)


class TestReviewRound2Ddl:
    def test_system_name_in_string_literal_untouched(self, wh):
        wh.execute("CREATE TABLE t (x Int32) ENGINE = Memory")
        wh.execute("INSERT INTO t VALUES (1)")
        [r] = wh.execute(
            "SELECT 'docs: system.parts' AS lbl, count() AS n "
            "FROM system.parts"
        ).collect()
        assert r["lbl"] == "docs: system.parts"

    def test_optimize_unsafe_partition_value_rejected(self, wh):
        wh.execute(
            "CREATE TABLE t (id Int32, tag String) ENGINE = MergeTree "
            "PARTITION BY tag ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1, 'has space')")
        with pytest.raises(ValueError, match="hive"):
            wh.execute("OPTIMIZE TABLE t PARTITION 'has space' FINAL")

    def test_restore_from_junk_dir_cleans_up(self, wh, tmp_path):
        import os

        junk = tmp_path / "junk"
        junk.mkdir()
        (junk / "somefile").write_text("not a backup")
        with pytest.raises(ValueError, match="not a table backup"):
            wh.execute(f"RESTORE TABLE t2 FROM File('{junk}')")
        assert not os.path.exists(f"{wh.root}/t2")
        # retry path stays clean: a proper CREATE works afterwards
        wh.execute("CREATE TABLE t2 (x Int32) ENGINE = Memory")
        assert wh.exists("t2")


def test_mutation_in_partition_scope(wh):
    import os

    wh.execute(
        "CREATE TABLE t (id Int32, v Int32, ts DateTime) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY id"
    )
    wh.execute(
        "INSERT INTO t VALUES "
        "(1, 5, toDateTime('2024-01-01 00:00:00')), "
        "(2, 5, toDateTime('2024-02-01 00:00:00'))"
    )
    feb = f"{wh.root}/t/data/_p0=202402"
    mtime = max(
        os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)
    )
    # v = 5 matches rows in BOTH partitions; the scope restricts to Jan
    wh.execute(
        "ALTER TABLE t UPDATE v = 9 IN PARTITION 202401 WHERE v = 5"
    )
    got = {r["id"]: r["v"] for r in
           wh.execute("SELECT id, v FROM t").collect()}
    assert got == {1: 9, 2: 5}
    assert mtime == max(
        os.path.getmtime(os.path.join(feb, f)) for f in os.listdir(feb)
    )
    wh.execute("ALTER TABLE t DELETE IN PARTITION 202402 WHERE v = 5")
    assert [r["id"] for r in wh.execute("SELECT id FROM t").collect()] \
        == [1]


class TestReviewRound3Ddl:
    def test_null_partition_rows_survive_scoped_delete(self, wh):
        # hive-UNSAFE partition value forces the full-rewrite fallback;
        # the NULL-partition row must NOT be deleted by ~match on a
        # NULL scope conjunct
        wh.execute(
            "CREATE TABLE t (id Int32, p Nullable(String), v Int32) "
            "ENGINE = MergeTree PARTITION BY p ORDER BY id"
        )
        wh.execute(
            "INSERT INTO t VALUES (1, 'a b', 5), (2, NULL, 5)"
        )
        wh.execute("ALTER TABLE t DELETE IN PARTITION 'a b' WHERE v = 5")
        assert [r["id"] for r in wh.execute("SELECT id FROM t").collect()] \
            == [2]

    def test_where_inside_assignment_string(self, wh):
        wh.execute(
            "CREATE TABLE t (id Int32, s String) ENGINE = MergeTree "
            "ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
        wh.execute(
            "ALTER TABLE t UPDATE s = 'has WHERE inside' WHERE id = 1"
        )
        got = {r["id"]: r["s"] for r in
               wh.execute("SELECT id, s FROM t").collect()}
        assert got == {1: "has WHERE inside", 2: "y"}

    def test_quoted_partition_id_with_space_in_update(self, wh):
        wh.execute(
            "CREATE TABLE t (id Int32, p String, v Int32) "
            "ENGINE = MergeTree PARTITION BY p ORDER BY id"
        )
        wh.execute("INSERT INTO t VALUES (1, 'a b', 5), (2, 'c', 5)")
        wh.execute(
            "ALTER TABLE t UPDATE v = 9 IN PARTITION 'a b' WHERE v = 5"
        )
        got = {r["id"]: r["v"] for r in
               wh.execute("SELECT id, v FROM t").collect()}
        assert got == {1: 9, 2: 5}


def _collapse_model(rows, keys, sign_i, versioned_i=None):
    """Independent Python model of the fully-merged CollapsingMergeTree
    fixpoint (reference semantics: ClickHouse docs, CollapsingMergeTree
    'Algorithm' — per sorting-key group, matched state/cancel pairs
    vanish; the engine keeps the last state row when states outnumber
    cancels, the first cancel row when cancels outnumber states).

    ``rows`` arrive in insert order; group = key cols (+ version for
    the Versioned form). Returns the surviving rows as a set of tuples.
    """
    groups: dict[tuple, list[tuple]] = {}
    for r in rows:
        g = tuple(r[i] for i in keys)
        if versioned_i is not None:
            g += (r[versioned_i],)
        groups.setdefault(g, []).append(r)
    out = set()
    for g, rs in groups.items():
        net = sum(r[sign_i] for r in rs)
        if net == 0:
            continue
        if net > 0:
            out.add([r for r in rs if r[sign_i] == 1][-1])
        else:
            out.add([r for r in rs if r[sign_i] == -1][0])
    return out


class TestCollapsingEngines:
    def test_collapsing_final_vs_model(self, wh):
        wh.execute(
            "CREATE TABLE vis (uid UInt64, page String, views UInt64, "
            "sign Int8) ENGINE = CollapsingMergeTree(sign) "
            "ORDER BY (uid, page)"
        )
        batches = [
            [(1, "a", 5, 1), (2, "b", 3, 1), (3, "c", 1, 1)],
            [(1, "a", 5, -1), (1, "a", 9, 1)],   # update uid=1
            [(2, "b", 3, -1)],                   # delete uid=2
            [(3, "c", 1, -1), (3, "c", 2, 1), (3, "c", 2, -1),
             (3, "c", 8, 1)],                    # double update uid=3
        ]
        rows = []
        for b in batches:
            vals = ", ".join(
                f"({u}, '{p}', {v}, {s})" for u, p, v, s in b
            )
            wh.execute(f"INSERT INTO vis VALUES {vals}")
            rows += b
        expect = _collapse_model(rows, keys=(0, 1), sign_i=3)
        got = {
            (r["uid"], r["page"], r["views"], r["sign"])
            for r in wh.execute("SELECT * FROM vis FINAL").collect()
        }
        assert got == expect == {(1, "a", 9, 1), (3, "c", 8, 1)}
        # raw read shows all parts; OPTIMIZE FINAL makes it physical
        assert wh.execute(
            "SELECT count() AS n FROM vis").collect()[0]["n"] == len(rows)
        wh.execute("OPTIMIZE TABLE vis FINAL")
        got_opt = {
            (r["uid"], r["page"], r["views"], r["sign"])
            for r in wh.execute("SELECT * FROM vis").collect()
        }
        assert got_opt == expect
        # column order through the FINAL rewrite
        assert wh.execute("SELECT * FROM vis FINAL").columns == [
            "uid", "page", "views", "sign"
        ]

    def test_collapsing_unmatched_cancel_survives(self, wh):
        # more cancels than states: the FIRST cancel row survives (CH
        # keeps it so later merges can still pair it)
        wh.execute(
            "CREATE TABLE c (k Int32, v Int32, sign Int8) "
            "ENGINE = CollapsingMergeTree(sign) ORDER BY k"
        )
        wh.execute("INSERT INTO c VALUES (1, 10, -1)")
        wh.execute("INSERT INTO c VALUES (1, 20, -1)")
        [r] = wh.execute("SELECT * FROM c FINAL").collect()
        assert (r["k"], r["v"], r["sign"]) == (1, 10, -1)

    def test_collapsing_is_partition_bounded(self, wh):
        # CH merges never cross partitions: a cancel in month 2 does
        # NOT collapse a state in month 1
        wh.execute(
            "CREATE TABLE pc (m String, k Int32, v Int32, sign Int8) "
            "ENGINE = CollapsingMergeTree(sign) PARTITION BY m "
            "ORDER BY k"
        )
        wh.execute("INSERT INTO pc VALUES ('jan', 1, 10, 1)")
        wh.execute("INSERT INTO pc VALUES ('feb', 1, 10, -1)")
        got = {
            (r["m"], r["sign"])
            for r in wh.execute("SELECT * FROM pc FINAL").collect()
        }
        assert got == {("jan", 1), ("feb", -1)}

    def test_versioned_collapsing_vs_model(self, wh):
        wh.execute(
            "CREATE TABLE vc (uid UInt64, val UInt64, sign Int8, "
            "ver UInt64) ENGINE = VersionedCollapsingMergeTree(sign, ver) "
            "ORDER BY uid"
        )
        batches = [
            [(1, 10, 1, 1), (1, 20, 1, 2), (2, 5, 1, 1)],
            # cancel must match the VERSION: this removes only ver=1
            [(1, 10, -1, 1)],
            # a cancel with a version never stated → survives as cancel
            [(2, 7, -1, 9)],
        ]
        rows = []
        for b in batches:
            vals = ", ".join(f"({u}, {v}, {s}, {ve})" for u, v, s, ve in b)
            wh.execute(f"INSERT INTO vc VALUES {vals}")
            rows += b
        expect = _collapse_model(rows, keys=(0,), sign_i=2, versioned_i=3)
        got = {
            (r["uid"], r["val"], r["sign"], r["ver"])
            for r in wh.execute("SELECT * FROM vc FINAL").collect()
        }
        assert got == expect == {
            (1, 20, 1, 2), (2, 5, 1, 1), (2, 7, -1, 9)
        }
        wh.execute("OPTIMIZE TABLE vc FINAL")
        got_opt = {
            (r["uid"], r["val"], r["sign"], r["ver"])
            for r in wh.execute("SELECT * FROM vc").collect()
        }
        assert got_opt == expect

    def test_collapsing_sum_sign_pattern_matches_final(self, wh):
        # the canonical CH query pattern WITHOUT FINAL —
        # sum(col * sign) … HAVING sum(sign) > 0 — agrees with FINAL
        # for updated-state groups
        wh.execute(
            "CREATE TABLE s (k Int32, v Int32, sign Int8) "
            "ENGINE = CollapsingMergeTree(sign) ORDER BY k"
        )
        wh.execute("INSERT INTO s VALUES (1, 10, 1), (2, 4, 1)")
        wh.execute("INSERT INTO s VALUES (1, 10, -1), (1, 25, 1)")
        agg = {
            r["k"]: r["v"]
            for r in wh.execute(
                "SELECT k, sum(v * sign) AS v FROM s GROUP BY k "
                "HAVING sum(sign) > 0"
            ).collect()
        }
        fin = {
            r["k"]: r["v"]
            for r in wh.execute("SELECT k, v FROM s FINAL").collect()
        }
        assert agg == fin == {1: 25, 2: 4}

    def test_engine_arg_validation(self, wh):
        with pytest.raises(ValueError, match="exactly one argument"):
            wh.execute(
                "CREATE TABLE b (k Int32, s Int8) "
                "ENGINE = CollapsingMergeTree ORDER BY k"
            )
        with pytest.raises(ValueError, match="exactly two"):
            wh.execute(
                "CREATE TABLE b (k Int32, s Int8, v Int32) "
                "ENGINE = VersionedCollapsingMergeTree(s) ORDER BY k"
            )
        with pytest.raises(ValueError, match="sign column"):
            wh.execute(
                "CREATE TABLE b (k Int32, s Int8) "
                "ENGINE = CollapsingMergeTree(nope) ORDER BY k"
            )
        with pytest.raises(ValueError, match="integer type"):
            wh.execute(
                "CREATE TABLE b (k Int32, s Float64) "
                "ENGINE = CollapsingMergeTree(s) ORDER BY k"
            )
        with pytest.raises(ValueError, match="requires ORDER BY"):
            wh.execute(
                "CREATE TABLE b (k Int32, s Int8) "
                "ENGINE = CollapsingMergeTree(s)"
            )
        with pytest.raises(ValueError, match="requires ORDER BY"):
            wh.execute(
                "CREATE TABLE b (k Int32, v Int64) "
                "ENGINE = SummingMergeTree"
            )

    def test_show_create_roundtrip(self, wh, spark, tmp_path):
        wh.execute(
            "CREATE TABLE rt (k Int32, v Int32, sign Int8, ver UInt64) "
            "ENGINE = VersionedCollapsingMergeTree(sign, ver) "
            "PARTITION BY (k) ORDER BY (k)"
        )
        ddl_text = wh.show_create("rt")
        assert "VersionedCollapsingMergeTree(sign, ver)" in ddl_text
        wh2 = ChWarehouse(spark, str(tmp_path / "wh2"))
        wh2.execute(ddl_text)
        m = wh2.meta("rt")
        assert (m.engine, m.sign_col, m.version_col) == (
            "VersionedCollapsingMergeTree", "sign", "ver"
        )


class TestAggregatingEngine:
    def test_saf_collapse_final_and_optimize(self, wh):
        wh.execute(
            "CREATE TABLE daily (day Date, uid UInt64, "
            "hits SimpleAggregateFunction(sum, UInt64), "
            "first_seen SimpleAggregateFunction(min, DateTime), "
            "last_seen SimpleAggregateFunction(max, DateTime), "
            "tag SimpleAggregateFunction(anyLast, String), "
            "note String) "
            "ENGINE = AggregatingMergeTree ORDER BY (day, uid)"
        )
        wh.execute(
            "INSERT INTO daily VALUES ('2024-01-01', 1, 3, "
            "'2024-01-01 01:00:00', '2024-01-01 02:00:00', 'x', 'n1')"
        )
        wh.execute(
            "INSERT INTO daily VALUES ('2024-01-01', 1, 4, "
            "'2024-01-01 00:30:00', '2024-01-01 05:00:00', 'y', 'n2'), "
            "('2024-01-01', 2, 7, "
            "'2024-01-01 03:00:00', '2024-01-01 03:30:00', 'z', 'n3')"
        )
        expect = {
            (1, 7, "2024-01-01 00:30:00", "2024-01-01 05:00:00", "y"),
            (2, 7, "2024-01-01 03:00:00", "2024-01-01 03:30:00", "z"),
        }

        def snap(sql):
            return {
                (r["uid"], r["hits"], str(r["first_seen"]),
                 str(r["last_seen"]), r["tag"])
                for r in wh.execute(sql).collect()
            }

        assert snap("SELECT * FROM daily FINAL") == expect
        wh.execute("OPTIMIZE TABLE daily FINAL")
        # physical collapse agrees with the query-side FINAL view
        assert snap("SELECT * FROM daily") == expect
        assert snap("SELECT * FROM daily FINAL") == expect

    def test_saf_vs_duckdb_replay(self, wh):
        import random

        rng = random.Random(77)
        wh.execute(
            "CREATE TABLE m (k Int32, "
            "s SimpleAggregateFunction(sum, Int64), "
            "lo SimpleAggregateFunction(min, Int64), "
            "hi SimpleAggregateFunction(max, Int64)) "
            "ENGINE = AggregatingMergeTree ORDER BY k"
        )
        rows = [
            (rng.randrange(6), rng.randrange(100),
             rng.randrange(100), rng.randrange(100))
            for _ in range(60)
        ]
        for i in range(0, 60, 20):
            vals = ", ".join(str(t) for t in rows[i:i + 20])
            wh.execute(f"INSERT INTO m VALUES {vals}")
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE m (k INT, s BIGINT, lo BIGINT, hi BIGINT)"
        )
        con.executemany("INSERT INTO m VALUES (?, ?, ?, ?)", rows)
        oracle = {
            tuple(r) for r in con.execute(
                "SELECT k, sum(s), min(lo), max(hi) FROM m GROUP BY k"
            ).fetchall()
        }
        got = {
            (r["k"], r["s"], r["lo"], r["hi"])
            for r in wh.execute("SELECT * FROM m FINAL").collect()
        }
        assert got == oracle
        wh.execute("OPTIMIZE TABLE m FINAL")
        got2 = {
            (r["k"], r["s"], r["lo"], r["hi"])
            for r in wh.execute("SELECT * FROM m").collect()
        }
        assert got2 == oracle

    def test_saf_show_create_roundtrip_and_reject(self, wh, spark,
                                                  tmp_path):
        wh.execute(
            "CREATE TABLE rt (k Int32, "
            "s SimpleAggregateFunction(sum, UInt64)) "
            "ENGINE = AggregatingMergeTree ORDER BY k"
        )
        txt = wh.show_create("rt")
        assert "SimpleAggregateFunction(sum, UInt64)" in txt
        wh2 = ChWarehouse(spark, str(tmp_path / "wh2"))
        wh2.execute(txt)
        assert wh2.meta("rt").column("s").agg_func == "sum"
        with pytest.raises(ValueError, match="supported merge functions"):
            wh.execute(
                "CREATE TABLE b (k Int32, "
                "s SimpleAggregateFunction(groupBitOr, UInt64)) "
                "ENGINE = AggregatingMergeTree ORDER BY k"
            )
        # round 12: uniq states are representable (HLL sketch bytes);
        # engine-internal bases still reject
        wh.execute(
            "CREATE TABLE b_ok (k Int32, "
            "s AggregateFunction(uniq, UInt64)) "
            "ENGINE = AggregatingMergeTree ORDER BY k"
        )
        assert wh.meta("b_ok").column("s").spark_type == "binary"
        assert wh.meta("b_ok").column("s").agg_func == "state:uniq"
        with pytest.raises(ValueError, match="engine-internal"):
            wh.execute(
                "CREATE TABLE b (k Int32, "
                "s AggregateFunction(quantileTDigest, Float64)) "
                "ENGINE = AggregatingMergeTree ORDER BY k"
            )


def test_final_registry_not_poisoned_across_warehouses(
    spark, tmp_path
):
    """A stale FINAL entry from another warehouse under the same table
    name used to hijack FINAL when the registries were process-global
    (found as a test-order dependency in round 10); each query now
    reads FINAL from its own query context."""
    wh1 = ChWarehouse(spark, str(tmp_path / "w1"))
    wh1.execute(
        "CREATE TABLE same (k Int32, v Int64) "
        "ENGINE = SummingMergeTree(v) ORDER BY k"
    )
    wh1.execute("INSERT INTO same VALUES (1, 10), (1, 5)")
    assert wh1.execute(
        "SELECT v FROM same FINAL").collect()[0]["v"] == 15
    wh2 = ChWarehouse(spark, str(tmp_path / "w2"))
    wh2.execute(
        "CREATE TABLE same (k Int32, v Int64, sign Int8) "
        "ENGINE = CollapsingMergeTree(sign) ORDER BY k"
    )
    wh2.execute("INSERT INTO same VALUES (1, 10, 1)")
    wh2.execute("INSERT INTO same VALUES (1, 10, -1)")
    # a stale Summing entry would return a summed row; collapsing
    # semantics say the pair cancels entirely
    assert wh2.execute("SELECT * FROM same FINAL").count() == 0


class TestInsertOrderDeterminism:
    """Same-key rows in ONE insert batch used to tie on the per-batch
    ``_ch_seq`` — the FINAL/OPTIMIZE survivor was partition-order luck
    (round-10 review finding). ``_ch_rid`` (within-batch row id stamped
    at insert, frozen once written to parquet) now totals the order:
    ClickHouse's "last row in the inserted block" is deterministic."""

    def test_collapsing_same_batch_last_state_wins(self, wh):
        wh.execute(
            "CREATE TABLE cb (k Int32, v Int32, sign Int8) "
            "ENGINE = CollapsingMergeTree(sign) ORDER BY k"
        )
        # canonical CDC micro-batch: two updates to one key, one INSERT
        wh.execute(
            "INSERT INTO cb VALUES (1, 5, 1), (1, 5, -1), (1, 9, 1)"
        )
        [r] = wh.execute("SELECT * FROM cb FINAL").collect()
        assert (r["k"], r["v"]) == (1, 9)
        wh.execute("OPTIMIZE TABLE cb FINAL")
        [r] = wh.execute("SELECT * FROM cb").collect()
        assert (r["k"], r["v"]) == (1, 9)

    def test_collapsing_same_batch_first_cancel_survives(self, wh):
        wh.execute(
            "CREATE TABLE cc (k Int32, v Int32, sign Int8) "
            "ENGINE = CollapsingMergeTree(sign) ORDER BY k"
        )
        wh.execute("INSERT INTO cc VALUES (1, 10, -1), (1, 20, -1)")
        [r] = wh.execute("SELECT * FROM cc FINAL").collect()
        assert (r["k"], r["v"], r["sign"]) == (1, 10, -1)

    def test_versionless_replacing_same_batch_last_wins(self, wh):
        wh.execute(
            "CREATE TABLE rb (k Int32, v String) "
            "ENGINE = ReplacingMergeTree ORDER BY k"
        )
        # last in batch is NOT the max — value order must not matter
        wh.execute("INSERT INTO rb VALUES (1, 'zfirst'), (1, 'alast')")
        [r] = wh.execute("SELECT * FROM rb FINAL").collect()
        assert r["v"] == "alast"
        wh.execute("OPTIMIZE TABLE rb FINAL")
        [r] = wh.execute("SELECT * FROM rb").collect()
        assert r["v"] == "alast"

    def test_final_on_empty_collapsing_table(self, wh):
        # registration used to be skipped when no parts existed, so
        # FINAL raised instead of returning an empty set
        wh.execute(
            "CREATE TABLE ec (k Int32, sign Int8) "
            "ENGINE = CollapsingMergeTree(sign) ORDER BY k"
        )
        assert wh.execute("SELECT * FROM ec FINAL").count() == 0

    def test_final_on_empty_versionless_replacing(self, wh):
        wh.execute(
            "CREATE TABLE er (k Int32, v Int32) "
            "ENGINE = ReplacingMergeTree ORDER BY k"
        )
        assert wh.execute("SELECT * FROM er FINAL").count() == 0

    def test_summing_optimize_agrees_with_query_final(self, wh):
        # non-sum column where LATEST != MAX: OPTIMIZE FINAL and
        # SELECT ... FINAL must return the SAME value (max — both
        # read ChWarehouse._merge)
        wh.execute(
            "CREATE TABLE sa (k Int32, n Int64, note String) "
            "ENGINE = SummingMergeTree(n) ORDER BY k"
        )
        wh.execute("INSERT INTO sa VALUES (1, 5, 'z')")
        wh.execute("INSERT INTO sa VALUES (1, 7, 'a')")
        [q] = wh.execute("SELECT * FROM sa FINAL").collect()
        wh.execute("OPTIMIZE TABLE sa FINAL")
        [o] = wh.execute("SELECT * FROM sa").collect()
        assert (q["n"], q["note"]) == (o["n"], o["note"]) == (12, "z")


def test_type_system_probe(wh):
    """Round-10 type-surface probe: every representable CH column type
    creates; the two impossible ones reject loudly with the reason."""
    import pytest

    for name, ddl in [
        ("t_d32", "CREATE TABLE t_d32 (d Date32, x Int64) "
                  "ENGINE = MergeTree ORDER BY x"),
        ("t_dec256", "CREATE TABLE t_dec256 (v Decimal256(4), x Int64)"
                     " ENGINE = MergeTree ORDER BY x"),
        ("t_uuid", "CREATE TABLE t_uuid (u UUID, x Int64) "
                   "ENGINE = MergeTree ORDER BY x"),
        ("t_ip", "CREATE TABLE t_ip (a IPv4, b IPv6, x Int64) "
                 "ENGINE = MergeTree ORDER BY x"),
        ("t_json", "CREATE TABLE t_json (j JSON, x Int64) "
                   "ENGINE = MergeTree ORDER BY x"),
    ]:
        wh.execute(ddl)
        assert wh.exists(name)
    # Decimal256 storage = the translator's documented decimal(38) cap
    wh.execute("INSERT INTO t_dec256 VALUES (1.2345, 1)")
    [r] = wh.query("SELECT v FROM t_dec256").collect()
    assert float(r["v"]) == 1.2345
    with pytest.raises(ValueError, match="decimal\\(38\\)"):
        wh.execute("CREATE TABLE t_i256 (v Int256) "
                   "ENGINE = MergeTree ORDER BY v")
    # round 12: sum states are representable — widened storage type
    wh.execute("CREATE TABLE t_af (s AggregateFunction(sum, Int32),"
               " x Int64) ENGINE = AggregatingMergeTree ORDER BY x")
    assert wh.meta("t_af").column("s").spark_type == "bigint"


def test_decimal256_big_scale_rejects(wh):
    import pytest

    with pytest.raises(ValueError, match="decimal\\(38\\) cap"):
        wh.execute(
            "CREATE TABLE t_d256big (v Decimal256(40)) "
            "ENGINE = MergeTree ORDER BY v"
        )


class TestAggregateFunctionStates:
    """Round-12 AggregateFunction(base, T) state columns: the CH
    production rollup-MV pattern — INSERT … xState() GROUP BY k into
    AggregatingMergeTree, read with xMerge(col) GROUP BY k; FINAL and
    OPTIMIZE FINAL merge states per key WITHOUT finalizing. DuckDB
    replays the same logical aggregation over the raw rows as the
    oracle (states are an implementation detail — merged results must
    equal direct aggregation of the union)."""

    DDL = (
        "CREATE TABLE rollup (d Date, k Int64, "
        "hits AggregateFunction(count), "
        "rev AggregateFunction(sum, Int64), "
        "avg_v AggregateFunction(avg, Int64), "
        "lo AggregateFunction(min, Int64), "
        "hi AggregateFunction(max, Int64), "
        "users AggregateFunction(uniqExact, String)) "
        "ENGINE = AggregatingMergeTree ORDER BY (d, k)"
    )
    INSERT = (
        "INSERT INTO rollup SELECT toDate('2024-01-01') AS d, k, "
        "countState() AS hits, sumState(v) AS rev, "
        "avgState(v) AS avg_v, minState(v) AS lo, maxState(v) AS hi, "
        "uniqExactState(u) AS users FROM {src} GROUP BY k"
    )
    MERGE = (
        "SELECT k, countMerge(hits) AS hits, sumMerge(rev) AS rev, "
        "avgMerge(avg_v) AS av, minMerge(lo) AS lo, "
        "maxMerge(hi) AS hi, uniqExactMerge(users) AS u "
        "FROM rollup GROUP BY k ORDER BY k"
    )

    def _sources(self, spark):
        rows = [
            (1, 10, "a"), (1, 20, "b"), (2, 5, "a"), (1, None, "c"),
        ], [
            (1, 30, "a"), (2, 7, "c"), (3, 1, "z"),
        ]
        for i, batch in enumerate(rows):
            spark.createDataFrame(
                batch, "k bigint, v bigint, u string"
            ).createOrReplaceTempView(f"af_src{i}")
        return [r for batch in rows for r in batch]

    def test_rollup_mv_pattern_vs_duckdb(self, wh, spark):
        allrows = self._sources(spark)
        wh.execute(self.DDL)
        wh.execute(self.INSERT.format(src="af_src0"))
        wh.execute(self.INSERT.format(src="af_src1"))
        got = [tuple(r) for r in wh.execute(self.MERGE).collect()]
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE raw (k BIGINT, v BIGINT, u VARCHAR)")
        con.executemany("INSERT INTO raw VALUES (?,?,?)", allrows)
        want = con.execute(
            "SELECT k, count(*), sum(v), avg(v), min(v), max(v), "
            "count(DISTINCT u) FROM raw GROUP BY k ORDER BY k"
        ).fetchall()
        assert got == [tuple(w) for w in want]

    def test_final_and_optimize_merge_states(self, wh, spark):
        self._sources(spark)
        wh.execute(self.DDL)
        wh.execute(self.INSERT.format(src="af_src0"))
        wh.execute(self.INSERT.format(src="af_src1"))
        # 6 state rows (3+3 keys per batch — key 3 only in batch 1)
        assert wh.execute(
            "SELECT count() AS n FROM rollup").collect()[0]["n"] == 5
        # FINAL collapses to one state row per (d, k), still unmerged
        fin = wh.execute(
            "SELECT k, countMerge(hits) AS h FROM rollup FINAL "
            "GROUP BY k ORDER BY k").collect()
        assert [(r["k"], r["h"]) for r in fin] == [(1, 4), (2, 2), (3, 1)]
        assert wh.execute(
            "SELECT count() AS n FROM rollup FINAL"
        ).collect()[0]["n"] == 3
        before = [tuple(r) for r in wh.execute(self.MERGE).collect()]
        wh.execute("OPTIMIZE TABLE rollup FINAL")
        assert wh.execute(
            "SELECT count() AS n FROM rollup").collect()[0]["n"] == 3
        after = [tuple(r) for r in wh.execute(self.MERGE).collect()]
        assert before == after  # physical merge is query-invisible

    def test_uniq_hll_state_roundtrip(self, wh, spark):
        spark.range(5000).selectExpr(
            "id % 2 AS k", "CAST(id AS STRING) AS u"
        ).createOrReplaceTempView("af_hll_src")
        wh.execute(
            "CREATE TABLE hll_t (k Int64, "
            "users AggregateFunction(uniq, String)) "
            "ENGINE = AggregatingMergeTree ORDER BY k")
        wh.execute(
            "INSERT INTO hll_t SELECT k, uniqState(u) AS users "
            "FROM af_hll_src GROUP BY k")
        wh.execute(
            "INSERT INTO hll_t SELECT k, uniqState(u) AS users "
            "FROM af_hll_src GROUP BY k")  # duplicate batch: no growth
        [r] = wh.execute(
            "SELECT uniqMerge(users) AS n FROM hll_t").collect()
        assert abs(r["n"] - 5000) / 5000 < 0.03
        wh.execute("OPTIMIZE TABLE hll_t FINAL")
        [r2] = wh.execute(
            "SELECT uniqMerge(users) AS n FROM hll_t").collect()
        assert r2["n"] == r["n"]

    def test_state_column_rejects(self, wh):
        with pytest.raises(ValueError, match="input type is required"):
            wh.execute("CREATE TABLE z (k Int64, "
                       "s AggregateFunction(sum)) "
                       "ENGINE = AggregatingMergeTree ORDER BY k")
        with pytest.raises(ValueError, match="not summable"):
            wh.execute("CREATE TABLE z (k Int64, "
                       "s AggregateFunction(sum, String)) "
                       "ENGINE = AggregatingMergeTree ORDER BY k")
        with pytest.raises(ValueError, match="state columns"):
            wh.execute("CREATE TABLE z (k Int64, "
                       "s AggregateFunction(sum, Int64) DEFAULT 0) "
                       "ENGINE = AggregatingMergeTree ORDER BY k")


def test_mv_cascade_state_rollup(wh, spark):
    """THE production CH rollup shape end-to-end: an insert-triggered
    materialized view computing xState() aggregates into an
    AggregatingMergeTree target; every source INSERT appends partial
    states, reads merge with xMerge, OPTIMIZE FINAL is query-
    invisible. (Round 12 — completes the -State/-Merge story: the
    driver leg does the manual INSERT SELECT form, this pins the MV
    cascade form.)"""
    wh.execute("CREATE TABLE src (k Int64, v Int64, u String) "
               "ENGINE = MergeTree ORDER BY k")
    wh.execute("CREATE TABLE agg (k Int64, "
               "s AggregateFunction(sum, Int64), "
               "c AggregateFunction(count), "
               "uq AggregateFunction(uniqExact, String)) "
               "ENGINE = AggregatingMergeTree ORDER BY k")
    wh.execute("CREATE MATERIALIZED VIEW mv TO agg AS "
               "SELECT k, sumState(v) AS s, countState() AS c, "
               "uniqExactState(u) AS uq FROM src GROUP BY k")
    wh.execute("INSERT INTO src VALUES (1, 10, 'a'), (1, 20, 'b'), "
               "(2, 5, 'a')")
    wh.execute("INSERT INTO src VALUES (1, 30, 'a'), (2, 7, 'c')")
    assert wh.execute(
        "SELECT count() AS n FROM agg").collect()[0]["n"] == 4
    merge_sql = ("SELECT k, sumMerge(s) AS s, countMerge(c) AS c, "
                 "uniqExactMerge(uq) AS u FROM agg "
                 "GROUP BY k ORDER BY k")
    got = [tuple(r) for r in wh.execute(merge_sql).collect()]
    assert got == [(1, 60, 3, 2), (2, 12, 2, 2)]
    wh.execute("OPTIMIZE TABLE agg FINAL")
    assert wh.execute(
        "SELECT count() AS n FROM agg").collect()[0]["n"] == 2
    assert [tuple(r) for r in wh.execute(merge_sql).collect()] == got


class TestRound14AdviceDdl:
    """r14 ADVICE: SummingMergeTree must exclude columns referenced by
    an EXPRESSION partition key from summation (CH isInPartitionKey),
    on both the FINAL read path and OPTIMIZE FINAL."""

    def test_expr_partition_key_source_not_summed(self, wh):
        wh.execute(
            "CREATE TABLE sp (k String, d Int64, v Int64) "
            "ENGINE = SummingMergeTree "
            "PARTITION BY intDiv(d, 10) ORDER BY k"
        )
        # same key + same partition bucket (intDiv=1), different d
        wh.execute("INSERT INTO sp VALUES ('a', 12, 5)")
        wh.execute("INSERT INTO sp VALUES ('a', 13, 7)")
        rows = wh.execute(
            "SELECT k, d, v FROM sp FINAL"
        ).collect()
        assert len(rows) == 1
        [r] = rows
        # d feeds the partition key → kept (max-of-group, the engine's
        # deterministic 'any'), NOT summed to 25
        assert (r["k"], r["d"], r["v"]) == ("a", 13, 12)
        # OPTIMIZE FINAL materializes the same result
        wh.execute("OPTIMIZE TABLE sp FINAL")
        rows2 = wh.execute("SELECT k, d, v FROM sp").collect()
        assert len(rows2) == 1
        assert (rows2[0]["k"], rows2[0]["d"], rows2[0]["v"]) == (
            "a", 13, 12
        )


# engine clause, engine columns, inserted batches, FINAL v per (day, k)
# on a table ORDER BY (toDate(ts), k): k = 1 on two days, and on the
# first day a second row (a newer version, another summand, a cancel +
# new state) that merges with the first
_D1, _D1B, _D2 = (
    "toDateTime('2024-01-01 10:00:00')",
    "toDateTime('2024-01-01 11:00:00')",
    "toDateTime('2024-01-02 10:00:00')",
)
_SORT_KEY_CASES = {
    "replacing": (
        "ReplacingMergeTree(ver)", "v Float64, ver UInt64",
        [f"({_D1}, 1, 1.0, 1), ({_D2}, 1, 3.0, 1)", f"({_D1B}, 1, 2.0, 2)"],
        {"2024-01-01": 2.0, "2024-01-02": 3.0},
    ),
    "summing": (
        "SummingMergeTree", "v Float64",
        [f"({_D1}, 1, 1.0), ({_D2}, 1, 3.0)", f"({_D1B}, 1, 2.0)"],
        {"2024-01-01": 3.0, "2024-01-02": 3.0},
    ),
    "aggregating": (
        "AggregatingMergeTree",
        "v SimpleAggregateFunction(sum, Float64), "
        "top SimpleAggregateFunction(max, Int64)",
        [f"({_D1}, 1, 1.0, 5), ({_D2}, 1, 3.0, 1)", f"({_D1B}, 1, 2.0, 7)"],
        {"2024-01-01": 3.0, "2024-01-02": 3.0},
    ),
    "collapsing": (
        "CollapsingMergeTree(sign)", "v Float64, sign Int8",
        [f"({_D1}, 1, 1.0, 1), ({_D2}, 1, 3.0, 1)",
         f"({_D1}, 1, 1.0, -1), ({_D1B}, 1, 2.0, 1)"],
        {"2024-01-01": 2.0, "2024-01-02": 3.0},
    ),
    "versioned_collapsing": (
        "VersionedCollapsingMergeTree(sign, ver)",
        "v Float64, sign Int8, ver UInt64",
        [f"({_D1}, 1, 1.0, 1, 1), ({_D2}, 1, 3.0, 1, 1)",
         f"({_D1}, 1, 1.0, -1, 1), ({_D1B}, 1, 2.0, 1, 2)"],
        {"2024-01-01": 2.0, "2024-01-02": 3.0},
    ),
}


@pytest.mark.parametrize("engine", list(_SORT_KEY_CASES))
def test_final_merges_on_sort_key_expressions(wh, engine):
    """CH merges rows that agree on every ORDER BY EXPRESSION: with
    ORDER BY (toDate(ts), k), k = 1 on two days stays two rows and the
    same-day rows merge. SELECT … FINAL used to keep only the plain
    column items (one row per k on Summing/Aggregating), and OPTIMIZE
    FINAL failed to resolve the expression."""
    clause, cols, batches, want = _SORT_KEY_CASES[engine]
    wh.execute(
        f"CREATE TABLE t (ts DateTime, k Int64, {cols}) "
        f"ENGINE = {clause} ORDER BY (toDate(ts), k)"
    )
    for b in batches:
        wh.execute(f"INSERT INTO t VALUES {b}")
    final = sorted(map(tuple, wh.execute("SELECT * FROM t FINAL").collect()))
    got = {
        str(r["d"]): r["v"]
        for r in wh.execute(
            "SELECT toDate(ts) AS d, k, v FROM t FINAL"
        ).collect()
    }
    assert len(final) == len(want) and got == want
    wh.execute("OPTIMIZE TABLE t FINAL")
    assert sorted(map(tuple, wh.execute("SELECT * FROM t").collect())) == final


def test_sample_by_must_be_an_order_by_item():
    # CH rejects such a table at CREATE; requiring it keeps FINAL SAMPLE
    # (sampling the merged rows) equal to sampling before the merge
    with pytest.raises(ValueError, match="SAMPLE BY id must be an ORDER BY"):
        parse_create_table(
            "CREATE TABLE s (k Int64, id Int64) ENGINE = MergeTree "
            "ORDER BY k SAMPLE BY id"
        )
    meta, *_ = parse_create_table(
        "CREATE TABLE s (k Int64, id Int64) ENGINE = MergeTree "
        "ORDER BY (k, id) SAMPLE BY id"
    )
    assert meta.sample_by == "id"


def test_final_read_plans_one_exchange_and_window_group_limit(wh):
    import io
    from contextlib import redirect_stdout

    wh.execute(
        "CREATE TABLE kv (k UInt64, grp String, v Float64, ver UInt64) "
        "ENGINE = ReplacingMergeTree(ver) PARTITION BY grp ORDER BY k"
    )
    wh.execute("INSERT INTO kv VALUES (1, 'a', 1.0, 1), (2, 'b', 3.0, 1)")
    wh.execute("INSERT INTO kv VALUES (1, 'a', 5.0, 2)")
    df = wh.execute("SELECT k, grp, v, ver FROM kv FINAL")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert "WindowGroupLimit" in tree  # rn = 1 pruned before the exchange
    assert tree.count("Exchange") == 1, tree
    assert sorted(map(tuple, df.collect())) == [
        (1, "a", 5.0, 2), (2, "b", 3.0, 1)
    ]

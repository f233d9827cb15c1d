"""Each statement names its tables through its own query context.

Two warehouses on one Spark session may both have a table ``kv``. A
statement of one must read its own ``kv``, even when a statement of the
other binds and runs between its binding and its ``spark.sql``, and
``EXPLAIN SYNTAX`` must translate in the same context as the query."""

from __future__ import annotations

import sys
import threading

import pytest

from clickhouse_modules_spark.ddl import ChWarehouse

KV = (
    "CREATE TABLE kv (k UInt64, v Float64, ver UInt64) "
    "ENGINE = ReplacingMergeTree(ver) ORDER BY k"
)
COUNT = "SELECT count() AS n FROM kv FINAL"


def _warehouse(spark, root, keys: int) -> ChWarehouse:
    wh = ChWarehouse(spark, str(root))
    wh.execute(KV)
    rows = ", ".join(f"({k}, {k}.5, 1)" for k in range(keys))
    wh.execute(f"INSERT INTO kv VALUES {rows}")
    # a second version of key 0: FINAL keeps one row per key
    wh.execute("INSERT INTO kv VALUES (0, 9.5, 2)")
    return wh


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_a_query_reads_its_own_tables_when_another_runs_in_between(
    spark, tmp_path, monkeypatch
):
    a = _warehouse(spark, tmp_path / "a", 3)
    b = _warehouse(spark, tmp_path / "b", 7)
    before = _temp_views(spark)
    real_sql = spark.sql
    armed, inner = [True], []

    def sql_after_b(text, *args, **kwargs):
        # A's frames are bound now: B binds and runs its own kv first
        if armed:
            armed.clear()
            inner.append(b.query(COUNT).collect()[0]["n"])
        return real_sql(text, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", sql_after_b)
    got = a.query(COUNT).collect()[0]["n"]
    monkeypatch.undo()
    assert (got, inner) == (3, [7])
    assert _temp_views(spark) == before  # every bound view was dropped


def test_concurrent_readers_of_two_warehouses_see_their_own_rows(
    spark, tmp_path
):
    whs = {3: _warehouse(spark, tmp_path / "a", 3),
           7: _warehouse(spark, tmp_path / "b", 7)}
    readers, rounds = 4, 3  # 8 threads on a 4-core session
    start = threading.Barrier(readers * len(whs))
    seen: dict[int, list] = {keys: [] for keys in whs}

    def read(keys: int) -> None:
        start.wait(timeout=120)
        for _ in range(rounds):
            try:
                seen[keys].append(whs[keys].query(COUNT).collect()[0]["n"])
            except Exception as e:  # a wrong binding may also raise
                seen[keys].append(repr(e))

    threads = [
        threading.Thread(target=read, args=(keys,))
        for keys in whs for _ in range(readers)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert seen == {keys: [keys] * (readers * rounds) for keys in whs}


def test_explain_syntax_translates_in_the_warehouse_context(
    spark, tmp_path
):
    a = ChWarehouse(spark, str(tmp_path / "a"))
    a.execute(KV)
    # no query has run: FINAL still reads the merged frame
    assert a.explain("SELECT k, v FROM kv FINAL", mode="SYNTAX") == (
        "SELECT k, v FROM __kv_final AS kv"
    )
    b = ChWarehouse(spark, str(tmp_path / "b"))
    b.execute(
        "CREATE TABLE kv (k UInt64, v Float64) ENGINE = MergeTree ORDER BY k"
    )
    with pytest.raises(ValueError) as by_explain:
        b.execute("EXPLAIN SYNTAX SELECT k, v FROM kv FINAL")
    with pytest.raises(ValueError) as by_query:
        b.query("SELECT k, v FROM kv FINAL")
    assert str(by_explain.value) == str(by_query.value)
    assert "FINAL on 'kv'" in str(by_query.value)

"""Crash injection on the write paths: every write statement is re-run
once per filesystem step, with that step raising. A fresh
``ChWarehouse`` on the same root must then read exactly the rows from
before the statement or exactly the rows after it, and a following
INSERT must get a ``_ch_seq`` no earlier insert used. A reconcile
catalog's ``save`` gets the same treatment: a following ``load`` reads
the old catalog or the new one."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from clickhouse_modules_spark.ddl import ChWarehouse
from clickhouse_modules_spark.reconcile import reconcile_user
from clickhouse_modules_spark.reconcile.catalog import POINTER, TABLES, Catalog

SETUP = [
    "CREATE TABLE t (k Int32, p Int32, v Int32) "
    "ENGINE = ReplacingMergeTree PARTITION BY p ORDER BY k",
    "INSERT INTO t VALUES (1, 1, 10), (2, 1, 20), (3, 2, 30)",
    "INSERT INTO t VALUES (1, 1, 11), (4, 2, 40)",
]

STATEMENTS = {
    "insert": "INSERT INTO t VALUES (5, 1, 50), (6, 3, 60)",
    "update": "ALTER TABLE t UPDATE v = v + 100 WHERE k = 2",
    "delete": "ALTER TABLE t DELETE WHERE p = 2",
    "optimize_final": "OPTIMIZE TABLE t FINAL",
    "optimize_partition": "OPTIMIZE TABLE t PARTITION 1 FINAL",
    "truncate": "TRUNCATE TABLE t",
    "drop_partition": "ALTER TABLE t DROP PARTITION 1",
    "detach_partition": "ALTER TABLE t DETACH PARTITION 2",
    "attach_partition": "ALTER TABLE t ATTACH PARTITION 2",
}

# extra setup per statement: ATTACH needs a detached partition
PRE = {"attach_partition": ["ALTER TABLE t DETACH PARTITION 2"]}

_COPYTREE = shutil.copytree


class InjectedCrash(Exception):
    pass


class _Faults:
    """Wraps the filesystem calls of a write, the Spark write and the
    pyarrow write; the ``fail_at``-th call (1-based) raises instead of
    running."""

    TARGETS = [
        (os, "replace"), (os, "rename"), (os, "remove"), (os, "makedirs"),
        (shutil, "rmtree"), (DataFrameWriter, "parquet"), (pq, "write_table"),
    ]

    def __init__(self, monkeypatch, fail_at: int | None):
        self.calls = 0
        self.fail_at = fail_at
        for owner, name in self.TARGETS:
            monkeypatch.setattr(owner, name, self._wrap(getattr(owner, name)))

    def _wrap(self, fn):
        def call(*args, **kwargs):
            self.calls += 1
            if self.calls == self.fail_at:
                raise InjectedCrash(f"{fn.__name__} call {self.calls}")
            return fn(*args, **kwargs)

        return call


def _rows(spark, root):
    return sorted(
        tuple(r) for r in ChWarehouse(spark, root).execute(
            "SELECT k, p, v FROM t"
        ).collect()
    )


def _check_next_seq(spark, root):
    """An INSERT after the crash gets a batch id unused by every live
    and detached row."""
    wh = ChWarehouse(spark, root)
    used = set()
    raw = wh._raw_df(wh.meta("t"))
    if raw is not None:
        used |= {r[0] for r in raw.select("_ch_seq").distinct().collect()}
    detached = getattr(wh.meta("t"), "detached", [])
    if detached:
        used |= {
            r[0]
            for r in spark.read.parquet(
                *[f"{root}/t/data/{p}" for p in detached]
            ).select("_ch_seq").distinct().collect()
        }
    wh.execute("INSERT INTO t VALUES (99, 1, 0)")
    [new_seq] = [
        r[0]
        for r in wh._raw_df(wh.meta("t"))
        .filter(F.col("k") == 99).select("_ch_seq").distinct().collect()
    ]
    assert new_seq not in used, (new_seq, sorted(used))


@pytest.mark.parametrize("stmt", list(STATEMENTS))
def test_crash_at_every_step_leaves_old_or_new(spark, tmp_path, monkeypatch, stmt):
    base = str(tmp_path / "base")
    wh = ChWarehouse(spark, base)
    for s in SETUP + PRE.get(stmt, []):
        wh.execute(s)
    old = _rows(spark, base)

    clean = str(tmp_path / "clean")
    _COPYTREE(base, clean)
    wh = ChWarehouse(spark, clean)
    with monkeypatch.context() as m:
        counter = _Faults(m, fail_at=None)
        wh.execute(STATEMENTS[stmt])
    new = _rows(spark, clean)
    assert new != old
    assert counter.calls > 0

    seen = set()
    for k in range(1, counter.calls + 1):
        root = str(tmp_path / f"crash{k}")
        _COPYTREE(base, root)
        wh = ChWarehouse(spark, root)
        with monkeypatch.context() as m:
            _Faults(m, fail_at=k)
            with pytest.raises(InjectedCrash):
                wh.execute(STATEMENTS[stmt])
        got = _rows(spark, root)
        assert got in (old, new), f"crash at call {k}: {got}"
        seen.add("old" if got == old else "new")
        _check_next_seq(spark, root)
    # the commit point splits the calls: crashes before it read the old
    # rows, crashes after it the new ones
    assert seen == {"old", "new"}


def _catalog_rows(spark, path):
    cat = Catalog.load(spark, path)
    return {
        name: sorted(map(repr, getattr(cat, name).collect())) for name in TABLES
    }


def test_catalog_save_crash_at_every_step_leaves_old_or_new(
    spark, tmp_path, monkeypatch
):
    base = str(tmp_path / "base")
    Catalog.demo(spark).save(base)
    old = _catalog_rows(spark, base)
    # a reconcile that replaces five of the six tables; `grants` is saved
    # from the snapshot the load kept
    new_cat, res = reconcile_user(
        Catalog.load(spark, base), user="svc", password="pw",
        roles=["reader_role", "etl_role"], init_roles=True,
        quota="test_quota", profile="custom_profile",
    )
    assert res.changed

    clean = str(tmp_path / "clean")
    _COPYTREE(base, clean)
    with monkeypatch.context() as m:
        counter = _Faults(m, fail_at=None)
        new_cat.save(clean)
    new = _catalog_rows(spark, clean)
    assert new != old
    assert all(new[name] != old[name] for name in TABLES if name != "grants")

    seen = set()
    for k in range(1, counter.calls + 1):
        root = str(tmp_path / f"crash{k}")
        _COPYTREE(base, root)
        with monkeypatch.context() as m:
            _Faults(m, fail_at=k)
            with pytest.raises(InjectedCrash):
                new_cat.save(root)
        with open(os.path.join(root, POINTER)) as f:
            assert os.path.isdir(os.path.join(root, f.read())), f"crash at call {k}"
        got = _catalog_rows(spark, root)
        assert got in (old, new), f"crash at call {k}"
        seen.add("old" if got == old else "new")
        # the next clean save removes what the crashed one left behind
        new_cat.save(root)
        with open(os.path.join(root, POINTER)) as f:
            live = f.read()
        assert sorted(os.listdir(root)) == sorted([POINTER, live]), (
            f"crash at call {k}"
        )
    assert seen == {"old", "new"}

"""tables.py: schema-cached scans and their invalidation, and the
metadata-derived partitioning decisions (pscan / _path_bytes /
parquet_rows / parallel_scan path mode).

- The cache must never change WHAT is computed — only how many driver
  jobs it takes.
- A parquet path rewritten with a different schema or size must be
  re-inferred, never served stale: a file replaced or a part file
  rewritten in place inside a directory alike.
- parquet_rows skips the non-partition subdirectories the batch reader
  would not read.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clickhouse_modules_spark.tables import (
    _parse_bytes,
    _path_bytes,
    parallel_scan,
    parquet_rows,
    pscan,
)

SF = "/root/testdata/sf0.001"


def test_parse_bytes():
    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes(" 512k ") == 512 << 10
    assert _parse_bytes("100b") == 100


def test_pscan_matches_inferred_read(spark):
    path = f"{SF}/orders.parquet"
    plain = spark.read.parquet(path)
    cached_first = pscan(spark, path)   # populates the cache
    cached_again = pscan(spark, path)   # schema-provided read
    assert cached_first.schema == plain.schema
    assert cached_again.schema == plain.schema
    assert cached_again.count() == plain.count()
    # values identical, not just schema
    assert (
        cached_again.exceptAll(plain).count() == 0
        and plain.exceptAll(cached_again).count() == 0
    )


def test_parquet_rows_matches_count(spark):
    path = f"{SF}/lineitem.parquet"
    assert parquet_rows(spark, path) == spark.read.parquet(path).count()


def test_path_bytes_matches_fs(spark):
    path = f"{SF}/lineitem.parquet"
    assert _path_bytes(spark, path) == os.path.getsize(path)


@pytest.mark.parametrize("use_path", [True, False])
def test_parallel_scan_small_input_spreads(spark, use_path):
    path = f"{SF}/documents.parquet"
    df = pscan(spark, path)
    out = parallel_scan(df, path=path if use_path else None)
    # tiny single file → repartitioned to defaultParallelism either way
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert out.count() == df.count()


def test_parallel_scan_path_noop_when_large(spark, monkeypatch):
    # force the byte estimate over the threshold: maxPartitionBytes=1
    # makes even the tiny fixture look like thousands of splits
    path = f"{SF}/documents.parquet"
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
    try:
        df = pscan(spark, path)
        out = parallel_scan(df, path=path)
        assert out is df  # no repartition inserted
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_parquet_rows_file_uri_forms(spark):
    path = f"{SF}/lineitem.parquet"
    n = spark.read.parquet(path).count()
    assert parquet_rows(spark, f"file://{path}") == n
    assert parquet_rows(spark, f"file:{path}") == n


def _bump_mtime(path: str) -> None:
    # mtime_ns granularity is fine, but make the change unambiguous even
    # on coarse-mtime filesystems
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_pscan_reinfers_after_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id AS a").coalesce(1).write.parquet(p)
    first = pscan(spark, p)
    assert first.columns == ["a"]
    # rewrite IN PLACE with a different schema
    shutil.rmtree(p)
    spark.range(7).selectExpr(
        "id AS b", "CAST(id AS STRING) AS c"
    ).coalesce(1).write.parquet(p)
    _bump_mtime(p)
    again = pscan(spark, p)
    assert sorted(again.columns) == ["b", "c"], (
        "pscan served a stale schema after an in-place rewrite"
    )
    assert again.count() == 7


def test_path_bytes_refreshes_after_rewrite(spark, tmp_path):
    p = str(tmp_path / "grow.parquet")
    spark.range(10).coalesce(1).write.parquet(p)
    small = _path_bytes(spark, p)
    shutil.rmtree(p)
    spark.range(200_000).selectExpr(
        "id", "CAST(id AS STRING) AS s"
    ).coalesce(1).write.parquet(p)
    _bump_mtime(p)
    big = _path_bytes(spark, p)
    assert big > small, "_path_bytes served a stale size after a rewrite"


def test_parquet_rows_ignores_non_partition_subdirs(spark, tmp_path):
    root = str(tmp_path / "tbl")
    spark.range(100).coalesce(1).write.parquet(root)
    n = spark.read.parquet(root).count()
    # stray dirs Spark's non-recursive reader would NOT read
    for sub in ("_checkpoint", ".staging", "stray"):
        d = os.path.join(root, sub)
        spark.range(50).coalesce(1).write.parquet(d)
    assert parquet_rows(spark, root) == n


def test_parquet_rows_counts_partition_dirs(spark, tmp_path):
    root = str(tmp_path / "ptbl")
    spark.range(100).selectExpr(
        "id", "id % 2 AS k"
    ).write.partitionBy("k").parquet(root)
    assert parquet_rows(spark, root) == 100


def test_cache_sees_part_file_rewritten_in_place(spark, tmp_path):
    # rewriting a file in place changes neither the directory's mtime
    # nor its size; the cache key must still move
    d = tmp_path / "inplace.parquet"
    d.mkdir()
    part = d / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), part)
    assert pscan(spark, str(d)).columns == ["a"]
    assert _path_bytes(spark, str(d)) == part.stat().st_size
    dir_mtime = d.stat().st_mtime_ns
    pq.write_table(
        pa.table({"b": list(range(500)), "c": [str(i) for i in range(500)]}),
        part,
    )
    assert d.stat().st_mtime_ns == dir_mtime
    again = pscan(spark, str(d))
    assert sorted(again.columns) == ["b", "c"]
    assert again.count() == 500
    assert _path_bytes(spark, str(d)) == part.stat().st_size

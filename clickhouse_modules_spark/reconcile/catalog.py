"""Catalog state: the system.* tables the reference introspects, as
driver-local DataFrames with fixed schemas (FIXTURES.md §A).

The reference reads four ClickHouse system tables (clickhouse_users.py:
149,156,166,179-180; clickhouse_grants.py:164,174); we model those plus
``roles`` (implied by CREATE ROLE IF NOT EXISTS, clickhouse_users.py:
234-237) and ``grants`` (target of the W9/W10 generators,
clickhouse_grants.py:292-300).

State is immutable: every mutation returns a new Catalog of DataFrames.
The catalog is a few kilobytes, so it never touches Spark's file I/O:

- In memory, every table is an Arrow table on the driver, and its
  DataFrame comes from ``local_relation`` — the one
  ``createDataFrame`` call here. Spark plans it as a ``LocalRelation``,
  so the filter/select/collect probes of ``introspect`` run on the
  driver without a Spark job. A Catalog keeps each table's Arrow
  snapshot until a statement replaces that table (``with_table``);
  only a replaced table costs a ``toArrow()`` job, once, when it is
  checkpointed or saved.
- On disk, ``save(path)`` writes the six tables with pyarrow into a
  fresh version directory ``<path>/v-<uuid>/<table>.parquet``, then
  commits it with one ``os.replace`` of the pointer file
  ``<path>/CURRENT``, which names the live version. Only then is the
  version the pointer named before deleted. A crash at any step leaves
  the old catalog or the new one, and a crashed save's version
  directory is never named. ``load`` reads the version the pointer
  names.

``checkpoint()`` stays public because callers (the playbook benchmark)
call it before ``save``: it snapshots the replaced tables to Arrow, so
their DataFrames become local relations again and the lineage of a
long mutation chain stops growing.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field, replace as dc_replace
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

USERS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("auth_type", T.StringType(), True),
        T.StructField("password_sha256", T.StringType(), True),
    ]
)
ROLE_GRANTS_SCHEMA = T.StructType(
    [
        T.StructField("user_name", T.StringType(), False),
        T.StructField("granted_role_name", T.StringType(), False),
    ]
)
PROFILE_ELEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_name", T.StringType(), False),
        T.StructField("inherit_profile", T.StringType(), True),
    ]
)
QUOTAS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("apply_to_list", T.ArrayType(T.StringType()), False),
    ]
)
ROLES_SCHEMA = T.StructType([T.StructField("name", T.StringType(), False)])
GRANTS_SCHEMA = T.StructType(
    [
        T.StructField("grantee", T.StringType(), False),
        T.StructField("privilege", T.StringType(), False),
        T.StructField("database", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
    ]
)

TABLES = {
    "users": USERS_SCHEMA,
    "role_grants": ROLE_GRANTS_SCHEMA,
    "settings_profile_elements": PROFILE_ELEMENTS_SCHEMA,
    "quotas": QUOTAS_SCHEMA,
    "roles": ROLES_SCHEMA,
    "grants": GRANTS_SCHEMA,
}
ARROW_SCHEMAS = {name: to_arrow_schema(schema) for name, schema in TABLES.items()}

# the file naming the live version directory of a saved catalog
POINTER = "CURRENT"


def arrow_rows(name: str, rows) -> pa.Table:
    """Rows of catalog table ``name`` (tuples, Rows or dicts) as Arrow.
    Rejects a tuple of the wrong width and a null in a NOT NULL column,
    which pyarrow itself would accept."""
    schema = ARROW_SCHEMAS[name]
    dicts = []
    for r in rows:
        if not isinstance(r, dict):
            if len(r) != len(schema):
                raise ValueError(f"{name}: row {r!r} has {len(r)} of {len(schema)} fields")
            r = dict(zip(schema.names, r))
        dicts.append(r)
    table = pa.Table.from_pylist(dicts, schema=schema)
    for f, column in zip(schema, table.columns):
        if not f.nullable and column.null_count:
            raise ValueError(f"{name}.{f.name} is NOT NULL")
    return table


def local_relation(spark: SparkSession, name: str, table: pa.Table) -> DataFrame:
    """The one way a catalog DataFrame is built: an Arrow table becomes a
    driver-local ``LocalRelation``, which filter/select/collect plans
    evaluate without a Spark job."""
    return spark.createDataFrame(table, TABLES[name])


@dataclass(frozen=True)
class Catalog:
    spark: SparkSession
    users: DataFrame
    role_grants: DataFrame
    settings_profile_elements: DataFrame
    quotas: DataFrame
    roles: DataFrame
    grants: DataFrame
    # table name -> the Arrow table its DataFrame was built from; a
    # table that a statement replaced has no entry
    snapshots: dict = field(default_factory=dict, repr=False, compare=False)

    @classmethod
    def _from_arrow(cls, spark: SparkSession, tables: dict) -> "Catalog":
        dfs = {name: local_relation(spark, name, t) for name, t in tables.items()}
        return cls(spark=spark, snapshots=dict(tables), **dfs)

    @classmethod
    def empty(cls, spark: SparkSession) -> "Catalog":
        return cls.from_rows(spark)

    @classmethod
    def from_rows(cls, spark: SparkSession, **rows) -> "Catalog":
        """Build a catalog from lists of tuples/dicts per table name."""
        return cls._from_arrow(
            spark, {name: arrow_rows(name, rows.get(name, [])) for name in TABLES}
        )

    @classmethod
    def demo(cls, spark: SparkSession) -> "Catalog":
        """Fixture catalog mirroring playbook_example.yaml:12-36: users
        db_admin/app_user, roles, one quota, one profile."""
        return cls.from_rows(
            spark,
            users=[
                ("db_admin", "sha256_password", "a" * 64),
                ("app_user", "sha256_hash", "b" * 64),
            ],
            role_grants=[("db_admin", "db_admin_role"), ("app_user", "reader_role")],
            settings_profile_elements=[("app_user", "custom_profile")],
            quotas=[("test_quota", ["app_user"])],
            roles=[("db_admin_role",), ("reader_role",), ("writer_role",)],
            grants=[("app_user", "SELECT", "analytics", "*")],
        )

    def with_table(self, name: str, df: DataFrame) -> "Catalog":
        snapshots = {k: v for k, v in self.snapshots.items() if k != name}
        return dc_replace(self, snapshots=snapshots, **{name: df})

    def _replaced(self) -> dict:
        """The tables a statement replaced, as Arrow: one ``toArrow()``
        job each."""
        return {
            name: getattr(self, name).toArrow().cast(ARROW_SCHEMAS[name])
            for name in TABLES
            if name not in self.snapshots
        }

    def checkpoint(self) -> "Catalog":
        """Snapshot the replaced tables, so each DataFrame is a local
        relation again (long mutation chains otherwise grow the plan
        unboundedly)."""
        fresh = self._replaced()
        dfs = {name: local_relation(self.spark, name, t) for name, t in fresh.items()}
        return dc_replace(self, snapshots={**self.snapshots, **fresh}, **dfs)

    def save(self, path: str) -> None:
        """Write a new version and commit it by replacing the pointer."""
        version = f"v-{uuid.uuid4().hex}"
        os.makedirs(os.path.join(path, version))
        tables = {**self.snapshots, **self._replaced()}
        for name in TABLES:
            pq.write_table(tables[name], os.path.join(path, version, f"{name}.parquet"))
        pointer = Path(path, POINTER)
        old = pointer.read_text() if pointer.exists() else None
        tmp = Path(path, f"{POINTER}.{uuid.uuid4().hex}.tmp")
        tmp.write_text(version)
        os.replace(tmp, pointer)
        if old is not None:
            shutil.rmtree(os.path.join(path, old))

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Catalog":
        version = Path(path, POINTER).read_text()
        return cls._from_arrow(
            spark,
            {
                name: pq.read_table(
                    os.path.join(path, version, f"{name}.parquet"), schema=schema
                )
                for name, schema in ARROW_SCHEMAS.items()
            },
        )

"""Catalog-introspection fixture queries (SURVEY §2A as queries() entries).

These run against the demo catalog (playbook_example.yaml-shaped,
Catalog.demo) — the reference's system-table introspection surface as
DataFrames. The catalog is engine state, not driver parquet, so the
oracle is a golden VALUES relation: the demo catalog is a fixed
fixture, so the expected output of each introspection (and of the
reconcile planner) is a deterministic constant derived from the
reference's semantics (clickhouse_users.py:148-189,196-247). Full
behavioral coverage (idempotency, quirks, apply paths) lives in
tests/test_reconcile.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_modules_spark.queries import query
from clickhouse_modules_spark.reconcile import Catalog, plan_user


@query(
    "q_reconcile",
    oracle="""
    SELECT * FROM (VALUES
        (0,  'user_exists', 'db_admin',   'true'),
        (1,  'user_exists', 'app_user',   'true'),
        (2,  'user_exists', 'ghost_user', 'false'),
        (3,  'quota_apply_list',   'test_quota', 'app_user'),
        (4,  'quota_has_app_user', 'test_quota', 'true'),
        (5,  'stmt', 'create_user',
         'CREATE USER ''new_analyst'' IDENTIFIED WITH sha256_password BY ''[REDACTED]'''),
        (6,  'stmt', 'alter_quota', 'ALTER QUOTA test_quota to app_user, new_analyst'),
        (7,  'stmt', 'set_profile', 'ALTER USER new_analyst SETTINGS PROFILE custom_profile'),
        (8,  'stmt', 'create_role', 'CREATE ROLE IF NOT EXISTS reader_role'),
        (9,  'stmt', 'create_role', 'CREATE ROLE IF NOT EXISTS analyst_role'),
        (10, 'stmt', 'grant_roles', 'GRANT reader_role, analyst_role to ''new_analyst''')
    ) AS t(seq, kind, k, v)
    """,
)
def q_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's introspection + planning surface in one
    driver-checked result, (seq, kind, k, v) rows:

    - R1 existence probes over the users catalog (scan + equality +
      count>0) for three names;
    - R5/R6 quota membership: the full ``apply_to_list`` (sorted,
      joined) and the ``has(apply_to_list, 'app_user')`` array
      membership test (clickhouse_users.py:179-180);
    - the end-to-end reconcile PLAN: diff a desired user spec against
      the demo catalog and emit the reference's run_queries in its
      append order (W1 create at clickhouse_users.py:204-209, W3 quota
      rewrite :211-218, W4 profile :220-226, W5 role init :234-237, W6
      grant :240-242), password redacted per the no_log contract.

    Every row is COMPUTED from catalog DataFrames / the planner — the
    golden oracle just states the known-correct constants.
    """
    catalog = Catalog.demo(spark)
    probes = spark.createDataFrame(
        [(0, "db_admin"), (1, "app_user"), (2, "ghost_user")],
        "seq int, name string",
    )
    exists = (
        probes.join(catalog.users.select("name", "auth_type"), "name", "left")
        .select(
            "seq",
            F.lit("user_exists").alias("kind"),
            F.col("name").alias("k"),
            F.col("auth_type").isNotNull().cast("string").alias("v"),
        )
    )
    quota = catalog.quotas.select(
        F.lit(3).alias("seq"),
        F.lit("quota_apply_list").alias("kind"),
        F.col("name").alias("k"),
        F.array_join(F.sort_array("apply_to_list"), ",").alias("v"),
    ).unionByName(
        catalog.quotas.select(
            F.lit(4).alias("seq"),
            F.lit("quota_has_app_user").alias("kind"),
            F.col("name").alias("k"),
            F.array_contains(F.col("apply_to_list"), "app_user")
            .cast("string")
            .alias("v"),
        )
    )
    stmts = plan_user(
        catalog,
        user="new_analyst",
        password="s3cret",
        roles=["reader_role", "analyst_role"],
        init_roles=True,
        quota="test_quota",
        profile="custom_profile",
    )
    plan = spark.createDataFrame(
        [(5 + i, "stmt", s.op, s.reported_sql) for i, s in enumerate(stmts)],
        "seq int, kind string, k string, v string",
    )
    return exists.unionByName(quota).unionByName(plan)

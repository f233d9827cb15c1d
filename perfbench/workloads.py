"""The three workloads. Each is a closed loop of rounds run by one client
thread: a round is a fixed, seeded list of operations, and every round
of a run repeats the same list on the same starting state.

A workload provides:

- ``seconds_per_round``: how much of ``--seconds`` one round stands
  for; a run makes ``max(1, round(seconds / seconds_per_round))``
  rounds, so the operation mix never depends on the machine's speed;
- ``prepare(ctx)``: persist its inputs and warm up (counted in
  ``setup_s``);
- ``precheck(ctx)``: correctness checks that run before the timed window
  (query workloads verify every distinct query here);
- ``reset(ctx, rnd)``: untimed per-round state reset;
- ``ops(ctx, rnd)``: the round's operations as ``(kind, label, fn)``,
  where ``fn(tag)`` runs the operation and ``tag(phase)`` names the
  Spark job group of what follows;
- ``check(ctx, records)``: correctness checks after the timed window;
- ``layer_metrics(ctx, tracer, records)``: workload-specific per-layer
  metrics of a traced window.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
from dataclasses import dataclass, field

import gen
import verify


@dataclass
class Ctx:
    spark: object
    seed: int
    data_dir: str
    work_dir: str
    cache_dir: str
    tracer: object = None
    notes: dict = field(default_factory=dict)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _files(path: str, suffix: str = ".parquet") -> set[str]:
    return {
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    }


def _span(ctx: Ctx, name: str):
    return contextlib.nullcontext() if ctx.tracer is None else ctx.tracer.span(name)


# ----------------------------------------------------------- query rounds


class QueryWorkload:
    """One query round = every listed registry query once, in seeded
    order, each built and run fully to the noop sink."""

    name = ""
    queries: tuple[str, ...] = ()
    warmup = ""

    def __init__(self):
        import __spark_entry__ as entry

        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()

    def prepare(self, ctx: Ctx) -> None:
        self._run(ctx, self.warmup)

    def _run(self, ctx: Ctx, name: str):
        df = self.registry[name](ctx.spark, ctx.data_dir)
        df.write.format("noop").mode("overwrite").save()

    def precheck(self, ctx: Ctx) -> dict[str, str | None]:
        """Verify each distinct query: row count, columns and digest
        against the DuckDB oracle (row count only without one)."""
        con = []

        def factory():
            if not con:
                con.append(verify.duck_connect(ctx.data_dir, gen.SF01_ROWS.keys()))
            return con[0]

        key = f"{gen.DATA_VERSION}:{gen.DATA_SEED}:sf0.1"
        failures: dict[str, str | None] = {}
        for name in gen.query_order(self.queries, ctx.seed):
            try:
                got = verify.digest(self.registry[name](ctx.spark, ctx.data_dir).toArrow())
                sql = self.oracles.get(name)
                if sql is None:
                    ok = got["rows"] > 0
                    want = {"rows": ">0"}
                else:
                    want = verify.oracle_digest(
                        factory, sql, os.path.join(ctx.cache_dir, "oracles"), key
                    )
                    ok = got == want
                failures[name] = None if ok else f"got {got} want {want}"
            except Exception as e:  # a failing query is a counted failure
                failures[name] = f"{type(e).__name__}: {e}"[:500]
        for c in con:
            c.close()
        ctx.notes["verified_queries"] = len(failures)
        return failures

    def reset(self, ctx: Ctx, rnd: int) -> None:
        pass

    def ops(self, ctx: Ctx, rnd: int):
        for name in gen.query_order(self.queries, ctx.seed):
            yield "query", name, self._op(ctx, name)

    def _op(self, ctx: Ctx, name: str):
        fn = self.registry[name]

        def run(tag):
            tag("build")
            with _span(ctx, "queries.build"):
                df = fn(ctx.spark, ctx.data_dir)
            tag("exec")
            with _span(ctx, "queries.exec"):
                df.write.format("noop").mode("overwrite").save()

        return run

    def check(self, ctx: Ctx, records: list) -> None:
        pass

    def layer_metrics(self, ctx: Ctx, tracer, records: list) -> dict:
        return {}


class Olap(QueryWorkload):
    """Registry queries: the JVM/Catalyst path (aggregations, joins,
    sort, FINAL, WITH FILL, ClickHouse SQL) plus two corpus queries, so
    the Arrow pandas_udf operators and plan-time jobs are measured too."""

    name = "olap"
    seconds_per_round = 5.0
    warmup = "q_agg_topk"
    queries = (
        "q_agg_groupby", "q_agg_summap", "q_agg_topk", "q_join_any",
        "q_join_semi_anti", "q_join_multiway", "q_sort", "q_final",
        "q_fill", "q_chsql_dictget", "q_dedup_exact", "q_text_contaminate",
    )


# --------------------------------------------------------------- playbook


class Playbook:
    """One round = a converge pass and a re-run pass of the seeded
    playbook over a fresh copy of the seeded catalog. Each task loads the
    catalog, reconciles one spec and saves the catalog if it changed."""

    name = "playbook"
    seconds_per_round = 10.0

    def __init__(self):
        from clickhouse_modules_spark import reconcile

        self.fns = {
            "user": reconcile.reconcile_user,
            "roles": reconcile.reconcile_roles,
            "grants": reconcile.reconcile_grants,
        }

    def prepare(self, ctx: Ctx) -> None:
        from clickhouse_modules_spark.reconcile.catalog import Catalog

        self.catalog_rows, self.tasks = gen.playbook(ctx.seed)
        self.seed_dir = os.path.join(ctx.work_dir, "catalog-seed")
        Catalog.from_rows(ctx.spark, **self.catalog_rows).save(self.seed_dir)
        # warm-up: plan every task read-only, then apply and materialize
        # the grant (the seeded save warmed the write path), so the timed
        # pass does not pay for first-use code paths
        cat = Catalog.load(ctx.spark, self.seed_dir)
        for kind, spec in self.tasks:
            self.fns[kind](cat, check_mode=True, **spec)
        grant = next(spec for kind, spec in self.tasks if kind == "grants")
        self.fns["grants"](cat, **grant)[0].checkpoint()
        self.expected = PlaybookModel(self.catalog_rows).run(self.tasks)

    def precheck(self, ctx: Ctx) -> dict:
        return {}

    def _round_dir(self, ctx: Ctx, rnd: int) -> str:
        return os.path.join(ctx.work_dir, f"catalog-round{rnd}")

    def reset(self, ctx: Ctx, rnd: int) -> None:
        shutil.copytree(self.seed_dir, self._round_dir(ctx, rnd))

    def ops(self, ctx: Ctx, rnd: int):
        path = self._round_dir(ctx, rnd)
        for pas in ("converge", "rerun"):
            for i, (kind, spec) in enumerate(self.tasks):
                yield f"{pas}.{kind}", f"{pas}:{i}:{kind}", self._op(ctx, path, kind, spec)

    def _op(self, ctx: Ctx, path: str, kind: str, spec: dict):
        from clickhouse_modules_spark.reconcile.catalog import Catalog

        fn = self.fns[kind]

        def run(tag):
            tag("task")
            with _span(ctx, "catalog.load"):
                cat = Catalog.load(ctx.spark, path)
            with _span(ctx, "reconcile"):
                cat, res = fn(cat, **spec)
            if res.changed:
                with _span(ctx, "catalog.save"):
                    cat.checkpoint().save(path)
                if ctx.tracer is not None:
                    ctx.tracer.count("catalog.bytes_written", _du(path))
            return res.changed

        return run

    def check(self, ctx: Ctx, records: list) -> None:
        """Changed flags per task and each round's final catalog against
        the pure-Python model of the playbook."""
        from clickhouse_modules_spark.reconcile.catalog import TABLES, Catalog

        want_flags = self.expected["changed"]
        by_round: dict[int, list] = {}
        for r in records:
            by_round.setdefault(r.round, []).append(r)
        for rnd, recs in by_round.items():
            for r, want in zip(recs, want_flags):
                if r.ok and r.result != want:
                    r.fail(f"changed={r.result}, model says {want}")
            if len(recs) != len(want_flags) or not all(r.ok for r in recs):
                continue
            cat = Catalog.load(ctx.spark, self._round_dir(ctx, rnd))
            for name in TABLES:
                got = sorted(
                    tuple(tuple(v) if isinstance(v, list) else v for v in row)
                    for row in getattr(cat, name).collect()
                )
                if got != self.expected["catalog"][name]:
                    recs[-1].fail(f"final {name} differs from the model")
                    break

    def layer_metrics(self, ctx: Ctx, tracer, records: list) -> dict:
        ops = {r.idx for r in records}
        n = max(len(records), 1)
        loads = tracer.durations("catalog.load", ops)
        saves = tracer.durations("catalog.save", ops)
        plan_self = sum(tracer.self_times("plan", ops))
        changed = sum(1 for r in records if r.result)
        return {
            "introspect.calls_per_task": tracer.calls("introspect", ops) / n,
            "introspect.ms_per_task": 1e3 * sum(tracer.durations("introspect", ops)) / n,
            "plan.self_ms_per_task": 1e3 * plan_self / n,
            "apply.ms_per_task": 1e3 * sum(tracer.durations("apply", ops)) / n,
            "plan.statements_per_task": tracer.counters.get("plan.statements", 0) / n,
            "plan.changed_ratio": changed / n,
            "catalog.load_ms": 1e3 * sum(loads) / max(len(loads), 1),
            "catalog.save_ms": 1e3 * sum(saves) / max(len(saves), 1),
            "catalog.bytes_written_per_task": tracer.counters.get("catalog.bytes_written", 0) / n,
        }


class PlaybookModel:
    """Pure-Python model of the reconcile semantics the playbook uses."""

    def __init__(self, rows: dict[str, list]):
        self.users = {u: (a, h) for u, a, h in rows["users"]}
        self.role_grants = list(rows["role_grants"])
        self.profiles = list(rows["settings_profile_elements"])
        self.quotas = {q: list(m) for q, m in rows["quotas"]}
        self.roles = {r for (r,) in rows["roles"]}
        self.grants = list(rows["grants"])

    def run(self, tasks: list[tuple[str, dict]]) -> dict:
        changed = [self.task(k, s) for _ in range(2) for k, s in tasks]
        return {"changed": changed, "catalog": self.tables()}

    def task(self, kind: str, s: dict) -> bool:
        return getattr(self, f"_{kind}")(**s)

    def _user_roles(self, u):
        return [r for x, r in self.role_grants if x == u]

    def _user(self, user, password=None, password_hash=None, roles=None,
              init_roles=False, quota="", profile="", state="present"):
        if state == "absent":
            if user not in self.users:
                return False
            del self.users[user]
            self.role_grants = [g for g in self.role_grants if g[0] != user]
            self.profiles = [p for p in self.profiles if p[0] != user]
            self.grants = [g for g in self.grants if g[0] != user]
            self.quotas = {q: [m for m in ms if m != user] for q, ms in self.quotas.items()}
            return True
        changed = False
        if user not in self.users:
            if password:
                self.users[user] = ("sha256_password", hashlib.sha256(password.encode()).hexdigest())
            else:
                self.users[user] = ("sha256_hash", password_hash)
            changed = True
        if quota and user not in self.quotas[quota]:
            self.quotas[quota] = self.quotas[quota] + [user]
            changed = True
        if profile and profile not in [p for u, p in self.profiles if u == user]:
            self.profiles = [p for p in self.profiles if p[0] != user] + [(user, profile)]
            changed = True
        roles = roles or []
        missing = [r for r in roles if r not in self._user_roles(user)]
        if missing:
            if init_roles:
                self.roles.update(roles)
            self.role_grants = [
                g for g in self.role_grants if not (g[0] == user and g[1] in roles)
            ] + [(user, r) for r in roles]
            changed = True
        return changed

    def _roles(self, grantee, roles, init_roles=False, replace_grants=False,
               revoke_grants=False):
        have = self._user_roles(grantee)
        if revoke_grants:
            gone = [r for r in roles if r in have]
            self.role_grants = [
                g for g in self.role_grants if not (g[0] == grantee and g[1] in gone)
            ]
            return bool(gone)
        has_all = all(r in have for r in roles)
        if init_roles and not has_all:
            self.roles.update(roles)
        if replace_grants or not has_all:
            keep = (lambda g: g[0] != grantee) if replace_grants else (
                lambda g: not (g[0] == grantee and g[1] in roles))
            self.role_grants = [g for g in self.role_grants if keep(g)] + [
                (grantee, r) for r in roles
            ]
            return True
        return init_roles and not has_all

    def _grants(self, grantee, grants_list, databases, tables, revoke_grants=False):
        for db in databases:
            for tb in tables:
                self.grants = [
                    g for g in self.grants
                    if not (g[0] == grantee and g[2] == db and g[3] == tb and g[1] in grants_list)
                ] + ([] if revoke_grants else [(grantee, p, db, tb) for p in grants_list])
        return True

    def tables(self) -> dict[str, list]:
        return {
            "users": sorted((u, a, h) for u, (a, h) in self.users.items()),
            "role_grants": sorted(self.role_grants),
            "settings_profile_elements": sorted(self.profiles),
            "quotas": sorted((q, tuple(m)) for q, m in self.quotas.items()),
            "roles": sorted((r,) for r in self.roles),
            "grants": sorted(self.grants),
        }


# ----------------------------------------------------------------- ingest


KV_DDL = (
    "CREATE TABLE kv (k UInt64, grp String, v Float64, ver UInt64) "
    "ENGINE = ReplacingMergeTree(ver) PARTITION BY grp ORDER BY k"
)
EV_DDL = (
    "CREATE TABLE ev (event_id UInt64, user_id UInt64, event_type String, "
    "value Float64) ENGINE = MergeTree ORDER BY (event_type, event_id)"
)
KV_FINAL = "SELECT k, grp, v, ver FROM kv FINAL"
OPTIMIZE = "OPTIMIZE TABLE kv FINAL"


class Ingest:
    """One round on a fresh warehouse with two new tables: three INSERT
    batches with an UPDATE mutation before the third and a DELETE
    mutation after it, a SELECT … FINAL read, OPTIMIZE FINAL, an
    availableNow stream ingestion of the events table and a last
    SELECT … FINAL read.

    The two CREATE TABLE statements run untimed in ``reset``: they only
    write metadata and take about 2 ms, where a scheduling hiccup alone
    moves their latency by half, and each operation weighs the same in
    the geometric mean of the round."""

    name = "ingest"
    seconds_per_round = 5.0
    OPS_PER_ROUND = 9

    def prepare(self, ctx: Ctx) -> None:
        from clickhouse_modules_spark.ddl import ChWarehouse

        self.script = gen.ingest_script(ctx.seed)
        self.inserts = [
            "INSERT INTO kv VALUES " + ", ".join(
                f"({k}, '{g}', {v!r}, {ver})" for k, g, v, ver in rows
            )
            for rows in self.script["batches"]
        ]
        m, r = self.script["update_mod"]
        self.update = f"ALTER TABLE kv UPDATE v = v * 2 WHERE k % {m} = {r}"
        m, r = self.script["delete_mod"]
        self.delete = f"ALTER TABLE kv DELETE WHERE k % {m} = {r}"
        # warm-up on a scratch warehouse
        wh = ChWarehouse(ctx.spark, os.path.join(ctx.work_dir, "wh-warmup"))
        wh.execute(KV_DDL)
        wh.execute("INSERT INTO kv VALUES (1, 'g1', 1.5, 1), (2, 'g2', 2.5, 2)")
        wh.execute("ALTER TABLE kv UPDATE v = v * 2 WHERE k % 2 = 0")
        wh.execute(KV_FINAL).write.format("noop").mode("overwrite").save()
        shutil.rmtree(wh.root, ignore_errors=True)
        self.input_rows = sum(len(b) for b in self.script["batches"]) + gen.SF01_ROWS["events"]

    def precheck(self, ctx: Ctx) -> dict:
        return {}

    def _wh_dir(self, ctx: Ctx, rnd: int) -> str:
        return os.path.join(ctx.work_dir, f"wh-round{rnd}")

    def reset(self, ctx: Ctx, rnd: int) -> None:
        from clickhouse_modules_spark.ddl import ChWarehouse

        self.wh = ChWarehouse(ctx.spark, self._wh_dir(ctx, rnd))
        self.wh.execute(KV_DDL)
        self.wh.execute(EV_DDL)

    def ops(self, ctx: Ctx, rnd: int):
        wh = self.wh
        b0, b1, b2 = self.inserts
        yield "insert", "insert b0", self._stmt(ctx, wh, "ddl.insert", b0)
        yield "insert", "insert b1", self._stmt(ctx, wh, "ddl.insert", b1)
        yield "mutation", "update", self._stmt(ctx, wh, "ddl.mutation", self.update)
        yield "insert", "insert b2", self._stmt(ctx, wh, "ddl.insert", b2)
        yield "mutation", "delete", self._stmt(ctx, wh, "ddl.mutation", self.delete)
        yield "select_final", "select final 1", self._select(ctx, wh)
        yield "optimize", "optimize", self._stmt(ctx, wh, "ddl.optimize", OPTIMIZE)
        yield "stream", "stream events", self._stream(ctx, wh)
        yield "select_final", "select final 2", self._select(ctx, wh)

    def _stmt(self, ctx: Ctx, wh, span: str, sql: str):
        def run(tag):
            tag("stmt")
            before = _files(wh.root) if ctx.tracer is not None else None
            with _span(ctx, span):
                wh.execute(sql)
            if before is not None:
                ctx.tracer.count("ddl.files_written", len(_files(wh.root) - before))

        return run

    def _select(self, ctx: Ctx, wh):
        def run(tag):
            tag("stmt")
            with _span(ctx, "ddl.select_final"):
                wh.execute(KV_FINAL).write.format("noop").mode("overwrite").save()

        return run

    def _stream(self, ctx: Ctx, wh):
        from clickhouse_modules_spark.streaming.windows import events_stream, stream_scope

        def run(tag):
            tag("stmt")
            before = _files(wh.root) if ctx.tracer is not None else None
            with _span(ctx, "streaming.ingest"):
                src = events_stream(ctx.spark, ctx.data_dir).select(
                    "event_id", "user_id", "event_type", "value"
                )
                with stream_scope(ctx.spark):
                    q = wh.stream_into("ev", src)
            if before is not None:
                ctx.tracer.count("ddl.files_written", len(_files(wh.root) - before))
                for p in q.recentProgress:
                    ctx.tracer.count("streaming.batches")
                    ctx.tracer.count("streaming.batch_ms", p["durationMs"].get("triggerExecution", 0))
                    ctx.tracer.count("streaming.input_rows", p["numInputRows"])

        return run

    def check(self, ctx: Ctx, records: list) -> None:
        """Each round's final ``kv FINAL`` against DuckDB replaying the
        same batches and mutations, and ``ev`` against the events input."""
        from clickhouse_modules_spark.ddl import ChWarehouse

        want_kv = self._model_kv()
        con = verify.duck_connect(ctx.data_dir, ["events"])
        want_ev = verify.digest(con.execute(
            "SELECT event_id, user_id, event_type, value FROM events"
        ).fetch_arrow_table())
        con.close()
        by_round: dict[int, list] = {}
        for r in records:
            by_round.setdefault(r.round, []).append(r)
        for rnd, recs in by_round.items():
            if not all(r.ok for r in recs) or len(recs) != self.OPS_PER_ROUND:
                continue
            wh = ChWarehouse(ctx.spark, self._wh_dir(ctx, rnd))
            got = verify.digest(wh.execute(KV_FINAL).toArrow())
            if got != want_kv:
                recs[-1].fail(f"kv FINAL {got} != model {want_kv}")
            got = verify.digest(wh.execute(
                "SELECT event_id, user_id, event_type, value FROM ev").toArrow())
            if got != want_ev:
                recs[-2].fail(f"ev {got} != events input {want_ev}")

    def _model_kv(self) -> dict:
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE TABLE kv (k UBIGINT, grp VARCHAR, v DOUBLE, ver UBIGINT)")
        b0, b1, b2 = self.script["batches"]
        con.executemany("INSERT INTO kv VALUES (?, ?, ?, ?)", b0 + b1)
        m, r = self.script["update_mod"]
        con.execute(f"UPDATE kv SET v = v * 2 WHERE k % {m} = {r}")
        con.executemany("INSERT INTO kv VALUES (?, ?, ?, ?)", b2)
        m, r = self.script["delete_mod"]
        con.execute(f"DELETE FROM kv WHERE k % {m} = {r}")
        out = verify.digest(con.execute(
            "SELECT k, grp, v, ver FROM kv QUALIFY row_number() OVER "
            "(PARTITION BY k ORDER BY ver DESC) = 1"
        ).fetch_arrow_table())
        con.close()
        return out

    def rows_and_bytes(self, ctx: Ctx, records: list) -> dict:
        """ingest_rows_per_s and storage_amp of the last complete round."""
        rounds = sorted({r.round for r in records})
        last = [r for r in records if r.round == rounds[-1]]
        write_s = sum(r.ms for r in last if r.kind in ("insert", "stream")) / 1e3
        disk = _du(self._wh_dir(ctx, rounds[-1]))
        return {
            "ingest_rows_per_s": self.input_rows / write_s if write_s else 0.0,
            "storage_amp": disk / self.input_bytes(ctx),
        }

    def input_bytes(self, ctx: Ctx) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        kv = pa.Table.from_pylist([
            {"k": k, "grp": g, "v": v, "ver": ver}
            for rows in self.script["batches"] for k, g, v, ver in rows
        ])
        ev = pq.read_table(
            os.path.join(ctx.data_dir, "events.parquet"),
            columns=["event_id", "user_id", "event_type", "value"],
        )
        return kv.nbytes + ev.nbytes

    def layer_metrics(self, ctx: Ctx, tracer, records: list) -> dict:
        ops = {r.idx for r in records}

        def ms(span):
            d = tracer.durations(span, ops)
            return 1e3 * sum(d) / max(len(d), 1)

        rounds = max(len({r.round for r in records}), 1)
        wh_dir = self._wh_dir(ctx, max(r.round for r in records))
        parts = [len(_files(os.path.join(wh_dir, t))) for t in ("kv", "ev")]
        batches = tracer.counters.get("streaming.batches", 0)
        stream_s = sum(tracer.durations("streaming.ingest", ops))
        return {
            "ddl.insert_ms": ms("ddl.insert"),
            "ddl.mutation_ms": ms("ddl.mutation"),
            "ddl.optimize_ms": ms("ddl.optimize"),
            "ddl.select_final_ms": ms("ddl.select_final"),
            "ddl.files_written": tracer.counters.get("ddl.files_written", 0) / rounds,
            "ddl.parts_per_table": sum(parts) / len(parts),
            "streaming.batches": batches / rounds,
            "streaming.batch_ms": tracer.counters.get("streaming.batch_ms", 0) / max(batches, 1),
            "streaming.input_rows_per_s": (
                tracer.counters.get("streaming.input_rows", 0) / stream_s if stream_s else 0.0
            ),
        }


WORKLOADS = {
    "playbook": Playbook,
    "olap": Olap,
    "ingest": Ingest,
}

"""Seeded input generators for the benchmark.

Everything the program under test sees is made here, from a seed:

- ``make_tables`` / ``ensure_tables``: the sf0.1 analytics tables (TPC-H-shaped star schema
  plus ``events``, ``documents`` and ``embeddings``) with the schemas and
  value distributions the query registry expects. The tables use a fixed
  data seed so one generated copy serves every run in a checkout.
- ``query_order``: the seeded order in which a query round runs.
- ``playbook``: a seeded security catalog and a playbook of reconcile
  tasks with a fixed mix of task kinds.
- ``ingest_script``: seeded INSERT batches and mutation predicates for the
  warehouse write path.

Only numpy/pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "v1"
DATA_SEED = 42

# Row counts of the sf0.1 tables.
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _days(rng, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = _epoch_us(*start), _epoch_us(*end)
    days = rng.integers(0, (hi - lo) // _DAY_US + 1, n)
    return pa.array(lo + days * _DAY_US, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """The analytics tables as Arrow tables (deterministic per seed)."""
    rng = np.random.default_rng(seed)
    n = SF01_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, no, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, (1995, 1, 2), (2001, 11, 4)),
    })
    t["events"] = _events(rng, n["events"])
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _events(rng, n: int) -> pa.Table:
    """Events with increasing ids and timestamps over January 2024."""
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; ~5 % are near-duplicates of an earlier
    document (one to three words replaced) and ~0.2 % exact copies, so
    the dedup operators have work to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors around ``labels`` cluster centres; ~2 % are
    near-copies of an earlier vector."""
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vec = centres[label] + rng.normal(scale=1.2, size=(n, dim))
    for i in np.nonzero(rng.random(n) < 0.02)[0]:
        if i > 0:
            j = int(rng.integers(0, i))
            vec[i] = vec[j] + rng.normal(scale=1e-3, size=dim)
            label[i] = label[j]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def ensure_tables(cache_root: str) -> str:
    """Generate the sf0.1 tables once per checkout; return their dir."""
    out = os.path.join(cache_root, f"data-{DATA_VERSION}-seed{DATA_SEED}", "sf0.1")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    os.replace(tmp, out)
    return out


# ------------------------------------------------------------ query rounds


def query_order(names: list[str], seed: int) -> list[str]:
    """The seeded order of one query round."""
    order = list(names)
    random.Random(f"order:{seed}").shuffle(order)
    return order


# ---------------------------------------------------------------- playbook

N_USERS, N_ROLES, N_QUOTAS, N_PROFILES = 300, 20, 10, 5
DATABASES = ("analytics", "staging", "ops")
PRIVILEGES = ("SELECT", "INSERT", "ALTER", "SHOW", "dictGet", "OPTIMIZE")


def playbook(seed: int) -> tuple[dict[str, list], list[tuple[str, dict]]]:
    """A seeded catalog (rows per system table) and a playbook.

    The playbook has five tasks in a fixed order, with seeded names and
    values: one user to create (with quota, profile and roles),
    one absent user that does not exist, one user already in its desired
    state, one role set already granted and one privilege grant (even
    seeds) or revoke (odd seeds). The first pass converges the catalog;
    a re-run changes nothing except the privilege task, which the
    reference emits unconditionally.
    """
    rng = random.Random(f"playbook:{seed}")
    users = [f"user_{i:03d}" for i in range(N_USERS)]
    roles = [f"role_{i:02d}" for i in range(N_ROLES)]
    quotas = [f"quota_{i}" for i in range(N_QUOTAS)]
    profiles = [f"profile_{i}" for i in range(N_PROFILES)]

    user_rows, role_grants, profile_rows, grants = [], [], [], []
    quota_members: dict[str, list[str]] = {q: [] for q in quotas}
    state: dict[str, dict] = {}
    for u in users:
        auth = rng.choice(["sha256_password", "sha256_hash"])
        user_rows.append((u, auth, "%064x" % rng.getrandbits(256)))
        granted = rng.sample(roles, rng.randint(1, 3))
        role_grants.extend((u, r) for r in granted)
        quota = rng.choice(quotas)
        quota_members[quota].append(u)
        profile = rng.choice(profiles)
        profile_rows.append((u, profile))
        for _ in range(rng.randint(0, 2)):
            grants.append((u, rng.choice(PRIVILEGES), rng.choice(DATABASES), "*"))
        state[u] = {"roles": granted, "quota": quota, "profile": profile}
    catalog = {
        "users": user_rows,
        "role_grants": role_grants,
        "settings_profile_elements": profile_rows,
        "quotas": [(q, quota_members[q]) for q in quotas],
        "roles": [(r,) for r in roles],
        "grants": grants,
    }

    kept, roles_user, grant_user = rng.sample(users, 3)
    new_user = f"new_user_{rng.randrange(10**6):06d}"
    # The order is not seeded: a task's latency depends on where it runs
    # in the pass (the first one pays for cold caches), so a seeded order
    # would add seed-to-seed spread to every latency metric.
    tasks: list[tuple[str, dict]] = [
        ("user", {
            "user": new_user,
            "password": f"pw-{rng.getrandbits(64):016x}",
            "quota": rng.choice(quotas),
            "profile": rng.choice(profiles),
            "roles": rng.sample(roles, 2),
            "init_roles": True,
        }),
        ("user", {"user": f"ghost_{rng.randrange(10**6):06d}", "state": "absent"}),
        ("user", {
            "user": kept,
            "password_hash": "%064x" % rng.getrandbits(256),
            "quota": state[kept]["quota"],
            "profile": state[kept]["profile"],
            "roles": list(state[kept]["roles"]),
        }),
        ("roles", {
            "grantee": roles_user, "roles": list(state[roles_user]["roles"]),
            "init_roles": True,
        }),
        ("grants", {
            "grantee": grant_user,
            "grants_list": rng.sample(PRIVILEGES, 2),
            "databases": [rng.choice(DATABASES)],
            "tables": rng.sample(["events", "orders", "metrics", "logs"], 2),
            # grant on even seeds, revoke on odd ones: same statement count
            "revoke_grants": seed % 2 == 1,
        }),
    ]
    return catalog, tasks


# ------------------------------------------------------------------ ingest

# Rows per INSERT batch; the seed permutes them and draws their keys.
INSERT_BATCH_ROWS = (200, 600, 1200)
KEY_SPACE = 3000


def ingest_script(seed: int) -> dict:
    """Seeded inputs of one ingest round: INSERT batches over a shared
    key space (so later batches replace earlier versions) and the
    predicates of one UPDATE and one DELETE mutation."""
    rng = np.random.default_rng([seed, 7])
    sizes = list(rng.permutation(INSERT_BATCH_ROWS))
    batches = []
    ver = 0
    for size in sizes:
        keys = rng.choice(KEY_SPACE, int(size), replace=False)
        rows = []
        for k in keys:
            ver += 1
            rows.append((int(k), f"g{int(k) % 8}", round(float(rng.uniform(0, 1000)), 2), ver))
        batches.append(rows)
    return {
        "batches": batches,
        "update_mod": (7, int(rng.integers(0, 7))),
        "delete_mod": (11, int(rng.integers(0, 11))),
    }

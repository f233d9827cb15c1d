"""Synthesize a larger scale factor from sf0.1 by key-offset replication.

Purpose: measured evidence for the scaling claims — run
tools/run_sf_sweep.py against the generated directory and compare
per-query wall time vs sf0.1. The
driver's fixtures stop at sf0.1; this produces ~sf1 (10 copies) in /tmp.

Replication rules (FK-consistent, workload-linear):
- region/nation: fixed-size dims — copied unchanged.
- customer/supplier/part/orders/lineitem/events: copy k offsets every
  key column by k * (max_key + 1) so joins stay 1:1 with the original
  fan-out (revenue per order, events per user etc. are preserved).
- documents: every word in copy k>0 gets a "~k" suffix → token sets of
  different copies are DISJOINT, so near-dup pair counts scale ×copies
  (linear), not ×copies² (exact duplicates would make every dedup query
  superlinear for data reasons, not engine reasons).
- embeddings: copy k>0 gets fresh N(0,1) vectors (seeded by k) matching
  the original distribution — no artificial cos≈1 pairs.

Usage: python tools/make_scale.py [copies] [out_dir]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# key-space owner per offset group: every FK offsets by ITS target's base
OFFSET_BASE = {
    "c_custkey": "customer.c_custkey",
    "s_suppkey": "supplier.s_suppkey",
    "p_partkey": "part.p_partkey",
    "o_orderkey": "orders.o_orderkey",
    "o_custkey": "customer.c_custkey",
    "l_orderkey": "orders.o_orderkey",
    "l_partkey": "part.p_partkey",
    "l_suppkey": "supplier.s_suppkey",
    "event_id": "events.event_id",
    "user_id": "customer.c_custkey",  # events.user_id joins c_custkey
    "doc_id": "documents.doc_id",
    "vec_id": "embeddings.vec_id",
}


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_scale/sf1"
    os.makedirs(out, exist_ok=True)

    tables = {t: pq.read_table(f"{SRC}/{t}.parquet") for t in KEY_COLS}
    bases = {}
    for ref in set(OFFSET_BASE.values()):
        t, c = ref.split(".")
        bases[ref] = int(pc.max(tables[t][c]).as_py()) + 1

    for name in ("region", "nation"):
        pq.write_table(pq.read_table(f"{SRC}/{name}.parquet"), f"{out}/{name}.parquet")

    rng_dim = None
    emb_tbl = tables["embeddings"]
    if "embeddings" in tables:
        first = emb_tbl["embedding"][0].as_py()
        rng_dim = len(first)

    for name, keys in KEY_COLS.items():
        src = tables[name]
        # STREAMED write, one row group per copy: copies=1000 (sf100)
        # would need the whole table in memory under concat_tables;
        # the incremental writer keeps the peak at one copy (~15 MB)
        writer = pq.ParquetWriter(f"{out}/{name}.parquet", src.schema)
        total = 0
        for k in range(copies):
            t = src
            for col in keys:
                base = bases[OFFSET_BASE[col]]
                if k:
                    t = t.set_column(
                        t.schema.get_field_index(col),
                        col,
                        pc.add(t[col], k * base),
                    )
            if name == "documents" and k:
                suffixed = pc.replace_substring_regex(
                    t["text"], r"(\S+)", rf"\1~{k}"
                )
                t = t.set_column(
                    t.schema.get_field_index("text"), "text", suffixed
                )
            if name == "embeddings" and k:
                rng = np.random.RandomState(1000 + k)
                fresh = rng.randn(len(t), rng_dim).astype(np.float32)
                emb = pa.array(list(fresh), type=t["embedding"].type)
                t = t.set_column(
                    t.schema.get_field_index("embedding"), "embedding", emb
                )
            writer.write_table(t.cast(src.schema))
            total += len(t)
        writer.close()
        print(f"{name}: {len(src)} -> {total} rows", flush=True)


if __name__ == "__main__":
    main()

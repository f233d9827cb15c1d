"""Connected-components resolution of duplicate pairs into clusters.

Near-dup detection (MinHash / SimHash / ngram banding — operators.dedup)
emits PAIRS; an actual corpus dedup needs per-document decisions: group
the pairs into duplicate CLUSTERS and keep one canonical document per
cluster. Pairs form a graph; clusters are its connected components.
This is the reference pipeline's missing last mile — the reference
(clickhouse_users.py:192-257 analog: apply-side set reconciliation)
resolves memberships client-side; here the resolution itself is
distributed.

Algorithm: min-label propagation WITH pointer jumping (the shortcut
step of Shiloach-Vishkin / the hash-to-min family, Rastogi et al.
"Finding Connected Components in MapReduce"). Every node starts
labeled with its own id; each round

1. propagate: l(u) ← min(l(u), min over neighbors l(v)) — one
   edges⋈labels join + groupBy-min;
2. shortcut ×2: l(u) ← l(l(u)) — a labels-self-join; every label is
   itself a node id, so chasing the pointer twice contracts label
   chains geometrically.

Converged when no label changes. Plain propagation needs rounds =
graph diameter — a pathological 10⁶-long dup chain at 100 TB would be
10⁶ shuffles; the shortcut steps contract the distance-to-minimum by
~4× per round, giving O(log d) rounds (chain of 4096 converges in 6
rounds — pinned in tests/test_cluster.py). Near-dup clusters from
banded candidate joins are star/clique-shaped (diameter ≤ ~4) and
converge in 2-3 rounds either way; the shortcut is the insurance that
adversarial chain-shaped graphs stay shuffle-bounded.

100 TB notes:
- Each round is hash-shuffles on node id — the same partitioning every
  round, so AQE coalesces consistently; no broadcast (labels table is
  O(nodes)).
- The edge list is checkpointed ONCE up front (it is re-read every
  round; without this the lineage re-plans the upstream candidate join
  per round).
- Label state is checkpointed per round: truncates a lineage that
  would otherwise grow linearly in rounds and O(2^rounds) in planning.
- Convergence detection exploits monotonicity: every label update is a
  strict DECREASE, so the label sum strictly decreases until the fixed
  point — one aggregate scan of the (already checkpointed) labels per
  round, no comparison join. Summed as DECIMAL(38,0): at 10^12 nodes
  with 64-bit ids a LONG sum would overflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_modules_spark.operators.materialize import materialize


def _driver_union_find(
    spark, pairs: list[tuple[int, int]], id_type
) -> DataFrame:
    """Union-find over a collected edge list; labels = component min.

    ``id_type`` is the Spark DataType of the node-id columns: the empty
    pair set must still return a correctly-typed (id, cluster_id) frame
    (schema inference on [] raises), and a non-empty one must not
    re-infer a different type than the distributed path would emit.
    """
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("id", id_type, False),
            StructField("cluster_id", id_type, False),
        ]
    )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(x, find(x)) for x in parent]
    return spark.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(id, cluster_id) for every node in ``edges``; cluster_id = min
    node id reachable in the undirected graph.

    Size-adaptive: an edge set at or under ``driver_threshold`` rows is
    collected and solved with union-find on the driver, exactly the
    bounded-driver-step pattern the IVF coarse quantizer uses. The
    threshold bounds DRIVER PYTHON HEAP, not raw edge bytes — a
    collected PySpark Row costs ~1 KB of Python objects, so 100k edges
    is ~100 MB worst case; the probe collects at most threshold+1 rows
    either way. Iterative label propagation
    has a hard per-round floor of several Spark jobs — for the
    star-shaped dup graphs the pipeline emits, that floor WAS the whole
    cost (measured 4.6 s for 10k edges). Above the threshold the
    distributed min-label + pointer-jumping loop below runs unchanged;
    identical output either way (component min labels).
    """
    # Both paths must agree on the awkward inputs or behavior would
    # diverge across the driver_threshold boundary: mismatched src/dst
    # types are rejected up front (the driver path would type the
    # output from src alone; the distributed union would silently
    # coerce), and null-endpoint edges are dropped in BOTH paths (a
    # null never equi-joins in the distributed loop, so it can never
    # join a component — the driver path now matches that).
    s_type = edges.schema[src].dataType
    d_type = edges.schema[dst].dataType
    if s_type != d_type:
        raise ValueError(
            f"connected_components: {src} is {s_type.simpleString()} but "
            f"{dst} is {d_type.simpleString()} — cast the edge columns "
            "to a common type first"
        )
    edges = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    # ONE bounded job decides the path AND fetches the edges for the
    # fast path: limit(threshold+1) caps driver memory, and a separate
    # count() would recompute the (possibly expensive) upstream
    # candidate DAG a second time for the collect.
    probe = edges.select(src, dst).limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        return _driver_union_find(
            edges.sparkSession, [(r[0], r[1]) for r in probe], s_type
        )
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # materialize (knob: operators/materialize.py): sym is read every
    # iteration; labels is re-derived per round — unbounded lineage
    # without pinning
    sym = materialize(sym)
    labels = materialize(
        sym.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = label_sum(labels)
    converged = False
    for _round in range(max_iter):
        # 1. propagate: min over own + neighbors' labels
        nbr = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, labels["id"] == nbr["a"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
        )
        # 2. shortcut ×2 (pointer jumping): l(u) ← l(l(u)). Sound
        # because every label is the id of a node in u's component
        # (labels only ever move to reachable nodes' ids), so the
        # composed label is too; monotone because l(l(u)) ≤ l(u).
        # Contracts label-chain length geometrically → O(log diameter)
        # rounds instead of O(diameter). The mapping join is on the
        # (small) labels table, not the edge set.
        #
        # ADAPTIVE: skipped for the first two rounds. Near-dup graphs
        # from banded candidate joins are star/clique-shaped and
        # converge in round 1 (detected in round 2) on propagation
        # alone — paying 2 extra self-joins per round tripled the join
        # count of the common case for zero saved rounds (measured
        # +12% on q_dedup_cluster). A graph still unconverged after
        # round 2 has diameter > 2, i.e. actual chains — from there
        # the shortcut runs every round and the O(log d) bound holds
        # with a +2 additive constant (4096-chain pinned in
        # tests/test_cluster.py).
        for _j in range(2 if _round >= 2 else 0):
            mapping = labels.select(
                F.col("id").alias("__mid"), F.col("label").alias("__mlabel")
            )
            labels = (
                labels.join(mapping, labels["label"] == mapping["__mid"])
                .select("id", F.col("__mlabel").alias("label"))
            )
        labels = materialize(labels)
        cur_sum = label_sum(labels)
        if cur_sum == prev_sum:  # updates only ever DECREASE labels
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # returning unconverged labels would be a SILENT wrong answer
        # (some nodes still carry a non-minimal component id)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            f"raise max_iter — graph diameter exceeds it"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def resolve_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-document dedup decision: (id, cluster_id, cluster_size,
    is_canonical). Docs in no pair are their own singleton cluster;
    the canonical survivor of each cluster is its min id."""
    cc = connected_components(pairs, src=id_a, dst=id_b).withColumnRenamed(
        "id", id_col
    )
    assigned = (
        docs.select(id_col)
        .join(cc, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )
    return assigned.select(
        id_col,
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )

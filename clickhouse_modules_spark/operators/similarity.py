"""Similarity search over embedding columns (array<float>).

Two paths:

- **brute-force cosine top-k** (baseline, oracle-checkable): dot product
  against a broadcast query vector via zip_with + aggregate — one scan,
  zero shuffle, TakeOrdered for the top-k. Exact.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures
  partition vectors into buckets; a query probes only its own bucket
  (optionally multi-probe neighbors at Hamming distance 1). Candidate
  set shrinks ~2^bits×; recall is tested against brute force.

100 TB notes: brute force is a full scan per query — fine for batch
scoring (it's embarrassingly parallel, no shuffle), wrong for
interactive lookup. The LSH table is computed once (one narrow pass),
persisted partitioned BY bucket so a probe is a partition-pruned read.
Cross-join of two big embedding sets is never done: pairs always come
from bucket equi-joins.

Embedding kernels stay JVM-side: zip_with/aggregate over array<float>
are codegen'd; no pandas_udf is needed for dot products. (A pandas_udf
variant was benchmarked and loses below ~4k dims due to Arrow transfer.)
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _vec_sql(vec: Sequence[float]) -> str:
    """Constant vector as ONE SQL array literal.

    Building the same array with 64 ``F.lit`` calls costs 64 py4j round
    trips PER USE — measured ~3 s of driver time for the 64-plane LSH
    expressions. A single ``F.expr`` parse is ~1 ms.
    """
    return "array(" + ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in vec) + ")"


def _dot_sql(emb_col: str, vec: Sequence[float]) -> str:
    """embedding · constant, accumulated in double (SQL-string form)."""
    return (
        f"aggregate(zip_with({emb_col}, {_vec_sql(vec)}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine_to_query(
    emb_col: str, query_vec: Sequence[float], out: str = "cosine"
) -> F.Column:
    """Cosine(embedding, constant query vector) as one JVM expression.

    Elements are cast to double BEFORE multiply/accumulate so the result
    is reproducible against any double-precision oracle (float32
    accumulation would drift).
    """
    q = [float(x) for x in query_vec]
    qnorm = float(np.sqrt(np.sum(np.asarray(q, dtype=np.float64) ** 2)))
    norm_sql = (
        f"sqrt(aggregate({emb_col}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    return F.expr(
        f"({_dot_sql(emb_col, q)}) / ({norm_sql} * CAST({qnorm!r} AS DOUBLE))"
    ).alias(out)


def cosine_topk(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    orderBy().limit(k) plans as TakeOrderedAndProject: per-partition
    heaps, driver merges k·P candidates — no global sort, no shuffle.
    """
    scored = df.select(
        F.col(id_col),
        F.round(cosine_to_query(emb_col, query_vec), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def hyperplane_lsh_params(
    threshold: float,
    recall: float = 0.99,
    max_bands: int = 64,
    max_planes: int = 1024,
    bits_choices: tuple[int, ...] = (24, 20, 16, 12, 8),
) -> tuple[int, int]:
    """Derive random-hyperplane LSH ``(bits, bands)`` from the cosine
    threshold instead of pinning constants.

    Theory: two vectors at cosine s agree on one sign bit with
    probability p = 1 − arccos(s)/π, so a b-bit band collides with
    p^b and the miss-all probability over k bands is (1 − p^b)^k.
    We pick the LARGEST bit width (fewest false candidates — random
    pairs collide at 0.5^b per band) whose recall-derived band count
    fits the plane budget.

    Weak thresholds (≲0.6) are not LSH-able: the recall target would
    need thousands of bands, each admitting a quadratic slice of
    random pairs. The fallback (16 bits × 8 bands) bounds the
    candidate rate to ~1e-4 of pairs — candidate-boundedness FIRST,
    because at 100 TB an unbounded candidate set is a job that never
    finishes, while sub-threshold recall on weak pairs is a tuning
    choice. At a real near-dup threshold (cos ≥ 0.95) the derivation
    lands at 16 bits × 23 bands: ≥99% recall, ~3.5e-4 random
    collision rate (tests/test_pipeline.py pins this).
    """
    import math

    p_bit = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    for bits in bits_choices:
        p_band = p_bit**bits
        if not 0.0 < p_band < 1.0:
            continue
        bands = math.ceil(math.log(1.0 - recall) / math.log(1.0 - p_band))
        if (
            bands <= max_bands
            and bits * bands <= max_planes
            # expected candidate rate on RANDOM pairs must stay tiny —
            # this is the constraint that keeps the join linear-ish; a
            # config meeting recall by brute band count fails it
            and bands * 0.5**bits <= 2e-3
        ):
            return bits, bands
    return 16, 8


def signature_buckets_udf(planes: np.ndarray, n_tables: int, n_bits: int):
    """Vectorized LSH bucket assignment: one Arrow-batched Pandas UDF
    computing, per row, the bucket id in each of ``n_tables`` tables,
    table id encoded in the high bits (``t << n_bits | bucket``).

    Why a UDF here when every other kernel is JVM-side: Spark's
    higher-order functions (transform/aggregate/zip_with) are
    CodegenFallback — interpreted per element — so 64-128 hyperplane dot
    products per row cost ~8k boxed evaluations/row (measured 7.5 s for
    100k×64-dim at sf0.1). One numpy matmul over an Arrow batch does the
    same work in native BLAS: measured ~20× faster. The float64 matmul
    uses pairwise summation vs the oracle's sequential fold — a sign flip
    would need |dot| ≲ 1e-13, never observed on the fixtures.

    Returns a UDF: array<float> embedding -> array<int> encoded buckets.
    """
    from pyspark.sql.functions import pandas_udf

    proj = np.ascontiguousarray(planes.astype(np.float64).T)  # (dim, T*B)
    weights = 1 << np.arange(n_bits)
    table_tag = np.arange(n_tables) << n_bits

    @pandas_udf("array<int>")
    def buckets(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (mat @ proj) > 0.0  # (batch, T*B)
        bk = bits.reshape(len(mat), n_tables, n_bits) @ weights + table_tag
        return pd.Series(list(bk.astype(np.int32)))

    return buckets


def cosine_pairs_udf():
    """Vectorized cosine(a, b) over pair rows: Arrow-batched numpy —
    row-wise dot / norms in one einsum per batch. Used for verifying LSH
    candidate pairs, where the interpreted zip_with/aggregate fold costs
    ~64 boxed evaluations per element per pair."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.vstack(a.to_numpy()).astype(np.float64)
        mb = np.vstack(b.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(dots / norms)

    return cos


def let_bound(value: F.Column, body) -> F.Column:
    """Evaluate ``value`` ONCE per row and feed it to ``body`` as a bound
    lambda variable: ``element_at(transform(array(value), v -> body(v)), 1)``.

    Catalyst has no common-subexpression elimination across a collapsed
    Project/Filter: referencing an expensive derived column N times
    inlines and recomputes it N times (measured: the ANN filter inlined a
    128-dot-product bit array 16× — a 2.6 MB optimized plan, 6× slower).
    A higher-order-function lambda variable IS evaluated once, so this is
    the engine's let-expression.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def signature_bits(
    emb_col: str, planes: np.ndarray, out: str = "bits"
) -> F.Column:
    """All hyperplane sign bits in one pass: array<int>, bit i =
    (embedding · plane_i) > 0.

    The plane matrix enters the plan as ONE nested-array Literal
    (``F.lit`` of a nested list) — a single JVM object, no per-plane
    literal nodes. The alternative — one 64-double array literal per dot
    product — put thousands of Literal nodes in the plan (seconds of
    parse/codegen at 64-128 planes, and expressions that big fall out of
    whole-stage codegen). ``from_json`` of a literal string is NOT
    foldable — it re-parses per row (measured 5× slower than this).

    Reference the result through :func:`let_bound` (or a materialization
    barrier) when deriving several bucket keys — a plain withColumn gets
    collapsed into downstream expressions and recomputed per reference.
    """
    planes_lit = F.lit([[float(x) for x in row] for row in planes])
    dot = lambda p: F.aggregate(  # noqa: E731
        F.zip_with(F.col(emb_col), p, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.transform(
        planes_lit, lambda p: F.when(dot(p) > 0.0, 1).otherwise(0)
    ).alias(out)


def make_planes(dim: int, n_bits: int = 8, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((n_bits, dim))


def ivf_train(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    n_clusters: int = 16,
    seed: int = 42,
    max_train: int = 4096,
    n_iter: int = 10,
) -> np.ndarray:
    """Train an IVF coarse quantizer: spherical k-means on a bounded,
    deterministic sample (the FAISS recipe — quantizers train on a
    sample, never the full corpus).

    Sample = the ``max_train`` rows with the smallest ``xxhash64(id)``
    (a deterministic uniform draw that needs no Date/rand and is stable
    across partitionings — TakeOrdered, no full sort). Lloyd iterations
    run driver-side in numpy: the training matrix is ≤ 4096×dim
    regardless of corpus size, so this never becomes a distributed job.

    Returns L2-normalized centroids, shape (n_clusters, dim).
    """
    rows = (
        df.select(F.col(emb_col), F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h", id_col)
        .limit(max_train)
        .collect()
    )
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(n_iter):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):  # empty cluster keeps its old centroid
                m = members.sum(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_assign_udf(centroids: np.ndarray):
    """Vectorized IVF list assignment: row -> argmax cosine to centroid.

    One numpy matmul per Arrow batch (same rationale as
    signature_buckets_udf: interpreted HOF dot products are ~20× slower).
    """
    from pyspark.sql.functions import pandas_udf

    cents = np.ascontiguousarray(centroids.astype(np.float64).T)  # (dim, C)

    @pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ cents, axis=1).astype(np.int32))

    return assign


def ivf_topk(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``n_probe`` inverted lists
    whose centroids are closest to the query, brute-force only those.

    Complements ann_topk_lsh: IVF adapts its partitions to the data
    distribution (k-means cells) where LSH uses data-oblivious random
    hyperplanes — on clustered corpora IVF probes far fewer candidates
    for the same recall.

    100 TB: assignment is a narrow scan predicate here (scan-shaped,
    zero shuffle); in a real deployment the assignment column is
    precomputed once and the table written partitioned BY list id, so a
    probe is a partition-pruned read of n_probe/n_clusters of the data.
    Centroids train on a fixed-size sample — driver cost is O(1) in
    corpus size.
    """
    cents = ivf_train(df, emb_col, id_col, n_clusters, seed)
    q = np.asarray(list(query_vec), dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    probe = [int(c) for c in np.argsort(-(cents @ q))[:n_probe]]
    cand = df.filter(ivf_assign_udf(cents)(F.col(emb_col)).isin(probe))
    scored = cand.select(
        F.col(id_col),
        F.round(cosine_to_query(emb_col, query_vec), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def ann_topk_lsh(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket (plus its Hamming-1
    ring) in each of ``n_tables`` INDEPENDENT hyperplane tables.

    Single-table LSH recalls poorly when true neighbors are only weakly
    similar (a cos-0.4 neighbor flips each of 8 sign bits with p ≈ 0.37);
    multiple independent tables give each neighbor n_tables chances:
    1 - (1 - p_probe)^L. Same output schema as cosine_topk (id, cosine);
    recall vs exact brute force is asserted in tests/test_pipeline.py.

    100 TB: the candidate filter is a narrow scan predicate (OR over L
    literal bucket sets) — zero shuffle, codegen'd; in a real deployment
    the table is written partitioned by (table_id, bucket) and a probe is
    a partition-pruned read of L·(bits+1) buckets.
    """
    q = np.asarray(list(query_vec), dtype=np.float64)
    table_planes = [make_planes(q.shape[0], n_bits, seed + t) for t in range(n_tables)]
    all_planes = np.vstack(table_planes)

    # Vectorized bucket assignment (one numpy matmul per Arrow batch);
    # the probe set is the query's bucket ± one bit in every table,
    # table-tagged so ONE arrays_overlap covers all 16 tables.
    buckets = signature_buckets_udf(all_planes, n_tables, n_bits)
    probe_set = []
    for t, planes in enumerate(table_planes):
        q_bucket = int(sum((1 << i) for i in range(n_bits) if planes[i] @ q > 0))
        ring = [q_bucket] + [q_bucket ^ (1 << i) for i in range(n_bits)]
        probe_set.extend((t << n_bits) | b for b in ring)

    cond = F.arrays_overlap(
        buckets(F.col(emb_col)), F.lit(probe_set).cast("array<int>")
    )
    scored = df.filter(cond).select(
        F.col(id_col),
        F.round(cosine_to_query(emb_col, query_vec), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


# ---------------------------------------------------------------------------
# Persisted ANN index: build once, probe with a partition-pruned read.
#
# ann_topk_lsh / ivf_topk filter a full scan per query — right for batch
# scoring, wrong for repeated interactive lookups. The persisted form is
# the 100 TB posture those docstrings describe: the corpus is written
# ONCE, exploded per LSH table and PARTITIONED BY the encoded bucket id,
# so a probe reads only L·(bits+1) directories (Hamming-1 multi-probe)
# out of L·2^bits — Spark's partition pruning turns the bucket predicate
# into a directory listing, no data files outside the probed buckets are
# opened (pinned via input_file_name in tests/test_similarity_index.py).
# ---------------------------------------------------------------------------


def derive_n_bits(
    n_rows: int, lo: int = 4, hi: int = 8, per_bucket: int = 8
) -> int:
    """Corpus-size-derived bucket width: ⌈log₂(n/per_bucket)⌉ clamped
    to [``lo``, ``hi``].

    Same formula as the embedding-near-dup pipeline's starvation fix
    (queries/pipeline.py): a FIXED bit width starves buckets on small
    corpora (2^bits ≫ n → singleton buckets → zero candidate recall)
    and under-partitions huge ones."""
    import math

    return max(
        lo,
        min(hi, math.ceil(math.log2(max(n_rows, 2 * per_bucket) / per_bucket))),
    )


def index_lsh_params(
    n_rows: int,
    target_cos: float = 0.5,
    recall: float = 0.9,
    max_tables: int = 32,
    n_bits: int | None = None,
) -> tuple[int, int]:
    """Derive the persisted-index ``(n_bits, n_tables)`` jointly from
    corpus size and the weakest neighbor cosine the probe must recall.

    - ``n_bits``: ~1000 rows per bucket, capped at 12 (each extra bit
      doubles the directory count: 12 bits × 32 tables = 128k dirs is
      the sane filesystem ceiling; BASELINE.md's 5M-vector measurement
      shows 12 bits beating brute force 2× where the 8-bit pair-mining
      width only reached parity).
    - ``n_tables``: from the analytic Hamming-≤1 probe hit rate
      p = p_bit^b + b·p_bit^(b-1)·(1-p_bit) (p_bit = 1 − arccos(s)/π):
      enough independent tables that 1−(1−p)^L ≥ ``recall``, capped at
      ``max_tables`` (probe bytes scale linearly in L).
    """
    import math

    bits = (
        n_bits
        if n_bits is not None
        else derive_n_bits(n_rows, lo=4, hi=12, per_bucket=1000)
    )
    p_bit = 1.0 - math.acos(min(max(target_cos, -1.0), 1.0)) / math.pi
    p_probe = p_bit**bits + bits * p_bit ** (bits - 1) * (1.0 - p_bit)
    if p_probe >= 1.0:
        return bits, 1
    tables = math.ceil(math.log(1.0 - recall) / math.log(1.0 - p_probe))
    return bits, max(1, min(max_tables, tables))


def build_lsh_index(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    path: str,
    n_bits: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
    target_cos: float = 0.5,
    recall: float = 0.9,
) -> None:
    """Write a persisted random-hyperplane LSH index under ``path``.

    Layout (all Spark-native parquet — works on any Hadoop FS):

    - ``{path}/meta``: one row (n_bits, n_tables, seed, dim, id/emb col
      names) — everything a probe needs to regenerate the planes.
    - ``{path}/data``: (id, emb) exploded once per table, partitioned by
      ``bucket`` = ``table_id << n_bits | bucket_bits``.

    ``n_bits=None`` (default) derives BOTH parameters from the corpus
    via :func:`index_lsh_params` (bucket width from size targeting ~1k
    rows/bucket up to 12 bits; table count from the analytic recall
    bound at ``target_cos``) — the derivation the 5M-vector measurement
    in BASELINE.md validated. ``n_tables=None`` with an explicit
    ``n_bits`` derives only the table count for that width. Pass ints
    to pin either.

    Storage cost is n_tables× the corpus (every LSH table holds every
    row) — the classic multi-table trade: more tables, more recall, more
    storage, same probe latency. The write shuffles by bucket first so
    each partition directory is one task's output, not one file per
    input task (small-files avoidance at scale).

    Meta is written BEFORE data so a concurrent probe of a FRESH path
    never finds data without its describing meta (it fails loudly on
    the missing data dir instead). Rebuilding IN PLACE is not atomic —
    a probe racing an in-place rebuild can pair new meta with old data;
    build to a fresh path and swap the reference for zero-downtime
    rebuilds.
    """
    first = df.select(emb_col).first()
    if first is None:
        raise ValueError(
            "build_lsh_index: input DataFrame is empty — nothing to index"
        )
    dim = len(first[0])
    if n_bits is None or n_tables is None:
        d_bits, d_tables = index_lsh_params(
            df.count(), target_cos=target_cos, recall=recall, n_bits=n_bits
        )
        n_bits = d_bits
        if n_tables is None:
            n_tables = d_tables
    meta = df.sparkSession.createDataFrame(
        [(n_bits, n_tables, seed, dim, id_col, emb_col)],
        "n_bits int, n_tables int, seed int, dim int, "
        "id_col string, emb_col string",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    all_planes = np.vstack(
        [make_planes(dim, n_bits, seed + t) for t in range(n_tables)]
    )
    buckets = signature_buckets_udf(all_planes, n_tables, n_bits)
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).alias("emb"),
        F.explode(buckets(F.col(emb_col))).alias("bucket"),
    )
    (
        exploded.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/data")
    )


def lsh_probe_set(
    query_vec: Sequence[float],
    dim: int,
    n_bits: int,
    n_tables: int,
    seed: int,
    multi_probe: bool = True,
) -> list[int]:
    """Encoded bucket ids a query must read: its own bucket per table,
    plus the Hamming-1 ring when ``multi_probe`` — at most
    ``n_tables · (n_bits + 1)`` ids. Planes regenerate from the seed, so
    the probe set is a pure function of the index metadata."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    probe_set: list[int] = []
    for t in range(n_tables):
        planes = make_planes(dim, n_bits, seed + t)
        q_bucket = int(
            sum((1 << i) for i in range(n_bits) if planes[i] @ q > 0)
        )
        ring = [q_bucket] + (
            [q_bucket ^ (1 << i) for i in range(n_bits)]
            if multi_probe
            else []
        )
        probe_set.extend((t << n_bits) | b for b in ring)
    return probe_set


def _existing_partition_paths(
    spark, base: str, col: str, values: Sequence[int]
) -> list[str]:
    """The ``{base}/{col}={v}`` directories that actually exist, via ONE
    driver-side listStatus of ``base`` (works on any Hadoop FS).

    Why this exists: ``spark.read.parquet(base).filter(col.isin(...))``
    does prune the SCAN, but first DISCOVERS every partition — and past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32
    dirs) that discovery is a distributed LISTING JOB with one task per
    directory. Measured at 500k vectors / 4096 bucket dirs: 7.7 s per
    probe, 11× slower than brute force — the listing, not the read, was
    the entire cost. Passing the probed paths explicitly (+ basePath)
    keeps discovery at O(probed) driver-side RPCs. A probed bucket can
    legitimately be empty (Hamming-ring neighbors) — missing dirs are
    skipped, not errors.

    Existence goes dir-by-dir via ``fs.exists`` — NOT one listStatus of
    ``base`` and a set lookup: iterating a J×py4j FileStatus array
    costs ~0.3 ms per element, so a 32k-dir index made the "one cheap
    listing" 10 s of py4j round trips (measured). O(probed) exists
    calls are bounded by the probe set regardless of index width."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(base).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    out = []
    for v in values:
        p = f"{base}/{col}={v}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(p)):
            out.append(p)
    return out


def _any_partition_dir(spark, base: str, col: str) -> str:
    """One existing ``{col}=*`` child of ``base`` (schema donor for
    typed-empty results) — globStatus + element 0, constant py4j
    traffic however wide the index is."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{base}/{col}=*")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    st = fs.globStatus(jpath)
    if st is None or len(st) == 0:
        raise ValueError(f"no {col}= partition directories under {base}")
    return st[0].getPath().toString()


def probe_lsh_index(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    multi_probe: bool = True,
) -> DataFrame:
    """Top-k by cosine against a :func:`build_lsh_index` index, reading
    ONLY the query's buckets (± the Hamming-1 ring per table when
    ``multi_probe``) — at most ``n_tables · (n_bits + 1)`` directories,
    read via EXPLICIT partition paths so neither file listing nor scan
    ever touches the other ``2^bits·n_tables`` directories
    (:func:`_existing_partition_paths` explains why explicit paths, not
    a partition-column filter).

    Candidates are deduplicated on id (a vector probed in several
    tables appears once per hit) before exact cosine scoring, so the
    output schema and ordering contract match :func:`cosine_topk`.
    """
    m = spark.read.parquet(f"{path}/meta").first()
    q = np.asarray(list(query_vec), dtype=np.float64)
    if len(q) != m["dim"]:
        raise ValueError(
            f"query dim {len(q)} != index dim {m['dim']} at {path}"
        )
    probe_set = lsh_probe_set(
        q, m["dim"], m["n_bits"], m["n_tables"], m["seed"], multi_probe
    )
    base = f"{path}/data"
    paths = _existing_partition_paths(spark, base, "bucket", probe_set)
    if not paths:
        # typed empty result: borrow the row schema from any one
        # existing bucket dir (never the full base — that's the
        # discovery job this path exists to avoid)
        empty = spark.read.parquet(
            _any_partition_dir(spark, base, "bucket")
        ).limit(0)
        return empty.select(
            F.col("id").alias(m["id_col"]),
            F.lit(0.0).cast("double").alias("cosine"),
        )
    cand = spark.read.option("basePath", base).parquet(*paths)
    # score BEFORE deduplicating: cosine is a pure function of id, so
    # dedup-after-score is equivalent — and the dedup shuffle then
    # carries 16 bytes/row (id, score) instead of the embedding
    # (measured at 5M vectors: emb-through-shuffle made the probe
    # ~700 MB of exchange and 2.7× slower than brute force)
    scored = cand.select(
        F.col("id").alias(m["id_col"]),
        F.round(cosine_to_query("emb", list(query_vec)), 6).alias("cosine"),
    ).dropDuplicates([m["id_col"]])
    return scored.orderBy(
        F.col("cosine").desc(), F.col(m["id_col"]).asc()
    ).limit(k)


def build_ivf_index(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    path: str,
    n_clusters: int | None = None,
    seed: int = 42,
) -> None:
    """Write a persisted IVF index under ``path`` — the data-adaptive
    sibling of :func:`build_lsh_index` (k-means cells instead of random
    hyperplanes; ``ivf_topk``'s docstring promised exactly this layout).

    ``n_clusters=None`` (default) derives the list count from corpus
    size as ⌈√n⌉ clamped to [4, 4096] — the FAISS rule of thumb
    (√n lists ≈ √n rows per list balances quantizer cost against probe
    cost), upper-bounded by the 4096-row training sample so every
    centroid can be seeded from a distinct training vector.

    Layout:

    - ``{path}/meta``: one row (centroids as array<array<double>>, dim,
      n_clusters, seed, id/emb col names). Centroids must be STORED —
      unlike LSH planes they are data-derived and cannot regenerate
      from a seed alone.
    - ``{path}/data``: (id, emb) partitioned by ``list`` = argmax-cosine
      centroid id. Each row appears ONCE (storage 1× the corpus vs
      LSH's n_tables× — IVF's classic advantage); recall comes from
      probing ``n_probe`` nearest lists instead of multiple tables.

    Meta first, same rationale and same in-place-rebuild caveat as
    :func:`build_lsh_index`.
    """
    first = df.select(emb_col).first()
    if first is None:
        raise ValueError(
            "build_ivf_index: input DataFrame is empty — nothing to index"
        )
    dim = len(first[0])
    if n_clusters is None:
        import math

        n_clusters = max(4, min(4096, math.isqrt(df.count() - 1) + 1))
    cents = ivf_train(df, emb_col, id_col, n_clusters, seed)
    meta = df.sparkSession.createDataFrame(
        [
            (
                [[float(x) for x in row] for row in cents],
                dim,
                int(len(cents)),
                seed,
                id_col,
                emb_col,
            )
        ],
        "centroids array<array<double>>, dim int, n_clusters int, "
        "seed int, id_col string, emb_col string",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).alias("emb"),
        ivf_assign_udf(cents)(F.col(emb_col)).alias("list"),
    )
    (
        assigned.repartition("list")
        .write.mode("overwrite")
        .partitionBy("list")
        .parquet(f"{path}/data")
    )


def ivf_probe_set(
    query_vec: Sequence[float], centroids: np.ndarray, n_probe: int
) -> list[int]:
    """The ``n_probe`` inverted-list ids nearest (by cosine) to the
    query — the directories a probe must read."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    return [int(c) for c in np.argsort(-(centroids @ q))[:n_probe]]


def probe_ivf_index(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 8,
) -> DataFrame:
    """Top-k by cosine against a :func:`build_ivf_index` index, reading
    ONLY the ``n_probe`` nearest list directories via explicit
    partition paths — neither listing nor scan touches the other
    lists (see :func:`_existing_partition_paths` for why explicit
    paths beat a partition-column filter).

    Output schema and ordering contract match :func:`cosine_topk`.
    """
    m = spark.read.parquet(f"{path}/meta").first()
    q = np.asarray(list(query_vec), dtype=np.float64)
    if len(q) != m["dim"]:
        raise ValueError(
            f"query dim {len(q)} != index dim {m['dim']} at {path}"
        )
    cents = np.asarray(
        [list(row) for row in m["centroids"]], dtype=np.float64
    )
    probe = ivf_probe_set(q, cents, n_probe)
    base = f"{path}/data"
    paths = _existing_partition_paths(spark, base, "list", probe)
    if not paths:
        empty = spark.read.parquet(
            _any_partition_dir(spark, base, "list")
        ).limit(0)
        return empty.select(
            F.col("id").alias(m["id_col"]),
            F.lit(0.0).cast("double").alias("cosine"),
        )
    cand = spark.read.option("basePath", base).parquet(*paths)
    scored = cand.select(
        F.col("id").alias(m["id_col"]),
        F.round(cosine_to_query("emb", list(query_vec)), 6).alias("cosine"),
    )
    return scored.orderBy(
        F.col("cosine").desc(), F.col(m["id_col"]).asc()
    ).limit(k)


def probe_buckets_udf(
    planes: np.ndarray, n_tables: int, n_bits: int, multi_probe: bool = True
):
    """Vectorized PROBE-set assignment: per row, the query's bucket in
    every table plus (when ``multi_probe``) its Hamming-1 ring —
    ``n_tables·(n_bits+1)`` encoded ids, the batch twin of
    :func:`lsh_probe_set` (one numpy matmul + xor fan-out per Arrow
    batch instead of a driver loop per query)."""
    from pyspark.sql.functions import pandas_udf

    proj = np.ascontiguousarray(planes.astype(np.float64).T)  # (dim, T*B)
    weights = 1 << np.arange(n_bits)
    table_tag = np.arange(n_tables) << n_bits

    @pandas_udf("array<int>")
    def probes(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        bits = (mat @ proj) > 0.0
        bk = bits.reshape(len(mat), n_tables, n_bits) @ weights  # (N, T)
        rings = [bk] + (
            [bk ^ (1 << i) for i in range(n_bits)] if multi_probe else []
        )
        allb = np.stack(rings, axis=2) + table_tag[None, :, None]
        return pd.Series(
            list(allb.reshape(len(mat), -1).astype(np.int32))
        )

    return probes


def probe_lsh_index_batch(
    spark,
    path: str,
    queries: DataFrame,
    emb_col: str,
    query_id_col: str,
    k: int = 10,
    multi_probe: bool = True,
) -> DataFrame:
    """Top-k per query for a WHOLE DataFrame of queries against a
    :func:`build_lsh_index` index — the workload-scale form of
    :func:`probe_lsh_index` (which drives ONE query from the driver).

    Shape: explode each query to its probe-bucket set (a narrow
    pandas-UDF pass, no shuffle), then ONE equi-join on ``bucket``
    against the index. The exploded query side is broadcast — queries
    are ≪ corpus by assumption — so the index is scanned exactly once
    with no shuffle, and the bucket equi-condition on the PARTITION
    column lets dynamic partition pruning skip unprobed bucket
    directories when the probed set is a small fraction of tables ×
    2^bits. Candidates dedup on (query, id) (a vector can collide in
    several tables), exact-cosine rescore (Arrow-batched pair kernel),
    then per-query top-k via a ranked window over the candidate set —
    which is LSH-bounded, not corpus-sized.

    Returns (query_id_col, <index id_col>, cosine, rank), rank 1..k —
    per-query results identical to :func:`probe_lsh_index` (pinned in
    tests/test_similarity_index.py). When the query id column and the
    index id column share a name, the index side is emitted as
    ``<id_col>_nn`` so the output schema stays unambiguous.
    """
    from pyspark.sql.window import Window

    m = spark.read.parquet(f"{path}/meta").first()
    first = queries.select(emb_col).first()
    if first is None:
        raise ValueError("probe_lsh_index_batch: queries DataFrame is empty")
    if len(first[0]) != m["dim"]:
        raise ValueError(
            f"query dim {len(first[0])} != index dim {m['dim']} at {path}"
        )
    planes = np.vstack(
        [
            make_planes(m["dim"], m["n_bits"], m["seed"] + t)
            for t in range(m["n_tables"])
        ]
    )
    probes = probe_buckets_udf(
        planes, m["n_tables"], m["n_bits"], multi_probe
    )
    exploded = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(emb_col).alias("__qemb"),
        F.explode(probes(F.col(emb_col))).alias("bucket"),
    )
    data = spark.read.parquet(f"{path}/data")
    cand = data.join(F.broadcast(exploded), "bucket")
    cos = cosine_pairs_udf()
    out_id = (
        f"{m['id_col']}_nn" if m["id_col"] == query_id_col else m["id_col"]
    )
    # score before dedup so the (query, id) dedup shuffle moves scores,
    # not embeddings (same rationale as probe_lsh_index)
    scored = cand.select(
        F.col("__qid").alias(query_id_col),
        F.col("id").alias(out_id),
        F.round(cos(F.col("__qemb"), F.col("emb")), 6).alias("cosine"),
    ).dropDuplicates([query_id_col, out_id])
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(out_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def probe_ivf_index_batch(
    spark,
    path: str,
    queries: DataFrame,
    emb_col: str,
    query_id_col: str,
    k: int = 10,
    n_probe: int = 8,
) -> DataFrame:
    """Top-k per query for a DataFrame of queries against a
    :func:`build_ivf_index` index — the IVF twin of
    :func:`probe_lsh_index_batch`, same join shape and output contract.

    Each query explodes to its ``n_probe`` nearest list ids (one numpy
    matmul per Arrow batch against the stored centroids), then ONE
    equi-join on the ``list`` partition column; the broadcast query
    side keeps the index scan shuffle-free and dynamic-partition-
    prunable. Exact-cosine rescore + per-query ranked top-k over the
    candidate set (n_probe/n_clusters of the corpus, not all of it).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    m = spark.read.parquet(f"{path}/meta").first()
    first = queries.select(emb_col).first()
    if first is None:
        raise ValueError("probe_ivf_index_batch: queries DataFrame is empty")
    if len(first[0]) != m["dim"]:
        raise ValueError(
            f"query dim {len(first[0])} != index dim {m['dim']} at {path}"
        )
    cents = np.asarray(
        [list(row) for row in m["centroids"]], dtype=np.float64
    )
    n_probe = min(n_probe, len(cents))
    cents_t = np.ascontiguousarray(cents.T)  # (dim, C)

    @pandas_udf("array<int>")
    def probe_lists(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(mat @ cents_t), axis=1)[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    exploded = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(emb_col).alias("__qemb"),
        F.explode(probe_lists(F.col(emb_col))).alias("list"),
    )
    data = spark.read.parquet(f"{path}/data")
    cand = data.join(F.broadcast(exploded), "list")
    cos = cosine_pairs_udf()
    out_id = (
        f"{m['id_col']}_nn" if m["id_col"] == query_id_col else m["id_col"]
    )
    scored = cand.select(
        F.col("__qid").alias(query_id_col),
        F.col("id").alias(out_id),
        F.round(cos(F.col("__qemb"), F.col("emb")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(out_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def append_to_lsh_index(df: DataFrame, path: str) -> None:
    """Append new vectors to an existing :func:`build_lsh_index` index
    without a rebuild — the maintenance op an always-growing corpus
    needs (a full rebuild at 100 TB reprocesses n_tables× the corpus
    for a batch that is a fraction of it).

    The planes regenerate from the stored meta seed, so appended rows
    hash into EXACTLY the buckets a from-scratch rebuild would put them
    in: probe results after build(A) + append(B) are identical to
    build(A ∪ B) (pinned in tests/test_similarity_index.py). The write
    is parquet append partitioned by bucket — existing bucket files are
    untouched, new files land beside them; a concurrent probe sees
    either the old or the new file set, both self-consistent.

    Dedup responsibility stays with the caller (appending an id that is
    already indexed yields duplicate candidates; the probe's id-dedup
    hides it from results, but storage grows).
    """
    spark = df.sparkSession
    m = spark.read.parquet(f"{path}/meta").first()
    first = df.select(m["emb_col"]).first()
    if first is None:
        return  # appending nothing is a no-op, not an error
    if len(first[0]) != m["dim"]:
        raise ValueError(
            f"append dim {len(first[0])} != index dim {m['dim']} at {path}"
        )
    all_planes = np.vstack(
        [
            make_planes(m["dim"], m["n_bits"], m["seed"] + t)
            for t in range(m["n_tables"])
        ]
    )
    buckets = signature_buckets_udf(all_planes, m["n_tables"], m["n_bits"])
    exploded = df.select(
        F.col(m["id_col"]).alias("id"),
        F.col(m["emb_col"]).alias("emb"),
        F.explode(buckets(F.col(m["emb_col"]))).alias("bucket"),
    )
    (
        exploded.repartition("bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(f"{path}/data")
    )


def append_to_ivf_index(df: DataFrame, path: str) -> None:
    """Append new vectors to an existing :func:`build_ivf_index` index
    without a rebuild — the IVF twin of :func:`append_to_lsh_index`.

    New rows are assigned to the STORED centroids (read from meta; no
    retraining), so they land in exactly the inverted lists a probe
    will look in: a full probe (n_probe = n_clusters) after
    build(A) + append(B) equals brute force over A ∪ B score-for-score
    (pinned in tests/test_similarity_index.py). Centroids drift from
    the data as appends accumulate — list sizes skew and pruned-probe
    recall decays toward the LSH-style worst case; rebuild to a fresh
    path when probe latency or recall says so (the centroid quality,
    not a correctness property, is what a rebuild restores).

    Parquet append partitioned by list: existing list files untouched,
    new files land beside them; a concurrent probe sees either file
    set, both self-consistent. Caller owns id dedup, as with LSH.
    """
    spark = df.sparkSession
    m = spark.read.parquet(f"{path}/meta").first()
    first = df.select(m["emb_col"]).first()
    if first is None:
        return  # appending nothing is a no-op, not an error
    if len(first[0]) != m["dim"]:
        raise ValueError(
            f"append dim {len(first[0])} != index dim {m['dim']} at {path}"
        )
    cents = np.asarray(
        [list(row) for row in m["centroids"]], dtype=np.float64
    )
    assigned = df.select(
        F.col(m["id_col"]).alias("id"),
        F.col(m["emb_col"]).alias("emb"),
        ivf_assign_udf(cents)(F.col(m["emb_col"])).alias("list"),
    )
    (
        assigned.repartition("list")
        .write.mode("append")
        .partitionBy("list")
        .parquet(f"{path}/data")
    )


def embed_dedup_against_index(
    spark,
    new_df: DataFrame,
    emb_col: str,
    id_col: str,
    path: str,
    threshold: float = 0.95,
    k: int = 100,
) -> DataFrame:
    """Embedding near-dup pairs of a NEW corpus against itself AND a
    persisted :func:`build_lsh_index` corpus — new×(new∪indexed), the
    embedding leg of the incremental-dedup trilogy
    (:func:`dedup.dedup_exact_against_index` /
    :func:`dedup.dedup_against_index` are the exact- and token-set
    legs). Ids must be unique across the corpora.

    Shape:

    - new×indexed: ONE :func:`probe_lsh_index_batch` pass (broadcast
      exploded probe sets, single index equi-join), filtered to
      cosine ≥ threshold — at most ``k`` matches per new vector
      (dedup wants the duplicates, not the neighborhood; raise ``k``
      if a vector can have more than ``k`` dups).
    - new×new: bucket self-join under the INDEX's OWN planes
      (regenerated from meta seed — one hash family governs both
      legs), exact-cosine verify on candidates.

    Both legs are LSH-approximate with the index's sensitivity;
    EXACT-direction duplicates (the true dedup case) collide in every
    table by construction — sign bits are scale-invariant — so their
    recall is 1.0 (pinned in tests). Returns (id_a, id_b, cosine),
    cross pairs as (new, indexed), self pairs id_a < id_b.
    """
    m = spark.read.parquet(f"{path}/meta").first()
    cross = probe_lsh_index_batch(
        spark, path, new_df, emb_col, id_col, k=k
    )
    out_id = f"{m['id_col']}_nn" if m["id_col"] == id_col else m["id_col"]
    cross_pairs = cross.filter(F.col("cosine") >= threshold).select(
        F.col(id_col).alias("id_a"),
        F.col(out_id).alias("id_b"),
        "cosine",
    )
    planes = np.vstack(
        [
            make_planes(m["dim"], m["n_bits"], m["seed"] + t)
            for t in range(m["n_tables"])
        ]
    )
    buckets = signature_buckets_udf(planes, m["n_tables"], m["n_bits"])
    sig = new_df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).alias("emb"),
        F.explode(buckets(F.col(emb_col))).alias("bucket"),
    )
    from clickhouse_modules_spark.operators.materialize import materialize

    sig = materialize(sig)
    left = sig.select(
        F.col("id").alias("id_a"), F.col("emb").alias("emb_a"), "bucket"
    )
    right = sig.select(
        F.col("id").alias("id_b"), F.col("emb").alias("emb_b"), "bucket"
    )
    cos = cosine_pairs_udf()
    self_pairs = (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "emb_a", "emb_b")
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(cos(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return cross_pairs.unionByName(self_pairs)

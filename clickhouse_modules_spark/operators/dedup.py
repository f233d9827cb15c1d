"""Deduplication operators for training-data pipelines.

Five strategies, all DataFrame-native:

- **exact**: content hash → keep one representative per hash. One shuffle.
- **MinHash + LSH**: word shingles → explicit banded minhash signatures
  (JVM xxhash64) → bucket equi-join with a bucket-size cap →
  exact-Jaccard-verified pairs.
- **SimHash**: 64-bit sign-aggregated word-hash fingerprint, computed
  entirely with JVM builtins (explode + 64 conditional sums).
- **n-gram Jaccard**: exact Jaccard over word/shingle sets for candidate
  pairs produced by a cheap equi-join band key.
- **embedding cosine**: near-dup pairs above a cosine threshold, with a
  random-hyperplane LSH bucket prefilter.

100 TB notes: every strategy is candidate-generation (equi-join on a
band/bucket key = one shuffle) followed by per-pair verification (map-
side). Nothing does an O(n²) crossJoin. Exact dedup's hash groupBy is a
single shuffle with map-side partial aggregation; skewed hashes cannot
exist (sha2 is uniform). For MinHash at scale, tune bands×rows to the
target Jaccard threshold; each band is an independent bucket join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_modules_spark.operators.materialize import materialize

# 64-bit mixing constants (splitmix64/murmur3 finalizer family).
_MIX_M = np.uint64(0xFF51AFD7ED558CCD)
_MIX_PHI = np.uint64(0x9E3779B97F4A7C15)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-``id_col`` row per distinct ``text_col`` content.

    Returns the input columns + ``content_hash`` + ``n_dups``.
    Deterministic: representative = min id within the hash group.
    """
    h = F.sha2(F.col(text_col), 256)
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("content_hash", h)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(Window.partitionBy("content_hash")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles_from_words(words_col: F.Column, n: int = 3) -> F.Column:
    """n-word shingles from a PRE-BOUND words-array column.

    Bind the split() to a real column first (withColumn/select) — inlining
    ``split(text)`` into the transform lambda re-splits the text per
    shingle (no common-subexpression elimination inside lambdas), turning
    an O(words) map into O(words²) per doc. Measured 2.3 s → 0.5 s on
    5,000 docs.
    """
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words_col) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(words_col, i, n), " "),
    )


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """n-word shingles as an array<string> (JVM-side, no UDF).

    Convenience form for one-shot use; hot paths should split once and
    call :func:`shingles_from_words` on the bound column.
    """
    return shingles_from_words(F.split(F.col(text_col), " ", -1), n)


def hashed_shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    n: int = 3,
    set_col: str = "hs",
    stem: bool | str = False,
) -> DataFrame:
    """(id, set) rows with the standard set representation every PPJoin
    entry point here takes: distinct n-word shingles hashed to int64
    (xxhash64) — 8-byte tokens instead of strings through every
    downstream join. Pure JVM expressions, scan-local.

    ``stem=True`` (round 12) Porter-stems each word before shingling
    (strkernels.porter_stem via one Arrow kernel pass over the text),
    so inflectional variants ("run"/"running") shingle identically —
    the normalization benchmark-decontamination pipelines apply before
    matching. An INDEX and its probes must agree on the flag (the
    frozen dfreq order is over the normalized tokens); that's on the
    caller, same as the shingle width ``n``.

    ``stem`` also accepts a language code (r13): ``'en'`` (Porter) or
    ``'fr'/'de'/'es'/'ru'`` (Snowball rule sets,
    functions/snowball.py) — ``True`` stays the English shorthand.
    """
    if stem:
        from pyspark.sql.functions import pandas_udf

        from clickhouse_modules_spark.functions.strkernels import (
            _stem_tokens,
            _stem_tokens_lang,
        )

        lang = "en" if stem is True else str(stem).lower()
        if lang in ("en", "english", "porter"):
            fn = _stem_tokens
        else:
            fn = _stem_tokens_lang(lang)  # KeyError = unknown lang

        @pandas_udf("string")
        def _stem(s: pd.Series) -> pd.Series:
            return s.map(lambda t: fn(t) if t is not None else None)

        df = df.withColumn(text_col, _stem(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.split(F.col(text_col), " ", -1).alias("__w"),
    ).select(
        id_col,
        F.array_distinct(
            F.transform(
                shingles_from_words(F.col("__w"), n),
                lambda s: F.xxhash64(s),
            )
        ).alias(set_col),
    )


def _simhash_votes_udf():
    """Vectorized SimHash finalization over precomputed word hashes:
    for each bit b, vote = Σ over words of ±1 by bit b of the hash;
    fingerprint bit b = vote > 0. Pure integer arithmetic — bit-identical
    to a per-word JVM fold, but one numpy pass per Arrow batch instead of
    64 interpreted aggregate() traversals per row."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf("long")
    def votes(word_hashes: pd.Series) -> pd.Series:
        out = np.empty(len(word_hashes), dtype=np.int64)
        for i, h in enumerate(word_hashes):
            x = np.asarray(h, dtype=np.int64).astype(np.uint64)
            bits = ((x[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            vote = (2 * bits - 1).sum(axis=0)
            out[i] = ((vote > 0).astype(np.uint64) << shifts).sum().astype(np.int64)
        return pd.Series(out)

    return votes


def simhash64(text_col: str) -> F.Column:
    """64-bit SimHash of the distinct-word set.

    bit_b = sign(Σ over distinct words of ±1 according to bit b of
    xxhash64(word)). Word hashes come from the JVM (codegen'd xxhash64);
    the 64 vote sums are one vectorized Arrow batch (_simhash_votes_udf)
    — the earlier all-JVM form ran 64 interpreted aggregate() passes per
    row. Near-dup docs differ in few bits (use hamming64 to compare).
    """
    word_hashes = F.transform(
        F.array_distinct(F.split(F.col(text_col), " ", -1)),
        lambda w: F.xxhash64(w),
    )
    return _simhash_votes_udf()(word_hashes)


def hamming64(a: F.Column | str, b: F.Column | str) -> F.Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    ac = a if isinstance(a, F.Column) else F.col(a)
    bc = b if isinstance(b, F.Column) else F.col(b)
    return F.bit_count(ac.bitwiseXOR(bc))


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    n_bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing any 16-bit band of the simhash.

    Banding = LSH for Hamming space: a pair within distance d collides on
    ≥1 of 4 bands with high probability when d < 4. One shuffle per band
    (equi-join on the band value), union of candidates, distinct.
    Returns (id_a, id_b, hamming) with id_a < id_b.

    Pass ``max_hamming`` to apply the distance cut map-side: hamming is
    a bit_count on columns the join already carries, so filtering early
    keeps "all colliding pairs" (O(bucket²), large on vocabulary-
    homogeneous corpora) out of every downstream exchange.

    No distinct is needed: a pair colliding on several bands is emitted
    only at its FIRST colliding band — for band i the plan filters out
    pairs whose bands 0..i-1 already matched, a map-side predicate on
    values the join output carries. That replaces a full shuffle of all
    survivors with free per-row comparisons.
    """
    band_width = 64 // n_bands

    def band_of(col: str, band: int) -> F.Column:
        # bitwiseAND, not `&` (Python & maps to BOOLEAN and on Columns);
        # mask cast to LONG: Spark 4 rejects BIGINT ⊕ INT binary ops
        return F.shiftrightunsigned(F.col(col), band * band_width).bitwiseAND(
            F.lit((1 << band_width) - 1).cast("long")
        )

    pairs = None
    for band in range(n_bands):
        a = df.select(
            F.col(id_col).alias("id_a"),
            F.col(sim_col).alias("sim_a"),
            band_of(sim_col, band).alias("band_key"),
        )
        b = df.select(
            F.col(id_col).alias("id_b"),
            F.col(sim_col).alias("sim_b"),
            band_of(sim_col, band).alias("band_key"),
        )
        cand = a.join(b, "band_key").filter(F.col("id_a") < F.col("id_b"))
        for j in range(band):
            cand = cand.filter(band_of("sim_a", j) != band_of("sim_b", j))
        pairs = cand if pairs is None else pairs.unionByName(cand)
    scored = pairs.select(
        "id_a", "id_b", hamming64("sim_a", "sim_b").alias("hamming")
    )
    if max_hamming is not None:
        scored = scored.filter(F.col("hamming") <= max_hamming)
    return scored


def prefix_filter_candidates(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
) -> DataFrame:
    """COMPLETE candidate pairs for Jaccard ≥ ``threshold`` via prefix
    filtering with a positional filter (AllPairs, Bayardo et al.
    WWW'07; PPJoin, Xiao et al. WWW'08).

    Order every set's tokens globally rare-first (document frequency
    asc, token asc). A set of size n keeps only its first
    n - ⌈t·n⌉ + 1 tokens as its PREFIX. Prefix-filtering principle: if
    |a∩b| ≥ α, the first |a|-α+1 tokens of a and the first |b|-α+1 of b
    must share one (else the intersection fits inside both α-1
    suffixes). J ≥ t gives α ≥ ⌈t·|s|⌉ per set, so the per-set prefix
    above is at least as long as the principle requires on BOTH sides —
    a prefix×prefix join (not prefix×all) already emits every
    qualifying pair: recall is exactly 1.0, not probabilistic — this is
    what makes an exact-Jaccard output oracle-checkable, where
    MinHash/SimHash sketches are not.

    Two pair-level prunes run inside the join before the distinct:

    - length filter: t·|a| ≤ |b| ≤ |a|/t is necessary for J ≥ t;
    - positional filter (PPJoin): a shared token at 1-based rank i in a
      and j in b bounds the overlap by 1 + min(|a|-i, |b|-j); the pair
      needs |a∩b| ≥ ⌈t/(1+t)·(|a|+|b|)⌉ (from J = |∩|/(|a|+|b|-|∩|)).
      Complete because the FIRST shared token's bound always covers the
      true overlap (all shared tokens sit at ranks ≥ i resp. ≥ j).

    100 TB: two shuffles to rank tokens (df-count groupBy + per-set
    window) and one equi-join on the token. Rare-first ordering is the
    load-bearing part at scale: prefixes hold each set's LOWEST-df
    tokens, so join buckets stay near-singleton even when the corpus
    has boilerplate shingles; the positional filter then kills the
    boilerplate-token pairs the bucket join still emits (measured 347k
    → 125k candidates at sf0.1 before verification; the exact-Jaccard
    verify re-scores whatever survives, so the filters only ever buy
    speed, never correctness).

    Returns (id_a, id_b) distinct, id_a < id_b — feed to
    :func:`jaccard_pairs` for exact verification.
    """
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.size(set_col).alias("__n"),
        F.explode(set_col).alias("__tok"),
    )
    dfreq = ex.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    ranked = ex.join(dfreq, "__tok")
    w = Window.partitionBy("__id").orderBy(
        F.col("__df").asc(), F.col("__tok").asc()
    )
    prefix_len = (
        F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + F.lit(1)
    )
    pref = ranked.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= prefix_len
    )
    # Both self-join branches read pref; without a cut Spark recomputes
    # the dfreq groupBy + join + window once PER BRANCH (measured 2× the
    # whole candidate time at sf0.1). The prefix table is ~half the
    # exploded tokens — small relative to the corpus at any scale.
    pref = materialize(pref.select("__id", "__n", "__rn", "__tok"))
    left = pref.select(
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        F.col("__rn").alias("__ia"),
        "__tok",
    )
    right = pref.select(
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        F.col("__rn").alias("__jb"),
        "__tok",
    )
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__na") + F.col("__nb"))
    )
    return (
        left.join(right, "__tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("__nb") * F.lit(threshold) <= F.col("__na"))
        .filter(F.col("__na") * F.lit(threshold) <= F.col("__nb"))
        .filter(
            F.lit(1)
            + F.least(
                F.col("__na") - F.col("__ia"), F.col("__nb") - F.col("__jb")
            )
            >= min_overlap
        )
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    band_df: DataFrame | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over token-set pairs for pre-banded candidates.

    ``band_df`` must carry (id_a, id_b) candidate pairs; verification is
    map-side: array_intersect/array_union sizes after a join to fetch both
    sets. Returns pairs ≥ threshold with their jaccard.
    """
    sets_a = df.select(F.col(id_col).alias("id_a"), F.col(set_col).alias("set_a"))
    sets_b = df.select(F.col(id_col).alias("id_b"), F.col(set_col).alias("set_b"))
    # The candidate feed often arrives freshly distinct()-ed, which AQE
    # coalesces to very few partitions (measured: 1 — candidate pairs
    # are byte-light but the intersect below is CPU-heavy, exactly the
    # shape AQE's size-based coalescing mis-judges). Re-spread by the
    # join key with an EXPLICIT partition count: AQE preserves
    # user-numbered repartitions where it would re-coalesce
    # repartition(col). At scale this shuffle is the fetch-join's
    # co-partitioning anyway.
    band_df = band_df.repartition(
        band_df.sparkSession.sparkContext.defaultParallelism, "id_a"
    )
    cand = band_df.join(sets_a, "id_a").join(sets_b, "id_b")
    # |a∪b| = |a| + |b| - |a∩b| — array sizes are O(1) lookups, so one
    # hash-build per pair (array_intersect) instead of two (array_union
    # was doubling the verify stage's CPU, the hot loop at scale)
    return (
        cand.withColumn(
            "__i", F.size(F.array_intersect("set_a", "set_b"))
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("__i")
                / (F.size("set_a") + F.size("set_b") - F.col("__i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature_udf(
    n_bands: int, rows_per_band: int, shingle_n: int = 3, seed: int = 7
):
    """Fused MinHash signature kernel over precomputed WORD hashes.

    One Arrow-batched pass per row computes BOTH LSH artifacts:

    - ``sh``: the distinct shingle-hash set — shingle hash = rolling
      multiply-xor combine of ``shingle_n`` consecutive word hashes
      (order-sensitive, splitmix-finalized). Identity of the shingle
      STRING is irrelevant to both banding and Jaccard verification;
      only set semantics matter, so combining word hashes numerically
      replaces the JVM's per-shingle slice+array_join+xxhash chain —
      the interpreted HOF path that dominated this operator's profile
      (measured ~2.5 s of ~3.5 s at sf0.1).
    - ``bands``: k = bands×rows minhashes mh_i = MIN over sh of
      mix_i(sh) (multiply-shift family, odd 64-bit multiplier per i),
      each band's ``rows_per_band`` minhashes folded into one 64-bit
      band key with the band id mixed in.

    Docs shorter than ``shingle_n`` words get one shingle combining all
    available words (same convention as :func:`shingles_from_words`).

    Returns a UDF: array<bigint> word hashes ->
    struct<bands: array<bigint>, sh: array<bigint>>.
    """
    from pyspark.sql.functions import pandas_udf

    k = n_bands * rows_per_band
    rng = np.random.RandomState(seed)
    mult = (
        rng.randint(1, 2**62, size=k).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    )
    band_tag = (np.arange(n_bands, dtype=np.uint64) + np.uint64(1)) * _MIX_PHI

    def shingle_hashes(w: np.ndarray) -> np.ndarray:
        n = shingle_n if len(w) >= shingle_n else len(w)
        v = w[: len(w) - n + 1].copy()
        for j in range(1, n):
            v = v * _MIX_M ^ w[j : len(w) - n + 1 + j]
        v *= _MIX_PHI
        v ^= v >> np.uint64(33)
        return np.unique(v)

    @pandas_udf("struct<bands: array<bigint>, sh: array<bigint>>")
    def signature(word_hashes: pd.Series) -> pd.DataFrame:
        bands_out, sh_out = [], []
        for wh in word_hashes:
            w = np.asarray(wh, dtype=np.int64).astype(np.uint64)
            sh = shingle_hashes(w)
            m = sh[:, None] * mult[None, :]  # (n_shingles, k), wraps mod 2^64
            m ^= m >> np.uint64(33)
            m *= _MIX_M
            m ^= m >> np.uint64(29)
            mins = m.min(axis=0).reshape(n_bands, rows_per_band)
            v = band_tag.copy()
            for t in range(rows_per_band):
                v = (v ^ mins[:, t]) * _MIX_M
                v ^= v >> np.uint64(33)
            bands_out.append(v.astype(np.int64))
            sh_out.append(sh.astype(np.int64))
        return pd.DataFrame({"bands": bands_out, "sh": sh_out})

    return signature


def minhash_banded_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 500,
) -> DataFrame:
    """Near-duplicate pairs via explicit banded MinHash over word shingles.

    All JVM builtins, no pyspark.ml, no crossJoin:

    1. distinct ``shingle_n``-word shingles per doc (discriminative even
       on small-vocabulary corpora, where whole-doc TOKEN sets are nearly
       identical across unrelated docs — measured: 14,884 doc pairs at
       token-Jaccard ≥ 0.9 in a 500-doc fixture; shingles fix that),
       represented by 64-bit rolling combines of JVM word hashes — see
       minhash_signature_udf for why no shingle STRING is ever built;
    2. k = n_bands × rows_per_band minhashes + per-band fold into one
       band key (band id mixed in), fused into the same Arrow pass;
    3. explode the band-key array; docs sharing any band key are
       candidates. LSH S-curve: P(candidate) = 1 - (1 - s^r)^b,
       ≈ threshold at s = (1/b)^(1/r) — defaults give t ≈ 0.5;
    4. bucket-size cap: buckets larger than ``max_bucket`` are dropped
       (they are degenerate content — boilerplate — and would otherwise
       produce O(bucket²) pairs; the cap bounds worst-case work at scale);
    5. candidates verified with EXACT shingle-set Jaccard — computed over
       the 64-bit shingle HASHES, not the strings: Jaccard of distinct
       hash sets equals Jaccard of shingle sets up to a ~n²/2⁶⁴ collision
       probability, and the hash arrays are ~4× smaller than the string
       arrays, so the two verify-side joins shuffle a fraction of the
       bytes.

    Returns (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold.

    100 TB: one shuffle to group band keys + one join per side for the
    verify; candidate volume is bounded by the S-curve and the bucket cap,
    never by corpus size squared.
    """
    # Narrow CPU-heavy map: make sure it parallelizes even when the input
    # is one small file (1 partition). At scale inputs already have ≥cores
    # partitions and this branch never fires — no extra shuffle.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    # Two-phase hashing: hash each WORD once on the JVM (codegen'd
    # xxhash64 — one cheap O(words) transform), then derive shingle
    # hashes, minhashes, and band keys in ONE vectorized Arrow batch.
    # materialize (knob: operators/materialize.py): the signature table
    # feeds BOTH the banding path and the verify path — pin it once
    # instead of re-running the split/hash/UDF pipeline per consumer.
    # At cluster scale use mode='table' (persisted intermediate).
    sig_udf = minhash_signature_udf(n_bands, rows_per_band, shingle_n)
    hashed = (
        df.select(F.col(id_col), F.split(F.col(text_col), " ", -1).alias("__w"))
        .filter(F.size("__w") > 0)
        .select(
            F.col(id_col),
            sig_udf(F.transform("__w", lambda w: F.xxhash64(w))).alias("__sig"),
        )
        .select(
            F.col(id_col),
            F.col("__sig.bands").alias("__bands"),
            F.col("__sig.sh").alias("__h"),
        )
    )
    hashed = materialize(hashed)
    exploded = hashed.select(
        F.col(id_col), F.explode(F.col("__bands")).alias("band_key")
    )

    bucket_w = Window.partitionBy("band_key")
    # materialize (knob): the band table is (id, band_key) — tiny
    # relative to the corpus — and feeds BOTH sides of the self-join;
    # pinning it once avoids recomputing the k minhash signatures per
    # side. At 100 TB this table is the persisted LSH index
    # (mode='table', partitioned by band_key).
    bounded = (
        exploded.withColumn("__bucket_n", F.count(F.lit(1)).over(bucket_w))
        .filter(F.col("__bucket_n") <= max_bucket)
        .drop("__bucket_n")
    )
    bounded = materialize(bounded)

    a = bounded.select(F.col(id_col).alias("id_a"), "band_key")
    b = bounded.select(F.col(id_col).alias("id_b"), "band_key")
    cand = (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # One exchange under both verify sides: repartition on the id BEFORE
    # aliasing so sets_a/sets_b share a single computed (and shuffled)
    # copy of the hash arrays (band keys pruned — the verify join only
    # needs the shingle-hash sets).
    sets_base = hashed.select(F.col(id_col), "__h").repartition(target, id_col)
    sets_a = sets_base.select(
        F.col(id_col).alias("id_a"), F.col("__h").alias("set_a")
    )
    sets_b = sets_base.select(
        F.col(id_col).alias("id_b"), F.col("__h").alias("set_b")
    )
    jac = (
        F.size(F.array_intersect("set_a", "set_b"))
        / F.size(F.array_union("set_a", "set_b"))
    ).alias("jaccard")
    return (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


# ---------------------------------------------------------------------
# persisted PPJoin prefix index: incremental cross-corpus near-dup
# ---------------------------------------------------------------------


def _ranked_prefixes(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    dfreq: DataFrame,
) -> DataFrame:
    """(__id, __n, __rn, __tok) prefix rows for every set in ``df``,
    ranked under the GLOBAL total order (df asc, token asc) given by
    ``dfreq`` (token → __df). Tokens absent from ``dfreq`` take df 0 —
    they sort first (rarest), keeping the order total and deterministic.

    The prefix principle holds under ANY global total order as long as
    BOTH join sides use the same one — that is what makes a FROZEN
    build-time order valid for later corpora (see build_prefix_index).
    """
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.size(set_col).alias("__n"),
        F.explode(set_col).alias("__tok"),
    )
    ranked = ex.join(dfreq, "__tok", "left").fillna({"__df": 0})
    w = Window.partitionBy("__id").orderBy(
        F.col("__df").asc(), F.col("__tok").asc()
    )
    prefix_len = (
        F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + F.lit(1)
    )
    return (
        ranked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("__id", "__n", "__rn", "__tok")
    )


def build_prefix_index(
    df: DataFrame,
    id_col: str,
    set_col: str,
    path: str,
    threshold: float = 0.5,
    n_buckets: int = 256,
) -> None:
    """Persist a PPJoin prefix index so later crawls can be deduped
    AGAINST this corpus without recomputing its pairs — the production
    shape of LLM-corpus dedup (new crawl vs 100 TB indexed corpus).

    Layout (all Spark-native parquet):

    - ``{path}/meta``: one row (threshold, n_buckets, id/set col names).
    - ``{path}/dfreq``: (token, df) — the FROZEN global token order
      authority. Probes rank THEIR tokens by these dfs (absent → 0),
      so index prefixes and probe prefixes share one total order — the
      completeness precondition of the prefix-filter principle.
    - ``{path}/sets``: (id, set, n) — the token sets, for the exact-
      Jaccard verify leg of a probe.
    - ``{path}/prefix``: prefix rows partitioned by
      ``pbucket = pmod(xxhash64(token), n_buckets)`` so a probe reads
      only the buckets its own prefix tokens hash into (explicit
      partition paths at probe time — the similarity.py listing-job
      lesson).

    Index prefixes are computed for ``threshold``; a probe may use any
    threshold ≥ it (longer-than-needed prefixes stay complete) but a
    lower one raises (prefixes would be too short → missed pairs).

    Meta is written FIRST (the build_lsh_index ordering contract): a
    concurrent probe of a fresh path fails loudly on the missing data
    dirs instead of pairing data with absent meta. In-place rebuilds
    are not atomic — build to a fresh path and swap.
    """
    if df.select(id_col).first() is None:
        raise ValueError(
            "build_prefix_index: input DataFrame is empty — nothing to index"
        )
    spark = df.sparkSession
    meta = spark.createDataFrame(
        [(float(threshold), int(n_buckets), id_col, set_col)],
        "threshold double, n_buckets int, id_col string, set_col string",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    ex = df.select(
        F.col(id_col).alias("__id"), F.explode(set_col).alias("__tok")
    )
    dfreq = ex.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    dfreq.write.mode("overwrite").parquet(f"{path}/dfreq")
    df.select(
        F.col(id_col).alias("id"),
        F.col(set_col).alias("set"),
        F.size(set_col).alias("n"),
    ).write.mode("overwrite").parquet(f"{path}/sets")
    pref = _ranked_prefixes(
        df, id_col, set_col, threshold,
        spark.read.parquet(f"{path}/dfreq"),
    ).withColumn(
        "pbucket", F.pmod(F.xxhash64("__tok"), F.lit(n_buckets))
    )
    # shuffle by bucket first: each partition dir is one task's output,
    # not one file per input task (small-files avoidance at scale)
    (
        pref.repartition("pbucket")
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(f"{path}/prefix")
    )


def append_to_prefix_index(
    new_df: DataFrame, path: str
) -> None:
    """Fold a new corpus into an existing prefix index.

    New sets are ranked under the index's FROZEN dfreq order (their
    unseen tokens take df 0) and appended to ``sets`` and ``prefix``;
    ``dfreq`` itself is NOT updated — the order authority stays the
    build corpus. Any consistent global order keeps the prefix filter
    complete, so probes after an append still see every qualifying
    pair; frozen order just means later prefixes are ordered by the
    ORIGINAL corpus's rarity (mildly larger join buckets if token
    rarity drifts, never missed pairs).
    """
    spark = new_df.sparkSession
    m = spark.read.parquet(f"{path}/meta").first()
    dfreq = spark.read.parquet(f"{path}/dfreq")
    new_df.select(
        F.col(m["id_col"]).alias("id"),
        F.col(m["set_col"]).alias("set"),
        F.size(m["set_col"]).alias("n"),
    ).write.mode("append").parquet(f"{path}/sets")
    pref = _ranked_prefixes(
        new_df, m["id_col"], m["set_col"], float(m["threshold"]), dfreq
    ).withColumn(
        "pbucket", F.pmod(F.xxhash64("__tok"), F.lit(m["n_buckets"]))
    )
    (
        pref.repartition("pbucket")
        .write.mode("append")
        .partitionBy("pbucket")
        .parquet(f"{path}/prefix")
    )


def _pair_filters(joined: DataFrame, threshold: float) -> DataFrame:
    """PPJoin length + positional filters over a prefix×prefix join
    carrying (__na, __ia) and (__nb, __jb) — see
    prefix_filter_candidates for the derivations."""
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__na") + F.col("__nb"))
    )
    return (
        joined.filter(F.col("__nb") * F.lit(threshold) <= F.col("__na"))
        .filter(F.col("__na") * F.lit(threshold) <= F.col("__nb"))
        .filter(
            F.lit(1)
            + F.least(
                F.col("__na") - F.col("__ia"), F.col("__nb") - F.col("__jb")
            )
            >= min_overlap
        )
    )


def dedup_against_index(
    new_df: DataFrame,
    id_col: str,
    set_col: str,
    path: str,
    threshold: float | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW corpus against itself AND a persisted
    :func:`build_prefix_index` corpus — new×(new∪indexed), WITHOUT
    recomputing indexed×indexed.

    Ids must be globally unique across the corpora (they identify rows
    in the output). Returns (id_a, id_b, jaccard), id_a < id_b, exact
    Jaccard ≥ threshold — same contract as prefix_filter_candidates +
    jaccard_pairs run on the union, restricted to pairs touching the
    new corpus (the equality tests/test_dedup_index.py pins).

    Plan shape: the new corpus's prefixes are ranked under the index's
    frozen order, then (a) self-joined for new×new and (b) joined
    against ONLY the index prefix buckets its own prefix tokens hash
    into — explicit ``pbucket=`` paths + basePath, no full-index
    listing or scan. Verification joins candidates (narrow id pairs)
    to the two set tables; at scale the candidate side is the small
    one, so AQE broadcasts it against the big indexed-sets scan.
    """
    spark = new_df.sparkSession
    m = spark.read.parquet(f"{path}/meta").first()
    if threshold is None:
        threshold = float(m["threshold"])
    if threshold < float(m["threshold"]):
        raise ValueError(
            f"probe threshold {threshold} < index threshold "
            f"{m['threshold']}: index prefixes are too short for a "
            "looser probe — rebuild the index at the lower threshold"
        )
    dfreq = spark.read.parquet(f"{path}/dfreq")
    pref_b = materialize(
        _ranked_prefixes(new_df, id_col, set_col, threshold, dfreq)
    )
    left = pref_b.select(
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        F.col("__rn").alias("__ia"),
        "__tok",
    )
    right = pref_b.select(
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        F.col("__rn").alias("__jb"),
        "__tok",
    )
    bb = _pair_filters(
        left.join(right, "__tok").filter(F.col("id_a") < F.col("id_b")),
        threshold,
    ).select("id_a", "id_b")
    # index side: only the buckets the probe's prefix tokens land in
    from clickhouse_modules_spark.operators.similarity import (
        _existing_partition_paths,
    )

    buckets = [
        r["pbucket"]
        for r in pref_b.select(
            F.pmod(F.xxhash64("__tok"), F.lit(m["n_buckets"]))
            .alias("pbucket")
        )
        .distinct()
        .collect()  # bounded: ≤ n_buckets rows by construction
    ]
    paths = _existing_partition_paths(
        spark, f"{path}/prefix", "pbucket", sorted(buckets)
    )
    if paths:
        pref_a = spark.read.option("basePath", f"{path}/prefix").parquet(
            *paths
        )
        ab = _pair_filters(
            pref_a.select(
                F.col("__id").alias("id_a"),
                F.col("__n").alias("__na"),
                F.col("__rn").alias("__ia"),
                "__tok",
            ).join(right, "__tok"),
            threshold,
        ).select("id_a", "id_b")
        cand = bb.unionByName(ab)
    else:
        cand = bb
    cand = cand.distinct()
    sets_all = new_df.select(
        F.col(id_col).alias("id"), F.col(set_col).alias("set")
    ).unionByName(spark.read.parquet(f"{path}/sets").select("id", "set"))
    verified = jaccard_pairs(
        sets_all, "id", "set", band_df=cand, threshold=threshold
    )
    # canonical pair order: cross pairs carry (indexed, new) ids in
    # arbitrary relative order — normalize AFTER verification (jaccard
    # is symmetric)
    return verified.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "jaccard",
    ).distinct()


# ---------------------------------------------------------------------
# persisted exact-hash index: incremental cross-corpus EXACT dedup
# ---------------------------------------------------------------------


def build_hash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n_buckets: int = 256,
) -> None:
    """Persist the corpus's content hashes so later crawls can be
    exact-deduped against it without rescanning the corpus — the
    hash-set twin of :func:`build_prefix_index` (which answers the
    NEAR-dup form of the same question).

    Layout: ``{path}/meta`` (id/text col names, bucket count) then
    ``{path}/hashes``: (content_hash, id) — id is the representative
    (min per hash, matching :func:`exact_dedup`'s winner rule) —
    partitioned by ``hbucket`` = first byte of the hash, so a probe's
    anti-join can co-partition on the same derivation and the join
    prunes to the buckets the new crawl actually hits.
    """
    if df.select(id_col).first() is None:
        raise ValueError(
            "build_hash_index: input DataFrame is empty — nothing to index"
        )
    spark = df.sparkSession
    meta = spark.createDataFrame(
        [(id_col, text_col, int(n_buckets))],
        "id_col string, text_col string, n_buckets int",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    hashes = (
        df.select(
            F.sha2(F.col(text_col), 256).alias("content_hash"),
            F.col(id_col).alias("id"),
        )
        .groupBy("content_hash")
        .agg(F.min("id").alias("id"))
        .withColumn(
            "hbucket",
            F.pmod(
                F.conv(F.substring("content_hash", 1, 4), 16, 10).cast("long"),
                F.lit(n_buckets),
            ),
        )
    )
    (
        hashes.repartition("hbucket")
        .write.mode("overwrite")
        .partitionBy("hbucket")
        .parquet(f"{path}/hashes")
    )


def append_to_hash_index(new_df: DataFrame, path: str) -> None:
    """Append a new corpus's content hashes (post-dedup representatives)
    to an existing :func:`build_hash_index`. Hashes already present in
    the index are NOT re-deduplicated on disk (parquet append); probes
    are unaffected (left_anti matches any copy), and
    :func:`sources.registry.compact_index` does not rewrite `hashes` —
    rebuild when duplicate-hash storage matters."""
    spark = new_df.sparkSession
    m = spark.read.parquet(f"{path}/meta").first()
    hashes = (
        new_df.select(
            F.sha2(F.col(m["text_col"]), 256).alias("content_hash"),
            F.col(m["id_col"]).alias("id"),
        )
        .groupBy("content_hash")
        .agg(F.min("id").alias("id"))
        .withColumn(
            "hbucket",
            F.pmod(
                F.conv(F.substring("content_hash", 1, 4), 16, 10).cast("long"),
                F.lit(m["n_buckets"]),
            ),
        )
    )
    (
        hashes.repartition("hbucket")
        .write.mode("append")
        .partitionBy("hbucket")
        .parquet(f"{path}/hashes")
    )


def dedup_exact_against_index(
    new_df: DataFrame, text_col: str, id_col: str, path: str
) -> DataFrame:
    """Rows of the new corpus that survive exact dedup against BOTH the
    new corpus itself and the indexed corpus — the production form of
    "drop everything we've already got" for a new crawl.

    Intra-crawl dedup first (min-id representative per hash, the
    :func:`exact_dedup` rule), then a LEFT ANTI join on content_hash
    against the persisted hash set. One shuffle for the groupBy, one
    for the anti-join (both on uniform sha2-derived keys — skew-free);
    the anti-join's index side is a partitioned scan, and when the
    crawl is small AQE broadcasts its hash set instead.

    Returns the surviving new rows + ``content_hash``.
    """
    spark = new_df.sparkSession
    h = F.sha2(F.col(text_col), 256)
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    fresh = (
        new_df.withColumn("content_hash", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    indexed = spark.read.parquet(f"{path}/hashes").select("content_hash")
    return fresh.join(indexed, "content_hash", "left_anti")

"""Persisted PPJoin prefix index (dedup.build_prefix_index /
append_to_prefix_index / dedup_against_index).

The load-bearing pin: build(A); against_index(B) must equal the
from-scratch pair set of A∪B restricted to pairs touching B — i.e.
incremental new-crawl-vs-indexed-corpus dedup loses NOTHING vs the
quadratic recompute, even though the index's frozen token order
differs from the union's document frequencies."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_modules_spark.operators import dedup
from clickhouse_modules_spark.operators.materialize import materialize

THRESH = 0.5


def _sets(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id", F.split("text", " ", -1).alias("__w")
    ).select(
        "doc_id",
        F.array_distinct(
            F.transform(
                dedup.shingles_from_words(F.col("__w"), 3),
                lambda s: F.xxhash64(s),
            )
        ).alias("hs"),
    )


def _pairs_from_scratch(sets):
    sets = materialize(sets)
    cand = dedup.prefix_filter_candidates(sets, "doc_id", "hs", THRESH)
    return dedup.jaccard_pairs(
        sets, "doc_id", "hs", band_df=cand, threshold=THRESH
    )


def _pairset(df):
    return {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def split_corpus(spark, sf_small):
    """documents split ~60/40 by doc_id hash: A = indexed, B = new."""
    s = _sets(spark, sf_small)
    a = s.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) < 3)
    b = s.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) >= 3)
    return a, b


def test_against_index_equals_scratch_union(
    spark, sf_small, split_corpus, tmp_path_factory
):
    a, b = split_corpus
    path = str(tmp_path_factory.mktemp("ppidx") / "idx")
    dedup.build_prefix_index(a, "doc_id", "hs", path, threshold=THRESH)

    got = _pairset(dedup.dedup_against_index(b, "doc_id", "hs", path))

    b_ids = {r["doc_id"] for r in b.select("doc_id").collect()}
    full = _pairset(_pairs_from_scratch(_sets(spark, sf_small)))
    want = {p for p in full if p[0] in b_ids or p[1] in b_ids}
    assert got == want
    assert len(want) > 0  # the fixture must actually exercise pairs
    # and at least one pair crosses the corpora (the incremental leg)
    assert any((p[0] in b_ids) != (p[1] in b_ids) for p in want)


def test_jaccard_values_match_scratch(spark, sf_small, split_corpus, tmp_path):
    a, b = split_corpus
    path = str(tmp_path / "idx")
    dedup.build_prefix_index(a, "doc_id", "hs", path, threshold=THRESH)
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): round(
            r["jaccard"], 9
        )
        for r in dedup.dedup_against_index(b, "doc_id", "hs", path).collect()
    }
    full = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): round(
            r["jaccard"], 9
        )
        for r in _pairs_from_scratch(_sets(spark, sf_small)).collect()
    }
    for pair, j in got.items():
        assert full[pair] == j


def test_append_then_probe_covers_both(spark, sf_small, tmp_path):
    """build(A); append(B); against_index(C) must cover C×(A∪B∪C)."""
    s = _sets(spark, sf_small)
    h = F.pmod(F.xxhash64("doc_id"), F.lit(3))
    a = s.filter(h == 0)
    b = s.filter(h == 1)
    c = s.filter(h == 2)
    path = str(tmp_path / "idx")
    dedup.build_prefix_index(a, "doc_id", "hs", path, threshold=THRESH)
    dedup.append_to_prefix_index(b, path)

    got = _pairset(dedup.dedup_against_index(c, "doc_id", "hs", path))

    c_ids = {r["doc_id"] for r in c.select("doc_id").collect()}
    full = _pairset(_pairs_from_scratch(s))
    want = {p for p in full if p[0] in c_ids or p[1] in c_ids}
    assert got == want
    assert len(want) > 0


def test_probe_reads_only_matching_buckets(spark, sf_small, tmp_path):
    """Pruning evidence on the REAL plan: the files a small probe scans
    from {path}/prefix must lie in its own prefix-token buckets — via
    df.inputFiles(), not input_file_name (rows filtered later would
    look identical)."""
    s = _sets(spark, sf_small)
    a = s.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) < 4)
    b = s.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) >= 4).limit(3)
    b = materialize(b)
    path = str(tmp_path / "idx")
    dedup.build_prefix_index(a, "doc_id", "hs", path, threshold=THRESH)
    m = spark.read.parquet(f"{path}/meta").first()
    pref_b = dedup._ranked_prefixes(
        b, "doc_id", "hs", THRESH, spark.read.parquet(f"{path}/dfreq")
    )
    want_buckets = {
        r[0]
        for r in pref_b.select(
            F.pmod(F.xxhash64("__tok"), F.lit(m["n_buckets"]))
        ).distinct().collect()
    }
    out = dedup.dedup_against_index(b, "doc_id", "hs", path)
    prefix_files = [
        f for f in out.inputFiles() if "/prefix/" in f
    ]
    assert prefix_files, "probe plan reads no index prefix files"
    for f in prefix_files:
        bucket = int(f.split("pbucket=")[1].split("/")[0])
        assert bucket in want_buckets


def test_probe_threshold_guard(spark, sf_small, split_corpus, tmp_path):
    a, b = split_corpus
    path = str(tmp_path / "idx")
    dedup.build_prefix_index(a, "doc_id", "hs", path, threshold=0.6)
    with pytest.raises(ValueError, match="threshold"):
        dedup.dedup_against_index(b, "doc_id", "hs", path, threshold=0.5)
    # tighter probe than the index is fine
    dedup.dedup_against_index(b, "doc_id", "hs", path, threshold=0.7).count()


def test_empty_build_raises(spark, sf_small, tmp_path):
    s = _sets(spark, sf_small).limit(0)
    with pytest.raises(ValueError, match="empty"):
        dedup.build_prefix_index(s, "doc_id", "hs", str(tmp_path / "e"))


class TestExactHashIndex:
    def test_against_index_equals_scratch(self, spark, sf_small, tmp_path):
        """build(A); exact-probe(B) == exact_dedup(A∪B) restricted to
        rows whose representative lives in B."""
        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        a = d.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) < 3)
        b = d.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) >= 3)
        path = str(tmp_path / "hidx")
        dedup.build_hash_index(a, "text", "doc_id", path)

        got = {
            r["doc_id"]
            for r in dedup.dedup_exact_against_index(
                b, "text", "doc_id", path
            ).collect()
        }

        full = dedup.exact_dedup(
            a.unionByName(b), "text", "doc_id"
        )
        b_ids = {r["doc_id"] for r in b.select("doc_id").collect()}
        want = {
            r["doc_id"]
            for r in full.collect()
            if r["doc_id"] in b_ids
        }
        # survivors are exactly the union-winners that live in B…
        assert got <= {r["doc_id"] for r in b.select("doc_id").collect()}
        # …except where B's min-id beats A's copy in the union (the
        # index always wins for content A already has):
        # every got-row's content is absent from A
        a_hashes = {
            r[0]
            for r in a.select(F.sha2("text", 256)).collect()
        }
        got_hashes = {
            r["content_hash"]
            for r in dedup.dedup_exact_against_index(
                b, "text", "doc_id", path
            ).collect()
        }
        assert not (got_hashes & a_hashes)
        # and every B-content absent from A has exactly one survivor
        assert len(got) == len(got_hashes)
        assert got_hashes == {
            r[0] for r in b.select(F.sha2("text", 256)).collect()
        } - a_hashes
        assert want  # fixture sanity: union dedup has B-side winners

    def test_append_then_probe(self, spark, sf_small, tmp_path):
        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        h = F.pmod(F.xxhash64("doc_id"), F.lit(3))
        a, b, c = (d.filter(h == i) for i in range(3))
        path = str(tmp_path / "hidx2")
        dedup.build_hash_index(a, "text", "doc_id", path)
        dedup.append_to_hash_index(b, path)
        got_hashes = {
            r["content_hash"]
            for r in dedup.dedup_exact_against_index(
                c, "text", "doc_id", path
            ).collect()
        }
        ab_hashes = {
            r[0]
            for r in a.unionByName(b).select(F.sha2("text", 256)).collect()
        }
        c_hashes = {r[0] for r in c.select(F.sha2("text", 256)).collect()}
        assert got_hashes == c_hashes - ab_hashes

    def test_empty_build_raises(self, spark, sf_small, tmp_path):
        d = spark.read.parquet(f"{sf_small}/documents.parquet").limit(0)
        with pytest.raises(ValueError, match="empty"):
            dedup.build_hash_index(d, "text", "doc_id", str(tmp_path / "e"))


class TestStreamNearDup:
    def test_stream_gate_leaves_no_pair_standing(
        self, spark, sf_small, tmp_path
    ):
        """Stream corpus B through the near-dup gate in two
        micro-batches against an index built on A. Invariants:

        - the FINAL corpus (A ∪ survivors) contains NO above-threshold
          pair touching a survivor (the gate's contract — from-scratch
          recompute, not the gate's own code path);
        - at least one doc was dropped and at least one survived
          (fixture actually exercises both outcomes);
        - the sink rows equal the returned rows;
        - the index is self-maintaining: survivors were appended, so a
          re-probe of a survivor's own text reports the jaccard-1 pair.
        """
        import clickhouse_modules_spark.streaming.windows as sw

        s = _sets(spark, sf_small)
        a = s.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) < 3)
        idx = str(tmp_path / "idx")
        dedup.build_prefix_index(a, "doc_id", "hs", idx, threshold=THRESH)

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        b_docs = docs.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(5)) >= 3
        ).select("doc_id", "text")
        src = str(tmp_path / "src")
        b_docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
            src, mode="overwrite"
        )
        b_docs.filter(F.col("doc_id") % 2 == 1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = str(tmp_path / "out")
        got = sw.stream_neardup_against_index(
            stream, "text", idx, out, id_col="doc_id"
        )
        surv_ids = {r["doc_id"] for r in got.select("doc_id").collect()}
        b_ids = {r["doc_id"] for r in b_docs.select("doc_id").collect()}
        assert surv_ids < b_ids          # something was dropped
        assert len(surv_ids) > 0         # something survived

        # from-scratch ground truth over A ∪ survivors: no pair may
        # touch a survivor
        final = a.unionByName(
            s.join(
                got.select("doc_id"), "doc_id", "left_semi"
            )
        )
        standing = _pairset(_pairs_from_scratch(final))
        assert not any(
            p[0] in surv_ids or p[1] in surv_ids for p in standing
        ), standing

        # sink == returned
        sink_ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/data").select(
                "doc_id"
            ).collect()
        }
        assert sink_ids == surv_ids

        # index self-maintenance: re-probing one survivor's text under
        # a FRESH id finds its jaccard-1 twin in the index
        one = got.orderBy("doc_id").limit(1)
        probe = dedup.hashed_shingle_sets(
            one.select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                "text",
            ),
            "text",
            id_col="doc_id",
        )
        hits = dedup.dedup_against_index(probe, "doc_id", "hs", idx)
        top = hits.orderBy(F.col("jaccard").desc()).first()
        assert top is not None and top["jaccard"] == 1.0

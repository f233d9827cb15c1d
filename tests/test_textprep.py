"""textprep operator semantics: chunk coverage/overlap, PII scrub cases,
hash-split stability and proportions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_modules_spark.operators import textprep


def test_chunks_cover_text_with_exact_overlap(spark):
    text = "".join(chr(ord("a") + i % 26) for i in range(500))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    chunks = {
        r["chunk_idx"]: r["chunk"]
        for r in textprep.chunk_text(df, size=256, overlap=32).collect()
    }
    assert len(chunks) == 3  # starts 0, 224, 448
    assert chunks[0] == text[0:256]
    assert chunks[1] == text[224:480]
    assert chunks[2] == text[448:500]  # short tail, not padded
    # consecutive chunks share exactly the overlap
    assert chunks[0][-32:] == chunks[1][:32]


def test_short_doc_yields_single_chunk(spark):
    df = spark.createDataFrame([(1, "tiny")], ["doc_id", "text"])
    rows = textprep.chunk_text(df, size=256, overlap=32).collect()
    assert len(rows) == 1 and rows[0]["chunk"] == "tiny"


def test_overlap_must_be_smaller_than_size(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="overlap"):
        textprep.chunk_text(df, size=64, overlap=64)


@pytest.mark.parametrize(
    "raw,expect",
    [
        ("mail a.b+c@x-y.co today", "mail <EMAIL> today"),
        ("call +1 (555) 123-4567 now", "call <PHONE> now"),
        ("digits 1234 stay", "digits 1234 stay"),  # too short for a phone
        ("both j@d.io and 555-123-9999!", "both <EMAIL> and <PHONE>!"),
    ],
)
def test_scrub_pii_cases(spark, raw, expect):
    df = spark.createDataFrame([(raw,)], ["t"])
    assert df.select(textprep.scrub_pii("t").alias("s")).head()["s"] == expect


def test_hash_split_is_stable_and_proportional(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = df.select("doc_id", textprep.hash_split("doc_id").alias("s"))
    b = df.select("doc_id", textprep.hash_split("doc_id").alias("s"))
    assert a.exceptAll(b).isEmpty()  # deterministic
    counts = {r["s"]: r["count"] for r in a.groupBy("s").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.85 <= counts["train"] / 2000 <= 0.95
    assert counts["val"] / 2000 <= 0.10 and counts["test"] / 2000 <= 0.10


def test_hash_split_subset_invariance(spark):
    """Growing the corpus must not move existing docs between splits —
    the contamination guard the docstring promises."""
    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s = {r["doc_id"]: r["s"] for r in small.select("doc_id", textprep.hash_split("doc_id").alias("s")).collect()}
    bmap = {r["doc_id"]: r["s"] for r in big.select("doc_id", textprep.hash_split("doc_id").alias("s")).collect()}
    assert all(bmap[k] == v for k, v in s.items())


def test_sample_predicate_deterministic_and_consistent(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    from clickhouse_modules_spark.operators.textprep import sample_predicate

    a = sorted(r["k"] for r in df.filter(sample_predicate("k", 10)).collect())
    b = sorted(r["k"] for r in df.filter(sample_predicate("k", 10)).collect())
    assert a == b                      # re-run stable
    assert 50 <= len(a) <= 150        # ~10% of 1000, md5-uniform
    # monotone: a 10% sample is a subset of the 20% sample
    c = set(r["k"] for r in df.filter(sample_predicate("k", 20)).collect())
    assert set(a) <= c


# ------------------------- corpus curation ops (queries/pipeline.py)
class TestRepetition:
    def _run(self, spark, rows):
        import clickhouse_modules_spark.queries  # register
        from clickhouse_modules_spark.queries import QUERIES
        from clickhouse_modules_spark.queries import pipeline as qp
        import tempfile, os

        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                rows, ["doc_id", "text", "lang", "source", "n_chars"]
            ).write.parquet(os.path.join(tmp, "documents.parquet"))
            return {
                r["doc_id"]: r
                for r in qp.q_text_repetition(spark, tmp).collect()
            }

    def test_fully_repeated_doc_scores_high(self, spark):
        out = self._run(
            spark,
            [
                (1, "spam spam spam spam", "en", "s", 19),
                (2, "all words here differ", "en", "s", 21),
            ],
        )
        r1, r2 = out[1], out[2]
        assert r1["dup_word_frac"] == 0.75  # 1 distinct of 4
        assert r1["top_bigram_frac"] == 1.0  # every bigram is 'spam spam'
        assert r2["dup_word_frac"] == 0.0
        # 3 bigrams, all distinct
        assert abs(r2["top_bigram_frac"] - round(1 / 3, 6)) < 1e-9

    def test_single_word_doc_has_zero_bigram_mass(self, spark):
        out = self._run(spark, [(1, "lone", "en", "s", 4)])
        assert out[1]["top_bigram_frac"] == 0.0
        assert out[1]["n_words"] == 1


class TestPacking:
    def test_bins_respect_stream_offsets(self, spark):
        from clickhouse_modules_spark.queries import QUERIES
        from clickhouse_modules_spark.queries import pipeline as qp
        import tempfile, os

        # 3 docs of 1500 ws-tokens each: offsets 0/1500/3000 → bins 0,0,1
        text = " ".join(["w"] * 1500)
        rows = [(i, text, "en", "s", len(text)) for i in range(3)]
        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                rows, ["doc_id", "text", "lang", "source", "n_chars"]
            ).write.parquet(os.path.join(tmp, "documents.parquet"))
            out = {
                r["bin_id"]: r
                for r in QUERIES["q_pack_sequences"](spark, tmp).collect()
            }
        assert out[0]["n_docs"] == 2 and out[0]["bin_tokens"] == 3000
        assert out[1]["n_docs"] == 1 and out[1]["bin_tokens"] == 1500


class TestStratifiedSample:
    def test_rates_and_subset_property(self, spark):
        # the kept set at rate r must be a subset of the kept set at r'>r
        from pyspark.sql import functions as F

        df = spark.range(2000).select(F.col("id").alias("doc_id"))
        bucket = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 1000
        )
        k200 = {r["doc_id"] for r in df.filter(bucket < 200).collect()}
        k500 = {r["doc_id"] for r in df.filter(bucket < 500).collect()}
        assert k200 <= k500
        assert 0.15 < len(k200) / 2000 < 0.25
        assert 0.45 < len(k500) / 2000 < 0.55


class TestContamination:
    def test_planted_duplicate_is_caught(self, spark):
        from clickhouse_modules_spark.queries import QUERIES
        from clickhouse_modules_spark.queries import pipeline as qp
        import tempfile, os

        bench_text = " ".join(f"tok{i}" for i in range(200))
        other = " ".join(f"zzz{i}" for i in range(200))
        rows = [
            (50, bench_text, "en", "s", len(bench_text)),  # benchmark (÷50)
            (7, bench_text, "en", "s", len(bench_text)),   # contaminated copy
            (8, other, "en", "s", len(other)),             # clean
        ]
        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                rows, ["doc_id", "text", "lang", "source", "n_chars"]
            ).write.parquet(os.path.join(tmp, "documents.parquet"))
            pairs = {
                (r["train_id"], r["bench_id"]): r["n_shared"]
                for r in QUERIES["q_text_contaminate"](spark, tmp).collect()
            }
        assert (7, 50) in pairs and pairs[(7, 50)] >= 3
        assert (8, 50) not in pairs

    def test_semi_join_fallback_matches_in_list(self, spark, sf_med, monkeypatch):
        """Past the IN-list bound the query takes the shuffle semi-join
        branch; both branches return the same pairs."""
        from clickhouse_modules_spark.queries import pipeline as qp

        def pairs():
            out = qp.q_text_contaminate(spark, sf_med).collect()
            return sorted(tuple(r) for r in out)

        in_list = pairs()
        monkeypatch.setattr(qp, "_CONTAMINATE_IN_LIST_BOUND", 0)
        fallback = pairs()
        # a non-empty result implies a non-empty pairable set, which
        # exceeds a bound of 0: the fallback branch ran
        assert fallback
        assert fallback == in_list


class TestMixCorpora:
    def test_mixture_hits_target_shares(self, spark, sf_small):
        from clickhouse_modules_spark.operators.textprep import mix_corpora

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        # fixture langs: en 193, de 71, zh 74, fr 82, es 80.
        # target 60/40 en/de → binding domain de (71/0.4=177.5 <
        # 193/0.6=321.7): de keeps all 71, en keeps ~106 of 193
        out = mix_corpora(
            docs, {"en": 0.6, "de": 0.4}, domain_col="lang"
        )
        got = {r["lang"]: r["n"] for r in
               out.groupBy("lang").agg(__import__("pyspark").sql.functions
                                       .count("*").alias("n")).collect()}
        assert set(got) == {"en", "de"}
        assert got["de"] == 71           # binding domain: keeps 100%
        # en realized count is binomial around 0.6/0.4*71 ≈ 106.5
        assert abs(got["en"] - 106.5) <= 25
        # deterministic: identical row set on re-run
        ids1 = {r["doc_id"] for r in out.collect()}
        ids2 = {
            r["doc_id"]
            for r in mix_corpora(
                docs, {"en": 0.6, "de": 0.4}, domain_col="lang"
            ).collect()
        }
        assert ids1 == ids2

    def test_shares_normalized_and_missing_domain_rejected(
        self, spark, sf_small
    ):
        import pytest as _pytest

        from clickhouse_modules_spark.operators.textprep import mix_corpora

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        a = mix_corpora(docs, {"en": 0.6, "de": 0.4}, domain_col="lang")
        b = mix_corpora(docs, {"en": 6, "de": 4}, domain_col="lang")
        assert {r["doc_id"] for r in a.collect()} == {
            r["doc_id"] for r in b.collect()
        }
        with _pytest.raises(ValueError, match="absent"):
            mix_corpora(docs, {"en": 1, "klingon": 1}, domain_col="lang")

    def test_scan_local_plan(self, spark, sf_small):
        # the mixing filter must stay in the scan stage: no Exchange
        # anywhere in the plan (the counts pass is a separate job)
        from clickhouse_modules_spark.operators.textprep import mix_corpora

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        out = mix_corpora(docs, {"en": 0.5, "fr": 0.5}, domain_col="lang")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


class TestShuffleCorpus:
    def test_two_phase_rank_equals_single_window(self, spark, sf_small):
        from pyspark.sql.window import Window

        from clickhouse_modules_spark.operators.textprep import (
            shuffle_corpus,
        )

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        for hash_fn in ("xxhash64", "md5"):
            got = shuffle_corpus(docs, seed=7, hash_fn=hash_fn)
            if hash_fn == "md5":
                key = F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":7"))
                )
            else:
                key = F.xxhash64(F.col("doc_id"), F.lit(7))
            w = Window.orderBy(key, "doc_id")
            expect = docs.withColumn(
                "shuffle_rank", F.row_number().over(w).cast("long")
            )
            assert sorted(
                (r["doc_id"], r["shuffle_rank"])
                for r in got.select("doc_id", "shuffle_rank").collect()
            ) == sorted(
                (r["doc_id"], r["shuffle_rank"])
                for r in expect.select("doc_id", "shuffle_rank").collect()
            ), hash_fn

    def test_permutation_properties(self, spark, sf_small):
        from clickhouse_modules_spark.operators.textprep import (
            shuffle_corpus,
        )

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        n = docs.count()
        a = shuffle_corpus(docs, seed=1)
        ranks = [r["shuffle_rank"] for r in a.select("shuffle_rank").collect()]
        # contiguous 1..N, no gaps or dups
        assert sorted(ranks) == list(range(1, n + 1))
        # same seed → identical permutation; new seed → a different one
        a2 = {
            (r["doc_id"], r["shuffle_rank"])
            for r in shuffle_corpus(docs, seed=1)
            .select("doc_id", "shuffle_rank")
            .collect()
        }
        assert a2 == {
            (r["doc_id"], r["shuffle_rank"])
            for r in a.select("doc_id", "shuffle_rank").collect()
        }
        b = {
            (r["doc_id"], r["shuffle_rank"])
            for r in shuffle_corpus(docs, seed=2)
            .select("doc_id", "shuffle_rank")
            .collect()
        }
        assert a2 != b

    def test_unknown_hash_fn_rejected(self, spark, sf_small):
        import pytest as _pytest

        from clickhouse_modules_spark.operators.textprep import (
            shuffle_corpus,
        )

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        with _pytest.raises(ValueError, match="hash_fn"):
            shuffle_corpus(docs, seed=1, hash_fn="sha1")


class TestSelectByTokenBudget:
    def _docs(self, spark, sf_small):
        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        return d.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
            (
                F.length("text").cast("double")
                / F.size(F.split("text", " "))
            ).alias("quality"),
        )

    def _single_window_kept(self, docs, budget):
        from pyspark.sql.window import Window

        w = (
            Window.orderBy(F.col("quality").desc(), F.col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return {
            r["doc_id"]
            for r in docs.withColumn(
                "cum", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
            )
            .filter(F.col("cum") < budget)
            .collect()
        }

    def test_two_phase_equals_single_window(self, spark, sf_small):
        from clickhouse_modules_spark.operators.textprep import (
            select_by_token_budget,
        )

        docs = self._docs(spark, sf_small)
        total = docs.agg(F.sum("n_tok")).collect()[0][0]
        for budget in (total // 3, total // 2, 1, 10_000):
            got = {
                r["doc_id"]
                for r in select_by_token_budget(
                    docs, budget, "quality", "n_tok"
                ).collect()
            }
            assert got == self._single_window_kept(docs, budget), budget

    def test_budget_edges(self, spark, sf_small):
        from clickhouse_modules_spark.operators.textprep import (
            select_by_token_budget,
        )

        docs = self._docs(spark, sf_small)
        n = docs.count()
        total = docs.agg(F.sum("n_tok")).collect()[0][0]
        # budget ≥ total keeps everything; ≤0 keeps nothing
        assert select_by_token_budget(
            docs, total + 1, "quality", "n_tok"
        ).count() == n
        assert select_by_token_budget(
            docs, 0, "quality", "n_tok"
        ).count() == 0
        # greedy overshoot: kept tokens may EXCEED budget by at most
        # the final doc, never undershoot while docs remain
        budget = total // 2
        kept = select_by_token_budget(docs, budget, "quality", "n_tok")
        kept_tok = kept.agg(F.sum("n_tok")).collect()[0][0]
        max_tok = docs.agg(F.max("n_tok")).collect()[0][0]
        assert budget <= kept_tok < budget + max_tok

    def test_null_quality_sorts_last(self, spark):
        from clickhouse_modules_spark.operators.textprep import (
            select_by_token_budget,
        )

        docs = spark.createDataFrame(
            [(1, 10, 5.0), (2, 10, None), (3, 10, 1.0)],
            "doc_id long, n_tok long, quality double",
        )
        kept = {
            r["doc_id"]
            for r in select_by_token_budget(
                docs, 20, "quality", "n_tok"
            ).collect()
        }
        # budget admits two docs: the two NON-NULL qualities win
        assert kept == {1, 3}

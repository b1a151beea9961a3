"""heavy_hitters (exact Misra-Gries two-pass) + split_leakage audit."""

import pytest
from pyspark.sql import functions as F

from aloha_spark.operators.corpus import heavy_hitters, split_leakage


def _brute(df, support, text="text"):
    from aloha_spark.operators.textstats import tokens_col
    import math
    toks = df.select(F.explode(tokens_col(text)).alias("token"))
    total = toks.count()
    thr = math.ceil(support * total)
    rows = (toks.groupBy("token").count()
            .where(F.col("count") >= thr).collect())
    return {(r["token"], r["count"]) for r in rows}


class TestHeavyHitters:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        # skewed synthetic corpus: zipf-ish token draws + one token
        # concentrated entirely in a narrow doc_id range (so a sorted
        # partitioning localizes it — the adversarial case for the
        # per-partition candidate pass)
        return spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit("common"),
                F.concat(F.lit("tok"), (F.col("id") % 40).cast("string")),
                F.concat(F.lit("rare"), (F.col("id") % 500).cast("string")),
                F.when(F.col("id") < 100, F.lit("burst burst burst"))
                 .otherwise(F.concat(F.lit("tail"),
                                     F.col("id").cast("string"))))
            .alias("text"))

    @pytest.mark.parametrize("support", [0.2, 0.05, 0.01])
    @pytest.mark.parametrize("parts", [1, 7, 32])
    def test_exact_vs_brute(self, spark, docs, support, parts):
        d = docs.repartition(parts) if parts != 1 else docs.coalesce(1)
        got = {(r["token"], r["cnt"])
               for r in heavy_hitters(d, support=support).collect()}
        assert got == _brute(d, support), (support, parts)

    def test_concentrated_token_survives_sorted_layout(self, spark, docs):
        # range partitioning puts every 'burst' occurrence in one
        # partition; the pigeonhole argument must still surface it
        d = docs.repartitionByRange(8, "doc_id")
        got = {r["token"] for r in
               heavy_hitters(d, support=0.02).collect()}
        assert "burst" in got
        assert got == {t for t, _ in _brute(d, 0.02)}

    def test_freq_column(self, spark, docs):
        rows = heavy_hitters(docs, support=0.2).collect()
        for r in rows:
            assert r["freq"] >= 0.2
            assert abs(r["freq"] - r["cnt"] / sum(
                x["cnt"] / x["freq"] for x in rows[:1])) < 1e-9

    def test_nondeterministic_input_raises(self, spark, docs):
        for bad in (docs.where(F.rand(7) < 0.5), docs.orderBy(F.rand(7))):
            with pytest.raises(ValueError, match="deterministic"):
                heavy_hitters(bad, support=0.2)
        # a seeded sample is repeatable; a materialized frame is fixed
        ok = (docs.sample(0.5, seed=3),
              docs.where(F.rand(7) < 0.5).localCheckpoint())
        for d in ok:
            assert {(r["token"], r["cnt"])
                    for r in heavy_hitters(d, support=0.2).collect()} \
                == _brute(d, 0.2)

    def test_validation(self, spark, docs):
        with pytest.raises(ValueError, match="support"):
            heavy_hitters(docs, support=0.0)
        with pytest.raises(ValueError, match="candidate_slack"):
            heavy_hitters(docs, support=0.5, candidate_slack=0)


class TestSplitLeakage:
    def _frame(self, spark):
        rows = [
            (0, "train", "alpha beta"),
            (1, "train", "alpha beta"),      # in-train dup: NOT reported
            (2, "val",   "alpha beta"),      # leaks (2 train copies)
            (3, "test",  "gamma delta"),
            (4, "train", "gamma delta"),     # -> 3 leaks too
            (5, "val",   "unique eval"),     # clean
            (6, "train", None),
            (7, "test",  None),              # NULL text == NULL text
            (8, "val",   "epsilon"),
            (9, "val",   "epsilon"),         # dup WITHIN eval: clean
        ]
        return spark.createDataFrame(
            rows, "doc_id long, split string, text string")

    def test_exact_leakage(self, spark):
        got = {(r.doc_id, r.split, r.n_train_copies)
               for r in split_leakage(self._frame(spark)).collect()}
        assert got == {(2, "val", 2), (3, "test", 1), (7, "test", 1)}

    def test_custom_split_sets(self, spark):
        got = {r.doc_id for r in split_leakage(
            self._frame(spark), train_splits=("train", "val"),
            eval_splits=("test",)).collect()}
        assert got == {3, 7}

    def test_reserved_columns_guard(self, spark):
        df = self._frame(spark).withColumn("_h", F.lit(1))
        with pytest.raises(ValueError, match="reserved"):
            split_leakage(df)

    def test_neardup_composition(self, spark):
        """The documented near-dup variant: minhash pairs whose
        endpoints land in different splits."""
        from aloha_spark.operators.dedup import minhash_dedup_pairs
        rows = [(i, "train" if i % 2 == 0 else "val",
                 "the quick brown fox jumps over the lazy dog "
                 + ("today" if i < 2 else f"variant {i}"))
                for i in range(6)]
        df = spark.createDataFrame(
            rows, "doc_id long, split string, text string")
        pairs = minhash_dedup_pairs(df, id_col="doc_id", text="text",
                                    threshold=0.5, shingle_n=3)
        s = df.select("doc_id", "split")
        crossing = (pairs
                    .join(s.withColumnRenamed("doc_id", "id_a")
                           .withColumnRenamed("split", "split_a"), "id_a")
                    .join(s.withColumnRenamed("doc_id", "id_b")
                           .withColumnRenamed("split", "split_b"), "id_b")
                    .where(F.col("split_a") != F.col("split_b")))
        got = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
               for r in crossing.collect()}
        assert (0, 1) in got          # near-identical docs 0/1 cross


class TestHeavyHittersNgrams:
    def _brute_ngrams(self, df, support, n):
        import math
        from aloha_spark.operators.corpus import ngrams_of
        from aloha_spark.operators.textstats import tokens_col
        toks = df.select(tokens_col("text").alias("_tk")) \
            .select(F.explode(ngrams_of(F.col("_tk"), n)).alias("g"))
        total = toks.count()
        thr = math.ceil(support * total)
        return {(r["g"], r["count"]) for r in
                toks.groupBy("g").count()
                .where(F.col("count") >= thr).collect()}

    def test_bigram_exact_vs_brute(self, spark):
        df = spark.range(500).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", F.lit("the boilerplate header line"),
                F.concat(F.lit("u"), F.col("id").cast("string")),
                F.lit("all rights reserved")).alias("text"))
        for parts in (1, 9):
            d = df.repartition(parts) if parts > 1 else df.coalesce(1)
            got = {(r["token"], r["cnt"]) for r in heavy_hitters(
                d, support=0.05, ngram=2).collect()}
            assert got == self._brute_ngrams(d, 0.05, 2), parts
        # the boilerplate bigrams surface, the unique ids don't
        grams = {g for g, _ in got}
        assert "the boilerplate" in grams
        assert "rights reserved" in grams
        assert not any(g.startswith("u1 ") for g in grams)

    def test_ngram_validation(self, spark):
        df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="ngram"):
            heavy_hitters(df, support=0.5, ngram=0)

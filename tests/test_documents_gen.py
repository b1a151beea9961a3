"""Synthetic-document generator + corpus scaling-workload composition.

The corpus scaling benchmark (BENCH/scaling.py --workload corpus) is
only meaningful if every curation stage does real work on the synthetic
corpus — these tests pin the fixtures the generator promises
(exact-dup clusters, low-quality rows, non-English rows, PII tokens,
verbatim benchmark overlap) and then drive the REAL jobs/curate.py
composition the benchmark runs, asserting each stage's observable
effect on the output frame.
"""

import pyspark.sql.functions as F
import pytest

from aloha_spark.data.documents import make_benchmark, make_documents


@pytest.fixture(scope="module")
def docs(spark):
    return make_documents(spark, 4000, partitions=4).cache()


def test_schema_matches_driver_documents_table(docs):
    assert [(f.name, f.dataType.simpleString()) for f in docs.schema] == [
        ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "bigint")]


def test_deterministic_and_distributed(spark, docs):
    a = docs.orderBy("doc_id").toPandas()
    b = make_documents(spark, 4000, partitions=7) \
        .orderBy("doc_id").toPandas()
    assert a.equals(b)          # partitioning must not change content
    assert len(a) == 4000 and a["doc_id"].is_unique


def test_curation_fixtures_present(docs):
    # exact-dup clusters: identical text across distinct doc_ids
    dup_groups = (docs.groupBy("text").count()
                  .where((F.col("count") > 1) & (F.length("text") > 20)))
    assert dup_groups.count() > 20
    # low-quality rows (empty / two-word)
    assert docs.where(F.length("text") < 10).count() > 100
    # non-English rows flagged AND guessed: lang column says xx and the
    # n-gram heuristic agrees often enough for a --langs en filter to
    # actually drop rows
    from aloha_spark.operators.textstats import with_lang_id
    guessed = with_lang_id(docs, "text")
    xx = guessed.where(F.col("lang") == "xx")
    n_xx = xx.count()
    assert n_xx > 100
    assert xx.where(F.col("lang_guess") != "en").count() > n_xx * 0.5
    # PII tokens to scrub
    assert docs.where(F.col("text").contains("@example.com")).count() > 200
    # n_chars is the real length
    assert docs.where(F.col("n_chars") != F.length("text")).count() == 0


def test_benchmark_is_verbatim_slice(docs):
    bench = make_benchmark(docs)
    assert 0 < bench.count() < 20
    assert bench.join(docs, ["doc_id", "text"]).count() == bench.count()


def test_corpus_workload_composition(spark, docs, tmp_path):
    """The exact flag set BENCH/scaling.py's CORPUS_RUNNER passes to
    jobs/curate.py, at test scale: every stage must leave its mark."""
    from jobs.curate import curate, parse_args, read_observed
    from aloha_spark.operators.dedup import release_intermediates

    d = str(tmp_path / "docs")
    b = str(tmp_path / "bench")
    docs.write.parquet(d)
    make_benchmark(docs).write.parquet(b)
    args = parse_args([
        "--docs", d, "--out", "_", "--lineage", "_",
        "--min-quality", "0.5", "--langs", "en", "--scrub-pii",
        "--exact-dedup", "--decontam-docs", b,
        "--decontam-n", "8", "--decontam-threshold", "0.5",
        "--split", "train=0.98,val=0.01,test=0.01",
        "--pack-budget", "512", "--stage-counts"])
    x, _, report = curate(spark, args)
    out = x.cache().toPandas()
    release_intermediates(x)
    read_observed(report)

    # decontamination dropped real rows (the benchmark is a verbatim
    # corpus slice, so surviving originals MUST be contaminated)
    stage_rows = {s["stage"]: s["rows"] for s in report["stages"]}
    assert stage_rows["decontam"] < stage_rows["exact_dedup"]

    assert report["input_rows"] == 4000
    assert len(out) > 500                     # pipeline keeps real mass
    # chunk+pack output shape (text is replaced by chunk_text)
    for col in ("chunk_id", "chunk_idx", "chunk_text", "n_tokens",
                "pack_id", "pack_slot", "split"):
        assert col in out.columns, col
    # PII scrub: no raw email survives
    assert not out["chunk_text"].str.contains("@example.com").any()
    # exact dedup: docs here are far below the chunk budget, so the
    # chunk-0 text IS the full (scrubbed) text — must be unique
    first_chunks = out[out["chunk_idx"] == 0]
    assert first_chunks["chunk_text"].is_unique
    # pack budget: token sums within budget for non-oversized packs
    sums = (out[~out["oversized"]]
            .groupby("pack_id")["n_tokens"].sum())
    assert (sums <= 512).all()
    # split: all rows assigned, train dominates
    assert set(out["split"].unique()) <= {"train", "val", "test"}
    assert (out["split"] == "train").mean() > 0.9


def test_testdata_vocab_covered_by_oracle_literals(spark):
    """The hash-MATCH oracles for vw_lines/libsvm_lines/feature_vectors
    embed literal murmur hashes for every possible bag key — valid only
    while the driver testdata's token/lang universe stays inside the
    literal sets.  A testdata refresh that widens the vocabulary must
    fail HERE (named assumption) rather than as a bare hash mismatch."""
    import os
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as entry
    d = spark.read.parquet(f"{sf}/documents.parquet")
    toks = {r[0] for r in d.select(
        F.explode(F.split("text", " ")).alias("t")).distinct().collect()}
    langs = {r[0] for r in d.select("lang").distinct().collect()
             if r[0] is not None}
    assert toks <= set(entry._DOC_VOCAB), toks - set(entry._DOC_VOCAB)
    assert langs <= set(entry._DOC_LANGS), langs - set(entry._DOC_LANGS)
    # and no document needs java-regex tokenization beyond single-space
    # splitting (leading/trailing/double spaces would diverge)
    bad = d.where(F.col("text").rlike("^ | $|  ") |
                  F.col("text").rlike("[\\t\\n]") |
                  F.col("text").isNull()).count()
    assert bad == 0
    # doc_fingerprint's oracle power table covers exponents 0..255
    max_toks = d.select(F.max(F.size(F.split("text", " ")))).first()[0]
    assert max_toks <= 256, max_toks

"""Corpus-curation job: stage semantics (quality -> lang -> scrub ->
exact dedup -> near-dup keep-canonical) and lineage-gated resume."""

import importlib.util
import os

import pyspark.sql.functions as F
import pytest

_spec = importlib.util.spec_from_file_location(
    "curate_job", os.path.join(os.path.dirname(__file__), "..",
                               "jobs", "curate.py"))
curate_job = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and curate_job)


GOOD = ("the cat sat on the mat and it was a fine day for sitting "
        "in the sun with a book about the history of cats")


def _write_docs(spark, path):
    rows = [
        # near-dup family: same text modulo one trailing word
        (0, GOOD + " today"),
        (1, GOOD + " yesterday"),
        # exact-dup-after-scrub family: differ only in the email
        (2, "contact me at alice@example.com about the big cat project "
            "that we discussed in the meeting of the team"),
        (3, "contact me at bob@other.org about the big cat project "
            "that we discussed in the meeting of the team"),
        # junk: too short -> low quality
        (4, "x!"),
        # German doc (stopword-vote lang id)
        (5, "der hund und die katze sind in den garten von dem haus "
            "zu der zeit mit dem ball gegangen und das ist gut"),
        # clean unique keeper
        (6, "a completely different document that is long enough to "
            "pass the quality band and it is about the sea and ships"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(path)


def _args(docs, out, lineage, extra=()):
    return curate_job.parse_args([
        "--docs", docs, "--out", out, "--lineage", lineage,
        "--min-quality", "0.5", "--langs", "en", "--scrub-pii",
        "--exact-dedup", "--neardup-threshold", "0.6",
        "--num-buckets", "8", "--group-size", "4", "--stage-counts",
        *extra])


def test_curate_stages(spark, tmp_path):
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs)
    args = _args(docs, str(tmp_path / "out"), str(tmp_path / "lin"))
    x, pairs, report = curate_job.curate(spark, args)
    rows = {r["doc_id"]: r for r in x.collect()}
    # 4 dropped by quality, 5 dropped by lang filter,
    # 3 dropped by exact dedup (identical after email scrub),
    # 1 dropped by near-dup (keep canonical 0)
    assert sorted(rows) == [0, 2, 6]
    # PII really gone, placeholder present, count recorded
    assert "alice@example.com" not in rows[2]["text"]
    assert "<EMAIL>" in rows[2]["text"]
    assert rows[2]["n_redactions"] == 1
    curate_job.read_observed(report)
    stage_rows = {s["stage"]: s["rows"] for s in report["stages"]}
    assert stage_rows == {"quality_filter": 6, "lang_filter": 5,
                          "pii_scrub": 5, "exact_dedup": 4,
                          "neardup_dedup": 3}
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(0, 1)}


def test_curate_write_resume(spark, tmp_path):
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    args = _args(docs, out, lin)
    from aloha_spark.plans.lineage import (
        completed_buckets, write_with_lineage)

    x, _, _ = curate_job.curate(spark, args)
    r1 = write_with_lineage(x, out, lin, key=args.id_col,
                            ts_col=args.id_col,
                            num_buckets=args.num_buckets,
                            group_size=args.group_size)
    assert len(r1.written_buckets) == 8 and not r1.skipped_buckets
    back = spark.read.parquet(out)
    assert {r["doc_id"] for r in back.select("doc_id").collect()} \
        == {0, 2, 6}
    # resume: every bucket already in the lineage table is skipped
    r2 = write_with_lineage(x, out, lin, key=args.id_col,
                            ts_col=args.id_col,
                            num_buckets=args.num_buckets,
                            group_size=args.group_size)
    assert not r2.written_buckets and len(r2.skipped_buckets) == 8
    assert completed_buckets(spark, lin) == set(range(8))

def test_curate_decontam_sample_split(spark, tmp_path):
    """The post-dedup stages: benchmark decontamination drops the
    overlapping doc, stratified sampling filters per stratum, split
    assignment appends a stable column."""
    docs = str(tmp_path / "docs")
    bench = str(tmp_path / "bench")
    rows = [(i, f"src{i % 2}",
             f"unique document number {i} about topic {i} with enough "
             f"words to form plenty of distinct three grams here")
            for i in range(20)]
    # doc 19 is a verbatim copy of the benchmark text
    bench_text = ("the held out evaluation question that must never "
                  "appear inside the training corpus at all")
    rows[19] = (19, "src1", bench_text)
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
         .write.mode("overwrite").parquet(docs)
    spark.createDataFrame([(0, bench_text)], "doc_id long, text string") \
         .write.mode("overwrite").parquet(bench)

    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"),
        "--decontam-docs", bench, "--decontam-n", "3",
        "--decontam-threshold", "0.5",
        "--sample-col", "source", "--sample-fracs", "src0=1.0",
        "--sample-default", "0.5",
        "--split", "train=0.8,val=0.1,test=0.1", "--stage-counts"])
    x, _, report = curate_job.curate(spark, args)
    out = x.collect()
    ids = {r["doc_id"] for r in out}
    assert 19 not in ids                      # decontaminated
    assert {i for i in ids if i % 2 == 0} == set(range(0, 19, 2))  # src0 kept
    assert all(r["split"] in ("train", "val", "test") for r in out)
    stages = [s["stage"] for s in report["stages"]]
    assert stages == ["decontam", "stratified_sample", "split_assign"]
    # split assignment is a pure function of (salt, id): re-running
    # curate yields identical assignments
    y, _, _ = curate_job.curate(spark, args)
    assert sorted((r["doc_id"], r["split"]) for r in y.collect()) \
        == sorted((r["doc_id"], r["split"]) for r in out)


def test_curate_shard_stage_and_resume(spark, tmp_path):
    """Output stage: chunk -> pack -> shard write.  Chunk budget 8 /
    overlap 2 / pack budget 16 over small docs; the write keys on
    pack_id (a pack never splits across shard buckets), and a crash
    after the first bucket group resumes to a complete, duplicate-free
    shard set."""
    docs = str(tmp_path / "docs")
    rows = [(i, " ".join(f"w{i}t{j}" for j in range(3 + (i * 7) % 20)))
            for i in range(30)]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(docs)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    args = curate_job.parse_args([
        "--docs", docs, "--out", out, "--lineage", lin,
        "--chunk-budget", "8", "--chunk-overlap", "2",
        "--pack-budget", "16", "--pack-partitions", "4",
        "--num-buckets", "8", "--group-size", "4",
        "--split", "train=0.9,val=0.1"])
    x, _, report = curate_job.curate(spark, args)
    pdf = x.toPandas()

    # every chunk within the chunk budget, every multi-chunk pack
    # within the pack budget, chunking never drops a document
    assert (pdf["n_tokens"] <= 8).all()
    assert set(pdf["doc_id"]) == set(range(30))
    per_pack = pdf.groupby("pack_id").agg(
        tot=("n_tokens", "sum"), n=("n_tokens", "size"))
    assert ((per_pack["tot"] <= 16) | (per_pack["n"] == 1)).all()
    assert not pdf["oversized"].any()
    # chunks carry the document-level split through the stage
    assert set(pdf["split"]) <= {"train", "val"}
    assert (pdf.groupby("doc_id")["split"].nunique() == 1).all()
    stages = [s["stage"] for s in report["stages"]]
    assert stages[-2:] == ["chunk", "pack"]

    from aloha_spark.plans.lineage import write_with_lineage

    # crash after the first bucket group, then resume
    with pytest.raises(RuntimeError, match="injected failure"):
        write_with_lineage(x, out, lin, key="pack_id", ts_col="pack_id",
                           num_buckets=8, group_size=4,
                           fail_after_groups=1)
    r2 = write_with_lineage(x, out, lin, key="pack_id", ts_col="pack_id",
                           num_buckets=8, group_size=4)
    assert len(r2.written_buckets) + len(r2.skipped_buckets) == 8
    assert r2.skipped_buckets == [0, 1, 2, 3]
    back = spark.read.parquet(out).toPandas()
    # complete and duplicate-free after the resume
    assert sorted(back["chunk_id"]) == sorted(pdf["chunk_id"])
    # pack integrity on disk: all chunks of a pack share one bucket
    assert (back.groupby("pack_id")["bucket"].nunique() == 1).all()


def test_curate_chunk_budget_exceeds_pack_budget(spark, tmp_path):
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"),
        "--chunk-budget", "64", "--pack-budget", "32"])
    with pytest.raises(SystemExit, match="exceeds"):
        curate_job.curate(spark, args)


def test_curate_sample_requires_col(spark, tmp_path):
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--sample-default", "0.5"])
    with pytest.raises(SystemExit):
        curate_job.curate(spark, args)


def test_curate_repetition_filter(spark, tmp_path):
    """Gopher length/repetition gate: repetitive and too-short docs
    drop, short-but-clean docs survive the NULL dup fractions, helper
    columns never reach the output."""
    docs = str(tmp_path / "docs")
    rows = [
        (0, GOOD),                               # clean keeper
        (1, "spam " * 40),                       # top_token_frac = 1.0
        (2, ("the cat sat " * 15) + "done"),     # dup bigrams/trigrams
        (3, "tiny doc"),                         # below --min-tokens
        # 6 tokens: above min, has bigrams/trigrams but all distinct
        (4, "six distinct tokens in this doc"),
        (5, None),                               # NULL text -> dropped
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--min-tokens", "5", "--max-top-token-frac", "0.2",
        "--max-dup-bigram-frac", "0.3", "--max-dup-trigram-frac", "0.3"])
    x, _, report = curate_job.curate(spark, args)
    pdf = x.toPandas()
    assert sorted(pdf["doc_id"]) == [0, 4]
    for col in ("n_tokens", "top_token_frac", "dup_bigram_frac",
                "dup_trigram_frac"):
        assert col not in pdf.columns
    curate_job.read_observed(report)
    assert report["stages"][0] == {"stage": "repetition_filter",
                                   "rows": 2}


def test_curate_temperature_sample_stage(spark, tmp_path):
    docs = str(tmp_path / "docs")
    rows = [(i, "big" if i < 640 else f"s{i % 4}",
             f"document {i} with several words") for i in range(720)]
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
         .write.mode("overwrite").parquet(docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--sample-col", "source",
        "--temperature-alpha", "0.3", "--temperature-frac", "0.5"])
    x, _, report = curate_job.curate(spark, args)
    per = x.toPandas().groupby("source").size()
    # alpha=0.3 flattens hard: the four 20-row strata keep everything
    # (rate capped at 1), the 640-row stratum is cut far below 50%
    for s in ("s0", "s1", "s2", "s3"):
        assert per[s] == 20
    assert per["big"] < 320
    assert report["stages"][0]["stage"] == "temperature_sample"


def test_curate_temperature_excludes_sample_fracs(spark, tmp_path):
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--sample-col", "source",
        "--sample-fracs", "src0=0.5", "--temperature-alpha", "0.5"])
    with pytest.raises(SystemExit, match="mutually exclusive"):
        curate_job.curate(spark, args)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--temperature-alpha", "0.5"])
    with pytest.raises(SystemExit, match="require"):
        curate_job.curate(spark, args)


def test_curate_paragraph_dedup_stage(spark, tmp_path):
    docs = str(tmp_path / "docs")
    rows = [
        (0, "unique lead paragraph\n\nshared cookie banner"),
        (1, "shared cookie banner\n\nanother unique paragraph"),
        (2, "shared cookie banner"),          # nothing left -> dropped
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--para-dedup-delim", "\n\n"])
    x, _, report = curate_job.curate(spark, args)
    got = {r["doc_id"]: r["text"] for r in x.collect()}
    assert got == {
        0: "unique lead paragraph\n\nshared cookie banner",
        1: "another unique paragraph",
    }
    curate_job.read_observed(report)
    assert report["stages"][0] == {"stage": "paragraph_dedup", "rows": 2}


def test_curate_line_filter_stage(spark, tmp_path):
    docs = str(tmp_path / "docs")
    rows = [
        (0, "nav bar\ncontent zero\nfooter"),
        (1, "nav bar\ncontent one\nfooter"),
        (2, "nav bar\ncontent two\nfooter"),
        (3, "footer"),                        # nothing left -> dropped
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(docs)
    # "nav bar" and "footer" occur 3 and 4 times (> max_freq 2): every
    # occurrence is removed, unlike paragraph dedup's keep-first rule
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--line-filter-delim", "\n", "--line-filter-max-freq", "2"])
    x, _, report = curate_job.curate(spark, args)
    got = {r["doc_id"]: r["text"] for r in x.collect()}
    assert got == {0: "content zero", 1: "content one",
                   2: "content two"}
    curate_job.read_observed(report)
    assert report["stages"][0] == {"stage": "line_filter", "rows": 3}


def test_curate_line_filter_before_paragraph_dedup(spark, tmp_path):
    # composed: boilerplate stripped first, THEN the now-identical
    # remainder deduplicates at paragraph level
    docs = str(tmp_path / "docs")
    rows = [
        (0, "promo line\nsame body"),     # promo freq 3 -> stripped;
        (1, "promo line\nsame body"),     # body freq 2 -> survives
        (2, "promo line\nunique tail"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--line-filter-delim", "\n", "--line-filter-max-freq", "2",
        "--para-dedup-delim", "\n"])
    x, _, report = curate_job.curate(spark, args)
    got = {r["doc_id"]: r["text"] for r in x.collect()}
    assert got == {0: "same body", 2: "unique tail"}
    assert [s["stage"] for s in report["stages"]] == [
        "line_filter", "paragraph_dedup"]


def test_curate_clf_filter_stage(spark, tmp_path):
    docs = str(tmp_path / "docs")
    tgt = str(tmp_path / "target")
    rows = [(i, f"alpha beta gamma delta w{i % 7}") for i in range(40)]
    rows += [(100 + i, f"zz{i % 9} qq vv kk jj") for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(docs)
    spark.createDataFrame([(0, "alpha beta gamma delta")],
                          "doc_id long, text string") \
         .write.mode("overwrite").parquet(tgt)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--clf-target", tgt, "--clf-min-prob", "0.5",
        "--clf-negative-frac", "0.5", "--clf-features", "1024",
        "--clf-iterations", "30"])
    x, _, report = curate_job.curate(spark, args)
    kept = sorted(r["doc_id"] for r in x.select("doc_id").collect())
    # target-vocabulary docs survive, junk-vocabulary docs drop
    assert kept == list(range(40))
    curate_job.read_observed(report)
    assert report["stages"][0] == {"stage": "clf_filter", "rows": 40}
    with pytest.raises(SystemExit, match="clf-min-prob"):
        curate_job.curate(spark, curate_job.parse_args([
            "--docs", docs, "--out", str(tmp_path / "o2"),
            "--lineage", str(tmp_path / "l2"), "--clf-target", tgt]))


def test_curate_bloom_decontam_stage(spark, tmp_path):
    docs = str(tmp_path / "docs")
    bench = str(tmp_path / "bench")
    rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(30)]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(docs)
    # benchmark == docs 0..9: those must drop, the rest survive
    spark.createDataFrame(rows[:10], "doc_id long, text string") \
         .write.mode("overwrite").parquet(bench)
    base = ["--docs", docs, "--out", str(tmp_path / "o"),
            "--lineage", str(tmp_path / "l"),
            "--decontam-docs", bench, "--decontam-n", "3",
            "--decontam-threshold", "0.5"]
    args = curate_job.parse_args(
        base + ["--decontam-method", "bloom",
                "--decontam-expected-items", "64",
                "--decontam-fpp", "1e-6"])
    x, _, _ = curate_job.curate(spark, args)
    kept = sorted(r["doc_id"] for r in x.select("doc_id").collect())
    # doc 10 shares gram "w10 w11 w12" with benchmark doc 9 -> exactly
    # at the 0.5 threshold -> dropped too
    assert kept == list(range(11, 30))
    # bloom requires the sizing hint
    with pytest.raises(SystemExit, match="expected-items"):
        curate_job.curate(spark, curate_job.parse_args(
            base + ["--decontam-method", "bloom"]))


def test_curate_dsir_and_xent_stages(spark, tmp_path):
    docs = str(tmp_path / "docs")
    tgt = str(tmp_path / "target")
    # 20 cat docs sharing the target's vocabulary, 20 junk docs sharing
    # a disjoint one — the frequency profiles match (every doc repeated
    # 20x), so the target/raw log-ratio separates purely on vocabulary
    rows = [(i, "the cat sat on the mat with the other cat")
            for i in range(20)]
    rows += [(100 + i, "zz qq vv kk jj ww xx yy zz qq")
             for i in range(20)]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(docs)
    spark.createDataFrame([(0, "the cat sat on the mat")],
                          "doc_id long, text string") \
         .write.mode("overwrite").parquet(tgt)

    # ranking separation, and a threshold in the gap (the job stage's
    # wiring is under test here; the DSIR math itself is pinned against
    # an independent replica in test_corpus_lm.py)
    from aloha_spark.operators.corpus import dsir_logweight
    w = {r["doc_id"]: r["dsir_logweight"] for r in dsir_logweight(
        spark.read.parquet(docs), spark.read.parquet(tgt),
        n_buckets=256).collect()}
    cat_min = min(v for k, v in w.items() if k < 100)
    junk_max = max(v for k, v in w.items() if k >= 100)
    assert cat_min > junk_max
    thr = (cat_min + junk_max) / 2

    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--dsir-target", tgt, "--dsir-min-logweight", str(thr),
        "--dsir-buckets", "256"])
    x, _, report = curate_job.curate(spark, args)
    kept = sorted(r["doc_id"] for r in x.collect())
    assert kept == list(range(20))          # cat docs outscore junk
    curate_job.read_observed(report)
    assert report["stages"][0] == {"stage": "dsir_filter", "rows": 20}

    # xent gate: the 20 identical cat docs are low-entropy; junk docs
    # of corpus-unique singleton tokens score maximal cross-entropy
    xdocs = str(tmp_path / "xdocs")
    rows = [(i, "the cat sat on the mat with the other cat")
            for i in range(20)]
    rows += [(100 + i, f"zz{i} qq{i} vv{i} kk{i} jj{i} ww{i} xx{i} yy{i}")
             for i in range(20)]
    spark.createDataFrame(rows, "doc_id long, text string") \
         .write.mode("overwrite").parquet(xdocs)
    args = curate_job.parse_args([
        "--docs", xdocs, "--out", str(tmp_path / "o2"),
        "--lineage", str(tmp_path / "l2"), "--stage-counts",
        "--max-xent", "3.0", "--xent-head-k", "3"])
    x, _, report = curate_job.curate(spark, args)
    kept = sorted(r["doc_id"] for r in x.collect())
    assert kept == list(range(20))
    curate_job.read_observed(report)
    assert report["stages"][0] == {"stage": "xent_gate", "rows": 20}
    # the score frame (and its vocab cache) must be pinned until the
    # result is done materializing
    assert hasattr(x, "_curate_keep_alive") and x._curate_keep_alive


def test_curate_dsir_requires_threshold(spark, tmp_path):
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--dsir-target", docs])
    with pytest.raises(SystemExit, match="dsir-min-logweight"):
        curate_job.curate(spark, args)


def test_curate_snapshot_increment_and_append(spark, tmp_path):
    """--dedup-snapshot drops content already in the snapshot; with
    --snapshot-append the survivors fold back in via the spark-submit
    main(), so re-running the same increment is a no-op."""
    from aloha_spark.operators.snapshot import write_dedup_snapshot

    old = spark.createDataFrame(
        [(100, GOOD + " today")], "doc_id long, text string")
    snap = str(tmp_path / "snap")
    write_dedup_snapshot(old, snap)

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, GOOD + " today"),             # exact dup of snapshot
         (1, GOOD + " tomorrow"),          # fresh
         (2, GOOD + " tomorrow")],         # in-batch dup of 1
        "doc_id long, text string").write.mode("overwrite").parquet(docs)

    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--dedup-snapshot", snap])
    x, _, report = curate_job.curate(spark, args)
    assert sorted(r["doc_id"] for r in x.collect()) == [1]
    curate_job.read_observed(report)
    assert {"stage": "snapshot_exact_dedup", "rows": 1} \
        in report["stages"]

    # drive the real job with --snapshot-append: survivors fold in;
    # the job leaves the runtime confs of the session it ran on as it
    # found them
    confs = ("spark.sql.session.timeZone",
             "spark.sql.execution.arrow.maxRecordsPerBatch")
    before = {k: spark.conf.get(k, None) for k in confs}
    curate_job.main([
        "--docs", docs, "--out", str(tmp_path / "o2"),
        "--lineage", str(tmp_path / "l2"),
        "--dedup-snapshot", snap, "--snapshot-append"])
    assert {k: spark.conf.get(k, None) for k in confs} == before
    args2 = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o3"),
        "--lineage", str(tmp_path / "l3"),
        "--dedup-snapshot", snap])
    y, _, _ = curate_job.curate(spark, args2)
    assert y.count() == 0                  # increment fully absorbed


def test_curate_snapshot_neardup_stage(spark, tmp_path):
    from aloha_spark.operators.snapshot import write_dedup_snapshot

    old = spark.createDataFrame(
        [(100, GOOD + " today")], "doc_id long, text string")
    snap = str(tmp_path / "mh_snap")
    write_dedup_snapshot(old, snap, minhash=True)

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, GOOD + " yesterday"),         # near-dup of snapshot doc
         (1, "a completely different document that is long enough to "
             "pass any band and talks about the sea and ships")],
        "doc_id long, text string").write.mode("overwrite").parquet(docs)
    args = curate_job.parse_args([
        "--docs", docs, "--out", str(tmp_path / "o"),
        "--lineage", str(tmp_path / "l"), "--stage-counts",
        "--dedup-snapshot", snap,
        "--snapshot-neardup-threshold", "0.5"])
    x, _, report = curate_job.curate(spark, args)
    assert sorted(r["doc_id"] for r in x.collect()) == [1]
    curate_job.read_observed(report)
    assert {"stage": "snapshot_neardup_dedup", "rows": 1} \
        in report["stages"]


def test_curate_snapshot_flag_contracts(spark, tmp_path):
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs)
    for extra, msg in (
            (["--snapshot-neardup-threshold", "0.5"], "dedup-snapshot"),
            (["--snapshot-append"], "dedup-snapshot")):
        args = curate_job.parse_args([
            "--docs", docs, "--out", str(tmp_path / "o"),
            "--lineage", str(tmp_path / "l"), *extra])
        with pytest.raises(SystemExit, match=msg):
            curate_job.curate(spark, args)


def test_curate_leakage_audit_and_gate(spark, tmp_path):
    """--leakage-audit reports exact-content train->eval leaks in the
    job report; --max-leaked aborts BEFORE the write (nothing on disk)
    when the bound is exceeded."""
    from aloha_spark.operators.corpus import deterministic_split

    # find two ids the md5 split provably separates (content-hash
    # assignment => deterministic), then give them identical text
    probe = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long")
    sp = {r.doc_id: r.split for r in deterministic_split(
        probe, weights=(("train", 0.5), ("val", 0.5))).collect()}
    tr_id = next(i for i in sorted(sp) if sp[i] == "train")
    ev_id = next(i for i in sorted(sp) if sp[i] == "val")

    docs = str(tmp_path / "docs")
    rows = [(tr_id, GOOD + " shared"), (ev_id, GOOD + " shared"),
            (199, GOOD + " unrelated")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(docs)

    # no --exact-dedup: the audit exists for runs where dedup was NOT
    # applied across the whole corpus
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    import io
    import json as _json
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        curate_job.main(["--docs", docs, "--out", out, "--lineage", lin,
                         "--num-buckets", "4", "--group-size", "4",
                         "--split", "train=0.5,val=0.5",
                         "--leakage-audit"])
    report = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["split_leakage"] == {
        "leaked_docs": 1, "by_split": {"val": 1}}
    assert report["written_buckets"] > 0

    # gate: bound 0 -> abort before writing anything
    out2, lin2 = str(tmp_path / "out2"), str(tmp_path / "lin2")
    with pytest.raises(SystemExit, match="max-leaked"):
        curate_job.main(["--docs", docs, "--out", out2, "--lineage",
                         lin2, "--num-buckets", "4", "--group-size",
                         "4", "--split", "train=0.5,val=0.5",
                         "--leakage-audit", "--max-leaked", "0"])
    assert not os.path.exists(lin2)

    # validation: flags require their prerequisites
    with pytest.raises(SystemExit, match="requires --split"):
        curate_job.main(["--docs", docs, "--out", out2, "--lineage",
                         lin2, "--leakage-audit"])
    with pytest.raises(SystemExit, match="requires --leakage-audit"):
        curate_job.main(["--docs", docs, "--out", out2, "--lineage",
                         lin2, "--split", "train=0.5,val=0.5",
                         "--max-leaked", "0"])


def test_curate_leakage_audit_train_by_name(spark, tmp_path):
    """--split ordering is not load-bearing: the split literally named
    'train' is the train side even when listed last."""
    from aloha_spark.operators.corpus import deterministic_split
    probe = spark.createDataFrame([(i,) for i in range(200)],
                                  "doc_id long")
    sp = {r.doc_id: r.split for r in deterministic_split(
        probe, weights=(("val", 0.5), ("train", 0.5))).collect()}
    tr_id = next(i for i in sorted(sp) if sp[i] == "train")
    ev_id = next(i for i in sorted(sp) if sp[i] == "val")
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(tr_id, GOOD + " shared"), (ev_id, GOOD + " shared")],
        "doc_id long, text string").write.mode("overwrite").parquet(docs)

    import io
    import json as _json
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        curate_job.main(["--docs", docs, "--out", str(tmp_path / "o"),
                         "--lineage", str(tmp_path / "l"),
                         "--num-buckets", "4", "--group-size", "4",
                         "--split", "val=0.5,train=0.5",
                         "--leakage-audit"])
    report = _json.loads(buf.getvalue().strip().splitlines()[-1])
    # 'val' listed FIRST must still be audited as the eval side
    assert report["split_leakage"] == {
        "leaked_docs": 1, "by_split": {"val": 1}}


def _corpus(spark, tmp_path):
    from aloha_spark.data.documents import make_benchmark, make_documents

    docs, bench = str(tmp_path / "docs"), str(tmp_path / "bench")
    d = make_documents(spark, 400, partitions=4)
    d.write.parquet(docs)
    make_benchmark(d, every=40).write.parquet(bench)
    # (stage, its flags) in curate's stage order
    stages = [
        ("quality_filter", ["--min-quality", "0.5"]),
        ("lang_filter", ["--langs", "en"]),
        ("pii_scrub", ["--scrub-pii"]),
        ("exact_dedup", ["--exact-dedup"]),
        ("neardup_dedup", ["--neardup-threshold", "0.6"]),
        ("decontam", ["--decontam-docs", bench, "--decontam-n", "8",
                      "--decontam-threshold", "0.5"]),
        ("split_assign", ["--split", "train=0.9,val=0.1"]),
    ]
    return docs, stages


def test_observed_counts_equal_brute_force(spark, tmp_path):
    """--stage-counts, input_rows and redactions are observations read
    after one pass; each equals a count()/sum over a fresh curate() of
    the same stage prefix."""
    from aloha_spark.operators.dedup import release_intermediates

    docs, stages = _corpus(spark, tmp_path)

    def run(flags):
        return curate_job.curate(spark, curate_job.parse_args(
            ["--docs", docs, "--out", "_", "--lineage", "_", *flags]))

    x, pairs, report = run(
        [f for _, fs in stages for f in fs] + ["--stage-counts"])
    x.write.format("noop").mode("overwrite").save()
    curate_job.read_observed(report)
    release_intermediates(x)
    pairs.unpersist()

    brute = {}
    for k in range(1, len(stages) + 1):
        y, pairs, _ = run([f for _, fs in stages[:k] for f in fs])
        brute[stages[k - 1][0]] = y.count()
        if k < len(stages):
            release_intermediates(y)
        if pairs is not None:
            pairs.unpersist()
    assert {s["stage"]: s["rows"] for s in report["stages"]} == brute
    assert report["input_rows"] == spark.read.parquet(docs).count()
    assert report["redactions"] == y.agg(F.sum("n_redactions")).first()[0]
    assert report["redactions"] > 0 and len(set(brute.values())) > 3
    release_intermediates(y)


def test_stage_counts_launch_no_spark_job(spark, tmp_path):
    """The job with --stage-counts runs no more Spark jobs than the
    same job without it, and reports the same figures."""
    import io
    import json as _json
    from contextlib import redirect_stdout

    docs, stages = _corpus(spark, tmp_path)
    sc = spark.sparkContext

    def main(tag, extra):
        buf = io.StringIO()
        sc.setJobGroup(tag, tag)
        try:
            with redirect_stdout(buf):
                curate_job.main(
                    ["--docs", docs, "--out", str(tmp_path / tag),
                     "--lineage", str(tmp_path / f"{tag}_lin"),
                     "--num-buckets", "8", "--group-size", "4",
                     *[f for _, fs in stages for f in fs], *extra])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        report = _json.loads(buf.getvalue().strip().splitlines()[-1])
        return report, len(sc.statusTracker().getJobIdsForGroup(tag))

    plain, plain_jobs = main("plain", [])
    counted, counted_jobs = main("counted", ["--stage-counts"])
    assert counted_jobs <= plain_jobs
    assert [s["stage"] for s in counted["stages"]] == \
        [s["stage"] for s in plain["stages"]]
    assert all(s["rows"] > 0 for s in counted["stages"])
    for key in ("input_rows", "output_rows", "redactions",
                "neardup_pairs", "written_buckets", "groups"):
        assert counted[key] == plain[key], key


def test_empty_observation_is_loud():
    """An observation Spark completed without running its node (an
    empty row) fails the report, naming the count, instead of being
    recounted by an extra job."""
    from types import SimpleNamespace as NS

    empty = NS(_jo=NS(getRow=lambda: NS(length=lambda: 0)))
    entry = {"stage": "exact_dedup"}
    report = {"stages": [entry], "_observed": [(entry, "rows", empty)]}
    with pytest.raises(RuntimeError, match="'exact_dedup'"):
        curate_job.read_observed(report)
    report = {}
    report["_observed"] = [(report, "input_rows", empty)]
    with pytest.raises(RuntimeError, match="'input_rows'"):
        curate_job.read_observed(report)

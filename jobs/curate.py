"""spark-submit entry point: corpus-curation job for training-data
pipelines — the document-side counterpart of jobs/featurize.py.

Stages (each optional, composed in the order a 100 TB curation run
wants them):

    repetition/length filter (Gopher rules)  ->  quality filter  ->
    language filter  ->  PII scrub  ->
    corpus-frequency line filter (CCNet boilerplate rule)  ->
    paragraph-level exact dedup (RefinedWeb-style)  ->
    exact dedup (content digest)  ->
    near-dup dedup (MinHash+LSH pairs -> connected components ->
    keep canonical)  ->  DSIR importance filter  ->
    corpus-LM perplexity gate (CCNet-style)  ->
    benchmark decontamination  ->
    stratified OR temperature-mixture sampling  ->
    per-stratum token-budget sampling  ->
    train/val/test split assignment  ->
    epoch repetition mixing (fractional epochs)  ->  chunk -> pack ->
    bucketed/sharded write with per-bucket lineage
    (optionally --shuffle-seed: deterministic global shuffle, one
    ordered file per bucket; --data-card: per-source corpus report)

Usage:
    spark-submit --py-files aloha_spark.zip jobs/curate.py \
        --docs <path> --out <path> --lineage <path> \
        [--min-quality 0.5] [--langs en,de] [--scrub-pii] \
        [--para-dedup-delim $'\\n\\n'] \
        [--exact-dedup] [--neardup-threshold 0.7] \
        [--num-hashes 64 --bands 16] [--num-buckets 256] \
        [--dsir-target <path> --dsir-min-logweight 0.0] \
        [--max-xent 9.5 --min-xent 2.0] \
        [--decontam-docs <path> --decontam-n 8 --decontam-threshold 0.5] \
        [--sample-col source --sample-fracs src0=0.4 --sample-default 1] \
        [--split train=0.98,val=0.01,test=0.01]

Decontamination runs AFTER dedup (the deduped corpus is the cheapest
frame to n-gram) and drops documents whose distinct n-gram overlap with
the benchmark set meets the threshold.  Sampling and split assignment
are hash-derived (operators/corpus.py): no RNG, stable row-for-row
under corpus growth, auditable outside Spark.

Resume is implicit: buckets already recorded in the lineage table are
skipped on re-run.  The curated frame is persisted before the bucketed
write so the dedup stages run ONCE, not once per bucket group; the pass
that materializes it also yields the report's input, per-stage
(--stage-counts) and redaction counts, observed on the way through.

Scrub order matters: PII is redacted BEFORE dedup so two documents
that differ only in (redacted) PII deduplicate together, and the raw
text never reaches the output dataset.

Scale notes: quality/lang/scrub are map-only JVM passes (zero
shuffle); exact dedup is one shuffle on a 16-byte digest; near-dup is
the bucketed LSH plan from operators/dedup.py (banding equi-join,
capped buckets) and connected components iterate over the PAIR set
only — the corpus itself is touched by exactly one extra anti-join.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--lineage", required=True)
    p.add_argument("--format", default="parquet")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-tokens", type=int, default=None,
                   help="drop documents with fewer whitespace tokens "
                        "(Gopher-style length gate)")
    p.add_argument("--max-tokens", type=int, default=None,
                   help="drop documents with more whitespace tokens")
    p.add_argument("--max-top-token-frac", type=float, default=None,
                   help="drop documents whose most frequent token "
                        "exceeds this fraction of all tokens "
                        "(Gopher repetition rule)")
    p.add_argument("--max-dup-bigram-frac", type=float, default=None,
                   help="drop documents whose duplicate word-bigram "
                        "fraction exceeds this")
    p.add_argument("--max-dup-trigram-frac", type=float, default=None,
                   help="drop documents whose duplicate word-trigram "
                        "fraction exceeds this")
    p.add_argument("--min-quality", type=float, default=None,
                   help="drop documents with quality_score below this")
    p.add_argument("--langs", default=None,
                   help="comma list of language codes to keep")
    p.add_argument("--scrub-pii", action="store_true",
                   help="replace the text column with its scrubbed "
                        "version (raw text never reaches the output)")
    p.add_argument("--para-dedup-delim", default=None,
                   help="enable paragraph-level exact dedup: split the "
                        "text on this literal delimiter, drop any "
                        "paragraph already seen earlier in the corpus, "
                        "reassemble (documents losing every paragraph "
                        "are dropped)")
    p.add_argument("--line-filter-delim", default=None,
                   help="enable the CCNet corpus-frequency line "
                        "filter: split the text on this literal "
                        "delimiter and remove EVERY occurrence of any "
                        "line whose corpus frequency exceeds "
                        "--line-filter-max-freq (vs paragraph dedup, "
                        "which keeps the first occurrence)")
    p.add_argument("--line-filter-max-freq", type=int, default=2,
                   help="corpus-frequency cap above which a line is "
                        "boilerplate (default 2)")
    p.add_argument("--exact-dedup", action="store_true")
    p.add_argument("--dedup-snapshot", default=None,
                   help="path of a persisted corpus snapshot "
                        "(operators/snapshot.py): drop rows whose "
                        "content already exists in the snapshot "
                        "(continuous-crawl increments; includes the "
                        "within-batch keep-one, so --exact-dedup is "
                        "implied)")
    p.add_argument("--snapshot-neardup-threshold", type=float,
                   default=None,
                   help="also drop rows near-duplicating a SNAPSHOT "
                        "document at this estimated-Jaccard threshold "
                        "(snapshot must have been written with minhash)")
    p.add_argument("--snapshot-append", action="store_true",
                   help="after a successful write, fold the curated "
                        "survivors' fingerprints into --dedup-snapshot "
                        "so the next increment dedups against them")
    p.add_argument("--neardup-threshold", type=float, default=None,
                   help="enable MinHash near-dup dedup at this exact-"
                        "Jaccard threshold (e.g. 0.7)")
    p.add_argument("--num-hashes", type=int, default=64)
    p.add_argument("--bands", type=int, default=16)
    p.add_argument("--shingle-n", type=int, default=3)
    p.add_argument("--dsir-target", default=None,
                   help="target-set table path: keep documents whose "
                        "DSIR importance log-weight against it meets "
                        "--dsir-min-logweight")
    p.add_argument("--dsir-min-logweight", type=float, default=None,
                   help="minimum dsir_logweight to keep (required with "
                        "--dsir-target)")
    p.add_argument("--dsir-buckets", type=int, default=4096)
    p.add_argument("--dsir-text-col", default=None,
                   help="target text column (default: --text-col)")
    p.add_argument("--clf-target", default=None,
                   help="high-quality reference table path: train a "
                        "hashed-feature logistic classifier (GPT-3 "
                        "appendix-A style) on target-vs-corpus-sample "
                        "and keep documents scoring >= --clf-min-prob")
    p.add_argument("--clf-min-prob", type=float, default=None,
                   help="minimum classifier quality probability "
                        "(required with --clf-target)")
    p.add_argument("--clf-negative-frac", type=float, default=0.1,
                   help="corpus fraction sampled (hash-deterministic) "
                        "as the negative class")
    p.add_argument("--clf-features", type=int, default=1 << 15)
    p.add_argument("--clf-iterations", type=int, default=30)
    p.add_argument("--clf-text-col", default=None,
                   help="target text column (default: --text-col)")
    p.add_argument("--max-xent", type=float, default=None,
                   help="drop documents whose corpus-unigram-LM "
                        "cross-entropy exceeds this (CCNet-style "
                        "perplexity gate; high = noise)")
    p.add_argument("--min-xent", type=float, default=None,
                   help="drop documents below this cross-entropy "
                        "(degenerate/boilerplate tail)")
    p.add_argument("--xent-head-k", type=int, default=65536,
                   help="hottest tokens broadcast map-side in the "
                        "probability join (0 = plain shuffle join)")
    p.add_argument("--decontam-docs", default=None,
                   help="benchmark table path: drop documents whose "
                        "n-gram overlap with it meets the threshold")
    p.add_argument("--decontam-n", type=int, default=8)
    p.add_argument("--decontam-threshold", type=float, default=0.5)
    p.add_argument("--decontam-method", default="exact",
                   choices=["exact", "bloom"],
                   help="'exact' broadcasts the benchmark gram set; "
                        "'bloom' broadcasts a fixed-size bitmask "
                        "instead (no false negatives, FPR per "
                        "--decontam-fpp) for benchmark sets too large "
                        "to hold exactly")
    p.add_argument("--decontam-expected-items", type=int, default=None,
                   help="approximate benchmark gram count for bloom "
                        "sizing (required with --decontam-method bloom)")
    p.add_argument("--decontam-fpp", type=float, default=0.001)
    p.add_argument("--decontam-text-col", default=None,
                   help="benchmark text column (default: --text-col)")
    p.add_argument("--sample-col", default=None,
                   help="stratify sampling on this column")
    p.add_argument("--sample-fracs", default=None,
                   help="comma list stratum=fraction, e.g. src0=0.4")
    p.add_argument("--sample-default", type=float, default=1.0,
                   help="fraction for strata not in --sample-fracs")
    p.add_argument("--token-budgets", default=None,
                   help="comma list stratum=tokens, e.g. "
                        "src0=4000000 — sample each stratum of "
                        "--sample-col down to an exact whitespace-token "
                        "budget (deterministic md5-priority prefix; "
                        "overshoot at most one document)")
    p.add_argument("--token-budget-default", type=int, default=0,
                   help="token budget for strata not listed (0 = drop)")
    p.add_argument("--pps-k", type=int, default=None,
                   help="systematic PPS sampling: exactly K token-"
                        "weighted grid hits per --sample-col stratum "
                        "(deterministic md5 order, exact integer "
                        "arithmetic); documents hit at least once are "
                        "kept")
    p.add_argument("--epochs", default=None,
                   help="comma list stratum=epochs, e.g. "
                        "wiki=2.4,cc=0.7 — repetition factors over "
                        "--sample-col; fractional epochs pick a "
                        "deterministic md5 fraction of documents for "
                        "the extra copy.  Copies get id 'origid:copy' "
                        "so every downstream identity stays unique")
    p.add_argument("--epochs-default", type=float, default=1.0)
    p.add_argument("--temperature-alpha", type=float, default=None,
                   help="temperature-flattened mixture sampling: "
                        "stratum weights proportional to n^alpha over "
                        "--sample-col (mutually exclusive with "
                        "--sample-fracs)")
    p.add_argument("--temperature-frac", type=float, default=0.5,
                   help="corpus fraction the temperature mixture "
                        "targets (default 0.5)")
    p.add_argument("--split", default=None,
                   help="comma list name=weight, e.g. "
                        "train=0.98,val=0.01,test=0.01 — appends a "
                        "'split' column")
    p.add_argument("--split-salt", default="split")
    p.add_argument("--leakage-audit", action="store_true",
                   help="after --split: count eval-side documents "
                        "whose exact content also appears in the "
                        "train side (operators/corpus.py::"
                        "split_leakage) and report it; the train side "
                        "is the split literally named 'train' if one "
                        "exists, otherwise the FIRST --split name — "
                        "every other split is audited as eval; "
                        "requires --split")
    p.add_argument("--max-leaked", type=int, default=None,
                   help="with --leakage-audit: fail the job (before "
                        "any write) if more than this many eval "
                        "documents leak from train")
    p.add_argument("--chunk-budget", type=int, default=None,
                   help="chunk documents into token windows of at most "
                        "this many tokens (one output row per chunk)")
    p.add_argument("--chunk-overlap", type=int, default=0,
                   help="tokens carried between neighbouring chunks")
    p.add_argument("--pack-budget", type=int, default=None,
                   help="pack chunks into fixed token-budget training "
                        "sequences (partition-local BFD); implies "
                        "chunking at this budget unless --chunk-budget "
                        "is given, and shards are written keyed on "
                        "pack_id so a pack never splits across buckets")
    p.add_argument("--pack-partitions", type=int, default=None)
    p.add_argument("--shuffle-seed", type=int, default=None,
                   help="deterministic global shuffle of the output: "
                        "shard membership AND within-shard row order "
                        "derive from md5(seed || key), the write "
                        "becomes order-preserving (one sorted file per "
                        "bucket), and a data loader reading buckets in "
                        "order replays the exact shuffled stream")
    p.add_argument("--data-card", action="store_true",
                   help="include a per---sample-col corpus report "
                        "(docs, tokens, dup fraction, dominant lang) "
                        "in the job report.  Describes the SHIPPED "
                        "stream: after --epochs, repetition copies "
                        "deliberately count as duplicates")
    p.add_argument("--num-buckets", type=int, default=256)
    p.add_argument("--group-size", type=int, default=32)
    p.add_argument("--stage-counts", action="store_true",
                   help="report the rows left after every stage, "
                        "observed in the one pass that materializes "
                        "the curated frame (no extra Spark job)")
    return p.parse_args(argv)


def parse_kv_list(s, flag, *, cast=float):
    """Parse ``name=value,name=value`` into an ordered list of tuples,
    failing with an actionable message (not a bare float('') ValueError)
    on malformed entries like ``src0`` or ``src0=``."""
    out = []
    for tok in (s or "").split(","):
        if not tok:
            continue
        k, sep, v = tok.partition("=")
        if not sep or not k or not v:
            raise SystemExit(
                f"{flag}: malformed entry {tok!r} — expected name=value "
                f"(e.g. train=0.98,val=0.01)")
        try:
            out.append((k, cast(v)))
        except ValueError:
            raise SystemExit(
                f"{flag}: non-numeric value in {tok!r} — expected "
                f"name=value with a numeric value")
    return out


def read_observed(report):
    """Fill the counts ``curate()`` observed into its ``report``:
    ``input_rows``, each stage's ``rows`` (``--stage-counts``) and
    ``redactions`` (``--scrub-pii``).  Call after an action that ran the
    curated frame to completion: an observation keeps the result of the
    FIRST action over its frame, so a partial one (``limit``) would
    record a partial count."""
    for target, key, obs in report.pop("_observed", ()):
        row = obs._jo.getRow()
        if not row.length():
            # Spark completed the observation from a query whose copy of
            # the node never ran (a job reading it under nested caches):
            # a plan shape curate() must not build.  Observation.get
            # would fail on this row with a bare JVM assertion
            raise RuntimeError(
                f"curate: observed count {target.get('stage', key)!r} "
                "came back empty")
        target[key] = row.get(0) or 0
    return report


def curate(spark, args):
    """Build the curated DataFrame + a report dict (no write).  The
    report's counts are observations on the lazy frame: read them with
    :func:`read_observed` after running it."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from aloha_spark.operators.dedup import (
        _track_intermediates, dedup_keep_canonical, exact_dedup_keep,
        minhash_dedup_pairs)
    from aloha_spark.operators.textstats import (
        with_lang_id, with_pii_scrubbed, with_quality_score)
    from aloha_spark.sources.tables import read_table

    id_col, text_col = args.id_col, args.text_col
    report = {"input_rows": None, "stages": [], "_observed": []}

    def observe(frame, target, key, metric):
        # counted in whichever pass runs the frame, never by its own job
        obs = Observation()
        report["_observed"].append((target, key, obs))
        return frame.observe(obs, metric.alias(key))

    x = observe(read_table(spark, args.docs, args.format), report,
                "input_rows", F.count(F.lit(1)))
    # persisted corpus frames to release after the write (decontam /
    # DSIR / xent stages each feed two consumers), plus score frames
    # whose INTERNAL caches (e.g. the xent vocabulary) must stay
    # referenced until the write materializes — their unpersist
    # finalizers fire on garbage collection of the Python wrapper
    caches = []
    keep_alive = []

    def checkpoint(stage):
        nonlocal x
        entry = {"stage": stage}
        report["stages"].append(entry)
        if args.stage_counts:
            # the unobserved frame may own stage caches that unpersist
            # when its wrapper is garbage-collected
            keep_alive.append(x)
            x = observe(x, entry, "rows", F.count(F.lit(1)))

    rep_args = (args.min_tokens, args.max_tokens,
                args.max_top_token_frac, args.max_dup_bigram_frac,
                args.max_dup_trigram_frac)
    if any(a is not None for a in rep_args):
        # Gopher-style length/repetition gate: cheapest map-only pass,
        # so it runs FIRST — every later stage sees fewer rows.  The
        # helper columns are computed, filtered on, and dropped; NULL
        # stats (empty/NULL text, too-short-for-n-grams docs) never
        # satisfy a `>` comparison, so those documents pass the
        # repetition rules and are gated by --min-tokens alone.
        from aloha_spark.operators.textstats import with_repetition_stats
        x = with_repetition_stats(x, text_col)
        keep = F.lit(True)
        if args.min_tokens is not None:
            keep &= F.col("n_tokens") >= args.min_tokens
        if args.max_tokens is not None:
            keep &= F.col("n_tokens") <= args.max_tokens
        for col, cap in (("top_token_frac", args.max_top_token_frac),
                         ("dup_bigram_frac", args.max_dup_bigram_frac),
                         ("dup_trigram_frac", args.max_dup_trigram_frac)):
            if cap is not None:
                # explicit NULL pass-through: a doc too short to have
                # n-grams has NULL fractions, and NULL > cap is NULL
                # (which where() would DROP, not keep)
                keep &= F.col(col).isNull() | (F.col(col) <= cap)
        x = x.where(keep).drop("n_tokens", "top_token_frac",
                               "dup_bigram_frac", "dup_trigram_frac")
        checkpoint("repetition_filter")
    if args.min_quality is not None:
        x = (with_quality_score(x, text_col)
             .where(F.col("quality_score") >= args.min_quality))
        checkpoint("quality_filter")
    if args.langs:
        keep_langs = [s for s in args.langs.split(",") if s]
        x = (with_lang_id(x, text_col)
             .where(F.col("lang_guess").isin(keep_langs)))
        checkpoint("lang_filter")
    if args.scrub_pii:
        x = (with_pii_scrubbed(x, text_col)
             .drop(text_col)
             .withColumnRenamed("text_scrubbed", text_col))
        checkpoint("pii_scrub")
    if args.line_filter_delim is not None:
        # BEFORE paragraph dedup: the frequency filter removes EVERY
        # occurrence of hot boilerplate lines, so paragraph dedup then
        # sees only content paragraphs (and two documents differing
        # only in stripped boilerplate become identical for the dedup
        # stages below).  Returns (id, text, n_lines_kept,
        # n_lines_dropped); non-text columns re-attach with one
        # id-keyed join, and documents keeping zero lines drop out.
        from aloha_spark.operators.dedup import filter_frequent_lines
        filtered = filter_frequent_lines(
            x.select(id_col, text_col), id_col=id_col, text=text_col,
            delim=args.line_filter_delim,
            max_freq=args.line_filter_max_freq, out_col=text_col)
        x = x.drop(text_col).join(
            filtered.select(id_col, text_col), id_col)
        checkpoint("line_filter")
    if args.para_dedup_delim is not None:
        # BEFORE document-level dedup: paragraph dedup rewrites the
        # text, and two documents that differ only in shared
        # boilerplate become identical once it is stripped.  The
        # operator returns (id, text, n_paras_kept); non-text columns
        # re-attach with one id-keyed join, and documents that kept no
        # paragraph (pure boilerplate) drop out of the inner join.
        from aloha_spark.operators.dedup import dedup_paragraphs
        deduped = dedup_paragraphs(
            x.select(id_col, text_col), id_col=id_col, text=text_col,
            delim=args.para_dedup_delim, out_col=text_col)
        x = x.drop(text_col).join(
            deduped.select(id_col, text_col), id_col)
        checkpoint("paragraph_dedup")
    if args.exact_dedup:
        # one window over the content digest: upstream quality/lang/
        # scrub chain computed ONCE, single shuffle (exact_dedup_keep)
        x = exact_dedup_keep(x, cols=[text_col], id_col=id_col)
        checkpoint("exact_dedup")
    if args.snapshot_neardup_threshold is not None \
            and not args.dedup_snapshot:
        raise SystemExit("--snapshot-neardup-threshold requires "
                         "--dedup-snapshot")
    if args.snapshot_append and not args.dedup_snapshot:
        raise SystemExit("--snapshot-append requires --dedup-snapshot")
    if args.dedup_snapshot:
        # continuous-crawl increment: drop content already in the
        # persisted snapshot (one anti-join on the digest table) and
        # keep one per content within the batch
        from aloha_spark.operators.snapshot import (
            incremental_exact_dedup, incremental_neardup_dedup)
        x = incremental_exact_dedup(x, args.dedup_snapshot,
                                    cols=[text_col], id_col=id_col)
        checkpoint("snapshot_exact_dedup")
        if args.snapshot_neardup_threshold is not None:
            x = incremental_neardup_dedup(
                x, args.dedup_snapshot, id_col=id_col, text=text_col,
                threshold=args.snapshot_neardup_threshold)
            checkpoint("snapshot_neardup_dedup")
    pairs = None
    if args.neardup_threshold is not None:
        # x feeds the pair search (signatures + both Jaccard sides) and
        # the keep-canonical anti-join: checkpoint it so the upstream
        # chain runs once.  This pass also completes the observations in
        # x; left to the components loop, whose first job reads x under
        # the nested pair and candidate caches, Spark 4.1 completes them
        # with EMPTY rows.  (persist() + count() here measured twice as
        # slow: curate() over 1,000 documents 56 s against 28 s.)
        x = x.localCheckpoint(eager=True)
        pairs = minhash_dedup_pairs(
            x.select(id_col, text_col), id_col=id_col, text=text_col,
            threshold=args.neardup_threshold, num_hashes=args.num_hashes,
            bands=args.bands, shingle_n=args.shingle_n)
        # cached: the components pass and the report's pair count both
        # read it, and each uncached read re-runs the Jaccard verify
        pairs = pairs.persist()
        x = dedup_keep_canonical(x, pairs, id_col=id_col)
        checkpoint("neardup_dedup")
    if args.dsir_target:
        if args.dsir_min_logweight is None:
            raise SystemExit("--dsir-target requires "
                             "--dsir-min-logweight")
        from aloha_spark.operators.corpus import dsir_logweight
        # x feeds both the raw-corpus bucket model and the scored gram
        # stream — persist so the upstream chain runs once
        persisted = x.persist()
        caches.append(persisted)
        target = read_table(spark, args.dsir_target, args.format)
        w = dsir_logweight(persisted, target, id_col=id_col,
                           text=text_col,
                           target_text=args.dsir_text_col or text_col,
                           n_buckets=args.dsir_buckets)
        x = persisted.join(
            w.where(F.col("dsir_logweight")
                    >= args.dsir_min_logweight).select(id_col),
            id_col, "left_semi")
        checkpoint("dsir_filter")
    if args.clf_target:
        if args.clf_min_prob is None:
            raise SystemExit("--clf-target requires --clf-min-prob")
        from aloha_spark.operators.classifier import (
            score_logreg, train_quality_classifier)
        from aloha_spark.operators.corpus import N_BUCKETS, hash_bucket
        # x feeds the negative sample, the training passes, AND the
        # scored output — persist so the upstream chain runs once per
        # training iteration instead of once per gradient pass
        persisted = x.persist()
        caches.append(persisted)
        target = read_table(spark, args.clf_target, args.format)
        neg = persisted.where(
            hash_bucket(F.col(id_col), salt="clfneg")
            < int(args.clf_negative_frac * N_BUCKETS))
        w = train_quality_classifier(
            target, neg, text=args.clf_text_col or text_col,
            negative_text=text_col, n_features=args.clf_features,
            iterations=args.clf_iterations)
        x = (score_logreg(persisted, w, text=text_col, id_col=id_col,
                          n_features=args.clf_features)
             .where(F.col("quality_prob") >= args.clf_min_prob)
             .drop("quality_prob"))
        checkpoint("clf_filter")
    if args.max_xent is not None or args.min_xent is not None:
        from aloha_spark.operators.corpus import with_unigram_logprob
        # x feeds the LM fit and the scored token stream
        persisted = x.persist()
        caches.append(persisted)
        scores = with_unigram_logprob(persisted, id_col=id_col,
                                      text=text_col,
                                      head_k=args.xent_head_k)
        keep = F.lit(True)
        if args.max_xent is not None:
            # NULL xent (token-free doc) never satisfies <=; such docs
            # are the length gate's job, so pass them through here
            keep &= (F.col("xent").isNull()
                     | (F.col("xent") <= args.max_xent))
        if args.min_xent is not None:
            keep &= (F.col("xent").isNull()
                     | (F.col("xent") >= args.min_xent))
        x = persisted.join(scores.where(keep).select(id_col),
                           id_col, "left_semi")
        # the vocabulary cache inside `scores` unpersists when the
        # wrapper is garbage-collected — keep it alive until the write
        keep_alive.append(scores)
        checkpoint("xent_gate")
    if args.decontam_docs:
        from aloha_spark.operators.corpus import decontaminate
        # x feeds BOTH the flags aggregation and the left side of the
        # anti-join below — without a persist the whole upstream
        # curation chain (quality/lang/scrub/dedup) would evaluate
        # twice in the write action.  MEMORY_AND_DISK (default) spills.
        # The persisted handle is tracked on the result frame so
        # release_intermediates(x) in main (or the finalizer in a
        # long-lived session) frees the cache instead of pinning it
        # until session end.
        persisted = x.persist()
        bench = read_table(spark, args.decontam_docs, args.format)
        if args.decontam_method == "bloom":
            from aloha_spark.operators.corpus import bloom_decontaminate
            if args.decontam_expected_items is None:
                raise SystemExit("--decontam-method bloom requires "
                                 "--decontam-expected-items")
            flags = bloom_decontaminate(
                persisted, bench, id_col=id_col, text=text_col,
                bench_text=args.decontam_text_col or text_col,
                n=args.decontam_n, threshold=args.decontam_threshold,
                expected_items=args.decontam_expected_items,
                fpp=args.decontam_fpp)
        else:
            flags = decontaminate(
                persisted, bench, id_col=id_col, text=text_col,
                bench_text=args.decontam_text_col or text_col,
                n=args.decontam_n, threshold=args.decontam_threshold)
        x = persisted.join(flags.where(F.col("contaminated"))
                           .select(id_col), id_col, "left_anti")
        caches.append(persisted)
        checkpoint("decontam")
    if args.temperature_alpha is not None and args.sample_fracs:
        raise SystemExit("--temperature-alpha and --sample-fracs are "
                         "mutually exclusive — pick explicit per-stratum "
                         "fractions OR a temperature mixture")
    if args.sample_fracs or args.sample_default < 1.0:
        from aloha_spark.operators.corpus import stratified_sample
        if not args.sample_col:
            raise SystemExit("--sample-fracs/--sample-default < 1 "
                             "require --sample-col")
        fracs = dict(parse_kv_list(args.sample_fracs, "--sample-fracs"))
        x = stratified_sample(x, args.sample_col, fracs,
                              default_fraction=args.sample_default,
                              id_col=id_col)
        checkpoint("stratified_sample")
    if args.temperature_alpha is not None:
        from aloha_spark.operators.corpus import temperature_sample
        if not args.sample_col:
            raise SystemExit("--temperature-alpha requires --sample-col")
        x = temperature_sample(x, args.sample_col,
                               alpha=args.temperature_alpha,
                               target_frac=args.temperature_frac,
                               id_col=id_col)
        checkpoint("temperature_sample")
    if args.token_budgets:
        from aloha_spark.operators.mixture import token_budget_sample
        if not args.sample_col:
            raise SystemExit("--token-budgets requires --sample-col")
        budgets = dict(parse_kv_list(args.token_budgets,
                                     "--token-budgets", cast=int))
        x = token_budget_sample(x, budgets, strata_col=args.sample_col,
                                id_col=id_col, text=text_col,
                                default_budget=args.token_budget_default)
        checkpoint("token_budget")
    # `is not None`, not truthiness: an explicit --pps-k 0 must reach
    # pps_sample's own k>=1 validation instead of being ignored
    if args.pps_k is not None:
        from aloha_spark.operators.mixture import pps_sample
        if not args.sample_col:
            raise SystemExit("--pps-k requires --sample-col")
        # keep each document hit at least once; the multiplicity
        # column is a repetition weight users can re-derive via the
        # operator directly (epoch-style replication is --epochs' job)
        x = pps_sample(x, args.pps_k, strata_col=args.sample_col,
                       id_col=id_col, text=text_col).drop("n_hits")
        checkpoint("pps_sample")
    if args.split:
        from aloha_spark.operators.corpus import deterministic_split
        weights = parse_kv_list(args.split, "--split")
        x = deterministic_split(x, id_col, weights=weights,
                                salt=args.split_salt)
        checkpoint("split_assign")
    if args.leakage_audit:
        if not args.split:
            raise SystemExit("--leakage-audit requires --split")
        from aloha_spark.operators.corpus import split_leakage
        # train side = the split literally named 'train' when present
        # (so --split ordering is never load-bearing), else the first
        # name; everything else is eval.  The audit frame is built here
        # (post-split, pre-chunk — document granularity) but evaluated
        # in main() BEFORE the write so --max-leaked can abort a
        # poisoned run; x is persisted so the audit doesn't re-run the
        # whole chain.
        names = [n for n, _ in weights]
        if len(names) < 2:
            raise SystemExit("--leakage-audit needs at least two "
                             "splits (train side + an eval side)")
        train_name = "train" if "train" in names else names[0]
        x = x.persist()
        caches.append(x)
        report["_leakage_df"] = split_leakage(
            x, split_col="split", text=text_col, id_col=id_col,
            train_splits=(train_name,),
            eval_splits=tuple(n for n in names if n != train_name))
        checkpoint("leakage_audit")
    elif args.max_leaked is not None:
        raise SystemExit("--max-leaked requires --leakage-audit")
    if args.dedup_snapshot and args.snapshot_append:
        # the fingerprint to fold back is the curated DOCUMENT set —
        # captured before chunking/packing rewrites rows; main() appends
        # it only after the shard write succeeds.  Persisted: without
        # the cache the append would re-execute the whole curation
        # chain a second time (and the chunk stage downstream reads
        # from this cache too); released with the other stage caches.
        x = x.persist()
        caches.append(x)
        report["_snapshot_docs"] = x
    if args.epochs:
        # AFTER split (copies inherit their document's split — an eval
        # doc must never leak a train copy) and AFTER the snapshot
        # capture (the snapshot fingerprints unique documents, not
        # repetition copies); BEFORE chunking so chunk ids stay unique.
        from aloha_spark.operators.mixture import epoch_mix
        if not args.sample_col:
            raise SystemExit("--epochs requires --sample-col")
        eps = dict(parse_kv_list(args.epochs, "--epochs"))
        x = epoch_mix(x, eps, strata_col=args.sample_col, id_col=id_col,
                      default_epochs=args.epochs_default)
        x = x.withColumn(
            id_col, F.concat_ws(":", F.col(id_col).cast("string"),
                                F.col("copy_idx").cast("string"))) \
             .drop("copy_idx")
        checkpoint("epoch_mix")
    if args.chunk_budget or args.pack_budget:
        # ---- output stage: curated corpus -> training shards ----
        # chunk (map-only JVM pass) -> pack (ids-only BFD + ONE join to
        # re-attach assignments) so the full text never rides through
        # Python and the corpus shuffles exactly once, on chunk_id.
        from aloha_spark.operators.corpus import (
            chunk_documents, pack_sequences)
        budget = args.chunk_budget or args.pack_budget
        if args.pack_budget and budget > args.pack_budget:
            raise SystemExit(
                f"--chunk-budget {budget} exceeds --pack-budget "
                f"{args.pack_budget}: chunks could never fit a pack")
        x = chunk_documents(x, text=text_col, budget=budget,
                            overlap=args.chunk_overlap)
        x = x.withColumn(
            "chunk_id",
            F.concat_ws("#", F.col(id_col).cast("string"),
                        F.col("chunk_idx").cast("string")))
        checkpoint("chunk")
        if args.pack_budget:
            asg = pack_sequences(
                x.select("chunk_id", "n_tokens"), id_col="chunk_id",
                budget=args.pack_budget,
                num_partitions=args.pack_partitions)
            x = x.join(asg.select("chunk_id", "pack_id", "pack_slot",
                                  "oversized"), "chunk_id")
            checkpoint("pack")
    if args.scrub_pii:
        keep_alive.append(x)
        x = observe(x, report, "redactions", F.sum("n_redactions"))
    if caches:
        # attach every stage cache to the FINAL frame so
        # release_intermediates(x) after the write (or the GC finalizer
        # in a long-lived session) frees them eagerly
        x = _track_intermediates(x, *caches)
    if keep_alive:
        # plain attribute reference: keeps the score frames (and their
        # internally persisted relations) alive exactly as long as the
        # result frame, without registering a second unpersist
        x._curate_keep_alive = keep_alive
    return x, pairs, report


def main(argv=None):
    args = parse_args(argv or sys.argv[1:])

    from aloha_spark.tuning import job_session

    with job_session("aloha-spark-curate") as spark:
        run(spark, args)


def run(spark, args):
    import pyspark.sql.functions as F

    from aloha_spark.operators.dedup import release_intermediates
    from aloha_spark.plans.lineage import write_with_lineage

    t0 = time.time()
    x, pairs, report = curate(spark, args)

    # the ONE pass over the curation chain: the write's bucket groups and
    # the report below re-read this cache (so the dedup stages — minhash
    # UDF, components loop — run once), and materializing it completes
    # every count curate() observed (those upstream of a near-dup stage
    # completed at its checkpoint)
    x = x.persist()
    report["output_rows"] = x.count()
    read_observed(report)
    if pairs is not None:
        report["neardup_pairs"] = pairs.count()
    if args.pack_budget:
        # shard invariants over the cached frame: every multi-chunk pack
        # within budget, oversized only as singletons
        per_pack = x.groupBy("pack_id").agg(
            F.sum("n_tokens").alias("tot"),
            F.count(F.lit(1)).alias("n"),
            F.max("oversized").alias("over"))
        report["shards"] = {
            "n_packs": per_pack.count(),
            "over_budget_packs": per_pack.where(
                (F.col("tot") > args.pack_budget)
                & (F.col("n") > 1)).count(),
            "oversized_singletons": per_pack.where("over").count(),
        }

    # packed shards are keyed on pack_id: the stable bucket is then a
    # pure function of the pack, so a pack's chunks always land (and
    # resume) together in one shard directory
    shard_key = "pack_id" if args.pack_budget else args.id_col
    if args.data_card and not args.sample_col:
        raise SystemExit("--data-card requires --sample-col")
    if args.data_card:
        from aloha_spark.operators.mixture import corpus_report
        # after chunking the text column is chunk_text: the card then
        # describes the shipped chunk stream, same post-transform
        # posture as the epoch-copy duplicate accounting
        card_text = args.text_col if args.text_col in x.columns \
            else "chunk_text"
        if card_text not in x.columns:
            raise SystemExit(
                f"--data-card: no text column ({args.text_col} or "
                f"chunk_text) on the output frame")
        card = corpus_report(
            x, strata_col=args.sample_col, text=card_text,
            lang_col="lang" if "lang" in x.columns else None,
            length_quantiles=(0.5, 0.95, 0.99))
        report["data_card"] = [
            {k: (round(v, 6) if isinstance(v, float) else v)
             for k, v in r.asDict().items()} for r in card.collect()]
    wx, bucket_col, sort_cols = x, None, None
    if args.shuffle_seed is not None:
        # shard membership + within-shard order both derive from
        # md5(seed || shard_key): resume keeps working (bucket is a
        # pure content function) and each bucket directory lands as one
        # internally-ordered file — the deterministic training stream
        from aloha_spark.operators.mixture import with_shuffle_order
        wx = with_shuffle_order(x, n_shards=args.num_buckets,
                                seed=args.shuffle_seed, id_col=shard_key)
        bucket_col = "shard"
        # all chunks of one document share its shuffle_key: without a
        # within-document key the chunk order inside a shard would be
        # shuffle-fetch order — nondeterministic across runs
        sort_cols = ["shuffle_key", shard_key]
        if args.pack_budget:
            sort_cols.append("pack_slot")
        elif args.chunk_budget:
            sort_cols.append("chunk_idx")
        report["shuffle"] = {"seed": args.shuffle_seed,
                             "n_shards": args.num_buckets}
    leak_df = report.pop("_leakage_df", None)
    if leak_df is not None:
        # evaluated BEFORE the write: a run over the --max-leaked bound
        # must abort with nothing on disk (lineage untouched, so a
        # fixed re-run starts clean)
        by_split = {r["split"]: r["n"] for r in
                    leak_df.groupBy("split")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
        n_leak = sum(by_split.values())
        report["split_leakage"] = {"leaked_docs": n_leak,
                                   "by_split": by_split}
        if args.max_leaked is not None and n_leak > args.max_leaked:
            raise SystemExit(
                f"--max-leaked: {n_leak} eval documents share exact "
                f"content with train (> {args.max_leaked}); aborting "
                f"before the write")
    wr = write_with_lineage(
        wx, args.out, args.lineage, key=shard_key, ts_col=shard_key,
        num_buckets=args.num_buckets, group_size=args.group_size,
        bucket_col=bucket_col, sort_cols=sort_cols)
    snap_docs = report.pop("_snapshot_docs", None)
    if snap_docs is not None:
        # only after the write succeeded: a failed run must not poison
        # the snapshot with fingerprints of documents never shipped
        from aloha_spark.operators.snapshot import append_to_snapshot
        append_to_snapshot(snap_docs, args.dedup_snapshot,
                           id_col=args.id_col)
        report["snapshot_appended"] = True
    x.unpersist()
    release_intermediates(x)      # the components label cache
    if pairs is not None:
        pairs.unpersist()
        release_intermediates(pairs)
    report.update({
        "written_buckets": len(wr.written_buckets),
        "skipped_buckets": len(wr.skipped_buckets),
        "groups": wr.groups,
        "wall_sec": round(time.time() - t0, 1),
    })
    print(json.dumps(report))


if __name__ == "__main__":
    main()

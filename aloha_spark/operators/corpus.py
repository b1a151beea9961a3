"""Corpus-level dataset operations for training-data pipelines:
deterministic splits, stratified sampling, benchmark decontamination,
sequence packing, vocabulary extraction.

These are the dataset-side companions to the dedup/textstats family:
the steps between "curated documents" and "training shards".

Spark-first design notes (the 100 TB story):
* split / sample assignment is a pure function of row content
  (md5-derived bucket, no RNG, no ``randomSplit``): zero shuffle, zero
  state, and re-running on a grown corpus never reassigns an existing
  row — the property eval-set stability depends on.  The same bucket
  is computable in any engine (one line of ANSI-ish SQL), so split
  membership is auditable outside Spark.
* decontamination broadcasts the benchmark's distinct n-gram set (eval
  suites are MBs against a 100 TB corpus); the corpus is scanned once,
  each document's distinct n-grams probe the broadcast relation
  map-side, and per-doc counts partially aggregate before the single
  doc_id-keyed shuffle (~1 row per document after map-side combine).
* sequence packing is partition-local best-fit-decreasing: exact bin
  packing is NP-hard and a global packer would serialize the corpus;
  per-partition BFD is embarrassingly parallel, deterministic given
  the partitioning, and each partition's result is independently
  resumable.  The per-partition greedy loop is the one intentionally
  sequential piece (O(n log n) over int64 arrays inside an Arrow
  batch) — packing order is inherently a scan.
* vocabulary top-k is a partial-aggregated count followed by Spark's
  TakeOrderedAndProject — no global sort materialization.
"""

from __future__ import annotations

import bisect
import math
from fractions import Fraction
from typing import Iterator, Mapping, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from .textstats import tokens_col

# bucket resolution for hash-derived assignment: weights are exact to
# 1/N_BUCKETS (0.01%), plenty for split/sampling rates
N_BUCKETS = 10_000


def hash_bucket(col: Column, salt: str = "",
                n_buckets: int = N_BUCKETS) -> Column:
    """Deterministic content-derived bucket in ``[0, n_buckets)``.

    ``md5(salt || value)`` -> first 15 hex digits (60 bits, sign-safe in
    int64) -> ``mod n_buckets``.  The identical expression exists in
    other engines (DuckDB/Postgres: ``('0x' || substr(md5(s), 1, 15))
    ::BIGINT % n``), so assignments can be audited off-cluster.
    NULL value -> NULL bucket.
    """
    h = F.md5(F.concat(F.lit(salt), col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % n_buckets


def deterministic_split(df: DataFrame, id_col: str = "doc_id",
                        weights: Sequence[Tuple[str, float]] = (
                            ("train", 0.98), ("val", 0.01), ("test", 0.01)),
                        salt: str = "split",
                        out_col: str = "split") -> DataFrame:
    """Stable train/val/test assignment by content hash of the id.

    No RNG and no ``randomSplit()``: assignment depends only on
    (salt, id), so re-running after the corpus grows keeps every
    previously assigned row in its split — required for eval-set
    stability and decontamination audits across corpus refreshes.
    Thresholds are cumulative integer bucket counts (weights normalized,
    exact to 1/N_BUCKETS).  NULL id -> NULL split.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for _, w in weights) or sum(w for _, w in weights) <= 0:
        raise ValueError(f"weights must be >= 0 with a positive sum: "
                         f"{list(weights)}")
    b = hash_bucket(F.col(id_col), salt=salt)
    chain = None
    # exact threshold arithmetic: Fraction(float) is the float's exact
    # rational value, so cumulative sums never drift and the rounding
    # rule is explicit round-half-UP (floor(x + 1/2)) — not Python
    # round()'s round-half-to-even, whose behavior on a weight landing
    # exactly on a half-bucket boundary surprised no one but would
    # silently disagree with a hand-written oracle threshold
    total = sum((Fraction(w) for _, w in weights), Fraction(0))
    acc = Fraction(0)
    for name, w in weights:
        acc += Fraction(w)
        hi = min(int(acc / total * N_BUCKETS + Fraction(1, 2)), N_BUCKETS)
        cond = b < F.lit(hi)
        chain = F.when(cond, name) if chain is None else chain.when(cond, name)
    # no .otherwise(): every non-NULL bucket < N_BUCKETS matches the
    # last arm, and a NULL bucket (NULL id) stays NULL
    return df.withColumn(out_col, chain)


def stratified_sample(df: DataFrame, strata_col: str = "source",
                      fractions: Mapping[str, float] = None, *,
                      default_fraction: float = 0.0,
                      id_col: str = "doc_id",
                      salt: str = "sample") -> DataFrame:
    """Deterministic per-stratum sampling at exact target rates.

    Keeps a row iff ``hash_bucket(id) < fraction(stratum) * N_BUCKETS``
    — a pure filter (no shuffle, no sampling state), reproducible
    row-for-row across runs and engines, unlike ``df.sampleBy`` whose
    output depends on partitioning and seed plumbing.  Strata missing
    from ``fractions`` use ``default_fraction``; NULL stratum uses
    ``default_fraction``; NULL id rows are dropped (no stable identity
    to sample on).
    """
    fractions = dict(fractions or {})
    for k, v in list(fractions.items()) + [("default", default_fraction)]:
        if not (0.0 <= v <= 1.0):
            raise ValueError(f"fraction for {k!r} must be in [0, 1]: {v}")
    b = hash_bucket(F.col(id_col), salt=salt)
    thr = None
    for k, v in fractions.items():
        hi = F.lit(int(round(v * N_BUCKETS)))
        cond = F.col(strata_col) == F.lit(k)
        thr = F.when(cond, hi) if thr is None else thr.when(cond, hi)
    default_hi = F.lit(int(round(default_fraction * N_BUCKETS)))
    thr = default_hi if thr is None else thr.otherwise(default_hi)
    return df.where(b < thr)


def temperature_sample(df: DataFrame, strata_col: str = "source", *,
                       alpha: float = 0.5, target_frac: float = 0.5,
                       id_col: str = "doc_id",
                       salt: str = "temp") -> DataFrame:
    """Temperature-flattened source-mixture sampling.

    Multi-source training corpora are rarely sampled at natural
    proportions: mixture weights ``w_s ∝ n_s^alpha`` (``alpha=1`` keeps
    natural proportions, ``alpha -> 0`` approaches uniform-over-sources
    — the standard temperature trick from multilingual/multi-corpus
    pretraining).  This materializes a deterministic sample hitting
    those weights at ``target_frac`` of the corpus:

        ``keep_rate_s = min(1, target_frac * N_total * w_s / n_s)``

    and a row survives iff its content-derived ``hash_bucket`` clears
    the stratum's rate — the same pure-filter mechanics as
    ``stratified_sample``, so membership is reproducible row-for-row
    across runs, partitionings, and engines.

    100 TB story: ONE corpus scan (partial-aggregated count per
    stratum; S rows cross the wire, not the corpus), the totals
    derived from the S-row counts relation via a global window (S is
    the number of sources — trivially single-partition), rates derived
    IN THE PLAN (no driver collect), broadcast back, then a map-only
    filter.  Oversized strata cap at rate 1.0 (no upsampling here —
    repetition factors are a separate concern); tiny strata therefore
    receive slightly less than ``target_frac * N_total`` total rows
    rather than silently re-normalizing, keeping every stratum's rate
    independent of the cap decisions of others.

    Engine portability: the bucket threshold is
    ``floor(keep_rate * N_BUCKETS + 1e-9)``.  The epsilon absorbs
    last-ulp differences in the double-precision rate between engines
    / aggregation orders (sums over per-stratum sqrt terms are
    order-dependent in the last bit); thresholds are therefore exact
    to 1e-9 of a bucket, far coarser than ulp noise and far finer than
    any real rate.
    """
    if not alpha > 0.0:
        raise ValueError(f"alpha must be > 0: {alpha}")
    if not (0.0 <= target_frac <= 1.0):
        raise ValueError(f"target_frac must be in [0, 1]: {target_frac}")
    # pow(n, 0.5) is not guaranteed correctly rounded by every libm;
    # IEEE sqrt is — use it when it applies so the engine-portability
    # of the assignment extends to the rate arithmetic
    def _pw(c: Column) -> Column:
        return F.sqrt(c) if alpha == 0.5 else F.pow(c, F.lit(alpha))

    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n_s"))
    w = Window.partitionBy(F.lit(0))   # counts is S rows, S = #strata
    rates = counts.select(
        F.col(strata_col).alias("_stratum"),
        F.least(F.lit(1.0),
                F.lit(float(target_frac)) * F.sum("_n_s").over(w)
                * (_pw(F.col("_n_s")) / F.sum(_pw(F.col("_n_s"))).over(w))
                / F.col("_n_s")).alias("_keep_rate"))
    joined = df.join(F.broadcast(rates),
                     F.col(strata_col).eqNullSafe(F.col("_stratum")), "left")
    b = hash_bucket(F.col(id_col), salt=salt)
    return (joined
            .where(b < F.floor(F.col("_keep_rate") * N_BUCKETS
                               + F.lit(1e-9)))
            .drop("_stratum", "_keep_rate"))


def ngrams_of(toks: Column, n: int = 3, sep: str = " ") -> Column:
    """Whitespace-token n-grams over a token-array column — pure JVM,
    built as a ``zip_with`` chain over shifted slices rather than a
    ``transform(sequence, i -> array_join(slice(toks, i, n)))``.

    Two measured reasons for this shape (HOF lambda bodies run in
    INTERPRETED mode — no whole-stage codegen, no subexpression
    elimination — so every node in them is a per-ELEMENT cost):

    * a free-variable ``split()`` inside the lambda re-tokenizes per
      gram: O(tokens²), 22s → 1.4s on the 5k-doc bench corpus.  The
      zip_with inputs are row-level expressions evaluated ONCE, so
      even an inline split stays linear; still prefer passing a
      projected attribute so multiple references share one split.
    * even over an attribute, an ``array_join(slice(...))`` lambda
      body costs ~40µs per gram interpreted; the one-node ``concat``
      below measured 4x faster over 255k spans (10.4s → 2.7s).

    zip_with pads the shorter input with NULL and ``concat`` propagates
    it, so positions past the last full window become NULL and the
    final slice drops them.  Shorter-than-n documents yield an empty
    array; NULL tokens -> NULL.
    """
    sz = F.size(toks)
    m = sz - (n - 1)
    acc = toks
    for k in range(2, n + 1):
        tail = F.slice(toks, k, F.greatest(sz - k + 1, F.lit(0)))
        acc = F.zip_with(acc, tail,
                         lambda a, b: F.concat(a, F.lit(sep), b))
    return (F.when(toks.isNull(), F.lit(None).cast("array<string>"))
             .when(m >= 1, F.slice(acc, 1, m))
             .otherwise(F.array().cast("array<string>")))


def ngrams_col(text: str = "text", n: int = 3, sep: str = " ") -> Column:
    """Inline-convenience wrapper: tokenize ``text`` and build n-grams
    in ONE expression.  Because the split sits inside the transform
    lambda as a free variable, it re-runs per gram — O(tokens²) — so
    this form is acceptable only for tiny/one-off fields and tests.
    Every hot path should project the token array and call
    :func:`ngrams_of` on the attribute instead."""
    return ngrams_of(tokens_col(text), n, sep)


def decontaminate(docs: DataFrame, benchmark: DataFrame, *,
                  id_col: str = "doc_id", text: str = "text",
                  bench_text: str = None, n: int = 8,
                  threshold: float = 0.5, sep: str = " ",
                  broadcast_bench: bool = True) -> DataFrame:
    """Train/test contamination guard: per-document n-gram overlap with
    an evaluation benchmark.

    Returns one row per input document: ``(id, total_grams, hit_grams,
    contam_frac, contaminated)`` where ``contam_frac`` is the fraction
    of the document's DISTINCT n-grams that appear anywhere in the
    benchmark (the standard n-gram-overlap decontamination rule; n=8..13
    word-grams in published pipelines).

    Plan shape at 100 TB: the benchmark n-gram set is broadcast (eval
    suites are tiny relative to the corpus), each document's distinct
    n-grams probe it map-side, and counts partially aggregate before
    the single doc_id-keyed shuffle.  Documents with no n-grams (shorter
    than n tokens, or NULL text) report frac 0.0 / not contaminated.

    ``broadcast_bench``: the default hard-broadcasts the benchmark gram
    set, which assumes it fits comfortably in driver + executor memory
    (true for eval suites — MBs against a 100 TB corpus).  Pass False
    when the "benchmark" side is itself corpus-sized (e.g. cross-corpus
    overlap audits) to let AQE pick the join strategy instead of forcing
    an OOM-prone broadcast.
    """
    bench_text = bench_text or text
    # tokens are projected before the n-gram transform on BOTH sides:
    # an inline split would re-tokenize per gram (see ngrams_of)
    bgrams = (benchmark
              .select(tokens_col(bench_text).alias("_tk"))
              .select(F.explode(ngrams_of(F.col("_tk"), n, sep))
                       .alias("gram"))
              .distinct()
              .withColumn("_hit", F.lit(1)))
    grams = (docs
             .select(id_col, tokens_col(text).alias("_tk"))
             .select(
                 id_col,
                 F.explode_outer(
                     F.array_distinct(ngrams_of(F.col("_tk"), n, sep)))
                  .alias("gram")))
    probe = F.broadcast(bgrams) if broadcast_bench else bgrams
    joined = grams.join(probe, "gram", "left")
    agg = (joined.groupBy(id_col)
           .agg(F.count("gram").alias("total_grams"),
                F.count("_hit").alias("hit_grams")))
    frac = (F.when(F.col("total_grams") > 0,
                   F.col("hit_grams") / F.col("total_grams"))
             .otherwise(F.lit(0.0)))
    return (agg
            .withColumn("contam_frac", frac)
            .withColumn("contaminated", F.col("contam_frac") >= threshold))


def bloom_decontaminate(docs: DataFrame, benchmark: DataFrame, *,
                        id_col: str = "doc_id", text: str = "text",
                        bench_text: str = None, n: int = 8,
                        threshold: float = 0.5, sep: str = " ",
                        expected_items: int = None, fpp: float = 0.001,
                        num_bits: int = None, num_hashes: int = None,
                        build_partitions: int = 16,
                        max_filter_bytes: int = 256 << 20) -> DataFrame:
    """Bloom-filter decontamination — :func:`decontaminate` for
    benchmark sets too large to broadcast as an exact gram set.

    Same output contract as :func:`decontaminate` (``(id, total_grams,
    hit_grams, contam_frac, contaminated)``), different error model: a
    Bloom filter has NO false negatives (a contaminated document is
    never missed — the property decontamination actually needs), and a
    tunable false-positive rate that can only over-count overlap
    (strictly conservative: it can only quarantine extra documents).

    Plan shape at 100 TB: benchmark grams hash JVM-side (two xxhash64
    seeds), coalesce to ``build_partitions``, and ONE Arrow pass per
    build partition sets bits into a numpy bitmask — one
    ``num_bits/8``-byte row per partition crosses to the driver, which
    ORs them and broadcasts the final mask.  The corpus side never
    shuffles grams at all: the probe is a vectorized double-hashing
    lookup (Kirsch-Mitzenmacher: position_i = h1 + i*h2 mod m) against
    the broadcast mask, followed by the same single doc_id-keyed
    partial aggregation as the exact operator.  A 10^9-gram benchmark
    at fpp=0.001 is a ~1.8 GB mask — impossible as a broadcast hash
    set, routine as a Bloom broadcast.

    Sizing: pass ``expected_items``+``fpp`` for the standard optimal
    formulas, or ``num_bits``(+``num_hashes``) explicitly.  Raises if
    the mask would exceed ``max_filter_bytes`` (driver holds
    ``build_partitions`` masks transiently).
    """
    import math

    import numpy as np

    bench_text = bench_text or text
    if num_bits is None:
        if expected_items is None:
            raise ValueError("bloom_decontaminate needs expected_items "
                             "(+fpp) or num_bits")
        num_bits = int(math.ceil(-expected_items * math.log(fpp)
                                 / (math.log(2.0) ** 2)))
    num_bits = max(64, (num_bits + 63) // 64 * 64)
    if num_bits // 8 > max_filter_bytes:
        raise ValueError(
            f"bloom filter of {num_bits // 8} bytes exceeds "
            f"max_filter_bytes={max_filter_bytes}; raise the cap "
            f"explicitly or lower expected_items/fpp")
    if num_hashes is None:
        num_hashes = (max(1, round(num_bits / expected_items * math.log(2.0)))
                      if expected_items else 5)
    m, k = num_bits, num_hashes

    def _h(col: Column, seed: int) -> Column:
        return F.xxhash64(col, F.lit(seed))

    # ---- build: one bitmask per (coalesced) benchmark partition ----
    bhash = (benchmark
             .select(tokens_col(bench_text).alias("_tk"))
             .select(F.explode(ngrams_of(F.col("_tk"), n, sep))
                      .alias("gram"))
             .select(_h(F.col("gram"), 0x5eed1).alias("h1"),
                     _h(F.col("gram"), 0x5eed2).alias("h2"))
             .coalesce(build_partitions))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        words = np.zeros(m // 64, dtype=np.uint64)
        for pdf in batches:
            if pdf.empty:
                continue
            h1 = pdf["h1"].to_numpy().astype(np.int64).view(np.uint64)
            h2 = pdf["h2"].to_numpy().astype(np.int64).view(np.uint64)
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
                np.bitwise_or.at(words, (pos >> np.uint64(6)).astype(np.int64),
                                 np.uint64(1) << (pos & np.uint64(63)))
        yield pd.DataFrame({"mask": [words.tobytes()]})

    parts = bhash.mapInPandas(build, schema="mask binary").collect()
    words = np.zeros(m // 64, dtype=np.uint64)
    for r in parts:
        words |= np.frombuffer(r["mask"], dtype=np.uint64)
    bc = docs.sparkSession.sparkContext.broadcast(words.tobytes())

    # ---- probe: map-side vectorized double-hash lookup ----
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("boolean")
    def might_contain(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        w = np.frombuffer(bc.value, dtype=np.uint64)
        h1 = h1s.to_numpy().astype(np.int64).view(np.uint64)
        h2 = h2s.to_numpy().astype(np.int64).view(np.uint64)
        hit = np.ones(len(h1), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            bits = (w[(pos >> np.uint64(6)).astype(np.int64)]
                    >> (pos & np.uint64(63))) & np.uint64(1)
            hit &= bits.astype(bool)
        return pd.Series(hit)

    grams = (docs
             .select(id_col, tokens_col(text).alias("_tk"))
             .select(
                 id_col,
                 F.explode_outer(
                     F.array_distinct(ngrams_of(F.col("_tk"), n, sep)))
                  .alias("gram")))
    probed = grams.withColumn(
        "_hit",
        F.when(F.col("gram").isNotNull(),
               might_contain(_h(F.col("gram"), 0x5eed1),
                             _h(F.col("gram"), 0x5eed2))))
    agg = (probed.groupBy(id_col)
           .agg(F.count("gram").alias("total_grams"),
                F.sum(F.when(F.col("_hit"), 1).otherwise(0))
                 .cast("long").alias("hit_grams")))
    frac = (F.when(F.col("total_grams") > 0,
                   F.col("hit_grams") / F.col("total_grams"))
             .otherwise(F.lit(0.0)))
    return (agg
            .withColumn("contam_frac", frac)
            .withColumn("contaminated", F.col("contam_frac") >= threshold))


def dsir_logweight(docs: DataFrame, target: DataFrame, *,
                   id_col: str = "doc_id", text: str = "text",
                   target_text: str = None, n_buckets: int = 4096,
                   salt: str = "dsir") -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much it looks
    like a small high-quality ``target`` set, using hashed-n-gram bag
    models.

    Features are unigrams + bigrams hashed into ``n_buckets`` buckets
    (the paper's construction); the bucket models are add-one-smoothed
    categorical distributions fit on the target set and the raw corpus,
    and a document's importance log-weight is::

        sum over its grams g of  log p_target(b(g)) - log p_raw(b(g))

    Returns one row per raw document: ``(id, n_grams,
    dsir_logweight)``; documents with no grams (NULL/token-free text)
    score 0.0.  Callers resample by weight (threshold or Gumbel top-k)
    downstream.

    100 TB story: both bucket models are <= ``n_buckets`` rows built by
    partial-aggregated counts (ONE pass over each corpus, B rows cross
    the wire per partition); the log-ratio relation is broadcast and the
    per-document sum partial-aggregates before the single id-keyed
    shuffle.  The bucket hash is the engine-portable md5 construction
    (:func:`hash_bucket`), so scores are auditable off-cluster.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive: {n_buckets}")
    target_text = target_text or text

    # tokens are projected before the bigram transform: an inline split
    # would re-tokenize per gram (see ngrams_of)
    grams = F.concat(F.col("_tk"), ngrams_of(F.col("_tk"), 2))

    def bucket_counts(df: DataFrame, tcol: str, cname: str) -> DataFrame:
        return (df.select(tokens_col(tcol).alias("_tk"))
                  .select(F.explode(grams).alias("_g"))
                  .select(hash_bucket(F.col("_g"), salt=salt,
                                      n_buckets=n_buckets).alias("_b"))
                  .groupBy("_b").agg(F.count(F.lit(1)).alias(cname)))

    # totals ride the <= n_buckets-row count relations as
    # single-partition windows (the temperature_sample pattern): each
    # corpus is scanned exactly ONCE for its model — a separate
    # .agg() + crossJoin for the totals would re-run the whole
    # bucket-count subtree a second time
    wb = Window.partitionBy(F.lit(0))
    tc = (bucket_counts(target, target_text, "_ct")
          .withColumn("_tt", F.sum("_ct").over(wb)))
    rc = (bucket_counts(docs, text, "_cr")
          .withColumn("_tr", F.sum("_cr").over(wb)))
    b_lit = F.lit(float(n_buckets))
    # raw-side buckets are sufficient: every scored gram comes from the
    # raw corpus, so target-only buckets are never probed (their mass
    # still counts in _tt, computed on tc BEFORE the join; raw-only
    # rows get the constant back-filled by the max window, 0 when the
    # target has no grams at all)
    ratio = (rc.join(tc, "_b", "left")
             .withColumn("_tt", F.coalesce(F.max("_tt").over(wb),
                                           F.lit(0)))
             .select(
                 "_b",
                 (F.log((F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1.0))
                        / (F.col("_tt") + b_lit))
                  - F.log((F.col("_cr") + F.lit(1.0))
                          / (F.col("_tr") + b_lit))).alias("_lw")))
    doc_grams = (docs.select(id_col, tokens_col(text).alias("_tk"))
                 .select(id_col, F.explode_outer(grams).alias("_g"))
                 .select(id_col,
                         hash_bucket(F.col("_g"), salt=salt,
                                     n_buckets=n_buckets).alias("_b")))
    return (doc_grams.join(F.broadcast(ratio), "_b", "left")
            .groupBy(id_col)
            .agg(F.count("_b").alias("n_grams"),
                 F.coalesce(F.sum("_lw"), F.lit(0.0))
                  .alias("dsir_logweight")))


def with_unigram_logprob(docs: DataFrame, *, id_col: str = "doc_id",
                         text: str = "text",
                         head_k: int = 65536) -> DataFrame:
    """Corpus-LM cross-entropy scoring (the CCNet-style perplexity
    filter, Wenzek et al. 2020, with the corpus's own unigram LM
    standing in for KenLM — no external model artifacts): fit
    ``p(t) = count(t) / N`` over the whole corpus, then score every
    document by the mean negative log-probability of its tokens.
    Low-``xent`` documents are typical; high-``xent`` ones are noise.

    Returns one row per document: ``(id, n_tokens, xent)`` where
    ``xent = -mean(ln p(token))`` in nats; token-free / NULL text
    yields ``n_tokens = 0, xent = NULL``.

    100 TB story — the token-probability join is the classic Zipf-skew
    join, handled hybrid: the ``head_k`` most frequent tokens (which
    carry ~95% of token mass at any realistic vocabulary) are broadcast
    and probed map-side with NO exchange, and only the cold tail — whose
    key distribution is by construction skew-free — takes the
    shuffle-join against the full vocabulary.  A naive single
    shuffle-join would send every occurrence of "the" to one reducer.
    The vocabulary relation is persisted (it feeds both the head and the
    tail probe) and auto-released with the result.  ``head_k=0``
    disables the hybrid (one plain shuffle join; useful for A/B parity
    checks).
    """
    if head_k < 0:
        raise ValueError(f"head_k must be >= 0: {head_k}")
    tok = docs.select(id_col,
                      F.explode_outer(tokens_col(text)).alias("_t"))
    # the vocabulary itself is persisted (not a descendant): the totals
    # agg, the broadcast head, and the tail probe all derive from it,
    # and without the cache each one would re-scan the corpus
    vocab = (docs.select(F.explode(tokens_col(text)).alias("_t"))
             .groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
             .persist())
    persisted = (vocab,)
    tot = vocab.agg(F.sum("_c").alias("_n"))
    vocab_p = (vocab.crossJoin(F.broadcast(tot))
               .select("_t", "_c",
                       F.log(F.col("_c") / F.col("_n")).alias("_lp")))
    if head_k > 0:
        head = (vocab_p.orderBy(F.col("_c").desc(), F.col("_t"))
                .limit(head_k).drop("_c"))
        j1 = tok.join(F.broadcast(head), "_t", "left")
        hit = j1.where(F.col("_lp").isNotNull())
        miss = (j1.where(F.col("_lp").isNull() & F.col("_t").isNotNull())
                .drop("_lp").join(vocab_p.drop("_c"), "_t", "left"))
        empty = j1.where(F.col("_t").isNull())   # NULL / token-free docs
        scored = hit.unionByName(miss).unionByName(empty)
    else:
        scored = tok.join(vocab_p.drop("_c"), "_t", "left")
    out = (scored.groupBy(id_col)
           .agg(F.count("_t").alias("n_tokens"),
                (-F.avg("_lp")).alias("xent")))
    from .dedup import _track_intermediates
    return _track_intermediates(out, *persisted)


def top_tokens(df: DataFrame, text: str = "text", k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k whitespace tokens by count.

    Deterministic tie-break (count desc, token asc) so the boundary of
    the top-k is stable across runs and engines.  Partial-aggregated
    count + TakeOrderedAndProject — no global sort materialization.
    """
    return (df.select(F.explode(tokens_col(text)).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("token"))
            .limit(k))


def split_leakage(df: DataFrame, *, split_col: str = "split",
                  text: str = "text", id_col: str = "doc_id",
                  train_splits: Sequence[str] = ("train",),
                  eval_splits: Sequence[str] = ("val", "test")) -> DataFrame:
    """Train/eval leakage audit by EXACT content: one row per eval-side
    document whose content (digest of ``text``) also appears in any
    train split — ``(id, split, n_train_copies)``.

    The eval-set stability the deterministic split buys is void if the
    same text lands on both sides (common after near-dup-preserving
    ingestion or chunk-level splits); this is the audit every training
    pipeline should run between ``deterministic_split`` and shipping.
    Same digest definition as ``exact_dedup`` (NULL-sentinel encoding),
    so "duplicate" means the same thing in the dedup pass and the audit.

    Plan shape at 100 TB: digest both sides in-map, partial-aggregate
    the train side to (digest, n) BEFORE the join — the join's build
    side carries one row per distinct duplicated digest, not per train
    row; eval rows stream past it.  Near-dup variant: compose
    ``dedup.minhash_dedup_pairs`` over the full frame and keep pairs
    whose endpoints land in different splits (pytest-gated; not SQL-
    expressible, so it stays a composition rather than a query row).
    """
    from .dedup import content_digest

    overlap = set(df.columns) & {"_h", "n_train_copies"}
    if overlap:
        raise ValueError(f"split_leakage: reserved column names in "
                         f"input: {sorted(overlap)}")
    d = df.withColumn("_h", content_digest([text]))
    train = (d.where(F.col(split_col).isin(list(train_splits)))
              .groupBy("_h").agg(F.count(F.lit(1)).alias("n_train_copies")))
    ev = d.where(F.col(split_col).isin(list(eval_splits)))
    return (ev.join(train, "_h")
              .select(id_col, split_col, "n_train_copies"))


def heavy_hitters(df: DataFrame, *, support: float = 0.001,
                  text: str = "text", ngram: int = 1, sep: str = " ",
                  candidate_slack: int = 2) -> DataFrame:
    """EXACT frequency heavy hitters: every token (or word ``ngram``
    when ``ngram > 1``) whose corpus-wide count is ``>= support *
    total``, with its exact count and frequency — no false positives,
    no false negatives.  N-gram mode is the frequent-sequence miner
    that feeds boilerplate line filters and decontamination reviews —
    and the case where avoiding the long-tail shuffle matters most
    (the distinct n-gram universe grows ~linearly with corpus size).

    Two passes, neither of which shuffles the long-tail vocabulary
    (the 100 TB story — ``top_tokens``'s groupBy partially aggregates
    but still exchanges one row per DISTINCT token, and a web-scale
    token/n-gram universe is billions of distinct keys):

    1. **Candidates** — a per-partition Misra-Gries summary with
       ``cap = candidate_slack * ceil(1/support)`` counters
       (``applyInPandas``-free: one ``mapInPandas`` sweep, a pandas
       ``value_counts`` + top-cap per batch folded into a bounded dict
       per partition).  Misra-Gries guarantees any token with
       partition count ``> n_p / (cap+1)`` survives its partition's
       summary; a token with GLOBAL frequency >= support has, by
       pigeonhole, at least one partition where its local frequency
       >= support > 1/(cap+1), so the union of summaries is a provable
       SUPERSET of the true heavy hitters.  At most ``cap`` candidate
       rows leave each partition.
    2. **Exact recount** — explode tokens again, hash-semi-join
       against the (tiny, broadcastable) candidate set, count exactly,
       filter ``count >= ceil(support * total)``.  Only candidate
       tokens ever enter the aggregation exchange.

    Output: ``(token, cnt, freq)`` — deterministic, oracle-checkable
    against a plain GROUP BY/HAVING (selfcheck ``heavy_hitters``).
    ``support`` must be in (0, 1]; lower support costs more candidate
    memory (``cap`` counters per partition).

    ``df`` must be deterministic: both passes re-read it, so a frame
    that yields different rows per evaluation (a ``rand()`` filter or
    order) could put a heavy token in pass 2 that pass 1 never saw.
    Such a frame raises ``ValueError``; materialize it first
    (``localCheckpoint()``, or write and re-read).  Persisting the
    exploded token stream instead would cost the corpus-sized cache
    this operator exists to avoid."""
    if not df._jdf.queryExecution().analyzed().deterministic():
        raise ValueError(
            "heavy_hitters reads its input twice and needs a "
            "deterministic frame; materialize it first "
            "(df.localCheckpoint())")
    if not 0 < support <= 1:
        raise ValueError(f"support must be in (0, 1]: {support}")
    if candidate_slack < 1:
        raise ValueError(f"candidate_slack must be >= 1: {candidate_slack}")
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1: {ngram}")
    cap = candidate_slack * math.ceil(1.0 / support)

    from .dedup import _track_intermediates

    # tokens are projected before the n-gram transform so the shifted
    # zip_with slices share ONE split per row (see ngrams_of docstring)
    tk = df.select(tokens_col(text).alias("_tk"))
    unit = F.col("_tk") if ngram == 1 else ngrams_of(F.col("_tk"),
                                                    ngram, sep)
    toks = tk.select(F.explode(unit).alias("token"))

    def mg_summary(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one sweep yields BOTH the candidate tokens and this
        # partition's token total (as a NULL-token row), so the total
        # never costs a third corpus scan
        counters: dict = {}
        n_seen = 0
        for pdf in batches:
            if pdf.empty:
                continue
            n_seen += len(pdf)
            # fold the batch's exact counts into the bounded summary:
            # add matches, then apply the Misra-Gries global decrement
            # until <= cap counters remain (subtracting the (cap+1)-th
            # largest value preserves the MG retention guarantee)
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > cap:
                vals = sorted(counters.values(), reverse=True)
                dec = vals[cap]
                counters = {t: v - dec for t, v in counters.items()
                            if v > dec}
        if n_seen:
            yield pd.DataFrame({
                "token": list(counters.keys()) + [None],
                "part_rows": [None] * len(counters) + [n_seen]})

    # tiny (<= cap+1 rows per partition); persisted because candidates
    # and the total both read it — ONE summary pass over the corpus
    summary = toks.mapInPandas(
        mg_summary, schema="token string, part_rows long").persist()
    cands = summary.where(F.col("token").isNotNull()) \
                   .select("token").distinct()
    total_col = summary.where(F.col("token").isNull()) \
                       .agg(F.sum("part_rows").alias("_total"))

    counted = (toks.join(F.broadcast(cands), "token", "left_semi")
                   .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
                   .crossJoin(F.broadcast(total_col)))
    out = (counted
           .where(F.col("cnt") >= F.ceil(F.lit(support) * F.col("_total")))
           .select("token", "cnt",
                   (F.col("cnt") / F.col("_total")).alias("freq")))
    return _track_intermediates(out, summary)


def chunk_documents(df: DataFrame, *, text: str = "text",
                    budget: int = 2048, overlap: int = 0,
                    sep: str = " ") -> DataFrame:
    """Split documents into consecutive token-window chunks of at most
    ``budget`` whitespace tokens, with ``overlap`` tokens carried
    between neighbours — the upstream companion of ``pack_sequences``
    (oversized documents get re-chunked here, then packed).

    Output: one row per chunk — every input column except ``text``
    passes through, plus ``(chunk_idx, chunk_text, n_tokens)`` — so
    split/source/metadata columns survive chunking.  Chunk i covers
    tokens ``[i*stride, i*stride+budget)``
    with ``stride = budget - overlap``; the final chunk may be shorter
    but always starts before the previous chunk's end (no chunk is
    fully contained in another).  ``chunk_text`` re-joins tokens with
    ``sep`` (whitespace runs are normalized — token content, not byte
    spacing, is the preserved contract).  NULL or token-free text
    yields zero chunks.

    Pure JVM (split / sequence / transform / slice / posexplode): a
    map-only pass with no shuffle and no Python workers, so it runs at
    scan speed on any corpus size.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    if not (0 <= overlap < budget):
        raise ValueError(
            f"overlap must be in [0, budget): {overlap} vs {budget}")
    stride = budget - overlap
    # the token array is projected before the chunk transform: a free
    # split inside the lambda would re-tokenize per chunk (see
    # ngrams_of for the measured cost of that trap)
    toks = F.col("__chunk_tk")
    n = F.size(toks)
    # number of chunks: 1 + ceil((n - budget) / stride) when n > budget
    extra = F.ceil((n - F.lit(budget)) / F.lit(stride)).cast("int")
    n_chunks = F.when(n <= 0, F.lit(0)) \
                .when(n <= budget, F.lit(1)) \
                .otherwise(F.lit(1) + extra)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, budget))
    # output names shadow any same-named input columns (so chunking its
    # own output re-chunks cleanly — rename beforehand to keep a parent
    # chunk_idx); ``text`` itself is replaced by chunk_text
    keep = [c for c in df.columns
            if c not in (text, "chunk_idx", "chunk_text", "n_tokens",
                         "_toks", "__chunk_tk")]
    out = df.withColumn("__chunk_tk", tokens_col(text)).select(
        *keep,
        F.posexplode(
            F.when(n_chunks > 0, chunks)
             .otherwise(F.array().cast("array<array<string>>"))
        ).alias("chunk_idx", "_toks"))
    return out.select(
        *keep, "chunk_idx",
        F.array_join("_toks", sep).alias("chunk_text"),
        F.size("_toks").alias("n_tokens"))


def bfd_pack(cnts, budget: int):
    """Pure best-fit-decreasing kernel: ``cnts`` must be sorted
    descending; returns ``(pack_idx, slot_idx)`` lists.

    Open packs live in a bisect-sorted remaining-capacity list; each
    item takes the tightest pack that fits, else opens a new one.
    Capacities below the smallest remaining document are never
    re-inserted (counts scan in decreasing order, so nothing later can
    fit them) — the open list stays near-empty for realistic
    doc/budget ratios instead of O(total_tokens/budget).
    """
    budget_ = int(budget)
    min_cnt = int(cnts[-1]) if len(cnts) else 0
    caps: list = []          # sorted remaining capacities
    cap_pack: list = []      # pack index parallel to caps
    fill_slots: list = []    # next slot per pack
    pack_idx = []
    slot_idx = []
    n_packs = 0
    for c in cnts:
        c = int(c)
        i = bisect.bisect_left(caps, c)
        if i < len(caps):
            p = cap_pack.pop(i)
            rem = caps.pop(i) - c
        else:
            p = n_packs
            n_packs += 1
            fill_slots.append(0)
            rem = budget_ - c        # negative iff oversized singleton
        pack_idx.append(p)
        slot_idx.append(fill_slots[p])
        fill_slots[p] += 1
        if rem >= min_cnt:
            j = bisect.bisect_left(caps, rem)
            caps.insert(j, rem)
            cap_pack.insert(j, p)
    return pack_idx, slot_idx


def pack_sequences(df: DataFrame, *, id_col: str = "doc_id",
                   count_col: str = "n_tokens", budget: int = 2048,
                   num_partitions: int = None) -> DataFrame:
    """Greedy best-fit-decreasing packing of documents into fixed
    token-budget training sequences, partition-local.

    Output: one row per input document — ``(id, n_tokens, pack_id,
    pack_slot, oversized)``.  Every pack's token total is <= budget
    except single oversized documents (count > budget), which get a
    pack of their own with ``oversized = true`` (callers typically
    truncate or re-chunk those upstream).  NULL or negative counts
    raise — packing garbage silently would corrupt shard budgets.

    Partition-local by design: global bin packing serializes; BFD per
    partition parallelizes embarrassingly, is deterministic given the
    partitioning (ties broken by id), and keeps each partition's packs
    independently writable/resumable.  Per-partition utilization is
    >= 50% of optimal in the worst case (classic BFD bound) and >90%
    in practice when budget >> median doc length.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    if num_partitions:
        df = df.repartition(num_partitions, id_col)
    id_type = dict(df.dtypes)[id_col]
    src = df.select(
        F.col(id_col),
        F.col(count_col).cast("long").alias("_cnt"),
        F.spark_partition_id().alias("_pid"))
    out_schema = (f"{id_col} {id_type}, n_tokens long, pack_id string, "
                  f"pack_slot int, oversized boolean")
    budget_ = int(budget)

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dfs = list(batches)
        if not dfs:            # empty partition: zero batches, not an
            return             # empty frame — concat([]) would raise
        pdf = pd.concat(dfs, ignore_index=True)
        if pdf.empty:
            return
        if pdf["_cnt"].isna().any() or (pdf["_cnt"] < 0).any():
            bad = pdf.loc[pdf["_cnt"].isna() | (pdf["_cnt"] < 0), id_col]
            raise ValueError(
                f"pack_sequences: NULL/negative token counts for ids "
                f"{bad.head(5).tolist()}")
        pid = int(pdf["_pid"].iloc[0])
        pdf = pdf.sort_values(["_cnt", id_col],
                              ascending=[False, True], kind="mergesort")
        cnts = pdf["_cnt"].to_numpy()
        pack_idx, slot_idx = bfd_pack(cnts, budget_)
        out = pd.DataFrame({
            id_col: pdf[id_col].to_numpy(),
            "n_tokens": cnts,
            "pack_id": [f"{pid:05d}-{p:06d}" for p in pack_idx],
            "pack_slot": pd.array(slot_idx, dtype="int32"),
            "oversized": cnts > budget_,
        })
        yield out

    return src.mapInPandas(pack, schema=out_schema)

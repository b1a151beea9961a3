"""Text analysis over document tables: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All the cheap statistics stay JVM-side (built-in ``pyspark.sql.functions``
string/array expressions, whole-stage-codegen friendly, no Python in the
hot path).  Only the fingerprint (which needs the Aloha-parity
MurmurHash3 kernel) runs as an Arrow-batched pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "den", "von", "mit"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es", "los", "por"],
}


def tokens_col(text: str = "text") -> Column:
    """Whitespace tokens; empty string -> empty array (unlike Java split
    this is the natural SQL semantics for counting)."""
    t = F.trim(F.col(text))
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))


# GPT-2-style pre-tokenizer approximation, restricted to syntax shared
# by Java regex (Spark) and RE2 (DuckDB oracle): no lookarounds, no
# unicode category classes.  Contractions, space-prefixed word/number/
# punctuation runs — the standard BPE pre-split shape.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def with_bpe_token_count(df: DataFrame, text: str = "text",
                         out_col: str = "bpe_token_count") -> DataFrame:
    """BPE-ish token count (pre-tokenizer segments, the standard proxy
    for LLM token budgeting) — pure JVM ``regexp_extract_all``, no
    Python.  NULL text -> NULL count."""
    cnt = F.size(F.regexp_extract_all(F.col(text),
                                      F.lit(BPE_ISH_PATTERN), F.lit(0)))
    return df.withColumn(
        out_col,
        F.when(F.col(text).isNotNull(), cnt.cast("long")))


def with_token_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """token_count, char_count, avg_token_len, distinct_ratio."""
    toks = tokens_col(text)
    return (df
            .withColumn("token_count", F.size(toks))
            .withColumn("char_count", F.length(F.col(text)))
            .withColumn(
                "avg_token_len",
                F.when(F.size(toks) > 0,
                       F.aggregate(toks, F.lit(0).cast("long"),
                                   lambda acc, t: acc + F.length(t))
                       .cast("double") / F.size(toks)))
            .withColumn(
                "distinct_ratio",
                F.when(F.size(toks) > 0,
                       F.size(F.array_distinct(toks)).cast("double")
                       / F.size(toks))))


def with_repetition_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """Within-document repetition signals, the Gopher-rule family
    (Rae et al. 2021 §A1.1: "repetitious documents are low quality"):

    - ``n_tokens``        whitespace token count (long)
    - ``top_token_frac``  occurrences of the most frequent token / n
    - ``dup_bigram_frac`` fraction of word-bigram occurrences that are
                          repeats: ``(n_grams - n_distinct) / n_grams``
    - ``dup_trigram_frac`` same for trigrams

    All pure JVM (array_sort + higher-order aggregate for the top-token
    run length; transform/slice n-grams + array_distinct for the dup
    fractions) — no Python workers, map-only, zero shuffle.  The
    fractions are exact integer ratios, so the DuckDB oracle reproduces
    them bit-for-bit (IEEE division of identical integers).  NULL text
    -> NULL stats; a document shorter than n yields 0 n-grams and a
    NULL dup fraction (no occurrences to be duplicated).
    """
    # lazy import: corpus.py imports tokens_col from this module at
    # load time, so the reverse dependency must resolve at call time
    from .corpus import ngrams_of

    # the token array and both gram arrays are materialized as columns
    # before anything slices or distincts them: free-variable splits
    # inside higher-order lambdas re-run per element (O(tokens²) —
    # this exact function measured 22s instead of 0.5s on the 5k-doc
    # bench corpus before the projection; see ngrams_of)
    df = (df.withColumn("__rs_tk", tokens_col(text))
            .withColumn("__rs_g2", ngrams_of(F.col("__rs_tk"), 2))
            .withColumn("__rs_g3", ngrams_of(F.col("__rs_tk"), 3)))
    toks = F.col("__rs_tk")
    n = F.size(toks)
    srt = F.array_sort(toks)
    # longest run of equal adjacent tokens in the sorted array == count
    # of the most frequent token.  Initial prev=NULL: (x == NULL) is
    # NULL, so the first element always opens a run of 1.
    zero = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))

    def _merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    top = F.aggregate(srt, zero, _merge, lambda acc: acc["best"])

    def _dup_frac(gcol: str):
        g = F.col(gcol)
        m = F.size(g)
        return F.when(m > 0,
                      (m - F.size(F.array_distinct(g))).cast("double") / m)

    return (df
            .withColumn("n_tokens", n.cast("long"))
            .withColumn("top_token_frac",
                        F.when(n > 0, top.cast("double") / n))
            .withColumn("dup_bigram_frac", _dup_frac("__rs_g2"))
            .withColumn("dup_trigram_frac", _dup_frac("__rs_g3"))
            .drop("__rs_tk", "__rs_g2", "__rs_g3"))


def with_quality_score(df: DataFrame, text: str = "text") -> DataFrame:
    """Heuristic quality in [0,1]: length band, punctuation ratio,
    stopword presence, repetition penalty — all JVM-side arithmetic."""
    toks = tokens_col(text)
    n_chars = F.length(F.col(text))
    punct = F.length(F.regexp_replace(F.col(text), r"[^\.,;:!?]", ""))
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    stop_ratio = F.when(F.size(toks) > 0,
                        stop_hits.cast("double") / F.size(toks)).otherwise(F.lit(0.0))
    rep_ratio = F.when(F.size(toks) > 0,
                       F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double")
                       / F.size(toks)).otherwise(F.lit(1.0))
    length_band = F.when((n_chars >= 20) & (n_chars <= 10000), F.lit(1.0)) \
                   .otherwise(F.lit(0.2))
    score = (F.lit(0.4) * length_band
             + F.lit(0.2) * F.least(F.lit(1.0), stop_ratio * 5)
             + F.lit(0.2) * (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * 10))
             + F.lit(0.2) * (F.lit(1.0) - rep_ratio))
    # NULL text -> NULL score (NOT the 0.28 the otherwise() branches
    # would compose): missing content has no quality, and a non-NULL
    # score would let NULL-text rows pass a >= threshold curation gate.
    # Matches the NULL propagation of with_token_stats/with_bpe_token_count.
    return df.withColumn(
        "quality_score",
        F.when(F.col(text).isNull(), F.lit(None).cast("double"))
         .otherwise(F.round(score, 6)))


def with_lang_id(df: DataFrame, text: str = "text") -> DataFrame:
    """Stopword-vote language ID: argmax over per-language stopword hit
    counts (ties broken toward the lexicographically greatest language
    code — struct max compares (hits, lang) fieldwise); 'und' when no
    language scores a hit."""
    toks = F.transform(tokens_col(text), lambda t: F.lower(t))
    scores = []
    for lang in sorted(STOPWORDS):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max on struct compares fieldwise: (hits, lang); ties -> later
    # lang code wins, so order langs descending to make earlier win
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        "lang_guess",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")))


_FP_BASE = np.uint64(1099511628211)   # FNV-1a prime; odd => full period


def _fingerprint_kernel(texts: pd.Series) -> pd.Series:
    """Document fingerprint: 64-bit polynomial rolling hash over the
    MurmurHash3 token-hash sequence, ``sum(h_j * B^(len-1-j)) mod 2^64``
    — order- and content-sensitive (a reordering or a single-token edit
    changes the fingerprint).  Fully vectorized: one murmur pass over the
    batch's tokens, a power table gather, one segmented reduce; uint64
    arithmetic wraps mod 2^64 by construction."""
    from aloha_spark.functions.hashing import string_hash_array

    out = np.zeros(len(texts), dtype=np.int64)
    toks_per_doc = [t.split() if isinstance(t, str) and t else [] for t in texts]
    lens = np.fromiter((len(t) for t in toks_per_doc), dtype=np.int64,
                       count=len(toks_per_doc))
    flat = [tok for toks in toks_per_doc for tok in toks]
    if flat:
        hashes = string_hash_array(flat).astype(np.int64).view(np.uint64)
        offs = np.concatenate(([0], np.cumsum(lens)))
        with np.errstate(over="ignore"):
            pow_table = np.empty(int(lens.max()), dtype=np.uint64)
            pow_table[0] = 1
            np.multiply.accumulate(
                np.full(len(pow_table), _FP_BASE, dtype=np.uint64)[:-1],
                out=pow_table[1:])
            # exponent of each token = (tokens after it in its doc)
            exps = np.repeat(offs[1:], lens) - 1 \
                - np.arange(len(hashes), dtype=np.int64)
            contrib = hashes * pow_table[exps]
            nonempty = lens > 0
            starts = offs[:-1][nonempty]
            sums = np.add.reduceat(contrib, starts)
        vals = sums.view(np.int64)
        out[np.nonzero(nonempty)[0]] = vals
    return pd.Series(out)


def with_fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    udf = pandas_udf(_fingerprint_kernel, "long")
    return df.withColumn("fingerprint", udf(F.col(text)))


# PII scrubbing: the standard pre-training redaction pass (emails, URLs,
# IPv4, phone numbers -> typed placeholders).  Pattern syntax is kept to
# the subset shared by Java regex (Spark) and RE2 (the DuckDB oracle):
# no lookarounds, no unicode category classes, no backreferences.  Order
# matters and is part of the contract: URLs are redacted FIRST so an
# address embedded in a URL (http://x.com/a@b.c) is swallowed by <URL>
# rather than split into two placeholders; IPv4 before phone so dotted
# quads never half-match the phone run; `+`-prefixed numbers before
# unprefixed NNN-NNN(N)-NNNN ones so "+1 555-123-4567" is ONE <PHONE>.
PII_PATTERNS = (
    ("<URL>", r"https?://[^\s]+"),
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("<PHONE>", r"\+[0-9][0-9()\-. ]{6,}[0-9]"),
    ("<PHONE>", r"\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b"),
)


def with_pii_scrubbed(df: DataFrame, text: str = "text",
                      out_col: str = "text_scrubbed",
                      count_col: str = "n_redactions") -> DataFrame:
    """Redact PII into typed placeholders, counting replacements.

    Pure JVM (``regexp_replace`` / ``regexp_extract_all`` chains —
    whole-stage codegen, no Python workers): at corpus scale this is a
    map-only pass with zero shuffle.  Each stage counts its matches on
    the text as it stands AFTER the previous stage, so the count equals
    the number of placeholders actually inserted.  NULL text -> NULL
    scrubbed / NULL count."""
    cur = F.col(text)
    n = F.lit(0).cast("long")
    for placeholder, pat in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, placeholder)
    return (df.withColumn(out_col,
                          F.when(F.col(text).isNotNull(), cur))
              .withColumn(count_col,
                          F.when(F.col(text).isNotNull(),
                                 n.cast("long"))))

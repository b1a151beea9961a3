"""Seeded inputs.

The generators under ``aloha_spark/data/`` have fixed internal seeds, so
the workload seed enters here, as a transform of their output:

- transcripts: every conversation except the hot ``mega`` one is
  renamed ``s<seed>-<id>`` (which moves it to other hash buckets, salt
  rows and partitions) and every word of every non-empty text is
  redrawn from the same vocabulary by a hash of (word, conversation,
  turn, position, seed).  Sizes, the hot-key share, NULL/empty text,
  the session gaps and the state rows' timing stay as generated.
- documents: every document id is shifted by ``seed * 10**7`` (which
  moves it to other buckets, splits and benchmark rows) and every word
  drawn from the generator's English or foreign vocabulary is redrawn
  from the same vocabulary by a hash of (word, text, position, seed).
  Identical texts stay identical, so the exact-duplicate clusters, the
  low-quality, foreign and PII bands and the benchmark overlap stay as
  generated.  The generator makes no near duplicates, so one document
  in 20, picked by a hash of (id, seed), becomes the document before it
  plus one word.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from aloha_spark.data.transcripts import WORDS, make_state, make_transcripts

DOC_ID_STRIDE = 10 ** 7
#: one document in this many goes to the benchmark set (the generator's
#: default, 997, leaves one or none in a thousand-document corpus)
BENCH_EVERY = 50


def seeded_transcripts(spark, seed: int, n_convs: int, turns_per_conv: int,
                       mega_turns: int, partitions: int) -> DataFrame:
    t = make_transcripts(spark, n_convs=n_convs,
                         turns_per_conv=turns_per_conv,
                         mega_turns=mega_turns, partitions=partitions)
    conv = F.when(F.col("conv_id") == "mega", F.lit("mega")) \
        .otherwise(F.concat(F.lit(f"s{seed}-"), F.col("conv_id")))
    vocab = F.array(*[F.lit(w) for w in WORDS])
    redraw = F.concat_ws(" ", F.transform(
        F.split(F.col("text"), " "),
        lambda w, i: F.element_at(vocab, (F.pmod(
            F.xxhash64(w, F.col("conv_id"), F.col("turn_idx"), i,
                       F.lit(seed)), F.lit(len(WORDS))) + 1).cast("int"))))
    text = F.when(F.col("text").isNull() | (F.col("text") == ""),
                  F.col("text")).otherwise(redraw)
    return t.select(conv.alias("conv_id"), "turn_idx", "role",
                    text.alias("text"), "tool", "ts")


def write_transcripts(spark, root: str, seed: int, n_convs: int,
                      turns_per_conv: int, mega_turns: int,
                      files: int) -> tuple:
    """Turns + state (with future-dated rows) as parquet under ``root``;
    returns (turns_path, state_path)."""
    tp, sp = f"{root}/turns", f"{root}/state"
    seeded_transcripts(spark, seed, n_convs, turns_per_conv, mega_turns,
                       files).write.mode("overwrite").parquet(tp)
    make_state(spark, spark.read.parquet(tp)) \
        .coalesce(files).write.mode("overwrite").parquet(sp)
    return tp, sp


def write_stream_source(spark, path: str, seed: int, n_convs: int,
                        turns_per_conv: int, files: int) -> None:
    """Transcript files cut by event time: file k holds the k-th slice
    of time across all conversations, so a micro-batch of a few files
    continues every conversation the previous batch touched.  The file
    source takes files oldest first, so modification times are set in
    slice order."""
    import os

    seeded_transcripts(spark, seed, n_convs, turns_per_conv, 0, 0) \
        .repartitionByRange(files, "ts") \
        .write.mode("overwrite").parquet(path)
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    t0 = os.path.getmtime(path) - len(parts)
    for k, f in enumerate(parts):
        os.utime(os.path.join(path, f), (t0 + k, t0 + k))


def write_documents(spark, root: str, seed: int, n_docs: int,
                    files: int) -> tuple:
    """Documents and a benchmark slice of them as parquet under
    ``root``; returns (docs_path, bench_path)."""
    from aloha_spark.data.documents import (
        _EN_WORDS, _XX_WORDS, make_benchmark, make_documents)

    d = make_documents(spark, n_docs, partitions=files)
    text_key = F.xxhash64(F.col("text"), F.lit(seed))
    en = F.array(*[F.lit(w) for w in _EN_WORDS])
    xx = F.array(*[F.lit(w) for w in _XX_WORDS])

    def redraw(w, i):
        key = F.xxhash64(w, text_key, i)

        def pick(vocab, n):
            return F.element_at(vocab, (F.pmod(key, F.lit(n)) + 1).cast("int"))
        return F.when(F.array_contains(en, w), pick(en, len(_EN_WORDS))) \
            .when(F.array_contains(xx, w), pick(xx, len(_XX_WORDS))) \
            .otherwise(w)

    text = F.when(F.col("text") == "", F.col("text")).otherwise(
        F.concat_ws(" ", F.transform(F.split(F.col("text"), " "), redraw)))
    d = d.select((F.col("doc_id") + F.lit(seed * DOC_ID_STRIDE))
                 .alias("doc_id"), text.alias("text"), "lang", "source")
    prev = Window.orderBy("doc_id")
    near = (F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(20)) == 0) \
        & F.lag("doc_id").over(prev).isNotNull()
    d = d.withColumn("near", near).select(
        "doc_id",
        F.when(F.col("near"), F.concat(F.lag("text").over(prev),
                                       F.lit(" data")))
        .otherwise(F.col("text")).alias("text"),
        F.when(F.col("near"), F.lag("lang").over(prev))
        .otherwise(F.col("lang")).alias("lang"),
        "source") \
        .withColumn("n_chars", F.length("text").cast("bigint"))
    dp, bp = f"{root}/docs", f"{root}/bench"
    d.write.mode("overwrite").parquet(dp)
    make_benchmark(spark.read.parquet(dp), every=BENCH_EVERY).coalesce(1) \
        .write.mode("overwrite").parquet(bp)
    return dp, bp

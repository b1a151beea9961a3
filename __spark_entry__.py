"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time featurization pipeline
(as-of join + windowed features + sparse feature vectors) over a
transcript view derived deterministically from the events table at
sf0.001.  ``queries()`` exposes each implemented operator from
SURVEY.md §2 as (spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for everything SQL-expressible (hash-parity and
training-line formats are covered by pytest goldens instead and run as
rows-only checks here).

Column aliasing rule: every computed column is aliased identically in
the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from aloha_spark.operators.windows import epoch_seconds

SF0001 = "/root/testdata/sf0.001"

# --------------------------------------------------------------------------
# shared derivations (Spark + SQL twins)

# tool := event_type for click/view events, else NULL (gives the backfill
# operators realistic sparsity)
_TRANSCRIPTS_SQL = """
SELECT CAST(user_id AS VARCHAR) AS conv_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
            AS BIGINT) AS turn_idx,
       event_type AS role,
       props AS text,
       CASE WHEN event_type IN ('click', 'view') THEN event_type END AS tool,
       ts,
       value
FROM events
"""


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("long").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type").isin("click", "view"),
               F.col("event_type")).alias("tool"),
        F.col("ts"),
        F.col("value"),
    )


_STATE_SQL = """
SELECT CAST(user_id AS VARCHAR) AS conv_id, ts,
       value AS state_score
FROM (
  SELECT user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'signup') t
WHERE rn = 1
"""


def state_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup events as a feature-state table keyed (conv_id, ts); at
    most one state row per (key, ts) — greatest event_id wins."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .where(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w)).where("rn = 1")
              .select(F.col("user_id").cast("string").alias("conv_id"),
                      "ts", F.col("value").alias("state_score")))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------------
# window / sessionization / as-of queries

def q_window_lag_lead(spark, sf_dir):
    from aloha_spark.operators.windows import with_lag_lead
    t = transcripts_from_events(spark, sf_dir)
    out = with_lag_lead(t, ["text", "role"], order=("turn_idx",))
    return out.select("conv_id", "turn_idx", "prev_text", "next_text",
                      "prev_role", "next_role")


def q_backfill_last_tool(spark, sf_dir):
    from aloha_spark.operators.windows import with_backfill
    t = transcripts_from_events(spark, sf_dir)
    return with_backfill(t, ["tool"], order=("turn_idx",)) \
        .select("conv_id", "turn_idx", "tool", "last_tool")


def q_sessionize(spark, sf_dir):
    from aloha_spark.operators.windows import with_session_id
    t = transcripts_from_events(spark, sf_dir)
    return with_session_id(t, gap_seconds=1800.0, order=("turn_idx",)) \
        .select("conv_id", "turn_idx",
                F.col("session_id").cast("long").alias("session_id"))


def q_turn_delta(spark, sf_dir):
    from aloha_spark.operators.windows import with_ts_delta
    t = transcripts_from_events(spark, sf_dir)
    return with_ts_delta(t, order=("turn_idx",)) \
        .select("conv_id", "turn_idx",
                F.round("dt_prev_sec", 6).alias("dt_prev_sec"))


def q_rolling_tool_count(spark, sf_dir):
    from aloha_spark.operators.windows import with_rolling_count
    t = transcripts_from_events(spark, sf_dir)
    return with_rolling_count(t, F.col("tool").isNotNull(), k=5,
                              order=("turn_idx",), out_col="tools_in_window") \
        .select("conv_id", "turn_idx", "tools_in_window")


def q_session_stats(spark, sf_dir):
    from aloha_spark.operators.windows import with_session_id
    t = transcripts_from_events(spark, sf_dir)
    s = with_session_id(t, gap_seconds=1800.0, order=("turn_idx",))
    return (s.groupBy("conv_id",
                      F.col("session_id").cast("long").alias("session_id"))
             .agg(F.count("*").alias("n_turns"),
                  F.round(F.max(epoch_seconds("ts"))
                          - F.min(epoch_seconds("ts")), 6)
                  .alias("duration_sec"),
                  F.sum(F.col("tool").isNotNull().cast("long"))
                  .alias("n_tool_turns")))


def q_asof_state(spark, sf_dir):
    from aloha_spark.operators.asof import asof_join
    t = transcripts_from_events(spark, sf_dir)
    s = state_from_events(spark, sf_dir)
    out = asof_join(t, s, on="ts", by="conv_id", state_cols=["state_score"])
    return out.select("conv_id", "turn_idx", "state_score")


def q_asof_tolerance(spark, sf_dir):
    """As-of join with a staleness bound (pd.merge_asof tolerance
    parity): state older than 600 s must not decorate the turn — the
    feature-store freshness rule.  One map-side comparison after the
    same one-exchange window fill; the oracle replays it as ASOF JOIN
    + age CASE."""
    from aloha_spark.operators.asof import asof_join
    t = transcripts_from_events(spark, sf_dir)
    s = state_from_events(spark, sf_dir)
    out = asof_join(t, s, on="ts", by="conv_id",
                    state_cols=["state_score"], tolerance=600.0)
    return out.select("conv_id", "turn_idx", "state_score")


def q_asof_salted(spark, sf_dir):
    from aloha_spark.operators.asof import asof_join
    t = transcripts_from_events(spark, sf_dir)
    s = state_from_events(spark, sf_dir)
    hot = [r[0] for r in t.groupBy("conv_id").count()
           .orderBy(F.desc("count")).limit(3).collect()]
    out = asof_join(t, s, on="ts", by="conv_id", state_cols=["state_score"],
                    hot_keys=hot, salt_buckets=4)
    return out.select("conv_id", "turn_idx", "state_score")


def q_asof_strict(spark, sf_dir):
    from aloha_spark.operators.asof import asof_join
    t = transcripts_from_events(spark, sf_dir)
    s = state_from_events(spark, sf_dir)
    out = asof_join(t, s, on="ts", by="conv_id", state_cols=["state_score"],
                    allow_exact=False)
    return out.select("conv_id", "turn_idx", "state_score")


def q_asof_forward(spark, sf_dir):
    """Forward as-of join (earliest state with state.ts >= turn.ts —
    label/outcome attachment): the descending-scan dual of
    the backward fill (operators/asof.py).  DuckDB's ASOF JOIN takes
    the <= comparator directly."""
    from aloha_spark.operators.asof import asof_join
    t = transcripts_from_events(spark, sf_dir)
    s = state_from_events(spark, sf_dir)
    out = asof_join(t, s, on="ts", by="conv_id", state_cols=["state_score"],
                    direction="forward")
    return out.select("conv_id", "turn_idx", "state_score")


def q_asof_nearest(spark, sf_dir):
    """Nearest as-of join (closer of the backward/forward candidates in
    |state.ts - turn.ts|, exact ties to backward — pandas' rule): both
    fills share one exchange.  The oracle composes DuckDB's two ASOF
    directions with the same tie rule."""
    from aloha_spark.operators.asof import asof_join
    t = transcripts_from_events(spark, sf_dir)
    s = state_from_events(spark, sf_dir)
    out = asof_join(t, s, on="ts", by="conv_id", state_cols=["state_score"],
                    direction="nearest")
    return out.select("conv_id", "turn_idx", "state_score")


def q_pit_pipeline(spark, sf_dir):
    """Flagship: as-of join + lag + backfill + sessionization combined."""
    from aloha_spark.plans.flagship import point_in_time_features
    t = transcripts_from_events(spark, sf_dir)
    s = state_from_events(spark, sf_dir)
    x = point_in_time_features(t, s, state_cols=["state_score"])
    return x.select("conv_id", "turn_idx", "text", "prev_text", "last_tool",
                    F.col("session_id").cast("long").alias("session_id"),
                    "state_score")


# --------------------------------------------------------------------------
# relational / aggregation parity

def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.where(F.col("l_shipdate") <= F.lit("2002-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order")))


def q_broadcast_join(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .groupBy(F.col("n_name").alias("nation"))
             .agg(F.count("*").alias("n_orders"),
                  F.round(F.sum("o_totalprice"), 2).alias("revenue")))


def q_interval_filter(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # gtLt / geLe interval predicates (Comparisons.scala:14-47)
    return (ev.where((F.lit(50.0) < F.col("value")) & (F.col("value") < 150.0))
              .groupBy("event_type")
              .agg(F.count("*").alias("n"),
                   F.round(F.avg("value"), 6).alias("avg_value")))


def q_linear_score(spark, sf_dir):
    """A1 analog: sparse linear dot product w.x over token weights.

    Shuffle-free formulation: the weight vector is a map LITERAL inside
    the projection (the degenerate broadcast join), and the per-document
    score is one `aggregate` over the token array — a single scan, no
    explode, no shuffle, whole-stage-codegen'd.  Documents with no
    matching token are excluded (inner-join semantics, same as the
    oracle's join + groupBy)."""
    weights = [("the", 1.0), ("data", 2.0), ("spark", 3.0), ("query", -1.5),
               ("fast", 0.5), ("slow", -0.5)]
    docs = _docs(spark, sf_dir)
    wmap = F.create_map(
        *[F.lit(x) for kv in weights for x in kv])
    toks = F.split(F.trim("text"), r"\s+")
    score = F.aggregate(
        toks, F.lit(0.0),
        lambda acc, t: acc + F.coalesce(wmap[t], F.lit(0.0)))
    hit = F.exists(toks, lambda t: wmap[t].isNotNull())
    return (docs.select("doc_id", F.round(score, 6).alias("score"),
                        hit.alias("__hit"))
                .where("__hit").drop("__hit"))


def q_proto_roundtrip(spark, sf_dir):
    """S2 proto scan, oracle-gated: transcripts are encoded to protobuf
    wire bytes + base64 (executor-side pandas UDF), then scanned back
    through ``decode_proto_lines`` — the typed output must equal the
    direct derivation (the oracle SQL never sees protobuf)."""
    from typing import Iterator

    import pandas as pd

    from aloha_spark.sources.proto import (
        TRANSCRIPT_PROTO, decode_proto_lines, encode_message)

    t = transcripts_from_events(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        (epoch_seconds("ts") * 1000).cast("long").alias("ts_epoch_ms"))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import base64
        for pdf in batches:
            if pdf.empty:
                continue
            lines = []
            for rec in pdf.to_dict("records"):
                msg = {k: (None if v is None or v != v else v)
                       for k, v in rec.items()}
                lines.append(base64.b64encode(
                    encode_message(msg, TRANSCRIPT_PROTO)).decode("ascii"))
            yield pd.DataFrame({"line": lines})

    lines_df = t.mapInPandas(enc, "line string")
    out = decode_proto_lines(lines_df, "line", TRANSCRIPT_PROTO)
    return out.select("conv_id",
                      F.col("turn_idx").cast("long").alias("turn_idx"),
                      "role", "text", "tool", "ts_epoch_ms")


def q_avro_roundtrip(spark, sf_dir):
    """S3 avro scan, oracle-gated: transcripts encoded to Avro binary
    records (spec wire format, executor-side) and decoded back; the
    typed output must equal the direct derivation."""
    from typing import Iterator

    import pandas as pd

    from aloha_spark.sources.avro import (
        TRANSCRIPT_AVRO, _Reader, encode_value)

    t = transcripts_from_events(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        (epoch_seconds("ts") * 1000).cast("long").alias("ts_epoch_ms"))

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [f["name"] for f in TRANSCRIPT_AVRO["fields"]]
        for pdf in batches:
            if pdf.empty:
                continue
            decoded = {n: [] for n in names}
            for rec in pdf.to_dict("records"):
                rec = {k: (None if v is None or v != v else v)
                       for k, v in rec.items()}
                buf = bytearray()
                encode_value(buf, rec, TRANSCRIPT_AVRO)
                out = _Reader(bytes(buf)).value(TRANSCRIPT_AVRO)
                for n in names:
                    decoded[n].append(out.get(n))
            yield pd.DataFrame(decoded)

    return t.mapInPandas(
        roundtrip,
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts_epoch_ms long")


def q_tree_risk(spark, sf_dir):
    """M3 decision tree (BasicDecisionTree) compiled to nested CASE WHEN
    — lazy per-branch evaluation, no UDF."""
    from aloha_spark.plans.models import apply_model
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = {"modelType": "DecisionTree", "returnBest": True,
         "nodes": [
             {"id": 0, "value": 0.0,
              "selector": {"predicates": ["${c_acctbal} < 0",
                                          "${c_acctbal} >= 0"]},
              "children": [1, 2]},
             {"id": 1, "value": -1.0},
             {"id": 2, "value": 0.5,
              "selector": {"predicates": ["${c_acctbal} > 5000",
                                          "${c_acctbal} <= 5000"]},
              "children": [3, 4]},
             {"id": 3, "value": 2.0},
             {"id": 4, "value": 1.0},
         ]}
    return apply_model(c, m, "risk").select("c_custkey", "risk")


def q_order_segment(spark, sf_dir):
    """M5 segmentation: threshold-scan of a submodel score -> label."""
    from aloha_spark.plans.models import apply_model
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = {"modelType": "Segmentation",
         "submodel": {"modelType": "Spec", "spec": "${o_totalprice}"},
         "thresholds": [50000, 150000],
         "labels": ["small", "mid", "large"]}
    return apply_model(o, m, "segment").select("o_orderkey", "segment")


def q_price_bucket(spark, sf_dir):
    """M7 DoubleToLong: clamp(round(scale*x + translation)) — scala
    .round = floor(x + 0.5)."""
    from aloha_spark.plans.models import apply_model
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    m = {"modelType": "DoubleToLong",
         "submodel": {"modelType": "Spec", "spec": "${l_extendedprice}"},
         "scale": 0.001, "translation": 0.0, "round": True,
         "clampLower": 0, "clampUpper": 60}
    return apply_model(li, m, "bucket") \
        .select("l_orderkey", "l_linenumber", "bucket")


# --------------------------------------------------------------------------
# text features (documents table)

def q_doc_tokens(spark, sf_dir):
    """bag() kernel over Arrow batches, exploded to (doc_id, token, cnt)."""
    from typing import Iterator

    import pandas as pd

    from aloha_spark.functions.textfeatures import bag

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, toks, cnts = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                for k, v in bag(txt if isinstance(txt, str) else "").items():
                    ids.append(did)
                    toks.append(k)
                    cnts.append(v)
            yield pd.DataFrame({"doc_id": ids, "token": toks, "cnt": cnts})

    return docs.mapInPandas(run, "doc_id long, token string, cnt double")


def q_doc_bigrams(spark, sf_dir):
    from typing import Iterator

    import pandas as pd

    from aloha_spark.functions.textfeatures import n_grams

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, gs, cnts = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                for k, v in n_grams(txt if isinstance(txt, str) else "", 2).items():
                    ids.append(did)
                    gs.append(k)
                    cnts.append(v)
            yield pd.DataFrame({"doc_id": ids, "gram": gs, "cnt": cnts})

    return docs.mapInPandas(run, "doc_id long, gram string, cnt double")


def q_doc_skipgrams(spark, sf_dir):
    """1-skip-2-grams via the Aloha kernel (SkipGrams.scala window
    semantics), exploded to (doc_id, gram, cnt)."""
    from typing import Iterator

    import pandas as pd

    from aloha_spark.functions.textfeatures import skip_grams

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, gs, cnts = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                for k, v in skip_grams(txt if isinstance(txt, str) else "",
                                       2, 1).items():
                    ids.append(did)
                    gs.append(k)
                    cnts.append(v)
            yield pd.DataFrame({"doc_id": ids, "gram": gs, "cnt": cnts})

    return docs.mapInPandas(run, "doc_id long, gram string, cnt double")


def q_turn_reindex(spark, sf_dir):
    from aloha_spark.operators.windows import with_turn_reindex
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("conv_id"), "event_id",
        "value")
    out = with_turn_reindex(ev, by="conv_id", order=["value", "event_id"],
                            out_col="value_rank")
    return out.select("conv_id", "event_id",
                      F.col("value_rank").cast("long").alias("value_rank"))


def q_csv_lines(spark, sf_dir):
    from aloha_spark.sinks.csv_sink import csv_lines
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    feats = [{"name": "name", "column": "c_name"},
             {"name": "segment", "column": "c_mktsegment"},
             {"name": "acctbal", "column": "c_acctbal",
              "type": "decimal(12,2)"}]
    out, _header = csv_lines(cust.withColumn(
        "c_mktsegment", F.when(F.col("c_acctbal") < 0, None)
                         .otherwise(F.col("c_mktsegment"))), feats)
    return out.select(F.col("name").alias("c_name"), "csv_line")


def q_doc_stats(spark, sf_dir):
    from aloha_spark.operators.textstats import with_token_stats
    return with_token_stats(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("token_count").cast("long").alias("token_count"),
        F.col("char_count").cast("long").alias("char_count"),
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"))


def q_lang_guess(spark, sf_dir):
    from aloha_spark.operators.textstats import with_lang_id
    return with_lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_guess")


def q_dedup_exact(spark, sf_dir):
    from aloha_spark.operators.dedup import exact_dedup
    return exact_dedup(_docs(spark, sf_dir), ["text"]) \
        .select("content_hash", "keep_id", "dup_count")


def q_incremental_dedup(spark, sf_dir):
    """Incremental exact dedup against a persisted corpus snapshot
    (operators/snapshot.py): even-id docs form yesterday's corpus (its
    digest table is written + reloaded from disk), odd-id docs are
    today's increment; survivors are content-new rows, first-of-batch
    within the increment.  DuckDB replays digest (md5 + NULL sentinel),
    anti-join, and min-id window verbatim."""
    import tempfile
    from aloha_spark.operators.snapshot import (
        incremental_exact_dedup, write_dedup_snapshot)
    docs = _docs(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        "aloha_dedup_snap_" + sf_dir.strip("/").replace("/", "_"))
    write_dedup_snapshot(docs.where("doc_id % 2 = 0"), path)
    return (incremental_exact_dedup(docs.where("doc_id % 2 = 1"), path)
            .select("doc_id"))


def q_media_meta(spark, sf_dir):
    from aloha_spark.sources.multimodal import synthesize_media
    m = synthesize_media(_docs(spark, sf_dir))
    return m.select("media_id", "kind",
                    F.octet_length("payload").cast("long").alias("n_bytes"))


# --------------------------------------------------------------------------
# embeddings

def q_ann_topk(spark, sf_dir):
    from aloha_spark.operators.similarity import brute_force_topk
    embs = _embs(spark, sf_dir)
    q = embs.where("vec_id < 10")
    return brute_force_topk(q, embs, k=3).select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"))


def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN with nprobe == n_centroids (exhaustive probing) — exact
    by construction, so the brute-force DuckDB oracle gates the whole
    IVF machinery (train / assign / probe / verify)."""
    from aloha_spark.operators.similarity import ivf_topk
    embs = _embs(spark, sf_dir)
    q = embs.where("vec_id < 10")
    return ivf_topk(q, embs, k=3, n_centroids=8, nprobe=8).select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"))


def q_ann_topk_pq(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py:pq_topk) with
    an exhaustive rerank tail (rerank >= |corpus| at every test SF):
    the exact-cosine pass then covers every vector, so the brute-force
    DuckDB oracle gates the full PQ machinery — codebook training,
    vectorized encode, ADC lookup-table scoring, shortlist window, and
    the rerank join.  Recall at realistic shortlist sizes is pinned in
    tests/test_dedup_similarity.py::TestPqTopk."""
    from aloha_spark.operators.similarity import pq_topk
    embs = _embs(spark, sf_dir)
    q = embs.where("vec_id < 10")
    return pq_topk(q, embs, k=3, m_sub=8, ksub=16, rerank=4096).select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"))


_ANN_INDEX_BUILT: set = set()


def q_ann_topk_indexed(spark, sf_dir):
    """Persistable ANN index (operators/ann_index.py): build the
    cell-partitioned IVF+PQ artifact, reload it from disk, and query
    with nprobe == n_centroids (exhaustive probing) — exact by
    construction, so the same brute-force DuckDB oracle gates the full
    build -> publish -> load -> prune -> verify path.  Partition
    pruning and approx-recall are pinned in tests/test_ann_index.py.

    The build runs once per process (that IS the artifact's contract —
    build once, serve many); every call still exercises load + pruned
    query from the published files, so bench reps past the first
    measure the SERVE path, and a fresh process (the driver's
    correctness run) always rebuilds."""
    import tempfile
    from aloha_spark.operators.ann_index import (
        build_ann_index, ivf_topk_indexed, load_ann_index)
    embs = _embs(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        "aloha_ann_idx_" + sf_dir.strip("/").replace("/", "_"))
    if path not in _ANN_INDEX_BUILT:
        build_ann_index(embs, path, n_centroids=8, m_sub=8, ksub=16,
                        seed=7)
        _ANN_INDEX_BUILT.add(path)
    idx = load_ann_index(spark, path)      # exercise the reload path too
    q = embs.where("vec_id < 10")
    return ivf_topk_indexed(q, idx, k=3, nprobe=8).select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"))


def q_ann_topk_pq_indexed(spark, sf_dir):
    """The PQ search against a prebuilt index (pq_topk_indexed —
    driver-side lookup tables, per-cell query masking) on the same
    artifact as q_ann_topk_indexed, exhaustive (nprobe = n_centroids,
    rerank >= |corpus|) so the brute-force DuckDB oracle gates it end
    to end."""
    import tempfile
    from aloha_spark.operators.ann_index import (
        build_ann_index, load_ann_index, pq_topk_indexed)
    embs = _embs(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        "aloha_ann_idx_" + sf_dir.strip("/").replace("/", "_"))
    if path not in _ANN_INDEX_BUILT:
        build_ann_index(embs, path, n_centroids=8, m_sub=8, ksub=16,
                        seed=7)
        _ANN_INDEX_BUILT.add(path)
    idx = load_ann_index(spark, path)
    q = embs.where("vec_id < 10")
    return pq_topk_indexed(q, idx, k=3, nprobe=8, rerank=4096).select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"))


def q_embed_neardup(spark, sf_dir):
    """Exact cosine-threshold pair baseline (the LSH-accelerated variant
    is q_embed_neardup_lsh, rows-only)."""
    from aloha_spark.operators.similarity import _cosine_expr
    e = _embs(spark, sf_dir).select(F.col("vec_id").alias("id"),
                                    F.col("embedding").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    pairs = (a.join(b, F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     _cosine_expr("a.v", "b.v").alias("c")))
    return pairs.where(F.col("c") >= 0.35) \
        .select("id_a", "id_b", F.round("c", 6).alias("cosine"))


# --------------------------------------------------------------------------
# round-2 coverage: oracle rows for the formerly pytest-only operators

def q_indexed_paths(spark, sf_dir):
    """P1: indexed/repeated accessor paths ${photos[i].height} with
    null-safe out-of-range deref + spec default (CompiledSemanticsProto
    Plugin.scala:51-60); nested struct fields feed ind() too."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    nested = _docs(spark, sf_dir).select(
        "doc_id",
        F.array(
            F.struct(F.col("n_chars").cast("int").alias("height"),
                     (F.col("n_chars") * 2).cast("int").alias("width")),
            F.struct((F.col("n_chars") % 100).cast("int").alias("height"),
                     F.lit(50).alias("width"))).alias("photos"),
        F.struct(F.col("lang").alias("name"),
                 F.col("text").alias("title")).alias("meta"))
    spec = PipelineSpec.from_json({
        "features": [
            {"name": "h0", "spec": "${photos[0].height}"},
            {"name": "h1", "spec": "${photos[1].height}"},
            {"name": "h9", "spec": "${photos[9].height:--1}"},
            {"name": "nm", "spec": "ind(${meta.name})"},
        ], "namespaces": {}, "numBits": 18})
    out = FeaturePipeline(spec).featurize(nested, keep_cols=["doc_id"])
    fmap = lambda i: F.element_at("features", i)  # noqa: E731
    return out.select(
        "doc_id",
        F.element_at(fmap(1), F.lit("h0")).alias("h0d"),
        F.element_at(fmap(2), F.lit("h1")).alias("h1d"),
        F.element_at(fmap(3), F.lit("h9")).alias("h9d"),
        F.element_at(F.map_keys(fmap(4)), 1).alias("nm_key"))


def q_vw_labeled(spark, sf_dir):
    """S6: labeled VW lines (17-digit label, importance-1 elision, tag
    defaulting to the label)."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [{"name": "lang", "spec": "ind(${lang})"}],
        "namespaces": {}, "label": "${doc_id} % 5"})
    return FeaturePipeline(spec).to_vw_lines(
        _docs(spark, sf_dir), keep_cols=["doc_id"]).select("doc_id", "vw_line")


def q_cb_lines(spark, sf_dir):
    """S7: contextual-bandit lines action:cost:probability
    (VwContextualBanditRowCreator.scala:29-52)."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [{"name": "lang", "spec": "ind(${lang})"}],
        "namespaces": {}})
    return FeaturePipeline(spec).to_cb_lines(
        _docs(spark, sf_dir), "${doc_id} % 3 + 1", "${doc_id} % 7", "0.25",
        keep_cols=["doc_id"]).select("doc_id", "cb_line")


def _multilabel_df(spark, sf_dir):
    return _docs(spark, sf_dir).withColumn(
        "pos", F.array((F.col("doc_id") % 4).cast("int")))


def q_multilabel_blocks(spark, sf_dir):
    """S8: CSOAA-LDF blocks (shared line, dummy classes, per-label cost
    lines, collision-free Y/y namespaces)."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [{"name": "lang", "spec": "ind(${lang})"}],
        "namespaces": {}})
    out = FeaturePipeline(spec).to_multilabel_blocks(
        _multilabel_df(spark, sf_dir), n_labels=4, positive_col="pos",
        keep_cols=["doc_id"])
    return out.select("doc_id",
                      F.concat_ws("\n", "vw_block").alias("block_txt"))


def q_multilabel_downsampled(spark, sf_dir):
    """S9: downsampled multilabel blocks through the java.util.Random
    sampler path; keep_negatives >= n_negatives makes the reservoir an
    identity, so the block is deterministic and SQL-oracle-able (the LCG
    itself is bit-pinned in tests/test_sinks_extra.py)."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [{"name": "lang", "spec": "ind(${lang})"}],
        "namespaces": {}})
    out = FeaturePipeline(spec).to_multilabel_blocks(
        _multilabel_df(spark, sf_dir), n_labels=4, positive_col="pos",
        downsample_negatives_to=4, keep_cols=["doc_id"])
    return out.select("doc_id",
                      F.concat_ws("\n", "vw_block").alias("block_txt"))


def q_sos2_weights(spark, sf_dir):
    """F7: sos2U binning; binary-exact grid (delta=128) so the
    interpolation weights match the oracle bit-for-bit."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [{"name": "b", "spec": "sos2U(${n_chars}, 0, 1024, 128)"}],
        "namespaces": {}, "numBits": 18})
    out = FeaturePipeline(spec).featurize(
        _docs(spark, sf_dir), keep_cols=["doc_id"])
    return out.select(
        "doc_id", F.explode(F.element_at("features", 1))
        .alias("bin_key", "wt"))


def q_csos2_weights(spark, sf_dir):
    """F8: custom-knot SOS2 over binary-exact knot spans."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [{"name": "c",
                      "spec": "csos2(${n_chars}, [0, 128, 384, 896])"}],
        "namespaces": {}, "numBits": 18})
    out = FeaturePipeline(spec).featurize(
        _docs(spark, sf_dir), keep_cols=["doc_id"])
    return out.select(
        "doc_id", F.explode(F.element_at("features", 1))
        .alias("bin_key", "wt"))


_MINHASH_TEXTS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "pack my box with five dozen liquor jugs"),
    (2, "spark query engine feature hash table scan filter join agg"),
    (3, "a b c d e f g h i j k"),
]


def q_minhash_trunc(spark, sf_dir):
    """F6: min-hash truncation (smallest (stringHash, key) winners,
    SkipGrams.scala:113-116) over fixed inputs; oracle pins the winning
    token sets."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    df = spark.createDataFrame(_MINHASH_TEXTS, "id long, text string")
    spec = PipelineSpec.from_json({
        "features": [{"name": "t", "spec": "bag(${text}, maxElements=4)"}],
        "namespaces": {}, "numBits": 18})
    out = FeaturePipeline(spec).featurize(df, keep_cols=["id"])
    return out.select(
        "id", F.explode(F.element_at("features", 1)).alias("token", "cnt"))


_NORM_LINES = [
    (0, "| a b:2 c"),
    (1, "|t w1:3 w2:4"),
    (2, "0.5 tag|s x:0.5 y"),
    (3, "| f1:0.1"),
]


def q_vw_normalize(spark, sf_dir):
    """F17: VW namespace L2 normalizer (0.00000 HALF_EVEN weights,
    VwFeatureNormalizer.scala:6-31) over fixed lines."""
    from typing import Iterator

    import pandas as pd

    from aloha_spark.sinks.vw import normalize_vw_line

    df = spark.createDataFrame(_NORM_LINES, "id long, line string")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame({
                "id": pdf["id"],
                "norm_line": [normalize_vw_line(x) for x in pdf["line"]]})

    return df.mapInPandas(run, "id long, norm_line string")


_HC_INPUTS = ["alpha", "beta", "gamma", "delta", "u1", "u2", "u3", "zz"]


def q_hashed_cat(spark, sf_dir):
    """F18/M6: hashed categorical distribution (MurmurHash3 orderedHash
    + alias sampler, HashedCategoricalDistribution.scala:35-45) over
    fixed inputs; oracle pins the sampled labels."""
    from aloha_spark.plans.models import apply_model
    df = spark.createDataFrame(list(enumerate(_HC_INPUTS)),
                               "id long, u string")
    m = {"modelType": "CategoricalDistribution", "features": ["u"],
         "probabilities": [0.25, 0.35, 0.4],
         "labels": ["red", "green", "blue"]}
    return apply_model(df, m, "label").select("id", "label")


def q_libsvm_labeled(spark, sf_dir):
    """S10/S11: labeled LibSVM lines (murmur hash, 18-bit mask, sorted,
    java Double.toString values) over fixed inputs."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    df = spark.createDataFrame(
        [(0, "spark fast query"), (1, "table scan scan filter")],
        "id long, text string")
    spec = PipelineSpec.from_json({
        "features": [{"name": "bow", "spec": "bag(${text})"}],
        "namespaces": {}, "label": "1"})
    return FeaturePipeline(spec).to_libsvm_lines(df, keep_cols=["id"]) \
        .select("id", "libsvm_line")


def q_regression_spline(spark, sf_dir):
    """M2: regression (w.x over prefixed bag keys + intercept) composed
    with the constant-delta spline; binary-exact weights/knots."""
    from aloha_spark.plans.models import apply_model
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [{"name": "lang", "spec": "ind(${lang})"},
                     {"name": "nch", "spec": "${n_chars} * 0.015625"},
                     {"name": "b", "spec": "intercept()"}],
        "namespaces": {}, "numBits": 18})
    feats = FeaturePipeline(spec).featurize(
        _docs(spark, sf_dir), keep_cols=["doc_id"])
    m = {"modelType": "Regression",
         "weights": {"lang=en": 0.5, "lang=de": -0.25, "lang=es": 0.75,
                     "nch": 0.5, "b": 1.0},
         "spline": {"min": 0.0, "max": 32.0,
                    "knots": [float(2 * i) for i in range(33)]}}
    return apply_model(feats, m, "score").select("doc_id", "score")


def q_feature_vectors_jvm(spark, sf_dir):
    """Pure-Catalyst sparse-vector sink (all-scalar plan, zero Python
    workers): static-key murmur hashes are driver-side literals, so
    the whole hashed-vector assembly runs as JVM expressions
    (pipeline.py _to_sparse_vectors_jvm).  Deterministic NULL
    injection (event_id % 7 / % 5) exercises UNK entries, the
    missing_features bookkeeping, and the numMissingThreshold abort
    (RegressionFeatures.scala:99-110); vectors are exploded to scalar
    rows so the driver can value-hash them."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.when(F.col("event_id") % 7 != 0, F.col("value")).alias("x"),
        F.when(F.col("event_id") % 5 != 0, F.col("value")).alias("y"))
    spec = PipelineSpec.from_json({
        "features": [{"name": "val", "spec": "${x}"},
                     {"name": "vc", "spec": "clamp(${x:-0}, 0, 250)"},
                     {"name": "dbl", "spec": "${x} * 2 - 1"},
                     {"name": "half", "spec": "${y} / 2"}],
        "namespaces": {}, "numBits": 18, "numMissingThreshold": 2})
    out = FeaturePipeline(spec).to_sparse_vectors(
        ev, keep_cols=["event_id"])
    return (out.select(
        "event_id",
        F.posexplode_outer(
            F.arrays_zip("indices", "values")).alias("pos", "u"),
        F.array_join("missing_features", ",").alias("missing"))
        .select("event_id",
                F.col("pos").cast("int").alias("pos"),
                F.col("u.indices").alias("idx"),
                F.round("u.values", 6).alias("val"),
                "missing"))


def _feature_vectors_jvm_oracle() -> str:
    """DuckDB mirror of q_feature_vectors_jvm.  The hashed indices are
    compile-time constants (same driver-side murmur kernel the Spark
    plan bakes in as literals), so the oracle embeds them as ints —
    an independent re-derivation of the whole JVM sink: entry
    construction, UNK fallback, (idx) ordering, threshold abort."""
    from aloha_spark.functions.hashing import string_hash_array
    mask = (1 << 18) - 1
    h = {k: int(string_hash_array([k])[0]) & mask
         for k in ("val", "val=UNK", "vc", "dbl", "dbl=UNK",
                   "half", "half=UNK")}
    return f"""
WITH e AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS x,
         CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS y
  FROM events
), f AS (
  SELECT event_id,
         x AS f_val,
         LEAST(GREATEST(COALESCE(x, 0.0), 0.0), 250.0) AS f_vc,
         x * 2 - 1 AS f_dbl,
         y / 2 AS f_half,
         CONCAT_WS(',', CASE WHEN x IS NULL THEN 'val' END,
                        CASE WHEN x IS NULL THEN 'dbl' END,
                        CASE WHEN y IS NULL THEN 'half' END) AS missing,
         (CASE WHEN x IS NULL THEN 2 ELSE 0 END
          + CASE WHEN y IS NULL THEN 1 ELSE 0 END) AS nmiss
  FROM e
), ent0 AS (
  SELECT event_id, missing,
         UNNEST([
           {{'idx': CASE WHEN f_val IS NULL
                    THEN {h['val=UNK']} ELSE {h['val']} END,
             'val': COALESCE(f_val, 1.0)}},
           {{'idx': {h['vc']}, 'val': f_vc}},
           {{'idx': CASE WHEN f_dbl IS NULL
                    THEN {h['dbl=UNK']} ELSE {h['dbl']} END,
             'val': COALESCE(f_dbl, 1.0)}},
           {{'idx': CASE WHEN f_half IS NULL
                    THEN {h['half=UNK']} ELSE {h['half']} END,
             'val': COALESCE(f_half, 1.0)}}
         ]) AS u
  FROM f WHERE nmiss <= 2
)
SELECT event_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY u.idx) - 1
            AS INT) AS pos,
       CAST(u.idx AS INT) AS idx,
       ROUND(u.val, 6) AS val,
       missing
FROM ent0
UNION ALL
SELECT event_id, CAST(NULL AS INT) AS pos, CAST(NULL AS INT) AS idx,
       CAST(NULL AS DOUBLE) AS val, missing
FROM f WHERE nmiss > 2"""


# The documents generator draws from a FIXED 31-word vocabulary (stable
# across every sf dir; asserted in tests/test_documents_gen.py), which is
# what makes the text-feature sinks below hash-MATCHable: the murmur
# hashes of every possible bag key are compile-time literals, same
# technique as _feature_vectors_jvm_oracle, and the oracle re-derives
# everything else (tokenization, counting, first-occurrence ordering,
# VW/LibSVM/JSON rendering) independently in SQL.  The hash kernel
# itself is golden-pinned against 23 reference hashes elsewhere.
_DOC_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
_DOC_LANGS = ("de", "en", "es", "fr", "zh")


def _hash_values_clause(keys) -> str:
    """(key, masked murmur hash) VALUES rows for an 18-bit hash map."""
    from aloha_spark.functions.hashing import string_hash_array
    mask = (1 << 18) - 1
    hs = string_hash_array(list(keys))
    pairs = list(zip(keys, (int(h) & mask for h in hs)))
    assert len({h for _, h in pairs}) == len(pairs), \
        "masked-hash collision would need last-wins dedup in the oracle"
    return ",".join(f"('{k}', {h})" for k, h in pairs)


def _vw_lines_oracle() -> str:
    """DuckDB mirror of q_vw_lines: java-regex tokenization (texts are
    single-space separated, asserted by the generator test), bag counts
    in FIRST-OCCURRENCE order (Counter insertion order), count-1
    elision, declaration-ordered namespaces, and the 17-digit label
    formatter (printf %.17f = HALF_EVEN against the exact binary value,
    trailing zeros stripped — decimal_format(v, 17))."""
    return """
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
         UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS ord
  FROM documents
), grp AS (
  SELECT doc_id, tok, COUNT(*) AS cnt, MIN(ord) AS ford
  FROM tok GROUP BY doc_id, tok
), body AS (
  SELECT doc_id,
         string_agg('bow=' || tok ||
                    CASE WHEN cnt = 1 THEN ''
                         ELSE ':' || CAST(cnt AS VARCHAR) END,
                    ' ' ORDER BY ford) AS bow
  FROM grp GROUP BY doc_id
)
SELECT d.doc_id,
       rtrim(rtrim(printf('%.17f', CAST(d.n_chars AS DOUBLE)/1000),'0'),'.')
       || ' ' ||
       rtrim(rtrim(printf('%.17f', CAST(d.n_chars AS DOUBLE)/1000),'0'),'.')
       || '|t ' || b.bow || ' |m lang=' || COALESCE(d.lang, 'UNK')
       AS vw_line
FROM documents d JOIN body b USING (doc_id)"""


def _libsvm_lines_oracle() -> str:
    """DuckDB mirror of q_libsvm_lines: bag counts hashed through the
    literal 18-bit murmur map, emitted sorted by index with
    java.lang.Double.toString values (integral counts -> 'N.0')."""
    vals = _hash_values_clause([f"bow={t}" for t in _DOC_VOCAB])
    return f"""
WITH hmap(key, idx) AS (VALUES {vals}),
tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
), grp AS (
  SELECT doc_id, 'bow=' || tok AS key, COUNT(*) AS cnt
  FROM tok GROUP BY doc_id, tok
)
SELECT g.doc_id,
       string_agg(CAST(m.idx AS VARCHAR) || ':' ||
                  CAST(CAST(g.cnt AS DOUBLE) AS VARCHAR),
                  ' ' ORDER BY m.idx) AS libsvm_line
FROM grp g JOIN hmap m USING (key)
GROUP BY g.doc_id"""


def _feature_vectors_oracle() -> str:
    """DuckDB mirror of q_feature_vectors (the ARROW sparse-vector
    tier): bag + ind + clamp entries through the literal hash map,
    index-sorted, rendered as the exact Spark to_json string."""
    vals = _hash_values_clause(
        [f"bow={t}" for t in _DOC_VOCAB]
        + [f"lang={l}" for l in _DOC_LANGS] + ["lang=UNK", "nchars"])
    return f"""
WITH hmap(key, idx) AS (VALUES {vals}),
tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
), ent AS (
  SELECT doc_id, 'bow=' || tok AS key, CAST(COUNT(*) AS DOUBLE) AS val
  FROM tok GROUP BY doc_id, tok
  UNION ALL
  SELECT doc_id, 'lang=' || COALESCE(lang, 'UNK'), CAST(1 AS DOUBLE)
  FROM documents
  UNION ALL
  SELECT doc_id, 'nchars',
         LEAST(GREATEST(CAST(COALESCE(n_chars, 0) AS DOUBLE), 0), 100000)
  FROM documents
)
SELECT e.doc_id,
       '{{"indices":[' || string_agg(CAST(m.idx AS VARCHAR), ',' ORDER BY m.idx)
       || '],"values":[' || string_agg(CAST(e.val AS VARCHAR), ',' ORDER BY m.idx)
       || ']}}' AS vec_json,
       '' AS missing
FROM ent e JOIN hmap m USING (key)
GROUP BY e.doc_id"""


def _doc_fingerprint_oracle() -> str:
    """DuckDB mirror of q_doc_fingerprint — the 64-bit polynomial
    rolling hash ``sum(h_j * B^(L-1-j)) mod 2^64`` re-derived with
    integer-only SQL: token murmur hashes enter as literal (hi, lo)
    32-bit halves, powers of B mod 2^64 as a literal table (with the
    pre-shifted ``(p << 32) mod 2^64`` column), and each term's
    128-bit-overflow-free product is the split multiply
    ``(h_hi * p32 + h_lo * p) mod 2^64`` in HUGEINT; the HUGEINT sum
    then folds back to the signed int64 two's-complement value."""
    import numpy as np

    from aloha_spark.functions.hashing import string_hash_array
    B = 1099511628211            # FNV-1a prime (textstats._FP_BASE)
    M = 1 << 64
    hs = string_hash_array(list(_DOC_VOCAB)).astype(np.int64) \
        .view(np.uint64)
    hmap = ",".join(f"('{t}', {int(h) >> 32}, {int(h) & 0xFFFFFFFF})"
                    for t, h in zip(_DOC_VOCAB, hs))
    pows, p = [], 1
    for e in range(256):         # max doc length gated in the vocab test
        pows.append(f"({e}, {p}::HUGEINT, {(p << 32) % M}::HUGEINT)")
        p = (p * B) % M
    ptab = ",".join(pows)
    return f"""
WITH hmap(tok, h_hi, h_lo) AS (VALUES {hmap}),
ptab(e, p, p32) AS (VALUES {ptab}),
tok AS (
  SELECT doc_id, UNNEST(string_split(text,' ')) AS tok,
         UNNEST(range(1, len(string_split(text,' '))+1)) AS ord,
         len(string_split(text,' ')) AS L
  FROM documents
), c AS (
  SELECT t.doc_id,
         ((CAST(h.h_hi AS HUGEINT) * pt.p32) % 18446744073709551616
          + (CAST(h.h_lo AS HUGEINT) * pt.p) % 18446744073709551616)
         % 18446744073709551616 AS contrib
  FROM tok t JOIN hmap h USING (tok) JOIN ptab pt ON pt.e = t.L - t.ord
), s AS (
  SELECT doc_id, SUM(contrib) % 18446744073709551616 AS m
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(CASE WHEN COALESCE(s.m, 0) >= 9223372036854775808
                 THEN COALESCE(s.m, 0) - 18446744073709551616
                 ELSE COALESCE(s.m, 0) END AS BIGINT) AS fingerprint
FROM documents d LEFT JOIN s USING (doc_id)"""


def q_csv_columnar(spark, sf_dir):
    """S13/F19: columnar CSV sink with regular + hotOne encodings."""
    from aloha_spark.sinks.csv_sink import csv_columns
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    feats = [{"name": "key", "column": "c_custkey", "type": "bigint"},
             {"name": "name", "column": "c_name"},
             {"name": "seg", "column": "c_mktsegment", "encoding": "hotOne",
              "values": ["AUTOMOBILE", "BUILDING"], "type": "int"},
             {"name": "bal", "column": "c_acctbal",
              "type": "decimal(12,2)"}]
    out = csv_columns(cust, feats)
    # emit bal as string so the output type matches the oracle's VARCHAR
    # (driver hashes typed values; Decimal('3881.70') != '3881.70')
    return out.withColumn("bal", F.col("bal").cast("string"))


def q_constant_model(spark, sf_dir):
    """M1: constant model."""
    from aloha_spark.plans.models import apply_model
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return apply_model(r, {"modelType": "Constant", "value": 2.5}, "score") \
        .select("r_regionkey", "score")


def q_error_model(spark, sf_dir):
    """M8: error model — null score + error messages."""
    from aloha_spark.plans.models import apply_model
    d = _docs(spark, sf_dir)
    out = apply_model(d, {"modelType": "Error", "errors": ["boom"]}, "score")
    return out.select("doc_id", F.col("score").cast("double").alias("score"),
                      F.array_join("score_errors", ";").alias("errs"))


def q_error_swallow(spark, sf_dir):
    """M9: ErrorSwallowingModel — per-row swallowed submodel failure
    (log2 of a non-positive) yields null + recorded error."""
    from aloha_spark.plans.models import apply_model
    d = _docs(spark, sf_dir)
    m = {"modelType": "ErrorSwallowingModel",
         "submodel": {"modelType": "Spec", "spec": "log2(${n_chars} - 200)"}}
    out = apply_model(d, m, "score")
    return out.select("doc_id", F.round("score", 6).alias("score"),
                      F.array_join("score_errors", ";").alias("errs"))


def q_model_tree_leaves(spark, sf_dir):
    """M4: ModelDecisionTree — submodel leaves referenced by the CASE."""
    from aloha_spark.plans.models import apply_model
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = {"modelType": "DecisionTree", "returnBest": True,
         "nodes": [
             {"id": 0, "value": 0.0,
              "selector": {"predicates": ["${c_acctbal} < 0",
                                          "${c_acctbal} >= 0"]},
              "children": [1, 2]},
             {"id": 1, "value": {"modelType": "Constant", "value": -9.0}},
             {"id": 2, "value": {"modelType": "Spec",
                                 "spec": "${c_acctbal} * 0.5"}},
         ]}
    return apply_model(c, m, "score") \
        .select("c_custkey", F.round("score", 6).alias("score"))


def q_audit_tree(spark, sf_dir):
    """M14: nested audit — submodel child scores inside the audit
    struct (tree_auditors.scala:107-196)."""
    from aloha_spark.plans.models import apply_model
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = {"modelType": "Segmentation", "modelId": {"id": 7, "name": "seg"},
         "submodel": {"modelType": "Spec", "spec": "${o_orderkey} % 100",
                      "modelId": {"id": 8, "name": "leaf"}},
         "thresholds": [30, 60], "labels": ["lo", "mid", "hi"]}
    out = apply_model(o, m, "segment", audit=True)
    a = F.col("segment_audit")
    return out.select(
        "o_orderkey", "segment",
        a["model_id"].alias("audit_model_id"),
        a["value"].alias("audit_value"),
        F.concat_ws(";", F.transform(
            a["children"],
            lambda c: F.concat(c["model_id"], F.lit("="), c["value"])))
        .alias("child_info"))


def q_densify(spark, sf_dir):
    """F12: densify — sparse mapping over a fixed domain to a dense
    vector (SparsityTransforms.scala:59-149)."""
    from typing import Iterator

    import pandas as pd

    from aloha_spark.functions.scalars import densify_map

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    domain = ["en", "de", "es"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            dense = [densify_map(domain, {lg: 1.0}, 0.0)
                     for lg in pdf["lang"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "d_en": [v[0] for v in dense],
                "d_de": [v[1] for v in dense],
                "d_es": [v[2] for v in dense]})

    return d.mapInPandas(
        run, "doc_id long, d_en double, d_de double, d_es double")


def q_featurize_bookkeeping(spark, sf_dir):
    """P5/P6/F20: missing_features (null variable) and erring_features
    (sized() guard violation) bookkeeping
    (FeatureExtractorFunction.scala:48-66)."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    t = transcripts_from_events(spark, sf_dir)
    spec = PipelineSpec.from_json({
        "features": [{"name": "tl", "spec": "ind(${tool})"},
                     {"name": "sz", "spec": "sized(bag(${text}), 2)"}],
        "namespaces": {}, "numBits": 18})
    out = FeaturePipeline(spec).featurize(
        t, keep_cols=["conv_id", "turn_idx"])
    return out.select(
        "conv_id", "turn_idx",
        F.array_join("missing_features", ",").alias("miss"),
        F.array_join("erring_features", ",").alias("errs"))


def q_bpe_tokens(spark, sf_dir):
    """LLM token budgeting: whitespace token count next to the BPE-ish
    pre-tokenizer segment count, both pure-JVM expressions."""
    from aloha_spark.operators.textstats import (
        with_bpe_token_count, with_token_stats)
    d = with_bpe_token_count(with_token_stats(_docs(spark, sf_dir)))
    return d.select("doc_id",
                    F.col("token_count").cast("long").alias("ws_tokens"),
                    F.col("bpe_token_count").alias("bpe_tokens"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540): spherical-k-means clustering of the
    embedding table, greedy within-cluster epsilon-ball dedup keeping
    the most atypical member (ascending centroid-similarity order).
    Rows-only (seeded k-means is not SQL); gated in selfcheck by exact
    parity with an independent driver-side replica on all rows plus the
    dropped-has-kept-neighbor invariant; epsilon-ball/keep-rule/shard
    pytests in tests/test_semdedup.py."""
    from aloha_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the synthetic embeddings' cosine ceiling is ~0.51, so the
    # "semantic duplicate" radius is set to exercise real drops
    out = semantic_dedup(emb, threshold=0.42, n_clusters=8, seed=7)
    return out.select("vec_id", "cluster",
                      F.round("centroid_sim", 6).alias("centroid_sim"),
                      "keep")


def q_bpe_encode(spark, sf_dir):
    """Real BPE (Sennrich arXiv:1508.07909): train 64 merges on the
    corpus's own distributed word counts, broadcast the rank table,
    encode every document.  Rows-only (the merge loop is not
    SQL-expressible); gated in selfcheck by round-trip equality
    (decode(encode(text)) == pre-token concatenation), zero UNKs on
    the training corpus itself, and cross-run determinism; replica
    parity + Sennrich golden merges in tests/test_tokenizer.py."""
    from aloha_spark.operators.tokenizer import train_bpe, with_bpe_ids

    d = _docs(spark, sf_dir)
    tok = train_bpe(d, num_merges=64, min_pair_freq=2)
    enc = with_bpe_ids(d.select("doc_id", "text"), tok)
    return enc.select(
        "doc_id",
        F.size("token_ids").alias("n_ids"),
        F.size(F.filter("token_ids", lambda t: t == -1)).alias("n_unk"),
        F.crc32(F.concat_ws(",", F.transform(
            "token_ids", lambda t: t.cast("string")))).alias("ids_crc"))


def q_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard verification kernel (the exact-verify stage of
    minhash_dedup_pairs) over a fixed candidate pair set — JVM array
    ops, DuckDB list-ops oracle."""
    from aloha_spark.operators.dedup import exact_jaccard
    d = _docs(spark, sf_dir).where("doc_id < 30")
    pairs = (d.select(F.col("doc_id").alias("id_a"))
             .crossJoin(d.select(F.col("doc_id").alias("id_b")))
             .where("id_a < id_b"))
    out = exact_jaccard(_docs(spark, sf_dir), pairs)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


def q_epsilon_pin(spark, sf_dir):
    """M10: epsilon-greedy exploration over fixed salts; the oracle pins
    the chosen actions and their logged propensities (1-eps+eps/N for
    the greedy arm, eps/N otherwise)."""
    from aloha_spark.plans.models import apply_model
    df = spark.createDataFrame([(i,) for i in range(20)], "uid long")
    m = {"modelType": "EpsilonGreedyExploration",
         "defaultPolicy": {"modelType": "Constant", "value": 1},
         "epsilon": 0.25, "salt": "${uid}",
         "classLabels": ["a", "b", "c", "d"]}
    return apply_model(df, m, "act").select(
        "uid", "act", F.round("act_prob", 6).alias("act_prob"))


def q_bootstrap_pin(spark, sf_dir):
    """M11: bootstrap exploration (votes/N propensity) over fixed
    salts; policies vote [1,2,2,1] so every propensity is 0.5."""
    from aloha_spark.plans.models import apply_model
    df = spark.createDataFrame([(i,) for i in range(20)], "uid long")
    m = {"modelType": "BootstrapExploration",
         "policies": [{"modelType": "Constant", "value": 1},
                      {"modelType": "Constant", "value": 2},
                      {"modelType": "Constant", "value": 2},
                      {"modelType": "Constant", "value": 1}],
         "salt": "${uid}", "classLabels": ["a", "b"]}
    return apply_model(df, m, "act").select(
        "uid", "act", F.round("act_prob", 6).alias("act_prob"))


# ---- rows-only queries (hash parity / line formats / approx algorithms) --

def q_feature_vectors(spark, sf_dir):
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [
            {"name": "bow", "spec": "bag(${text})"},
            {"name": "lang", "spec": "ind(${lang})"},
            {"name": "nchars", "spec": "clamp(${n_chars:-0}, 0, 100000)"},
        ],
        "namespaces": {}, "numBits": 18})
    pipe = FeaturePipeline(spec)
    out = pipe.to_sparse_vectors(_docs(spark, sf_dir), keep_cols=["doc_id"])
    # the driver's rows-only canonicalizer sorts the frame — array
    # columns are unhashable there, so serialize the vector to one
    # deterministic JSON string per row
    return out.select(
        "doc_id",
        F.to_json(F.struct("indices", "values")).alias("vec_json"),
        F.array_join("missing_features", ",").alias("missing"))


def q_vw_lines(spark, sf_dir):
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [
            {"name": "bow", "spec": "bag(${text})"},
            {"name": "lang", "spec": "ind(${lang})"},
        ],
        "namespaces": {"t": ["bow"], "m": ["lang"]},
        "label": "${n_chars} / 1000.0"})
    pipe = FeaturePipeline(spec)
    return pipe.to_vw_lines(_docs(spark, sf_dir), keep_cols=["doc_id"])


def q_libsvm_lines(spark, sf_dir):
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    spec = PipelineSpec.from_json({
        "features": [{"name": "bow", "spec": "bag(${text})"}],
        "namespaces": {}})
    pipe = FeaturePipeline(spec)
    return pipe.to_libsvm_lines(_docs(spark, sf_dir), keep_cols=["doc_id"])


def q_dedup_minhash(spark, sf_dir):
    from aloha_spark.operators.dedup import minhash_dedup_pairs
    return minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.35,
                               num_hashes=64, bands=32)


def q_simhash(spark, sf_dir):
    from aloha_spark.operators.dedup import with_simhash
    return with_simhash(_docs(spark, sf_dir)).select("doc_id", "simhash")


def q_doc_fingerprint(spark, sf_dir):
    from aloha_spark.operators.textstats import with_fingerprint
    return with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


def q_embed_neardup_lsh(spark, sf_dir):
    from aloha_spark.operators.dedup import embedding_neardup_pairs
    return embedding_neardup_pairs(_embs(spark, sf_dir), threshold=0.35,
                                   planes=8, probe_hamming=1, n_tables=8)


def q_doc_quality(spark, sf_dir):
    from aloha_spark.operators.textstats import with_quality_score
    return with_quality_score(_docs(spark, sf_dir)) \
        .select("doc_id", "quality_score")


def q_media_features(spark, sf_dir):
    from aloha_spark.sources.multimodal import (
        extract_media_features, synthesize_media)
    return extract_media_features(synthesize_media(_docs(spark, sf_dir)))


def q_dedup_components(spark, sf_dir):
    """Near-dup clustering: shared-shingle blocked candidates (lossless
    for any threshold > 0) -> exact-Jaccard pairs (threshold 0.35, the
    dedup_minhash operating point) -> connected components -> every doc
    labeled with its cluster's canonical (minimum) doc_id.  Both the
    blocker and the kernel are DETERMINISTIC so DuckDB replays them and
    chases reachability with a recursive CTE; at corpus scale the same
    components run over minhash_dedup_pairs output instead."""
    from aloha_spark.operators.dedup import (
        connected_components, exact_jaccard, shared_shingle_pairs)
    d = _docs(spark, sf_dir)
    cands = shared_shingle_pairs(d)
    pairs = exact_jaccard(d, cands).where("jaccard >= 0.35")
    comp = connected_components(pairs, nodes=d.select("doc_id"))
    return comp.select(F.col("id").alias("doc_id"),
                       F.col("component").cast("long").alias("component"))


def q_doc_scrub(spark, sf_dir):
    """PII scrubbing over documents.  The corpus itself is PII-free, so
    deterministic synthetic PII (email/URL/IPv4/phone derived from
    doc_id) is concatenated onto every text — identically in the oracle
    SQL — so the redaction chain is actually exercised end to end."""
    from aloha_spark.operators.textstats import with_pii_scrubbed
    did = F.col("doc_id").cast("string")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did,
            F.lit("@example.com or http://ex.com/p/"), did,
            F.lit(" node 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +1 (415) 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"))
    return with_pii_scrubbed(d).select(
        "doc_id", "text_scrubbed", "n_redactions")


def q_doc_curate(spark, sf_dir):
    """The jobs/curate.py composition as ONE driver-checkable query:
    synthetic-PII injection (as in q_doc_scrub; the corpus is PII-free)
    -> quality filter (>= 0.5) -> language filter (en) -> PII scrub
    (scrubbed text REPLACES raw text) -> exact content dedup keeping
    the minimum doc_id.  Every stage is the exact operator the
    spark-submit job composes, so a green hash here certifies the whole
    curation pipeline's semantics, not just its pieces."""
    from aloha_spark.operators.dedup import exact_dedup_keep
    from aloha_spark.operators.textstats import (
        with_lang_id, with_pii_scrubbed, with_quality_score)
    did = F.col("doc_id").cast("string")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did,
            F.lit("@example.com or http://ex.com/p/"), did,
            F.lit(" node 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +1 (415) 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"))
    x = with_quality_score(d).where(F.col("quality_score") >= 0.5)
    x = with_lang_id(x).where(F.col("lang_guess") == "en")
    x = (with_pii_scrubbed(x).drop("text")
         .withColumnRenamed("text_scrubbed", "text"))
    return (exact_dedup_keep(x, cols=["text"], id_col="doc_id")
            .select("doc_id", "text", "n_redactions", "quality_score"))


def q_split_assign(spark, sf_dir):
    """Deterministic content-hash train/val/test split (98/1/1) — the
    md5-bucket assignment is replayed verbatim in the oracle SQL, so a
    green hash certifies engine-independent split membership."""
    from aloha_spark.operators.corpus import deterministic_split

    return deterministic_split(_docs(spark, sf_dir), "doc_id") \
        .select("doc_id", "split")


def q_strat_sample(spark, sf_dir):
    """Deterministic stratified sampling: 40% of sources src0-src3,
    10% of everything else, reproducible row-for-row."""
    from aloha_spark.operators.corpus import stratified_sample

    frac = {f"src{i}": 0.4 for i in range(4)}
    return stratified_sample(_docs(spark, sf_dir), "source", frac,
                             default_fraction=0.1) \
        .select("doc_id", "source")


def q_temperature_sample(spark, sf_dir):
    """Temperature-flattened source mixture (alpha=0.5, target 50%):
    keep rates ∝ sqrt(stratum size), derived in-plan from one corpus
    scan; membership is a pure content-hash filter.  The oracle replays
    the rate arithmetic and the md5-bucket threshold verbatim, so a
    green hash certifies engine-independent mixture membership."""
    from aloha_spark.operators.corpus import temperature_sample

    return temperature_sample(_docs(spark, sf_dir), "source",
                              alpha=0.5, target_frac=0.5) \
        .select("doc_id", "source")


def q_token_budget(spark, sf_dir):
    """Per-stratum sampling to an exact TOKEN budget (not a row
    fraction): keep the minimal prefix of the stratum's deterministic
    md5-priority order whose token sum reaches the budget.  The engine
    locates the budget boundary on a coarse (stratum, bucket) relation
    so no per-stratum global window ever runs; the oracle replays the
    contract naively with one window — a green hash certifies the
    scalable plan computes exactly the naive definition."""
    from aloha_spark.operators.mixture import token_budget_sample

    budgets = {"src0": 4000, "src1": 1500, "src2": 0}
    return token_budget_sample(_docs(spark, sf_dir), budgets,
                               default_budget=800) \
        .select("doc_id", "source")


def q_epoch_mix(spark, sf_dir):
    """Fractional epoch repetition factors (2.4 epochs of src0, 0.7 of
    src1, 0 of src2, 1.0 default): floor(e) unconditional copies plus a
    deterministic md5-bucket fraction receiving one more — a
    zero-shuffle map-side explode.  The oracle replays copy counts and
    UNNESTs a range, so copy multiplicity is certified row-for-row."""
    from aloha_spark.operators.mixture import epoch_mix

    return epoch_mix(_docs(spark, sf_dir),
                     {"src0": 2.4, "src1": 0.7, "src2": 0.0},
                     default_epochs=1.0) \
        .select("doc_id", "source", "copy_idx")


def q_shuffle_order(spark, sf_dir):
    """Seeded deterministic global shuffle into ordered training
    shards: shard membership and within-shard position both derive from
    md5(seed || id), so the whole training stream order is a pure
    content function.  The oracle recomputes shard + ROW_NUMBER from
    the same hash — a green hash certifies bit-reproducible order."""
    from aloha_spark.operators.mixture import with_shuffle_order

    x = with_shuffle_order(_docs(spark, sf_dir), n_shards=8, seed=7)
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return x.select("doc_id", "shard",
                    F.row_number().over(w).alias("pos"))


def q_corpus_report(spark, sf_dir):
    """Data-card aggregate per source: doc/token counts, exact
    duplicate fraction (16-byte digest distinct), dominant language
    with deterministic tie-break.  Every statistic is an integer sum or
    an exact ratio of integer sums, so the report replays exactly in
    any engine."""
    from aloha_spark.operators.mixture import corpus_report

    return corpus_report(_docs(spark, sf_dir), lang_col="lang").select(
        "source", "n_docs", "total_tokens", "n_unique_texts",
        "mean_tokens", "dup_frac", "top_lang", "top_lang_frac")


def q_length_quantiles(spark, sf_dir):
    """EXACT per-source token-length quantiles (p50/p90/p99) on the
    distinct-value histogram — no global sort, no percentile_approx
    (whose sketch answers cannot be verified across engines).  The
    oracle replays the discrete-quantile contract (max(1, ceil(q*n))-th
    smallest) over the same histogram."""
    from aloha_spark.operators.mixture import exact_group_quantiles
    from aloha_spark.operators.textstats import tokens_col

    d = _docs(spark, sf_dir).withColumn(
        "n_tok", F.size(tokens_col("text")).cast("long"))
    return exact_group_quantiles(d, "n_tok", [0.5, 0.9, 0.99],
                                 by="source")


def q_top_docs(spark, sf_dir):
    """Deterministic grouped top-k (3 longest documents per source,
    ties by doc_id): the rank filter compiles to WindowGroupLimit
    (plan-gated), so each map task pre-prunes to its local top-k and a
    billion-row source ships k rows per partition, never the group."""
    from aloha_spark.operators.windows import top_k_per_group

    return top_k_per_group(_docs(spark, sf_dir), 3, by="source",
                           value="n_chars", tie_by=["doc_id"]) \
        .select("source", "doc_id", "n_chars", "rk")


def q_interval_anti(spark, sf_dir):
    """Time-window filtering via the anti interval join: click/view
    events NOT inside any 2-hour post-error window of their user (the
    outage/embargo-drop shape).  Hash semi/anti join with the BETWEEN
    residual riding the join condition — never a nested-loop.  The
    oracle is the naive NOT EXISTS."""
    from aloha_spark.operators.intervals import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ivs = (ev.where(F.col("event_type") == "error")
             .select("user_id", F.col("ts").alias("start_ts"),
                     (F.col("ts") + F.expr("INTERVAL 7200 SECONDS"))
                     .alias("end_ts")))
    pts = (ev.where(F.col("event_type").isin("click", "view"))
             .select(F.col("event_id").alias("pid"), "user_id", "ts"))
    return interval_join(pts, ivs, on=["user_id"],
                         bin_width_seconds=3600, how="left_anti") \
        .select("pid", "user_id")


def q_pps_tokens(spark, sf_dir):
    """Systematic PPS sampling: exactly 50 token-weighted grid hits per
    source, deterministic md5 order, exact decimal-38 integral
    division (no float keys whose last-ulp ordering could differ
    across libms).  The oracle replays cumulative weights and the
    floor-grid rule in HUGEINT — a green hash certifies the
    coarse-bucket offset decomposition equals the naive definition."""
    from aloha_spark.operators.mixture import pps_sample

    return pps_sample(_docs(spark, sf_dir), 50) \
        .select("doc_id", "source", "n_hits")


def q_interval_join(spark, sf_dir):
    """Interval (range) join via binned-expansion equi-join: error
    events open a 2-hour per-user window; click/view events join
    into every window containing them.  A naive range predicate would
    compile to BroadcastNestedLoopJoin (O(L×R)); the rewrite bins both
    sides so the match is a hash join (plan-gated in
    tests/test_intervals.py).  The oracle runs the naive non-equi join
    — a green hash certifies the rewrite computes exactly it."""
    from aloha_spark.operators.intervals import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ivs = (ev.where(F.col("event_type") == "error")
             .select(F.col("event_id").alias("iv_id"), "user_id",
                     F.col("ts").alias("start_ts"),
                     (F.col("ts") + F.expr("INTERVAL 7200 SECONDS"))
                     .alias("end_ts")))
    pts = (ev.where(F.col("event_type").isin("click", "view"))
             .select(F.col("event_id").alias("pid"), "user_id", "ts"))
    return interval_join(pts, ivs, on=["user_id"],
                         bin_width_seconds=3600) \
        .select("pid", "iv_id")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per document: top-token
    fraction and duplicate bigram/trigram fractions, all pure-JVM
    array ops (sorted-run aggregate + n-gram distinct counts)."""
    from aloha_spark.operators.textstats import with_repetition_stats

    return with_repetition_stats(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "top_token_frac",
        "dup_bigram_frac", "dup_trigram_frac")


def q_decontam(spark, sf_dir):
    """Benchmark decontamination: trigram overlap of every document
    against a benchmark set (every 20th doc), broadcast-probed."""
    from aloha_spark.operators.corpus import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, bench, n=3, threshold=0.2).select(
        "doc_id", "total_grams", "hit_grams", "contam_frac", "contaminated")


def q_decontam_bloom(spark, sf_dir):
    """Bloom-filter decontamination (operators/corpus.py:
    bloom_decontaminate): same contract as q_decontam but the benchmark
    gram set is a broadcast numpy bitmask probed with vectorized
    double hashing — the path for benchmark sets too large to hold as
    an exact broadcast set.  Sized at fpp=1e-9 here, where the
    deterministic xxhash64 probe has no false positive on this corpus,
    so the EXACT-overlap oracle gates it hash-for-hash (the error
    model itself — zero false negatives, bounded FPR — is pinned in
    tests/test_corpus.py)."""
    from aloha_spark.operators.corpus import bloom_decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return bloom_decontaminate(
        docs, bench, n=3, threshold=0.2,
        expected_items=60_000, fpp=1e-9).select(
        "doc_id", "total_grams", "hit_grams", "contam_frac", "contaminated")


def q_quality_clf_score(spark, sf_dir):
    """Learned-quality-classifier SCORING path (operators/classifier.py:
    score_logreg) under a pinned, SQL-expressible weight vector
    (w[b] = (b % 997)/997 - 0.5, bias 0.25 over 1024 md5-hashed feature
    buckets): the featurize -> count -> L2-normalize -> sigmoid kernel
    is gated hash-for-hash by a DuckDB replay.  TRAINING (the
    distributed full-batch gradient loop) is pinned against an
    independent numpy replica in tests/test_classifier.py."""
    import numpy as np

    from aloha_spark.operators.classifier import score_logreg

    nf = 1024
    w = np.concatenate([(np.arange(nf) % 997) / 997.0 - 0.5, [0.25]])
    docs = _docs(spark, sf_dir)
    return (score_logreg(docs, w, n_features=nf)
            .select("doc_id",
                    F.round("quality_prob", 6).alias("quality_prob")))


def q_top_tokens(spark, sf_dir):
    """Corpus vocabulary top-50 by token count, deterministic
    tie-break (count desc, token asc)."""
    from aloha_spark.operators.corpus import top_tokens

    return top_tokens(_docs(spark, sf_dir), "text", k=50)


def q_heavy_hitters(spark, sf_dir):
    """X43: exact frequency heavy hitters — per-partition Misra-Gries
    candidate pass (bounded counters, provable superset) + exact
    recount of only the candidates; the long-tail vocabulary never
    enters an exchange.  Oracle = plain GROUP BY/HAVING."""
    from aloha_spark.operators.corpus import heavy_hitters
    return heavy_hitters(_docs(spark, sf_dir), support=0.033) \
        .select("token", "cnt", F.round("freq", 6).alias("freq"))


def q_heavy_hitters_bigrams(spark, sf_dir):
    """X43 n-gram mode: frequent word-bigram mining (the boilerplate /
    decontamination review feed) through the same Misra-Gries candidate
    pass — exactness oracle is a plain bigram GROUP BY/HAVING."""
    from aloha_spark.operators.corpus import heavy_hitters
    return heavy_hitters(_docs(spark, sf_dir), support=0.0015, ngram=2) \
        .select("token", "cnt", F.round("freq", 6).alias("freq"))


def q_split_leakage(spark, sf_dir):
    """X44: train/eval exact-content leakage audit over a corpus with
    injected cross-split duplicates (every 10th doc re-id'd +10000, so
    clones deterministically land in different md5-bucket splits)."""
    from aloha_spark.operators.corpus import (deterministic_split,
                                              split_leakage)
    base = _docs(spark, sf_dir).select("doc_id", "text")
    clones = (base.where(F.col("doc_id") % 10 == 0)
                  .select((F.col("doc_id") + 10_000).alias("doc_id"),
                          "text"))
    sp = deterministic_split(
        base.unionByName(clones),
        weights=(("train", 0.7), ("val", 0.15), ("test", 0.15)))
    return split_leakage(sp)


def q_doc_chunks(spark, sf_dir):
    """Token-budget document chunking (budget 32, overlap 8): the
    upstream re-chunker for pack_sequences' oversized documents.  Pure
    JVM map-only pass; the oracle replays the identical window
    arithmetic over DuckDB list slices."""
    from aloha_spark.operators.corpus import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), budget=32, overlap=8) \
        .select("doc_id", "chunk_idx", "chunk_text", "n_tokens")


def q_pack_stats(spark, sf_dir):
    """Sequence packing (BFD, budget 256 tokens, 8 partitions) rolled
    up per pack.  Rows-only: pack membership depends on Spark's hash
    partitioning; the budget/coverage invariants are pytest-gated
    (tests/test_corpus.py)."""
    from aloha_spark.operators.corpus import pack_sequences
    from aloha_spark.operators.textstats import with_token_stats

    d = with_token_stats(_docs(spark, sf_dir)).select(
        "doc_id", F.col("token_count").cast("long").alias("n_tokens"))
    packed = pack_sequences(d, budget=256, num_partitions=8)
    return (packed.groupBy("pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tokens_total"),
                 F.max("oversized").alias("has_oversized"))
            .orderBy("pack_id"))


def q_dedup_paragraphs(spark, sf_dir):
    """Falcon/RefinedWeb-style paragraph-level exact dedup: documents
    are paragraphized deterministically (5-token windows joined by
    newline — the synthetic corpus has no paragraph breaks of its own),
    then any paragraph repeating an earlier (doc_id, idx) occurrence is
    dropped and documents are reassembled.  Skew-proof min-struct
    keeper aggregation; the oracle replays the chunk arithmetic, the
    first-occurrence window, and the ordered reassembly in DuckDB."""
    from aloha_spark.operators.dedup import dedup_paragraphs

    # tokens projected before the paragraphizing transform (a free
    # split inside the lambda re-runs per paragraph; see ngrams_of)
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_tk"))
    toks = F.col("_tk")
    n = F.size(toks)
    k = F.when(n <= 5, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - 5) / F.lit(5.0)).cast("int"))
    para_text = F.array_join(
        F.transform(F.sequence(F.lit(0), k - 1),
                    lambda i: F.array_join(F.slice(toks, i * 5 + 1, 5),
                                           " ")), "\n")
    return dedup_paragraphs(
        d.select("doc_id", para_text.alias("text")), delim="\n")


def q_dsir_weight(spark, sf_dir):
    """DSIR importance log-weights (hashed unigram+bigram bag models,
    add-one smoothing) of every document against the English subset as
    the target set; md5 bucket hash replayed verbatim by the oracle."""
    from aloha_spark.operators.corpus import dsir_logweight

    d = _docs(spark, sf_dir)
    return dsir_logweight(d, d.where(F.col("lang") == "en"),
                          n_buckets=512).select(
        "doc_id", "n_grams", "dsir_logweight")


def q_unigram_xent(spark, sf_dir):
    """Corpus-unigram-LM cross-entropy per document (the CCNet-style
    perplexity filter): hybrid broadcast-head / shuffle-tail token
    probability join (head_k=40 at this scale so BOTH paths carry
    rows); the oracle refits the same LM in DuckDB."""
    from aloha_spark.operators.corpus import with_unigram_logprob

    return with_unigram_logprob(_docs(spark, sf_dir), head_k=40).select(
        "doc_id", "n_tokens", "xent")


def q_span_dedup(spark, sf_dir):
    """Exact duplicated-span removal (Lee et al. ExactSubstr, token
    granularity, n=4): any 4-token window repeating an earlier corpus
    occurrence is masked out of its document.  The oracle replays the
    window enumeration, the global first-occurrence race, the covered-
    position union, and the reassembly in DuckDB."""
    from aloha_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(
        _docs(spark, sf_dir).select("doc_id", "text"), n=4)


def q_line_filter(spark, sf_dir):
    """CCNet/Gopher-style corpus-frequency line filter: documents are
    linearized deterministically (4-token windows joined by newline —
    the synthetic corpus has no line breaks of its own), then every
    occurrence of any line whose corpus frequency exceeds 2 is removed
    (unlike paragraph dedup, which keeps the first).  Skew-proof
    digest-keyed partial-agg frequency count; the oracle replays the
    line arithmetic, the frequency join, and the ordered reassembly."""
    from aloha_spark.operators.dedup import filter_frequent_lines

    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("_tk"))
    toks = F.col("_tk")
    n = F.size(toks)
    k = F.when(n <= 4, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - 4) / F.lit(4.0)).cast("int"))
    line_text = F.array_join(
        F.transform(F.sequence(F.lit(0), k - 1),
                    lambda i: F.array_join(F.slice(toks, i * 4 + 1, 4),
                                           " ")), "\n")
    return filter_frequent_lines(
        d.select("doc_id", line_text.alias("text")), max_freq=2)


def q_shard_stats(spark, sf_dir):
    """The curate job's shard output stage (jobs/curate.py: chunk ->
    pack -> shard write) rolled up to ONE deterministic invariant row:
    chunk budget 64 / overlap 16, pack budget 256.  The chunk-side
    columns (n_chunks, total_tokens, max_chunk_tokens) are pure
    functions of the corpus — the oracle replays the window arithmetic
    in DuckDB list slices; the pack-side columns (over_budget_packs,
    oversized_chunks) must be literally ZERO for ANY partitioning — the
    oracle pins them as constants, so a packing bug breaks the driver
    row."""
    from aloha_spark.operators.corpus import chunk_documents, pack_sequences

    ch = chunk_documents(_docs(spark, sf_dir).select("doc_id", "text"),
                         budget=64, overlap=16)
    ch = ch.withColumn(
        "chunk_id",
        F.concat_ws("#", F.col("doc_id").cast("string"),
                    F.col("chunk_idx").cast("string")))
    asg = pack_sequences(ch.select("chunk_id", "n_tokens"),
                         id_col="chunk_id", budget=256, num_partitions=8)
    per_pack = asg.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tot"),
        F.count(F.lit(1)).alias("n"),
        F.max("oversized").alias("over"))
    chunk_agg = ch.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_tokens").alias("max_chunk_tokens"))
    pack_agg = per_pack.agg(
        F.coalesce(F.sum(F.when((F.col("tot") > 256) & (F.col("n") > 1),
                                1).otherwise(0)), F.lit(0))
         .alias("over_budget_packs"),
        F.coalesce(F.sum(F.when(F.col("over"), 1).otherwise(0)), F.lit(0))
         .alias("oversized_chunks"))
    return chunk_agg.crossJoin(pack_agg)


# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: point-in-time featurization — as-of join +
    window features + hashed sparse feature vectors."""
    from aloha_spark.operators.windows import stable_output_order
    from aloha_spark.plans.flagship import point_in_time_features
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec

    t = transcripts_from_events(spark, SF0001)
    s = state_from_events(spark, SF0001)
    # windows-first ordering: turn-side window features are computed on
    # the narrow turns frame, then the as-of join attaches state
    x = point_in_time_features(t, s, state_cols=["state_score"])

    spec = PipelineSpec.from_json({
        "features": [
            {"name": "role", "spec": "ind(${role})"},
            {"name": "tool", "spec": "ind(${last_tool})"},
            {"name": "bow", "spec": "bag(${text})"},
            {"name": "prev_bow", "spec": "bag(${prev_text:-''})"},
            {"name": "dt", "spec": "clamp(${dt_prev_sec:-0}, 0, 86400)"},
            {"name": "dt_bin", "spec": "sos2U(${dt_prev_sec}, 0, 7200, 600)"},
            {"name": "state", "spec": "${state_score:-0}"},
        ],
        "namespaces": {"t": ["bow", "prev_bow"],
                       "s": ["role", "tool", "dt", "dt_bin", "state"]},
        "numBits": 18})
    pipe = FeaturePipeline(spec)
    out = pipe.to_sparse_vectors(
        x, keep_cols=["conv_id", "turn_idx", "text", "session_id",
                      "state_score"])
    return stable_output_order(out)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Round-5 driver-window ROTATION: the driver records oracle rows
    # for the FIRST 50 entries only.  This round the window takes (a)
    # the 5 rows that had never been driver-hash-checked — interval_anti
    # plus the four newly-ORACLED former rows-only queries
    # (feature_vectors / vw_lines / libsvm_lines via the fixed-31-word-
    # vocabulary literal-hash technique, doc_fingerprint via the
    # split-multiply mod-2^64 rolling-hash oracle) — (b) all 40 rows
    # whose last driver check was round 3, and (c) 5 family anchors so
    # every SURVEY §2 family keeps a fresh driver row (asof_state +
    # asof_salted for the as-of join family, pit_pipeline as the
    # flagship composition, regression_spline for models/aggregation,
    # doc_curate for the curation-job family).  Everything rotated past
    # the window was driver-green in round 4 and stays oracle-checked
    # by tools/selfcheck.py every round.
    return {
        # (a) never driver-hash-checked before this round
        "interval_anti": q_interval_anti,
        "doc_fingerprint": q_doc_fingerprint,
        "feature_vectors": q_feature_vectors,
        "vw_lines": q_vw_lines,
        "libsvm_lines": q_libsvm_lines,
        # (c) family anchors
        "asof_state": q_asof_state,
        "asof_salted": q_asof_salted,
        "pit_pipeline": q_pit_pipeline,
        "regression_spline": q_regression_spline,
        "doc_curate": q_doc_curate,
        # (b) last driver-checked in round 3 — windows / projections
        "window_lag_lead": q_window_lag_lead,
        "backfill_last_tool": q_backfill_last_tool,
        "sessionize": q_sessionize,
        "interval_filter": q_interval_filter,
        "indexed_paths": q_indexed_paths,
        "featurize_bookkeeping": q_featurize_bookkeeping,
        # (b) scans / sinks
        "csv_lines": q_csv_lines,
        "csv_columnar": q_csv_columnar,
        "proto_roundtrip": q_proto_roundtrip,
        "avro_roundtrip": q_avro_roundtrip,
        "vw_labeled": q_vw_labeled,
        "libsvm_labeled": q_libsvm_labeled,
        "cb_lines": q_cb_lines,
        "multilabel_downsampled": q_multilabel_downsampled,
        "vw_normalize": q_vw_normalize,
        "media_meta": q_media_meta,
        # (b) scalar feature functions
        "doc_tokens": q_doc_tokens,
        "doc_bigrams": q_doc_bigrams,
        "sos2_weights": q_sos2_weights,
        "csos2_weights": q_csos2_weights,
        "minhash_trunc": q_minhash_trunc,
        "hashed_cat": q_hashed_cat,
        "densify": q_densify,
        "price_bucket": q_price_bucket,
        "bpe_tokens": q_bpe_tokens,
        # (b) joins / aggregations / sorts
        "broadcast_join": q_broadcast_join,
        "linear_score": q_linear_score,
        "order_segment": q_order_segment,
        # (b) models
        "tree_risk": q_tree_risk,
        "audit_tree": q_audit_tree,
        "error_swallow": q_error_swallow,
        "epsilon_pin": q_epsilon_pin,
        "bootstrap_pin": q_bootstrap_pin,
        # (b) text / dedup / embeddings X-family
        "doc_stats": q_doc_stats,
        "lang_guess": q_lang_guess,
        "doc_quality": q_doc_quality,
        "doc_scrub": q_doc_scrub,
        "jaccard_pairs": q_jaccard_pairs,
        "dedup_components": q_dedup_components,
        "ann_topk_ivf": q_ann_topk_ivf,
        # ---- past the driver's 50-query window (every row below was
        # driver-green in round 4; all stay oracle-checked by
        # tools/selfcheck.py every round) ----
        "turn_delta": q_turn_delta,
        "turn_reindex": q_turn_reindex,
        "session_stats": q_session_stats,
        "rolling_tool_count": q_rolling_tool_count,
        "asof_strict": q_asof_strict,
        "asof_forward": q_asof_forward,
        "asof_nearest": q_asof_nearest,
        "asof_tolerance": q_asof_tolerance,
        "ann_topk": q_ann_topk,
        "constant_model": q_constant_model,
        "error_model": q_error_model,
        "pricing_summary": q_pricing_summary,
        "doc_skipgrams": q_doc_skipgrams,
        "split_assign": q_split_assign,
        "strat_sample": q_strat_sample,
        "top_tokens": q_top_tokens,
        "doc_chunks": q_doc_chunks,
        "shard_stats": q_shard_stats,
        "temperature_sample": q_temperature_sample,
        "token_budget": q_token_budget,
        "epoch_mix": q_epoch_mix,
        "shuffle_order": q_shuffle_order,
        "corpus_report": q_corpus_report,
        "interval_join": q_interval_join,
        "length_quantiles": q_length_quantiles,
        "pps_tokens": q_pps_tokens,
        "top_docs": q_top_docs,
        "repetition_stats": q_repetition_stats,
        "dedup_paragraphs": q_dedup_paragraphs,
        "line_filter": q_line_filter,
        "dsir_weight": q_dsir_weight,
        "unigram_xent": q_unigram_xent,
        "span_dedup": q_span_dedup,
        "decontam": q_decontam,
        "decontam_bloom": q_decontam_bloom,
        "quality_clf_score": q_quality_clf_score,
        "dedup_exact": q_dedup_exact,
        "incremental_dedup": q_incremental_dedup,
        "ann_topk_pq": q_ann_topk_pq,
        "ann_topk_indexed": q_ann_topk_indexed,
        "embed_neardup": q_embed_neardup,
        "multilabel_blocks": q_multilabel_blocks,
        "feature_vectors_jvm": q_feature_vectors_jvm,
        "model_tree_leaves": q_model_tree_leaves,
        # new in round 5 (past-window; oracle-checked by selfcheck)
        "heavy_hitters": q_heavy_hitters,
        "heavy_hitters_bigrams": q_heavy_hitters_bigrams,
        "split_leakage": q_split_leakage,
        "ann_topk_pq_indexed": q_ann_topk_pq_indexed,
        # rows-only (approx algorithms / binary formats — each backed
        # by a machine-checked property gate in tools/selfcheck.py)
        "dedup_minhash": q_dedup_minhash,
        "simhash": q_simhash,
        "bpe_encode": q_bpe_encode,
        "semdedup": q_semdedup,
        "embed_neardup_lsh": q_embed_neardup_lsh,
        "media_features": q_media_features,
        "pack_stats": q_pack_stats,
    }


def oracle_sql() -> dict[str, str]:
    T = f"WITH transcripts AS ({_TRANSCRIPTS_SQL}), state AS ({_STATE_SQL})"
    d = {
        "window_lag_lead": f"""{T}
SELECT conv_id, turn_idx,
       LAG(text) OVER w AS prev_text, LEAD(text) OVER w AS next_text,
       LAG(role) OVER w AS prev_role, LEAD(role) OVER w AS next_role
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)""",
        "backfill_last_tool": f"""{T}
SELECT conv_id, turn_idx, tool,
       LAST_VALUE(tool IGNORE NULLS) OVER
         (PARTITION BY conv_id ORDER BY turn_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_tool
FROM transcripts""",
        "sessionize": f"""{T}
SELECT conv_id, turn_idx,
       CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) OVER
         (PARTITION BY conv_id ORDER BY turn_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_id
FROM (SELECT conv_id, turn_idx,
             EPOCH(ts) - LAG(EPOCH(ts)) OVER
               (PARTITION BY conv_id ORDER BY turn_idx) AS gap
      FROM transcripts) g""",
        "turn_delta": f"""{T}
SELECT conv_id, turn_idx,
       ROUND(EPOCH(ts) - LAG(EPOCH(ts)) OVER
         (PARTITION BY conv_id ORDER BY turn_idx), 6) AS dt_prev_sec
FROM transcripts""",
        "rolling_tool_count": f"""{T}
SELECT conv_id, turn_idx,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER
         (PARTITION BY conv_id ORDER BY turn_idx
          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS tools_in_window
FROM transcripts""",
        "session_stats": f"""{T},
sess AS (
  SELECT conv_id, turn_idx, tool, ts,
         CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) OVER
           (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM (SELECT conv_id, turn_idx, tool, ts,
               EPOCH(ts) - LAG(EPOCH(ts)) OVER
                 (PARTITION BY conv_id ORDER BY turn_idx) AS gap
        FROM transcripts) g)
SELECT conv_id, session_id, COUNT(*) AS n_turns,
       ROUND(MAX(EPOCH(ts)) - MIN(EPOCH(ts)), 6) AS duration_sec,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool_turns
FROM sess GROUP BY conv_id, session_id""",
        "asof_state": f"""{T}
SELECT t.conv_id, t.turn_idx, s.state_score
FROM transcripts t ASOF LEFT JOIN state s
  ON t.conv_id = s.conv_id AND t.ts >= s.ts""",
        "asof_salted": f"""{T}
SELECT t.conv_id, t.turn_idx, s.state_score
FROM transcripts t ASOF LEFT JOIN state s
  ON t.conv_id = s.conv_id AND t.ts >= s.ts""",
        # staleness bound: the ASOF match survives only within the
        # 600 s tolerance window (inclusive), else NULL
        "asof_tolerance": f"""{T}
SELECT t.conv_id, t.turn_idx,
       CASE WHEN t.ts - s.ts <= INTERVAL 600 SECOND
            THEN s.state_score END AS state_score
FROM transcripts t ASOF LEFT JOIN state s
  ON t.conv_id = s.conv_id AND t.ts >= s.ts""",
        "asof_strict": f"""{T}
SELECT t.conv_id, t.turn_idx, s.state_score
FROM transcripts t ASOF LEFT JOIN state s
  ON t.conv_id = s.conv_id AND t.ts > s.ts""",
        "asof_forward": f"""{T}
SELECT t.conv_id, t.turn_idx, s.state_score
FROM transcripts t ASOF LEFT JOIN state s
  ON t.conv_id = s.conv_id AND t.ts <= s.ts""",
        "asof_nearest": f"""{T},
b AS (
  SELECT t.conv_id, t.turn_idx, t.ts, s.ts AS bts, s.state_score AS bsc
  FROM transcripts t ASOF LEFT JOIN state s
    ON t.conv_id = s.conv_id AND t.ts >= s.ts),
f AS (
  SELECT t.conv_id, t.turn_idx, s.ts AS fts, s.state_score AS fsc
  FROM transcripts t ASOF LEFT JOIN state s
    ON t.conv_id = s.conv_id AND t.ts <= s.ts)
SELECT b.conv_id, b.turn_idx,
       CASE WHEN bts IS NULL THEN fsc
            WHEN fts IS NULL THEN bsc
            WHEN (EPOCH(fts) - EPOCH(b.ts)) < (EPOCH(b.ts) - EPOCH(bts))
              THEN fsc
            ELSE bsc END AS state_score
FROM b JOIN f ON b.conv_id = f.conv_id AND b.turn_idx = f.turn_idx""",
        "pit_pipeline": f"""{T},
joined AS (
  SELECT t.conv_id, t.turn_idx, t.text, t.tool, t.ts, s.state_score
  FROM transcripts t ASOF LEFT JOIN state s
    ON t.conv_id = s.conv_id AND t.ts >= s.ts),
win AS (
  SELECT conv_id, turn_idx, text, ts, state_score,
         LAG(text) OVER w AS prev_text,
         LAST_VALUE(tool IGNORE NULLS) OVER
           (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_tool,
         EPOCH(ts) - LAG(EPOCH(ts)) OVER w AS gap
  FROM joined
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
SELECT conv_id, turn_idx, text, prev_text, last_tool,
       CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) OVER
         (PARTITION BY conv_id ORDER BY turn_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_id,
       state_score
FROM win""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2002-09-01'
GROUP BY l_returnflag, l_linestatus""",
        "broadcast_join": """
SELECT n.n_name AS nation, COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name""",
        "interval_filter": """
SELECT event_type, COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
FROM events WHERE 50.0 < value AND value < 150.0
GROUP BY event_type""",
        "linear_score": """
WITH weights(token, w) AS (VALUES
  ('the', 1.0), ('data', 2.0), ('spark', 3.0), ('query', -1.5),
  ('fast', 0.5), ('slow', -0.5)),
toks AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS token
  FROM documents)
SELECT t.doc_id, ROUND(SUM(w.w), 6) AS score
FROM toks t JOIN weights w ON t.token = w.token
GROUP BY t.doc_id""",
        "doc_tokens": """
SELECT doc_id, '=' || token AS token, CAST(COUNT(*) AS DOUBLE) AS cnt
FROM (SELECT doc_id,
             UNNEST(string_split_regex(TRIM(text), '\\s+')) AS token
      FROM documents) t
GROUP BY doc_id, token""",
        "doc_bigrams": """
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ts
  FROM documents)
SELECT doc_id, gram, CAST(COUNT(*) AS DOUBLE) AS cnt
FROM (SELECT doc_id,
             UNNEST(list_transform(range(1, len(ts)),
                    i -> '=' || ts[i] || '_' || ts[i+1])) AS gram
      FROM toks) g
GROUP BY doc_id, gram""",
        "doc_skipgrams": """
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ts
  FROM documents)
SELECT doc_id, gram, CAST(COUNT(*) AS DOUBLE) AS cnt
FROM (SELECT doc_id,
             UNNEST(flatten(list_transform(range(1, len(ts) + 1),
                 i -> list_transform(range(i + 1, least(len(ts), i + 2) + 1),
                      j -> '=' || ts[i] || '_' || ts[j])))) AS gram
      FROM toks) g
GROUP BY doc_id, gram""",
        "turn_reindex": """
SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY value, event_id) - 1 AS BIGINT)
         AS value_rank
FROM events""",
        "csv_lines": """
SELECT c_name,
       c_name || ',' ||
       COALESCE(CASE WHEN c_acctbal < 0 THEN NULL
                     ELSE c_mktsegment END, 'NULL') || ',' ||
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS csv_line
FROM customer""",
        "proto_roundtrip": """
SELECT conv_id, turn_idx, role, text, tool,
       CAST(epoch_ms(ts) AS BIGINT) AS ts_epoch_ms
FROM (SELECT CAST(user_id AS VARCHAR) AS conv_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
            AS BIGINT) AS turn_idx,
       event_type AS role,
       props AS text,
       CASE WHEN event_type IN ('click', 'view') THEN event_type END AS tool,
       ts
FROM events) t""",
        "avro_roundtrip": """
SELECT conv_id, turn_idx, role, text, tool,
       CAST(epoch_ms(ts) AS BIGINT) AS ts_epoch_ms
FROM (SELECT CAST(user_id AS VARCHAR) AS conv_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
            AS BIGINT) AS turn_idx,
       event_type AS role,
       props AS text,
       CASE WHEN event_type IN ('click', 'view') THEN event_type END AS tool,
       ts
FROM events) t""",
        "tree_risk": """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN -1.0
            WHEN c_acctbal > 5000 THEN 2.0
            ELSE 1.0 END AS risk
FROM customer""",
        "order_segment": """
SELECT o_orderkey,
       CASE WHEN o_totalprice <= 50000 THEN 'small'
            WHEN o_totalprice <= 150000 THEN 'mid'
            ELSE 'large' END AS segment
FROM orders""",
        "price_bucket": """
SELECT l_orderkey, l_linenumber,
       CAST(LEAST(60, GREATEST(0,
            FLOOR(l_extendedprice * 0.001 + 0.5))) AS BIGINT) AS bucket
FROM lineitem""",
        "doc_quality": """
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN TRIM(text) = '' THEN []
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^\\.,;:!?]', '', 'g')) AS punct
  FROM documents),
s AS (
  SELECT doc_id,
    CASE WHEN n_chars > 0 THEN punct::DOUBLE / n_chars ELSE 0.0 END
      AS punct_ratio,
    CASE WHEN len(ts) > 0 THEN
      len(list_filter(ts, x -> list_contains(
        ['the','a','of','and','to','in','is','it','that','for'],
        lower(x))))::DOUBLE / len(ts)
    ELSE 0.0 END AS stop_ratio,
    CASE WHEN len(ts) > 0
         THEN 1.0 - len(list_distinct(ts))::DOUBLE / len(ts)
         ELSE 1.0 END AS rep_ratio,
    CASE WHEN n_chars BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.2 END
      AS length_band
  FROM t)
SELECT s.doc_id,
       CASE WHEN t.text IS NULL THEN NULL
            ELSE ROUND(0.4 * length_band
                       + 0.2 * LEAST(1.0, stop_ratio * 5)
                       + 0.2 * (1.0 - LEAST(1.0, punct_ratio * 10))
                       + 0.2 * (1.0 - rep_ratio), 6) END AS quality_score
FROM s JOIN t ON s.doc_id = t.doc_id""",
        "dedup_components": """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(ts) - 3, 0) + 2),
           i -> array_to_string(ts[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split_regex(TRIM(text), '\\s+') AS ts
        FROM documents) t),
ex AS (
  SELECT doc_id, UNNEST(s) AS g FROM sh),
cand AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM ex a JOIN ex b USING (g)
  WHERE a.doc_id <> b.doc_id AND g <> ''),
edges AS (
  SELECT c.src, c.dst
  FROM cand c
  JOIN sh a ON a.doc_id = c.src
  JOIN sh b ON b.doc_id = c.dst
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / len(list_distinct(a.s || b.s)) >= 0.35),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS component
FROM reach GROUP BY src""",
        "doc_scrub": """
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or http://ex.com/p/'
              || CAST(doc_id AS VARCHAR)
              || ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 tel +1 (415) 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
  FROM documents),
s0 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, 'https?://[^\\s]+')) AS c0,
         regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g') AS t0
  FROM injected),
s1 AS (
  SELECT doc_id, c0,
         len(regexp_extract_all(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS c1,
         regexp_replace(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1
  FROM s0),
s2 AS (
  SELECT doc_id, c0, c1,
         len(regexp_extract_all(t1,
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
           AS c2,
         regexp_replace(t1,
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
             '<IP>', 'g') AS t2
  FROM s1),
s3 AS (
  SELECT doc_id, c0, c1, c2,
         len(regexp_extract_all(t2, '\\+[0-9][0-9()\\-. ]{6,}[0-9]')) AS c3,
         regexp_replace(t2, '\\+[0-9][0-9()\\-. ]{6,}[0-9]',
                        '<PHONE>', 'g') AS t3
  FROM s2),
s4 AS (
  SELECT doc_id, c0, c1, c2, c3,
         len(regexp_extract_all(t3,
             '\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b')) AS c4,
         regexp_replace(t3, '\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b',
                        '<PHONE>', 'g') AS t4
  FROM s3)
SELECT doc_id, t4 AS text_scrubbed,
       CAST(c0 + c1 + c2 + c3 + c4 AS BIGINT) AS n_redactions
FROM s4""",
        "doc_curate": """
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or http://ex.com/p/'
              || CAST(doc_id AS VARCHAR)
              || ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 tel +1 (415) 555-01'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
  FROM documents),
t AS (
  SELECT doc_id, text,
         CASE WHEN TRIM(text) = '' THEN []
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^\\.,;:!?]', '', 'g')) AS punct
  FROM injected),
q AS (
  SELECT doc_id, text, ts,
    ROUND(0.4 * (CASE WHEN n_chars BETWEEN 20 AND 10000
                      THEN 1.0 ELSE 0.2 END)
      + 0.2 * LEAST(1.0, (CASE WHEN len(ts) > 0 THEN
          len(list_filter(ts, x -> list_contains(
            ['the','a','of','and','to','in','is','it','that','for'],
            lower(x))))::DOUBLE / len(ts) ELSE 0.0 END) * 5)
      + 0.2 * (1.0 - LEAST(1.0, (CASE WHEN n_chars > 0
          THEN punct::DOUBLE / n_chars ELSE 0.0 END) * 10))
      + 0.2 * (1.0 - (CASE WHEN len(ts) > 0
          THEN 1.0 - len(list_distinct(ts))::DOUBLE / len(ts)
          ELSE 1.0 END)), 6) AS quality_score
  FROM t),
lng AS (
  SELECT doc_id, text, quality_score,
    len(list_filter(list_transform(ts, w -> LOWER(w)), w ->
      list_contains(['der','die','das','und','zu','in','ist','den',
                     'von','mit'], w))) AS h_de,
    len(list_filter(list_transform(ts, w -> LOWER(w)), w ->
      list_contains(['the','a','of','and','to','in','is','it','that',
                     'for'], w))) AS h_en,
    len(list_filter(list_transform(ts, w -> LOWER(w)), w ->
      list_contains(['el','la','de','y','que','en','un','es','los',
                     'por'], w))) AS h_es
  FROM q WHERE quality_score >= 0.5),
en AS (
  SELECT doc_id, text, quality_score FROM lng
  WHERE GREATEST(h_de, h_en, h_es) > 0
    AND NOT (h_es >= h_en AND h_es >= h_de)
    AND h_en >= h_de),
s0 AS (
  SELECT doc_id, quality_score,
         len(regexp_extract_all(text, 'https?://[^\\s]+')) AS c0,
         regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g') AS t0
  FROM en),
s1 AS (
  SELECT doc_id, quality_score, c0,
         len(regexp_extract_all(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS c1,
         regexp_replace(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1
  FROM s0),
s2 AS (
  SELECT doc_id, quality_score, c0, c1,
         len(regexp_extract_all(t1,
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
           AS c2,
         regexp_replace(t1,
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
             '<IP>', 'g') AS t2
  FROM s1),
s3 AS (
  SELECT doc_id, quality_score, c0, c1, c2,
         len(regexp_extract_all(t2, '\\+[0-9][0-9()\\-. ]{6,}[0-9]'))
           AS c3,
         regexp_replace(t2, '\\+[0-9][0-9()\\-. ]{6,}[0-9]',
                        '<PHONE>', 'g') AS t3
  FROM s2),
s4 AS (
  SELECT doc_id, quality_score, c0, c1, c2, c3,
         len(regexp_extract_all(t3,
             '\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b')) AS c4,
         regexp_replace(t3, '\\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\\b',
                        '<PHONE>', 'g') AS t4
  FROM s3),
scr AS (
  SELECT doc_id, t4 AS text,
         CAST(c0 + c1 + c2 + c3 + c4 AS BIGINT) AS n_redactions,
         quality_score
  FROM s4),
keep AS (SELECT MIN(doc_id) AS doc_id FROM scr GROUP BY text)
SELECT s.doc_id, s.text, s.n_redactions, s.quality_score
FROM scr s JOIN keep USING (doc_id)""",
        "doc_stats": """
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN TRIM(text) = '' THEN []
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents)
SELECT doc_id,
       CAST(len(ts) AS BIGINT) AS token_count,
       CAST(LENGTH(text) AS BIGINT) AS char_count,
       CASE WHEN len(ts) > 0 THEN
         ROUND(list_sum(list_transform(ts, t -> LENGTH(t)))::DOUBLE / len(ts), 6)
       END AS avg_token_len,
       CASE WHEN len(ts) > 0 THEN
         ROUND(len(list_distinct(ts))::DOUBLE / len(ts), 6)
       END AS distinct_ratio
FROM toks""",
        "lang_guess": f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(string_split_regex(TRIM(text), '\\s+'),
                        t -> LOWER(t)) AS ts
  FROM documents),
scored AS (
  SELECT doc_id,
         len(list_filter(ts, t -> list_contains({_sql_list('de')}, t))) AS h_de,
         len(list_filter(ts, t -> list_contains({_sql_list('en')}, t))) AS h_en,
         len(list_filter(ts, t -> list_contains({_sql_list('es')}, t))) AS h_es
  FROM toks)
SELECT doc_id,
       CASE WHEN GREATEST(h_de, h_en, h_es) = 0 THEN 'und'
            WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
            WHEN h_en >= h_de THEN 'en'
            ELSE 'de' END AS lang_guess
FROM scored""",
        "incremental_dedup": """
WITH oldh AS (
  SELECT DISTINCT md5(COALESCE(text, CHR(0) || 'NULL' || CHR(0))) AS h
  FROM documents WHERE doc_id % 2 = 0),
newd AS (
  SELECT doc_id, md5(COALESCE(text, CHR(0) || 'NULL' || CHR(0))) AS h
  FROM documents WHERE doc_id % 2 = 1),
fresh AS (
  SELECT n.doc_id, n.h FROM newd n
  LEFT JOIN oldh o USING (h) WHERE o.h IS NULL)
SELECT doc_id FROM (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM fresh) WHERE rn = 1""",
        "dedup_exact": """
SELECT md5(COALESCE(text, CHR(0) || 'NULL' || CHR(0))) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS dup_count
FROM documents GROUP BY 1""",
        "media_meta": """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents""",
        "ann_topk": """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
          FROM (SELECT UNNEST(q.embedding) AS a,
                       UNNEST(c.embedding) AS b) x)
         / (SQRT((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                  FROM (SELECT UNNEST(q.embedding) AS a) y))
            * SQRT((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                    FROM (SELECT UNNEST(c.embedding) AS b) z))) AS cos
  FROM q, embeddings c WHERE q.vec_id != c.vec_id)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM pairs) r
WHERE rnk <= 3""",
        "ann_topk_ivf": """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
          FROM (SELECT UNNEST(q.embedding) AS a,
                       UNNEST(c.embedding) AS b) x)
         / (SQRT((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                  FROM (SELECT UNNEST(q.embedding) AS a) y))
            * SQRT((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                    FROM (SELECT UNNEST(c.embedding) AS b) z))) AS cos
  FROM q, embeddings c WHERE q.vec_id != c.vec_id)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM pairs) r
WHERE rnk <= 3""",
        # exhaustive probing over the prebuilt index == exact brute
        # force: same oracle as ann_topk_ivf
        "ann_topk_indexed": """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
          FROM (SELECT UNNEST(q.embedding) AS a,
                       UNNEST(c.embedding) AS b) x)
         / (SQRT((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                  FROM (SELECT UNNEST(q.embedding) AS a) y))
            * SQRT((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                    FROM (SELECT UNNEST(c.embedding) AS b) z))) AS cos
  FROM q, embeddings c WHERE q.vec_id != c.vec_id)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM pairs) r
WHERE rnk <= 3""",
        "ann_topk_pq": """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (SELECT SUM(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
          FROM (SELECT UNNEST(q.embedding) AS a,
                       UNNEST(c.embedding) AS b) x)
         / (SQRT((SELECT SUM(CAST(y.a AS DOUBLE) * CAST(y.a AS DOUBLE))
                  FROM (SELECT UNNEST(q.embedding) AS a) y))
            * SQRT((SELECT SUM(CAST(z.b AS DOUBLE) * CAST(z.b AS DOUBLE))
                    FROM (SELECT UNNEST(c.embedding) AS b) z))) AS cos
  FROM q, embeddings c WHERE q.vec_id != c.vec_id)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      FROM pairs) r
WHERE rnk <= 3""",
        "indexed_paths": """
SELECT doc_id,
       CAST(n_chars AS DOUBLE) AS h0d,
       CAST(n_chars % 100 AS DOUBLE) AS h1d,
       CAST(-1 AS DOUBLE) AS h9d,
       'nm=' || lang AS nm_key
FROM documents""",
        "vw_labeled": """
SELECT doc_id,
       CAST(doc_id % 5 AS VARCHAR) || ' ' || CAST(doc_id % 5 AS VARCHAR)
       || '| lang=' || COALESCE(lang, 'UNK') AS vw_line
FROM documents""",
        "cb_lines": """
SELECT doc_id,
       CAST(doc_id % 3 + 1 AS VARCHAR) || ':' || CAST(doc_id % 7 AS VARCHAR)
       || ':0.25 | lang=' || COALESCE(lang, 'UNK') AS cb_line
FROM documents""",
        "multilabel_blocks": """
SELECT doc_id,
       'shared | lang=' || COALESCE(lang, 'UNK') || chr(10)
       || '2147483648:1 |y N' || chr(10)
       || '2147483649:0 |y P' || chr(10)
       || '0:' || (CASE WHEN doc_id % 4 = 0 THEN '0' ELSE '1' END)
       || ' |Y _0' || chr(10)
       || '1:' || (CASE WHEN doc_id % 4 = 1 THEN '0' ELSE '1' END)
       || ' |Y _1' || chr(10)
       || '2:' || (CASE WHEN doc_id % 4 = 2 THEN '0' ELSE '1' END)
       || ' |Y _2' || chr(10)
       || '3:' || (CASE WHEN doc_id % 4 = 3 THEN '0' ELSE '1' END)
       || ' |Y _3' AS block_txt
FROM documents""",
        "multilabel_downsampled": """
SELECT doc_id,
       'shared | lang=' || COALESCE(lang, 'UNK') || chr(10)
       || '2147483648:1 |y N' || chr(10)
       || '2147483649:0 |y P' || chr(10)
       || '0:' || (CASE WHEN doc_id % 4 = 0 THEN '0' ELSE '1' END)
       || ' |Y _0' || chr(10)
       || '1:' || (CASE WHEN doc_id % 4 = 1 THEN '0' ELSE '1' END)
       || ' |Y _1' || chr(10)
       || '2:' || (CASE WHEN doc_id % 4 = 2 THEN '0' ELSE '1' END)
       || ' |Y _2' || chr(10)
       || '3:' || (CASE WHEN doc_id % 4 = 3 THEN '0' ELSE '1' END)
       || ' |Y _3' AS block_txt
FROM documents""",
        "sos2_weights": """
WITH d AS (SELECT doc_id, LEAST(GREATEST(n_chars, 0), 1024) AS v
           FROM documents),
c AS (SELECT doc_id, CAST(v // 128 AS BIGINT) AS b,
             CAST(v % 128 AS DOUBLE) / 128 AS frac
      FROM d)
SELECT doc_id, bin_key, wt FROM (
  SELECT doc_id, 'b=' || CAST(b * 128 AS VARCHAR) AS bin_key,
         CAST(1 AS DOUBLE) - (CASE WHEN frac = 0 THEN 0 ELSE frac END) AS wt
  FROM c
  UNION ALL
  SELECT doc_id, 'b=' || CAST((b + 1) * 128 AS VARCHAR), frac
  FROM c WHERE frac > 0) t""",
        "csos2_weights": """
WITH d AS (SELECT doc_id, n_chars AS v FROM documents)
SELECT doc_id, bin_key, wt FROM (
  SELECT doc_id, 'c=0' AS bin_key, CAST(1 AS DOUBLE) AS wt
  FROM d WHERE v <= 0
  UNION ALL SELECT doc_id, 'c=896', CAST(1 AS DOUBLE) FROM d WHERE v >= 896
  UNION ALL SELECT doc_id, 'c=128', CAST(1 AS DOUBLE) FROM d WHERE v = 128
  UNION ALL SELECT doc_id, 'c=384', CAST(1 AS DOUBLE) FROM d WHERE v = 384
  UNION ALL SELECT doc_id, 'c=0', CAST(128 - v AS DOUBLE) / 128
    FROM d WHERE v > 0 AND v < 128
  UNION ALL SELECT doc_id, 'c=128', CAST(v AS DOUBLE) / 128
    FROM d WHERE v > 0 AND v < 128
  UNION ALL SELECT doc_id, 'c=128', CAST(384 - v AS DOUBLE) / 256
    FROM d WHERE v > 128 AND v < 384
  UNION ALL SELECT doc_id, 'c=384', CAST(v - 128 AS DOUBLE) / 256
    FROM d WHERE v > 128 AND v < 384
  UNION ALL SELECT doc_id, 'c=384', CAST(896 - v AS DOUBLE) / 512
    FROM d WHERE v > 384 AND v < 896
  UNION ALL SELECT doc_id, 'c=896', CAST(v - 384 AS DOUBLE) / 512
    FROM d WHERE v > 384 AND v < 896) t""",
        "minhash_trunc": """
SELECT CAST(id AS BIGINT) AS id, token, CAST(cnt AS DOUBLE) AS cnt
FROM (VALUES
  (0,'t=brown',1.0),(0,'t=jumps',1.0),(0,'t=over',1.0),(0,'t=quick',1.0),
  (1,'t=box',1.0),(1,'t=jugs',1.0),(1,'t=liquor',1.0),(1,'t=with',1.0),
  (2,'t=agg',1.0),(2,'t=engine',1.0),(2,'t=feature',1.0),(2,'t=scan',1.0),
  (3,'t=d',1.0),(3,'t=e',1.0),(3,'t=g',1.0),(3,'t=h',1.0)
) v(id, token, cnt)""",
        "vw_normalize": """
SELECT CAST(id AS BIGINT) AS id, norm_line FROM (VALUES
  (0, '| a b:2 c'),
  (1, '|t:0.20000 w1:3 w2:4'),
  (2, '0.5 tag|s:0.89443 x:0.5 y'),
  (3, '| f1:0.1')
) v(id, norm_line)""",
        "hashed_cat": """
SELECT CAST(id AS BIGINT) AS id, label FROM (VALUES
  (0, 'blue'), (1, 'green'), (2, 'green'), (3, 'blue'),
  (4, 'blue'), (5, 'green'), (6, 'blue'), (7, 'green')
) v(id, label)""",
        "libsvm_labeled": """
SELECT CAST(id AS BIGINT) AS id, libsvm_line FROM (VALUES
  (0, '1 119344:1.0 183038:1.0 189968:1.0'),
  (1, '1 36606:1.0 50011:2.0 93231:1.0')
) v(id, libsvm_line)""",
        "regression_spline": """
SELECT doc_id,
       2.0 * LEAST(GREATEST(
         CAST(CASE WHEN lang = 'en' THEN 0.5
                   WHEN lang = 'de' THEN -0.25
                   WHEN lang = 'es' THEN 0.75
                   ELSE 0.0 END AS DOUBLE)
         + 0.5 * (CAST(n_chars AS DOUBLE) * 0.015625)
         + CAST(1.0 AS DOUBLE), CAST(0 AS DOUBLE)), CAST(32 AS DOUBLE))
       AS score
FROM documents""",
        "feature_vectors_jvm": _feature_vectors_jvm_oracle(),
        # r5: formerly rows-only — promoted to hash-MATCH via the
        # fixed-vocabulary literal-hash technique (see _DOC_VOCAB)
        "feature_vectors": _feature_vectors_oracle(),
        "vw_lines": _vw_lines_oracle(),
        "libsvm_lines": _libsvm_lines_oracle(),
        "doc_fingerprint": _doc_fingerprint_oracle(),

        "heavy_hitters": """
WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS token
             FROM documents),
tot AS (SELECT COUNT(*) AS t FROM tok),
g AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
SELECT g.token, g.cnt,
       ROUND(CAST(g.cnt AS DOUBLE) / t, 6) AS freq
FROM g, tot WHERE g.cnt >= CEIL(0.033 * t)""",
        "heavy_hitters_bigrams": """
WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
tok AS (SELECT UNNEST(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i+1]))
               AS token
        FROM toks),
tot AS (SELECT COUNT(*) AS t FROM tok),
g AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
SELECT g.token, g.cnt,
       ROUND(CAST(g.cnt AS DOUBLE) / t, 6) AS freq
FROM g, tot WHERE g.cnt >= CEIL(0.0015 * t)""",
        "split_leakage": """
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0
), s AS (
  SELECT doc_id, text,
         CASE WHEN b < 7000 THEN 'train'
              WHEN b < 8500 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id, text,
               ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 10000 AS b
        FROM d) t
), tr AS (
  SELECT text, COUNT(*) AS n_train_copies FROM s
  WHERE split = 'train' GROUP BY text
)
SELECT s.doc_id, s.split, tr.n_train_copies
FROM s JOIN tr USING (text)
WHERE s.split IN ('val', 'test')""",
        "csv_columnar": """
SELECT c_custkey AS key, c_name AS name,
       CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
            AS INTEGER) AS seg_AUTOMOBILE,
       CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
            AS INTEGER) AS seg_BUILDING,
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS bal
FROM customer""",
        "constant_model": """
SELECT r_regionkey, CAST(2.5 AS DOUBLE) AS score FROM region""",
        "error_model": """
SELECT doc_id, CAST(NULL AS DOUBLE) AS score, 'boom' AS errs
FROM documents""",
        "error_swallow": """
SELECT doc_id,
       CASE WHEN n_chars - 200 > 0
            THEN ROUND(LOG2(CAST(n_chars - 200 AS DOUBLE)), 6) END AS score,
       CASE WHEN n_chars - 200 > 0 THEN ''
            ELSE 'error swallowed: submodel produced no score' END AS errs
FROM documents""",
        "model_tree_leaves": """
SELECT c_custkey,
       ROUND(CAST(CASE WHEN c_acctbal < 0 THEN -9.0
                       ELSE c_acctbal * 0.5 END AS DOUBLE), 6) AS score
FROM customer""",
        "audit_tree": """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 100 <= 30 THEN 'lo'
            WHEN o_orderkey % 100 <= 60 THEN 'mid'
            ELSE 'hi' END AS segment,
       '7' AS audit_model_id,
       CASE WHEN o_orderkey % 100 <= 30 THEN 'lo'
            WHEN o_orderkey % 100 <= 60 THEN 'mid'
            ELSE 'hi' END AS audit_value,
       '8=' || CAST(o_orderkey % 100 AS VARCHAR) AS child_info
FROM orders""",
        "densify": """
SELECT doc_id,
       CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS d_en,
       CAST(CASE WHEN lang = 'de' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS d_de,
       CAST(CASE WHEN lang = 'es' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS d_es
FROM documents""",
        "featurize_bookkeeping": f"""{T}
SELECT conv_id, turn_idx,
       CASE WHEN tool IS NULL THEN 'tl' ELSE '' END AS miss,
       CASE WHEN len(list_distinct(string_split_regex(TRIM(text), '\\s+'))) = 2
            THEN '' ELSE 'sz' END AS errs
FROM transcripts""",
        "bpe_tokens": """
SELECT doc_id,
       CAST(CASE WHEN TRIM(text) = '' THEN 0
                 ELSE len(string_split_regex(TRIM(text), '\\s+')) END
            AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text,
            '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+',
            0)) AS BIGINT) AS bpe_tokens
FROM documents""",
        "jaccard_pairs": """
WITH ids AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(len(ts) - 3, 0) + 2),
           i -> array_to_string(ts[i:i+2], ' '))) AS s
  FROM (SELECT doc_id,
               string_split_regex(TRIM(text), '\\s+') AS ts FROM ids) t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id""",
        "epsilon_pin": """
SELECT CAST(uid AS BIGINT) AS uid, act, CAST(act_prob AS DOUBLE) AS act_prob
FROM (VALUES
  (0,'a',0.8125),(1,'a',0.8125),(2,'a',0.8125),(3,'a',0.8125),
  (4,'a',0.8125),(5,'a',0.8125),(6,'b',0.0625),(7,'a',0.8125),
  (8,'d',0.0625),(9,'a',0.8125),(10,'a',0.8125),(11,'a',0.8125),
  (12,'c',0.0625),(13,'b',0.0625),(14,'a',0.8125),(15,'a',0.8125),
  (16,'c',0.0625),(17,'a',0.8125),(18,'a',0.8125),(19,'a',0.8125)
) v(uid, act, act_prob)""",
        "bootstrap_pin": """
SELECT CAST(uid AS BIGINT) AS uid, act, CAST(act_prob AS DOUBLE) AS act_prob
FROM (VALUES
  (0,'a',0.5),(1,'b',0.5),(2,'b',0.5),(3,'a',0.5),(4,'b',0.5),
  (5,'b',0.5),(6,'b',0.5),(7,'a',0.5),(8,'a',0.5),(9,'b',0.5),
  (10,'b',0.5),(11,'a',0.5),(12,'b',0.5),(13,'a',0.5),(14,'a',0.5),
  (15,'b',0.5),(16,'a',0.5),(17,'b',0.5),(18,'a',0.5),(19,'a',0.5)
) v(uid, act, act_prob)""",
        "embed_neardup": """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         (SELECT SUM(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
          FROM (SELECT UNNEST(a.embedding) AS u,
                       UNNEST(b.embedding) AS v) x)
         / (SQRT((SELECT SUM(CAST(y.u AS DOUBLE) * CAST(y.u AS DOUBLE))
                  FROM (SELECT UNNEST(a.embedding) AS u) y))
            * SQRT((SELECT SUM(CAST(z.v AS DOUBLE) * CAST(z.v AS DOUBLE))
                    FROM (SELECT UNNEST(b.embedding) AS v) z))) AS c
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, ROUND(c, 6) AS cosine
FROM pairs WHERE c >= 0.35""",
        "split_assign": """
SELECT doc_id,
       CASE WHEN b < 9800 THEN 'train'
            WHEN b < 9900 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 10000 AS b
      FROM documents) t""",
        "strat_sample": """
SELECT doc_id, source
FROM (SELECT doc_id, source,
             ('0x' || substr(md5('sample' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 10000 AS b
      FROM documents) t
WHERE b < CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
              THEN 4000 ELSE 1000 END""",
        # replays temperature_sample's rate arithmetic verbatim (same
        # association order, IEEE sqrt) + the md5-bucket filter; the
        # +1e-9 threshold epsilon matches the operator (absorbs
        # aggregation-order ulp noise in SUM(SQRT(n_s)))
        "temperature_sample": """
WITH counts AS (SELECT source, COUNT(*) AS n_s FROM documents
                GROUP BY source),
tot AS (SELECT SUM(n_s) AS n_tot,
               SUM(SQRT(CAST(n_s AS DOUBLE))) AS sum_pow FROM counts),
rates AS (SELECT source,
                 LEAST(1.0, 0.5 * n_tot
                       * (SQRT(CAST(n_s AS DOUBLE)) / sum_pow)
                       / n_s) AS kr
          FROM counts, tot)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
WHERE ('0x' || substr(md5('temp' || CAST(d.doc_id AS VARCHAR)),
                      1, 15))::BIGINT % 10000
      < FLOOR(r.kr * 10000 + 1e-9)""",
        # naive replay of token_budget_sample's keep contract: ONE
        # per-stratum window — the thing the engine deliberately avoids
        # at scale; a green hash proves the coarse-bucket plan computes
        # exactly this definition
        "token_budget": r"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN TRIM(text) = '' THEN 0
              ELSE len(string_split_regex(TRIM(text), '\s+')) END AS tok,
         ('0x' || substr(md5('budget' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT % 10000 AS b
  FROM documents),
c AS (
  SELECT doc_id, source,
         COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY b, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cumb
  FROM t)
SELECT doc_id, source FROM c
WHERE cumb < CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 1500
                         WHEN 'src2' THEN 0 ELSE 800 END""",
        # copy counts replayed from the same md5 bucket + hardcoded
        # floor/threshold literals epoch_mix derives (2.4 -> 2+4000,
        # 0.7 -> 0+7000 with the +1e-9 epsilon, 0 -> drop, 1.0 default)
        "epoch_mix": """
WITH t AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('epoch' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT % 10000 AS b,
         CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                     WHEN 'src2' THEN 0 ELSE 1 END AS nfull,
         CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 7000
                     WHEN 'src2' THEN 0 ELSE 0 END AS thr
  FROM documents),
n AS (SELECT doc_id, source,
             nfull + CASE WHEN b < thr THEN 1 ELSE 0 END AS n_copies
      FROM t)
SELECT doc_id, source, UNNEST(range(n_copies)) AS copy_idx
FROM n WHERE n_copies > 0""",
        "shuffle_order": """
WITH t AS (
  SELECT doc_id,
         md5('shuffle7:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents),
s AS (SELECT doc_id, k,
             ('0x' || substr(k, 1, 15))::BIGINT % 8 AS shard
      FROM t)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
FROM s""",
        "interval_anti": """
WITH iv AS (SELECT user_id, ts AS start_ts,
                   ts + INTERVAL 7200 SECOND AS end_ts
            FROM events WHERE event_type = 'error'),
pt AS (SELECT event_id AS pid, user_id, ts FROM events
       WHERE event_type IN ('click', 'view'))
SELECT pt.pid, pt.user_id
FROM pt WHERE NOT EXISTS (
  SELECT 1 FROM iv WHERE iv.user_id = pt.user_id
    AND pt.ts BETWEEN iv.start_ts AND iv.end_ts)""",
        "top_docs": """
SELECT source, doc_id, n_chars, rk
FROM (SELECT source, doc_id, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rk
      FROM documents) t
WHERE rk <= 3""",
        # systematic-PPS contract replay: cumulative token weights in
        # md5 order, floor-grid hits in exact HUGEINT arithmetic
        "pps_tokens": r"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN TRIM(text) = '' THEN 0
              ELSE len(string_split_regex(TRIM(text), '\s+')) END AS w,
         ('0x' || substr(md5('pps' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT % 10000 AS b
  FROM documents),
c AS (
  SELECT doc_id, source, w,
         SUM(w) OVER (PARTITION BY source ORDER BY b, doc_id) AS cum,
         SUM(w) OVER (PARTITION BY source) AS tw
  FROM t),
h AS (
  SELECT doc_id, source,
         CAST((CAST(cum AS HUGEINT) * 50) // CAST(tw AS HUGEINT)
              - (CAST(cum - w AS HUGEINT) * 50) // CAST(tw AS HUGEINT)
              AS BIGINT) AS n_hits
  FROM c WHERE tw > 0)
SELECT doc_id, source, n_hits FROM h WHERE n_hits > 0""",
        # discrete-quantile contract replay: max(1, ceil(q*n))-th
        # smallest over the same distinct-value histogram
        "length_quantiles": r"""
WITH t AS (SELECT source,
                  CASE WHEN TRIM(text) = '' THEN 0
                       ELSE len(string_split_regex(TRIM(text), '\s+'))
                  END AS v
           FROM documents),
h AS (SELECT source, v, COUNT(*) AS c FROM t GROUP BY source, v),
cum AS (SELECT source, v,
               SUM(c) OVER (PARTITION BY source ORDER BY v) AS cumc,
               SUM(c) OVER (PARTITION BY source) AS n
        FROM h)
SELECT source,
       MIN(CASE WHEN cumc >= GREATEST(1, CEIL(0.5 * n)) THEN v END)
           AS q_0_5,
       MIN(CASE WHEN cumc >= GREATEST(1, CEIL(0.9 * n)) THEN v END)
           AS q_0_9,
       MIN(CASE WHEN cumc >= GREATEST(1, CEIL(0.99 * n)) THEN v END)
           AS q_0_99
FROM cum GROUP BY source""",
        # the oracle runs the NAIVE non-equi range join the operator's
        # binned rewrite must equal exactly
        "interval_join": """
WITH iv AS (SELECT event_id AS iv_id, user_id, ts AS start_ts,
                   ts + INTERVAL 7200 SECOND AS end_ts
            FROM events WHERE event_type = 'error'),
pt AS (SELECT event_id AS pid, user_id, ts FROM events
       WHERE event_type IN ('click', 'view'))
SELECT pt.pid, iv.iv_id
FROM pt JOIN iv ON pt.user_id = iv.user_id
     AND pt.ts BETWEEN iv.start_ts AND iv.end_ts""",
        "corpus_report": r"""
WITH base AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\s+')) END)
              AS BIGINT) AS total_tokens,
         COUNT(DISTINCT md5(COALESCE(text, chr(0) || 'null')))
             AS n_unique_texts
  FROM documents GROUP BY source),
langs AS (
  SELECT source, lang, COUNT(*) AS lc,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY COUNT(*) DESC, lang ASC NULLS LAST)
             AS rk
  FROM documents GROUP BY source, lang)
SELECT b.source, b.n_docs, b.total_tokens, b.n_unique_texts,
       b.total_tokens / b.n_docs AS mean_tokens,
       1.0 - b.n_unique_texts / b.n_docs AS dup_frac,
       l.lang AS top_lang, l.lc / b.n_docs AS top_lang_frac
FROM base b LEFT JOIN langs l
  ON b.source IS NOT DISTINCT FROM l.source AND l.rk = 1""",
        "repetition_stats": """
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ts
  FROM documents),
tok AS (SELECT doc_id, UNNEST(ts) AS token FROM toks),
topc AS (
  SELECT doc_id, MAX(c) AS top_c
  FROM (SELECT doc_id, token, COUNT(*) AS c FROM tok
        GROUP BY doc_id, token) t
  GROUP BY doc_id),
grams AS (
  SELECT doc_id,
         list_transform(range(1, len(ts)),
                        i -> ts[i] || ' ' || ts[i+1]) AS g2,
         list_transform(range(1, len(ts) - 1),
                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
             AS g3
  FROM toks)
SELECT t.doc_id,
       CAST(len(t.ts) AS BIGINT) AS n_tokens,
       CASE WHEN len(t.ts) > 0
            THEN CAST(c.top_c AS DOUBLE) / len(t.ts) END AS top_token_frac,
       CASE WHEN len(g.g2) > 0
            THEN CAST(len(g.g2) - len(list_distinct(g.g2)) AS DOUBLE)
                 / len(g.g2) END AS dup_bigram_frac,
       CASE WHEN len(g.g3) > 0
            THEN CAST(len(g.g3) - len(list_distinct(g.g3)) AS DOUBLE)
                 / len(g.g3) END AS dup_trigram_frac
FROM toks t
JOIN topc c ON t.doc_id = c.doc_id
JOIN grams g ON t.doc_id = g.doc_id""",
        "decontam": """
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ts
  FROM documents),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(range(1, len(ts) - 1),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS gram
  FROM toks),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
agg AS (
  SELECT g.doc_id, COUNT(*) AS total,
         SUM(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) AS hits
  FROM grams g LEFT JOIN bench b ON g.gram = b.gram
  GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(a.total, 0) AS BIGINT) AS total_grams,
       CAST(COALESCE(a.hits, 0) AS BIGINT) AS hit_grams,
       COALESCE(CAST(a.hits AS DOUBLE) / a.total, 0.0) AS contam_frac,
       COALESCE(CAST(a.hits AS DOUBLE) / a.total, 0.0) >= 0.2
           AS contaminated
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
        "quality_clf_score": """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND TRIM(text) != ''),
bk AS (
  SELECT doc_id,
         ('0x' || substr(md5('qclf' || tok), 1, 15))::BIGINT % 1024 AS b
  FROM toks),
cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bk GROUP BY doc_id, b),
agg AS (
  SELECT doc_id,
         SUM(((b % 997) / 997.0 - 0.5) * c) / SQRT(SUM(c * c)) AS z
  FROM cnt GROUP BY doc_id)
SELECT d.doc_id,
       ROUND(1.0 / (1.0 + EXP(-(COALESCE(a.z, 0.0) + 0.25))), 6)
         AS quality_prob
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
        "decontam_bloom": """
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS ts
  FROM documents),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(range(1, len(ts) - 1),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS gram
  FROM toks),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
agg AS (
  SELECT g.doc_id, COUNT(*) AS total,
         SUM(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) AS hits
  FROM grams g LEFT JOIN bench b ON g.gram = b.gram
  GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(a.total, 0) AS BIGINT) AS total_grams,
       CAST(COALESCE(a.hits, 0) AS BIGINT) AS hit_grams,
       COALESCE(CAST(a.hits AS DOUBLE) / a.total, 0.0) AS contam_frac,
       COALESCE(CAST(a.hits AS DOUBLE) / a.total, 0.0) >= 0.2
           AS contaminated
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
        "doc_chunks": """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT doc_id, ts,
         CASE WHEN len(ts) <= 0 THEN 0
              WHEN len(ts) <= 32 THEN 1
              ELSE 1 + CAST(CEIL((len(ts) - 32) / 24.0) AS INT) END AS k
  FROM toks),
idx AS (SELECT doc_id, ts, UNNEST(range(0, k)) AS i FROM c)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       array_to_string(ts[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)],
                       ' ') AS chunk_text,
       CAST(len(ts[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)]) AS INT)
           AS n_tokens
FROM idx""",
        "top_tokens": """
WITH toks AS (
  SELECT CASE WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents WHERE text IS NOT NULL)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT UNNEST(ts) AS token FROM toks) t
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 50""",
        # chunk arithmetic replayed for budget 64 / stride 48; the two
        # pack invariant columns are pinned 0 — the Spark side computes
        # them from the ACTUAL pack assignment, so any BFD budget
        # violation or spurious oversized flag breaks this row
        "shard_stats": """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT doc_id, ts,
         CASE WHEN len(ts) <= 0 THEN 0
              WHEN len(ts) <= 64 THEN 1
              ELSE 1 + CAST(CEIL((len(ts) - 64) / 48.0) AS INT) END AS k
  FROM toks),
idx AS (SELECT doc_id, ts, UNNEST(range(0, k)) AS i FROM c),
ch AS (
  SELECT len(ts[CAST(i*48+1 AS INT) : CAST(i*48+64 AS INT)]) AS n_tokens
  FROM idx)
SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(n_tokens) AS INT) AS max_chunk_tokens,
       CAST(0 AS BIGINT) AS over_budget_packs,
       CAST(0 AS BIGINT) AS oversized_chunks
FROM ch""",
        # paragraphize (5-token windows), first occurrence by
        # (doc_id, pidx) wins, ordered reassembly — the full
        # RefinedWeb-style paragraph dedup replayed in SQL
        "dedup_paragraphs": """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT doc_id, ts,
         CASE WHEN len(ts) <= 5 THEN 1
              ELSE 1 + CAST(CEIL((len(ts) - 5) / 5.0) AS INT) END AS k
  FROM toks),
paras AS (
  SELECT doc_id, CAST(i AS INT) AS pidx,
         TRIM(array_to_string(
             ts[CAST(i*5+1 AS INT) : CAST(i*5+5 AS INT)], ' ')) AS p
  FROM (SELECT doc_id, ts, UNNEST(range(0, k)) AS i FROM c)),
kept AS (
  SELECT doc_id, pidx, p FROM paras WHERE p <> ''
  QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY doc_id, pidx) = 1)
SELECT doc_id, string_agg(p, chr(10) ORDER BY pidx) AS text,
       CAST(COUNT(*) AS BIGINT) AS n_paras_kept
FROM kept GROUP BY doc_id""",
        "line_filter": """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT doc_id, ts,
         CASE WHEN len(ts) <= 4 THEN 1
              ELSE 1 + CAST(CEIL((len(ts) - 4) / 4.0) AS INT) END AS k
  FROM toks),
lns AS (
  SELECT doc_id, CAST(i AS INT) AS lidx,
         TRIM(array_to_string(
             ts[CAST(i*4+1 AS INT) : CAST(i*4+4 AS INT)], ' ')) AS l
  FROM (SELECT doc_id, ts, UNNEST(range(0, k)) AS i FROM c)),
ne AS (SELECT doc_id, lidx, l FROM lns WHERE l <> ''),
freq AS (SELECT l, COUNT(*) AS f FROM ne GROUP BY l),
tagged AS (SELECT ne.doc_id, ne.lidx, ne.l, freq.f
           FROM ne JOIN freq USING (l))
SELECT doc_id,
       string_agg(CASE WHEN f <= 2 THEN l END, chr(10)
                  ORDER BY lidx) AS text,
       CAST(SUM(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_kept,
       CAST(SUM(CASE WHEN f > 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lines_dropped
FROM tagged GROUP BY doc_id
HAVING n_lines_kept > 0""",
        # DSIR bucket models refit in SQL: same md5 bucket hash, same
        # add-one smoothing with identical association order, so the
        # per-document double sums agree to ~1e-13
        "dsir_weight": """
WITH toks AS (
  SELECT doc_id, lang,
         CASE WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents WHERE text IS NOT NULL),
gb AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('dsir' || g), 1, 15))::BIGINT % 512 AS b
  FROM (SELECT doc_id, lang,
               UNNEST(list_concat(ts,
                   list_transform(range(1, len(ts)),
                                  i -> ts[i] || ' ' || ts[i+1]))) AS g
        FROM toks)),
tc AS (SELECT b, COUNT(*) AS ct FROM gb WHERE lang = 'en' GROUP BY b),
rc AS (SELECT b, COUNT(*) AS cr FROM gb GROUP BY b),
tt AS (SELECT COALESCE(SUM(ct), 0) AS tt FROM tc),
tr AS (SELECT SUM(cr) AS tr FROM rc),
lw AS (SELECT b, LN((COALESCE(ct, 0) + 1.0) / (tt + 512.0))
              - LN((cr + 1.0) / (tr + 512.0)) AS lw
       FROM rc LEFT JOIN tc USING (b), tt, tr),
agg AS (SELECT doc_id, COUNT(*) AS n_grams, SUM(lw) AS w
        FROM gb JOIN lw USING (b) GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
       COALESCE(a.w, 0.0) AS dsir_logweight
FROM documents d LEFT JOIN agg a USING (doc_id)""",
        # ExactSubstr replayed in SQL: 4-token window enumeration,
        # global first-occurrence race (row_number over the span,
        # ordered by doc_id then position), covered-position union,
        # index-filtered reassembly
        "span_dedup": """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents),
spans AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         array_to_string(ts[CAST(i AS INT) : CAST(i + 3 AS INT)],
                         ' ') AS sp
  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts) - 2)) AS i
        FROM toks WHERE ts IS NOT NULL)),
dup AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY sp
                                  ORDER BY doc_id, pos) AS rn
        FROM spans) t
  WHERE rn > 1),
cov AS (
  SELECT DISTINCT doc_id, CAST(UNNEST(range(pos, pos + 4)) AS INT) AS j
  FROM dup),
tok AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS j, ts[CAST(i AS INT)] AS tk
  FROM (SELECT doc_id, ts, UNNEST(range(1, len(ts) + 1)) AS i
        FROM toks WHERE ts IS NOT NULL)),
agg AS (
  SELECT t.doc_id, string_agg(t.tk, ' ' ORDER BY t.j) AS txt
  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j
  WHERE c.j IS NULL GROUP BY t.doc_id),
remagg AS (SELECT doc_id, COUNT(*) AS nrem FROM cov GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE COALESCE(a.txt, '') END AS text,
       CAST(COALESCE(r.nrem, 0) AS BIGINT) AS n_tokens_removed
FROM documents d
LEFT JOIN agg a USING (doc_id)
LEFT JOIN remagg r USING (doc_id)""",
        # the corpus unigram LM refit in SQL; join strategy (hybrid
        # broadcast-head vs plain) cannot change the result, so one
        # plain join oracles both Spark paths
        "unigram_xent": """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN TRIM(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(TRIM(text), '\\s+') END AS ts
  FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, UNNEST(ts) AS t FROM toks),
vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
tot AS (SELECT SUM(c) AS n FROM vocab),
lp AS (SELECT t, LN(CAST(c AS DOUBLE) / n) AS lp FROM vocab, tot),
agg AS (SELECT doc_id, COUNT(*) AS n_tokens, -AVG(lp) AS xent
        FROM tok JOIN lp USING (t) GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       a.xent AS xent
FROM documents d LEFT JOIN agg a USING (doc_id)""",
    }
    # the indexed PQ search must be exactly as correct as the
    # refit-per-call one: same exhaustive brute-force oracle
    d["ann_topk_pq_indexed"] = d["ann_topk_pq"]
    return d


def _sql_list(lang: str) -> str:
    from aloha_spark.operators.textstats import STOPWORDS
    inner = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"[{inner}]"

"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

The flagship measurement is the end-to-end point-in-time featurization
(as-of join + windowed features + hashed sparse feature vectors) over
the transcript view of the events table; ``turns_per_sec`` is reported
alongside.  Every query materializes via the noop sink (full compute,
no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aloha_spark.tuning import arrow_batch_rows, worker_channel_confs


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aloha-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.default.parallelism", str(max(2 * cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # shared batch-size knob (see aloha_spark/tuning.py for the
        # batches-per-task measurement behind it)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_batch_rows(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # UDS worker channel: immune to the host's loopback-TCP packet
        # loss (see aloha_spark/tuning.py::worker_channel_confs)
        .config(map=worker_channel_confs())
        .getOrCreate()
    )


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def host_probe(spark, reps: int = 3) -> dict:
    """Fixed-size host-health microprobes, recorded alongside every
    bench artifact so a reader can separate ENGINE capability from HOST
    phase.  This hypervisor has multi-minute episodes in which guest
    kernel paths (the JVM<->Python worker channel above all) run up to
    ~10x slow while pure-userspace compute is barely affected (see
    _RUNNER_2M's protocol note).  Two probes quantify the phase at
    artifact time:

    - ``jvm``: pure whole-stage-codegen aggregate over ``range`` — no
      Python workers, no shuffle reads; tracks raw CPU/DRAM health.
    - ``channel``: identity ``mapInArrow`` over the same row count —
      isolates Arrow serialization + the JVM<->Python socket round
      trip, the path the episodes hit hardest.

    A clean phase measures channel/jvm ≈ 2-3x; a dirty phase ≥ 6x.
    All raw walls are disclosed, min is reported."""
    n = 2_000_000

    def _ident(it):
        for b in it:
            yield b

    jvm_df = spark.range(n * 50, numPartitions=64) \
                  .selectExpr("sum(id * 3 + 1) AS s")
    chan_df = spark.range(n, numPartitions=64).mapInArrow(_ident, "id long")
    materialize(chan_df)                       # warm Python workers
    jvm_walls, chan_walls = [], []
    for _ in range(reps):
        t0 = time.time()
        materialize(jvm_df)
        jvm_walls.append(round(time.time() - t0, 3))
        t0 = time.time()
        materialize(chan_df)
        chan_walls.append(round(time.time() - t0, 3))
    return {
        "jvm_sec": min(jvm_walls),
        "channel_sec": min(chan_walls),
        "channel_jvm_ratio": round(min(chan_walls) / min(jvm_walls), 2),
        "jvm_walls": jvm_walls,
        "channel_walls": chan_walls,
    }


def flagship(spark, sf_dir):
    """entry()-equivalent pipeline at the bench scale factor."""
    import __spark_entry__ as em
    from aloha_spark.plans.flagship import FLAGSHIP_SPEC_SMALL, flagship_vectors

    t = em.transcripts_from_events(spark, sf_dir)
    s = em.state_from_events(spark, sf_dir)
    return flagship_vectors(t, s, spec=FLAGSHIP_SPEC_SMALL,
                            state_cols=["state_score"])


def flagship_synthetic(spark, n_turns: int = 2_000_000):
    """The scaling workload at bench time: production-shaped featurize
    over n_turns synthetic transcripts (cached parquet in /tmp)."""
    import os

    from aloha_spark.data.transcripts import make_state, make_transcripts
    from aloha_spark.plans.flagship import flagship_vectors

    data_dir = f"/tmp/aloha_bench_{n_turns}"
    if not os.path.exists(f"{data_dir}/state/_SUCCESS"):
        n_convs = max(100, n_turns // 100)
        mega = n_turns // 100
        per_conv = (n_turns - mega) // n_convs
        t = make_transcripts(spark, n_convs=n_convs, turns_per_conv=per_conv,
                             mega_turns=mega, partitions=64)
        t.write.mode("overwrite").parquet(f"{data_dir}/turns")
        make_state(spark, spark.read.parquet(f"{data_dir}/turns")) \
            .write.mode("overwrite").parquet(f"{data_dir}/state")
    turns = spark.read.parquet(f"{data_dir}/turns")
    state = spark.read.parquet(f"{data_dir}/state")
    return flagship_vectors(turns, state,
                            state_cols=["state_score", "state_tag"],
                            hot_keys=["mega"], salt_buckets=8), n_turns


_RUNNER_2M = """
import json, sys, time
sys.path.insert(0, {repo!r})
from bench import build_spark, materialize, flagship_synthetic
spark = build_spark({cpus})
df, n = flagship_synthetic(spark, {n_turns})
materialize(df.limit(100000))  # warm-up (JIT, Python workers)
# Adaptive best-of: this host has multi-minute hypervisor episodes in
# which guest kernel paths (the JVM<->Python channel above all) run up
# to 10x slow while pure-userspace compute is unaffected — measured by
# per-thread /proc accounting: slow reps burn ~4x more *system* than
# user CPU in both the executor-task threads and the Python workers,
# with zero reported steal and identical work (a concurrent pure-CPU
# probe stays fast through the same seconds on clean phases; in dirty
# phases same-session walls decay 60 -> 14s over ~6 reps).  Converged
# = two consecutive reps within 5% of the session min (clean phase:
# stops at 3 reps); otherwise keep probing up to 8 reps so a decaying
# phase still reaches its floor.
walls = []
while True:
    t0 = time.time()
    materialize(df)
    walls.append(time.time() - t0)
    lo = min(walls)
    if len(walls) >= 3 and max(walls[-2:]) <= lo * 1.05:
        break
    # cap the window by reps AND by wall budget: a fully gated phase
    # must not stall the whole bench (the spaced-window min still
    # recovers capability when any one window lands clean)
    if len(walls) >= 8 or sum(walls) > 300:
        break
print(json.dumps({{"wall_sec": min(walls),
                   "walls": [round(w, 2) for w in walls]}}))
spark.stop()
"""


def _measure_streaming(spark, n_convs: int = 5000,
                       turns_per_conv: int = 100, files: int = 8,
                       files_per_batch: int = 2) -> dict:
    """Streaming-tail throughput: the stateful per-turn feature operator
    (applyInPandasWithState) over a multi-file source drained with
    availableNow into a checkpointed parquet sink — the production
    shape, including cross-micro-batch state carry.  Measured once
    (streaming setup dominates short reps; the number is a floor)."""
    import shutil
    import tempfile

    from aloha_spark.data.transcripts import make_transcripts
    from aloha_spark.streaming.stateful import run_turn_features_to_sink

    root = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        src = os.path.join(root, "src")
        n = n_convs * turns_per_conv
        make_transcripts(spark, n_convs, turns_per_conv) \
            .repartitionByRange(files, "ts") \
            .write.mode("overwrite").parquet(src)
        t0 = time.time()
        run_turn_features_to_sink(
            spark, src, os.path.join(root, "out"),
            os.path.join(root, "ckpt"), max_files=files_per_batch)
        wall = time.time() - t0
        return {"rows": n, "wall_sec": round(wall, 3),
                "rows_per_sec": round(n / wall, 1)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _measure_2m_subprocess(cpus: int, n_turns: int) -> tuple:
    import subprocess
    repo = os.path.dirname(os.path.abspath(__file__))
    script = _RUNNER_2M.format(repo=repo, cpus=cpus, n_turns=n_turns)
    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise RuntimeError("2M subprocess measurement failed")
    line = [ln for ln in out.stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    rec = json.loads(line)
    return rec["wall_sec"], rec.get("walls", [])


BENCH_QUERIES = [
    "pit_pipeline", "asof_state", "asof_salted", "sessionize",
    "window_lag_lead", "rolling_tool_count", "session_stats",
    "pricing_summary", "broadcast_join", "linear_score",
    "doc_tokens", "doc_stats", "dedup_exact", "dedup_minhash",
    "simhash", "ann_topk", "feature_vectors", "vw_lines",
    # round 2: flat libsvm assembly, JVM regression scoring, multi-table
    # LSH, BPE-ish token counting, multilabel blocks
    "libsvm_lines", "regression_spline", "embed_neardup_lsh",
    "bpe_tokens", "multilabel_blocks",
    # round 3: the full curation composition (quality -> lang -> scrub
    # -> exact dedup), all-JVM except nothing — zero Python workers
    "doc_curate",
    # round 3: corpus family — broadcast-probe decontamination and
    # vocabulary top-k (both all-JVM)
    "decontam", "top_tokens",
    # round 4: Gopher repetition signals (all-JVM map) and
    # temperature-mixture sampling (S-row count scan + broadcast filter)
    "repetition_stats", "temperature_sample",
    # round 4b: paragraph-level exact dedup (two skew-proof shuffles),
    # DSIR importance weights (broadcast log-ratio relation), and
    # corpus-unigram-LM cross-entropy (hybrid head/tail probability
    # join) — all-JVM
    "dedup_paragraphs", "dsir_weight", "unigram_xent",
    # round 4b: exact duplicated-span removal (ExactSubstr; zip_with
    # span enumeration, skew-proof keeper aggregation)
    "span_dedup",
    # round 4b: corpus-frequency line filter (digest-keyed partial-agg
    # count, skew-proof join), semantic dedup over embedding clusters
    # (broadcast centroids + per-cluster epsilon-ball), and full BPE
    # encoding with a corpus-trained merge table
    "line_filter", "semdedup", "bpe_encode",
    # round 4c: PQ/ADC ANN with exact rerank, bloom-filter
    # decontamination (per-partition bitmask build + map-side probe),
    # learned quality classifier (partition-partial-gradient training +
    # broadcast-weights scoring), and the persistable ANN index
    # (build -> publish -> load -> partition-pruned query)
    "ann_topk_pq", "decontam_bloom", "quality_clf_score",
    "ann_topk_indexed",
    # round 4d: corpus mixing / training-order family — token-budget
    # sampling (coarse-bucket boundary, broadcast verdicts), epoch
    # repetition mixing (map-side explode), deterministic shuffle
    # order (one exchange), data-card report (two partial aggs)
    "token_budget", "epoch_mix", "shuffle_order", "corpus_report",
    # round 4d: interval/range join (binned-expansion equi-join) and
    # exact histogram quantiles (distinct-value collapse, no sort)
    "interval_join", "length_quantiles",
    # round 4d: systematic PPS sampling (coarse-bucket offsets,
    # exact decimal arithmetic)
    "pps_tokens",
    # round 4d: staleness-bounded as-of and WindowGroupLimit top-k
    "asof_tolerance", "top_docs",
    # round 5: exact Misra-Gries heavy hitters (unigram + bigram modes;
    # long-tail vocabulary never shuffles), train/eval split-leakage
    # audit, and the PQ search against a prebuilt index
    "heavy_hitters", "heavy_hitters_bigrams", "split_leakage",
    "ann_topk_pq_indexed",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as em

    # At-scale measurement in its own JVM, once BEFORE the parent
    # session exists and once after everything else: this host has
    # invisible hypervisor CPU-steal episodes lasting minutes that can
    # double any single wall-clock reading; two measurements spaced by
    # the whole bench decorrelate from one episode, and the min is the
    # engine's capability
    big_n = 2_000_000
    t_big, walls_2m = _measure_2m_subprocess(cpus, big_n)

    spark = build_spark(cpus)
    try:
        qdefs = em.queries()
        timings: dict[str, float] = {}
        timings["featurize_2m_synthetic"] = round(t_big, 3)

        # flagship: end-to-end featurization; timed after a JVM/Arrow
        # warm-up pass at a smaller scale.  Every per-query number is
        # best-of-3: this host's hypervisor episodes inflate any single
        # wall (up to ~10x on channel-heavy stages, ~30% elsewhere);
        # the min of spaced readings is the engine's capability, not
        # the hypervisor's.
        n_turns = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        materialize(flagship(spark, "/root/testdata/sf0.001"))  # warm-up

        def best_of(build, reps=3):
            walls = []
            for _ in range(reps):
                # queries that persist() intermediates (dedup/LSH) must
                # not hand a warm cache to the next rep: each rep
                # measures the cold end-to-end query
                spark.catalog.clearCache()
                t0 = time.time()
                materialize(build())
                walls.append(time.time() - t0)
            return min(walls)

        t_flag = best_of(lambda: flagship(spark, sf_dir))
        timings["featurize_e2e"] = round(t_flag, 3)

        for name in BENCH_QUERIES:
            fn = qdefs[name]
            timings[name] = round(best_of(lambda: fn(spark, sf_dir)), 3)

        try:
            streaming = _measure_streaming(spark)
            timings["streaming_featurize_200k"] = streaming["wall_sec"]
        except Exception as e:           # never let the streaming probe
            streaming = {"error": str(e)[:200]}   # sink the whole bench

        t2, w2 = _measure_2m_subprocess(cpus, big_n)
        walls_2m = walls_2m + w2
        # If the two spaced windows disagree by >1.5x, at least one sat
        # in a host episode: take a third, decorrelated reading.
        if max(t_big, t2) > 1.5 * min(t_big, t2):
            t3, w3 = _measure_2m_subprocess(cpus, big_n)
            walls_2m = walls_2m + w3
            t_big = min(t_big, t3)
        t_big = min(t_big, t2)
        timings["featurize_2m_synthetic"] = round(t_big, 3)
        probe = host_probe(spark)
        total = round(sum(timings.values()), 3)
        scaling = None
        try:
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "BENCH", "last_scaling.json")) as f:
                scaling = json.load(f)
        except Exception:
            pass
        print(json.dumps({
            "metric": "e2e_asof_windowed_featurization",
            "value": timings["featurize_e2e"],
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "turns": n_turns,
            "turns_per_sec": round(n_turns / t_flag, 1),
            "turns_per_sec_at_2m": round(big_n / t_big, 1),
            # streaming tail (stateful per-turn features, availableNow
            # drain, checkpointed sink): rows/s floor incl. setup
            "streaming": streaming,
            # every raw 2M wall across the spaced windows, disclosed:
            # this host's episodes inflate single walls up to ~10x
            "featurize_2m_walls": walls_2m,
            # fixed-size host-health probes at artifact time (see
            # host_probe): channel_jvm_ratio ~2-3 = clean phase,
            # >= 6 = hypervisor episode inflating every channel-heavy
            # number above
            "host_probe": probe,
            "total_sec": total,
            "cpus": cpus,
            "scaling": scaling,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

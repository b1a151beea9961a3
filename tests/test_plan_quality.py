"""Physical-plan quality gates: the 100 TB story in assertions.

These verify the *shape* of the plans, not just results:
* parquet scans prune columns and push filters down
* small dimensions broadcast (no shuffle join for orders x nation)
* the as-of window mode contains NO Python stage and exactly one
  exchange for the union; downstream same-key windows reuse it
* decision trees compile to CASE WHEN (no UDF)
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def test_scan_prunes_and_pushes(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1998-09-01") \
          .select("l_returnflag", "l_quantity")
    plan = _plan(q)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"l_returnflag", "l_quantity", "l_shipdate"}
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan


def test_broadcast_join_is_broadcast(spark, sf_dir):
    import __spark_entry__ as em
    plan = _plan(em.q_broadcast_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_window_mode_is_jvm_only(spark):
    from aloha_spark.data.transcripts import make_state, make_transcripts
    from aloha_spark.operators.asof import asof_join
    turns = make_transcripts(spark, n_convs=5, turns_per_conv=5)
    state = make_state(spark, turns)
    out = asof_join(turns, state, state_cols=["state_score"])
    plan = _plan(out, "simple")
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Window") >= 1


def test_asof_plus_windows_reuse_exchange(spark):
    """The as-of union window and the turn-feature windows partition by
    the same key: the plan must not add an exchange per window."""
    from aloha_spark.data.transcripts import make_state, make_transcripts
    from aloha_spark.operators.asof import asof_join
    from aloha_spark.operators.windows import with_backfill, with_lag_lead
    turns = make_transcripts(spark, n_convs=5, turns_per_conv=5)
    state = make_state(spark, turns)
    base = asof_join(turns, state, state_cols=["state_score"])
    one = with_lag_lead(base, ["text"], order=("turn_idx",), lead=False)
    two = with_backfill(one, ["tool"], order=("turn_idx",))
    n_base = _plan(base, "simple").count("Exchange hashpartitioning")
    n_one = _plan(one, "simple").count("Exchange hashpartitioning")
    n_two = _plan(two, "simple").count("Exchange hashpartitioning")
    # the turn windows partition by the same key as the as-of union
    # window: no additional shuffle may appear per window
    assert n_one == n_base, (n_base, n_one)
    assert n_two == n_one, (n_one, n_two)


def test_tree_is_case_when_not_udf(spark):
    from aloha_spark.plans.models import apply_model
    df = spark.createDataFrame([(1.0,)], "a double")
    m = {"modelType": "DecisionTree", "returnBest": True,
         "nodes": [{"id": 0, "value": 0.0,
                    "selector": {"predicates": ["${a} > 0"]},
                    "children": [1]},
                   {"id": 1, "value": 1.0}]}
    plan = _plan(apply_model(df, m, "leaf"), "simple")
    assert "CASE WHEN" in plan
    assert "Python" not in plan


def test_column_tier_features_stay_jvm(spark):
    """Scalar specs must precompute JVM-side (visible as Project
    expressions), only bag features go through Python."""
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    df = spark.createDataFrame([(1.0,)], "v double")
    spec = PipelineSpec.from_json({
        "features": [{"name": "x", "spec": "clamp(${v}, 0, 10) * 2"}],
        "namespaces": {}})
    pipe = FeaturePipeline(spec)
    pre = pipe._with_precomputed(df)
    plan = _plan(pre, "simple")
    assert "least" in plan and "greatest" in plan


def test_linear_score_is_shuffle_free(spark, sf_dir):
    """A1 dot product as a map-literal aggregate: one scan, no join, no
    exchange, no Python."""
    import __spark_entry__ as em
    plan = _plan(em.q_linear_score(spark, sf_dir), "simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_flagship_windows_first_single_window_exchange(spark, tmp_path):
    """The flagship's four turn windows + the as-of union window must
    not multiply exchanges: all four turn windows share ONE
    hashpartitioning(conv_id) exchange, the state branch gets one, and
    the union window adds at most one more (parquet-backed inputs so
    the synthetic generator's own windows don't pollute the count)."""
    from aloha_spark.data.transcripts import make_state, make_transcripts
    from aloha_spark.plans.flagship import point_in_time_features
    make_transcripts(spark, n_convs=5, turns_per_conv=5) \
        .write.parquet(str(tmp_path / "t"))
    turns = spark.read.parquet(str(tmp_path / "t"))
    make_state(spark, turns).write.parquet(str(tmp_path / "s"))
    state = spark.read.parquet(str(tmp_path / "s"))
    out = point_in_time_features(turns, state, state_cols=["state_score"])
    plan = _plan(out, "simple")
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "MapInPandas" not in plan  # join + windows are pure Catalyst


def test_flagship_two_turn_window_operators(spark, tmp_path):
    """The flagship point-in-time plan builds the turn features as two
    projections over one window spec: exactly two turn-side ``Window``
    operators (lag + backfill + ts-delta, then the session id's running
    sum over that ts-delta) plus the as-of fill's one, the timestamp
    ``lag`` computed once, and no exchange besides the turn window's
    and the salted union's."""
    from aloha_spark.data.transcripts import make_state, make_transcripts
    from aloha_spark.plans.flagship import point_in_time_features
    make_transcripts(spark, n_convs=5, turns_per_conv=5, mega_turns=10) \
        .write.parquet(str(tmp_path / "t"))
    turns = spark.read.parquet(str(tmp_path / "t"))
    make_state(spark, turns).write.parquet(str(tmp_path / "s"))
    state = spark.read.parquet(str(tmp_path / "s"))
    out = point_in_time_features(turns, state, hot_keys=["mega"],
                                 state_cols=["state_score"])
    plan = _plan(out, "simple")
    windows = re.findall(r"\bWindow \[.*\], \[([^\]]*)\], \[", plan)
    assert len(windows) == 3, plan
    turn_side = [w for w in windows if "__asof_salt" not in w]
    assert len(turn_side) == 2, windows
    # one lag for prev_text, one for the timestamp behind dt_prev_sec
    # (the session id reuses dt_prev_sec instead of a second lag)
    assert plan.count("lag(") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_ivf_candidate_join_is_broadcast(spark):
    """IVF probe join must broadcast the (tiny) query side."""
    from aloha_spark.operators.similarity import ivf_topk
    import numpy as np
    rng = np.random.default_rng(0)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(100)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivf_topk(embs.where("vec_id < 4"), embs, k=3,
                   n_centroids=4, nprobe=2)
    plan = _plan(out, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_first_order_regression_is_jvm_only(spark, sf_dir):
    """Pure w.x regression (no higher-order terms) must score inside
    Catalyst (aggregate over the bags array) — no Python stage."""
    import __spark_entry__ as em
    plan = _plan(em.q_regression_spline(spark, sf_dir), "simple")
    n_python = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    # exactly one Python stage: the featurize mapInArrow; scoring adds none
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    assert n_python == 0


def test_split_and_sample_are_shuffle_free(spark, sf_dir):
    """Hash-bucket split/sample assignment is a pure projection/filter:
    no exchange, no Python stage — free at any scale."""
    from aloha_spark.operators.corpus import deterministic_split, \
        stratified_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for q in (deterministic_split(docs, "doc_id"),
              stratified_sample(docs, "source", {"src0": 0.4},
                                default_fraction=0.1)):
        plan = _plan(q, "simple")
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark n-gram set must broadcast (eval suites are tiny
    against a 100 TB corpus): no sort-merge join, exactly one shuffle
    (the doc_id-keyed partial-aggregated count)."""
    from aloha_spark.operators.corpus import decontaminate
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    plan = _plan(decontaminate(docs, bench, n=3), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_top_tokens_takes_ordered_no_global_sort(spark, sf_dir):
    """Vocabulary top-k must use TakeOrderedAndProject (partial top-k
    per partition), not a full Sort of the vocabulary."""
    from aloha_spark.operators.corpus import top_tokens
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(top_tokens(docs, "text", k=50), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_chunk_documents_is_map_only(spark, sf_dir):
    """Token chunking must be a pure map pass: no exchange, no Python
    workers — it runs at scan speed on any corpus size."""
    from aloha_spark.operators.corpus import chunk_documents
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(chunk_documents(docs, budget=32, overlap=8), "simple")
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_epoch_mix_is_map_only(spark, sf_dir):
    """Epoch repetition mixing is a CASE + explode projection: no
    exchange, no Python — it runs at scan speed on any corpus size."""
    from aloha_spark.operators.mixture import epoch_mix
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(epoch_mix(docs, {"src0": 2.4, "src1": 0.7}), "simple")
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_shuffle_order_projection_and_single_exchange(spark, sf_dir):
    """The shuffle key/shard are pure projections (re-shuffling with a
    new seed recomputes nothing upstream); materializing the order
    costs exactly ONE exchange, which doubles as the write layout."""
    from aloha_spark.operators.mixture import (shuffle_shards,
                                               with_shuffle_order)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key_plan = _plan(with_shuffle_order(docs, n_shards=16), "simple")
    assert "Exchange" not in key_plan, key_plan
    shard_plan = _plan(shuffle_shards(docs, n_shards=16), "simple")
    assert shard_plan.count("Exchange") == 1, shard_plan
    assert "ArrowEvalPython" not in shard_plan


def test_token_budget_no_global_stratum_window(spark, sf_dir):
    """The budget boundary must come from the coarse-bucket relation
    (broadcast back), never a sort-merge join or cartesian — and the
    only corpus-wide window runs on the boundary-bucket subset."""
    from aloha_spark.operators.mixture import token_budget_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(token_budget_sample(docs, {"src0": 1000},
                                     default_budget=100), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_pps_sample_broadcasts_offsets(spark, sf_dir):
    """PPS cumulative weights come from the coarse-bucket offsets
    relation broadcast back — no sort-merge join, no cartesian, no
    Python, and the only corpus-wide window is partitioned by
    (stratum, bucket)."""
    from aloha_spark.operators.mixture import pps_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(pps_sample(docs, 10), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_top_k_per_group_window_group_limit(spark, sf_dir):
    """The rank filter must push below the exchange (WindowGroupLimit,
    Spark 3.5+): each map task pre-prunes to its local top-k so a
    billion-row group ships k rows per partition, not the group."""
    from aloha_spark.operators.windows import top_k_per_group
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = top_k_per_group(docs, 3, by="source", value="n_chars",
                        tie_by=["doc_id"])
    plan = _plan(q, "simple")
    assert "WindowGroupLimit" in plan, plan


def test_heavy_hitters_candidate_join_is_broadcast_semi(spark, sf_dir):
    """The exact recount must probe the (tiny) Misra-Gries candidate
    set with a broadcast LEFT SEMI join — the long-tail vocabulary must
    not reach a sort-merge exchange — and the final count must partial-
    aggregate before its single exchange."""
    from aloha_spark.operators.corpus import heavy_hitters
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(heavy_hitters(d, support=0.033))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan       # map-side combine before shuffle

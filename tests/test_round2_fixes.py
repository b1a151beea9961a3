"""Round-2 fix regressions: epsilon-greedy logged propensity, real
ErrorSwallowing, simhash bucket cap, numMissingThreshold in
to_sparse_vectors, array-typed ind across tiers, nested audit children,
lineage repair crash recovery, IVF determinism/empty guard, brute-force
query-side guard."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from aloha_spark.plans.models import apply_model


def test_epsilon_greedy_logged_propensity(spark):
    eps, n = 0.3, 3
    df = spark.createDataFrame([(i,) for i in range(4000)], "uid long")
    m = {"modelType": "EpsilonGreedyExploration",
         "defaultPolicy": {"modelType": "Constant", "value": 1},
         "epsilon": eps, "salt": "${uid}",
         "classLabels": ["a", "b", "c"]}
    out = apply_model(df, m, "act").toPandas()
    p_hi = 1 - eps + eps / n          # 0.8 for the greedy arm
    p_lo = eps / n                    # 0.1 for each other arm
    # the logged prob is a pure function of (chosen action == policy)
    assert np.allclose(out.loc[out["act"] == "a", "act_prob"], p_hi)
    assert np.allclose(out.loc[out["act"] != "a", "act_prob"], p_lo)
    # and the empirical action frequencies match the logged propensities
    freq = out["act"].value_counts(normalize=True)
    assert abs(freq["a"] - p_hi) < 0.03
    assert abs(freq["b"] - p_lo) < 0.03
    assert abs(freq["c"] - p_lo) < 0.03


def test_error_swallowing_builder_failure(spark):
    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    # submodel references a column that does not exist -> swallowed
    m = {"modelType": "ErrorSwallowingModel",
         "submodel": {"modelType": "Spec", "spec": "${nope} * 2"}}
    rows = apply_model(df, m, "s").collect()
    assert all(r.s is None for r in rows)
    assert all(len(r.s_errors) == 1 and "swallowed" in r.s_errors[0]
               for r in rows)


def test_error_swallowing_per_row_null(spark):
    df = spark.createDataFrame([(4.0,), (-1.0,)], "x double")
    # log2 of a negative yields SQL NULL (the try_* semantics) — the
    # wrapper must record it per row, leaving good rows untouched
    m = {"modelType": "ErrorSwallowingModel",
         "submodel": {"modelType": "Spec", "spec": "log2(${x})"}}
    out = {r.x: r for r in apply_model(df, m, "s").collect()}
    assert out[4.0].s == 2.0 and list(out[4.0].s_errors) == []
    assert out[-1.0].s is None and len(out[-1.0].s_errors) == 1


def test_simhash_pairs_bucket_cap(spark):
    from aloha_spark.operators.dedup import simhash_near_pairs, with_simhash

    # 300 identical docs: one degenerate bucket per block; the capped
    # run degrades to star pairing (anchor = min id) — bounded O(n)
    # work, and the exact duplicates stay connected at hamming 0
    df = spark.createDataFrame([(i, "same text for every row")
                                for i in range(300)], "doc_id long, text string")
    sh = with_simhash(df)
    star = simhash_near_pairs(sh, max_bucket_size=50).toPandas()
    assert len(star) == 299                   # one pair per non-anchor
    assert (star["id_a"] == 0).all()          # anchored at min id
    assert (star["hamming"] == 0).all()
    # normal (distinct) data: cap high enough -> same result as before
    df2 = spark.createDataFrame(
        [(i, f"doc number {i} about topic {i % 7} details {i // 9}")
         for i in range(80)], "doc_id long, text string")
    sh2 = with_simhash(df2)
    a = {(r.id_a, r.id_b, r.hamming)
         for r in simhash_near_pairs(sh2, max_hamming=8,
                                     max_bucket_size=1000).collect()}
    b = {(r.id_a, r.id_b, r.hamming)
         for r in simhash_near_pairs(sh2, max_hamming=8,
                                     max_bucket_size=10**6).collect()}
    assert a == b


def test_sparse_vectors_num_missing_threshold(spark):
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec

    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, None, None), (3, "ok", None)],
        "id long, text string, lang string")
    spec = PipelineSpec.from_json({
        "features": [{"name": "bow", "spec": "bag(${text})"},
                     {"name": "lang", "spec": "ind(${lang})"}],
        "namespaces": {}, "numBits": 18, "numMissingThreshold": 1})
    out = {r.id: r for r in FeaturePipeline(spec)
           .to_sparse_vectors(df, keep_cols=["id"]).collect()}
    assert out[1].indices is not None and len(out[1].indices) > 0
    # row 2: both features missing (2 > 1) -> aborted, NULL vector
    assert out[2].indices is None and out[2].values is None
    # row 3: one missing (1 <= 1) -> kept, UNK entry present
    assert out[3].indices is not None
    assert sorted(out[3].missing_features) == ["lang"]


def test_ind_array_column_all_tiers(spark):
    from aloha_spark.functions.scalars import ind
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec

    assert ind(["x", "y", "x"]) == {"=x": 1.0, "=y": 1.0}
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None), (4, ["b"])],
        "id long, tags array<string>")
    spec = PipelineSpec.from_json({
        "features": [{"name": "t", "spec": "ind(${tags})"}],
        "namespaces": {}, "numBits": 18})
    pipe = FeaturePipeline(spec)
    # featurize: per-feature map bags
    feats = {r.id: r for r in
             pipe.featurize(df, keep_cols=["id"]).collect()}
    assert feats[1].features[0] == {"t=a": 1.0, "t=b": 1.0}
    assert feats[2].features[0] == {}            # empty list: empty bag
    assert feats[3].features[0] == {"t=UNK": 1.0}
    assert feats[3].missing_features == ["t"]
    # hashed vectors (to_sparse_vectors / ind_flat) — previously crashed
    vecs = {r.id: r for r in
            pipe.to_sparse_vectors(df, keep_cols=["id"]).collect()}
    assert len(vecs[1].indices) == 2
    assert len(vecs[2].indices) == 0
    assert vecs[3].missing_features == ["t"]
    # same hashed index for '=b' in rows 1 and 4
    assert set(vecs[4].indices) <= set(vecs[1].indices)


def test_audit_children_nested(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    m = {"modelType": "DoubleToLong", "modelId": {"id": 1, "name": "top"},
         "submodel": {
             "modelType": "Segmentation", "modelId": {"id": 2, "name": "seg"},
             "submodel": {"modelType": "Spec", "spec": "${x} * 10",
                          "modelId": {"id": 3, "name": "leaf"}},
             "thresholds": [5.0], "labels": [0.0, 1.0]},
         "scale": 1.0, "round": True}
    row = apply_model(df, m, "score", audit=True).collect()[0]
    a = row.score_audit
    assert a.model_id == "1" and a.value == "1"
    kids = {c.model_id: c.value for c in a.children}
    # depth-first: the leaf spec score and the segmentation label
    assert kids == {"3": "10.0", "2": "1.0"}
    # audit temp columns are dropped from the output frame
    assert [c for c in row.asDict() if "_sub" in c or "__leaf" in c] == []


def test_lineage_repair_crash_recovery(spark, tmp_path):
    import os

    from aloha_spark.plans.lineage import (
        completed_buckets, repair, write_with_lineage)

    df = spark.createDataFrame([(f"u{i}", i) for i in range(100)],
                               "conv_id string, ts long")
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lin")
    write_with_lineage(df, out, lin, num_buckets=8, group_size=8)
    assert completed_buckets(spark, lin) == set(range(8))
    repair(spark, lin, [3])
    assert completed_buckets(spark, lin) == set(range(8)) - {3}
    # simulate a crash after the commit marker, before the swap: the
    # repaired tmp + marker exist, old table gone
    os.rename(lin, lin + ".repair.tmp")
    with open(lin + ".repair.commit", "w") as f:
        f.write(lin + ".repair.tmp")
    assert completed_buckets(spark, lin) == set(range(8)) - {3}
    assert os.path.isdir(lin)
    assert not os.path.exists(lin + ".repair.tmp")
    assert not os.path.exists(lin + ".repair.commit")
    # a stale tmp WITHOUT the marker is inert: it must never resurrect
    # an old table over a deliberately deleted one
    import shutil
    shutil.copytree(lin, lin + ".repair.tmp")
    shutil.rmtree(lin)
    assert completed_buckets(spark, lin) == set()
    assert os.path.isdir(lin + ".repair.tmp")   # untouched


def test_ivf_deterministic_and_empty(spark):
    from aloha_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(8).astype(float).tolist())
            for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where("vec_id < 4")
    r1 = sorted(map(tuple, ivf_topk(q, emb, k=2, n_centroids=4, nprobe=1)
                    .collect()))
    r2 = sorted(map(tuple, ivf_topk(q, emb, k=2, n_centroids=4, nprobe=1)
                    .collect()))
    assert r1 == r2 and len(r1) > 0
    empty = emb.where("vec_id < 0")
    assert ivf_topk(q, empty, k=2, n_centroids=4).count() == 0


def test_brute_force_query_guard(spark):
    from aloha_spark.operators.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="query side"):
        brute_force_topk(emb, emb, k=1, max_queries=5)


def test_bpe_token_count(spark):
    import re

    from aloha_spark.operators.textstats import (
        BPE_ISH_PATTERN, with_bpe_token_count)

    texts = ["I can't believe it's 100% done!",
             "hello   world", "", None, "a.b,c;d", "it'll re've x's"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {r.id: r.bpe_token_count
           for r in with_bpe_token_count(df).collect()}
    pat = re.compile(BPE_ISH_PATTERN)
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] is None
        else:
            assert got[i] == len(pat.findall(t)), (t, got[i])
    # contraction split: "can't" -> " can" + "'t"
    assert got[0] > len(texts[0].split())


def test_audit_rollback_on_swallowed_failure(spark):
    # a swallowed submodel failure must not leave dangling audit
    # registrations (review finding: children referenced dropped cols)
    df = spark.createDataFrame([(1.0,)], "x double")
    m = {"modelType": "ErrorSwallowingModel",
         "submodel": {
             "modelType": "BootstrapExploration", "salt": "${x}",
             "policies": [
                 {"modelType": "DoubleToLong",
                  "submodel": {"modelType": "Constant", "value": 1.2},
                  "round": True},
                 {"modelType": "Spec", "spec": "${missing_col}"},
             ],
             "classLabels": ["a", "b"]}}
    row = apply_model(df, m, "score", audit=True).collect()[0]
    assert row.score is None
    assert "swallowed" in row.score_errors[0]
    assert list(row.score_audit.children) == []
    # a reused ctx across audited applies must not leak either
    from aloha_spark.plans.models import ModelContext
    ctx = ModelContext()
    d1 = apply_model(df, {"modelType": "DoubleToLong", "round": True,
                          "submodel": {"modelType": "Constant", "value": 2.0}},
                     "s1", ctx=ctx, audit=True)
    d2 = apply_model(d1, {"modelType": "Constant", "value": 5.0},
                     "s2", ctx=ctx, audit=True)
    r = d2.collect()[0]
    assert list(r.s2_audit.children) == []          # fresh per apply
    assert [c.model_id for c in r.s1_audit.children] == ["Constant"]

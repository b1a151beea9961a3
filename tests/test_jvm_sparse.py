"""JVM (pure-Catalyst) sparse-vector sink vs the Arrow tier.

All-scalar plans have static key spaces, so ``to_sparse_vectors``
stays entirely inside whole-stage codegen (no Python workers).  The
Arrow kernel (``make_arrow_kernel``) is the semantics oracle: these are byte-level A/B
parity gates over nulls, NaN, defaults, forced hash collisions
(tiny numBits), and the numMissingThreshold abort
(RegressionFeatures.scala:99-110)."""

import math

import pytest
from pyspark.sql import functions as F

from aloha_spark.plans.pipeline import FeaturePipeline
from aloha_spark.plans.spec import PipelineSpec

SCALAR_SPEC = {
    "features": [
        {"name": "a", "spec": "${x}"},
        {"name": "b", "spec": "clamp(${x:-0}, 0, 10)"},
        {"name": "c", "spec": "log2(${y})"},
        {"name": "d", "spec": "${x} * 2 + ${y}"},
        {"name": "e", "spec": "${y:-1} / 4"},
    ],
    "namespaces": {},
    "numBits": 18,
}

#: 3-bit space + 10 features ≈ guaranteed collisions → exercises
#: last-wins dedupe on both paths
COLLIDE_SPEC = {
    "features": [
        {"name": f"f{i}", "spec": f"${{x}} + {i}"} for i in range(10)
    ],
    "namespaces": {},
    "numBits": 3,
}


#: binning tier: grid bins (incl. off-grid vmax -> overflow bin),
#: underflow key, custom knots with exact hits and clamps
BINNING_SPEC = {
    "features": [
        {"name": "a", "spec": "${x}"},
        {"name": "s", "spec": "sos2(${x}, 0, 10, 3)"},
        {"name": "u", "spec": "sos2U(${x}, 2, 8, 2)"},
        {"name": "c", "spec": "csos2(${x}, [0, 1, 5, 10])"},
        {"name": "cy", "spec": "csos2(${y}, [2, 4])"},
    ],
    "namespaces": {},
    "numBits": 18,
}

BINNING_COLLIDE_SPEC = {
    "features": [
        {"name": f"s{i}", "spec": f"sos2(${{x}}, 0, 12, {i + 1})"}
        for i in range(6)
    ],
    "namespaces": {},
    "numBits": 3,
}


def _rows(df):
    out = []
    for r in df.orderBy("rid").collect():
        out.append((r.rid,
                    None if r.indices is None else list(r.indices),
                    None if r.values is None else list(r.values),
                    sorted(r.missing_features)))
    return out


def _mkdf(spark):
    # x / y cover: both present, null x, null y, NaN x
    data = [(0, 3.0, 8.0), (1, None, 2.0), (2, 5.0, None),
            (3, float("nan"), 4.0), (4, None, None)]
    return spark.createDataFrame(data, "rid int, x double, y double")


def _plan_string(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted").lower()


def _ab(spark, spec_doc, df):
    """(Catalyst sink rows, Arrow kernel rows) for one all-scalar spec:
    ``to_sparse_vectors`` must pick the Catalyst plan, and the Arrow
    kernel is driven through the public ``make_arrow_kernel``."""
    jvm = FeaturePipeline(PipelineSpec.from_json(spec_doc)) \
        .to_sparse_vectors(df, keep_cols=["rid"])
    assert "mapinarrow" not in _plan_string(jvm)
    pipe = FeaturePipeline(PipelineSpec.from_json(spec_doc))
    pre = pipe._with_precomputed(df)
    run, schema = pipe.make_arrow_kernel(pre, ["rid"])
    return _rows(jvm), _rows(pre.mapInArrow(run, schema=schema))


def test_jvm_matches_arrow_scalar(spark):
    j, a = _ab(spark, SCALAR_SPEC, _mkdf(spark))
    assert j == a


def test_jvm_matches_arrow_under_collisions(spark):
    j, a = _ab(spark, COLLIDE_SPEC, _mkdf(spark))
    assert j == a
    # sanity: collisions actually happened (10 features, 8 slots)
    assert all(len(ix) < 10 for _, ix, _, _ in j)


def _mkdf_bins(spark):
    # grid edges, interior fractions, exact knots, underflow, NaN, null,
    # and a fraction below 2^-53 (one entry, as on the flat kernel)
    data = [(0, 0.0, 2.0), (1, 1.5, 3.0), (2, 5.0, 4.0), (3, 9.7, 1.0),
            (4, 10.0, 5.0), (5, -3.0, 2.5), (6, 42.0, None),
            (7, None, 3.5), (8, float("nan"), 2.0), (9, 2.0, 4.0),
            (10, 7.999, 3.999), (11, 0.3, 2.0001), (12, 1e-17, 2.0)]
    return spark.createDataFrame(data, "rid int, x double, y double")


def test_jvm_matches_arrow_binning(spark):
    j, a = _ab(spark, BINNING_SPEC, _mkdf_bins(spark))
    assert j == a


def test_jvm_matches_arrow_binning_collisions(spark):
    j, a = _ab(spark, BINNING_COLLIDE_SPEC, _mkdf_bins(spark))
    assert j == a


def test_jvm_binning_plan_python_free(spark):
    pipe = FeaturePipeline(PipelineSpec.from_json(BINNING_SPEC))
    df = spark.range(8).select(
        F.col("id").cast("int").alias("rid"),
        (F.col("id") * 1.3).alias("x"),
        (F.col("id") + 0.5).alias("y"))
    out = pipe.to_sparse_vectors(df, keep_cols=["rid"])
    plan = _plan_string(out)
    assert "mapinarrow" not in plan and "python" not in plan


def test_jvm_missing_threshold_abort(spark):
    doc = dict(SCALAR_SPEC)
    doc["numMissingThreshold"] = 1
    j, a = _ab(spark, doc, _mkdf(spark))
    assert j == a
    # row 4 (both null) exceeds the threshold → NULL vectors
    rid4 = [r for r in j if r[0] == 4][0]
    assert rid4[1] is None and rid4[2] is None


def test_auto_picks_jvm_and_plan_is_python_free(spark):
    pipe = FeaturePipeline(PipelineSpec.from_json(SCALAR_SPEC))
    # JVM-native source so the only possible Python in the plan is ours
    df = spark.range(5).select(
        F.col("id").cast("int").alias("rid"),
        (F.col("id") * 1.5).alias("x"),
        F.when(F.col("id") % 2 == 0, F.col("id") + 1.0).alias("y"))
    out = pipe.to_sparse_vectors(df, keep_cols=["rid"])
    low = _plan_string(out)
    assert "mapinarrow" not in low and "python" not in low
    # scalar feature computation is codegen'd; the higher-order
    # array_sort/filter/transform assembly is interpreted but JVM-side
    assert "codegen id" in low


def test_auto_falls_back_to_arrow_for_bags(spark):
    doc = {"features": [{"name": "bow", "spec": "bag(${t})"}],
           "namespaces": {}, "numBits": 18}
    df = spark.createDataFrame([(0, "a b")], "rid int, t string")
    pipe = FeaturePipeline(PipelineSpec.from_json(doc))
    out = pipe.to_sparse_vectors(df, keep_cols=["rid"])
    plan = _plan_string(out)
    assert "mapinarrow" in plan or "python" in plan


def test_jvm_matches_arrow_fuzz(spark):
    """200 deterministic-pseudorandom rows through the full mixed spec
    (scalars + all three binning fns) — one A/B pass, no per-example
    Spark jobs."""
    import numpy as np
    rng = np.random.default_rng(7)
    xs = rng.uniform(-5, 15, 200)
    ys = rng.uniform(0, 6, 200)
    # sprinkle nulls/NaN/exact grid points
    rows = []
    for i in range(200):
        x = [None, float("nan"), 3.0, float(xs[i])][i % 4 if i % 17 == 0
                                                    else 3]
        y = None if i % 13 == 0 else float(ys[i])
        rows.append((i, x, y))
    df = spark.createDataFrame(rows, "rid int, x double, y double")
    bin_feats = [{"name": "b_" + f["name"], "spec": f["spec"]}
                 for f in BINNING_SPEC["features"][1:]]
    spec = {"features": SCALAR_SPEC["features"] + bin_feats,
            "namespaces": {}, "numBits": 18}
    j, a = _ab(spark, spec, df)
    assert j == a


def test_duplicate_feature_names_rejected(spark):
    with pytest.raises(ValueError, match="duplicate feature names"):
        PipelineSpec.from_json({
            "features": [{"name": "c", "spec": "${x}"},
                         {"name": "c", "spec": "${y}"}],
            "namespaces": {}, "numBits": 18})


def test_jvm_values_exact(spark):
    """Spot-check actual numbers, not just A/B agreement."""
    pipe = FeaturePipeline(PipelineSpec.from_json(SCALAR_SPEC))
    out = pipe.to_sparse_vectors(_mkdf(spark), keep_cols=["rid"])
    assert "mapinarrow" not in _plan_string(out)
    r0 = [r for r in out.collect() if r.rid == 0][0]
    got = dict(zip(r0.indices, r0.values))
    # a=3, b=3, c=log2(8)=3, d=14, e=2 (hash keys distinct at 18 bits)
    assert sorted(got.values()) == sorted([3.0, 3.0, 3.0, 14.0, 2.0])
    assert r0.missing_features == []
    assert math.isfinite(sum(got.values()))


#: negative literals and trailing csos2 knots reach the binning tier
#: through the same single-call match as the flat kernels
NEG_BINNING_SPEC = {
    "features": [
        {"name": "s", "spec": "sos2(${x}, -10, 10, 3)"},
        {"name": "u", "spec": "sos2U(${x}, -6, 6, 4)"},
        {"name": "c", "spec": "csos2(${x}, -5, 0, 5)"},
        {"name": "ck", "spec": "csos2(${y}, [-4, 2, 4])"},
    ],
    "namespaces": {},
    "numBits": 18,
}


def test_jvm_matches_arrow_negative_bounds(spark):
    data = [(0, -12.0, -4.0), (1, -10.0, 2.5), (2, -3.25, None),
            (3, 0.0, -7.0), (4, 4.5, 3.0), (5, 10.0, float("nan")),
            (6, None, 4.0), (7, float("nan"), 5.5), (8, -6.0, -1.0)]
    df = spark.createDataFrame(data, "rid int, x double, y double")
    j, a = _ab(spark, NEG_BINNING_SPEC, df)
    assert j == a
    assert j[1][1] != j[4][1]       # different bins, not one UNK entry

"""Feature-spec compiler + pipeline end-to-end tests, mirroring the
reference's executable-documentation goldens (docs/dataset.md:180-181,
364-367) on our transcript schema."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aloha_spark.data.transcripts import make_transcripts
from aloha_spark.functions.hashing import string_hash
from aloha_spark.plans.pipeline import FeaturePipeline
from aloha_spark.plans.spec import (
    PipelineSpec,
    parse_feature_spec,
    try_compile_column,
)

SPEC = {
    "features": [
        {"name": "role", "spec": "ind(${role})"},
        {"name": "tool", "spec": "ind(${tool})"},
        {"name": "bow", "spec": "bag(${text})"},
        {"name": "n_toks", "spec": "len(${text}.split())" },
        {"name": "dt", "spec": "clamp(${dt_prev_sec:-0}, 0, 3600)"},
        {"name": "dt_bin", "spec": "sos2(${dt_prev_sec}, 0, 3600, 600)"},
    ],
    "namespaces": {"t": ["bow"], "s": ["role", "tool", "dt", "dt_bin"]},
    "label": "${state_score:-0}",
}


def test_var_regex_and_defaults():
    p = parse_feature_spec("x", "${a.b:-42} + ${c}")
    assert p.variables == ["a__b", "c"]
    assert p.defaults == {"a__b": 42}
    assert p.expr == "a__b + c"


def test_column_tier_compiles_arithmetic(spark):
    p = parse_feature_spec("x", "clamp(${value:-0}, 0, 10) * 2")
    col = try_compile_column(p)
    assert col is not None
    row = spark.createDataFrame([(None,), (7.0,), (99.0,)], "value double") \
        .select(col.alias("x")).collect()
    assert [r.x for r in row] == [0.0, 14.0, 20.0]


def test_batch_tier_rejects_malicious_spec():
    p = parse_feature_spec("evil", "__import__('os').system('true')")
    from aloha_spark.plans.spec import compile_batch_fn
    with pytest.raises(ValueError):
        compile_batch_fn(p)


def test_pipeline_bags_and_bookkeeping(spark):
    turns = make_transcripts(spark, n_convs=4, turns_per_conv=6)
    from aloha_spark.operators.windows import with_ts_delta
    df = with_ts_delta(turns).withColumn("state_score", F.lit(1.5))
    pipe = FeaturePipeline(PipelineSpec.from_json(SPEC))
    out = pipe.featurize(df).toPandas()
    assert len(out) == 24
    row = out.iloc[0]
    names = [f["name"] for f in SPEC["features"]]
    feats = dict(zip(names, row["features"]))
    # feature-name key prefixing
    assert all(k.startswith("role=") for k in feats["role"])
    assert all(k.startswith("bow=") for k in feats["bow"])
    # scalar lifting -> {name: value}
    assert list(feats["n_toks"].keys()) == ["n_toks"]
    # first turn has NULL dt_prev_sec: dt uses default 0, dt_bin is missing
    first = out[out["turn_idx"] == 0].iloc[0]
    f0 = dict(zip(names, first["features"]))
    assert f0["dt"] == {"dt": 0.0}
    assert f0["dt_bin"] == {"dt_bin=UNK": 1.0}
    assert "dt_bin" in list(first["missing_features"])
    # NULL tool -> =UNK + missing bookkeeping
    null_tool = out[out["tool"].isna()].iloc[0]
    ft = dict(zip(names, null_tool["features"]))
    assert ft["tool"] == {"tool=UNK": 1.0}
    assert "tool" in list(null_tool["missing_features"])


def test_vw_lines(spark):
    turns = make_transcripts(spark, n_convs=2, turns_per_conv=3)
    df = turns.withColumn("state_score", F.lit(0.5)) \
              .withColumn("dt_prev_sec", F.lit(10.0))
    pipe = FeaturePipeline(PipelineSpec.from_json(SPEC))
    out = pipe.to_vw_lines(df, keep_cols=["conv_id", "turn_idx"]).toPandas()
    line = out["vw_line"].iloc[0]
    assert line.startswith("0.5 ")
    assert "|t " in line and "|s " in line
    assert "bow=" in line
    # unlabeled variant
    out_u = pipe.to_vw_lines(df, labeled=False).toPandas()
    assert out_u["vw_line"].iloc[0].startswith("|")


def test_sparse_vectors_hash_parity(spark):
    df = spark.createDataFrame([("x", "the brown fox")], "id string, text string")
    spec = PipelineSpec.from_json({
        "features": [{"name": "w", "spec": "bag(${text})"}],
        "namespaces": {}, "numBits": 18})
    pipe = FeaturePipeline(spec)
    out = pipe.to_sparse_vectors(df, keep_cols=["id"]).toPandas()
    idx = out["indices"].iloc[0]
    mask = (1 << 18) - 1
    expected = sorted({string_hash(f"w={t}") & mask
                       for t in ["the", "brown", "fox"]})
    assert sorted(idx) == expected
    assert list(out["values"].iloc[0]) == [1.0] * 3


def test_libsvm_lines(spark):
    df = spark.createDataFrame([("a b a",)], "text string")
    spec = PipelineSpec.from_json({
        "features": [{"name": "w", "spec": "bag(${text})"}],
        "namespaces": {}})
    out = FeaturePipeline(spec).to_libsvm_lines(df).toPandas()
    line = out["libsvm_line"].iloc[0]
    parts = dict(p.split(":") for p in line.split(" "))
    mask = (1 << 18) - 1
    assert parts[str(string_hash("w=a") & mask)] == "2.0"
    assert parts[str(string_hash("w=b") & mask)] == "1.0"


#: one feature per evaluator tier: Column (numeric and string), vbatch
#: without a flat kernel, flat bag / nGrams (n = 2 pair kernel and the
#: general one), the generic tier with features that raise on some rows,
#: and an accessor-path variable; ``half``'s sub-unit bins truncate to
#: the same key, which a bag (a dict) keeps once, last value winning
TIERS_SPEC = {
    "features": [
        {"name": "w", "spec": "clamp(${w}, -100, 100)"},
        {"name": "lang", "spec": "${lang}"},
        {"name": "lind", "spec": "ind(${lang})"},
        {"name": "bow3", "spec": "bag(${text}, '=', '', ' ', 3)"},
        {"name": "bow", "spec": "bag(${text})"},
        {"name": "g2", "spec": "nGrams(${text:-''}, 2)"},
        {"name": "g3", "spec": "nGrams(${text}, 3)"},
        {"name": "ntok", "spec": "len(${text}.split())"},
        {"name": "inv", "spec": "1.0 / len(${text:-''})"},
        {"name": "src", "spec": "bag(${meta.src})"},
        {"name": "half", "spec": "sos2(${w}, 0, 2, 0.5)"},
    ],
    "namespaces": {},
    "numBits": 18,
}


def _tiers_df(spark):
    rows = [
        (0, "the cat sat on the mat the cat", "en", 42.0, ("web", 1)),
        (1, "a:b c|d a_b a:b", "de", -1.5, ("mail", 2)),
        (2, None, None, None, None),
        (3, "", "fr", 250.0, ("", 3)),
        (4, "one two three four", None, 0.3, (None, 4)),
        (5, "x " * 20 + "y", "en", float("nan"), ("web chat", 5)),
    ]
    return spark.createDataFrame(
        rows, "id long, text string, lang string, w double, "
              "meta struct<src: string, n: int>")


def test_featurize_matches_oracle_every_tier(spark):
    from tests.featurize_oracle import featurize_rows

    df = _tiers_df(spark)
    pipe = FeaturePipeline(PipelineSpec.from_json(TIERS_SPEC))
    got = {r.id: r for r in pipe.featurize(df, keep_cols=["id"]).collect()}
    kinds = {fp.name: (fp.kind, fp.flat_fn is not None)
             for fp in pipe.plan.features}
    assert kinds["w"][0] == "column" and kinds["lang"][0] == "string_column"
    assert kinds["bow3"] == ("vbatch", False)
    assert all(kinds[f][1] for f in ("lind", "bow", "g2", "g3", "src"))
    assert kinds["ntok"] == ("batch", False) == kinds["inv"]

    want = featurize_rows(FeaturePipeline(PipelineSpec.from_json(TIERS_SPEC)),
                          df, "id")
    assert sorted(got) == sorted(want)
    for i, (feats, missing, erring) in want.items():
        row = got[i]
        assert [dict(m) for m in row.features] == feats, i
        assert list(row.missing_features) == missing, i
        assert list(row.erring_features) == erring, i
    # the cases the comparison must have covered
    assert want[2][2] == ["ntok", "inv"] and want[3][2] == ["inv"]
    assert want[3][0][5] == {} and not want[3][1]  # empty bag, not missing
    assert "bow" in want[2][1] and "src" in want[2][1]
    # a NULL argument makes the Column-tier clamp NULL (missing), not lo
    assert "w" in got[2].missing_features
    assert dict(got[2].features[0]) == {"w=UNK": 1.0}
    assert got[4].features[9] == {"src=UNK": 1.0}
    assert list(got[4].features[10]) == ["half=0"]
    assert got[4].features[10]["half=0"] == pytest.approx(0.6)

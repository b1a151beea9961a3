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


def test_column_tier_without_context_raises(monkeypatch):
    """Only "not Column-expressible" falls back to the batch tier: with
    no SparkContext to build Columns in, a Column-tier spec raises
    instead of silently compiling to the per-row tier."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    with pytest.raises(AssertionError):
        try_compile_column(
            parse_feature_spec("dt", "clamp(${dt_prev_sec:-0}, 0, 86400)"))
    # a bag-producing spec never needs a Column: still the batch tier
    assert try_compile_column(parse_feature_spec("bow", "bag(${text})")) \
        is None


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


#: one feature per evaluator tier: Column (numeric and string), a
#: positional-maxElements bag on the generic tier, flat bag / nGrams
#: (n = 2 pair kernel and the general one), the generic tier with
#: features that raise on some rows,
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
    assert kinds["bow3"] == ("batch", False)
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


#: single-call shapes the flat kernels do not cover (maxElements, given
#: by keyword or position) next to shapes only the one single-call
#: matcher admits (a negative literal, csos2 knots as trailing
#: arguments)
SHAPES_SPEC = {
    "features": [
        {"name": "bm", "spec": "bag(${text}, maxElements=4)"},
        {"name": "bp", "spec": "bag(${text}, '=', '', ' ', 3)"},
        {"name": "gm", "spec": "nGrams(${text}, 2, maxElements=3)"},
        {"name": "sm", "spec": "skipGrams(${text}, 2, 1, maxElements=3)"},
        {"name": "sn", "spec": "sos2(${x}, -10, 10, 3)"},
        {"name": "ck", "spec": "csos2(${x}, 0, 128, 384)"},
    ],
    "namespaces": {"t": ["bm", "gm"]},
    "numBits": 18,
}


def _shapes_df(spark):
    rows = [
        (0, "the cat sat on the mat the cat dog", 4.5),
        (1, None, None),
        (2, "", float("nan")),
        (3, "a b c d e f g", -12.0),
        (4, "x  y", 128.0),
        (5, "one", 500.0),
        (6, " lead space", -3.25),
        (7, "u v u v u v", 10.0),
    ]
    return spark.createDataFrame(rows, "id long, text string, x double")


# outputs of the same frame and spec before the matcher existed, when
# all six features ran on a separate per-column "vbatch" tier
_SHAPES_FEATURIZE = {
    0: ([{"bm=sat": 1.0, "bm=cat": 2.0, "bm=mat": 1.0, "bm=the": 3.0},
         {"bp=the": 3.0, "bp=sat": 1.0, "bp=cat": 2.0},
         {"gm=cat_sat": 1.0, "gm=on_the": 1.0, "gm=mat_the": 1.0},
         {"sm=the_dog": 1.0, "sm=the_sat": 1.0, "sm=the_the": 1.0},
         {"sn=2": 0.16666666666666696, "sn=5": 0.833333333333333},
         {"ck=0": 0.96484375, "ck=128": 0.03515625}], [], []),
    1: ([{"bm=UNK": 1.0}, {"bp=UNK": 1.0}, {"gm=UNK": 1.0},
         {"sm=UNK": 1.0}, {"sn=UNK": 1.0}, {"ck=UNK": 1.0}],
        ["bm", "bp", "gm", "sm", "sn", "ck"], []),
    2: ([{"bm=": 1.0}, {"bp=": 1.0}, {}, {}, {"sn=UNK": 1.0},
         {"ck=UNK": 1.0}], ["sn", "ck"], []),
    3: ([{"bm=f": 1.0, "bm=g": 1.0, "bm=d": 1.0, "bm=e": 1.0},
         {"bp=e": 1.0, "bp=g": 1.0, "bp=d": 1.0},
         {"gm=c_d": 1.0, "gm=f_g": 1.0, "gm=b_c": 1.0},
         {"sm=f_g": 1.0, "sm=b_c": 1.0, "sm=c_d": 1.0},
         {"sn=-10": 1.0}, {"ck=0": 1.0}], [], []),
    4: ([{"bm=x": 1.0, "bm=y": 1.0}, {"bp=y": 1.0, "bp=": 1.0, "bp=x": 1.0},
         {"gm=x_y": 1.0}, {"sm=x_y": 1.0},
         {"sn=11": 0.666666666666667, "sn=8": 0.33333333333333304},
         {"ck=128": 1.0}], [], []),
    5: ([{"bm=one": 1.0}, {"bp=one": 1.0}, {}, {},
         {"sn=11": 0.666666666666667, "sn=8": 0.33333333333333304},
         {"ck=384": 1.0}], [], []),
    6: ([{"bm=space": 1.0, "bm=": 1.0, "bm=lead": 1.0},
         {"bp=lead": 1.0, "bp=": 1.0, "bp=space": 1.0},
         {"gm=_lead": 1.0, "gm=lead_space": 1.0},
         {"sm=_space": 1.0, "sm=lead_space": 1.0, "sm=_lead": 1.0},
         {"sn=-1": 0.25, "sn=-4": 0.75}, {"ck=0": 1.0}], [], []),
    7: ([{"bm=u": 3.0, "bm=v": 3.0}, {"bp=u": 3.0, "bp=v": 3.0},
         {"gm=u_v": 3.0, "gm=v_u": 2.0},
         {"sm=v_v": 2.0, "sm=v_u": 2.0, "sm=u_v": 3.0},
         {"sn=11": 0.666666666666667, "sn=8": 0.33333333333333304},
         {"ck=0": 0.921875, "ck=128": 0.078125}], [], []),
}
_SHAPES_SPARSE = {
    0: ([12864, 45853, 58075, 114425, 122353, 123559, 126937, 155611,
         159512, 169297, 181305, 181712, 184160, 189543, 194372, 233905,
         236173],
        [1.0, 1.0, 0.03515625, 2.0, 0.96484375, 0.16666666666666696, 3.0,
         1.0, 3.0, 0.833333333333333, 1.0, 1.0, 2.0, 1.0, 1.0, 1.0, 1.0],
        []),
    1: ([25471, 120973, 135555, 136091, 211090, 256278], [1.0] * 6,
        ["bm", "bp", "gm", "sm", "sn", "ck"]),
    2: ([136091, 150895, 162497, 211090], [1.0] * 4, ["sn", "ck"]),
    3: ([9385, 52244, 58540, 72590, 95432, 100695, 101855, 122353, 127931,
         147643, 159449, 205924, 209296, 246319, 254620], [1.0] * 15, []),
    4: ([5164, 21849, 27800, 58075, 82225, 151252, 162497, 185578, 200056,
         205659],
        [1.0, 1.0, 0.33333333333333304, 1.0, 1.0, 1.0, 1.0,
         0.666666666666667, 1.0, 1.0], []),
    5: ([27800, 66688, 128778, 175899, 185578],
        [0.33333333333333304, 1.0, 1.0, 1.0, 0.666666666666667], []),
    6: ([39769, 71213, 88096, 122353, 150895, 161354, 162497, 166954,
         196664, 203135, 209637, 220379, 249779, 260473],
        [1.0] * 7 + [0.75] + [1.0] * 5 + [0.25], []),
    7: ([760, 27800, 27969, 34485, 48024, 58075, 91718, 93235, 110552,
         122353, 185578, 197494, 204612],
        [3.0, 0.33333333333333304, 3.0, 2.0, 3.0, 0.078125, 2.0, 2.0, 3.0,
         0.921875, 0.666666666666667, 3.0, 3.0], []),
}
_SHAPES_VW = {
    0: "| bp=sat bp=cat:2 bp=the:3 sm=the_dog sm=the_sat sm=the_the "
       "sn=2:0.166667 sn=5:0.833333 ck=0:0.964844 ck=128:0.035156 "
       "|t bm=sat bm=cat:2 bm=the:3 bm=mat gm=cat_sat gm=mat_the gm=on_the",
    1: "| bp=UNK sm=UNK sn=UNK ck=UNK |t bm=UNK gm=UNK",
    2: "| bp= sn=UNK ck=UNK |t bm=",
    3: "| bp=e bp=g bp=d sm=f_g sm=b_c sm=c_d sn=-10 ck=0 "
       "|t bm=e bm=g bm=d bm=f gm=f_g gm=b_c gm=c_d",
    4: "| bp=x bp= bp=y sm=x_y sn=8:0.333333 sn=11:0.666667 ck=128 "
       "|t bm=x bm=y gm=x_y",
    5: "| bp=one sn=8:0.333333 sn=11:0.666667 ck=384 |t bm=one",
    6: "| bp= bp=lead bp=space sm=_lead sm=_space sm=lead_space "
       "sn=-4:0.75 sn=-1:0.25 ck=0 |t bm= bm=lead bm=space gm=_lead "
       "gm=lead_space",
    7: "| bp=u:3 bp=v:3 sm=v_v:2 sm=v_u:2 sm=u_v:3 sn=8:0.333333 "
       "sn=11:0.666667 ck=0:0.921875 ck=128:0.078125 "
       "|t bm=u:3 bm=v:3 gm=u_v:3 gm=v_u:2",
}


def test_single_call_shapes_match_oracle_and_recorded(spark):
    from aloha_spark.sinks.libsvm import libsvm_indices_values
    from tests.featurize_oracle import _precomputed, batch_eval, vw_lines

    df = _shapes_df(spark)
    pipe = FeaturePipeline(PipelineSpec.from_json(SHAPES_SPEC))
    kinds = {fp.name: (fp.kind, fp.flat_fn is not None)
             for fp in pipe.plan.features}
    assert kinds == {"bm": ("batch", False), "bp": ("batch", False),
                     "gm": ("batch", False), "sm": ("batch", False),
                     "sn": ("batch", True), "ck": ("batch", True)}
    assert sorted(pipe._binning) == ["ck", "sn"]

    fz = {r.id: ([dict(m) for m in r.features], list(r.missing_features),
                 list(r.erring_features))
          for r in pipe.featurize(df, keep_cols=["id"]).collect()}
    sv = {r.id: (list(r.indices), list(r.values), list(r.missing_features))
          for r in pipe.to_sparse_vectors(df, keep_cols=["id"]).collect()}
    vw = {r.id: r.vw_line
          for r in pipe.to_vw_lines(df, keep_cols=["id"]).collect()}

    # the generic-only oracle: every feature through compile_batch_fn
    pdf = _precomputed(pipe, df)
    _order, bags, missing, erring = batch_eval(pipe.plan, pdf)
    ids = pdf["id"].tolist()
    want_fz, want_sv = {}, {}
    for i, k in enumerate(ids):
        row = [bags[f][i] for f in range(len(bags))]
        want_fz[k] = (row, missing[i], erring[i])
        idx, vals = libsvm_indices_values(row, pipe.spec.num_bits)
        want_sv[k] = (idx.tolist(), vals.tolist(), missing[i])
    assert fz == want_fz == _SHAPES_FEATURIZE
    assert sv == want_sv == _SHAPES_SPARSE
    assert vw == vw_lines(pipe, df, "id") == _SHAPES_VW
    # a NULL text under maxElements is missing, not erring
    assert fz[1][1] == ["bm", "bp", "gm", "sm", "sn", "ck"]
    assert all(not err for _f, _m, err in fz.values())


def test_flagship_features_keep_their_tiers(spark):
    from aloha_spark.plans.flagship import FLAGSHIP_SPEC

    pipe = FeaturePipeline(PipelineSpec.from_json(FLAGSHIP_SPEC))
    tiers = {fp.name: (fp.kind, fp.flat_fn is not None)
             for fp in pipe.plan.features}
    flat = ("batch", True)
    assert tiers == {"role": flat, "tool": flat, "bow": flat, "bi": flat,
                     "sk": flat, "prev_bow": flat,
                     "dt": ("column", False), "dt_bin": flat,
                     "state": ("column", False)}
    assert list(pipe._binning) == ["dt_bin"]

"""A/B parity: flat (vectorized) VW/LibSVM line assembly vs the
per-row dict oracle (tests/featurize_oracle.py) — byte-identical lines
over specs exercising bags,
counts > 1, weighted values, epsilon filtering, namespaces, defaults,
missing -> UNK, labels/importance/tags, and numMissingThreshold."""

import pytest
from pyspark.sql import functions as F  # noqa: F401

from aloha_spark.plans.pipeline import FeaturePipeline
from aloha_spark.plans.spec import PipelineSpec
from tests.featurize_oracle import libsvm_lines, vw_lines


def _df(spark):
    rows = [
        (0, "the cat sat on the mat the cat", "en", 42.0, 3.0),
        (1, "a:b c|d a_b a:b", "de", -1.5, None),
        (2, None, None, 0.25, 1.0),
        (3, "one two", "es", 0.0000001, 2.0),   # near-zero weight drop
        (4, "x " * 50 + "y", "en", 12345678.9, 0.5),
        (5, "", "fr", -0.0, 7.0),
        (6, "solo", None, 250.0, None),
    ]
    return spark.createDataFrame(
        rows, "id long, text string, lang string, w double, imp double")


SPEC = {
    "features": [
        {"name": "bow", "spec": "bag(${text})"},
        {"name": "lang", "spec": "ind(${lang})"},
        {"name": "w", "spec": "clamp(${w}, -100, 100)"},
        {"name": "wbin", "spec": "sos2U(${w}, 0, 256, 64)"},
        {"name": "grams", "spec": "nGrams(${text:-''}, 2)"},
    ],
    "namespaces": {"t": ["grams", "bow"], "m": ["lang", "w", "wbin"]},
    "numBits": 18,
}


def _collect(df, col):
    return {r.id: r[col] for r in df.collect()}


@pytest.mark.parametrize("extra", [
    {},
    {"label": "${w} / 2", "importance": "${imp}", "tag": "${lang:-na}"},
    {"label": "${w} * 4", "numMissingThreshold": 1},
])
def test_vw_flat_matches_dict(spark, extra):
    doc = dict(SPEC, **extra)
    df = _df(spark)
    pipe = FeaturePipeline(PipelineSpec.from_json(doc))
    flat = _collect(pipe.to_vw_lines(df, keep_cols=["id"]), "vw_line")
    dic = vw_lines(FeaturePipeline(PipelineSpec.from_json(doc)), df, "id")
    assert flat == dic
    # sanity: lines are real (namespaces present on a normal row)
    if not extra:
        assert flat[0].count("|") == 2 and "|t" in flat[0] and "|m" in flat[0]


@pytest.mark.parametrize("with_label", [False, True])
def test_libsvm_flat_matches_dict(spark, with_label):
    doc = dict(SPEC)
    if with_label:
        doc["label"] = "${w}"
    df = _df(spark)
    pipe = FeaturePipeline(PipelineSpec.from_json(doc))
    flat = _collect(pipe.to_libsvm_lines(df, keep_cols=["id"]),
                    "libsvm_line")
    dic = libsvm_lines(FeaturePipeline(PipelineSpec.from_json(doc)), df, "id")
    assert flat == dic
    assert any(":" in v for v in flat.values())


def test_vw_flat_default_namespace_only(spark):
    doc = {"features": [{"name": "bow", "spec": "bag(${text})"}],
           "namespaces": {}}
    df = _df(spark)
    pipe = FeaturePipeline(PipelineSpec.from_json(doc))
    flat = _collect(pipe.to_vw_lines(df, keep_cols=["id"]), "vw_line")
    dic = vw_lines(FeaturePipeline(PipelineSpec.from_json(doc)), df, "id")
    assert flat == dic
    assert flat[0].startswith("| ")
    # bag counts render as weights: 'the' x3 in row 0
    assert "bow=the:3" in flat[0]


def test_vw_flat_feature_in_multiple_namespaces(spark):
    # a feature listed in several namespaces is emitted once per
    # namespace (row-builder semantics); the flat tier must match
    doc = {"features": [{"name": "x", "spec": "ind(${lang})"},
                        {"name": "y", "spec": "bag(${text})"}],
           "namespaces": {"a": ["x", "y"], "b": ["x"]}}
    df = _df(spark)
    flat = _collect(FeaturePipeline(PipelineSpec.from_json(doc))
                    .to_vw_lines(df, keep_cols=["id"]), "vw_line")
    dic = vw_lines(FeaturePipeline(PipelineSpec.from_json(doc)), df, "id")
    assert flat == dic
    assert flat[0].count("x=en") == 2    # once in |a, once in |b

"""Regression tests for the high-effort review findings — each test
pins a bug that shipped at some point during round 1."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aloha_spark.functions.batch import TokenCache, _ind_value_str, ind_flat
from aloha_spark.functions.scalars import ind
from aloha_spark.operators.dedup import exact_dedup
from aloha_spark.plans.pipeline import FeaturePipeline
from aloha_spark.plans.spec import PipelineSpec
from aloha_spark.sinks.vw import normalize_vw_line
from aloha_spark.sources.proto import Field, ProtoSchema, parse_message


class TestVariableDecoding:
    def test_dunder_column_names_resolve(self, spark):
        """'__'-named columns (incl. the conventional __salt) must not be
        corrupted by dotted-path decoding."""
        df = spark.createDataFrame([("a", 7, 3.0)],
                                   "user__name string, __salt int, v double")
        pipe = FeaturePipeline(PipelineSpec.from_json({
            "features": [{"name": "u", "spec": "ind(${user__name})"},
                         {"name": "s", "spec": "${__salt:-0}"},
                         {"name": "v", "spec": "${v}"}],
            "namespaces": {}, "numBits": 18}))
        row = pipe.to_sparse_vectors(df).collect()[0]
        assert sorted(row.values) == [1.0, 3.0, 7.0]

    def test_nested_path_still_resolves(self, spark):
        df = spark.createDataFrame([((1.5,),)], "a struct<b double>")
        pipe = FeaturePipeline(PipelineSpec.from_json({
            "features": [{"name": "nb", "spec": "${a.b} * 2"}],
            "namespaces": {}}))
        assert list(pipe.to_sparse_vectors(df).collect()[0].values) == [3.0]


class TestNullLabels:
    def test_null_label_degrades_to_unlabeled(self, spark):
        df = spark.createDataFrame([("x", 1.0), ("y", None)],
                                   "t string, lbl double")
        pipe = FeaturePipeline(PipelineSpec.from_json({
            "features": [{"name": "f", "spec": "ind(${t})"}],
            "label": "${lbl}", "namespaces": {}, "numBits": 18}))
        rows = {r.t: r.vw_line
                for r in pipe.to_vw_lines(df, keep_cols=["t"]).collect()}
        assert rows["x"].startswith("1 ")
        assert rows["y"] == "| f=y"      # no � garbage label
        assert "�" not in rows["y"]


class TestDedupNulls:
    def test_null_position_not_collapsed(self, spark):
        df = spark.createDataFrame(
            [(1, "x", None), (2, None, "x"), (3, "x", ""), (4, "x", None)],
            "doc_id long, a string, b string")
        out = exact_dedup(df, ["a", "b"]).collect()
        assert len(out) == 3
        assert sorted(r.dup_count for r in out) == [1, 1, 2]


class TestPackedProto:
    def test_packed_floats_and_doubles(self):
        import struct
        payload = struct.pack("<f", 1.5) + struct.pack("<f", -2.25)
        sch = ProtoSchema([Field(1, "xs", "float", repeated=True)])
        assert parse_message(bytes([0x0A, len(payload)]) + payload, sch) \
            == {"xs": [1.5, -2.25]}
        payload = struct.pack("<d", 3.5)
        sch = ProtoSchema([Field(1, "xs", "double", repeated=True)])
        assert parse_message(bytes([0x0A, len(payload)]) + payload, sch) \
            == {"xs": [3.5]}


class TestDoubleToStringParity:
    def test_scientific_threshold(self):
        # Scala Double.toString switches to scientific at 1e7
        assert ind(1.0e7) == {"=1.0E7": 1.0}
        assert ind(9999999.0) == {"=9999999.0": 1.0}
        assert ind(23.0) == {"=23.0": 1.0}
        assert ind(1.23e-5) == {"=1.23E-5": 1.0}
        assert _ind_value_str(1.0e7) == "1.0E7"
        keys, _vals, _rids, _isna = ind_flat(
            TokenCache(pd.DataFrame({"x": [1.0e7]})), "x", "f",
            lambda ks: np.asarray(ks, dtype=object))
        assert keys.tolist() == ["f=1.0E7"]


class TestNormalizerRobustness:
    def test_colon_in_feature_name(self):
        out = normalize_vw_line("|b bow=see:notes bow=a")
        assert out.startswith("|b:0.70711 ")     # both counted unweighted
        out2 = normalize_vw_line("|b f:2 g")
        assert out2.startswith("|b:0.44721 ")    # 1/sqrt(4+1)


class TestSimilarityGuards:
    def test_zero_norm_and_empty_queries(self, spark):
        from aloha_spark.operators.similarity import brute_force_topk
        corpus = spark.createDataFrame(
            [(i, [float(i + 1), 1.0]) for i in range(5)],
            "vec_id long, embedding array<double>")
        zq = spark.createDataFrame([(99, [0.0, 0.0])],
                                   "vec_id long, embedding array<double>")
        rows = brute_force_topk(zq, corpus, k=2).collect()
        assert all(not np.isnan(r.cosine) for r in rows)
        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        assert brute_force_topk(empty, corpus, k=2).count() == 0

"""Regression gates for the round-3c full-package review fixes:
proto overrun observability, hash pad-matrix bucketing, sos2 denormal
gate parity, set-valued indicator parity, CSV vector missing marker,
streaming featurize writer options."""

import numpy as np
import pandas as pd
import pytest


class TestProtoOverrun:
    def test_length_overrun_raises_not_truncates(self):
        from aloha_spark.sources.proto import (
            Field, ProtoSchema, encode_message, parse_message)
        spec = ProtoSchema([Field(1, "name", "string")])
        good = encode_message({"name": "hello world"}, spec)
        # corrupt: chop the payload after the length byte promised more
        bad = good[: len(good) - 5]
        with pytest.raises(ValueError, match="declares"):
            parse_message(bad, spec)

    def test_decode_lines_reports_error_column(self, spark):
        import base64

        from aloha_spark.sources.proto import (
            Field, ProtoSchema, decode_proto_lines, encode_message)
        spec = ProtoSchema([Field(1, "name", "string")])
        good = encode_message({"name": "hello world"}, spec)
        lines = [base64.b64encode(good).decode(),
                 base64.b64encode(good[:-5]).decode()]
        df = spark.createDataFrame([(l, i) for i, l in enumerate(lines)],
                                   "line string, i long")
        out = (decode_proto_lines(df, "line", spec, keep_cols=["i"])
               .orderBy("i").toPandas())
        assert out["proto_error"].isna().tolist() == [True, False]


class TestHashPadBucketing:
    def test_bucketed_path_equals_fast_path(self, monkeypatch):
        from aloha_spark.functions import hashing as H
        strings = (["a" * ln for ln in (1, 3, 7, 50, 400)]
                   + ["tok%d" % i for i in range(40)])
        want = H._string_hash_uncached(list(strings), H.STRING_SEED)
        # force the length-bucketed path: budget fits only a few rows
        monkeypatch.setattr(H, "_PAD_BUDGET", 1 << 10)
        got = H._string_hash_uncached(list(strings), H.STRING_SEED)
        assert got.tolist() == want.tolist()

    def test_one_huge_token_stays_bounded(self, monkeypatch):
        from aloha_spark.functions import hashing as H
        blob = "x" * 500_000
        small = ["t%d" % i for i in range(1000)]
        # pad budget that the old dense matrix (1001 x 500k) would blow
        monkeypatch.setattr(H, "_PAD_BUDGET", 1 << 21)
        got = H._string_hash_uncached(small + [blob], H.STRING_SEED)
        exp_small = H.string_hash_array(small)
        assert got[:1000].tolist() == exp_small.tolist()
        assert got[-1] == H.string_hash(blob)


class TestSos2DenormalGate:
    def test_batch_matches_scalar_at_denormal_frac(self):
        from aloha_spark.functions.batch import TokenCache
        from aloha_spark.functions.scalars import sos2
        from aloha_spark.plans.spec import (
            parse_feature_spec, try_compile_flat)
        # 0 < frac < 2^-53: 1-frac rounds to exactly 1.0 -> the scalar
        # function emits ONE entry; the kernel the spec compiles to
        # must agree
        v = 1e-17
        assert sos2(v, 0, 10, 1) == {"=0": 1.0}
        fn, col = try_compile_flat(
            parse_feature_spec("f", "sos2(${x}, 0, 10, 1)"))
        keys, vals, rids, isna = fn(
            TokenCache(pd.DataFrame({col: [v]})), "f",
            lambda ks: np.asarray(ks, dtype=object))
        assert keys.tolist() == ["f=0"] and vals.tolist() == [1.0]
        assert rids.tolist() == [0] and not isna.any()

    def test_flat_matches_scalar_at_denormal_frac(self):
        from aloha_spark.functions.batch import TokenCache, sos2_flat
        from aloha_spark.functions.hashing import string_hash_array
        pdf = pd.DataFrame({"x": [1e-17, 2.5, 3.0]})
        cache = TokenCache(pdf)
        idx, vals, rids, isna = sos2_flat(
            cache, "x", "f", string_hash_array, 0, 10, 1)
        per_row = {}
        for r, v in zip(rids.tolist(), vals.tolist()):
            per_row.setdefault(r, []).append(v)
        assert per_row[0] == [1.0]          # single entry, not denormal pair
        assert sorted(per_row[1]) == [0.5, 0.5]
        assert per_row[2] == [1.0]


class TestIndSetParity:
    def test_set_expansion_deterministic_and_tier_equal(self):
        from aloha_spark.functions.batch import TokenCache, ind_flat
        from aloha_spark.functions.scalars import ind
        s = {"b", "a", "c"}
        exp = {"=a": 1.0, "=b": 1.0, "=c": 1.0}
        assert ind(s) == exp
        assert list(ind(s)) == ["=a", "=b", "=c"]  # sorted, deterministic
        keys, vals, rids, isna = ind_flat(
            TokenCache(pd.DataFrame({"x": pd.Series([s], dtype=object)})),
            "x", "f", lambda ks: np.asarray(ks, dtype=object))
        assert keys.tolist() == ["f=a", "f=b", "f=c"]   # same order
        assert vals.tolist() == [1.0] * 3 and rids.tolist() == [0] * 3


class TestCsvVectorMissing:
    def test_vector_empty_element_is_null(self, spark, tmp_path):
        from aloha_spark.sources.tables import read_aloha_csv
        p = str(tmp_path / "v.csv")
        with open(p, "w") as f:
            f.write("x,,y\n")
        out = read_aloha_csv(spark, p, {"tags": "vs"}).toPandas()
        assert list(out["tags"].iloc[0]) == ["x", None, "y"]


class TestStreamingFeaturizeWriter:
    def test_checkpoint_and_query_name_accepted(self, spark, tmp_path):
        from aloha_spark.streaming.featurize import streaming_feature_vectors
        from aloha_spark.streaming.sessionize import read_transcript_stream
        from tests.test_streaming_stateful import T0, _write_turn_file

        src = str(tmp_path / "src")
        _write_turn_file(spark, src, "00",
                         [("a", 0, None, T0), ("a", 1, None, T0 + 60)])
        spec = {"features": [{"name": "lang", "spec": "bag(${text})"}],
                "namespaces": {}}
        start, _ = streaming_feature_vectors(
            read_transcript_stream(spark, src, max_files=1), spec,
            keep_cols=["conv_id", "turn_idx"])
        got = []
        q = start(lambda df, bid: got.append(df.count()),
                  checkpoint=str(tmp_path / "ckpt"), query_name="sfv")
        q.awaitTermination()
        assert sum(got) == 2
        # restart against the same checkpoint: nothing reprocessed
        q2 = start(lambda df, bid: got.append(df.count()),
                   checkpoint=str(tmp_path / "ckpt"), query_name="sfv")
        q2.awaitTermination()
        assert sum(got) == 2

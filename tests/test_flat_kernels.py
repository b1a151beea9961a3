"""Flat (whole-batch, dict-free) text kernels must be entry-identical to
the generic per-row tier for the hashed sparse-vector sink — including missing
handling, ${var:-default} substitution, counts, and skip-gram windows."""

import numpy as np
import pandas as pd
import pytest

from aloha_spark.functions.batch import TokenCache, bag_flat, pairgrams_flat
from aloha_spark.functions.hashing import string_hash_array
from aloha_spark.functions.textfeatures import bag, n_grams, skip_grams
from aloha_spark.plans.pipeline import FeaturePipeline
from aloha_spark.plans.spec import (
    PipelineSpec,
    parse_feature_spec,
    try_compile_flat,
    try_parse_binning,
)

MASK = np.int32((1 << 18) - 1)


def _hash_fn(keys):
    return string_hash_array(keys) & MASK


def _entries(idx, vals, rids, row):
    sel = rids == row
    return sorted(zip(idx[sel].tolist(), vals[sel].tolist()))


def _dict_entries(d, name):
    keys = [name + k for k in d]
    h = (string_hash_array(keys) & MASK).tolist()
    agg = {}
    for hh, v in zip(h, d.values()):
        agg[hh] = v  # same-index collisions: last wins either way after agg
    return sorted(agg.items())


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "a a a b",
    "",
    None,
    "single",
    "x y",
]


class TestFlatKernels:
    def test_bag_flat_matches_dict(self):
        cache = TokenCache(pd.DataFrame({"text": TEXTS}))
        idx, vals, rids, isna = bag_flat(cache, "text", "bow", _hash_fn)
        assert isna.tolist() == [False, False, False, True, False, False]
        for i, t in enumerate(TEXTS):
            if t is None:
                assert _entries(idx, vals, rids, i) == []
                continue
            assert _entries(idx, vals, rids, i) == _dict_entries(bag(t), "bow")

    def test_bag_flat_default_substitution(self):
        cache = TokenCache(pd.DataFrame({"text": TEXTS}))
        idx, vals, rids, isna = bag_flat(cache, "text", "bow", _hash_fn,
                                         default="")
        assert not isna.any()
        # NULL row behaves exactly like bag("")
        assert _entries(idx, vals, rids, 3) == _dict_entries(bag(""), "bow")

    @pytest.mark.parametrize("k", [0, 1, 2])
    def test_pairgrams_match_skipgrams(self, k):
        cache = TokenCache(pd.DataFrame({"text": TEXTS}))
        idx, vals, rids, isna = pairgrams_flat(
            cache, "text", "sk", _hash_fn, tuple(range(1, k + 2)))
        for i, t in enumerate(TEXTS):
            if t is None:
                continue
            ref = skip_grams(t, 2, k) if k else n_grams(t, 2)
            assert _entries(idx, vals, rids, i) == _dict_entries(ref, "sk"), \
                f"k={k} row={i} text={t!r}"

    def test_separator_render_collision_merges_counts(self):
        """Distinct token pairs that RENDER identically (token contains
        the separator) must merge counts exactly like the dict tier —
        entry-for-entry, no same-index duplicates (the sink's last-wins
        dedupe would otherwise drop a count)."""
        t = "a_b c a b_c"   # pairs (a_b,c) and (a,b_c) both print =a_b_c
        cache = TokenCache(pd.DataFrame({"text": [t]}))
        idx, vals, rids, _ = pairgrams_flat(cache, "text", "f", _hash_fn, (1,))
        assert len(idx) == len(set(idx.tolist()))  # no dup hashed keys
        assert sorted(zip(idx.tolist(), vals.tolist())) ==             _dict_entries(n_grams(t, 2), "f")

    def test_tokenization_shared_across_features(self):
        cache = TokenCache(pd.DataFrame({"text": TEXTS}))
        bag_flat(cache, "text", "a", _hash_fn)
        n0 = len(cache._cache)   # token entry + codes entry
        pairgrams_flat(cache, "text", "b", _hash_fn, (1,))
        assert len(cache._cache) == n0  # same (col, split, default) key

    def test_compile_coverage(self):
        compiled = {
            "bag(${text})": True,
            "bag(${prev_text:-''})": True,
            "nGrams(${text}, 2)": True,
            "skipGrams(${text}, 2, 1)": True,
            "nGrams(${text}, 3)": True,         # general n kernel (r3)
            "bag(${text}, '=', '', '\\s+', 5)": False,  # maxElements
            "bag(${v:-0})": False,              # non-string default
            "ind(${role})": True,
            "ind(${role:-x})": False,           # default -> generic tier
            "sos2U(${dt}, 0, 7200, 600)": True,
            "sos2(${dt}, 0, 10, 1)": True,
            "sos2(${dt:-0}, 0, 10, 1)": False,  # default -> generic tier
            "sos2(${dt}, -10, 10, 3)": True,    # negative literal
            "sos2(${dt}, 0, 10, 0)": False,     # degenerate grid
            "csos2(${x}, 0, 128, 384)": True,   # knots as trailing args
            "csos2(${x}, [-5, 0, 5])": True,
            "csos2(${x}, [5, 0])": False,       # unsorted knots
            "bag(${text}, maxElements=4)": False,
            "bag(${text}, '=', '', ' ', 3)": False,
            "nGrams(${text}, 2, maxElements=3)": False,
            "bag(${text}, ${sep})": False,      # non-literal argument
        }
        for spec, expect in compiled.items():
            got = try_compile_flat(parse_feature_spec("f", spec)) is not None
            assert got == expect, spec

    def test_binning_shares_the_match(self):
        cases = {
            "sos2(${dt}, -10, 10, 3)": {
                "fn": "sos2", "src": "dt", "vmin": -10, "vmax": 10,
                "delta": 3},
            "sos2U(${dt}, 0, 7200, 600)": {
                "fn": "sos2u", "src": "dt", "vmin": 0, "vmax": 7200,
                "delta": 600},
            "csos2(${x}, 0, 128, 384)": {
                "fn": "csos2", "src": "x", "knots": [0, 128, 384]},
            "csos2(${x}, [-5, 0, 5])": {
                "fn": "csos2", "src": "x", "knots": [-5, 0, 5]},
            "sos2(${dt:-0}, 0, 10, 1)": None,
            "csos2(${x}, [5, 0])": None,
            "bag(${x})": None,
        }
        for spec, want in cases.items():
            assert try_parse_binning(parse_feature_spec("f", spec)) == want, \
                spec


class TestFlatPipelineParity:
    def test_sparse_vectors_flat_vs_dict(self, spark):
        pdf = pd.DataFrame({
            "text": TEXTS * 20,
            "role": (["user", "assistant", None] * 40),
            "score": np.arange(120, dtype=np.float64),
        })
        df = spark.createDataFrame(pdf)
        spec = PipelineSpec.from_json({
            "features": [
                {"name": "bow", "spec": "bag(${text})"},
                {"name": "bi", "spec": "nGrams(${text}, 2)"},
                {"name": "sk", "spec": "skipGrams(${text}, 2, 1)"},
                {"name": "role", "spec": "ind(${role})"},
                {"name": "score", "spec": "${score}"},
            ], "namespaces": {}, "numBits": 18})
        flat_pipe = FeaturePipeline(spec)
        assert sum(1 for fp in flat_pipe.plan.features
                   if fp.flat_fn is not None) == 4  # bow, bi, sk, role
        dict_pipe = FeaturePipeline(spec)
        for fp in dict_pipe.plan.features:
            fp.flat_fn = None
        a = flat_pipe.to_sparse_vectors(df, keep_cols=["score"]) \
            .orderBy("score").toPandas()
        b = dict_pipe.to_sparse_vectors(df, keep_cols=["score"]) \
            .orderBy("score").toPandas()
        for i in range(len(a)):
            assert np.array_equal(a["indices"][i], b["indices"][i]), i
            assert np.allclose(a["values"][i], b["values"][i]), i
            assert list(a["missing_features"][i]) == \
                list(b["missing_features"][i]), i


    def test_flagship_spec_flat_vs_generic(self, spark):
        """Every flat kernel the flagship spec compiles (bags, n-grams,
        skip-grams, indicators, SOS2 bins) against the same features on
        the per-row tiers (``flat_fn=None``), through the flagship's own
        point-in-time frame."""
        from aloha_spark.data.transcripts import make_state, make_transcripts
        from aloha_spark.plans.flagship import (FLAGSHIP_SPEC,
                                                point_in_time_features)

        turns = make_transcripts(spark, n_convs=12, turns_per_conv=10,
                                 mega_turns=40)
        x = point_in_time_features(turns, make_state(spark, turns),
                                   state_cols=["state_score"]).cache()
        spec = PipelineSpec.from_json(FLAGSHIP_SPEC)
        flat_pipe = FeaturePipeline(spec)
        assert sum(1 for fp in flat_pipe.plan.features
                   if fp.flat_fn is not None) >= 5
        generic_pipe = FeaturePipeline(spec)
        for fp in generic_pipe.plan.features:
            fp.flat_fn = None
        keep = ["conv_id", "turn_idx"]
        a = flat_pipe.to_sparse_vectors(x, keep_cols=keep) \
            .orderBy(*keep).toPandas()
        b = generic_pipe.to_sparse_vectors(x, keep_cols=keep) \
            .orderBy(*keep).toPandas()
        x.unpersist()
        assert len(a) == len(b) == turns.count()
        for i in range(len(a)):
            assert np.array_equal(a["indices"][i], b["indices"][i]), i
            assert np.allclose(a["values"][i], b["values"][i]), i
            assert list(a["missing_features"][i]) == \
                list(b["missing_features"][i]), i


class TestCsos2Flat:
    def test_csos2_flat_matches_dict_tier(self, spark):
        from aloha_spark.plans.pipeline import FeaturePipeline
        from aloha_spark.plans.spec import PipelineSpec

        rows = [(i, v) for i, v in enumerate(
            [0.0, -5.0, 64.0, 128.0, 129.5, 200.0, 383.0, 384.0, 500.0,
             895.9, 896.0, 5000.0, None, float("nan")])]
        df = spark.createDataFrame(rows, "id long, x double")
        doc = {"features": [{"name": "c",
                             "spec": "csos2(${x}, [0, 128, 384, 896])"}],
               "namespaces": {}, "numBits": 18}
        pipe_flat = FeaturePipeline(PipelineSpec.from_json(doc))
        assert pipe_flat.plan.features[0].flat_fn is not None
        pipe_dict = FeaturePipeline(PipelineSpec.from_json(doc))
        for fp in pipe_dict.plan.features:
            fp.flat_fn = None
        a = pipe_flat.to_sparse_vectors(df, keep_cols=["id"]) \
            .orderBy("id").collect()
        b = pipe_dict.to_sparse_vectors(df, keep_cols=["id"]) \
            .orderBy("id").collect()
        for ra, rb in zip(a, b):
            assert list(ra.indices) == list(rb.indices), ra.id
            assert list(ra.values) == list(rb.values), ra.id
            assert list(ra.missing_features) == list(rb.missing_features)

    def test_csos2_flat_vw_lines_match(self, spark):
        from aloha_spark.plans.pipeline import FeaturePipeline
        from aloha_spark.plans.spec import PipelineSpec

        df = spark.createDataFrame(
            [(i, float(i * 37 % 950) - 10) for i in range(60)],
            "id long, x double")
        doc = {"features": [{"name": "c",
                             "spec": "csos2(${x}, [0, 100, 300, 800])"}],
               "namespaces": {}}
        from tests.featurize_oracle import vw_lines

        flat = {r.id: r.vw_line for r in
                FeaturePipeline(PipelineSpec.from_json(doc))
                .to_vw_lines(df, keep_cols=["id"]).collect()}
        dic = vw_lines(FeaturePipeline(PipelineSpec.from_json(doc)), df, "id")
        assert flat == dic

"""Property-based tests (hypothesis): the engine's kernels against
independent reference implementations on randomized inputs — the oracle
strategy of SURVEY §5.2(4) generalized from fixed fixtures to generated
ones.  Spark-touching properties run few examples against one shared
session; pure-Python kernels run the full default budget."""

import base64

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aloha_spark.functions.batch import TokenCache, bag_flat, pairgrams_flat
from aloha_spark.functions.hashing import string_hash_array
from aloha_spark.functions.textfeatures import bag, n_grams, skip_grams
from aloha_spark.sources.proto import (
    TRANSCRIPT_PROTO,
    USER_PROTO,
    encode_message,
    parse_message,
)

token = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N", "P", "S")),
    min_size=1, max_size=8)
text_strategy = st.lists(token, min_size=0, max_size=30).map(" ".join)
MASK = np.int32((1 << 18) - 1)


def _hash_fn(keys):
    return string_hash_array(keys) & MASK


def _flat_entries(idx, vals, rids, row):
    sel = rids == row
    agg = {}
    for h, v in sorted(zip(idx[sel].tolist(), vals[sel].tolist())):
        agg[h] = agg.get(h, 0.0) + v
    return agg


def _dict_entries(d, name):
    if not d:
        return {}
    keys = [name + k for k in d]
    hs = (_hash_fn(keys)).tolist()
    agg = {}
    for h, v in zip(hs, d.values()):
        agg[h] = agg.get(h, 0.0) + v
    return agg


class TestFlatKernelProperties:
    @given(st.lists(st.one_of(st.none(), text_strategy),
                    min_size=1, max_size=20))
    @settings(max_examples=60, deadline=None)
    def test_bag_flat_equals_dict_bag(self, texts):
        cache = TokenCache(pd.DataFrame({"t": pd.Series(texts, dtype=object)}))
        idx, vals, rids, isna = bag_flat(cache, "t", "f", _hash_fn)
        for i, t in enumerate(texts):
            if t is None:
                assert isna[i]
                continue
            assert _flat_entries(idx, vals, rids, i) == \
                _dict_entries(bag(t), "f")

    @given(st.lists(text_strategy, min_size=1, max_size=12),
           st.integers(min_value=0, max_value=3))
    @settings(max_examples=40, deadline=None)
    def test_pairgrams_equal_skipgrams(self, texts, k):
        cache = TokenCache(pd.DataFrame({"t": pd.Series(texts, dtype=object)}))
        idx, vals, rids, _ = pairgrams_flat(
            cache, "t", "f", _hash_fn, tuple(range(1, k + 2)))
        for i, t in enumerate(texts):
            ref = skip_grams(t, 2, k)
            assert _flat_entries(idx, vals, rids, i) == \
                _dict_entries(ref, "f"), (t, k)

    @given(st.lists(st.one_of(st.none(), text_strategy),
                    min_size=1, max_size=10),
           st.integers(min_value=1, max_value=4),
           st.integers(min_value=0, max_value=2))
    @settings(max_examples=40, deadline=None)
    def test_gramgrams_equal_skipgrams(self, texts, n, k):
        """General-n flat kernel (r3) == dict skip_grams for every
        (n, k), including None rows and separator-bearing tokens."""
        from aloha_spark.functions.batch import gramgrams_flat

        cache = TokenCache(pd.DataFrame({"t": pd.Series(texts, dtype=object)}))
        idx, vals, rids, isna = gramgrams_flat(
            cache, "t", "f", _hash_fn, n, k)
        for i, t in enumerate(texts):
            if t is None:
                assert isna[i]
                continue
            ref = skip_grams(t, n, k)
            assert _flat_entries(idx, vals, rids, i) == \
                _dict_entries(ref, "f"), (t, n, k)

    @given(text_strategy, st.integers(min_value=1, max_value=4))
    @settings(max_examples=60, deadline=None)
    def test_ngrams_count_invariant(self, t, n):
        """#(n-grams incl. multiplicity) == max(len - n + 1, 0) for
        non-empty token lists (java split semantics)."""
        from aloha_spark.functions.textfeatures import _tokenize
        toks = _tokenize(t, r"\s+")
        grams = n_grams(t, n)
        assert sum(grams.values()) == max(len(toks) - n + 1, 0)


class TestProtoProperties:
    msg = st.fixed_dictionaries({
        "conv_id": st.text(max_size=20),
        "turn_idx": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "role": st.one_of(st.none(), st.text(max_size=10)),
        "text": st.one_of(st.none(), st.text(max_size=200)),
        "tool": st.one_of(st.none(), st.text(max_size=10)),
        "ts_epoch_ms": st.integers(min_value=-(2**62), max_value=2**62),
    })

    @given(msg)
    @settings(max_examples=100, deadline=None)
    def test_transcript_round_trip(self, m):
        enc = encode_message(m, TRANSCRIPT_PROTO)
        dec = parse_message(enc, TRANSCRIPT_PROTO)
        assert dec == {k: v for k, v in m.items() if v is not None}

    @given(st.lists(st.fixed_dictionaries({
        "id": st.integers(min_value=0, max_value=2**40),
        "height": st.integers(min_value=0, max_value=10000),
        "aspect_ratio": st.floats(width=32, allow_nan=False,
                                  allow_infinity=False),
    }), max_size=5))
    @settings(max_examples=50, deadline=None)
    def test_nested_repeated_round_trip(self, photos):
        m = {"name": "x", "gender": "MALE", "bmi": 1.5, "photos": photos}
        dec = parse_message(encode_message(m, USER_PROTO), USER_PROTO)
        got = dec.get("photos", [])
        assert [p["id"] for p in got] == [p["id"] for p in photos]
        assert [p["height"] for p in got] == [p["height"] for p in photos]

    @given(st.binary(max_size=60))
    @settings(max_examples=100, deadline=None)
    def test_arbitrary_bytes_never_crash(self, blob):
        """Malformed input must raise (caught by the scan's error
        column) or parse — never hang or corrupt."""
        try:
            parse_message(blob, TRANSCRIPT_PROTO)
        except (ValueError, IndexError, UnicodeDecodeError, struct_error):
            pass


from struct import error as struct_error  # noqa: E402


class TestAsofProperty:
    @given(st.data())
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_asof_matches_pandas_merge_asof(self, spark, data):
        """Randomized conversations incl. duplicate timestamps and
        future-dated state: window-mode as-of == pd.merge_asof."""
        from aloha_spark.operators.asof import asof_join

        n_convs = data.draw(st.integers(min_value=1, max_value=4))
        turns_rows, state_rows = [], []
        for c in range(n_convs):
            ts_list = sorted(data.draw(st.lists(
                st.integers(min_value=0, max_value=50),
                min_size=1, max_size=12)))
            for i, t in enumerate(ts_list):
                turns_rows.append((f"c{c}", i, t))
            for t in data.draw(st.lists(
                    st.integers(min_value=-5, max_value=60), max_size=6)):
                state_rows.append((f"c{c}", t, float(t * 10 + c)))
        # dedupe state on (conv, ts): engine contract is at most one
        # state row per key x timestamp
        state_rows = list({(c, t): (c, t, v)
                           for c, t, v in state_rows}.values())

        tp = pd.DataFrame(turns_rows, columns=["conv_id", "turn_idx", "ts"])
        sp = pd.DataFrame(state_rows, columns=["conv_id", "ts", "sv"])
        turns = spark.createDataFrame(tp)
        if len(sp) == 0:
            sp = pd.DataFrame([("zz", -1, 0.0)],
                              columns=["conv_id", "ts", "sv"])
        state = spark.createDataFrame(sp)
        got = (asof_join(turns, state, on="ts", by="conv_id",
                         state_cols=["sv"])
               .orderBy("conv_id", "turn_idx").toPandas())

        exp = pd.merge_asof(
            tp.sort_values("ts", kind="mergesort"),
            sp.sort_values("ts", kind="mergesort"),
            on="ts", by="conv_id", direction="backward",
            allow_exact_matches=True) \
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        assert got["sv"].fillna(-999).tolist() == \
            exp["sv"].fillna(-999).tolist()


class TestFlatLineParityFuzz:
    """Hypothesis fuzz: the flat VW/LibSVM line assemblers must equal the
    per-row dict oracle byte-for-byte on arbitrary token content (incl.
    separators, ':' '|' tokens), near-epsilon weights, NULLs, and
    multi-namespace membership — evaluated directly on pandas frames
    (no Spark session), so hundreds of examples run in seconds."""

    @staticmethod
    def _plan(doc):
        from aloha_spark.plans.pipeline import FeaturePipeline
        from aloha_spark.plans.spec import PipelineSpec
        return FeaturePipeline(PipelineSpec.from_json(doc)).plan

    _token = st.text(
        alphabet=st.sampled_from("ab:|_=\x00é 5."), min_size=1, max_size=6)
    _text = st.lists(_token, min_size=0, max_size=8).map(" ".join)
    _weight = st.one_of(
        st.floats(min_value=-3, max_value=3, allow_nan=False),
        st.sampled_from([0.0, 1.0, 1.0 + 4e-7, -4e-7, 2.0, -0.0,
                         0.9999996, 12345678.5]))

    @given(st.lists(
        st.tuples(st.one_of(st.none(), _text),
                  st.one_of(st.none(), _weight),
                  st.one_of(st.none(), st.sampled_from(["en", "de", ""]))),
        min_size=1, max_size=12))
    @settings(max_examples=120, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_vw_flat_equals_dict(self, rows):
        from aloha_spark.plans.pipeline import _assemble_vw_bodies
        from aloha_spark.sinks.vw import unlabeled_vw_line
        from tests.featurize_oracle import batch_eval

        doc = {"features": [
                   {"name": "bow", "spec": "bag(${text})"},
                   {"name": "w", "spec": "clamp(${w}, -100, 100)"},
                   {"name": "lang", "spec": "ind(${lang})"},
               ],
               # 'w' in two namespaces, bow in default
               "namespaces": {"m": ["lang", "w"], "z": ["w"]}}
        plan = self._plan(doc)
        # emulate _with_precomputed: Column-tier features read __als_ cols
        pdf = pd.DataFrame({
            "text": [r[0] for r in rows],
            "w": [r[1] for r in rows],
            "lang": [r[2] if r[2] != "" else None for r in rows]})
        for fp in plan.features:
            if fp.name == "w":
                fp.kind = "column"
                pdf["__als_w"] = pd.array(
                    [None if v is None else float(min(max(v, -100), 100))
                     for v in pdf["w"]], dtype="Float64")
            if fp.name == "lang":
                fp.kind = "string_column"
                pdf["__als_lang"] = pdf["lang"]
        flat, _ = _assemble_vw_bodies(plan, pdf)
        order, bags, missing, erring = batch_eval(plan, pdf)
        dic = [unlabeled_vw_line([bags[fi][i] for fi in range(len(order))],
                                 plan.default_ns, plan.namespaces)
               for i in range(len(pdf))]
        assert flat == dic

    @given(st.lists(st.one_of(st.none(), _text), min_size=1, max_size=10))
    @settings(max_examples=80, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_libsvm_flat_equals_dict(self, texts):
        from aloha_spark.plans.pipeline import _assemble_libsvm_lines
        from tests.featurize_oracle import batch_eval
        from aloha_spark.sinks.libsvm import labeled_libsvm_line

        doc = {"features": [{"name": "bow", "spec": "bag(${text})"},
                            {"name": "g2", "spec": "nGrams(${text:-''}, 2)"}],
               "namespaces": {}}
        plan = self._plan(doc)
        pdf = pd.DataFrame({"text": texts})
        mask = np.int32((1 << 18) - 1)

        def hash_fn(keys):
            return string_hash_array(keys) & mask

        flat, _ = _assemble_libsvm_lines(plan, pdf, hash_fn)
        order, bags, missing, erring = batch_eval(plan, pdf)
        dic = [labeled_libsvm_line([bags[fi][i] for fi in range(len(order))],
                                   None, 18)
               for i in range(len(pdf))]
        assert flat == dic

"""Window features vs pandas oracle (groupby shift / ffill / gap-cumsum),
plus transcript-generator determinism and the per-turn text-equality
invariant under stable ordering."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aloha_spark.data.transcripts import make_state, make_transcripts
from aloha_spark.operators.windows import (
    stable_output_order,
    with_backfill,
    with_lag_lead,
    with_rolling_count,
    with_session_id,
    with_ts_delta,
    with_turn_reindex,
)

GAP = 1800.0


def _pandas_oracle(tp: pd.DataFrame) -> pd.DataFrame:
    tp = tp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    g = tp.groupby("conv_id", sort=False)
    tp["prev_text"] = g["text"].shift(1)
    tp["next_text"] = g["text"].shift(-1)
    tp["last_tool"] = g["tool"].ffill()
    secs = tp["ts"].astype("int64") / 1e9
    tp["dt_prev_sec"] = secs - secs.groupby(tp["conv_id"]).shift(1)
    tp["session_id"] = (
        (tp["dt_prev_sec"] > GAP).astype(int).groupby(tp["conv_id"]).cumsum())
    tp["rolling_tools"] = (
        tp["tool"].notna().astype(int).groupby(tp["conv_id"])
        .rolling(6, min_periods=1).sum().reset_index(level=0, drop=True))
    return tp


def test_window_features_match_pandas(spark):
    turns = make_transcripts(spark, n_convs=25, turns_per_conv=30).cache()
    df = with_lag_lead(turns, ["text"])
    df = with_backfill(df, ["tool"], prefix="last_")
    df = with_ts_delta(df)
    df = with_session_id(df, gap_seconds=GAP, order=["turn_idx"])
    df = with_rolling_count(df, F.col("tool").isNotNull(), k=5,
                            out_col="rolling_tools")
    got = df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = _pandas_oracle(turns.toPandas())

    for c in ["prev_text", "next_text", "last_tool"]:
        assert got[c].where(pd.notna(got[c]), None).tolist() == \
            exp[c].where(pd.notna(exp[c]), None).tolist(), c
    assert np.allclose(got["dt_prev_sec"].to_numpy(dtype=float),
                       exp["dt_prev_sec"].to_numpy(dtype=float), equal_nan=True)
    assert got["session_id"].astype(int).tolist() == exp["session_id"].tolist()
    assert got["rolling_tools"].astype(int).tolist() == \
        exp["rolling_tools"].astype(int).tolist()


def test_turn_reindex(spark):
    turns = make_transcripts(spark, n_convs=5, turns_per_conv=10)
    re = with_turn_reindex(turns.drop("turn_idx"), order=["ts"],
                           out_col="turn_idx2")
    got = re.toPandas().sort_values(["conv_id", "ts"])
    for _, grp in got.groupby("conv_id"):
        assert grp["turn_idx2"].tolist() == list(range(len(grp)))


def test_generator_deterministic_and_text_equality(spark):
    a = make_transcripts(spark, n_convs=10, turns_per_conv=6).toPandas()
    b = make_transcripts(spark, n_convs=10, turns_per_conv=6).toPandas()
    a = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = b.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    pd.testing.assert_frame_equal(a, b)
    # ts monotone per conv
    for _, grp in a.groupby("conv_id"):
        assert grp["ts"].is_monotonic_increasing


def test_text_equality_survives_pipeline(spark):
    """North-rule invariant: per-turn text unchanged by the engine."""
    turns = make_transcripts(spark, n_convs=8, turns_per_conv=12)
    from aloha_spark.operators.asof import asof_join
    state = make_state(spark, turns)
    out = stable_output_order(
        asof_join(turns, state, state_cols=["state_score"]))
    got = out.select("conv_id", "turn_idx", "text").toPandas()
    exp = turns.select("conv_id", "turn_idx", "text").toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)


@pytest.mark.parametrize("kw", [
    {"hot_keys": ["mega"]},
    {"hot_key_threshold": 20},
    {"hot_keys": ["mega"], "tolerance": 900.0},
    {"direction": "nearest", "hot_key_threshold": 20},
], ids=["salt-list", "salt-threshold", "tolerance", "nearest"])
def test_point_in_time_builder_matches_helpers(spark, kw):
    """The flagship's two-projection turn stage plus its as-of attach
    gives exactly the rows of the composed public helpers followed by
    ``asof_join`` (``exceptAll`` empty both ways, same row count)."""
    from aloha_spark.operators.asof import asof_join
    from aloha_spark.plans.flagship import point_in_time_features

    turns = make_transcripts(spark, n_convs=8, turns_per_conv=12,
                             mega_turns=40).cache()
    state = make_state(spark, turns).cache()
    cols = ["state_score", "state_tag"]
    asof_kw = dict(kw, salt_buckets=4)
    direction = asof_kw.pop("direction", None)
    if direction is None:
        got = point_in_time_features(turns, state, state_cols=cols,
                                     gap_seconds=GAP, **asof_kw)
    else:   # the builder joins backward: attach to its turn stage
        got = asof_join(point_in_time_features(turns, None,
                                               gap_seconds=GAP),
                        state, state_cols=cols, direction=direction,
                        **asof_kw)
    w = with_lag_lead(turns, ["text"], lead=False)
    w = with_backfill(w, ["tool"])
    w = with_ts_delta(w)
    w = with_session_id(w, gap_seconds=GAP, order=["turn_idx"])
    want = asof_join(w, state, state_cols=cols,
                     direction=direction or "backward", **asof_kw)
    assert got.columns == want.columns
    assert got.count() == want.count() == turns.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the case exercises state: some turns match
    assert got.where(F.col("state_score").isNotNull()).count() > 0
    turns.unpersist()
    state.unpersist()


class TestTopKPerGroup:
    def test_matches_sorted_replica(self, spark):
        import random
        from aloha_spark.operators.windows import top_k_per_group
        rng = random.Random(3)
        rows = [(i, f"g{i % 5}", rng.randrange(100)) for i in range(200)]
        df = spark.createDataFrame(rows, "id long, g string, v long")
        got = top_k_per_group(df, 4, by="g", value="v",
                              tie_by=["id"]).collect()
        by_g = {}
        for i, g, v in rows:
            by_g.setdefault(g, []).append((i, v))
        for g, items in by_g.items():
            want = sorted(items, key=lambda x: (-x[1], x[0]))[:4]
            got_g = sorted(((r.id, r.v) for r in got if r.g == g),
                           key=lambda x: (-x[1], x[0]))
            assert got_g == want, g
        assert all(1 <= r.rk <= 4 for r in got)

    def test_ascending_and_k_validation(self, spark):
        import pytest
        from aloha_spark.operators.windows import top_k_per_group
        df = spark.createDataFrame(
            [(1, "a", 5), (2, "a", 3)], "id long, g string, v long")
        lo = top_k_per_group(df, 1, by="g", value="v", descending=False,
                             tie_by=["id"]).collect()
        assert lo[0].id == 2
        with pytest.raises(ValueError):
            top_k_per_group(df, 0, by="g", value="v")

    def test_tie_by_required(self, spark):
        import pytest
        from aloha_spark.operators.windows import top_k_per_group
        df = spark.createDataFrame(
            [(1, "a", 5)], "id long, g string, v long")
        with pytest.raises(ValueError, match="tie_by"):
            top_k_per_group(df, 1, by="g", value="v")

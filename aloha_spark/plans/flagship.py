"""The flagship point-in-time featurization pipeline, shared by
``bench.py``, ``BENCH/scaling.py``, and ``__spark_entry__.entry``.

Stage order is chosen for shuffle economy at 100 TB scale:

1. **Turn-side window features first** (lag text, backfill tool, Δts,
   session id) — these are pure functions of the turns table, so they
   run on the *narrow* frame before any state columns are attached.
   All four share one ``Window.partitionBy(conv_id).orderBy(turn_idx)``
   spec, so Catalyst plans a single exchange + sort for the lot.
2. **Salted as-of join** attaches the latest state — window mode is a
   pure Catalyst plan (union + ``last(struct) ignorenulls`` over an
   unbounded-preceding frame), zero Python.  Running it *after* the
   windows means the join's (conv_id, salt) exchange never has to be
   re-partitioned back to plain conv_id for window work (measured ~2x
   upstream win at 2M rows vs the join-first ordering).
3. **Hashed sparse-vector featurization pipelined into the join stage**
   (no intervening shuffle): salting already splits hot conversations
   across buckets, so the featurize ``mapInPandas`` inherits a balanced
   (conv_id, salt) partitioning.  Measured at 2M turns: an explicit
   round-robin ``repartition`` before the Python stage costs ~2.3x
   (it re-shuffles every wide text column) — only reach for
   ``rebalance_to`` when the input is unsalted AND skewed.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame

from ..operators.asof import asof_join
from ..operators.windows import (
    with_backfill,
    with_lag_lead,
    with_session_id,
    with_ts_delta,
)
from .pipeline import FeaturePipeline
from .spec import PipelineSpec

#: production-shaped feature set: text kernels dominate, as they do in a
#: real training-data featurization job
FLAGSHIP_SPEC = {
    "features": [
        {"name": "role", "spec": "ind(${role})"},
        {"name": "tool", "spec": "ind(${last_tool})"},
        {"name": "bow", "spec": "bag(${text})"},
        {"name": "bi", "spec": "nGrams(${text}, 2)"},
        {"name": "sk", "spec": "skipGrams(${text}, 2, 1)"},
        {"name": "prev_bow", "spec": "bag(${prev_text:-''})"},
        {"name": "dt", "spec": "clamp(${dt_prev_sec:-0}, 0, 86400)"},
        {"name": "dt_bin", "spec": "sos2U(${dt_prev_sec}, 0, 7200, 600)"},
        {"name": "state", "spec": "${state_score:-0}"},
    ],
    "namespaces": {},
    "numBits": 18,
}

#: smaller variant used by entry()/featurize_e2e where the events table
#: has no bigram/skipgram budget
FLAGSHIP_SPEC_SMALL = {
    "features": [
        {"name": "role", "spec": "ind(${role})"},
        {"name": "tool", "spec": "ind(${last_tool})"},
        {"name": "bow", "spec": "bag(${text})"},
        {"name": "prev_bow", "spec": "bag(${prev_text:-''})"},
        {"name": "dt", "spec": "clamp(${dt_prev_sec:-0}, 0, 86400)"},
        {"name": "dt_bin", "spec": "sos2U(${dt_prev_sec}, 0, 7200, 600)"},
        {"name": "state", "spec": "${state_score:-0}"},
    ],
    "namespaces": {},
    "numBits": 18,
}


def point_in_time_features(
    turns: DataFrame,
    state: DataFrame,
    *,
    state_cols: Optional[list] = None,
    hot_keys: Optional[Iterable] = None,
    salt_buckets: int = 8,
    gap_seconds: float = 1800.0,
) -> DataFrame:
    """Stages 1-2: windowed turn features + salted as-of state attach."""
    x = with_lag_lead(turns, ["text"], order=("turn_idx",), lead=False)
    x = with_backfill(x, ["tool"], order=("turn_idx",))
    x = with_ts_delta(x, order=("turn_idx",))
    x = with_session_id(x, gap_seconds=gap_seconds, order=("turn_idx",))
    return asof_join(
        x, state, on="ts", by="conv_id", state_cols=state_cols,
        hot_keys=hot_keys, salt_buckets=salt_buckets)


def flagship_vectors(
    turns: DataFrame,
    state: DataFrame,
    *,
    spec: Optional[dict] = None,
    state_cols: Optional[list] = None,
    hot_keys: Optional[Iterable] = None,
    salt_buckets: int = 8,
    rebalance_to: Optional[int] = None,
    keep_cols: Optional[list] = None,
) -> DataFrame:
    """Full flagship: point-in-time features -> hashed sparse vectors."""
    x = point_in_time_features(
        turns, state, state_cols=state_cols, hot_keys=hot_keys,
        salt_buckets=salt_buckets)
    pipe = FeaturePipeline(PipelineSpec.from_json(spec or FLAGSHIP_SPEC))
    if rebalance_to:
        # only for unsalted skewed inputs — see module docstring
        x = x.repartition(rebalance_to)
    return pipe.to_sparse_vectors(
        x, keep_cols=keep_cols or ["conv_id", "turn_idx", "session_id"])

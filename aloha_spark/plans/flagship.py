"""The flagship point-in-time featurization pipeline, shared by
``bench.py``, ``BENCH/scaling.py``, and ``__spark_entry__.entry``.

Stage order is chosen for shuffle economy at 100 TB scale:

1. **Turn-side window features first** (lag text, backfill tool, Δts,
   session id) — these are pure functions of the turns table, so they
   run on the *narrow* frame before any state columns are attached.
   All four share one ``Window.partitionBy(conv_id).orderBy(turn_idx)``
   spec and are built as two projections: lag + backfill + Δts in one
   (one physical ``Window``, ``lag(epoch(ts))`` computed once), then
   the session id as a running sum over that Δts (a second ``Window``).
   Both sit on one exchange + sort; chaining the four ``with_*``
   helpers instead stacks four ``Window`` operators.
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

from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame

from ..operators.asof import asof_join
from ..operators.windows import (
    backfill_col,
    lag_col,
    session_id_col,
    ts_delta_col,
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
    state: Optional[DataFrame],
    *,
    by: str = "conv_id",
    on: str = "ts",
    order: Sequence[str] = ("turn_idx",),
    state_cols: Optional[list] = None,
    hot_keys: Optional[Iterable] = None,
    hot_key_threshold: Optional[int] = None,
    salt_buckets: int = 8,
    gap_seconds: float = 1800.0,
    tolerance: Optional[float] = None,
) -> DataFrame:
    """Stages 1-2: windowed turn features (``prev_text``, ``last_tool``,
    ``dt_prev_sec``, ``session_id`` per ``by`` in ``order``) + salted
    as-of state attach on ``on`` (skipped when ``state`` is None)."""
    x = turns.withColumns({
        "prev_text": lag_col("text", 1, by, order),
        "last_tool": backfill_col("tool", by, order),
        "dt_prev_sec": ts_delta_col(on, by, order),
    }).withColumn("session_id",
                  session_id_col("dt_prev_sec", gap_seconds, by, order))
    if state is None:
        return x
    return asof_join(
        x, state, on=on, by=by, state_cols=state_cols, hot_keys=hot_keys,
        hot_key_threshold=hot_key_threshold, salt_buckets=salt_buckets,
        tolerance=tolerance)


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

"""Windowed turn features: lag/lead, last-value backfill, gap-based
sessionization, rolling counts, stable re-indexing.

The reference's analog is the stateful iterator
``StatefulRowCreator.statefulMap`` (aloha-core/.../dataset/
StatefulRowCreator.scala:36-75); here the per-conversation sequential
semantics are declared as Spark Window specs so Catalyst plans one
shuffle per partitioning and whole-stage-codegens the frame evaluation.

Each feature is a Column builder (``lag_col``, ``lead_col``,
``backfill_col``, ``ts_delta_col``, ``session_id_col``) over one
``Window.partitionBy(by).orderBy(order)`` spec; the ``with_*`` helpers
are thin DataFrame wrappers over them.  Window expressions over one
spec that sit in ONE projection become one physical ``Window``
operator, whatever their frames.  Each ``with_*`` call is its own
projection, so chaining them stacks a ``Window`` per call (two for
``with_session_id``) with Projects between; build several features in one ``withColumns`` /
``select`` instead (``plans/flagship.py``: two projections, two
``Window`` operators, one exchange + sort).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F


def turn_window(by: str = "conv_id", order: Sequence[str] = ("turn_idx",)) -> WindowSpec:
    return Window.partitionBy(by).orderBy(*order)


def epoch_seconds(c) -> "F.Column":
    """Timestamp -> fractional epoch seconds; handles both TIMESTAMP and
    TIMESTAMP_NTZ (parquet default in Spark 4, not castable to double).
    NTZ values are interpreted in the session time zone — pin
    spark.sql.session.timeZone=UTC for determinism."""
    col = c if not isinstance(c, str) else F.col(c)
    return F.unix_micros(col.cast("timestamp_ltz")) / F.lit(1e6)


def _running(by: str, order: Sequence[str]) -> WindowSpec:
    return turn_window(by, order).rowsBetween(Window.unboundedPreceding, 0)


def lag_col(c: str, k: int = 1, by: str = "conv_id",
            order: Sequence[str] = ("turn_idx",)) -> Column:
    """``c`` k turns back (NULL before the first)."""
    return F.lag(c, k).over(turn_window(by, order))


def lead_col(c: str, k: int = 1, by: str = "conv_id",
             order: Sequence[str] = ("turn_idx",)) -> Column:
    """``c`` k turns ahead (NULL past the last)."""
    return F.lead(c, k).over(turn_window(by, order))


def backfill_col(c: str, by: str = "conv_id",
                 order: Sequence[str] = ("turn_idx",)) -> Column:
    """Last-known value of ``c``: F.last(ignorenulls=True) over an
    unbounded-preceding frame."""
    return F.last(c, ignorenulls=True).over(_running(by, order))


def ts_delta_col(ts: str = "ts", by: str = "conv_id",
                 order: Sequence[str] = ("turn_idx",)) -> Column:
    """Seconds since the previous turn (NULL on the first turn)."""
    secs = epoch_seconds(ts)
    return secs - F.lag(secs, 1).over(turn_window(by, order))


def session_id_col(delta, gap_seconds: float = 1800.0, by: str = "conv_id",
                   order: Sequence[str] = ("turn_idx",)) -> Column:
    """Session index from 0 within each key: the running count of turns
    whose ``delta`` (seconds since the previous turn: a column name, or
    a Column such as ``ts_delta_col(...)``) exceeds ``gap_seconds``.  A
    NULL delta (the first turn) opens no session."""
    d = F.col(delta) if isinstance(delta, str) else delta
    new_session = F.when(d > F.lit(float(gap_seconds)), F.lit(1)) \
        .otherwise(F.lit(0))
    return F.sum(new_session).over(_running(by, order))


def with_lag_lead(df: DataFrame, cols: Sequence[str], by: str = "conv_id",
                  order: Sequence[str] = ("turn_idx",), k: int = 1,
                  lead: bool = True) -> DataFrame:
    """prev_<c>/next_<c> columns (F.lag/F.lead over the turn window)."""
    new = {}
    for c in cols:
        new[f"prev_{c}"] = lag_col(c, k, by, order)
        if lead:
            new[f"next_{c}"] = lead_col(c, k, by, order)
    return df.withColumns(new)


def with_ts_delta(df: DataFrame, ts: str = "ts", by: str = "conv_id",
                  order: Sequence[str] = ("turn_idx",),
                  out_col: str = "dt_prev_sec") -> DataFrame:
    """Seconds since the previous turn (NULL on the first turn)."""
    return df.withColumn(out_col, ts_delta_col(ts, by, order))


def with_backfill(df: DataFrame, cols: Sequence[str], by: str = "conv_id",
                  order: Sequence[str] = ("turn_idx",),
                  prefix: str = "last_") -> DataFrame:
    """Last-known-value carry-forward of each of ``cols``."""
    return df.withColumns(
        {f"{prefix}{c}": backfill_col(c, by, order) for c in cols})


def with_session_id(df: DataFrame, ts: str = "ts", by: str = "conv_id",
                    order: Optional[Sequence[str]] = None,
                    gap_seconds: float = 1800.0,
                    out_col: str = "session_id") -> DataFrame:
    """Per-row session ids: cumulative count of gaps > gap_seconds.

    ``session_window`` yields per-session aggregate rows; per-turn
    features need the id on every row, hence the cumulative-sum form
    (SURVEY §2.6).  Sessions index from 0 within each key.  Standalone,
    this computes its own ts delta (two ``Window`` operators); when
    ``dt_prev_sec`` is already there, ``session_id_col("dt_prev_sec")``
    reuses it.
    """
    order = list(order) if order else [ts]
    return df.withColumn(out_col, session_id_col(
        ts_delta_col(ts, by, order), gap_seconds, by, order))


def with_rolling_count(df: DataFrame, predicate, k: int,
                       by: str = "conv_id", order: Sequence[str] = ("turn_idx",),
                       out_col: str = "rolling_count") -> DataFrame:
    """Count of rows matching ``predicate`` (a Column<bool>) in the last
    k turns inclusive (frame rowsBetween(-k, 0))."""
    w = turn_window(by, order).rowsBetween(-k, 0)
    return df.withColumn(out_col, F.sum(predicate.cast("long")).over(w))


def with_turn_reindex(df: DataFrame, by: str = "conv_id",
                      order: Sequence[str] = ("ts",),
                      out_col: str = "turn_idx") -> DataFrame:
    """Stable 0-based re-index within a conversation (row_number - 1).
    Pass a deterministic tiebreaker in ``order`` for stability."""
    return df.withColumn(
        out_col, F.row_number().over(turn_window(by, order)) - F.lit(1))


def stable_output_order(df: DataFrame, by: str = "conv_id",
                        order: str = "turn_idx",
                        num_partitions: Optional[int] = None) -> DataFrame:
    """North-rule output invariant: deterministic (conv_id, turn_idx)
    global order — range partition then sort within partitions."""
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return (df.repartitionByRange(n, F.col(by), F.col(order))
              .sortWithinPartitions(by, order))


def top_k_per_group(df: DataFrame, k: int, *,
                    by: str = "conv_id",
                    value: str = "ts",
                    descending: bool = True,
                    tie_by: Optional[Sequence[str]] = None,
                    rank_col: str = "rk") -> DataFrame:
    """Exactly the k best rows per group, deterministically.

    Orders each ``by`` group on ``value`` (descending by default), ties
    broken by ``tie_by`` ascending (pass a unique column — without a
    total order "top k" is not a well-defined set and cannot be
    verified against any oracle), keeps ``row_number() <= k`` and emits
    the rank in ``rank_col``.

    Scale: a rank-filter window is the textbook hot-reducer trap (every
    group's full row set crosses to one reducer before the filter).
    Spark >= 3.5's WindowGroupLimit rewrite pushes the limit BELOW the
    exchange — each map task pre-prunes to its local top-k per group,
    so at most ``k x num_partitions`` rows per group shuffle no matter
    how large the group is.  The plan gate in
    tests/test_plan_quality.py asserts the rewrite actually fires (it
    silently does NOT for rank functions other than
    row_number/rank/dense_rank or for frames that reference other
    window functions — keep this operator's window minimal)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if not tie_by:
        raise ValueError(
            "top_k_per_group requires tie_by (a unique column or "
            "combination): without a total order the selected set is "
            "partition-arrival-dependent and unverifiable")
    order = [F.col(value).desc() if descending else F.col(value).asc()]
    order += [F.col(c).asc() for c in tie_by]
    w = Window.partitionBy(by).orderBy(*order)
    return (df.withColumn(rank_col, F.row_number().over(w))
              .where(F.col(rank_col) <= k))

"""Distributed point-in-time (as-of) join.

Semantics: ``pd.merge_asof(turns, state, by=key, on=ts,
direction='backward', allow_exact_matches=True)`` — attach to every
turn the latest state row whose timestamp is <= (or < when
``allow_exact=False``) the turn's timestamp, per key, with **zero
temporal leakage** (no state from the future, not even at equal
timestamps when strict).

The reference engine (eHarmony/aloha) has no joins at all — it is
stateless per-row scoring; its only sequential primitive is
``StatefulRowCreator.statefulMap`` (aloha-core/.../dataset/
StatefulRowCreator.scala:36-75), whose doc prescribes "a separate
starting state for each unit of parallelism" — here every key's window
partition is that unit.

Design (Spark-first, scales to 10^12 rows):

1. Tag both inputs and ``unionByName`` them — state rows carry the state
   payload, turn rows carry the turn payload.  One DataFrame means one
   shuffle co-partitions both sides by construction; there is no need to
   force identical range boundaries across two separate DataFrames.
2. Pack the state payload into one struct (NULL on turn rows; a struct
   keeps multi-column state rows atomic) and forward-fill it with
   ``last(struct, ignorenulls=True)`` over ``Window.partitionBy(key)
   .orderBy(ts, side)``.  ``side`` breaks timestamp ties so that state
   sorts before turns when exact matches are allowed (and after when
   strict).  The window's exchange + sort is Spark's spill-to-disk
   external sort, so a key larger than memory is fine.
3. Keep turn rows.  The whole join is a Catalyst plan: one shuffle, zero
   Python, whole-stage-codegen'd.

Skew: a hot key makes one task long, not incorrect.  Salting (``hot_keys``)
splits a hot key's turns across ``salt_buckets`` sub-partitions and
replicates the hot key's state rows into every sub-partition
(replicate-the-small-side salting).  Each salted task then computes its
turns independently — full state replication makes a re-merge reduce
stage unnecessary, because backward as-of lookups are per-turn pure
functions of (turn ts, full state history).
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

_SIDE = "__asof_side"
_SALT = "__asof_salt"


def detect_hot_keys(df: DataFrame, by: str, threshold: int) -> list:
    """Keys whose row count exceeds ``threshold`` (driver-collected;
    hot keys are by definition few)."""
    rows = (df.groupBy(by).count().filter(F.col("count") > threshold)
            .select(by).collect())
    return [r[0] for r in rows]


def asof_join(
    turns: DataFrame,
    state: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    state_cols: Optional[Sequence[str]] = None,
    *,
    allow_exact: bool = True,
    tiebreaker: Optional[str] = None,
    hot_keys: Optional[Iterable] = None,
    hot_key_threshold: Optional[int] = None,
    salt_buckets: int = 8,
    direction: str = "backward",
    tolerance: Optional[float] = None,
) -> DataFrame:
    """As-of join: attach ``state_cols`` per ``by`` along ``direction``
    (``pd.merge_asof`` semantics):

    - ``"backward"`` (default): latest state with ``state[on] <=
      turns[on]`` (``<`` when allow_exact=False) — zero temporal
      leakage, the training-data direction.
    - ``"forward"``: earliest state with ``state[on] >= turns[on]``
      (``>`` when strict) — label/outcome attachment.
    - ``"nearest"``: whichever of the two candidates is closer in
      ``|state[on] - turns[on]|``; exact ties go to the backward row
      (pandas' rule) — the composition of both fills over ONE exchange.

    The join is a pure Catalyst plan (module docstring): one shuffle,
    zero Python, whole-stage-codegen'd — and downstream turn windows
    that partition by the same key reuse the exchange.  (PySpark local-mode
    lesson baked in here: a mapInPandas stage pipelined into a shuffle
    runs a Python worker AND a JVM thread per task; at full-machine
    parallelism that oversubscribes every core and the stage stops
    scaling.  Keeping the join JVM-side is what preserves >=0.8 N->4N
    efficiency.)

    ``tiebreaker``: optional state column; among state rows sharing
    (by, on) the one with the greatest tiebreaker wins (deterministic).
    ``hot_keys`` / ``hot_key_threshold``: enable skew salting for the
    given (or detected) hot keys.

    ``tolerance`` (pd.merge_asof parity): maximum allowed |state[on] -
    turns[on]| for a match, INCLUSIVE — state older (backward) /
    farther (forward/nearest) than this yields NULL state columns, the
    staleness bound every point-in-time feature store needs ("a score
    from last month must not decorate today's turn").  Units: seconds
    for timestamp/date ``on`` columns, the column's own units for
    numeric ``on``.  The state struct carries its own timestamp, so the
    bound is one map-side comparison after the fill.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    if tolerance is not None and not tolerance >= 0:
        raise ValueError(f"tolerance must be >= 0: {tolerance}")
    if state_cols is None:
        state_cols = [c for c in state.columns if c not in (by, on)]
    state_cols = list(state_cols)
    clash = set(state_cols) & set(turns.columns)
    if clash:
        raise ValueError(f"state_cols collide with turn columns: {sorted(clash)}; "
                         f"rename before joining")

    turn_cols = list(turns.columns)

    # side: state sorts before turns at equal ts iff exact matches allowed
    state_side, turn_side = (0, 1) if allow_exact else (2, 1)

    if hot_keys is None and hot_key_threshold is not None:
        hot_keys = detect_hot_keys(turns, by, hot_key_threshold)
    hot_keys = list(hot_keys) if hot_keys else []

    if hot_keys:
        hot = F.col(by).isin(hot_keys)
        # turns: deterministic pseudo-random salt from the order column
        turn_salt = F.when(
            hot, F.pmod(F.xxhash64(F.col(on).cast("string"), F.lit(42)),
                        F.lit(salt_buckets)).cast("int")).otherwise(F.lit(0))
        # state: replicate hot-key state into every salt bucket
        # (sequence of int literals is already array<int>; a cast
        # around the generator would nest it in an expression)
        state_salt = F.explode(
            F.when(hot, F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
             .otherwise(F.array(F.lit(0))))
        part_cols = [by, _SALT]
    else:
        turn_salt = state_salt = F.lit(0)
        part_cols = [by]

    # one projection per side of the union; each side's missing columns
    # come out of the union as typed NULLs.  NULL join keys never match
    # (SQL equi-join / pd.merge_asof semantics): drop NULL-key state rows
    # up front — without this the window's partitionBy groups NULL keys
    # together and forward-fills state onto NULL-key turns.  NULL-key
    # TURN rows pass through with NULL state columns.
    t = turns.select("*", F.lit(turn_side).alias(_SIDE),
                     turn_salt.alias(_SALT))
    s = state.where(F.col(by).isNotNull()).select(
        by, on, *state_cols, F.lit(state_side).alias(_SIDE),
        state_salt.alias(_SALT))
    unioned = t.unionByName(s, allowMissingColumns=True)

    # state struct carries its own `on` value so the nearest
    # direction can compare distances without a second join
    packed = F.when(F.col(_SIDE) != turn_side,
                    F.struct(F.col(on).alias("__s_ts"),
                             *[F.col(c).alias(c) for c in state_cols]))

    def fill(asc: bool) -> Column:
        order_cols: list[Column] = [
            F.col(on).asc() if asc else F.col(on).desc(),
            F.col(_SIDE).asc()]
        if tiebreaker is not None:
            order_cols.append(F.when(F.col(_SIDE) == state_side,
                                     F.col(tiebreaker)).asc_nulls_first())
        w = (Window.partitionBy(*part_cols).orderBy(*order_cols)
             .rowsBetween(Window.unboundedPreceding, 0))
        return F.last(packed, ignorenulls=True).over(w)

    # distance arithmetic needs a numeric: timestamps (incl.
    # TIMESTAMP_NTZ, which cannot cast to double) go through
    # unix_micros, plain numerics cast directly
    on_tn = turns.schema[on].dataType.typeName()
    on_is_time = on_tn.startswith("timestamp") or on_tn == "date"

    def num(c: Column) -> Column:
        if on_is_time:
            return F.unix_micros(c.cast("timestamp"))
        return c.cast("double")

    # the fill is one projection: both fills of "nearest" partition
    # identically -> ONE exchange, two sorts
    if direction == "nearest":
        fills = [fill(True).alias("__fb"), fill(False).alias("__ff")]
    else:
        # forward as-of is backward as-of on reversed time: the fill
        # scans ts DESCENDING, and the side/tiebreaker rules carry over
        # unchanged because both are stated relative to scan order
        fills = [fill(direction != "forward").alias("__m")]
    filled = unioned.select(*turn_cols, _SIDE, *fills) \
        .where(f"{_SIDE} = {turn_side}")

    if direction == "nearest":
        # pick per row by |state ts - turn ts|, exact ties to the
        # backward row (pandas' rule: strictly-closer wins)
        fb, ff = F.col("__fb"), F.col("__ff")
        dist_b = num(F.col(on)) - num(fb["__s_ts"])
        dist_f = num(ff["__s_ts"]) - num(F.col(on))
        match = F.when(fb.isNull() | (ff.isNotNull() & (dist_f < dist_b)),
                       ff).otherwise(fb)
    else:
        match = F.col("__m")
    if tolerance is not None:
        # staleness bound, applied AFTER the fill: |Δ| <= tolerance
        # keeps the match (inclusive, pd.merge_asof semantics); one
        # map-side comparison, no extra exchange.  The fill always
        # returns the closest candidate in its direction, so a
        # filtered match can never hide an in-tolerance one.
        tol = float(tolerance) * (1e6 if on_is_time else 1.0)
        dist = F.abs(num(F.col(on)) - num(match["__s_ts"]))
        match = F.when(match.isNotNull() & (dist <= tol), match)
    return filled.select(*turn_cols,
                         *[match[c].alias(c) for c in state_cols])

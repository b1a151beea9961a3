"""Aloha scalar feature functions: indicators, intercept, SOS2 binning,
clamp/log2, sparse<->dense transforms, interval predicates.

Reference semantics:
* ``ind`` — aloha-core/.../feature/Indicator.scala:4-21 (missing -> =UNK,
  the shared default bag ``[("=UNK", 1.0)]`` from
  feature/DefaultPossessor.scala:3-16)
* ``intercept`` — feature/Intercept.scala:11: ``[("", 1.0)]``
* ``sos2``/``sos2U`` — feature/Sos2.scala:29-152 (golden table in the
  scaladoc at :53-65 and :108-121)
* ``csos2``/``csos2Fast`` — feature/CustomSos2.scala:5-73
* ``clamp``/``log2`` — feature/BasicMath.scala:5-9
* densify — feature/SparsityTransforms.scala:59-149
* interval predicates gtLt/gtLe/geLt/geLe — feature/Comparisons.scala:14-47

All return the Aloha ``Sparse`` bag as a plain dict[str, float]; scalar
lifting (``[("", x)]``) mirrors
models/reg/RegressionModelValueToTupleConversions.scala:40-45.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from typing import Iterable, Mapping, Optional, Sequence

UNK_BAG: dict[str, float] = {"=UNK": 1.0}  # DefaultForMissingDataInReg


def ind(value) -> dict[str, float]:
    """Indicator: ``[("=" + str(value), 1.0)]``; None -> =UNK; sequences
    (list/tuple/set/ndarray — the Arrow tiers hand ndarrays to the
    generic kernel) produce one indicator per element, with None/NaN
    elements dropped — identical semantics to ind_flat."""
    import numpy as np
    if value is None:
        return dict(UNK_BAG)
    if isinstance(value, (list, tuple, set, np.ndarray)):
        items = [v for v in value
                 if not (v is None or (isinstance(v, (float, np.floating))
                                       and v != v))]
        if isinstance(value, (set, frozenset)):
            # sets have no stable iteration order across processes /
            # hash seeds; sort by rendered key so the emitted entry
            # order (which reaches VW lines) is deterministic and
            # matches the flat tier
            items.sort(key=_render)
        return {f"={_render(v)}": 1.0 for v in items}
    return {f"={_render(value)}": 1.0}


def _render(value) -> str:
    """Scala ``toString`` parity for indicator values."""
    import numpy as np
    if isinstance(value, (bool, np.bool_)):
        return "true" if value else "false"  # Scala Boolean.toString
    if isinstance(value, (float, np.floating)):
        # full Scala Double.toString parity (scientific >= 1e7 etc.)
        from .formatting import java_double_to_string
        return java_double_to_string(float(value))
    return str(value)


def intercept() -> dict[str, float]:
    return {"": 1.0}


def scalar_bag(x: Optional[float]) -> dict[str, float]:
    """Lift a numeric feature to a one-element bag with empty key."""
    return dict(UNK_BAG) if x is None else {"": float(x)}


def clamp(x: float, lo: float, hi: float) -> float:
    return min(max(lo, x), hi)


def log2(x: float) -> float:
    return math.log(x) / math.log(2)


def _sos2_pairs(value: float, vmin: int, vmax: int, delta: int) -> list[tuple[int, float]]:
    """sos2I (Sos2.scala:128-152): clamp then interpolate over the grid."""
    v = (clamp(value, vmin, vmax) - vmin) / delta
    b = int(v)  # toInt truncates toward zero; v >= 0 after clamp
    bin_name = int(vmin + b * delta)
    fraction = v - b
    one_minus = 1 - fraction
    if one_minus == 1:
        return [(bin_name, one_minus)]
    return [(bin_name, one_minus), (int(vmin + (b + 1) * delta), fraction)]


def sos2(value: Optional[float], vmin: int, vmax: int, delta: int) -> dict[str, float]:
    """Clamped SOS2 (no underflow key). None -> =UNK (Sos2.scala:29-30,83-84)."""
    if value is None:
        return dict(UNK_BAG)
    if math.isnan(value):
        return dict(UNK_BAG)
    return {f"={k}": v for k, v in _sos2_pairs(value, vmin, vmax, delta)}


def sos2_u(value: Optional[float], vmin: int, vmax: int, delta: int,
           underflow_key: str = "UNDERFLOW",
           unknown: Optional[dict[str, float]] = None) -> dict[str, float]:
    """Underflow-reporting SOS2 (Sos2.scala:98-104): value < min emits
    [("=UNDERFLOW", 1.0)]; missing/NaN emits the unknown bag (=UNK)."""
    unk = dict(UNK_BAG) if unknown is None else dict(unknown)
    if value is None or math.isnan(value):
        return unk
    if value < vmin:
        return {f"={underflow_key}": 1.0}
    return {f"={k}": v for k, v in _sos2_pairs(value, vmin, vmax, delta)}


def csos2(value: Optional[float], knots: Sequence[int]) -> dict[str, float]:
    """Custom-knot SOS2 (CustomSos2.scala:36-55): clamp to [head, last];
    binary-search neighbors; exact knot hit -> weight 1."""
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return dict(UNK_BAG)
    if len(knots) < 2:
        return {}
    v = float(value)
    if v >= knots[-1]:
        return {f"={knots[-1]}": 1.0}
    if v <= knots[0]:
        return {f"={knots[0]}": 1.0}
    i = bisect_left(knots, v)
    if i < len(knots) and knots[i] == v:
        return {f"={knots[i]}": 1.0}
    lo, hi = knots[i - 1], knots[i]
    span = float(hi - lo)
    return {f"={lo}": (hi - v) / span, f"={hi}": (v - lo) / span}


def densify_map(domain: Iterable, mapping: Mapping, when_missing) -> list:
    """densifyMap (SparsityTransforms.scala:122-149): map each domain
    element through the sparse mapping, filling misses."""
    return [mapping.get(k, when_missing) for k in domain]


def densify_fn(domain: Iterable, fn, when_missing) -> list:
    """densifyFn (SparsityTransforms.scala:59-99): fn returns Optional."""
    out = []
    for k in domain:
        v = fn(k)
        out.append(when_missing if v is None else v)
    return out


# Interval predicates (Comparisons.scala:14-47). Null-propagating: any
# None operand -> None (matches OptionMath / SQL NULL semantics).
def gt_lt(x, lb, ub):
    return None if None in (x, lb, ub) else (lb < x) and (x < ub)


def gt_le(x, lb, ub):
    return None if None in (x, lb, ub) else (lb < x) and (x <= ub)


def ge_lt(x, lb, ub):
    return None if None in (x, lb, ub) else (lb <= x) and (x < ub)


def ge_le(x, lb, ub):
    return None if None in (x, lb, ub) else (lb <= x) and (x <= ub)

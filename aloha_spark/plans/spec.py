"""Feature-spec JSON -> execution plan compiler.

The reference compiles feature specs — strings with ``${variable}``
substitutions and calls into a function library — to JVM bytecode once
per model load (aloha-core/.../semantics/compiled/CompiledSemantics.scala:
292-308; variable regex at :275; ``${x:-default}`` split at :261), with
an ``imports`` whitelist selecting the available functions
(aloha-core/.../dataset/CovariateProducer.scala:21-40).

Here the same spec grammar compiles to one of two tiers:

* **Column tier** — specs that are pure variable references, literals,
  arithmetic, comparisons, or whitelisted scalar calls become native
  Spark ``Column`` trees (Catalyst-optimized, whole-stage codegen;
  ``${x:-d}`` -> ``coalesce(x, lit(d))``; null propagation comes free
  from SQL NULL semantics, mirroring Aloha's OptionMath).
* **Batch tier** — specs that call bag-producing registry functions
  (``ind``, ``bag``, ``nGrams``, ``skipGrams``, ``sos2`` …) compile to a
  Python callable evaluated inside Arrow-batched pandas UDFs.  The AST
  is validated against a whitelist (names + calls only — the analog of
  the reference's imports whitelist); single-call specs over one string
  variable dispatch to vectorized batch kernels.

Missing/erring bookkeeping follows FeatureExtractorFunction.scala:48-66:
a feature whose required variable is NULL yields the default bag
(``[("=UNK", 1.0)]``) and is recorded in ``missing_features``; a feature
whose expression raises is recorded in ``erring_features`` and yields
its default.
"""

from __future__ import annotations

import ast
import json
import math
import re
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, functions as F

from ..functions import scalars as _sc
from ..functions import textfeatures as _tf

# reference regex: CompiledSemantics.scala:275
VAR_RE = re.compile(r"\$\{([^\s\$\{\}:\|]+)(:\-([^\s\$\{\}:\|]+))?\}")

# accessor path grammar ``(field([index])*)(.field([index])*)*`` —
# CompiledSemanticsProtoPlugin.scala:51-60 / SchemaBasedTokenizer.scala:
# 18-68: repeated-field indexing with null-safe (optional) dereference
_PATH_SEG_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)((?:\[\d+\])*)$")


def path_to_column(path: str) -> Column:
    """Compile an accessor path (``photos[0].height``) to a Column
    chain of ``getField``/``getItem`` — null-safe at every hop (a null
    struct, a null array, or an out-of-range index each yield NULL,
    the ``dereferenceAsOptional`` semantics)."""
    col: Optional[Column] = None
    for seg in path.split("."):
        m = _PATH_SEG_RE.match(seg)
        if m is None:
            raise ValueError(f"bad accessor path segment '{seg}' in '{path}'")
        name, idxs = m.group(1), m.group(2)
        col = F.col(name) if col is None else col.getField(name)
        for ix in re.findall(r"\[(\d+)\]", idxs):
            # F.get: 0-based, NULL on out-of-range/null array even under
            # ANSI mode — the optional-deref the reference guarantees
            col = F.get(col, int(ix))
    assert col is not None
    return col


def path_needs_extraction(path: str) -> bool:
    """True when the source is not a plain top-level column reference
    (nested field and/or repeated index) — those are precomputed into a
    JVM-side column before any Python tier sees the batch."""
    return "[" in path or "." in path


def path_root_column(path: str) -> str:
    return re.split(r"[.\[]", path, maxsplit=1)[0]


def extraction_alias(pyname: str) -> str:
    """Name of the JVM-precomputed flat column for a path variable
    (added by FeaturePipeline._with_precomputed)."""
    return "__als_v_" + pyname


def runtime_source(parsed: "ParsedSpec", pyname: str) -> str:
    """Column a Python-tier kernel reads for ``pyname`` at runtime."""
    src = parsed.sources.get(pyname, pyname)
    return extraction_alias(pyname) if path_needs_extraction(src) else src

# Scala-spec kwarg names -> python kernel kwarg names
KWARG_ALIASES = {"maxElements": "max_elements", "splitString": "split"}


def _alias_kwargs(fn: Callable) -> Callable:
    def wrapped(*args, **kwargs):
        kw = {KWARG_ALIASES.get(k, k): v for k, v in kwargs.items()}
        return fn(*args, **kw)
    return wrapped


# functions available to batch-tier specs (the "imports" whitelist)
REGISTRY: dict[str, Callable] = {
    "ind": _sc.ind,
    "intercept": _sc.intercept,
    "bag": _alias_kwargs(_tf.bag),
    "nGrams": _alias_kwargs(_tf.n_grams),
    "skipGrams": _alias_kwargs(_tf.skip_grams),
    "sos2": _sc.sos2,
    "sos2U": _sc.sos2_u,
    "csos2": _sc.csos2,
    "clamp": _sc.clamp,
    "log2": _sc.log2,
    "abs": abs,
    "min": min,
    "max": max,
    "round": round,
    "len": len,
    "sum": sum,
    "math": math,
    "sized": lambda x, n: _sized(x, n),
    "gtLt": _sc.gt_lt,
    "gtLe": _sc.gt_le,
    "geLt": _sc.ge_lt,
    "geLe": _sc.ge_le,
}

def _sized(x, n: int):
    """Vector-size guard (reference csv/json/csvJson.scala:286-302):
    a sized feature requires exactly n elements; violation surfaces in
    erring_features (the engine's error channel)."""
    if x is None:
        return None
    if len(x) != n:
        raise ValueError(f"sized({n}) got {len(x)} elements")
    return x


# time constants (reference feature/TimeConstants.scala:16-72)
TIME_CONSTANTS = {
    "SECONDS_PER_MINUTE": 60, "SECONDS_PER_HOUR": 3600,
    "SECONDS_PER_DAY": 86400, "SECONDS_PER_WEEK": 604800,
    "MINUTES_PER_HOUR": 60, "MINUTES_PER_DAY": 1440,
    "HOURS_PER_DAY": 24, "DAYS_PER_WEEK": 7,
    "MILLIS_PER_SECOND": 1000, "MILLIS_PER_MINUTE": 60000,
    "MILLIS_PER_HOUR": 3600000, "MILLIS_PER_DAY": 86400000,
}
REGISTRY.update(TIME_CONSTANTS)

_ALLOWED_NODES = (
    ast.Expression, ast.Call, ast.Name, ast.Load, ast.Constant, ast.BinOp,
    ast.UnaryOp, ast.BoolOp, ast.Compare, ast.IfExp, ast.Add, ast.Sub,
    ast.Mult, ast.Div, ast.Mod, ast.FloorDiv, ast.Pow, ast.USub, ast.UAdd,
    ast.Not, ast.And, ast.Or, ast.Eq, ast.NotEq, ast.Lt, ast.LtE, ast.Gt,
    ast.GtE, ast.keyword, ast.List, ast.Tuple, ast.Attribute,
)


@dataclass
class ParsedSpec:
    """One feature spec after variable extraction."""
    name: str
    expr: str                       # python expression with bare var names
    variables: list[str] = field(default_factory=list)
    defaults: dict[str, Any] = field(default_factory=dict)
    namespace: str = ""             # "" = VW default namespace
    # pyname -> ORIGINAL column path; a blind '__' -> '.' reverse would
    # corrupt real column names containing double underscores (and the
    # conventional '${__salt}' partition column)
    sources: dict[str, str] = field(default_factory=dict)


def _coerce_default(s: str) -> Any:
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s.strip("\"'")


def parse_feature_spec(name: str, spec: str, namespace: str = "") -> ParsedSpec:
    variables: list[str] = []
    defaults: dict[str, Any] = {}

    sources: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        var = m.group(1)
        pyname = re.sub(r"\[(\d+)\]", r"_\1_", var).replace(".", "__")
        if pyname not in variables:
            variables.append(pyname)
            sources[pyname] = var
        if m.group(3) is not None:
            defaults[pyname] = _coerce_default(m.group(3))
        return pyname

    expr = VAR_RE.sub(sub, spec)
    return ParsedSpec(name=name, expr=expr, variables=variables,
                      defaults=defaults, namespace=namespace,
                      sources=sources)


def _validate_ast(tree: ast.AST, variables: list[str]) -> None:
    for node in ast.walk(tree):
        if not isinstance(node, _ALLOWED_NODES):
            raise ValueError(
                f"disallowed syntax {type(node).__name__} in feature spec")
        if isinstance(node, ast.Attribute):
            # math.<fn> plus a small set of safe data methods
            safe_methods = {"split", "lower", "upper", "strip", "replace",
                            "startswith", "endswith", "count", "get", "items",
                            "keys", "values"}
            is_math = isinstance(node.value, ast.Name) and node.value.id == "math"
            if not is_math and node.attr not in safe_methods:
                raise ValueError(
                    f"attribute access '.{node.attr}' not in the whitelist")
            if node.attr.startswith("_"):
                raise ValueError("dunder/underscore attributes forbidden")
        if isinstance(node, ast.Name):
            if node.id not in REGISTRY and node.id not in variables:
                raise ValueError(f"unknown name '{node.id}' in feature spec "
                                 f"(not a variable or registry function)")


def compile_batch_fn(parsed: ParsedSpec) -> Callable[..., Any]:
    """Compile to ``fn(**vars) -> value`` with the registry in scope."""
    tree = ast.parse(parsed.expr, mode="eval")
    _validate_ast(tree, parsed.variables)
    code = compile(tree, f"<feature:{parsed.name}>", "eval")
    registry = dict(REGISTRY)

    def fn(**vars_):
        return eval(code, {"__builtins__": {}}, {**registry, **vars_})

    return fn


# ---------------------------------------------------------------------------
# Vectorized-batch tier: single-call specs ``fn(${var}, const...)`` over
# one variable dispatch to whole-batch kernels (functions/batch.py)

def try_compile_flat(parsed: ParsedSpec):
    """Compile ``bag(${t})`` / ``nGrams(${t}, 2)`` / ``skipGrams(${t}, 2, k)``
    to a flat whole-batch kernel for the hashed sparse-vector sink
    (no per-row dicts; unique-key-table hashing; shared tokenization).

    Returns ``(fn, src_col)`` where
    ``fn(cache, feature_name, hash_fn) -> (idx, vals, row_ids, isna)``,
    or None when the spec doesn't fit (maxElements, non-const args,
    non-string default) — those run on the dict tiers instead.  n == 2
    grams use the packed-int64 pair kernel; any other n uses the
    general tuple-unique kernel (gramgrams_flat).
    """
    from ..functions.batch import (
        bag_flat, csos2_flat, ind_flat, pairgrams_flat, sos2_flat)

    try:
        tree = ast.parse(parsed.expr, mode="eval")
    except SyntaxError:
        return None
    node = tree.body
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id in ("bag", "nGrams", "skipGrams", "ind",
                                 "sos2", "sos2U", "csos2")):
        return None
    if not node.args or not isinstance(node.args[0], ast.Name):
        return None
    var = node.args[0].id
    if var not in parsed.variables:
        return None
    default = parsed.defaults.get(var)
    src_col0 = runtime_source(parsed, var)

    if node.func.id == "ind":
        if len(node.args) > 1 or node.keywords or default is not None:
            return None

        def fn_ind(cache, name, hash_fn, _col=src_col0):
            return ind_flat(cache, _col, name, hash_fn)

        return fn_ind, src_col0

    if node.func.id == "csos2":
        if node.keywords or default is not None or len(node.args) != 2 \
                or not isinstance(node.args[1], ast.List):
            return None
        knots = []
        for el in node.args[1].elts:
            if not isinstance(el, ast.Constant) \
                    or not isinstance(el.value, (int, float)):
                return None
            knots.append(el.value)
        if len(knots) < 2 or sorted(knots) != knots:
            return None     # dict tier handles degenerate knot lists

        def fn_csos2(cache, name, hash_fn, _col=src_col0, _k=tuple(knots)):
            return csos2_flat(cache, _col, name, hash_fn, _k)

        return fn_csos2, src_col0

    if node.func.id in ("sos2", "sos2U"):
        if node.keywords or default is not None or len(node.args) != 4:
            return None
        consts_ = []
        for a in node.args[1:]:
            if not isinstance(a, ast.Constant) \
                    or not isinstance(a.value, (int, float)):
                return None
            consts_.append(float(a.value))
        vmin_, vmax_, delta_ = consts_
        uf, uk = (("UNDERFLOW", "UNK") if node.func.id == "sos2U"
                  else (None, None))

        def fn_sos2(cache, name, hash_fn, _col=src_col0, _a=vmin_, _b=vmax_,
                    _d=delta_, _uf=uf, _uk=uk):
            return sos2_flat(cache, _col, name, hash_fn, _a, _b, _d,
                             underflow=_uf, unknown_key=_uk)

        return fn_sos2, src_col0

    if default is not None and not isinstance(default, str):
        return None
    consts = []
    for a in node.args[1:]:
        if not isinstance(a, ast.Constant):
            return None
        consts.append(a.value)
    kwargs = {}
    for kw in node.keywords:
        if kw.arg is None or not isinstance(kw.value, ast.Constant):
            return None
        kwargs[KWARG_ALIASES.get(kw.arg, kw.arg)] = kw.value.value
    if "max_elements" in kwargs:
        return None
    src_col = src_col0

    fname = node.func.id
    if fname == "bag":
        # bag(s, prefix="=", suffix="", split=r"\s+", max_elements=None)
        names = ["prefix", "suffix", "split", "max_elements"]
        for i, v in enumerate(consts):
            kwargs.setdefault(names[i], v)
        if kwargs.get("max_elements") is not None:
            return None
        kwargs.pop("max_elements", None)
        bound = dict(kwargs)

        def fn(cache, name, hash_fn, _col=src_col, _kw=bound, _d=default):
            return bag_flat(cache, _col, name, hash_fn, default=_d, **_kw)

        return fn, src_col

    # nGrams(s, n, sep, prefix, suffix, split, max_elements)
    # skipGrams(s, n, k, sep, prefix, suffix, split, max_elements)
    if fname == "nGrams":
        names = ["n", "sep", "prefix", "suffix", "split", "max_elements"]
    else:
        names = ["n", "k", "sep", "prefix", "suffix", "split", "max_elements"]
    for i, v in enumerate(consts):
        kwargs.setdefault(names[i], v)
    n = kwargs.get("n")
    if not isinstance(n, int) or n < 1 \
            or kwargs.get("max_elements") is not None:
        return None
    k = int(kwargs.get("k", 0)) if fname == "skipGrams" else 0
    bound = {kk: vv for kk, vv in kwargs.items()
             if kk in ("sep", "prefix", "suffix", "split")}

    if n == 2:
        # dedicated pair kernel: packs code pairs into one int64 —
        # cheaper than the general tuple-unique path
        distances = tuple(range(1, k + 2))

        def fn(cache, name, hash_fn, _col=src_col, _kw=bound, _d=default,
               _dist=distances):
            return pairgrams_flat(cache, _col, name, hash_fn, _dist,
                                  default=_d, **_kw)

        return fn, src_col

    from ..functions.batch import gramgrams_flat

    def fn_n(cache, name, hash_fn, _col=src_col, _kw=bound, _d=default,
             _n=n, _k=k):
        return gramgrams_flat(cache, _col, name, hash_fn, _n, _k,
                              default=_d, **_kw)

    return fn_n, src_col


def try_parse_binning(parsed: ParsedSpec):
    """sos2 / sos2U / csos2 over a plain variable with literal consts →
    descriptor for the pure-Catalyst sparse sink.  Binning functions
    have *enumerable* key spaces (grid bins / knots / UNK / UNDERFLOW),
    so every murmur hash is a driver-side compile-time constant.
    Returns None when the spec needs a Python tier (defaults, computed
    args) — mirroring try_compile_flat's constraints."""
    try:
        tree = ast.parse(parsed.expr, mode="eval")
    except SyntaxError:
        return None
    node = tree.body
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id in ("sos2", "sos2U", "csos2")):
        return None
    if not node.args or not isinstance(node.args[0], ast.Name) \
            or node.keywords:
        return None
    var = node.args[0].id
    if var not in parsed.variables or parsed.defaults.get(var) is not None:
        return None
    src = runtime_source(parsed, var)
    if node.func.id == "csos2":
        if len(node.args) != 2 or not isinstance(node.args[1], ast.List):
            return None
        knots = []
        for el in node.args[1].elts:
            if not isinstance(el, ast.Constant) \
                    or not isinstance(el.value, (int, float)):
                return None
            knots.append(el.value)
        if len(knots) < 2 or sorted(knots) != knots:
            return None
        return {"fn": "csos2", "src": src, "knots": knots}
    if len(node.args) != 4:
        return None
    consts = []
    for a in node.args[1:]:
        if not isinstance(a, ast.Constant) \
                or not isinstance(a.value, (int, float)):
            return None
        consts.append(a.value)
    vmin, vmax, delta = consts
    if delta <= 0 or vmax <= vmin:
        return None
    return {"fn": "sos2u" if node.func.id == "sos2U" else "sos2",
            "src": src, "vmin": vmin, "vmax": vmax, "delta": delta}


def try_compile_vbatch(parsed: ParsedSpec):
    """Returns ``(kernel_fn, var_name)`` where ``kernel_fn(series) ->
    list[bag|None]``, or None if the spec doesn't fit the pattern."""
    from ..functions.batch import BATCH_KERNELS

    try:
        tree = ast.parse(parsed.expr, mode="eval")
    except SyntaxError:
        return None
    node = tree.body
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id in BATCH_KERNELS):
        return None
    if not node.args or not isinstance(node.args[0], ast.Name):
        return None
    var = node.args[0].id
    if var not in parsed.variables or var in parsed.defaults:
        return None
    const_args = []
    for a in node.args[1:]:
        if isinstance(a, ast.Constant):
            const_args.append(a.value)
        elif isinstance(a, ast.UnaryOp) and isinstance(a.op, ast.USub) \
                and isinstance(a.operand, ast.Constant):
            const_args.append(-a.operand.value)
        else:
            return None
    kwargs = {}
    for kw in node.keywords:
        if kw.arg is None or not isinstance(kw.value, ast.Constant):
            return None
        kwargs[KWARG_ALIASES.get(kw.arg, kw.arg)] = kw.value.value
    kernel = BATCH_KERNELS[node.func.id]

    def fn(series):
        return kernel(series, *const_args, **kwargs)

    return fn, var


# ---------------------------------------------------------------------------
# Column tier

def _null_in_null_out(fn):
    """Spark's ``greatest``/``least`` skip NULL arguments; a spec
    function of a NULL is NULL (a missing feature) instead."""
    return lambda *args: F.when(
        ~F.greatest(*[a.isNull() for a in args]), fn(*args))


_COLUMN_FNS = {
    "clamp": _null_in_null_out(
        lambda x, lo, hi: F.least(F.greatest(x, lo), hi)),
    "log2": lambda x: F.log2(x),
    "abs": lambda x: F.abs(x),
    "min": _null_in_null_out(F.least),
    "max": _null_in_null_out(F.greatest),
    "gtLt": lambda x, lo, hi: (lo < x) & (x < hi),
    "gtLe": lambda x, lo, hi: (lo < x) & (x <= hi),
    "geLt": lambda x, lo, hi: (lo <= x) & (x < hi),
    "geLe": lambda x, lo, hi: (lo <= x) & (x <= hi),
}

_BIN_OPS = {
    ast.Add: lambda a, b: a + b, ast.Sub: lambda a, b: a - b,
    ast.Mult: lambda a, b: a * b, ast.Div: lambda a, b: a / b,
    ast.Mod: lambda a, b: a % b, ast.Pow: lambda a, b: a ** b,
}
_CMP_OPS = {
    ast.Eq: lambda a, b: a == b, ast.NotEq: lambda a, b: a != b,
    ast.Lt: lambda a, b: a < b, ast.LtE: lambda a, b: a <= b,
    ast.Gt: lambda a, b: a > b, ast.GtE: lambda a, b: a >= b,
}


def try_compile_column(parsed: ParsedSpec) -> Optional[Column]:
    """Column-tier compilation; returns None when the spec needs the
    batch tier (bag-producing or non-expressible calls)."""

    def conv(node: ast.AST) -> Column:
        if isinstance(node, ast.Expression):
            return conv(node.body)
        if isinstance(node, ast.Constant):
            if isinstance(node.value, (int, float, str, bool)):
                return F.lit(node.value)
            raise _Bail()
        if isinstance(node, ast.Name):
            if node.id in parsed.variables:
                src = parsed.sources.get(node.id, node.id)
                col = path_to_column(src) if "[" in src else F.col(src)
                if node.id in parsed.defaults:
                    col = F.coalesce(col, F.lit(parsed.defaults[node.id]))
                return col
            if node.id in TIME_CONSTANTS:
                return F.lit(TIME_CONSTANTS[node.id])
            raise _Bail()
        if isinstance(node, ast.BinOp) and type(node.op) in _BIN_OPS:
            return _BIN_OPS[type(node.op)](conv(node.left), conv(node.right))
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            return -conv(node.operand)
        if isinstance(node, ast.Compare) and len(node.ops) == 1 \
                and type(node.ops[0]) in _CMP_OPS:
            return _CMP_OPS[type(node.ops[0])](conv(node.left),
                                               conv(node.comparators[0]))
        if isinstance(node, ast.IfExp):
            return F.when(conv(node.test), conv(node.body)) \
                    .otherwise(conv(node.orelse))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                and node.func.id in _COLUMN_FNS and not node.keywords:
            args = [conv(a) for a in node.args]
            return _COLUMN_FNS[node.func.id](*args)
        raise _Bail()

    class _Bail(Exception):
        pass

    try:
        tree = ast.parse(parsed.expr, mode="eval")
        _validate_ast(tree, parsed.variables)
        return conv(tree)
    except _Bail:
        return None
    except ValueError:
        raise
    except Exception:
        return None


# ---------------------------------------------------------------------------
# Pipeline spec (the whole JSON document)

@dataclass
class PipelineSpec:
    features: list[ParsedSpec]
    namespaces: dict[str, list[str]]      # ns name -> feature names
    label: Optional[ParsedSpec] = None
    importance: Optional[ParsedSpec] = None
    tag: Optional[ParsedSpec] = None
    num_bits: int = 18
    num_missing_threshold: Optional[int] = None

    @property
    def default_namespace(self) -> list[int]:
        named = {f for fs in self.namespaces.values() for f in fs}
        return [i for i, f in enumerate(self.features) if f.name not in named]

    @property
    def namespace_indices(self) -> list[tuple[str, list[int]]]:
        idx = {f.name: i for i, f in enumerate(self.features)}
        return [(ns, [idx[f] for f in fs if f in idx])
                for ns, fs in self.namespaces.items()]

    @classmethod
    def from_json(cls, doc: str | dict) -> "PipelineSpec":
        if isinstance(doc, str):
            doc = json.loads(doc)
        feats = []
        for f in doc["features"]:
            if isinstance(f, dict):
                feats.append(parse_feature_spec(f["name"], f["spec"]))
            else:
                raise ValueError("feature entries must be {name, spec} objects")
        names = [p.name for p in feats]
        if len(names) != len(set(names)):
            # name-keyed compile state (Column handles, binning
            # descriptors) makes duplicates silently cross-wire tiers
            dups = sorted({n for n in names if names.count(n) > 1})
            raise ValueError(f"duplicate feature names: {dups}")
        nss = {k: list(v) for k, v in doc.get("namespaces", {}).items()}
        mk = lambda key: (parse_feature_spec(key, doc[key])  # noqa: E731
                          if key in doc and doc[key] is not None else None)
        return cls(
            features=feats, namespaces=nss,
            label=mk("label"), importance=mk("importance"), tag=mk("tag"),
            num_bits=int(doc.get("numBits", 18)),
            num_missing_threshold=doc.get("numMissingThreshold"),
        )

    def required_columns(self) -> list[str]:
        cols: list[str] = []
        for p in self.features + [self.label, self.importance, self.tag]:
            if p is None:
                continue
            for v in p.variables:
                c = path_root_column(p.sources.get(v, v))
                if c not in cols:
                    cols.append(c)
        return cols

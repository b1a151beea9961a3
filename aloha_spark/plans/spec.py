"""Feature-spec JSON -> execution plan compiler.

The reference compiles feature specs — strings with ``${variable}``
substitutions and calls into a function library — to JVM bytecode once
per model load (aloha-core/.../semantics/compiled/CompiledSemantics.scala:
292-308; variable regex at :275; ``${x:-default}`` split at :261), with
an ``imports`` whitelist selecting the available functions
(aloha-core/.../dataset/CovariateProducer.scala:21-40).

Here the same spec grammar compiles to one of these tiers:

* **Column** — specs that are pure variable references, literals,
  arithmetic, comparisons, or whitelisted scalar calls become native
  Spark ``Column`` trees (Catalyst-optimized, whole-stage codegen;
  ``${x:-d}`` -> ``coalesce(x, lit(d))``; null propagation comes free
  from SQL NULL semantics, mirroring Aloha's OptionMath).
* **Flat** — a single call ``fn(${var}, literal…)`` of ``ind``, ``bag``,
  ``nGrams``, ``skipGrams``, ``sos2``, ``sos2U`` or ``csos2``
  (``match_single_call``) runs as a whole-batch numpy kernel inside the
  Arrow stage (``try_compile_flat``; functions/batch.py).
* **Binning (JVM)** — the same match for ``sos2`` / ``sos2U`` /
  ``csos2`` also yields a static key space, so a sparse-vector plan
  made only of Column and binning features stays in Catalyst with no
  Python worker (``try_parse_binning``).
* **Generic** — every other spec compiles to one Python callable
  evaluated per row inside the Arrow stage (``compile_batch_fn``).  The
  AST is validated against a whitelist (names + calls only — the
  analog of the reference's imports whitelist).

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


def _text_kernel(fn: Callable) -> Callable:
    """Registry form of a text kernel: Scala kwarg names aliased, and a
    NULL text is a missing feature (None), as on the flat kernels."""
    def wrapped(s, *args, **kwargs):
        if s is None:
            return None
        kw = {KWARG_ALIASES.get(k, k): v for k, v in kwargs.items()}
        return fn(s, *args, **kw)
    return wrapped


def _csos2(value, *knots):
    """``csos2(x, [k1, k2, ...])`` or, with the knots as trailing
    arguments, ``csos2(x, k1, k2, ...)``."""
    if len(knots) == 1 and isinstance(knots[0], (list, tuple)):
        knots = knots[0]
    return _sc.csos2(value, list(knots))


# functions available to batch-tier specs (the "imports" whitelist)
REGISTRY: dict[str, Callable] = {
    "ind": _sc.ind,
    "intercept": _sc.intercept,
    "bag": _text_kernel(_tf.bag),
    "nGrams": _text_kernel(_tf.n_grams),
    "skipGrams": _text_kernel(_tf.skip_grams),
    "sos2": _sc.sos2,
    "sos2U": _sc.sos2_u,
    "csos2": _csos2,
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
# Single-call specs ``fn(${var}, literal…)``: one matcher feeds both the
# flat whole-batch kernels (functions/batch.py) and the JVM binning sink

@dataclass(frozen=True)
class SingleCall:
    """A spec that is one call over one plain variable whose other
    arguments are all literals."""
    fn: str                 # registry function name
    src: str                # column the kernel reads (runtime_source)
    default: Any            # the ``${var:-default}`` value, or None
    args: tuple             # literal positional arguments after the var
    kwargs: dict            # literal keyword arguments, Scala names aliased


_NOT_LITERAL = object()


def _literal(node: ast.AST):
    """The value of a literal argument — a constant, a negative number
    (``-10`` parses as a UnaryOp), a list — or ``_NOT_LITERAL``."""
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _NOT_LITERAL


def _is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def match_single_call(parsed: ParsedSpec) -> Optional[SingleCall]:
    """The one parser of the single-call grammar; None when the spec is
    anything else (computed arguments, several variables, ...)."""
    try:
        node = ast.parse(parsed.expr, mode="eval").body
    except SyntaxError:
        return None
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.args and isinstance(node.args[0], ast.Name)
            and node.args[0].id in parsed.variables):
        return None
    args = tuple(_literal(a) for a in node.args[1:])
    kwargs = {KWARG_ALIASES.get(kw.arg, kw.arg): _literal(kw.value)
              for kw in node.keywords}
    if None in kwargs or any(v is _NOT_LITERAL
                             for v in args + tuple(kwargs.values())):
        return None
    var = node.args[0].id
    return SingleCall(node.func.id, runtime_source(parsed, var),
                      parsed.defaults.get(var), args, kwargs)


def _binning(call: SingleCall) -> Optional[dict]:
    """sos2 / sos2U over literal (vmin, vmax, delta), or csos2 over a
    sorted literal knot list given as one list or as trailing
    arguments; no default, no keywords."""
    if call.default is not None or call.kwargs:
        return None
    if call.fn == "csos2":
        knots = call.args[0] if len(call.args) == 1 \
            and isinstance(call.args[0], list) else list(call.args)
        if len(knots) < 2 or not all(map(_is_number, knots)) \
                or sorted(knots) != knots:
            return None     # the generic tier handles degenerate knots
        return {"fn": "csos2", "src": call.src, "knots": knots}
    if call.fn not in ("sos2", "sos2U") or len(call.args) != 3 \
            or not all(map(_is_number, call.args)):
        return None
    vmin, vmax, delta = call.args
    if delta <= 0 or vmax <= vmin:
        return None
    return {"fn": call.fn.lower(), "src": call.src,
            "vmin": vmin, "vmax": vmax, "delta": delta}


#: positional parameters after the text of the text kernels
#: (functions/textfeatures.py signatures)
_TEXT_PARAMS = {
    "bag": ("prefix", "suffix", "split", "max_elements"),
    "nGrams": ("n", "sep", "prefix", "suffix", "split", "max_elements"),
    "skipGrams": ("n", "k", "sep", "prefix", "suffix", "split",
                  "max_elements"),
}


def _text_params(call: SingleCall) -> Optional[dict]:
    """Keyword form of a bag / nGrams / skipGrams call the flat kernels
    cover: scalar literals, a string default, no maxElements."""
    names = _TEXT_PARAMS[call.fn]
    if len(call.args) > len(names) or (
            call.default is not None and not isinstance(call.default, str)):
        return None
    params = dict(call.kwargs)
    for k, v in zip(names, call.args):
        if k in params:
            return None
        params[k] = v
    if not set(params) <= set(names) \
            or params.pop("max_elements", None) is not None \
            or not all(v is None or isinstance(v, (str, int, float))
                       for v in params.values()):
        return None
    if call.fn != "bag":
        n, k = params.get("n"), params.setdefault("k", 0)
        if not (isinstance(n, int) and isinstance(k, int)) \
                or isinstance(n, bool) or n < 1 or k < 0:
            return None
    return params


def try_compile_flat(parsed: ParsedSpec):
    """Compile a single-call ``ind`` / ``bag`` / ``nGrams`` / ``skipGrams``
    / ``sos2`` / ``sos2U`` / ``csos2`` spec to a flat whole-batch kernel
    (no per-row dicts; unique-key-table hashing; shared tokenization).

    Returns ``(fn, src_col)`` where
    ``fn(cache, feature_name, hash_fn) -> (idx, vals, row_ids, isna)``,
    or None when the spec doesn't fit (maxElements, non-literal args,
    non-string default) — those run on the generic tier instead.  n == 2
    grams use the packed-int64 pair kernel; any other n uses the
    general tuple-unique kernel (gramgrams_flat).
    """
    from ..functions.batch import (
        bag_flat, csos2_flat, gramgrams_flat, ind_flat, pairgrams_flat,
        sos2_flat)

    call = match_single_call(parsed)
    if call is None:
        return None
    col, default = call.src, call.default

    if call.fn == "ind":
        if call.args or call.kwargs or default is not None:
            return None

        def fn_ind(cache, name, hash_fn, _col=col):
            return ind_flat(cache, _col, name, hash_fn)

        return fn_ind, col

    if call.fn in ("sos2", "sos2U", "csos2"):
        b = _binning(call)
        if b is None:
            return None
        if call.fn == "csos2":
            def fn_csos2(cache, name, hash_fn, _col=col,
                         _k=tuple(b["knots"])):
                return csos2_flat(cache, _col, name, hash_fn, _k)

            return fn_csos2, col
        uf, uk = (("UNDERFLOW", "UNK") if call.fn == "sos2U"
                  else (None, None))

        def fn_sos2(cache, name, hash_fn, _col=col, _a=float(b["vmin"]),
                    _b=float(b["vmax"]), _d=float(b["delta"]), _uf=uf,
                    _uk=uk):
            return sos2_flat(cache, _col, name, hash_fn, _a, _b, _d,
                             underflow=_uf, unknown_key=_uk)

        return fn_sos2, col

    if call.fn not in _TEXT_PARAMS:
        return None
    params = _text_params(call)
    if params is None:
        return None

    if call.fn == "bag":
        def fn_bag(cache, name, hash_fn, _col=col, _kw=params, _d=default):
            return bag_flat(cache, _col, name, hash_fn, default=_d, **_kw)

        return fn_bag, col

    n, k = params.pop("n"), params.pop("k")
    if n == 2:
        # dedicated pair kernel: packs code pairs into one int64 —
        # cheaper than the general tuple-unique path
        def fn_pair(cache, name, hash_fn, _col=col, _kw=params, _d=default,
                    _dist=tuple(range(1, k + 2))):
            return pairgrams_flat(cache, _col, name, hash_fn, _dist,
                                  default=_d, **_kw)

        return fn_pair, col

    def fn_n(cache, name, hash_fn, _col=col, _kw=params, _d=default,
             _n=n, _k=k):
        return gramgrams_flat(cache, _col, name, hash_fn, _n, _k,
                              default=_d, **_kw)

    return fn_n, col


def try_parse_binning(parsed: ParsedSpec):
    """sos2 / sos2U / csos2 over a plain variable with literal consts →
    descriptor for the pure-Catalyst sparse sink.  Binning functions
    have *enumerable* key spaces (grid bins / knots / UNK / UNDERFLOW),
    so every murmur hash is a driver-side compile-time constant.
    Returns None when the spec needs a Python tier (defaults, computed
    args) — the same single-call match try_compile_flat uses."""
    call = match_single_call(parsed)
    return None if call is None else _binning(call)


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

    # only "not Column-expressible" falls back to the batch tier; any
    # other error (a bad spec, or no active session to build Columns
    # in) raises instead of silently moving the feature to a slower tier
    tree = ast.parse(parsed.expr, mode="eval")
    _validate_ast(tree, parsed.variables)
    try:
        return conv(tree)
    except _Bail:
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

"""Featurize pipeline: PipelineSpec -> DataFrame transformations.

Execution model (reference lifecycle analog, SURVEY §3.1):
spec JSON is compiled ONCE on the driver into (a) native Column
expressions for scalar specs (Catalyst tier) and (b) batch callables for
bag-producing specs; executors evaluate everything over Arrow batches in
a single ``mapInArrow`` stage — the Arrow batch is the analog of the
reference's ``--parallel`` chunk (datasetCli.scala:101-124), and the
task boundary is its thread boundary.  Only a plain picklable
``_ExecPlan`` (compiled python callables + metadata, no JVM handles)
ships to executors.

Every output is built by ONE evaluator, ``_batch_eval_flat``: it
returns whole-batch (key, value, row, feature) arrays and each sink
assembles its Arrow output from them, so no per-row Python object
crosses the worker boundary.

Outputs:
* ``featurize``        — per-feature ``map<string,double>`` bags +
  ``missing_features`` / ``erring_features`` bookkeeping columns
  (FeatureExtractorFunction.scala:48-66 semantics), built directly as
  a ``ListArray`` of ``MapArray`` slots
* ``to_sparse_vectors`` — hashed (indices, values) arrays: murmur-hashed
  keys masked to numBits, sorted, deduped last-wins
  (LibSvmRowCreator.scala:21-48) — the whole batch hashes in ONE
  vectorized numpy call; all-scalar plans stay pure Catalyst
* ``to_vw_lines`` / ``to_libsvm_lines`` — training-line string column
* multi-sink fan-out = cache the featurized frame, call several sinks
  (datasetCli.scala:84-124 analog)

The per-row dict evaluator these outputs are checked against lives in
``tests/featurize_oracle.py``, beside the golden-tested row builders in
``aloha_spark.sinks``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.formatting import decimal_format, java_double_to_string
from ..functions.hashing import STRING_SEED, string_hash_array
from .spec import (
    PipelineSpec,
    compile_batch_fn,
    extraction_alias,
    path_needs_extraction as _needs_extract,
    path_to_column,
    try_compile_column,
    try_compile_flat,
    try_parse_binning,
)

_PREFIX = "__als_"


def _src(fp: "_FeatPlan", pyname: str) -> str:
    """Column the evaluator reads for a spec variable.  Plain top-level
    columns pass through by their original name (no lossy '__' decode);
    accessor paths (``a.b``, ``photos[0].height``) resolve to the
    JVM-precomputed extraction column added by ``_with_precomputed``
    (SchemaBasedTokenizer.scala:18-68 null-safe deref, done Catalyst-
    side so Python tiers only ever see flat columns)."""
    src = fp.sources[pyname] if (fp.sources and pyname in fp.sources) \
        else pyname
    if _needs_extract(src):
        return extraction_alias(pyname)
    return src


def _lift_to_bag(value, feature_name: str) -> Optional[dict[str, float]]:
    """Scalar -> [("", x)] lifting (RegressionModelValueToTupleConversions
    .scala:40-45); dict/bag passthrough; None -> None (missing)."""
    if value is None:
        return None
    if isinstance(value, dict):
        return {str(k): float(v) for k, v in value.items()}
    if isinstance(value, bool):
        return {"": 1.0 if value else 0.0}
    if isinstance(value, (int, float, np.integer, np.floating)):
        v = float(value)
        return None if v != v else {"": v}
    if isinstance(value, str):
        return {f"={value}": 1.0}
    if isinstance(value, (list, tuple)):
        return {str(k): float(v) for k, v in value}
    return None


@dataclass
class _FeatPlan:
    name: str
    kind: str                    # "column" | "string_column" | "batch"
    fn: Optional[Callable]       # batch: the generic per-row callable
    variables: list[str]
    defaults: dict
    sources: dict = None         # pyname -> original column path
    # batch features whose spec matches a whole-batch kernel (ind, bag,
    # n-grams, skip-grams, sos2, sos2U, csos2) run it instead of ``fn``:
    # flat_fn(cache, name, hash_fn) -> (idx, vals, row_ids, isna)
    flat_fn: Optional[Callable] = None


@dataclass
class _ExecPlan:
    """Everything the executors need — fully picklable."""
    features: list[_FeatPlan]
    dv: dict[str, _FeatPlan]     # label / importance / tag
    default_ns: list[int]
    namespaces: list[tuple[str, list[int]]]
    num_bits: int
    num_missing_threshold: Optional[int]


def _batch_eval_flat(plan: _ExecPlan, pdf: pd.DataFrame, hash_fn, rb=None):
    """The one feature evaluator: returns
    (hashed_idx, vals, row_ids, feat_ids, missing, erring) with
    feature-name prefixing applied during flattening and ``hash_fn``
    applied per feature chunk — murmur stringHash + numBits mask for the
    hashed sinks, or an identity that returns the key strings themselves
    for ``featurize`` and the VW line sink.  Entries are feature-major;
    downstream sorts re-group by row while their stability preserves
    emission (= insertion) order.

    Features with a flat kernel never materialize per-row dicts and
    hash only their per-batch unique-key table; Column features hash a
    per-batch table too, and the generic tier hashes its entry keys
    once per feature."""
    from ..functions.batch import TokenCache

    n = len(pdf)
    idx_chunks: list[np.ndarray] = []
    val_chunks: list[np.ndarray] = []
    row_id_chunks: list[np.ndarray] = []
    fid_chunks: list[np.ndarray] = []
    # missing marks accumulate as (rows, feature-name) chunks in
    # feature-declaration order; the per-row lists materialize once at
    # the end (rows with no missing share ONE immutable empty tuple —
    # n per-row list allocations per batch were ~5% of kernel time)
    miss_marks: list = []
    err_marks: list = []     # generic tier only: the one that can raise
    arange = np.arange(n, dtype=np.int64)
    cache = TokenCache(pdf, rb=rb)

    for fi, fp in enumerate(plan.features):
        name = fp.name
        unk = name + "=UNK"

        if fp.flat_fn is not None:
            idx, vals_, rids, isna = fp.flat_fn(cache, name, hash_fn)
            idx_chunks.append(idx)
            val_chunks.append(vals_)
            row_id_chunks.append(rids)
            fid_chunks.append(np.full(len(rids), fi, dtype=np.int64))
            if isna.any():
                miss_rows = np.nonzero(isna)[0]
                unk_idx = hash_fn([unk])
                idx_chunks.append(np.full(len(miss_rows), unk_idx[0],
                                          dtype=unk_idx.dtype))
                val_chunks.append(np.ones(len(miss_rows), dtype=np.float64))
                row_id_chunks.append(miss_rows.astype(np.int64))
                fid_chunks.append(np.full(len(miss_rows), fi, dtype=np.int64))
                miss_marks.append((miss_rows, name))
            continue

        if fp.kind in ("column", "string_column"):
            colv = pdf[_PREFIX + name]
            isna = colv.isna().to_numpy()
            any_na = bool(isna.any())
            if fp.kind == "string_column":
                # hash only the vocab-sized unique-key table, not one
                # key string per row (factorize_strings is NUL-safe)
                from ..functions.batch import factorize_strings
                codes, uniques = factorize_strings(colv)
                h_unk = hash_fn([unk])
                if len(uniques):
                    table = hash_fn(
                        [f"{name}={u}" for u in uniques])
                    safe = np.where(codes < 0, 0, codes)
                    idx = np.where(isna, h_unk[0], table[safe]) \
                        .astype(table.dtype, copy=False)
                else:
                    idx = np.full(n, h_unk[0], dtype=h_unk.dtype)
                vals_np = np.ones(n, dtype=np.float64)
            else:
                v = colv.to_numpy(dtype=np.float64, na_value=np.nan)
                h_name = hash_fn([name])
                if any_na:
                    h_unk = hash_fn([unk])
                    idx = np.where(isna, h_unk[0], h_name[0]) \
                        .astype(h_name.dtype, copy=False)
                    vals_np = np.where(isna, 1.0, np.nan_to_num(v))
                else:
                    idx = np.full(n, h_name[0], dtype=h_name.dtype)
                    vals_np = v
            idx_chunks.append(idx)
            val_chunks.append(vals_np)
            row_id_chunks.append(arange)
            fid_chunks.append(np.full(n, fi, dtype=np.int64))
            if any_na:
                miss_marks.append((np.nonzero(isna)[0], name))
            continue

        # generic tier
        var_items = [(v, pdf[_src(fp, v)].tolist())
                     for v in fp.variables]
        keys, vals_, rids = [], [], []
        f_miss, f_err = [], []
        for i in range(n):
            kwargs = {}
            var_missing = False
            for v, vl in var_items:
                val = vl[i]
                if val is None or (isinstance(val, float) and val != val):
                    if v in fp.defaults:
                        val = fp.defaults[v]
                    else:
                        val = None
                        var_missing = True
                kwargs[v] = val
            try:
                bag = _lift_to_bag(fp.fn(**kwargs), name)
                errored = False
            except Exception:
                bag = None
                errored = True
                f_err.append(i)
            if (bag is None and not errored) or (var_missing and not errored):
                f_miss.append(i)
            if bag is None:
                keys.append(unk)
                vals_.append(1.0)
                rids.append(i)
            else:
                for k, v in bag.items():
                    keys.append(name + k)
                    vals_.append(v)
                    rids.append(i)
        idx_chunks.append(hash_fn(keys))
        val_chunks.append(np.asarray(vals_, dtype=np.float64))
        row_id_chunks.append(np.asarray(rids, dtype=np.int64))
        fid_chunks.append(np.full(len(rids), fi, dtype=np.int64))
        if f_miss:
            miss_marks.append((np.asarray(f_miss, dtype=np.int64), name))
        if f_err:
            err_marks.append((np.asarray(f_err, dtype=np.int64), name))

    missing = _marks_to_rows(miss_marks, n)
    erring = _marks_to_rows(err_marks, n)
    if row_id_chunks:
        idx = np.concatenate(idx_chunks)
        vals = np.concatenate(val_chunks)
        row_ids = np.concatenate(row_id_chunks)
        feat_ids = np.concatenate(fid_chunks)
    else:
        idx = np.empty(0, dtype=np.int32)
        vals = np.empty(0, dtype=np.float64)
        row_ids = np.empty(0, dtype=np.int64)
        feat_ids = np.empty(0, dtype=np.int64)
    return idx, vals, row_ids, feat_ids, missing, erring


_IDENTITY_KEYS = lambda keys: np.asarray(keys, dtype=object)  # noqa: E731

#: shared immutable "no marks" row — consumers only len() it, iterate
#: it, or hand it to pa.array(list_(string())), all of which accept a
#: tuple; rows that DO have marks get a private list
_EMPTY_MISS: tuple = ()


def _marks_to_rows(marks: list, n: int) -> list:
    """(rows, feature-name) chunks in feature-declaration order -> one
    list of feature names per row."""
    out: list = [_EMPTY_MISS] * n
    for rows_, name in marks:
        for i in rows_.tolist():
            cur = out[i]
            if cur is _EMPTY_MISS:
                out[i] = [name]
            else:
                cur.append(name)
    return out


def _fmt_values(vals: np.ndarray, fmt_fn, int_suffix: str = "",
                int_max: float = 1e15) -> np.ndarray:
    """Vectorized value formatting: integral doubles below ``int_max``
    print via the int fast path (str(int(v)) + suffix — equal to
    DecimalFormat / Double.toString for those magnitudes), the rest
    through ``fmt_fn``.  Negative zero is excluded from the fast path
    (Double.toString(-0.0) == \"-0.0\")."""
    out = np.empty(len(vals), dtype=object)
    ints = (vals == np.floor(vals)) & (np.abs(vals) < int_max) \
        & ~(np.signbit(vals) & (vals == 0.0))
    iv = vals[ints].astype(np.int64)
    out[ints] = [str(x) + int_suffix for x in iv.tolist()]
    rest = ~ints
    if rest.any():
        # values repeat heavily (bin fractions, common counts): format
        # each distinct double once, gather
        uq, inv = np.unique(vals[rest], return_inverse=True)
        fmt_uq = np.array([fmt_fn(v) for v in uq.tolist()], dtype=object)
        out[rest] = fmt_uq[inv]
    return out


_ROW_SENTINEL = "\x00\x1e\x00"


def _join_rows(tokens: np.ndarray, rows: np.ndarray, n: int) -> list:
    """Per-row ``' '.join`` without a pandas groupby: ONE global C-level
    join with a sentinel token at row boundaries, then one split.
    ``rows`` must be non-decreasing and aligned with ``tokens``."""
    out = [""] * n
    if len(tokens) == 0:
        return out
    chg = np.nonzero(rows[1:] != rows[:-1])[0] + 1
    pieces = np.insert(tokens, chg, _ROW_SENTINEL)
    bodies = " ".join(pieces.tolist()).split(f" {_ROW_SENTINEL} ")
    present = rows[np.concatenate(([0], chg))]
    for r, b in zip(present.tolist(), bodies):
        out[r] = b
    return out


def _ns_layout(plan: _ExecPlan):
    """Per-feature namespace MEMBERSHIPS (a feature may be listed in
    several namespaces — the VW row builder emits it once per namespace),
    flattened as (memb_ns, memb_pos) with per-feature offsets, plus the
    header strings.  Iteration order mirrors _append_namespace: default
    namespace first, then declared order."""
    n_feats = len(plan.features)
    members: list[list] = [[] for _ in range(n_feats)]
    headers = ["|"]
    for pos, f in enumerate(plan.default_ns):
        members[f].append((0, pos))
    for k, (name, idxs) in enumerate(plan.namespaces, start=1):
        headers.append("|" + name)
        for pos, f in enumerate(idxs):
            members[f].append((k, pos))
    counts = np.fromiter((len(m) for m in members), dtype=np.int64,
                         count=n_feats)
    off = np.concatenate(([0], np.cumsum(counts)))
    flat = [x for m in members for x in m]
    memb_ns = np.fromiter((a for a, _ in flat), dtype=np.int64,
                          count=len(flat))
    memb_pos = np.fromiter((p for _, p in flat), dtype=np.int64,
                           count=len(flat))
    return memb_ns, memb_pos, off, counts, np.asarray(headers, dtype=object)


def _assemble_vw_bodies(plan: _ExecPlan, pdf: pd.DataFrame, rb=None):
    """Flat VW line assembly: feature evaluation, epsilon filtering,
    value formatting, and namespace grouping all run over whole-batch
    numpy arrays; the only per-row work is the final string join.
    Returns (body_strings list aligned with rows, missing)."""
    n = len(pdf)
    keys, vals, rows, fids, missing, _erring = \
        _batch_eval_flat(plan, pdf, _IDENTITY_KEYS, rb=rb)
    if len(rows) == 0:
        return [""] * n, missing
    # epsilon rules (VwRowCreator.scala:75-83): ~1 -> bare key, ~0 ->
    # dropped, otherwise key:DecimalFormat("0.######")
    near_one = np.abs(vals - 1.0) < 5e-7
    keep = near_one | (np.abs(vals) >= 5e-7)
    keys, vals, rows, fids = keys[keep], vals[keep], rows[keep], fids[keep]
    near_one = near_one[keep]
    tokens = keys.copy()
    w = np.nonzero(~near_one)[0]
    if len(w):
        fmts = _fmt_values(vals[w], decimal_format)
        tokens[w] = pd.Series(keys[w]) \
            .str.cat(pd.Series(fmts), sep=":").to_numpy(dtype=object)
    memb_ns, memb_pos, moff, mcounts, headers = _ns_layout(plan)
    ecounts = mcounts[fids]
    if (ecounts != 1).any():
        # a feature in k namespaces emits each entry k times (row-builder
        # parity); expand via segmented arange over memberships
        rep = np.repeat(np.arange(len(fids), dtype=np.int64), ecounts)
        seg = np.arange(len(rep), dtype=np.int64) \
            - np.repeat(np.cumsum(ecounts) - ecounts, ecounts)
        m_idx = np.repeat(moff[fids], ecounts) + seg
        tokens = tokens[rep]
        rows = rows[rep]
        ens = memb_ns[m_idx]
        epos = memb_pos[m_idx]
    else:
        slot = moff[fids]
        ens = memb_ns[slot]
        epos = memb_pos[slot]
    # pack (row, ns, pos) into one int64 sort key when the widths fit
    # (they always do in practice: ns/pos are feature-count-bounded);
    # ~8x cheaper than a 3-key lexsort at 1M entries
    pos_bits = int(max(int(epos.max()) if len(epos) else 0, 1)).bit_length()
    ns_bits = int(max(int(ens.max()) if len(ens) else 0, 1)).bit_length()
    if len(rows) and pos_bits + ns_bits + int(rows.max()).bit_length() <= 62:
        key = (((rows.astype(np.int64) << ns_bits) | ens.astype(np.int64))
               << pos_bits) | epos.astype(np.int64)
        order = np.argsort(key, kind="stable")
    else:
        order = np.lexsort((epos, ens, rows))
    srow = rows[order]
    sns = ens[order]
    stok = tokens[order]
    m = len(srow)
    new_grp = np.ones(m, dtype=bool)
    if m > 1:
        new_grp[1:] = (srow[1:] != srow[:-1]) | (sns[1:] != sns[:-1])
    inter = np.empty(2 * m, dtype=object)
    inter[0::2] = headers[sns]
    inter[1::2] = stok
    irow = np.repeat(srow, 2)
    mask = np.ones(2 * m, dtype=bool)
    mask[0::2] = new_grp
    return _join_rows(inter[mask], irow[mask], n), missing


def _rb_to_pandas(rb, tz, columns=None):
    """RecordBatch -> pandas with mapInPandas' timestamp semantics.

    Spark hands pandas UDFs tz-NAIVE timestamp columns localized to the
    session timezone; a raw ``Table.to_pandas()`` on a ``mapInArrow``
    batch instead yields tz-AWARE values, which would render differently
    in feature evaluation for any non-UTC session.  ``columns``
    optionally projects before conversion."""
    import pyarrow as pa
    if columns is not None:
        rb = rb.select(columns)
    pdf = pa.Table.from_batches([rb]).to_pandas()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_convert(tz).dt.tz_localize(None)
    return pdf


def _session_tz(df: DataFrame) -> str:
    return df.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"


def _out_schema(pre: DataFrame, keep: list, tail: str) -> str:
    """DDL schema of a stage output: the keep-columns' types, then
    ``tail``."""
    return ", ".join([f"{c} {pre.schema[c].dataType.simpleString()}"
                      for c in keep] + [tail])


def _fmt17(v) -> str:
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    # negative zero must not take the int fast path: the row builders'
    # decimal_format(-0.0, 17) renders "-0", matching Double.toString
    if isinstance(v, float) and v == int(v) and abs(v) < 1e15 \
            and not (v == 0.0 and np.signbit(v)):
        return str(int(v))
    return decimal_format(v, 17)


def _sort_last_wins(rows: np.ndarray, idx: np.ndarray, vals: np.ndarray,
                    num_bits: int):
    """Order hashed entries by (row, index) and keep the last of each
    equal (row, index) run — the SortedMap last-wins of
    LibSvmRowCreator.scala:21-48.  ONE stable argsort over the whole
    batch: the index is masked to ``num_bits``, so ``(row << num_bits)
    | idx`` is an exact single int64 key (~8x faster than a 2-key
    lexsort at 1M entries), and stability keeps equal keys in emission
    (= feature declaration) order."""
    key = (rows << num_bits) | idx.astype(np.int64)
    order = np.argsort(key, kind="stable")
    key = key[order]
    keep = np.ones(len(key), dtype=bool)
    keep[:-1] = key[1:] != key[:-1]
    order = order[keep]
    return rows[order], idx[order], vals[order]


def _assemble_libsvm_lines(plan: _ExecPlan, pdf: pd.DataFrame, hash_fn,
                           rb=None):
    """Flat LibSVM assembly: hash/mask (vectorized), per-batch sort +
    last-wins dedupe (one pass), java Double.toString rendering with an
    integer fast path; per-row work is the final join only."""
    n = len(pdf)
    idx, vals, rows, _fids, missing, _erring = \
        _batch_eval_flat(plan, pdf, hash_fn, rb=rb)
    lines = [""] * n
    if len(rows):
        k_rid, k_idx, k_val = _sort_last_wins(rows, idx, vals, plan.num_bits)
        # Double.toString goes scientific at 1e7 — int fast path below it
        fmts = _fmt_values(k_val, java_double_to_string, int_suffix=".0",
                           int_max=1e7)
        toks = (pd.Series(k_idx.astype(str), dtype=object)
                .str.cat(pd.Series(fmts), sep=":").to_numpy(dtype=object))
        lines = _join_rows(toks, k_rid, n)
    return lines, missing


def _eval_dv(plan: _ExecPlan, pdf: pd.DataFrame, dv: str):
    fp = plan.dv.get(dv)
    if fp is None:
        return None
    if fp.kind in ("column", "string_column"):
        # Arrow->pandas turns SQL NULL into NaN for float columns; the
        # sinks' None checks must see None so a missing label degrades
        # to an unlabeled line instead of a '\ufffd' garbage label
        return [None if v is None or (isinstance(v, float) and v != v)
                else v
                for v in pdf[_PREFIX + "dv_" + dv].tolist()]
    out = []
    for i in range(len(pdf)):
        kwargs = {}
        for v in fp.variables:
            val = pdf[_src(fp, v)].iloc[i]
            if val is None or (isinstance(val, float) and val != val):
                val = fp.defaults.get(v)
            kwargs[v] = val
        try:
            out.append(fp.fn(**kwargs))
        except Exception:
            out.append(None)
    return out


class FeaturePipeline:
    """Compiled feature pipeline (build once on the driver, reuse)."""

    def __init__(self, spec: PipelineSpec):
        self.spec = spec
        self._columns: dict[str, object] = {}   # driver-only JVM handles
        self._dv_columns: dict[str, object] = {}
        self._binning: dict[str, dict] = {}     # JVM sparse-sink tier
        feats: list[_FeatPlan] = []
        for p in spec.features:
            col = try_compile_column(p)
            if col is not None:
                self._columns[p.name] = col
                feats.append(_FeatPlan(p.name, "column", None,
                                       p.variables, p.defaults, p.sources))
                continue
            fp = _FeatPlan(p.name, "batch", compile_batch_fn(p),
                           p.variables, p.defaults, p.sources)
            flat = try_compile_flat(p)
            if flat is not None:
                fp.flat_fn = flat[0]
            binned = try_parse_binning(p)
            if binned is not None:
                self._binning[p.name] = binned
            feats.append(fp)
        dv: dict[str, _FeatPlan] = {}
        for dv_name, p in (("label", spec.label),
                           ("importance", spec.importance),
                           ("tag", spec.tag)):
            if p is None:
                continue
            col = try_compile_column(p)
            if col is not None:
                self._dv_columns[dv_name] = col
                dv[dv_name] = _FeatPlan(dv_name, "column", None,
                                        p.variables, p.defaults, p.sources)
            else:
                dv[dv_name] = _FeatPlan(dv_name, "batch", compile_batch_fn(p),
                                        p.variables, p.defaults, p.sources)
        self.plan = _ExecPlan(
            features=feats, dv=dv,
            default_ns=spec.default_namespace,
            namespaces=spec.namespace_indices,
            num_bits=spec.num_bits,
            num_missing_threshold=spec.num_missing_threshold,
        )

    # -- stage 1: JVM-side precomputation ----------------------------------
    def _with_precomputed(self, df: DataFrame) -> DataFrame:
        for fp in self.plan.features:
            if fp.name not in self._columns:
                continue
            col = self._columns[fp.name]
            dtype = df.select(col.alias("x")).schema[0].dataType.simpleString()
            if dtype == "string":
                fp.kind = "string_column"
                df = df.withColumn(_PREFIX + fp.name, col)
            else:
                fp.kind = "column"
                df = df.withColumn(_PREFIX + fp.name, col.cast("double"))
        # nested / indexed accessor paths feeding Python tiers extract
        # JVM-side (null-safe getField/getItem chains) into flat columns
        for fp in list(self.plan.features) + list(self.plan.dv.values()):
            if fp.kind in ("column", "string_column"):
                continue
            for v in fp.variables:
                src = fp.sources.get(v, v) if fp.sources else v
                if _needs_extract(src):
                    alias = extraction_alias(v)
                    if alias not in df.columns:
                        df = df.withColumn(alias, path_to_column(src))
        for dv_name, col in self._dv_columns.items():
            df = df.withColumn(_PREFIX + "dv_" + dv_name, col)
        return df

    # -- public transforms --------------------------------------------------
    def featurize(self, df: DataFrame,
                  keep_cols: Optional[list] = None) -> DataFrame:
        """Adds ``features`` (array of per-feature bags in declaration
        order — one ``map<string,double>`` per feature, empty maps
        included), ``missing_features``, ``erring_features``.

        One ``mapInArrow`` stage over the flat evaluator with identity
        keys: a stable sort groups the entries by (row, feature) slot
        and the output is built directly as a ``ListArray`` of
        ``MapArray`` slots; keep-columns pass through zero-copy."""
        import pyarrow as pa

        keep = keep_cols if keep_cols is not None else list(df.columns)
        pre = self._with_precomputed(df)
        plan = self.plan
        n_feats = len(plan.features)
        schema = _out_schema(
            pre, keep, "features array<map<string,double>>, "
            "missing_features array<string>, erring_features array<string>")
        tz = _session_tz(pre)

        def run(batches):
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                pdf = _rb_to_pandas(rb, tz)
                keys, vals, rows, fids, missing, erring = \
                    _batch_eval_flat(plan, pdf, _IDENTITY_KEYS, rb=rb)
                slot = rows * n_feats + fids
                order = np.argsort(slot, kind="stable")
                slot, keys, vals = slot[order], keys[order], vals[order]
                # a bag is a dict: a key repeated within one slot keeps
                # its last value
                dup = pd.DataFrame({"s": slot, "k": keys}) \
                    .duplicated(keep="last").to_numpy()
                if dup.any():
                    slot, keys, vals = slot[~dup], keys[~dup], vals[~dup]
                offsets = np.concatenate(
                    ([0], np.cumsum(np.bincount(slot, minlength=n * n_feats))))
                # (a batch without entries concatenates to an empty
                # numeric array, hence the astype)
                maps = pa.MapArray.from_arrays(
                    pa.array(offsets, pa.int32()),
                    pa.array(keys.astype(object, copy=False), pa.string()),
                    pa.array(vals, pa.float64()))
                feats = pa.ListArray.from_arrays(
                    pa.array(np.arange(n + 1) * n_feats, pa.int32()), maps)
                names = rb.schema.names
                arrays = [rb.column(names.index(c)) for c in keep]
                arrays += [feats, pa.array(missing, pa.list_(pa.string())),
                           pa.array(erring, pa.list_(pa.string()))]
                yield pa.RecordBatch.from_arrays(
                    arrays, keep + ["features", "missing_features",
                                    "erring_features"])

        return pre.mapInArrow(run, schema=schema)

    def _lines_transform(self, df: DataFrame, keep_cols: list,
                         line_fn: Callable, out_col: str) -> DataFrame:
        """Arrow-native line transform: keep-columns pass through
        zero-copy and the RecordBatch rides along so the flat kernels
        can tokenize/factorize in Arrow C++ (TokenCache.get_codes)."""
        import pyarrow as pa

        pre = self._with_precomputed(df)
        plan = self.plan
        schema = _out_schema(pre, keep_cols, f"{out_col} string")
        tz = _session_tz(pre)

        def run(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                pdf = _rb_to_pandas(rb, tz)
                lines = line_fn(plan, pdf, rb)
                names = rb.schema.names
                arrays = [rb.column(names.index(c)) for c in keep_cols]
                arrays.append(pa.array(lines, type=pa.string()))
                yield pa.RecordBatch.from_arrays(
                    arrays, keep_cols + [out_col])

        return pre.mapInArrow(run, schema=schema)

    def to_vw_lines(self, df: DataFrame, keep_cols: Optional[list] = None,
                    labeled: Optional[bool] = None,
                    out_col: str = "vw_line") -> DataFrame:
        """VW training lines, assembled from the flat arrays —
        vectorized epsilon filtering, value formatting, and namespace
        grouping (byte-identical to the per-row oracle in
        tests/featurize_oracle.py, gated in tests/test_flat_lines.py)."""
        if labeled is None:
            labeled = self.spec.label is not None
        keep = keep_cols if keep_cols is not None else []

        def mk(plan: _ExecPlan, pdf: pd.DataFrame, rb=None) -> list:
            bodies, missing = _assemble_vw_bodies(plan, pdf, rb=rb)
            thr = plan.num_missing_threshold
            labels = _eval_dv(plan, pdf, "label") if labeled else None
            imps = _eval_dv(plan, pdf, "importance") if labeled else None
            tags = _eval_dv(plan, pdf, "tag") if labeled else None
            lines: list = []
            for i, iv in enumerate(bodies):
                if thr is not None and len(missing[i]) > thr:
                    lines.append(None)  # abort row (RegressionFeatures:99-110)
                    continue
                if not labeled:
                    lines.append(iv)
                    continue
                lab = labels[i] if labels else None
                imp = imps[i] if imps is not None else 1.0
                if lab is None or imp is None:
                    lines.append(iv)
                    continue
                tag = tags[i] if tags is not None else _fmt17(lab)
                t = ("" if tag is None else str(tag)).strip()
                head = _fmt17(lab) + " "
                if imp != 1:
                    head += _fmt17(imp) + " "
                lines.append(head + t + (iv if iv else "|"))
            return lines

        return self._lines_transform(df, keep, mk, out_col)

    def to_cb_lines(self, df: DataFrame, action_spec: str, cost_spec: str,
                    prob_spec: str, keep_cols: Optional[list] = None,
                    out_col: str = "cb_line") -> DataFrame:
        """Contextual-bandit lines (VwContextualBanditRowCreator.scala:
        29-52): ``action:cost:probability`` head from the three spec
        expressions; action filtered to > 0, probability to [0, 1]; any
        missing/invalid value degrades to the unlabeled line."""
        from .spec import parse_feature_spec, try_compile_column

        keep = keep_cols if keep_cols is not None else []
        cb_cols = {}
        for nm, sp in (("action", action_spec), ("cost", cost_spec),
                       ("probability", prob_spec)):
            col = try_compile_column(parse_feature_spec(nm, sp))
            if col is None:
                raise ValueError(f"cb {nm} spec must be Column-expressible")
            cb_cols[nm] = col

        def mk(plan: _ExecPlan, pdf: pd.DataFrame, rb=None) -> list:
            bodies, _missing = _assemble_vw_bodies(plan, pdf, rb=rb)

            def _clean(col):
                vals = pdf[_PREFIX + "cb_" + col].tolist()
                return [None if v is None
                        or (isinstance(v, float) and v != v) else v
                        for v in vals]

            acts = _clean("action")
            costs = _clean("cost")
            probs = _clean("probability")
            lines = []
            for i, iv in enumerate(bodies):
                a, c, p = acts[i], costs[i], probs[i]
                # same validity predicate and rendering as the row
                # kernel (sinks/vw.cb_vw_line): NO int() coercion — a
                # fractional action like 0.9 is valid there (> 0) but
                # int()-truncates to 0 (unlabeled) here, a silent
                # tier divergence
                if a is None or a <= 0 or c is None or p is None \
                        or not (0 <= p <= 1):
                    lines.append(iv)
                    continue
                head = f"{a}:{decimal_format(c, 17)}" \
                       f":{decimal_format(p, 17)}"
                lines.append(head + (" |" if not iv else f" {iv}"))
            return lines

        pre = df
        for nm, col in cb_cols.items():
            pre = pre.withColumn(_PREFIX + "cb_" + nm, col)
        return self._lines_transform(pre, keep, mk, out_col)

    def to_libsvm_lines(self, df: DataFrame, keep_cols: Optional[list] = None,
                        out_col: str = "libsvm_line",
                        seed: int = STRING_SEED) -> DataFrame:
        keep = keep_cols if keep_cols is not None else []
        labeled = self.spec.label is not None
        num_bits = self.spec.num_bits
        mask = np.int32((1 << num_bits) - 1)

        def hash_fn(keys):
            return string_hash_array(keys, seed) & mask

        def mk(plan: _ExecPlan, pdf: pd.DataFrame, rb=None) -> list:
            bodies, _missing = _assemble_libsvm_lines(plan, pdf, hash_fn,
                                                      rb=rb)
            labels = _eval_dv(plan, pdf, "label") if labeled else None
            if labels is None:
                return bodies
            labs = [None if v is None else decimal_format(float(v), 17)
                    for v in labels]
            return [b if l is None else (f"{l} {b}" if b else l)
                    for l, b in zip(labs, bodies)]

        return self._lines_transform(df, keep, mk, out_col)

    def to_multilabel_blocks(self, df: DataFrame, n_labels: int,
                             positive_col: str,
                             keep_cols: Optional[list] = None,
                             downsample_negatives_to: Optional[int] = None,
                             base_seed: int = 0,
                             out_col: str = "vw_block") -> DataFrame:
        """CSOAA-LDF multilabel blocks (reference S8/S9).

        ``positive_col``: array<int> column of positive label indices.
        ``downsample_negatives_to``: when set, keep that many negatives
        per row via the stateless java.util.Random-compatible reservoir
        sampler with a deterministic per-partition seed (the reference's
        'unique seed per unit of parallelism' contract,
        VwDownsampledMultilabelRowCreator.scala:57-67)."""
        from pyspark import TaskContext

        from ..functions.rand import downsample_negatives, partition_seed
        from ..sinks.vw import (
            NEG_DUMMY_CLASS_ID,
            NEGATIVE_COST,
            POS_DUMMY_CLASS_ID,
            POSITIVE_COST,
            SHARED,
            determine_label_namespaces,
        )

        # collision-free label/dummy namespace chars derived from the
        # namespaces actually used (VwMultilabelRowCreator.scala:94-205)
        class_ns, dummy_ns = determine_label_namespaces(
            {name for name, _ in self.plan.namespaces})
        # everything but the shared features is row-constant: precompute
        # the dummy lines and both cost variants of every label line
        neg_dummy = f"{NEG_DUMMY_CLASS_ID}:{NEGATIVE_COST} |{dummy_ns} N"
        pos_dummy = f"{POS_DUMMY_CLASS_ID}:{POSITIVE_COST} |{dummy_ns} P"
        pos_lines = [f"{i}:{POSITIVE_COST} |{class_ns} _{i}"
                     for i in range(n_labels)]
        neg_lines = [f"{i}:{NEGATIVE_COST} |{class_ns} _{i}"
                     for i in range(n_labels)]
        keep = keep_cols if keep_cols is not None else []
        pre = self._with_precomputed(df)
        plan = self.plan
        schema = _out_schema(pre, keep, f"{out_col} array<string>")

        import pyarrow as pa

        tz = _session_tz(pre)

        def run(batches):
            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            seed = partition_seed(base_seed, pid)
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                pdf = _rb_to_pandas(rb, tz)
                # shared features assemble on the flat tier; the rest of
                # each block is selected from the precomputed lines
                bodies, _missing = _assemble_vw_bodies(plan, pdf, rb=rb)
                positives = pdf[positive_col].tolist()
                blocks = []
                for i, iv in enumerate(bodies):
                    pv = positives[i]
                    pos = set() if pv is None else {int(x) for x in pv}
                    head = [SHARED + iv, neg_dummy, pos_dummy]
                    if downsample_negatives_to is not None:
                        label_ids, seed = downsample_negatives(
                            n_labels, pos, downsample_negatives_to, seed)
                    else:
                        label_ids = range(n_labels)
                    blocks.append(head + [
                        pos_lines[j] if j in pos else neg_lines[j]
                        for j in label_ids])
                names = rb.schema.names
                arrays = [rb.column(names.index(c)) for c in keep]
                arrays.append(pa.array(blocks, type=pa.list_(pa.string())))
                yield pa.RecordBatch.from_arrays(arrays, keep + [out_col])

        return pre.mapInArrow(run, schema=schema)

    def to_sparse_vectors(self, df: DataFrame,
                          keep_cols: Optional[list] = None,
                          seed: int = STRING_SEED) -> DataFrame:
        """Hashed sparse vectors: the whole Arrow batch's keys hash in a
        single vectorized murmur call; per row: mask, sort, dedupe
        (last wins).

        When every feature is a scalar Column-tier or binning spec
        (static key space — the murmur hashes are driver-side
        compile-time literals) the sink is a pure-Catalyst plan that
        stays inside whole-stage codegen with zero Python workers;
        otherwise it is the Arrow kernel of :meth:`make_arrow_kernel`.

        Arrow path (``mapInArrow``): keep-columns pass through
        zero-copy, and the ragged (indices, values) output is built
        directly as ``ListArray.from_arrays(offsets, flat)`` — no
        ``np.split`` into per-row objects, no pandas->Arrow reassembly
        (measured ~1.2s/30k-row batch in the old path, ~0 now)."""
        keep = keep_cols if keep_cols is not None else list(df.columns)
        pre = self._with_precomputed(df)
        if all(fp.kind == "column" or fp.name in self._binning
               for fp in self.plan.features):
            return self._to_sparse_vectors_jvm(pre, keep, seed)
        run, schema = self.make_arrow_kernel(pre, keep, seed)
        return pre.mapInArrow(run, schema=schema)

    def make_arrow_kernel(self, pre: DataFrame, keep: list,
                          seed: int = STRING_SEED):
        """Build the exact ``(run, out_schema)`` pair the Arrow
        featurize path feeds to ``mapInArrow``.

        Exposed (not just a closure inside :meth:`to_sparse_vectors`)
        so out-of-Spark harnesses can drive the identical per-batch
        kernel under plain ``multiprocessing`` — BENCH/kernel_probe.py
        uses it to measure how the numpy kernel alone scales with
        process count on this host, separating engine overhead from
        the machine's memory-bus ceiling.  ``pre`` is only read for
        its schema and session timezone."""
        import pyarrow as pa

        plan = self.plan
        mask = np.int32((1 << plan.num_bits) - 1)
        schema = _out_schema(pre, keep, "indices array<int>, values "
                             "array<double>, missing_features array<string>")
        # columns the evaluator reads (feature sources + precomputed)
        eval_cols = set()
        for fp in plan.features:
            if fp.kind in ("column", "string_column"):
                eval_cols.add(_PREFIX + fp.name)
            else:
                eval_cols.update(_src(fp, v) for v in fp.variables)

        def hash_fn(keys):
            return string_hash_array(keys, seed) & mask

        thr = plan.num_missing_threshold
        tz = _session_tz(pre)

        def run(batches):
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                pdf = _rb_to_pandas(
                    rb, tz, columns=[c for c in rb.schema.names
                                     if c in eval_cols])
                idx, vals, row_ids, _fids, missing, _erring = \
                    _batch_eval_flat(plan, pdf, hash_fn, rb=rb)
                # numMissingThreshold abort (RegressionFeatures.scala:
                # 99-110, parity with to_vw_lines): too-missing rows
                # yield NULL vectors, their entries dropped
                aborted = None
                if thr is not None:
                    ab = np.fromiter((len(m) > thr for m in missing),
                                     dtype=bool, count=n)
                    if ab.any():
                        aborted = ab
                        keep_e = ~ab[row_ids]
                        idx = idx[keep_e]
                        vals = vals[keep_e]
                        row_ids = row_ids[keep_e]
                # ONE stable sort over the whole batch replaces n
                # per-row argsorts
                k_rid, k_idx, k_val = _sort_last_wins(
                    row_ids, idx, vals, plan.num_bits)
                k_idx = k_idx.astype(np.int32, copy=False)
                k_val = k_val.astype(np.float64, copy=False)
                counts = np.bincount(k_rid, minlength=n)
                offsets = np.concatenate(
                    ([0], np.cumsum(counts))).astype(np.int32)
                if aborted is None:
                    off_arr = pa.array(offsets, pa.int32())
                else:
                    # a null offset marks the list element null: aborted
                    # rows carry no entries, so offsets[i] == offsets[i+1]
                    off_list = offsets.tolist()
                    off_arr = pa.array(
                        [None if i < n and aborted[i] else off_list[i]
                         for i in range(n + 1)], pa.int32())
                arrays = [rb.column(rb.schema.names.index(c)) for c in keep]
                arrays.append(pa.ListArray.from_arrays(
                    off_arr, pa.array(k_idx, pa.int32())))
                arrays.append(pa.ListArray.from_arrays(
                    off_arr, pa.array(k_val, pa.float64())))
                arrays.append(pa.array(missing, pa.list_(pa.string())))
                yield pa.RecordBatch.from_arrays(
                    arrays, keep + ["indices", "values", "missing_features"])

        return run, schema

    def _to_sparse_vectors_jvm(self, pre: DataFrame, keep: list,
                               seed: int) -> DataFrame:
        """Pure-Catalyst sparse-vector sink for all-scalar plans.

        Scalar Column-tier features have a *static* key space — the
        present key is the feature name and the missing key is
        ``name=UNK`` — so both murmur hashes are computed once on the
        driver (same ``string_hash_array`` kernel as the Arrow path,
        hashing parity by construction) and baked into the plan as
        int literals.  Per row each feature emits exactly one struct
        ``(i=hash, v=value, d=decl_idx)``: the present entry when the
        precomputed column is non-null non-NaN, else the UNK entry —
        pandas ``isna`` treats NaN as missing, so the JVM predicate
        must too.  ``array_sort`` by (i, d) + adjacent keep-last
        reproduces the Arrow path's stable-sort last-wins dedupe
        (LibSvmRowCreator.scala:21-48 SortedMap semantics), and
        ``numMissingThreshold`` aborts yield NULL vectors exactly like
        RegressionFeatures.scala:99-110.  No Python worker anywhere:
        feature evaluation stays in whole-stage codegen and the
        array assembly is JVM-side higher-order functions
        (gated in tests/test_jvm_sparse.py)."""
        plan = self.plan
        mask = int((1 << plan.num_bits) - 1)

        def hh(key: str) -> int:
            return int(string_hash_array([key], seed)[0]) & mask

        def ent(i_col, v_col, di: int, e: int):
            # e = emission order within the feature: binning functions
            # emit [bin_b, bin_b+1]; on an intra-feature hash collision
            # the flat tier's stable sort keeps the later emission, so
            # the comparator needs the tiebreak
            return F.struct(i_col.cast("int").alias("i"),
                            v_col.cast("double").alias("v"),
                            F.lit(di).alias("d"), F.lit(e).alias("e"))

        feat_arrays = []
        miss_flags = []
        for di, fp in enumerate(plan.features):
            if fp.kind == "column":
                x = F.col(_PREFIX + fp.name)
                present = x.isNotNull() & ~F.isnan(x)
                arr = (F.when(present,
                              F.array(ent(F.lit(hh(fp.name)), x, di, 0)))
                       .otherwise(F.array(ent(F.lit(hh(fp.name + "=UNK")),
                                              F.lit(1.0), di, 0))))
                feat_arrays.append(arr)
                miss_flags.append(F.when(~present, F.lit(fp.name)))
                continue
            # binning tier: enumerable key space (grid bins / knots),
            # hashes precomputed per bin on the driver
            desc = self._binning[fp.name]
            x = F.col(desc["src"]).cast("double")
            present = x.isNotNull() & ~F.isnan(x)
            unk_arr = F.array(ent(F.lit(hh(fp.name + "=UNK")),
                                  F.lit(1.0), di, 0))
            if desc["fn"] in ("sos2", "sos2u"):
                vmin, vmax = float(desc["vmin"]), float(desc["vmax"])
                delta = float(desc["delta"])
                # bins reach floor(K)+1 when vmax is off-grid (the
                # fraction entry lands one past the clamped bin)
                nb = int((vmax - vmin) / delta)
                harr = F.array(*[
                    F.lit(hh(f"{fp.name}={int(desc['vmin'] + b * desc['delta'])}"))
                    for b in range(nb + 2)])
                v = (F.least(F.greatest(x, F.lit(vmin)), F.lit(vmax))
                     - F.lit(vmin)) / F.lit(delta)
                b = v.cast("int")
                frac = v - b.cast("double")
                one_minus = F.lit(1.0) - frac
                # the flat kernel's single-entry gate: 1 - frac also
                # rounds to 1.0 for 0 < frac < 2^-53
                interp = (F.when(one_minus == 1.0,
                                 F.array(ent(F.get(harr, b),
                                             F.lit(1.0), di, 0)))
                          .otherwise(F.array(
                              ent(F.get(harr, b), one_minus, di, 0),
                              ent(F.get(harr, b + 1), frac, di, 1))))
                if desc["fn"] == "sos2u":
                    body = (F.when(x < F.lit(vmin),
                                   F.array(ent(
                                       F.lit(hh(fp.name + "=UNDERFLOW")),
                                       F.lit(1.0), di, 0)))
                            .otherwise(interp))
                else:
                    body = interp
            else:
                knots = desc["knots"]
                kh = [hh(f"{fp.name}={k}") for k in knots]
                harr = F.array(*[F.lit(h) for h in kh])
                karr = F.array(*[F.lit(float(k)) for k in knots])
                pos = F.array_position(karr, x)     # 1-based; 0 = no hit
                cnt = F.aggregate(                  # bisect_left(knots, x)
                    karr, F.lit(0),
                    lambda acc, k: acc + F.when(k < x, 1).otherwise(0))
                lo, hi = F.get(karr, cnt - 1), F.get(karr, cnt)
                span = hi - lo
                body = (F.when(x >= F.lit(float(knots[-1])),
                               F.array(ent(F.lit(kh[-1]), F.lit(1.0), di, 0)))
                        .when(x <= F.lit(float(knots[0])),
                              F.array(ent(F.lit(kh[0]), F.lit(1.0), di, 0)))
                        .when(pos > 0,
                              F.array(ent(F.get(harr, pos - 1),
                                          F.lit(1.0), di, 0)))
                        .otherwise(F.array(
                            ent(F.get(harr, cnt - 1), (hi - x) / span, di, 0),
                            ent(F.get(harr, cnt), (x - lo) / span, di, 1))))
            feat_arrays.append(F.when(present, body).otherwise(unk_arr))
            miss_flags.append(F.when(~present, F.lit(fp.name)))

        combined = feat_arrays[0] if len(feat_arrays) == 1 \
            else F.concat(*feat_arrays)
        out = pre.withColumn(
            "__sv_sorted",
            F.array_sort(
                combined,
                lambda a, b: F.when(a["i"] != b["i"], a["i"] - b["i"])
                .otherwise(F.when(a["d"] != b["d"], a["d"] - b["d"])
                           .otherwise(a["e"] - b["e"]))))
        arr = F.col("__sv_sorted")
        # adjacent keep-last: equal hashed indices sit next to each
        # other post-sort with the highest declaration index last
        deduped = F.filter(
            arr,
            lambda s, j: (j == F.size(arr) - 1)
            | (F.get(arr, j + 1)["i"] != s["i"]))
        missing = F.array_compact(F.array(*miss_flags))
        indices = F.transform(deduped, lambda s: s["i"].cast("int"))
        values = F.transform(deduped, lambda s: s["v"])
        thr = plan.num_missing_threshold
        if thr is not None:
            aborted = F.size(missing) > F.lit(thr)
            indices = F.when(~aborted, indices)
            values = F.when(~aborted, values)
        return out.select(
            *keep,
            indices.alias("indices"),
            values.alias("values"),
            missing.alias("missing_features"))

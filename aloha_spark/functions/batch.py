"""Flat whole-batch kernels for the single-call feature specs.

``ind(${x})``, ``bag(${text})``, ``nGrams(...)``, ``skipGrams(...)``,
``sos2(...)``, ``sos2U(...)`` and ``csos2(...)`` with literal arguments
(``plans/spec.py::match_single_call``) process a whole Arrow batch at
once — numpy for the arithmetic, Arrow C++ or one pass for the string
work — and never build a per-row dict.  Each returns
``(hashed_idx, values, row_ids, isna)`` arrays; every other spec runs
on the generic per-row tier (``plans/spec.py::compile_batch_fn``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _is_missing(v) -> bool:
    return v is None or (isinstance(v, float) and v != v)


# ---------------------------------------------------------------------------
# Flat tier: whole-batch text kernels for the hashed sparse-vector sink.
#
# The generic tier materializes one Python dict per row; at 10^6+ rows
# per task that is the hot path.  The flat tier never builds per-row
# dicts: it tokenizes each source column ONCE per Arrow batch (shared
# across every feature reading that column), pd.factorize()s the token
# stream, counts (row, token) pairs with one np.unique over packed int64
# codes, and murmur-hashes only the per-batch UNIQUE key table (vocab-
# sized, not entry-sized).  Output is (hashed_idx, values, row_ids)
# arrays ready for the sink's batch lexsort.  Semantics are identical to
# bag()/n_grams()/skip_grams() for the supported cases; unsupported
# arguments (maxElements, non-literal arguments) run on the generic
# tier.

class TokenCache:
    """Per-batch tokenization shared across features.

    key: (column, split, default) -> (tokens object-array, row_ids,
    isna bool-array).  ``default`` is the spec-level ${var:-default}
    string substituted for NULL input (None = no default: NULL rows
    yield no tokens and are reported missing).

    When constructed with the Arrow RecordBatch (``rb``), whitespace
    tokenization + token factorization run entirely in Arrow C++
    (``ascii_split_whitespace`` + ``dictionary_encode``): only the
    vocab-sized dictionary ever becomes Python strings.  Rows whose
    semantics Arrow can't reproduce (non-ASCII content — the dict
    tier's regex splits unicode whitespace — or all-whitespace
    strings) are spliced in via the per-row tokenizer."""

    def __init__(self, pdf: pd.DataFrame, rb=None):
        self.pdf = pdf
        self.rb = rb
        self._cache: dict = {}

    def get(self, col: str, split: str, default):
        key = (col, split, default)
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        from .textfeatures import _tokenize
        vals = self.pdf[col].tolist()
        n = len(vals)
        isna = np.zeros(n, dtype=bool)
        lens = np.zeros(n, dtype=np.int64)
        flat: list = []
        extend = flat.extend
        ws = split == r"\s+"   # inline _tokenize's default fast path
        for i, v in enumerate(vals):
            if v is None or (isinstance(v, float) and v != v):
                if default is None:
                    isna[i] = True
                    continue
                v = default
            if ws and v and v.isascii() and not v[0].isspace():
                toks = v.split()
            else:
                toks = _tokenize(v, split)
            lens[i] = len(toks)
            extend(toks)
        tokens = np.array(flat, dtype=object)
        row_ids = np.repeat(np.arange(n, dtype=np.int64), lens)
        out = (tokens, row_ids, isna)
        self._cache[key] = out
        return out

    def get_codes(self, col: str, split: str, default):
        """(codes, uniques, row_ids, isna): factorized token stream.
        Arrow-native when possible; else python tokenize + factorize."""
        key = ("codes", col, split, default)
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        out = None
        if self.rb is not None and split == r"\s+" \
                and col in self.rb.schema.names:
            try:
                out = self._arrow_codes(col, default)
            except Exception:
                out = None      # any arrow-side surprise -> python path
        if out is None:
            tokens, row_ids, isna = self.get(col, split, default)
            codes, uniques = factorize_strings(tokens)
            out = (codes.astype(np.int64, copy=False), uniques,
                   row_ids, isna)
        self._cache[key] = out
        return out

    def _arrow_codes(self, col: str, default):
        import pyarrow as pa
        import pyarrow.compute as pc
        from .textfeatures import _tokenize

        arr = self.rb.column(self.rb.schema.names.index(col))
        if not (pa.types.is_string(arr.type)
                or pa.types.is_large_string(arr.type)):
            return None
        n = len(arr)
        null_mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
        isna = np.zeros(n, dtype=bool)
        if default is None:
            isna = null_mask.copy()
            excluded = null_mask
            arr = pc.fill_null(arr, "")
        else:
            excluded = np.zeros(n, dtype=bool)
            arr = pc.fill_null(arr, default)
        # rows the C++ splitter can't reproduce: non-ASCII (the dict
        # tier's regex treats unicode whitespace as a separator), and
        # ASCII FS/GS/RS/US (\x1c-\x1f) — Python's \s matches them but
        # ascii_split_whitespace only splits on [ \t\n\v\f\r]
        non_ascii = pc.not_equal(
            pc.utf8_length(arr), pc.binary_length(arr)) \
            .to_numpy(zero_copy_only=False)
        ctrl_ws = pc.match_substring_regex(arr, "[\\x1c-\\x1f]") \
            .to_numpy(zero_copy_only=False)
        fallback = (non_ascii | ctrl_ws) & ~excluded
        # Java split semantics: strip trailing separators...
        rt = pc.ascii_rtrim_whitespace(arr)
        # ...which turns all-whitespace (non-empty) strings into zero
        # tokens, while the truly-empty string keeps its single ""
        allws = pc.equal(rt, "").to_numpy(zero_copy_only=False) \
            & pc.not_equal(arr, "").to_numpy(zero_copy_only=False)
        toks = pc.ascii_split_whitespace(rt)
        lengths = pc.list_value_length(toks) \
            .to_numpy(zero_copy_only=False).astype(np.int64)
        enc = pc.dictionary_encode(pc.list_flatten(toks))
        if isinstance(enc, pa.ChunkedArray):
            enc = enc.combine_chunks()
        codes = enc.indices.to_numpy(zero_copy_only=False) \
            .astype(np.int64, copy=False)
        uniques = np.array(enc.dictionary.to_pylist(), dtype=object)
        drop = allws | fallback | excluded
        if drop.any():
            entry_drop = np.repeat(drop, lengths)
            codes = codes[~entry_drop]
            lengths = np.where(drop, 0, lengths)
        row_ids = np.repeat(np.arange(n, dtype=np.int64), lengths)
        if fallback.any():
            # splice per-row-tokenized entries back in row-major order
            lut = {u: i for i, u in enumerate(uniques.tolist())}
            vals = self.pdf[col]
            fb_rows = np.nonzero(fallback)[0]
            pos = np.searchsorted(row_ids, fb_rows)
            c_parts, r_parts = [], []
            prev = 0
            for i, p in zip(fb_rows.tolist(), pos.tolist()):
                v = vals.iat[i]
                if v is None or (isinstance(v, float) and v != v):
                    v = default
                ci = [lut.setdefault(t, len(lut))
                      for t in _tokenize(v, r"\s+")]
                c_parts.append(codes[prev:p])
                r_parts.append(row_ids[prev:p])
                c_parts.append(np.asarray(ci, dtype=np.int64))
                r_parts.append(np.full(len(ci), i, dtype=np.int64))
                prev = p
            c_parts.append(codes[prev:])
            r_parts.append(row_ids[prev:])
            codes = np.concatenate(c_parts)
            row_ids = np.concatenate(r_parts)
            if len(lut) > len(uniques):
                uniques = np.array(list(lut), dtype=object)
        return codes, uniques, row_ids, isna


def factorize_strings(arr):
    """NUL-safe string factorization.

    ``pd.factorize`` routes object-dtype strings through a C-string
    hash table that treats an embedded ``\\x00`` as a terminator, so
    ``'a'`` and ``'a\\x00'`` (and ``''`` vs ``'\\x00'``) collapse to one
    code — silently merging distinct tokens.  Detect NUL bytes with a
    vectorized scan (cheap; works on mixed content via the .str
    accessor's NaN for non-strings) and fall back to comparison-based
    ``np.unique`` — slower but NUL-correct — only when present.
    Callers must not rely on unique ORDER (np.unique sorts; factorize
    is first-occurrence)."""
    if len(arr):
        try:
            # one C-level concatenation + substring scan: ~40x cheaper
            # than a per-element pandas .str.contains map on the token
            # stream (the hot call — all-str by construction)
            has_nul = "\x00" in "\x01".join(arr)
        except TypeError:
            # mixed/numeric content: join refuses non-strings; scan
            # only the string elements (NUL collapse needs a str)
            has_nul = any(isinstance(v, str) and "\x00" in v for v in arr)
        if has_nul:
            vals = np.asarray(arr, dtype=object)
            miss = np.fromiter(
                (v is None or (isinstance(v, float) and v != v)
                 for v in vals), dtype=bool, count=len(vals))
            codes = np.full(len(vals), -1, dtype=np.int64)
            if (~miss).any():
                uniq, inv = np.unique(vals[~miss], return_inverse=True)
                codes[~miss] = inv
            else:
                uniq = np.empty(0, dtype=object)
            return codes, uniq
    return pd.factorize(arr)


def _count_packed(codes: np.ndarray, row_ids: np.ndarray, n_codes: int):
    """Count (row, code) pairs over packed int64 keys.  Returns
    (rows, codes, counts) ordered by FIRST OCCURRENCE in the row-major
    entry stream — i.e. per row, insertion order.  The hashed sinks
    re-sort anyway, but the VW line sink needs within-row insertion
    order to byte-match the generic tier (Counter order).

    ``pd.factorize`` (khash) replaces the earlier sort-based
    ``np.unique(return_index)``: O(E) instead of O(E log E) over the
    entry stream, its uniques already COME in first-occurrence order
    (no argsort-by-first-index pass), and the hash probe touches far
    less memory bandwidth than a 2M-entry argsort — the per-batch
    numbers behind the swap are in BENCH/BASELINE.md."""
    packed = row_ids * np.int64(n_codes) + codes
    pcodes, uniq = pd.factorize(packed)
    counts = np.bincount(pcodes, minlength=len(uniq))
    return uniq // n_codes, uniq % n_codes, counts.astype(np.float64)


def _hash_key_table(uniques, fmt, hash_fn) -> np.ndarray:
    """Hash the (small) unique-key table once; entries gather from it."""
    table = [fmt(u) for u in uniques]
    return hash_fn(table)


def bag_flat(cache: TokenCache, col: str, name: str, hash_fn,
             prefix: str = "=", suffix: str = "", split: str = r"\s+",
             default=None):
    codes, uniques, row_ids, isna = cache.get_codes(col, split, default)
    if len(codes) == 0:
        return (np.empty(0, np.int32), np.empty(0, np.float64),
                np.empty(0, np.int64), isna)
    rows, out_codes, counts = _count_packed(codes, row_ids, len(uniques))
    table = _hash_key_table(
        uniques, lambda t: f"{name}{prefix}{t}{suffix}", hash_fn)
    return table[out_codes], counts, rows, isna


def _pair_entries(codes: np.ndarray, row_ids: np.ndarray, dist: int):
    """(anchor, anchor+dist) same-row code pairs + anchor positions."""
    if len(codes) <= dist:
        e = np.empty(0, np.int64)
        return e, e, e, e
    same = row_ids[dist:] == row_ids[:-dist]
    pos = np.nonzero(same)[0]
    return codes[:-dist][same], codes[dist:][same], row_ids[:-dist][same], pos


def pairgrams_flat(cache: TokenCache, col: str, name: str, hash_fn,
                   distances: tuple, sep: str = "_", prefix: str = "=",
                   suffix: str = "", split: str = r"\s+", default=None):
    """Shared kernel for nGrams(s,2) (distances=(1,)) and
    skipGrams(s,2,k) (distances=(1..k+1)): counts of token pairs at the
    given in-row offsets, key = prefix + t1 + sep + t2 + suffix."""
    codes, uniques, row_ids, isna = cache.get_codes(col, split, default)
    if len(codes) == 0:
        return (np.empty(0, np.int32), np.empty(0, np.float64),
                np.empty(0, np.int64), isna)
    U = np.int64(len(uniques))
    c1s, c2s, rs, ps, ds = [], [], [], [], []
    for rank, d in enumerate(distances):
        a, b, r, p = _pair_entries(codes, row_ids, d)
        c1s.append(a)
        c2s.append(b)
        rs.append(r)
        ps.append(p)
        ds.append(np.full(len(a), rank, dtype=np.int64))
    c1 = np.concatenate(c1s)
    c2 = np.concatenate(c2s)
    rows_in = np.concatenate(rs)
    if len(c1) == 0:
        return (np.empty(0, np.int32), np.empty(0, np.float64),
                np.empty(0, np.int64), isna)
    if len(distances) > 1:
        # the generic tier (Counter over anchor-major iteration) emits each
        # anchor's pairs before moving on; the per-distance concatenation
        # above is distance-major, so re-order the entry stream to
        # (anchor position, distance) to keep flat==dict byte parity in
        # the first-occurrence order _count_packed preserves
        order = np.lexsort((np.concatenate(ds), np.concatenate(ps)))
        c1, c2, rows_in = c1[order], c2[order], rows_in[order]
    pair_code = c1 * U + c2
    pcodes, puniq = pd.factorize(pair_code)
    # distinct token pairs can RENDER to the same gram string when a
    # token contains the separator (e.g. "a_b"+"c" and "a"+"b_c" both
    # print "a_b_c"); the generic tier merges their counts, so re-factorize
    # on the rendered strings before counting
    strings = np.array(
        [f"{name}{prefix}{uniques[p // U]}{sep}{uniques[p % U]}{suffix}"
         for p in puniq], dtype=object)
    scodes_u, suniq = factorize_strings(strings)
    rows, out_s, counts = _count_packed(
        scodes_u[pcodes], rows_in, len(suniq))
    table = hash_fn(list(suniq))
    return table[out_s], counts, rows, isna


def gramgrams_flat(cache: TokenCache, col: str, name: str, hash_fn,
                   n: int, k: int, sep: str = "_", prefix: str = "=",
                   suffix: str = "", split: str = r"\s+", default=None):
    """General flat kernel for nGrams(s, n) / skipGrams(s, n, k) with any
    n >= 1: one entry per (anchor, offset-combination), matching the dict
    tier's ``combinations(window, n-1)`` enumeration.  The entry stream
    is ordered (anchor position, combination rank) so the VW line sink
    keeps flat==dict byte parity; unique code tuples are rendered and
    hashed once, entries gather from the table."""
    from itertools import combinations

    codes, uniques, row_ids, isna = cache.get_codes(col, split, default)
    empty = (np.empty(0, np.int32), np.empty(0, np.float64),
             np.empty(0, np.int64), isna)
    if len(codes) == 0:
        return empty
    combos = list(combinations(range(1, n + k), n - 1))
    mats, rs, ps, cr = [], [], [], []
    for rank, offs in enumerate(combos):
        dmax = offs[-1] if offs else 0
        if len(codes) <= dmax:
            continue
        if dmax:
            # row_ids is non-decreasing: the anchor and its furthest
            # offset sharing a row implies every middle offset does too
            same = row_ids[dmax:] == row_ids[:-dmax]
            pos = np.nonzero(same)[0]
        else:
            pos = np.arange(len(codes), dtype=np.int64)
        if len(pos) == 0:
            continue
        mats.append(np.stack(
            [codes[pos]] + [codes[pos + d] for d in offs], axis=1))
        rs.append(row_ids[pos])
        ps.append(pos)
        cr.append(np.full(len(pos), rank, dtype=np.int64))
    if not mats:
        return empty
    mat = np.concatenate(mats, axis=0)
    rows_in = np.concatenate(rs)
    if len(combos) > 1:
        order = np.lexsort((np.concatenate(cr), np.concatenate(ps)))
        mat, rows_in = mat[order], rows_in[order]
    uniq_rows, inv = np.unique(mat, axis=0, return_inverse=True)
    # distinct tuples can render to the same gram string when a token
    # contains the separator; factorize_strings on the rendered keys
    # merges them like the generic tier does
    strings = np.array(
        [f"{name}{prefix}{sep.join(uniques[c] for c in row)}{suffix}"
         for row in uniq_rows], dtype=object)
    scodes_u, suniq = factorize_strings(strings)
    rows, out_s, counts = _count_packed(scodes_u[inv], rows_in, len(suniq))
    table = hash_fn(list(suniq))
    return table[out_s], counts, rows, isna


def _ind_value_str(v) -> str:
    """Scala toString parity rendering — ONE implementation
    (scalars._render); a second copy here had already started to drift
    risk between the scalar and flat tiers."""
    from .scalars import _render
    return _render(v)


def ind_flat(cache: TokenCache, col: str, name: str, hash_fn):
    """Indicator over the whole batch: factorize raw values, hash only
    the unique '=value' keys, gather.

    Array-typed columns (unhashable lists/ndarrays — pd.factorize raises
    TypeError on them) take the per-element expansion path instead of
    crashing the job: one indicator per element, None elements dropped,
    duplicate elements collapse to one entry (generic-tier set semantics)."""
    s = cache.pdf[col]
    listy = False
    try:
        codes, uniques = factorize_strings(s)
        # sequence detection on the vocab-sized uniques, not an O(n)
        # isinstance scan of the column: unhashable sequences (list,
        # ndarray, set) already raised TypeError out of factorize, and
        # hashable ones (tuples) surface in the unique table
        listy = any(isinstance(u, (list, tuple, set, frozenset, np.ndarray))
                    for u in uniques.tolist()) if len(uniques) else False
    except TypeError:
        listy = True
    if listy:
        vals_list = s.tolist()
        n = len(vals_list)
        isna = np.zeros(n, dtype=bool)
        keys: list = []
        rids: list = []
        for i, v in enumerate(vals_list):
            if _is_missing(v):
                isna[i] = True
                continue
            if isinstance(v, (list, tuple, set, frozenset, np.ndarray)):
                elems = [e for e in v if not _is_missing(e)]
                if isinstance(v, (set, frozenset)):
                    elems.sort(key=_ind_value_str)
                seen = set()
                for e in elems:
                    k = f"{name}={_ind_value_str(e)}"
                    if k not in seen:
                        seen.add(k)
                        keys.append(k)
                        rids.append(i)
            else:
                keys.append(f"{name}={_ind_value_str(v)}")
                rids.append(i)
        idx = hash_fn(keys) if keys else np.empty(0, np.int32)
        return (idx, np.ones(len(rids), dtype=np.float64),
                np.asarray(rids, dtype=np.int64), isna)
    isna = codes == -1
    if len(uniques):
        table = hash_fn([f"{name}={_ind_value_str(u)}" for u in uniques])
    else:
        table = np.empty(0, np.int32)
    sel = ~isna
    rids = np.nonzero(sel)[0].astype(np.int64)
    idx = table[codes[sel]] if len(uniques) else np.empty(0, table.dtype)
    vals = np.ones(len(rids), dtype=np.float64)
    return idx, vals, rids, isna


def csos2_flat(cache: TokenCache, col: str, name: str, hash_fn,
               knots: tuple):
    """Custom-knot SOS2 over the whole batch (CustomSos2.scala:36-55
    semantics, identical arithmetic to scalars.csos2): clamp to
    [knots[0], knots[-1]], exact knot -> weight 1, otherwise interpolate
    between the two neighbors with (hi-v)/span and (v-lo)/span.  Key
    table = the knot-name set hashed once per batch; at most two
    entries per row, lo before hi (dict insertion order)."""
    v = pd.to_numeric(cache.pdf[col], errors="coerce") \
        .to_numpy(dtype=np.float64)
    n = len(v)
    isnan = np.isnan(v)
    k = np.asarray(knots, dtype=np.float64)
    table = hash_fn([f"{name}={kk}" for kk in knots])
    vc = np.clip(np.where(isnan, k[0], v), k[0], k[-1])
    # right-neighbor index: k[i-1] < vc <= k[i]; vc == k[j] -> i = j
    i = np.searchsorted(k, vc, side="left")
    exact = k[np.minimum(i, len(k) - 1)] == vc
    single = exact & ~isnan
    interp = ~exact & ~isnan
    rows_s = np.nonzero(single)[0]
    idx_s = table[i[single]]
    rows_i = np.nonzero(interp)[0]
    lo = i[interp] - 1
    hi = i[interp]
    span = k[hi] - k[lo]
    w_lo = (k[hi] - vc[interp]) / span
    w_hi = (vc[interp] - k[lo]) / span
    idx = np.concatenate([idx_s, table[lo], table[hi]])
    vals = np.concatenate([np.ones(len(rows_s)), w_lo, w_hi])
    rids = np.concatenate([rows_s, rows_i, rows_i]).astype(np.int64)
    return idx, vals, rids, isnan


def sos2_flat(cache: TokenCache, col: str, name: str, hash_fn,
              vmin: float, vmax: float, delta: float,
              underflow=None, unknown_key=None):
    """SOS2 binning over the whole batch: at most 2 entries per row, key
    table = the (tiny, precomputable) bin-name set hashed once per batch.
    Missing/NaN rows are reported via isna (the caller adds the UNK
    entry + missing mark), matching the generic tier exactly."""
    v = pd.to_numeric(cache.pdf[col], errors="coerce") \
        .to_numpy(dtype=np.float64)
    n = len(v)
    isnan = np.isnan(v)
    under = (v < vmin) if underflow is not None else np.zeros(n, bool)
    grid = np.clip(np.where(isnan, vmin, v), vmin, vmax)
    x = (grid - vmin) / delta
    b = x.astype(np.int64)
    frac = x - b
    n_bins = int((vmax - vmin) / delta) + 2
    bin_names = [f"{name}={int(vmin + i * delta)}" for i in range(n_bins)]
    bin_table = hash_fn(bin_names)
    extra = hash_fn([f"{name}={underflow}"])[0] if underflow is not None \
        else None

    # single-entry gate must be the generic tier's: one_minus == 1.0, NOT
    # frac == 0.0 — for 0 < frac < ~2^-53, 1-frac rounds to exactly 1.0
    # and the generic tier (scalars._sos2_pairs) emits ONE entry, while a
    # frac-based gate would emit a spurious denormal hi entry
    one_minus = 1.0 - frac
    normal = ~isnan & ~under
    # lo entry for every normal row
    rows_lo = np.nonzero(normal)[0]
    idx_lo = bin_table[b[normal]]
    vals_lo = one_minus[normal]
    # hi entry when interpolating
    hi_m = normal & (one_minus != 1.0)
    rows_hi = np.nonzero(hi_m)[0]
    idx_hi = bin_table[b[hi_m] + 1]
    vals_hi = frac[hi_m]
    chunks_idx = [idx_lo, idx_hi]
    chunks_val = [vals_lo, vals_hi]
    chunks_rid = [rows_lo, rows_hi]
    if underflow is not None and under.any():
        ur = np.nonzero(under & ~isnan)[0]
        chunks_idx.append(np.full(len(ur), extra, dtype=bin_table.dtype))
        chunks_val.append(np.ones(len(ur)))
        chunks_rid.append(ur)
    idx = np.concatenate(chunks_idx)
    vals = np.concatenate(chunks_val).astype(np.float64)
    rids = np.concatenate(chunks_rid).astype(np.int64)
    # NaN rows: the generic tier yields the explicit unknown bag for sos2U
    # and None (-> caller UNK) for sos2 — both hash to name + '=UNK',
    # and both mark the feature missing; report via isna either way
    return idx, vals, rids, isnan

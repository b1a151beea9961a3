"""Independent recomputations of what the engine must output.

Nothing here imports ``aloha_spark``: the feature semantics, the hash and
the point-in-time joins are written out again from their definitions
(scalar MurmurHash3 ``stringHash``, ``pd.merge_asof`` backward, pandas
shift / ffill / diff / gap-cumsum), so a fault in the engine cannot hide
in the check.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
import pandas as pd

STRING_SEED = 0xF7CA7FD2
GAP_SECONDS = 1800.0
NUM_BITS = 18
FUTURE_SCORE = -1e9
STATE = 8          # declaration index of the as-of state feature

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_last(h: int, k: int) -> int:
    k = (k * 0xCC9E2D51) & _M32
    k = _rotl(k, 15)
    k = (k * 0x1B873593) & _M32
    return h ^ k


def string_hash(s: str, seed: int = STRING_SEED) -> int:
    """Scala ``MurmurHash3.stringHash``: 32-bit MurmurHash3 over UTF-16
    code units taken two at a time, a trailing odd unit through mixLast,
    the length in code units xor-ed in before the final avalanche."""
    units = [int.from_bytes(s.encode("utf-16-be")[i:i + 2], "big")
             for i in range(0, len(s.encode("utf-16-be")), 2)]
    h = seed & _M32
    i = 0
    while i + 1 < len(units):
        h = _mix_last(h, ((units[i] << 16) + units[i + 1]) & _M32)
        h = (_rotl(h, 13) * 5 + 0xE6546B64) & _M32
        i += 2
    if i < len(units):
        h = _mix_last(h, units[i])
    h ^= len(units)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


#: reference pins for ``stringHash`` (whitespace tokens of three
#: sentences), the same values the engine's own kernel tests pin
GOLDEN_HASHES = {
    "the brown fox jumped over the red fence":
        [126075915, 515500153, -396237494, -797340276, -243956657,
         126075915, 992691106, 393316680],
    "Insurgents killed in ongoing fighting":
        [20532734, 1484921003, -709633187, -49958258, -1420263381],
    "5 of us walked the 8 street with 8 dwarfs":
        [2100358791, -1698111023, 301784327, 1640444393, 126075915,
         2046920067, -567488318, -63834616, 2046920067, 1373084603],
}


# -- turn-side windows and the as-of join --------------------------------

def _epoch_s(ts: pd.Series) -> pd.Series:
    return (ts - pd.Timestamp(0)).dt.total_seconds()


def point_in_time(turns: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
    """Per turn: prev_text, last_tool, dt_prev_sec, session_id and the
    latest state_score at or before the turn's ts (NaN if none).
    ``turns`` must hold whole conversations."""
    t = turns.sort_values(["conv_id", "turn_idx"], kind="mergesort") \
        .reset_index(drop=True)
    g = t.groupby("conv_id", sort=False)
    t["prev_text"] = g["text"].shift(1)
    t["last_tool"] = g["tool"].ffill()
    secs = _epoch_s(t["ts"])
    t["dt_prev_sec"] = secs - secs.groupby(t["conv_id"]).shift(1)
    t["session_id"] = (t["dt_prev_sec"] > GAP_SECONDS).astype(int) \
        .groupby(t["conv_id"]).cumsum()
    # state rows that share (conv_id, ts) tie for the as-of match: any
    # of their scores is a correct answer, so carry them all
    s = state.groupby(["conv_id", "ts"], as_index=False)["state_score"] \
        .agg(tuple).rename(columns={"state_score": "state_alts"}) \
        .sort_values("ts")
    j = pd.merge_asof(t.sort_values("ts"), s, on="ts", by="conv_id",
                      direction="backward", allow_exact_matches=True)
    return j.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


# -- the flagship feature spec, entry by entry ---------------------------

def _tokens(s: str) -> list:
    return s.split(" ") if s else [""]


def _pairs(toks: list, skip: int) -> Counter:
    """Ordered token pairs at most ``skip`` tokens apart (``nGrams(s, 2)``
    is ``skip`` 0, ``skipGrams(s, 2, 1)`` is ``skip`` 1)."""
    out: Counter = Counter()
    for i in range(len(toks)):
        for j in range(i + 1, min(len(toks), i + 2 + skip)):
            out[toks[i] + "_" + toks[j]] += 1
    return out


def _isnull(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _sos2u(v, lo: int, hi: int, step: int) -> list:
    if _isnull(v):
        return [("UNK", 1.0)]
    if v < lo:
        return [("UNDERFLOW", 1.0)]
    x = (min(max(v, lo), hi) - lo) / step
    b = int(x)
    frac = x - b
    if 1 - frac == 1:
        return [(str(lo + b * step), 1.0)]
    return [(str(lo + b * step), 1 - frac), (str(lo + (b + 1) * step), frac)]


def flagship_entries(row) -> list:
    """``(feature_index, key, value)`` for one point-in-time row under
    the flagship spec (role, tool, bow, bi, sk, prev_bow, dt, dt_bin,
    state), in declaration order."""
    out = []

    def ind(fi, name, v):
        out.append((fi, f"{name}={'UNK' if _isnull(v) else v}", 1.0))

    def bag(fi, name, counter):
        out.extend((fi, f"{name}={k}", float(c)) for k, c in counter.items())

    ind(0, "role", row.role)
    ind(1, "tool", row.last_tool)
    text = row.text
    if _isnull(text):
        for fi, name in ((2, "bow"), (3, "bi"), (4, "sk")):
            out.append((fi, f"{name}=UNK", 1.0))
    else:
        toks = _tokens(text)
        bag(2, "bow", Counter(toks))
        bag(3, "bi", _pairs(toks, 0))
        bag(4, "sk", _pairs(toks, 1))
    prev = "" if _isnull(row.prev_text) else row.prev_text
    bag(5, "prev_bow", Counter(_tokens(prev)))
    dt = row.dt_prev_sec
    out.append((6, "dt", min(max(0.0 if _isnull(dt) else dt, 0.0), 86400.0)))
    out.extend((7, f"dt_bin={k}", w) for k, w in _sos2u(dt, 0, 7200, 600))
    alts = row.state_alts
    out.append((8, "state", 0.0 if not isinstance(alts, tuple) else alts[0]))
    return out


def _state_alts(row) -> set:
    alts = row.state_alts
    return {0.0} if not isinstance(alts, tuple) else set(alts)


class _HashMemo(dict):
    def __missing__(self, key):
        v = self[key] = string_hash(key) & ((1 << NUM_BITS) - 1)
        return v


_HASH = _HashMemo()


def expected_sparse(row) -> dict:
    """index -> set of acceptable values.  Entries that hash to one index
    resolve last-wins in declaration order; two entries of the SAME
    feature colliding may resolve either way."""
    best: dict = {}
    for fi, key, val in flagship_entries(row):
        i = _HASH[key]
        cur = best.get(i)
        vals = _state_alts(row) if fi == STATE else {val}
        if cur is None or fi > cur[0]:
            best[i] = (fi, vals)
        elif fi == cur[0]:
            cur[1].update(vals)
    return {i: vals for i, (_, vals) in best.items()}


def expected_vw(row) -> dict:
    """VW body as key -> value: near-zero values dropped.  The state
    entry is left out; ``check_vw`` matches it against every tied
    candidate."""
    return {k: v for fi, k, v in flagship_entries(row)
            if fi != STATE and abs(v) >= 5e-7}


def parse_vw(line: str) -> dict:
    if line is None or not line.startswith("|"):
        raise ValueError(f"not an unlabeled VW line: {line!r}")
    out = {}
    for tok in line[1:].split():
        k, _, v = tok.partition(":")
        out[k] = float(v) if v else 1.0
    return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def check_sparse(pit: pd.DataFrame, got: pd.DataFrame) -> list:
    """Compare engine sparse vectors (conv_id, turn_idx, indices, values)
    against the recompute; returns a list of problems (empty = pass)."""
    probs = []
    g = got.set_index(["conv_id", "turn_idx"])
    if not g.index.is_unique:
        probs.append("duplicate (conv_id, turn_idx) rows in output")
        g = g[~g.index.duplicated()]
    for row in pit.itertuples(index=False):
        key = (row.conv_id, row.turn_idx)
        if key not in g.index:
            probs.append(f"{key}: missing from output")
            continue
        r = g.loc[key]
        exp = expected_sparse(row)
        idx = [int(i) for i in r["indices"]]
        if idx != sorted(exp):
            probs.append(f"{key}: indices differ")
            continue
        for i, v in zip(idx, r["values"]):
            if not any(_close(v, e) for e in exp[i]):
                probs.append(f"{key}: index {i} value {v} not in "
                             f"{sorted(exp[i])}")
                break
    return probs


def check_vw(pit: pd.DataFrame, got: pd.DataFrame) -> list:
    """Compare engine VW lines (conv_id, turn_idx, ts, vw_line) against
    the recompute, token by token (order inside a line is free)."""
    probs = []
    g = got.set_index(["conv_id", "turn_idx"])
    if not g.index.is_unique:
        probs.append("duplicate (conv_id, turn_idx) rows in output")
        g = g[~g.index.duplicated()]
    for row in pit.itertuples(index=False):
        key = (row.conv_id, row.turn_idx)
        if key not in g.index:
            probs.append(f"{key}: missing from output")
            continue
        try:
            got_kv = parse_vw(g.loc[key, "vw_line"])
        except ValueError as e:
            probs.append(f"{key}: {e}")
            continue
        st = got_kv.pop("state", 0.0)
        if not any(_close(st, a) for a in _state_alts(row)):
            probs.append(f"{key}: state {st} not in {sorted(_state_alts(row))}")
        exp = expected_vw(row)
        if set(got_kv) != set(exp):
            probs.append(f"{key}: keys differ: {sorted(set(got_kv) ^ set(exp))[:4]}")
        elif not all(_close(got_kv[k], v) for k, v in exp.items()):
            probs.append(f"{key}: values differ")
    return probs


# -- streaming tail ------------------------------------------------------

def expected_stream(turns: pd.DataFrame) -> pd.DataFrame:
    """Every row's dt_prev_sec / last_tool / session_id in event-time
    order per conversation, and ts rendered as the sink writes it."""
    t = turns.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort") \
        .reset_index(drop=True)
    secs = _epoch_s(t["ts"])
    t["dt_prev_sec"] = secs - secs.groupby(t["conv_id"]).shift(1)
    t["last_tool"] = t.groupby("conv_id", sort=False)["tool"].ffill()
    t["session_id"] = (t["dt_prev_sec"] > GAP_SECONDS).astype(int) \
        .groupby(t["conv_id"]).cumsum()
    frac = t["ts"].dt.strftime(".%f").str.rstrip("0").str.rstrip(".")
    t["ts"] = t["ts"].dt.strftime("%Y-%m-%d %H:%M:%S") + frac
    return t


def check_stream(turns: pd.DataFrame, got: pd.DataFrame) -> list:
    exp = expected_stream(turns).set_index(["conv_id", "turn_idx"])
    g = got.set_index(["conv_id", "turn_idx"])
    probs = []
    if len(g) != len(exp):
        probs.append(f"{len(g)} output rows for {len(exp)} input rows")
    if not g.index.is_unique:
        return probs + ["duplicate (conv_id, turn_idx) rows in output"]
    g = g.reindex(exp.index)
    for c in ("role", "text", "tool", "ts", "last_tool"):
        bad = ~((g[c] == exp[c]) | (g[c].isna() & exp[c].isna()))
        if bad.any():
            probs.append(f"{c}: {int(bad.sum())} rows differ")
    a, b = g["dt_prev_sec"].to_numpy(float), exp["dt_prev_sec"].to_numpy(float)
    bad = ~(np.isclose(a, b, rtol=0, atol=1e-6) | (np.isnan(a) & np.isnan(b)))
    if bad.any():
        probs.append(f"dt_prev_sec: {int(bad.sum())} rows differ")
    bad = g["session_id"].to_numpy(float) != exp["session_id"].to_numpy(float)
    if bad.any():
        probs.append(f"session_id: {int(bad.sum())} rows differ")
    return probs


# -- curation: properties every curated output must have ----------------

#: an e-mail address, and an international phone number (``+`` then at
#: least eight digits, separators allowed between them)
EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*"
                   r"\.[A-Za-z]{2,}")
PHONE = re.compile(r"\+\d(?:[\s().-]*\d){7,}")
SPLITS = {"train", "val", "test"}


def _grams(text, n: int) -> set:
    toks = text.split() if isinstance(text, str) else []
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def contam_frac(text, bench_grams: set, n: int) -> float:
    """Share of a document's distinct word ``n``-grams found in the
    benchmark (0 for a document with none)."""
    g = _grams(text, n)
    return len(g & bench_grams) / len(g) if g else 0.0


def check_curate(docs: pd.DataFrame, bench: pd.DataFrame, got: pd.DataFrame,
                 n: int = 8, threshold: float = 0.5) -> list:
    """Properties of a curated output (doc_id, text, split, ...) given
    the input documents (doc_id, lang) and the benchmark (text): no
    e-mail or phone survives, no two outputs share a text, none reaches
    the ``n``-gram contamination threshold, every output is an English
    input document, every split is a known one."""
    probs = []
    if got.empty:
        return ["no output documents"]
    texts = got["text"].fillna("")
    for name, pat in (("e-mail", EMAIL), ("phone", PHONE)):
        hit = texts.map(lambda t: bool(pat.search(t)))
        if hit.any():
            probs.append(f"{int(hit.sum())} outputs carry an {name}")
    if texts.duplicated().any():
        probs.append(f"{int(texts.duplicated().sum())} outputs repeat "
                     "another output's text")
    bg = set().union(*[_grams(t, n) for t in bench["text"]]) \
        if len(bench) else set()
    contam = texts.map(lambda t: contam_frac(t, bg, n) >= threshold)
    if contam.any():
        probs.append(f"{int(contam.sum())} outputs reach the {n}-gram "
                     f"contamination threshold {threshold}")
    if got["doc_id"].duplicated().any():
        probs.append("duplicate doc_id rows in output")
    lang = got["doc_id"].map(docs.set_index("doc_id")["lang"])
    if lang.isna().any():
        probs.append(f"{int(lang.isna().sum())} outputs are not input documents")
    if (lang.dropna() != "en").any():
        probs.append(f"{int((lang.dropna() != 'en').sum())} outputs not English")
    if not set(got["split"]) <= SPLITS:
        probs.append(f"unknown splits {sorted(set(got['split']) - SPLITS)}")
    return probs


# -- corruption: every check must reject a deliberately broken output ----

def _first(expected: pd.DataFrame, got: pd.DataFrame):
    """Index in ``got`` of the row the first expected row describes."""
    e = expected.iloc[0]
    return got.index[(got["conv_id"] == e["conv_id"])
                     & (got["turn_idx"] == e["turn_idx"])][0]


def leak_sparse(expected: pd.DataFrame, got: pd.DataFrame) -> pd.DataFrame:
    """One turn carries the future state sentinel at the state index."""
    bad = got.copy()
    i = _HASH["state"]
    row = _first(expected, bad)
    idx = list(bad.at[row, "indices"])
    vals = list(bad.at[row, "values"])
    vals[idx.index(i)] = FUTURE_SCORE
    bad.at[row, "values"] = vals
    return bad


def leak_vw(expected: pd.DataFrame, got: pd.DataFrame) -> pd.DataFrame:
    bad = got.copy()
    row = _first(expected, bad)
    toks = [t for t in bad.at[row, "vw_line"].split(" ")
            if not t.startswith("state")]
    bad.at[row, "vw_line"] = " ".join(toks + [f"state:{FUTURE_SCORE:.0f}"])
    return bad


def shift_stream(expected: pd.DataFrame, got: pd.DataFrame) -> pd.DataFrame:
    bad = got.copy()
    bad.loc[bad["dt_prev_sec"].notna().idxmax(), "dt_prev_sec"] += 1.0
    return bad


def repeat_text(expected: pd.DataFrame, got: pd.DataFrame) -> pd.DataFrame:
    """The second output document carries the first one's text."""
    bad = got.copy()
    bad.iloc[1, bad.columns.get_loc("text")] = bad["text"].iloc[0]
    return bad


def assert_rejects(check, expected, got, corrupt) -> None:
    """Raise if ``check`` accepts a corrupted copy of ``got``."""
    if not check(expected, corrupt(expected, got)):
        raise AssertionError(f"{check.__name__} accepted {corrupt.__name__}")

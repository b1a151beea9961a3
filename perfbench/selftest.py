"""Self-test of the oracles, without Spark.

    python3 perfbench/selftest.py

Checks that the scalar ``stringHash`` reproduces the reference golden
values, that the point-in-time recompute never matches a future-dated
state row, and that each output check accepts an output built from the
recompute and rejects it once corrupted (a turn carrying the future
state sentinel, a shifted streaming gap, a repeated curated text, a
surviving e-mail or phone, a contaminated or foreign document).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracles  # noqa: E402


def _fixture():
    """Two conversations with NULL/empty text, tool gaps, a session gap,
    a zero-gap tie, state rows 1 s after turns, and future-dated rows."""
    t0 = pd.Timestamp("2025-01-01")
    rows = []
    for conv, gaps in (("a", [0, 45, 0, 2400, 50, 45]),
                       ("b", [0, 60, 3000, 45])):
        ts = t0
        for i, g in enumerate(gaps):
            ts = ts + pd.Timedelta(seconds=g)
            text = [None, "", "alpha bravo alpha", "x y z w"][i % 4]
            tool = "bash" if i % 3 == 1 else None
            rows.append((conv, i, "user" if i % 2 else "tool", text, tool, ts))
    turns = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                        "tool", "ts"])
    st = turns.iloc[::2][["conv_id", "ts"]].copy()
    st["ts"] += pd.Timedelta(seconds=1)
    st["state_score"] = np.arange(len(st), dtype=float) + 0.5
    fut = turns.groupby("conv_id", as_index=False)["ts"].max()
    fut["ts"] += pd.Timedelta(seconds=9999)
    fut["state_score"] = oracles.FUTURE_SCORE
    return turns, pd.concat([st, fut], ignore_index=True)


def _curate() -> None:
    words = "the a and of to in is that for with table query join".split()
    bench_text = " ".join(words[:10])
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4],
                         "lang": ["en", "en", "en", "xx"]})
    bench = pd.DataFrame({"text": [bench_text]})
    got = pd.DataFrame({"doc_id": [1, 2],
                        "text": [" ".join(words[3:]), "table <EMAIL> join"],
                        "split": ["train", "val"]})
    check = oracles.check_curate
    assert check(docs, bench, got) == [], check(docs, bench, got)
    oracles.assert_rejects(lambda e, g: check(docs, bench, g), None, got,
                           oracles.repeat_text)
    for col, val in (("text", "mail bob.x@mail.example.org now"),
                     ("text", "call +1 (415) 555-0100 now"),
                     ("text", bench_text + " join"),
                     ("doc_id", 4), ("doc_id", 9), ("split", "holdout")):
        bad = got.copy()
        bad.loc[1, col] = val
        assert check(docs, bench, bad), (col, val)


def main() -> int:
    for sentence, want in oracles.GOLDEN_HASHES.items():
        got = [oracles.string_hash(w) for w in sentence.split(" ")]
        assert got == want, (sentence, got, want)

    turns, state = _fixture()
    pit = oracles.point_in_time(turns, state)
    assert not any(oracles.FUTURE_SCORE in a for a in pit["state_alts"]
                   if isinstance(a, tuple)), "future state row matched"

    sparse = pd.DataFrame(
        [(r.conv_id, r.turn_idx, sorted(e), [min(e[i]) for i in sorted(e)])
         for r in pit.itertuples(index=False)
         for e in [oracles.expected_sparse(r)]],
        columns=["conv_id", "turn_idx", "indices", "values"])
    assert oracles.check_sparse(pit, sparse) == []
    oracles.assert_rejects(oracles.check_sparse, pit, sparse,
                           oracles.leak_sparse)

    def line(r):
        kv = dict(oracles.expected_vw(r))
        kv["state"] = min(oracles._state_alts(r))
        return "| " + " ".join(k if v == 1.0 else f"{k}:{v}"
                               for k, v in kv.items())
    vw = pd.DataFrame([(r.conv_id, r.turn_idx, line(r))
                       for r in pit.itertuples(index=False)],
                      columns=["conv_id", "turn_idx", "vw_line"])
    assert oracles.check_vw(pit, vw) == []
    oracles.assert_rejects(oracles.check_vw, pit, vw, oracles.leak_vw)

    stream = oracles.expected_stream(turns)
    assert oracles.check_stream(turns, stream) == []
    oracles.assert_rejects(oracles.check_stream, turns, stream,
                           oracles.shift_stream)
    _curate()
    print("oracle self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

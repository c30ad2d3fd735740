"""Spark-free expected outputs, computed with numpy from the in-memory
copy of the generated inputs, and the checksums both sides are compared by.

Tick semantics reproduced here (see the engine's fuse, fill, replay,
handler and resample modules):
  - fused stream: rows of both sources with ts in [start, end], ordered by
    (ts, source index); timestamps are unique within a source, so this
    order is total;
  - ``Syn_id`` collides and becomes ``Syn_id||trades`` / ``Syn_id||spread``;
  - forward fill: every null takes the last non-null value of its column
    in stream order;
  - an event's label is the next grid boundary strictly after its ts; each
    boundary from label(first) to label(last) is emitted with the last
    event labelled with it; a boundary with no event is blank (all null
    for the replay handler; ``ffill_keys`` carry the previous event for
    resample).

A checksum is the row count plus, per column, the null count, the sum
and a row-position-weighted sum of the values scaled to integers
(prices are whole cents, quantities whole milli-units), so it is exact
and sensitive to row order.
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, List, Sequence, Tuple

import numpy as np

from inputs import SHINGLE_N, WORD_RE, Corpus, Ticks, jaccard, shingles

TS = "__timestamp"


def fused_stream(ticks: Ticks, start: int, end: int) -> Tuple[np.ndarray, Dict[str, np.ndarray]]:
    """Window-filtered, forward-filled merged stream: (ts, {col: float64})."""
    parts = []
    for src, name in ((ticks.trades, "trades"), (ticks.spread, "spread")):
        ts = src["Timestamp"]
        lo, hi = np.searchsorted(ts, start, "left"), np.searchsorted(ts, end, "right")
        cols = {
            (f"Syn_id||{name}" if c == "Syn_id" else c): v[lo:hi].astype(np.float64)
            for c, v in src.items() if c != "Timestamp"
        }
        parts.append((ts[lo:hi], cols))
    (t_ts, t_cols), (s_ts, s_cols) = parts
    ts = np.concatenate([t_ts, s_ts])
    src_id = np.concatenate([np.zeros(t_ts.size, np.int8), np.ones(s_ts.size, np.int8)])
    order = np.lexsort((src_id, ts))
    ts = ts[order]
    cols = {}
    for c, v in t_cols.items():
        cols[c] = np.concatenate([v, np.full(s_ts.size, np.nan)])[order]
    for c, v in s_cols.items():
        cols[c] = np.concatenate([np.full(t_ts.size, np.nan), v])[order]
    idx = np.arange(ts.size)
    for c, v in cols.items():
        last = np.maximum.accumulate(np.where(np.isnan(v), -1, idx))
        cols[c] = np.where(last >= 0, v[np.maximum(last, 0)], np.nan)
    return ts, cols


def interval_ms(interval: str) -> int:
    """'10s' -> 10000 (seconds intervals only)."""
    if not interval.endswith("s"):
        raise ValueError(f"oracle grids are whole seconds, got {interval!r}")
    return int(interval[:-1]) * 1000


def _last_per_boundary(ts: np.ndarray, step: int):
    label = (ts // step + 1) * step
    last = np.flatnonzero(np.r_[label[1:] != label[:-1], True])
    first_b = label[0]
    n = int((label[-1] - first_b) // step) + 1
    pos = (label[last] - first_b) // step
    return first_b + step * np.arange(n, dtype=np.int64), last, pos


def handler_output(ts: np.ndarray, cols: Dict[str, np.ndarray], step: int):
    """``BatchEveryIntervalHandler`` rows (no ffill keys) for a stream."""
    grid, last, pos = _last_per_boundary(ts, step)
    out = {}
    for c, v in cols.items():
        o = np.full(grid.size, np.nan)
        o[pos] = v[last]
        out[c] = o
    return grid, out


def resample_output(ts: np.ndarray, cols: Dict[str, np.ndarray],
                    ffill_keys: Sequence[str], step: int):
    """``resample_last_interval(..., ffill_keys=...)`` rows."""
    grid, last, pos = _last_per_boundary(ts, step)
    present = np.zeros(grid.size, dtype=bool)
    present[pos] = True
    carry = np.maximum.accumulate(np.where(present, np.arange(grid.size), 0))
    out = {}
    for c, v in cols.items():
        o = np.full(grid.size, np.nan)
        o[pos] = v[last]
        out[c] = o[carry] if c in ffill_keys else o
    return grid, out


def checksum(ts: np.ndarray, cols: Dict[str, np.ndarray]) -> tuple:
    ts = np.asarray(ts, dtype=np.int64)
    w = np.arange(1, ts.size + 1, dtype=np.int64)
    parts: List = [int(ts.size), int(ts.sum()), int((w * ts).sum())]
    for c in sorted(cols):
        v = np.asarray(cols[c], dtype=np.float64)
        null = np.isnan(v)
        s = np.where(null, 0, np.rint(v * 1000)).astype(np.int64)
        parts += [c, int(null.sum()), int(s.sum()), int((w * s).sum())]
    return tuple(parts)


def rows_checksum(rows: List[dict]) -> tuple:
    """Checksum of handler rows ``[{__timestamp: b, col: value, ...}]``."""
    if not rows:
        return checksum(np.zeros(0, np.int64), {})
    names = [c for c in rows[0] if c != TS]
    ts = np.fromiter((r[TS] for r in rows), dtype=np.int64, count=len(rows))
    cols = {
        c: np.array([np.nan if r[c] is None else r[c] for r in rows], dtype=np.float64)
        for c in names
    }
    return checksum(ts, cols)


# --------------------------------------------------------------------- #
# corpus


def _simhash(text: str, bits: int = 32) -> int:
    toks = set(re.findall(WORD_RE, text.lower()))
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    out = 0
    for i in range(bits):
        if 2 * sum((h >> i) & 1 for h in hs) > len(hs):
            out |= 1 << i
    return out


class CorpusOracle:
    """Checks the four corpus calls against exact Python recomputation."""

    def __init__(self, corpus: Corpus, threshold: float, max_hamming: int):
        self.corpus = corpus
        self.threshold = threshold
        self.max_hamming = max_hamming
        by_text: Dict[str, List[int]] = {}
        for i, t in zip(corpus.ids.tolist(), corpus.texts):
            by_text.setdefault(t, []).append(i)
        self.exact = sorted((min(g), len(g)) for g in by_text.values() if len(g) > 1)
        self.exact_pairs = {
            (a, b) for g in by_text.values() for a in g for b in g if a < b
        }
        self.n_tokens = sum(len(re.findall(WORD_RE, t.lower())) for t in corpus.texts)
        self.n_chars = sum(len(t) for t in corpus.texts)
        self._sh: Dict[int, set] = {}
        self._sim: Dict[int, int] = {}

    def _shingles(self, i: int) -> set:
        if i not in self._sh:
            self._sh[i] = shingles(self.corpus.texts[i], SHINGLE_N)
        return self._sh[i]

    def _simhash_of(self, i: int) -> int:
        if i not in self._sim:
            self._sim[i] = _simhash(self.corpus.texts[i])
        return self._sim[i]

    def problems(self, out: dict) -> List[str]:
        """Empty when every output is right; else one line per mismatch."""
        bad = []
        if sorted(out["exact"]) != self.exact:
            bad.append("exact_duplicates groups differ")
        pairs = {(a, b): j for a, b, j in out["minhash"]}
        missing = (set(self.corpus.near_pairs) | self.exact_pairs) - set(pairs)
        if missing:
            bad.append(f"minhash missed {len(missing)} planted pairs")
        for (a, b), j in pairs.items():
            exact_j = jaccard(self._shingles(a), self._shingles(b))
            if exact_j < self.threshold or abs(exact_j - j) > 1e-12:
                bad.append(f"minhash pair {(a, b)} reports {j}, exact {exact_j}")
                break
        sim = {(a, b): h for a, b, h in out["simhash"]}
        if self.exact_pairs - set(sim):
            bad.append("simhash missed exact-copy pairs")
        for (a, b), h in sim.items():
            exact_h = bin(self._simhash_of(a) ^ self._simhash_of(b)).count("1")
            if exact_h != h or h > self.max_hamming:
                bad.append(f"simhash pair {(a, b)} reports {h}, exact {exact_h}")
                break
        if tuple(out["text"]) != (len(self.corpus.texts), self.n_tokens, self.n_chars):
            bad.append(f"text_stats totals {out['text']}")
        return bad

"""Seeded benchmark inputs: a two-source tick store and a text corpus.

Everything is a pure function of the seed. The generated arrays stay in
memory for the oracle; the files on disk are what the engine reads.

Tick store (``make_ticks``):
  - ``trades``: one CSV.gz file per day, columns Timestamp, Price, Quantity,
    Syn_id, on days 0..6;
  - ``spread``: one parquet file per day, columns Timestamp, bid, ask,
    Syn_id, on days 1..7 (offset by one day, so the sources overlap on
    days 1..6);
  - ``Syn_id`` exists in both sources, so the fuser renames it;
  - a share of the timestamps is shared by both sources (cross-source
    collisions); within one source timestamps are unique, so the global
    order (ts, source) is total and the oracle needs no file-order rule;
  - sparse periods: ``GAPS_PER_DAY`` windows of 30-300 s with no event in
    either source, so gap fill has work to do.

Corpus (``make_corpus``): random documents over a synthetic vocabulary,
plus planted exact copies and planted near-duplicates (one word replaced,
exact shingle Jaccard >= ``NEAR_MIN_JACCARD``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np

DAY_MS = 86_400_000
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
TRADE_DAYS = tuple(range(0, 7))
SPREAD_DAYS = tuple(range(1, 8))
OVERLAP_DAYS = tuple(sorted(set(TRADE_DAYS) & set(SPREAD_DAYS)))
ROWS_PER_SOURCE_DAY = 15_000
COLLIDE_SHARE = 0.06  # share of timestamps carried by both sources
GAPS_PER_DAY = 24
GAP_S = (30, 300)
SYN_IDS = 5

N_DOCS = 2_000
EXACT_SHARE = 0.03
NEAR_SHARE = 0.05
DOC_WORDS = (120, 200)
VOCAB = 4_000
NEAR_MIN_JACCARD = 0.94
SHINGLE_N = 3
WORD_RE = r"[a-z0-9]+"  # the engine's tokenizer (ops.text.WORD_RE)


@dataclass
class Ticks:
    """In-memory copy of the tick store, one array per column."""

    trades: Dict[str, np.ndarray]
    spread: Dict[str, np.ndarray]
    trades_dir: str
    spread_dir: str
    gaps: List[Tuple[int, int]] = field(default_factory=list)

    @property
    def rows(self) -> int:
        return len(self.trades["Timestamp"]) + len(self.spread["Timestamp"])

    def properties(self) -> dict:
        ts_t, ts_s = self.trades["Timestamp"], self.spread["Timestamp"]
        return {
            "rows": self.rows,
            "trades_rows": len(ts_t),
            "spread_rows": len(ts_s),
            "days": len(set(TRADE_DAYS) | set(SPREAD_DAYS)),
            "colliding_timestamps": int(np.intersect1d(ts_t, ts_s).size),
            "sparse_periods": len(self.gaps),
        }


@dataclass
class Corpus:
    ids: np.ndarray
    texts: List[str]
    path: str
    exact_groups: List[List[int]]  # planted exact-copy groups (doc ids)
    near_pairs: List[Tuple[int, int]]  # planted near-duplicate pairs (a < b)

    def properties(self) -> dict:
        return {
            "docs": len(self.texts),
            "exact_copy_docs": sum(len(g) - 1 for g in self.exact_groups),
            "near_dup_pairs": len(self.near_pairs),
        }


def _day_timestamps(rng: np.random.Generator, day: int, gaps: list) -> np.ndarray:
    n_pool = int(ROWS_PER_SOURCE_DAY / (0.5 + COLLIDE_SHARE / 2))
    start = T0_MS + day * DAY_MS
    ts = np.unique(rng.integers(0, DAY_MS, n_pool)) + start
    keep = np.ones(ts.size, dtype=bool)
    for _ in range(GAPS_PER_DAY):
        g0 = start + int(rng.integers(0, DAY_MS - GAP_S[1] * 1000))
        g1 = g0 + int(rng.integers(GAP_S[0], GAP_S[1] + 1)) * 1000
        gaps.append((g0, g1))
        keep &= (ts < g0) | (ts >= g1)
    return ts[keep]


def _write_trades(path: str, cols: Dict[str, np.ndarray], days: np.ndarray) -> None:
    import pandas as pd

    os.makedirs(path, exist_ok=True)
    for day in TRADE_DAYS:
        sel = days == day
        frame = pd.DataFrame({c: v[sel] for c, v in cols.items()})
        name = f"trades_{day + 1:03d}.csv.gz"
        frame.to_csv(
            os.path.join(path, name), index=False,
            compression={"method": "gzip", "compresslevel": 1},
        )


def _write_spread(path: str, cols: Dict[str, np.ndarray], days: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for day in SPREAD_DAYS:
        sel = days == day
        table = pa.table({c: v[sel] for c, v in cols.items()})
        pq.write_table(table, os.path.join(path, f"spread_{day + 1:03d}.parquet"))


def make_ticks(seed: int, root: str) -> Ticks:
    rng = np.random.default_rng([seed, 1])
    gaps: list = []
    t_ts, t_day, s_ts, s_day = [], [], [], []
    for day in range(max(SPREAD_DAYS) + 1):
        ts = _day_timestamps(rng, day, gaps)
        u = rng.random(ts.size)
        lo, hi = 0.5 - COLLIDE_SHARE / 2, 0.5 + COLLIDE_SHARE / 2
        if day in TRADE_DAYS:
            sel = ts[u < hi]
            t_ts.append(sel)
            t_day.append(np.full(sel.size, day))
        if day in SPREAD_DAYS:
            sel = ts[u >= lo]
            s_ts.append(sel)
            s_day.append(np.full(sel.size, day))
    t_ts, t_day = np.concatenate(t_ts), np.concatenate(t_day)
    s_ts, s_day = np.concatenate(s_ts), np.concatenate(s_day)

    # Prices are whole cents and quantities whole milli-units, so every
    # value round-trips exactly through CSV text and the checksums are
    # exact integer sums.
    t_cents = 10_000 + np.cumsum(rng.integers(-3, 4, t_ts.size))
    trades = {
        "Timestamp": t_ts.astype(np.int64),
        "Price": t_cents / 100.0,
        "Quantity": rng.integers(1, 5_000, t_ts.size) / 1000.0,
        "Syn_id": rng.integers(1, SYN_IDS + 1, t_ts.size).astype(np.int64),
    }
    s_mid = 10_000 + np.cumsum(rng.integers(-3, 4, s_ts.size))
    s_half = rng.integers(1, 6, s_ts.size)
    spread = {
        "Timestamp": s_ts.astype(np.int64),
        "bid": (s_mid - s_half) / 100.0,
        "ask": (s_mid + s_half) / 100.0,
        "Syn_id": rng.integers(1, SYN_IDS + 1, s_ts.size).astype(np.int64),
    }
    trades_dir = os.path.join(root, "ticks", "trades")
    spread_dir = os.path.join(root, "ticks", "spread")
    _write_trades(trades_dir, trades, t_day)
    _write_spread(spread_dir, spread, s_day)
    return Ticks(trades, spread, trades_dir, spread_dir, gaps)


def shingles(text: str, n: int = SHINGLE_N) -> set:
    """Distinct word n-grams, the engine's MinHash shingle definition."""
    import re

    toks = re.findall(WORD_RE, text.lower())
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def make_corpus(seed: int, root: str) -> Corpus:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, int(rng.integers(3, 9))))
        for _ in range(VOCAB)
    ]
    weights = 1.0 / np.arange(1, VOCAB + 1) ** 0.8
    weights /= weights.sum()

    def doc() -> List[str]:
        n = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
        return [vocab[i] for i in rng.choice(VOCAB, n, p=weights)]

    n_exact = int(N_DOCS * EXACT_SHARE)
    n_near = int(N_DOCS * NEAR_SHARE)
    n_base = N_DOCS - n_exact - n_near
    words = [doc() for _ in range(n_base)]
    texts = [" ".join(w) for w in words]
    groups: Dict[int, List[int]] = {}
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        groups.setdefault(src, [src]).append(len(texts))
        texts.append(texts[src])
    near = []
    while len(near) < n_near:
        src = int(rng.integers(0, n_base))
        w = list(words[src])
        w[int(rng.integers(1, len(w) - 1))] = vocab[int(rng.integers(0, VOCAB))]
        text = " ".join(w)
        if text == texts[src] or jaccard(
            shingles(text), shingles(texts[src])
        ) < NEAR_MIN_JACCARD:
            continue
        near.append((src, len(texts)))
        texts.append(text)

    # Shuffle document ids so planted copies are not adjacent.
    perm = rng.permutation(len(texts))  # new id of old position i
    ids = np.arange(len(texts), dtype=np.int64)
    out_texts = [""] * len(texts)
    for old, new in enumerate(perm):
        out_texts[new] = texts[old]
    exact_groups = sorted(sorted(int(perm[i]) for i in g) for g in groups.values())
    near_pairs = sorted(tuple(sorted((int(perm[a]), int(perm[b])))) for a, b in near)

    path = os.path.join(root, "corpus")
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": ids, "text": out_texts}),
        os.path.join(path, "part-0.parquet"),
    )
    return Corpus(ids, out_texts, path, exact_groups, near_pairs)

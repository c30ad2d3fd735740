"""The four benchmark workloads.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. ``run`` is the plain pipeline a user
would write (timed with tracing off); ``traced`` runs the same layers one
at a time on persisted inputs, inside spans, so every layer has a self
time. ``check`` compares an operation's output with the numpy oracle and
returns a list of mismatches (empty when correct).
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Dict, List

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import timeseriesfuser_spark as tsf
from timeseriesfuser_spark.operators import fuse
from timeseriesfuser_spark.ops import dedup, text
from timeseriesfuser_spark.sources.readers import INTERNAL_COLS

import inputs
import oracle
from spans import Tracer, plan_seconds

INTERVAL = "1s"  # replay handler grid
RESAMPLE_INTERVAL = "10s"  # bulk resample grid
WINDOW_MS = 10 * 60 * 1000
ROWS_PER_FILE = 100_000
FFILL_KEYS = ["Price", "bid", "ask", "Syn_id"]
LSH_THRESHOLD = 0.5
MAX_HAMMING = 3


@dataclass
class Output:
    value: Any
    first_t: float = 0.0  # perf_counter when the first result reached the caller


def tick_sources(ticks: inputs.Ticks):
    trades = tsf.SourceConfig(
        name="trades", path=ticks.trades_dir, fmt="csv",
        schema=[int, float, float, int],
    )
    spread = tsf.SourceConfig(
        name="spread", path=ticks.spread_dir, fmt="parquet",
        schema={"Timestamp": int, "bid": float, "ask": float, "Syn_id": int},
    )
    return [trades, spread]


@contextmanager
def traced_internals(tr: Tracer):
    """Wrap the fuser's calls into the readers and fill modules in spans
    for the traced run. The engine's code is unchanged; only the names the
    fuse module looks up are swapped, and restored on exit."""
    wrapped = {
        "probe_source_window": "readers.probe",
        "build_source_df": "readers.build",
        "forward_fill": "fill.build",
    }
    saved = {name: getattr(fuse, name) for name in wrapped}

    def wrap(fn, span_name):
        def inner(*a, **k):
            with tr.span(span_name):
                return fn(*a, **k)
        return inner

    for name, span_name in wrapped.items():
        setattr(fuse, name, wrap(saved[name], span_name))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(fuse, name, fn)


def _persisted(df, rec):
    """Plan, persist and materialize ``df`` inside the open span."""
    rec["plan_s"] = plan_seconds(df)
    df = df.persist()
    rec["rows"] = df.count()
    return df


def _scan_and_fill(tr: Tracer, fuser, **window):
    """The fused stream's two execution layers, one after the other on
    persisted inputs: the windowed scan and union, then the forward fill."""
    with tr.span("readers.scan") as rec:
        raw = _persisted(tsf.TimeSeriesFuser(
            fuser.sources, derive_window=False, **window,
        ).fused(tr.spark), rec)
    with tr.span("fill.exec") as rec:
        cols = [c for c in raw.columns if c not in INTERNAL_COLS]
        return _persisted(tsf.forward_fill(raw, fuser.sort_cols(), cols), rec)


class Workload:
    name = ""
    uses = ()  # inputs this workload needs: "ticks", "corpus"
    first_row = False  # reports first_row_s (replay workloads: first handler call)
    # Discarded operations before the timed ones: the first operations run
    # slower while the JIT compiles. Enough that the timed operations are
    # past the steep part, few enough that set-up stays short.
    warmup_ops = 2

    def __init__(self, spark, seed: int, data: Dict[str, Any], out_dir: str):
        self.spark = spark
        self.seed = seed
        self.data = data
        self.out_dir = out_dir

    def spec(self, i: int) -> Dict[str, Any]:
        return {}

    def scope_rows(self, spec) -> int:
        raise NotImplementedError

    def run(self, spec) -> Output:
        raise NotImplementedError

    def traced(self, spec, tr: Tracer) -> Output:
        raise NotImplementedError

    def check(self, spec, out: Output) -> List[str]:
        raise NotImplementedError

    def corrupt(self, out: Output) -> Output:
        """Damage one output, to show the checks count a wrong result."""
        raise NotImplementedError

    def reset(self) -> None:
        """Isolation between operations: drop every cached relation and
        wipe the output directory."""
        self.spark.catalog.clearCache()
        shutil.rmtree(self.out_dir, ignore_errors=True)


# --------------------------------------------------------------------- #
# replay workloads


class FirstRowHandler(tsf.BatchEveryIntervalHandler):
    """Records when the first event reached ``process``. The instance
    attribute set here shadows the class method for one call only, so
    later rows pay nothing."""

    first_t = 0.0

    def __init__(self, interval):
        super().__init__(interval)
        self.process = self._first

    def _first(self, ts, msg):
        self.first_t = time.perf_counter()
        del self.process
        self.process(ts, msg)


class TimedHandler(tsf.BatchEveryIntervalHandler):
    """Sums the time spent inside ``process`` (traced run only)."""

    process_s = 0.0

    def process(self, ts, msg):
        t = time.perf_counter()
        super().process(ts, msg)
        self.process_s += time.perf_counter() - t


class ReplayWorkload(Workload):
    uses = ("ticks",)
    first_row = True
    warmup_ops = 3  # short operations: a third warm-up costs ~3 s

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.sources = tick_sources(self.data["ticks"])

    def window(self, rng) -> tuple:
        raise NotImplementedError

    def spec(self, i: int) -> Dict[str, Any]:
        start, end = self.window(np.random.default_rng([self.seed, 3, i]))
        return {"start": int(start), "end": int(end)}

    def scope_rows(self, spec) -> int:
        t = self.data["ticks"]
        return sum(
            int(np.searchsorted(ts, spec["end"], "right") - np.searchsorted(ts, spec["start"]))
            for ts in (t.trades["Timestamp"], t.spread["Timestamp"])
        )

    def run(self, spec) -> Output:
        fuser = tsf.TimeSeriesFuser(
            self.sources, procstart=spec["start"], procend=spec["end"],
            forward_fill=True,
        )
        handler = FirstRowHandler(INTERVAL)
        tsf.replay(fuser.fused(self.spark), handler)
        return Output(handler.get_results(), handler.first_t)

    def traced(self, spec, tr: Tracer) -> Output:
        with traced_internals(tr):
            with tr.span("fuse.build"):
                fuser = tsf.TimeSeriesFuser(
                    self.sources, procstart=spec["start"], procend=spec["end"],
                    forward_fill=True,
                )
                fuser.fused(self.spark)
            filled = _scan_and_fill(tr, fuser, procstart=spec["start"], procend=spec["end"])
        handler = TimedHandler(INTERVAL)
        with tr.span("replay.run") as rec:
            rec["plan_s"] = plan_seconds(filled.orderBy(*fuser.sort_cols()))
            status = tsf.replay(filled, handler)
            rec["rows"] = status.rows
            tr.add_child_time("handlers.process", handler.process_s)
        return Output(handler.get_results())

    def check(self, spec, out: Output) -> List[str]:
        ts, cols = oracle.fused_stream(self.data["ticks"], spec["start"], spec["end"])
        want = oracle.checksum(*oracle.handler_output(ts, cols, oracle.interval_ms(INTERVAL)))
        got = oracle.rows_checksum(out.value)
        return [] if got == want else [f"handler rows differ: {got[:3]} vs {want[:3]}"]

    def corrupt(self, out: Output) -> Output:
        out.value.pop()
        return out


class WindowReplay(ReplayWorkload):
    name = "window_replay"

    def window(self, rng):
        lo = inputs.T0_MS + min(inputs.OVERLAP_DAYS) * inputs.DAY_MS
        hi = inputs.T0_MS + (max(inputs.OVERLAP_DAYS) + 1) * inputs.DAY_MS - WINDOW_MS
        start = int(rng.integers(lo, hi))
        return start, start + WINDOW_MS


class DayReplay(ReplayWorkload):
    name = "day_replay"

    def window(self, rng):
        day = int(rng.choice(inputs.OVERLAP_DAYS))
        start = inputs.T0_MS + day * inputs.DAY_MS
        return start, start + inputs.DAY_MS - 1


# --------------------------------------------------------------------- #
# bulk resample


class BulkResample(Workload):
    name = "bulk_resample"
    uses = ("ticks",)
    warmup_ops = 1  # one long operation compiles most of the hot code

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.sources = tick_sources(self.data["ticks"])
        self._want = None

    def scope_rows(self, spec) -> int:
        return self.data["ticks"].rows

    def run(self, spec) -> Output:
        with tsf.cache_scope():
            fuser = tsf.TimeSeriesFuser(self.sources, forward_fill=True)
            keys = fuser.remap_keys(self.spark, FFILL_KEYS)
            out = tsf.resample_last_interval(
                fuser.fused(self.spark), RESAMPLE_INTERVAL, ffill_keys=keys
            )
            sink = tsf.write_batched(out, self.out_dir, fmt="parquet", rows_per_file=ROWS_PER_FILE)
        return Output(sink.files)

    def traced(self, spec, tr: Tracer) -> Output:
        with tsf.cache_scope():
            with traced_internals(tr):
                with tr.span("fuse.build"):
                    fuser = tsf.TimeSeriesFuser(self.sources, forward_fill=True)
                    keys = fuser.remap_keys(self.spark, FFILL_KEYS)
                    fuser.fused(self.spark)
                # The derived window of the full range holds every row.
                filled = _scan_and_fill(tr, fuser)
            with tr.span("resample.build"):
                out = tsf.resample_last_interval(filled, RESAMPLE_INTERVAL, ffill_keys=keys)
            with tr.span("resample.exec") as rec:
                out = _persisted(out, rec)
            with tr.span("sinks.write") as rec:
                rec["plan_s"] = plan_seconds(out)
                sink = tsf.write_batched(out, self.out_dir, fmt="parquet", rows_per_file=ROWS_PER_FILE)
                rec["files"] = len(sink.files)
        return Output(sink.files)

    def check(self, spec, out: Output) -> List[str]:
        if self._want is None:
            ticks = self.data["ticks"]
            ts, cols = oracle.fused_stream(ticks, -2**62, 2**62)
            keys = ["Price", "bid", "ask", "Syn_id||trades", "Syn_id||spread"]
            self._want = oracle.checksum(
                *oracle.resample_output(ts, cols, keys, oracle.interval_ms(RESAMPLE_INTERVAL))
            )
        if not out.value:
            return ["no output files"]
        table = pq.ParquetDataset(out.value).read().sort_by(oracle.TS)
        ts = table.column(oracle.TS).to_numpy()
        cols = {
            c: table.column(c).cast("double").to_numpy(zero_copy_only=False)
            for c in table.column_names if c != oracle.TS
        }
        got = oracle.checksum(ts, cols)
        return [] if got == self._want else [f"resample output differs: {got[:3]} vs {self._want[:3]}"]

    def corrupt(self, out: Output) -> Output:
        out.value = out.value[1:]
        return out


# --------------------------------------------------------------------- #
# corpus dedup


class CorpusDedup(Workload):
    name = "corpus_dedup"
    uses = ("corpus",)
    # One warm-up: the run budget has no room for a second. The first
    # timed operation still runs 10-20% slower than the next; a run at the
    # listed --seconds holds two, so every run's median covers the same two.
    warmup_ops = 1

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.oracle = oracle.CorpusOracle(self.data["corpus"], LSH_THRESHOLD, MAX_HAMMING)

    def scope_rows(self, spec) -> int:
        return len(self.data["corpus"].texts)

    @staticmethod
    def _calls(docs):
        """name -> (lazy public call, row -> result tuple), in call order."""
        return {
            "exact": (
                lambda: dedup.exact_duplicates(docs).filter("n_copies > 1"),
                lambda r: (r.canonical_id, r.n_copies),
            ),
            "minhash": (
                lambda: dedup.minhash_lsh_pairs(docs, threshold=LSH_THRESHOLD),
                lambda r: (r.id_a, r.id_b, r.jaccard),
            ),
            "simhash": (
                lambda: dedup.simhash_pairs(docs, max_hamming=MAX_HAMMING),
                lambda r: (r.id_a, r.id_b, r.hamming),
            ),
            "text": (
                lambda: text.text_stats(docs).agg(
                    F.count(F.lit(1)), F.sum("n_tokens"), F.sum("n_chars_actual")
                ),
                tuple,
            ),
        }

    def run(self, spec) -> Output:
        res = {}
        with tsf.cache_scope():
            docs = self.spark.read.parquet(self.data["corpus"].path)
            for name, (build, row) in self._calls(docs).items():
                res[name] = [row(r) for r in build().collect()]
        res["text"] = res["text"][0]
        return Output(res)

    def traced(self, spec, tr: Tracer) -> Output:
        res = {}
        with tsf.cache_scope():
            with tr.span("readers.scan") as rec:
                docs = self.spark.read.parquet(self.data["corpus"].path)
                scan = docs.selectExpr("count(1)", "sum(length(text))")
                rec["plan_s"] = plan_seconds(scan)
                rec["rows"] = scan.collect()[0][0]
            for name, (build, row) in self._calls(docs).items():
                layer = "text" if name == "text" else "dedup"
                with tr.span(f"{layer}.build", call=name):
                    df = build()
                with tr.span(f"{layer}.exec", call=name) as rec:
                    rec["plan_s"] = plan_seconds(df)
                    res[name] = [row(r) for r in df.collect()]
            with tr.span("dedup.candidates", call="minhash") as rec:
                cand = dedup.minhash_lsh_pairs(docs, threshold=LSH_THRESHOLD, verify=False)
                rec["plan_s"] = plan_seconds(cand)
                rec["candidates"] = cand.count()
                rec["useful"] = len(res["minhash"])
        res["text"] = res["text"][0]
        return Output(res)

    def check(self, spec, out: Output) -> List[str]:
        return self.oracle.problems(out.value)

    def corrupt(self, out: Output) -> Output:
        out.value["exact"] = out.value["exact"][1:]
        return out


WORKLOADS = {w.name: w for w in (WindowReplay, DayReplay, BulkResample, CorpusDedup)}


def make_inputs(names, seed: int, root: str) -> Dict[str, Any]:
    data: Dict[str, Any] = {}
    if "ticks" in names:
        data["ticks"] = inputs.make_ticks(seed, root)
    if "corpus" in names:
        data["corpus"] = inputs.make_corpus(seed, root)
    return data

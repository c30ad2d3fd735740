"""Chronological multi-source fusion: the reference's core capability
(k-way chronological merge, /root/reference/timeseriesfuser/core.py:353-637)
re-expressed as a declarative Spark plan.

The reference hand-schedules an anchor/overlap-window/chunk loop because it
streams one file at a time on one node. Under Spark the whole construct
collapses to (SURVEY.md §2.3 J1):

    normalize each source → rename colliding columns → unionByName
    (diagonal union, null padding) → window filter → range-partitioned sort

Catalyst/AQE then choose the physical strategy; the sort is a range-
partitioned exchange (no single-task stage), filters push to the parquet
scan, and disjoint sources cost nothing extra (the reference's non-overlap
fast path, core.py:548-634, is subsumed).

Column-collision semantics (core.py:297-318): a column present in more than
one source is renamed ``f"{col}{sep}{source_name}"`` (default sep ``'||'``);
``__timestamp``, ``merge_cols`` and the ``secondary_sort_col`` are exempt
and share one column. ``rename_identical=False`` disables renaming.

Window and frames are resolved once per fuser: the per-source first/last
row probes (reference core.py:145-213) and the source reads run on first
use and are shared by ``rename_maps``/``remap_keys`` and ``fused``.

Forward fill of a small file-backed stream runs as ONE plain window.
When every kept source is read from files and the files' on-disk size
(``ops.util.estimated_input_bytes``) is below ``ops.util.SMALL_INPUT_BYTES``,
the fill uses one bucket: no quantile sketch at construction and no
seeds/carry stages in the query, which at this size cost more than the
parallelism they buy. The rule lives here rather than in the shared
scan because the pre-fill plan is raw file scans, a union and a filter,
so on-disk bytes bound its rows; a generic scan input may be an explode
or a join, whose size the files do not bound.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriesfuser_spark.config import FuserConfig, SourceConfig
from timeseriesfuser_spark.operators.fill import forward_fill
from timeseriesfuser_spark.ops import util as ops_util
from timeseriesfuser_spark.sources.readers import (
    INTERNAL_COLS,
    SEQ_COL,
    SRC_ID_COL,
    TS_COL,
    build_source_df,
    probe_source_window,
)
from timeseriesfuser_spark.timeutils import coerce_to_epoch_ms


def compute_collision_renames(
    named_columns: Sequence[Tuple[str, Sequence[str]]],
    *,
    exempt: set,
    sep: str = "||",
) -> Dict[str, Dict[str, str]]:
    """Per-source {old: new} rename maps for columns appearing in more than
    one source (reference core.py:297-318). Shared by the batch fuser and
    the streaming fuse."""
    counts: Counter = Counter()
    for _, cols in named_columns:
        counts.update(c for c in cols if c not in exempt)
    return {
        name: {
            c: f"{c}{sep}{name}" for c in cols if c not in exempt and counts[c] > 1
        }
        for name, cols in named_columns
    }


class TimeSeriesFuser:
    """Fuses N sources into one chronologically ordered event stream.

    ≈ reference TimeSeriesFuser (core.py:32-121) minus the imperative file
    loop. ``fused(spark)`` returns the merged DataFrame plan; sinks/replay
    live in :mod:`timeseriesfuser_spark.sinks` and
    :mod:`timeseriesfuser_spark.streaming`.

    The processing window, each source's file list and the source frames
    are resolved once, on first use (``rename_maps``, ``remap_keys`` or
    ``fused``), and reused by every later call on the same SparkSession:
    each source is probed once per fuser. To pick up files added since,
    build a new fuser.
    """

    def __init__(self, sources: Sequence[SourceConfig], config: Optional[FuserConfig] = None,
                 **overrides):
        if not sources:
            raise ValueError("Need at least one source")
        names = [s.name for s in sources]
        if len(set(names)) != len(names):
            raise ValueError(f"Duplicate source names: {names}")
        self.sources = list(sources)
        cfg = config or FuserConfig()
        for k, v in overrides.items():
            if not hasattr(cfg, k):
                raise TypeError(f"Unknown fuser option {k!r}")
            setattr(cfg, k, v)
        self.config = cfg
        self._resolved = None

    # ------------------------------------------------------------------ #

    def _exempt_cols(self) -> set:
        exempt = {TS_COL, *INTERNAL_COLS, *self.config.merge_cols}
        if self.config.secondary_sort_col:
            exempt.add(self.config.secondary_sort_col)
        return exempt

    def _compute_renames(self, frames: List[Tuple[SourceConfig, DataFrame]]) -> Dict[str, Dict[str, str]]:
        """Per-source {old: new} for columns colliding across sources."""
        if not self.config.rename_identical:
            return {s.name: {} for s, _ in frames}
        return compute_collision_renames(
            [(s.name, df.columns) for s, df in frames],
            exempt=self._exempt_cols(),
            sep=self.config.separator,
        )

    def _resolve(self, spark: SparkSession):
        """(frames, start, end, rename maps), built once per session.

        Same source set for renames and the fused stream: the reference
        drops out-of-window sources BEFORE computing collision renames
        (core.py:204-213 precedes _pre_setup), so a collision that exists
        only with a window-dropped source renames nothing."""
        if self._resolved is None or self._resolved[0] is not spark:
            sources, start, end = self._resolve_window(spark)
            frames = [(s, build_source_df(spark, s, i)) for i, s in enumerate(sources)]
            self._resolved = (spark, frames, start, end, self._compute_renames(frames))
        return self._resolved[1:]

    def rename_maps(self, spark: SparkSession) -> Dict[str, Dict[str, str]]:
        return self._resolve(spark)[3]

    def remap_keys(self, spark: SparkSession, keys: Sequence[str]) -> List[str]:
        """Rewrite user column names to their post-collision-rename forms —
        one key may expand to several columns (≈ handler
        modify_transformations, reference classes.py:648-664)."""
        maps = self.rename_maps(spark)
        out: List[str] = []
        for k in keys:
            hits = [m[k] for m in maps.values() if k in m]
            out.extend(hits if hits else [k])
        return out

    def sort_cols(self) -> List[str]:
        cols = [TS_COL]
        if self.config.secondary_sort_col:
            cols.append(self.config.secondary_sort_col)
        cols.extend([SRC_ID_COL, SEQ_COL])
        return cols

    def _resolve_window(self, spark: SparkSession):
        """Processing window ≈ reference _get_global_start_end_timestamps
        (core.py:145-213): per-source bounds from data probes clamped by the
        user's procstart/procend; sources fully outside the window dropped
        (core.py:204-213); global window = [min(starts), max(ends)]."""
        cfg = self.config
        user_start = None if cfg.procstart is None else coerce_to_epoch_ms(cfg.procstart)
        user_end = None if cfg.procend is None else coerce_to_epoch_ms(cfg.procend)
        if not cfg.derive_window:
            return list(self.sources), user_start, user_end
        if all(s.df is not None for s in self.sources):
            # DataFrame-backed sources have no file order, so their probe is
            # min/max — which can never exclude a row. The derived global
            # window therefore contains every row by construction and
            # clamping to the user bounds alone is result-identical. Skip
            # the probe jobs (two full-scan aggregations per source).
            return list(self.sources), user_start, user_end

        kept, starts, ends = [], [], []
        for src in self.sources:
            first, last = probe_source_window(spark, src)
            if first is None or last is None:
                import warnings

                warnings.warn(
                    f"Source {src.name!r} is empty (no timestamped rows); skipping.",
                    UserWarning,
                    stacklevel=2,
                )
                continue
            s = first if user_start is None else max(user_start, first)
            e = last if user_end is None else min(user_end, last)
            # Strict: a degenerate single-instant source (first == last —
            # e.g. a one-row file) still has data; the reference's overlap
            # test special-cases exactly this (core.py:991-1032). Only an
            # empty intersection (s > e) drops the source.
            if s > e:
                import warnings

                warnings.warn(
                    f"Source {src.name!r} has no data inside the processing window; skipping.",
                    UserWarning,
                    stacklevel=2,
                )
                continue
            kept.append(src)
            starts.append(s)
            ends.append(e)
        if not kept:
            raise RuntimeError("No sources have data inside the processing window")
        return kept, min(starts), max(ends)

    # ------------------------------------------------------------------ #

    def fused(self, spark: SparkSession, *, sort: bool = False) -> DataFrame:
        """Build the merged-stream plan.

        ``sort=False`` (default) leaves ordering to the consumer — resample
        and aggregation don't need a pre-sort, and skipping it avoids a
        full-data exchange. ``sort=True`` adds the deterministic global
        order (ts, secondary, src, seq) for replay/golden output.

        With ``forward_fill``, a stream whose sources are all file-backed
        and whose files total under ``ops.util.SMALL_INPUT_BYTES`` on disk
        is filled in one window (no sketch job, no carry stages); any
        other stream uses the range-bucketed scan's default buckets.
        """
        cfg = self.config
        frames, start, end, maps = self._resolve(spark)

        renamed = []
        for src, df in frames:
            m = maps[src.name]
            if m:
                df = df.withColumnsRenamed(m)
            renamed.append(df)

        merged = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), renamed
        )

        if start is not None:
            merged = merged.filter(F.col(TS_COL) >= F.lit(start))
        if end is not None:
            merged = merged.filter(F.col(TS_COL) <= F.lit(end))

        if cfg.drop_late_duplicates:
            if not cfg.secondary_sort_col:
                raise ValueError("drop_late_duplicates requires secondary_sort_col")
            # P5 parity (core.py:446-459): one row per (source, sequence id)
            # — overlapping file tails re-deliver the same sequence ids and
            # the replay filter drops them; dropDuplicates is the batch
            # equivalent (keyed shuffle, partial-agg map-side). Rows from
            # sources WITHOUT the sequence column (null-padded by the
            # diagonal union) pass through untouched: dropDuplicates would
            # treat all their nulls as ONE key and keep a single row.
            sec = F.col(cfg.secondary_sort_col)
            deduped = merged.filter(sec.isNotNull()).dropDuplicates(
                [SRC_ID_COL, cfg.secondary_sort_col]
            )
            merged = deduped.unionByName(merged.filter(sec.isNull()))

        # The final sort must use the PRE-fill secondary values: the
        # reference sorts (core.py:474-478) before it forward-fills
        # (core.py:1034-1072), so rows from a source lacking the sequence
        # column order nulls-first — not by a neighbor's LOCF-borrowed id.
        order_cols = list(self.sort_cols())
        presort = None
        if (
            cfg.forward_fill
            and sort
            and cfg.secondary_sort_col
            and cfg.secondary_sort_col in merged.columns
        ):
            presort = f"__presort_{cfg.secondary_sort_col}"
            merged = merged.withColumn(presort, F.col(cfg.secondary_sort_col))
            order_cols = [presort if c == cfg.secondary_sort_col else c for c in order_cols]

        if cfg.forward_fill:
            fill_cols = [
                c
                for c in merged.columns
                if c not in (TS_COL, *INTERNAL_COLS) and c != presort
            ]
            # Small file-backed stream: one window (see module docstring).
            est = (
                ops_util.estimated_input_bytes(merged)
                if all(src.df is None for src, _ in frames)
                else None
            )
            small = est is not None and est < ops_util.SMALL_INPUT_BYTES
            merged = forward_fill(
                merged, self.sort_cols(), fill_cols, num_partitions=1 if small else None
            )

        if sort:
            merged = merged.orderBy(*[F.col(c) for c in order_cols])
        if presort:
            merged = merged.drop(presort)
        if cfg.remove_internal_cols:
            merged = merged.drop(SRC_ID_COL, SEQ_COL)
        return merged

"""Row-level interval handler: API parity with the reference's
``BatchEveryIntervalHandler`` (classes.py:536-688) for consumers porting
handler code unchanged.

This is the *stateful row-at-a-time* formulation of T3 — the same
semantics the vectorized ``operators.resample.resample_last_interval``
computes as a DataFrame plan (and the test suite cross-validates the two
against each other). Use the vectorized operator for bulk work; use this
handler under ``replay.replay()`` when an event-driven consumer needs the
interval stream delivered row by row.

Semantics (verified against the reference's own interval tests):
- first event initializes the next boundary = smallest grid point strictly
  greater than its ts (classes.py:666-688); 'Nd' grids with N > 1 start
  at that event's midnight (UTC without ``tz``) plus N days, as in the
  vectorized operator;
- an event at/past the boundary flushes the previous event's values
  stamped at the boundary; further empty boundaries up to the event's own
  boundary emit blanks where only ``ffill_keys`` carry the previous
  event's values (classes.py:589-625);
- ``finalize()`` flushes the final partial interval whenever
  ``process_batch_end`` is set — ALWAYS, including when the last event
  sits exactly on a boundary (it then emits at boundary+step). The
  reference's guard ``(next_batch_ts - current_ts) > 0``
  (classes.py:634) is tautological: ``process()`` always leaves
  ``next_batch_ts`` strictly greater than the last event's ts.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Sequence

from timeseriesfuser_spark.intervals import MS_PER_DAY, interval_to_ms, next_boundary_ms
from timeseriesfuser_spark.replay import BaseHandler
from timeseriesfuser_spark.sources.readers import TS_COL


class BatchEveryIntervalHandler(BaseHandler):
    """Resample a replayed event stream to a fixed interval grid."""

    def __init__(
        self,
        batch_interval: str,
        *,
        ffill_keys: Sequence[str] = (),
        process_batch_end: bool = True,
        tz: Optional[str] = None,
    ) -> None:
        self.step = interval_to_ms(batch_interval)
        self.interval = batch_interval
        # next_boundary_ms(tz=None) floors 'Nd' on the epoch-anchored grid
        if tz is None and batch_interval.strip().endswith("d") and self.step > MS_PER_DAY:
            tz = "UTC"
        self.tz = tz
        self.ffill_keys = list(ffill_keys)
        self.process_batch_end = process_batch_end
        self.rows: List[Dict[str, Any]] = []
        self._next_ts: Optional[int] = None
        self._prev_msg: Optional[Dict[str, Any]] = None
        self._prev_ts: Optional[int] = None

    # ------------------------------------------------------------------ #

    def _boundary_after(self, ts: int) -> int:
        return next_boundary_ms(ts, self.interval, tz=self.tz)

    def _blank_from(self, msg: Dict[str, Any]) -> Dict[str, Any]:
        return {
            k: (msg[k] if k in self.ffill_keys else None) for k in msg
        }

    def _emit(self, boundary: int, msg: Dict[str, Any]) -> None:
        self.rows.append({TS_COL: boundary, **msg})

    def process(self, ts: int, msg: Dict[str, Any]) -> None:
        if self._next_ts is None:
            self._next_ts = self._boundary_after(ts)
        elif ts >= self._next_ts:
            # flush the closed interval: last event strictly before the
            # boundary wins; an event exactly ON the boundary belongs to
            # the next interval (so it is `msg`'s interval, not this one).
            self._emit(self._next_ts, self._prev_msg)
            self._next_ts += self.step
            # catch-up blanks for empty intervals before this event
            blank = self._blank_from(self._prev_msg)
            while ts >= self._next_ts:
                self._emit(self._next_ts, blank)
                self._next_ts += self.step
        self._prev_msg = msg
        self._prev_ts = ts

    def finalize(self) -> None:
        # Unconditional when process_batch_end: the reference's on-boundary
        # guard (classes.py:634) can never fire — see module docstring.
        if self.process_batch_end and self._prev_msg is not None:
            self._emit(self._next_ts, self._prev_msg)

    def get_results(self) -> List[Dict[str, Any]]:
        return self.rows

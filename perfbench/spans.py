"""In-memory span tracer for the traced benchmark run.

A span has a name ``<layer>.<phase>``, start, end, parent and operation
id. While a span is open, every Spark job started on the thread carries
the job tag ``perfbench-span-<id>`` (``SparkContext.addJobTag``; tags
survive the job groups the engine sets itself). After the operation,
``finish_op`` reads the operation's jobs, their tags and stage ids from
the in-process status store (works with ``spark.ui.enabled=false``) and
gives each job to the innermost span whose tag it carries. Spans are kept
in memory and written out once, at the end of the run.

Self time of a span = its wall time minus the wall time of its children.
A span's ``jobs`` counts the jobs started under it, children included.
Stage counters are attributed to the innermost span only: a stage belongs
to the first job that lists it, and so to that job's span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

TAG = "perfbench-span-"

# Per-stage counters summed per span: our key -> StageData accessor.
STAGE_FIELDS = {
    "cpu_ns": "executorCpuTime",
    "in_bytes": "inputBytes",
    "in_rows": "inputRecords",
    "out_bytes": "outputBytes",
    "shuffle_write": "shuffleWriteBytes",
    "fetch_wait_ms": "shuffleFetchWaitTime",
    "spill_mem": "memoryBytesSpilled",
    "spill_disk": "diskBytesSpilled",
    "gc_ms": "jvmGcTime",
    "failed_tasks": "numFailedTasks",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._last_job = -1  # highest job id already resolved
        self._seen_stages: set = set()
        self.op: Optional[int] = None
        if enabled:
            self._sc = spark.sparkContext
            jsc = self._sc._jsc.sc()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._gw = self._sc._gateway
            # Jobs run before this tracer (set-up, untraced operations)
            # belong to no span.
            self._bus.waitUntilEmpty()
            self._new_jobs()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.addJobTag(f"{TAG}{rec['id']}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._sc.removeJobTag(f"{TAG}{rec['id']}")
            self._stack.pop()

    def add_child_time(self, name: str, seconds: float, **attrs) -> None:
        """Record time measured inside the open span (e.g. the summed
        handler calls of a replay) as a synthetic child span."""
        if not self.enabled:
            return
        parent = self._stack[-1]
        self.spans.append({
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": parent["id"], "start": parent["start"],
            "end": parent["start"] + seconds, "synthetic": True, **attrs,
        })

    # ---------------------------------------------------------------- #

    def _new_jobs(self) -> List[tuple]:
        """(job id, innermost span id or None, stage ids) of every job the
        status store holds that is newer than the last call, oldest first."""
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for k in range(jobs.size()):
            j = jobs.apply(k)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            tags = [t for t in j.jobTags().mkString("\n").split("\n") if t.startswith(TAG)]
            span = max((int(t[len(TAG):]) for t in tags), default=None)
            stages = [int(s) for s in j.stageIds().mkString(",").split(",") if s]
            out.append((jid, span, stages))
        if out:
            self._last_job = out[0][0]
        return out[::-1]

    def _stage(self, sid: int) -> Dict[str, float]:
        seq = self._store.stageData(
            sid, False, self._gw.jvm.java.util.ArrayList(), False,
            self._gw.new_array(self._gw.jvm.double, 0),
        )
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        for k in range(seq.size()):
            s = seq.apply(k)
            for key, attr in STAGE_FIELDS.items():
                tot[key] += float(getattr(s, attr)())
        return tot

    def finish_op(self) -> None:
        """Resolve the jobs and stage counters of the current operation's
        spans. Runs after the operation's wall time is taken."""
        self._bus.waitUntilEmpty()
        spans = [s for s in self.spans if s["op"] == self.op]
        by_id = {s["id"]: s for s in spans}
        children: Dict[int, List[dict]] = {}
        for s in spans:
            s["jobs"] = 0
            s["stages"] = dict.fromkeys(STAGE_FIELDS, 0.0)
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in spans:
            kids = children.get(s["id"], [])
            s["self_s"] = (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids)
        for _, span_id, stages in self._new_jobs():
            s = by_id.get(span_id)
            if s is None:
                continue
            for sid in stages:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                for key, v in self._stage(sid).items():
                    s["stages"][key] += v
            while s is not None:  # a job counts for its span and its ancestors
                s["jobs"] += 1
                s = by_id.get(s["parent"])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    query execution, forcing planning if it has not happened yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000.0

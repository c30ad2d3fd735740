"""Per-layer metrics from the spans of a traced run.

Layers are named after the engine's modules. Each metric is computed per
traced operation and reported as the median over operations; a layer a
workload does not reach reports 0. ``*_s`` phase times are span wall
times (a build span includes the reads and fill planning it triggers,
which also appear under their own layer); the shares in
``trace.layer_share`` use self times, so nothing is counted twice.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Dict, List

from stats import median

# Spark counters reported for every layer that runs actions.
COUNTER_LAYERS = ("readers", "fill", "resample", "sinks", "replay", "dedup", "text")
COUNTERS = {
    "plan_s": "s",
    "exec_cpu_s": "s",
    "shuffle_mb": "MB",
    "fetch_wait_s": "s",
    "spill_mb": "MB",
    "gc_s": "s",
    "failed_tasks": "count",
}
LAYER_METRICS = {
    "fuse.build_s": "s",
    "fuse.build_jobs": "count",
    "readers.probe_s": "s",
    "readers.scan_s": "s",
    "readers.input_mb": "MB",
    "readers.input_rows": "count",
    "fill.exec_s": "s",
    "resample.build_s": "s",
    "resample.build_jobs": "count",
    "resample.exec_s": "s",
    "resample.out_rows": "count",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.output_mb": "MB",
    "replay.rows_per_s": "rows/s",
    "replay.wait_s": "s",
    "replay.jobs": "count",
    "handlers.process_s": "s",
    "dedup.build_s": "s",
    "dedup.build_jobs": "count",
    "dedup.exec_s": "s",
    "dedup.candidates": "count",
    "dedup.useful_ratio": "ratio",
    "text.exec_s": "s",
    **{f"{layer}.{c}": u for layer in COUNTER_LAYERS for c, u in COUNTERS.items()},
    "trace.op_s_p50": "s",
    "trace.untraced_op_s_p50": "s",
    "trace.overhead_s": "s",
    "trace.layer_share": "ratio",
    "trace.local1_op_s": "s",
}


def _op_metrics(spans: List[dict]) -> Dict[str, float]:
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)

    def wall(name):
        return sum(s["end"] - s["start"] for s in by[name])

    def total(name, key):
        return sum(s.get(key, 0) for s in by[name])

    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m["fuse.build_s"] = wall("fuse.build")
    m["fuse.build_jobs"] = total("fuse.build", "jobs")
    m["readers.probe_s"] = wall("readers.probe")
    m["readers.scan_s"] = wall("readers.scan")
    m["fill.exec_s"] = wall("fill.exec")
    m["resample.build_s"] = wall("resample.build")
    m["resample.build_jobs"] = total("resample.build", "jobs")
    m["resample.exec_s"] = wall("resample.exec")
    m["resample.out_rows"] = total("resample.exec", "rows")
    m["sinks.write_s"] = wall("sinks.write")
    m["sinks.files"] = total("sinks.write", "files")
    replay_s = wall("replay.run")
    m["handlers.process_s"] = wall("handlers.process")
    if replay_s:
        m["replay.rows_per_s"] = total("replay.run", "rows") / replay_s
        m["replay.wait_s"] = replay_s - m["handlers.process_s"]
    m["replay.jobs"] = total("replay.run", "jobs")
    m["dedup.build_s"] = wall("dedup.build")
    m["dedup.build_jobs"] = total("dedup.build", "jobs")
    m["dedup.exec_s"] = wall("dedup.exec")
    cand = total("dedup.candidates", "candidates")
    m["dedup.candidates"] = cand
    if cand:
        m["dedup.useful_ratio"] = total("dedup.candidates", "useful") / cand
    m["text.exec_s"] = wall("text.exec")

    stage = defaultdict(lambda: defaultdict(float))
    for s in spans:
        layer = s["name"].split(".")[0]
        st = s.get("stages", {})
        c = stage[layer]
        c["plan_s"] += s.get("plan_s", 0.0)
        c["exec_cpu_s"] += st.get("cpu_ns", 0) / 1e9
        c["shuffle_mb"] += st.get("shuffle_write", 0) / 1e6
        c["fetch_wait_s"] += st.get("fetch_wait_ms", 0) / 1e3
        c["spill_mb"] += (st.get("spill_mem", 0) + st.get("spill_disk", 0)) / 1e6
        c["gc_s"] += st.get("gc_ms", 0) / 1e3
        c["failed_tasks"] += st.get("failed_tasks", 0)
        c["in_mb"] += st.get("in_bytes", 0) / 1e6
        c["in_rows"] += st.get("in_rows", 0)
        c["out_mb"] += st.get("out_bytes", 0) / 1e6
    for layer in COUNTER_LAYERS:
        for c in COUNTERS:
            m[f"{layer}.{c}"] = stage[layer][c]
    m["readers.input_mb"] = stage["readers"]["in_mb"]
    m["readers.input_rows"] = stage["readers"]["in_rows"]
    m["sinks.output_mb"] = stage["sinks"]["out_mb"]

    root = by["op"][0]
    root_wall = root["end"] - root["start"]
    layer_self = sum(s["self_s"] for s in spans if s["name"] != "op")
    m["trace.layer_share"] = layer_self / root_wall
    return m


def layer_metrics(spans: List[dict], untraced: List[dict], traced: List[dict],
                  local1: List[dict]) -> Dict[str, tuple]:
    """Median per-operation layer metrics, as ``{name: (value, unit)}``."""
    traced_ops = {r["i"] for r in traced if not r["failed"]}
    per_op = defaultdict(list)
    for s in spans:
        if s["op"] in traced_ops:
            per_op[s["op"]].append(s)
    rows = [_op_metrics(per_op[i]) for i in sorted(per_op)]
    rows = rows or [dict.fromkeys(LAYER_METRICS, 0.0)]  # every traced op failed
    out = {k: median([r[k] for r in rows]) for k in LAYER_METRICS}
    out["trace.op_s_p50"] = median([r["wall"] for r in traced])
    out["trace.untraced_op_s_p50"] = median([r["wall"] for r in untraced])
    out["trace.overhead_s"] = out["trace.op_s_p50"] - out["trace.untraced_op_s_p50"]
    out["trace.local1_op_s"] = local1[0]["wall"] if local1 else 0.0
    return {k: (float(v), LAYER_METRICS[k]) for k, v in out.items()}

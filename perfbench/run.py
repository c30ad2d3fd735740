"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one Spark JVM at
``local[<nproc>]``. The process generates its inputs from the seed,
runs one discarded warm-up operation, then runs operations back to back
(one client, closed loop) for ``--seconds`` seconds, checks every output
against the numpy oracle, and prints one JSON object as its last line.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` spends half
the time on untraced operations and half on traced ones, and reports the
per-layer metrics. ``--workload all`` runs every workload in its own
process and prints a table. ``--inject-fault`` corrupts the first timed
operation's output, to show that a wrong output is counted.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MAX_RUN_S = 150.0  # stop starting operations after this much process time
MIN_OPS = 2
MIN_LAYER_SHARE = 0.85  # layer self times must reconcile with op wall time


def bench_config() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def start_spark(work: Path, cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # A fixed heap and young generation: peak RSS then does not
            # depend on the collector's adaptive sizing from run to run.
            # JIT thresholds at a tenth of the default: the driver-side
            # code reaches compiled speed within the warm-up operations
            # instead of over the first ~15 operations.
            f"-Xms2g -Xmn512m -XX:CompileThresholdScaling=0.1 -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants() -> set:
    """Pids of every live process below this one (the Spark JVM and any
    Python workers it started)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    return tree - {os.getpid()}


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over this process and all its descendants."""
    kb = 0
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 30.0) -> None:
    """Stop Spark, end the gateway JVM and every other process this one
    started, and wait until each has ended. Safe to call more than once
    and when Spark never started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            traceback.print_exc()
    pids = descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # The JVM exits when its stdin closes.
        try:
            proc.stdin.close()
            proc.wait(timeout)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        left = [p for p in pids if alive(p)]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


def loop(wl, tr, first_index: int, deadline: float, *, traced=False,
         inject=False, min_ops=MIN_OPS, max_ops=None):
    """Run operations until ``deadline`` (and at least ``min_ops``, at most
    ``max_ops``); return one record per operation."""
    records = []
    i = first_index
    while (
        (time.perf_counter() < deadline or len(records) < min_ops)
        and time.perf_counter() - T_START < MAX_RUN_S
        and (max_ops is None or len(records) < max_ops)
    ):
        spec = wl.spec(i)
        tr.op = i
        failed = False
        t0 = time.perf_counter()
        wall = None
        try:
            if traced:
                with tr.span("op", workload=wl.name):
                    out = wl.traced(spec, tr)
                wall = time.perf_counter() - t0
                tr.finish_op()
            else:
                out = wl.run(spec)
        except Exception:  # an operation that raises counts as failed
            print(f"op {i} raised:", file=sys.stderr)
            traceback.print_exc()
            out, failed = None, True
        wall = wall or time.perf_counter() - t0
        if not failed:
            if inject and not records:
                out = wl.corrupt(out)
            problems = wl.check(spec, out)
            for p in problems:
                print(f"op {i}: {p}", file=sys.stderr)
            failed = bool(problems)
        records.append({
            "i": i, "wall": wall, "failed": failed,
            "first": (out.first_t - t0) if out is not None and out.first_t else wall,
            "rows": wl.scope_rows(spec),
        })
        wl.reset()
        i += 1
    return records


def end_to_end(records, setup_s: float, rss: float, first_row: bool) -> dict:
    from stats import median, tail

    ok = [r for r in records if not r["failed"]] or records
    walls = [r["wall"] for r in ok]
    tail_v, tail_p, n = tail(walls)
    # op_s_tail is printed, not a result metric: at the run length the
    # benchmark uses, no percentile has 10 samples beyond it, so it would
    # repeat op_s_p50.
    print(
        f"# ops={len(records)} failed={sum(r['failed'] for r in records)} "
        f"error_rate={sum(r['failed'] for r in records) / len(records):.4f} "
        f"op_s_tail={tail_v:.4f}s (p{tail_p:.1f} of n={n}) "
        f"walls={','.join(f'{w:.3f}' for w in walls)}"
    )
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (median(walls), "s"),
        "input_rows_per_s": (median([r["rows"] / r["wall"] for r in ok]), "rows/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    if first_row:
        metrics["first_row_s"] = (median([r["first"] for r in ok]), "s")
    return metrics


def run_one(args) -> int:
    if not (ROOT / "timeseriesfuser_spark" / "__init__.py").is_file():
        print(f"no timeseriesfuser_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import timeseriesfuser_spark

    if Path(timeseriesfuser_spark.__file__).resolve().parent.parent != ROOT:
        print("timeseriesfuser_spark was not imported from this checkout", file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
    )
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    from spans import Tracer
    from workloads import WORKLOADS, make_inputs

    cores = os.cpu_count() or 1
    marks = [("start", T_START), ("imports", time.perf_counter())]
    try:
        spark = start_spark(work, cores)
        marks.append(("session", time.perf_counter()))
        data = make_inputs(WORKLOADS[args.workload].uses, args.seed, str(work / "inputs"))
        wl = WORKLOADS[args.workload](spark, args.seed, data, str(work / "out"))
        marks.append(("inputs", time.perf_counter()))
        untraced = Tracer(spark, enabled=False)
        warm = loop(wl, untraced, 0, 0.0, min_ops=wl.warmup_ops, max_ops=wl.warmup_ops)
        t_first = time.perf_counter()
        marks.append(("warmup", t_first))
        setup_s = t_first - T_START
        print("# setup " + " ".join(
            f"{name}={t - t_prev:.2f}s" for (_, t_prev), (name, t) in zip(marks, marks[1:])
        ) + " warmup_walls=" + ",".join(f"{r['wall']:.2f}" for r in warm))
        print("# inputs " + json.dumps({k: v.properties() for k, v in data.items()}))
        if not args.trace:
            records = loop(wl, untraced, wl.warmup_ops, t_first + args.seconds, inject=args.inject_fault)
            metrics = end_to_end(records, setup_s, peak_rss_mb(), wl.first_row)
        else:
            from layers import layer_metrics

            records = loop(wl, untraced, wl.warmup_ops, t_first + args.seconds / 2, inject=args.inject_fault)
            tr = Tracer(spark, enabled=True)
            deadline = time.perf_counter() + args.seconds / 2
            traced = loop(wl, tr, 1000, deadline, traced=True)
            local1 = []
            if args.workload == "bulk_resample":
                # Single-thread baseline: one traced operation at local[1].
                spark.stop()
                spark = wl.spark = start_spark(work, 1)
                tr1 = Tracer(spark, enabled=True)
                local1 = loop(wl, tr1, 2000, 0.0, traced=True, min_ops=1, max_ops=1)
                tr.spans += tr1.spans
            if not traced:
                print(f"FAIL: no traced operation started within {MAX_RUN_S:.0f} s")
                return 1
            metrics = layer_metrics(tr.spans, records, traced, local1)
            share = metrics["trace.layer_share"][0]
            print(f"# trace.layer_share={share:.4f} (layer self time over traced op wall time)")
            records = records + traced + local1
            out_dir = ROOT / ".perfbench" / "traces"
            out_dir.mkdir(exist_ok=True)
            tr.dump(str(out_dir / f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace and metrics["trace.layer_share"][0] < MIN_LAYER_SHARE:
        print(f"FAIL: layer self times cover less than {MIN_LAYER_SHARE} of the "
              "traced operation wall time")
        return 1
    failed = sum(r["failed"] for r in records)
    print(json.dumps({
        "correct": failed == 0 and not any(r["failed"] for r in warm),
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def run_workload(workload: str, seed: int, seconds, trace: int,
                 inject_fault: bool = False) -> tuple:
    """Run one workload in its own process; return (result, lines before
    it). Raises RuntimeError when the run fails."""
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ] + (["--inject-fault"] if inject_fault else [])
    # Its own process group, so that a run that times out is ended with
    # the JVM it started.
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=180)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
    lines = out.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(
            f"{workload} seed {seed}: exit {proc.returncode}\n"
            + "\n".join(lines[-5:]) + "\n" + err[-3000:]
        )
    return json.loads(lines[-1]), lines[:-1]


def run_all(args) -> int:
    """Every workload in its own process; prints each metric by name."""
    rc = 0
    for w in [x["name"] for x in bench_config()["workloads"]]:
        try:
            res, notes = run_workload(w, args.seed, args.seconds, args.trace, args.inject_fault)
        except RuntimeError as e:
            print(f"{w}: {e}")
            rc = 1
            continue
        err = res["failed"] / res["attempted"]
        print(f"{w}: attempted={res['attempted']} failed={res['failed']} error_rate={err:.4f}")
        for line in notes:
            print(f"  {line}")
        for name, m in res["metrics"].items():
            print(f"  {name:<28} {m['value']:>14.6g} {m['unit']}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true")
    args = ap.parse_args()
    # A terminated run still stops the JVM it started (``finally`` blocks run).
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

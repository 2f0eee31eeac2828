"""Benchmark entry point.

    python3 perfbench/run.py --workload caption_etl --seed 1 --seconds 12 --trace 0

Runs one workload in this process on ``session.get_spark`` with
``SPARK_GRAFT_CPUS`` set to the number of usable cores and no other Spark
setting, checks the outputs, and prints a metric table, a stamp line and, as
the last line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs untraced and traced operations, with a Spark event log, and reports
the per-layer metrics and the tracing overhead. The exit code is 0 only
when every operation and every output check passed.

Everything the run writes stays under ``.perfbench/`` at the root of the
checkout: generated inputs (cached by workload, seed and size), outputs,
Spark scratch and event logs. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
KEEP = 12


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    from perfbench.trace import valid_name

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    bad = [name for name in units if not valid_name(name)]
    if bad:
        raise ValueError(f"BENCHMARK.json: invalid metric names {bad}")
    return units


def prune(directory: str) -> None:
    """Keep the most recently written ``KEEP`` entries of a state directory."""
    if not os.path.isdir(directory):
        return
    entries = sorted((os.path.join(directory, e) for e in os.listdir(directory)), key=os.path.getmtime, reverse=True)
    for path in entries[KEEP:]:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return out.stdout.strip() or "unknown"


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, then wait until every process
    this run started (the JVM and the Python workers under it) has ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def measure(wl, seconds: float, min_ops: int, tracer=None):
    """Closed loop: run operations until ``seconds`` have passed and at least
    ``min_ops`` ran. With a tracer, every odd-numbered operation is traced,
    so traced and untraced operations alternate and see the same warm-up.
    Returns per-op seconds and the number of operations that failed."""
    times, failed, i = [], 0, 0
    deadline = time.perf_counter() + seconds
    while len(times) < min_ops or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            wl.op(i, tracer if i % 2 else None)
        except Exception:
            traceback.print_exc()
            failed += 1
        times.append(time.perf_counter() - t0)
        wl.settle(i)
        i += 1
    return times, failed


def overhead(plan: list[str] | None, times: list[float]) -> float:
    """Traced (odd) over untraced (even) operation time. For a query mix the
    per-type medians are compared, so the types drawn on each side do not
    matter."""
    from perfbench.trace import median

    if plan is None:
        return median(times[1::2]) / median(times[0::2])
    by_type: dict[str, tuple[list, list]] = {}
    for i, t in enumerate(times):
        by_type.setdefault(plan[i], ([], []))[i % 2].append(t)
    both = [(median(u), median(t)) for u, t in by_type.values() if u and t]
    return sum(t for _, t in both) / sum(u for u, _ in both)


def start_session(trace: bool, work: str, nproc: int):
    """``session.get_spark`` plus a one-stage Python pass that starts the
    worker pool. Returns the session and the set-up timings."""
    from perfbench.trace import process_age_s
    from wicsmmiretl_spark.session import get_spark

    overrides = {}
    if trace:
        overrides = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", **overrides)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    warm = spark.range(0, nproc, 1, nproc).mapInPandas(lambda it: (pdf for pdf in it), "id long")
    warm.write.format("noop").mode("overwrite").save()
    return spark, {
        "setup_s": process_age_s(),
        "session.get_spark_s": get_spark_s,
        "session.worker_warm_s": time.perf_counter() - t0,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use small ones)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from perfbench import trace as tr
        from perfbench.checks import Checks
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    load_start, steal_start = os.getloadavg()[0], tr.cpu_steal_s()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, "work", str(os.getpid()))
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # Scratch locations only, so that the run writes nothing outside the
    # checkout; the JVM's own perf-data file would otherwise go to /tmp.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"

    spark, setup = start_session(bool(args.trace), work, nproc)
    checks = Checks()
    times: list[float] = []
    metrics: dict[str, float] = {}
    failed_ops = 0
    prepare_s = 0.0
    wl = None
    tracer = tr.Tracer(f"{args.workload}-s{args.seed}-p{os.getpid()}", spark.sparkContext) if args.trace else None
    try:
        wl = WORKLOADS[args.workload](spark, work, os.path.join(STATE, "cache"), args.seed, args.scale)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        if tracer is None:
            times, failed_ops = measure(wl, args.seconds, wl.min_ops)
        else:
            with tr.RssSampler() as rss:
                rss.active.set()
                times, failed_ops = measure(wl, args.seconds, max(wl.min_ops, 4), tracer)
                rss.active.clear()
        wl.check(checks)
        if tracer is None:
            metrics = {
                "setup_s": setup["setup_s"],
                "rows_per_s": wl.rows_per_op * len(times) / sum(times),
                "op_ms_p50": tr.median(times) * 1000,
                "recall": checks.recall,
            }
        else:
            metrics = wl.layer_metrics(tracer, len(times[1::2]))
            metrics["trace.overhead_ratio"] = overhead(getattr(wl, "plan", None), times)
            metrics["spark.peak_rss_mb"] = rss.peak / 2**20
            metrics["session.get_spark_s"] = setup["session.get_spark_s"]
            metrics["session.worker_warm_s"] = setup["session.worker_warm_s"]
    except Exception:
        traceback.print_exc()
        failed_ops += 1
    finally:
        stop_spark(spark)

    if tracer is not None:
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{tracer.run_id}.jsonl"))
        prune(traces)
        groups = {tracer.group_id(s.span_id) for s in tracer.spans}
        totals = tr.event_log_metrics(tr.event_log_files(os.path.join(work, "events")), groups)
        n_traced = max(len(times[1::2]), 1)
        for name, value in totals.items():
            metrics[name] = value if name == "spark.task_skew" else value / n_traced

    attempted = max(len(times), 1)
    failed = failed_ops + len(checks.failures)
    units = declared_units(tracer is not None)
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "sizes": wl.sizes if wl is not None else {},
        "git_commit": git_commit(),
        "load1_start": load_start,
        "load1_end": os.getloadavg()[0],
        "cpu_steal_s": round(tr.cpu_steal_s() - steal_start, 2),
        "prepare_s": round(prepare_s, 3),
        "ops": len(times),
        "op_s": [round(t, 4) for t in times],
        "op_ms_p75": tr.percentile(times, 75) * 1000 if times else None,
        "highest_percentile_with_10_beyond": tr.highest_supported_percentile(len(times)),
        "error_ratio": failed / attempted,
        "checks_run": checks.run,
        "check_failures": checks.failures,
    }
    # Layers a workload does not run report 0: no time, no work.
    values = {name: float(metrics.get(name, 0.0)) for name in units}
    for name, unit in units.items():
        print(f"{name:<44} {values[name]:>16.6g} {unit}")
    # Reported, not gated: see perfbench/README.md.
    if stamp["op_ms_p75"] is not None:
        print(f"{'op_ms_p75':<44} {stamp['op_ms_p75']:>16.6g} ms")
    print(f"{'error_ratio':<44} {stamp['error_ratio']:>16.6g} ratio")
    print(json.dumps({"stamp": stamp}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }
    print(json.dumps(result))
    shutil.rmtree(work, ignore_errors=True)
    for kept in ("cache", "work"):  # "work" keeps what crashed runs left
        prune(os.path.join(STATE, kept))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

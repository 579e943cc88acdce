"""Benchmark of the orders ETL engine through its public API.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 15 --trace 0

One run is one fresh process: it generates its inputs from the seed,
starts Spark with ``session.get_spark()`` as a user does, times the
first operation and then a closed loop of operations (one client, the
next call only after the previous one returns) for ``--seconds``,
checks every output, and prints one JSON line last. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics and writes the spans as JSON under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SETUP_SAMPLES = 2  # fresh get_spark() timings per run; the run's own is one

# end-to-end metrics and their units, in BENCHMARK.json's order
UNITS = {"setup_s": "s", "first_run_s": "s", "run_p50_ms": "ms", "rows_per_s": "rows/s"}

# one fresh get_spark() in a child process; it closes the JVM's stdin and
# waits, so the JVM has ended when the child exits
SETUP_PROBE = """
import sys, time
sys.path.insert(0, sys.argv[1])
from etl_orders_to_bq_spark.session import get_spark
t0 = time.perf_counter()
spark = get_spark()
print(time.perf_counter() - t0)
proc = spark.sparkContext._gateway.proc
spark.stop()
proc.stdin.close()
proc.wait(timeout=120)
"""


def env_for_spark() -> None:
    """Spark and Python temporary files stay inside the checkout."""
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")


def setup_sample() -> float:
    out = subprocess.run(
        [sys.executable, "-c", SETUP_PROBE, str(ROOT)],
        cwd=ROOT, capture_output=True, text=True, timeout=170, check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: on a virtual
    machine, steal is time the host ran something else on our CPUs."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def canary(spark) -> dict:
    """Host-noise probe, identical work every call: a fixed numpy matmul
    and a fixed Spark range-sum. Both are run once untimed first, since
    a cold first sample reads several times the steady state."""
    import numpy as np

    def matmul():
        a = np.arange(512 * 512, dtype=np.float64).reshape(512, 512) / 1e6
        eye = np.eye(512)
        for _ in range(8):
            a = a @ eye

    def range_sum():
        spark.range(10_000_000).selectExpr("sum(id * 3 + 1) as s").collect()

    out = {}
    for name, fn in (("numpy_s", matmul), ("jvm_s", range_sum)):
        fn()
        t0 = time.perf_counter()
        fn()
        out[name] = time.perf_counter() - t0
    return out


def timed_op(workload, i: int, tracer=None):
    """One operation: (index, seconds, payload or None if it raised, traced)."""
    t0 = time.perf_counter()
    try:
        payload = workload.op(i, tracer)
    except Exception:
        traceback.print_exc()
        payload = None
    return i, time.perf_counter() - t0, payload, tracer is not None


def closed_loop(workload, first_index: int, seconds: float, tracer=None):
    """Run operations back to back until ``seconds`` have passed (at
    least one; two with a tracer). With a tracer, every second operation
    is traced, so traced and untraced ones see the same warm-up."""
    ops = []
    end = time.perf_counter() + seconds
    i = first_index
    while len(ops) < (2 if tracer else 1) or time.perf_counter() < end:
        traced = tracer is not None and (i - first_index) % 2 == 1
        ops.append(timed_op(workload, i, tracer if traced else None))
        i += 1
    return ops


def stop_spark(spark) -> None:
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "etl_orders_to_bq_spark" / "__init__.py").is_file():
        print(f"no etl_orders_to_bq_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    env_for_spark()

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = WORK / "runs" / f"{run_id}-{os.getpid()}"
    try:
        return _run(args, workload, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, workload, run_id: str, run_dir: Path) -> int:
    from etl_orders_to_bq_spark.session import get_spark
    from workloads import PER_LAYER

    phases = {"start": time.perf_counter()}
    data = gen.write_dataset(run_dir / "data", args.seed, workload.n_orders, workload.n_products)
    phases["gen"] = time.perf_counter()
    # a traced run reports no set-up metric
    setup = [] if args.trace else [setup_sample() for _ in range(SETUP_SAMPLES - 1)]
    t0 = time.perf_counter()
    spark = get_spark()
    setup.append(time.perf_counter() - t0)
    try:
        attempted = failed = 0
        workload.prepare(spark, data, run_dir / "out")
        first = [timed_op(workload, 0)]
        phases["setup_first"] = time.perf_counter()
        # the JIT keeps speeding operations up for many operations after
        # the cold one. Warming up by count, not time, starts every run's
        # window at the same point of that curve, so a slow host is not
        # also measured earlier on it.
        warmup = [timed_op(workload, i) for i in range(1, 1 + workload.warmup_ops)]
        phases["warmup"] = time.perf_counter()
        start = 1 + len(warmup)
        canary_start = canary(spark)
        steal0, total0 = cpu_ticks()
        layers = {}
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, run_id)
        phases["canary"] = time.perf_counter()
        window = closed_loop(workload, start, args.seconds, tracer)
        phases["window"] = time.perf_counter()
        steal1, total1 = cpu_ticks()
        timed = [op for op in window if not op[3]]
        if tracer:
            layers, checks = workload.layer_metrics(tracer)
            attempted += len(checks)
            failed += checks.count(False)
            layers["trace.overhead_ratio"] = (
                statistics.median(t for _, t, _, traced in window if traced)
                / statistics.median(t for _, t, _, _ in timed)
            )
            layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        canary_end = canary(spark)

        # after timing, so that it warms nothing the first operation pays
        if hasattr(workload, "golden_ok"):
            attempted += 1
            failed += not workload.golden_ok()
        for _, _, payload, _ in first + warmup + window:
            attempted += 1
            try:
                ok = payload is not None and workload.check(payload)
            except Exception:
                traceback.print_exc()
                ok = False
            failed += not ok
        phases["check"] = time.perf_counter()
        if tracer:
            tracer.write(WORK / "results" / f"{run_id}.spans.json", layers=layers)
    finally:
        stop_spark(spark)
    phases["stop"] = time.perf_counter()

    good = [t for _, t, p, _ in timed if p is not None]
    if not good:
        print("every timed operation failed", file=sys.stderr)
        return 1
    p50 = statistics.median(good)
    e2e = {
        "setup_s": statistics.median(setup),
        "first_run_s": first[0][1],
        "run_p50_ms": 1000.0 * p50,
        "rows_per_s": workload.rows_per_op / p50,
    }
    if args.trace:
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"layer metrics missing from PER_LAYER: {sorted(unknown)}")
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
    record = {
        "run": run_id,
        "ops": len(good),
        "op_seconds": [t for _, t, _, _ in timed],
        "setup_samples": setup,
        "canary": {"start": canary_start, "end": canary_end,
                   "window_steal_share": (steal1 - steal0) / max(1, total1 - total0)},
        "truth": data.truth,
        "end_to_end": e2e,
        "layers": layers,
        "phase_s": {k: phases[k] - phases[p] for p, k in zip(phases, list(phases)[1:])},
    }
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{run_id}.json").write_text(json.dumps(record, indent=1))
    print("canary " + json.dumps(record["canary"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Time named registry entries apart from the rest of the suite (guide
§1.4), on bench.py's session and pass loop, so the numbers compare
with the headline's. Usage:

    python scripts/measure_standalone.py name1 name2 ... [--runs N]

Runs N interleaved passes over the names (bench.timed_passes: an entry
whose construction runs SQL is rebuilt and timed as construction +
force, any other re-forces one frame). Prints the Spark JVM's pid
first, so a parallel jcmd/jstack watch can attach to it, then one
timestamped line per force, then {min, median, runs} per entry."""

from __future__ import annotations

import argparse
import functools
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, and they inherit the
# environment, not this process's sys.path: set it before the JVM starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+", help="registry entry names")
    ap.add_argument("--runs", type=int, default=3)
    opts = ap.parse_intermixed_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry
    import bench

    spark = bench.bench_session("measure_standalone")
    qs = entry.queries()
    jvm = spark.sparkContext._jvm
    print("JVMPID", jvm.java.lang.ProcessHandle.current().pid(), flush=True)
    builds = {n: functools.partial(qs[n], spark, sf_dir) for n in opts.names}
    walls: dict[str, list[float]] = {n: [] for n in opts.names}
    for p, name, s in bench.timed_passes(spark, builds, opts.runs):
        walls[name].append(s["wall"])
        print(f"{time.time():.1f} p{p} {name:26s} {s['wall']:7.2f}s", flush=True)
    for name, ts in walls.items():
        print(
            f"{name}: min={min(ts)} median={statistics.median(ts)} "
            f"runs={ts}",
            flush=True,
        )


if __name__ == "__main__":
    main()

"""Attribution probe for the suite's 32-core anti-scaling (r14).

Replays a bench-shaped workload (the first headline entries through
bench.py's session and interleaved pass loop) while sampling
driver-JVM health counters through JMX after every query:

- JIT: total compilation time, code-cache pool usage/max (three
  CodeHeap pools on JDK 17), compiles disabled?
- GC: collection count/time per collector
- codegen: CodegenMetrics source-compile count/time

Usage:
    python scripts/jit_probe.py [n_queries] [passes]

Prints a per-query line and a final summary; pure diagnostics, no
engine behavior touched.
"""

from __future__ import annotations

import functools
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, and they inherit the
# environment, not this process's sys.path: set it before the JVM starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402


def jvm_stats(spark) -> dict:
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    comp = mf.getCompilationMXBean()
    out = {
        "jit_ms": comp.getTotalCompilationTime(),
        "gc": {},
        "pools": {},
    }
    gcs = mf.getGarbageCollectorMXBeans()
    for i in range(gcs.size()):
        g = gcs.get(i)
        out["gc"][g.getName()] = {
            "count": g.getCollectionCount(),
            "ms": g.getCollectionTime(),
        }
    pools = mf.getMemoryPoolMXBeans()
    for i in range(pools.size()):
        p = pools.get(i)
        name = p.getName()
        if "CodeHeap" in name or "Metaspace" in name:
            u = p.getUsage()
            out["pools"][name] = {
                "used_mb": round(u.getUsed() / 1048576, 1),
                "max_mb": round(u.getMax() / 1048576, 1),
            }
    # Spark's own codegen compile metrics (source -> class via janino)
    try:
        cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
        out["janino_compiles"] = (
            cm.METRIC_SOURCE_CODE_SIZE().getCount()
        )
        out["janino_compile_ms"] = (
            cm.METRIC_COMPILATION_TIME().getSnapshot().getMean()
        )
    except Exception:
        pass
    return out


def main() -> None:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.bench_session("jit_probe")
    qs = entry.queries()

    names = [n for n in bench.HEADLINE if n in qs][:n_queries]
    # always end each pass with the two sentinels we are attributing
    for sentinel in ("phash_neardup", "ransac_line"):
        if sentinel in names:
            names.remove(sentinel)
        names.append(sentinel)

    base = jvm_stats(spark)
    print("BASE", json.dumps(base))

    builds = {n: functools.partial(qs[n], spark, sf_dir) for n in names}
    for p, name, sample in bench.timed_passes(spark, builds, passes):
        s = jvm_stats(spark)
        tot_gc = sum(g["ms"] for g in s["gc"].values())
        cc_used = sum(
            v["used_mb"] for k, v in s["pools"].items() if "CodeHeap" in k
        )
        cc_max = sum(
            v["max_mb"] for k, v in s["pools"].items() if "CodeHeap" in k
        )
        print(
            f"p{p} {name:28s} {sample['wall']:7.2f}s "
            f"jit={s['jit_ms']/1000:7.1f}s "
            f"gc={tot_gc/1000:6.1f}s cc={cc_used:.0f}/{cc_max:.0f}MB "
            f"janino={s.get('janino_compiles', '?')}",
            flush=True,
        )
    print("FINAL", json.dumps(jvm_stats(spark)))


if __name__ == "__main__":
    main()

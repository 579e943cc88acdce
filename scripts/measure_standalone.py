"""Standalone noop-sink min-of-N measurement for named registry
entries (guide §1.4): isolates a query from suite state. Usage:

    python scripts/measure_standalone.py name1 name2 ... [--runs N]

Prints per-entry {min, median, runs}; ITERATIVE-style entries are
always rebuilt per run (construction included) — the conservative
accounting."""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+", help="registry entry names")
    ap.add_argument("--runs", type=int, default=3)
    opts = ap.parse_intermixed_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")

    import __spark_entry__ as entry
    from etl_orders_to_bq_spark.session import get_spark

    spark = get_spark(
        app_name="measure_standalone",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.sql.codegen.cache.maxEntries": "16384"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    force(qs["q1_pricing_summary"](spark, "/root/testdata/sf0.001"))
    for name in opts.names:
        ts = []
        for _ in range(opts.runs):
            t0 = time.perf_counter()
            force(qs[name](spark, sf_dir))
            ts.append(round(time.perf_counter() - t0, 3))
        print(
            f"{name}: min={min(ts)} median={statistics.median(ts)} "
            f"runs={ts}",
            flush=True,
        )


if __name__ == "__main__":
    main()

"""2-D skyline (Pareto-frontier) query — the classic "best
trade-off" OLAP operator (Börzsönyi et al., "The Skyline Operator",
ICDE 2001, public literature). A row survives when no other row is
<= on BOTH criteria and strictly < on at least one (min-min
orientation).

No counterpart in the reference engine (its full surface is
`etl/orders_etl.py:17-198`); fills the SURVEY.md §2.2 sorts/top-k
absence family with the multi-criteria variant top-k can't express.

Algorithm (all relational, no all-pairs dominance join):
1. group by x -> min(y) per distinct x              (one shuffle)
2. running STRICT-PREFIX min of y over x ascending  (two-pass, below)
3. a distinct x is on the frontier iff its min-y beats every
   smaller-x min-y: ``y < prefix_min`` (ties on y lose to a cheaper
   x; equal (x, y) duplicates are mutually non-dominating and all
   survive)
4. broadcast-join the (frontier x, y) pairs back to the full rows

The running min in step 2 is NOT a global single-partition window:
``repartitionByRange`` on x keeps per-partition frames local, the
per-partition minima (numPartitions scalars) collect to the driver,
and a broadcast prefix-min map seeds each partition — the same
two-pass shape as ranking.global_row_number. Skylines are tiny in
practice (O(log n) points for independent dimensions), so the
join-back side always broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .staging import stage


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Rows of ``df`` on the min-min Pareto frontier of
    ``(x_col, y_col)``, original schema preserved.

    Dominance is non-strict on both axes with strict on one — the
    textbook definition, mirrored literally by the SQL oracle.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    per_x = stage(
        df.groupBy(x_col)
        .agg(F.min(y_col).alias("__y"))
        .repartitionByRange(n, F.col(x_col))
        .withColumn("__pid", F.spark_partition_id()),
        "skyline_perx",
    )
    # pass 1: per-partition min(y) -> strict-prefix min per partition
    part_mins = {
        r["__pid"]: r["m"]
        for r in per_x.groupBy("__pid")
        .agg(F.min("__y").alias("m"))
        .collect()
    }
    prefix: dict[int, float] = {}
    acc = None
    for pid in sorted(part_mins):
        if acc is not None:
            prefix[pid] = acc
        acc = part_mins[pid] if acc is None else min(acc, part_mins[pid])
    # pass 2: local strict-preceding window + the broadcast seed
    w = (
        Window.partitionBy("__pid")
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prev = F.min("__y").over(w)
    if prefix:
        seed_expr = F.create_map(
            *[F.lit(v) for kv in prefix.items() for v in kv]
        )[F.col("__pid")]
    else:
        seed_expr = F.lit(None).cast(per_x.schema["__y"].dataType)
    prev_min = F.least(
        F.coalesce(local_prev, seed_expr),
        F.coalesce(seed_expr, local_prev),
    )
    frontier = (
        per_x.withColumn("__prev", prev_min)
        .filter(F.col("__prev").isNull() | (F.col("__y") < F.col("__prev")))
        .select(F.col(x_col).alias("__fx"), F.col("__y").alias("__fy"))
    )
    return df.join(
        F.broadcast(frontier),
        (F.col(x_col) == F.col("__fx")) & (F.col(y_col) == F.col("__fy")),
    ).drop("__fx", "__fy")

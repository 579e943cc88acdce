"""Global ranking without a single-partition window.

``Window.orderBy(...)`` with no partition key moves EVERY row to one
task — the classic scale cliff for global row_number / ntile / rank
(Spark even logs "No Partition Defined for Window operation"). But an
exact global total order does not need a global window:

1. ``repartitionByRange`` on the order columns — each partition holds a
   contiguous, disjoint key range, partitions ordered by partition id;
2. a per-partition ``row_number`` window (partitioned by
   ``spark_partition_id()`` — parallel, no single-task bottleneck);
3. per-partition counts (one tiny agg, ≤ num_partitions rows to the
   driver — same bounded-collect contract as IVF centroid ranking)
   prefix-summed into offsets and broadcast back as a map literal.

global_rn = offset[pid] + local_rn. Exact, deterministic for a total
order (pass enough columns to break ties), and every stage is
partition-parallel: the cost is one range shuffle + one hash shuffle
of (pid)-partitioned windows instead of one all-rows-to-one-task sort.

The ranged frame is eagerly staged before the counts action: range
boundaries come from sampling, so the offsets MUST be computed from
the same materialized partitioning the row numbers use — recomputing
the shuffle between the two actions could legally resample different
boundaries.

No counterpart in the reference engine (SURVEY.md §2.2 "sorts/limits"
absence family — the reference never ranks; pandas would do this as a
single-process argsort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .staging import stage


def _global_row_number_with_total(
    df: DataFrame,
    order_cols: list,
    num_partitions: int | None,
    out_col: str,
) -> tuple[DataFrame, int]:
    """Shared core: the numbered frame plus the total row count (the
    prefix-sum accumulator — already known driver-side, so callers
    needing the total never schedule a second counting job)."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = stage(
        df.repartitionByRange(n, *cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        "ranked_input",
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:  # empty input: no map literal to build
        out = ranged.drop("__pid").withColumn(
            out_col, F.lit(None).cast("long")
        )
        return out, 0
    off_expr = F.create_map(
        *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    out = (
        ranged.withColumn("__local_rn", F.row_number().over(w))
        .withColumn(
            out_col,
            (off_expr[F.col("__pid")] + F.col("__local_rn")).cast("long"),
        )
        .drop("__pid", "__local_rn")
    )
    return out, acc


def global_row_number(
    df: DataFrame,
    order_cols: list,
    num_partitions: int | None = None,
    out_col: str = "rn",
) -> DataFrame:
    """Append exact 1-based global row numbers under the total order
    given by ``order_cols`` (Column expressions or names; include a
    unique tie-break column — equal keys across a range boundary would
    otherwise make the numbering partition-dependent). The ranged
    frame is staged through ``staging.stage``, like the iterative
    graph operators."""
    out, _ = _global_row_number_with_total(
        df, order_cols, num_partitions, out_col
    )
    return out


def global_cumsum_before(
    df: DataFrame,
    order_cols: list,
    value_col: str | list,
    num_partitions: int | None = None,
    out_col: str | list = "cum_before",
) -> DataFrame:
    """Exact running sum of ``value_col`` over all rows STRICTLY
    BEFORE the current row in the total order of ``order_cols`` —
    without a single-partition window. Same two-pass shape as
    ``global_row_number``: range-shuffle, a per-partition exclusive
    running sum (window partitioned by partition id — parallel), and
    a bounded driver collect of per-partition TOTALS prefix-summed
    into offsets. ``value_col`` must be integral; sums are kept as
    longs (callers needing >int64 headroom cast the value up first).
    ``order_cols`` must be a TOTAL order — include a unique
    tie-break column, the same contract as ``global_row_number``;
    tied keys would get nondeterministic relative ``cum_before``
    values. Every in-repo caller passes distinct keys
    (per-distinct-value count tables / unique key columns).

    ``value_col``/``out_col`` also take LISTS (same length): all
    columns cumulate over ONE range shuffle, one totals collect, and
    one window pass — chaining single-column calls doubles the
    heaviest stages (measured r8: ks_two_sample and gini_stump both
    chained two passes; the fused form removes a range shuffle, a
    stage materialization, and a driver collect each).

    This is the rank-statistics primitive: with per-distinct-value
    count rows, ``cum_before`` is exactly "number of items below
    this value", which yields average ranks, Mann-Whitney U,
    empirical CDFs, and Gini gain curves with no scale cliff."""
    value_cols = (
        [value_col] if isinstance(value_col, str) else list(value_col)
    )
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(value_cols) != len(out_cols):
        raise ValueError(
            f"value_col/out_col length mismatch: {value_cols} vs "
            f"{out_cols}"
        )
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = stage(
        df.repartitionByRange(n, *cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        "cumsum_input",
    )
    # bounded collect: one (pid, sums...) row per partition
    totals = {
        r["__pid"]: [r[f"s{i}"] for i in range(len(value_cols))]
        for r in ranged.groupBy("__pid")
        .agg(
            *[
                F.sum(vc).cast("long").alias(f"s{i}")
                for i, vc in enumerate(value_cols)
            ]
        )
        .collect()
    }
    if not totals:
        out = ranged.drop("__pid")
        for oc in out_cols:
            out = out.withColumn(oc, F.lit(None).cast("long"))
        return out
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = ranged
    for i, (vc, oc) in enumerate(zip(value_cols, out_cols)):
        offsets: dict[int, int] = {}
        acc = 0
        for pid in sorted(totals):
            offsets[pid] = acc
            acc += totals[pid][i] or 0
        off_expr = F.create_map(
            *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
        )
        local = F.coalesce(F.sum(vc).over(w), F.lit(0))
        out = out.withColumn(
            oc, (off_expr[F.col("__pid")] + local).cast("long")
        )
    return out.drop("__pid")


def scalable_ntile(
    df: DataFrame,
    order_cols: list,
    n_buckets: int,
    num_partitions: int | None = None,
    out_col: str = "ntile",
) -> DataFrame:
    """Exact ``ntile(n)`` semantics without a global window.

    Reproduces Spark/SQL ntile bit-for-bit: with total rows T,
    q = T // n and r = T %% n, the first r buckets hold q+1 rows and
    the rest hold q. Built on ``global_row_number``, so every stage is
    partition-parallel; the oracle-parity gate (`decile_report`)
    verifies equality with the window ntile."""
    ranked, total = _global_row_number_with_total(
        df, order_cols, num_partitions, "__rn"
    )
    q, r = divmod(total, n_buckets)
    rn = F.col("__rn")
    if q == 0:
        # fewer rows than buckets: row i goes to bucket i
        bucket = rn
    else:
        head = r * (q + 1)
        bucket = F.when(
            rn <= head, F.floor((rn - 1) / (q + 1)) + 1
        ).otherwise(F.lit(r) + F.floor((rn - 1 - head) / q) + 1)
    return ranked.withColumn(out_col, bucket.cast("int")).drop("__rn")


def shard_plan(
    df: DataFrame,
    key_cols: list,
    num_shards: int,
) -> DataFrame:
    """Plan a balanced range-sharding of ``df`` on ``key_cols``: the
    boundary table a writer (``sinks.write_range_sorted``) or a
    downstream range-partitioner needs — ``(shard_id, n_rows,
    lo_<key>, hi_<key>)`` per shard, shard sizes differing by at most
    one row, EXACTLY (repartitionByRange samples, so its split sizes
    wobble; a 100 TB backfill that must produce uniform output files
    plans the cut points first and range-partitions by plan).

    Shard of global rank r (1-based) is ``floor((r-1) * k / n)`` —
    the even-spread balanced assignment, deterministic given a total
    order (include a unique tie-break in ``key_cols``).

    Scale: ranks come from the two-pass exact numbering
    (``global_row_number`` — range partition + per-partition numbering
    + broadcast prefix offsets, no single-partition window); the plan
    rollup is ONE map-side-combinable groupBy on shard_id carrying
    only key bounds. Output is k rows — driver/broadcast sized.
    """
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    ranked, total = _global_row_number_with_total(
        df.select(*[F.col(c) if isinstance(c, str) else c for c in key_cols]),
        key_cols,
        None,
        "__rn",
    )
    names = [
        c if isinstance(c, str) else ranked.select(c).columns[0]
        for c in key_cols
    ]
    if total == 0:
        # same schema as the non-empty path (shard_id, n_rows, lo_/hi_
        # per key) so empty-partition plans union/consume cleanly
        empty = ranked.limit(0)
        sel = [
            F.lit(None).cast("int").alias("shard_id"),
            F.lit(None).cast("long").alias("n_rows"),
        ]
        for n in names:
            sel.append(F.col(n).alias(f"lo_{n}"))
            sel.append(F.col(n).alias(f"hi_{n}"))
        return empty.select(*sel)
    shard = F.floor(
        (F.col("__rn") - 1) * F.lit(num_shards) / F.lit(total)
    ).cast("int")
    aggs = [F.count("*").alias("n_rows")]
    for n in names:
        aggs.append(F.min(n).alias(f"lo_{n}"))
        aggs.append(F.max(n).alias(f"hi_{n}"))
    return (
        ranked.withColumn("shard_id", shard)
        .groupBy("shard_id")
        .agg(*aggs)
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact lower weighted median — the robust location estimate for
    weighted data (sample weights, token counts, monetary volume):
    the smallest value v whose cumulative weight reaches half the
    total, computed with NO global window and NO float arithmetic.

    Weights must be integral (cast decimals up by their scale first);
    the decision ``2*(cum_before(v) + w(v)) >= W`` is an exact long
    comparison, so the answer is partitioning-invariant by
    construction. Built on per-distinct-value weight sums +
    ``global_cumsum_before`` (range shuffle + per-partition windows
    + a bounded offsets collect).

    Output: one row ``(total_weight, weighted_median)``; NULLs on an
    empty/all-null input.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation family).
    """
    vc = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
        )
        .groupBy(F.col(value_col).alias("__v"))
        .agg(F.sum(F.col(weight_col).cast("long")).alias("__w"))
    )
    cum = global_cumsum_before(
        vc, ["__v"], "__w", num_partitions=num_partitions,
        out_col="__below",
    )
    tot = cum.agg(
        F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("total_weight")
    )
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            F.lit(2) * (F.col("__below") + F.col("__w"))
            >= F.col("total_weight")
        )
        .agg(F.min("__v").alias("weighted_median"))
    )
    return tot.crossJoin(med)


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    id_col: str,
    k: int,
    descending: bool = True,
) -> DataFrame:
    """Exact per-group top-k WITHOUT a per-group window shuffle of
    raw rows — the BOUNDED-MEMORY alternative to ``row_number() over
    (partition by g order by v)``:

    1. per (group, input-partition) top-k: sort_array + slice over a
       partition-local collect_list (bounded by the rows one task
       holds — map-side in spirit, no extra shuffle);
    2. explode the ≤ k·P survivors and take the final top-k per
       group with one groupBy over ≤ k·P rows per group.

    WHEN TO USE — an honest measurement: the window form moves every
    row of a hot group to ONE task, but Tungsten's external sort is
    so fast that on local[16] at 10M rows / 97% one group the window
    wins on wall time (1.7s warm vs 24s — the interpreted
    collect_list/sort_array fold is the combiner's cost). The
    combiner's value is the MEMORY bound, not speed: its per-task
    state is capped by one input partition's group rows, while the
    window's single hot task must sort (spill) the whole group — the
    configuration that falls over when one group alone exceeds what
    one executor can spill-sort (trillion-row power-law keys at
    100 TB). Prefer the window form until a single group stops
    fitting a task; then this. The total order is (value
    desc-or-asc, id ASC) — the row_number convention — via an
    ascending sort on the struct (sign-flipped numeric value, id),
    so the result equals the window top-k row-for-row
    (pytest-asserted). Numeric order columns only (the sign flip).
    Output: ``(group..., rank, order_col, id_col)``.

    No counterpart in the reference engine (SURVEY.md §2.2
    sorts/limits absence family).
    """
    groups = [F.col(c) for c in group_cols]
    v = F.col(order_col)
    key = (-v) if descending else v
    # NULL placement must mirror the window form: desc = nulls LAST,
    # asc = nulls FIRST (Spark sort defaults). A leading null-flag
    # field pins that inside the ascending struct sort; ties among
    # NULL values still break by id asc, as row_number does.
    null_flag = (
        F.when(v.isNull(), 1).otherwise(0)
        if descending
        else F.when(v.isNull(), 0).otherwise(1)
    )
    item = F.struct(
        null_flag.alias("nf"),
        key.alias("k"),
        F.col(id_col).alias("i"),
        v.alias("v"),
    )
    part = df.groupBy(
        F.spark_partition_id().alias("__pid"), *groups
    ).agg(
        F.slice(
            F.sort_array(F.collect_list(item)), 1, int(k)
        ).alias("__a")
    )
    survivors = part.select(*groups, F.explode("__a").alias("__s"))
    final = survivors.groupBy(*groups).agg(
        F.slice(
            F.sort_array(F.collect_list("__s")), 1, int(k)
        ).alias("__a")
    )
    exploded = final.select(
        *groups, F.posexplode("__a").alias("__rk", "__s")
    )
    return exploded.select(
        *groups,
        (F.col("__rk") + 1).cast("int").alias("rank"),
        F.col("__s.v").alias(order_col),
        F.col("__s.i").alias(id_col),
    )


# 97.5% normal quantile, repr'd so both engines parse the identical
# double (the deterministic-constant discipline of operators/multitest)
_Z975 = 1.959963984540054


def median_ci(
    df: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact distribution-free 95% confidence interval for the median
    via order statistics (the binomial/normal-approximation rank
    bounds — Conover, Practical Nonparametric Statistics, public
    literature): with n non-null values,

        lo_rank = floor((n - z·√n) / 2),        clamped to ≥ 1
        hi_rank = ceil (1 + (n + z·√n) / 2),    clamped to ≤ n

    and the interval is [value@lo_rank, value@hi_rank] with the
    lower median value@((n+1)//2) — pure rank selection, NO
    bootstrap resampling and NO distributional assumption on the
    data.

    Ranks come from the two-pass ``global_row_number`` (no
    single-partition sort); n is the total the two-pass already
    collected, so the rank arithmetic is exact driver-side integer/
    IEEE math over the repr'd z — the oracle replays the identical
    formula in SQL. Output: one row ``(n, ci_lo, median, ci_hi)``;
    all-NULL/empty input yields n=0 and NULLs.
    """
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v")
    )
    ranked, n = _global_row_number_with_total(
        vals, ["__v"], num_partitions, "__rn"
    )
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [(0, None, None, None)],
            "n long, ci_lo double, median double, ci_hi double",
        )
    import math

    half_width = _Z975 * math.sqrt(float(n))
    lo = max(1, math.floor((n - half_width) / 2.0))
    hi = min(n, math.ceil(1.0 + (n + half_width) / 2.0))
    med = (n + 1) // 2
    picks = ranked.filter(F.col("__rn").isin([lo, med, hi]))
    return picks.agg(
        F.lit(n).cast("long").alias("n"),
        F.min(F.when(F.col("__rn") == lo, F.col("__v"))).alias("ci_lo"),
        F.min(F.when(F.col("__rn") == med, F.col("__v"))).alias("median"),
        F.min(F.when(F.col("__rn") == hi, F.col("__v"))).alias("ci_hi"),
    )


def abc_classification(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    a_pct: int = 80,
    b_pct: int = 95,
    num_partitions: int | None = None,
) -> DataFrame:
    """ABC / Pareto inventory classification — the 80/15/5 revenue
    segmentation every supply-chain and catalog team runs (Pareto
    analysis, public literature): keys sorted by total weight
    descending; a key is class A while the cumulative share
    INCLUDING it stays ≤ ``a_pct``%, B while ≤ ``b_pct``%, else C.

    Exactness: weights must be integral (pass cents, not dollars) so
    per-key totals and the running cumulative are exact longs; the
    class decision is the exact integer comparison
    ``100·cum ≤ pct·total`` — no float anywhere in the cut, and the
    reported ``cum_share`` is one rounded division. Ties break by
    key ascending (total order), so the classing is deterministic.

    Scale: one per-key groupBy (map-side combinable), then the
    two-pass ``global_cumsum_before`` over the key table — no
    single-partition window at any key count. Output: ``(key,
    weight, cum_share, abc_class)``.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation family).
    """
    per = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.sum(F.col(weight_col).cast("long")).alias("__w")
    )
    cum = global_cumsum_before(
        per,
        [F.col("__w").desc(), F.col("__k")],
        "__w",
        num_partitions=num_partitions,
        out_col="__below",
    )
    tot = cum.agg(
        F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("__tot")
    )
    j = cum.crossJoin(F.broadcast(tot))
    incl = F.col("__below") + F.col("__w")
    cls = (
        F.when(
            F.lit(100) * incl <= F.lit(int(a_pct)) * F.col("__tot"), "A"
        )
        .when(
            F.lit(100) * incl <= F.lit(int(b_pct)) * F.col("__tot"), "B"
        )
        .otherwise("C")
    )
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__w").alias(weight_col),
        F.when(
            F.col("__tot") > 0, F.round(incl / F.col("__tot"), 6)
        ).alias("cum_share"),
        cls.alias("abc_class"),
    )


def curriculum_order(
    df: DataFrame,
    order_cols: list,
    n_buckets: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """Curriculum interleave: difficulty-tile the corpus by
    ``order_cols`` (ascending = easiest first), then emit a
    deterministic round-robin training order that cycles one item per
    difficulty tile — the standard curriculum/anti-curriculum data
    ordering (public training-recipe literature) that keeps every
    batch difficulty-mixed while still sweeping easy-to-hard within
    each cycle.

    Appends three columns: ``bucket`` (the exact ntile, 1..n),
    ``cycle`` (the row's 1-based position within its bucket), and
    ``curriculum_key = (cycle - 1) * n_buckets + bucket`` — sorting by
    it yields bucket 1's first item, bucket 2's first, ..., then every
    bucket's second item, and so on. Keys are unique ((cycle, bucket)
    is) but SPARSE once the small buckets run dry (the last r buckets
    hold one fewer row when n doesn't divide T): the key is an
    ORDERING, not a dense position — a consumer needing dense ids
    re-ranks by it (one more global numbering).

    Scale: everything derives arithmetically from ONE global row
    number (``_global_row_number_with_total`` — range repartition +
    per-partition windows + a collected offset map; no global window,
    no per-bucket window: the bucket's start offset is a closed-form
    function of q, r, so ``cycle = rn - start`` is a projection).
    """
    ranked, total = _global_row_number_with_total(
        df, order_cols, num_partitions, "__rn"
    )
    q, r = divmod(total, n_buckets)
    rn = F.col("__rn")
    if q == 0:
        bucket = rn
        start = rn - 1
    else:
        head = r * (q + 1)
        bucket = F.when(
            rn <= head, F.floor((rn - 1) / (q + 1)) + 1
        ).otherwise(F.lit(r) + F.floor((rn - 1 - head) / q) + 1)
        start = F.when(
            rn <= head, (bucket - 1) * (q + 1)
        ).otherwise(F.lit(head) + (bucket - 1 - r) * q)
    cycle = (rn - start).cast("long")
    b = bucket.cast("int")
    return (
        ranked.withColumn("bucket", b)
        .withColumn("cycle", cycle)
        .withColumn(
            "curriculum_key",
            ((cycle - 1) * n_buckets + F.col("bucket")).cast("long"),
        )
        .drop("__rn")
    )

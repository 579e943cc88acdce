"""Data-quality profiling — the pre-flight check of every production
ETL load (the reference trusts its inputs blindly; at 100 TB you
cannot).

``profile`` computes per-column metrics in ONE pass over the table
(a single aggregate projection, no shuffle beyond the final combine):
null count, distinct count (exact), min/max. Output is long-form
(column, metric, value) so it feeds dashboards/expectation checks
without schema churn.

``expect`` turns a profile into assertions (fail-fast quality gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-form per-column metrics: (column, metric, value as string).

    Values stringified so heterogeneous column types share one output
    schema; numeric consumers cast back.
    """
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(F.count("*").alias("__rows"), *aggs)

    pairs = [
        ("__rows", F.lit("_table"), F.lit("rows")),
    ]
    stacked = []
    for c in cols:
        for metric in ("nulls", "distinct", "min", "max"):
            stacked.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(metric).alias("metric"),
                    F.col(f"{c}__{metric}").cast("string").alias("value"),
                )
            )
    stacked.append(
        F.struct(
            F.lit("_table").alias("column"),
            F.lit("rows").alias("metric"),
            F.col("__rows").cast("string").alias("value"),
        )
    )
    return row.select(F.explode(F.array(*stacked)).alias("m")).select(
        "m.column", "m.metric", "m.value"
    )


class QualityError(ValueError):
    pass


def expect(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    accepted_values: dict[str, list[str]] | None = None,
) -> None:
    """Fail-fast expectations; raises QualityError listing violations.

    One aggregation job total — violations counted, not collected.
    """
    checks = []
    for c in not_null or []:
        checks.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"not_null:{c}")
        )
    for c in unique or []:
        checks.append(
            (F.count(c) - F.countDistinct(c)).alias(f"unique:{c}")
        )
    for c, vals in (accepted_values or {}).items():
        checks.append(
            F.count(F.when(~F.col(c).isin(vals) & F.col(c).isNotNull(), 1)).alias(
                f"accepted:{c}"
            )
        )
    if not checks:
        return
    row = df.agg(*checks).first()
    violations = {k: v for k, v in row.asDict().items() if v and v > 0}
    if violations:
        raise QualityError(f"quality violations: {violations}")


def observed_write(
    df: DataFrame,
    target: str,
    metrics: dict[str, "F.Column"],
    fmt: str = "parquet",
    if_exists: str = "replace",
) -> dict:
    """Write ``df`` while collecting aggregate metrics in the SAME pass
    via ``DataFrame.observe`` — zero extra scans.

    At 100 TB a post-write validation query re-reads the whole output;
    ``observe`` attaches accumulator-style aggregates (counts, null
    counts, sums, min/max) to the write job itself, so the quality
    numbers are free. Returns the observed metrics as a dict.

    Example::

        m = observed_write(df, path, {
            "rows": F.count(F.lit(1)),
            "null_keys": F.count(F.when(F.col("k").isNull(), 1)),
            "total": F.sum("amount"),
        })
        assert m["null_keys"] == 0
    """
    from pyspark.sql import Observation

    from ..sinks.writers import write_table

    obs = Observation()
    named = [expr.alias(name) for name, expr in metrics.items()]
    observed = df.observe(obs, *named)
    write_table(observed, target, fmt=fmt, if_exists=if_exists)
    return dict(obs.get)


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | str,
    k: float = 3.0,
    scale: float = 1.4826,
    ndigits: int = 6,
) -> DataFrame:
    """Robust per-group outlier scoring via median absolute deviation.

    Appends ``robust_z = |x - median| / (scale * MAD)`` (rounded to
    ``ndigits``) and ``is_outlier = robust_z > k`` per group. ``scale``
    defaults to 1.4826, the consistency constant making MAD estimate
    sigma under normality — so ``k`` reads like a z-score threshold but
    is immune to the outliers themselves (unlike mean/stddev rules,
    where one huge value inflates sigma and masks its peers).

    Degenerate groups (MAD = 0: over half the values identical) get a
    null ``robust_z`` and ``is_outlier = false``.

    Scale: two grouped exact medians + two joins, ALL keyed on the
    group columns — one shuffle establishes the partitioning and the
    rest reuses it. Exact median is Spark's native ``median`` aggregate
    (no sort-the-world); swap in ``approx_percentile`` for sketchy
    medians if the groups are billions of rows.
    """
    gc = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    x = F.col(value_col)
    med = df.groupBy(*gc).agg(F.median(value_col).alias("__med"))
    with_med = df.join(med, gc)
    mad = with_med.groupBy(*gc).agg(
        F.median(F.abs(x - F.col("__med"))).alias("__mad")
    )
    z = F.abs(x - F.col("__med")) / (F.lit(scale) * F.col("__mad"))
    return (
        with_med.join(mad, gc)
        .withColumn(
            "robust_z", F.when(F.col("__mad") > 0, F.round(z, ndigits))
        )
        .withColumn(
            "is_outlier",
            F.coalesce(F.col("robust_z") > F.lit(k), F.lit(False)),
        )
        .drop("__med", "__mad")
    )


def winsorize_robust(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | str,
    lower: float = 0.05,
    upper: float = 0.95,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group winsorization + robust (median/IQR) scaling — the
    standard feature-conditioning pass before anything statistical
    touches heavy-tailed metrics (totals, latencies, token counts):

    - ``wins`` : ``value`` clipped into the group's [p_lower, p_upper]
      exact percentiles (tail values pulled to the fence, not dropped);
    - ``robust_z`` : ``(wins - median) / (p75 - p25)``, rounded —
      location/scale from order statistics, so the outliers being
      tamed cannot inflate their own yardstick (the mad_outliers
      argument, with IQR as the spread).

    Degenerate groups (IQR = 0: over half the values identical) get
    ``robust_z = 0.0`` — the value IS the center.

    Scale: ONE groupBy computes all five order statistics in a single
    ``percentile(value, array(...))`` aggregate (Spark's exact
    percentile, a per-group value-count map — bounded by distinct
    values, not rows), and the tiny stats table broadcast-joins back
    onto the fact: one shuffle total, projection after. No counterpart
    in the reference engine (SURVEY.md §2.2 — no aggregation at all).
    """
    gc = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    pcts = F.percentile(
        F.col(value_col),
        F.array(*[F.lit(p) for p in (lower, 0.25, 0.5, 0.75, upper)]),
    )
    stats = df.groupBy(*gc).agg(
        pcts[0].alias("__p_lo"),
        pcts[1].alias("__q1"),
        pcts[2].alias("__med"),
        pcts[3].alias("__q3"),
        pcts[4].alias("__p_hi"),
    )
    wins = F.least(
        F.greatest(F.col(value_col), F.col("__p_lo")), F.col("__p_hi")
    )
    iqr = F.col("__q3") - F.col("__q1")
    return (
        df.join(F.broadcast(stats), gc)
        .withColumn("wins", wins)
        .withColumn(
            "robust_z",
            F.when(
                iqr > 0,
                F.round((F.col("wins") - F.col("__med")) / iqr, ndigits),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__p_lo", "__q1", "__med", "__q3", "__p_hi")
    )


def quarantine(df: DataFrame, rules: dict[str, "F.Column"]) -> DataFrame:
    """Row-level expectation routing: append ``violations``, the array
    of rule names (in ``rules`` order) whose predicate the row FAILS.
    Rows with an empty array are clean; callers route
    ``size(violations) == 0`` to the main sink and the rest to a
    quarantine table — the non-fatal complement of ``expect`` (which
    aborts the load).

    A pure projection — every rule is a Column predicate evaluated in
    one pass, no shuffle, no second scan. Rules that need context
    (referential existence, statistical bounds) are expressed as
    predicates over columns prepared upstream (e.g. a broadcast
    semi-join flag), keeping this operator scan-shaped at any size.
    """
    checks = [
        F.when(~cond, F.lit(name)) for name, cond in rules.items()
    ]
    return df.withColumn(
        "violations",
        F.filter(F.array(*checks), lambda x: x.isNotNull()),
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    source_col: str,
    id_col: str,
    grid: int = 101,
    out_col: str = "normalized",
    ndigits: int = 6,
) -> DataFrame:
    """Map every source's value distribution onto the GLOBAL empirical
    distribution — the cross-source calibration step for metrics whose
    scale drifts per source (per-crawl quality scores, per-device
    latencies): after normalization, a value's meaning is its rank,
    expressed in the global distribution's units.

        r       = rank of the row within its source (value, id order)
        k       = floor((r-1)*(grid-1)/(n_source-1) + 0.5)
        output  = global exact percentile at k/(grid-1)

    ``grid`` quantile points trade resolution for state: the reference
    distribution is ONE ``percentile(value, array(...))`` aggregate
    (the winsorize_robust discipline) broadcast everywhere — never a
    global sort. Per-row work is a source-partitioned rank window (one
    shuffle) plus a broadcast join on the integer grid index. The grid
    index is computed as ``floor((r-1)*(grid-1)/(n-1) + 0.5)`` with the
    multiplication BEFORE the division — integer inputs, one IEEE
    multiply + divide, so every engine lands the identical index
    (single-row sources pin to the middle grid point). At 100 TB the
    grid build switches to ``percentile_approx``/KLL or a hash-sample
    with the same interface; the exact build here is what a SQL oracle
    replays.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation at all); quantile normalization per Bolstad et al.
    2003, public literature.
    """
    if grid < 2:
        raise ValueError(f"grid must be >= 2, got {grid}")
    f = df.filter(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(id_col, source_col, value_col)
    pts = [k / (grid - 1) for k in range(grid)]
    garr = F.percentile(F.col(value_col), F.array(*[F.lit(p) for p in pts]))
    gtab = (
        f.agg(garr.alias("__g"))
        .select(F.posexplode("__g").alias("__k", "__gval"))
        .select("__k", F.round("__gval", ndigits).alias("__gval"))
    )
    w = Window.partitionBy(source_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    ranked = f.select(
        id_col,
        source_col,
        value_col,
        F.row_number().over(w).alias("__r"),
        F.count("*").over(Window.partitionBy(source_col)).alias("__n"),
    )
    k_idx = F.when(
        F.col("__n") == 1, F.lit((grid - 1) // 2)
    ).otherwise(
        F.floor(
            ((F.col("__r") - 1) * F.lit(float(grid - 1)))
            / (F.col("__n") - 1)
            + F.lit(0.5)
        ).cast("int")
    )
    return (
        ranked.withColumn("__k", k_idx)
        .join(F.broadcast(gtab), "__k")
        .select(
            id_col,
            source_col,
            value_col,
            F.col("__gval").alias(out_col),
        )
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    bins: int = 256,
    ndigits: int = 6,
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov statistic per group vs the
    GLOBAL distribution — the distribution-drift score that catches
    shape changes PSI's coarse deciles smear out. Returns
    ``(group, n, ks_d)`` where ``ks_d`` = max over bin boundaries of
    |ECDF_group - ECDF_global|.

    Exact KS evaluates the ECDF gap at every pooled sample point — a
    per-group sort that is pointless at corpus scale; the standard
    production form bins values onto a fixed grid (here ``bins`` equal
    -width buckets over the global [min, max], from ONE 1-row stats
    agg) and takes the max gap at bin boundaries, which lower-bounds
    the exact D and converges to it as bins grow. Counts per
    (group, bin) are one map-side-combinable groupBy; cumulative sums
    run over the BIN table (|groups| x bins rows, never row data); the
    gap is a ratio of integer counts — engine-exact except the final
    division, snapped by rounding.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation at all); KS per standard statistics literature.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    f = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"), F.col(value_col).alias("v")
    )
    stats = f.agg(
        F.min("v").alias("__lo"), F.max("v").alias("__hi")
    )
    # bucket = clamp(floor((v - lo) / (hi - lo) * bins), 0, bins-1);
    # multiply-AFTER-divide pinned on both engines (one IEEE divide
    # then multiply), degenerate lo == hi puts everything in bin 0
    b = F.when(
        F.col("__hi") == F.col("__lo"), F.lit(0)
    ).otherwise(
        F.least(
            F.lit(bins - 1),
            F.floor(
                (F.col("v") - F.col("__lo"))
                / (F.col("__hi") - F.col("__lo"))
                * F.lit(float(bins))
            ).cast("int"),
        )
    )
    binned = (
        f.crossJoin(F.broadcast(stats))
        .select("grp", b.alias("__b"))
        .groupBy("grp", "__b")
        .agg(F.count("*").alias("__c"))
    )
    # ECDFs only step at bins somebody populated, and global bins are
    # the union of group bins — so evaluating the gap at GLOBAL bins is
    # exact. Build the (group x global-bin) axis with each group's
    # count (0 where absent) and take cumulative sums: the running
    # zero-filled sum IS the forward-filled cumulative.
    wa = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    glob = binned.groupBy("__b").agg(F.sum("__c").alias("__cg"))
    cum_all = glob.select(
        "__b",
        F.sum("__cg").over(wa).alias("__cum_all"),
        F.sum("__cg").over(Window.partitionBy()).alias("__n_all"),
    )
    groups = binned.groupBy("grp").agg(F.sum("__c").alias("__n_g"))
    axis = cum_all.crossJoin(F.broadcast(groups))
    wg = (
        Window.partitionBy("grp")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = axis.join(binned, ["grp", "__b"], "left").withColumn(
        "__cum_g", F.sum(F.coalesce(F.col("__c"), F.lit(0))).over(wg)
    )
    gap = F.abs(
        F.col("__cum_g") / F.col("__n_g")
        - F.col("__cum_all") / F.col("__n_all")
    )
    return (
        filled.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.max("__n_g").alias("n"),
            F.round(F.max(gap), ndigits).alias("ks_d"),
        )
        .orderBy(group_col)
    )


def freshness_audit(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    stale_minutes: int = 60,
) -> DataFrame:
    """Per-stream freshness audit — "which feeds have stopped
    arriving" relative to the newest event anywhere (the corpus
    itself is the clock: no wall-clock call, so the audit is
    deterministic and replayable): per key the event count, last
    timestamp, integer minutes behind the global max, and a
    staleness flag at ``stale_minutes``.

    Exactness: lags are ``floor((max_all - max_key) epoch-seconds
    / 60)`` — pure integer arithmetic.

    Scale: one map-side-combinable groupBy + a 1-row global max
    broadcast. The global max re-aggregates the per-key maxes,
    never rescans.
    """
    per = df.groupBy(F.col(key_col)).agg(
        F.count("*").cast("long").alias("n_events"),
        F.max(F.col(ts_col)).alias("last_ts"),
    )
    glob = F.broadcast(per.agg(F.max("last_ts").alias("__mx")))
    out = per.crossJoin(glob)
    lag_min = F.floor(
        (
            F.unix_timestamp(F.col("__mx"))
            - F.unix_timestamp(F.col("last_ts"))
        )
        / 60
    ).cast("long")
    return out.select(
        key_col,
        "n_events",
        "last_ts",
        lag_min.alias("lag_minutes"),
        (lag_min > int(stale_minutes)).alias("is_stale"),
    )


def group_quartiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """EXACT per-group quartiles with explicit type-1 (lower,
    inverted-ECDF) semantics: the q-quantile of n sorted values is
    the value at rank ``ceil(q*n)`` — no interpolation, so the
    answer is always an actual data value and engine-portable
    (interpolating definitions differ by library; percentile_approx
    differs by run). The spread table a metrics report shows next
    to means.

    Output per group: ``(group, n, p25, p50, p75)``; null values
    excluded.

    Scale: one per-group ordered window (partitioned — parallel
    across groups; a group's values bound its task, the
    o4_dedup_first profile) + one conditional rollup. For a single
    giant group use ``ranking.median_ci``'s two-pass shape instead.
    """
    from pyspark.sql import Window

    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    )
    w = Window.partitionBy("__g").orderBy(F.col("__v"))
    ranked = vals.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy("__g"))
    )
    def pick(q: float):
        target = F.ceil(F.lit(q) * F.col("__n"))
        return F.min(F.when(F.col("__rn") == target, F.col("__v")))

    return ranked.groupBy(F.col("__g").alias(group_col)).agg(
        F.max("__n").cast("long").alias("n"),
        pick(0.25).alias("p25"),
        pick(0.5).alias("p50"),
        pick(0.75).alias("p75"),
    )


def mahalanobis_outliers_2d(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    threshold: float = 9.21,
    ndigits: int = 6,
) -> DataFrame:
    """Mahalanobis-distance outliers over a 2-column metric pair
    (Mahalanobis 1936, public literature) — the correlation-aware
    upgrade to per-column z-scores: a point can be 2σ on each axis
    yet wildly anomalous AGAINST THE CORRELATION (refund amount high
    while quantity low), which axis-aligned rules never see. The
    default threshold 9.21 is the chi-square(2df) 99% cut.

    Exactness: values quantize to exact cents (decimal 18,2), so the
    moment sums (Σx, Σy, Σx², Σy², Σxy) are exact decimals; the
    closed-form 2x2 inverse clears the division:

        d²·det = n·[Syy·dx² - 2·Sxy·dx·dy + Sxx·dy²] / n²  (doubles)

    where dx = n·x - Σx (exact decimal), Sxx = n·Σx² - (Σx)², etc. —
    one fixed-order double expression per row over exact integers,
    identical cross-engine. Degenerate covariance (det <= 0:
    collinear or constant columns) yields zero rows (no metric
    exists), n < 3 likewise.

    Output: rows with d2 > threshold — ``(id_col, x, y, d2)``,
    ordered d2 desc, id. d2 is the squared Mahalanobis distance.

    Scale: one map-side-combinable moment aggregate broadcast against
    one scan — the covariance never leaves 5 numbers.
    """
    base = df.filter(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("decimal(18,2)").alias("__x"),
        F.col(y_col).cast("decimal(18,2)").alias("__y"),
    )
    mom = F.broadcast(
        base.agg(
            F.count("*").cast("long").alias("__n"),
            F.sum("__x").alias("__sx"),
            F.sum("__y").alias("__sy"),
            exact_sum("__x", "__x", scale=4).alias("__sxx"),
            exact_sum("__y", "__y", scale=4).alias("__syy"),
            exact_sum("__x", "__y", scale=4).alias("__sxy"),
        )
    )
    j = base.crossJoin(mom).filter(F.col("__n") >= 3)
    nn = F.col("__n").cast("double")
    # centered second moments x n^2: Sxx = n*Σx² - (Σx)² etc.
    j = j.withColumns(
        {
            "__cxx": nn * F.col("__sxx").cast("double")
            - F.col("__sx").cast("double")
            * F.col("__sx").cast("double"),
            "__cyy": nn * F.col("__syy").cast("double")
            - F.col("__sy").cast("double")
            * F.col("__sy").cast("double"),
            "__cxy": nn * F.col("__sxy").cast("double")
            - F.col("__sx").cast("double")
            * F.col("__sy").cast("double"),
            "__dx": nn * F.col("__x").cast("double")
            - F.col("__sx").cast("double"),
            "__dy": nn * F.col("__y").cast("double")
            - F.col("__sy").cast("double"),
        }
    )
    # sample covariance is C/(n*(n-1)) per entry (C carries one factor
    # n from the n-scaling and one from the centering), the deviations
    # carry a factor n each, so
    #   d2 = n*(n-1) * (quad/n^2) / det = (n-1) * quad / (n * det)
    # with quad the adjugate quadratic form over the scaled entries
    # (verified against the numpy inv-covariance reference)
    j = j.withColumn(
        "__det",
        F.col("__cxx") * F.col("__cyy")
        - F.col("__cxy") * F.col("__cxy"),
    ).filter(F.col("__det") > 0)
    quad = (
        F.col("__cyy") * F.col("__dx") * F.col("__dx")
        - F.lit(2.0) * F.col("__cxy") * F.col("__dx") * F.col("__dy")
        + F.col("__cxx") * F.col("__dy") * F.col("__dy")
    )
    d2 = F.round(
        (nn - F.lit(1.0)) * quad / (nn * F.col("__det")),
        ndigits,
    )
    return (
        j.select(
            F.col("__id").alias(id_col),
            F.col("__x").cast("double").alias("x"),
            F.col("__y").cast("double").alias("y"),
            d2.alias("d2"),
        )
        .filter(F.col("d2") > float(threshold))
        .orderBy(F.desc("d2"), id_col)
    )


def grubbs_test(
    df: DataFrame,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Grubbs' single-outlier statistic (Grubbs 1950, public
    literature): G = max|x - mean|/s — the classic "is the most
    extreme point an outlier" score a metrics pipeline puts next to
    ``mad_outliers`` (MAD flags many, Grubbs scores THE worst one).
    Statistic-only output (the t-based critical value is not
    portably replayable — the bartlett convention).

    Exactness: with money-grade decimals, n*x - S is an EXACT decimal
    per row, so the argmax (the suspect) is an exact-integer decision
    with a value tie-break — no float enters until the single final
    division G = max|n*x - S| / (n * s), rounded once.

    Output: one row ``(n, mean, stddev, suspect_value, g_stat)``;
    n < 3 or zero variance yields NULL g_stat/suspect.

    Scale: one moment aggregate + one max(struct) over the scan —
    both map-side combinable.
    """
    y = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(F.col(value_col).isNotNull()).select(
        y.alias("__v")
    )
    mom = F.broadcast(
        base.agg(
            F.count("*").cast("long").alias("__n"),
            exact(F.sum("__v"), 2).alias("__s"),
            exact(F.sum(exact("__v", 4) * F.col("__v")), 4).alias("__q"),
        )
    )
    j = base.crossJoin(mom)
    ndev = F.abs(
        exact("__n", 4) * exact("__v", 4) - exact("__s", 4)
    )
    picked = j.agg(
        F.max(F.struct(ndev.alias("d"), F.col("__v").alias("v"))).alias(
            "__top"
        ),
        F.max("__n").alias("n"),
        F.max("__s").alias("__s"),
        F.max("__q").alias("__q"),
    )
    nn = F.col("n").cast("double")
    mean = F.col("__s").cast("double") / nn
    var = (
        F.col("__q").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double") / nn
    ) / (nn - 1.0)
    picked = picked.withColumns(
        {"__mean": mean, "__var": var}
    )
    ok = (F.col("n") >= 3) & (F.col("__var") > 0)
    return picked.select(
        "n",
        F.round(F.col("__mean"), ndigits).alias("mean"),
        F.when(
            F.col("__var") > 0,
            F.round(F.sqrt(F.col("__var")), ndigits),
        ).alias("stddev"),
        F.when(ok, F.col("__top.v").cast("double")).alias(
            "suspect_value"
        ),
        F.when(
            ok,
            F.round(
                F.col("__top.d").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.sqrt(F.col("__var"))
                ),
                ndigits,
            ),
        ).alias("g_stat"),
    )


def dixon_q(
    df: DataFrame,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Dixon's Q ratios (Dixon 1950, public literature) — the
    gap-over-range outlier score for SMALL samples where Grubbs'
    normality machinery is shaky: Q_low = (x(2)-x(1))/(x(n)-x(1)),
    Q_high = (x(n)-x(n-1))/(x(n)-x(1)). Statistic-only (Dixon's
    critical table is not portably replayable).

    Exactness: the four order statistics are exact decimal min/max
    picks — with duplicated extremes the neighbor order statistic IS
    the extreme (gap 0, the order-statistic convention); each Q is
    one rounded division of exact decimals.

    Output: one row ``(n, x_min, x_max, q_low, q_high)``; n < 3 or
    zero range yields NULL ratios.

    Scale: two aggregates over the scan (extremes, then neighbor
    picks against the broadcast extremes).
    """
    y = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(F.col(value_col).isNotNull()).select(
        y.alias("__v")
    )
    # neighbor order statistics: if the extreme repeats, the neighbor
    # is the extreme itself (gap 0)
    stats = base.crossJoin(
        F.broadcast(
            base.agg(
                F.count("*").cast("long").alias("n"),
                F.min("__v").alias("__lo"),
                F.max("__v").alias("__hi"),
            )
        )
    ).agg(
        F.max("n").alias("n"),
        F.max("__lo").alias("__lo"),
        F.max("__hi").alias("__hi"),
        F.sum(
            F.when(F.col("__v") == F.col("__lo"), 1).otherwise(0)
        ).alias("__nlo"),
        F.sum(
            F.when(F.col("__v") == F.col("__hi"), 1).otherwise(0)
        ).alias("__nhi"),
        F.min(
            F.when(F.col("__v") > F.col("__lo"), F.col("__v"))
        ).alias("__x2"),
        F.max(
            F.when(F.col("__v") < F.col("__hi"), F.col("__v"))
        ).alias("__xn1"),
    )
    x2 = F.when(F.col("__nlo") > 1, F.col("__lo")).otherwise(
        F.col("__x2")
    )
    xn1 = F.when(F.col("__nhi") > 1, F.col("__hi")).otherwise(
        F.col("__xn1")
    )
    rng = (F.col("__hi") - F.col("__lo")).cast("double")
    ok = (F.col("n") >= 3) & (rng > 0)
    return stats.select(
        "n",
        F.col("__lo").cast("double").alias("x_min"),
        F.col("__hi").cast("double").alias("x_max"),
        F.when(
            ok,
            F.round((x2 - F.col("__lo")).cast("double") / rng, ndigits),
        ).alias("q_low"),
        F.when(
            ok,
            F.round(
                (F.col("__hi") - xn1).cast("double") / rng, ndigits
            ),
        ).alias("q_high"),
    )


def rosner_esd(
    df: DataFrame,
    value_col: str,
    k: int = 3,
    ndigits: int = 6,
) -> DataFrame:
    """Generalized ESD (Rosner 1983, public literature) — the
    many-outlier extension of ``grubbs_test``: k rounds, each scoring
    the remaining sample's most extreme point R_i = max|x - mean|/s
    and then removing ONE occurrence of it. Statistic-only rows (the
    lambda_i critical values are t-quantiles, not portably
    replayable — the bartlett convention).

    Exactness: every round's argmax decides on the EXACT decimal
    |n*x - S| with a value tie-break (the grubbs discipline), and the
    removal updates the moment triple (n, S, Q) by exact decimal
    subtraction — no rescan, no float until each round's single final
    division. Rounds run on the distinct-value census, so duplicated
    extremes are naturally removed one copy at a time.

    Output: k rows ``(iteration, n_used, mean, stddev, suspect_value,
    r_stat)``; a round with n < 3 or zero variance reports NULL
    mean/stddev/suspect/r_stat but still consumes its pick so later
    rounds replay identically in every engine.

    Scale: ONE value census shuffle up front; each round is a
    broadcast of a 1-row moment struct + one map-side-combinable max
    over the census — k is a literal (2..5 in practice), so the whole
    chain is k tiny stages after a single pass over the data.
    """
    y = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(F.col(value_col).isNotNull()).select(y.alias("__v"))
    census = base.groupBy("__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    mom = census.agg(
        F.sum("__c").cast("long").alias("__n"),
        exact(F.sum(exact("__v", 4) * F.col("__c")), 4)
        .alias("__s"),
        exact(F.sum(exact("__v", 4) * F.col("__v") * F.col("__c")), 4)
        .alias("__q"),
    )
    out_rows = []
    for it in range(1, int(k) + 1):
        j = census.crossJoin(F.broadcast(mom))
        ndev = F.abs(
            exact("__n", 4) * exact("__v", 4) - exact("__s", 4)
        )
        picked = j.agg(
            F.max(
                F.struct(ndev.alias("d"), F.col("__v").alias("v"))
            ).alias("__top"),
            F.max("__n").alias("__n"),
            F.max("__s").alias("__s"),
            F.max("__q").alias("__q"),
        )
        nn = F.col("__n").cast("double")
        mean = F.col("__s").cast("double") / nn
        var = (
            F.col("__q").cast("double")
            - F.col("__s").cast("double")
            * F.col("__s").cast("double")
            / nn
        ) / (nn - 1.0)
        staged = picked.withColumns({"__mean": mean, "__var": var})
        ok = (F.col("__n") >= 3) & (F.col("__var") > 0)
        out_rows.append(
            staged.select(
                F.lit(it).cast("int").alias("iteration"),
                F.col("__n").alias("n_used"),
                F.when(ok, F.round(F.col("__mean"), ndigits)).alias(
                    "mean"
                ),
                F.when(ok, F.round(F.sqrt(F.col("__var")), ndigits)).alias(
                    "stddev"
                ),
                F.when(ok, F.col("__top.v").cast("double")).alias(
                    "suspect_value"
                ),
                F.when(
                    ok,
                    F.round(
                        F.col("__top.d").cast("double")
                        / (nn * F.sqrt(F.col("__var"))),
                        ndigits,
                    ),
                ).alias("r_stat"),
            )
        )
        mom = picked.select(
            (F.col("__n") - 1).cast("long").alias("__n"),
            exact(F.col("__s") - exact("__top.v", 4), 4).alias("__s"),
            exact(
                F.col("__q") - exact("__top.v", 4) * F.col("__top.v"), 4
            ).alias("__q"),
        )
        census = (
            census.crossJoin(
                F.broadcast(picked.select(F.col("__top.v").alias("__pv")))
            )
            .withColumn(
                "__c",
                F.when(
                    F.col("__pv").isNotNull()
                    & (F.col("__v") == F.col("__pv")),
                    F.col("__c") - 1,
                ).otherwise(F.col("__c")),
            )
            .filter(F.col("__c") > 0)
            .drop("__pv")
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("iteration")


def hbos_outliers(
    df: DataFrame,
    id_col: str,
    feature_cols: list,
    n_bins: int = 10,
    top_n: int = 20,
    ndigits: int = 6,
) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012, public
    literature) — the linear-time density-free outlier scorer: per
    feature, fixed-width histogram; a point's score sums
    log(max_bin_count / its_bin_count) over features, so points in
    sparse bins across many features float to the top. The cheap
    first-pass screen next to ``lof_outliers`` (which prices locality
    at kNN cost).

    Exactness: binning is EXACT integral division over integer cents
    — bin = ((xc - minc) * n_bins) div (maxc - minc + 1), the r13 sax
    `div`-discipline, so no double quotient ever decides a bin; each
    feature's log-ratio term quantizes half-away to a micro-long and
    the per-point score is an exact integer sum (order-free), making
    the top-N cut an exact-integer decision with an id tie-break.

    Output: ``top_n`` rows ``(id, score)`` ordered by (score desc,
    id); a constant feature (max == min) contributes 0 to every
    point.

    Scale: one melt (|features| x rows, narrow), one per-feature
    min/max aggregate (broadcast back), one (feature, bin) count
    groupBy whose result is model-sized (|features| * n_bins rows,
    broadcast-joined back), one final groupBy(id) — no windows, no
    self-joins; at 100 TB every stage is a map-side-combinable
    aggregate or a broadcast hash join.
    """
    from .staging import stage

    # narrow internal keys (the ecod_outliers discipline): positional
    # INT feature tag — a pure shuffle/join key
    melted = None
    for fi, c in enumerate(feature_cols):
        part = df.filter(F.col(c).isNotNull()).select(
            F.col(id_col).alias("__id"),
            F.lit(fi).cast("int").alias("__f"),
            (F.col(c).cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("__xc"),
        )
        melted = part if melted is None else melted.unionByName(part)
    rng = F.broadcast(
        melted.groupBy("__f").agg(
            F.min("__xc").alias("__lo"), F.max("__xc").alias("__hi")
        )
    )
    b = melted.join(rng, "__f")
    binned = b.withColumn(
        "__bin",
        F.when(
            F.col("__hi") > F.col("__lo"),
            F.expr(
                f"((__xc - __lo) * {int(n_bins)}) div (__hi - __lo + 1)"
            ),
        ).otherwise(F.lit(0)),
    )
    # LAZY checkpoint: binned feeds both the bin-count census and the
    # per-point join below — one RDD referenced twice in the final
    # plan materializes ONCE inside the timed action (unstaged, each
    # consumer re-melted and re-binned the corpus; measured 2.2 ->
    # 1.1 s at sf0.1). Lazy, so a non-iterative operator stays free
    # of construction-time jobs.
    binned = stage(
        binned.select("__id", "__f", "__bin"),
        "hbos_binned",
        eager=False,
    )
    counts = binned.groupBy("__f", "__bin").agg(
        F.count("*").cast("long").alias("__cnt")
    )
    fmax = counts.groupBy("__f").agg(F.max("__cnt").alias("__mx"))
    scored_bins = F.broadcast(
        counts.join(fmax, "__f").select(
            "__f",
            "__bin",
            F.round(
                F.log(
                    F.col("__mx").cast("double")
                    / F.col("__cnt").cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("__term"),
        )
    )
    per_point = binned.join(scored_bins, ["__f", "__bin"]).groupBy(
        "__id"
    ).agg(F.sum("__term").alias("__sm"))
    return (
        per_point.orderBy(F.desc("__sm"), F.asc("__id"))
        .limit(int(top_n))
        .select(
            F.col("__id").alias("id"),
            F.round(F.col("__sm").cast("double") / 1e6, ndigits).alias(
                "score"
            ),
        )
    )


def ecod_outliers(
    df: DataFrame,
    id_col: str,
    feature_cols: list,
    top_n: int = 20,
    ndigits: int = 6,
) -> DataFrame:
    """ECOD outlier score (Li, Zhao et al., TKDE 2022, public
    literature), two-sided simplification: per feature the empirical
    tail probabilities p_left = P(X <= x), p_right = P(X >= x);
    a point's left (right) score sums -log p_left (-log p_right)
    over features, and the final score is max(O_left, O_right) — the
    parameter-free ECDF outlier detector (the paper's third,
    skewness-selected term is omitted; documented engine contract).

    Exactness: tail counts are exact integers from one fused
    (feature, value) cumulative pass; each -log(tail/n) term
    quantizes half-away to a micro-long, per-point sums are exact
    integers (order-free), and the top-N cut decides on exact
    integers with an id tie-break.

    Output: ``top_n`` rows ``(id, score)`` by (score desc, id),
    score = max(left, right) sum in nats rounded ``ndigits``.

    Scale: one distinct-(feature, value) census, ONE
    ``global_cumsum_before`` range shuffle over (feature, value)
    (per-feature offsets subtracted from a broadcast feature-total
    table — bounded by |features|), one key-shuffle join back, one
    groupBy(id). The mann_whitney machinery applied per feature at
    zero extra passes.
    """
    from .ranking import global_cumsum_before

    # narrow internal keys (guide §2.3 "narrower types"): the feature
    # tag is a positional INT (not the column-name string) and the
    # value an exact cents LONG (not decimal(18,2)) — both are pure
    # shuffle/sort/join keys here, so every downstream exchange, range
    # sort, and sort-merge join compares 12 bytes instead of ~25.
    # Counts, tail terms, and output are unchanged (cents are
    # order-isomorphic to the decimals they encode).
    melted = None
    for fi, c in enumerate(feature_cols):
        part = df.filter(F.col(c).isNotNull()).select(
            F.col(id_col).alias("__id"),
            F.lit(fi).cast("int").alias("__f"),
            (F.col(c).cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("__x"),
        )
        melted = part if melted is None else melted.unionByName(part)
    vc = melted.groupBy("__f", "__x").agg(
        F.count("*").cast("long").alias("__c")
    )
    cum = global_cumsum_before(vc, ["__f", "__x"], "__c", out_col="__bt")
    ftot = vc.groupBy("__f").agg(F.sum("__c").cast("long").alias("__n"))
    w = Window.orderBy("__f").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = F.broadcast(
        ftot.withColumn(
            "__off", F.coalesce(F.sum("__n").over(w), F.lit(0)).cast("long")
        )
    )
    tails = cum.join(offs, "__f").select(
        "__f",
        "__x",
        F.col("__n"),
        (F.col("__bt") - F.col("__off") + F.col("__c")).alias("__le"),
        (F.col("__n") - (F.col("__bt") - F.col("__off"))).alias("__ge"),
    )
    terms = tails.select(
        "__f",
        "__x",
        F.round(
            -F.log(
                F.col("__le").cast("double") / F.col("__n").cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("__tl"),
        F.round(
            -F.log(
                F.col("__ge").cast("double") / F.col("__n").cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("__tr"),
    )
    per_point = (
        melted.join(terms, ["__f", "__x"])
        .groupBy("__id")
        .agg(
            F.sum("__tl").alias("__ol"),
            F.sum("__tr").alias("__or"),
        )
    )
    sc = F.greatest(F.col("__ol"), F.col("__or"))
    return (
        per_point.withColumn("__sc", sc)
        .orderBy(F.desc("__sc"), F.asc("__id"))
        .limit(int(top_n))
        .select(
            F.col("__id").alias("id"),
            F.round(F.col("__sc").cast("double") / 1e6, ndigits).alias(
                "score"
            ),
        )
    )

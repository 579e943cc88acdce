"""Per-key time-series smoothing operators.

``ewma_last`` computes the exponentially-weighted moving average of an
ordered value sequence per key — the standard smoothing step before
drift/alerting rules (the CUSUM and PSI operators consume level
estimates like this one).

The recurrence y_i = alpha*x_i + (1-alpha)*y_{i-1} is inherently
sequential, which makes it a poor fit for a window function (the
closed-form pow() weights overflow/underflow on long sequences and
reintroduce shuffle-order float drift). It IS a perfect fit for the
sorted-fold discipline this repo already uses for cross-engine float
stability (``operators/lm.py``): collect the per-key series, sort by
(ts, value), and fold left — every engine that folds in the same order
produces bit-identical IEEE results, so the DuckDB oracle replays it
with ``list_reduce`` exactly.

Scale notes: one groupBy(key) shuffle carrying (ts, value) pairs —
state per key is its own series, so this is for entity-level series
(users, devices, SKUs: thousands of points), not one global
billion-point series. The fold is an interpreted array HOF (never
codegen — measured, see ``functions/vectors.py``), linear per key and
negligible next to the shuffle.

No counterpart in the reference engine (SURVEY.md §2.2 — no
aggregation at all); EWMA per Hunter (1986), public literature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum


def ewma_last(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    alpha: float = 0.3,
    out_col: str = "ewma",
    ndigits: int = 6,
) -> DataFrame:
    """Final EWMA level per key: ``(key, n_points, ewma)``.

    y_1 = x_1; y_i = alpha*x_i + (1-alpha)*y_{i-1}, folded over the
    series sorted by (ts, value) — the value tie-break makes rows with
    equal timestamps deterministic. Keys with a single point return
    that point. Null values AND null timestamps are dropped before the
    fold (an EWMA over missing observations is undefined, and a
    null-ts row has no defined fold position: Spark's struct sort puts
    nulls FIRST while SQL ORDER BY defaults put them LAST — including
    them would silently break the identical-order oracle contract).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    pts = F.sort_array(
        F.collect_list(F.struct(F.col(ts_col), F.col(val_col)))
    )
    vals = F.transform(pts, lambda s: s[val_col].cast("double"))
    y = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return (
        df.filter(F.col(val_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_points"),
            F.round(y, ndigits).alias(out_col),
        )
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 month",
) -> DataFrame:
    """Regularize an irregular per-key time series: build each key's
    complete period spine (min..max observed period at ``step``
    granularity) and FORWARD-FILL the last observed value into gap
    periods — the resample().ffill() of pandas, re-expressed as
    sequence-explode + last-ignorenulls window (the as-of-join
    machinery pointed at a generated calendar).

    Input must be one row per (key, period) — pre-aggregate to the
    step granularity first (the gated query sums revenue per month).
    Output: ``(key, period, value, is_observed)`` for EVERY period in
    each key's span; leading periods before a key's first observation
    cannot fill and keep its first value by construction (the spine
    starts AT the first observation).

    Scale: the spine explodes |keys| x span/step rows (generate only
    the span you report); ONE window shuffle on the key, streaming
    frame (last-ignorenulls carries O(1) state); no self-join, no
    cartesian calendar.
    """
    per_key = df.groupBy(key_col).agg(
        F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi")
    )
    spine = per_key.select(
        key_col,
        F.explode(
            F.sequence(
                F.col("__lo"), F.col("__hi"),
                F.expr(f"interval {step}"),
            )
        ).alias(ts_col),
    )
    obs = df.select(
        key_col, ts_col, F.col(value_col).alias("__obs")
    )
    joined = spine.join(obs, [key_col, ts_col], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        ts_col,
        F.last("__obs", ignorenulls=True).over(w).alias(value_col),
        F.col("__obs").isNotNull().alias("is_observed"),
    )


def acf_lags(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    ndigits: int = 6,
) -> DataFrame:
    """Autocorrelation function of a daily aggregate at lags
    ``1..max_lag`` — the seasonality probe (a weekly cycle shows as a
    lag-7 peak) feeding forecast validation and anomaly baselines
    (Box & Jenkins, public literature).

    Semantics: the daily series is sum(``value_col``) per calendar
    day as a DECIMAL-exact aggregate; for each lag L the sample is
    every day pair (t, t+L) where BOTH days exist, and the statistic
    is the plain Pearson correlation of those pairs (the "pairs that
    exist" definition makes gaps explicit rather than imputing — pair
    counts are reported so a sparse series is visible).

    Exactness: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy²) are decimal-exact sums; each collapses to double once, and
    corr is one fixed-order double expression rounded ``ndigits`` —
    no float accumulation, so the DuckDB oracle reproduces every
    digit. Undefined correlations (constant series / n<2) surface as
    NULL, not NaN.

    Scale: one day-level groupBy (map-side combinable), then the
    |days| x max_lag pair build is a broadcast-joinable self-equi-join
    on day arithmetic — |days| rows is calendar-bounded (decades =
    ~1e4 rows) regardless of corpus size, so every post-aggregation
    stage is trivially small at 100 TB.

    No counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation family).
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    lags = F.explode(
        F.sequence(F.lit(1), F.lit(int(max_lag)))
    ).alias("lag")
    left = daily.select(F.col("__d"), F.col("__v").alias("__x"), lags)
    right = daily.select(
        F.col("__d").alias("__d2"), F.col("__v").alias("__y")
    )
    pairs = left.join(
        right,
        F.date_add(F.col("__d"), F.col("lag")) == F.col("__d2"),
        "inner",
    )
    agg = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    # guard the VARIANCES, not the sqrt product: a constant-to-
    # rounding series can make n*sxx - sx*sx a tiny NEGATIVE double,
    # sqrt -> NaN, and Spark orders NaN > 0 — the NULL contract
    # would silently emit NaN
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    den = F.sqrt(vx) * F.sqrt(vy)
    acf = F.when((vx > 0) & (vy > 0), F.round(num / den, ndigits))
    return agg.select(
        F.col("lag").cast("int").alias("lag"), "n_pairs", acf.alias("acf")
    ).orderBy("lag")


def xcorr_lags(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    key_a: str,
    key_b: str,
    max_lag: int = 7,
    ndigits: int = 6,
) -> DataFrame:
    """Cross-correlation between two keys' daily series at lags
    ``-max_lag..+max_lag`` — the lead-lag probe (does A's spike
    precede B's by k days?) behind campaign-attribution and
    capacity-forecast checks (Box & Jenkins, public literature).

    xcorr(L) = Pearson r of pairs (a_t, b_{t+L}) over every day pair
    where BOTH exist — the same explicit-pairs, decimal-exact
    discipline as ``acf_lags``: per-key daily sums are DECIMAL-exact
    aggregates, six sufficient statistics per lag collapse to double
    once, r is one fixed-order expression rounded ``ndigits``
    (NULL when either side is constant). Negative lag = A leads.

    Scale: one day-level groupBy per key from a single scan
    (map-side combinable); the pair build is a self-equi-join on day
    arithmetic over calendar-bounded daily tables — broadcast-class
    at any corpus size.
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = (
        df.filter(F.col(key_col).isin([key_a, key_b]))
        .groupBy(day, F.col(key_col).alias("__k"))
        .agg(F.sum(dec).alias("__v"))
    )
    a = daily.filter(F.col("__k") == key_a).select(
        F.col("__d"), F.col("__v").alias("__x")
    )
    b = daily.filter(F.col("__k") == key_b).select(
        F.col("__d").alias("__d2"), F.col("__v").alias("__y")
    )
    lags = F.explode(
        F.sequence(F.lit(-int(max_lag)), F.lit(int(max_lag)))
    ).alias("lag")
    left = a.select(F.col("__d"), F.col("__x"), lags)
    pairs = left.join(
        b, F.date_add(F.col("__d"), F.col("lag")) == F.col("__d2"), "inner"
    )
    agg = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    # same NaN guard as acf_lags: test the variances, not the sqrt
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    den = F.sqrt(vx) * F.sqrt(vy)
    xc = F.when((vx > 0) & (vy > 0), F.round(num / den, ndigits))
    return agg.select(
        F.col("lag").cast("int").alias("lag"), "n_pairs", xc.alias("xcorr")
    ).orderBy("lag")


def backtest_snaive(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    season: int = 7,
    ndigits: int = 6,
) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every forecast
    must beat (Hyndman & Athanasopoulos, Forecasting: Principles and
    Practice, public literature): predict each day's total with the
    value ``season`` days earlier and score the error over every day
    where both exist.

    Output: one row ``(n_days, n_scored, mae, mape, bias)`` —
    * mae / bias from DECIMAL-exact error sums, one rounded division
      each;
    * mape via per-day integer micro-units (round(1e6·|e|/actual)
      as long — the code_likeness boundary-proof discipline), summed
      exactly and collapsed by one division; days with actual <= 0
      are excluded from mape (division guard) but not from mae.

    Scale: one day-level groupBy (map-side combinable) + one
    calendar-bounded self-join; everything after is |days|-sized.
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    fc = daily.select(
        F.date_add(F.col("__d"), int(season)).alias("__d"),
        F.col("__v").alias("__f"),
    )
    scored = daily.join(fc, "__d")
    err = F.col("__v") - F.col("__f")
    ape6 = F.when(
        F.col("__v") > 0,
        F.round(
            F.lit(1000000.0)
            * F.abs(err).cast("double")
            / F.col("__v").cast("double"),
            0,
        ).cast("long"),
    )
    n_days = daily.agg(F.count("*").cast("long").alias("n_days"))
    agg = scored.agg(
        F.count("*").cast("long").alias("n_scored"),
        F.sum(F.abs(err)).alias("__sae"),
        F.sum(err).alias("__se"),
        F.sum(ape6).alias("__sape"),
        F.count(ape6).cast("long").alias("__n_mape"),
    )
    return n_days.crossJoin(agg).select(
        "n_days",
        "n_scored",
        F.when(
            F.col("n_scored") > 0,
            F.round(
                F.col("__sae").cast("double") / F.col("n_scored"), ndigits
            ),
        ).alias("mae"),
        F.when(
            F.col("__n_mape") > 0,
            F.round(
                F.col("__sape").cast("double")
                / (F.col("__n_mape").cast("double") * F.lit(1000000.0)),
                ndigits,
            ),
        ).alias("mape"),
        F.when(
            F.col("n_scored") > 0,
            F.round(
                F.col("__se").cast("double") / F.col("n_scored"), ndigits
            ),
        ).alias("bias"),
    )


def period_over_period(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Week-over-week growth table — the calendar-aligned percent
    change every metrics dashboard leads with: ISO-week revenue,
    prior week's value, and one rounded-division pct change (NULL
    for the first week and when the prior week is zero or absent —
    an explicit "can't compute", not an Inf).

    Exactness: weekly sums are DECIMAL; the delta is decimal-exact
    and each side collapses to double once for the single division.

    Scale: one week-level groupBy (map-side combinable); the lag
    window runs over the calendar-bounded |weeks| table — the
    bounded-domain window class (fdr_bh), not a data-sized one. A
    missing calendar week yields NULL (lag is positional over
    EXISTING weeks only when dense; compose with date_spine + gap
    fill upstream for sparse calendars).
    """
    wk = F.to_date(F.date_trunc("week", F.col(ts_col)))
    dec = F.col(value_col).cast("decimal(18,2)")
    weekly = df.groupBy(wk.alias("week")).agg(F.sum(dec).alias("__rev"))
    w = Window.orderBy("week")
    lagged = weekly.withColumn("__prev", F.lag("__rev").over(w)).withColumn(
        "__prev_wk", F.lag("week").over(w)
    )
    adjacent = F.col("__prev_wk").isNotNull() & (
        F.datediff(F.col("week"), F.col("__prev_wk")) == 7
    )
    pct = F.when(
        adjacent & (F.col("__prev") > 0),
        F.round(
            (F.col("__rev") - F.col("__prev")).cast("double")
            / F.col("__prev").cast("double"),
            ndigits,
        ),
    )
    return lagged.select(
        "week",
        F.col("__rev").cast("double").alias("revenue"),
        F.when(adjacent, F.col("__prev").cast("double")).alias(
            "prev_revenue"
        ),
        pct.alias("wow_pct"),
    ).orderBy("week")


def daily_anomalies(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    k: float = 3.0,
    ndigits: int = 6,
) -> DataFrame:
    """Robust daily-total anomaly flags: a day is anomalous when its
    total deviates from the median by more than ``k`` x MAD (median
    absolute deviation — Hampel's robust z, public literature). The
    median/MAD pair shrugs off the very outliers a mean/stddev rule
    would be dragged by.

    Exactness: daily totals are DECIMAL sums; median and MAD are
    type-1 rank picks (actual data values, no interpolation) over
    the calendar-bounded daily table; the deviation ratio is one
    rounded division of decimal-exact numerators. MAD == 0 (half
    the days identical) yields NULL scores, explicit not Inf.

    Output: every day with ``(day, value, med, mad, robust_z,
    is_anomaly)``; is_anomaly NULL when MAD == 0.

    Scale: one day-level groupBy is the data-sized stage; the rank
    windows run over |days| rows — the bounded-domain window class
    (fdr_bh), not a data-sized sort.
    """
    from pyspark.sql import Window

    day = F.to_date(F.col(ts_col)).alias("day")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("value"))
    w = Window.orderBy(F.col("value"), F.col("day"))
    wn = Window.partitionBy(F.lit(1))
    ranked = daily.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(wn)
    )
    med_row = ranked.filter(
        F.col("__rn") == F.ceil(F.col("__n") / 2)
    ).select(F.col("value").alias("__med"))
    with_med = daily.crossJoin(F.broadcast(med_row)).withColumn(
        "__ad", F.abs(F.col("value") - F.col("__med"))
    )
    wa = Window.orderBy(F.col("__ad"), F.col("day"))
    ranked2 = with_med.withColumn(
        "__rn", F.row_number().over(wa)
    ).withColumn("__n", F.count("*").over(wn))
    mad_row = ranked2.filter(
        F.col("__rn") == F.ceil(F.col("__n") / 2)
    ).select(F.col("__ad").alias("__mad"))
    out = with_med.crossJoin(F.broadcast(mad_row))
    rz = F.when(
        F.col("__mad") > 0,
        F.round(
            F.col("__ad").cast("double") / F.col("__mad").cast("double"),
            ndigits,
        ),
    )
    return out.select(
        "day",
        F.col("value").cast("double").alias("value"),
        F.col("__med").cast("double").alias("med"),
        F.col("__mad").cast("double").alias("mad"),
        rz.alias("robust_z"),
        F.when(F.col("__mad") > 0, rz > F.lit(float(k))).alias(
            "is_anomaly"
        ),
    ).orderBy("day")


def theilsen_trend(
    df: DataFrame,
    group_col: str,
    t_col: str,
    y_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group Theil-Sen trend: the MEDIAN of all pairwise slopes
    (y_j - y_i)/(t_j - t_i) over t_i < t_j (Theil 1950 / Sen 1968,
    public literature) — the robust alternative to OLS slope
    (regression_agg): up to ~29% of the points can be arbitrary
    outliers without moving the estimate.

    Input is a SERIES table: one row per (group, t) — callers
    aggregate raw events to the series grain first (the q entry uses
    daily counts). t must cast to double (dates -> datediff days).

    Determinism: each slope is 6dp-rounded; the median ranks slopes
    with a (slope, t1, t2) total order and averages the middle one or
    two (then re-rounds) — an oracle replays every step. NULL for
    groups with < 2 points.

    Scale: the pair stage is quadratic ONLY within a group and the
    series grain bounds it (a daily series has ~10^3 points/group ->
    ~10^6 slope rows/group, shuffled as 24-byte tuples); the median
    windows are partitioned by group, never global. For one global
    billion-point series this is the wrong tool at any engine —
    Theil-Sen itself is O(n^2); use regression_agg there.
    """
    a = df.select(
        F.col(group_col).alias("__g"),
        F.col(t_col).cast("double").alias("__t1"),
        F.col(y_col).cast("double").alias("__y1"),
    )
    b = df.select(
        F.col(group_col).alias("__g"),
        F.col(t_col).cast("double").alias("__t2"),
        F.col(y_col).cast("double").alias("__y2"),
    )
    slopes = (
        a.join(b, "__g")
        .filter(F.col("__t1") < F.col("__t2"))
        .select(
            "__g",
            "__t1",
            "__t2",
            F.round(
                (F.col("__y2") - F.col("__y1"))
                / (F.col("__t2") - F.col("__t1")),
                ndigits,
            ).alias("__s"),
        )
    )
    w = Window.partitionBy("__g").orderBy("__s", "__t1", "__t2")
    cnt = Window.partitionBy("__g")
    ranked = slopes.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(cnt)
    )
    # floor-divide: Spark / on longs is FLOAT division, so (n+1)/2
    # never equals an integer rank for even n+1 — both middles must
    # come from integer arithmetic (odd n: both floors coincide)
    mid = ranked.filter(
        (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
        | (F.col("__rn") == F.floor((F.col("__n") + 2) / 2))
    )
    med = mid.groupBy("__g").agg(
        F.max("__n").cast("long").alias("n_pairs"),
        F.round(F.avg("__s"), ndigits).alias("ts_slope"),
    )
    pts = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count("*").cast("long").alias("n_points")
    )
    return pts.join(med, "__g", "left").select(
        F.col("__g").alias(group_col), "n_points", "n_pairs", "ts_slope"
    )


def holt_linear(
    df: DataFrame,
    group_col: str,
    t_col: str,
    y_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 1,
    scale: int = 1_000_000,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per group
    (Holt 1957, public literature) — the level+trend upgrade of
    ``ewma_last`` and the classic short-horizon operational forecast:

        l_t = a*y_t + (1-a)*(l + b)
        b_t = B*(l_t - l) + (1-B)*b

    initialized l_0 = y_0, b_0 = y_1 - y_0, updates folded in (t, y)
    order from the SECOND point on.

    Determinism: the obvious per-step round-to-6dp recurrence is NOT
    engine-replayable — with a = 1/2 over integer-grid inputs, every
    other step lands EXACTLY on a 7th-digit midpoint, where JVM
    BigDecimal HALF_UP and C-library rounding disagree (measured: one
    series in five diverged by 1 ulp at the gate SF; the same trap as
    the weighted-sum micro-unit note in the verify skill). So state is
    carried as EXACT integers on the 1/``scale`` grid with a and B as
    rationals (Fraction(str(alpha))), each update floor-quantized:

        l' = floor((pa*y + (qa-pa)*(l+b)) / qa)
        b' = floor((pb*(l'-l) + (qb-pb)*b) / qb)

    — pure integer arithmetic plus one floor per step, identical in
    every engine (the floor's double division is exact while the
    numerator stays within 2^52/q, i.e. series values below ~4e8 at
    the default scale; cast y down or shrink ``scale`` beyond that).

    Output per group: (group, n_points, level, trend, forecast) as
    doubles (state/scale — the same integer division in both
    engines), forecast = (l + horizon*b)/scale; groups with < 2
    points yield NULLs (no trend is defined).

    Scale: one groupBy(group) shuffle carrying (t, y) pairs; the fold
    is linear per key — entity-grain series, same contract as
    ewma_last.
    """
    from fractions import Fraction

    fa, fb = Fraction(str(alpha)), Fraction(str(beta))
    if fa.denominator > 1000 or fb.denominator > 1000:
        raise ValueError(
            "alpha/beta must be exact rationals with denominator <= "
            f"1000 (got {alpha}, {beta}) — the integer recurrence "
            "needs exact p/q"
        )
    pa, qa = fa.numerator, fa.denominator
    pb, qb = fb.numerator, fb.denominator
    series = (
        df.select(
            F.col(group_col).alias("__g"),
            F.struct(
                F.col(t_col).alias("t"),
                F.round(F.col(y_col).cast("double") * scale)
                .cast("long")
                .alias("y"),
            ).alias("__p"),
        )
        .groupBy("__g")
        .agg(F.sort_array(F.collect_list("__p")).alias("__ps"))
    )
    ys = F.transform(F.col("__ps"), lambda p: p["y"])
    n = F.size("__ps")

    def _fdiv(num, q: int):
        return F.floor(num / F.lit(float(q))).cast("long")

    def _step(acc, y):
        l_new = _fdiv(
            F.lit(pa) * y + F.lit(qa - pa) * (acc["l"] + acc["b"]), qa
        )
        b_new = _fdiv(
            F.lit(pb) * (l_new - acc["l"]) + F.lit(qb - pb) * acc["b"],
            qb,
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    init = F.struct(
        F.element_at(ys, 1).alias("l"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("b"),
    )
    state = F.aggregate(F.slice(ys, 2, 2_147_483_000), init, _step)
    sc = F.lit(float(scale))
    return series.select(
        F.col("__g").alias(group_col),
        n.cast("long").alias("n_points"),
        F.when(n >= 2, state["l"] / sc).alias("level"),
        F.when(n >= 2, state["b"] / sc).alias("trend"),
        F.when(
            n >= 2,
            (state["l"] + F.lit(int(horizon)) * state["b"]) / sc,
        ).alias("forecast"),
    )


def twap(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Time-Weighted Average Price/value per (group, day) — the
    market-data aggregate that weights each observation by how long
    it REMAINED the current value (public trading-infrastructure
    convention): a price that held for 6 hours moves the day's
    average more than a one-second blip, which a plain avg() cannot
    express.

        twap = sum(v_i * w_i) / sum(w_i),
        w_i  = seconds from ts_i to the NEXT observation in the same
               (group, day), the last one extending to day end.

    Exactness: weights are integer seconds (unix_timestamp longs);
    the weighted sum aggregates DECIMAL(18,2)-cast values times long
    weights — exact and order-free — collapsed by ONE 6dp-rounded
    division (the repo contract). Zero-weight days (single
    observation at exactly midnight of the next day cannot happen —
    the last interval is always >= 1s unless the event sits ON the
    boundary, where w = 0 and the day yields NULL).

    NULL-value observations are EXCLUDED up front: a NULL carries no
    price, so letting it hold an interval would silently count as
    zero-for-its-holding-time (dragging twap toward 0), and a NULL
    tied on ts would order differently across engines (Spark sorts
    NULLS FIRST ascending, DuckDB NULLS LAST — review finding r8).
    n_events therefore counts priced observations only.

    Scale: one window shuffle on (group, day) for the lead() and one
    map-side-combinable groupBy — both keyed on the same columns, so
    AQE reuses the partitioning. State per key is one row (lead).
    """
    df = df.filter(F.col(value_col).isNotNull())
    day = F.date_trunc("day", F.col(ts_col))
    w = Window.partitionBy(F.col(group_col), day).orderBy(
        F.col(ts_col), F.col(value_col)
    )
    nxt = F.lead(F.col(ts_col)).over(w)
    end = F.coalesce(nxt, day + F.expr("interval 1 day"))
    secs = (
        F.unix_timestamp(end) - F.unix_timestamp(F.col(ts_col))
    ).cast("long")
    dec = F.col(value_col).cast("decimal(18,2)")
    per = df.select(
        F.col(group_col).alias("__g"),
        day.alias("day"),
        (dec * secs).alias("__vw"),
        secs.alias("__w"),
    )
    agg = per.groupBy("__g", "day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("__w").cast("long").alias("__tw"),
        F.sum("__vw").alias("__tvw"),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "day",
        "n_events",
        F.when(
            F.col("__tw") > 0,
            F.round(
                F.col("__tvw").cast("double") / F.col("__tw"), ndigits
            ),
        ).alias("twap"),
    )


def dispersion_index(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Index of dispersion (Fano factor) of DAILY event counts per
    group — variance-to-mean ratio of a count process (Fano 1947,
    public literature): ~1 for Poisson arrivals, >> 1 for bursty
    (retry storms, bot traffic, thundering herds), << 1 for
    metronomic (schedulers, heartbeats). The first triage statistic
    on any event feed.

    Exactness: daily counts are exact longs; n, sum(c), sum(c²) are
    exact integer aggregates; mean and m2 collapse by one 6dp-rounded
    division each; variance = m2 − mean² and fano = var/mean are pure
    double arithmetic on those literals (fdr_bh's moment discipline).
    Zero-mean groups (impossible with count ≥ 1 rows, kept for the
    contract) yield NULL.

    Scale: two map-side-combinable groupBys — (group, day) then
    (group); output is |groups| rows.
    """
    daily = df.groupBy(
        F.col(group_col).alias("__g"),
        F.date_trunc("day", F.col(ts_col)).alias("__d"),
    ).agg(F.count("*").alias("__c"))
    mom = daily.groupBy("__g").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            F.sum("__c").cast("double") / F.count("*"), ndigits
        ).alias("mean_daily"),
        F.round(
            F.sum(F.col("__c") * F.col("__c")).cast("double")
            / F.count("*"),
            ndigits,
        ).alias("__m2"),
    )
    var = F.col("__m2") - F.col("mean_daily") * F.col("mean_daily")
    fano = F.when(
        F.col("mean_daily") > 0,
        F.round(var / F.col("mean_daily"), ndigits),
    )
    return mom.select(
        F.col("__g").alias(group_col),
        "n_days",
        "mean_daily",
        fano.alias("fano"),
        F.when(fano.isNotNull(), fano > 1.0).alias("overdispersed"),
    )


def holt_winters_seasonal(
    df: DataFrame,
    group_col: str,
    t_col: str,
    y_col: str,
    season_col: str,
    m: int,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing; Winters
    1960, public literature) per group: level + trend + an m-slot
    additive seasonal profile — the classic operational forecast for
    daily series with a weekly shape. Callers supply the season index
    column (0..m-1, e.g. day-number % 7 — NOT dayofweek(), whose
    origin differs between engines).

        l_t = a*(y_t - s_j) + (1-a)*(l + b)
        b_t = B*(l_t - l) + (1-B)*b
        s_j = G*(y_t - l_t) + (1-G)*s_j

    Determinism: the holt_linear contract — state is EXACT integer
    micro-units, a/B/G are rationals (Fraction(str(x))), every update
    floor-quantized; the fold order is the sorted (t, y) order.
    Init from the first 2m observations: l0 = floor(sum(y_1..m)/m),
    b0 = floor((sum(y_m+1..2m) - sum(y_1..m))/m²), s_j = y_i - l0
    for the first m observations (on a gappy series a repeated
    season's LATER observation wins — deterministic either way);
    updates fold from observation m+1. Groups with < 2m points yield
    NULLs.

    Output: (group, n_points, level, trend, forecast) with forecast =
    (l + b + s_{next})/scale, next = (last observation's season + 1)
    mod m — the one-step-ahead seasonal forecast.

    Scale: one groupBy(group) shuffle; linear in-row fold per key —
    entity-grain series, the ewma_last/holt_linear contract.
    """
    from fractions import Fraction

    fa = Fraction(str(alpha))
    fb = Fraction(str(beta))
    fg = Fraction(str(gamma))
    for f in (fa, fb, fg):
        if f.denominator > 1000:
            raise ValueError(
                "alpha/beta/gamma must be exact rationals with "
                f"denominator <= 1000 (got {float(f)})"
            )
    pa, qa = fa.numerator, fa.denominator
    pb, qb = fb.numerator, fb.denominator
    pg, qg = fg.numerator, fg.denominator
    # defensive pmod: Spark % is sign-of-dividend, so a caller feeding
    # a negative day-number would produce j = -1 — element_at(s, 0)
    # throws Spark-side while the oracle's acc[j+3] silently reads the
    # TREND slot (review finding r8). A no-op when the 0..m-1
    # contract holds.
    j_norm = ((F.col(season_col).cast("int") % m) + m) % m
    series = (
        df.select(
            F.col(group_col).alias("__g"),
            F.struct(
                F.col(t_col).alias("t"),
                F.round(F.col(y_col).cast("double") * scale)
                .cast("long")
                .alias("y"),
                j_norm.alias("j"),
            ).alias("__p"),
        )
        .groupBy("__g")
        .agg(F.sort_array(F.collect_list("__p")).alias("__ps"))
    )
    ps = F.col("__ps")
    n = F.size(ps)

    def _fdiv(num, q: int):
        return F.floor(num / F.lit(float(q))).cast("long")

    zero = F.lit(0).cast("long")
    sum1 = F.aggregate(
        F.slice(ps, 1, m), zero, lambda a, e: a + e["y"]
    )
    sum2 = F.aggregate(
        F.slice(ps, m + 1, m), zero, lambda a, e: a + e["y"]
    )
    l0 = _fdiv(sum1, m)
    b0 = _fdiv(sum2 - sum1, m * m)
    s0 = F.aggregate(
        F.slice(ps, 1, m),
        F.array_repeat(zero, m),
        lambda acc, e: F.transform(
            acc,
            lambda v, i: F.when(i == e["j"], e["y"] - l0).otherwise(v),
        ),
    )
    init = F.struct(l0.alias("l"), b0.alias("b"), s0.alias("s"))

    def _step(acc, e):
        sj = F.element_at(acc["s"], e["j"] + 1)
        l_new = _fdiv(
            F.lit(pa) * (e["y"] - sj)
            + F.lit(qa - pa) * (acc["l"] + acc["b"]),
            qa,
        )
        b_new = _fdiv(
            F.lit(pb) * (l_new - acc["l"]) + F.lit(qb - pb) * acc["b"],
            qb,
        )
        s_new = _fdiv(
            F.lit(pg) * (e["y"] - l_new) + F.lit(qg - pg) * sj, qg
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.transform(
                acc["s"],
                lambda v, i: F.when(i == e["j"], s_new).otherwise(v),
            ).alias("s"),
        )

    state = F.aggregate(F.slice(ps, m + 1, 2_147_483_000), init, _step)
    nxt = (F.element_at(ps, -1)["j"] + 1) % m
    sc = F.lit(float(scale))
    ok = n >= 2 * m
    return series.select(
        F.col("__g").alias(group_col),
        n.cast("long").alias("n_points"),
        F.when(ok, state["l"] / sc).alias("level"),
        F.when(ok, state["b"] / sc).alias("trend"),
        F.when(
            ok,
            (
                state["l"] + state["b"]
                + F.element_at(state["s"], nxt + 1)
            )
            / sc,
        ).alias("forecast"),
    )


def changepoint_level(
    df: DataFrame,
    group_col: str,
    t_col: str,
    y_col: str,
    scale: int = 1_000_000,
    ndigits: int = 6,
) -> DataFrame:
    """Single level-shift changepoint LOCALIZER per group — the
    binary-segmentation base step (CUSUM estimate of a mean change;
    Page 1954, Sen & Srivastava 1975, public literature). Where
    ``cusum_drift`` ALARMS on sustained drift, this answers *where*
    the level shifted:

        k* = argmax_{1 <= k < n} |n·S_k − k·S_n|

    (S_k = prefix sum in (t, y) order) — the |S_k − (k/n)·S_n| CUSUM
    curve with the division cleared, so the ENTIRE selection runs on
    exact integers (values are scaled to 1/``scale`` micro-units and
    summed as decimal(38,0); no float enters until the reported
    means). Ties break to the smallest k. Output per group:
    ``(group, n_points, cp_k, cp_t, left_mean, right_mean, shift)``
    with cp_t the LAST point of the left segment and means one
    rounded division each; groups with < 2 points yield NULLs.

    Scale: per-group windows only (cumsum + the argmax struct-min) —
    series are entity/day grain, the two-pass global machinery is
    never needed; the shuffle carries (t, y-micro) pairs once.
    """
    ymu = exact(F.round(F.col(y_col).cast("double") * scale))
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(t_col).alias("__t"),
        ymu.alias("__y"),
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__t", "__y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy("__g")
    cum = (
        base.withColumn("__s", F.sum("__y").over(w))
        .withColumn("__k", F.count("*").over(w))
        .withColumn("__n", F.count("*").over(wg))
        .withColumn("__tot", F.sum("__y").over(wg))
    )
    d = F.abs(
        exact("__n") * F.col("__s")
        - exact("__k") * F.col("__tot")
    )
    # ONE aggregation recovers both the argmax and n_points: min()
    # skips the NULL structs of the k = n rows (and of n = 1 groups
    # entirely), so no second groupBy + join-back is needed (review
    # finding r8 — saves a shuffle and a broadcast join)
    best = cum.withColumn("__d", d).groupBy("__g").agg(
        F.max("__n").cast("long").alias("n_points"),
        F.min(
            F.when(
                F.col("__k") < F.col("__n"),
                F.struct(
                    (-F.col("__d")).alias("nd"),
                    F.col("__k").alias("k"),
                    F.col("__t").alias("t"),
                    F.col("__s").alias("s"),
                    F.col("__n").alias("n"),
                    F.col("__tot").alias("tot"),
                ),
            )
        ).alias("__b"),
    )
    b = F.col("__b")
    k = b["k"].cast("long")
    sc = F.lit(float(scale))
    left = F.round(
        b["s"].cast("double") / (b["k"].cast("double") * sc), ndigits
    )
    right = F.round(
        (b["tot"] - b["s"]).cast("double")
        / ((b["n"] - b["k"]).cast("double") * sc),
        ndigits,
    )
    ok = F.col("n_points") >= 2
    return best.select(
        F.col("__g").alias(group_col),
        "n_points",
        F.when(ok, k).alias("cp_k"),
        F.when(ok, b["t"]).alias("cp_t"),
        F.when(ok, left).alias("left_mean"),
        F.when(ok, right).alias("right_mean"),
        F.when(ok, F.round(right - left, ndigits)).alias("shift"),
    )


def classical_decompose(
    df: DataFrame,
    group_col: str,
    t_col: str,
    y_col: str,
    m: int = 7,
    scale: int = 1_000_000,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method textbooks call "classical decomposition"; Hyndman & A.,
    Forecasting: Principles and Practice §3.4, public):

    - trend_t   = centered m-term moving average (m odd; defined only
      where the full window exists),
    - seasonal_j = the per-slot mean of (y - trend) over season index
      j = t mod m, re-centered so the m seasonal effects sum to ~0,
    - remainder = y - trend - seasonal.

    Determinism: y is quantized to exact micro-units; every mean is
    an integer half-away division (the kneser_ney midpoint-trap
    pattern) — order-free, partition-free, bit-identical on any
    engine. Requires a REGULAR series per group (the moving average
    is ROWS-based): aggregate to the grain first (gap_fill for
    holes).

    Output per input row: ``(group, t, y, trend, seasonal,
    remainder)`` — trend/remainder NULL at the edges (no full
    window), seasonal NULL only for slots that never saw a full
    window anywhere in the group.

    Scale: series live at entity grain (a daily series over a decade
    is ~3.7k rows), so the per-group ROWS window is the ewma/holt
    contract — one shuffle on the group key, bounded partitions; the
    slot means are one more groupBy on (group, j). Nothing here
    scales with corpus size, only with groups x series length.
    """
    if m % 2 != 1:
        raise ValueError("classical_decompose needs odd m")
    h = m // 2

    def _half_away(s: Column, n) -> Column:
        mag = F.floor((2 * F.abs(s) + n) / (2.0 * n)).cast("long")
        return F.when(s >= 0, mag).otherwise(-mag)

    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(t_col).cast("long").alias("__t"),
        (((F.col(t_col).cast("long") % m) + m) % m).alias("__j"),
        F.round(F.col(y_col).cast("double") * scale)
        .cast("long")
        .alias("__y"),
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__t")
        .rowsBetween(-h, h)
    )
    trended = base.withColumn(
        "__trend",
        F.when(
            F.count("*").over(w) == m,
            _half_away(F.sum("__y").over(w), F.lit(m)),
        ),
    ).withColumn("__det", F.col("__y") - F.col("__trend"))
    raw = (
        trended.filter(F.col("__det").isNotNull())
        .groupBy("__g", "__j")
        .agg(
            _half_away(F.sum("__det"), F.count("*")).alias("__sraw")
        )
    )
    centered = raw.withColumn(
        "__soff",
        _half_away(
            F.sum("__sraw").over(
                Window.partitionBy("__g")
            ),
            F.lit(m),
        ),
    ).select(
        "__g",
        "__j",
        (F.col("__sraw") - F.col("__soff")).alias("__seas"),
    )
    out = trended.join(centered, ["__g", "__j"], "left")
    dn = float(scale)
    return out.select(
        F.col("__g").alias(group_col),
        F.col("__t").alias(t_col),
        (F.col("__y") / dn).alias("y"),
        (F.col("__trend") / dn).alias("trend"),
        (F.col("__seas") / dn).alias("seasonal"),
        (
            (F.col("__y") - F.col("__trend") - F.col("__seas")) / dn
        ).alias("remainder"),
    )


def pacf_durbin(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    ndigits: int = 6,
) -> DataFrame:
    """Partial autocorrelation function at lags ``1..max_lag`` via the
    Durbin-Levinson recursion (Durbin 1960, public literature) — the
    AR-order probe read next to ``acf_lags``: a series whose PACF
    cuts off after lag p is AR(p), which decides the forecasting
    model an events pipeline fits.

    Semantics: the series is the day-INDEXED daily sum (row_number
    over the calendar-bounded daily table — gaps close up, the
    stationary-series convention; acf_lags keeps calendar gaps, this
    keeps model order). The lag-l autocovariance is the standard
    biased estimator, computed EXACTLY at scale n^2:

        c_l = sum_t (n*x_t - S)(n*x_{t+l} - S)    (decimal-exact)

    so rho_l = c_l / c_0 collapses to ONE rounded double per lag.
    The Durbin-Levinson recursion then runs over the max_lag rounded
    rho literals — plain fixed-order IEEE double arithmetic with no
    data left, executed DRIVER-SIDE (the ridge Cramer-solve
    discipline; the oracle replays the identical expression tree, so
    every digit matches). A zero denominator (degenerate series)
    yields NULL pacf from that level on.

    Output per lag: ``(lag, n_pairs, rho, pacf)``, ordered by lag.

    Scale: one map-side-combinable day groupBy; everything after is
    the calendar-bounded daily table (the acf_lags argument: decades
    = ~1e4 rows), where the single-partition index window is
    model-sized by construction.
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    w = Window.orderBy("__d")
    idx = daily.select(
        F.row_number().over(w).alias("__t"), F.col("__v")
    )
    tot = idx.agg(
        F.count("*").cast("long").alias("__n"),
        exact(F.sum("__v"), 2).alias("__s"),
    )
    lags = F.explode(F.sequence(F.lit(0), F.lit(int(max_lag)))).alias(
        "lag"
    )
    left = idx.select("__t", F.col("__v").alias("__x"), lags)
    right = idx.select(
        F.col("__t").alias("__t2"), F.col("__v").alias("__y")
    )
    pairs = left.join(
        right, F.col("__t") + F.col("lag") == F.col("__t2")
    ).crossJoin(F.broadcast(tot))
    # (n*x - S)(n*y - S) exact: decimal(38,2) * decimal(38,2) would
    # overflow 38 digits at full generality, but n*x and S are both
    # bounded by the TOTAL (38,2) sum, so the product is staged
    # through double-free decimal(38,4) via the (19,2)-bounded
    # centered terms the fixture contract guarantees
    cx = (F.col("__n") * F.col("__x") - F.col("__s")).cast(
        "decimal(19,2)"
    )
    cy = (F.col("__n") * F.col("__y") - F.col("__s")).cast(
        "decimal(19,2)"
    )
    cl = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        exact(F.sum(cx * cy), 4).alias("__c"),
    )
    rows = cl.orderBy("lag").collect()
    c = {r["lag"]: r["__c"] for r in rows}
    npairs = {r["lag"]: r["n_pairs"] for r in rows}
    m = int(max_lag)

    # Python round() is half-to-even; both engines round half-away —
    # the np.round trap (verify notes, r8) applies to driver floats too
    def _r6(x: float) -> float:
        import math

        scale = 10.0 ** ndigits
        return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale

    rho: dict[int, float | None] = {}
    for l in range(1, m + 1):
        if l in c and c.get(0) is not None and float(c[0]) != 0.0:
            rho[l] = _r6(float(c[l]) / float(c[0]))
        else:
            rho[l] = None
    # Durbin-Levinson over the rounded rho literals (fixed-order IEEE)
    pacf: dict[int, float | None] = {}
    phi: list[float] = []
    dead = False
    for k in range(1, m + 1):
        if dead or rho.get(k) is None or any(
            rho.get(j) is None for j in range(1, k)
        ):
            pacf[k] = None
            dead = True
            continue
        if k == 1:
            pk = rho[1]
        else:
            num = rho[k]
            den = 1.0
            for j in range(1, k):
                num = num - phi[j - 1] * rho[k - j]
                den = den - phi[j - 1] * rho[j]
            if den == 0.0:
                pacf[k] = None
                dead = True
                continue
            pk = num / den
        nphi = [
            phi[j - 1] - pk * phi[k - 1 - j] for j in range(1, k)
        ] + [pk]
        phi = nphi
        pacf[k] = _r6(pk)
    out = [
        (l, int(npairs.get(l, 0)), rho.get(l), pacf.get(l))
        for l in range(1, m + 1)
    ]
    return df.sparkSession.createDataFrame(
        out, schema="lag int, n_pairs bigint, rho double, pacf double"
    )


def mann_kendall_trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Mann-Kendall monotonic trend test on the daily aggregate (Mann
    1945 / Kendall 1975, public literature) — "is this metric
    actually drifting" with no linearity or distribution assumption;
    the hypothesis-test companion to ``theilsen_trend``'s slope.

        S = sum_{i<j} sgn(x_j - x_i)
        Var = (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18

    z applies the standard continuity correction (S -> S-1 for S > 0,
    S+1 for S < 0); two-sided p through the engine's deterministic
    Phi.

    Exactness: daily sums are exact decimals; S and the tie term are
    exact integers from a pair join over the CALENDAR-BOUNDED daily
    table (the acf_lags argument — decades of days is ~1e4 rows, so
    O(days^2) pairs is ~1e8 at the extreme and trivially fine at the
    fixture scale; for longer series switch S to the inversion-count
    formulation); z is one fixed-order double expression, rounded.

    Output: one row ``(n_days, s_stat, var_s, z, p_value)``.
    """
    from .multitest import with_p_value

    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    rhs = daily.select(
        F.col("__d").alias("__d2"), F.col("__v").alias("__v2")
    )
    pairs = daily.join(rhs, F.col("__d") < F.col("__d2"))
    s_agg = pairs.agg(
        F.sum(
            F.when(F.col("__v2") > F.col("__v"), 1)
            .when(F.col("__v2") < F.col("__v"), -1)
            .otherwise(0)
        ).cast("long").alias("s_stat")
    )
    ties = (
        daily.groupBy("__v")
        .agg(F.count("*").alias("__t"))
        .agg(
            F.sum(
                F.col("__t")
                * (F.col("__t") - 1)
                * (2 * F.col("__t") + 5)
            ).cast("long").alias("__tsum"),
            F.count("*").alias("__distinct"),
        )
    )
    n_row = daily.agg(F.count("*").cast("long").alias("n_days"))
    j = n_row.crossJoin(F.broadcast(s_agg)).crossJoin(F.broadcast(ties))
    nn = F.col("n_days").cast("double")
    var_s = (
        nn * (nn - 1.0) * (2.0 * nn + 5.0)
        - F.col("__tsum").cast("double")
    ) / 18.0
    sd = F.col("s_stat").cast("double")
    zc = F.when(F.col("s_stat") > 0, sd - 1.0).when(
        F.col("s_stat") < 0, sd + 1.0
    ).otherwise(F.lit(0.0))
    staged = j.select(
        "n_days",
        "s_stat",
        F.round(var_s, ndigits).alias("var_s"),
        F.when(var_s > 0, F.round(zc / F.sqrt(var_s), ndigits)).alias(
            "z"
        ),
    )
    return with_p_value(staged, "z", "p_value", ndigits)


def daily_metric_corr(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlation matrix of per-key daily series —
    the metrics-that-move-together dashboard (leading indicators,
    redundant alerts, cannibalization): for every unordered key pair,
    correlate their daily sums over the days BOTH reported (gaps
    explicit, the acf_lags "pairs that exist" convention).

    Exactness: daily sums are exact decimals; per pair the five
    sufficient statistics are exact decimal sums collapsing to double
    once, and corr is one fixed-order expression rounded once (the
    acf_lags discipline). Constant series / n < 2 yield NULL.

    Output per pair (key_a < key_b): ``(key_a, key_b, n_days,
    corr)``, ordered.

    Scale: one (day, key) groupBy; the pair build self-joins the
    calendar-bounded daily table on the DAY key (|days| x |keys|^2
    rows — both factors bounded: calendar and metric registry).
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.filter(F.col(key_col).isNotNull()).groupBy(
        day, F.col(key_col).cast("string").alias("__k")
    ).agg(F.sum(dec).alias("__v"))
    rhs = daily.select(
        F.col("__d"),
        F.col("__k").alias("__k2"),
        F.col("__v").alias("__v2"),
    )
    pairs = daily.join(rhs, "__d").filter(F.col("__k") < F.col("__k2"))
    agg = pairs.groupBy(
        F.col("__k").alias("key_a"), F.col("__k2").alias("key_b")
    ).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("__v").alias("__sx"),
        F.sum("__v2").alias("__sy"),
        F.sum(F.col("__v") * F.col("__v2")).alias("__sxy"),
        F.sum(F.col("__v") * F.col("__v")).alias("__sxx"),
        F.sum(F.col("__v2") * F.col("__v2")).alias("__syy"),
    )
    nn = F.col("n_days").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = nn * F.col("__sxy").cast("double") - sx * sy
    vx = nn * F.col("__sxx").cast("double") - sx * sx
    vy = nn * F.col("__syy").cast("double") - sy * sy
    return agg.select(
        "key_a",
        "key_b",
        "n_days",
        F.when(
            (F.col("n_days") > 1) & (vx > 0) & (vy > 0),
            F.round(num / F.sqrt(vx * vy), ndigits),
        ).alias("corr"),
    ).orderBy("key_a", "key_b")


# Gaussian breakpoints for SAX alphabets (Lin, Keogh, Lonardi & Chiu
# 2003, public literature), truncated to 6dp — FIXED literals shared
# with the oracle so both engines cut the identical grid.
_SAX_BREAKPOINTS = {
    3: [-0.430727, 0.430727],
    4: [-0.674490, 0.0, 0.674490],
    5: [-0.841621, -0.253347, 0.253347, 0.841621],
    8: [
        -1.150349, -0.674490, -0.318639, 0.0,
        0.318639, 0.674490, 1.150349,
    ],
}


def sax_symbolize(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    n_segments: int = 8,
    alphabet: int = 4,
    ndigits: int = 6,
) -> DataFrame:
    """SAX symbolization (Symbolic Aggregate approXimation — Lin,
    Keogh, Lonardi & Chiu 2003, public literature): z-normalize each
    series, average it into ``n_segments`` equal-count PAA segments,
    and map each segment mean to a letter by fixed Gaussian
    breakpoints — the discretization that turns raw telemetry into
    strings amenable to motif mining, hashing, and cheap
    similarity-by-edit-distance.

    Determinism: ranks come from a per-series row_number over
    (ts, value) — NULL values are filtered FIRST (the
    ewma_last/struct-sort contract); segment assignment is integer
    floor((rank-1)*w / n); mu/sigma derive from exact decimal(18,2)
    sums cast once, so both engines build the identical doubles, and
    the breakpoints are shared 6dp literals. A zero-variance series
    yields the all-middle-letter word (z = 0 everywhere, the
    canonical convention).

    Output: one row per series ``(series_col, n_segments_out, word)``
    where word is the length-``n_segments`` letter string (a..),
    ordered by series. Series shorter than ``n_segments`` emit a
    shorter word (one letter per non-empty segment).

    Scale: one keyed window per series for ranks (partition =
    series), one groupBy per (series, segment), one groupBy per
    series — telemetry series are bounded per key; cross-series
    parallelism is the scale axis (the acf/holt contract).
    """
    if alphabet not in _SAX_BREAKPOINTS:
        raise ValueError(
            f"sax_symbolize: alphabet must be one of "
            f"{sorted(_SAX_BREAKPOINTS)}"
        )
    bps = _SAX_BREAKPOINTS[alphabet]
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(series_col).alias("__s"),
        F.col(ts_col).alias("__t"),
        F.col(value_col).cast("decimal(18,2)").alias("__v"),
    )
    w = Window.partitionBy("__s").orderBy("__t", "__v")
    ranked = base.withColumn("__rn", F.row_number().over(w))
    stats = base.groupBy("__s").agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__v").alias("__sum"),
        F.sum(exact("__v", 4) * F.col("__v")).alias(
            "__sumsq"
        ),
    )
    seg = (
        ranked.join(stats.select("__s", "__n"), "__s")
        .withColumn(
            # exact integral division (the r11 `div` discipline): a
            # double quotient that lands epsilon below an integer
            # would floor into the wrong segment
            "__seg",
            F.expr(f"((__rn - 1) * {int(n_segments)}) div __n"),
        )
        .groupBy("__s", "__seg")
        .agg(
            F.sum("__v").alias("__segsum"),
            F.count("*").cast("long").alias("__segn"),
        )
    )
    joined = seg.join(stats, "__s")
    nn = F.col("__n").cast("double")
    mu = F.col("__sum").cast("double") / nn
    var = (
        F.col("__sumsq").cast("double") - nn * mu * mu
    ) / nn
    joined = joined.withColumns(
        {
            "__mu": mu,
            "__sd": F.when(var > 0, F.sqrt(var)),
        }
    )
    zmean = F.when(
        F.col("__sd").isNotNull(),
        (
            F.col("__segsum").cast("double")
            / F.col("__segn").cast("double")
            - F.col("__mu")
        )
        / F.col("__sd"),
    ).otherwise(F.lit(0.0))
    letter = F.lit(chr(ord("a") + len(bps)))
    for i in range(len(bps) - 1, -1, -1):
        letter = F.when(
            zmean <= F.lit(float(bps[i])), F.lit(chr(ord("a") + i))
        ).otherwise(letter)
    lettered = joined.select("__s", "__seg", letter.alias("__l"))
    return (
        lettered.groupBy("__s")
        .agg(
            F.count("*").cast("long").alias("n_segments_out"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__seg", "__l"))
                    ),
                    lambda s: s["__l"],
                ),
                "",
            ).alias("word"),
        )
        .select(
            F.col("__s").alias(series_col),
            "n_segments_out",
            "word",
        )
        .orderBy(series_col)
    )


def sax_mindist(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    n_segments: int = 8,
    alphabet: int = 4,
    ndigits: int = 6,
) -> DataFrame:
    """MINDIST between every pair of series' SAX words (Lin, Keogh,
    Lonardi & Chiu 2003, public literature) — the lower-bounding
    distance that makes SAX words USEFUL: cheap all-pairs screening
    whose distance never exceeds the true z-normalized euclidean
    distance, so pruning on it is exact.

        MINDIST = sqrt(n/w) * sqrt(sum_i cell(a_i, b_i)^2)
        cell(r, c) = 0 if |r - c| <= 1 else bp_max(r,c)-1 - bp_min(r,c)

    with the same 6dp breakpoint literals as :func:`sax_symbolize`.
    n is the series length; for pairs of different lengths the
    canonical formula assumes equal n, so this uses min(n_1, n_2)
    (documented, conservative — keeps the lower bound property for
    the shorter series' resolution).

    Output: one row per unordered pair ``(series_a, series_b,
    word_a, word_b, mindist)``, ordered (series_a, series_b). Pairs
    whose words differ in length (short series) yield NULL mindist.

    Scale: the word table is |series|-sized; the pair stage is a
    bounded self-join over it — series count is the scale axis, not
    rows.
    """
    if alphabet not in _SAX_BREAKPOINTS:
        raise ValueError(
            f"sax_mindist: alphabet must be one of "
            f"{sorted(_SAX_BREAKPOINTS)}"
        )
    bps = _SAX_BREAKPOINTS[alphabet]
    words = sax_symbolize(
        df, series_col, ts_col, value_col,
        n_segments=n_segments, alphabet=alphabet, ndigits=ndigits,
    )
    lens = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(F.col(series_col).alias("__s"))
        .agg(F.count("*").cast("long").alias("__len"))
    )
    wt = words.select(
        F.col(series_col).alias("__s"), F.col("word").alias("__w")
    ).join(lens, "__s")
    a = wt.select(
        F.col("__s").alias("series_a"),
        F.col("__w").alias("word_a"),
        F.col("__len").alias("__na"),
    )
    b = wt.select(
        F.col("__s").alias("series_b"),
        F.col("__w").alias("word_b"),
        F.col("__len").alias("__nb"),
    )
    # broadcast the build side: the word table is |series|-sized, so
    # this plans as a BroadcastNestedLoopJoin, not a CartesianProduct
    pairs = a.crossJoin(F.broadcast(b)).filter(
        F.col("series_a") < F.col("series_b")
    )
    # letter ordinals per position; the cell distance is a bounded
    # CASE over the shared breakpoint literals
    idx = lambda w, i: F.ascii(F.substring(w, i, 1)) - 97  # noqa: E731
    cell_sq = None
    for i in range(1, n_segments + 1):
        r = idx(F.col("word_a"), F.lit(i))
        c = idx(F.col("word_b"), F.lit(i))
        hi = F.greatest(r, c)
        lo = F.least(r, c)
        bp_hi = F.lit(0.0)
        bp_lo = F.lit(0.0)
        for j, v in enumerate(bps):
            bp_hi = F.when(hi - 1 == j, F.lit(float(v))).otherwise(
                bp_hi
            )
            bp_lo = F.when(lo == j, F.lit(float(v))).otherwise(bp_lo)
        cell = F.when(hi - lo <= 1, F.lit(0.0)).otherwise(
            bp_hi - bp_lo
        )
        term = cell * cell
        cell_sq = term if cell_sq is None else cell_sq + term
    return (
        pairs.withColumn("__csq", cell_sq)
        .select(
            "series_a",
            "series_b",
            "word_a",
            "word_b",
            F.when(
                (F.length("word_a") == n_segments)
                & (F.length("word_b") == n_segments),
                F.round(
                    F.sqrt(
                        F.least("__na", "__nb").cast("double")
                        / F.lit(float(n_segments))
                    )
                    * F.sqrt(F.col("__csq")),
                    ndigits,
                ),
            ).alias("mindist"),
        )
        .orderBy("series_a", "series_b")
    )


def durbin_watson(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Durbin-Watson first-order autocorrelation statistic of the
    detrended daily series (Durbin & Watson 1950, public literature)
    — the classic "are my regression residuals serially correlated?"
    probe: DW ~ 2 means none, -> 0 positive, -> 4 negative serial
    correlation.

    Semantics: the daily series is sum(``value_col``) per calendar
    day (decimal-exact, the ``acf_lags`` convention), indexed i =
    1..n in day order; residuals come from the OLS line of value on
    i; DW = sum((e_i - e_{i-1})^2) / sum(e_i^2) over consecutive
    index positions (calendar gaps are treated as consecutive steps,
    like the pair-that-exists convention made explicit).

    Exactness: St = n(n+1)/2 and Stt = n(n+1)(2n+1)/6 are closed-form
    longs, Sv / Stv decimal-exact sums; slope and intercept collapse
    to double once; each residual is ONE fixed-order double
    expression, quantized half-away to micro-longs, and both DW sums
    are exact decimal(38,0) sums of micro-integer squares — the
    DuckDB oracle replays every digit (the pacf/mmr quantization
    discipline).

    Scale: one calendar-day groupBy (map-side combinable); everything
    after runs on the calendar-bounded daily table (decades = ~1e4
    rows), where the single-partition window is free by construction
    (the ``acf_lags`` argument).

    No counterpart in the reference engine (SURVEY.md §2.2).
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    w = Window.orderBy("__d")
    idx = daily.withColumn("__i", F.row_number().over(w).cast("long"))
    stats = F.broadcast(
        idx.agg(
            F.count("*").cast("long").alias("__n"),
            F.sum("__v").alias("__sv"),
            F.sum(F.col("__i").cast("decimal(19,0)") * F.col("__v")).alias(
                "__stv"
            ),
        )
    )
    r = idx.crossJoin(stats)
    n = F.col("__n").cast("double")
    st = (F.col("__n") * (F.col("__n") + 1) / 2).cast("long").cast("double")
    stt = (
        (F.col("__n") * (F.col("__n") + 1) * (2 * F.col("__n") + 1) / 6)
        .cast("long")
        .cast("double")
    )
    sv = F.col("__sv").cast("double")
    stv = F.col("__stv").cast("double")
    slope = (n * stv - st * sv) / (n * stt - st * st)
    r = r.withColumn("__b", slope).withColumn(
        "__a", (sv - F.col("__b") * st) / n
    )
    e = (
        F.col("__v").cast("double")
        - F.col("__a")
        - F.col("__b") * F.col("__i").cast("double")
    )
    r = r.withColumn("__em", F.round(e * 1e6).cast("long"))
    r = r.withColumn("__ep", F.lag("__em").over(w))
    d = exact(F.col("__em") - F.col("__ep"))
    em = exact("__em")
    out = r.agg(
        F.max("__n").alias("n_days"),
        F.max(F.round(F.col("__b"), ndigits)).alias("slope"),
        F.max(
            F.round((F.col("__sv").cast("double") - F.col("__b") * st) / n, ndigits)
        ).alias("intercept"),
        F.sum(F.when(F.col("__ep").isNotNull(), d * d)).alias("__num"),
        F.sum(em * em).alias("__den"),
    )
    return out.select(
        "n_days",
        "slope",
        "intercept",
        F.when(
            (F.col("n_days") >= 3) & (F.col("__den") > 0),
            F.round(
                F.col("__num").cast("double") / F.col("__den").cast("double"),
                ndigits,
            ),
        ).alias("dw_stat"),
    )


def ljung_box(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    ndigits: int = 6,
) -> DataFrame:
    """Ljung-Box portmanteau whiteness statistic over the daily
    aggregate series (Ljung & Box 1978, public literature) — "is
    there ANY autocorrelation in the first h lags?", the standard
    residual-whiteness gate after a forecast fit (``holt_linear``,
    ``backtest_snaive``).

    Semantics: the daily series is sum(``value_col``) per calendar
    day indexed i = 1..n in day order; r_k is the lag-k sample
    autocorrelation with the FULL-series mean and denominator (the
    textbook estimator, unlike ``acf_lags``'s pairwise Pearson);
    Q = n(n+2) * sum_{k=1..h} r_k^2 / (n-k), chi2(h) under the null.
    Statistic-only output (the chi2(h) tail is not portably
    replayable for h > 2 — the bartlett convention).

    Exactness: per-lag sufficient statistics (cnt, Sx, Sy, Sxy) are
    decimal-exact sums; each r_k collapses to double in ONE
    fixed-order expression; the k-sum folds over an array_sort'ed
    collect_list (the bartlett fold discipline), so the DuckDB oracle
    replays digit-for-digit.

    Scale: one calendar-day groupBy; the |days| x h pair build is a
    self-equi-join on index arithmetic over the calendar-bounded
    daily table — broadcast-class at any corpus size.

    No counterpart in the reference engine (SURVEY.md §2.2).
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    w = Window.orderBy("__d")
    idx = daily.withColumn("__i", F.row_number().over(w).cast("long"))
    stats = F.broadcast(
        idx.agg(
            F.count("*").cast("long").alias("__n"),
            F.sum("__v").alias("__sv"),
            F.sum(exact("__v", 4) * F.col("__v")).alias(
                "__svv"
            ),
        )
    )
    lags = F.explode(F.sequence(F.lit(1), F.lit(int(max_lag)))).alias("lag")
    left = idx.select("__i", F.col("__v").alias("__x"), lags)
    right = idx.select(
        F.col("__i").alias("__i2"), F.col("__v").alias("__y")
    )
    pairs = left.join(
        right, F.col("__i") + F.col("lag") == F.col("__i2"), "inner"
    )
    perk = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("__cnt"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(exact("__x", 4) * F.col("__y")).alias(
            "__sxy"
        ),
    )
    perk = perk.crossJoin(stats)
    n = F.col("__n").cast("double")
    m = F.col("__sv").cast("double") / n
    den0 = (
        F.col("__svv").cast("double")
        - F.col("__sv").cast("double") * F.col("__sv").cast("double") / n
    )
    rk = F.when(
        den0 > 0,
        (
            F.col("__sxy").cast("double")
            - m * F.col("__sx").cast("double")
            - m * F.col("__sy").cast("double")
            + F.col("__cnt").cast("double") * m * m
        )
        / den0,
    )
    scored = perk.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("__n").alias("__n"),
        rk.alias("__r"),
    )
    folded = scored.agg(
        F.max("__n").alias("n_days"),
        F.count("*").cast("int").alias("df"),
        F.min("__r").alias("__minr"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lag", "__n", "__r"))),
            F.lit(0.0),
            lambda acc, s: acc
            + s["__r"]
            * s["__r"]
            / (s["__n"].cast("double") - s["lag"].cast("double")),
        ).alias("__qsum"),
    )
    nn = F.col("n_days").cast("double")
    return folded.select(
        "n_days",
        "df",
        F.when(
            (F.col("n_days") > F.lit(int(max_lag)))
            & F.col("__minr").isNotNull(),
            F.round(nn * (nn + 2.0) * F.col("__qsum"), ndigits),
        ).alias("q_stat"),
    )


def theta_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    horizon: int = 7,
    scale: int = 1_000_000,
    ndigits: int = 6,
) -> DataFrame:
    """Theta-method forecast of the daily series (Assimakopoulos &
    Nikolopoulos 2000, public literature) — the M3-competition
    winner: average the linear-trend extrapolation (theta = 0) with
    an SES over the double-curvature theta = 2 line
    (y_i = 2*x_i - trend_i), capturing level persistence AND drift
    with two cheap components.

    Exactness: trend coefficients from the durbin_watson discipline
    (closed-form integer index moments + decimal-exact value sums,
    double collapse once); each theta2 point quantizes to a micro
    long in ONE double expression; the SES recurrence folds exact
    integers with rational alpha and floor quantization (the
    holt_linear integer-grid discipline — per-step 6dp rounding is
    NOT engine-replayable, integer state is); the forecast combines
    state and trend in one final double expression.

    Output: one row ``(n_days, slope, intercept, ses_level,
    forecast_1, forecast_h)`` (h = ``horizon``); n < 3 yields NULLs.

    Scale: one calendar-day groupBy; the fold runs on the bounded
    daily array (the ewma_last argument).
    """
    from fractions import Fraction

    fa = Fraction(str(alpha))
    pa, qa = fa.numerator, fa.denominator
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    w = Window.orderBy("__d")
    idx = daily.withColumn("__i", F.row_number().over(w).cast("long"))
    stats = F.broadcast(
        idx.agg(
            F.count("*").cast("long").alias("__n"),
            F.sum("__v").alias("__sv"),
            F.sum(
                F.col("__i").cast("decimal(19,0)") * F.col("__v")
            ).alias("__stv"),
        )
    )
    r = idx.crossJoin(stats)
    n = F.col("__n").cast("double")
    st = (F.col("__n") * (F.col("__n") + 1) / 2).cast("long").cast("double")
    stt = (
        (F.col("__n") * (F.col("__n") + 1) * (2 * F.col("__n") + 1) / 6)
        .cast("long")
        .cast("double")
    )
    sv = F.col("__sv").cast("double")
    stv = F.col("__stv").cast("double")
    r = r.withColumn(
        "__b", (n * stv - st * sv) / (n * stt - st * st)
    ).withColumn("__a", (sv - F.col("__b") * st) / n)
    theta2 = (
        2.0 * F.col("__v").cast("double")
        - (F.col("__a") + F.col("__b") * F.col("__i").cast("double"))
    )
    r = r.withColumn(
        "__ym", F.round(theta2 * F.lit(float(scale))).cast("long")
    )
    packed = r.groupBy().agg(
        F.max("__n").alias("n_days"),
        F.max("__a").alias("__a"),
        F.max("__b").alias("__b"),
        F.sort_array(
            F.collect_list(F.struct("__i", "__ym"))
        ).alias("__ps"),
    )
    ys = F.transform(F.col("__ps"), lambda p: p["__ym"])

    def _step(acc, y):
        return F.floor(
            (F.lit(pa) * y + F.lit(qa - pa) * acc) / F.lit(float(qa))
        ).cast("long")

    level = F.aggregate(
        F.slice(ys, 2, 2_147_483_000), F.element_at(ys, 1), _step
    )
    packed = packed.withColumn("__l", level)
    nn = F.col("n_days").cast("double")
    sc = F.lit(float(scale))

    def _fc(h: int):
        return F.round(
            0.5
            * (
                F.col("__l").cast("double") / sc
                + (F.col("__a") + F.col("__b") * (nn + float(h)))
            ),
            ndigits,
        )

    ok = F.col("n_days") >= 3
    return packed.select(
        "n_days",
        F.when(ok, F.round(F.col("__b"), ndigits)).alias("slope"),
        F.when(ok, F.round(F.col("__a"), ndigits)).alias("intercept"),
        F.when(ok, F.round(F.col("__l").cast("double") / sc, ndigits)).alias(
            "ses_level"
        ),
        F.when(ok, _fc(1)).alias("forecast_1"),
        F.when(ok, _fc(int(horizon))).alias("forecast_h"),
    )


def croston_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    demand_threshold: float = 0.0,
    alpha: float = 0.5,
    scale: int = 1_000_000,
    ndigits: int = 6,
) -> DataFrame:
    """Croston's intermittent-demand forecast (Croston 1972, public
    literature) — THE estimator for sparse series (spare parts, rare
    large purchases) where SES over the raw series is biased by the
    zeros: smooth demand SIZE and demand INTERVAL separately at
    demand points only; forecast per period = size / interval.

    Demand days are calendar days whose value sum exceeds
    ``demand_threshold``; intervals come from day OFFSETS against the
    first observed day, so zero-demand gaps need no calendar spine.

    Exactness: sizes quantize to micro longs; both recurrences fold
    exact integers with rational alpha and floor quantization (the
    holt_linear integer-grid discipline), state carried as a 3-long
    array (last_index, size_state, interval_state_micro_days); one
    double division at the end.

    Output: one row ``(n_days, n_demand_days, level_size,
    level_interval_days, forecast_per_day)``; fewer than 2 demand
    days yields NULLs.

    Scale: one calendar-day groupBy; the fold runs on the bounded
    demand-day array.
    """
    from fractions import Fraction

    fa = Fraction(str(alpha))
    pa, qa = fa.numerator, fa.denominator
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    first = F.broadcast(
        daily.agg(
            F.min("__d").alias("__d0"),
            F.count("*").cast("long").alias("n_days"),
        )
    )
    dd = (
        daily.crossJoin(first)
        .filter(
            F.col("__v").cast("double") > F.lit(float(demand_threshold))
        )
        .select(
            "n_days",
            (F.datediff(F.col("__d"), F.col("__d0")) + 1)
            .cast("long")
            .alias("__i"),
            (F.col("__v").cast("decimal(28,2)") * F.lit(int(scale)))
            .cast("long")
            .alias("__dm"),
        )
    )
    packed = dd.groupBy().agg(
        F.max("n_days").alias("n_days"),
        F.count("*").cast("long").alias("n_demand_days"),
        F.sort_array(F.collect_list(F.struct("__i", "__dm"))).alias(
            "__ps"
        ),
    )
    # state = [last_i, z (micro size), p (micro days)]
    init = F.array(
        F.element_at(F.col("__ps"), 1)["__i"],
        F.element_at(F.col("__ps"), 1)["__dm"],
        F.element_at(F.col("__ps"), 1)["__i"] * F.lit(int(scale)),
    )

    def _step(acc, e):
        gap = (e["__i"] - F.element_at(acc, 1)) * F.lit(int(scale))
        z = F.floor(
            (
                F.lit(pa) * e["__dm"]
                + F.lit(qa - pa) * F.element_at(acc, 2)
            )
            / F.lit(float(qa))
        ).cast("long")
        p = F.floor(
            (F.lit(pa) * gap + F.lit(qa - pa) * F.element_at(acc, 3))
            / F.lit(float(qa))
        ).cast("long")
        return F.array(e["__i"], z, p)

    state = F.aggregate(
        F.slice(F.col("__ps"), 2, 2_147_483_000), init, _step
    )
    packed = packed.withColumn("__st", state)
    z = F.element_at(F.col("__st"), 2).cast("double")
    p = F.element_at(F.col("__st"), 3).cast("double")
    sc = F.lit(float(scale))
    ok = F.col("n_demand_days") >= 2
    return packed.select(
        "n_days",
        "n_demand_days",
        F.when(ok, F.round(z / sc, ndigits)).alias("level_size"),
        F.when(ok, F.round(p / sc, ndigits)).alias(
            "level_interval_days"
        ),
        F.when(ok & (p > 0), F.round(z / p, ndigits)).alias(
            "forecast_per_day"
        ),
    )


def hurst_exponent(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    block_sizes: tuple = (8, 16, 32, 64),
    ndigits: int = 6,
) -> DataFrame:
    """Hurst exponent by rescaled-range analysis (Hurst 1951;
    Mandelbrot & Wallis 1969, public literature) — the long-memory
    probe: H ~ 0.5 for a random walk, > 0.5 for trending
    (persistent), < 0.5 for mean-reverting series; the diagnostic a
    forecasting pipeline runs before trusting an AR-family model.

    Method: for each block size s (complete blocks only), split the
    day-indexed series, compute R/S per block (range of cumulative
    mean deviations over the population std), average per size, and
    take H as the OLS slope of log(mean R/S) on log(s).

    Exactness: within a block every cumulative deviation is the exact
    integer sum of (s*c_j - S_c) in cents (no float until the single
    per-block R/S expression); per-block R/S quantizes to micro
    longs, per-size means are exact integer sums divided once, and
    the final tiny regression folds over an array_sort'ed
    collect_list (the bartlett fold discipline).

    Output: one row ``(n_days, n_sizes, h_exponent)``; fewer than 2
    usable sizes yields NULL H.

    Scale: one calendar-day groupBy; block windows partition by
    (size, block) so every stage stays parallel; the per-size tables
    are |sizes| rows.
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(day).agg(F.sum(dec).alias("__v"))
    w = Window.orderBy("__d")
    idx = daily.withColumn(
        "__i", (F.row_number().over(w) - 1).cast("long")
    ).withColumn(
        "__c", (F.col("__v").cast("decimal(28,2)") * 100).cast("long")
    )
    tot = F.broadcast(idx.agg(F.count("*").cast("long").alias("__n")))
    sizes = F.explode(
        F.array(*[F.lit(int(s)) for s in block_sizes])
    ).alias("__s")
    expanded = idx.crossJoin(tot).select(
        "__i", "__c", "__n", sizes
    ).filter(
        # complete blocks only
        (F.col("__i") < (F.col("__n") / F.col("__s")).cast("long")
         * F.col("__s"))
        & (F.col("__n") >= F.col("__s"))
    )
    expanded = expanded.withColumn(
        "__blk", F.expr("__i div __s")
    ).withColumn("__j", F.col("__i") % F.col("__s"))
    bstats = expanded.groupBy("__s", "__blk").agg(
        F.sum("__c").alias("__sc"),
        F.sum(
            exact("__c") * F.col("__c")
        ).alias("__qc"),
    )
    joined = expanded.join(bstats, ["__s", "__blk"])
    # exact integer cumdev in (cents * s) units
    dev = F.col("__s").cast("long") * F.col("__c") - F.col("__sc")
    wb = (
        Window.partitionBy("__s", "__blk")
        .orderBy("__j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = joined.withColumn("__cum", F.sum(dev).over(wb))
    per_block = cum.groupBy("__s", "__blk").agg(
        F.max("__cum").alias("__mx"),
        F.min("__cum").alias("__mn"),
        F.max("__sc").alias("__sc"),
        F.max("__qc").alias("__qc"),
    )
    s_d = F.col("__s").cast("double")
    rng = (
        F.greatest(F.col("__mx"), F.lit(0).cast("long"))
        - F.least(F.col("__mn"), F.lit(0).cast("long"))
    ).cast("double") / s_d
    var = (
        F.col("__qc").cast("double")
        - F.col("__sc").cast("double")
        * F.col("__sc").cast("double")
        / s_d
    ) / s_d
    rs = F.when(var > 0, rng / F.sqrt(var))
    scored = per_block.select(
        "__s",
        "__blk",
        F.round(rs * 1e6).cast("long").alias("__rsm"),
    )
    per_size = scored.filter(F.col("__rsm").isNotNull()).groupBy(
        "__s"
    ).agg(
        F.count("*").cast("long").alias("__nb"),
        F.sum("__rsm").alias("__sum"),
    )
    per_size = per_size.filter(F.col("__sum") > 0).select(
        "__s",
        F.log(F.col("__s").cast("double")).alias("__lx"),
        F.log(
            F.col("__sum").cast("double")
            / F.col("__nb").cast("double")
            / 1e6
        ).alias("__ly"),
    )
    folded = per_size.agg(
        F.count("*").cast("long").alias("n_sizes"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__s", "__lx", "__ly"))),
            F.struct(
                F.lit(0.0).alias("sx"),
                F.lit(0.0).alias("sy"),
                F.lit(0.0).alias("sxx"),
                F.lit(0.0).alias("sxy"),
            ),
            lambda acc, e: F.struct(
                (acc["sx"] + e["__lx"]).alias("sx"),
                (acc["sy"] + e["__ly"]).alias("sy"),
                (acc["sxx"] + e["__lx"] * e["__lx"]).alias("sxx"),
                (acc["sxy"] + e["__lx"] * e["__ly"]).alias("sxy"),
            ),
        ).alias("__f"),
    )
    k = F.col("n_sizes").cast("double")
    num = k * F.col("__f.sxy") - F.col("__f.sx") * F.col("__f.sy")
    den = k * F.col("__f.sxx") - F.col("__f.sx") * F.col("__f.sx")
    out = folded.crossJoin(F.broadcast(tot)).select(
        F.col("__n").alias("n_days"),
        "n_sizes",
        F.when((F.col("n_sizes") >= 2) & (den != 0), F.round(num / den, ndigits)).alias(
            "h_exponent"
        ),
    )
    return out


def lb_keogh_pairs(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    radius: int = 2,
    ndigits: int = 6,
) -> DataFrame:
    """LB_Keogh lower bound on DTW distance between every ordered
    pair of keys' daily series (Keogh & Ratanamahatana 2005, public
    literature) — THE pruning screen for dynamic-time-warping search:
    cheap (linear, no DP), never overestimates, so any pair whose
    LB_Keogh already exceeds a candidate's true DTW can be discarded
    unexamined.

        LB(A, B) = sqrt( sum_t  (a_t - U_t)^2  if a_t > U_t
                               (L_t - a_t)^2  if a_t < L_t
                               0              otherwise )

    with U/L the +-``radius``-day envelope of B's OWN series and the
    sum over calendar days both series share (explicit pairs — gaps
    don't impute).

    Exactness: series are exact cents; envelopes are integer min/max
    over a bounded row window (key-partitioned — parallel); each gap
    term is an exact integer square summed as decimal(38,0); one
    sqrt at the end (bit-identical given an exact radicand).

    Output: one row per ordered pair ``(key_a, key_b, n_days,
    lb_dist)``, ordered; the key domain is bounded by contract (the
    sax_mindist convention).

    Scale: one (key, day) groupBy; envelope windows partition by key;
    the pair stage joins per-day rows on the calendar-bounded day
    key — |keys|^2 * |days| rows at most, broadcast-class for
    bounded key domains.
    """
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.groupBy(F.col(key_col).alias("__k"), day).agg(
        (F.sum(dec).cast("decimal(28,2)") * 100)
        .cast("long")
        .alias("__c")
    )
    wenv = (
        Window.partitionBy("__k")
        .orderBy("__d")
        .rowsBetween(-int(radius), int(radius))
    )
    env = daily.select(
        F.col("__k").alias("__kb"),
        F.col("__d"),
        F.max("__c").over(wenv).alias("__u"),
        F.min("__c").over(wenv).alias("__l"),
    )
    a = daily.select(
        F.col("__k").alias("key_a"), "__d", F.col("__c").alias("__a")
    )
    j = a.join(env, "__d").filter(F.col("key_a") != F.col("__kb"))
    gap = F.when(
        F.col("__a") > F.col("__u"), F.col("__a") - F.col("__u")
    ).when(
        F.col("__a") < F.col("__l"), F.col("__l") - F.col("__a")
    ).otherwise(F.lit(0).cast("long"))
    agg = j.groupBy("key_a", F.col("__kb").alias("key_b")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(exact(gap) * gap).alias("__s"),
    )
    return agg.select(
        "key_a",
        "key_b",
        "n_days",
        F.round(F.sqrt(F.col("__s").cast("double")) / 100.0, ndigits).alias(
            "lb_dist"
        ),
    ).orderBy("key_a", "key_b")


def adf_test(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dickey-Fuller unit-root test on the DAILY sum series of
    ``value_col`` (Dickey & Fuller 1979, public literature; the
    lag-0 "ADF(0)" regression):

        dy_t = alpha + beta * y_{t-1} + e_t

    A clearly negative t(beta) rejects the unit root — the
    stationarity check a forecasting pipeline runs before trusting
    differenced models. Statistic-only output (the DF distribution is
    nonstandard — no portable CDF; the r13 convention shared with
    anova_oneway / bartlett).

    Exactness: daily sums are exact decimal(18,2) cents collapsed to
    integer cents longs; day indexing uses the scalable
    ``ranking.global_row_number`` (range shuffle, no single-partition
    window); the lag join is an equi-join on idx-1. All OLS moments
    (sums of cents and cents-products) are exact decimal(38,0);
    beta, RSS and the t-statistic are fixed-order double expressions
    over those exact integers, rounded once:

        beta = Sxd / Sxx,  RSS = Sdd - beta * Sxd,
        t    = beta / sqrt((RSS / (n - 2)) / Sxx)

    Output: one row ``(n, beta, t_stat)`` where n counts (lag,
    diff) pairs; n < 3 or a constant lag series yields NULLs.

    Scale: one date groupBy (map-side combinable, calendar-bounded
    output), one range shuffle for the index, one self-equi-join on
    the index, one 1-row agg.
    """
    from .ranking import global_row_number

    cents = F.sum(
        F.col(value_col).cast("decimal(18,2)")
    ).cast("decimal(18,2)") * 100
    daily = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("__d"))
        .agg(cents.cast("long").alias("__y"))
    )
    idx = global_row_number(
        daily, ["__d"], num_partitions=num_partitions, out_col="__i"
    )
    nxt = idx.select(
        (F.col("__i") - 1).alias("__i"), F.col("__y").alias("__y1")
    )
    pairs = idx.join(nxt, "__i").select(
        F.col("__y").alias("__x"),
        (F.col("__y1") - F.col("__y")).alias("__dy"),
    )
    agg = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(exact_sum("__x"), exact(F.lit(0))).alias("__sx"),
        F.coalesce(exact_sum("__dy"), exact(F.lit(0))).alias("__sd"),
        F.coalesce(
            exact_sum("__x", "__x"),
            exact(F.lit(0)),
        ).alias("__sxx"),
        F.coalesce(
            exact_sum("__dy", "__dy"),
            exact(F.lit(0)),
        ).alias("__sdd"),
        F.coalesce(
            exact_sum("__x", "__dy"),
            exact(F.lit(0)),
        ).alias("__sxd"),
    )
    nd = exact("n")
    sxx_c = (nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    sxd_c = (nd * F.col("__sxd") - F.col("__sx") * F.col("__sd")).cast(
        "double"
    )
    sdd_c = (nd * F.col("__sdd") - F.col("__sd") * F.col("__sd")).cast(
        "double"
    )
    nn = F.col("n").cast("double")
    # centered moments carry the shared n factor; it cancels in beta
    # and scales RSS by n (divided back out in the variance)
    beta = F.when((F.col("n") > 2) & (sxx_c > 0), sxd_c / sxx_c)
    rss_n = sdd_c - beta * sxd_c  # = n * RSS (the shared n factor)
    t = F.when(
        beta.isNotNull() & (rss_n > 0),
        beta / F.sqrt(rss_n / (nn - F.lit(2.0)) / sxx_c),
    )
    return agg.select(
        "n",
        F.round(beta, ndigits).alias("beta"),
        F.round(t, ndigits).alias("t_stat"),
    )


def kpss_test(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """KPSS level-stationarity statistic on the DAILY sum series of
    ``value_col`` (Kwiatkowski, Phillips, Schmidt & Shin 1992, public
    literature; the lag-0 short-run variance variant):

        eta = sum_t S_t^2 / (n^2 * sigma2),  S_t = sum_{i<=t} e_i,
        e_i = y_i - mean(y),  sigma2 = sum(e^2) / n

    Large eta rejects stationarity — the complement to ``adf_test``
    (KPSS's null IS stationarity). Statistic-only output (nonstandard
    distribution, fixed critical values in the literature).

    Exactness — the whole statistic is ONE division of exact
    integers: residuals are scaled by n (e'_i = n*y_i - S with S the
    exact cents total, an exact integer), partial sums of e' come
    from the scalable ``ranking.global_cumsum_before``, and

        eta = sum(S'_t^2) / (n * sum(e'^2))

    (the n-scaling contributes n^2 to both numerator and denominator
    sums; the leftover factor is exactly n). Degenerate zero variance
    yields NULL.

    Output: one row ``(n, kpss_stat)``.

    Scale: one date groupBy, one bounded-collect total, one range
    shuffle for the cumsum, one 1-row agg.
    """
    from .ranking import global_cumsum_before

    cents = F.sum(
        F.col(value_col).cast("decimal(18,2)")
    ).cast("decimal(18,2)") * 100
    daily = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("__d"))
        .agg(cents.cast("long").alias("__y"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("__n"),
        F.coalesce(F.sum("__y"), F.lit(0)).cast("long").alias("__s"),
    )
    scaled = daily.crossJoin(F.broadcast(tot)).select(
        "__d",
        (F.col("__y") * F.col("__n") - F.col("__s")).alias("__e"),
        "__n",
    )
    cum = global_cumsum_before(
        scaled, ["__d"], "__e", num_partitions=num_partitions,
        out_col="__sb",
    )
    agg = cum.select(
        "__n",
        (F.col("__sb") + F.col("__e")).alias("__st"),
        "__e",
    ).agg(
        F.max("__n").cast("long").alias("n"),
        F.coalesce(
            exact_sum("__st", "__st"),
            exact(F.lit(0)),
        ).alias("__ssq"),
        F.coalesce(
            exact_sum("__e", "__e"),
            exact(F.lit(0)),
        ).alias("__esq"),
    )
    eta = F.when(
        (F.col("n") > 0) & (F.col("__esq").cast("double") > 0),
        F.round(
            F.col("__ssq").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("__esq").cast("double")
            ),
            ndigits,
        ),
    )
    return agg.select("n", eta.alias("kpss_stat"))


_DTW_INF = 4_000_000_000_000_000_000  # > any reachable path cost


def dtw_distance(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    n_segments: int = 16,
    ndigits: int = 6,
) -> DataFrame:
    """Dynamic-time-warping distance between every ordered pair of
    keys' z-normalized daily series (Sakoe & Chiba 1978; the
    PAA-compressed form of Keogh & Pazzani 2000 — public literature):
    each series is reduced to ``n_segments`` equal-count segment
    means, z-normalized, and the classic DP

        D(i,j) = c_ij + min(D(i-1,j), D(i,j-1), D(i-1,j-1))

    is evaluated with squared-difference costs; the reported distance
    is sqrt(D(m,m)). The exact companion to ``lb_keogh_pairs`` (the
    lower bound prunes; this ranks the survivors).

    Exactness — the WHOLE DP is integer min-plus arithmetic:
    z-normalized segment means quantize to 1e-6 micro-longs (mu/sigma
    are fixed-order doubles over exact decimal cents moments; the
    segment mean is ONE double division of exact integers — identical
    in every engine), costs are exact integer squares, and each DP
    row is a min-plus expression over longs (sentinel 4e18 stands in
    for +inf; reachable path costs stay < 5e15 by the |z| <= ~30
    envelope, so the sentinel never collides). No float accumulates
    across data-dependent order anywhere.

    The row recurrence is evaluated WITHOUT sequential dependence via
    the min-plus prefix identity (the warping path enters row i at
    some column l then runs right):

        D(i,j) = min_{l<=j} [ prefC(j) - prefC(l-1)
                              + min(D(i-1,l), D(i-1,l-1)) ]

    — O(m^2) per row but closed-form per element, so the m DP rows
    unroll as m array-transform projections (the hilbert/with_p_value
    staging discipline; NO per-row Python, NO iterative driver loop).

    Keys with fewer than ``n_segments`` days or zero variance are
    dropped (z undefined / segments empty). Key domain bounded by
    contract (the sax_mindist / lb_keogh convention).

    Output: one row per ordered pair ``(key_a, key_b, dtw)``.

    Scale: one (key, day) groupBy; per-key windows partition by key;
    the pair stage is a broadcast-class product of the bounded key
    domain; the DP runs in ONE projection chain over |keys|^2 rows
    with m+1-element long arrays — no shuffle inside the DP.
    """
    m = int(n_segments)
    day = F.to_date(F.col(ts_col)).alias("__d")
    dec = F.col(value_col).cast("decimal(18,2)")
    daily = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).groupBy(F.col(key_col).alias("__k"), day).agg(
        (F.sum(dec).cast("decimal(28,2)") * 100)
        .cast("long")
        .alias("__c")
    )
    stats = daily.groupBy("__k").agg(
        F.count("*").cast("long").alias("__n"),
        exact_sum("__c").alias("__s"),
        exact_sum("__c", "__c").alias("__ss"),
    ).filter(
        (F.col("__n") >= m)
        & (
            (
                exact("__n") * F.col("__ss")
                - F.col("__s") * F.col("__s")
            ).cast("double")
            > 0
        )
    )
    wrank = Window.partitionBy("__k").orderBy("__d")
    ranked = daily.join(stats, "__k").select(
        "__k", "__c", "__n", "__s", "__ss",
        (F.row_number().over(wrank) - 1).cast("long").alias("__r"),
    )
    seg = ranked.select(
        "__k", "__n", "__s", "__ss",
        F.expr(f"(__r * {m}) div __n").cast("int").alias("__g"),
        "__c",
    ).groupBy("__k", "__g", "__n", "__s", "__ss").agg(
        F.sum("__c").cast("long").alias("__sg"),
        F.count("*").cast("long").alias("__kg"),
    )
    nn = F.col("__n").cast("double")
    mu = F.col("__s").cast("double") / nn
    var = (
        exact("__n") * F.col("__ss") - F.col("__s") * F.col("__s")
    ).cast("double") / (nn * nn)
    zseg = (
        F.col("__sg").cast("double") / F.col("__kg").cast("double") - mu
    ) / F.sqrt(var)
    qseg = seg.select(
        "__k", "__g",
        F.round(zseg * 1e6, 0).cast("long").alias("__q"),
    )
    arrs = qseg.groupBy("__k").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__g", "__q"))),
            lambda s: s["__q"],
        ).alias("__arr")
    )
    rhs = arrs.select(
        F.col("__k").alias("__k2"), F.col("__arr").alias("__b")
    )
    pairs = (
        arrs.select(F.col("__k").alias("__k1"), F.col("__arr").alias("__a"))
        .join(F.broadcast(rhs), F.col("__k1") < F.col("__k2"))
    )
    inf = F.lit(_DTW_INF).cast("long")
    init = F.concat(
        F.array(F.lit(0).cast("long")),
        F.array_repeat(inf, m),
    )
    dp = pairs.withColumn("__dp", init)
    for i in range(1, m + 1):
        ai = F.element_at(F.col("__a"), i)
        c = F.transform(F.col("__b"), lambda x: (ai - x) * (ai - x))
        dp = dp.withColumn("__c", c).withColumn(
            "__pc",
            F.transform(
                F.sequence(F.lit(1), F.lit(m)),
                lambda j: F.aggregate(
                    F.slice(F.col("__c"), F.lit(1), j),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ),
            ),
        ).withColumn(
            "__en",
            F.transform(
                F.sequence(F.lit(1), F.lit(m)),
                lambda l: F.least(
                    F.element_at(F.col("__dp"), (l + 1).cast("int")),
                    F.element_at(F.col("__dp"), l.cast("int")),
                ),
            ),
        ).withColumn(
            "__dp",
            F.concat(
                F.array(inf),
                F.transform(
                    F.sequence(F.lit(1), F.lit(m)),
                    lambda j: F.array_min(
                        F.transform(
                            F.sequence(F.lit(1), j),
                            lambda l: F.element_at(
                                F.col("__pc"), j.cast("int")
                            )
                            - F.when(
                                l == 1, F.lit(0).cast("long")
                            ).otherwise(
                                F.element_at(
                                    F.col("__pc"), (l - 1).cast("int")
                                )
                            )
                            + F.element_at(F.col("__en"), l.cast("int")),
                        )
                    ),
                ),
            ),
        )
    return dp.select(
        F.col("__k1").alias("key_a"),
        F.col("__k2").alias("key_b"),
        F.round(
            F.sqrt(
                F.element_at(F.col("__dp"), m + 1).cast("double")
            )
            / 1e6,
            ndigits,
        ).alias("dtw"),
    ).orderBy("key_a", "key_b")


def granger_lag1(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    cause_key: str,
    effect_key: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Lag-1 Granger causality F-statistic (Granger 1969, public
    literature): does yesterday's ``cause_key`` daily series improve
    the one-step forecast of ``effect_key`` beyond the effect's own
    lag?

        restricted: y_t = a + b*y_{t-1}
        full:       y_t = a + b*y_{t-1} + c*x_{t-1}
        F = (RSS0 - RSS1) / (RSS1 / (n - 3))

    Statistic-only output (F distribution — the anova_oneway
    convention). Days are the SHARED calendar days of both keys
    (pairs-that-exist, the daily_metric_corr convention), indexed by
    the scalable ``ranking.global_row_number``; the lag join is an
    equi-join on idx-1.

    Exactness: daily sums are exact integer cents; all centered
    moments are n-scaled exact decimal(38,0) integers (the shared n
    factor cancels inside F); the 2x2 solve, both RSS forms, and F
    are fixed-order double expressions rounded once. n <= 3, a
    singular Gram, or zero residual variance yield NULLs.

    Output: one row ``(n, beta_ylag, beta_xlag, f_stat)``.

    Scale: one (key, day) groupBy, one day-key join of the two
    bounded daily series, one range shuffle for the index, one lag
    equi-join, one 1-row agg.
    """
    from .ranking import global_row_number

    day = F.to_date(F.col(ts_col)).alias("__d")
    cents = (
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .cast("decimal(18,2)") * 100
    ).cast("long")
    daily = (
        df.filter(
            F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
            & F.col(key_col).isin([cause_key, effect_key])
        )
        .groupBy(F.col(key_col).alias("__k"), day)
        .agg(cents.alias("__c"))
    )
    x = daily.filter(F.col("__k") == cause_key).select(
        "__d", F.col("__c").alias("__x")
    )
    y = daily.filter(F.col("__k") == effect_key).select(
        "__d", F.col("__c").alias("__yv")
    )
    both = y.join(x, "__d")
    idx = global_row_number(
        both, ["__d"], num_partitions=num_partitions, out_col="__i"
    )
    nxt = idx.select(
        (F.col("__i") - 1).alias("__i"),
        F.col("__yv").alias("__y1"),
    )
    rows = idx.join(nxt, "__i").select(
        F.col("__y1").alias("__t"),   # y_t (next step's value)
        F.col("__yv").alias("__yl"),  # y_{t-1}
        F.col("__x").alias("__xl"),   # x_{t-1}
    )
    z = exact(F.lit(0))
    agg = rows.agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(exact_sum("__t"), z).alias("__st"),
        F.coalesce(exact_sum("__yl"), z).alias("__s1"),
        F.coalesce(exact_sum("__xl"), z).alias("__s2"),
        F.coalesce(exact_sum("__t", "__t"), z).alias("__stt"),
        F.coalesce(exact_sum("__yl", "__yl"), z).alias("__s11"),
        F.coalesce(exact_sum("__xl", "__xl"), z).alias("__s22"),
        F.coalesce(exact_sum("__yl", "__xl"), z).alias("__s12"),
        F.coalesce(exact_sum("__yl", "__t"), z).alias("__s1t"),
        F.coalesce(exact_sum("__xl", "__t"), z).alias("__s2t"),
    )
    nd = exact("n")
    syy = (nd * F.col("__stt") - F.col("__st") * F.col("__st")).cast("double")
    s11 = (nd * F.col("__s11") - F.col("__s1") * F.col("__s1")).cast("double")
    s22 = (nd * F.col("__s22") - F.col("__s2") * F.col("__s2")).cast("double")
    s12 = (nd * F.col("__s12") - F.col("__s1") * F.col("__s2")).cast("double")
    s1t = (nd * F.col("__s1t") - F.col("__s1") * F.col("__st")).cast("double")
    s2t = (nd * F.col("__s2t") - F.col("__s2") * F.col("__st")).cast("double")
    det = s11 * s22 - s12 * s12
    b = F.when((F.col("n") > 3) & (det > 0), (s1t * s22 - s12 * s2t) / det)
    c = F.when((F.col("n") > 3) & (det > 0), (s11 * s2t - s12 * s1t) / det)
    rss1 = syy - b * s1t - c * s2t
    rss0 = F.when(s11 > 0, syy - (s1t / s11) * s1t)
    fstat = F.when(
        b.isNotNull() & rss0.isNotNull() & (rss1 > 0),
        (rss0 - rss1) / (rss1 / (F.col("n").cast("double") - F.lit(3.0))),
    )
    return agg.select(
        "n",
        F.round(b, ndigits).alias("beta_ylag"),
        F.round(c, ndigits).alias("beta_xlag"),
        F.round(fstat, ndigits).alias("f_stat"),
    )

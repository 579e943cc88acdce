"""Moment-based association measures: partial correlation, Lin's
concordance correlation, and one-way intraclass correlation.

The Pearson-family statistics a metrics platform reports where the
question is "are these two measures related once a third is held
fixed" (partial r — feature screening, confounder checks), "does this
predicted score AGREE with the observed one, not just correlate"
(Lin 1989 CCC — model calibration, instrument agreement), and "how
much of the variance is between groups" (ICC(1,1), Shrout & Fleiss
1979 — rater reliability, cluster-design effects). All public
literature.

Determinism contract (the repo discipline):
- values quantize ONCE to exact 1e-6 micro-longs
  (cast(round(v * 1e6, 0) as long) — the shared grid both engines
  replay identically);
- every sufficient statistic is an exact decimal(38,0) sum of
  integer products (order-free in any engine);
- each output statistic is ONE fixed-order double expression over
  those exact integers, rounded once. Scale factors cancel inside
  the correlation forms, so the micro grid never biases the result.
- ICC's per-group rational terms (s_i^2 / n_i has a per-group
  denominator) collapse to a double ONCE per group — deterministic
  (same exact integers, same ops in both engines) — then round to
  integer micro^2 units and sum as exact decimal(38,0) (the
  lof_outliers quantize-then-integer-sum fix, r13).

Degenerate guards (ANSI mode — divide only behind a when()):
constant columns yield NULL correlations; k < 2 groups or n <= k
yield NULL ICC.

Scale: one filter + one global agg (map-side combinable) for the
pair/triple statistics; ICC adds one groupBy on the group key. No
joins, no windows, nothing driver-side but the 1-row result.

No counterpart in the reference engine (SURVEY.md §2.2 — no
aggregation family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum


def _micro(col: str) -> Column:
    """The shared exact quantization grid: 1e-6 micro-longs."""
    return F.round(F.col(col).cast("double") * 1e6, 0).cast("long")




def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """First-order partial correlation r_xy.z — the correlation of x
    and y with z partialled out (public literature):

        r_xy.z = (r_xy - r_xz * r_yz)
                 / sqrt((1 - r_xz^2) * (1 - r_yz^2))

    Each pairwise r is computed from exact decimal(38,0) integer
    moments over the shared micro grid (n*sxy - sx*sy over
    sqrt-of-products form), collapsing to double once per r; the
    partial form is one fixed-order double expression rounded once.
    Constant columns (zero variance) and |r_xz| or |r_yz| = 1 yield
    NULL.

    Output: one row ``(n, r_xy, r_xz, r_yz, partial_r)``.
    """
    filt = df.filter(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    ).select(
        _micro(x_col).alias("__x"),
        _micro(y_col).alias("__y"),
        _micro(z_col).alias("__z"),
    )
    agg = filt.agg(
        F.count("*").cast("long").alias("n"),
        exact_sum("__x").alias("__sx"),
        exact_sum("__y").alias("__sy"),
        exact_sum("__z").alias("__sz"),
        exact_sum("__x", "__x").alias("__sxx"),
        exact_sum("__y", "__y").alias("__syy"),
        exact_sum("__z", "__z").alias("__szz"),
        exact_sum("__x", "__y").alias("__sxy"),
        exact_sum("__x", "__z").alias("__sxz"),
        exact_sum("__y", "__z").alias("__syz"),
    )
    nd = exact("n")

    def _r(spq: str, sp: str, sq: str, vpp: str, vqq: str) -> Column:
        num = (nd * F.col(spq) - F.col(sp) * F.col(sq)).cast("double")
        vp = (nd * F.col(vpp) - F.col(sp) * F.col(sp)).cast("double")
        vq = (nd * F.col(vqq) - F.col(sq) * F.col(sq)).cast("double")
        return F.when(
            (vp > 0) & (vq > 0), num / F.sqrt(vp * vq)
        )

    staged = (
        agg.withColumn("__rxy", _r("__sxy", "__sx", "__sy", "__sxx", "__syy"))
        .withColumn("__rxz", _r("__sxz", "__sx", "__sz", "__sxx", "__szz"))
        .withColumn("__ryz", _r("__syz", "__sy", "__sz", "__syy", "__szz"))
    )
    den = (
        (F.lit(1.0) - F.col("__rxz") * F.col("__rxz"))
        * (F.lit(1.0) - F.col("__ryz") * F.col("__ryz"))
    )
    partial = F.when(
        F.col("__rxy").isNotNull()
        & F.col("__rxz").isNotNull()
        & F.col("__ryz").isNotNull()
        & (den > 0),
        F.round(
            (F.col("__rxy") - F.col("__rxz") * F.col("__ryz"))
            / F.sqrt(den),
            ndigits,
        ),
    )
    return staged.select(
        "n",
        F.round(F.col("__rxy"), ndigits).alias("r_xy"),
        F.round(F.col("__rxz"), ndigits).alias("r_xz"),
        F.round(F.col("__ryz"), ndigits).alias("r_yz"),
        partial.alias("partial_r"),
    )


def lins_ccc(
    df: DataFrame,
    x_col: str,
    y_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Lin's concordance correlation coefficient (Lin 1989, public
    literature) — agreement with the 45-degree line, not just linear
    association:

        CCC = 2*cov(x,y) / (var(x) + var(y) + (mean_x - mean_y)^2)

    With biased (1/n) moments every term shares the 1/n^2 factor, so
    the whole ratio is EXACT integer arithmetic until one final
    division:

        CCC = 2*(n*sxy - sx*sy)
              / ((n*sxx - sx^2) + (n*syy - sy^2) + (sx - sy)^2)

    over decimal(38,0) micro-grid moments. The Pearson r is emitted
    alongside (CCC = r * C_b; the bias-correction factor C_b is their
    ratio). Zero denominator (both columns constant AND equal means)
    yields NULL.

    Output: one row ``(n, pearson_r, ccc)``.
    """
    filt = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(_micro(x_col).alias("__x"), _micro(y_col).alias("__y"))
    agg = filt.agg(
        F.count("*").cast("long").alias("n"),
        exact_sum("__x").alias("__sx"),
        exact_sum("__y").alias("__sy"),
        exact_sum("__x", "__x").alias("__sxx"),
        exact_sum("__y", "__y").alias("__syy"),
        exact_sum("__x", "__y").alias("__sxy"),
    )
    nd = exact("n")
    cov2 = (
        exact(F.lit(2))
        * (nd * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
    ).cast("double")
    vx = (nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    vy = (nd * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(
        "double"
    )
    dm = (F.col("__sx") - F.col("__sy")).cast("double")
    den = vx + vy + dm * dm
    r = F.when((vx > 0) & (vy > 0), cov2 / F.lit(2.0) / F.sqrt(vx * vy))
    return agg.select(
        "n",
        F.round(r, ndigits).alias("pearson_r"),
        F.when(den > 0, F.round(cov2 / den, ndigits)).alias("ccc"),
    )


def icc_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1)
    (Shrout & Fleiss 1979, public literature) with the unbalanced
    k0 correction:

        MSB = SSB / (k - 1),   MSW = SSW / (N - k)
        k0  = (N - sum(n_i^2) / N) / (k - 1)
        ICC = (MSB - MSW) / (MSB + (k0 - 1) * MSW)

    Exactness: per-group micro-grid integer moments (n_i, s_i, ss_i)
    are exact decimals; each group's rational term s_i^2 / n_i
    collapses to double ONCE (same exact integers, same single
    division in every engine), rounds to integer micro^2 units, and
    the group terms sum as exact decimal(38,0) — order-free (the
    quantize-then-integer-sum discipline). The final statistics are
    fixed-order double expressions rounded once.

    Output: one row ``(k, n, msb, msw, icc1)``; k < 2 or N <= k or a
    zero denominator yields NULL icc1 (msb/msw NULL on their own
    degenerate denominators).

    Scale: one groupBy on the group key, then one 1-row global agg of
    the k group terms — no joins, no windows.
    """
    per = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count("*").cast("long").alias("__ni"),
            exact_sum(_micro(value_col)).alias("__si"),
            exact_sum(_micro(value_col), _micro(value_col)).alias("__ssi"),
        )
    )
    # per-group rational term s_i^2 / n_i -> double once -> micro^2
    # integer units, summed exactly (order-free)
    term = (
        (F.col("__si") * F.col("__si")).cast("double")
        / F.col("__ni").cast("double")
    )
    staged = per.withColumn(
        "__ti", exact(F.round(term, 0))
    )
    agg = staged.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("__ni").cast("long").alias("n"),
        exact_sum("__ni", "__ni").alias("__sn2"),
        F.sum(F.col("__si")).alias("__s"),
        F.sum(F.col("__ssi")).alias("__ss"),
        F.sum(F.col("__ti")).alias("__bsum"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    # SSW = sum(ss_i) - sum(s_i^2/n_i); SSB = sum(s_i^2/n_i) - S^2/N
    ssw = F.col("__ss").cast("double") - F.col("__bsum").cast("double")
    ssb = F.col("__bsum").cast("double") - (
        (F.col("__s") * F.col("__s")).cast("double") / nd
    )
    msb = F.when(F.col("k") > 1, ssb / (kd - F.lit(1.0)))
    msw = F.when(F.col("n") > F.col("k"), ssw / (nd - kd))
    k0 = F.when(
        F.col("k") > 1,
        (nd - F.col("__sn2").cast("double") / nd) / (kd - F.lit(1.0)),
    )
    den = msb + (k0 - F.lit(1.0)) * msw
    icc = F.when(
        msb.isNotNull() & msw.isNotNull() & (den != 0.0),
        F.round((msb - msw) / den, ndigits),
    )
    # report msb/msw in natural units (micro^2 -> value^2: / 1e12)
    return agg.select(
        "k",
        "n",
        F.round(msb / F.lit(1e12), ndigits).alias("msb"),
        F.round(msw / F.lit(1e12), ndigits).alias("msw"),
        icc.alias("icc1"),
    )


def effect_sizes(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
) -> DataFrame:
    """Standardized two-group effect sizes (public literature):

        cohen_d     = (mean_a - mean_b) / s_pooled         (Cohen 1969)
        hedges_g    = cohen_d * (1 - 3/(4*(na+nb) - 9))    (Hedges 1981)
        glass_delta = (mean_a - mean_b) / s_b              (Glass 1976)

    with s_pooled^2 = ((na-1)*s_a^2 + (nb-1)*s_b^2) / (na+nb-2) over
    SAMPLE variances — the practical-significance companion to this
    module's tests (a tiny p on 10^8 rows says nothing about size).

    Exactness: per-group micro-grid integer moments (n, s, ss) are
    exact decimal(38,0); each variance and every ratio is one
    fixed-order double expression over those integers, rounded once.
    Sample variance uses the n-scaled identity
    s^2 = (n*ss - s*s) / (n * (n-1)). Degenerate inputs (a group
    with n < 2, zero pooled variance, zero s_b) yield NULL for the
    affected statistic only.

    Output: one row ``(n_a, n_b, cohen_d, hedges_g, glass_delta)``.

    Scale: one filter + one global conditional agg — map-side
    combinable, no joins, no windows.
    """
    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"), _micro(value_col).alias("__v")
    )
    isa = F.col("__g") == group_a
    z38 = exact(F.lit(0))
    agg = filt.agg(
        F.sum(F.when(isa, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~isa, 1).otherwise(0)).cast("long").alias("n_b"),
        F.coalesce(
            F.sum(F.when(isa, exact("__v"))), z38
        ).alias("__sa"),
        F.coalesce(
            F.sum(F.when(~isa, exact("__v"))), z38
        ).alias("__sb"),
        F.coalesce(
            F.sum(F.when(isa, exact("__v") * exact("__v"))),
            z38,
        ).alias("__ssa"),
        F.coalesce(
            F.sum(
                F.when(~isa, exact("__v") * exact("__v"))
            ),
            z38,
        ).alias("__ssb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nad = exact("n_a")
    nbd = exact("n_b")
    va = (nad * F.col("__ssa") - F.col("__sa") * F.col("__sa")).cast(
        "double"
    ) / (na * (na - 1.0))
    vb = (nbd * F.col("__ssb") - F.col("__sb") * F.col("__sb")).cast(
        "double"
    ) / (nb * (nb - 1.0))
    dm = (
        F.col("__sa").cast("double") / na
        - F.col("__sb").cast("double") / nb
    )
    sp2 = ((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0)
    ok2 = (F.col("n_a") > 1) & (F.col("n_b") > 1)
    d = F.when(ok2 & (sp2 > 0), dm / F.sqrt(sp2))
    g = d * (
        F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (na + nb) - F.lit(9.0))
    )
    gl = F.when(ok2 & (vb > 0), dm / F.sqrt(vb))
    return agg.select(
        "n_a",
        "n_b",
        F.round(d, ndigits).alias("cohen_d"),
        F.round(g, ndigits).alias("hedges_g"),
        F.round(gl, ndigits).alias("glass_delta"),
    )


def brier_decomposition(
    df: DataFrame,
    forecast_col,
    outcome_col,
    n_bins: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """Brier score with the Murphy (1973) decomposition — forecast
    verification for a probabilistic binary classifier (public
    literature):

        brier       = mean((p - y)^2)
        reliability = sum_k n_k * (pbar_k - obar_k)^2 / N   (calibration)
        resolution  = sum_k n_k * (obar_k - obar)^2 / N     (sharpness)
        uncertainty = obar * (1 - obar)

    binned by forecast decile (k = least(floor(p * n_bins),
    n_bins - 1)); for binned forecasts brier = reliability -
    resolution + uncertainty exactly.

    Exactness: p quantizes to the micro grid once; the Brier sum is
    micro^2 integers (exact); per-bin means are one double division
    of exact integers each, the per-bin decomposition terms collapse
    to double, round to 1e-12 integer units and sum exactly
    (order-free — the icc_oneway per-group-term discipline).

    Output: one row ``(n, brier, reliability, resolution,
    uncertainty)``; empty input yields NULLs.

    Scale: one projection + one n_bins-row groupBy + one 1-row agg.
    """
    p = (
        F.col(forecast_col)
        if isinstance(forecast_col, str)
        else forecast_col
    )
    y = (
        F.col(outcome_col)
        if isinstance(outcome_col, str)
        else outcome_col
    )
    base = df.select(
        F.round(p.cast("double") * 1e6, 0).cast("long").alias("__p"),
        y.cast("long").alias("__y"),
    ).filter(F.col("__p").isNotNull() & F.col("__y").isNotNull())
    m = int(n_bins)
    binned = base.select(
        F.least(
            F.expr(f"(__p * {m}) div 1000000").cast("long"),
            F.lit(m - 1).cast("long"),
        ).alias("__k"),
        "__p",
        "__y",
    )
    z38 = exact(F.lit(0))
    err = F.col("__p") - F.col("__y") * 1_000_000
    per = binned.groupBy("__k").agg(
        F.count("*").cast("long").alias("__nk"),
        F.coalesce(exact_sum("__p"), z38).alias("__sp"),
        F.coalesce(F.sum(F.col("__y")), F.lit(0)).cast("long").alias(
            "__sy"
        ),
        F.coalesce(exact_sum(err, err), z38).alias("__sq"),
    )
    tot = per.agg(
        F.coalesce(F.sum("__nk"), F.lit(0)).cast("long").alias("__n"),
        F.coalesce(F.sum("__sy"), F.lit(0)).cast("long").alias("__ty"),
    )
    pb = per.crossJoin(F.broadcast(tot))
    nk = F.col("__nk").cast("double")
    pbar = F.col("__sp").cast("double") / nk / F.lit(1e6)
    obar_k = F.col("__sy").cast("double") / nk
    obar = F.col("__ty").cast("double") / F.col("__n").cast("double")
    rel_t = nk * (pbar - obar_k) * (pbar - obar_k)
    res_t = nk * (obar_k - obar) * (obar_k - obar)
    staged = pb.select(
        "__n",
        "__ty",
        "__sq",
        exact(F.round(rel_t * F.lit(1e12), 0)).alias(
            "__relq"
        ),
        exact(F.round(res_t * F.lit(1e12), 0)).alias(
            "__resq"
        ),
    )
    agg = staged.groupBy("__n", "__ty").agg(
        F.coalesce(F.sum("__sq"), z38).alias("__bsum"),
        F.coalesce(F.sum("__relq"), z38).alias("__rel"),
        F.coalesce(F.sum("__resq"), z38).alias("__res"),
    )
    nn = F.col("__n").cast("double")
    ob = F.col("__ty").cast("double") / nn
    return agg.select(
        F.col("__n").alias("n"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.col("__bsum").cast("double") / nn / F.lit(1e12),
                ndigits,
            ),
        ).alias("brier"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.col("__rel").cast("double") / F.lit(1e12) / nn,
                ndigits,
            ),
        ).alias("reliability"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.col("__res").cast("double") / F.lit(1e12) / nn,
                ndigits,
            ),
        ).alias("resolution"),
        F.when(
            F.col("__n") > 0,
            F.round(ob * (F.lit(1.0) - ob), ndigits),
        ).alias("uncertainty"),
    )

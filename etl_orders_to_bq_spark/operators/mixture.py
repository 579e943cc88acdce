"""Deterministic 1-D Gaussian mixture fit (two components, fixed EM
rounds) — the classic unsupervised density split (Dempster, Laird &
Rubin 1977 EM; public literature): "is this metric bimodal, and where
are the modes" for latency populations, price tiers, mixed traffic.

Determinism contract (the lloyd_kmeans round-the-state recipe):
- values collapse ONCE to exact integer cents; every E-step density
  uses the engine's deterministic staged exp (``with_det_exp``) with
  the |y| <= 64 convergence clamp (a component more than ~11 sigma
  away contributes exact 0, mirrored in the oracle);
- per-row responsibilities quantize to 1e-6 micro-longs and all
  M-step sums are exact decimal(38,0) — order-free in any engine;
- the re-estimated (weight, mu, sigma) collapse to doubles in ONE
  fixed-order expression each and ROUND half-away to 6dp before the
  next round — inter-round state is snapped to shared literals, so
  an external engine replays the whole fit (unrolled CTEs) exactly;
- initialization is moment-based and deterministic: mu = mean -/+
  std, sigma = std, weights 1/2 (no random restarts — fixed by
  contract).

Per round the corpus is touched ONCE (a 7-sum map-side-combinable
aggregate) followed by a bounded 1-row driver collect (the
ridge_normal / logistic_irls discipline). Nothing downstream of the
scan grows with the data.

No counterpart in the reference engine (SURVEY.md §2.2 — no
aggregation family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum
from .staging import LOCAL_FOLD_ROWS, local_fold_limit


def _round6(x: float) -> float:
    """Half-away 6dp (the pacf_durbin driver-side discipline)."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _gmm_census_fit(vs, cnts, n, w1, mu1, s1, mu2, s2, rounds):
    """Driver-local replay of the distributed EM rounds over a bounded
    (v_cents, count) census — the logistic_irls `_irls_census_fit`
    recipe: numpy float64 reproduces the JVM double sequence
    op-for-op (same operation order, no FMA), the micro quantization
    is the identical sign-floor form, and the count-weighted sums are
    exact Python integers (a responsibility is a pure function of the
    distinct value, so count-weighted census sums equal the row sums
    EXACTLY). Returns (rounds_run, w1, mu1, s1, mu2, s2) in CENTS.
    Pinned identical to the distributed loop by
    ``test_gmm_census_fit_matches_distributed``."""
    import numpy as np

    from .multitest import _EXP_COEFFS

    vd = np.asarray(vs, dtype=np.int64).astype(np.float64)
    vl = [int(x) for x in vs]
    cl = [int(c) for c in cnts]
    sv = sum(c * x for c, x in zip(cl, vl))
    svv = sum(c * x * x for c, x in zip(cl, vl))
    coeffs = [float(c) for c in _EXP_COEFFS]

    def det_exp(yc):
        # with_det_exp staged T(y/64)^64, verbatim
        wq = yc / 64.0
        t = np.full_like(wq, coeffs[-1])
        for c in reversed(coeffs[:-1]):
            t = t * wq + c
        for _ in range(6):
            t = t * t
        return t

    rounds_run = 0
    for _ in range(int(rounds)):
        d1 = 2.0 * s1 * s1
        d2 = 2.0 * s2 * s2
        e1 = -((vd - mu1) * (vd - mu1) / d1)
        e2 = -((vd - mu2) * (vd - mu2) / d2)
        x1 = det_exp(np.maximum(-64.0, e1))
        x2 = det_exp(np.maximum(-64.0, e2))
        phi1 = np.where(e1 < -64.0, 0.0, x1 / s1)
        phi2 = np.where(e2 < -64.0, 0.0, x2 / s2)
        p1 = w1 * phi1
        p2 = (1.0 - w1) * phi2
        tot_p = p1 + p2
        with np.errstate(divide="ignore", invalid="ignore"):
            r1 = np.where(tot_p > 0.0, p1 / tot_p, 0.5)
        # micro_half_away's exact floor form
        s_ = r1 * 1e6
        rq = np.where(
            s_ >= 0, np.floor(s_ + 0.5), -np.floor(-s_ + 0.5)
        ).astype(np.int64)
        r1s = rv1 = rvv1 = 0
        for c, x, rv in zip(cl, vl, rq.tolist()):
            crv = c * int(rv)
            r1s += crv
            rv1 += crv * x
            rvv1 += crv * x * x
        tot = n * 1_000_000
        r2s, rv2 = tot - r1s, sv * 1_000_000 - rv1
        rvv2 = svv * 1_000_000 - rvv1
        if r1s <= 0 or r2s <= 0:
            break
        nw1 = float(r1s) / float(tot)
        nmu1 = float(rv1) / float(r1s)
        nvar1 = float(rvv1) / float(r1s) - nmu1 * nmu1
        nmu2 = float(rv2) / float(r2s)
        nvar2 = float(rvv2) / float(r2s) - nmu2 * nmu2
        if nvar1 <= 0 or nvar2 <= 0:
            break
        w1 = _round6(nw1)
        mu1, s1 = _round6(nmu1), _round6(math.sqrt(nvar1))
        mu2, s2 = _round6(nmu2), _round6(math.sqrt(nvar2))
        rounds_run += 1
    return rounds_run, w1, mu1, s1, mu2, s2


def _gmm_frame(spark, n: int, fit: tuple | None) -> DataFrame:
    """gmm_em_1d's one output row from ``fit`` = (rounds_run, w1, mu1,
    s1, mu2, s2) in cents; None for a fit that never started (n < 2)."""
    if fit is None:
        row = (n, 0, None, None, None, None, None)
    else:
        rounds_run, w1, *cents = fit
        row = (n, rounds_run, w1, *(_round6(c / 100.0) for c in cents))
    return spark.createDataFrame(
        [row],
        "n long, rounds_run long, weight_1 double, mu_1 double, "
        "sigma_1 double, mu_2 double, sigma_2 double",
    )


def gmm_em_1d(
    df: DataFrame,
    value_col: str,
    rounds: int = 6,
    ndigits: int = 6,
    census_compress: bool = True,
) -> DataFrame:
    """Fit ``p(v) = w1 N(mu1, s1) + (1-w1) N(mu2, s2)`` by ``rounds``
    fixed EM iterations over exact integer cents.

    E-step per row (all fixed-order doubles over shared literals):
    unnormalized densities ``phi_j = exp(-(v-mu_j)^2 / (2 s_j^2)) /
    s_j`` (the 1/sqrt(2pi) cancels in the ratio), exponent clamped at
    -64 (below it the density is exact 0); responsibility ``r1 = w1
    phi_1 / (w1 phi_1 + w2 phi_2)``, defined 0.5 when both densities
    underflow. M-step: micro-quantized responsibility sums re-estimate
    (w1, mu, sigma); a collapsed component (zero responsibility mass
    or zero variance) freezes the fit early — documented contract.

    Output: one row ``(n, rounds_run, weight_1, mu_1, sigma_1, mu_2,
    sigma_2)`` with mu/sigma in VALUE units (cents / 100).

    r13 scale/latency optimization (guide §2.3 "aggregate before you
    shuffle" — the logistic_irls census recipe): every per-row E-step
    term is a pure function of the cents value, so a distinct-value
    census with counts replays the row sums EXACTLY. With
    ``census_compress`` (default) the fit censuses values first; when
    the census fits the local-fold limit (``staging.local_fold_limit``,
    by default ``LOCAL_FOLD_ROWS`` rows ~ 1 MB) the whole EM loop runs
    driver-local (``_gmm_census_fit``; numpy float64 == JVM double
    op-for-op) with ONE Spark job instead of 1 + rounds corpus scans.
    High-cardinality values fall back to the original per-round
    distributed scans.
    Both paths pinned identical by
    ``test_gmm_census_fit_matches_distributed``.
    """
    from .multitest import with_det_exp

    spark0 = df.sparkSession
    proj = df.filter(F.col(value_col).isNotNull()).select(
        (F.col(value_col).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("__v")
    )
    z38 = exact(F.lit(0))
    census_rows = None
    limit = local_fold_limit(spark0, LOCAL_FOLD_ROWS)
    if census_compress and limit > 0:
        comp = (
            proj.groupBy("__v")
            .agg(F.count("*").cast("long").alias("__cnt"))
            .persist()
        )
        st = comp.agg(
            F.count("*").alias("m"),
            F.coalesce(F.sum("__cnt"), F.lit(0).cast("long")).alias(
                "n"
            ),
        ).first()
        m_groups, n = int(st["m"]), int(st["n"])
        if m_groups <= limit:
            census_rows = comp.collect()
        comp.unpersist()
        if census_rows is not None:
            if n < 2:
                return _gmm_frame(spark0, n, None)
            vl = [int(r["__v"]) for r in census_rows]
            cl = [int(r["__cnt"]) for r in census_rows]
            # exact integer moments == the distributed decimal sums
            s = sum(c * v for c, v in zip(cl, vl))
            ss = sum(c * v * v for c, v in zip(cl, vl))
            mean = float(s) / float(n)
            var = float(n * ss - s * s) / (float(n) * float(n))
            std = math.sqrt(var) if var > 0 else 0.0
            fit = _gmm_census_fit(
                vl,
                cl,
                n,
                0.5,
                _round6(mean - std),
                _round6(std),
                _round6(mean + std),
                _round6(std),
                int(rounds) if std > 0.0 else 0,
            )
            return _gmm_frame(spark0, n, fit)
    base = proj.persist()  # every EM round rescans; one long col cached
    mom = base.agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(exact_sum("__v"), z38).alias("s"),
        F.coalesce(
            exact_sum("__v", "__v"), z38
        ).alias("ss"),
    ).first()
    n = int(mom["n"])
    if n < 2:
        base.unpersist()
        return _gmm_frame(spark0, n, None)
    s, ss = int(mom["s"]), int(mom["ss"])
    # float() each exact integer BEFORE dividing — the oracle casts
    # decimal -> double then divides, and matching that two-step
    # rounding keeps both engines ULP-identical (int/int true-rational
    # division rounds once and can differ)
    mean = float(s) / float(n)
    var = float(n * ss - s * s) / (float(n) * float(n))
    std = math.sqrt(var) if var > 0 else 0.0
    w1 = 0.5
    mu1, s1 = _round6(mean - std), _round6(std)
    mu2, s2 = _round6(mean + std), _round6(std)
    rounds_run = 0
    for _ in range(int(rounds) if std > 0.0 else 0):
        vd = F.col("__v").cast("double")
        e1 = -(
            (vd - F.lit(mu1)) * (vd - F.lit(mu1))
            / (F.lit(2.0) * F.lit(s1) * F.lit(s1))
        )
        e2 = -(
            (vd - F.lit(mu2)) * (vd - F.lit(mu2))
            / (F.lit(2.0) * F.lit(s2) * F.lit(s2))
        )
        cur = base.withColumn(
            "__e1c", F.greatest(F.lit(-64.0), e1)
        ).withColumn("__e2c", F.greatest(F.lit(-64.0), e2))
        cur = with_det_exp(cur, "__e1c", "__x1")
        cur = with_det_exp(cur, "__e2c", "__x2")
        phi1 = F.when(e1 < -64.0, F.lit(0.0)).otherwise(
            F.col("__x1") / F.lit(s1)
        )
        phi2 = F.when(e2 < -64.0, F.lit(0.0)).otherwise(
            F.col("__x2") / F.lit(s2)
        )
        cur = cur.withColumn("__p1", F.lit(w1) * phi1).withColumn(
            "__p2", F.lit(1.0 - w1) * phi2
        )
        r1 = F.when(
            (F.col("__p1") + F.col("__p2")) > 0.0,
            F.col("__p1") / (F.col("__p1") + F.col("__p2")),
        ).otherwise(F.lit(0.5))
        from .multitest import micro_half_away

        cur = cur.withColumn("__r", micro_half_away(r1))
        row = cur.agg(
            F.coalesce(exact_sum("__r"), z38).alias("r1s"),
            F.coalesce(
                exact_sum("__r", "__v"), z38
            ).alias("rv1"),
            F.coalesce(
                exact_sum("__r", "__v", "__v"),
                z38,
            ).alias("rvv1"),
            F.coalesce(exact_sum("__v"), z38).alias("sv"),
            F.coalesce(
                exact_sum("__v", "__v"), z38
            ).alias("svv"),
        ).first()
        r1s, rv1, rvv1 = int(row["r1s"]), int(row["rv1"]), int(row["rvv1"])
        sv, svv = int(row["sv"]), int(row["svv"])
        tot = n * 1_000_000
        r2s, rv2, rvv2 = tot - r1s, sv * 1_000_000 - rv1, (
            svv * 1_000_000 - rvv1
        )
        if r1s <= 0 or r2s <= 0:
            break
        nw1 = float(r1s) / float(tot)
        nmu1 = float(rv1) / float(r1s)
        nvar1 = float(rvv1) / float(r1s) - nmu1 * nmu1
        nmu2 = float(rv2) / float(r2s)
        nvar2 = float(rvv2) / float(r2s) - nmu2 * nmu2
        if nvar1 <= 0 or nvar2 <= 0:
            break
        w1 = _round6(nw1)
        mu1, s1 = _round6(nmu1), _round6(math.sqrt(nvar1))
        mu2, s2 = _round6(nmu2), _round6(math.sqrt(nvar2))
        rounds_run += 1
    base.unpersist()
    return _gmm_frame(spark0, n, (rounds_run, w1, mu1, s1, mu2, s2))

"""Multiple-testing control: per-group z-tests + Benjamini-Hochberg
FDR.

The "which segments moved" question at scale is a MULTIPLE testing
problem: test every group's mean against the global mean, then
control the false-discovery rate (Benjamini & Hochberg 1995, public
literature) instead of eyeballing raw p-values.

Deterministic special functions — the interesting part
------------------------------------------------------
p-values need the normal CDF, and libm ``exp`` is NOT guaranteed
bit-identical across engines (JVM ``Math.exp`` vs DuckDB's C
library may differ in the last ulp). So the engine DEFINES its own
Φ: Abramowitz & Stegun 26.2.17 (|ε| < 7.5e-8, far inside the 6dp
gate) with the inner ``exp(-z²/2)`` computed by a fixed Taylor
Horner scheme

    exp(y) = T(y/64)^64,   T(w) = Σ_{k=0}^{12} w^k / k!

— only +, *, / over literal coefficients (IEEE-deterministic in
every engine), 6 squarings for the power. ``norm_sf_sql`` emits the
SAME expression as SQL text from the SAME Python literals, so the
oracle replays every digit. This is the same shared-literal
discipline as the Poisson bootstrap's inverse-CDF table.

Exactness: group moments are DECIMAL-exact sums collapsed by one
rounded division each (the repo contract); z, p, and the BH
thresholds are pure double arithmetic over those literals.

Scale: one map-side-combinable groupBy to |groups| rows; the BH
rank/threshold windows run over the bounded group domain (same
class as event_transitions' tiny windows).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum, exact_type

# Taylor reciprocal factorials, repr'd so both engines parse the
# identical doubles
_EXP_COEFFS = [repr(1.0 / math.factorial(k)) for k in range(13)]
# A&S 26.2.17 constants
_AS_P = repr(0.2316419)
_AS_B = [
    repr(0.319381530),
    repr(-0.356563782),
    repr(1.781477937),
    repr(-1.821255978),
    repr(1.330274429),
]
_INV_SQRT_2PI = repr(0.3989422804014327)
# clamp for the deterministic Φ complement: beyond this |z| the true
# tail is below every rounding grid in use AND the Taylor-Horner exp
# leaves its convergence region (|y|/64 > 1 near z ~ 11.3) — return
# an exact 0.0 instead of divergent-series garbage
_NSF_ZMAX = 8.0


def _det_exp(y: Column) -> Column:
    """exp(y) for y <= 0 via T(y/64)^64, T = 13-term Taylor Horner."""
    w = y / 64.0
    t = F.lit(float(_EXP_COEFFS[-1]))
    for coef in reversed(_EXP_COEFFS[:-1]):
        t = t * w + F.lit(float(coef))
    for _ in range(6):  # ^64
        t = t * t
    return t


def _det_exp_sql(y: str) -> str:
    w = f"(({y}) / 64.0)"
    t = _EXP_COEFFS[-1]
    for coef in reversed(_EXP_COEFFS[:-1]):
        t = f"(({t}) * {w} + {coef})"
    for _ in range(6):
        t = f"(({t}) * ({t}))"
    return t


def with_p_value(
    df: DataFrame,
    z_col: str = "z",
    out_col: str = "p_value",
    ndigits: int = 6,
) -> DataFrame:
    """Append the two-sided p = round(min(1, 2·Φc(|z|)), ndigits) as a
    column via STAGED projections — bit-identical arithmetic to
    ``norm_sf`` but a plan janino can compile.

    Why not just ``norm_sf`` as one Column: Catalyst has no
    let-binding, so the T(w)^64 repeated squaring duplicates the
    entire Horner subtree per squaring — 2^6 copies, ~64·13 copies of
    the z expression. Measured at sf0.1: janino rejects the generated
    method (falls back to interpreted) and every fresh plan pays the
    ~2 s compile-attempt on the driver. Each squaring in its OWN
    projection keeps every alias a small expression; CollapseProject
    leaves non-cheap aliases referenced twice alone, so the staged
    shape survives optimization and whole-stage codegen emits one
    local variable per stage. NULL z propagates to NULL p (the
    explicit guard both callers need — least() would skip the NULL)."""
    z = F.abs(F.col(z_col))
    df = df.withColumn("__nsf_w", (-(z * z) / 2.0) / 64.0)
    t: Column = F.lit(float(_EXP_COEFFS[-1]))
    for coef in reversed(_EXP_COEFFS[:-1]):
        t = t * F.col("__nsf_w") + F.lit(float(coef))
    df = df.withColumn("__nsf_t", t)
    for _ in range(6):  # ^64, one projection per squaring
        df = df.withColumn(
            "__nsf_t", F.col("__nsf_t") * F.col("__nsf_t")
        )
    df = df.withColumn(
        "__nsf_u", 1.0 / (F.lit(1.0) + F.lit(float(_AS_P)) * z)
    )
    poly: Column = F.lit(float(_AS_B[-1]))
    for b in reversed(_AS_B[:-1]):
        poly = poly * F.col("__nsf_u") + F.lit(float(b))
    poly = poly * F.col("__nsf_u")
    pdf = F.lit(float(_INV_SQRT_2PI)) * F.col("__nsf_t")
    # |z| > 8: true 2*sf(8) ~ 1.2e-15 already rounds to 0 at any
    # ndigits <= 14, and past |z| ~ 11.3 the Taylor argument leaves
    # the T(y/64)^64 convergence region entirely (garbage, not just
    # imprecise) — clamp BEFORE the special function, mirrored in
    # norm_sf / norm_sf_sql so every engine replays the same cliff
    p = F.when(
        F.col(z_col).isNotNull(),
        F.when(z > _NSF_ZMAX, F.lit(0.0)).otherwise(
            F.round(
                F.least(F.lit(1.0), F.lit(2.0) * (pdf * poly)), ndigits
            )
        ),
    )
    return df.withColumn(out_col, p).drop(
        "__nsf_w", "__nsf_t", "__nsf_u"
    )


def with_det_exp(
    df: DataFrame, y_col: str, out_col: str
) -> DataFrame:
    """Append exp(y) for y <= 0 as a column via the STAGED
    T(y/64)^64 projections — same shape (and same janino rationale)
    as ``with_p_value``, exposed for operators that need the
    deterministic exp outside a normal tail (mSPRT's mixture
    likelihood). Callers clamp their own convergence region (|y| <=
    64; see _NSF_ZMAX for the Φ case)."""
    df = df.withColumn("__dex_w", F.col(y_col) / 64.0)
    t: Column = F.lit(float(_EXP_COEFFS[-1]))
    for coef in reversed(_EXP_COEFFS[:-1]):
        t = t * F.col("__dex_w") + F.lit(float(coef))
    df = df.withColumn("__dex_t", t)
    for _ in range(6):
        df = df.withColumn(
            "__dex_t", F.col("__dex_t") * F.col("__dex_t")
        )
    return df.withColumn(out_col, F.col("__dex_t")).drop(
        "__dex_w", "__dex_t"
    )


def norm_sf(z: Column) -> Column:
    """Upper-tail P(Z > z) for z >= 0 — the engine's defined Φ
    complement (A&S 26.2.17 + deterministic exp) as ONE Column
    expression. Fine for oracle parity and tests; inside a query plan
    prefer ``with_p_value`` (this form's repeated squaring explodes
    the expression tree — see there)."""
    t = 1.0 / (F.lit(1.0) + F.lit(float(_AS_P)) * z)
    poly = F.lit(float(_AS_B[-1]))
    for b in reversed(_AS_B[:-1]):
        poly = poly * t + F.lit(float(b))
    poly = poly * t
    pdf = F.lit(float(_INV_SQRT_2PI)) * _det_exp(-(z * z) / 2.0)
    return F.when(z > _NSF_ZMAX, F.lit(0.0)).otherwise(pdf * poly)


def norm_sf_sql(z: str) -> str:
    """The identical expression as SQL text (oracle side)."""
    t = f"(1.0 / (1.0 + {_AS_P} * ({z})))"
    poly = _AS_B[-1]
    for b in reversed(_AS_B[:-1]):
        poly = f"(({poly}) * {t} + {b})"
    poly = f"(({poly}) * {t})"
    pdf = f"({_INV_SQRT_2PI} * {_det_exp_sql(f'(-(({z}) * ({z})) / 2.0)')})"
    return (
        f"(case when ({z}) > {repr(_NSF_ZMAX)} then 0.0 "
        f"else ({pdf} * {poly}) end)"
    )


def _group_mean_pvalues(
    df: DataFrame, group_col: str, value_col: str, ndigits: int
) -> DataFrame:
    """Shared front end of the multiple-testing procedures (fdr_bh,
    holm_bonferroni): per-group two-sided z-test of the group mean
    against the global mean with globally pooled variance — exact
    decimal moments collapsing to double once, z rounded, p from the
    ROUNDED z through the deterministic Phi."""
    dec = F.col(value_col).cast("decimal(18,2)")
    groups = df.groupBy(group_col).agg(
        F.count(value_col).alias("n"),
        F.round(F.sum(dec).cast("double") / F.count(value_col), ndigits).alias(
            "mean"
        ),
    )
    glob = F.broadcast(
        df.agg(
            F.round(
                F.sum(dec).cast("double") / F.count(value_col), ndigits
            ).alias("m0"),
            F.round(
                F.sum(dec * dec).cast("double") / F.count(value_col),
                ndigits,
            ).alias("m2"),
        )
    )
    # a globally (near-)constant metric makes the pooled variance zero
    # or slightly negative (m0/m2 rounded independently at ndigits) —
    # z is undefined there; guard BEFORE the sqrt/divide so degenerate
    # inputs yield NULL z/p, not p_value=1.0 from least() skipping NULL
    var = F.col("m2") - F.col("m0") * F.col("m0")
    z = F.when(
        var > 0,
        (F.col("mean") - F.col("m0")) / F.sqrt(var / F.col("n")),
    )
    scored = groups.crossJoin(glob).withColumn(
        "z", F.round(z, ndigits)
    )
    # p from the ROUNDED z so the special-function input is a shared
    # 6dp literal, not a long-dependency double
    return with_p_value(scored, "z", "p_value", ndigits)


def fdr_bh(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: float = 0.1,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group two-sided z-test of the group mean against the
    global mean (variance pooled from the global moments), then
    Benjamini-Hochberg at FDR ``q``: reject every group whose p-rank
    r satisfies p_(r) <= r/m * q for the LARGEST such r.

    Output per group: ``(group, n, mean, z, p_value, p_rank,
    rejected)``; ranks break ties on the group key.
    """
    scored = _group_mean_pvalues(df, group_col, value_col, ndigits)
    m = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # NULL p (degenerate variance) ranks LAST on both engines —
    # DuckDB's ascending default is nulls-last, Spark's is nulls-first
    wr = Window.orderBy(F.col("p_value").asc_nulls_last(), group_col)
    ranked = (
        scored.withColumn("p_rank", F.row_number().over(wr))
        .withColumn("__m", F.count("*").over(m))
        .withColumn(
            "__ok",
            F.col("p_value")
            <= F.col("p_rank") / F.col("__m") * F.lit(float(q)),
        )
    )
    rstar = ranked.withColumn(
        "__rstar",
        F.max(F.when(F.col("__ok"), F.col("p_rank"))).over(m),
    )
    return rstar.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        "mean",
        "z",
        "p_value",
        "p_rank",
        F.coalesce(
            F.col("p_rank") <= F.col("__rstar"), F.lit(False)
        ).alias("rejected"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test comparing ``value_col``
    between ``group_a`` and ``group_b`` — the nonparametric two-sample
    test an experimentation stack reaches for when means are
    skew-fragile (Mann & Whitney 1947, public literature).

    Exactness: ranks never touch floats. Per DISTINCT value the
    operator keeps integer counts (n_a, n_b, n_total); "number of
    items strictly below" comes from the scalable two-pass
    ``ranking.global_cumsum_before`` (range shuffle + per-partition
    windows + a bounded offsets collect — no single-partition window,
    unlike the textbook ``rank() over (order by value)``). Average
    ranks with ties are half-integers, so the rank sum is carried
    DOUBLED as an exact decimal(38,0):

        2*R_a = sum_v n_a(v) * (2*below(v) + n_t(v) + 1)

    U_a = R_a - n_a(n_a+1)/2; the normal approximation uses the exact
    tie correction sum(t^3 - t). z is one fixed-order double
    expression over these exact integers (rounded ``ndigits``), and
    the two-sided p replays the engine's deterministic Φ
    (``norm_sf`` — A&S 26.2.17 + Taylor-Horner exp, shared literals
    with the oracle).

    Output: one row ``(group_a, group_b, n_a, n_b, u_stat, z,
    p_value)``. No counterpart in the reference engine (SURVEY.md
    §2.2 — no aggregation family).
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    vc = filt.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("__nb"),
        F.count("*").alias("__nt"),
    )
    cum = global_cumsum_before(
        vc, ["__v"], "__nt", num_partitions=num_partitions,
        out_col="__below",
    )
    agg = cum.agg(
        exact_sum(
            "__na", F.lit(2) * F.col("__below") + F.col("__nt") + F.lit(1)
        ).alias("two_ra"),
        F.sum("__na").cast("long").alias("n_a"),
        F.sum("__nb").cast("long").alias("n_b"),
        F.sum(
            exact("__nt") * exact("__nt") * exact("__nt") - exact("__nt")
        ).alias("ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    two_u = F.col("two_ra").cast("double") - na * (na + 1.0)
    # tie-corrected variance of U (x4, matching the doubled U):
    # var(2U) = 4 * n_a*n_b/12 * ((n+1) - ties/(n*(n-1)))
    var4 = (
        F.lit(4.0)
        * (na * nb / F.lit(12.0))
        * ((n + F.lit(1.0)) - F.col("ties").cast("double") / (n * (n - 1.0)))
    )
    # var4 == 0 (every value tied across both groups) is a legal
    # degenerate input: z is undefined — guard BEFORE dividing (ANSI
    # mode turns the division into a crash, not an Inf)
    z = F.when(
        var4 > 0, F.round((two_u - na * nb) / F.sqrt(var4), ndigits)
    )
    out = agg.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.col("n_a"),
        F.col("n_b"),
        (F.col("two_ra").cast("double") / 2.0 - na * (na + 1.0) / 2.0).alias(
            "u_stat"
        ),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), z).alias("z"),
    )
    # explicit NULL propagation: least() SKIPS nulls, which would
    # report p = 1.0 ("confidently not significant") for a test that
    # never ran — an undefined z must yield an undefined p
    # (with_p_value guards on z.isNotNull internally)
    return with_p_value(out, "z", "p_value", ndigits)


# Kolmogorov-Smirnov 95% two-sample coefficient c(0.05), repr'd so
# both engines parse the identical double (Smirnov 1948 asymptotics)
_KS_C95 = 1.3581015157406195


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic — "are these two
    samples from the same distribution" with NO distributional
    assumption (Smirnov 1939, public literature); the drift test a
    platform runs between cohorts, time slices, or sources when a
    mean test is too blunt.

        D = max_v |F_a(v) - F_b(v)|

    over every distinct value, with the empirical CDFs built from
    EXACT integer cumulative counts via the same scalable two-pass
    ``ranking.global_cumsum_before`` as mann_whitney_u — no
    single-partition sort. Each per-value CDF gap is one fixed-order
    double expression rounded ``ndigits`` BEFORE the max (max of
    identically-rounded doubles is engine-stable); the 95% rejection
    bound is the asymptotic c(0.05)*sqrt((n_a+n_b)/(n_a*n_b)) from a
    repr'd literal.

    Output: one row ``(group_a, group_b, n_a, n_b, d_stat, d_crit_95,
    reject_95)``; empty arms yield NULL d_stat/verdict.
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    vc = filt.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("__nb"),
    )
    # both CDFs cumulate in ONE fused two-pass (one range shuffle,
    # one totals collect) — chaining single-column calls doubled the
    # heavy stages (r8)
    cum = global_cumsum_before(
        vc, ["__v"], ["__na", "__nb"], num_partitions=num_partitions,
        out_col=["__below_a", "__below_b"],
    )
    tot = F.broadcast(
        vc.agg(
            F.sum("__na").cast("long").alias("n_a"),
            F.sum("__nb").cast("long").alias("n_b"),
        )
    )
    j = cum.crossJoin(tot)
    fa = (F.col("__below_a") + F.col("__na")).cast("double") / F.col(
        "n_a"
    ).cast("double")
    fb = (F.col("__below_b") + F.col("__nb")).cast("double") / F.col(
        "n_b"
    ).cast("double")
    gap = F.round(F.abs(fa - fb), ndigits)
    d = j.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max(gap).alias("d_stat"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    crit = F.round(
        F.lit(_KS_C95) * F.sqrt((na + nb) / (na * nb)), ndigits
    )
    return d.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        "n_a",
        "n_b",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.col("d_stat"))
        .alias("d_stat"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), crit).alias(
            "d_crit_95"
        ),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("d_stat") > crit,
        ).alias("reject_95"),
    )


def permutation_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    id_col: str,
    n_perms: int = 200,
    seed: str = "pt17",
) -> DataFrame:
    """Randomization (permutation) test for a difference in means —
    the assumption-free two-sample test (Fisher 1935, public): the
    observed |mean_A - mean_B| is compared against its null
    distribution under random relabeling; p = (1 + #{j : stat_j >=
    stat_obs}) / (n_perms + 1) (the add-one form that keeps the test
    exact-level).

    Relabeling is the Bernoulli(1/2) randomization variant (each row
    redraws its side per permutation via md5(id:j:seed) parity) — the
    standard approximation that avoids the sequential bookkeeping of
    size-preserving shuffles and is itself a valid randomization test.
    Deterministic by construction: no RNG state, no partitioning
    dependence.

    Exactness: ``value_col`` must be integer-valued. stat_j >=
    stat_obs is decided by CROSS-MULTIPLIED exact integers — with
    num = |S_A*n_B - S_B*n_A| and den = n_A*n_B, the comparison is
    num_j * den_obs >= num_obs * den_j in decimal(38,0) — so not one
    float enters the decision; the reported means and p-value are
    half-away 6dp micro divisions.

    Output: one row ``(n_a, n_b, mean_a, mean_b, stat_obs, n_perms,
    n_ge, p_value)``.

    Scale: the permutation table is data x n_perms rows BEFORE
    partial aggregation, but groupBy(j, side) map-side-combines to
    2*n_perms rows per task — the shuffle carries O(n_perms), not
    O(rows). n_perms is a resolution knob (p floor = 1/(m+1)), not a
    data knob.
    """
    filt = df.filter(F.col(group_col).isin([group_a, group_b]))
    base = filt.select(
        F.col(id_col).cast("string").alias("__id"),
        F.col(value_col).cast("long").alias("__y"),
        (F.col(group_col) == group_a).alias("__isa"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("__isa"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("__isa"), 1).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("__isa"), F.col("__y")).otherwise(0)).alias("sa"),
        F.sum(F.when(~F.col("__isa"), F.col("__y")).otherwise(0)).alias("sb"),
    ).select(
        "na", "nb", "sa", "sb",
        F.abs(
            exact("sa") * exact("nb")
            - exact("sb") * exact("na")
        ).alias("num_o"),
        (exact("na") * exact("nb")).alias("den_o"),
    )
    spark = df.sparkSession
    perms = spark.range(int(n_perms)).select(
        F.col("id").cast("int").alias("__j")
    )
    assigned = base.crossJoin(perms).withColumn(
        "__side",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("__id"), F.lit(":"),
                        F.col("__j").cast("string"),
                        F.lit(":"), F.lit(seed),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 2,
    )
    per_j = assigned.groupBy("__j").agg(
        F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("__na"),
        F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("__nb"),
        F.sum(
            F.when(F.col("__side") == 0, F.col("__y")).otherwise(0)
        ).alias("__sa"),
        F.sum(
            F.when(F.col("__side") == 1, F.col("__y")).otherwise(0)
        ).alias("__sb"),
    )
    scored = per_j.crossJoin(F.broadcast(obs)).select(
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            F.abs(
                exact("__sa") * exact("__nb")
                - exact("__sb") * exact("__na")
            )
            * F.col("den_o")
            >= F.col("num_o")
            * exact("__na")
            * exact("__nb"),
        ).otherwise(F.lit(False)).alias("__ge")
    )
    ge = scored.agg(
        F.sum(F.when(F.col("__ge"), 1).otherwise(0)).alias("n_ge")
    )

    def _mean6(s: Column, n: Column) -> Column:
        mag = F.floor(
            (2 * F.abs(s) * 1_000_000 + n) / (2.0 * n)
        )
        return (
            F.when(s >= 0, mag).otherwise(-mag) / 1_000_000.0
        )

    m1 = 1_000_000
    # the 6dp micro of num_o/den_o via EXACT integral decimal
    # division ("div"): a float or decimal-scale division rounds the
    # quotient before the floor, and with den_o = n_a*n_b > 1e6 the
    # rational can sit closer to an integer than the 6dp rounding
    # granularity — the vocab_coverage caveat made structural. div's
    # quotient (the micro value) fits long by construction.
    staged = obs.crossJoin(F.broadcast(ge)).withColumns(
        {
            "__qn": 2 * F.col("num_o") * m1 + F.col("den_o"),
            "__qd": 2 * F.col("den_o"),
        }
    )
    return staged.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        _mean6(F.col("sa"), F.col("na")).alias("mean_a"),
        _mean6(F.col("sb"), F.col("nb")).alias("mean_b"),
        (F.expr("__qn div __qd") / float(m1)).alias("stat_obs"),
        F.lit(int(n_perms)).cast("long").alias("n_perms"),
        F.col("n_ge").cast("long").alias("n_ge"),
        (
            F.floor(
                (
                    2 * (1 + F.col("n_ge")) * m1
                    + (int(n_perms) + 1)
                )
                / (2.0 * (int(n_perms) + 1))
            ).cast("long")
            / float(m1)
        ).alias("p_value"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-group generalization of
    ``mann_whitney_u`` (Kruskal & Wallis 1952, public literature):
    "did ANY of these k segments shift" on ranks, with no normality
    assumption. The one-way-ANOVA-on-ranks every experimentation
    stack runs before pairwise drill-downs.

    Exactness: identical rank discipline to mann_whitney_u — per
    DISTINCT value the operator keeps integer counts, "items strictly
    below" comes from the scalable two-pass
    ``ranking.global_cumsum_before`` (no single-partition rank
    window), and each group's rank sum is carried DOUBLED as an exact
    decimal(38,0):

        2*R_g = sum_v n_gv * (2*below(v) + n_t(v) + 1)

    The cross-group reduction sum_g R_g^2/n_g mixes per-group
    divisions, so it is a SORTED FOLD over the bounded group domain
    (structs sorted by group name — the mutual_information
    discipline), making float addition order engine-pinned:

        H = 12/(N(N+1)) * sum_g (2R_g)^2/(4 n_g) - 3(N+1)

    with the exact tie correction C = 1 - sum(t^3-t)/(N^3-N) and
    h_adj = H/C. decimal(38,0) headroom: (2R_g)^2 ~ N^4 caps the
    exact path at ~10^9 rows per test cell; beyond that, pre-bucket
    values (the ks_drift discipline) before testing.

    Output: one row ``(k_groups, n, h_stat, h_adj)``; fewer than two
    non-empty groups yields NULL statistics.

    Scale: one groupBy to |distinct values x groups| cells, the
    two-pass cumsum over |distinct values|, one equi-join of the two
    distinct-value-sized tables, and a fold over |groups|. No
    counterpart in the reference engine (SURVEY.md §2.2 — no
    aggregation family).
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    vc = filt.groupBy(
        F.col(value_col).alias("__v"),
        F.col(group_col).cast("string").alias("__g"),
    ).agg(F.count("*").alias("__ngv"))
    vt = vc.groupBy("__v").agg(F.sum("__ngv").alias("__nt"))
    cum = global_cumsum_before(
        vt, ["__v"], "__nt", num_partitions=num_partitions,
        out_col="__below",
    )
    per_g = (
        vc.join(cum, "__v")
        .groupBy("__g")
        .agg(
            exact_sum(
                "__ngv", F.lit(2) * F.col("__below") + F.col("__nt") + F.lit(1)
            ).alias("__two_rg"),
            F.sum("__ngv").cast("long").alias("__ng"),
        )
    )
    ties = cum.agg(
        F.sum(
            exact("__nt") * exact("__nt") * exact("__nt") - exact("__nt")
        ).alias("__ties"),
        F.sum("__nt").cast("long").alias("n"),
    )
    folded = per_g.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sort_array(
            F.collect_list(F.struct("__g", "__two_rg", "__ng"))
        ).alias("__gs"),
    )
    j = folded.crossJoin(F.broadcast(ties))
    nn = F.col("n").cast("double")
    rterm = F.aggregate(
        F.transform(
            F.col("__gs"),
            lambda s: (
                s["__two_rg"].cast("double")
                * s["__two_rg"].cast("double")
            )
            / (F.lit(4.0) * s["__ng"].cast("double")),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    h = (
        F.lit(12.0) / (nn * (nn + F.lit(1.0))) * rterm
        - F.lit(3.0) * (nn + F.lit(1.0))
    )
    c = F.lit(1.0) - F.col("__ties").cast("double") / (
        nn * nn * nn - nn
    )
    ok = (F.col("k_groups") >= 2) & (F.col("n") > F.col("k_groups"))
    return j.select(
        "k_groups",
        "n",
        F.when(ok, F.round(h, ndigits)).alias("h_stat"),
        F.when(ok & (c > 0), F.round(h / c, ndigits)).alias("h_adj"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """One-way ANOVA F statistic across every level of ``group_col``
    (Fisher, public literature) — the parametric "did any segment's
    MEAN move" companion to ``kruskal_wallis``.

    Exactness: ``value_col`` is money-like (exact at decimal(18,2),
    the repo's fixture contract), so every group moment is an exact
    decimal sum — S_g at (38,2), Q_g = sum(y*y) at (38,4) — and the
    decomposition uses the computational identity

        SSB = sum_g S_g^2/n_g - S^2/N        SSW = Q - sum_g S_g^2/n_g

    where the only float mixing, sum_g S_g^2/n_g, is a SORTED FOLD
    over the bounded group domain (structs sorted by group name, the
    kruskal_wallis/mutual_information discipline). SSB/SSW round once
    at ``ndigits``; F = (SSB/(k-1))/(SSW/(N-k)) is a fixed-order
    double expression over the two rounded sums, rounded ``ndigits``.

    Output: one row ``(k_groups, n, ssb, ssw, f_stat)``; degenerate
    inputs (k < 2, N <= k, SSW = 0) yield NULL f_stat.

    Scale: ONE map-side-combinable groupBy to |groups| rows, then a
    fold over the bounded group domain. No counterpart in the
    reference engine (SURVEY.md §2.2 — no aggregation family).
    """
    y = F.col(value_col).cast("decimal(18,2)")
    per_g = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(F.col(group_col).cast("string").alias("__g"))
        .agg(
            F.count("*").cast("long").alias("__ng"),
            exact(F.sum(y), 2).alias("__sg"),
            exact(F.sum(y * y), 4).alias("__qg"),
        )
    )
    folded = per_g.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("__ng").cast("long").alias("n"),
        exact(F.sum("__sg"), 2).alias("__s"),
        exact(F.sum("__qg"), 4).alias("__q"),
        F.sort_array(
            F.collect_list(F.struct("__g", "__sg", "__ng"))
        ).alias("__gs"),
    )
    nn = F.col("n").cast("double")
    sg2 = F.aggregate(
        F.transform(
            F.col("__gs"),
            lambda s: (s["__sg"].cast("double") * s["__sg"].cast("double"))
            / s["__ng"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    ssb = F.round(
        sg2 - F.col("__s").cast("double") * F.col("__s").cast("double") / nn,
        ndigits,
    )
    ssw = F.round(F.col("__q").cast("double") - sg2, ndigits)
    kk = F.col("k_groups").cast("double")
    ok = (F.col("k_groups") >= 2) & (F.col("n") > F.col("k_groups"))
    staged = folded.select(
        "k_groups",
        "n",
        F.when(F.col("n") > 0, ssb).alias("ssb"),
        F.when(F.col("n") > 0, ssw).alias("ssw"),
        kk.alias("__k"),
        nn.alias("__n"),
        ok.alias("__ok"),
    )
    return staged.select(
        "k_groups",
        "n",
        "ssb",
        "ssw",
        F.when(
            F.col("__ok") & (F.col("ssw") > 0),
            F.round(
                (F.col("ssb") / (F.col("__k") - 1.0))
                / (F.col("ssw") / (F.col("__n") - F.col("__k"))),
                ndigits,
            ),
        ).alias("f_stat"),
    )


def hodges_lehmann(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group Hodges-Lehmann location estimator — the median of
    the n(n+1)/2 Walsh averages (x_i+x_j)/2, i <= j (Hodges &
    Lehmann 1963, public literature): the robust "typical value" that
    pairs with the Wilcoxon/Mann-Whitney family the way the mean
    pairs with the t-test. A platform reports it where one whale
    order would drag the mean and the plain median wastes half the
    sample's efficiency.

    Exactness: ``value_col`` is money-like (exact at decimal(18,2));
    each Walsh SUM x_i+x_j is an exact decimal, the median picks the
    two middle order statistics by a window row_number tie-broken on
    (i, j), and the estimate collapses with ONE rounded division
    round((w_lo + w_hi)/4, ndigits) — the repo's exact-sums /
    one-rounded-division contract (w_lo + w_hi is a sum of FOUR
    original values, so /4, never a chained half division).

    Contract: the pair build is a within-group self-join — O(n_g^2)
    rows per group — so groups must be BOUNDED (the kendall_tau /
    isotonic_calibration model-sized-domain class; ~10^4 rows per
    group is the practical ceiling). For corpus-scale groups, use the
    weighted_median family on distinct-value counts instead.

    Output per group: ``(group, n, n_pairs, hl_estimate)``.
    """
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(id_col).cast("long").alias("__i"),
        F.col(value_col).cast("decimal(18,2)").alias("__y"),
    )
    rhs = base.select(
        F.col("__g"),
        F.col("__i").alias("__j"),
        F.col("__y").alias("__y2"),
    )
    pairs = base.join(rhs, "__g").filter(F.col("__i") <= F.col("__j"))
    walsh = pairs.select(
        "__g",
        "__i",
        "__j",
        exact(F.col("__y") + F.col("__y2"), 2).alias("__w"),
    )
    w = Window.partitionBy("__g").orderBy("__w", "__i", "__j")
    ranked = walsh.withColumn("__rn", F.row_number().over(w))
    counts = walsh.groupBy("__g").agg(F.count("*").alias("__m"))
    lo = F.floor((F.col("__m") + 1) / 2)
    hi = F.floor((F.col("__m") + 2) / 2)
    mid = (
        ranked.join(counts, "__g")
        .filter((F.col("__rn") == lo) | (F.col("__rn") == hi))
        .groupBy("__g")
        .agg(
            F.max("__m").cast("long").alias("n_pairs"),
            # odd m: the single middle IS both order statistics —
            # count it twice so the /4 collapse is uniform
            exact(
                F.sum(
                    F.when(
                        (F.col("__rn") == lo) & (F.col("__rn") == hi),
                        F.col("__w") + F.col("__w"),
                    ).otherwise(F.col("__w"))
                ),
                2,
            ).alias("__wmid"),
        )
    )
    ns = base.groupBy(F.col("__g").alias("group")).agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        ns.join(
            mid.withColumnRenamed("__g", "group"), "group"
        )
        .select(
            "group",
            "n",
            "n_pairs",
            F.round(F.col("__wmid").cast("double") / 4.0, ndigits).alias(
                "hl_estimate"
            ),
        )
        .orderBy("group")
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Friedman test for k paired treatments over n blocks (Friedman
    1937, public literature) — "do the treatments rank consistently
    across blocks": the repeated-measures counterpart to
    ``kruskal_wallis`` (which assumes independent groups), e.g. "do
    the event types keep the same daily magnitude ordering".

    Blocks must carry EVERY treatment once; incomplete or duplicated
    blocks are DROPPED and surfaced via n_blocks vs n_blocks_used.

    Exactness — the tie-general Friedman statistic clears to ONE
    division of exact integers when ranks are carried DOUBLED
    (2r = 2*below + t + 1 from a within-block self-join over the
    bounded treatment domain):

        Q = (k-1) * sum_j (2R_j - n(k+1))^2
          / (sum_ij (2r_ij)^2 - n*k*(k+1)^2)

    and Kendall's W (concordance) = Q / (n*(k-1)) is a second exact
    ratio. Zero denominator (all blocks fully tied) yields NULL.

    Output: one row ``(k_treatments, n_blocks, n_blocks_used,
    q_stat, kendalls_w)``.

    Scale: the rank join is O(k^2) per block with k = |treatments|
    (bounded by contract); one groupBy per reduction, everything
    map-side combinable. No counterpart in the reference engine
    (SURVEY.md §2.2 — no aggregation family).
    """
    base = df.filter(
        F.col(block_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(block_col).cast("string").alias("__b"),
        F.col(treatment_col).cast("string").alias("__j"),
        F.col(value_col).alias("__v"),
    )
    k_row = base.agg(
        F.countDistinct("__j").cast("long").alias("k_treatments")
    )
    bc = base.groupBy("__b").agg(
        F.count("*").alias("__nb"),
        F.countDistinct("__j").alias("__nj"),
    )
    n_blocks = bc.count()
    complete = bc.crossJoin(F.broadcast(k_row)).filter(
        (F.col("__nb") == F.col("k_treatments"))
        & (F.col("__nj") == F.col("k_treatments"))
    ).select("__b")
    kept = base.join(complete, "__b")
    rhs = kept.select(
        "__b", F.col("__j").alias("__j2"), F.col("__v").alias("__v2")
    )
    ranked = (
        kept.join(rhs, "__b")
        .groupBy("__b", "__j")
        .agg(
            (
                F.lit(2)
                * F.sum(F.when(F.col("__v2") < F.col("__v"), 1).otherwise(0))
                + F.sum(F.when(F.col("__v2") == F.col("__v"), 1).otherwise(0))
                + F.lit(1)
            ).cast("long").alias("__2r")
        )
    )
    per_j = ranked.groupBy("__j").agg(
        exact(F.sum("__2r")).alias("__2R"),
        F.count("*").cast("long").alias("__n"),
    )
    sq = ranked.agg(
        exact_sum("__2r", "__2r").alias("__ssq")
    )
    agg = (
        per_j.crossJoin(F.broadcast(k_row))
        .select(
            "k_treatments",
            "__n",
            (
                F.col("__2R")
                - exact(F.col("__n") * (F.col("k_treatments") + 1))
            ).alias("__dev"),
        )
        .agg(
            F.max("k_treatments").alias("k_treatments"),
            F.max("__n").cast("long").alias("n_blocks_used"),
            exact(F.sum(F.col("__dev") * F.col("__dev"))).alias("__sdev"),
        )
        .crossJoin(F.broadcast(sq))
    )
    kk = F.col("k_treatments")
    nn = F.col("n_blocks_used")
    den = F.col("__ssq") - exact(nn * kk * (kk + 1) * (kk + 1))
    q = F.when(
        den.cast("double") > 0,
        F.round(
            (kk - 1).cast("double")
            * F.col("__sdev").cast("double")
            / den.cast("double"),
            ndigits,
        ),
    )
    return agg.select(
        "k_treatments",
        F.lit(int(n_blocks)).cast("long").alias("n_blocks"),
        F.coalesce(F.col("n_blocks_used"), F.lit(0)).alias(
            "n_blocks_used"
        ),
        q.alias("q_stat"),
        F.when(
            (nn > 0) & (kk > 1) & q.isNotNull(),
            F.round(q / (nn * (kk - 1)).cast("double"), ndigits),
        ).alias("kendalls_w"),
    )


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    success_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Cochran's Q for k paired BINARY treatments over n blocks
    (Cochran 1950, public literature) — "do these k classifiers /
    variants succeed at different rates on the same items": the
    k-treatment generalization of ``mcnemar_test`` (k = 2 reduces to
    it) and the binary sibling of ``friedman_test``.

    Blocks must carry every treatment once (incomplete or duplicated
    blocks are DROPPED and surfaced); all-success and all-failure
    blocks contribute nothing (the standard property — Q is computed
    on the discordant blocks implicitly).

        Q = (k-1) * (k * sum_j C_j^2 - N^2) / (k*N - sum_i R_i^2)

    with C_j the per-treatment success totals, R_i the per-block
    success totals, and N the grand total — every term an exact
    integer, so Q is ONE rounded division of exact decimal(38,0)
    values. The two-sided p replays the deterministic Phi via
    z = sqrt(Q) for k = 2 only; for k > 2 the chi2(k-1) tail is not
    engine-deterministic, so the statistic and df are reported and
    the caller brings the cut-off (the kruskal_wallis contract).

    Output: one row ``(k_treatments, n_blocks, n_blocks_used, df,
    q_stat, p_value)`` — ``p_value`` populated for k = 2 only, NULL
    for k > 2.

    Scale: one bounded-k census per block + two map-side-combinable
    groupBys. No counterpart in the reference engine (SURVEY.md
    §2.2).
    """
    base = df.filter(
        F.col(block_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & F.col(success_col).isNotNull()
    ).select(
        F.col(block_col).cast("string").alias("__b"),
        F.col(treatment_col).cast("string").alias("__j"),
        F.col(success_col).cast("boolean").cast("int").alias("__x"),
    )
    k_row = base.agg(
        F.countDistinct("__j").cast("long").alias("k_treatments")
    )
    bc = base.groupBy("__b").agg(
        F.count("*").alias("__nb"),
        F.countDistinct("__j").alias("__nj"),
        F.sum("__x").alias("__r"),
    )
    n_blocks = bc.count()
    complete = bc.crossJoin(F.broadcast(k_row)).filter(
        (F.col("__nb") == F.col("k_treatments"))
        & (F.col("__nj") == F.col("k_treatments"))
    )
    rows_agg = complete.agg(
        F.count("*").cast("long").alias("n_blocks_used"),
        exact(F.sum("__r")).alias("__n_tot"),
        exact_sum("__r", "__r").alias("__sr2"),
    )
    kept = base.join(complete.select("__b"), "__b")
    cols_agg = kept.groupBy("__j").agg(F.sum("__x").alias("__c")).agg(
        exact_sum("__c", "__c").alias("__sc2")
    )
    j = (
        rows_agg.crossJoin(F.broadcast(cols_agg))
        .crossJoin(F.broadcast(k_row))
    )
    kk = F.col("k_treatments")
    num = exact(kk - 1) * (
        exact(kk) * F.col("__sc2") - F.col("__n_tot") * F.col("__n_tot")
    )
    den = exact(kk) * F.col("__n_tot") - F.col("__sr2")
    res = j.select(
        "k_treatments",
        F.lit(int(n_blocks)).cast("long").alias("n_blocks"),
        F.coalesce(F.col("n_blocks_used"), F.lit(0)).alias(
            "n_blocks_used"
        ),
        F.when(kk > 1, (kk - 1).cast("long")).alias("df"),
        F.when(
            (kk > 1) & (den.cast("double") > 0),
            F.round(num.cast("double") / den.cast("double"), ndigits),
        ).alias("q_stat"),
    )
    # k = 2 reduces to McNemar (Q = z^2 without continuity
    # correction), where the two-sided p IS engine-deterministic via
    # the shared Phi; NULL otherwise (the kruskal_wallis contract —
    # the chi2(k-1) tail for k > 2 is the caller's cut-off)
    res = res.withColumn(
        "__z",
        F.when(
            (F.col("k_treatments") == 2) & F.col("q_stat").isNotNull(),
            F.sqrt(F.col("q_stat")),
        ),
    )
    return with_p_value(res, "__z", ndigits=ndigits).drop("__z")


def dunn_posthoc(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after a significant
    Kruskal-Wallis result (Dunn 1964, public literature) — WHICH
    segments differ, using the same global mean ranks (never
    re-ranking per pair, the property that distinguishes Dunn from
    pairwise Mann-Whitney):

        z_ij = (Rbar_i - Rbar_j)
             / sqrt(sigma2 * (1/n_i + 1/n_j))
        sigma2 = N(N+1)/12 - sum(t^3 - t) / (12(N-1))

    Exactness: identical rank machinery to ``kruskal_wallis`` —
    doubled decimal(38,0) rank sums from the scalable two-pass
    cumsum, exact tie sums — and each pair's z is ONE fixed-order
    double expression over those exact integers, with the two-sided p
    through the engine's deterministic Phi. Adjust for multiplicity
    downstream (``fdr_bh`` composes on the p column).

    Output per pair (group_a < group_b): ``(group_a, group_b, n_a,
    n_b, mean_rank_a, mean_rank_b, z, p_value)``, ordered.

    Scale: the pair build is a self-join over the bounded GROUP
    table (k rows), not the data. No counterpart in the reference
    engine (SURVEY.md §2.2).
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    vc = filt.groupBy(
        F.col(value_col).alias("__v"),
        F.col(group_col).cast("string").alias("__g"),
    ).agg(F.count("*").alias("__ngv"))
    vt = vc.groupBy("__v").agg(F.sum("__ngv").alias("__nt"))
    cum = global_cumsum_before(
        vt, ["__v"], "__nt", num_partitions=num_partitions,
        out_col="__below",
    )
    per_g = (
        vc.join(cum, "__v")
        .groupBy("__g")
        .agg(
            exact_sum(
                "__ngv", F.lit(2) * F.col("__below") + F.col("__nt") + F.lit(1)
            ).alias("__two_rg"),
            F.sum("__ngv").cast("long").alias("__ng"),
        )
    )
    ties = cum.agg(
        F.sum(
            exact("__nt") * exact("__nt") * exact("__nt") - exact("__nt")
        ).alias("__ties"),
        F.sum("__nt").cast("long").alias("__n"),
    )
    rhs = per_g.select(
        F.col("__g").alias("__g2"),
        F.col("__two_rg").alias("__two_rg2"),
        F.col("__ng").alias("__ng2"),
    )
    pairs = (
        per_g.crossJoin(rhs)
        .filter(F.col("__g") < F.col("__g2"))
        .crossJoin(F.broadcast(ties))
    )
    nn = F.col("__n").cast("double")
    sigma2 = nn * (nn + 1.0) / 12.0 - F.col("__ties").cast(
        "double"
    ) / (12.0 * (nn - 1.0))
    ra = F.col("__two_rg").cast("double") / (
        2.0 * F.col("__ng").cast("double")
    )
    rb = F.col("__two_rg2").cast("double") / (
        2.0 * F.col("__ng2").cast("double")
    )
    se = F.sqrt(
        sigma2
        * (
            1.0 / F.col("__ng").cast("double")
            + 1.0 / F.col("__ng2").cast("double")
        )
    )
    staged = pairs.select(
        F.col("__g").alias("group_a"),
        F.col("__g2").alias("group_b"),
        F.col("__ng").alias("n_a"),
        F.col("__ng2").alias("n_b"),
        F.round(ra, ndigits).alias("mean_rank_a"),
        F.round(rb, ndigits).alias("mean_rank_b"),
        F.when(
            (F.col("__n") > 1) & (sigma2 > 0),
            F.round((ra - rb) / se, ndigits),
        ).alias("z"),
    )
    return with_p_value(staged, "z", "p_value", ndigits).orderBy(
        "group_a", "group_b"
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    samples (Vaserstein 1969 / the standard drift metric, public
    literature) — the INTEGRAL companion to ``ks_two_sample``'s sup:
    KS says whether distributions differ, W1 says by HOW MUCH in the
    metric's own units, which is what a drift alert should threshold
    on.

        W1 = sum_i |F_a(v_i) - F_b(v_i)| * (v_{i+1} - v_i)

    over consecutive distinct values. Exactness — no quantization at
    all: with exact integer cumulative counts,

        |F_a - F_b| = |(below_a + n_a(v)) * N_b
                       - (below_b + n_b(v)) * N_a| / (N_a * N_b)

    so each term's numerator D_i * gap is an exact decimal product
    (money-grade values), the SUM is an exact decimal, and W1 is ONE
    rounded division by N_a * N_b. Cumulative counts come from the
    fused two-pass ``ranking.global_cumsum_before``; consecutive
    values pair via ``global_row_number`` + an rn+1 equi-join (no
    single-partition lead window).

    Output: one row ``(n_a, n_b, w1_distance)``; an empty arm yields
    NULL; two identical point masses (one distinct value overall, so
    zero consecutive-value segments) yield the true counts and 0.0.

    Scale: the mann_whitney class — everything runs on the
    distinct-value table with keyed shuffles only.
    """
    from .ranking import global_cumsum_before, global_row_number

    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    vc = filt.groupBy(
        F.col(value_col).cast("decimal(18,2)").alias("__v")
    ).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("__nb"),
    )
    cum = global_cumsum_before(
        vc, ["__v"], ["__na", "__nb"], num_partitions=num_partitions,
        out_col=["__ba", "__bb"],
    )
    rn = global_row_number(
        cum, ["__v"], num_partitions=num_partitions, out_col="__rn"
    )
    nxt = rn.select(
        (F.col("__rn") - 1).alias("__rn"), F.col("__v").alias("__vn")
    )
    tot = F.broadcast(
        vc.agg(
            F.sum("__na").cast("long").alias("n_a"),
            F.sum("__nb").cast("long").alias("n_b"),
        )
    )
    seg = rn.join(nxt, "__rn").crossJoin(tot)
    d_i = F.abs(
        exact(F.col("__ba") + F.col("__na")) * exact("n_b")
        - exact(F.col("__bb") + F.col("__nb")) * exact("n_a")
    )
    gap = (F.col("__vn") - F.col("__v")).cast("decimal(18,2)")
    # counts come from the broadcast totals, NOT from the segment
    # aggregation (advisor r11): with one distinct value across both
    # arms there are no consecutive-value segments, seg is empty, and
    # a max() over it would report n_a=0/n_b=0 and a NULL distance —
    # the true answer there is the real counts and W1 = 0.0 (identical
    # point masses). sum() over the empty seg yields NULL; coalesce to
    # 0 once the arms are known non-empty.
    num = seg.agg(exact(F.sum(d_i * gap), 2).alias("__num"))
    return tot.crossJoin(num).select(
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                F.coalesce(
                    F.col("__num"), exact(F.lit(0), 2)
                ).cast("double")
                / (
                    F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                ),
                ndigits,
            ),
        ).alias("w1_distance"),
    )


def cliffs_delta(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Cliff's delta — the nonparametric EFFECT SIZE that belongs
    next to ``mann_whitney_u``'s p-value (Cliff 1993, public
    literature): delta = P(X_a > X_b) - P(X_a < X_b), the number a
    platform should gate rollouts on once n is large enough that any
    difference is "significant".

    Exactness: from the same per-distinct-value machinery as
    mann_whitney_u — greater/less pair counts are exact
    decimal(38,0) sums

        G = sum_v n_a(v) * below_b(v)
        L = sum_v n_a(v) * (N_b - below_b(v) - n_b(v))

    and delta = (G - L) / (n_a * n_b) is ONE rounded division. The
    standard magnitude bands (|d| < 0.147 negligible / < 0.33 small /
    < 0.474 medium / else large — Romano et al. 2006) are reported on
    the ROUNDED delta so the label is engine-stable.

    Output: one row ``(n_a, n_b, n_greater, n_less, delta,
    magnitude)``; an empty arm yields NULLs.

    Scale: the mann_whitney class — distinct-value counts, ONE fused
    two-pass cumsum, one map-side-combinable reduction.
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    vc = filt.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("__nb"),
    )
    cum = global_cumsum_before(
        vc, ["__v"], "__nb", num_partitions=num_partitions,
        out_col="__bb",
    )
    tot = F.broadcast(
        vc.agg(
            F.sum("__na").cast("long").alias("n_a"),
            F.sum("__nb").cast("long").alias("n_b"),
        )
    )
    j = cum.crossJoin(tot)
    agg = j.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        exact_sum("__na", "__bb").alias("n_greater"),
        exact_sum(
            "__na", F.col("n_b") - F.col("__bb") - F.col("__nb")
        ).alias("n_less"),
    )
    delta = F.round(
        (F.col("n_greater") - F.col("n_less")).cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        ndigits,
    )
    staged = agg.select(
        "n_a",
        "n_b",
        F.col("n_greater").cast("long").alias("n_greater"),
        F.col("n_less").cast("long").alias("n_less"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), delta).alias(
            "delta"
        ),
    )
    ad = F.abs(F.col("delta"))
    return staged.select(
        "*",
        F.when(F.col("delta").isNull(), F.lit(None).cast("string"))
        .when(ad < 0.147, "negligible")
        .when(ad < 0.33, "small")
        .when(ad < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


def two_proportion_test(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
) -> DataFrame:
    """Two-proportion z-test — the conversion-RATE readout next to
    ``ab_test``'s Welch t on values (standard pooled-variance form,
    public literature): for exact integer successes/trials per arm,

        z = (p_a - p_b) / sqrt(p_pool (1 - p_pool) (1/n_a + 1/n_b))

    with every proportion an exact micro-integer half-away division
    (decimal ``div``) and z one fixed-order double expression over
    those micro literals; the two-sided p replays the engine's
    deterministic Phi. Degenerate pools (p_pool in {0, 1}) yield NULL
    z/p.

    Output: one row ``(n_a, n_b, successes_a, successes_b, p_a, p_b,
    p_pool, z, p_value)``.

    Scale: ONE map-side-combinable aggregate. No counterpart in the
    reference engine (SURVEY.md §2.2).
    """
    m = 1_000_000
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(success_col).isNotNull()
    ).select(
        (F.col(group_col) == group_a).alias("__isa"),
        F.col(success_col).cast("boolean").cast("int").alias("__x"),
    )
    agg = base.agg(
        F.sum(F.when(F.col("__isa"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(~F.col("__isa"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("__isa"), F.col("__x")).otherwise(0))
        .cast("long")
        .alias("successes_a"),
        F.sum(F.when(~F.col("__isa"), F.col("__x")).otherwise(0))
        .cast("long")
        .alias("successes_b"),
    )

    def micro(num, den):
        return F.expr(
            f"cast((2 * cast({num} as {exact_type()}) * {m} + {den}) "
            f"div (2 * cast({den} as {exact_type()})) as long)"
        )

    staged = agg.withColumns(
        {
            "__pa": F.when(
                F.col("n_a") > 0, micro("successes_a", "n_a")
            ),
            "__pb": F.when(
                F.col("n_b") > 0, micro("successes_b", "n_b")
            ),
            "__pp": F.when(
                F.col("n_a") + F.col("n_b") > 0,
                micro(
                    "successes_a + successes_b", "n_a + n_b"
                ),
            ),
        }
    )
    pa = F.col("__pa").cast("double") / m
    pb = F.col("__pb").cast("double") / m
    pp = F.col("__pp").cast("double") / m
    var = (
        pp
        * (1.0 - pp)
        * (
            1.0 / F.col("n_a").cast("double")
            + 1.0 / F.col("n_b").cast("double")
        )
    )
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
        F.round((pa - pb) / F.sqrt(var), ndigits),
    )
    out = staged.select(
        "n_a",
        "n_b",
        "successes_a",
        "successes_b",
        (pa).alias("p_a"),
        (pb).alias("p_b"),
        (pp).alias("p_pool"),
        z.alias("z"),
    )
    return with_p_value(out, "z", "p_value", ndigits)


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    ndigits: int = 6,
) -> DataFrame:
    """Pearson chi-square test of independence over two categorical
    columns plus Cramér's V effect size (Pearson 1900 / Cramér 1946,
    public literature) — "does segment relate to outcome at all",
    the categorical sibling of ``daily_metric_corr``.

    Exactness: with r_i, c_j, N exact integer marginals, each cell's
    term is

        (N*n_ij - r_i*c_j)^2 / (N * r_i * c_j)

    whose numerator is an exact decimal(38,0) (N*n <= 2^62, squared
    < 10^38) and whose division is ONE double per cell; the cell
    terms are summed by a SORTED FOLD over the bounded category
    domain (the kruskal_wallis discipline — never an order-dependent
    double groupBy sum). Zero cells contribute their exact expected
    mass (r_i*c_j/N) through the same formula via the full marginal
    cross join. The chi2(dof) tail is not engine-deterministic, so
    the statistic and dof are reported and the caller brings the
    cut-off (the kruskal_wallis contract); Cramér's V =
    sqrt(chi2 / (N * min(r-1, c-1))) is IEEE-exact given chi2.

    Output: one row ``(n, n_rows, n_cols, dof, chi2, cramers_v)``;
    a single-category row or column yields dof 0 and NULL chi2/V.

    Scale: one groupBy over observed cells + two marginal rollups of
    that bounded cell table; the cross join and fold run on the
    category domain, never the data. No counterpart in the reference
    engine (SURVEY.md §2.2).
    """
    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(
        F.col(col_a).cast("string").alias("__a"),
        F.col(col_b).cast("string").alias("__b"),
    )
    cells = base.groupBy("__a", "__b").agg(F.count("*").alias("__n"))
    ra = cells.groupBy("__a").agg(F.sum("__n").alias("__r"))
    cb = cells.groupBy("__b").agg(F.sum("__n").alias("__c"))
    # full marginal cross join: zero observed cells still carry
    # expected mass; both sides are bounded category tables
    grid = (
        ra.crossJoin(cb)
        .join(cells, ["__a", "__b"], "left")
        .select(
            "__a",
            "__b",
            F.coalesce(F.col("__n"), F.lit(0)).alias("__n"),
            "__r",
            "__c",
        )
    )
    folded = grid.agg(
        F.countDistinct("__a").cast("long").alias("n_rows"),
        F.countDistinct("__b").cast("long").alias("n_cols"),
        F.sum(F.col("__n")).cast("long").alias("n"),
        F.sort_array(
            F.collect_list(F.struct("__a", "__b", "__n", "__r", "__c"))
        ).alias("__cells"),
    )
    nn = exact("n")
    term = lambda s_: (  # noqa: E731
        (
            (nn * exact(s_["__n"]) - exact(s_["__r"]) * exact(s_["__c"]))
            * (nn * exact(s_["__n"]) - exact(s_["__r"]) * exact(s_["__c"]))
        ).cast("double")
        / (nn * exact(s_["__r"]) * exact(s_["__c"])).cast("double")
    )
    chi2 = F.aggregate(
        F.col("__cells"), F.lit(0.0), lambda acc, s_: acc + term(s_)
    )
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    mind = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    out = folded.select(
        "n",
        "n_rows",
        "n_cols",
        dof.cast("long").alias("dof"),
        F.when((dof > 0) & (F.col("n") > 0), F.round(chi2, ndigits))
        .alias("chi2"),
    )
    return out.select(
        "n",
        "n_rows",
        "n_cols",
        "dof",
        "chi2",
        F.when(
            F.col("chi2").isNotNull(),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n").cast("double")
                        * mind.cast("double")
                    )
                ),
                ndigits,
            ),
        ).alias("cramers_v"),
    )


def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Mood's median test across k groups (Mood 1950, public
    literature) — the blunt-but-robust "do the groups straddle the
    same median" check next to ``kruskal_wallis`` (which needs
    comparable shapes); the one to reach for under wild outliers or
    heavy censoring at a bound.

    The pooled GRAND median is the exact lower median (the value
    whose cumulative count first reaches floor((N+1)/2) — integer
    rank arithmetic on the distinct-value cumsum, no interpolation,
    documented contract). Each group's (above, not-above) split then
    forms a k x 2 table whose chi-square uses the same exact-integer
    cell terms and sorted fold as ``chi2_independence``. Statistic +
    dof reported; for k = 2 the two-sided p replays the
    deterministic Phi via z = sqrt(chi2).

    Output: one row ``(n, k_groups, grand_median, n_above, chi2, df,
    p_value)``; degenerate splits (every value on one side, e.g. a
    constant metric) yield NULL chi2/p.

    Scale: the mann_whitney class — distinct-value counts, ONE fused
    two-pass cumsum for the median, then bounded-k folds. No
    counterpart in the reference engine (SURVEY.md §2.2).
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("decimal(18,2)").alias("__v"),
    )
    vt = filt.groupBy("__v").agg(F.count("*").alias("__nt"))
    cum = global_cumsum_before(
        vt, ["__v"], "__nt", num_partitions=num_partitions,
        out_col="__below",
    )
    tot = F.broadcast(
        filt.agg(F.count("*").cast("long").alias("__N"))
    )
    # lower median: first value whose cumulative reach covers rank
    # floor((N+1)/2)
    med = F.broadcast(
        cum.crossJoin(tot)
        .filter(
            (F.col("__below") + F.col("__nt"))
            >= F.expr("cast((__N + 1) div 2 as bigint)")
        )
        .orderBy("__v")
        .limit(1)
        .select(F.col("__v").alias("__med"))
    )
    split = (
        filt.crossJoin(med)
        .groupBy("__g")
        .agg(
            F.sum(
                F.when(F.col("__v") > F.col("__med"), 1).otherwise(0)
            ).cast("long").alias("__ab"),
            F.sum(
                F.when(F.col("__v") <= F.col("__med"), 1).otherwise(0)
            ).cast("long").alias("__le"),
        )
    )
    folded = split.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum(F.col("__ab") + F.col("__le")).cast("long").alias("n"),
        F.sum("__ab").cast("long").alias("n_above"),
        F.sort_array(
            F.collect_list(F.struct("__g", "__ab", "__le"))
        ).alias("__rows"),
    )
    nn = exact("n")
    ca = exact("n_above")
    cl = exact(F.col("n") - F.col("n_above"))
    cell = lambda obs, rtot, ctot: (  # noqa: E731
        (
            (nn * exact(obs) - exact(rtot) * ctot)
            * (nn * exact(obs) - exact(rtot) * ctot)
        ).cast("double")
        / (nn * exact(rtot) * ctot).cast("double")
    )
    chi2 = F.aggregate(
        F.col("__rows"),
        F.lit(0.0),
        lambda acc, s_: acc
        + cell(s_["__ab"], s_["__ab"] + s_["__le"], ca)
        + cell(s_["__le"], s_["__ab"] + s_["__le"], cl),
    )
    ok = (
        (F.col("k_groups") > 1)
        & (F.col("n_above") > 0)
        & (F.col("n_above") < F.col("n"))
    )
    staged = folded.crossJoin(med).select(
        "n",
        "k_groups",
        F.col("__med").cast("double").alias("grand_median"),
        "n_above",
        F.when(ok, F.round(chi2, ndigits)).alias("chi2"),
        F.when(
            F.col("k_groups") > 1, (F.col("k_groups") - 1)
        ).cast("long").alias("df"),
    )
    staged = staged.withColumn(
        "__z",
        F.when(
            (F.col("k_groups") == 2) & F.col("chi2").isNotNull(),
            F.sqrt(F.col("chi2")),
        ),
    )
    return with_p_value(staged, "__z", ndigits=ndigits).drop("__z")


def holm_bonferroni(
    df: DataFrame,
    group_col: str,
    value_col: str,
    alpha: float = 0.05,
    ndigits: int = 6,
) -> DataFrame:
    """Holm's step-down multiple-testing correction (Holm 1979,
    public literature) over the same per-group z-tests as ``fdr_bh``
    — the FAMILY-WISE error control to BH's false-discovery control:
    the stricter guarantee a platform wants when ANY false alert is
    expensive (paging, auto-rollbacks), uniformly more powerful than
    plain Bonferroni at the same guarantee.

    Step-down rule: sort p ascending (NULL p ranks last — the shared
    engine convention), reject hypotheses 1..R where R is the LAST
    rank such that every p_(r <= R) satisfies p_(r) <= alpha/(m-r+1)
    — the first failure stops all later rejections regardless of
    their own p (the defining difference from BH's step-up).

    Output per group: ``(group, n, mean, z, p_value, p_rank,
    rejected)`` — the fdr_bh shape, so dashboards swap procedures by
    swapping the operator.

    Scale: identical to fdr_bh — one map-side-combinable groupBy +
    windows over the BOUNDED group table. No counterpart in the
    reference engine (SURVEY.md §2.2).
    """
    scored = _group_mean_pvalues(df, group_col, value_col, ndigits)
    m = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wr = Window.orderBy(F.col("p_value").asc_nulls_last(), group_col)
    prefix = Window.orderBy(
        F.col("p_value").asc_nulls_last(), group_col
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        scored.withColumn("p_rank", F.row_number().over(wr))
        .withColumn("__m", F.count("*").over(m))
        .withColumn(
            "__ok",
            F.coalesce(
                F.col("p_value")
                <= F.lit(float(alpha))
                / (F.col("__m") - F.col("p_rank") + 1),
                F.lit(False),
            ).cast("int"),
        )
    )
    # step-down: rejected iff EVERY rank up to mine passed its bar
    stepped = ranked.withColumn(
        "__all_ok", F.min("__ok").over(prefix)
    )
    return stepped.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        "mean",
        "z",
        "p_value",
        "p_rank",
        (F.col("__all_ok") == 1).alias("rejected"),
    )


def benjamini_yekutieli(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: float = 0.1,
    ndigits: int = 6,
) -> DataFrame:
    """Benjamini-Yekutieli FDR control under ARBITRARY dependence
    (Benjamini & Yekutieli 2001, public literature) over the same
    per-group z-tests as ``fdr_bh`` — the correction to reach for
    when the per-group tests share data (overlapping cohorts,
    correlated metrics) and BH's independence/PRDS assumption is not
    defensible: the BH threshold divides by the harmonic number
    c(m) = sum_{i=1..m} 1/i, trading power for a guarantee that
    holds under any correlation structure.

    Step-up rule: reject ranks 1..R where R is the LARGEST r with
    p_(r) <= r / (m * c(m)) * q. The harmonic sum folds ascending
    i = 1..m in both engines — identical IEEE double addition order,
    so the threshold is bit-identical cross-engine.

    Output per group: ``(group, n, mean, z, p_value, p_rank,
    rejected)`` — the fdr_bh/holm shape, so dashboards swap
    procedures by swapping the operator.

    Scale: identical to fdr_bh — one map-side-combinable groupBy +
    windows over the BOUNDED group table. No counterpart in the
    reference engine (SURVEY.md §2.2).
    """
    scored = _group_mean_pvalues(df, group_col, value_col, ndigits)
    m = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wr = Window.orderBy(F.col("p_value").asc_nulls_last(), group_col)
    harmonic = F.aggregate(
        F.sequence(F.lit(1), F.col("__m")),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / i.cast("double"),
    )
    ranked = (
        scored.withColumn("p_rank", F.row_number().over(wr))
        .withColumn("__m", F.count("*").over(m))
        .withColumn(
            "__ok",
            F.col("p_value")
            <= F.col("p_rank")
            / (F.col("__m") * harmonic)
            * F.lit(float(q)),
        )
    )
    rstar = ranked.withColumn(
        "__rstar",
        F.max(F.when(F.col("__ok"), F.col("p_rank"))).over(m),
    )
    return rstar.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        "mean",
        "z",
        "p_value",
        "p_rank",
        F.coalesce(
            F.col("p_rank") <= F.col("__rstar"), F.lit(False)
        ).alias("rejected"),
    )


def brunner_munzel(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Brunner-Munzel test (Brunner & Munzel 2000, public literature)
    — the nonparametric two-sample test that, unlike Mann-Whitney,
    does NOT assume equal variances/shapes under the null: it tests
    P(X < Y) + 0.5*P(X = Y) = 0.5 directly, the robust default when
    the two arms can differ in spread (heteroscedastic metrics,
    mixed-source corpora). Normal-approximation p-value (the
    large-sample form; both engines share the deterministic Φ).

    Exactness: all rank machinery is integer. Per distinct value the
    combined and within-sample midranks are carried DOUBLED
    (2R = 2*below + n + 1); the variance deviations scale by 4*n_i so
    every squared term is an exact decimal(38,0):

        A_i(v) = n_i*(2R(v) - 2r_i(v)) - T_i + n_i*(n_i+1)
                 (= 2*n_i * the deviation, so)
        S_i    = sum_v n_i(v)*A_i(v)^2 / (4*n_i^2*(n_i-1))

    with T_i = sum_v n_i(v)*2R(v) (the doubled rank sum). The
    statistic (scipy's formulation, public)

        W = n_a*n_b*(Rbar_b - Rbar_a)
            / ((n_a+n_b) * sqrt(n_a*S_a + n_b*S_b))

    is one fixed-order double expression over those exact integers.

    Output: one row ``(group_a, group_b, n_a, n_b, p_hat, w_stat,
    p_value)`` where p_hat is the estimated P(X<Y)+.5P(X=Y).
    Degenerate variance (every arm constant) yields NULL w/p.

    Scale: the mann_whitney class — everything runs on the
    distinct-value table with keyed shuffles only.
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    vc = filt.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("__nb"),
        F.count("*").alias("__nt"),
    )
    cum = global_cumsum_before(
        vc, ["__v"], ["__nt", "__na", "__nb"],
        num_partitions=num_partitions,
        out_col=["__bt", "__ba", "__bb"],
    )
    two_r = F.lit(2) * F.col("__bt") + F.col("__nt") + F.lit(1)
    two_ra = F.lit(2) * F.col("__ba") + F.col("__na") + F.lit(1)
    two_rb = F.lit(2) * F.col("__bb") + F.col("__nb") + F.lit(1)
    tot = F.broadcast(
        cum.agg(
            F.sum("__na").cast("long").alias("n_a"),
            F.sum("__nb").cast("long").alias("n_b"),
            exact_sum("__na", two_r).alias("__t_a"),
            exact_sum("__nb", two_r).alias("__t_b"),
        )
    )
    seg = cum.crossJoin(tot)
    a_dev = (
        exact("n_a") * exact(two_r - two_ra)
        - F.col("__t_a")
        + exact("n_a") * exact(F.col("n_a") + F.lit(1))
    )
    b_dev = (
        exact("n_b") * exact(two_r - two_rb)
        - F.col("__t_b")
        + exact("n_b") * exact(F.col("n_b") + F.lit(1))
    )
    ss = seg.groupBy().agg(
        exact(F.sum(exact("__na") * a_dev * a_dev)).alias("__ss_a"),
        exact(F.sum(exact("__nb") * b_dev * b_dev)).alias("__ss_b"),
    )
    out = tot.crossJoin(F.broadcast(ss))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # staged projections (the with_p_value discipline): each alias is
    # referenced more than once below, so it must be its own
    # withColumn — inlining the whole tree duplicates the decimal
    # casts per reference and janino rejects the generated method
    out = out.withColumns(
        {
            "__s_a": F.col("__ss_a").cast("double")
            / (F.lit(4.0) * na * na * (na - F.lit(1.0))),
            "__s_b": F.col("__ss_b").cast("double")
            / (F.lit(4.0) * nb * nb * (nb - F.lit(1.0))),
            "__rbar_diff": (
                F.col("__t_b").cast("double") / nb
                - F.col("__t_a").cast("double") / na
            )
            / F.lit(2.0),
            "p_hat": F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.round(
                    (
                        F.col("__t_b").cast("double") / nb
                        - (nb + F.lit(1.0))
                    )
                    / (F.lit(2.0) * na),
                    ndigits,
                ),
            ),
        }
    )
    out = out.withColumn(
        "__var_term", na * F.col("__s_a") + nb * F.col("__s_b")
    )
    out = out.withColumn(
        "w_stat",
        F.when(
            (F.col("n_a") > 1)
            & (F.col("n_b") > 1)
            & (F.col("__var_term") > 0),
            F.round(
                (na * nb * F.col("__rbar_diff"))
                / ((na + nb) * F.sqrt(F.col("__var_term"))),
                ndigits,
            ),
        ),
    )
    out = with_p_value(out, z_col="w_stat", ndigits=ndigits)
    return out.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.col("n_a"),
        F.col("n_b"),
        "p_hat",
        "w_stat",
        "p_value",
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list | None = None,
    ndigits: int = 6,
    num_partitions: int | None = None,
    max_groups: int = 64,
) -> DataFrame:
    """Jonckheere-Terpstra trend test (Jonckheere 1954 / Terpstra
    1952, public literature) — the ordered-alternative k-sample test:
    where Kruskal-Wallis asks "do these dose/tier groups differ at
    all", JT asks "do values INCREASE along the given group order",
    which is the actual question for dose-response, pricing tiers, or
    model-size ladders. JT = sum over group pairs i<j of the
    Mann-Whitney count #{x_i < x_j} + 0.5*#{x_i = x_j}.

    Exactness: JT is carried DOUBLED (2*JT, an exact decimal) from
    per-distinct-value integer counts. ``groups`` fixes the order
    (defaults to the sorted distinct groups — a bounded driver
    collect, <= ``max_groups``, the adaboost/kmeans model-size
    discipline). Each group's per-value counts ride ONE
    ``global_cumsum_before`` pass as k parallel columns; the
    per-value pair fold is a bounded k^2 in-row loop. The normal
    approximation uses the tie-corrected variance (Kendall's
    three-term form with group sizes as the second tie family):

        E   = (N^2 - sum n_i^2) / 4
        var = [N(N-1)(2N+5) - S_g(2) - S_t(2)] / 72
              + S_g(3)*S_t(3) / (36 N(N-1)(N-2))
              + S_g(1)*S_t(1) / (8 N(N-1))

    with S_g(2) = sum n_i(n_i-1)(2n_i+5) etc. over group sizes and
    tie sizes — all exact integer censuses, one double division at
    the end; z and the two-sided p (deterministic Φ) round once.

    Output: one row ``(n, n_groups, jt2, z, p_value)`` where jt2 is
    the doubled JT statistic. Degenerate variance yields NULL z/p.

    Scale: one groupBy to the (group, value) census, one fused
    cumsum over the distinct-value table, bounded in-row folds —
    the mann_whitney class.
    """
    from .ranking import global_cumsum_before

    filt = df.filter(F.col(value_col).isNotNull())
    if groups is None:
        head = (
            filt.select(F.col(group_col).alias("__g"))
            .distinct()
            .orderBy("__g")
            .limit(max_groups + 1)
            .collect()
        )
        if len(head) > max_groups:
            raise ValueError(
                f"jonckheere_terpstra: > {max_groups} distinct groups; "
                "pass an explicit ordered `groups` list"
            )
        groups = [r["__g"] for r in head]
    k = len(groups)
    gidx = F.create_map(
        *[x for i, g in enumerate(groups) for x in (F.lit(g), F.lit(i))]
    )
    vc = (
        filt.filter(F.col(group_col).isin(list(groups)))
        .select(
            gidx[F.col(group_col)].alias("__gi"),
            F.col(value_col).alias("__v"),
        )
        .groupBy("__v")
        .agg(
            *[
                F.sum(
                    F.when(F.col("__gi") == i, 1).otherwise(0)
                ).alias(f"__n{i}")
                for i in range(k)
            ]
        )
    )
    cum = global_cumsum_before(
        vc,
        ["__v"],
        [f"__n{i}" for i in range(k)],
        num_partitions=num_partitions,
        out_col=[f"__b{i}" for i in range(k)],
    )
    # per-value doubled-JT contribution: for each later group j, its
    # n_j(v) obs sit above 2*below_i(v) + ... of every earlier group i
    contrib = None
    for j in range(1, k):
        inner = None
        for i in range(j):
            term = F.lit(2) * F.col(f"__b{i}") + F.col(f"__n{i}")
            inner = term if inner is None else inner + term
        t = exact(F.col(f"__n{j}")) * exact(inner)
        contrib = t if contrib is None else contrib + t
    nt = None
    for i in range(k):
        nt = F.col(f"__n{i}") if nt is None else nt + F.col(f"__n{i}")
    agg = cum.agg(
        exact(F.sum(contrib)).alias("jt2"),
        *[
            F.sum(f"__n{i}").cast("long").alias(f"__gn{i}")
            for i in range(k)
        ],
        F.sum(nt).cast("long").alias("n"),
        exact_sum(nt, nt - 1, 2 * nt + 5).alias(
            "__t2"
        ),
        exact_sum(nt, nt - 1, nt - 2).alias("__t3"),
        exact_sum(nt, nt - 1).alias("__t1"),
    )
    g2 = g3 = g1 = sq = None
    for i in range(k):
        gn = F.col(f"__gn{i}")
        a2 = exact(gn) * exact(gn - 1) * exact(2 * gn + 5)
        a3 = exact(gn) * exact(gn - 1) * exact(gn - 2)
        a1 = exact(gn) * exact(gn - 1)
        s = exact(gn) * exact(gn)
        g2 = a2 if g2 is None else g2 + a2
        g3 = a3 if g3 is None else g3 + a3
        g1 = a1 if g1 is None else g1 + a1
        sq = s if sq is None else sq + s
    staged = agg.withColumns(
        {
            "__g2": g2,
            "__g3": g3,
            "__g1": g1,
            "__sumsq": sq,
        }
    )
    nn = F.col("n").cast("double")
    staged = staged.withColumns(
        {
            "__e2": (
                exact("n") * exact("n") - F.col("__sumsq")
            ).cast("double")
            / F.lit(2.0),
            "__var": (
                exact("n")
                * exact(F.col("n") - 1)
                * exact(2 * F.col("n") + 5)
                - F.col("__g2")
                - F.col("__t2")
            ).cast("double")
            / F.lit(72.0)
            + F.when(
                F.col("n") > 2,
                (F.col("__g3") * F.col("__t3")).cast("double")
                / (F.lit(36.0) * nn * (nn - 1.0) * (nn - 2.0)),
            ).otherwise(F.lit(0.0))
            + F.when(
                F.col("n") > 1,
                (F.col("__g1") * F.col("__t1")).cast("double")
                / (F.lit(8.0) * nn * (nn - 1.0)),
            ).otherwise(F.lit(0.0)),
        }
    )
    staged = staged.withColumn(
        "z",
        F.when(
            F.col("__var") > 0,
            F.round(
                (F.col("jt2").cast("double") - F.col("__e2"))
                / (F.lit(2.0) * F.sqrt(F.col("__var"))),
                ndigits,
            ),
        ),
    )
    staged = with_p_value(staged, z_col="z", ndigits=ndigits)
    return staged.select(
        "n",
        F.lit(k).cast("long").alias("n_groups"),
        F.col("jt2").cast("long").alias("jt2"),
        "z",
        "p_value",
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954 / Armitage 1955,
    public literature) — does a BINARY rate trend monotonically with
    an ordered integer score (dose level, pricing tier, bucket
    index)? The 2xk analogue of jonckheere_terpstra when the outcome
    is a flag rather than a value; chi-square-vs-trend is the classic
    toxicology/conversion-funnel split.

    Exactness: with integer scores w_i, group sizes n_i and successes
    r_i (one map-side-combinable groupBy), every moment is an exact
    decimal: T*N = sum w_i*(r_i*N - n_i*R) and
    Var*N^3 = R*(N-R)*(N*sum w_i^2 n_i - (sum w_i n_i)^2), so

        z = (T*N) * sqrt(N) / sqrt(Var*N^3)

    is one fixed-order double expression over exact integers; z and
    the two-sided p (deterministic Φ) round once. ``score_col`` must
    be integral (cast upstream — cents-scale fractional doses);
    ``outcome_col`` is coerced with ``!= 0`` / boolean truth.

    Output: one row ``(n, n_success, z, p_value)``; degenerate
    variance (all-success, all-failure, or a single score) yields
    NULL z/p.

    Scale: one groupBy to the score census (bounded by the score
    domain), then single-row arithmetic.
    """
    g = df.select(
        F.col(score_col).cast("long").alias("__w"),
        F.when(
            F.col(outcome_col).cast("boolean"), F.lit(1)
        ).otherwise(F.lit(0)).alias("__y"),
    ).filter(F.col("__w").isNotNull() & F.col("__y").isNotNull())
    cen = g.groupBy("__w").agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__r"),
    )
    agg = cen.agg(
        F.sum("__n").cast("long").alias("n"),
        F.sum("__r").cast("long").alias("n_success"),
        exact_sum("__w", "__n").alias(
            "__swn"
        ),
        exact_sum("__w", "__w", "__n").alias("__sw2n"),
        exact_sum("__w", "__r").alias(
            "__swr"
        ),
    )
    staged = agg.withColumns(
        {
            # T*N = sum w_i r_i * N - sum w_i n_i * R
            "__tn": exact("__swr") * exact("n")
            - exact("__swn") * exact("n_success"),
            # Var*N^3 = R(N-R)(N*sum w^2 n - (sum w n)^2)
            "__vn3": exact("n_success")
            * exact(F.col("n") - F.col("n_success"))
            * (
                exact("n") * F.col("__sw2n")
                - F.col("__swn") * F.col("__swn")
            ),
        }
    )
    staged = staged.withColumn(
        "z",
        F.when(
            F.col("__vn3") > 0,
            F.round(
                F.col("__tn").cast("double")
                * F.sqrt(F.col("n").cast("double"))
                / F.sqrt(F.col("__vn3").cast("double")),
                ndigits,
            ),
        ),
    )
    staged = with_p_value(staged, z_col="z", ndigits=ndigits)
    return staged.select("n", "n_success", "z", "p_value")


def page_trend(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    treatments: list | None = None,
    ndigits: int = 6,
    max_treatments: int = 64,
) -> DataFrame:
    """Page's L trend test (Page 1963, public literature) — the
    ORDERED-alternative companion to ``friedman_test``, completing
    the family the way ``jonckheere_terpstra`` completes
    ``kruskal_wallis``: across matched blocks, do the treatments'
    within-block ranks INCREASE along the given treatment order?
    L = sum_j j * R_j over treatment ordinals j = 1..k.

    Mechanics shared with friedman_test: only COMPLETE blocks (all k
    treatments exactly once) participate; within-block midranks are
    carried DOUBLED from the bounded k^2 self-join, so 2L is an exact
    decimal. ``treatments`` fixes the order (defaults to sorted
    distinct treatments — a bounded driver collect). The normal
    approximation uses the classic NO-TIE moments

        E(L)   = b*k*(k+1)^2 / 4
        Var(L) = b*k^2*(k+1)*(k^2-1) / 144

    (ties within a block get midranks in L itself, but the variance
    keeps the standard no-tie form — the convention of published
    implementations; exact-decimal block sums make within-block ties
    measure-zero in practice, and the oracle replays the identical
    formula either way).

    Output: one row ``(n_blocks, n_complete, k_treatments, l2, z,
    p_value)`` with l2 the doubled L. Degenerate (k < 2 or no
    complete blocks) yields NULL z/p.

    Scale: the friedman contract — a bounded k^2 join per block, one
    groupBy per (block, treatment), treatment-sized everything after.
    """
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(block_col).cast("string").alias("__b"),
        F.col(treatment_col).cast("string").alias("__j"),
        F.col(value_col).alias("__v"),
    )
    if treatments is None:
        head = (
            base.select(F.col("__j"))
            .distinct()
            .orderBy("__j")
            .limit(max_treatments + 1)
            .collect()
        )
        if len(head) > max_treatments:
            raise ValueError(
                f"page_trend: > {max_treatments} distinct treatments; "
                "pass an explicit ordered `treatments` list"
            )
        treatments = [r["__j"] for r in head]
    k = len(treatments)
    ordmap = F.create_map(
        *[
            x
            for i, t in enumerate(treatments)
            for x in (F.lit(str(t)), F.lit(i + 1))
        ]
    )
    base = base.filter(
        F.col("__j").isin([str(t) for t in treatments])
    )
    bc = base.groupBy("__b").agg(
        F.count("*").alias("__nb"),
        F.countDistinct("__j").alias("__nj"),
    )
    n_blocks = bc.count()
    complete = bc.filter(
        (F.col("__nb") == k) & (F.col("__nj") == k)
    ).select("__b")
    kept = base.join(complete, "__b")
    rhs = kept.select(
        "__b", F.col("__j").alias("__j2"), F.col("__v").alias("__v2")
    )
    ranked = (
        kept.join(rhs, "__b")
        .groupBy("__b", "__j")
        .agg(
            (
                F.lit(2)
                * F.sum(
                    F.when(F.col("__v2") < F.col("__v"), 1).otherwise(0)
                )
                + F.sum(
                    F.when(F.col("__v2") == F.col("__v"), 1).otherwise(0)
                )
                + F.lit(1)
            ).cast("long").alias("__2r")
        )
    )
    agg = ranked.agg(
        exact_sum(ordmap[F.col("__j")], "__2r").alias(
            "l2"
        ),
        (F.count("*") / F.lit(k)).cast("long").alias("n_complete"),
    )
    b = F.col("n_complete").cast("double")
    e2 = b * k * (k + 1.0) * (k + 1.0) / 2.0
    var = b * k * k * (k + 1.0) * (k * k - 1.0) / 144.0
    staged = agg.withColumn(
        "z",
        F.when(
            (F.lit(int(k)) >= 2) & (F.col("n_complete") > 0) & (var > 0),
            F.round(
                (F.col("l2").cast("double") - e2)
                / (F.lit(2.0) * F.sqrt(var)),
                ndigits,
            ),
        ),
    )
    staged = with_p_value(staged, z_col="z", ndigits=ndigits)
    return staged.select(
        F.lit(n_blocks).cast("long").alias("n_blocks"),
        "n_complete",
        F.lit(k).cast("long").alias("k_treatments"),
        F.col("l2").cast("long").alias("l2"),
        "z",
        "p_value",
    )


def brown_forsythe_levene(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (Brown & Forsythe
    1974 — Levene's test with MEDIAN centering, the robust default
    scipy ships): did the SPREAD move across segments, the question
    behind every "metric got noisier" alert where anova_oneway only
    watches means. W is the one-way ANOVA F computed on absolute
    deviations from each group's median.

    Exactness: per-group medians are exact — each group's distinct
    values carry integer cumulative counts, the two middle order
    statistics are min-value picks at the floor((n+1)/2) and
    floor(n/2)+1 ranks, and their average is an exact decimal(19,3)
    (money-grade values land on half-cents at worst). Deviations
    |y - med| are exact decimals, so the Z-moments reuse
    ``anova_oneway``'s cleared identity with its sorted-fold mixing
    discipline; W rounds once.

    Output: one row ``(k_groups, n, w_stat)``; degenerate inputs
    (k < 2, N <= k, zero within-group deviation) yield NULL w_stat.
    The F(k-1, N-k) p-value is deliberately not emitted — the
    anova_oneway convention (no portable F CDF).

    Scale: the distinct-value census shuffles once on (group, value);
    the per-group cumsum window partitions on the BOUNDED group
    domain (the friedman/mood contract — per-group value lists are
    the partition, so a single gigantic group serializes; pre-bucket
    upstream if groups are unbounded).
    """
    y = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).cast("string").alias("__g"), y.alias("__v"))
    vc = base.groupBy("__g", "__v").agg(F.count("*").alias("__c"))
    wcum = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.withColumn("__cum", F.sum("__c").over(wcum))
    tot = vc.groupBy("__g").agg(F.sum("__c").cast("long").alias("__n"))
    med = (
        cum.join(tot, "__g")
        .groupBy("__g")
        .agg(
            # floor((n+1)/2): Spark / on longs is DOUBLE division (the
            # r8 theilsen rank trap) — without the floor, even n picks
            # the UPPER middle for both order statistics
            F.min(
                F.when(
                    F.col("__cum")
                    >= F.floor((F.col("__n") + 1) / 2),
                    F.col("__v"),
                )
            ).alias("__lo"),
            F.min(
                F.when(
                    F.col("__cum")
                    >= F.floor(F.col("__n") / 2) + F.lit(1),
                    F.col("__v"),
                )
            ).alias("__hi"),
        )
        .select(
            "__g",
            (
                (
                    F.col("__lo").cast("decimal(19,3)")
                    + F.col("__hi").cast("decimal(19,3)")
                )
                / 2
            ).cast("decimal(19,3)").alias("__med"),
        )
    )
    z = base.join(F.broadcast(med), "__g").select(
        "__g",
        F.abs(
            F.col("__v").cast("decimal(19,3)") - F.col("__med")
        ).alias("__z"),
    )
    per_g = z.groupBy("__g").agg(
        F.count("*").cast("long").alias("__n"),
        exact(F.sum("__z"), 3).alias("__s"),
        exact(F.sum(exact("__z", 6) * F.col("__z")), 6).alias("__q"),
    )
    # sorted fold over the bounded group domain (anova discipline):
    # sum_g S_g^2/n_g mixes decimal into double per group, so pin the
    # addition order by group name
    folded = per_g.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("__n").cast("long").alias("n"),
        exact(F.sum("__s"), 3).alias("__stot"),
        exact(F.sum("__q"), 6).alias("__qtot"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__g", "__s", "__n"))),
            F.lit(0.0),
            lambda acc, s: acc
            + s["__s"].cast("double")
            * s["__s"].cast("double")
            / s["__n"].cast("double"),
        ).alias("__mix"),
    )
    nn = F.col("n").cast("double")
    kk = F.col("k_groups").cast("double")
    ssb = F.round(
        F.col("__mix")
        - F.col("__stot").cast("double")
        * F.col("__stot").cast("double")
        / nn,
        ndigits,
    )
    ssw = F.round(
        F.col("__qtot").cast("double") - F.col("__mix"), ndigits
    )
    staged = folded.withColumns({"__ssb": ssb, "__ssw": ssw})
    return staged.select(
        "k_groups",
        "n",
        F.when(
            (F.col("k_groups") >= 2)
            & (F.col("n") > F.col("k_groups"))
            & (F.col("__ssw") > 0),
            F.round(
                (F.col("__ssb") / (kk - 1.0))
                / (F.col("__ssw") / (nn - kk)),
                ndigits,
            ),
        ).alias("w_stat"),
    )


def bartlett_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Bartlett's variance-homogeneity test (Bartlett 1937, public
    literature) — the parametric, normality-assuming companion to
    ``brown_forsythe_levene``, more powerful when the data really is
    Gaussian (the classic pairing: Bartlett when QQ plots are clean,
    Brown-Forsythe when they are not).

        T = [(N-k)*ln(s_p^2) - sum_i (n_i-1)*ln(s_i^2)] / C
        C = 1 + (sum_i 1/(n_i-1) - 1/(N-k)) / (3*(k-1))

    Exactness: group moments are exact decimals; each s_i^2 is one
    fixed-order double expression; the three group-indexed float
    sums (pooled numerator, ln terms, reciprocals) are SORTED FOLDS
    over the bounded group domain (the anova/infotheory discipline —
    ln itself matches across engines the same way the entropy
    operators' log2 does). T rounds once; the chi2(k-1) p-value is
    deliberately not emitted (no portable chi2 CDF — the
    kruskal_wallis convention).

    Output: one row ``(k_groups, n, t_stat)``; degenerate inputs
    (k < 2, any n_i < 2, any zero variance) yield NULL t_stat.

    Scale: one map-side-combinable groupBy to |groups| rows, folds
    over the bounded group table.
    """
    y = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).cast("string").alias("__g"), y.alias("__v"))
    per_g = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("__n"),
        exact(F.sum("__v"), 2).alias("__s"),
        exact(F.sum(exact("__v", 4) * F.col("__v")), 4).alias("__q"),
    )
    s2 = (
        F.col("__q").cast("double")
        - F.col("__s").cast("double")
        * F.col("__s").cast("double")
        / F.col("__n").cast("double")
    ) / (F.col("__n").cast("double") - 1.0)
    scored = per_g.select(
        "__g", "__n", s2.alias("__s2")
    )
    folded = scored.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("__n").cast("long").alias("n"),
        F.min("__n").cast("long").alias("__minn"),
        F.min("__s2").alias("__mins2"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("__g", "__n", "__s2"))
            ),
            F.lit(0.0),
            lambda acc, s: acc
            + (s["__n"].cast("double") - 1.0) * s["__s2"],
        ).alias("__pool_num"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("__g", "__n", "__s2"))
            ),
            F.lit(0.0),
            lambda acc, s: acc
            + (s["__n"].cast("double") - 1.0)
            * F.when(s["__s2"] > 0, F.log(s["__s2"])).otherwise(0.0),
        ).alias("__ln_sum"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__g", "__n"))),
            F.lit(0.0),
            lambda acc, s: acc
            + 1.0 / (s["__n"].cast("double") - 1.0),
        ).alias("__recip"),
    )
    nn = F.col("n").cast("double")
    kk = F.col("k_groups").cast("double")
    sp2 = F.col("__pool_num") / (nn - kk)
    c = 1.0 + (F.col("__recip") - 1.0 / (nn - kk)) / (
        3.0 * (kk - 1.0)
    )
    t = ((nn - kk) * F.log(sp2) - F.col("__ln_sum")) / c
    return folded.select(
        "k_groups",
        "n",
        F.when(
            (F.col("k_groups") >= 2)
            & (F.col("__minn") >= 2)
            & (F.col("__mins2") > 0),
            F.round(t, ndigits),
        ).alias("t_stat"),
    )


def welch_anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA (Welch 1951, public
    literature) — the k-group generalization of the Welch t that
    ``ab_test`` already ships: when ``brown_forsythe_levene`` says
    variances DIFFER, classic ``anova_oneway`` is invalid and this
    F* is the statistic to report.

        w_i = n_i/s_i^2          W = sum w_i
        xb* = sum w_i*xb_i / W
        A   = sum w_i*(xb_i - xb*)^2 / (k-1)
        B   = 1 + (2(k-2)/(k^2-1)) * sum (1-w_i/W)^2/(n_i-1)
        F*  = A/B

    Exactness: group moments are exact decimals; each group's mean
    and variance are fixed-order doubles; the three group-indexed
    float reductions (W, weighted mean numerator, the B sum) are
    SORTED FOLDS over the bounded group domain (the anova
    discipline). F* rounds once; the F(k-1, df2) p-value is
    deliberately not emitted (no portable F CDF).

    Output: one row ``(k_groups, n, f_stat)``; degenerate inputs
    (k < 2, any n_i < 2, any zero variance) yield NULL f_stat.

    Scale: one map-side-combinable groupBy to |groups| rows, folds
    over the bounded group table.
    """
    y = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).cast("string").alias("__g"), y.alias("__v"))
    per_g = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("__n"),
        exact(F.sum("__v"), 2).alias("__s"),
        exact(F.sum(exact("__v", 4) * F.col("__v")), 4).alias("__q"),
    )
    nn_g = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / nn_g
    s2 = (
        F.col("__q").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double") / nn_g
    ) / (nn_g - 1.0)
    scored = per_g.select(
        "__g",
        "__n",
        mean.alias("__mean"),
        s2.alias("__s2"),
    )
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("__g", "__n", "__mean", "__s2"))
    )
    wterm = lambda s: s["__n"].cast("double") / s["__s2"]  # noqa: E731
    folded = scored.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("__n").cast("long").alias("n"),
        F.min("__n").cast("long").alias("__minn"),
        F.min("__s2").alias("__mins2"),
        F.aggregate(
            sorted_structs, F.lit(0.0),
            lambda acc, s: acc + wterm(s),
        ).alias("__w"),
        F.aggregate(
            sorted_structs, F.lit(0.0),
            lambda acc, s: acc + wterm(s) * s["__mean"],
        ).alias("__wm"),
    )
    # second pass over the same bounded structs for the terms that
    # need W and xb*: rejoin the per-group table against the 1-row
    # totals (a broadcast of 2 doubles)
    joined = scored.crossJoin(
        F.broadcast(
            folded.select(
                "k_groups", "n", "__minn", "__mins2", "__w", "__wm"
            )
        )
    )
    xbstar = F.col("__wm") / F.col("__w")
    a_term = (
        (F.col("__n").cast("double") / F.col("__s2"))
        * (F.col("__mean") - xbstar)
        * (F.col("__mean") - xbstar)
    )
    b_term = (
        (
            1.0
            - (F.col("__n").cast("double") / F.col("__s2"))
            / F.col("__w")
        )
        * (
            1.0
            - (F.col("__n").cast("double") / F.col("__s2"))
            / F.col("__w")
        )
        / (F.col("__n").cast("double") - 1.0)
    )
    final = joined.groupBy(
        "k_groups", "n", "__minn", "__mins2"
    ).agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("__g", a_term.alias("__a")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["__a"],
        ).alias("__asum"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("__g", b_term.alias("__b")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["__b"],
        ).alias("__bsum"),
    )
    kk = F.col("k_groups").cast("double")
    fstar = (F.col("__asum") / (kk - 1.0)) / (
        1.0
        + (2.0 * (kk - 2.0) / (kk * kk - 1.0)) * F.col("__bsum")
    )
    return final.select(
        "k_groups",
        "n",
        F.when(
            (F.col("k_groups") >= 2)
            & (F.col("__minn") >= 2)
            & (F.col("__mins2") > 0),
            F.round(fstar, ndigits),
        ).alias("f_stat"),
    )


def quade_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Quade test (Quade 1979, public literature) — the block-design
    companion to ``friedman_test`` that WEIGHTS blocks by how much
    they discriminate: blocks with a wide value range carry more
    evidence than near-flat ones, which makes Quade more powerful
    than Friedman at small k. Same complete-block contract.

    Mechanics: within-block midranks r_ij and block-range midranks
    Q_i (range = max - min, ranked across blocks) are both carried
    DOUBLED from bounded self-joins, so the scaled scores

        4*S_ij = 2Q_i * (2r_ij - (k+1))

    are exact integers; A = sum S_ij^2 and B = (1/b) sum_j S_j^2
    stay exact decimals (x16, xb), and

        F = (b-1) * B / (A - B)

    is ONE rounded division of exact decimal integers. Perfect
    treatment agreement (A = B) yields NULL f_stat (the statistic is
    infinite — every implementation special-cases it); the
    F((k-1),(b-1)(k-1)) p-value is deliberately not emitted.

    Output: one row ``(k_treatments, n_blocks, n_complete, f_stat)``.

    Scale: the friedman contract — a bounded k^2 join per block for
    value ranks, one block-count-sized self-join for range ranks.
    """
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(block_col).cast("string").alias("__b"),
        F.col(treatment_col).cast("string").alias("__j"),
        F.col(value_col).alias("__v"),
    )
    k_row = base.agg(
        F.countDistinct("__j").cast("long").alias("k_treatments")
    )
    bc = base.groupBy("__b").agg(
        F.count("*").alias("__nb"),
        F.countDistinct("__j").alias("__nj"),
    )
    n_blocks = bc.count()
    complete = bc.crossJoin(F.broadcast(k_row)).filter(
        (F.col("__nb") == F.col("k_treatments"))
        & (F.col("__nj") == F.col("k_treatments"))
    ).select("__b")
    kept = base.join(complete, "__b")
    rhs = kept.select(
        "__b", F.col("__j").alias("__j2"), F.col("__v").alias("__v2")
    )
    ranked = (
        kept.join(rhs, "__b")
        .groupBy("__b", "__j")
        .agg(
            (
                F.lit(2)
                * F.sum(
                    F.when(F.col("__v2") < F.col("__v"), 1).otherwise(0)
                )
                + F.sum(
                    F.when(F.col("__v2") == F.col("__v"), 1).otherwise(0)
                )
                + F.lit(1)
            ).cast("long").alias("__2r"),
            F.min("__v").alias("__vkeep"),
        )
    )
    ranges = kept.groupBy("__b").agg(
        (F.max("__v") - F.min("__v")).alias("__d")
    )
    # block-range midranks via the distinct-value cumsum machinery
    # (NOT a b x b self-join — blocks are data-sized at 100 TB):
    # 2Q = 2*below(d) + count(d) + 1 over the range-value census
    from .ranking import global_cumsum_before

    dcnt = ranges.groupBy("__d").agg(F.count("*").alias("__dc"))
    dcum = global_cumsum_before(
        dcnt, ["__d"], "__dc", out_col="__dbelow"
    )
    qrank = ranges.join(dcum, "__d").select(
        "__b",
        (
            F.lit(2) * F.col("__dbelow") + F.col("__dc") + F.lit(1)
        ).cast("long").alias("__2q"),
    )
    scored = ranked.join(qrank, "__b").crossJoin(F.broadcast(k_row))
    s4 = exact("__2q") * exact(F.col("__2r") - (F.col("k_treatments") + 1))
    per_j = scored.groupBy("__j").agg(
        exact(F.sum(s4)).alias("__s4j"),
        F.count("*").cast("long").alias("__bj"),
    )
    a16 = scored.agg(
        exact(F.sum(s4 * s4)).alias("__a16"),
        (F.count("*") / F.max("k_treatments")).cast("long").alias(
            "n_complete"
        ),
        F.max("k_treatments").cast("long").alias("k_treatments"),
    )
    b16b = per_j.agg(
        exact(F.sum(F.col("__s4j") * F.col("__s4j"))).alias("__b16b")
    )
    out = a16.crossJoin(F.broadcast(b16b))
    bb = F.col("n_complete")
    # F = (b-1) * B / (A - B) with A16 = 16A, B16b = 16*B*b:
    #   = (b-1) * B16b / (A16*b - B16b)
    num = exact(bb - 1) * F.col("__b16b")
    den = exact(bb) * F.col("__a16") - F.col("__b16b")
    return out.select(
        "k_treatments",
        F.lit(n_blocks).cast("long").alias("n_blocks"),
        "n_complete",
        F.when(
            (F.col("k_treatments") >= 2)
            & (F.col("n_complete") > 1)
            & (den > 0),
            F.round(num.cast("double") / den.cast("double"), ndigits),
        ).alias("f_stat"),
    )


def ansari_bradley(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Ansari-Bradley scale test (Ansari & Bradley 1960, public
    literature) — do two samples with a COMMON center differ in
    SPREAD? The rank-based companion to brunner_munzel's location
    question: ranks count inward from both ends (min(r, N+1-r)), so
    a dispersed sample collects small scores. Statistic-only output
    (the exact null distribution / tie-conditional variance is not
    portably replayable — the bartlett convention).

    Exactness: per distinct value the positions below+1 .. below+nt
    share the midscore a_v = (S(hi) - S(lo-1))/nt, where
    S(x) = sum_{r<=x} min(r, N+1-r) is the closed-form triangular
    prefix (split at the midpoint) — S is an exact integer, so a_v is
    ONE double division of identical integers in both engines; each
    a_v quantizes half-away to a micro-long and AB is an exact
    integer micro sum (the pacf/mmr quantization discipline).

    Output: one row ``(group_a, group_b, n_a, n_b, ab_stat)`` with
    ab_stat = sum of group-a scores rounded at ``ndigits``.

    Scale: the mann_whitney class — one distinct-value census, one
    fused cumsum, keyed shuffles only.
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    vc = filt.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("__nb"),
        F.count("*").alias("__nt"),
    )
    cum = global_cumsum_before(
        vc, ["__v"], "__nt", num_partitions=num_partitions,
        out_col="__bt",
    )
    tot = F.broadcast(
        vc.agg(
            F.sum("__na").cast("long").alias("n_a"),
            F.sum("__nb").cast("long").alias("n_b"),
            F.sum("__nt").cast("long").alias("__n"),
        )
    )
    seg = cum.crossJoin(tot)

    # S(x) = sum_{r=1..x} min(r, N+1-r), exact longs: let h =
    # floor((N+1)/2) (the peak); for x <= h it is the triangle
    # x(x+1)/2; past the peak add the descending tail
    def s_prefix(x):
        h = F.floor((F.col("__n") + 1) / 2).cast("long")
        tri = lambda t: (t * (t + 1) / 2).cast("long")  # noqa: E731
        asc = tri(F.least(x, h))
        # descending part: positions h+1..x get N+1-r, i.e. values
        # N-h, N-h-1, ..., N+1-x  (count = x-h)
        cnt = F.greatest(x - h, F.lit(0).cast("long"))
        first = F.col("__n") - h  # value at position h+1
        desc = (cnt * first - tri(cnt - 1)).cast("long")
        return asc + F.when(cnt > 0, desc).otherwise(F.lit(0))

    lo = F.col("__bt").cast("long")          # = below, S(lo-1) -> S(below)
    hi = (F.col("__bt") + F.col("__nt")).cast("long")
    rs = s_prefix(hi) - s_prefix(lo)
    a_micro = F.round(
        rs.cast("double") / F.col("__nt").cast("double") * 1e6
    ).cast("long")
    agg = seg.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(F.col("__na") * a_micro).alias("__ab_micro"),
    )
    return agg.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.col("n_a"),
        F.col("n_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(F.col("__ab_micro").cast("double") / 1e6, ndigits),
        ).alias("ab_stat"),
    )


def runs_test(
    df: DataFrame,
    value_col: str,
    order_cols: list,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Wald-Wolfowitz runs test for sequence randomness (Wald &
    Wolfowitz 1940; mean-cut form per the NIST/SEMATECH e-Handbook,
    public literature) — "do above-mean and below-mean observations
    alternate like a random sequence, or do they clump (trend/
    autocorrelation)?" The nonparametric companion to
    ``durbin_watson`` that needs no regression fit.

    Semantics: observations ordered by ``order_cols`` (MUST be a
    total order — include a unique tie-break column, the
    ``global_row_number`` contract) are cut at the sample mean into
    above (v > m) / below (v <= m); R = number of maximal same-side
    runs; z = (R - mu) / sigma with mu = 1 + 2*n1*n2/n and
    sigma^2 = 2*n1*n2*(2*n1*n2 - n) / (n^2 * (n-1)).

    Exactness: the mean cut m = Sv/n is ONE double division of a
    decimal-exact sum, compared against each value's exact decimal
    cast as double — both engines evaluate the identical IEEE
    comparison; R, n1, n2 are exact integers, z one fixed-order
    double expression, p via the engine's deterministic normal tail.

    Scale: one ``global_row_number`` range shuffle, one equi-join of
    the sequence against itself shifted by one (key shuffle on rn) —
    no single-partition window anywhere, so a billion-row event
    stream keeps every stage parallel.

    No counterpart in the reference engine (SURVEY.md §2.2).
    """
    from .ranking import global_row_number

    filt = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("decimal(18,2)").alias("__v"), *order_cols
    )
    rn = global_row_number(
        filt, order_cols, num_partitions=num_partitions, out_col="__rn"
    )
    stats = F.broadcast(
        rn.agg(
            F.count("*").cast("long").alias("__n"),
            F.sum("__v").alias("__sv"),
        )
    )
    marked = rn.crossJoin(stats).select(
        "__rn",
        (
            F.col("__v").cast("double")
            > F.col("__sv").cast("double") / F.col("__n").cast("double")
        ).alias("__abv"),
        "__n",
    )
    nxt = marked.select(
        (F.col("__rn") - 1).alias("__rn"), F.col("__abv").alias("__abv2")
    )
    joined = marked.join(nxt, "__rn", "left")
    agg = joined.agg(
        F.max("__n").alias("n"),
        F.sum(F.when(F.col("__abv"), 1).otherwise(0))
        .cast("long")
        .alias("n_above"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("__abv2").isNotNull()
                    & (F.col("__abv") != F.col("__abv2")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    n = F.col("n").cast("double")
    n1 = F.col("n_above").cast("double")
    n2 = (F.col("n") - F.col("n_above")).cast("double")
    two = 2.0 * n1 * n2
    mu = 1.0 + two / n
    var = two * (two - n) / (n * n * (n - 1.0))
    out = agg.select(
        "n",
        "n_above",
        (F.col("n") - F.col("n_above")).alias("n_below"),
        "runs",
        F.when(
            (F.col("n") >= 2)
            & (F.col("n_above") > 0)
            & (F.col("n") > F.col("n_above"))
            & (var > 0),
            (F.col("runs").cast("double") - mu) / F.sqrt(var),
        ).alias("__z"),
    )
    out = with_p_value(out, "__z", "p_value", ndigits)
    return out.select(
        "n",
        "n_above",
        "n_below",
        "runs",
        F.round(F.col("__z"), ndigits).alias("z"),
        "p_value",
    )


def jarque_bera(
    df: DataFrame,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Jarque-Bera normality statistic (Jarque & Bera 1980, public
    literature) — the moment-based "is this distribution normal?"
    gate: JB = n * (skew^2 / 6 + excess_kurtosis^2 / 24), chi2(2)
    under the null, whose tail IS closed-form (exp(-JB/2)) and so,
    uniquely among the engine's chi2-class tests, ships a
    deterministic p_value.

    Exactness: values quantize to exact integer cents (skewness and
    kurtosis are scale-invariant, so the cents domain changes
    nothing); the four power sums accumulate as exact
    decimal(38,0)/long integers; the central moments, skew, kurtosis
    and JB collapse to double in fixed-order expressions; the chi2(2)
    tail replays through the engine's deterministic exp
    (``with_det_exp``) with the |y| <= 64 convergence clamp.

    Scale: ONE map-side-combinable aggregate over the scan — nothing
    else. The cents-long squares cap |v| at ~3e7 currency units
    (c^2 must fit a long); beyond that cast down first.

    No counterpart in the reference engine (SURVEY.md §2.2).
    """
    c = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    c2 = (c * c).cast("long")
    d2 = exact(c2)
    agg = df.filter(F.col(value_col).isNotNull()).agg(
        F.count("*").cast("long").alias("n"),
        exact(F.sum(c)).alias("__s1"),
        F.sum(d2).alias("__s2"),
        F.sum(d2 * c.cast("decimal(19,0)")).alias("__s3"),
        F.sum(d2 * d2).alias("__s4"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - 3.0 * m * s2 / n + 2.0 * m * m * m
    m4 = (
        s4 / n
        - 4.0 * m * s3 / n
        + 6.0 * m * m * s2 / n
        - 3.0 * m * m * m * m
    )
    staged = (
        agg.withColumn("__m2", m2)
        .withColumn(
            "__skew",
            F.when(
                F.col("__m2") > 0,
                m3 / (F.sqrt(F.col("__m2")) * F.col("__m2")),
            ),
        )
        .withColumn(
            "__kurt",
            F.when(
                F.col("__m2") > 0, m4 / (F.col("__m2") * F.col("__m2")) - 3.0
            ),
        )
        .withColumn(
            "__jb",
            F.when(
                (F.col("n") >= 2) & (F.col("__m2") > 0),
                F.col("n").cast("double")
                * (
                    F.col("__skew") * F.col("__skew") / 6.0
                    + F.col("__kurt") * F.col("__kurt") / 24.0
                ),
            ),
        )
    )
    staged = staged.withColumn(
        "__y",
        F.when(F.col("__jb").isNotNull(), -F.least(F.col("__jb"), F.lit(128.0)) / 2.0),
    )
    staged = with_det_exp(staged, "__y", "__p")
    return staged.select(
        "n",
        F.round(F.col("__skew"), ndigits).alias("skewness"),
        F.round(F.col("__kurt"), ndigits).alias("kurtosis_excess"),
        F.round(F.col("__jb"), ndigits).alias("jb_stat"),
        F.when(
            F.col("__jb").isNotNull(),
            F.when(F.col("__jb") > 128.0, F.lit(0.0)).otherwise(
                F.round(F.col("__p"), ndigits)
            ),
        ).alias("p_value"),
    )


def chatterjee_xi(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Chatterjee's xi rank correlation (Chatterjee, JASA 2021,
    public literature) — the modern "is Y a FUNCTION of X?"
    coefficient: ~0 for independence, -> 1 iff Y is a measurable
    function of X (monotone or not), where Pearson/Spearman see only
    monotone signal. Tie-robust form:

        xi = 1 - n * sum_{i=1..n-1} |r_{i+1} - r_i|
                 / (2 * sum_i l_i * (n - l_i))

    with rows ordered by X, r_i = #{j: y_j <= y_i},
    l_i = #{j: y_j >= y_i}. X-ties are broken by ``id_col`` —
    deterministic where the paper randomizes (documented engine
    contract; the effect vanishes as duplicate-X mass shrinks).

    Exactness: r and l come from the fused distinct-value cumsum
    (exact longs); the numerator and the tie-aware denominator are
    exact integer sums promoted to decimal(38,0) for n^3 headroom;
    xi is ONE double expression rounded at ``ndigits``.

    Scale: one distinct-Y census + ``global_cumsum_before`` range
    shuffle, one key shuffle joining ranks back on Y, one
    ``global_row_number`` over (X, id), one rn+1 equi-join — the
    mann_whitney class, every stage parallel at any corpus size.

    No counterpart in the reference engine (SURVEY.md §2.2).
    """
    from .ranking import global_cumsum_before, global_row_number

    filt = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).alias("__x"),
        F.col(y_col).cast("decimal(18,2)").alias("__y"),
        F.col(id_col).alias("__id"),
    )
    vc = filt.groupBy("__y").agg(F.count("*").cast("long").alias("__cnt"))
    cum = global_cumsum_before(
        vc, ["__y"], "__cnt", num_partitions=num_partitions, out_col="__bt"
    )
    tot = F.broadcast(cum.agg(F.sum("__cnt").cast("long").alias("__n")))
    ranks = cum.crossJoin(tot).select(
        "__y",
        "__cnt",
        "__n",
        (F.col("__bt") + F.col("__cnt")).cast("long").alias("__r"),
        (F.col("__n") - F.col("__bt")).cast("long").alias("__l"),
    )
    den = ranks.agg(
        F.sum(
            exact("__cnt")
            * (F.col("__l") * (F.col("__n") - F.col("__l"))).cast(
                "decimal(19,0)"
            )
        ).alias("__d")
    )
    rows = filt.join(
        ranks.select("__y", "__r", "__n"), "__y", "inner"
    )
    seq = global_row_number(
        rows,
        ["__x", "__id"],
        num_partitions=num_partitions,
        out_col="__rn",
    )
    nxt = seq.select(
        (F.col("__rn") - 1).alias("__rn"), F.col("__r").alias("__r2")
    )
    adj = seq.join(nxt, "__rn", "inner")
    num = adj.agg(
        F.max("__n").alias("n"),
        exact_sum(F.abs(F.col("__r2") - F.col("__r"))).alias("__s"),
    )
    out = num.crossJoin(F.broadcast(den))
    return out.select(
        "n",
        F.when(
            (F.col("n") >= 2) & (F.col("__d") > 0),
            F.round(
                1.0
                - F.col("n").cast("double")
                * F.col("__s").cast("double")
                / (2.0 * F.col("__d").cast("double")),
                ndigits,
            ),
        ).alias("xi"),
    )


def cramer_von_mises(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-sample Cramér-von Mises statistic (Anderson 1962, public
    literature) — the INTEGRATED-squared-CDF-gap companion to
    ``ks_two_sample``'s single worst gap: sensitive to many small
    distributional differences a max-statistic misses.

        T = U / (n*m*(n+m)) - (4*n*m - 1) / (6*(n+m))
        U = n * sum_i (r_i - i)^2 + m * sum_j (s_j - j)^2

    with r/s the combined-sample MIDRANKS and i/j each observation's
    rank within its own sample. Statistic-only output (the
    tie-conditional null distribution is not portably replayable —
    the bartlett convention).

    Exactness: midranks over a tied block are arithmetic sequences,
    so each block's sum of squared gaps has a CLOSED FORM in doubled
    units — with A = 2*r - 2*below_own (all exact longs from the
    fused three-column cumsum) the block contributes
    c*A^2 - 2*A*c*(c+1) + (2/3)c(c+1)(2c+1) in x4 units, an exact
    integer accumulated as decimal(38,0); one double division at the
    end.

    Output: one row ``(group_a, group_b, n_a, n_b, u_stat, t_stat)``;
    an empty arm yields NULLs.

    Scale: the mann_whitney class — one distinct-value census, one
    fused cumsum (nt, na, nb in a single range shuffle), keyed
    reductions only.
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    vc = filt.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("__nb"),
        F.count("*").alias("__nt"),
    )
    cum = global_cumsum_before(
        vc,
        ["__v"],
        ["__na", "__nb", "__nt"],
        num_partitions=num_partitions,
        out_col=["__ba", "__bb", "__bt"],
    )

    # block contribution in x12 units (x4 for doubled ranks, x3 to
    # clear the sum-of-squares denominator — NO division anywhere, so
    # every engine sums identical exact integers): positions j = 1..c
    # within the tied block, own-rank 2*(below_own + j), combined
    # midrank2 r2 = 2*bt + nt + 1; q_j = (r2 - 2*below_own) - 2j
    # 3 * sum q_j^2 = 3*c*A^2 - 6*A*c*(c+1) + 2*c*(c+1)*(2c+1)
    def block12(c, below_own):
        a = exact(2 * F.col("__bt") + F.col("__nt") + 1 - 2 * below_own)
        cc = exact(c)
        c1 = exact(c + 1)
        return exact(
            3 * cc * a * a
            - 6 * a * cc * c1
            + 2 * cc * c1 * exact(2 * c + 1)
        )

    agg = cum.agg(
        F.sum("__na").cast("long").alias("n_a"),
        F.sum("__nb").cast("long").alias("n_b"),
        F.sum(
            F.when(
                F.col("__na") > 0, block12(F.col("__na"), F.col("__ba"))
            )
        ).alias("__sa12"),
        F.sum(
            F.when(
                F.col("__nb") > 0, block12(F.col("__nb"), F.col("__bb"))
            )
        ).alias("__sb12"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    u = (
        na * F.col("__sa12").cast("double")
        + nb * F.col("__sb12").cast("double")
    ) / 12.0
    staged = agg.withColumn(
        "__u", F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), u)
    )
    t = F.col("__u") / (na * nb * (na + nb)) - (4.0 * na * nb - 1.0) / (
        6.0 * (na + nb)
    )
    return staged.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        "n_a",
        "n_b",
        F.round(F.col("__u"), ndigits).alias("u_stat"),
        F.when(F.col("__u").isNotNull(), F.round(t, ndigits)).alias(
            "t_stat"
        ),
    )


def kuiper_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-sample Kuiper statistic V = D+ + D- (Kuiper 1960, public
    literature) — the rotation-invariant KS variant: where KS takes
    the single worst CDF gap, Kuiper adds the worst gap in EACH
    direction, giving equal sensitivity in the distribution's tails
    and center (the classic test for cyclic data — hour-of-day,
    day-of-week effects). Statistic-only output.

    Exactness: the ``ks_two_sample`` discipline verbatim — exact
    integer CDFs from the fused cumsum, each signed gap ONE
    fixed-order double rounded ``ndigits`` BEFORE the max, V the sum
    of two engine-stable maxima.

    Output: one row ``(group_a, group_b, n_a, n_b, d_plus, d_minus,
    v_stat)``; empty arms yield NULLs.

    Scale: identical to ``ks_two_sample`` — one census, one fused
    cumsum range shuffle, keyed reductions.
    """
    from .ranking import global_cumsum_before

    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    vc = filt.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, 1).otherwise(0)
        ).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_b, 1).otherwise(0)
        ).alias("__nb"),
    )
    cum = global_cumsum_before(
        vc,
        ["__v"],
        ["__na", "__nb"],
        num_partitions=num_partitions,
        out_col=["__ba", "__bb"],
    )
    tot = F.broadcast(
        vc.agg(
            F.sum("__na").cast("long").alias("n_a"),
            F.sum("__nb").cast("long").alias("n_b"),
        )
    )
    j = cum.crossJoin(tot)
    fa = (F.col("__ba") + F.col("__na")).cast("double") / F.col(
        "n_a"
    ).cast("double")
    fb = (F.col("__bb") + F.col("__nb")).cast("double") / F.col(
        "n_b"
    ).cast("double")
    gp = F.round(fa - fb, ndigits)
    gm = F.round(fb - fa, ndigits)
    d = j.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.greatest(F.max(gp), F.lit(0.0)).alias("d_plus"),
        F.greatest(F.max(gm), F.lit(0.0)).alias("d_minus"),
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return d.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        "n_a",
        "n_b",
        F.when(ok, F.col("d_plus")).alias("d_plus"),
        F.when(ok, F.col("d_minus")).alias("d_minus"),
        F.when(
            ok, F.round(F.col("d_plus") + F.col("d_minus"), ndigits)
        ).alias("v_stat"),
    )


def _log_factorial_table(
    spark, n: int, num_partitions: int | None = None
) -> DataFrame:
    """LF table (``__j``, ``__lf``) for j = 0..n where __lf is the
    nano-quantized log-factorial: the exact integer cumulative sum of
    round(ln(j) * 1e9) — every engine replaying the same per-term
    rounding lands on the identical integer, and the quantization
    error is bounded by 5e-10 * n in log space. Built by one range +
    one fused ``global_cumsum_before`` (both fully parallel); shared
    by the exact hypergeometric / binomial tails (``fisher_exact``,
    ``sign_test``)."""
    from .ranking import global_cumsum_before

    lf_src = spark.range(0, n + 1).select(
        F.col("id").alias("__j"),
        F.when(
            F.col("id") >= 1, F.round(F.log(F.col("id").cast("double")) * 1e9)
        )
        .otherwise(F.lit(0.0))
        .cast("long")
        .alias("__lnj"),
    )
    from .staging import stage

    lf = global_cumsum_before(
        lf_src, ["__j"], "__lnj", num_partitions=num_partitions,
        out_col="__bt",
    ).select(
        "__j", (F.col("__bt") + F.col("__lnj")).alias("__lf")
    )
    # callers join this table 2-4 times (one branch per factorial in
    # the tail term); stage once so the range shuffle + offsets
    # collect run once, not per branch
    return stage(lf, "lf_table")


def fisher_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    success_threshold: float,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """One-sided Fisher exact test for a 2x2 contingency table
    (Fisher 1935, public literature) — the small-cell replacement for
    ``chi2_independence``/``two_proportion_test``: exact
    hypergeometric tail P(X >= a), no normal approximation, valid at
    any cell size. Rows: ``group_a`` vs ``group_b``; columns:
    value > ``success_threshold``.

    Determinism contract — the whole computation is integer-exact up
    to ONE defined quantization grid:

    - log-factorials come from a LF table built by ONE
      ``global_cumsum_before`` over round(ln(j) * 1e9) nano-longs
      (j = 0..n), so LF(j) is an exact integer in every engine and
      the quantization error is bounded by 5e-10 * n in log space;
    - each tail term's log-probability is exact integer arithmetic
      over eight LF lookups; the term replays through the
      deterministic staged exp (clamped to its |y| <= 64 convergence
      region; terms below e^-64 contribute exact 0);
    - terms quantize to pico-longs (1e12) and the tail p is their
      exact decimal(38,0) sum divided once.

    Output: one row ``(a, b, c, d, odds_ratio, p_greater)``;
    odds_ratio = ad/bc (NULL when bc = 0); degenerate margins yield
    p_greater = 1.0 (the whole mass is at the observed table).

    Scale: the LF table is O(n) rows built by one range + one fused
    cumsum (both fully parallel); the tail has at most
    min(r1, c1) - a + 1 terms joined against LF by key — linear
    passes only. The single driver-side scalar is n (the kmeans
    bounded-collect discipline).
    """
    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )
    succ = F.col(value_col).cast("double") > F.lit(
        float(success_threshold)
    )
    tab = filt.agg(
        F.sum(
            F.when((F.col(group_col) == group_a) & succ, 1).otherwise(0)
        )
        .cast("long")
        .alias("a"),
        F.sum(
            F.when((F.col(group_col) == group_a) & ~succ, 1).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when((F.col(group_col) == group_b) & succ, 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when((F.col(group_col) == group_b) & ~succ, 1).otherwise(0)
        )
        .cast("long")
        .alias("d"),
    )
    row = tab.first()
    a, b, c, d = row["a"], row["b"], row["c"], row["d"]
    n = a + b + c + d
    spark = df.sparkSession
    lf = _log_factorial_table(spark, n, num_partitions)
    r1, r2, c1 = a + b, c + d, a + c
    kmax = min(r1, c1)
    stats = F.broadcast(tab)
    consts = F.broadcast(
        lf.crossJoin(stats)
        .filter(
            F.col("__j").isin([r1, r2, c1, n - c1, n])
        )
        .agg(
            F.max(F.when(F.col("__j") == r1, F.col("__lf"))).alias("__lr1"),
            F.max(F.when(F.col("__j") == r2, F.col("__lf"))).alias("__lr2"),
            F.max(F.when(F.col("__j") == c1, F.col("__lf"))).alias("__lc1"),
            F.max(F.when(F.col("__j") == n - c1, F.col("__lf"))).alias(
                "__lc2"
            ),
            F.max(F.when(F.col("__j") == n, F.col("__lf"))).alias("__ln"),
        )
    )
    if kmax < a or n == 0:
        ks = spark.range(0, 0).select(F.col("id").alias("__k"))
    else:
        ks = spark.range(a, kmax + 1).select(F.col("id").alias("__k"))
    j1 = lf.select(F.col("__j").alias("__k"), F.col("__lf").alias("__l1"))
    j2 = lf.select(
        F.col("__j").alias("__a2"), F.col("__lf").alias("__l2")
    )
    j3 = lf.select(
        F.col("__j").alias("__a3"), F.col("__lf").alias("__l3")
    )
    j4 = lf.select(
        F.col("__j").alias("__a4"), F.col("__lf").alias("__l4")
    )
    kt = (
        ks.withColumn("__a2", F.lit(r1) - F.col("__k"))
        .withColumn("__a3", F.lit(c1) - F.col("__k"))
        .withColumn("__a4", F.lit(r2 - c1) + F.col("__k"))
        .join(j1, "__k")
        .join(j2, "__a2")
        .join(j3, "__a3")
        .join(j4, "__a4")
        .crossJoin(consts)
    )
    logp = (
        F.col("__lr1")
        + F.col("__lr2")
        + F.col("__lc1")
        + F.col("__lc2")
        - F.col("__ln")
        - F.col("__l1")
        - F.col("__l2")
        - F.col("__l3")
        - F.col("__l4")
    )
    kt = kt.withColumn("__lp", logp).withColumn(
        "__y",
        F.greatest(
            F.least(F.col("__lp").cast("double") / 1e9, F.lit(0.0)),
            F.lit(-64.0),
        ),
    )
    kt = with_det_exp(kt, "__y", "__ex")
    term = F.when(
        F.col("__lp").cast("double") / 1e9 < -64.0, F.lit(0).cast("long")
    ).otherwise(F.round(F.col("__ex") * 1e12).cast("long"))
    summed = kt.agg(
        exact_sum(term).alias("__ps")
    )
    p = F.least(
        F.lit(1.0), F.col("__ps").cast("double") / 1e12
    )
    out = summed.select(
        F.lit(a).cast("long").alias("a"),
        F.lit(b).cast("long").alias("b"),
        F.lit(c).cast("long").alias("c"),
        F.lit(d).cast("long").alias("d"),
        (
            F.when(
                F.lit(b * c) > 0,
                F.round(
                    F.lit(float(a) * float(d))
                    / F.lit(float(b) * float(c)),
                    ndigits,
                ),
            )
        ).alias("odds_ratio"),
        F.when(F.col("__ps").isNotNull(), F.round(p, ndigits))
        .otherwise(F.lit(1.0))
        .alias("p_greater"),
    )
    return out


def wilcoxon_signed_rank(
    df: DataFrame,
    x_col: str,
    y_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Wilcoxon signed-rank test on paired columns (Wilcoxon 1945,
    public literature) — the paired counterpart of ``mann_whitney_u``:
    d = x - y per row, zero differences dropped (the standard Wilcoxon
    reduction), |d| ranked with average ranks, W+ = rank sum over
    d > 0, normal approximation with the exact tie correction.

    Exactness: d and |d| are single IEEE subtractions over the same
    operands in every engine (identical bit patterns — grouping on the
    raw double is cross-engine safe; no quantization grid needed).
    Ranks never touch floats: per DISTINCT |d| the operator keeps
    integer counts (n_pos, n_t) and "strictly below" comes from the
    scalable two-pass ``ranking.global_cumsum_before`` (no
    single-partition rank window). The rank sum is carried DOUBLED as
    exact decimal(38,0):

        2*W+ = sum_v n_pos(v) * (2*below(v) + n_t(v) + 1)

    z = (2W+ - n(n+1)/2) / sqrt(4*(n(n+1)(2n+1)/24 - ties/48)) with
    ties = sum(t^3 - t); the two-sided p replays the engine's
    deterministic Φ (``with_p_value``). All-zero-differences input
    (n = 0) and the fully-tied degenerate variance yield NULL z/p —
    guarded BEFORE dividing (ANSI mode).

    Output: one row ``(n, w_plus, z, p_value)``; w_plus is the exact
    half-integer rank sum as double. No counterpart in the reference
    engine (SURVEY.md §2.2 — no aggregation family).
    """
    from .ranking import global_cumsum_before

    d = F.col(x_col).cast("double") - F.col(y_col).cast("double")
    filt = (
        df.filter(
            F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        )
        .select(d.alias("__d"))
        .filter(F.col("__d") != 0.0)
    )
    vc = filt.groupBy(F.abs(F.col("__d")).alias("__a")).agg(
        F.sum(F.when(F.col("__d") > 0, 1).otherwise(0)).alias("__npos"),
        F.count("*").alias("__nt"),
    )
    cum = global_cumsum_before(
        vc, ["__a"], "__nt", num_partitions=num_partitions,
        out_col="__below",
    )
    agg = cum.agg(
        F.coalesce(
            exact_sum(
                "__npos",
                F.lit(2) * F.col("__below") + F.col("__nt") + F.lit(1),
            ),
            exact(F.lit(0)),
        ).alias("two_wp"),
        F.coalesce(F.sum("__nt"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(
            F.sum(
                exact("__nt") * exact("__nt") * exact("__nt") - exact("__nt")
            ),
            exact(F.lit(0)),
        ).alias("ties"),
    )
    nn = F.col("n").cast("double")
    # var(2W+) = 4 * (n(n+1)(2n+1)/24 - ties/48)
    var4 = F.lit(4.0) * (
        nn * (nn + 1.0) * (2.0 * nn + 1.0) / F.lit(24.0)
        - F.col("ties").cast("double") / F.lit(48.0)
    )
    z = F.when(
        (F.col("n") > 0) & (var4 > 0),
        F.round(
            (
                F.col("two_wp").cast("double")
                - nn * (nn + 1.0) / F.lit(2.0)
            )
            / F.sqrt(var4),
            ndigits,
        ),
    )
    out = agg.select(
        F.col("n"),
        F.round(F.col("two_wp").cast("double") / 2.0, 1).alias("w_plus"),
        z.alias("z"),
    )
    return with_p_value(out, "z", "p_value", ndigits)


def sign_test(
    df: DataFrame,
    x_col: str,
    y_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact two-sided sign test on paired columns (Arbuthnott 1710 /
    Dixon & Mood 1946, public literature): under H0 the sign of
    d = x - y is Bernoulli(1/2); zero differences are dropped; the
    p-value is the exact binomial two-sided tail
    p = min(1, 2 * P(X <= min(n+, n-))), X ~ Bin(n, 1/2) — no normal
    approximation, valid at any n.

    Determinism contract (shares the ``fisher_exact`` machinery):
    log C(n, j) comes from the nano-quantized log-factorial cumsum
    table (``_log_factorial_table``); the n*ln(2) offset uses the SAME
    nano grid (round(ln 2 * 1e9) * n — exact integer product); each
    tail term replays the deterministic staged exp (clamped to its
    |y| <= 64 convergence region; terms below e^-64 contribute exact
    0), quantizes to pico-longs, and the tail sums as exact
    decimal(38,0) before ONE final division.

    Output: one row ``(n, n_plus, n_minus, p_two_sided)``; n = 0
    (all differences zero) yields p = 1.0.

    Scale: the LF table is O(n) rows built by one range + one fused
    cumsum; the tail has at most floor(n/2) + 1 terms joined against
    LF by key — linear passes only; the single driver-side scalar is
    the (n+, n-) pair (bounded-collect discipline).
    """
    d = F.col(x_col).cast("double") - F.col(y_col).cast("double")
    filt = (
        df.filter(
            F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        )
        .select(d.alias("__d"))
        .filter(F.col("__d") != 0.0)
    )
    tab = filt.agg(
        F.coalesce(
            F.sum(F.when(F.col("__d") > 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_plus"),
        F.coalesce(
            F.sum(F.when(F.col("__d") < 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_minus"),
    )
    row = tab.first()
    npos, nneg = row["n_plus"], row["n_minus"]
    n = npos + nneg
    kmin = min(npos, nneg)
    spark = df.sparkSession
    lf = _log_factorial_table(spark, n, num_partitions)
    ln2_nano = round(math.log(2.0) * 1e9)
    consts = F.broadcast(
        lf.filter(F.col("__j") == n).select(F.col("__lf").alias("__ln"))
    )
    if n == 0:
        ks = spark.range(0, 0).select(F.col("id").alias("__k"))
    else:
        ks = spark.range(0, kmin + 1).select(F.col("id").alias("__k"))
    j1 = lf.select(F.col("__j").alias("__k"), F.col("__lf").alias("__l1"))
    j2 = lf.select(
        F.col("__j").alias("__a2"), F.col("__lf").alias("__l2")
    )
    kt = (
        ks.withColumn("__a2", F.lit(n) - F.col("__k"))
        .join(j1, "__k")
        .join(j2, "__a2")
        .crossJoin(consts)
    )
    logp = (
        F.col("__ln")
        - F.col("__l1")
        - F.col("__l2")
        - F.lit(int(ln2_nano * n)).cast("long")
    )
    kt = kt.withColumn("__lp", logp).withColumn(
        "__y",
        F.greatest(
            F.least(F.col("__lp").cast("double") / 1e9, F.lit(0.0)),
            F.lit(-64.0),
        ),
    )
    kt = with_det_exp(kt, "__y", "__ex")
    term = F.when(
        F.col("__lp").cast("double") / 1e9 < -64.0, F.lit(0).cast("long")
    ).otherwise(F.round(F.col("__ex") * 1e12).cast("long"))
    summed = kt.agg(
        exact_sum(term).alias("__ps")
    )
    p = F.least(
        F.lit(1.0),
        F.lit(2.0) * F.col("__ps").cast("double") / 1e12,
    )
    return summed.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(npos).cast("long").alias("n_plus"),
        F.lit(nneg).cast("long").alias("n_minus"),
        F.when(F.col("__ps").isNotNull(), F.round(p, ndigits))
        .otherwise(F.lit(1.0))
        .alias("p_two_sided"),
    )


def anderson_darling_k(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """k-sample Anderson-Darling statistic, midrank (tie-adjusted)
    version A2_akN (Scholz & Stephens 1987, public literature) — the
    heavier-tailed alternative to ``ks_two_sample``/``kruskal_wallis``
    that weights the distribution tails, generalized to k groups:

        A2 = (N-1)/N * sum_i (1/n_i) * sum_j (l_j / N)
             * (N*M_ij - n_i*B_j)^2 / (B_j*(N-B_j) - N*l_j/4)

    over the pooled distinct values j, with l_j the pooled count at j,
    B_j the pooled midrank cumulative (count before j + l_j/2), and
    M_ij group i's midrank cumulative. Statistic-only output (the
    A2 distribution is nonstandard — the anova_oneway convention).

    Exactness: the half-integer midranks are carried DOUBLED
    (2B = 2*before + l — exact longs, the mann_whitney trick), so the
    numerator X = N*2M - n_i*2B and the 4x-scaled denominator
    den4 = 2B*(2N - 2B) - N*l_j are exact decimal(38,0) integers and

        term_ij = l_j * X^2 / (N * den4) / n_i

    is ONE rational per (group, value) collapsing to double once,
    quantized to 1e-12 and summed order-free (the icc/brier per-term
    discipline). Pooled "before" counts come from the scalable
    ``ranking.global_cumsum_before``; per-group cumulatives use a
    group-partitioned window over the pooled-value grid (parallel —
    one group's distinct values must fit a task, the spearman_rho
    contract).

    Output: one row ``(k, n, a2_stat)``; k < 2 or fewer than 2
    pooled distinct values yields NULL.
    """
    from .ranking import global_cumsum_before

    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).alias("__v"),
    )
    gv = base.groupBy("__g", "__v").agg(
        F.count("*").cast("long").alias("__lg")
    )
    pooled = base.groupBy("__v").agg(
        F.count("*").cast("long").alias("__l")
    )
    cum = global_cumsum_before(
        pooled, ["__v"], "__l", num_partitions=num_partitions,
        out_col="__cb",
    ).select(
        "__v", "__l",
        (F.lit(2) * F.col("__cb") + F.col("__l")).alias("__2b"),
    )
    groups = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("__ng")
    )
    tot = groups.agg(
        F.count("*").cast("long").alias("__k"),
        F.coalesce(F.sum("__ng"), F.lit(0)).cast("long").alias("__N"),
        F.coalesce(F.min("__ng"), F.lit(0)).cast("long").alias("__minn"),
    )
    grid = (
        cum.crossJoin(F.broadcast(groups))
        .join(gv, ["__g", "__v"], "left")
        .withColumn("__lg", F.coalesce(F.col("__lg"), F.lit(0)))
    )
    wg = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.withColumn(
        "__2m",
        F.lit(2) * F.coalesce(F.sum("__lg").over(wg), F.lit(0))
        + F.col("__lg"),
    ).crossJoin(F.broadcast(tot))
    x = exact("__N") * exact("__2m") - exact("__ng") * exact("__2b")
    lx2 = exact("__l") * x * x
    den4 = exact("__2b") * (
        exact(F.lit(2)) * exact("__N") - exact("__2b")
    ) - exact("__N") * exact("__l")
    nden = exact("__N") * den4
    term = (
        lx2.cast("double") / nden.cast("double")
    ) / F.col("__ng").cast("double")
    tq = F.when(
        nden.cast("double") > 0,
        F.round(term * F.lit(1e12), 0).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    agg = grid.agg(
        F.max("__k").alias("k"),
        F.max("__N").alias("n"),
        F.max("__minn").alias("__mn"),
        F.countDistinct("__v").cast("long").alias("__nv"),
        F.coalesce(
            exact_sum(tq),
            exact(F.lit(0)),
        ).alias("__ts"),
    )
    nn = F.col("n").cast("double")
    a2 = F.when(
        (F.col("k") > 1) & (F.col("__nv") > 1) & (F.col("__mn") > 0),
        F.round(
            (nn - F.lit(1.0))
            / nn
            * (F.col("__ts").cast("double") / F.lit(1e12)),
            ndigits,
        ),
    )
    return agg.select("k", "n", a2.alias("a2_stat"))


def mantel_haenszel(
    df: DataFrame,
    stratum_col,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    success_threshold: float,
    ndigits: int = 6,
) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio and Cochran-Mantel-Haenszel
    chi-square (Mantel & Haenszel 1959; public literature) — the
    stratified 2x2 analysis that controls a confounder (day, cohort,
    platform) before declaring a treatment effect; the Simpson's-
    paradox guard (``simpsons_check``'s inferential sibling):

        OR_MH = sum_s(a_s d_s / n_s) / sum_s(b_s c_s / n_s)
        CMH   = (sum_s(a_s - E_s))^2 / sum_s V_s
        E_s   = (a+b)(a+c)/n
        V_s   = (a+b)(c+d)(a+c)(b+d) / (n^2 (n-1))

    Rows: ``group_a`` vs ``group_b``; columns: value >
    ``success_threshold``; strata from ``stratum_col`` (column name or
    expression). Statistic-only CMH (chi-square distribution — the
    anova_oneway convention).

    Exactness: per-stratum cells are exact integers from ONE
    conditional aggregate; each stratum's rationals (ad/n, bc/n,
    a - E, V) collapse to double once (exact-integer numerators — the
    icc per-group-term discipline), quantize to 1e-9 units, and sum
    order-free as exact decimal(38,0); the two output statistics are
    one rounded division each. Degenerate strata (n < 2) contribute
    nothing (dropped — the standard MH convention for empty margins);
    zero denominators yield NULLs.

    Output: one row ``(n_strata, or_mh, cmh_stat)``.

    Scale: one groupBy on the stratum key, one 1-row agg — map-side
    combinable throughout, no joins.
    """
    strat = (
        F.col(stratum_col)
        if isinstance(stratum_col, str)
        else stratum_col
    )
    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        strat.alias("__s"),
        (F.col(group_col) == group_a).alias("__ga"),
        (
            F.col(value_col).cast("double")
            > F.lit(float(success_threshold))
        ).alias("__su"),
    ).filter(F.col("__s").isNotNull())
    cells = filt.groupBy("__s").agg(
        F.sum(F.when(F.col("__ga") & F.col("__su"), 1).otherwise(0))
        .cast("long")
        .alias("__a"),
        F.sum(F.when(F.col("__ga") & ~F.col("__su"), 1).otherwise(0))
        .cast("long")
        .alias("__b"),
        F.sum(F.when(~F.col("__ga") & F.col("__su"), 1).otherwise(0))
        .cast("long")
        .alias("__c"),
        F.sum(F.when(~F.col("__ga") & ~F.col("__su"), 1).otherwise(0))
        .cast("long")
        .alias("__d"),
    )
    a = F.col("__a").cast("double")
    b = F.col("__b").cast("double")
    c = F.col("__c").cast("double")
    d = F.col("__d").cast("double")
    n = (
        F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")
    ).cast("double")
    keep = (F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")) > 1
    adn = a * d / n
    bcn = b * c / n
    e_s = (a + b) * (a + c) / n
    v_s = (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1.0))
    q9 = lambda x: exact(F.round(x * F.lit(1e9), 0))  # noqa: E731
    z38 = exact(F.lit(0))
    agg = cells.agg(
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias(
            "n_strata"
        ),
        F.coalesce(F.sum(F.when(keep, q9(adn))), z38).alias("__adn"),
        F.coalesce(F.sum(F.when(keep, q9(bcn))), z38).alias("__bcn"),
        F.coalesce(
            F.sum(F.when(keep, q9(a - e_s))), z38
        ).alias("__dev"),
        F.coalesce(F.sum(F.when(keep, q9(v_s))), z38).alias("__v"),
    )
    or_mh = F.when(
        F.col("__bcn").cast("double") > 0,
        F.round(
            F.col("__adn").cast("double")
            / F.col("__bcn").cast("double"),
            ndigits,
        ),
    )
    dev = F.col("__dev").cast("double") / F.lit(1e9)
    cmh = F.when(
        F.col("__v").cast("double") > 0,
        F.round(
            dev * dev / (F.col("__v").cast("double") / F.lit(1e9)),
            ndigits,
        ),
    )
    return agg.select(
        "n_strata", or_mh.alias("or_mh"), cmh.alias("cmh_stat")
    )


# Acklam's rational approximation to the inverse normal CDF (public
# literature; widely reproduced — relative error < 1.15e-9 over
# (0, 1)). Literals are repr-shared with the SQL mirror so both
# engines evaluate the identical fixed-order expression; ln is the
# only non-IEEE-pinned op, so CALLERS MUST QUANTIZE ppf outputs
# (>= 1e-9 grid) before accumulating — the LF-table discipline.
_PPF_A = [
    repr(-3.969683028665376e+01), repr(2.209460984245205e+02),
    repr(-2.759285104469687e+02), repr(1.383577518672690e+02),
    repr(-3.066479806614716e+01), repr(2.506628277459239e+00),
]
_PPF_B = [
    repr(-5.447609879822406e+01), repr(1.615858368580409e+02),
    repr(-1.556989798598866e+02), repr(6.680131188771972e+01),
    repr(-1.328068155288572e+01),
]
_PPF_C = [
    repr(-7.784894002430293e-03), repr(-3.223964580411365e-01),
    repr(-2.400758277161838e+00), repr(-2.549732539343734e+00),
    repr(4.374664141464968e+00), repr(2.938163982698783e+00),
]
_PPF_D = [
    repr(7.784695709041462e-03), repr(3.224671290700398e-01),
    repr(2.445134137142996e+00), repr(3.754408661907416e+00),
]
_PPF_PLOW = repr(0.02425)


def norm_ppf(p: Column) -> Column:
    """Deterministic Φ^-1(p) for p in (0, 1) — Acklam's piecewise
    rational approximation as ONE fixed-order Column expression
    (central region + both tails). NULL-safe only through the
    caller's guards; quantize the output before any data-ordered
    accumulation (see the module constant note)."""
    def _horner(coeffs, x):
        acc: Column = F.lit(float(coeffs[0]))
        for cc in coeffs[1:]:
            acc = acc * x + F.lit(float(cc))
        return acc

    plow = F.lit(float(_PPF_PLOW))
    qc = p - F.lit(0.5)
    rc = qc * qc
    central = (
        _horner(_PPF_A, rc) * qc
        / (_horner(_PPF_B, rc) * rc + F.lit(1.0))
    )
    ql = F.sqrt(F.lit(-2.0) * F.log(p))
    lower = _horner(_PPF_C, ql) / (
        _horner(_PPF_D, ql) * ql + F.lit(1.0)
    )
    qu = F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - p))
    upper = -(
        _horner(_PPF_C, qu)
        / (_horner(_PPF_D, qu) * qu + F.lit(1.0))
    )
    return F.when(p < plow, lower).when(
        p <= F.lit(1.0) - plow, central
    ).otherwise(upper)


def norm_ppf_sql(p: str) -> str:
    """The identical Acklam expression as SQL text (oracle side)."""
    def _horner(coeffs, x):
        acc = coeffs[0]
        for cc in coeffs[1:]:
            acc = f"(({acc}) * {x} + {cc})"
        return acc

    qc = f"(({p}) - 0.5)"
    rc = f"({qc} * {qc})"
    central = (
        f"(({_horner(_PPF_A, rc)}) * {qc}"
        f" / (({_horner(_PPF_B, rc)}) * {rc} + 1.0))"
    )
    ql = f"sqrt(-2.0 * ln({p}))"
    lower = (
        f"(({_horner(_PPF_C, ql)})"
        f" / (({_horner(_PPF_D, ql)}) * {ql} + 1.0))"
    )
    qu = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    upper = (
        f"(-(({_horner(_PPF_C, qu)})"
        f" / (({_horner(_PPF_D, qu)}) * {qu} + 1.0)))"
    )
    return (
        f"(case when ({p}) < {_PPF_PLOW} then {lower} "
        f"when ({p}) <= 1.0 - {_PPF_PLOW} then {central} "
        f"else {upper} end)"
    )


def fligner_killeen(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Fligner-Killeen scale-homogeneity test statistic (Fligner &
    Killeen 1976, the Conover-Johnson-Johnson chi-square form scipy
    ships; public literature) — the rank-based, most
    outlier-robust member of the variance-equality family
    (vs ``bartlett_test``'s normality assumption and
    ``brown_forsythe_levene``'s raw deviations): absolute deviations
    from group MEDIANS are pooled-ranked and mapped through normal
    scores

        a_v = Φ^-1(1/2 + r_v / (2(N+1)))

    (midranks for ties), and the statistic is the normal-scores ANOVA

        X2 = sum_i n_i (Abar_i - abar)^2 / s^2 .

    Statistic-only output (chi-square(k-1) — the anova_oneway
    convention).

    Exactness: group medians reuse the ``brown_forsythe_levene``
    exact order-statistic pick; |v - med| is an exact decimal;
    pooled midranks are carried DOUBLED from
    ``ranking.global_cumsum_before`` (exact longs); each distinct
    deviation's p is one fixed-order double, its normal score comes
    from the shared deterministic ``norm_ppf`` and QUANTIZES to
    1e-9 longs (absorbing the ln ulp risk — the module-constant
    note), and every downstream moment is an exact decimal(38,0)
    sum; the cleared identity

        X2 = (sum_i S_i^2/n_i - S^2/N) / ((N*SS - S^2) / (N(N-1)))

    collapses per-group rationals to double once each (rounded to
    integer score^2 units — the icc discipline).

    Output: one row ``(k, n, fk_stat)``; k < 2, N <= k, or zero
    score variance yields NULL.

    Scale: one (group, value) census, one pooled distinct-deviation
    cumsum (range shuffle), one broadcast medians join, two bounded
    aggregates. The per-group median window partitions on the
    bounded group domain (the brown_forsythe contract).
    """
    from .ranking import global_cumsum_before
    from .staging import stage

    y = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("__g"), y.alias("__v")
    )
    vc = base.groupBy("__g", "__v").agg(F.count("*").alias("__c"))
    wcum = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.withColumn("__cum", F.sum("__c").over(wcum))
    tot = vc.groupBy("__g").agg(F.sum("__c").cast("long").alias("__n"))
    med = (
        cum.join(tot, "__g")
        .groupBy("__g")
        .agg(
            F.min(
                F.when(
                    F.col("__cum") >= F.floor((F.col("__n") + 1) / 2),
                    F.col("__v"),
                )
            ).alias("__lo"),
            F.min(
                F.when(
                    F.col("__cum")
                    >= F.floor(F.col("__n") / 2) + F.lit(1),
                    F.col("__v"),
                )
            ).alias("__hi"),
        )
        .select(
            "__g",
            (
                (
                    F.col("__lo").cast("decimal(19,3)")
                    + F.col("__hi").cast("decimal(19,3)")
                )
                / 2
            ).cast("decimal(19,3)").alias("__med"),
        )
    )
    # deviations keyed as exact integer MILLS (guide §2.3 "narrower
    # types"): |v - med| is an exact decimal(19,3), so *1000 is an
    # exact long carrying the same order — every census shuffle,
    # range sort, and join below compares 8 bytes instead of a
    # decimal (the ecod_outliers key discipline)
    u = base.join(F.broadcast(med), "__g").select(
        "__g",
        (
            F.abs(
                F.col("__v").cast("decimal(19,3)") - F.col("__med")
            )
            * 1000
        ).cast("long").alias("__u"),
    )
    # ONE corpus pass: the per-group deviation census is staged and
    # the pooled census + N derive from it — unstaged, the pooled
    # census, the N aggregate, and the per-group census were three
    # separate passes, each re-running the median-window pipeline
    gu = stage(
        u.groupBy("__g", "__u").agg(
            F.count("*").cast("long").alias("__m")
        ),
        "fk_gu",
    )
    uc = gu.groupBy("__u").agg(
        F.sum("__m").cast("long").alias("__t")
    )
    ucum = global_cumsum_before(
        uc, ["__u"], "__t", num_partitions=num_partitions,
        out_col="__below",
    ).select(
        "__u",
        (
            F.lit(2) * F.col("__below") + F.col("__t") + F.lit(1)
        ).cast("long").alias("__2r"),
    )
    ntot = gu.agg(F.sum("__m").cast("long").alias("__N"))
    scored = ucum.crossJoin(F.broadcast(ntot)).select(
        "__u",
        F.round(
            norm_ppf(
                F.lit(0.5)
                + F.col("__2r").cast("double")
                / (
                    F.lit(4.0)
                    * (F.col("__N").cast("double") + F.lit(1.0))
                )
            )
            * F.lit(1e9),
            0,
        )
        .cast("long")
        .alias("__a"),
    )
    per_g = (
        gu.join(scored, "__u")
        .groupBy("__g")
        .agg(
            F.sum("__m").cast("long").alias("__ni"),
            exact_sum("__m", "__a").alias("__si"),
            exact_sum("__m", "__a", "__a").alias("__ssi"),
        )
    )
    term = (
        (F.col("__si") * F.col("__si")).cast("double")
        / F.col("__ni").cast("double")
    )
    staged = per_g.withColumn(
        "__ti", exact(F.round(term, 0))
    )
    z38 = exact(F.lit(0))
    agg = staged.agg(
        F.count("*").cast("long").alias("k"),
        F.coalesce(F.sum("__ni"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum("__si"), z38).alias("__s"),
        F.coalesce(F.sum("__ssi"), z38).alias("__ss"),
        F.coalesce(F.sum("__ti"), z38).alias("__b"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("__s").cast("double")
    num = F.col("__b").cast("double") - sd * sd / nd
    varn = (
        F.col("__ss").cast("double") * nd - sd * sd
    ) / (nd * (nd - F.lit(1.0)))
    fk = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (varn > 0),
        F.round(num / varn, ndigits),
    )
    return agg.select("k", "n", fk.alias("fk_stat"))


def micro_half_away(e: Column, scale: float = 1e6) -> Column:
    """Half-away integer quantization as PURE double arithmetic:
    sign(x) * floor(|x * scale| + 0.5), cast long. ~2x cheaper per
    value than ``F.round`` (which routes every double through a
    BigDecimal setScale; measured on the logistic_irls 10-sum
    aggregate: 3.5-7 s -> 1.4-2 s per pass at sf0.1). Semantics
    differ from F.round only when ``x*scale`` sits within one ulp of
    a .5 boundary — acceptable because BOTH engines replay this exact
    floor form on identical doubles (``micro_half_away_sql``)."""
    s = e * F.lit(float(scale))
    return (
        F.when(s >= 0, F.floor(s + F.lit(0.5)))
        .otherwise(-F.floor(-s + F.lit(0.5)))
        .cast("long")
    )


def micro_half_away_sql(e: str, scale: str = "1e6") -> str:
    """The identical floor-form quantization as SQL text."""
    s = f"(({e}) * {scale})"
    return (
        f"(cast(case when {s} >= 0 then floor({s} + 0.5) "
        f"else -floor(-{s} + 0.5) end as bigint))"
    )

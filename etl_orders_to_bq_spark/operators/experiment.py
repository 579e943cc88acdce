"""Experimentation / causal-analysis operators.

``cuped_adjust`` implements CUPED (Controlled-experiment Using
Pre-Experiment Data; Deng, Xu, Kohavi & Walker, WSDM 2013 — public
literature): variance-reduce an experiment metric y with a
pre-period covariate x via

    y_adj = y - theta * (x - mean(x)),   theta = cov(x, y) / var(x)

the single highest-leverage trick in large-scale A/B analysis (same
point estimate, variance shrunk by the squared correlation rho²).

No counterpart in the reference engine (surface =
`etl/orders_etl.py:17-198`); extends the SURVEY.md §2.2 aggregation
absence family.

Exactness contract: per-user pre/post sums aggregate in
DECIMAL(18,2) (exact, order-free). The four cross-moments feeding
theta are DECIMAL sums of exact decimal products, each collapsed to
a double by ONE division rounded at 6dp; theta and rho² are then
pure double arithmetic on those identical literals, so both engines
produce bit-equal results with no order-dependent float summation
anywhere.

Scale: two shuffles total — the per-user (pre, post) aggregate, and
the tiny variant rollup. The moment row is a 1-row broadcast. At
100 TB the per-user frame is |users| rows; nothing else grows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_type


def cuped_adjust(
    df: DataFrame,
    unit_col: str,
    variant_col: Column | str,
    metric_col: Column,
    covariate_col: Column,
    ndigits: int = 6,
) -> DataFrame:
    """Per-variant CUPED summary: ``(variant, n_units, mean_y,
    mean_y_adj, theta, rho2)``.

    ``metric_col`` / ``covariate_col`` are row-level Column
    expressions (e.g. value gated on a date split); per unit they
    aggregate as DECIMAL sums with absent rows coalescing to 0 —
    a user with no pre-period activity has x = 0, the standard
    convention. ``mean_y_adj`` uses the identity
    mean(y_adj | v) = mean(y | v) - theta * (mean(x | v) - mean(x)),
    so no per-row double arithmetic ever re-aggregates.
    """
    zero = F.lit(0).cast("decimal(18,2)")
    per_unit = df.groupBy(
        F.col(unit_col).alias("unit"),
        (
            F.col(variant_col)
            if isinstance(variant_col, str)
            else variant_col
        ).alias("variant"),
    ).agg(
        F.coalesce(
            F.sum(covariate_col.cast("decimal(18,2)")), zero
        ).alias("x"),
        F.coalesce(
            F.sum(metric_col.cast("decimal(18,2)")), zero
        ).alias("y"),
    )

    def _avg(expr: Column) -> Column:
        return F.round(
            F.sum(expr).cast("double") / F.count("*"), ndigits
        )

    x, y = F.col("x"), F.col("y")
    moments = F.broadcast(
        per_unit.agg(
            _avg(x).alias("m_x"),
            _avg(y).alias("m_y"),
            _avg(x * y).alias("m_xy"),
            _avg(x * x).alias("m_xx"),
            _avg(y * y).alias("m_yy"),
        )
    )
    cov = F.col("m_xy") - F.col("m_x") * F.col("m_y")
    var_x = F.col("m_xx") - F.col("m_x") * F.col("m_x")
    var_y = F.col("m_yy") - F.col("m_y") * F.col("m_y")
    theta = F.round(cov / var_x, ndigits)
    rho2 = F.round(cov * cov / (var_x * var_y), ndigits)
    per_variant = per_unit.groupBy("variant").agg(
        F.count("*").alias("n_units"),
        _avg(y).alias("mean_y"),
        _avg(x).alias("mean_x_v"),
    )
    return (
        per_variant.crossJoin(moments)
        .select(
            "variant",
            "n_units",
            "mean_y",
            F.round(
                F.col("mean_y")
                - theta * (F.col("mean_x_v") - F.col("m_x")),
                ndigits,
            ).alias("mean_y_adj"),
            theta.alias("theta"),
            rho2.alias("rho2"),
        )
    )


def diff_in_diff(
    df: DataFrame,
    variant_col: Column,
    period_col: Column,
    value_col: str = "value",
    ndigits: int = 6,
) -> DataFrame:
    """Difference-in-differences estimator (Card & Krueger 1994
    canonical design, public literature): with treatment indicator
    ``variant_col`` (0 control / 1 treated) and ``period_col``
    (0 pre / 1 post),

        did = (mean_t1 - mean_t0) - (mean_c1 - mean_c0)

    — the causal effect under the parallel-trends assumption. One
    row out: the four cell means, their counts, and ``did``.

    Exactness: each cell mean is a DECIMAL(18,2)-exact sum collapsed
    by one rounded division; ``did`` is pure double arithmetic over
    the four rounded means. Scale: ONE map-side-combinable groupBy
    to 4 rows, then a driver-free pivot via conditional aggregation.
    """
    dec = F.col(value_col).cast("decimal(18,2)")
    cells = df.groupBy(
        variant_col.alias("variant"), period_col.alias("period")
    ).agg(
        F.sum(dec).alias("s"), F.count(value_col).alias("n")
    )

    def cell(v: int, p: int, what: str) -> Column:
        cond = (F.col("variant") == v) & (F.col("period") == p)
        if what == "n":
            return F.sum(F.when(cond, F.col("n"))).alias(
                f"n_{'t' if v else 'c'}{p}"
            )
        return F.round(
            F.sum(F.when(cond, F.col("s"))).cast("double")
            / F.sum(F.when(cond, F.col("n"))),
            ndigits,
        ).alias(f"mean_{'t' if v else 'c'}{p}")

    out = cells.agg(
        cell(0, 0, "n"), cell(0, 1, "n"), cell(1, 0, "n"),
        cell(1, 1, "n"),
        cell(0, 0, "m"), cell(0, 1, "m"), cell(1, 0, "m"),
        cell(1, 1, "m"),
    )
    return out.withColumn(
        "did",
        F.round(
            (F.col("mean_t1") - F.col("mean_t0"))
            - (F.col("mean_c1") - F.col("mean_c0")),
            ndigits,
        ),
    )


def offpolicy_eval(
    df: DataFrame,
    match_col: Column,
    reward_col: str,
    id_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Off-policy evaluation of a deterministic target policy from
    logged bandit data: IPS and SNIPS estimators (inverse-propensity
    scoring; self-normalized variant — Swaminathan & Joachims 2015,
    public literature) plus the effective sample size diagnostic
    (Kong 1992 / Owen's Monte Carlo text):

        V_ips   = (1/N) sum m_i * r_i / p_i
        V_snips = sum (m_i/p_i) r_i / sum (m_i/p_i)
        ESS     = (sum w)^2 / sum w^2,   w_i = m_i / p_i

    ``match_col`` is the 0/1 indicator that the target policy would
    have chosen the logged action in that context. The logged
    behavior-policy propensity is the repo's deterministic synthetic:
    p_i = (k_i + 1) / 10 with k_i = md5(id) mod 9 — every p is a
    RATIONAL with denominator 10, so with L = lcm(1..9)*10/10*...
    precisely c_i = 25200 / (k_i + 1) (an exact integer for every k:
    25200 = 2^4*3^2*5^2*7), the three sums

        sum c_i * r_i   (DECIMAL, exact)
        sum c_i * m_i   (integer, exact)
        sum c_i^2 * m_i (integer, exact)

    carry the whole computation exactly; each reported estimator is
    ONE double division chain over exact sums, rounded — no
    order-dependent float accumulation anywhere, so the SQL oracle
    reproduces every digit.

    Scale: a single map-side-combinable global aggregate over the
    log. Nothing shuffles but partial sums.
    """
    k = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 9
    )
    c = (F.lit(25200) / (k + 1)).cast("long")
    m = match_col.cast("long")
    r = F.col(reward_col).cast("decimal(18,2)")
    agg = df.agg(
        F.count("*").alias("n_logged"),
        F.sum(m).alias("n_matched"),
        F.sum(F.when(m == 1, r * c).otherwise(F.lit(0).cast("decimal(18,2)"))).alias(
            "wsum_r"
        ),
        F.sum(c * m).alias("wsum"),
        F.sum(c * c * m).alias("w2sum"),
    )
    num = F.col("wsum_r").cast("double")
    den = F.col("wsum").cast("double")
    return agg.select(
        F.col("n_logged").cast("long").alias("n_logged"),
        F.col("n_matched").cast("long").alias("n_matched"),
        F.round(num / 2520.0 / F.col("n_logged"), ndigits).alias(
            "ips_value"
        ),
        F.round(
            F.when(F.col("wsum") > 0, num / den), ndigits
        ).alias("snips_value"),
        F.round(
            F.when(
                F.col("w2sum") > 0,
                den * den / F.col("w2sum").cast("double"),
            ),
            ndigits,
        ).alias("ess"),
    )


def uplift_deciles(
    df: DataFrame,
    unit_col: str,
    treat_col: str,
    score_col: str,
    outcome_col: str,
    n_buckets: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """Uplift-by-decile table (the tabular form of a Qini/uplift
    curve — Radcliffe 2007, public literature): rank units by a
    targeting score, cut into ``n_buckets`` exact ntiles, and report
    per bucket the treated/control conversion rates and their
    difference. The table every targeting-model review reads: uplift
    concentrated in the top deciles means the score targets
    persuadables; flat means it doesn't.

    Input is UNIT-level (one row per unit with 0/1 treatment, a
    numeric score, 0/1 outcome). Buckets come from
    ``ranking.scalable_ntile`` over (score desc, unit) — exact SQL
    ntile semantics with no single-partition window; rates are one
    rounded division each over integer counts; ``uplift`` is the
    fixed-order difference of the two rounded rates.

    Output: ``(bucket, n, n_treat, n_ctrl, rate_treat, rate_ctrl,
    uplift)``; a bucket with an empty arm reports NULL rate/uplift.
    """
    from .ranking import scalable_ntile

    bucketed = scalable_ntile(
        df,
        [F.col(score_col).desc(), F.col(unit_col)],
        n_buckets,
        out_col="bucket",
    )
    agg = bucketed.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col(treat_col) == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_treat"),
        F.sum(F.when(F.col(treat_col) != 1, 1).otherwise(0))
        .cast("long")
        .alias("n_ctrl"),
        F.sum(
            F.when(
                (F.col(treat_col) == 1) & (F.col(outcome_col) == 1), 1
            ).otherwise(0)
        ).alias("__conv_t"),
        F.sum(
            F.when(
                (F.col(treat_col) != 1) & (F.col(outcome_col) == 1), 1
            ).otherwise(0)
        ).alias("__conv_c"),
    )
    rt = F.when(
        F.col("n_treat") > 0,
        F.round(F.col("__conv_t") / F.col("n_treat"), ndigits),
    )
    rc = F.when(
        F.col("n_ctrl") > 0,
        F.round(F.col("__conv_c") / F.col("n_ctrl"), ndigits),
    )
    return (
        agg.withColumn("rate_treat", rt)
        .withColumn("rate_ctrl", rc)
        .withColumn(
            "uplift",
            F.round(F.col("rate_treat") - F.col("rate_ctrl"), ndigits),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n",
            "n_treat",
            "n_ctrl",
            "rate_treat",
            "rate_ctrl",
            "uplift",
        )
        .orderBy("bucket")
    )


def simpsons_check(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    segment_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Simpson's-paradox audit — does the treated-vs-control rate
    difference reverse sign inside any segment relative to the
    pooled table? (Simpson 1951, public literature; the pooled
    number is the one a dashboard shows, the per-segment ones are
    the truth when the segment confounds assignment.)

    Output: one row per segment PLUS an 'OVERALL' row — ``(segment,
    n_treat, n_ctrl, rate_treat, rate_ctrl, rate_diff,
    reverses_overall)``; the flag is NULL where either arm is empty
    or the overall diff is NULL (no sign to reverse). Integer
    counts, one rounded division per rate, diff over the rounded
    rates.

    Scale: ONE groupBy(segment) + a 1-row pooled rollup of the SAME
    cells (re-aggregated, not rescanned) broadcast onto the segment
    rows.
    """
    is_t = F.col(treat_col) == 1
    is_y = F.col(outcome_col) == 1
    cells = df.groupBy(F.col(segment_col).cast("string").alias("segment")).agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("n_treat"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("long").alias("n_ctrl"),
        F.sum(F.when(is_t & is_y, 1).otherwise(0)).alias("__ct"),
        F.sum(F.when(~is_t & is_y, 1).otherwise(0)).alias("__cc"),
    ).withColumn("__ov", F.lit(0))
    overall = cells.agg(
        F.lit("OVERALL").alias("segment"),
        F.sum("n_treat").cast("long").alias("n_treat"),
        F.sum("n_ctrl").cast("long").alias("n_ctrl"),
        F.sum("__ct").alias("__ct"),
        F.sum("__cc").alias("__cc"),
    ).withColumn("__ov", F.lit(1))
    # a MARKER column, not the label, identifies the pooled row — a
    # data segment literally named 'OVERALL' keeps correct flags
    # (its label collides visually, its arithmetic does not)
    both = cells.unionByName(overall)
    rt = F.when(
        F.col("n_treat") > 0,
        F.round(F.col("__ct") / F.col("n_treat"), ndigits),
    )
    rc = F.when(
        F.col("n_ctrl") > 0,
        F.round(F.col("__cc") / F.col("n_ctrl"), ndigits),
    )
    rated = (
        both.withColumn("rate_treat", rt)
        .withColumn("rate_ctrl", rc)
        .withColumn(
            "rate_diff",
            F.round(F.col("rate_treat") - F.col("rate_ctrl"), ndigits),
        )
    )
    odiff = F.broadcast(
        rated.filter(F.col("__ov") == 1).select(
            F.col("rate_diff").alias("__od")
        )
    )
    out = rated.crossJoin(odiff)
    # the OVERALL row cannot reverse itself: flag is FALSE there (a
    # typed false, not NULL — engines render null booleans
    # differently in clients); NULL only where a rate is undefined
    flag = F.when(F.col("__ov") == 1, F.lit(False)).otherwise(
        F.when(
            F.col("rate_diff").isNotNull() & F.col("__od").isNotNull(),
            (F.col("rate_diff") * F.col("__od")) < 0,
        )
    )
    return out.select(
        "segment",
        "n_treat",
        "n_ctrl",
        "rate_treat",
        "rate_ctrl",
        "rate_diff",
        flag.alias("reverses_overall"),
    )


def msprt_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    tau: float = 1.0,
    alpha: float = 0.05,
    ndigits: int = 6,
) -> DataFrame:
    """Mixture Sequential Probability Ratio Test — the ALWAYS-VALID
    p-value for the two-sample mean difference (Johari, Koomen,
    Pekelis & Walsh 2017, "Peeking at A/B Tests", KDD — public
    literature): unlike the fixed-horizon z-test (mann_whitney_u /
    fdr_bh's Φ machinery), this p-value stays valid under CONTINUOUS
    MONITORING — peek every hour, stop when it crosses alpha, the
    type-I guarantee holds. With a normal mixture prior N(0, tau²)
    over the effect, the inverse likelihood ratio gives

        p = min(1, [sqrt(V / (V + tau²))
                    · exp(+Delta²·tau² / (2·V·(V + tau²)))]⁻¹)
          = min(1, sqrt((V + tau²) / V)
                   · exp(−Delta²·tau² / (2·V·(V + tau²))))

    with Delta = mean_a − mean_b and V = var_a/n_a + var_b/n_b (the
    running variance of Delta).

    Determinism: group moments are DECIMAL-exact sums collapsed by
    one 6dp-rounded division each (the repo contract); Delta is a
    6dp literal; V enters the exponent UNROUNDED (at n ~ 10^7 the
    true V sits below the 6dp grid — rounding it would NULL out or
    grossly quantize a decisively powered test; it is still a
    deterministic double over the rounded moments, so both engines
    replay it bit-for-bit); the reported v_n column is rounded for
    display. The exp replays the engine's deterministic
    Taylor-Horner kernel via ``multitest.with_det_exp`` (staged
    projections, janino-safe), with the convergence clamp y < −64 →
    p = 0 mirrored in the oracle. Degenerate inputs (V ≤ 0: constant
    metric or empty arm) yield NULL p, never a confident value —
    the fdr_bh/mann_whitney NULL discipline.

    Output: one row (group_a, group_b, n_a, n_b, delta, v_n,
    p_always_valid, reject).

    Scale: one map-side-combinable groupBy to two moment rows; the
    test itself is driver-free 1-row column math.
    """
    from .multitest import with_det_exp

    dec = F.col(value_col).cast("decimal(18,2)")
    filt = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    )

    def _arm(name: str, suf: str) -> DataFrame:
        g = filt.filter(F.col(group_col) == name).agg(
            F.count("*").cast("long").alias(f"n_{suf}"),
            F.round(
                F.sum(dec).cast("double") / F.count("*"), ndigits
            ).alias(f"m0_{suf}"),
            F.round(
                F.sum(dec * dec).cast("double") / F.count("*"), ndigits
            ).alias(f"m2_{suf}"),
        )
        return g

    j = _arm(group_a, "a").crossJoin(_arm(group_b, "b"))
    var_a = F.col("m2_a") - F.col("m0_a") * F.col("m0_a")
    var_b = F.col("m2_b") - F.col("m0_b") * F.col("m0_b")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    t2 = F.lit(float(tau) * float(tau))
    j = j.withColumn(
        "delta", F.round(F.col("m0_a") - F.col("m0_b"), ndigits)
    ).withColumn(
        # UNROUNDED V drives the statistic (see docstring); the
        # rounded v_n below is display-only
        "__v",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0)
            & (var_a >= 0) & (var_b >= 0),
            var_a / na + var_b / nb,
        ),
    ).withColumn("v_n", F.round(F.col("__v"), ndigits))
    y = -(
        F.col("delta") * F.col("delta") * t2
    ) / (F.lit(2.0) * F.col("__v") * (F.col("__v") + t2))
    j = j.withColumn(
        "__y", F.when(F.col("__v") > 0, y)
    )
    j = with_det_exp(j, "__y", "__exp")
    p = F.when(
        F.col("__y").isNotNull(),
        F.when(F.col("__y") < -64.0, F.lit(0.0)).otherwise(
            F.round(
                F.least(
                    F.lit(1.0),
                    F.sqrt((F.col("__v") + t2) / F.col("__v"))
                    * F.col("__exp"),
                ),
                ndigits,
            )
        ),
    )
    return j.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        "n_a",
        "n_b",
        "delta",
        "v_n",
        p.alias("p_always_valid"),
        F.when(
            p.isNotNull(), p < F.lit(float(alpha))
        ).alias("reject"),
    )


def conformal_interval(
    df: DataFrame,
    group_col: str,
    y_col: str,
    id_col: str,
    alpha_pct: int = 10,
    seed: str = "cf17",
) -> DataFrame:
    """Split-conformal prediction intervals per group (Vovk et al.;
    the split/inductive variant popularized by Lei et al. 2018,
    public): hash-split each group 60/20/20 into train/calibration/
    test, fit the trivial regressor (the train mean), take q_hat as
    the k-th smallest calibration residual with k = ceil((n_cal+1) *
    (1-alpha)), and report the finite-sample-guaranteed interval and
    its observed test coverage — the distribution-free uncertainty
    wrapper every ML-adjacent pipeline should ship next to its point
    predictions.

    Determinism: the split is md5(id:seed) % 5 (0-2 train, 3 calib,
    4 test — partitioning-free); ``y_col`` must be integer-valued, so
    the train mean is an exact half-away micro division, residuals
    are exact micro longs, q_hat is an exact order statistic
    (row_number tie-broken on id), and coverage is an exact micro
    ratio. Zero floats anywhere before the final /1e6 display cast.

    Groups whose calibration set is too small for the requested level
    (k > n_cal — the conformal interval is then infinite) report NULL
    q_hat and NULL coverage.

    Output per group: ``(group, n_train, n_calib, n_test, y_hat,
    q_hat, coverage)``.

    Scale: one groupBy for the means, one PARTITIONED window for the
    order statistic (never global), one groupBy for coverage — all on
    the group key.
    """
    from pyspark.sql import Window

    m1 = 1_000_000
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        F.lit(seed),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(y_col).cast("long").alias("__y"),
        F.col(id_col).cast("string").alias("__id"),
        bucket.alias("__b"),
    )
    train = base.filter(F.col("__b") <= 2)
    calib = base.filter(F.col("__b") == 3)
    test = base.filter(F.col("__b") == 4)
    mean_mag = F.floor(
        (2 * F.abs(F.col("__s")) * m1 + F.col("__nt"))
        / (2.0 * F.col("__nt"))
    ).cast("long")
    model = (
        train.groupBy("__g")
        .agg(F.sum("__y").alias("__s"), F.count("*").alias("__nt"))
        .select(
            "__g",
            F.col("__nt").alias("n_train"),
            F.when(F.col("__s") >= 0, mean_mag)
            .otherwise(-mean_mag)
            .alias("__yhat"),
        )
    )
    resid = lambda: F.abs(  # noqa: E731
        F.col("__y") * m1 - F.col("__yhat")
    )
    cal = calib.join(model, "__g").withColumn("__r", resid())
    w = Window.partitionBy("__g").orderBy("__r", "__id")
    ncal = Window.partitionBy("__g")
    ranked = cal.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__ncal", F.count("*").over(ncal)
    )
    k = F.floor(
        ((F.col("__ncal") + 1) * (100 - int(alpha_pct)) + 99) / 100.0
    ).cast("long")
    qrow = (
        ranked.withColumn("__k", k)
        .groupBy("__g")
        .agg(
            F.max("__ncal").alias("n_calib"),
            F.max(
                F.when(F.col("__rn") == F.col("__k"), F.col("__r"))
            ).alias("__q"),
        )
    )
    tst = (
        test.join(model, "__g")
        .join(qrow, "__g")
        .groupBy("__g")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(
                F.when(
                    F.col("__q").isNotNull()
                    & (resid() <= F.col("__q")),
                    1,
                ).otherwise(0)
            ).alias("__ncov"),
        )
    )
    cov_mag = F.floor(
        (2 * F.col("__ncov") * m1 + F.col("n_test"))
        / (2.0 * F.col("n_test"))
    ).cast("long")
    return (
        model.join(qrow, "__g")
        .join(tst, "__g")
        .select(
            F.col("__g").alias(group_col),
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_calib").cast("long").alias("n_calib"),
            F.col("n_test").cast("long").alias("n_test"),
            (F.col("__yhat") / float(m1)).alias("y_hat"),
            (F.col("__q") / float(m1)).alias("q_hat"),
            F.when(
                F.col("__q").isNotNull() & (F.col("n_test") > 0),
                cov_mag / float(m1),
            ).alias("coverage"),
        )
    )


def ipw_ate(
    df: DataFrame,
    treatment_col: str,
    outcome_col: str,
    stratum_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with
    stratum propensities (Horvitz & Thompson 1952 / Hájek
    normalization, public literature) — the observational "did the
    treatment move the metric" estimator when assignment is only
    ignorable WITHIN strata.

    With e_s = t_s/n_s estimated per stratum, the Hájek-normalized
    IPW means collapse to exact rationals:

        mu1 = sum_s Y1_s * n_s/t_s / N        (sum_s w*T = n_s exactly)
        mu0 = sum_s Y0_s * n_s/(n_s-t_s) / N
        ate = mu1 - mu0

    Exactness: per-stratum moments are exact decimal(38,2) sums of
    money-grade outcomes; the only float mixing — the per-stratum
    division by t_s — is a SORTED FOLD over the bounded stratum
    domain (structs sorted by stratum name, the kruskal_wallis
    discipline; outcome terms must be nonnegative for the seedless
    DuckDB fold to replay bit-identically, which money outcomes are).
    mu1/mu0/ate round once at ``ndigits``.

    Positivity: strata with no treated or no control rows have
    undefined weights and are DROPPED (reported via n_strata vs
    n_used_strata — a large gap is the standard overlap-violation
    red flag); N counts only used strata.

    Output: one row ``(n_strata, n_used_strata, n, n_treated,
    mu_treated, mu_control, ate)``.

    Scale: ONE map-side-combinable groupBy to |strata| rows plus a
    fold over the bounded stratum domain. No counterpart in the
    reference engine (SURVEY.md §2.2 — no aggregation family).
    """
    y = F.col(outcome_col).cast("decimal(18,2)")
    t = F.col(treatment_col).cast("int")
    per_s = (
        df.filter(
            F.col(outcome_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(stratum_col).isNotNull()
        )
        .groupBy(F.col(stratum_col).cast("string").alias("__s"))
        .agg(
            F.count("*").cast("long").alias("__n"),
            F.sum(t).cast("long").alias("__t"),
            exact(F.sum(F.when(t == 1, y).otherwise(F.lit(0))), 2)
            .alias("__y1"),
            exact(F.sum(F.when(t == 0, y).otherwise(F.lit(0))), 2)
            .alias("__y0"),
        )
    )
    used = (F.col("__t") > 0) & (F.col("__t") < F.col("__n"))
    folded = per_s.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum(F.when(used, 1).otherwise(0)).cast("long").alias(
            "n_used_strata"
        ),
        F.sum(F.when(used, F.col("__n")).otherwise(0))
        .cast("long")
        .alias("n"),
        F.sum(F.when(used, F.col("__t")).otherwise(0))
        .cast("long")
        .alias("n_treated"),
        F.sort_array(
            F.collect_list(
                F.when(
                    used,
                    F.struct("__s", "__y1", "__y0", "__n", "__t"),
                )
            )
        ).alias("__gs"),
    )
    num1 = F.aggregate(
        F.transform(
            F.col("__gs"),
            lambda s: s["__y1"].cast("double")
            * s["__n"].cast("double")
            / s["__t"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    num0 = F.aggregate(
        F.transform(
            F.col("__gs"),
            lambda s: s["__y0"].cast("double")
            * s["__n"].cast("double")
            / (s["__n"].cast("double") - s["__t"].cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nn = F.col("n").cast("double")
    staged = folded.select(
        "n_strata",
        "n_used_strata",
        "n",
        "n_treated",
        F.when(F.col("n") > 0, F.round(num1 / nn, ndigits)).alias(
            "mu_treated"
        ),
        F.when(F.col("n") > 0, F.round(num0 / nn, ndigits)).alias(
            "mu_control"
        ),
    )
    return staged.select(
        "n_strata",
        "n_used_strata",
        "n",
        "n_treated",
        "mu_treated",
        "mu_control",
        F.round(F.col("mu_treated") - F.col("mu_control"), ndigits).alias(
            "ate"
        ),
    )


def james_stein_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Empirical-Bayes (James-Stein-style) shrinkage of per-group
    means toward the cross-group center (Efron & Morris 1975, public
    literature) — the fix for the "small segments always top the
    dashboard" artifact: a 10-row group's extreme mean is mostly
    noise, so it borrows strength from the other groups.

    Model (documented precisely so the oracle replays it): normal
    means with method-of-moments hyperparameters, estimated over the
    groups with n >= 2 ONLY (advisor r11: an n = 1 group has no
    within-group variance, so folding its se2 as 0 would deflate
    mean(se2) and inflate tau2 — and thus every group's weight —
    even though the group itself reports NULL shrunk_mean) —

        m        = unweighted mean of the n>=2 group means
        tau2     = max(0, var_between - mean_g(se2_g))   over n>=2
        w_g      = tau2 / (tau2 + se2_g)
        shrunk_g = m + w_g * (mean_g - m)

    with se2_g = s2_g / n_g (variance of the group mean, pooled
    nothing — each group brings its own).

    Determinism contract: group means quantize half-away to micro
    integers from exact decimal sums (so m is an exact integer mean);
    s2_g comes from exact decimal moments collapsing to double once;
    var_between and mean(se2_g) are SORTED FOLDS over the bounded
    group domain (the kruskal_wallis discipline). tau2 = 0 (no
    real between-group signal) legitimately shrinks every group all
    the way to m. Groups with n < 2 have no se2 and report NULL
    shrunk mean.

    Output per group: ``(group, n, mean, weight, shrunk_mean)``,
    ordered by group.

    Scale: ONE map-side-combinable groupBy + folds over |groups|.
    No counterpart in the reference engine (SURVEY.md §2.2).
    """
    m = 1_000_000
    y = F.col(value_col).cast("decimal(18,2)")
    per_g = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(group_col).cast("string").alias("__g"))
        .agg(
            F.count("*").cast("long").alias("__n"),
            exact(F.sum(y), 2).alias("__s"),
            exact(F.sum(y * y), 4).alias("__q"),
        )
        .withColumn(
            "__mean_micro",
            F.when(
                F.col("__s") >= 0,
                F.expr(
                    f"cast((2 * abs(__s) * {m} + __n) div (2 * __n) "
                    "as long)"
                ),
            ).otherwise(
                -F.expr(
                    f"cast((2 * abs(__s) * {m} + __n) div (2 * __n) "
                    "as long)"
                )
            ),
        )
        .withColumn(
            "__se2",
            F.when(
                F.col("__n") > 1,
                # s2/n = (n*Q - S^2) / (n^2 * (n-1)), exact numerator
                (
                    exact("__n") * F.col("__q")
                    - F.col("__s") * F.col("__s")
                ).cast("double")
                / (
                    F.col("__n").cast("double")
                    * F.col("__n").cast("double")
                    * (F.col("__n").cast("double") - 1.0)
                ),
            ),
        )
    )
    folded = per_g.agg(
        F.count("*").cast("long").alias("__k"),
        # hyperparameters come from the n >= 2 groups only (advisor
        # r11) — k2/sm2 are their count and micro-mean sum
        F.sum(F.when(F.col("__n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("__k2"),
        exact(F.sum(F.when(F.col("__n") > 1, F.col("__mean_micro"))))
        .alias("__sm2"),
        F.sort_array(
            F.collect_list(F.struct("__g", "__mean_micro", "__se2"))
        ).alias("__gs"),
    )
    kk2 = F.col("__k2").cast("double")
    # m as an exact half-away micro integer mean of the CONTRIBUTING
    # micro means; greatest() keeps the div ANSI-safe when k2 = 0
    # (the when-guard makes the result NULL there)
    m_micro = F.when(
        F.col("__k2") > 0,
        F.when(
            F.col("__sm2") >= 0,
            F.expr(
                "cast((2 * abs(__sm2) + __k2) div (2 * "
                f"cast(greatest(__k2, 1) as {exact_type()})) as long)"
            ),
        ).otherwise(
            -F.expr(
                "cast((2 * abs(__sm2) + __k2) div (2 * "
                f"cast(greatest(__k2, 1) as {exact_type()})) as long)"
            )
        ),
    )
    staged = folded.withColumn("__m_micro", m_micro).withColumn(
        # the fold domain: structs of the n >= 2 groups (se2 is
        # non-NULL exactly for them)
        "__gs2",
        F.filter(F.col("__gs"), lambda s_: s_["__se2"].isNotNull()),
    )
    vb = F.aggregate(
        F.transform(
            F.col("__gs2"),
            lambda s_: (
                (s_["__mean_micro"] - F.col("__m_micro")).cast("double")
                / F.lit(float(m))
            )
            * (
                (s_["__mean_micro"] - F.col("__m_micro")).cast("double")
                / F.lit(float(m))
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) / F.greatest(kk2 - 1.0, F.lit(1.0))
    mean_se2 = F.aggregate(
        F.transform(
            F.col("__gs2"), lambda s_: F.coalesce(s_["__se2"], F.lit(0.0))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) / F.greatest(kk2, F.lit(1.0))
    tau2 = F.when(
        F.col("__k2") > 0, F.greatest(vb - mean_se2, F.lit(0.0))
    )
    hyper = staged.select(
        F.col("__m_micro"), tau2.alias("__tau2"), "__k"
    )
    out = per_g.crossJoin(F.broadcast(hyper))
    w = F.when(
        F.col("__tau2") + F.col("__se2") > 0,
        F.col("__tau2") / (F.col("__tau2") + F.col("__se2")),
    ).otherwise(F.lit(0.0))
    mean_d = F.col("__mean_micro").cast("double") / m
    m_d = F.col("__m_micro").cast("double") / m
    return out.select(
        F.col("__g").alias("group"),
        F.col("__n").alias("n"),
        mean_d.alias("mean"),
        F.when(F.col("__n") > 1, F.round(w, ndigits)).alias("weight"),
        F.when(
            F.col("__n") > 1,
            F.round(m_d + w * (mean_d - m_d), ndigits),
        ).alias("shrunk_mean"),
    ).orderBy("group")


def rdd_estimate(
    df: DataFrame,
    x_col: str,
    y_col: str,
    cutoff: float,
    bandwidth: float,
    ndigits: int = 6,
) -> DataFrame:
    """Sharp regression-discontinuity estimate (Thistlethwaite &
    Campbell 1960; Imbens & Lemieux 2008, public literature) — the
    causal jump at a threshold rule: fit a separate OLS line of y on
    the centered running variable (x - cutoff) within ``bandwidth``
    on each side; the treatment effect is the difference of the two
    intercepts AT the cutoff. The design a platform uses when a
    discount/credit/limit kicks in at a score boundary.

    Exactness: both sides' five sufficient statistics accumulate as
    exact decimals in ONE conditional aggregate over a single scan;
    slopes, intercepts and the effect collapse to double in
    fixed-order expressions rounded once — the regression_agg
    discipline, two-sided.

    Output: one row ``(n_left, n_right, slope_left, slope_right,
    intercept_left, intercept_right, effect)``; a side with < 2
    points or zero x-variance yields NULLs (and a NULL effect).

    Scale: ONE map-side-combinable aggregate over the filtered scan;
    the bandwidth filter pushes to the parquet reader.
    """
    c = F.lit(float(cutoff))
    xc = (
        F.col(x_col).cast("decimal(18,2)") - F.lit(float(cutoff)).cast("decimal(18,2)")
    ).cast("decimal(18,2)")
    y = F.col(y_col).cast("decimal(18,2)")
    filt = df.filter(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & (F.col(x_col).cast("decimal(18,2)") >= c - F.lit(float(bandwidth)))
        & (F.col(x_col).cast("decimal(18,2)") <= c + F.lit(float(bandwidth)))
    ).select(
        xc.alias("__x"),
        y.alias("__y"),
        (F.col(x_col).cast("decimal(18,2)") >= c).alias("__r"),
    )

    def side(flag: bool, name: str):
        m = F.col("__r") == F.lit(flag)
        return [
            F.sum(F.when(m, 1).otherwise(0)).cast("long").alias(f"__n{name}"),
            exact(F.sum(F.when(m, F.col("__x"))), 2).alias(f"__sx{name}"),
            exact(F.sum(F.when(m, F.col("__y"))), 2).alias(f"__sy{name}"),
            exact(F.sum(F.when(m, exact("__x", 4) * F.col("__x"))), 4)
            .alias(f"__sxx{name}"),
            exact(F.sum(F.when(m, exact("__x", 4) * F.col("__y"))), 4)
            .alias(f"__sxy{name}"),
        ]

    agg = filt.agg(*(side(False, "l") + side(True, "r")))

    def fit(name: str):
        n = F.col(f"__n{name}").cast("double")
        sx = F.col(f"__sx{name}").cast("double")
        sy = F.col(f"__sy{name}").cast("double")
        sxx = F.col(f"__sxx{name}").cast("double")
        sxy = F.col(f"__sxy{name}").cast("double")
        den = n * sxx - sx * sx
        slope = F.when(
            (F.col(f"__n{name}") >= 2) & (den != 0),
            (n * sxy - sx * sy) / den,
        )
        return slope, n, sx, sy

    sl, nl, sxl, syl = fit("l")
    sr, nr, sxr, syr = fit("r")
    staged = agg.withColumns(
        {
            "__bl": sl,
            "__br": sr,
        }
    ).withColumns(
        {
            "__al": (syl - F.col("__bl") * sxl) / nl,
            "__ar": (syr - F.col("__br") * sxr) / nr,
        }
    )
    return staged.select(
        F.col("__nl").alias("n_left"),
        F.col("__nr").alias("n_right"),
        F.round(F.col("__bl"), ndigits).alias("slope_left"),
        F.round(F.col("__br"), ndigits).alias("slope_right"),
        F.round(F.col("__al"), ndigits).alias("intercept_left"),
        F.round(F.col("__ar"), ndigits).alias("intercept_right"),
        F.round(F.col("__ar") - F.col("__al"), ndigits).alias("effect"),
    )

"""Privacy-release risk operators.

``l_diversity`` complements the k-anonymity census (class SIZE risk)
with the orthogonal attack k-anonymity misses: a class can be large yet
expose everyone in it when all members share one sensitive value
(homogeneity attack — Machanavajjhala et al. 2007, public literature).
A release gate needs both reports.

Scale notes: one groupBy over the quasi-identifier projection computes
class size AND distinct-sensitive count together (``count_distinct``
per group — bounded by the sensitive domain, map-side partial via the
distinct expand); the census rollup is a second tiny groupBy. Row data
never shuffles twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """Distinct-l-diversity census: per equivalence class (unique
    quasi-identifier combination) count members and DISTINCT sensitive
    values, then report the census ``(n_sensitive, n_classes,
    n_rows, at_risk)`` — classes with fewer than ``l`` distinct
    sensitive values are homogeneity risks regardless of their size.
    The census (not the raw risky classes) is the output: a privacy
    report must not itself leak the quasi-identifiers it flags.
    """
    if l < 2:
        raise ValueError(f"l must be >= 2, got {l}")
    classes = df.groupBy(*quasi_cols).agg(
        F.count("*").alias("__size"),
        F.count_distinct(F.col(sensitive_col)).alias("__nsens"),
    )
    return (
        classes.groupBy(F.col("__nsens").alias("n_sensitive"))
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("__size").alias("n_rows"),
        )
        .withColumn("at_risk", F.col("n_sensitive") < l)
        .orderBy("n_sensitive")
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    sensitivity: float = 1.0,
    seed: int = 42,
    ndigits: int = 6,
) -> DataFrame:
    """Laplace-mechanism count release: per-group counts plus
    Laplace(sensitivity/epsilon) noise — the standard
    epsilon-differentially-private histogram (Dwork et al. 2006,
    public literature). Returns ``(group_cols..., true n hidden,
    released)`` — only the noisy value leaves the operator.

    The uniform driving the inverse-CDF draw is md5-derived from
    (group key, seed) — DETERMINISTIC pseudo-noise, the repo-wide
    replayability discipline (stratified sampling, MinHash): tests and
    the SQL oracle replay the release bit-for-bit. Production swaps
    the uniform source for a hardware RNG — the mechanism, scale
    calculus, and plan shape are identical, and determinism-per-seed
    is itself the common "repeatable release" audit requirement.

        u     = (h + 0.5) / 2^32,  h = md5(key|seed) top-32
        t     = u - 0.5
        noise = -(sensitivity/epsilon) * sign(t) * ln(1 - 2|t|)

    One map-side-combinable groupBy; the noise is a projection over
    the (tiny) group table.
    """
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    counts = df.groupBy(*group_cols).agg(F.count("*").alias("__n"))
    # NULL group values must still draw their own noise: concat_ws
    # silently DROPS nulls (collapsing distinct groups onto one draw),
    # so each column is null-sentineled first. Keys containing the
    # literal sentinel-with-delimiter could still collide — acceptable
    # for a noise seed, not for identity (the groupBy above is the
    # identity).
    key = F.concat_ws(
        "|",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("␀"))
            for c in group_cols
        ],
        F.lit(str(seed)),
    )
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    u = (h + F.lit(0.5)) / F.lit(float(2**32))
    t = u - F.lit(0.5)
    noise = (
        F.lit(-(sensitivity / epsilon))
        * F.signum(t)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t))
    )
    return counts.select(
        *group_cols,
        F.round(F.col("__n") + noise, ndigits).alias("released"),
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    n_bins: int = 10,
    t: float = 0.2,
    ndigits: int = 6,
) -> DataFrame:
    """t-closeness census for a NUMERIC sensitive attribute (Li, Li &
    Venkatasubramanian, ICDE 2007 — public literature): per
    equivalence class, the Earth-Mover's Distance between the class's
    sensitive-value distribution and the global one, under the
    ordered-distance ground metric. Completes the release-risk trio:
    k-anonymity (class size), l-diversity (value variety), and
    t-closeness (value SKEW — a class can be large and diverse yet
    leak "everyone here is high-value").

    The sensitive domain is discretized into ``n_bins`` global
    equal-width bins; for ordered bins the EMD has the closed form

        EMD = (1 / (B-1)) * sum_k | cumP(k) - cumQ(k) |

    (cumulative-histogram distance). Output one row per class:
    quasi cols, ``n_rows``, ``t_emd``, ``within_t``.

    Exactness: with class size n and total N, each term
    |cumP - cumQ| = |cum_c * N - cum_C * n| / (n * N) — the
    numerator is computed in exact DECIMAL(38,0) integer arithmetic
    and summed per class, so the whole EMD is ONE double division
    rounded at ``ndigits``; no float cumsums anywhere.

    Scale: one groupBy to the (class, bin) histogram (bounded by
    |classes| * B rows), a B-sized window cumsum inside each class
    partition (never global), and a broadcast of the B-row global
    histogram. Bins are densified per class so the cumulative walk
    is well-defined where a class has empty bins.
    """
    spark = df.sparkSession
    # null sensitive values carry no distribution mass: excluded from
    # both the class and global histograms (documented contract)
    df = df.filter(F.col(sensitive_col).isNotNull())
    rng = df.agg(
        F.min(sensitive_col).alias("lo"), F.max(sensitive_col).alias("hi")
    ).first()
    lo, hi = float(rng["lo"]), float(rng["hi"])
    width = (hi - lo) or 1.0
    bin_expr = F.least(
        F.floor((F.col(sensitive_col) - F.lit(lo)) / F.lit(width) * n_bins),
        F.lit(n_bins - 1),
    ).cast("int")
    hist = df.groupBy(*quasi_cols, bin_expr.alias("bin")).agg(
        F.count("*").alias("c")
    )
    classes = hist.groupBy(*quasi_cols).agg(F.sum("c").alias("n_rows"))
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    dense = classes.join(F.broadcast(bins)).join(
        hist, [*quasi_cols, "bin"], "left"
    ).withColumn("c", F.coalesce("c", F.lit(0)))
    # densify the GLOBAL histogram too — a bin nobody occupies still
    # contributes its carried cumulative term to every class's EMD
    glob = F.broadcast(
        bins.join(
            df.groupBy(bin_expr.alias("bin")).agg(
                F.count("*").alias("gc")
            ),
            "bin",
            "left",
        )
        .withColumn("gc", F.coalesce("gc", F.lit(0)))
        .crossJoin(df.agg(F.count("*").alias("gn")))
    )
    w = (
        Window.partitionBy(*quasi_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        dense.join(glob, "bin")
        .withColumn("cum_c", F.sum("c").over(w))
        .withColumn(
            "cum_gc",
            F.sum("gc").over(w),
        )
        .withColumn(
            "term",
            F.abs(
                exact("cum_c") * exact("gn")
                - exact("cum_gc") * exact("n_rows")
            ),
        )
    )
    return (
        cum.groupBy(*quasi_cols, "n_rows", "gn")
        .agg(F.sum("term").alias("s"))
        .select(
            *quasi_cols,
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(
                F.col("s").cast("double")
                / (
                    F.col("n_rows").cast("double")
                    * F.col("gn").cast("double")
                    * F.lit(float(n_bins - 1))
                ),
                ndigits,
            ).alias("t_emd"),
        )
        .withColumn("within_t", F.col("t_emd") <= F.lit(t))
    )

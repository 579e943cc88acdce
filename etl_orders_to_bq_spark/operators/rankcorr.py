"""Rank correlation: grouped Spearman rho and Kendall tau-b.

The monotone-association statistics a data platform reports where
Pearson is outlier-fragile or the relationship is nonlinear: feature
screening, metric-vs-metric sanity dashboards, ranking-model
agreement. Both are public-literature classics (Spearman 1904,
Kendall 1938/1945 for the tie-corrected tau-b).

Determinism contract (the repo discipline):
- Spearman ranks never touch floats: per (group, distinct value)
  integer counts, "items strictly below" from a window cumsum over
  the per-group DISTINCT-VALUE table, and average ranks carried
  DOUBLED (2r = 2*below + t + 1 — exact longs, the mann_whitney
  trick). Every moment is an exact decimal(38,0) sum; rho is ONE
  fixed-order double expression over six exact integers, rounded
  once.
- Kendall's concordant/discordant/tie counts are exact integers from
  a within-group pair join; tau_b is one rounded double expression.

Scale contract:
- spearman_rho shuffles twice on (group, value) to attach ranks and
  once on group for the moments — all keyed, no single-partition
  stage. The per-group rank windows partition by GROUP, so one
  group's distinct values must fit a task (the sessionize-class
  contract); for a single global group use mann_whitney's
  ``ranking.global_cumsum_before`` shape instead.
- kendall_tau builds O(n_g^2) pairs per group: groups must be
  BOUNDED (model-sized tables, per-entity aggregates — the
  hodges_lehmann / isotonic class, documented at each call site).
  The O(n log n) inversion-count formulation is the upgrade path if
  a corpus-sized group ever needs tau.

No counterpart in the reference engine (SURVEY.md §2.2 — no
aggregation family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum


def _doubled_ranks(base: DataFrame, col: str, out: str) -> DataFrame:
    """Per (group, value) doubled average rank 2r = 2*below + t + 1
    as an exact long, computed on the distinct-value table."""
    cnt = base.groupBy("__g", F.col(col)).agg(F.count("*").alias("__t"))
    w = (
        Window.partitionBy("__g")
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return cnt.select(
        "__g",
        col,
        (
            F.lit(2) * F.coalesce(F.sum("__t").over(w), F.lit(0))
            + F.col("__t")
            + F.lit(1)
        ).cast("long").alias(out),
    )


def spearman_rho(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group Spearman rank correlation with exact tie handling
    (Pearson on average ranks — the identity that defines rho under
    ties).

    With doubled ranks a = 2r_x, b = 2r_y (exact longs), rho is scale
    invariant:

        rho = (n*Sab - Sa*Sb) / sqrt((n*Saa - Sa^2) * (n*Sbb - Sb^2))

    over six exact decimal(38,0) sums; constant x or y inside a group
    (zero rank variance) yields NULL rho, never a crash or NaN.

    Output per group: ``(group, n, rho)``, ordered by group.
    """
    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
    )
    rx = _doubled_ranks(base, "__x", "__a")
    ry = _doubled_ranks(base, "__y", "__b")
    ranked = base.join(rx, ["__g", "__x"]).join(ry, ["__g", "__y"])
    m = ranked.groupBy(F.col("__g").alias("group")).agg(
        F.count("*").cast("long").alias("n"),
        exact_sum("__a").alias("__sa"),
        exact_sum("__b").alias("__sb"),
        exact_sum("__a", "__b").alias("__sab"),
        exact_sum("__a", "__a").alias("__saa"),
        exact_sum("__b", "__b").alias("__sbb"),
    )
    nn = F.col("n").cast("double")
    sa = F.col("__sa").cast("double")
    sb = F.col("__sb").cast("double")
    num = nn * F.col("__sab").cast("double") - sa * sb
    vx = nn * F.col("__saa").cast("double") - sa * sa
    vy = nn * F.col("__sbb").cast("double") - sb * sb
    return m.select(
        "group",
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / F.sqrt(vx * vy), ndigits),
        ).alias("rho"),
    ).orderBy("group")


def kendall_tau(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    id_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group Kendall tau-b with the standard tie correction:

        tau_b = (C - D) / sqrt((n0 - n1) * (n0 - n2))

    where C/D count concordant/discordant pairs, n0 = n(n-1)/2, and
    n1/n2 are the tied-pair counts in x/y — every one an EXACT
    integer from a within-group pair join (i < j on ``id_col``) and
    two per-value count aggregates; tau_b is one rounded double.

    Contract: O(n_g^2) pairs per group — call on BOUNDED groups only
    (the hodges_lehmann class).

    Output per group: ``(group, n, concordant, discordant, tau_b)``.
    """
    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(id_col).cast("long").alias("__i"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
    )
    rhs = base.select(
        "__g",
        F.col("__i").alias("__j"),
        F.col("__x").alias("__x2"),
        F.col("__y").alias("__y2"),
    )
    pairs = base.join(rhs, "__g").filter(F.col("__i") < F.col("__j"))
    sx = F.when(F.col("__x") < F.col("__x2"), 1).when(
        F.col("__x") > F.col("__x2"), -1
    ).otherwise(0)
    sy = F.when(F.col("__y") < F.col("__y2"), 1).when(
        F.col("__y") > F.col("__y2"), -1
    ).otherwise(0)
    cd = pairs.groupBy(F.col("__g").alias("group")).agg(
        F.sum(F.when(sx * sy > 0, 1).otherwise(0))
        .cast("long")
        .alias("concordant"),
        F.sum(F.when(sx * sy < 0, 1).otherwise(0))
        .cast("long")
        .alias("discordant"),
    )

    def _tiepairs(col: str, out: str) -> DataFrame:
        return (
            base.groupBy("__g", F.col(col))
            .agg(F.count("*").alias("__t"))
            .groupBy(F.col("__g").alias("group"))
            .agg(
                F.sum(
                    F.col("__t") * (F.col("__t") - 1) / 2
                ).cast("long").alias(out)
            )
        )

    ns = base.groupBy(F.col("__g").alias("group")).agg(
        F.count("*").cast("long").alias("n")
    )
    j = (
        ns.join(cd, "group")
        .join(_tiepairs("__x", "__n1"), "group")
        .join(_tiepairs("__y", "__n2"), "group")
    )
    n0 = F.col("n").cast("double") * (F.col("n").cast("double") - 1.0) / 2.0
    dx = n0 - F.col("__n1").cast("double")
    dy = n0 - F.col("__n2").cast("double")
    return j.select(
        "group",
        "n",
        "concordant",
        "discordant",
        F.when(
            (dx > 0) & (dy > 0),
            F.round(
                (
                    F.col("concordant").cast("double")
                    - F.col("discordant").cast("double")
                )
                / F.sqrt(dx * dy),
                ndigits,
            ),
        ).alias("tau_b"),
    ).orderBy("group")


def gamma_somers_d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Goodman-Kruskal gamma (1954) and Somers' D(Y|X) (1962) —
    the ordinal-association pair, public literature:

        gamma       = (C - D) / (C + D)
        somers_dyx  = (C - D) / (C + D + T_y)

    with C/D concordant/discordant pairs and T_y pairs tied on y
    ONLY (the asymmetric denominator that penalizes y-ties the
    predictor can't explain).

    Plan: unlike the O(n^2) ``kendall_tau`` pair join, this uses the
    CONTINGENCY-CELL formulation — one (x, y) groupBy to bounded
    joint-count cells, then a cell-pair broadcast join classifying
    each unordered cell pair (concordant / discordant / tied-x-only /
    tied-y-only, weight c_a * c_b; same-cell pairs c(c-1)/2 are
    tied-both). n can be corpus-sized; only the VALUE DOMAIN must be
    bounded (documented contract — ordinal scales are).

    Exactness: every count is an exact integer (decimal(38,0) pair
    weights); gamma and D are one rounded double division each.
    C + D = 0 (all pairs tied) yields NULLs.

    Output: one row ``(n, concordant, discordant, tied_x_only,
    tied_y_only, gamma, somers_dyx)``.
    """
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    cells = base.groupBy("__x", "__y").agg(
        F.count("*").cast("long").alias("__c")
    )
    rhs = cells.select(
        F.col("__x").alias("__x2"),
        F.col("__y").alias("__y2"),
        F.col("__c").alias("__c2"),
    )
    pairs = cells.join(
        F.broadcast(rhs),
        (F.col("__x") < F.col("__x2"))
        | ((F.col("__x") == F.col("__x2")) & (F.col("__y") < F.col("__y2"))),
    )
    w = exact("__c") * exact("__c2")
    conc = F.when(
        (F.col("__x") < F.col("__x2")) & (F.col("__y") < F.col("__y2")),
        w,
    ).otherwise(exact(F.lit(0)))
    disc = F.when(
        (F.col("__x") < F.col("__x2")) & (F.col("__y") > F.col("__y2")),
        w,
    ).otherwise(exact(F.lit(0)))
    tx = F.when(
        (F.col("__x") == F.col("__x2")) & (F.col("__y") != F.col("__y2")),
        w,
    ).otherwise(exact(F.lit(0)))
    ty = F.when(
        (F.col("__y") == F.col("__y2")) & (F.col("__x") != F.col("__x2")),
        w,
    ).otherwise(exact(F.lit(0)))
    z38 = exact(F.lit(0))
    off = pairs.agg(
        F.coalesce(F.sum(conc), z38).alias("__C"),
        F.coalesce(F.sum(disc), z38).alias("__D"),
        F.coalesce(F.sum(tx), z38).alias("__Tx"),
        F.coalesce(F.sum(ty), z38).alias("__Ty"),
    )
    nrow = cells.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n")
    )
    j = off.crossJoin(F.broadcast(nrow))
    cd = F.col("__C").cast("double") + F.col("__D").cast("double")
    num = F.col("__C").cast("double") - F.col("__D").cast("double")
    return j.select(
        "n",
        F.col("__C").cast("long").alias("concordant"),
        F.col("__D").cast("long").alias("discordant"),
        F.col("__Tx").cast("long").alias("tied_x_only"),
        F.col("__Ty").cast("long").alias("tied_y_only"),
        F.when(cd > 0, F.round(num / cd, ndigits)).alias("gamma"),
        F.when(
            (cd + F.col("__Ty").cast("double")) > 0,
            F.round(num / (cd + F.col("__Ty").cast("double")), ndigits),
        ).alias("somers_dyx"),
    )

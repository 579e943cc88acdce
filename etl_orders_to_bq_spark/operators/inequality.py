"""Inequality decomposition: Theil's T index, within + between groups.

Theil's T (Theil 1967, public literature) is the inequality measure
the Gini coefficient cannot be: EXACTLY decomposable —

    T_total = T_between + sum_g s_g * T_g

with s_g each group's value share. A platform reads the split
directly: is revenue concentration driven by whales inside segments
(within) or by segment size differences (between)? The additivity is
also the QA check — the three reported pieces must reconcile.

Determinism contract:
- group totals are exact decimal sums;
- every per-row term (x/X_g) * ln(x * n_g / X_g) quantizes half-away
  to a micro integer BEFORE summation (the unigram_logprob
  order-free-sum discipline — no collect_list fold over corpus-sized
  groups), so per-group sums are exact integers;
- the between term and the reconciliation are SORTED FOLDS over the
  bounded group domain (the kruskal_wallis discipline);
- engine ``ln`` parity is the mutual_information precedent.

Scale: one groupBy for totals, one broadcast join back, one
map-side-combinable micro-sum groupBy, folds over |groups|. Rows with
x <= 0 are excluded (Theil is defined on positive values) and
counted. No counterpart in the reference engine (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact

_M = 1_000_000


def theil_decomposition(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group Theil T with shares, plus ``__BETWEEN__`` and
    ``__TOTAL__`` summary rows (the additivity identity holds by
    construction on the quantized terms).

    Output rows: ``(group, n, share, theil)`` for each group, then
    ``(__BETWEEN__, n_total, 1.0, T_between)`` and
    ``(__TOTAL__, n_total, 1.0, T_between + sum s_g T_g)``, ordered
    with summaries last.
    """
    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & (F.col(value_col).cast("double") > 0)
    ).select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("decimal(18,2)").alias("__x"),
    )
    totals = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("__ng"),
        exact(F.sum("__x"), 2).alias("__xg"),
    )
    j = base.join(F.broadcast(totals), "__g")
    term = (
        F.col("__x").cast("double") / F.col("__xg").cast("double")
    ) * F.log(
        F.col("__x").cast("double")
        * F.col("__ng").cast("double")
        / F.col("__xg").cast("double")
    )
    tm = F.when(
        term >= 0, F.floor(term * _M + F.lit(0.5))
    ).otherwise(-F.floor(-term * _M + F.lit(0.5))).cast("long")
    per_g = (
        j.select("__g", tm.alias("__t"))
        .groupBy("__g")
        .agg(exact(F.sum("__t")).alias("__tsum"))
        .join(totals, "__g")
    )
    grand = F.broadcast(
        totals.agg(
            F.sum("__ng").cast("long").alias("__n"),
            exact(F.sum("__xg"), 2).alias("__xx"),
        )
    )
    g_rows = per_g.crossJoin(grand).select(
        F.col("__g").alias("group"),
        F.col("__ng").alias("n"),
        F.round(
            F.col("__xg").cast("double") / F.col("__xx").cast("double"),
            ndigits,
        ).alias("share"),
        F.round(
            F.col("__tsum").cast("double") / (_M * 1.0), ndigits
        ).alias("theil"),
    )
    folded = (
        per_g.crossJoin(grand)
        .select(
            "__g",
            "__ng",
            "__n",
            (
                F.col("__xg").cast("double") / F.col("__xx").cast("double")
            ).alias("__s"),
            (F.col("__tsum").cast("double") / (_M * 1.0)).alias("__tw"),
        )
        .agg(
            F.max("__n").alias("__n"),
            F.sort_array(
                F.collect_list(F.struct("__g", "__s", "__ng", "__tw"))
            ).alias("__gs"),
        )
    )
    nn = F.col("__n").cast("double")
    between = F.aggregate(
        F.transform(
            F.col("__gs"),
            lambda s_: s_["__s"]
            * F.log(s_["__s"] * nn / s_["__ng"].cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    within = F.aggregate(
        F.transform(F.col("__gs"), lambda s_: s_["__s"] * s_["__tw"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    summaries = folded.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("__BETWEEN__").alias("group"),
                    F.col("__n").alias("n"),
                    F.lit(1.0).alias("share"),
                    F.round(between, ndigits).alias("theil"),
                ),
                F.struct(
                    F.lit("__TOTAL__").alias("group"),
                    F.col("__n").alias("n"),
                    F.lit(1.0).alias("share"),
                    F.round(between + within, ndigits).alias("theil"),
                ),
            )
        ).alias("__r")
    ).select("__r.*")
    return g_rows.unionByName(summaries).orderBy("group")

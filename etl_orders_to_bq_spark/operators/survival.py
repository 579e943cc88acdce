"""Survival comparison: the two-group log-rank test.

The log-rank test (Mantel 1966 / Peto & Peto 1972, public
literature) compares two right-censored time-to-event curves — "does
cohort A convert faster than cohort B" with censoring handled
correctly, which a difference of conversion RATES gets wrong
whenever observation windows differ. The hypothesis-test companion
to the Kaplan-Meier ``survival_curve`` entry.

At each distinct event time t (risk sets from EXACT integer counts):

    O  = sum_t d_At                       (observed events in A)
    E  = sum_t n_At * d_t / n_t           (expected under H0)
    V  = sum_t d_t (n_t - d_t) n_At n_Bt / (n_t^2 (n_t - 1))
    z  = (O - E) / sqrt(V)

Determinism contract (the mann_whitney machinery):
- per-distinct-duration integer counts of events and censorings per
  arm; "at risk" = n_g - (count strictly below t) via ONE fused
  two-pass ``ranking.global_cumsum_before`` (both arms cumulate in
  one range shuffle — no single-partition window);
- each per-time E and V term quantizes half-away to a micro integer
  BEFORE summation (the unigram_logprob order-free-sum discipline —
  event-time tables are unbounded, so no collect_list fold), making
  the sums exact integers;
- O is an exact long; z is one fixed-order double expression over
  the exact sums, with the two-sided p through the engine's
  deterministic Phi.

Scale: one subject-level groupBy to the distinct-duration table, the
fused two-pass cumsum, one map-side-combinable reduction. No
counterpart in the reference engine (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact

_M = 1_000_000


def log_rank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    group_a: str,
    group_b: str,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """One row: ``(n_a, n_b, n_events, observed_a, expected_a, z,
    p_value)``; V = 0 (no comparable risk sets) yields NULL z/p.

    ``event_col`` is 1/true for an observed event, 0/false for a
    right-censored subject; censored durations hold the subject in
    the risk set through their censoring time (the whole point).
    """
    from .multitest import with_p_value
    from .ranking import global_cumsum_before

    ev = F.col(event_col).cast("boolean")
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(duration_col).isNotNull()
        & F.col(event_col).isNotNull()
    ).select(
        (F.col(group_col) == group_a).alias("__isa"),
        F.col(duration_col).alias("__d"),
        ev.alias("__e"),
    )
    vc = base.groupBy("__d").agg(
        F.sum(F.when(F.col("__isa") & F.col("__e"), 1).otherwise(0)).alias(
            "__ea"
        ),
        F.sum(F.when(~F.col("__isa") & F.col("__e"), 1).otherwise(0)).alias(
            "__eb"
        ),
        F.sum(F.when(F.col("__isa"), 1).otherwise(0)).alias("__ta"),
        F.sum(F.when(~F.col("__isa"), 1).otherwise(0)).alias("__tb"),
    )
    cum = global_cumsum_before(
        vc, ["__d"], ["__ta", "__tb"], num_partitions=num_partitions,
        out_col=["__below_a", "__below_b"],
    )
    tot = F.broadcast(
        vc.agg(
            F.sum("__ta").cast("long").alias("n_a"),
            F.sum("__tb").cast("long").alias("n_b"),
        )
    )
    j = cum.crossJoin(tot).filter(F.col("__ea") + F.col("__eb") > 0)
    nat = (F.col("n_a") - F.col("__below_a")).cast("double")
    nbt = (F.col("n_b") - F.col("__below_b")).cast("double")
    nt = nat + nbt
    d = (F.col("__ea") + F.col("__eb")).cast("double")
    e_term = nat * d / nt
    v_term = F.when(
        nt > 1.0,
        d * (nt - d) * nat * nbt / (nt * nt * (nt - 1.0)),
    ).otherwise(F.lit(0.0))
    agg = j.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(F.col("__ea") + F.col("__eb")).cast("long").alias(
            "n_events"
        ),
        F.sum("__ea").cast("long").alias("observed_a"),
        # nonnegative terms: plain floor(x*1e6 + 0.5) IS half-away
        exact(F.sum(F.floor(e_term * _M + F.lit(0.5))))
        .alias("__em"),
        exact(F.sum(F.floor(v_term * _M + F.lit(0.5))))
        .alias("__vm"),
    )
    e_d = F.col("__em").cast("double") / _M
    v_d = F.col("__vm").cast("double") / _M
    staged = agg.select(
        "n_a",
        "n_b",
        "n_events",
        "observed_a",
        F.round(e_d, ndigits).alias("expected_a"),
        F.when(
            v_d > 0,
            F.round(
                (F.col("observed_a").cast("double") - e_d) / F.sqrt(v_d),
                ndigits,
            ),
        ).alias("z"),
    )
    return with_p_value(staged, "z", "p_value", ndigits)


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    time_divisor: float = 1.0,
    ndigits: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson 1972; Aalen
    1978, public literature) — the additive companion to the
    Kaplan-Meier product curve: H(t) = sum_{t_i <= t} d_i / n_i with
    right-censoring handled by the same risk sets; preferred when
    hazards are the modelling target (H is unbiased where -ln S(KM)
    is not), with Aalen's variance sum d_i / n_i^2 alongside.

    Determinism contract (the log_rank machinery): per-distinct-
    duration integer counts; at-risk via ONE fused two-pass
    ``ranking.global_cumsum_before``; each d/n and d/n^2 term
    quantizes half-away to a micro integer BEFORE the cumulative sum,
    and the RUNNING sums are themselves a second fused cumsum over
    exact integers — no single-partition window anywhere, so the
    event-time table may be unbounded.

    Output: one row per distinct EVENT time ``(t, d, n_risk,
    cum_hazard, hazard_se)``, ordered by t (t = duration /
    ``time_divisor`` rounded 2dp for reporting).

    Scale: one duration-level groupBy, two fused range-shuffle
    cumsums, keyed reductions only — the mann_whitney class.
    """
    from .ranking import global_cumsum_before

    base = df.filter(F.col(duration_col).isNotNull()).select(
        F.col(duration_col).cast("long").alias("__t"),
        F.col(event_col).cast("int").alias("__e"),
    )
    per_t = base.groupBy("__t").agg(
        F.sum("__e").cast("long").alias("__d"),
        F.count("*").cast("long").alias("__c"),
    )
    cum = global_cumsum_before(
        per_t, ["__t"], "__c", num_partitions=num_partitions,
        out_col="__below",
    )
    tot = F.broadcast(
        per_t.agg(F.sum("__c").cast("long").alias("__n"))
    )
    risk = cum.crossJoin(tot).withColumn(
        "__nr", F.col("__n") - F.col("__below")
    )
    nr = F.col("__nr").cast("double")
    dd = F.col("__d").cast("double")
    terms = risk.select(
        "__t",
        "__d",
        "__nr",
        F.round(dd / nr * F.lit(float(_M))).cast("long").alias("__h"),
        F.round(dd / (nr * nr) * F.lit(float(_M * 1000)))
        .cast("long")
        .alias("__v"),
    )
    cum2 = global_cumsum_before(
        terms,
        ["__t"],
        ["__h", "__v"],
        num_partitions=num_partitions,
        out_col=["__hb", "__vb"],
    )
    out = cum2.filter(F.col("__d") > 0).select(
        F.round(
            F.col("__t").cast("double") / F.lit(float(time_divisor)), 2
        ).alias("t"),
        F.col("__d").alias("d"),
        F.col("__nr").alias("n_risk"),
        F.round(
            (F.col("__hb") + F.col("__h")).cast("double")
            / F.lit(float(_M)),
            ndigits,
        ).alias("cum_hazard"),
        F.round(
            F.sqrt(
                (F.col("__vb") + F.col("__v")).cast("double")
                / F.lit(float(_M * 1000))
            ),
            ndigits,
        ).alias("hazard_se"),
    )
    return out.orderBy("t")

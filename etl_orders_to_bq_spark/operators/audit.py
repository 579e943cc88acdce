"""Constraint-discovery audits: functional dependencies and
inclusion dependencies (foreign-key coverage).

The two classic data-profiling questions (Abedjan, Golab & Naumann,
"Profiling relational data", VLDB J. 2015 — public literature):

* does ``lhs -> rhs`` HOLD (every lhs value maps to one rhs value),
  and if not, how badly is it violated?
* is ``child.col ⊆ parent.col`` (a candidate foreign key), and what
  fraction of child rows dangle?

A platform runs these continuously: FD violations catch denormalized
tables drifting out of sync, inclusion coverage catches broken
ingestion (orphaned facts after a dimension backfill loss).

Scale: FD audit is ONE groupBy(lhs) with count(distinct rhs) —
map-side partial aggregation, output |lhs| rows collapsed to one
summary row. FK coverage distincts both key sets (map-side
combinable) and LEFT ANTI joins child keys against parent keys; the
parent side broadcasts when it is dimension-sized, and orphan ROW
counts ride the child key table (count per key), so the raw child is
scanned exactly once. Nothing here ever collects data.

No counterpart in the reference engine (SURVEY.md §2.2 — the
reference never profiles; its only integrity device is dropna).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact, exact_sum


def fd_violations(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
    fd_name: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """One-row audit of the functional dependency ``lhs -> rhs``:
    ``(fd, n_lhs, n_violating, max_rhs_variants, violation_rate)``.

    A lhs group "violates" when it maps to more than one distinct
    non-null rhs value (SQL ``count(distinct ...)`` semantics — nulls
    don't create variants). ``violation_rate`` is one rounded
    division over the integer counts.
    """
    name = fd_name or f"{','.join(lhs_cols)}->{rhs_col}"
    per = df.groupBy(*[F.col(c) for c in lhs_cols]).agg(
        F.countDistinct(rhs_col).alias("__k")
    )
    return per.agg(
        F.lit(name).alias("fd"),
        F.count("*").cast("long").alias("n_lhs"),
        F.sum(F.when(F.col("__k") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating"),
        F.max("__k").cast("long").alias("max_rhs_variants"),
        F.round(
            F.sum(F.when(F.col("__k") > 1, 1).otherwise(0))
            / F.count("*"),
            ndigits,
        ).alias("violation_rate"),
    )


def fk_coverage(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    fk_name: str | None = None,
    ndigits: int = 6,
    broadcast_parent: bool = True,
) -> DataFrame:
    """One-row inclusion-dependency audit of ``child.child_col ⊆
    parent.parent_col``: ``(fk, n_child_rows, n_child_keys,
    n_orphan_keys, n_orphan_rows, coverage)``.

    NULL child keys are excluded from both sides (a null FK is
    "absent", not "dangling" — SQL referential semantics).
    ``coverage`` = 1 - orphan_rows/child_rows, one rounded division.
    ``broadcast_parent`` hints the distinct parent-key table (right
    side of the anti join); pass False when the parent is fact-sized
    and let AQE choose.
    """
    name = fk_name or f"{child_col}->{parent_col}"
    keys = (
        child.filter(F.col(child_col).isNotNull())
        .groupBy(F.col(child_col).alias("__k"))
        .agg(F.count("*").alias("__rows"))
    )
    pk = parent.filter(F.col(parent_col).isNotNull()).select(
        F.col(parent_col).alias("__k")
    ).distinct()
    if broadcast_parent:
        pk = F.broadcast(pk)
    orphans = keys.join(pk, "__k", "left_anti").agg(
        F.coalesce(F.count("*"), F.lit(0)).cast("long").alias("n_orphan_keys"),
        F.coalesce(F.sum("__rows"), F.lit(0))
        .cast("long")
        .alias("n_orphan_rows"),
    )
    totals = keys.agg(
        F.coalesce(F.sum("__rows"), F.lit(0))
        .cast("long")
        .alias("n_child_rows"),
        F.count("*").cast("long").alias("n_child_keys"),
    )
    return totals.crossJoin(orphans).select(
        F.lit(name).alias("fk"),
        "n_child_rows",
        "n_child_keys",
        "n_orphan_keys",
        "n_orphan_rows",
        F.when(
            F.col("n_child_rows") > 0,
            F.round(
                F.lit(1.0) - F.col("n_orphan_rows") / F.col("n_child_rows"),
                ndigits,
            ),
        ).alias("coverage"),
    )


def join_cardinality(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    name: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Exact join-cardinality profile — the |A ⋈ B| = Σ_k ca(k)·cb(k)
    decomposition a planner (or an engineer staring at a blown-up
    join) needs BEFORE running the join: predicted output rows, key
    overlap, and how much one hot key dominates (the skew share that
    decides salting).

    Output: one row ``(join_name, n_keys_left, n_keys_right,
    n_keys_shared, predicted_rows, max_key_rows, skew_share)`` —
    ``predicted_rows`` is mathematically the exact inner-join row
    count; sums accumulate in decimal(38,0) (a hot key squared
    overflows int64 long before it overflows the plan).

    Scale: two per-key count aggregates (map-side combinable) + one
    equi-join of the two KEY tables (|keys| rows, never data rows) +
    a 1-row rollup. NULL keys are excluded (SQL join semantics).
    """
    jn = name or f"{left_key}={right_key}"
    ka = (
        left.filter(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("__k"))
        .agg(F.count("*").alias("__ca"))
    )
    kb = (
        right.filter(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("__k"))
        .agg(F.count("*").alias("__cb"))
    )
    shared = ka.join(kb, "__k")
    stats = shared.agg(
        F.coalesce(F.count("*"), F.lit(0)).cast("long").alias("n_keys_shared"),
        F.coalesce(exact_sum("__ca", "__cb"), F.lit(0)).alias(
            "predicted_rows"
        ),
        F.max(exact("__ca") * exact("__cb")).alias("max_key_rows"),
    )
    na = ka.agg(F.count("*").cast("long").alias("n_keys_left"))
    nb = kb.agg(F.count("*").cast("long").alias("n_keys_right"))
    return (
        na.crossJoin(nb)
        .crossJoin(stats)
        .select(
            F.lit(jn).alias("join_name"),
            "n_keys_left",
            "n_keys_right",
            "n_keys_shared",
            # try_cast, not cast: the whole point of the decimal(38,0)
            # accumulators is surviving >int64 hot keys — an ANSI
            # CAST_OVERFLOW here would crash exactly at that scale.
            # Beyond int64 the profile reports NULL counts (with
            # skew_share still computed from the decimals below).
            F.expr("try_cast(predicted_rows as long)").alias(
                "predicted_rows"
            ),
            F.expr("try_cast(max_key_rows as long)").alias(
                "max_key_rows"
            ),
            F.when(
                F.col("predicted_rows") > 0,
                F.round(
                    F.col("max_key_rows").cast("double")
                    / F.col("predicted_rows").cast("double"),
                    ndigits,
                ),
            ).alias("skew_share"),
        )
    )


# Benford first-digit probabilities log10(1 + 1/d): transcendental,
# so they are FIXED SHARED LITERALS (computed once here, embedded
# identically in the SQL oracle) rather than engine log() calls —
# the norm_sf discipline.
BENFORD_P = (
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
)


def benford_digits(
    df: DataFrame,
    value_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Benford's-law first-digit conformity audit (Newcomb 1881 /
    Benford 1938; Nigrini's MAD bands, public literature) — the
    classic fabricated-amounts screen: organically-grown magnitudes
    follow p(d) = log10(1 + 1/d), invented ones rarely do.

    The first significant digit comes from the value's DECIMAL STRING
    (cast to decimal(18,2), regexp for the first [1-9]) — never from
    log10/pow, which are engine-dependent; zero and null values carry
    no significant digit and are excluded (reported). Expected
    probabilities are fixed shared literals (``BENFORD_P``). Reported
    per digit: observed count, observed/expected proportions; summary
    columns replicate on each row (the roc_curve shape): chi2 =
    N * sum (o_d - e_d)^2 / e_d via one sorted fold over the 9-row
    digit table, and MAD = mean |o_d - e_d| (Nigrini's conformity
    measure, <= 0.006 "close", >= 0.015 "nonconformity").

    Output: 9 rows ``(digit, n_obs, p_obs, p_expected, chi2, mad)``
    ordered by digit (digits with zero observations still appear).

    Scale: one map-side-combinable 9-bucket census; everything after
    runs on 9 rows. No counterpart in the reference engine
    (SURVEY.md §2.2).
    """
    first = F.regexp_extract(
        F.abs(F.col(value_col).cast("decimal(18,2)")).cast("string"),
        "[1-9]",
        0,
    )
    base = df.select(first.alias("__d")).filter(F.col("__d") != "")
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").cast("string").alias("__d"),
        F.element_at(
            F.array(*[F.lit(p) for p in BENFORD_P]),
            F.col("id").cast("int"),
        ).alias("__e"),
    )
    obs = base.groupBy("__d").agg(F.count("*").alias("__n"))
    grid = digits.join(obs, "__d", "left").select(
        "__d", "__e", F.coalesce(F.col("__n"), F.lit(0)).alias("__n")
    )
    folded = F.broadcast(
        grid.agg(
            F.sum("__n").cast("long").alias("__bn"),
            F.sort_array(
                F.collect_list(F.struct("__d", "__n", "__e"))
            ).alias("__rows"),
        )
    )
    po = lambda s_: (  # noqa: E731
        s_["__n"].cast("double") / F.col("__bn").cast("double")
    )
    chi2 = F.aggregate(
        F.col("__rows"),
        F.lit(0.0),
        lambda acc, s_: acc
        + (po(s_) - s_["__e"]) * (po(s_) - s_["__e"]) / s_["__e"],
    ) * F.col("__bn").cast("double")
    mad = (
        F.aggregate(
            F.col("__rows"),
            F.lit(0.0),
            lambda acc, s_: acc + F.abs(po(s_) - s_["__e"]),
        )
        / 9.0
    )
    return (
        grid.crossJoin(folded)
        .select(
            F.col("__d").cast("int").alias("digit"),
            F.col("__n").cast("long").alias("n_obs"),
            F.when(
                F.col("__bn") > 0,
                F.round(
                    F.col("__n").cast("double")
                    / F.col("__bn").cast("double"),
                    ndigits,
                ),
            ).alias("p_obs"),
            F.round(F.col("__e"), ndigits).alias("p_expected"),
            F.when(F.col("__bn") > 0, F.round(chi2, ndigits)).alias(
                "chi2"
            ),
            F.when(F.col("__bn") > 0, F.round(mad, ndigits)).alias(
                "mad"
            ),
        )
        .orderBy("digit")
    )

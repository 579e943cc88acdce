"""Poisson-bootstrap confidence intervals — uncertainty estimates the
way they are actually computed at data scale.

The classic bootstrap (resample n rows WITH replacement, B times)
needs global coordinated sampling — impossible to do cheaply on a
distributed table. The standard trick (Poisson bootstrap: per row and
replicate, an independent Poisson(1) weight; public literature, e.g.
Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
Google 2012) makes each replicate a WEIGHTED pass needing no
coordination at all: E[weight] = 1 reproduces the resample
distribution asymptotically, and every (row, replicate) weight is an
independent pure function of (id, b, seed) — deterministic,
partitioning-invariant, and replayable by a SQL oracle.

Exactness contract: weights are integers from an inverse-CDF table of
repr'd cumulative literals; weighted sums run in DECIMAL(18,2) (exact,
order-free), so replicate means are identical on any engine at any
parallelism; CI bounds are order statistics of the B means (type-1
quantile — no interpolation to diverge).

Scale: the explode is x B rows of (group, b, weight, value) — at
100 TB run B=100 on a table sample or pre-aggregated groups; the
aggregate is ONE map-side-combinable groupBy (group, b) followed by a
B-sized rollup per group. No counterpart in the reference engine
(SURVEY.md §2.2 aggregation absence family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact


def _poisson1_cdf_literals(max_k: int = 8) -> list[float]:
    """Cumulative P(X <= k) for Poisson(1), k = 0..max_k-1 — repr'd
    into both engines so the inverse-CDF table is bit-identical."""
    out, acc, term = [], 0.0, math.exp(-1.0)
    for k in range(max_k):
        acc += term
        out.append(acc)
        term /= k + 1
    return out


def poisson_weight(u, max_k: int = 8):
    """Inverse-CDF Poisson(1) draw from a uniform column ``u`` in
    [0, 1): the smallest k with cdf(k) >= u (draws beyond ``max_k``
    clamp — P(X > 8) < 1e-6, immaterial to a bootstrap)."""
    cdf = _poisson1_cdf_literals(max_k)
    expr = F.lit(max_k)
    for k in reversed(range(max_k)):
        expr = F.when(u < F.lit(cdf[k]), F.lit(k)).otherwise(expr)
    return expr


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
    b: int = 100,
    ci: float = 0.95,
    seed: int = 42,
    ndigits: int = 6,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-group mean with a Poisson-bootstrap ``ci`` confidence
    interval: ``(group..., n_rows, mean, ci_lo, ci_hi, b)``.

    Each of the ``b`` replicates weights every row by an independent
    deterministic Poisson(1) draw (hash of (id, replicate, seed)) and
    takes the weighted mean in DECIMAL (exact); ``ci_lo``/``ci_hi``
    are the type-1 lower/upper quantile order statistics of the B
    replicate means. Replicates whose total weight is zero (possible
    only for tiny groups) are dropped from the order statistics.

    ``hash_fn`` is the draw family (the hashed-classifier contract:
    the family is part of the model): ``"md5"`` is SQL-replayable (the
    oracle family; ~md5-bound at n x B draws), ``"xxhash64"`` is the
    production family — one codegen'd JVM hash per draw, measured ~5x
    faster at sf0.1 x B=100, statistically equivalent but not
    replayable by a DuckDB oracle.
    """
    if b < 2:
        raise ValueError(f"b must be >= 2, got {b}")
    if not (0.0 < ci < 1.0):
        raise ValueError(f"ci must be in (0, 1), got {ci}")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    groups = [F.col(c) for c in (group_cols or [])]
    val = F.col(value_col).cast("decimal(18,2)")
    rep = df.select(
        *groups,
        F.col(id_col).alias("__id"),
        val.alias("__v"),
        F.explode(
            F.sequence(F.lit(0), F.lit(b - 1))
        ).alias("__b"),
    )
    # ONE md5 serves FOUR replicates (its four 8-hex chunks — the
    # minhash _mh_sql pattern), and u materializes in its own
    # projection so the inverse-CDF CASE chain references a cheap
    # column, not the hash expression (CollapseProject keeps the
    # boundary for non-cheap multi-referenced expressions; measured:
    # inlined chain re-evaluates the hash 9x, 20.8s -> 10.3s at sf0.1,
    # and chunking cuts the md5 count 4x on top)
    if hash_fn == "xxhash64":
        # (h mod 2^32 + 2^32) mod 2^32 maps the signed 64-bit hash
        # onto [0, 2^32) uniformly
        u = (
            F.pmod(
                F.xxhash64(F.col("__id"), F.col("__b"), F.lit(seed)),
                F.lit(1 << 32),
            )
            / F.lit(float(1 << 32))
        )
    else:
        md5c = F.md5(
            F.concat_ws(
                "|",
                F.col("__id").cast("string"),
                F.floor(F.col("__b") / 4).cast("long").cast("string"),
                F.lit(str(seed)),
            )
        )
        chunk_start = (F.col("__b") % 4) * 8 + 1
        u = (
            F.conv(
                md5c.substr(chunk_start, F.lit(8)), 16, 10
            ).cast("long")
            / F.lit(float(1 << 32))
        )
    with_u = rep.select(
        *[F.col(c) for c in (group_cols or [])],
        "__b",
        "__v",
        u.alias("__u"),
    )
    weighted = with_u.select(
        *[F.col(c) for c in (group_cols or [])],
        "__b",
        poisson_weight(F.col("__u")).alias("__w"),
        F.col("__v"),
    )
    gb = (group_cols or []) + ["__b"]
    reps = (
        weighted.groupBy(*gb)
        .agg(
            F.sum(F.col("__w") * F.col("__v")).alias("__ws"),
            F.sum("__w").alias("__wn"),
        )
        .filter(F.col("__wn") > 0)
        .select(
            *[F.col(c) for c in (group_cols or [])],
            # decimal SUM is exact; convert to double BEFORE dividing
            # so both engines perform the same single double division
            # (decimal-division scale rules differ between engines)
            F.round(
                F.col("__ws").cast("double") / F.col("__wn"), ndigits
            ).alias("__mean_b"),
        )
    )
    lo_q, hi_q = (1.0 - ci) / 2.0, 1.0 - (1.0 - ci) / 2.0
    means = reps.groupBy(*(group_cols or [])).agg(
        F.sort_array(F.collect_list("__mean_b")).alias("__ms")
    )
    nb = F.size("__ms")
    # type-1 (ceil-rank) order statistics — exact selection, no
    # interpolation for engines to disagree on
    lo_i = F.greatest(F.ceil(nb * F.lit(lo_q)).cast("int"), F.lit(1))
    hi_i = F.greatest(F.ceil(nb * F.lit(hi_q)).cast("int"), F.lit(1))
    base = df.groupBy(*(group_cols or [])).agg(
        F.count("*").alias("n_rows"),
        F.round(
            F.sum(val).cast("double") / F.count("*"), ndigits
        ).alias("mean"),
    )
    out = base.join(means, group_cols or [], "inner") if group_cols else (
        base.crossJoin(means)
    )
    return out.select(
        *[F.col(c) for c in (group_cols or [])],
        "n_rows",
        "mean",
        F.element_at("__ms", lo_i).alias("ci_lo"),
        F.element_at("__ms", hi_i).alias("ci_hi"),
        F.lit(b).alias("b"),
    )


def jackknife_ratio(
    df: DataFrame,
    group_col: str,
    num_col: str,
    den_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Delete-1 jackknife standard error for a per-group RATIO metric
    sum(num)/sum(den) (Quenouille/Tukey, public literature) — the
    honest uncertainty for revenue-per-unit / CTR-style metrics,
    where the naive per-row variance is simply wrong (the ratio is
    not a mean of rows). Closed form: the i-th pseudo-value is

        R_(i) = (S_y - y_i) / (S_x - x_i)

    so the whole jackknife is ONE pass — no resampling loop.

    Determinism contract: S_x, S_y are exact decimal(38,2) sums;
    every pseudo-value quantizes half-away to a micro integer via the
    decimal ``div`` discipline; the jackknife variance

        var_J = (n-1)/n * (sum R_(i)^2 - (sum R_(i))^2 / n)

    runs over exact micro sums, collapsing to double once. A group
    where any leave-one-out denominator hits zero has an undefined
    jackknife and reports NULL se (counted via n_defined).

    Output per group: ``(group, n, n_defined, ratio, se_jackknife)``,
    ordered by group.

    Scale: one groupBy for the sums, one broadcast join back (group
    sums are |groups|-sized), one map-side-combinable groupBy for the
    pseudo moments. No counterpart in the reference engine
    (SURVEY.md §2.2).
    """
    m = 1_000_000
    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(num_col).isNotNull()
        & F.col(den_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("__g"),
        # money-exact cents as integers: every later term is exact
        exact(F.col(num_col).cast("decimal(18,2)") * 100)
        .alias("__y"),
        exact(F.col(den_col).cast("decimal(18,2)") * 100)
        .alias("__x"),
    )
    sums = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("__n"),
        exact(F.sum("__y")).alias("__sy"),
        exact(F.sum("__x")).alias("__sx"),
    )
    j = base.join(F.broadcast(sums), "__g").withColumns(
        {
            "__lnum": exact(F.col("__sy") - F.col("__y")),
            "__lden": exact(F.col("__sx") - F.col("__x")),
        }
    )
    # half-away micro pseudo-value via exact integral decimal div;
    # the quotient (|R|*1e6) fits long for any sane ratio
    magnitude = F.expr(
        f"cast((2 * abs(__lnum) * {m} + abs(__lden)) div "
        "(2 * abs(__lden)) as long)"
    )
    sign = F.when(
        (F.col("__lnum") < 0) != (F.col("__lden") < 0), F.lit(-1)
    ).otherwise(F.lit(1))
    pseudo = j.select(
        "__g",
        "__n",
        "__sy",
        "__sx",
        F.when(F.col("__lden") != 0, sign * magnitude).alias("__r"),
    )
    agg = pseudo.groupBy(F.col("__g").alias("group")).agg(
        F.max("__n").alias("n"),
        F.sum(F.when(F.col("__r").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_defined"),
        exact(F.sum("__r")).alias("__sr"),
        exact(F.sum(exact("__r") * F.col("__r")))
        .alias("__srr"),
        F.max("__sy").alias("__sy"),
        F.max("__sx").alias("__sx"),
    )
    nn = F.col("n").cast("double")
    var_micro2 = (
        F.col("__srr").cast("double")
        - F.col("__sr").cast("double")
        * F.col("__sr").cast("double")
        / nn
    )
    se = F.sqrt(F.greatest((nn - 1.0) / nn * var_micro2, F.lit(0.0))) / m
    return agg.select(
        "group",
        "n",
        "n_defined",
        F.when(
            F.col("__sx").cast("double") != 0,
            F.round(
                F.col("__sy").cast("double")
                / F.col("__sx").cast("double"),
                ndigits,
            ),
        ).alias("ratio"),
        F.when(
            (F.col("n_defined") == F.col("n")) & (F.col("n") > 1),
            F.round(se, ndigits),
        ).alias("se_jackknife"),
    ).orderBy("group")

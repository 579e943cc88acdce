"""Pairwise-preference rating fits — the data side of preference
modeling (RLHF reward-model prep, tournament analysis, search
interleaving): given (item_a, item_b, a_wins) comparison outcomes,
fit per-item strengths.

Bradley-Terry via the MM algorithm (Hunter 2004, public):

    w_i <- W_i / sum_{j != i} n_ij / (w_i + w_j)

iterated a fixed number of rounds from w = 1, re-normalized to
sum(w) = k each round. Comparisons aggregate to the (a, b) PAIR
table first — item-pair cardinality, never comparison cardinality —
so the iteration runs on a model-sized table regardless of how many
billions of comparisons produced it.

Determinism: the pair/win counts are exact integers; each round's
per-item denominator folds in OPPONENT order and the normalizer in
item order (sorted-array aggregates — never a partition-order float
sum), and the strengths are re-quantized to 6dp micro after every
round, so the whole fit replays bit-for-bit on any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bradley_terry(
    df: DataFrame,
    a_col: str,
    b_col: str,
    a_wins_col: str,
    rounds: int = 3,
    ndigits: int = 6,
) -> DataFrame:
    """Fit Bradley-Terry strengths from a comparison table: one row
    per comparison with ``a_wins_col`` in {0, 1} (1 = ``a_col`` won).
    Ties are not modeled (drop or split them upstream, the standard
    conventions).

    Output per item: ``(item, n_comparisons, n_wins, strength)``
    with strength the 6dp micro-quantized MM fixed-point iterate
    after ``rounds`` rounds (sum of strengths = item count).

    Scale: ONE groupBy((a, b)) over the comparison stream (map-side
    combinable) collapses the data to item-pair rows; everything
    after lives on k items — the iteration is collect-free but every
    per-item reduction is a bounded sorted-array fold (opponent
    count <= k-1).
    """
    m1 = 10 ** ndigits
    a, b = F.col(a_col).cast("string"), F.col(b_col).cast("string")
    win = F.col(a_wins_col).cast("int")
    # canonical undirected pair stats: n_ab total, wins of the LOWER
    # item key
    lo = F.least(a, b)
    hi = F.greatest(a, b)
    lo_win = F.when(a < b, win).otherwise(1 - win)
    pairs = (
        df.filter(a != b)
        .groupBy(lo.alias("__lo"), hi.alias("__hi"))
        .agg(
            F.count("*").alias("__n"),
            F.sum(lo_win).alias("__wlo"),
        )
    )
    # directed view: (i, j, n_ij, wins_i)
    directed = pairs.select(
        F.col("__lo").alias("__i"),
        F.col("__hi").alias("__j"),
        F.col("__n"),
        F.col("__wlo").alias("__w"),
    ).unionByName(
        pairs.select(
            F.col("__hi").alias("__i"),
            F.col("__lo").alias("__j"),
            F.col("__n"),
            (F.col("__n") - F.col("__wlo")).alias("__w"),
        )
    )
    # stage the pair table ONCE: every MM round's join and the totals
    # below otherwise re-run the corpus-sized comparison groupBy (the
    # per-round cur checkpoint bounded the ITERATE's lineage but not
    # the pair table it joins — measured 3 extra corpus aggregations
    # per fit at sf0.1, ~2.1 s -> ~0.8 s construction)
    from .staging import stage

    directed = stage(directed, "bt_directed")
    totals = directed.groupBy("__i").agg(
        F.sum("__n").alias("n_comparisons"),
        F.sum("__w").alias("n_wins"),
    )
    cur = totals.select(
        "__i", F.lit(1 * m1).cast("long").alias("__s")
    )
    for rnd in range(int(rounds)):
        # denom_i = sum_j n_ij / (w_i + w_j), folded in OPPONENT order
        joined = (
            directed.join(
                cur.withColumnRenamed("__i", "__j")
                .withColumnRenamed("__s", "__sj"),
                "__j",
            )
            .join(cur, "__i")
        )
        denom = joined.groupBy("__i").agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__j"),
                            (
                                F.col("__n").cast("double")
                                / (
                                    (F.col("__s") + F.col("__sj"))
                                    / float(m1)
                                )
                            ).alias("__t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["__t"],
            ).alias("__d")
        )
        raw = totals.join(denom, "__i").select(
            "__i",
            (F.col("n_wins").cast("double") / F.col("__d")).alias(
                "__r"
            ),
        )
        # normalize to sum = k (item-ordered fold), then re-quantize
        norm = raw.agg(
            F.count("*").alias("__k"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("__i", "__r"))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["__r"],
            ).alias("__sum"),
        )
        cur = raw.crossJoin(F.broadcast(norm)).select(
            "__i",
            F.floor(
                F.col("__r")
                * F.col("__k")
                / F.col("__sum")
                * m1
                + 0.5
            )
            .cast("long")
            .alias("__s"),
        )
        # the iterate is k rows — checkpoint per round (the staging
        # discipline for iterative operators) or the join lineage
        # re-derives every earlier round inside every later one
        cur = stage(cur, f"bt_strength_r{rnd}")
    return (
        totals.join(cur, "__i")
        .select(
            F.col("__i").alias("item"),
            F.col("n_comparisons").cast("long").alias("n_comparisons"),
            F.col("n_wins").cast("long").alias("n_wins"),
            (F.col("__s") / float(m1)).alias("strength"),
        )
        .orderBy("item")
    )

"""Collaborative-filtering primitives: the Slope One rating predictor.

Slope One (Lemire & Maclachlan, SDM 2005, public literature) is the
classic "deviation" recommender: for a target item i and any other
item j, the average difference dev(i, j) = avg(r_ui - r_uj) over
co-rating users captures how much MORE users like i than j; a user
who hasn't rated i gets the support-weighted prediction

    pred(u, i) = sum_j c_ij * (dev(i, j) + r_uj) / sum_j c_ij

over the items j the user HAS rated. It beat far heavier models for
years and is the standard cheap baseline before matrix factorization.

Exactness contract: ratings quantize to exact integer cents; the
weighted form clears the per-pair division ENTIRELY —
c_ij * dev(i, j) is just the integer deviation SUM — so both the
numerator sum_j (sdiff_ij + c_ij * r_uj) and the denominator are
exact integers, and the prediction is ONE double division rounded at
``ndigits``; the top-N cut orders on that rounded double with a user
id tie-break.

Scale: one (user, item) rating aggregate, one keyed self-join on
user restricted to the target item's raters (the deviation census —
|items| is the bounded dimension), one broadcast of the |items|-row
deviation table, one groupBy(user). No all-pairs user work anywhere.

No counterpart in the reference engine (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import exact


def slope_one(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    target_item: str,
    top_n: int = 20,
    ndigits: int = 6,
) -> DataFrame:
    """Predict ``target_item`` ratings for users who have NOT rated
    it (see module docstring for semantics and exactness).

    Output: ``top_n`` rows ``(user, n_items_used, prediction)`` by
    (prediction desc, user); users with no usable co-rated item are
    absent.
    """
    r = ratings.filter(
        F.col(user_col).isNotNull()
        & F.col(item_col).isNotNull()
        & F.col(rating_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.col(item_col).alias("__i"),
        (F.col(rating_col).cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("__rc"),
    )
    tgt = r.filter(F.col("__i") == target_item).select(
        "__u", F.col("__rc").alias("__rt")
    )
    others = r.filter(F.col("__i") != target_item)
    # deviation census: one row per other item j
    dev = F.broadcast(
        others.join(tgt, "__u")
        .groupBy("__i")
        .agg(
            F.count("*").cast("long").alias("__c"),
            F.sum(F.col("__rt") - F.col("__rc")).cast("long").alias(
                "__sd"
            ),
        )
    )
    cold = others.join(tgt, "__u", "left_anti")
    scored = (
        cold.join(dev, "__i")
        .groupBy("__u")
        .agg(
            F.count("*").cast("long").alias("n_items_used"),
            exact(F.sum(F.col("__sd") + F.col("__c") * F.col("__rc")))
            .alias("__num"),
            F.sum("__c").cast("long").alias("__den"),
        )
    )
    pred = F.round(
        F.col("__num").cast("double")
        / F.col("__den").cast("double")
        / 100.0,
        ndigits,
    )
    return (
        scored.filter(F.col("__den") > 0)
        .withColumn("prediction", pred)
        .orderBy(F.desc("prediction"), F.asc("__u"))
        .limit(int(top_n))
        .select(F.col("__u").alias("user"), "n_items_used", "prediction")
    )

"""Product-similarity scorer (reference O9-O11).

The reference scores candidates against a target product with a
row-at-a-time Python loop (reference etl/orders_etl.py:94-147):

    score = 0.5*[goods_group ==] + 0.2*[manufacturer ==]
          + 0.3*(1 - |p_t - p_c| / max(p_t, p_c)),   rounded to 5 dp

**The reference's constant swap is intentional behavior**: the
manufacturer match adds PRICE_WEIGHT (0.2) and the price term is scaled
by MANUFACTURER_WEIGHT (0.3) — reference etl/orders_etl.py:140-145,
locked in by its golden test (tests/test_orders_etl.py:185-200). We
reproduce it exactly.

Here the scorer is pure column arithmetic over a broadcast 1-row target
(cross join) — whole-stage codegen, no UDF, no Python loop — so the same
operator scores 8 candidates or 8 billion.

:class:`DriverProducts` is the same score in numpy over a driver copy of
a small products frame, for point lookups that should start no Spark
job. It keeps Spark's float operation order and rounding, and returns
None (defer to :func:`similar_products`) wherever Spark's null, NaN or
ANSI divide-by-zero semantics would differ from numpy's.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

GROUP_WEIGHT = 0.5
PRICE_WEIGHT = 0.2  # added on manufacturer match (reference swap)
MANUFACTURER_WEIGHT = 0.3  # scales the price closeness term (reference swap)


def score_similarity(
    price: Column,
    goods_group: Column,
    manufacturer: Column,
    target_price: Column,
    target_group: Column,
    target_manufacturer: Column,
) -> Column:
    """The reference scoring expression as a single Column."""
    group_term = F.when(goods_group == target_group, F.lit(GROUP_WEIGHT)).otherwise(
        F.lit(0.0)
    )
    manu_term = F.when(
        manufacturer == target_manufacturer, F.lit(PRICE_WEIGHT)
    ).otherwise(F.lit(0.0))
    price_term = (
        F.lit(1.0) - F.abs(target_price - price) / F.greatest(target_price, price)
    ) * F.lit(MANUFACTURER_WEIGHT)
    return F.round(group_term + manu_term + price_term, 5)


def _round5(x: float) -> float:
    """Spark's ``round(double, 5)``: HALF_UP on the decimal string of the
    double. ``repr`` is that string: JDK 17's ``Double.toString`` gave
    the same digits for every 6-dp midpoint in [0, 1], the only doubles
    where the two could round differently (pinned by
    tests/test_similarity_fastpath.py)."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-5"), ROUND_HALF_UP))


def score_similarity_np(
    price: np.ndarray,
    goods_group: np.ndarray,
    manufacturer: np.ndarray,
    target_price: float,
    target_group: str,
    target_manufacturer: str,
) -> list[float]:
    """:func:`score_similarity` in numpy, for positive finite prices and
    a non-null target group and manufacturer: same weights, same float
    operation order ``(group + manu) + price``, same rounding."""
    group_term = np.where(goods_group == target_group, GROUP_WEIGHT, 0.0)
    manu_term = np.where(manufacturer == target_manufacturer, PRICE_WEIGHT, 0.0)
    price_term = (
        1.0 - np.abs(target_price - price) / np.maximum(target_price, price)
    ) * MANUFACTURER_WEIGHT
    return [_round5(x) for x in (group_term + manu_term) + price_term]


class DriverProducts:
    """A driver copy of a products frame (the ``similar_products``
    default columns): price, group and manufacturer arrays plus an
    id -> row position map, scored by :func:`score_similarity_np` with
    no Spark job."""

    def __init__(self, table: pa.Table):
        ids = table.column("product_id")
        valid = ids.is_valid()
        # a null id matches no candidate, as in the Spark ``isin``
        self.pos = dict(
            zip(
                ids.filter(valid).to_numpy().tolist(),
                np.flatnonzero(valid.to_numpy(zero_copy_only=False)).tolist(),
            )
        )
        self.price, self.goods_group, self.manufacturer = (
            table.column(c).to_numpy(zero_copy_only=False)
            for c in ("price", "goods_group", "manufacturer")
        )

    def similar(
        self, target_id: int, candidate_ids: list[int] | None
    ) -> dict[int, float] | None:
        """``{id: score}`` as ``similar_products(...).collect()`` gives it,
        or None where the Spark scorer must answer: a null, NaN,
        infinite or non-positive target or candidate price (Spark gives
        a null or NaN score, or raises DIVIDE_BY_ZERO under ANSI), or a
        null target group or manufacturer (null equality scores 0 in
        Spark, but ``None == None`` holds in numpy)."""
        t = self.pos.get(target_id)
        if t is None:
            return {}
        t_price = self.price[t]
        t_group, t_manu = self.goods_group[t], self.manufacturer[t]
        if t_group is None or t_manu is None or not (
            np.isfinite(t_price) and t_price > 0
        ):
            return None
        wanted = self.pos if candidate_ids is None else dict.fromkeys(candidate_ids)
        ids = [int(c) for c in wanted if c in self.pos]
        rows = np.array([self.pos[c] for c in ids], dtype=np.int64)
        price = self.price[rows]
        if not np.all(np.isfinite(price) & (price > 0)):
            return None
        scores = score_similarity_np(
            price, self.goods_group[rows], self.manufacturer[rows],
            t_price, t_group, t_manu,
        )
        return dict(zip(ids, scores))


def similar_products(
    products: DataFrame,
    target_id: int,
    candidate_ids: list[int] | None = None,
    id_col: str = "product_id",
    price_col: str = "price",
    group_col: str = "goods_group",
    manufacturer_col: str = "manufacturer",
) -> DataFrame:
    """Score candidates against ``target_id``; returns (id, score).

    The 1-row target is broadcast onto every candidate (BroadcastNested-
    LoopJoin of a single row — effectively free); candidates are a
    ``isin`` filter for short id lists, the whole table when None.
    """
    target = broadcast(
        products.filter(F.col(id_col) == target_id).select(
            F.col(price_col).alias("__t_price"),
            F.col(group_col).alias("__t_group"),
            F.col(manufacturer_col).alias("__t_manu"),
        )
    )
    cands = products
    if candidate_ids is not None:
        cands = cands.filter(F.col(id_col).isin(candidate_ids))
    return cands.crossJoin(target).select(
        F.col(id_col),
        score_similarity(
            F.col(price_col),
            F.col(group_col),
            F.col(manufacturer_col),
            F.col("__t_price"),
            F.col("__t_group"),
            F.col("__t_manu"),
        ).alias("score"),
    )


def top_k_similar(
    products: DataFrame, target_id: int, k: int = 10, id_col: str = "product_id", **kw
) -> DataFrame:
    """Scored top-k over the full table. ``orderBy(desc).limit(k)``
    compiles to TakeOrderedAndProject — per-partition heaps of size k,
    no global sort, no full shuffle."""
    scored = similar_products(products, target_id, candidate_ids=None, id_col=id_col, **kw)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)

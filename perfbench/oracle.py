"""Independent reference implementations the benchmark checks against.

- ``etl_oracle``: the orders pipeline in plain pandas (read -> repair and
  cast -> first-occurrence dedup -> clean names -> left join), written
  from the reference semantics, not from the package.
- ``frame_hash``: an order-insensitive value hash of a frame.
- ``score``: the FIXTURES.md F5 similarity formula, rounded to 5 dp the
  way Spark's ``round`` does (half up on the shortest decimal form).
"""

from __future__ import annotations

import html
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

ORDERS_COLS = [
    "order_source_id",
    "order_created_datetime",
    "customer_id",
    "status",
    "sum",
    "quantity",
    "name",
    "surname",
    "patronymic",
    "product_id",
]
PRODUCTS_COLS = ["product_id", "price", "goods_group", "manufacturer"]
OUTPUT_COLS = ORDERS_COLS + PRODUCTS_COLS[1:]

_VOWELS = "aoueiyаяєоуиіїе"
_BLANK = re.compile(
    rf"\d|\s|^(-)$|(^\w{{1}}$)|(^[{_VOWELS}]{{0,}}$)|(^[^{_VOWELS}]{{0,}}$)"
)
_DIGIT = re.compile(r"\d")

# FIXTURES.md F5: 8 products scored against target 516423
F5_PRODUCTS = [
    (536469, 749.0, "Для активного відпочинку", "Bugs"),
    (296597, 199.0, "Дитячі машинки", "CARS"),
    (385613, 199.0, "Ігрові фігурки", "CARS"),
    (516423, 219.0, "Дитячі машинки", "CARS"),
    (516425, 299.0, "Дитячі машинки", "CARS"),
    (427227, 329.0, "Дитячі машинки", "LENA"),
    (439541, 810.0, "Дитячі машинки", "LENA"),
    (528462, 219.0, "Дитячі машинки", "LENA"),
]
F5_TARGET = 516423
F5_GOLDEN = {
    536469: 0.08772,
    296597: 0.9726,
    385613: 0.4726,
    516423: 1.0,
    516425: 0.91973,
    427227: 0.6997,
    439541: 0.58111,
    528462: 0.8,
}


def clean_name(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return v
    v = _DIGIT.sub("", html.unescape(v).lower())
    return _BLANK.sub("", v)


def etl_oracle(orders_csv: str, products_csv: str) -> pd.DataFrame:
    orders = pd.read_csv(orders_csv, usecols=ORDERS_COLS, dtype=str)[ORDERS_COLS]
    products = pd.read_csv(products_csv, usecols=PRODUCTS_COLS, dtype=str)

    orders["sum"] = orders["sum"].str.replace(",", ".", regex=False).astype(float)
    orders["product_id"] = (
        orders["product_id"].str.replace(r"\D", "", regex=True).astype("int64")
    )
    for c in ("order_source_id", "customer_id", "quantity"):
        orders[c] = orders[c].astype("int64")
    orders["order_created_datetime"] = pd.to_datetime(orders["order_created_datetime"])
    orders = orders.drop_duplicates(subset=["order_source_id", "product_id"], keep="first")
    for c in ("name", "surname", "patronymic"):
        orders[c] = orders[c].map(clean_name)

    products["product_id"] = products["product_id"].astype("int64")
    products["price"] = products["price"].astype(float)
    products = products.drop_duplicates(subset="product_id", keep="first")
    return orders.merge(products, how="left", on="product_id")[OUTPUT_COLS]


def _canonical(col: pd.Series) -> pd.Series:
    if isinstance(col.dtype, pd.DatetimeTZDtype):
        col = col.dt.tz_convert(None)
    if pd.api.types.is_datetime64_any_dtype(col):
        return col.astype("datetime64[ns]").astype("int64").astype("float64")
    if pd.api.types.is_numeric_dtype(col):
        return col.astype("float64").round(6)
    return col.astype(object).where(col.notna(), "")


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of the values: columns by name, floats to
    6 dp, nulls as a separate mask column (so null and '' differ), one
    64-bit hash per row, summed modulo 2**64 with the row count."""
    canon = pd.DataFrame({
        k: v
        for c in sorted(df.columns)
        for k, v in ((c, _canonical(df[c])), (c + "#null", df[c].isna()))
    })
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return f"{len(df)}:{int(rows.sum(dtype=np.uint64)):016x}"


def round5(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-5"), rounding=ROUND_HALF_UP))


def raw_scores(price: np.ndarray, group: np.ndarray, manu: np.ndarray,
               t_price: float, t_group: str, t_manu: str) -> np.ndarray:
    """F5 before rounding, in the same order of float operations as the
    Spark expression: (group + manufacturer) + price closeness."""
    g = np.where(group == t_group, 0.5, 0.0)
    m = np.where(manu == t_manu, 0.2, 0.0)
    p = (1.0 - np.abs(t_price - price) / np.maximum(t_price, price)) * 0.3
    return (g + m) + p


def score(products: dict, target: int, candidate: int) -> float:
    t_price, t_group, t_manu = products[target]
    c_price, c_group, c_manu = products[candidate]
    raw = raw_scores(np.array([c_price]), np.array([c_group]), np.array([c_manu]),
                     t_price, t_group, t_manu)[0]
    return round5(raw)


def top_k(products: dict, target: int, k: int) -> list[tuple[int, float]]:
    """Top ``k`` rounded scores over all products, ties by id ascending."""
    ids = np.fromiter(products, dtype=np.int64, count=len(products))
    vals = list(products.values())
    price = np.array([v[0] for v in vals])
    group = np.array([v[1] for v in vals], dtype=object)
    manu = np.array([v[2] for v in vals], dtype=object)
    t_price, t_group, t_manu = products[target]
    raw = raw_scores(price, group, manu, t_price, t_group, t_manu)
    # rounding never moves a score by more than 5e-6, so the top k by
    # rounded score lie among the raw scores within 1e-5 of the k-th
    cut = np.sort(raw)[-k] - 1e-5 if len(raw) >= k else -np.inf
    pool = np.flatnonzero(raw >= cut)
    ranked = sorted(((round5(raw[i]), int(ids[i])) for i in pool), key=lambda t: (-t[0], t[1]))
    return [(i, s) for s, i in ranked[:k]]

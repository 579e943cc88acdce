"""Full-frame e2e parity: the Spark pipeline output must equal an
independent pandas implementation of the reference semantics
(reference etl/orders_etl.py:70-116) row for row, value for value.

The pandas implementation is the benchmark's ``perfbench/oracle.py::
etl_oracle``; it is checked against the reference input files and
against ``perfbench/gen.py`` data written at fixed seeds, so the parity
check runs on a host without the reference files too."""

import pandas as pd
import pytest

from perfbench.gen import write_dataset
from perfbench.oracle import etl_oracle

ORDERS_CSV = "/root/reference/input_data/orders_s.csv"
PRODUCTS_CSV = "/root/reference/input_data/products_s.csv"


def _none_for_null(df: pd.DataFrame) -> pd.DataFrame:
    """Every null in an object column as None. Spark's toPandas gives
    None where the pandas oracle gives NaN; both mean SQL null, and
    assert_frame_equal is to compare them as one value, not through
    its deprecated leniency for mismatched null-likes."""
    obj = df.select_dtypes("object").columns
    return df.assign(**{c: df[c].where(df[c].notna(), None) for c in obj})


def _assert_same_frame(got: pd.DataFrame, exp: pd.DataFrame):
    assert list(got.columns) == list(exp.columns)
    key = ["order_source_id", "product_id"]
    got = _none_for_null(got.sort_values(key).reset_index(drop=True))
    exp = _none_for_null(exp.sort_values(key).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def _assert_pipeline_parity(spark, orders_csv: str, products_csv: str):
    from etl_orders_to_bq_spark.pipeline import OrdersEtl

    got = OrdersEtl(spark, orders_csv, products_csv).process().toPandas()
    _assert_same_frame(got, etl_oracle(orders_csv, products_csv))
    return got


def test_parity_check_tells_null_from_value():
    """The null normalization keeps the check strict: None against NaN
    passes, a null against a value fails either way round."""
    got = pd.DataFrame({
        "order_source_id": [1, 2], "product_id": [10, 20],
        "patronymic": ["Ivanovich", None], "price": [1.5, None],
    })
    exp = got.astype({"patronymic": object}).assign(
        patronymic=["Ivanovich", float("nan")]
    )
    _assert_same_frame(got, exp)
    for col, row, value in [
        ("patronymic", 1, "Petrovich"),  # null -> value
        ("patronymic", 0, float("nan")),  # value -> null
        ("price", 1, 2.0),
        ("price", 0, float("nan")),
    ]:
        changed = exp.copy()
        changed.loc[row, col] = value
        with pytest.raises(AssertionError):
            _assert_same_frame(got, changed)


def test_full_frame_parity(spark):
    _assert_pipeline_parity(spark, ORDERS_CSV, PRODUCTS_CSV)


@pytest.mark.parametrize("seed", [3, 17])
def test_generated_frame_parity(spark, tmp_path, seed):
    ds = write_dataset(tmp_path, seed, n_orders=2000, n_products=500)
    got = _assert_pipeline_parity(spark, ds.orders_csv, ds.products_csv)
    assert len(got) == ds.truth["output_rows"]


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join == pd.merge_asof (backward, inclusive) on random data."""
    import numpy as np

    from etl_orders_to_bq_spark.operators.temporal import asof_join

    rng = np.random.RandomState(7)
    left = pd.DataFrame(
        {
            "id": range(300),
            "k": rng.randint(0, 5, 300),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.randint(0, 10**6, 300), unit="s"),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 100),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.randint(0, 10**6, 100), unit="s"),
            "v": rng.rand(100).round(4),
        }
    )
    # merge_asof requires sorted inputs; drop duplicate (k, ts) on the
    # right so "latest at tie" is well-defined on both engines
    right = right.drop_duplicates(subset=["k", "ts"]).sort_values("ts")
    left_sorted = left.sort_values("ts")

    exp = pd.merge_asof(
        left_sorted, right, on="ts", by="k", direction="backward"
    ).sort_values("id")

    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on="k",
            left_ts="ts",
            right_ts="ts",
            value_cols=["v"],
        )
        .toPandas()
        .sort_values("id")
    )
    assert list(got["v"].fillna(-1)) == list(exp["v"].fillna(-1))

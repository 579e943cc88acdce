"""Twin tests for ``find_similar_products``'s numpy path against the Spark
path: the same lookup on an ``OrdersEtl`` whose snapshot fits
``spark.sql.autoBroadcastJoinThreshold`` (driver copy, numpy scorer) and
on one built with the threshold at -1 (Spark scorer only) must return
identical dicts — the two-configuration equality of spark-rapids'
``assert_gpu_and_cpu_are_equal_collect``."""

import math
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from etl_orders_to_bq_spark.operators.similarity import (
    DriverProducts,
    _round5,
    similar_products,
)
from etl_orders_to_bq_spark.pipeline import OrdersEtl

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
ORDERS = (
    ",order_source_id,order_created_datetime,customer_id,status,sum,"
    "quantity,name,surname,patronymic,product_id\n"
    "0,11,2019-04-28T18:20:05,1,Paid,100.5,1,Іван,Петренко,,1\n"
)
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


@contextmanager
def _threshold(spark, value: str):
    prev = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, prev)


def _csv_field(v) -> str:
    return "" if v is None else str(v)


def _etl(spark, tmp_path, rows, name="products") -> OrdersEtl:
    orders = tmp_path / "orders.csv"
    orders.write_text(ORDERS)
    products = tmp_path / f"{name}.csv"
    products.write_text(
        "product_id,price,goods_group,manufacturer\n"
        + "".join(",".join(map(_csv_field, r)) + "\n" for r in rows)
    )
    etl = OrdersEtl(spark, str(orders), str(products), table_name=str(tmp_path / "out"))
    etl.process()
    return etl


def _same(a: dict, b: dict) -> bool:
    """Dict equality where NaN equals NaN."""
    return a.keys() == b.keys() and all(
        a[k] == b[k] or (math.isnan(a[k]) and math.isnan(b[k])) for k in a
    )


def _jobs(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _twin_etls(spark, tmp_path, rows):
    fast = _etl(spark, tmp_path, rows, "fast")
    with _threshold(spark, "-1"):
        spark_only = _etl(spark, tmp_path, rows, "spark_only")
        spark_only._lookup_products()
    fast._lookup_products()
    assert fast._products_local is not None
    assert spark_only._products_local is None
    return fast, spark_only


def test_f5_golden_twin_and_no_job_per_lookup(spark, tmp_path):
    """FIXTURES.md F5 through both paths; once the snapshot is staged, a
    numpy lookup starts no Spark job."""
    fast, spark_only = _twin_etls(spark, tmp_path, F5_PRODUCTS)
    ids = [p for p, *_ in F5_PRODUCTS]
    assert spark_only.find_similar_products(516423, ids) == F5_GOLDEN
    before = _jobs(spark)
    got = fast.find_similar_products(516423, ids)
    assert _jobs(spark) == before
    assert got == F5_GOLDEN
    assert fast._products_local.similar(516423, ids) == F5_GOLDEN


def test_generated_catalogs_twin(spark, tmp_path):
    """Seeded catalogs with tied prices, null candidate groups and
    manufacturers, and duplicated product ids (first row kept);
    lookups with duplicate candidate ids, missing candidates and a
    missing target."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(60):
        pid = int(rng.integers(1, 40))  # about a third are duplicates
        rows.append((
            pid,
            float(rng.choice([10.0, 19.99, 20.0, 250.0, 999.5])),
            rng.choice(["A", "B", None]),
            rng.choice(["X", "Y", None]),
        ))
    # every target has a non-null group and manufacturer here
    rows.insert(0, (1, 20.0, "A", "X"))
    rows.insert(1, (2, 250.0, "B", "Y"))
    fast, spark_only = _twin_etls(spark, tmp_path, rows)
    lookups = [
        (1, list(range(1, 45))),
        (2, [3, 3, 5, 5, 99, 2]),
        (1, []),
        (1000, [1, 2, 3]),  # missing target
    ]
    for _ in range(6):
        target = int(rng.choice([1, 2]))
        lookups.append((target, [int(c) for c in rng.integers(0, 50, 15)]))
    for target, cands in lookups:
        want = spark_only.find_similar_products(target, cands)
        assert fast._products_local.similar(target, cands) is not None
        assert fast.find_similar_products(target, cands) == want, (target, cands)
    assert fast.find_similar_products(1000, [1, 2]) == {}


@pytest.mark.parametrize(
    "rows, target, cands",
    [
        # null, NaN, infinite and non-positive candidate prices
        ([(1, 100.0, "G", "M"), (2, None, "G", "M"), (3, 50.0, "H", "N")], 1, [2, 3]),
        ([(1, 100.0, "G", "M"), (2, "NaN", "G", "M"), (3, 50.0, "H", "N")], 1, [2, 3]),
        ([(1, 100.0, "G", "M"), (2, "Infinity", "G", "M")], 1, [1, 2]),
        ([(1, 100.0, "G", "M"), (2, 0.0, "G", "M"), (3, -40.0, "G", "N")], 1, [2, 3]),
        # null, NaN and non-positive target prices
        ([(1, None, "G", "M"), (2, 80.0, "G", "M")], 1, [1, 2]),
        ([(1, "NaN", "G", "M"), (2, 80.0, "G", "M")], 1, [1, 2]),
        ([(1, -10.0, "G", "M"), (2, -10.0, "G", "M"), (3, 5.0, "H", "M")], 1, [2, 3]),
        # null target group / manufacturer: Spark's null equality scores 0
        ([(1, 100.0, None, "M"), (2, 80.0, None, "M")], 1, [1, 2]),
        ([(1, 100.0, "G", None), (2, 80.0, "G", None)], 1, [1, 2]),
    ],
)
def test_deferred_cases_twin(spark, tmp_path, rows, target, cands):
    """Every case the numpy scorer defers answers as the Spark path does."""
    fast, spark_only = _twin_etls(spark, tmp_path, rows)
    assert fast._products_local.similar(target, cands) is None
    assert _same(
        fast.find_similar_products(target, cands),
        spark_only.find_similar_products(target, cands),
    )


def test_zero_prices_raise_on_both_paths(spark, tmp_path):
    """Both prices 0: ANSI DIVIDE_BY_ZERO from the Spark path, whichever
    path the lookup starts on."""
    fast, spark_only = _twin_etls(
        spark, tmp_path, [(1, 0.0, "G", "M"), (2, 0.0, "G", "M")]
    )
    for etl in (fast, spark_only):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            etl.find_similar_products(1, [2])


def test_snapshot_job_names_its_branch(spark, tmp_path):
    """The staging job's description says which branch the lookup took,
    with the size and the threshold, and the caller's description is
    restored afterwards."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def descriptions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        lst = store.executionsList(max(n - 5, 0), 5)
        return [lst.apply(i).description() for i in range(lst.size())]

    sc.setJobDescription("caller")
    try:
        _etl(spark, tmp_path, F5_PRODUCTS, "fast").find_similar_products(516423, [296597])
        assert sc.getLocalProperty("spark.job.description") == "caller"
        fast = [d for d in descriptions() if d.startswith("OrdersEtl products snapshot")]
        with _threshold(spark, "-1"):
            _etl(spark, tmp_path, F5_PRODUCTS, "slow").find_similar_products(516423, [296597])
        slow = [d for d in descriptions() if d.startswith("OrdersEtl products snapshot")]
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert fast and fast[-1].startswith(
        "OrdersEtl products snapshot: driver copy kept, sizeInBytes "
    )
    assert fast[-1].endswith(f"<= {THRESHOLD} {64 * 1024 * 1024}")
    assert slow[-1].startswith("OrdersEtl products snapshot: Spark scorer, sizeInBytes ")
    assert slow[-1].endswith(f"> {THRESHOLD} -1")


def test_round5_matches_spark_on_every_midpoint(spark):
    """``_round5`` rounds from Python's ``repr``; Spark rounds from JDK
    ``Double.toString``. They can disagree only on a double nearest to a
    6-dp midpoint (x.xxxxx5), so check all 100,000 of them in [0, 1],
    the range of every score the numpy path computes."""
    df = spark.range(100_000).select(
        F.format_string("0.%06d", F.col("id") * 10 + 5).cast("double").alias("x")
    )
    t = df.select("x", F.round("x", 5).alias("r")).toArrow()
    xs, rs = t.column("x").to_pylist(), t.column("r").to_pylist()
    assert [_round5(x) for x in xs] == rs


def test_numpy_scorer_matches_spark_hypothesis(spark):
    """Property (hypothesis catalogs of prices and groups, ties and
    deferral values included): wherever the numpy scorer answers, it
    equals ``similar_products``; where it defers, a deferral condition
    holds."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    positive = st.one_of(
        st.floats(min_value=1e-3, max_value=1e6, allow_nan=False),
        st.sampled_from([1.0, 19.99, 20.0, 219.0, 749.0]),
    )
    price = st.one_of(positive, positive, positive, st.sampled_from([None, 0.0, -5.0, math.nan]))
    label = st.sampled_from(["a", "b", "c", None])
    row = st.tuples(price, label, label)

    @settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(row, min_size=1, max_size=12), st.data())
    def check(rows, data):
        ids = list(range(1, len(rows) + 1))
        table = pa.table({
            "product_id": ids,
            "price": pa.array([p for p, _, _ in rows], pa.float64(), from_pandas=False),
            "goods_group": pa.array([g for _, g, _ in rows], pa.string()),
            "manufacturer": pa.array([m for _, _, m in rows], pa.string()),
        })
        target = data.draw(st.sampled_from(ids))
        cands = data.draw(st.lists(st.integers(0, len(rows) + 1), max_size=8))
        fast = DriverProducts(table).similar(target, cands)
        t_price, t_group, t_manu = rows[target - 1]
        if fast is None:
            prices = [t_price] + [rows[c - 1][0] for c in cands if 1 <= c <= len(rows)]
            assert t_group is None or t_manu is None or not all(
                p is not None and math.isfinite(p) and p > 0 for p in prices
            )
            return
        df = spark.createDataFrame(
            [(i, *r) for i, r in zip(ids, rows)],
            "product_id long, price double, goods_group string, manufacturer string",
        )
        want = {
            int(r["product_id"]): r["score"]
            for r in similar_products(df, target, cands).collect()
        }
        assert fast == want, (rows, target, cands)

    check()

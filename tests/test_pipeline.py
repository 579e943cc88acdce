"""End-to-end pipeline tests against the reference's shipped inputs
(/root/reference/input_data — read-only, read is fine) plus golden join
and dtype assertions ported from reference tests/test_orders_etl.py.
"""

import pytest
from pyspark.sql import functions as F

from etl_orders_to_bq_spark.pipeline import OrdersEtl

ORDERS_CSV = "/root/reference/input_data/orders_s.csv"
PRODUCTS_CSV = "/root/reference/input_data/products_s.csv"


@pytest.fixture(scope="module")
def etl(spark):
    e = OrdersEtl(spark, ORDERS_CSV, PRODUCTS_CSV)
    e.process()
    return e


def test_output_schema(etl):
    """FIXTURES.md F6: post-cast engine types."""
    fields = dict(etl.orders_df.dtypes)
    assert fields["order_source_id"] == "bigint"
    assert fields["order_created_datetime"] == "timestamp"
    assert fields["customer_id"] == "bigint"
    assert fields["status"] == "string"
    assert fields["sum"] == "double"
    assert fields["quantity"] == "bigint"
    assert fields["product_id"] == "bigint"
    pfields = dict(etl.products_df.dtypes)
    assert pfields == {
        "product_id": "bigint",
        "price": "double",
        "goods_group": "string",
        "manufacturer": "string",
    }


def test_dedup_counts(etl):
    """BASELINE.md: 2502 raw order rows, 687 duplicated key pairs ->
    deduped row count equals distinct key-pair count."""
    n = etl.orders_df.count()
    distinct_keys = (
        etl.orders_df.select("order_source_id", "product_id").distinct().count()
    )
    assert n == distinct_keys
    # pandas-oracle golden: drop_duplicates over the repaired keys keeps
    # 1499 of 2502 raw rows (1003 dropped; 687 distinct keys had dupes)
    assert n == 1499


def test_join_preserves_orders_and_fills_nulls(etl):
    out = etl.output_df
    assert out.count() == etl.orders_df.count()
    # probe-side misses -> null product attrs (reference golden test
    # tests/test_orders_etl.py:133-140 expects NaN fills)
    misses = out.filter(F.col("price").isNull()).count()
    joined = out.filter(F.col("price").isNotNull()).count()
    assert misses + joined == out.count()
    assert joined > 0
    # reference column order: orders cols (key stays in place) ++ attrs
    assert out.columns == [
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
        "price",
        "goods_group",
        "manufacturer",
    ]


def test_first_occurrence_semantics(etl, spark, tmp_path):
    """For a key duplicated in the raw file, the kept row must be the
    first in file order — cross-check one duplicated key against a raw
    all-string read with ingest order. The shipped reference fixture
    has no duplicated key whose 'sum' values DIFFER (its dupes are
    whole-row copies), so that case is pinned with a synthetic CSV in
    the same raw format instead of being skipped."""
    from etl_orders_to_bq_spark.schemas import ORDERS_COLUMNS, ORDERS_RAW_SCHEMA
    from etl_orders_to_bq_spark.sources.csv import read_csv_raw

    raw = read_csv_raw(
        spark, ORDERS_CSV, ORDERS_RAW_SCHEMA, ORDERS_COLUMNS, with_ingest_order=True
    )
    # pick one key pair with >1 raw rows and differing 'sum' values
    from etl_orders_to_bq_spark.functions.repair import strip_non_digits

    keyed = raw.withColumn("pid", strip_non_digits("product_id").cast("long"))
    dupe = (
        keyed.groupBy("order_source_id", "pid")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("sum").alias("nsum"),
        )
        .filter((F.col("n") > 1) & (F.col("nsum") > 1))
        .first()
    )
    if dupe is None:
        # same header/format as the reference CSV: one key, three rows,
        # three distinct sums — first-in-file (77,7) must win
        csv = tmp_path / "dupes.csv"
        header = (
            ",order_source_id,order_created_datetime,customer_id,"
            "status,sum,quantity,name,surname,patronymic,product_id"
        )
        rows = [
            "1,42,2023-01-01T10:00:00,7,Paid,77.7,1,anna,ivanova,,516423",
            "2,42,2023-01-01T11:00:00,7,Paid,88.8,1,anna,ivanova,,516423",
            "3,42,2023-01-01T12:00:00,7,Paid,99.9,1,anna,ivanova,,516423",
            "4,43,2023-01-02T10:00:00,8,Paid,11.1,2,olha,petrenko,,296597",
        ]
        csv.write_text("\n".join([header] + rows) + "\n")
        e2 = OrdersEtl(spark, str(csv), PRODUCTS_CSV)
        e2.process()
        kept = e2.orders_df.filter(
            (F.col("order_source_id") == 42)
            & (F.col("product_id") == 516423)
        ).collect()
        assert len(kept) == 1
        assert kept[0]["sum"] == 77.7
        return
    first_raw = (
        keyed.filter(
            (F.col("order_source_id") == dupe["order_source_id"])
            & (F.col("pid") == dupe["pid"])
        )
        .orderBy("__ingest_order")
        .first()
    )
    kept = (
        etl.orders_df.filter(
            (F.col("order_source_id") == int(dupe["order_source_id"]))
            & (F.col("product_id") == dupe["pid"])
        )
        .first()
    )
    assert kept["sum"] == float(first_raw["sum"].replace(",", "."))


def test_find_similar_products_golden(spark):
    """Reference tests/test_orders_etl.py:148-200 golden scores
    (FIXTURES.md F5) — locks in the weight swap."""
    products = spark.createDataFrame(
        [
            (536469, 749.0, "Для активного відпочинку", "Bugs"),
            (296597, 199.0, "Дитячі машинки", "CARS"),
            (385613, 199.0, "Ігрові фігурки", "CARS"),
            (516423, 219.0, "Дитячі машинки", "CARS"),  # target (identity=1)
            (516425, 299.0, "Дитячі машинки", "CARS"),
            (427227, 329.0, "Дитячі машинки", "LENA"),
            (439541, 810.0, "Дитячі машинки", "LENA"),
            (528462, 219.0, "Дитячі машинки", "LENA"),
        ],
        ["product_id", "price", "goods_group", "manufacturer"],
    )
    from etl_orders_to_bq_spark.operators.similarity import similar_products

    got = {
        int(r["product_id"]): float(r["score"])
        for r in similar_products(products, 516423, None).collect()
    }
    golden = {
        536469: 0.08772,
        296597: 0.9726,
        385613: 0.4726,
        516423: 1.0,
        516425: 0.91973,
        427227: 0.6997,
        439541: 0.58111,
        528462: 0.8,
    }
    assert got == golden


def test_write_parquet_roundtrip(etl, tmp_path, spark):
    target = str(tmp_path / "out.parquet")
    etl.write(target, if_exists="replace")
    back = spark.read.parquet(target)
    assert back.count() == etl.output_df.count()
    assert set(back.columns) == set(etl.output_df.columns)


def test_first_occurrence_semantics_synthetic(spark, tmp_path):
    """End-to-end OrdersEtl drive on a synthetic CSV where duplicated
    keys DO differ in 'sum' (the shipped reference CSV never does, so
    the file-order choice is unobservable there): the kept row must be
    the first in file order, through the full pipeline."""
    from etl_orders_to_bq_spark.pipeline import OrdersEtl

    orders = tmp_path / "orders.csv"
    orders.write_text(
        ",order_source_id,order_created_datetime,customer_id,status,sum,"
        "quantity,name,surname,patronymic,product_id\n"
        "0,11,2019-04-28T18:20:05,1,Paid,100.5,1,Іван,Петренко,,42\n"
        "1,11,2019-04-28T18:21:05,1,Paid,999.9,1,Іван,Петренко,,42\n"
        "2,12,2019-04-28T18:22:05,77,Paid,7,2,Олег,Шевченко,,42c\n"
        "3,12,2019-04-28T18:23:05,77,Failed,8,2,Олег,Шевченко,,42\n"
    )
    products = tmp_path / "products.csv"
    products.write_text(
        "product_id,price,goods_group,manufacturer\n42,10.0,G,M\n"
    )
    etl = OrdersEtl(
        spark, str(orders), str(products), table_name=str(tmp_path / "out")
    )
    out = {r["order_source_id"]: r for r in etl.process().collect()}
    assert len(out) == 2
    assert out[11]["sum"] == 100.5  # first in file order kept
    # dirty id '42c' repaired to 42 BEFORE dedup: row 2 is the keeper
    assert out[12]["sum"] == 7.0
    assert out[12]["price"] == 10.0  # and it still joins the dim


def test_lookup_snapshot_synthetic(spark, tmp_path):
    """Lookups read one products snapshot staged at the first lookup:
    the same scores and top-k as the lazy frame (a duplicated id keeps
    its first row, a candidate with no product is absent), no CSV scan
    left in the plan, and ``process()`` again reads a rewritten file."""
    from etl_orders_to_bq_spark.operators.similarity import (
        similar_products,
        top_k_similar,
    )
    from etl_orders_to_bq_spark.plans.inspect import scan_info

    orders = tmp_path / "orders.csv"
    orders.write_text(
        ",order_source_id,order_created_datetime,customer_id,status,sum,"
        "quantity,name,surname,patronymic,product_id\n"
        "0,11,2019-04-28T18:20:05,1,Paid,100.5,1,Іван,Петренко,,2\n"
    )
    products = tmp_path / "products.csv"
    products.write_text(
        "product_id,price,goods_group,manufacturer\n"
        "1,100.0,G,M\n"
        "2,80.0,G,M\n"
        "2,500.0,H,N\n"  # duplicated id: the first row is kept
        "3,120.0,H,M\n"
        "4,100.0,G,N\n"
    )
    etl = OrdersEtl(
        spark, str(orders), str(products), table_name=str(tmp_path / "out")
    )
    etl.process()
    lazy = etl.products_df
    assert scan_info(lazy)  # the lazy frame scans the CSV

    cands = [1, 2, 3, 4, 99]  # 99 has no product
    want = {
        int(r["product_id"]): float(r["score"])
        for r in similar_products(lazy, 1, cands).collect()
    }
    want_top = [tuple(r) for r in top_k_similar(lazy, 1, k=3).collect()]

    got = etl.find_similar_products(1, cands)
    assert got == want
    assert got == pytest.approx({1: 1.0, 2: 0.94, 3: 0.45, 4: 0.8})
    assert etl._products_local is not None  # 5 rows: a driver copy is kept
    assert etl.products_df is not lazy
    assert scan_info(etl.products_df) == []
    assert [tuple(r) for r in etl.top_k_similar(1, k=3).collect()] == want_top
    assert [
        tuple(r) for r in top_k_similar(etl.products_df, 1, k=3).collect()
    ] == want_top
    assert [r[0] for r in want_top] == [1, 2, 4]

    products.write_text(
        "product_id,price,goods_group,manufacturer\n1,100.0,G,M\n2,50.0,G,M\n"
    )
    assert etl.find_similar_products(1, [2]) == {2: got[2]}  # still the snapshot
    etl.process()
    assert etl._products_local is None  # the driver copy goes with it
    assert etl.find_similar_products(1, [2, 3]) == pytest.approx({2: 0.85})
    assert scan_info(etl.products_df) == []


def test_find_similar_products_null_price_scores_nan(spark, tmp_path):
    """A candidate with a null price scores NaN, as the reference's
    pandas arithmetic gives, instead of crashing the dict shim on
    Spark's null score."""
    import math

    orders = tmp_path / "orders.csv"
    orders.write_text(
        ",order_source_id,order_created_datetime,customer_id,status,sum,"
        "quantity,name,surname,patronymic,product_id\n"
        "0,11,2019-04-28T18:20:05,1,Paid,100.5,1,Іван,Петренко,,2\n"
    )
    products = tmp_path / "products.csv"
    products.write_text(
        "product_id,price,goods_group,manufacturer\n"
        "1,100.0,G,M\n2,,G,M\n3,50.0,H,N\n"
    )
    etl = OrdersEtl(
        spark, str(orders), str(products), table_name=str(tmp_path / "out")
    )
    etl.process()
    got = etl.find_similar_products(1, [2, 3])
    assert got.keys() == {2, 3}
    assert math.isnan(got[2])
    assert got[3] == 0.15


def test_run_cli_counts_rows_in_the_write_pass(
    spark, tmp_path, monkeypatch, capsys
):
    """run.main prints the row count it wrote, counted in the write pass:
    it starts exactly the SQL executions of process() + write(), not one
    more for a separate count() that re-runs the lazy pipeline."""
    from bench import _newest_sql_execution
    from etl_orders_to_bq_spark import run

    orders = tmp_path / "orders.csv"
    orders.write_text(
        ",order_source_id,order_created_datetime,customer_id,status,sum,"
        "quantity,name,surname,patronymic,product_id\n"
        "0,11,2019-04-28T18:20:05,1,Paid,100.5,1,Ivan,Petrenko,,2\n"
        "1,11,2019-04-28T18:20:05,1,Paid,100.5,1,Ivan,Petrenko,,2\n"
        "2,12,2019-04-29T10:00:00,2,New,7,2,Olha,Ivanenko,,1\n"
    )
    products = tmp_path / "products.csv"
    products.write_text(
        "product_id,price,goods_group,manufacturer\n1,100.0,G,M\n2,80.0,G,M\n"
    )
    monkeypatch.setattr(run, "get_spark", lambda **_: spark)
    out = tmp_path / "out"
    before = _newest_sql_execution(spark)
    assert run.main(
        ["--orders", str(orders), "--products", str(products),
         "--table", str(out)]
    ) == 0
    main_execs = _newest_sql_execution(spark) - before
    written = spark.read.parquet(str(out)).count()
    assert written == 2
    assert capsys.readouterr().out == f"wrote {written} rows to {out}\n"

    etl = OrdersEtl(
        spark, str(orders), str(products), table_name=str(tmp_path / "o2")
    )
    before = _newest_sql_execution(spark)
    etl.process()
    etl.write()
    assert main_execs == _newest_sql_execution(spark) - before


def test_corpus_durable_staging_identical(spark, tmp_path):
    """build_training_corpus under a durable spark.graft.stagingDir must
    produce the identical chunk set as the in-memory staging path."""
    from etl_orders_to_bq_spark.operators.staging import durable_staging
    from etl_orders_to_bq_spark.pipeline.corpus import build_training_corpus
    from etl_orders_to_bq_spark.sources.parquet import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    mem = build_training_corpus(docs, lang="en", min_quality=0.5)
    with durable_staging(spark, str(tmp_path / "stage")):
        dur = build_training_corpus(docs, lang="en", min_quality=0.5)
    key = ["doc_id", "chunk_idx", "chunk_text", "n_tokens"]
    mem_rows = {tuple(r[k] for k in key) for r in mem.collect()}
    dur_rows = {tuple(r[k] for k in key) for r in dur.collect()}
    assert dur_rows == mem_rows and len(dur_rows) > 0
    assert list((tmp_path / "stage").glob("corpus_exact_*"))

"""Executable entry point — parity with the reference's ``etl/run.py``
(orders+products CSV -> processed table -> sink, plus a similarity
lookup example), generalized to any sink the engine supports.

Usage::

    python -m etl_orders_to_bq_spark.run \
        --orders input_data/orders_s.csv \
        --products input_data/products_s.csv \
        --table /tmp/orders_out            # path (parquet/csv) or
                                           # dataset.table (bigquery)
        --sink-format parquet --if-exists replace
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from .operators.quality import observed_write
from .pipeline import OrdersEtl
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--orders", required=True, help="orders CSV path")
    ap.add_argument("--products", required=True, help="products CSV path")
    ap.add_argument("--table", required=True, help="sink target")
    ap.add_argument(
        "--sink-format",
        default="parquet",
        choices=["parquet", "csv", "bigquery"],
    )
    ap.add_argument(
        "--if-exists", default="replace", choices=["replace", "append", "fail"]
    )
    ap.add_argument(
        "--similar-to",
        type=int,
        default=None,
        help="optional product id: print its top-10 similar products",
    )
    args = ap.parse_args(argv)

    spark = get_spark(app_name="orders-etl")
    etl = OrdersEtl(
        spark,
        args.orders,
        args.products,
        table_name=args.table,
        sink_format=args.sink_format,
    )
    # counted in the write pass: a separate count() would re-run the
    # lazy pipeline (CSV scans, dedup shuffle)
    rows = observed_write(
        etl.process(), args.table, {"rows": F.count(F.lit(1))},
        fmt=args.sink_format, if_exists=args.if_exists,
    )["rows"]
    print(f"wrote {rows} rows to {args.table}")

    if args.similar_to is not None:
        for row in etl.top_k_similar(args.similar_to, k=10).collect():
            print(f"{row['product_id']}\t{row['score']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

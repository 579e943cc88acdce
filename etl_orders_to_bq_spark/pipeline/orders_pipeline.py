"""Orders ETL pipeline facade.

Mirrors the reference's public API — ``process()``, ``write()``,
``find_similar_products()`` (reference etl/orders_etl.py:70-116,
etl/run.py:3-16) — over a lazy Spark core. Where the reference eagerly
materializes a pandas frame per step, here each step extends one
Catalyst logical plan; nothing runs until the sink or a collect.

Plan shape (and why it scales):
  scan(csv, all-string schema, projected)        -- pruning pushed down
    -> repair+cast projections                   -- codegen, no shuffle
    -> first-occurrence dedup (window)           -- the ONE shuffle
    -> clean-name projections                    -- codegen + 1 arrow UDF
    -> left join with products                   -- broadcast: no shuffle
    -> sink
The products join carries no hint: Catalyst broadcasts products while
their size estimate is within ``spark.sql.autoBroadcastJoinThreshold``
and plans a shuffled join above it (or with the threshold at -1).

Similarity lookups are the one eager step. The reference reads products
into a frame once and scores every lookup in memory
(etl/orders_etl.py:77-88); here the first lookup stages the cleaned,
deduplicated products frame once (``staging.stage``) and rebinds
``products_df`` to that snapshot, so later lookups, and
``top_k_similar(etl.products_df, ...)``, read it instead of re-scanning
and re-deduplicating the CSV. The same threshold bounds a driver copy:
when the snapshot's size estimate is within it, the staging job also
collects the snapshot into numpy arrays
(``similarity.DriverProducts``), and ``find_similar_products`` scores
there with no Spark job; above it, or for the null and non-positive
prices the numpy scorer defers, lookups run the Spark scorer on the
snapshot. The staging job's description names the branch taken.
``output_df`` keeps the lazy plan, and ``process()`` drops the snapshot
and the copy, so a changed products file is read again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.names import clean_name
from ..functions.repair import cast_columns, repair_decimal_comma, strip_non_digits
from ..operators.dedup import first_occurrence_dedup
from ..operators.similarity import DriverProducts, similar_products, top_k_similar
from ..operators.staging import rebind_checkpoint_stats, stage
from ..schemas import (
    ORDERS_COLUMNS,
    ORDERS_RAW_SCHEMA,
    ORDERS_TYPES,
    PRODUCTS_COLUMNS,
    PRODUCTS_RAW_SCHEMA,
    PRODUCTS_TYPES,
)
from ..sinks import write_table
from ..sources.csv import INGEST_ORDER_COL, read_csv_raw

NAME_COLUMNS = ["name", "surname", "patronymic"]


class OrdersEtl:
    """Loads processed Orders and Products data into a warehouse sink.

    Cleans, normalizes and merges two data sets into a single one prior
    to loading — the reference's contract (etl/orders_etl.py:10-15),
    rebuilt on lazy DataFrames.
    """

    def __init__(
        self,
        spark: SparkSession,
        orders_csv: str,
        products_csv: str,
        table_name: str = "output",
        sink_format: str = "parquet",
    ):
        self.spark = spark
        self.orders_csv = orders_csv
        self.products_csv = products_csv
        self.table_name = table_name
        self.sink_format = sink_format
        self.orders_df: DataFrame | None = None
        self.products_df: DataFrame | None = None
        self.output_df: DataFrame | None = None
        self._products_staged = False
        self._products_local: DriverProducts | None = None

    # -- transformation stages (each lazy, individually testable) ----------

    def cast_orders(self, raw: DataFrame) -> DataFrame:
        """O2: regex repair (decimal comma, non-digit strip) then cast."""
        repaired = raw.withColumn("sum", repair_decimal_comma("sum")).withColumn(
            "product_id", strip_non_digits("product_id")
        )
        return cast_columns(repaired, ORDERS_TYPES)

    def cast_products(self, raw: DataFrame) -> DataFrame:
        """O3: straight cast per the products schema."""
        return cast_columns(raw, PRODUCTS_TYPES)

    def clean_names(self, df: DataFrame) -> DataFrame:
        """O6 over the three name columns."""
        out = df
        for c in NAME_COLUMNS:
            out = out.withColumn(c, clean_name(c))
        return out

    def join_frames(self, orders_df: DataFrame, products_df: DataFrame) -> DataFrame:
        """O7: left equi-join, products attrs appended; broadcast or
        shuffled by ``spark.sql.autoBroadcastJoinThreshold``.

        pandas ``merge`` keeps the join key in its original column
        position (reference etl/orders_etl.py:194-198); Spark's
        ``join(on=)`` moves it first, so re-project to orders columns
        followed by the product attributes.
        """
        joined = orders_df.join(products_df, on="product_id", how="left")
        product_attrs = [c for c in products_df.columns if c != "product_id"]
        return joined.select(*orders_df.columns, *product_attrs)

    # -- public API (reference parity) --------------------------------------

    def process(self) -> DataFrame:
        """Build the full lazy plan; returns (and stores) the output DF."""
        orders_raw = read_csv_raw(
            self.spark,
            self.orders_csv,
            ORDERS_RAW_SCHEMA,
            columns=ORDERS_COLUMNS,
            with_ingest_order=True,
        )
        products_raw = read_csv_raw(
            self.spark,
            self.products_csv,
            PRODUCTS_RAW_SCHEMA,
            columns=PRODUCTS_COLUMNS,
            with_ingest_order=True,
        )

        orders = first_occurrence_dedup(
            self.cast_orders(orders_raw),
            keys=["order_source_id", "product_id"],
            order_col=INGEST_ORDER_COL,
        )
        orders = self.clean_names(orders).drop(INGEST_ORDER_COL)

        products = first_occurrence_dedup(
            self.cast_products(products_raw),
            keys=["product_id"],
            order_col=INGEST_ORDER_COL,
        ).drop(INGEST_ORDER_COL)

        self.orders_df = orders
        self.products_df = products
        self._products_staged = False
        self._products_local = None
        # reference column order: orders cols then product attrs
        # (merge on product_id keeps the key in place, etl/orders_etl.py:194-198)
        self.output_df = self.join_frames(orders, products)
        return self.output_df

    def write(self, target: str | None = None, **kwargs) -> None:
        """Reference ``write_to_bq`` generalized: same modes, any sink."""
        if self.output_df is None:
            raise RuntimeError("process() must run before write()")
        write_table(
            self.output_df,
            target or self.table_name,
            fmt=self.sink_format,
            **kwargs,
        )

    # keep the reference's exact method name available too
    def write_to_bq(self, **kwargs) -> None:
        write_table(
            self.output_df, self.table_name, fmt="bigquery", **kwargs
        )

    def _lookup_products(self) -> DataFrame:
        """The products snapshot every lookup reads: staged on the first
        lookup after ``process()``, then reused."""
        if self.products_df is None:
            raise RuntimeError("process() must run before a similarity lookup")
        if not self._products_staged:
            self._stage_products()
        return self.products_df

    def _stage_products(self) -> None:
        """Stage ``products_df``, with a driver copy when it is small.

        The snapshot's Catalyst size estimate (inherited from the lazy
        frame until the blocks exist) is the number a join tests against
        ``spark.sql.autoBroadcastJoinThreshold`` before collecting this
        frame to the driver. Within it, the snapshot is staged lazily and
        ``toArrow`` collects it into ``_products_local``: one job both
        materializes the blocks and brings the copy to the driver, then
        the estimate is rebound to the block size. Otherwise it is staged
        eagerly, with no copy."""
        jdf = self.products_df._jdf
        size = int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        conf = self.spark._jsparkSession.sessionState().conf()
        limit = conf.autoBroadcastJoinThreshold()
        keep = 0 <= size <= limit
        branch = "driver copy kept" if keep else "Spark scorer"
        description = (
            f"OrdersEtl products snapshot: {branch}, sizeInBytes {size} "
            f"{'<=' if keep else '>'} spark.sql.autoBroadcastJoinThreshold {limit}"
        )
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(description)
        try:
            snap = stage(self.products_df, name="products", eager=not keep)
            if keep:
                self._products_local = DriverProducts(snap.toArrow())
        finally:
            sc.setLocalProperty("spark.job.description", prev)
        if keep:
            rebind_checkpoint_stats(snap)
        self.products_df = snap
        self._products_staged = True

    def find_similar_products(
        self, target_id: int, candidate_ids: list[int]
    ) -> dict[int, float]:
        """Reference EP3: dict of scores for the candidates found.

        Reads the products snapshot taken at the first lookup, as the
        reference scores against the frame it read once; call
        ``process()`` again to pick up a changed products file. With a
        driver copy (see ``_stage_products``) the scores come from
        numpy and no Spark job runs; otherwise, and where the numpy
        scorer defers, from the columnar scorer. A null price scores
        NaN, as the reference's pandas arithmetic gives."""
        products = self._lookup_products()
        if self._products_local is not None:
            scores = self._products_local.similar(target_id, candidate_ids)
            if scores is not None:
                return scores
        scored = similar_products(products, target_id, candidate_ids)
        return {
            int(r["product_id"]): float("nan") if r["score"] is None else r["score"]
            for r in scored.collect()
        }

    def top_k_similar(self, target_id: int, k: int = 10) -> DataFrame:
        """The ``k`` products most similar to ``target_id``, from the
        same snapshot as ``find_similar_products``."""
        return top_k_similar(self._lookup_products(), target_id, k=k)

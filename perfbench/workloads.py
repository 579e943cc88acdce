"""The benchmark's workloads: the operation each one times, how its
output is checked, and how its traced run splits time by layer.

Every operation goes through the package's public API, the way a user
calls it. The traced run adds spans around those calls and, for the
per-layer split, forces each cumulative prefix of the plan (built from
the same public functions ``OrdersEtl.process`` composes) to the
``noop`` sink; a layer's self time is its prefix time minus the
previous prefix's.
"""

from __future__ import annotations

import statistics
import time
from contextlib import nullcontext
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import mix
import oracle
from spans import count, total
from etl_orders_to_bq_spark.functions.names import html_unescape
from etl_orders_to_bq_spark.operators.dedup import first_occurrence_dedup
from etl_orders_to_bq_spark.operators.similarity import similar_products, top_k_similar
from etl_orders_to_bq_spark.pipeline import OrdersEtl
from etl_orders_to_bq_spark.pipeline.orders_pipeline import NAME_COLUMNS
from etl_orders_to_bq_spark.schemas import (
    ORDERS_COLUMNS,
    ORDERS_RAW_SCHEMA,
    PRODUCTS_COLUMNS,
    PRODUCTS_RAW_SCHEMA,
)
from etl_orders_to_bq_spark.sinks import write_table
from etl_orders_to_bq_spark.sources.csv import INGEST_ORDER_COL, read_csv_raw

MISSING_ID = 99  # below every generated product id: a candidate with no product


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext({})


def _dur(span) -> float:
    return span["end"] - span["start"]


def _median_s(tracer, name: str) -> float:
    return statistics.median(_dur(s) for s in tracer.spans if s["name"] == name)


def _plan_s(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s
    QueryExecution, from its phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total_ms += p.get().durationMs()
    return total_ms / 1000.0


def _timed_prefixes(tracer, prefixes, reps: int = 3) -> dict[str, float]:
    """Run each (layer, prefix) in order, ``reps`` times over: a frame is
    forced to noop, a callable (the real write) is called. Returns each
    layer's self time: its median prefix time minus the previous one's."""
    times: dict[str, list[float]] = {layer: [] for layer, _ in prefixes}
    for rep in range(reps):
        for layer, df in prefixes:
            with tracer.span(f"prefix.{layer}", rep=rep) as s:
                if callable(df):
                    df()
                else:
                    _force(df)
            times[layer].append(_dur(s))
    self_s, prev = {}, 0.0
    for layer, ts in times.items():
        self_s[layer] = statistics.median(ts) - prev
        prev = statistics.median(ts)
    return self_s


def _products_frame(etl: OrdersEtl):
    """The products half of ``OrdersEtl.process``: scan, cast, dedup."""
    raw = read_csv_raw(
        etl.spark, etl.products_csv, PRODUCTS_RAW_SCHEMA, columns=PRODUCTS_COLUMNS
    ).withColumn(INGEST_ORDER_COL, F.monotonically_increasing_id())
    cast = etl.cast_products(raw)
    dedup = first_occurrence_dedup(cast, keys=["product_id"], order_col=INGEST_ORDER_COL)
    return raw, cast, dedup.drop(INGEST_ORDER_COL)


def _census(raw, cast, dedup, cast_cols) -> tuple[dict[str, float], int]:
    """Counts from the package's own frames: values nulled by the cast
    out of non-null raw values, and rows kept by dedup out of rows read.
    Also returns the kept row count."""
    r = raw.select(F.count(F.lit(1)), *[F.count(c) for c in cast_cols]).first()
    c = cast.select(*[F.count(c) for c in cast_cols]).first()
    kept = dedup.count()
    repaired = sum(r[1:])
    return {
        "functions.repair.cast_null_ratio": (repaired - sum(c)) / repaired,
        "operators.dedup.keep_ratio": kept / r[0],
    }, kept


def _per_op(tracer, op_spans) -> dict[str, float]:
    """Per-operation counts from the SQL status store."""
    nm = tracer.node_metrics([e for s in op_spans for e in s["executions"]])
    n = len(op_spans)
    rows = "number of output rows"
    return {
        "sources.csv.rows_read": total(nm, "Scan csv", rows) / n,
        "sources.csv.scans_per_op": count(nm, "Scan csv", rows) / n,
        "operators.dedup.shuffle_bytes": total(nm, "Exchange", "shuffle bytes written") / n,
        "operators.dedup.spill_bytes": total(nm, "", "spill size") / n,
        "functions.names.python_bytes_sent":
            total(nm, "ArrowEvalPython", "data sent to Python workers") / n,
        "pipeline.jobs_per_op": sum(s["jobs"] for s in op_spans) / n,
    }


class Workload:
    """Input sizes and warm-up count; a subclass defines ``prepare``,
    ``op``, ``check`` and ``layer_metrics``."""

    def __init__(self, n_orders: int, n_products: int, warmup_ops: int):
        self.n_orders = n_orders
        self.n_products = n_products
        self.warmup_ops = warmup_ops  # untimed operations after the first


class EtlWorkload(Workload):
    """``OrdersEtl.process()`` + ``write()`` to parquet, in a closed loop.

    Each operation writes its own output directory, so every output is
    checked after timing against the pandas oracle."""

    def prepare(self, spark, data, out_dir: Path) -> None:
        self.spark, self.data, self.out_dir = spark, data, out_dir
        self.rows_per_op = data.truth["orders_rows"]
        self.op_spans: list[dict] = []
        self.plan_s: list[float] = []
        self._expected: str | None = None

    def op(self, i: int, tracer=None):
        target = self.out_dir / f"op{i}"
        with _span(tracer, "op", index=i) as op_span:
            etl = OrdersEtl(self.spark, self.data.orders_csv, self.data.products_csv,
                            table_name=str(target))
            with _span(tracer, "pipeline.process"):
                out = etl.process()
            with _span(tracer, "sinks.writers.write"):
                etl.write()
        if tracer:
            self.op_spans.append(op_span)
            self.plan_s.append(_plan_s(out))
        return target

    def expected_hash(self) -> str:
        if self._expected is None:
            exp = oracle.etl_oracle(self.data.orders_csv, self.data.products_csv)
            truth = self.data.truth
            if len(exp) != truth["output_rows"] or int(exp["price"].isna().sum()) != truth["unmatched_rows"]:
                raise RuntimeError("pandas oracle disagrees with the generator's truth counts")
            self._expected = oracle.frame_hash(exp)
        return self._expected

    def check(self, target: Path) -> bool:
        return oracle.frame_hash(pq.read_table(target).to_pandas()) == self.expected_hash()

    def layer_metrics(self, tracer) -> tuple[dict[str, float], list[bool]]:
        """Per-layer metrics, and whether the prefix chain's own write
        matched the oracle."""
        d = self.data
        etl = OrdersEtl(self.spark, d.orders_csv, d.products_csv)
        raw = read_csv_raw(self.spark, d.orders_csv, ORDERS_RAW_SCHEMA,
                           columns=ORDERS_COLUMNS, with_ingest_order=True)
        cast = etl.cast_orders(raw)
        dedup = first_occurrence_dedup(
            cast, keys=["order_source_id", "product_id"], order_col=INGEST_ORDER_COL)
        names = etl.clean_names(dedup).drop(INGEST_ORDER_COL)
        joined = etl.join_frames(names, _products_frame(etl)[2])
        target = self.out_dir / "prefix-write"
        self_s = _timed_prefixes(tracer, [
            ("sources.csv", raw),
            ("functions.repair", cast),
            ("operators.dedup", dedup),
            ("functions.names", names),
            ("pipeline.join", joined),
            ("sinks.writers", lambda: write_table(joined, str(target))),
        ])
        prefix_ok = self.check(target)
        written = pq.read_table(target, columns=["price"]).to_pandas()

        m, kept = _census(raw, cast, dedup, ["sum", "product_id"])
        sent = kept * len(NAME_COLUMNS)
        changed = dedup.select(*[
            F.count(F.when(html_unescape(F.col(c)) != F.col(c), 1)) for c in NAME_COLUMNS
        ]).first()
        files = [p for t in self.out_dir.glob("op*") for p in t.glob("part-*")]
        n_out = max(1, len(list(self.out_dir.glob("op*"))))
        bytes_written = sum(p.stat().st_size for p in files) / n_out
        m.update(_per_op(tracer, self.op_spans))
        m.update({
            "sources.csv.scan_s": self_s["sources.csv"],
            "functions.repair.self_s": self_s["functions.repair"],
            "operators.dedup.self_s": self_s["operators.dedup"],
            "functions.names.self_s": self_s["functions.names"],
            "functions.names.changed_ratio": sum(changed) / sent,
            "pipeline.process_s": _median_s(tracer, "pipeline.process"),
            "pipeline.plan_s": statistics.median(self.plan_s),
            "pipeline.join.self_s": self_s["pipeline.join"],
            "pipeline.join.unmatched_ratio": float(written["price"].isna().mean()),
            "sinks.writers.write_self_s": self_s["sinks.writers"],
            "sinks.writers.files_written": len(files) / n_out,
            "sinks.writers.bytes_written": bytes_written,
            "sinks.writers.output_bytes_per_input_byte":
                bytes_written / (d.truth["orders_bytes"] + d.truth["products_bytes"]),
        })
        return m, [prefix_ok]


class LookupWorkload(Workload):
    """``find_similar_products(target, 20 candidates)`` then
    ``top_k_similar(k=10)`` for the same target, in a closed loop over a
    processed products frame. ``products_df`` is lazy, so each call
    re-scans and re-dedups the products CSV. The first operation also
    builds the ``OrdersEtl`` and runs ``process()``, as a CLI user's
    first lookup does."""

    def prepare(self, spark, data, out_dir: Path) -> None:
        self.spark, self.data, self.seed = spark, data, data.truth["seed"]
        self.rows_per_op = data.truth["products_rows"]
        self.ids = np.array(sorted(data.products), dtype=np.int64)
        self.op_spans: list[dict] = []
        self.plan_s: list[float] = []
        self.etl = None

    def golden_ok(self) -> bool:
        """FIXTURES.md F5: the package and the numpy formula both give
        the golden scores on the 8-row fixture."""
        df = self.spark.createDataFrame(oracle.F5_PRODUCTS, oracle.PRODUCTS_COLS)
        got = {int(r[0]): float(r[1]) for r in similar_products(df, oracle.F5_TARGET).collect()}
        table = {p: tuple(rest) for p, *rest in oracle.F5_PRODUCTS}
        mine = {p: oracle.score(table, oracle.F5_TARGET, p) for p in table}
        return got == oracle.F5_GOLDEN and mine == oracle.F5_GOLDEN

    def query(self, i: int) -> tuple[int, list[int]]:
        rng = np.random.default_rng([self.seed, i])
        picks = self.ids[rng.choice(len(self.ids), size=19, replace=False)]
        target = int(picks[0])
        return target, [int(p) for p in picks] + [MISSING_ID]

    def op(self, i: int, tracer=None):
        target, cands = self.query(i)
        if self.etl is None:
            t0 = time.perf_counter()
            self.etl = OrdersEtl(self.spark, self.data.orders_csv, self.data.products_csv)
            self.etl.process()
            self.process_s = time.perf_counter() - t0
        with _span(tracer, "op", index=i) as op_span:
            with _span(tracer, "operators.similarity.find_similar_products"):
                scores = self.etl.find_similar_products(target, cands)
            with _span(tracer, "operators.similarity.top_k_similar"):
                df = top_k_similar(self.etl.products_df, target, k=10)
                if tracer:
                    self.plan_s.append(_plan_s(df))
                top = [(int(r[0]), float(r[1])) for r in df.collect()]
            op_span["results"] = len(scores) + len(top)
        if tracer:
            self.op_spans.append(op_span)
        return target, cands, scores, top

    def check(self, payload) -> bool:
        target, cands, scores, top = payload
        products = self.data.products
        expected = {c: oracle.score(products, target, c) for c in cands if c in products}
        return scores == expected and top == oracle.top_k(products, target, 10)

    def layer_metrics(self, tracer) -> tuple[dict[str, float], list[bool]]:
        """Per-layer metrics, and the operator mix's output checks: the
        mix has no workload of its own (see README), so it rides on this
        workload's traced run."""
        raw, cast, dedup = _products_frame(self.etl)
        target, _ = self.query(0)
        self_s = _timed_prefixes(tracer, [
            ("sources.csv", raw),
            ("functions.repair", cast),
            ("operators.dedup", dedup),
            ("operators.similarity", lambda: top_k_similar(dedup, target, k=10).collect()),
        ])
        m, _ = _census(raw, cast, dedup, ["product_id", "price"])
        m.update(_per_op(tracer, self.op_spans))

        lookups = [s for s in tracer.spans if s["name"].endswith("find_similar_products")]
        results = sum(op["results"] for op in self.op_spans)
        execs = [e for op in self.op_spans for e in op["executions"]]
        m.update({
            "sources.csv.scan_s": self_s["sources.csv"],
            "functions.repair.self_s": self_s["functions.repair"],
            "operators.dedup.self_s": self_s["operators.dedup"],
            "pipeline.process_s": self.process_s,
            "pipeline.plan_s": statistics.median(self.plan_s),
            "operators.similarity.self_s": self_s["operators.similarity"],
            "operators.similarity.lookup_ms":
                1000 * _median_s(tracer, "operators.similarity.find_similar_products"),
            "operators.similarity.topk_ms": 1000 * _median_s(tracer, "operators.similarity.top_k_similar"),
            "operators.similarity.jobs_per_lookup": statistics.mean(s["jobs"] for s in lookups),
            "operators.similarity.rows_examined_per_result":
                total(tracer.node_metrics(execs), "Scan csv", "number of output rows") / results,
        })
        mix_metrics, checks = mix.run(self.spark, tracer)
        m.update(mix_metrics)
        return m, checks


# warm-up counts: operations still speed up for about 7 (ETL) and 20
# (lookups) operations after the cold one on a 4-core host
WORKLOADS = {
    "etl_bulk": EtlWorkload(n_orders=200_000, n_products=50_000, warmup_ops=5),
    "similarity_lookup": LookupWorkload(n_orders=2_502, n_products=50_000, warmup_ops=20),
}

# every per-layer metric a traced run prints; a layer a workload does not
# exercise reads 0
PER_LAYER = {
    "session.jvm_peak_rss_mb": "MB",
    "sources.csv.scan_s": "s",
    "sources.csv.rows_read": "count",
    "sources.csv.scans_per_op": "count",
    "functions.repair.self_s": "s",
    "functions.repair.cast_null_ratio": "ratio",
    "operators.dedup.self_s": "s",
    "operators.dedup.shuffle_bytes": "B",
    "operators.dedup.spill_bytes": "B",
    "operators.dedup.keep_ratio": "ratio",
    "functions.names.self_s": "s",
    "functions.names.python_bytes_sent": "B",
    "functions.names.changed_ratio": "ratio",
    "pipeline.process_s": "s",
    "pipeline.plan_s": "s",
    "pipeline.jobs_per_op": "count",
    "pipeline.join.self_s": "s",
    "pipeline.join.unmatched_ratio": "ratio",
    "sinks.writers.write_self_s": "s",
    "sinks.writers.files_written": "count",
    "sinks.writers.bytes_written": "B",
    "sinks.writers.output_bytes_per_input_byte": "ratio",
    "operators.similarity.self_s": "s",
    "operators.similarity.lookup_ms": "ms",
    "operators.similarity.topk_ms": "ms",
    "operators.similarity.jobs_per_lookup": "count",
    "operators.similarity.rows_examined_per_result": "count",
    "trace.overhead_ratio": "ratio",
    **mix.METRICS,
}

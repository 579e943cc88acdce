"""Parquet source + testdata loader.

Parquet is the scale path: columnar, predicate/projection pushdown into
row groups, partition pruning on directory layout. ``load_tables``
registers the driver fixture tables as temp views so both the DataFrame
API and ``spark.sql`` can reach them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from ..operators.staging import stage
from ..schemas import TESTDATA_TABLES

# Parquet columns that SOME fixture generations write as
# TIMESTAMP(NANOS) — Spark's reader rejects nanos outright, so these
# are read as long (legacy conf) and converted to microsecond
# timestamps by integer division (truncation, matching what
# micro-precision engines like DuckDB do on read). Generations that
# already store micros come back as timestamps and are left alone.
NANO_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing nano timestamps to micros.

    The nanosAsLong conf is snapshotted and ALWAYS restored around the
    read so the legacy behavior never leaks session-wide, and the ts
    column is cast to one canonical TimestampType (session-tz)
    afterwards: the nanos generation arrives as long ->
    timestamp_micros (LTZ), while a micros generation
    (isAdjustedToUTC=false) would infer TimestampNTZ under Spark 4 —
    without the cast the two fixture generations yield different
    schemas for schema-sensitive consumers (dtype assertions,
    LTZ-vs-NTZ sink type mappings). A genuine nanos file's normalized
    frame is eagerly staged (``staging.stage``) before the conf is
    restored — the lazy scan re-reads the conf at execution time, so
    without materialization the frame would fail with "Illegal Parquet
    type: INT64 (NANOS)" after restore, and keeping the conf set
    instead would make later unrelated reads on the shared session
    order-dependent (an INT64(NANOS) column elsewhere silently arriving
    as long)."""
    nano_cols = NANO_TS_COLUMNS.get(name, [])
    if not nano_cols:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        needs_legacy = False
        for c in nano_cols:
            if isinstance(df.schema[c].dataType, LongType):
                needs_legacy = True
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
            df = df.withColumn(c, F.col(c).cast(TimestampType()))
        if needs_legacy:
            # materialize while the conf is still set; the returned
            # frame then no longer depends on it. Fixture tables are
            # the only place the legacy conf is ever needed, so the
            # executor-memory cost is bounded and local.
            df = stage(df, f"{name}_micros")
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load fixture tables from ``sf_dir`` and register temp views."""
    out: dict[str, DataFrame] = {}
    for name in tables or TESTDATA_TABLES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

"""Guards for the one staging door: every staging point in the package
goes through ``operators.staging.stage``, and the local-vs-durable
choice is the session setting ``spark.graft.stagingDir``, never a
per-call argument."""

from __future__ import annotations

import importlib
import inspect
import os
import pkgutil

import etl_orders_to_bq_spark

PKG_DIR = os.path.dirname(etl_orders_to_bq_spark.__file__)


def test_no_local_checkpoint_outside_staging():
    hits = []
    for dirpath, _, files in os.walk(PKG_DIR):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path.endswith(
                os.path.join("operators", "staging.py")
            ):
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if "localCheckpoint(" in line:
                        hits.append(f"{os.path.relpath(path, PKG_DIR)}:{i}")
    assert hits == []


def test_no_public_callable_takes_checkpoint_path():
    offenders = []
    for mod_info in pkgutil.walk_packages(
        etl_orders_to_bq_spark.__path__, "etl_orders_to_bq_spark."
    ):
        mod = importlib.import_module(mod_info.name)
        for name, obj in vars(mod).items():
            if name.startswith("_") or not callable(obj):
                continue
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            try:
                params = inspect.signature(obj).parameters
            except (TypeError, ValueError):
                continue
            if "checkpoint_path" in params:
                offenders.append(f"{mod.__name__}.{name}")
    assert offenders == []


def test_staging_dir_setting_routes_a_former_bypass(spark, tmp_path):
    """set_similarity_join staged its token tables with a direct
    localCheckpoint; through stage() the session setting now makes them
    durable parquet, with identical rows."""
    from etl_orders_to_bq_spark.operators.setjoin import set_similarity_join
    from etl_orders_to_bq_spark.operators.staging import (
        durable_staging,
        staging_dir,
    )

    rows = [(d, " ".join(f"w{i}" for i in range(d % 5, 12))) for d in range(10)]
    rows.append((100, rows[0][1] + " extra"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs():
        return {
            tuple(r)
            for r in set_similarity_join(
                df, threshold=0.6, ngram=2, strategy="prefix"
            ).collect()
        }

    local = pairs()
    stage_dir = tmp_path / "stage"
    with durable_staging(spark, str(stage_dir)):
        assert staging_dir(spark) == str(stage_dir)
        durable = pairs()
    assert staging_dir(spark) is None
    assert durable == local and len(local) > 0
    assert list(stage_dir.glob("ssj_tokens_*"))
    assert list(stage_dir.glob("ssj_prefix_*"))

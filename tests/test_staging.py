"""Guards for the one staging door and the one local-fold door: every
staging point in the package goes through ``operators.staging.stage``,
every driver-local fold decides its branch through the same module, and
both choices are session settings (``staging.STAGING_DIR_CONF`` and
``staging.LOCAL_FOLD_CONF``), never per-call arguments."""

from __future__ import annotations

import importlib
import inspect
import os
import pkgutil

import pytest

import etl_orders_to_bq_spark

PKG_DIR = os.path.dirname(etl_orders_to_bq_spark.__file__)
REPO_DIR = os.path.dirname(PKG_DIR)


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


def _public_callables_taking(param: str) -> list[str]:
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
            if param in params:
                offenders.append(f"{mod.__name__}.{name}")
    return offenders


def test_no_public_callable_takes_checkpoint_path():
    assert _public_callables_taking("checkpoint_path") == []


def test_no_public_callable_takes_local_threshold():
    assert _public_callables_taking("local_threshold") == []


def test_local_fold_key_only_in_staging():
    from etl_orders_to_bq_spark.operators.staging import LOCAL_FOLD_CONF

    files = [
        os.path.join(REPO_DIR, f) for f in ("bench.py", "__spark_entry__.py")
    ]
    for root in (PKG_DIR, os.path.join(REPO_DIR, "scripts"),
                 os.path.join(REPO_DIR, "tests")):
        for dirpath, _, names in os.walk(root):
            files += [
                os.path.join(dirpath, n) for n in names if n.endswith(".py")
            ]
    hits = []
    for path in files:
        with open(path) as fh:
            if LOCAL_FOLD_CONF in fh.read():
                hits.append(os.path.relpath(path, PKG_DIR))
    assert hits == [os.path.join("operators", "staging.py")]


def test_local_rows_bound_and_zero_limit_runs_no_job(spark, tmp_path):
    """One bounded collect decides and fetches; at a limit of 0, or
    under durable staging, no job runs at all: a frame that raises when
    evaluated comes back as None."""
    from pyspark.sql import functions as F

    from etl_orders_to_bq_spark.operators.staging import (
        durable_staging,
        local_fold_limit,
        local_fold_max_rows,
        local_rows,
    )

    df = spark.range(5)
    assert [r.id for r in local_rows(df, 5)] == list(range(5))
    assert local_rows(df, 4) is None
    assert len(local_rows(df, 5, arrow=True)) == 5
    assert local_rows(df.filter("id < 0"), 5) == []
    with local_fold_max_rows(spark, 2):
        assert local_fold_limit(spark, 1 << 16) == 2
        assert local_rows(df, 1 << 16) is None
    assert local_fold_limit(spark, 7) == 7
    bomb = spark.range(1).select(F.raise_error(F.lit("probed")))
    with local_fold_max_rows(spark, 0):
        assert local_rows(bomb, 100) is None
        assert local_rows(df.filter("id < 0"), 100) is None
    with durable_staging(spark, str(tmp_path / "stage")):
        assert local_fold_limit(spark, 100) == 0
        assert local_rows(bomb, 100) is None
    with pytest.raises(Exception, match="probed"):
        local_rows(bomb, 100)


_LOCAL_FOLDS = {
    "graph": ("_cc_local", "_pagerank_local", "_lpa_local", "_kcore_local",
              "_k_truss_local", "_ppr_local"),
    "lm": ("_unigram_census_em",),
    "mixture": ("_gmm_census_fit",),
    "classifier": ("_irls_census_fit",),
}


@pytest.fixture
def folds_raise(monkeypatch):
    """Every driver-local fold raises when called."""

    def boom(*_, **__):
        raise AssertionError("driver-local fold called")

    for mod, names in _LOCAL_FOLDS.items():
        m = importlib.import_module(f"etl_orders_to_bq_spark.operators.{mod}")
        for name in names:
            monkeypatch.setattr(m, name, boom)


def _fold_operators(spark):
    """One small call per operator with a driver-local fold; each input
    is far below every default bound."""
    from etl_orders_to_bq_spark.operators import classifier, graph, lm, mixture

    edges = spark.createDataFrame(
        [(i, j) for i in range(5) for j in range(i + 1, 5)] + [(5, 6)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    text = spark.createDataFrame(
        [("abab ab banana",), ("the cat",)], ["text"]
    )
    vals = spark.createDataFrame(
        [(float(i % 7),) for i in range(40)], "v double"
    )
    xy = spark.createDataFrame(
        [(i % 2, float(i % 3), float(i % 5)) for i in range(60)],
        "y int, x1 double, x2 double",
    )
    return {
        "connected_components": lambda: graph.connected_components(
            edges, "src", "dst"
        ),
        "pagerank": lambda: graph.pagerank(edges),
        "label_propagation": lambda: graph.label_propagation(edges),
        "kcore": lambda: graph.kcore(edges, k=2),
        "k_truss": lambda: graph.k_truss(edges, k=3),
        "personalized_pagerank": lambda: graph.personalized_pagerank(
            edges, seeds
        ),
        "unigram_lm_train": lambda: lm.unigram_lm_train(text, rounds=1),
        "unigram_encode": lambda: lm.unigram_encode(text, rounds=1),
        "gmm_em_1d": lambda: mixture.gmm_em_1d(vals, "v", rounds=2),
        "logistic_irls": lambda: classifier.logistic_irls(
            xy, "x1", "x2", "y", iterations=2
        ),
    }


def test_zero_local_fold_limit_skips_every_fold(spark, folds_raise):
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    with local_fold_max_rows(spark, 0):
        for name, build in _fold_operators(spark).items():
            assert build().count() > 0, name


def test_durable_staging_skips_census_folds(spark, folds_raise, tmp_path):
    """unigram, gmm_em_1d and logistic_irls take the distributed loop
    under durable staging, as the graph operators do."""
    from etl_orders_to_bq_spark.operators.staging import durable_staging

    builds = _fold_operators(spark)
    with durable_staging(spark, str(tmp_path / "stage")):
        for name in ("unigram_lm_train", "unigram_encode", "gmm_em_1d",
                     "logistic_irls"):
            assert builds[name]().count() > 0, name


def test_zero_limit_empty_census_stays_distributed(spark, folds_raise):
    """An empty census fits any limit; at 0 it must still not fold."""
    from etl_orders_to_bq_spark.operators import classifier, mixture
    from etl_orders_to_bq_spark.operators.staging import local_fold_max_rows

    empty_v = spark.createDataFrame([], "v double")
    empty_xy = spark.createDataFrame([], "y int, x1 double, x2 double")
    with local_fold_max_rows(spark, 0):
        got = mixture.gmm_em_1d(empty_v, "v").collect()
        assert got[0]["n"] == 0 and got[0]["weight_1"] is None
        fit = classifier.logistic_irls(empty_xy, "x1", "x2", "y").collect()
        assert fit[0]["n_rows"] == 0


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

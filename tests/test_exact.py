"""The one exact-arithmetic door: ``functions/exact.py`` names the
exact-sum type ``decimal(38,s)``, and every exact cast and sum in the
engine goes through ``exact``/``exact_sum``.

The guards scan source with ``ast``: no ``.cast(...)`` call anywhere in
the package or in ``__spark_entry__.py`` names ``decimal(38``, and no
string constant in the package does either (docstrings excepted). The
DuckDB ``oracle_sql()`` text in ``__spark_entry__.py`` is the reference
and keeps spelling the type out. The behaviour pins fix the types the
callers rely on and show what the exact path buys over a long sum."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, LongType, StructField, StructType

import etl_orders_to_bq_spark
from etl_orders_to_bq_spark.functions.exact import exact, exact_sum

PKG_DIR = os.path.dirname(etl_orders_to_bq_spark.__file__)
REPO_DIR = os.path.dirname(PKG_DIR)
EXACT_PY = os.path.join(PKG_DIR, "functions", "exact.py")


def _package_files():
    for dirpath, _, files in os.walk(PKG_DIR):
        for fn in sorted(files):
            path = os.path.join(dirpath, fn)
            if fn.endswith(".py") and path != EXACT_PY:
                yield path


def _tree(path):
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _where(path, node):
    return f"{os.path.relpath(path, REPO_DIR)}:{node.lineno}"


def _names_decimal38(node):
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "decimal(38" in node.value
    )


def _docstrings(tree):
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(
                body[0].value, ast.Constant
            ):
                out.add(id(body[0].value))
    return out


def test_no_decimal38_cast_outside_exact():
    hits = []
    entry = os.path.join(REPO_DIR, "__spark_entry__.py")
    for path in [*_package_files(), entry]:
        for node in ast.walk(_tree(path)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "cast"
                and any(_names_decimal38(a) for a in node.args)
            ):
                hits.append(_where(path, node))
    assert hits == []


def test_no_decimal38_string_in_package_outside_exact():
    hits = []
    for path in _package_files():
        tree = _tree(path)
        docs = _docstrings(tree)
        hits += [
            _where(path, node)
            for node in ast.walk(tree)
            if _names_decimal38(node) and id(node) not in docs
        ]
    assert hits == []


@pytest.mark.parametrize("scale", [0, 2, 3, 4, 6])
def test_exact_types(spark, scale):
    df = spark.createDataFrame([(3, 4)], "a long, b long")
    out = df.select(exact("a", scale).alias("e")).crossJoin(
        df.agg(
            exact_sum("a", scale=scale).alias("s1"),
            exact_sum("a", "b", scale=scale).alias("s2"),
        )
    )
    types = {f.name: f.dataType for f in out.schema.fields}
    assert types["e"] == DecimalType(38, scale)
    assert types["s1"] == DecimalType(38, scale)
    # a decimal(38,s) product carries scale 2s, cut back to 6
    assert types["s2"] == DecimalType(38, min(2 * scale, 6))
    assert tuple(out.first()) == (3, 3, 12)


def test_exact_sum_of_longs_past_int64(spark):
    big = 2**62 + 12345
    schema = StructType([StructField("v", LongType())])
    df = spark.createDataFrame([(big,), (big,), (big,)], schema)
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(F.sum("v")).collect()
    assert df.agg(exact_sum("v")).first()[0] == 3 * big
    assert df.agg(exact_sum("v", "v")).first()[0] == 3 * big * big


def test_exact_sum_matches_python_on_hypothesis_corpus(spark):
    from hypothesis import HealthCheck, given, seed, settings
    from hypothesis import strategies as st

    # |a·b| < 2^120, so eight of them stay inside 38 digits
    longs = st.integers(-(2**60), 2**60)

    @seed(20261020)
    @settings(max_examples=20, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(st.tuples(longs, longs), min_size=1, max_size=8))
    def check(rows):
        df = spark.createDataFrame(rows, "a long, b long")
        got = df.agg(exact_sum("a", "b"), exact_sum("a")).first()
        assert got[0] == sum(a * b for a, b in rows)
        assert got[1] == sum(a for a, _ in rows)

    check()

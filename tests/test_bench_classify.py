"""bench.py measures which headline entries to rebuild per pass: an
entry whose construction starts an SQL execution is rebuilt and timed
as construction + force, any other reuses one frame."""

import functools

import pytest

import __spark_entry__ as entry
import bench


@pytest.mark.parametrize(
    "name, rebuild",
    [
        ("ridge_normal", True),  # 9-sum collect + driver solve
        ("hbos_outliers", True),  # stages its binned frame
        ("q1_pricing_summary", False),
        ("semdedup", False),  # fully lazy plan, no staged input
    ],
)
def test_build_and_force_classifies_by_construction_sql(spark, name, rebuild):
    build = functools.partial(entry.queries()[name], spark, entry.SF_SMOKE)
    m = bench.build_and_force(spark, build)
    assert m["rebuild"] is rebuild
    assert m["ctor"] >= 0 and m["exec"] >= 0


def test_timed_passes_rebuilds_only_entries_whose_construction_ran_sql(spark):
    calls = {"lazy": 0, "eager": 0}

    def lazy():
        calls["lazy"] += 1
        return spark.range(10)

    def eager():
        calls["eager"] += 1
        return spark.range(spark.range(5).count())

    samples = list(
        bench.timed_passes(spark, {"lazy": lazy, "eager": eager}, 3)
    )
    assert calls == {"lazy": 1, "eager": 3}
    assert [(p, n) for p, n, _ in samples] == [
        (p, n) for p in range(3) for n in ("lazy", "eager")
    ]
    for _, name, s in samples:
        assert ("ctor" in s) is (name == "eager")
        if name == "eager":
            assert s["wall"] == round(s["ctor"] + s["exec"], 3)

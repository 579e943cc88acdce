"""Tests of the benchmark itself (not of the engine); no Spark session.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import mix  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _bytes(ds):
    return Path(ds.orders_csv).read_bytes(), Path(ds.products_csv).read_bytes()


def test_same_seed_same_bytes_and_truth(tmp_path):
    a = gen.write_dataset(tmp_path / "a", 5, 3000, 800)
    b = gen.write_dataset(tmp_path / "b", 5, 3000, 800)
    c = gen.write_dataset(tmp_path / "c", 6, 3000, 800)
    assert _bytes(a) == _bytes(b)
    assert a.truth == b.truth
    assert (tmp_path / "a" / "truth.json").read_text() == (tmp_path / "b" / "truth.json").read_text()
    assert _bytes(a) != _bytes(c)


def test_truth_counts_follow_the_dirt_profile(tmp_path):
    ds = gen.write_dataset(tmp_path, 3, 20_000, 5_000)
    t = ds.truth
    assert t["orders_rows"] == 20_000
    assert t["output_rows"] + t["duplicate_rows"] == t["orders_rows"]
    assert 0.35 < t["duplicate_rows"] / t["orders_rows"] < 0.45
    assert 0.06 < t["letter_ids"] / t["orders_rows"] < 0.10
    assert 0.03 < t["comma_sums"] / t["orders_rows"] < 0.05
    assert t["entity_names"] > 0 and t["unmatched_rows"] > 0
    assert t["products_rows"] > t["products_distinct"] == 5_000
    exp = oracle.etl_oracle(ds.orders_csv, ds.products_csv)
    assert len(exp) == t["output_rows"]
    assert int(exp["price"].isna().sum()) == t["unmatched_rows"]


def test_metric_names_match_benchmark_json():
    assert [(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]] == list(run.UNITS.items())
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(workloads.WORKLOADS)


def test_frame_hash_ignores_row_order():
    df = pd.DataFrame({"a": [1, 2, 3, 4], "b": ["x", None, "", "z"], "c": [0.1, 0.2, None, 0.4]})
    for seed in range(5):
        assert oracle.frame_hash(df) == oracle.frame_hash(df.sample(frac=1, random_state=seed))
    assert oracle.frame_hash(df) != oracle.frame_hash(df.iloc[:3])
    swapped = df.assign(b=["x", "", None, "z"])  # null and '' are different values
    assert oracle.frame_hash(df) != oracle.frame_hash(swapped)


@pytest.fixture
def etl_output(tmp_path):
    """An EtlWorkload whose expected output is the oracle's, and a
    function that writes a frame as the sink's parquet output."""
    ds = gen.write_dataset(tmp_path / "data", 9, 600, 300)
    w = workloads.EtlWorkload(600, 300, warmup_ops=0)
    w.data, w._expected = ds, None
    exp = oracle.etl_oracle(ds.orders_csv, ds.products_csv)

    def write(df, name):
        out = tmp_path / name
        out.mkdir()
        df.to_parquet(out / "part-00000.parquet", index=False)
        return out

    return w, exp, write


def test_etl_check_accepts_the_oracle_output(etl_output):
    w, exp, write = etl_output
    assert w.check(write(exp.sample(frac=1, random_state=2), "ok"))


def test_etl_check_fails_on_a_dropped_row(etl_output):
    w, exp, write = etl_output
    assert not w.check(write(exp.iloc[1:], "dropped"))


def test_etl_check_fails_on_a_changed_value(etl_output):
    w, exp, write = etl_output
    bad = exp.copy()
    bad.loc[bad.index[3], "sum"] += 0.01
    assert not w.check(write(bad, "changed"))


def _lookup(tmp_path):
    ds = gen.write_dataset(tmp_path, 4, 200, 500)
    w = workloads.LookupWorkload(200, 500, warmup_ops=0)
    w.data, w.seed = ds, 4
    w.ids = pd.Series(sorted(ds.products)).to_numpy()
    target, cands = w.query(0)
    scores = {c: oracle.score(ds.products, target, c) for c in cands if c in ds.products}
    return w, (target, cands, scores, oracle.top_k(ds.products, target, 10))


def test_lookup_check_accepts_oracle_scores(tmp_path):
    w, payload = _lookup(tmp_path)
    assert len(payload[2]) == 19 and len(payload[3]) == 10
    assert w.check(payload)


def test_lookup_check_fails_on_a_changed_score(tmp_path):
    w, (target, cands, scores, top) = _lookup(tmp_path)
    c = next(iter(scores))
    assert not w.check((target, cands, {**scores, c: scores[c] + 1e-5}, top))
    assert not w.check((target, cands, scores, top[:-1] + [(top[-1][0], top[-1][1] - 1e-5)]))
    assert not w.check((target, cands, {k: v for k, v in scores.items() if k != c}, top))


def test_numpy_scorer_matches_f5_golden():
    table = {p: tuple(rest) for p, *rest in oracle.F5_PRODUCTS}
    got = {p: oracle.score(table, oracle.F5_TARGET, p) for p in table}
    assert got == oracle.F5_GOLDEN
    assert oracle.top_k(table, oracle.F5_TARGET, 3) == [(516423, 1.0), (296597, 0.9726), (516425, 0.91973)]


def test_round5_is_half_up_like_spark():
    assert oracle.round5(0.123455) == 0.12346
    assert oracle.round5(5e-6) == 1e-5


@pytest.mark.parametrize("text,value", [
    ("1,499", 1499.0),
    ("106.3 KiB", 106.3 * 1024),
    ("total (min, med, max (stageId: taskId))\n12.0 MiB (1.0 MiB, 3.0 MiB, 4.0 MiB (stage 3.0: task 7))",
     12.0 * 1024**2),
    ("0.0 B", 0.0),
])
def test_parse_metric(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_mix_value_hash_is_the_correctness_script_method():
    saved = list(sys.path)
    try:
        from scripts.check_correctness import value_hash
    finally:
        sys.path[:] = saved  # the script prepends a fixed path when imported
    df = pd.DataFrame({"b": [2.0000004, None, 1.5], "a": ["x", "y", None], "n": [3, 1, 2]})
    assert mix.value_hash(df) == value_hash(df)
    assert mix.value_hash(df.iloc[:0]) == value_hash(df.iloc[:0])


@pytest.fixture(scope="module")
def mix_oracle_frames():
    """DuckDB oracle outputs of two mix entries on the stored fixture tables."""
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for table in mix.FIXTURE.glob("*.parquet"):
        con.execute(f"create view {table.stem} as select * from '{table}'")
    return {name: con.execute(oracles[name]).df() for name in ("spearman_corr", "pagerank")}


def test_mix_stored_hashes_match_the_oracle(mix_oracle_frames):
    stored = json.loads(mix.HASHES.read_text())["entries"]
    assert set(stored) == set(mix.ENTRIES)
    for name, df in mix_oracle_frames.items():
        assert mix.signature(df) == stored[name]


def test_mix_check_fails_on_a_corrupted_output(mix_oracle_frames):
    stored = json.loads(mix.HASHES.read_text())["entries"]["pagerank"]
    df = mix_oracle_frames["pagerank"]
    assert mix.signature(df.iloc[1:]) != stored
    changed = df.copy()
    changed.loc[changed.index[0], "pagerank"] += 1e-5
    assert mix.signature(changed) != stored

"""The registry operator mix, timed in the traced run.

Eight ``__spark_entry__.queries()`` entries that later work on the
ridge, rank-correlation, graph, language-model, corpus and quality
operators will touch, run on the sf0.001 fixture tables copied into
``fixtures/sf0.001``. A pass constructs each entry's frame and forces it
to the ``noop`` sink. The first, cold pass also collects every output and
compares its value hash with the one the DuckDB ``oracle_sql()`` of the
same entry gives on the same tables, stored in ``fixtures/mix_hashes.json``.

Regenerate the stored hashes (needs ``duckdb``; no Spark) with:

    python3 perfbench/mix.py
"""

from __future__ import annotations

import hashlib
import json
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
FIXTURE = HERE / "fixtures" / "sf0.001"
HASHES = HERE / "fixtures" / "mix_hashes.json"

# entry -> the layer (package module) whose time it reports
ENTRIES = {
    "ransac_line": "operators.ridge",
    "spearman_corr": "operators.rankcorr",
    "k_truss": "operators.graph",
    "pagerank": "operators.graph",
    "closeness_centrality": "operators.graph",
    "unigram_lm": "operators.lm",
    "corpus_pipeline": "pipeline.corpus",
    "ecod_outliers": "operators.quality",
}
METRICS = {f"{layer}.{name}_s": "s" for name, layer in ENTRIES.items()} | {
    "operator_mix.pass_s": "s",
    "operator_mix.ctor_s": "s",
    "operator_mix.ctor_jobs": "count",
    "operator_mix.shuffle_bytes": "B",
}


def value_hash(df) -> str:
    """The method of ``scripts/check_correctness.py::value_hash``: columns
    sorted by name, floats rounded to 6 dp, rows as ``|``-joined text
    sorted, md5 of the lines. Copied because that script puts a fixed
    path first on ``sys.path`` when imported."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    rows = [] if len(df) == 0 else sorted(df.astype(str).apply(lambda r: "|".join(r), axis=1).tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def signature(df) -> dict:
    return {"rows": len(df), "columns": sorted(df.columns), "hash": value_hash(df)}


def run(spark, tracer) -> tuple[dict[str, float], list[bool]]:
    """Cold checking pass, then one timed warm pass. Returns the layer
    metrics and each entry's check result."""
    from spans import total
    import __spark_entry__

    queries = __spark_entry__.queries()
    expected = json.loads(HASHES.read_text())["entries"]
    checks = []
    for name in ENTRIES:
        with tracer.span(f"operator_mix.check.{name}"):
            try:
                ok = signature(queries[name](spark, str(FIXTURE)).toPandas()) == expected[name]
            except Exception:
                traceback.print_exc()
                ok = False
        checks.append(ok)

    metrics: dict[str, float] = {}
    ctor = []
    with tracer.span("operator_mix.pass") as pass_span:
        for name, layer in ENTRIES.items():
            with tracer.span(f"operator_mix.{name}") as s:
                with tracer.span(f"operator_mix.ctor.{name}") as c:
                    df = queries[name](spark, str(FIXTURE))
                df.write.format("noop").mode("overwrite").save()
            metrics[f"{layer}.{name}_s"] = s["end"] - s["start"]
            ctor.append(c)
    node_metrics = tracer.node_metrics(pass_span["executions"])
    metrics.update({
        "operator_mix.pass_s": pass_span["end"] - pass_span["start"],
        "operator_mix.ctor_s": sum(c["end"] - c["start"] for c in ctor),
        "operator_mix.ctor_jobs": sum(c["jobs"] for c in ctor),
        "operator_mix.shuffle_bytes": total(node_metrics, "Exchange", "shuffle bytes written"),
    })
    return metrics, checks


def write_hashes() -> None:
    """Store each entry's DuckDB oracle signature on the fixture tables."""
    import duckdb

    sys.path.insert(0, str(HERE.parent))
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for table in sorted(FIXTURE.glob("*.parquet")):
        con.execute(f"create view {table.stem} as select * from '{table}'")
    entries = {name: signature(con.execute(oracles[name]).df()) for name in ENTRIES}
    HASHES.write_text(json.dumps({
        "made_by": "python3 perfbench/mix.py",
        "tables": "fixtures/sf0.001, a copy of the sf0.001 TPC-H-style test tables",
        "entries": entries,
    }, indent=1) + "\n")


if __name__ == "__main__":
    write_hashes()

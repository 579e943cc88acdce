"""Driver-contract invariants for __spark_entry__.py: every oracle has
a query, aliases stay aligned, and the snapshot-ordering discipline
(never-driver-verified entries first) cannot silently regress."""

import glob
import json
import os

import __spark_entry__ as entry


def test_every_oracle_key_has_a_query():
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(os_) <= set(qs), set(os_) - set(qs)


def test_no_rows_only_queries_remain():
    """Every registry entry carries an oracle — the former rows-only
    trio (sketch_agg, ann_ivf_topk, sketch_rollup_merge) now gates via
    bounded-error oracles (exact reference columns + within-published-
    error booleans the oracle pins true). Growing this set back
    silently weakens the correctness gate."""
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(qs) - set(os_) == set()


def test_driver_verified_names_remain_registered():
    """CORRECTNESS history only accumulates if past driver-verified
    query names stay registered under the same name — check every
    recorded round, not a hardcoded list."""
    qs = set(entry.queries())
    here = os.path.dirname(os.path.abspath(entry.__file__))
    records = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))
    assert records, "no CORRECTNESS_r*.json found next to __spark_entry__.py"
    for path in records:
        verified = set(json.load(open(path)))
        assert verified <= qs, f"{os.path.basename(path)}: {verified - qs}"


def test_plans_md_covers_every_query():
    """PLANS.md (the plan-audit artifact the perf claims cite) must
    carry exactly one row per registry entry — a query added without
    regenerating the audit would otherwise silently escape the
    row-at-a-time-Python and shuffle-count inventory."""
    here = os.path.dirname(os.path.abspath(entry.__file__))
    path = os.path.join(here, "PLANS.md")
    assert os.path.exists(path), "PLANS.md missing — run scripts/plan_audit.py"
    names = set()
    with open(path) as fh:
        for line in fh:
            if line.startswith("| ") and not line.startswith("| query"):
                cell = line.split("|")[1].strip().strip("`")
                if cell and not set(cell) <= {"-", " "}:
                    names.add(cell)
    qs = set(entry.queries())
    assert names == qs, (
        f"PLANS.md drift — missing rows: {sorted(qs - names)}; "
        f"stale rows: {sorted(names - qs)} (run scripts/plan_audit.py)"
    )


def test_registry_is_stalest_verified_first():
    """The driver snapshots a 50-entry prefix of queries(), so the
    registry must order entries stalest-first: never-driver-verified
    entries lead (new work always gets rows), then NON-DECREASING by
    the round each entry was last verified in over the FULL
    CORRECTNESS_r*.json history — bounding every query's
    re-verification age to ~|registry|/50 rounds instead of letting
    r1-r2 verifications go stale forever. queries() derives this order
    from the records; this test pins the derivation."""
    here = os.path.dirname(os.path.abspath(entry.__file__))
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int(
            os.path.basename(path).removeprefix("CORRECTNESS_r")
            .removesuffix(".json")
        )
        for name in json.load(open(path)):
            last[name] = max(last.get(name, 0), rnd)
    names = list(entry.queries())
    rounds = [last.get(n, 0) for n in names]  # 0 = never verified
    drift = next(
        (i for i in range(1, len(rounds)) if rounds[i] < rounds[i - 1]),
        None,
    )
    assert drift is None, (
        f"registry not stalest-verified-first: {names[drift]!r} (last "
        f"verified r{rounds[drift]}) sits after {names[drift - 1]!r} "
        f"(r{rounds[drift - 1]}); queries() must sort by the last "
        f"CORRECTNESS_r*.json round each name appears in"
    )
    unverified = sum(1 for r in rounds if r == 0)
    # One driver snapshot verifies 50; never-verified entries always
    # lead, so a backlog > 50 simply drains over ceil(n/50) rounds —
    # age stays bounded. Cap at two snapshots so a high-velocity
    # round (30+ new operators) passes, while a runaway backlog
    # (> 100 = 3+ rounds of debt) still fails loudly.
    assert unverified <= 100, (
        "never-verified backlog exceeds two driver snapshots — new "
        "work would wait 3+ rounds for its first verification; slow "
        "down additions or split the round"
    )


def test_registry_order_without_records_is_definition_order(tmp_path):
    """A copy of the module with no CORRECTNESS_r*.json next to it
    still loads its full registry, in q_* definition order."""
    import importlib.util
    import shutil

    shutil.copy(entry.__file__, tmp_path / "entry_copy.py")
    spec = importlib.util.spec_from_file_location(
        "entry_copy", tmp_path / "entry_copy.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    defined = [n[2:] for n in vars(mod) if n.startswith("q_")]
    assert list(mod.queries()) == defined
    assert set(defined) == set(entry.queries())

"""Pytest half of the plan-fingerprint gate (scripts/plan_fingerprints.py).

The full explain sweep stays a script (it needs its own Spark session and
~2 minutes); what pytest enforces on every commit is the cheap invariant
that keeps the mechanism from going inert again (the round-6 verdict
finding):

- a committed ``PLAN_FINGERPRINTS.json`` baseline EXISTS,
- it covers exactly the registry's query names (a new query without a
  committed fingerprint, or a stale entry for a deleted one, fails here),
- no entry is an ``ERROR:`` sentinel (a query that can't be planned has no
  business in the baseline),
- and the offender logic itself (``find_offenders``) flags out-of-window
  plan changes on stored-vs-stored maps.
"""

from __future__ import annotations

import importlib.util
import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
FP_FILE = REPO / "PLAN_FINGERPRINTS.json"


def _load_script():
    spec = importlib.util.spec_from_file_location(
        "plan_fingerprints", REPO / "scripts" / "plan_fingerprints.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_fingerprint_baseline_committed_and_complete():
    from mssql2monetdb_spark.queries import REGISTRY

    assert FP_FILE.exists(), (
        "PLAN_FINGERPRINTS.json is not committed — run "
        "`python scripts/plan_fingerprints.py --update` and commit the result"
    )
    fps = json.loads(FP_FILE.read_text())
    reg = set(REGISTRY)
    missing = sorted(reg - set(fps))
    stale = sorted(set(fps) - reg)
    assert not missing, (
        f"registry queries without a committed plan fingerprint: {missing} — "
        "regenerate PLAN_FINGERPRINTS.json in the same commit that adds a query"
    )
    assert not stale, (
        f"fingerprints for queries no longer in the registry: {stale}"
    )
    bad = {n: v for n, v in fps.items() if not re.fullmatch(r"[0-9a-f]{16}", v)}
    assert not bad, f"non-hash fingerprint entries (ERROR sentinels?): {bad}"


def test_offender_logic_on_stored_maps():
    mod = _load_script()
    committed = {"a": "1111", "b": "2222", "c": "3333"}
    current = {"a": "1111", "b": "ffff", "c": "eeee", "d": "4444"}
    changed, new, offenders = mod.find_offenders(current, committed, window={"b"})
    assert changed == ["b", "c"]
    assert new == ["d"]
    # b changed but holds a window slot; c changed outside the window
    assert offenders == ["c"]
    # everything-in-window passes
    _, _, none = mod.find_offenders(current, committed, window={"b", "c"})
    assert none == []


def test_normalizer_strips_run_dependent_tokens():
    mod = _load_script()
    a = mod.normalize(
        "Scan parquet [l_orderkey#123L] Location: file:/tmp/x1/in "
        "[plan_id=55] [codegen id : 3] _q_orders_17 sizeInBytes=1234,"
    )
    b = mod.normalize(
        "Scan parquet [l_orderkey#9L] Location: file:/tmp/zz9/in "
        "[plan_id=2] [codegen id : 1] _q_orders_340 sizeInBytes=9,"
    )
    assert a == b


def test_normalizer_strips_session_global_counters():
    """RDD ids, lambda variable suffixes, and common-subexpression alias
    ids all come from session-global counters — they depend on what ran
    BEFORE in the sweep (registry order), so a bare window rotation would
    otherwise flip fingerprints of untouched queries (caught by the
    r6-vs-r7 worktree diff: 46 spurious changes, all counter drift)."""
    mod = _load_script()
    a = mod.normalize(
        "MapPartitionsRDD[1150] transform(x, lambdafunction(length(lambda x_127#5), "
        "lambda x_127#5)) (l_tax#3 = 0.0) AS _common_expr_9#77"
    )
    b = mod.normalize(
        "MapPartitionsRDD[7] transform(x, lambdafunction(length(lambda x_9#88), "
        "lambda x_9#88)) (l_tax#12 = 0.0) AS _common_expr_15#2"
    )
    assert a == b


def test_report_names_the_moved_plans():
    """``--check``/``--update`` print the sorted names of the changed and
    the new queries, not only how many there are."""
    mod = _load_script()
    assert mod._named(["c", "b"]) == "2 [b, c]"
    assert mod._named([]) == "0"

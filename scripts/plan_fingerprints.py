"""Plan fingerprints: mechanically couple "plan changed" to "window slot".

Round 5 proved that changed-query identification by hand misses plans: the
``helpers.DEC`` widening changed the physical plan of every ``dsum``/``davg``
consumer without touching a single query body, and only the hand-picked 19
got driver re-verify slots.  This script makes the coupling mechanical:

- ``python scripts/plan_fingerprints.py --check`` recomputes the normalized
  physical-plan fingerprint of every registry query at sf0.001 and compares
  against the committed ``PLAN_FINGERPRINTS.json``.  A mismatch is allowed
  ONLY for names inside the current driver gate window
  (``GATE_PRIORITY[:GATE_WINDOW]``) — i.e. queries already queued for a
  fresh driver verdict.  Exit 1 otherwise.
- ``python scripts/plan_fingerprints.py --update`` regenerates the file, but
  refuses to rewrite the fingerprint of a query OUTSIDE the current window
  (that would silently skip re-verification); ``--force`` overrides with a
  loud note for the rare deliberate bypass (e.g. a pure plan-text rename).
- ``--repo-root PATH`` imports the engine package from another checkout
  (a git worktree), so two revisions' fingerprints can be diffed to
  retro-derive exactly which plans a change touched.

Normalization strips run-dependent tokens (expression ids ``#123``, codegen
ids, ephemeral view counters, paths, statistics/size estimates) so the
fingerprint is stable across processes and hosts; everything structural —
operator tree, join strategies, PushedFilters, ReadSchema, partitioning —
is kept, because those ARE the properties a re-verify exists to re-check.

KNOWN LIMITATION — control-plane queries: the three lifecycle queries
(``queries/lifecycle.py``) execute their pipeline (JDBC round-trip,
streaming drain, CopyEngine ticks) eagerly at build time and return a scan
of the staged OUTPUT, so their fingerprint pins only that final scan — a
change inside the copy/streaming machinery will NOT flip it. Their
re-verification coupling is the rotation policy's "changed building code ⇒
window slot" rule (queries/__init__.py), which the driver gate enforces
through their end-to-end content hash instead.

``tests/test_plan_fingerprints.py`` runs the --check logic in pytest.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
DEFAULT_SF_DIR = "/root/testdata/sf0.001"
FP_FILE = REPO / "PLAN_FINGERPRINTS.json"

_NORMALIZERS = [
    # expression ids: l_orderkey#123L -> l_orderkey#N
    (re.compile(r"#\d+"), "#N"),
    # ephemeral temp-view counter: _q_lineitem_42 -> _q_lineitem_N
    (re.compile(r"(_q_[A-Za-z_]+?_)\d+"), r"\1N"),
    # codegen stage ids
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    # plan / subquery ids
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"Subquery subquery#N, \[id=#?N\]"), "Subquery#N"),
    # filesystem locations and listing sizes
    (re.compile(r"\[file:[^\]]*\]"), "[LOCATION]"),
    (re.compile(r"Location: \S+"), "Location: LOCATION"),
    (re.compile(r"/[\w./-]*testdata/sf[\d.]+"), "SFDIR"),
    (re.compile(r"/tmp/[\w./-]+"), "TMPPATH"),
    # statistics / size estimates vary with file layout
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(X)"),
    (re.compile(r"sizeInBytes=[^,)]*"), "sizeInBytes=X"),
    (re.compile(r"rowCount=\d+"), "rowCount=X"),
    # RDD ids in Scan ExistingRDD arguments (localCheckpoint frames,
    # createDataFrame probe relations): a session-GLOBAL counter, so the
    # value depends on everything run before in the sweep
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # lambda variable names in higher-order functions (transform/filter/
    # aggregate): Spark numbers them from a session-global counter, so
    # the suffix depends on every HOF expression built earlier — i.e. on
    # REGISTRY ORDER. Without this, a mere gate-window rotation flips
    # every HOF query's fingerprint (caught by the r6-vs-r7 worktree
    # diff: 46 spurious 'changes', all lambda-counter drift).
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    # common-subexpression-elimination aliases: same session-global-
    # counter problem as lambda variables
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    # object hashes occasionally embedded in udf/lambda names
    (re.compile(r"0x[0-9a-f]{6,}"), "0xH"),
    (re.compile(r"at 0xH"), "at 0xH"),
]


def normalize(plan_text: str) -> str:
    out = plan_text
    for pat, repl in _NORMALIZERS:
        out = pat.sub(repl, out)
    # drop fully volatile lines (memory sizes, timestamps in options)
    kept = []
    for line in out.splitlines():
        if "spark_catalog.default" in line and "metadata" in line.lower():
            continue
        kept.append(line.rstrip())
    return "\n".join(kept)


def _import_engine(repo_root: str):
    """Import the engine package from ``repo_root`` specifically.

    When fingerprinting another checkout (a git worktree — the diff use
    case), the CURRENT repo's package may already be imported or simply
    shadow it on sys.path; purge any loaded ``mssql2monetdb_spark`` modules
    and put ``repo_root`` first so the import genuinely resolves there.
    """
    root = str(Path(repo_root).resolve())
    if root != str(REPO):
        for mod in [m for m in sys.modules if m.split(".")[0] == "mssql2monetdb_spark"]:
            del sys.modules[mod]
    if root in sys.path:
        sys.path.remove(root)
    sys.path.insert(0, root)


def fingerprint_all(repo_root: str, sf_dir: str, dump_dir: str | None = None) -> dict[str, str]:
    _import_engine(repo_root)
    from mssql2monetdb_spark.session import get_spark  # noqa: E402
    import mssql2monetdb_spark.queries as Q  # noqa: E402

    from mssql2monetdb_spark.engine import caches

    spark = get_spark("plan-fingerprints")
    fps: dict[str, str] = {}
    names = list(Q.queries())
    for i, name in enumerate(names):
        build = Q.queries()[name]
        try:
            df = build(spark, sf_dir)
            # Fingerprint the query's INTRINSIC (cache-free) plan: clear
            # all cache state between build and explain. Cached relations
            # are substituted into plans as InMemoryTableScan at planning
            # time, and whether one is still registered when a later (or
            # iterative — connected components unpersists superseded
            # label frames with blocking=False) query plans is a TIMING
            # race, making fingerprints of cache-adjacent queries flap
            # run-to-run. Clearing before explain also frees the sweep's
            # accumulated cache memory.
            caches.release()
            spark.catalog.clearCache()
            text = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - record, don't abort the sweep
            fps[name] = f"ERROR:{type(exc).__name__}"
            print(f"[{i + 1}/{len(names)}] {name}: ERROR {exc}", file=sys.stderr)
            continue
        norm = normalize(text)
        fps[name] = hashlib.sha256(norm.encode()).hexdigest()[:16]
        if dump_dir:
            # normalized text per query, so a hash mismatch is diffable
            # instead of opaque (any residual run-dependent token shows
            # up as a one-line diff)
            Path(dump_dir).mkdir(parents=True, exist_ok=True)
            (Path(dump_dir) / f"{name}.txt").write_text(norm)
        if (i + 1) % 25 == 0:
            print(f"[{i + 1}/{len(names)}] fingerprinted", file=sys.stderr)
    return fps


def load_committed() -> dict[str, str]:
    if FP_FILE.exists():
        return json.loads(FP_FILE.read_text())
    return {}


def current_window(repo_root: str) -> list[str]:
    _import_engine(repo_root)
    from mssql2monetdb_spark.queries import GATE_PRIORITY, GATE_WINDOW  # noqa: E402

    return list(GATE_PRIORITY[:GATE_WINDOW])


def find_offenders(
    fps: dict[str, str], committed: dict[str, str], window: set[str]
) -> tuple[list[str], list[str], list[str]]:
    """Pure check logic: (changed, new, offenders) given two fingerprint
    maps and the gate window. Split out so the pytest gate
    (``tests/test_plan_fingerprints.py``) can exercise it on stored maps
    without a Spark sweep."""
    changed = sorted(n for n, fp in fps.items() if committed.get(n) not in (None, fp))
    new = sorted(n for n in fps if n not in committed)
    offenders = [n for n in changed if n not in window]
    return changed, new, offenders


def _named(names: list[str]) -> str:
    """``3 [a, b, c]`` — a count followed by the sorted names, so a report
    says which plans moved without a ``--dump-dir`` diff."""
    return f"{len(names)} [{', '.join(sorted(names))}]" if names else "0"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo-root", default=str(REPO))
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--update", action="store_true")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--out", default=None, help="write fingerprints to this file instead of PLAN_FINGERPRINTS.json")
    ap.add_argument("--dump-dir", default=None, help="also write each query's normalized plan text here (diffable mismatches)")
    args = ap.parse_args()

    fps = fingerprint_all(args.repo_root, args.sf_dir, dump_dir=args.dump_dir)

    if args.out:
        Path(args.out).write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
        print(f"wrote {len(fps)} fingerprints to {args.out}")
        return 0

    committed = load_committed()
    window = set(current_window(args.repo_root))
    changed, new, offenders = find_offenders(fps, committed, window)

    if args.update:
        if offenders and not args.force:
            print(
                "REFUSING to update fingerprints for plan-changed queries outside "
                f"the current gate window: {offenders}\n"
                "Add them to GATE_PRIORITY (they need a driver re-verify) or pass "
                "--force for a deliberate bypass.",
                file=sys.stderr,
            )
            return 1
        if offenders:
            print(f"FORCED update for out-of-window changed plans: {offenders}")
        FP_FILE.write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
        print(f"updated {FP_FILE.name}: {_named(changed)} changed, {_named(new)} new")
        return 0

    # --check (default)
    if offenders:
        print(
            f"PLAN CHANGED outside gate window ({len(offenders)}): {offenders}\n"
            "Policy: a changed plan requires a driver re-verify slot. Add the "
            "name(s) to GATE_PRIORITY and regenerate PLAN_FINGERPRINTS.json "
            "(scripts/plan_fingerprints.py --update) in the same commit."
        )
        return 1
    print(
        f"OK: {len(fps)} fingerprints; {_named(changed)} changed (all inside window); "
        f"{_named(new)} new"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

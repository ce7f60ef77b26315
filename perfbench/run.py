"""Copy-engine benchmark: one seeded, closed-loop, single-client workload per
run against the public ``CopyEngine`` API.

    python3 perfbench/run.py --workload full_refresh --seed 1 --seconds 16 --trace 0

Run from the repository root. The run starts Spark, prepares the workload
(inputs, engine, first load) and runs two warm-up ops; ``setup_s`` is the
time from the script's start to the first timed op. It then drives timed
ops back to back for ``--seconds``, and on until it has at least eight
primary ops, and checks the published output after every op. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones, measured with spans on every other op.
See README.md in this directory.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
#: Timed primary ops a run makes at least, however long they take, so that
#: ``op_s_p50`` is a median of enough samples.
MIN_PRIMARY_OPS = 8
#: Primary ops run and checked before the first timed op, inside
#: ``setup_s``: the first ops after the cold load take up to twice as long
#: as later ones, and how fast they speed up depends on the host's load.
WARMUP_OPS = 2
DRIVER_MEMORY = "3g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_to(work: Path) -> None:
    """Point every scratch location Spark, Derby and Python use into
    ``work``, so the run writes nothing outside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # -XX:-UsePerfData: the JVM would otherwise keep its counters in /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work / 'derby-home'}"
    java_opts += f" -Dderby.stream.error.file={work / 'derby.log'}"
    os.environ.update(
        {
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--driver-java-options",
                    shlex.quote(java_opts),
                    "--conf",
                    shlex.quote(f"spark.sql.warehouse.dir={work / 'spark-warehouse'}"),
                    "pyspark-shell",
                ]
            ),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def run_op(wl, kind: str, op: int, counters, tracer, traced: bool) -> dict:
    """One op of ``kind`` (its untimed preparation, the timed call, the
    untimed output check); returns its record."""
    wl.before_op(kind)
    tracer.enabled, tracer.op = traced, op
    group = f"perfbench-op-{op}"
    error = None
    with counters.group(group) if counters else nullcontext():
        start = time.perf_counter()
        try:
            code = wl.run_op()
        except Exception:  # noqa: BLE001 - counted as a failed op
            code, error = None, traceback.format_exc()
        elapsed = time.perf_counter() - start
    tracer.enabled = False
    errors = [error] if error else []
    if code != wl.expect_exit(kind):
        errors.append(f"{kind} op {op}: exit code {code}, expected {wl.expect_exit(kind)}")
    try:
        errors += wl.check(full=kind == wl.cycle[0])
    except Exception:  # noqa: BLE001 - a check that cannot run fails the op
        errors.append(traceback.format_exc())
    return {
        "kind": kind,
        "s": elapsed,
        "rows": wl.rows_published(),
        "traced": traced,
        "errors": errors,
        "spark": counters.read(group) if counters else {},
    }


def measure(wl, spark, seconds: float, trace: bool):
    """Run :data:`WARMUP_OPS` primary ops, then drive the workload's op
    cycle for ``seconds`` and until :data:`MIN_PRIMARY_OPS` primary ops are
    done. Returns the warm-up records, the timed records, the clock reading
    at the start of the first timed op, the tracer and the host counters.
    With ``trace``, spans and per-span Spark job groups are on in every
    other op, the second one first, and at least three cycles run, so that
    traced ops can be compared with their neighbours past the first cycle
    (:func:`perfbench.report.trace_overhead`)."""
    from perfbench.sparkstats import SparkCounters, cpu_times, loadavg_1m, steal_share
    from perfbench.tracing import Tracer

    tracer = Tracer()
    counters = None
    if trace:
        counters = SparkCounters(spark)
        tracer.scope = counters.scope
        tracer.install()
    n = len(wl.cycle)
    records: list[dict] = []
    try:
        warm = [run_op(wl, wl.cycle[0], -1, counters, tracer, False) for _ in range(WARMUP_OPS)]
        cpu0 = cpu_times()
        first_op_at = time.perf_counter()
        deadline = first_op_at + seconds
        primary = 0
        while time.perf_counter() < deadline or primary < MIN_PRIMARY_OPS or len(records) < (1 + 2 * trace) * n:
            op = len(records)
            kind = wl.cycle[op % n]
            records.append(run_op(wl, kind, op, counters, tracer, trace and op % 2 == 1))
            primary += kind == wl.cycle[0]
    finally:
        tracer.uninstall()
    host = {"host.steal_share": steal_share(cpu0, cpu_times()), "host.loadavg_1m": loadavg_1m()}
    return warm, records, first_op_at, tracer, host


def end_to_end(records, primary: str, setup_s: float) -> dict[str, tuple[float, str]]:
    ops = [r for r in records if r["kind"] == primary]
    times = [r["s"] for r in ops]
    return {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (statistics.median(times), "s"),
        "rows_per_s": (sum(r["rows"] for r in ops) / sum(times), "rows/s"),
    }


def main(argv: list[str]) -> int:
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    try:
        import mssql2monetdb_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is missing: {exc}", file=sys.stderr)
        return 1
    if not Path(mssql2monetdb_spark.__file__).resolve().is_relative_to(ROOT):
        print("perfbench: the engine package is not this checkout's", file=sys.stderr)
        return 1

    from perfbench import report, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {list(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    confine_to(work)
    from mssql2monetdb_spark.session import get_spark

    spark = get_spark("perfbench")
    wl = None
    try:
        parts = {"session": time.perf_counter() - T0}
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, str(work / "run"))
        start = time.perf_counter()
        wl.prepare()
        parts["prepare"] = time.perf_counter() - start
        warm, records, first_op_at, tracer, host = measure(wl, spark, args.seconds, bool(args.trace))
        parts["warm-up"] = first_op_at - start - parts["prepare"]
        e2e = end_to_end(records, wl.cycle[0], first_op_at - T0)
        checked = warm + records
        failed = sum(1 for r in checked if r["errors"])
        report.print_end_to_end(args.workload, e2e, records, checked, parts, host)
        if args.trace:
            from perfbench.sparkstats import jvm_peak_rss_mb

            metrics = report.per_layer(wl, records, tracer, jvm_peak_rss_mb(spark.sparkContext))
            report.print_per_layer(metrics)
            spans_path = ROOT / ".perfbench_work" / f"spans-{args.workload}-{os.getpid()}.json"
            tracer.dump(str(spans_path))
            print(f"spans written to {spans_path.relative_to(ROOT)}")
        else:
            metrics = e2e
        for r in checked:
            for e in r["errors"]:
                print(f"FAILED op: {e}", file=sys.stderr)
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(checked),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

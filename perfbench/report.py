"""Turn the per-op records and spans of a run into named metrics and print
them, one ``<name> <value> <unit>`` line each."""

from __future__ import annotations

import statistics

from perfbench.stats import describe
from perfbench.tracing import durations, summarize

#: Span-summary key -> (per-layer metric name, unit). Values are means per
#: traced op; ``.s`` is inclusive time, ``.self_s`` excludes child spans.
_SPAN_METRICS = {
    "copy.run.self_s": ("copy.self_s", "s"),
    "watermark.check.s": ("watermark.check_s", "s"),
    "watermark.probe.calls": ("watermark.probes_per_tick", "count"),
    "watermark.state_io.s": ("watermark.state_io_s", "s"),
    "extract.count.s": ("extract.count_s", "s"),
    "load.write.s": ("load.write_s", "s"),
    "publish.switch.s": ("publish.switch_s", "s"),
    "cleanup.s": ("cleanup.s", "s"),
    "cleanup.items": ("cleanup.versions_dropped", "count"),
    "export.load.s": ("export.load_s", "s"),
    "jdbc.stage.s": ("jdbc.stage_s", "s"),
    "jdbc.import.self_s": ("jdbc.import_s", "s"),
    "export.publish.s": ("export.publish_s", "s"),
    "export.cleanup.s": ("export.cleanup_s", "s"),
    "layer.engine.watermark": ("layer.engine.watermark.self_s", "s"),
    "layer.sources_schema": ("layer.sources_schema.self_s", "s"),
    "layer.engine.publish": ("layer.engine.publish.self_s", "s"),
    "layer.engine.export": ("layer.engine.export.self_s", "s"),
    "layer.sources.jdbc": ("layer.sources.jdbc.self_s", "s"),
}

#: Stage-counter key -> (per-layer metric name, unit, scale). Means per op.
_SPARK_METRICS = {
    "jobs": ("spark.jobs_per_op", "count", 1),
    "stages": ("spark.stages_per_op", "count", 1),
    "tasks": ("spark.tasks_per_op", "count", 1),
    "executor_cpu_ns": ("spark.executor_cpu_s_per_op", "s", 1e-9),
    "gc_ms": ("spark.gc_s_per_op", "s", 1e-3),
    "shuffle_write_bytes": ("spark.shuffle_bytes_per_op", "bytes", 1),
}


def per_layer(wl, records, tracer, jvm_rss_mb: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: span times and the Spark input and output charged
    to a span from the traced ops, the other Spark counters from every op.
    A layer the workload never reaches reports 0."""
    traced = [i for i, r in enumerate(records) if r["traced"]]
    primary = [records[i] for i in traced if records[i]["kind"] == wl.cycle[0]]
    spans = summarize(tracer.spans, traced)
    out = {name: (spans.get(key, 0.0), unit) for key, (name, unit) in _SPAN_METRICS.items()}
    plan = spans.get("extract.read_source.s", 0.0) + spans.get("extract.normalize.s", 0.0)
    out["extract.plan_s"] = (plan, "s")
    probes = durations(tracer.spans, "watermark.probe", traced)
    out["watermark.probe_s_p50"] = (statistics.median(probes) if probes else 0.0, "s")

    def spark_mean(key: str) -> float:
        return sum(r["spark"].get(key, 0) for r in records) / len(records)

    for key, (name, unit, scale) in _SPARK_METRICS.items():
        out[name] = (spark_mean(key) * scale, unit)
    spill = spark_mean("disk_spill_bytes") + spark_mean("memory_spill_bytes")
    out["spark.spill_bytes_per_op"] = (spill, "bytes")
    out["spark.jvm_peak_rss_mb"] = (jvm_rss_mb, "MiB")

    def primary_mean(key: str) -> float:
        """Mean of a Spark counter over the traced primary ops."""
        return sum(r["spark"].get(key, 0) for r in primary) / len(primary)

    # source reads: every scan of a primary op except the trigger probes'
    scanned = primary_mean("input_records") - primary_mean("watermark.check.input_records")
    out["extract.read_amplification"] = (scanned / wl.source_rows, "ratio")
    out["load.bytes_written_per_op"] = (primary_mean("load.write.output_bytes"), "bytes")
    delta = wl.sizes.get("delta", 0)
    written = primary_mean("load.write.output_records")
    out["load.rewrite_ratio"] = (written / delta if delta else 0.0, "ratio")
    idle = [r["s"] for r in records if r["kind"] == "idle"]
    out["tick.idle_s_p50"] = (statistics.median(idle) if idle else 0.0, "s")
    out["trace.overhead_s"] = (trace_overhead(records, len(wl.cycle)), "s")
    return dict(sorted(out.items()))


def trace_overhead(records, first: int) -> float:
    """Median, over the traced ops from record ``first + 1`` on whose two
    neighbours are untraced ops of the same kind, of the traced op's time
    minus its neighbours' mean. Taking both neighbours cancels the drift of
    op times over a run (the JVM keeps warming), and starting past the first
    cycle keeps its cold ops out."""
    diffs = []
    for i in range(first + 1, len(records) - 1):
        before, op, after = records[i - 1 : i + 2]
        if op["traced"] and not before["traced"] and not after["traced"] and before["kind"] == op["kind"] == after["kind"]:
            diffs.append(op["s"] - (before["s"] + after["s"]) / 2)
    return statistics.median(diffs) if diffs else 0.0


def print_end_to_end(workload: str, e2e, records, checked, parts: dict[str, float], host: dict) -> None:
    """``records`` are the timed ops, ``checked`` every op whose output was
    checked (the warm-up ops too); ``parts`` splits ``setup_s``."""
    failed = sum(1 for r in checked if r["errors"])
    setup = " + ".join(f"{k} {v:.3f}" for k, v in parts.items())
    lines = [f"setup_s {e2e['setup_s'][0]:.4f} s ({setup})"]
    kinds = dict.fromkeys(r["kind"] for r in records)
    for kind in kinds:
        times = [r["s"] for r in records if r["kind"] == kind]
        each = " ".join(f"{t:.3f}" for t in times)
        lines.append(f"{kind} op seconds: {describe(times)} [{each}]")
    lines += [
        f"op_s_p50 {e2e['op_s_p50'][0]:.4f} s",
        f"rows_per_s {e2e['rows_per_s'][0]:.1f} rows/s",
        f"error_rate {failed / len(checked):.4f} ratio ({failed} failed / {len(checked)} attempted)",
        f"host steal_share {host['host.steal_share']:.4f} loadavg_1m {host['host.loadavg_1m']:.2f}",
    ]
    for line in lines:
        print(f"{workload} {line}")


def print_per_layer(metrics: dict[str, tuple[float, str]]) -> None:
    for name, (value, unit) in metrics.items():
        print(f"layer-metric {name} {value:.6g} {unit}")

"""Tests for the benchmark's own helpers; they need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.report import trace_overhead
from perfbench.stats import percentile, reportable_percentiles
from perfbench.tracing import Span, Tracer, self_times, summarize


def _span(name, start, end, parent=None, op=0):
    return Span(name, start, end, parent, op)


def test_self_time_subtracts_children():
    spans = [
        _span("copy.run", 0.0, 10.0),
        _span("extract.count", 1.0, 3.0, parent=0),
        _span("load.write", 4.0, 8.0, parent=0),
        _span("jdbc.stage", 5.0, 6.0, parent=2),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0])


def test_self_time_counts_overlapping_children_once():
    # two children overlapping on [2, 3]: covered time is [1, 4] = 3 s
    spans = [_span("export.load", 0.0, 5.0), _span("jdbc.import", 1.0, 3.0, 0), _span("jdbc.import", 2.0, 4.0, 0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span("copy.run", 0.0, 2.0), _span("load.write", 1.0, 5.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_summarize_means_per_op_and_charges_layers():
    spans = [
        _span("copy.run", 0.0, 4.0, op=0),
        _span("load.write", 1.0, 2.0, parent=0, op=0),
        _span("copy.run", 10.0, 12.0, op=1),
        _span("copy.run", 20.0, 29.0, op=2),  # op 2 is not one of the timed ops
    ]
    out = summarize(spans, [0, 1])
    assert out["copy.run.s"] == pytest.approx(3.0)
    assert out["copy.run.calls"] == pytest.approx(1.0)
    assert out["layer.engine.copy"] == pytest.approx(2.5)
    assert out["layer.engine.publish"] == pytest.approx(0.5)


def test_tracer_records_nesting_and_restores_originals():
    class Box:
        def outer(self):
            return self.inner()

        def inner(self):
            return [1, 2, 3]

    original = Box.__dict__["outer"]
    tracer = Tracer()
    targets = ((__name__, "_BOX.outer", "copy.run"), (__name__, "_BOX.inner", "cleanup"))
    globals()["_BOX"] = Box
    try:
        tracer.install(targets)
        tracer.enabled, tracer.op = True, 7
        assert Box().outer() == [1, 2, 3]
        tracer.enabled = False
        Box().outer()  # disabled: no spans
    finally:
        tracer.uninstall()
        del globals()["_BOX"]
    assert [(s.name, s.parent, s.op, s.items) for s in tracer.spans] == [
        ("copy.run", None, 7, 3),
        ("cleanup", 0, 7, 3),
    ]
    assert Box.__dict__["outer"] is original


def test_tracer_names_a_shared_function_by_its_parent():
    def read():
        return None

    def check():
        return globals()["_READ"]()  # looked up where the tracer patches it

    globals().update(_READ=read, _CHECK=check)
    tracer = Tracer()
    try:
        tracer.install(((__name__, "_READ", "extract.read_source"), (__name__, "_CHECK", "watermark.check")))
        tracer.enabled, tracer.op = True, 0
        _CHECK()  # noqa: F821 - installed above
        _READ()  # noqa: F821
    finally:
        tracer.uninstall()
        del globals()["_READ"], globals()["_CHECK"]
    assert [s.name for s in tracer.spans] == ["watermark.check", "watermark.read_source", "extract.read_source"]
    out = summarize(tracer.spans, [0])
    assert "layer.engine.watermark" in out and "layer.sources_schema" in out


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 11)]
    assert percentile(xs, 50) == 5.0
    assert percentile(xs, 90) == 9.0
    assert percentile(xs, 100) == 10.0


def test_upper_percentiles_need_ten_samples_beyond():
    assert reportable_percentiles([float(i) for i in range(12)]) == {}
    xs = [float(i) for i in range(100)]
    # p90 = 89 has 10 samples above it; p95 and p99 have fewer
    assert reportable_percentiles(xs) == {90: 89.0}
    assert set(reportable_percentiles([float(i) for i in range(1000)])) == {90, 95, 99}


def test_generator_is_deterministic_per_seed():
    a = gen.orders(3, 1000, 50)
    assert a.equals(gen.orders(3, 1000, 50))
    assert not a.equals(gen.orders(4, 1000, 50))
    assert gen.customers(3, 50).equals(gen.customers(3, 50))
    assert gen.poll_rows(3, 1, 2, 100, 10).equals(gen.poll_rows(3, 1, 2, 100, 10))
    assert not gen.poll_rows(3, 1, 2, 100, 10).equals(gen.poll_rows(3, 1, 3, 100, 10))


def test_generator_pads_strings_and_checksums_add_up():
    table = gen.orders(5, 2000, 100)
    comments = table.column("o_comment").to_pylist()
    assert all(c != c.strip() for c in comments)
    whole = gen.checksums(table, "o_orderkey", "o_totalprice")
    halves = gen.checksums(table.slice(0, 700), "o_orderkey", "o_totalprice") + gen.checksums(
        table.slice(700), "o_orderkey", "o_totalprice"
    )
    assert whole == halves
    assert whole.count == 2000 and whole.key_sum == 2000 * 2001 // 2


def test_write_parts_round_trips(tmp_path):
    import pyarrow.parquet as pq

    table = gen.customers(9, 1001)
    gen.write_parts(table, str(tmp_path / "customer.parquet"))
    assert len(list((tmp_path / "customer.parquet").iterdir())) == gen.PARTS
    assert pq.read_table(str(tmp_path / "customer.parquet")).equals(table)


def test_trace_overhead_cancels_drift_and_skips_the_first_cycle():
    # untraced ops speed up by 0.1 s per op; traced ones cost 0.05 s more
    records = [
        {"kind": "load", "s": 3.0 - 0.1 * i + (0.05 if i % 2 else 0.0), "traced": i % 2 == 1}
        for i in range(9)
    ]
    records[1]["s"] = 9.0  # next to the cold first op: left out
    assert trace_overhead(records, 1) == pytest.approx(0.05)
    # neighbours of another kind do not count
    mixed = [dict(r, kind=k) for r, k in zip(records[:5], ["fresh", "fresh", "idle", "fresh", "fresh"])]
    assert trace_overhead(mixed, 1) == 0.0

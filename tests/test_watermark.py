"""Watermark trigger decision table (CopyTool.java:332-477) + state store."""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mssql2monetdb_spark.engine.watermark import (
    FooterFallback,
    Watermark,
    WatermarkStore,
    has_new_data,
    probe_max,
    probe_max_footer,
)
from mssql2monetdb_spark.sources.footers import ParquetTable


def test_probe_types(spark):
    df = spark.createDataFrame(
        [(1, date(2024, 1, 1), datetime(2024, 1, 1, 12, 0))], ["i", "d", "ts"]
    )
    assert probe_max(df, "i") == Watermark(1, "bigint")
    assert probe_max(df, "d") == Watermark(date(2024, 1, 1), "date")
    assert probe_max(df, "ts") == Watermark(datetime(2024, 1, 1, 12, 0), "timestamp")


def test_probe_empty_is_none(spark):
    df = spark.createDataFrame([], "i long")
    assert probe_max(df, "i") is None


def test_probe_unsupported_type(spark):
    df = spark.createDataFrame([("x",)], ["s"])
    with pytest.raises(TypeError, match="unsupported"):
        probe_max(df, "s")


# --- the decision table (fail-open rules) -------------------------------

def test_no_probe_fails_open():
    assert has_new_data(None, Watermark(5, "bigint")) is True  # CopyTool.java:352


def test_no_state_runs():
    assert has_new_data(Watermark(5, "bigint"), None) is True  # 420-427


def test_type_mismatch_fails_open():
    assert has_new_data(Watermark(5, "bigint"), Watermark(date(2024, 1, 1), "date")) is True


def test_typed_compare():
    assert has_new_data(Watermark(6, "bigint"), Watermark(5, "bigint")) is True
    assert has_new_data(Watermark(5, "bigint"), Watermark(5, "bigint")) is False
    assert has_new_data(Watermark(4, "bigint"), Watermark(5, "bigint")) is False
    assert (
        has_new_data(
            Watermark(datetime(2024, 1, 2), "timestamp"),
            Watermark(datetime(2024, 1, 1), "timestamp"),
        )
        is True
    )
    assert (
        has_new_data(
            Watermark(date(2024, 1, 1), "date"), Watermark(date(2024, 1, 1), "date")
        )
        is False
    )


# --- state store --------------------------------------------------------

def test_store_roundtrip(tmp_path):
    store = WatermarkStore(str(tmp_path))
    for wm in (
        Watermark(42, "bigint"),
        Watermark(date(2024, 2, 29), "date"),
        Watermark(datetime(2024, 1, 1, 23, 59, 59, 123456), "timestamp"),
    ):
        store.save("abc123", wm)
        assert store.load("abc123") == wm


def test_store_checksum_mismatch_invalidates(tmp_path):
    # config change invalidates trigger state (CopyTool.java:434-438)
    store = WatermarkStore(str(tmp_path))
    store.save("abc123", Watermark(42, "bigint"))
    assert store.load("other_checksum") is None


def test_store_corrupt_file_fails_open(tmp_path):
    store = WatermarkStore(str(tmp_path))
    path = tmp_path / "job-abc_lastrun.json"
    path.write_text("{not json")
    assert store.load("abc") is None


# --- footer probe: probe_max from parquet statistics ---------------------

_EPOCH = datetime(1970, 1, 1)
_MICROS = timedelta(microseconds=1)
#: name -> (arrow type, value strategy, footer must fall back when the
#: column holds a value)
_KINDS = {
    "int64": (pa.int64(), st.integers(-(2**63), 2**63 - 1), False),
    "int32": (pa.int32(), st.integers(-(2**31), 2**31 - 1), False),
    "int16": (pa.int16(), st.integers(-(2**15), 2**15 - 1), False),
    "int8": (pa.int8(), st.integers(-128, 127), False),
    "date": (pa.date32(), st.dates(date(1905, 1, 1), date(2200, 1, 1)), False),
    "ts_us": (pa.timestamp("us"), st.datetimes(datetime(1905, 1, 1), datetime(2200, 1, 1)), False),
    "ts_us_utc": (
        pa.timestamp("us", tz="UTC"),
        st.datetimes(datetime(1905, 1, 1), datetime(2200, 1, 1)),
        False,
    ),
    "ts_ms": (pa.timestamp("ms"), st.datetimes(datetime(1905, 1, 1), datetime(2200, 1, 1)), False),
    "old_date": (pa.date32(), st.dates(date(1600, 1, 1), date(1899, 12, 31)), True),
    "decimal": (pa.decimal128(12, 2), st.integers(-(10**9), 10**9), True),
    "uint32": (pa.uint32(), st.integers(0, 2**32 - 1), True),
    "int96": (pa.timestamp("us"), st.datetimes(datetime(1905, 1, 1), datetime(2200, 1, 1)), True),
}


def _arrow_values(kind: str, values: list) -> pa.Array:
    arrow_type = _KINDS[kind][0]
    if kind == "decimal":
        from decimal import Decimal

        values = [None if v is None else Decimal(v).scaleb(-2) for v in values]
    elif kind.startswith(("ts", "int96")):
        values = [None if v is None else (v - _EPOCH) // _MICROS for v in values]
        if kind == "ts_ms":
            values = [None if v is None else v // 1000 for v in values]
    return pa.array(values, type=arrow_type)


@st.composite
def _parquet_tables(draw):
    kind = draw(st.sampled_from(sorted(_KINDS)))
    values = _KINDS[kind][1]
    cells = st.one_of(st.none(), values) if draw(st.booleans()) else values
    all_null = draw(st.booleans()) and draw(st.booleans())
    files = draw(
        st.lists(
            st.lists(st.none() if all_null else cells, max_size=12),
            min_size=1,
            max_size=3,
        )
    )
    return {
        "kind": kind,
        "files": files,
        "row_group_size": draw(st.integers(1, 5)),
        "name": draw(st.sampled_from(["seq", "Seq", "SEQ"])),
        "probe": draw(st.sampled_from(["seq", "sEq"])),
        "success_file": draw(st.booleans()),
        "hive": draw(st.integers(0, 5)) == 0,
    }


@pytest.fixture
def off_utc_local_zone():
    """Python's local zone off UTC while the test runs: pyspark types a
    TimestampType value in local time and a TimestampNTZType value as wall
    time, which only differ when the local zone is not UTC."""
    import time

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(_parquet_tables())
def test_footer_probe_equals_spark_probe_or_falls_back(
    spark, tmp_path_factory, off_utc_local_zone, table
):
    """Over random files, the footer probe returns exactly what
    ``probe_max(spark.read.parquet(dir))`` returns, or reports a fallback
    — and it reports one exactly where it must: decimal, unsigned, INT96,
    pre-1900 dates and hive-partitioned directories."""
    d = tmp_path_factory.mktemp("footer") / "t.parquet"
    target = d / "p=0" if table["hive"] else d
    os.makedirs(target)
    for i, values in enumerate(table["files"]):
        arrow = pa.table(
            {
                table["name"]: _arrow_values(table["kind"], values),
                "other": pa.array(range(len(values)), type=pa.int64()),
            }
        )
        pq.write_table(
            arrow,
            str(target / f"part-{i}.parquet"),
            row_group_size=table["row_group_size"],
            use_deprecated_int96_timestamps=table["kind"] == "int96",
        )
    if table["success_file"]:
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".staging").write_bytes(b"not parquet")
    kind = table["kind"]
    has_value = any(v is not None for values in table["files"] for v in values)
    # a type outside the footer's reach falls back even without values
    must_fall_back = table["hive"] or (
        _KINDS[kind][2] and (has_value or kind != "old_date")
    )
    try:
        got = probe_max_footer(ParquetTable(str(d)), table["probe"])
    except FooterFallback:
        assert must_fall_back, table
        return
    assert not must_fall_back, table
    assert got == probe_max(spark.read.parquet(str(d)), table["probe"]), table


def test_footer_probe_falls_back_where_footers_cannot_answer(tmp_path):
    """Each fallback reason that the random files above do not draw."""
    def write(name, arrow):
        path = tmp_path / name
        os.makedirs(path, exist_ok=True)
        pq.write_table(arrow, str(path / f"part-{len(os.listdir(path))}.parquet"))
        return str(path)

    mixed = write("mixed", pa.table({"seq": pa.array([1], pa.int32())}))
    write("mixed", pa.table({"seq": pa.array([2], pa.int64())}))
    nested = write("nested", pa.table({"seq": pa.array([{"a": 1}])}))
    twice = write("twice", pa.table({"seq": [1], "SEQ": [2]}))
    missing = write("missing", pa.table({"other": [1]}))
    nostats = str(tmp_path / "nostats")
    os.makedirs(nostats)
    pq.write_table(pa.table({"seq": [1, 2]}), f"{nostats}/p.parquet", write_statistics=False)
    broken = write("broken", pa.table({"seq": [1]}))
    (tmp_path / "broken" / "part-9.parquet").write_bytes(b"PAR1 truncated")
    cases = [
        (mixed, "seq", "changes type"),
        (nested, "seq", "nested"),
        (twice, "seq", "matches 2 columns"),
        (missing, "seq", "matches 0 columns"),
        (nostats, "seq", "no min/max"),
        (broken, "seq", "unreadable footer"),
        (str(tmp_path / "absent"), "seq", "cannot list"),
        ("hdfs://nn/warehouse/t.parquet", "seq", "not a local path"),
        (missing, "a.b", "not a plain column name"),
    ]
    for path, column, reason in cases:
        with pytest.raises(FooterFallback, match=reason):
            probe_max_footer(ParquetTable(path), column)
    # a case-sensitive session tells SEQ from seq; file: URIs are local
    got = probe_max_footer(ParquetTable(twice), "SEQ", case_sensitive=True)
    assert got == Watermark(2, "bigint")
    got = probe_max_footer(ParquetTable(f"file://{mixed}/part-0.parquet"), "seq")
    assert got == Watermark(1, "bigint")

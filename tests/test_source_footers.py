"""One footer pass per parquet table (``sources/footers.py``): the record's
schema is exactly Spark's inference, it starts no Spark job, and every case
the footers cannot answer falls back to inference, logging why."""

from __future__ import annotations

import datetime
import decimal
import logging
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from mssql2monetdb_spark.sources.footers import FooterFallback, ParquetTable, hidden

SETTINGS = (
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def _arrow_dir(path, *tables, **write_kw):
    os.makedirs(path, exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(path, f"part-{i}.parquet"), **write_kw)
    return str(path)


def _typed_arrow():
    """Every column kind the conversion must type as Spark does."""
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    return pa.table(
        {
            "l": pa.array([1, 2], pa.int64()),
            "i": pa.array([1, 2], pa.int32()),
            "d": pa.array([datetime.date(2024, 1, 1)] * 2, pa.date32()),
            "ltz": pa.array([ts] * 2, pa.timestamp("us", tz="UTC")),
            "ntz": pa.array([ts] * 2, pa.timestamp("us")),
            "ms": pa.array([ts] * 2, pa.timestamp("ms")),
            "dec": pa.array([decimal.Decimal("1.50")] * 2, pa.decimal128(10, 2)),
            "s": pa.array(["a", "b"]),
            "b": pa.array([b"a", b"b"]),
            "arr": pa.array([[1], [2, 3]]),
            "st": pa.array([{"x": 1, "y": "a"}, {"x": 2, "y": None}]),
            "m": pa.array([[("k", 1)], [("k", 2)]], pa.map_(pa.string(), pa.int64())),
        }
    )


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Table directories covering every type and footer flavour the
    session settings act on: arrow-written (no Spark schema in the
    footer), INT96, NANOS, binary, and a Spark-written table whose footer
    carries its schema with field metadata."""
    root = tmp_path_factory.mktemp("footers")
    ts = pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us"))
    out = {
        "arrow": _arrow_dir(root / "arrow.parquet", _typed_arrow(), _typed_arrow()),
        "int96": _arrow_dir(
            root / "int96.parquet", pa.table({"ts": ts}), use_deprecated_int96_timestamps=True
        ),
        "nanos": _arrow_dir(
            root / "nanos.parquet", pa.table({"ts": ts.cast(pa.timestamp("ns"))}), version="2.6"
        ),
        "binary": _arrow_dir(root / "binary.parquet", pa.table({"b": pa.array([b"x"])})),
        "mixed_case": _arrow_dir(root / "mixed_case.parquet", pa.table({"Seq": [1], "V": ["a"]})),
    }
    spark_dir = str(root / "spark.parquet")
    spark.range(0, 6, numPartitions=3).select(
        "id",
        F.col("id").cast("int").alias("i"),
        F.timestamp_seconds("id").alias("ltz"),
        F.timestamp_seconds("id").cast("timestamp_ntz").alias("ntz"),
        F.col("id").cast("decimal(18,2)").alias("dec"),
        F.col("id").cast("string").cast("binary").alias("b"),
        F.struct(F.col("id").alias("a")).alias("st"),
        F.array("id").alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.col("id").alias("tagged", metadata={"comment": "kept"}),
    ).write.parquet(spark_dir)
    out["spark"] = spark_dir
    return out


def _jobs_in_group(spark, fn):
    sc = spark.sparkContext
    group = f"footers-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, path):
    """``spark.read.parquet(path).schema``, or the error class it raises."""
    try:
        return spark.read.parquet(path).schema
    except Exception as exc:  # the record must raise the same
        return type(exc).__name__


@pytest.mark.parametrize("value", ["true", "false"])
@pytest.mark.parametrize("key", SETTINGS)
def test_record_schema_is_sparks_inference(spark, tables, key, value):
    """Under each setting on and off, the record reads every table with
    the schema Spark infers, from its footers and without a Spark job."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        for name, path in tables.items():
            want = _inferred(spark, path)
            record = ParquetTable(path)
            assert record.fallback is None, name
            try:
                got, jobs = _jobs_in_group(spark, lambda: record.read(spark).schema)
            except Exception as exc:
                got, jobs = type(exc).__name__, []
            assert got == want, (name, key, value)
            assert jobs == [], name
        assert ParquetTable(tables["spark"]).read(spark).schema["tagged"].metadata == {
            "comment": "kept"
        }
    finally:
        spark.conf.set(key, old)


def _fallback_cases(spark, root):
    """(name, path, reason) of a table for each case the footers cannot
    answer; each table reads under Spark's inference."""
    cases = []

    def add(name, reason, *tables):
        cases.append((name, _arrow_dir(root / f"{name}.parquet", *tables), reason))

    add("types_differ", "differ in their parquet or Spark schema",
        pa.table({"k": pa.array([1], pa.int32())}), pa.table({"k": pa.array([2], pa.int64())}))
    meta_dir = str(root / "meta_differs.parquet")
    spark.range(1).select(F.col("id").alias("k", metadata={"v": 1})).write.parquet(meta_dir)
    spark.range(1).select(F.col("id").alias("k", metadata={"v": 2})).write.mode("append").parquet(meta_dir)
    cases.append(("meta_differs", meta_dir, "differ in their parquet or Spark schema"))
    for summary in ("_metadata", "_common_metadata"):
        t = pa.table({"k": pa.array([1, 2], pa.int64())})
        path = _arrow_dir(root / f"{summary[1:]}.parquet", t)
        pq.write_metadata(t.schema, os.path.join(path, summary))
        cases.append((summary, path, f"lists the summary file {summary}"))
    hive = root / "hive.parquet" / "p=1"
    _arrow_dir(hive, pa.table({"k": [1]}))
    cases.append(("hive", str(root / "hive.parquet"), "subdirectories"))
    broken = _arrow_dir(root / "broken.parquet", pa.table({"k": [1]}))
    with open(os.path.join(broken, "part-9.parquet"), "wb") as fh:
        fh.write(b"PAR1 truncated")
    cases.append(("broken", broken, "unreadable footer"))
    empty = root / "empty.parquet"
    os.makedirs(empty)
    (empty / "_SUCCESS").write_bytes(b"")
    cases.append(("empty", str(empty), "holds no data file"))
    return cases


def test_each_fallback_reads_by_inference_and_says_why(spark, tmp_path, monkeypatch, caplog):
    """Differing footers, a listed summary file, partition directories,
    an unreadable footer and an empty listing each resolve by Spark's
    inference: the schema, the error or the rows are inference's, and
    the reason is logged once however often the record is read."""
    given = []
    real_schema = DataFrameReader.schema
    monkeypatch.setattr(
        DataFrameReader, "schema", lambda self, s: given.append(s) or real_schema(self, s)
    )
    for name, path, reason in _fallback_cases(spark, tmp_path):
        record = ParquetTable(path)
        assert reason in record.fallback, name
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="mssql2monetdb_spark.sources.footers"):
            try:
                got = record.read(spark).schema
            except Exception as exc:  # an empty listing: inference's error
                got = type(exc).__name__
            else:
                assert record.read(spark).schema == got, name  # kept, not resolved again
        assert got == _inferred(spark, path), name
        if name in ("meta_differs", "_metadata", "_common_metadata", "hive"):  # readable
            rows = sorted(record.read(spark).collect())
            assert rows == sorted(spark.read.parquet(path).collect()), name
        said = [r.getMessage() for r in caplog.records if path in r.getMessage()]
        assert len(said) == 1 and reason in said[0], (name, said)
    assert given == []  # no record handed a schema to the reader


def test_merge_schema_and_non_local_paths_fall_back(spark, tmp_path, monkeypatch):
    """``spark.sql.parquet.mergeSchema`` on: the record infers, merging as
    Spark does. A path on another file system is never listed by the
    footer pass, and Spark's listing of it is not counted from footers."""
    path = _arrow_dir(
        tmp_path / "t.parquet", pa.table({"a": [1]}), pa.table({"a": [2], "b": ["x"]})
    )
    old = spark.conf.get("spark.sql.parquet.mergeSchema")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        record = ParquetTable(path)
        assert record.fallback is not None  # the footers differ as well
        assert record.read(spark).schema == spark.read.parquet(path).schema
        assert record.read(spark).columns == ["a", "b"]
        same = _arrow_dir(tmp_path / "same.parquet", pa.table({"a": [1]}), pa.table({"a": [2]}))
        record = ParquetTable(same)
        assert record.fallback is None
        record.read(spark)
        assert record.fallback == "spark.sql.parquet.mergeSchema is on"
        assert record.rows() == 2
    finally:
        spark.conf.set("spark.sql.parquet.mergeSchema", old)

    remote = ParquetTable("hdfs://nn/warehouse/t.parquet")
    assert "not a local path" in remote.fallback
    with pytest.raises(FooterFallback, match="not a local path"):
        remote.probe_footers()

    class Listed:
        def inputFiles(self):
            return ["hdfs://nn/warehouse/t.parquet/part-0.parquet"]

    read = []
    monkeypatch.setattr(DataFrameReader, "parquet", lambda self, *p: read.append(p) or Listed())
    assert isinstance(remote.read(spark), Listed)
    assert read == [("hdfs://nn/warehouse/t.parquet",)]
    with pytest.raises(FooterFallback, match="not a local file"):
        remote.rows()


def test_a_file_landing_before_sparks_listing_is_checked(spark, tmp_path, monkeypatch):
    """A file that lands between the footer pass and Spark's listing is in
    the record once its footer matches; one with another schema sends the
    record to inference."""
    path = _arrow_dir(tmp_path / "t.parquet", pa.table({"k": pa.array([1, 2], pa.int64())}))
    record = ParquetTable(path)
    pq.write_table(pa.table({"k": pa.array([3], pa.int64())}), os.path.join(path, "part-7.parquet"))
    record.read(spark)
    assert record.fallback is None and record.rows() == 3

    other = _arrow_dir(tmp_path / "u.parquet", pa.table({"k": pa.array([1], pa.int64())}))
    record = ParquetTable(other)
    pq.write_table(pa.table({"k": pa.array([2], pa.int32())}), os.path.join(other, "part-7.parquet"))
    df = record.read(spark)
    assert "different parquet or Spark schema" in record.fallback
    assert df.schema == spark.read.parquet(other).schema
    assert record.rows() == 2


def test_summary_files_hold_no_rows(spark, tmp_path):
    """A pyarrow ``_metadata`` summary repeats the data files' row groups;
    the record counts the data files only, as ``df.count()`` does."""
    t = pa.table({"k": pa.array(range(100), pa.int64())})
    path = str(tmp_path / "t.parquet")
    os.makedirs(path)
    collector = []
    pq.write_table(t, os.path.join(path, "part-0.parquet"), metadata_collector=collector)
    collector[0].set_file_path("part-0.parquet")
    pq.write_metadata(t.schema, os.path.join(path, "_metadata"), metadata_collector=collector)
    assert pq.read_metadata(os.path.join(path, "_metadata")).num_rows == 100
    record = ParquetTable(path)
    df = record.read(spark)
    assert record.rows() == df.count() == 100


def test_one_listing_rule():
    """Spark's listing rule, shared by the footer pass, the carry and
    ``can_append``: in-flight copies, hidden and ``_`` names are not data,
    partition directories are."""
    assert not hidden("part-0.parquet") and not hidden("_kb=3") and not hidden("k=_x")
    for name in ("_SUCCESS", "_SCHEMA.json", ".part-0.crc", "part-0.parquet._COPYING_", "_metadata"):
        assert hidden(name), name

"""True JDBC integration: embedded Derby (bundled with Spark for the Hive
metastore) runs in-JVM, so the read->copy->write path is exercised against a
real JDBC endpoint without any server (reference ops #1-2, #9-11).
"""

from __future__ import annotations

import pytest

from mssql2monetdb_spark.catalog import load_table
from mssql2monetdb_spark.config.spec import CopyJob, SourceSpec, load_spec
from mssql2monetdb_spark.engine.copy import CopyEngine
from mssql2monetdb_spark.sources.jdbc import (
    jdbc_reader,
    jdbc_writer,
    partition_bounds_options,
)

SF = "/root/testdata/sf0.001"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_source(spark, tmp_path_factory):
    """An embedded-Derby source seeded with the nation fixture via the
    repo's own JDBC writer (exercising batchsize/isolation options)."""
    db_path = tmp_path_factory.mktemp("derby") / "db"
    source = SourceSpec(
        name="derby",
        format="jdbc",
        options={"url": f"jdbc:derby:{db_path};create=true", "driver": DERBY_DRIVER},
    )
    nation = load_table(spark, SF, "nation")
    jdbc_writer(nation, source, "nation", mode="overwrite", locked_mode=False)
    return source


def test_jdbc_roundtrip_table_mode(spark, derby_source):
    job = CopyJob(job_id="nation_job", source="derby", from_table="nation")
    df = jdbc_reader(spark, derby_source, job)
    rows = {r["n_nationkey"]: r["n_name"] for r in df.collect()}
    expected = {r["n_nationkey"]: r["n_name"] for r in load_table(spark, SF, "nation").collect()}
    assert rows == expected


def test_jdbc_projection_pushdown(spark, derby_source):
    job = CopyJob(
        job_id="nation_proj",
        source="derby",
        from_table="nation",
        from_columns=("n_nationkey", "n_regionkey"),
    )
    df = jdbc_reader(spark, derby_source, job)
    assert [c.lower() for c in df.columns] == ["n_nationkey", "n_regionkey"]
    assert df.count() == 25


def test_jdbc_partitioned_scan(spark, derby_source):
    """Range-partitioned read: N concurrent range queries instead of one
    cursor — the cluster-scale ingest shape, verified against a real DB."""
    source = SourceSpec(
        name="derby_part",
        format="jdbc",
        options={
            **derby_source.options,
            **partition_bounds_options("n_nationkey", 0, 24, num_partitions=4),
        },
    )
    job = CopyJob(job_id="nation_part", source="derby_part", from_table="nation")
    df = jdbc_reader(spark, source, job)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 25
    assert df.selectExpr("SUM(n_nationkey) AS s").collect()[0]["s"] == sum(range(25))


def test_jdbc_source_through_copy_engine(spark, derby_source, tmp_path):
    """Full pipeline with a JDBC source: extract from Derby -> versioned
    parquet load -> published view (the reference's core copy loop against
    a real endpoint)."""
    from datetime import datetime

    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "sources": {"derby": {"format": "jdbc", "options": dict(derby_source.options)}},
            "tables": {"nation_job": {"source": "derby", "from_table": "nation"}},
        }
    )
    engine = CopyEngine(spark, spec)
    published = engine.do_copy(load_date=datetime(2024, 6, 1))
    assert published == {"nation_job": "nation_2024_06_01_00_00_00"}
    n = engine.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"]
    assert n == 25


def test_bulk_loader_null_vs_empty_string_and_multipart(spark, tmp_path):
    """Staged-CSV bulk load (the COPY INTO analog, jdbc_bulk_loader) pins
    the classic CSV null/empty ambiguity the reference handles with \\N
    markers (CopyTool staged loads): Spark's write defaults render NULL as
    an unquoted empty field (Derby import -> NULL) and the empty STRING as
    a quoted "" (Derby import -> empty string). Also stages MULTIPLE part
    files (one import call each) and round-trips binary via hex."""
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.sources.jdbc import derby_snapshot_jar, jdbc_bulk_loader

    db_path = str(tmp_path / "db")
    source = SourceSpec(
        name="derby_bulk",
        format="jdbc",
        options={"url": f"jdbc:derby:{db_path};create=true", "driver": DERBY_DRIVER},
    )
    df = spark.createDataFrame(
        [
            (1, "plain", b"\x00\xffbin"),
            (2, None, None),
            (3, "", b""),
        ],
        "k bigint, s string, b binary",
    )
    jdbc_bulk_loader(spark, df.repartition(2), source, "bulk_t")

    ro = SourceSpec(
        name="derby_bulk_ro",
        format="jdbc",
        options={"url": derby_snapshot_jar(spark, db_path), "driver": DERBY_DRIVER},
    )
    back = jdbc_reader(
        spark, ro, CopyJob(job_id="bulk_back", source="derby_bulk_ro", from_table="bulk_t")
    )
    rows = {r["k"]: (r["s"], bytes(r["b"]) if r["b"] is not None else None) for r in back.collect()}
    assert rows[1] == ("plain", b"\x00\xffbin")
    assert rows[2] == (None, None)          # NULL survives (unquoted empty)
    assert rows[3][0] == ""                 # empty string != NULL (quoted "")
    assert rows[3][1] == b""                # zero-length BLOB from empty hex


def test_bulk_loader_unmapped_type_fails_loudly(spark, tmp_path):
    """A frame with a non-relational column must fail at DDL derivation
    (UnknownSqlTypeError), not stage a half-load."""
    from mssql2monetdb_spark.schema.mapper import UnknownSqlTypeError
    from mssql2monetdb_spark.sources.jdbc import jdbc_bulk_loader

    source = SourceSpec(
        name="derby_bad",
        format="jdbc",
        options={
            "url": f"jdbc:derby:{tmp_path}/baddb;create=true",
            "driver": DERBY_DRIVER,
        },
    )
    df = spark.createDataFrame([(1, [1, 2])], "k bigint, arr array<bigint>")
    with pytest.raises(UnknownSqlTypeError):
        jdbc_bulk_loader(spark, df, source, "bad_t")


def test_bulk_loader_hostile_strings_roundtrip(spark, tmp_path):
    """Staged-CSV bulk load must survive the classic CSV-breaking payloads:
    embedded commas, quotes (doubled by the writer's escape='\"'), bare and
    CRLF newlines inside quoted fields (Derby's import parses quoted
    multi-line records), tabs, non-ASCII, and backslashes (NOT an escape
    character in this dialect — doubled-quote escaping only)."""
    from mssql2monetdb_spark.sources.jdbc import derby_snapshot_jar, jdbc_bulk_loader

    db = str(tmp_path / "db")
    src = SourceSpec(
        name="d",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    rows = [
        (1, "comma,inside"),
        (2, 'quote"inside'),
        (3, "newline\ninside"),
        (4, "crlf\r\ninside"),
        (5, "tab\tinside"),
        (6, "unicode-ü-文"),
        (7, "backslash\\inside"),
    ]
    df = spark.createDataFrame(rows, "k bigint, s string")
    jdbc_bulk_loader(spark, df, src, "hostile_t")
    ro = SourceSpec(
        name="dro",
        format="jdbc",
        options={"url": derby_snapshot_jar(spark, db), "driver": DERBY_DRIVER},
    )
    back = {
        r["k"]: r["s"]
        for r in jdbc_reader(
            spark, ro, CopyJob(job_id="b", source="dro", from_table="hostile_t")
        ).collect()
    }
    assert back == dict(rows)


def test_bulk_loader_microsecond_timestamps_roundtrip(spark, tmp_path):
    """Sub-second timestamp precision through the staged-CSV path: the
    6-digit staging fraction (BULK_CSV_OPTIONS) must carry Spark's full
    microsecond resolution to the server and back — the reference's
    Timestamp.toString() staging keeps the full fraction
    (CopyTool.java:695-721)."""
    from datetime import datetime

    from mssql2monetdb_spark.sources.jdbc import derby_snapshot_jar, jdbc_bulk_loader

    db = str(tmp_path / "db")
    src = SourceSpec(
        name="d",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    rows = [
        (1, datetime(2024, 5, 1, 12, 30, 15, 123456)),
        (2, datetime(2024, 5, 1, 12, 30, 15, 7)),      # leading zeros
        (3, datetime(2024, 5, 1, 12, 30, 15, 0)),      # whole second
        (4, datetime(2024, 5, 1, 12, 30, 15, 999999)),
    ]
    df = spark.createDataFrame(rows, "k bigint, t timestamp")
    assert jdbc_bulk_loader(spark, df, src, "ts_t") == "copy"
    ro = SourceSpec(
        name="dro",
        format="jdbc",
        options={"url": derby_snapshot_jar(spark, db), "driver": DERBY_DRIVER},
    )
    back = {
        r["k"]: r["t"]
        for r in jdbc_reader(
            spark, ro, CopyJob(job_id="b", source="dro", from_table="ts_t")
        ).collect()
    }
    assert back == dict(rows)


def test_bulk_loader_falls_back_to_insert_on_partial_staging(spark, tmp_path, monkeypatch):
    """The cluster-reality failure: executors committed part files the
    driver/server can't all see (here: the glob is forced to drop one
    part). The post-import count check must catch the shortfall and the
    loader must degrade to the distributed INSERT path — the reference's
    COPY-file -> INSERT fallback chain (CopyTool.java:829-866) — ending
    with a COMPLETE table, never a silent partial import."""
    import glob as glob_mod

    from mssql2monetdb_spark.sources.jdbc import derby_snapshot_jar, jdbc_bulk_loader

    db = str(tmp_path / "db")
    src = SourceSpec(
        name="d",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    df = spark.createDataFrame([(i, f"s{i}") for i in range(10)], "k bigint, s string")

    real_glob = glob_mod.glob
    monkeypatch.setattr(glob_mod, "glob", lambda pat: sorted(real_glob(pat))[1:])
    path = jdbc_bulk_loader(spark, df.repartition(2), src, "partial_t")
    monkeypatch.setattr(glob_mod, "glob", real_glob)
    assert path == "insert"

    ro = SourceSpec(
        name="dro",
        format="jdbc",
        options={"url": derby_snapshot_jar(spark, db), "driver": DERBY_DRIVER},
    )
    back = jdbc_reader(
        spark, ro, CopyJob(job_id="b", source="dro", from_table="partial_t")
    )
    assert back.count() == 10


def test_bulk_loader_without_visible_parts_loads_through_insert(spark, tmp_path, monkeypatch):
    """No staged part file visible to the driver (the staging dir is not
    shared storage) degrades to the INSERT path, and the table is complete."""
    import glob as glob_mod

    from mssql2monetdb_spark.sources.jdbc import derby_snapshot_jar, jdbc_bulk_loader

    db = str(tmp_path / "db")
    src = SourceSpec(
        name="d",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
    monkeypatch.setattr(glob_mod, "glob", lambda pat: [])
    assert jdbc_bulk_loader(spark, df, src, "unseen_t") == "insert"
    monkeypatch.undo()

    ro = SourceSpec(
        name="dro",
        format="jdbc",
        options={"url": derby_snapshot_jar(spark, db), "driver": DERBY_DRIVER},
    )
    back = jdbc_reader(spark, ro, CopyJob(job_id="b", source="dro", from_table="unseen_t"))
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]


def _recording_stage(monkeypatch):
    """Wrap ``stage_bulk_frame``; returns the list of directories it wrote."""
    from mssql2monetdb_spark.sources import jdbc

    written = []
    real = jdbc.stage_bulk_frame

    def record(df, url, stage_dir):
        written.append(stage_dir)
        real(df, url, stage_dir)

    monkeypatch.setattr(jdbc, "stage_bulk_frame", record)
    return written


def test_bulk_loader_shared_staging_dir(spark, tmp_path, monkeypatch):
    """An explicit staging_dir (the shared-filesystem knob for real
    clusters) is honored: part files land under it, the load succeeds, and
    the staged files are removed once imported."""
    import os

    from mssql2monetdb_spark.sources.jdbc import jdbc_bulk_loader

    db = str(tmp_path / "db")
    stage = str(tmp_path / "shared_stage")
    src = SourceSpec(
        name="d",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
    written = _recording_stage(monkeypatch)
    assert jdbc_bulk_loader(spark, df, src, "staged_t", staging_dir=stage) == "copy"
    assert len(written) == 1
    assert os.path.dirname(written[0]) == stage
    assert not os.path.exists(written[0])
    assert os.listdir(stage) == []


def test_bulk_loader_removes_its_tmpdir_on_copy_and_fallback(spark, tmp_path, monkeypatch):
    """Without staging_dir the loader stages under a tmpdir of its own and
    removes it after the import, and before the INSERT fallback too."""
    import glob as glob_mod
    import os

    from mssql2monetdb_spark.sources.jdbc import jdbc_bulk_loader

    src = SourceSpec(
        name="d",
        format="jdbc",
        options={"url": f"jdbc:derby:{tmp_path}/db;create=true", "driver": DERBY_DRIVER},
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
    written = _recording_stage(monkeypatch)
    assert jdbc_bulk_loader(spark, df, src, "tmp_copy_t") == "copy"
    monkeypatch.setattr(glob_mod, "glob", lambda pat: [])
    assert jdbc_bulk_loader(spark, df, src, "tmp_insert_t") == "insert"
    assert len(written) == 2
    for stage_dir in written:
        assert not os.path.exists(os.path.dirname(stage_dir))


def test_derby_shutdown_raises_on_missing_database(spark, tmp_path):
    """derby_shutdown must re-raise anything that is NOT Derby's 08006
    success signal: shutting down a database that doesn't exist would
    otherwise let a snapshot zip an unflushed/nonexistent store."""
    from mssql2monetdb_spark.sources.jdbc import derby_shutdown, jdbc_writer

    # ensure the embedded driver is registered in this JVM
    db = str(tmp_path / "real")
    src = SourceSpec(
        name="d",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    jdbc_writer(
        spark.createDataFrame([(1,)], "k bigint"), src, "t", mode="overwrite",
        locked_mode=False,
    )
    derby_shutdown(spark, db)  # real db: succeeds (08006 swallowed)
    with pytest.raises(Exception):
        derby_shutdown(spark, str(tmp_path / "does_not_exist"))


def test_jdbc_watermark_probe_pushes_max_to_source(spark, derby_source):
    """The watermark MAX probe on a JDBC source must execute ON the
    server: the probe frame's scan carries the MAX inside the external
    engine query and plans NO Spark-side aggregate — one row crosses the
    wire regardless of source size (the reference's dialect probe,
    SourceDatabaseType.java:21-25,45-49)."""
    import contextlib
    import io

    from mssql2monetdb_spark.engine.watermark import (
        jdbc_max_probe_frame,
        probe_max,
        probe_max_jdbc,
    )

    frame = jdbc_max_probe_frame(spark, derby_source, "nation", "n_nationkey")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        frame.explain("formatted")
    plan = buf.getvalue()
    assert 'SELECT MAX("n_nationkey")' in plan  # aggregate inside the scan
    assert "HashAggregate" not in plan          # nothing computed Spark-side

    wm = probe_max_jdbc(spark, derby_source, "nation", "n_nationkey")
    assert (wm.value, wm.type_name) == (24, "bigint")

    # pin WHY the pushdown form exists: the V1 JDBC relation does NOT push
    # a Spark-side agg(max(...)) down -- that plan aggregates in Spark
    job = CopyJob(job_id="probe_neg", source="derby", from_table="nation")
    naive = jdbc_reader(spark, derby_source, job)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        naive.groupBy().max("n_nationkey").explain("formatted")
    assert "HashAggregate" in buf.getvalue()
    assert probe_max(naive, "n_nationkey").value == 24


def test_jdbc_watermark_probe_retries_store_cased_identifier(spark, tmp_path):
    """A source column created UNQUOTED is stored case-normalized (Derby:
    uppercase), so the quoted engine-cased probe fails on every run. The
    probe ladder must retry with the bare identifier — keeping the
    one-row pushdown — instead of letting the caller degrade to the
    Spark-side full-column pull forever."""
    from mssql2monetdb_spark.engine.watermark import probe_max_jdbc
    from mssql2monetdb_spark.sources.jdbc import driver_connection

    db = f"{tmp_path}/casedb"
    src = SourceSpec(
        name="derby",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    conn = driver_connection(spark, src.options)
    try:
        st = conn.createStatement()
        # unquoted DDL: Derby stores the column as N_KEY (uppercase)
        st.execute("CREATE TABLE up_t (n_key BIGINT)")
        st.execute("INSERT INTO up_t VALUES (7), (42)")
        st.close()
    finally:
        conn.close()

    # quoted probe 'SELECT MAX("n_key")' fails (no lowercase column);
    # the unquoted retry is store-case-normalized and succeeds
    wm = probe_max_jdbc(spark, src, "up_t", "n_key")
    assert (wm.value, wm.type_name) == (42, "bigint")


def test_jdbc_reader_auto_probes_partition_bounds(spark, tmp_path):
    """A spec naming just ``partitionColumn`` (no bounds) gets a PARALLEL
    range-partitioned scan: the engine fills the bounds with one pushed
    SELECT MIN/MAX probe — the reference's single forward cursor is the
    failure mode this prevents at a 100 TB source. An empty table
    degrades to a single (empty) scan instead of erroring."""
    from mssql2monetdb_spark.sources.jdbc import (
        driver_connection,
        jdbc_reader,
        probe_partition_bounds,
    )

    db = f"{tmp_path}/boundsdb"
    src_opts = {"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER}
    conn = driver_connection(spark, SourceSpec("d", "jdbc", options=src_opts).options)
    try:
        st = conn.createStatement()
        st.execute('CREATE TABLE bt ("k" BIGINT, "v" VARCHAR(10))')
        st.execute(
            'INSERT INTO bt VALUES '
            + ", ".join(f"({i}, 'r{i}')" for i in range(1, 26))
        )
        st.execute('CREATE TABLE empty_bt ("k" BIGINT)')
        st.close()
    finally:
        conn.close()

    assert probe_partition_bounds(spark, src_opts, "bt", "k") == (1, 25)

    src = SourceSpec(
        name="d",
        format="jdbc",
        options={**src_opts, "partitionColumn": "k", "numPartitions": "4"},
    )
    df = jdbc_reader(
        spark, src, CopyJob(job_id="auto", source="d", from_table="bt")
    )
    assert df.rdd.getNumPartitions() == 4  # probed bounds -> parallel scan
    assert df.count() == 25
    ks = sorted(r["k"] for r in df.collect())
    assert ks == list(range(1, 26))

    # empty table: the probe returns NULLs and the read degrades to a
    # single scan (no int(None) crash — the round-8 edge-corpus bug class)
    empty = jdbc_reader(
        spark, src, CopyJob(job_id="auto_e", source="d", from_table="empty_bt")
    )
    assert empty.count() == 0


def test_copy_engine_trigger_probe_uses_jdbc_pushdown(spark, derby_source, tmp_path):
    """CopyEngine's PHASE-0 trigger probe against a JDBC source routes
    through the source-side MAX (typed watermark, correct value)."""
    from mssql2monetdb_spark.config.spec import load_spec
    from mssql2monetdb_spark.engine.copy import CopyEngine

    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"derby": {"format": "jdbc", "options": dict(derby_source.options)}},
            "tables": {
                "nation_job": {
                    "source": "derby",
                    "from_table": "nation",
                    "trigger": {"column": "n_nationkey"},
                }
            },
        }
    )
    engine = CopyEngine(spark, spec)
    wm = engine._probe_job(spec.jobs["nation_job"])
    assert (wm.value, wm.type_name) == (24, "bigint")
    # and the full decision loop sees new data on a fresh state
    probes = engine.check_for_new_data()
    assert probes["nation_job"].value == 24


def test_bulk_import_sql_dialect_statements():
    """Statement-shape parity with the reference's COPY INTO builder
    (CopyTool.java:1042-1071 file path, :988 NULL token) per dialect."""
    from mssql2monetdb_spark.sources.jdbc import server_bulk_import_sql

    sql, params = server_bulk_import_sql("jdbc:derby:/x/db", "t", "/stage/p1")
    assert sql == "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, NULL, NULL, 'UTF-8', 0)"
    assert params == ["T", "/stage/p1"]

    sql, params = server_bulk_import_sql("jdbc:monetdb://h:50000/db", "t", "/stage/p1")
    assert sql == (
        "COPY INTO t FROM '/stage/p1'"
        " USING DELIMITERS ',','\\n','\"' NULL AS '\\\\N' LOCKED"
    )
    assert params == []

    sql, params = server_bulk_import_sql(
        "jdbc:postgresql://h/db", "t", "/stage/it's"
    )
    assert sql == "COPY t FROM '/stage/it''s' WITH (FORMAT csv, QUOTE '\"', ESCAPE '\"')"

    with pytest.raises(ValueError):
        server_bulk_import_sql("jdbc:h2:mem:x", "t", "/p")


def test_monetdb_staging_serializer_reference_bytes(spark, tmp_path):
    """Byte-exact pin of the MonetDB staging serialization against the
    reference's writer (CopyTool.java:691-733): NULL is the bare UNQUOTED
    token \\N; every non-null value is quoted with backslash escaping
    (\\ -> \\\\ before " -> \\"). The round-8 csv-writer staging
    (quoteAll + nullValue) violated this — it quoted the null token, so a
    staged NULL was byte-identical to a quoted literal-\\N data value and
    string NULLs would load as the 2-char literal with no row-count
    shortfall to trip the loader's verification."""
    import datetime

    from mssql2monetdb_spark.sources.jdbc import (
        monetdb_staged_frame,
        stage_bulk_frame,
    )

    df = spark.createDataFrame(
        [
            (1, "plain", 1.5, datetime.date(2024, 1, 2)),
            (2, None, None, None),                 # NULLs of every type
            (3, "\\N", 0.25, datetime.date(2024, 3, 4)),   # literal \N DATA
            (4, 'say "hi"', -2.0, datetime.date(2024, 5, 6)),  # embedded quote
            (5, "back\\slash", 1e-8, datetime.date(2024, 7, 8)),  # backslash
        ],
        "k bigint, s string, d double, dt date",
    )
    lines = {
        r["value"]
        for r in monetdb_staged_frame(df).collect()
    }
    assert lines == {
        '"1","plain","1.5","2024-01-02"',
        '"2",\\N,\\N,\\N',
        '"3","\\\\N","0.25","2024-03-04"',
        '"4","say \\"hi\\"","-2.0","2024-05-06"',
        '"5","back\\\\slash","1.0E-8","2024-07-08"',
    }
    # a staged NULL (bare \N) is now DISTINCT from a literal-\N data value
    # ("\\N"): the collision the csv writer could not avoid
    assert '"2",\\N,\\N,\\N' != '"3","\\\\N","0.25","2024-03-04"'

    # the dialect-dispatched staging write emits those exact lines as text
    # part files (Derby/PG keep the csv writer)
    out = str(tmp_path / "stage_mdb")
    stage_bulk_frame(df, "jdbc:monetdb://h:50000/db", out)
    staged = set()
    for part in (tmp_path / "stage_mdb").glob("part-*"):
        staged |= {ln for ln in part.read_text().splitlines() if ln}
    assert staged == lines


def test_bulk_loader_unknown_dialect_degrades_before_staging(spark, monkeypatch):
    """A dialect without server-side COPY loads through the INSERT path
    without staging anything first."""
    from mssql2monetdb_spark.sources import jdbc

    staged, inserted = [], []
    monkeypatch.setattr(jdbc, "stage_bulk_frame", lambda *a: staged.append(a))
    monkeypatch.setattr(
        jdbc, "insert_load", lambda spark, df, source, table, ddl: inserted.append(table) or "insert"
    )
    src = SourceSpec(
        name="d", format="jdbc", options={"url": "jdbc:h2:mem:x", "driver": "x.Y"}
    )
    df = spark.createDataFrame([(1, "a")], "k bigint, s string")
    assert jdbc.jdbc_bulk_loader(spark, df, src, "t") == "insert"
    assert inserted == ["t"]
    assert staged == []

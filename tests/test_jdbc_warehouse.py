"""JdbcWarehouse: the reference's MonetDB-side publish lifecycle (versioned
tables + transactional view switch + keep-2 retention) integration-tested
against embedded Derby — PHASES 2-4 of ``CopyTool.doCopy`` executed on a
real JDBC warehouse instead of the parquet catalog."""

from __future__ import annotations

from datetime import datetime

import pytest

from mssql2monetdb_spark.catalog import load_table
from mssql2monetdb_spark.config.spec import CopyJob, SourceSpec
from mssql2monetdb_spark.engine.export import CATALOG_SQL, JdbcWarehouse
from mssql2monetdb_spark.sources.jdbc import jdbc_reader

SF = "/root/testdata/sf0.001"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture
def wh(spark, tmp_path):
    source = SourceSpec(
        name="derby_wh",
        format="jdbc",
        options={
            "url": f"jdbc:derby:{tmp_path}/whdb;create=true",
            "driver": DERBY_DRIVER,
        },
    )
    return JdbcWarehouse(spark, source)


def _view_count(spark, wh, name):
    df = jdbc_reader(
        spark, wh.source, CopyJob(job_id="rb", source="derby_wh", from_table=name)
    )
    return df.count()


def test_export_lifecycle_versions_view_and_retention(spark, wh):
    """Three exports: each lands a new physical version, the view follows
    the newest, and retention keeps exactly current + backup
    (CopyTool.java:554-602 keep-2)."""
    nation = load_table(spark, SF, "nation")

    p1 = wh.export(nation.limit(5), "nation", datetime(2024, 6, 1))
    assert wh.current_version("nation").lower() == p1.lower()
    assert _view_count(spark, wh, "nation") == 5

    p2 = wh.export(nation.limit(10), "nation", datetime(2024, 6, 2))
    assert wh.current_version("nation").lower() == p2.lower()
    assert _view_count(spark, wh, "nation") == 10
    assert len(wh.table_versions("nation")) == 2  # current + backup

    p3 = wh.export(nation, "nation", datetime(2024, 6, 3))
    versions = wh.table_versions("nation")
    assert len(versions) == 2  # oldest reaped
    assert versions[0].lower() == p3.lower()
    assert p1.upper() not in versions
    assert _view_count(spark, wh, "nation") == 25


def test_publish_replaces_stale_plain_table(spark, wh):
    """The public name may be occupied by a plain TABLE from a pre-views
    deployment; publish must drop it and create the view in its place
    (the reference's isTable branch, MonetDBUtil.java:462-498)."""
    nation = load_table(spark, SF, "nation")
    wh._execute('CREATE TABLE nation ("n_nationkey" BIGINT)')
    assert wh.is_table("nation")

    p = wh.load_version(nation.limit(3), "nation", datetime(2024, 6, 1))
    wh.publish("nation", p)
    assert wh.exists("nation") and not wh.is_table("nation")
    assert _view_count(spark, wh, "nation") == 3


def test_publish_missing_physical_fails_loudly(spark, wh):
    with pytest.raises(FileNotFoundError):
        wh.publish("nation", "nation_2024_06_01_00_00_00")


def test_publish_failure_rolls_back_and_keeps_old_view(spark, wh):
    """A mid-transaction switch failure must roll back before close: the
    ORIGINAL error propagates (not Derby's SQLState 25001 'cannot close
    connection with active transaction' from conn.close()) and readers
    keep the OLD view — the atomicity the transactional switch exists
    for (MonetDBUtil.java:442-529)."""
    nation = load_table(spark, SF, "nation")
    p1 = wh.load_version(nation.limit(5), "nation", datetime(2024, 6, 1))
    wh.publish("nation", p1)
    # a dependent view makes the switch's DROP VIEW fail mid-transaction
    wh._execute("CREATE VIEW nation_dep AS SELECT * FROM nation")
    p2 = wh.load_version(nation.limit(10), "nation", datetime(2024, 6, 2))
    with pytest.raises(Exception) as ei:
        wh.publish("nation", p2)
    assert "25001" not in str(ei.value)
    # the old view survived the failed switch intact
    assert wh.current_version("nation").lower() == p1.lower()
    assert _view_count(spark, wh, "nation") == 5


def test_cleanup_never_drops_published_version(spark, wh):
    """Even when the view points at an OLD version (rollback), retention
    must not reap it — same contract as the parquet catalog."""
    nation = load_table(spark, SF, "nation")
    p1 = wh.load_version(nation.limit(5), "nation", datetime(2024, 6, 1))
    p2 = wh.load_version(nation.limit(10), "nation", datetime(2024, 6, 2))
    p3 = wh.load_version(nation, "nation", datetime(2024, 6, 3))
    wh.publish("nation", p1)  # rolled back to the oldest

    dropped = wh.cleanup("nation", retain=1)
    assert p1.upper() not in [d.upper() for d in dropped]
    assert _view_count(spark, wh, "nation") == 5
    # newest is retained by count, p1 by the published guard; p2 reaped
    remaining = {v.upper() for v in wh.table_versions("nation")}
    assert p1.upper() in remaining and p3.upper() in remaining
    assert p2.upper() not in remaining


def test_export_insert_method(spark, wh):
    """method='insert' forces the distributed batched writer against a
    mapper-derived DDL — the reference's final fallback rung."""
    nation = load_table(spark, SF, "nation")
    wh.export(nation.limit(7), "nation_ins", datetime(2024, 6, 1), method="insert")
    assert _view_count(spark, wh, "nation_ins") == 7


def test_drop_table_removes_view_and_all_versions(spark, wh):
    nation = load_table(spark, SF, "nation")
    wh.export(nation.limit(5), "nation", datetime(2024, 6, 1))
    wh.export(nation.limit(10), "nation", datetime(2024, 6, 2))
    wh.drop_table("nation")
    assert not wh.exists("nation")
    assert wh.table_versions("nation") == []


def test_monetdb_catalog_statement_shapes():
    """Reference-parity pin for the untestable dialect: the MonetDB probes
    are the schema-scoped sys.tables queries the reference issues
    (MonetDBUtil.java:41-88 existence/is-table via query IS NULL and the
    sys.schemas subselect verbatim; CopyTool.java:562-565 version listing
    ordered DESC)."""
    m = CATALOG_SQL["monetdb"]
    subselect = (
        "schema_id = (SELECT id FROM sys.schemas WHERE LOWER(name) = "
        "LOWER('{schema}'))"
    )
    assert m["exists"] == (
        "SELECT name FROM sys.tables WHERE name = '{name}' AND " + subselect
    )
    assert "query IS NULL" in m["is_table"] and subselect in m["is_table"]
    assert "LIKE '{prefix}20%'" in m["list_versions"]
    assert "query IS NULL" in m["list_versions"]
    assert subselect in m["list_versions"]
    assert m["list_versions"].endswith("ORDER BY name DESC")
    assert m["view_definition"] == (
        "SELECT query FROM sys.tables WHERE name = '{name}' AND " + subselect
    )


# -- CopyEngine with a JDBC sink (the reference's full topology) ------------


def _sink_spec(tmp_path, src_dir, *, trigger=False, extra_job=None, staging_dir=None):
    from mssql2monetdb_spark.config.spec import load_spec

    job = {"source": "src", "from_table": "nation", "to_table": "nation_wh"}
    if trigger:
        job["trigger"] = {"column": "n_nationkey"}
    tables = {"nation_job": job}
    if extra_job:
        tables.update(extra_job)
    sink = {
        "format": "jdbc",
        "options": {
            "url": f"jdbc:derby:{tmp_path}/sinkdb;create=true",
            "driver": DERBY_DRIVER,
        },
    }
    if staging_dir:
        sink["staging_dir"] = staging_dir
    return load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh_unused"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"src": {"format": "parquet", "path": str(src_dir)}},
            "sink": sink,
            "tables": tables,
        }
    )


@pytest.fixture
def nation_src(spark, tmp_path):
    src_dir = tmp_path / "src"
    load_table(spark, SF, "nation").coalesce(1).write.mode("overwrite").parquet(
        str(src_dir / "nation.parquet")
    )
    return src_dir


def test_copy_engine_jdbc_sink_end_to_end(spark, tmp_path, nation_src):
    """Full reference topology: parquet source -> CopyEngine -> versioned
    Derby warehouse with view switch + retention; watermark tick 3 exits 2
    without touching the warehouse."""
    from mssql2monetdb_spark.engine.copy import CopyEngine

    spec = _sink_spec(tmp_path, nation_src, trigger=True)
    engine = CopyEngine(spark, spec)

    p1 = engine.do_copy(load_date=datetime(2024, 6, 1))["nation_job"]
    assert engine.warehouse.current_version("nation_wh").lower() == p1.lower()
    assert engine.table("nation_wh").count() == 25

    # unchanged source: trigger says no new data, warehouse untouched
    assert engine.run() == 2
    assert len(engine.warehouse.table_versions("nation_wh")) == 1

    # new rows past the watermark -> full re-copy lands a second version
    fixture_schema = load_table(spark, SF, "nation").schema
    extra = spark.createDataFrame([(99, "ATLANTIS", 0)], fixture_schema)
    extra.coalesce(1).write.mode("append").parquet(str(nation_src / "nation.parquet"))
    p2 = engine.do_copy(load_date=datetime(2024, 6, 2))["nation_job"]
    assert engine.warehouse.current_version("nation_wh").lower() == p2.lower()
    assert engine.table("nation_wh").count() == 26
    assert len(engine.warehouse.table_versions("nation_wh")) == 2

    # third load reaps the first (keep-2)
    engine.store._path  # state exists; force a new tick by dropping state
    extra2 = spark.createDataFrame([(100, "MU", 0)], fixture_schema)
    extra2.coalesce(1).write.mode("append").parquet(str(nation_src / "nation.parquet"))
    engine.do_copy(load_date=datetime(2024, 6, 3))
    versions = engine.warehouse.table_versions("nation_wh")
    assert len(versions) == 2
    assert p1.upper() not in versions


def test_copy_engine_jdbc_sink_no_switch_and_switch_only(spark, tmp_path, nation_src):
    from mssql2monetdb_spark.engine.copy import CopyEngine

    spec = _sink_spec(tmp_path, nation_src)
    engine = CopyEngine(spark, spec)
    loaded = engine.do_copy(no_switch=True, load_date=datetime(2024, 6, 1))
    assert not engine.warehouse.exists("nation_wh")  # view not created yet
    published = engine.do_copy(switch_only=True)
    assert published == loaded
    assert engine.table("nation_wh").count() == 25


def test_copy_engine_jdbc_sink_empty_guard_aborts_all(spark, tmp_path, nation_src):
    """The all-or-nothing empty guard holds on the warehouse path: one
    empty source aborts BOTH jobs before any warehouse DDL."""
    from mssql2monetdb_spark.engine.copy import CopyEngine

    empty_dir = tmp_path / "src" / "empty.parquet"
    load_table(spark, SF, "nation").filter("n_nationkey < 0").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(empty_dir))
    spec = _sink_spec(
        tmp_path,
        nation_src,
        extra_job={
            "empty_job": {
                "source": "src",
                "from_table": "empty",
                "to_table": "empty_wh",
            }
        },
    )
    engine = CopyEngine(spark, spec)
    assert engine.run() == 1
    assert not engine.warehouse.exists("nation_wh")
    assert not engine.warehouse.exists("empty_wh")


#: driver-side connections the third sink run of a two-job spec opened
#: before every warehouse statement went through one helper (16 on each of
#: four runs)
SINK_RUN_OPENS = 16


def test_sink_run_connection_count(spark, tmp_path, nation_src, monkeypatch):
    """Counts ``driver_connection`` opens during one steady-state sink
    ``do_copy`` (two jobs, load, view switch and keep-2 cleanup). A run may
    not open more connections than this; a run-scoped connection would
    bring the bound down to one or two."""
    from mssql2monetdb_spark.engine.copy import CopyEngine
    from mssql2monetdb_spark.sources import jdbc

    spec = _sink_spec(
        tmp_path,
        nation_src,
        extra_job={"b_job": {"source": "src", "from_table": "nation", "to_table": "nation_b"}},
    )
    engine = CopyEngine(spark, spec)
    for day in (1, 2):
        engine.do_copy(load_date=datetime(2024, 6, day))
    opens = []
    real = jdbc.driver_connection

    def counting(*args, **kwargs):
        opens.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(jdbc, "driver_connection", counting)
    engine.do_copy(load_date=datetime(2024, 6, 3))
    assert 0 < len(opens) <= SINK_RUN_OPENS
    assert len(engine.warehouse.table_versions("nation_b")) == 2


def test_sink_copy_leaves_staging_dir_empty(spark, tmp_path, nation_src):
    """Each load's staged CSV is removed after the server import, so
    repeated sink runs do not pile up copies under staging_dir."""
    import os

    from mssql2monetdb_spark.engine.copy import CopyEngine

    stage = str(tmp_path / "stage")
    engine = CopyEngine(spark, _sink_spec(tmp_path, nation_src, staging_dir=stage))
    for day in (1, 2):
        engine.do_copy(load_date=datetime(2024, 6, day))
        assert os.listdir(stage) == []
    assert engine.table("nation_wh").count() == 25


def test_sink_spec_validation():
    from mssql2monetdb_spark.config.spec import SpecError, load_spec

    base = {
        "warehouse_dir": "/tmp/x",
        "sources": {"src": {"format": "parquet", "path": "/tmp/src"}},
        "sink": {"format": "jdbc", "options": {"url": "jdbc:derby:/tmp/d"}},
    }
    with pytest.raises(SpecError, match="incremental"):
        load_spec(
            {
                **base,
                "tables": {
                    "t": {
                        "source": "src",
                        "from_table": "x",
                        "incremental": True,
                        "trigger": {"column": "c"},
                    }
                },
            }
        )
    with pytest.raises(SpecError, match="partition_by"):
        load_spec(
            {
                **base,
                "tables": {
                    "t": {"source": "src", "from_table": "x", "partition_by": ["c"]}
                },
            }
        )
    with pytest.raises(SpecError, match="view switch"):
        load_spec(
            {
                **base,
                "tables": {
                    "t": {
                        "source": "src",
                        "from_table": "x",
                        "use_fast_view_switching": False,
                    }
                },
            }
        )
    with pytest.raises(SpecError, match="options.url"):
        load_spec({**base, "sink": {"format": "jdbc"}, "tables": {"t": {"source": "src", "from_table": "x"}}})


def test_copy_engine_jdbc_sink_two_schemas_end_to_end(spark, tmp_path, nation_src):
    """The verdict-10 'done' gate: two jobs with the SAME to_table in two
    different schemas publish independently through the full engine path
    (bulk COPY via the schema-split SYSCS_IMPORT_TABLE call, scoped
    probes, qualified view switch)."""
    from mssql2monetdb_spark.config.spec import load_spec
    from mssql2monetdb_spark.engine.copy import CopyEngine

    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh_unused"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"src": {"format": "parquet", "path": str(nation_src)}},
            "sink": {
                "format": "jdbc",
                "options": {
                    "url": f"jdbc:derby:{tmp_path}/twoschema;create=true",
                    "driver": DERBY_DRIVER,
                },
            },
            "tables": {
                "job_s1": {
                    "source": "src",
                    "from_query": "SELECT * FROM nation WHERE n_regionkey < 2",
                    "count_query": "SELECT COUNT(*) FROM nation WHERE n_regionkey < 2",
                    "to_table": "nation_wh",
                    "schema": "mart_a",
                },
                "job_s2": {
                    "source": "src",
                    "from_table": "nation",
                    "to_table": "nation_wh",
                    "schema": "mart_b",
                },
            },
        }
    )
    engine = CopyEngine(spark, spec)
    published = engine.do_copy(load_date=datetime(2024, 6, 1))
    assert set(published) == {"job_s1", "job_s2"}

    wh = engine.warehouse
    assert wh.exists("nation_wh", schema="mart_a")
    assert wh.exists("nation_wh", schema="mart_b")
    assert not wh.exists("nation_wh")  # nothing in the default namespace
    n_a = engine.table("nation_wh", schema="mart_a").count()
    n_b = engine.table("nation_wh", schema="mart_b").count()
    assert n_b == 25 and 0 < n_a < 25  # filtered vs full copy

    # second tick: versions and retention stay per-schema
    engine.do_copy(load_date=datetime(2024, 6, 2))
    assert len(wh.table_versions("nation_wh", schema="mart_a")) == 2
    assert len(wh.table_versions("nation_wh", schema="mart_b")) == 2


def test_export_evolves_schema_across_loads(spark, wh):
    """Schema verify + evolve on the warehouse sink (op #14,
    MonetDBUtil.java:339-394 ported to the versioned model): a second load
    with an ADDED column widens the new version; a third load that DROPS a
    column still carries it as typed NULLs (consumers of the view never
    lose a column); a retype fails loudly — stricter than the reference's
    declared TODO."""
    from mssql2monetdb_spark.schema.evolve import SchemaEvolutionError

    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
    wh.export(v1, "evo", datetime(2024, 6, 1))
    assert {f.name for f in wh.table_schema(wh.current_version("evo")).fields} == {"k", "s"}

    # load 2: new column appears
    v2 = spark.createDataFrame([(3, "c", 1.5)], "k bigint, s string, x double")
    wh.export(v2, "evo", datetime(2024, 6, 2))
    assert _view_count(spark, wh, "evo") == 1
    assert {f.name for f in wh.table_schema(wh.current_version("evo")).fields} == {"k", "s", "x"}

    # load 3: a frame MISSING x still publishes all three columns (typed NULL)
    v3 = spark.createDataFrame([(4, "d"), (5, "e")], "k bigint, s string")
    wh.export(v3, "evo", datetime(2024, 6, 3))
    rows = {
        (r["k"], r["s"], r["x"])
        for r in jdbc_reader(
            spark, wh.source, CopyJob(job_id="evo_rb", source="w", from_table="evo")
        ).collect()
    }
    assert rows == {(4, "d", None), (5, "e", None)}

    # retype fails loudly
    v4 = spark.createDataFrame([(6, 7, 1.0)], "k bigint, s bigint, x double")
    with pytest.raises(SchemaEvolutionError, match="retyping"):
        wh.export(v4, "evo", datetime(2024, 6, 4))


def test_export_survives_sink_widened_integrals(spark, wh):
    """Regression (ADVICE r10, high): sink DDL types don't round-trip —
    ShortType/ByteType render as SMALLINT, which Spark's JDBC reader
    surfaces as IntegerType. Before the ``equivalent_in_derby``
    normalization, the FIRST publish of a smallint column poisoned every
    subsequent export with a false SchemaEvolutionError, breaking the
    incremental copy/stream lifecycle for common MSSQL types."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("sm", T.ShortType()),
            T.StructField("by", T.ByteType()),
        ]
    )
    v1 = spark.createDataFrame([(1, 10, 2), (2, 20, 3)], schema)
    wh.export(v1, "smalls", datetime(2024, 6, 1))
    # read-back is widened by the sink lattice — that's the trap
    rb = {f.name: f.dataType for f in wh.table_schema(wh.current_version("smalls")).fields}
    assert rb["sm"] == T.IntegerType() and rb["by"] == T.IntegerType()

    # the second export of the SAME frame must not be a "retype"
    v2 = spark.createDataFrame([(3, 30, 4)], schema)
    wh.export(v2, "smalls", datetime(2024, 6, 2))
    assert _view_count(spark, wh, "smalls") == 1

    # and the new physical stays on the NARROW DDL (SMALLINT), not silently
    # widened to INTEGER on every publish (DatabaseMetaData sees the true
    # column type; the Spark read-back can't)
    cur = wh.current_version("smalls")
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(wh.source.options["url"])
    try:
        rs = conn.getMetaData().getColumns(None, "APP", cur.upper(), "sm")
        assert rs.next() and rs.getString("TYPE_NAME") == "SMALLINT"
    finally:
        conn.close()

    # a GENUINE retype still fails loudly
    from mssql2monetdb_spark.schema.evolve import SchemaEvolutionError

    v3 = spark.createDataFrame([("x", 1, 1)], "k string, sm smallint, by tinyint")
    with pytest.raises(SchemaEvolutionError, match="retyping"):
        wh.export(v3, "smalls", datetime(2024, 6, 3))


def test_load_version_reclaims_unpublished_corpse(spark, wh):
    """Crash-retry: a colliding physical that is NOT the live view target
    is dropped and rebuilt; colliding with the live target raises."""
    nation = load_table(spark, SF, "nation")
    d = datetime(2024, 6, 1)
    wh.load_version(nation.limit(3), "nation", d)  # crashed attempt: never published
    p = wh.load_version(nation.limit(5), "nation", d)  # same name: reclaimed
    wh.publish("nation", p)
    assert _view_count(spark, wh, "nation") == 5
    with pytest.raises(RuntimeError, match="live published"):
        wh.load_version(nation.limit(7), "nation", d)


def test_driver_connection_passes_credentials(spark, tmp_path):
    """Connections built by the engine must carry user/password — proven by
    the session's CURRENT_USER: Derby binds the connection to the supplied
    user (default APP otherwise). DriverManager.getConnection(url) alone
    silently drops credentials, which Derby-only suites never catch because
    Derby doesn't REQUIRE auth by default — asserting the bound identity
    catches the drop anyway."""
    from mssql2monetdb_spark.sources.jdbc import driver_connection

    db = f"{tmp_path}/authdb"

    def current_user(opts):
        conn = driver_connection(spark, {"url": f"jdbc:derby:{db};create=true", **opts})
        st = conn.createStatement()
        try:
            rs = st.executeQuery("VALUES CURRENT_USER")
            rs.next()
            return rs.getString(1)
        finally:
            st.close()
            conn.close()

    assert current_user({"user": "alice", "password": "s3cret"}) == "ALICE"
    assert current_user({}) == "APP"  # Derby default when none supplied


def test_postgresql_catalog_statement_shapes_and_dialect_gate(spark):
    """PostgreSQL sinks probe information_schema; a dialect with no catalog
    probes is rejected with a clear error naming the supported set."""
    pg = CATALOG_SQL["postgresql"]
    assert "information_schema.tables" in pg["exists"]
    assert "table_type = 'BASE TABLE'" in pg["is_table"]
    assert pg["list_versions"].endswith("ORDER BY table_name DESC")
    assert "information_schema.views" in pg["view_definition"]
    for sql in pg.values():
        assert "table_schema = '{schema}'" in sql  # probes are schema-scoped

    wh_pg = JdbcWarehouse(
        spark, SourceSpec(name="pg", format="jdbc", options={"url": "jdbc:postgresql://h/db"})
    )
    assert wh_pg.dialect == "postgresql"
    assert wh_pg._store_name("Orders_WH") == "orders_wh"

    wh_bad = JdbcWarehouse(
        spark, SourceSpec(name="ms", format="jdbc", options={"url": "jdbc:sqlserver://h"})
    )
    with pytest.raises(ValueError, match="catalog probes"):
        _ = wh_bad.dialect


def test_parse_view_target_tolerates_store_renderings():
    """The live-version guard must survive every store's view-text shape —
    Derby's bare SELECT, MonetDB's full create statement with quoted
    schema-qualified names and trailing semicolon."""
    from mssql2monetdb_spark.engine.export import parse_view_target

    assert parse_view_target("SELECT * FROM nation_2024_06_01_00_00_00") == (
        "nation_2024_06_01_00_00_00"
    )
    assert parse_view_target(
        'create view "sys"."orders_wh" as select * from '
        '"sys"."orders_wh_2024_06_02_00_00_00";'
    ) == "orders_wh_2024_06_02_00_00_00"
    assert parse_view_target(
        "SELECT * FROM SYS . ORDERS_WH_2024_06_02_00_00_00 ;"
    ) == "ORDERS_WH_2024_06_02_00_00_00"
    assert parse_view_target(None) is None
    assert parse_view_target("not a view definition") is None


def test_sink_rejects_duplicate_schema_table_targets():
    """Schema-qualified sink targets are supported (round 10), but two jobs
    writing the SAME (schema, table) would race the view switch — refused
    loudly at spec time."""
    from mssql2monetdb_spark.config.spec import SpecError, load_spec

    base = {
        "warehouse_dir": "/tmp/x",
        "sources": {"src": {"format": "parquet", "path": "/tmp/src"}},
        "sink": {"format": "jdbc", "options": {"url": "jdbc:derby:/tmp/d"}},
    }
    # same to_table in DIFFERENT schemas: fine now (scoped probes + DDL)
    spec = load_spec(
        {
            **base,
            "tables": {
                "a": {"source": "src", "from_table": "x", "to_table": "t", "schema": "s1"},
                "b": {"source": "src", "from_table": "x", "to_table": "t", "schema": "s2"},
            },
        }
    )
    assert spec.jobs["a"].schema_name == "s1"

    # same (schema, table) twice: refused
    with pytest.raises(SpecError, match="unique per \\(schema, table\\)"):
        load_spec(
            {
                **base,
                "tables": {
                    "a": {"source": "src", "from_table": "x", "to_table": "t", "schema": "s1"},
                    "b": {"source": "src", "from_table": "y", "to_table": "T", "schema": "s1"},
                },
            }
        )


def test_sink_import_concurrency_accepts_only_one():
    """The bulk loader imports on one connection; a spec may still say so,
    and any other value is refused."""
    from mssql2monetdb_spark.config.spec import SpecError, load_spec

    def spec(conc):
        return {
            "warehouse_dir": "/tmp/x",
            "sources": {"src": {"format": "parquet", "path": "/tmp/src"}},
            "sink": {
                "format": "jdbc",
                "import_concurrency": conc,
                "options": {"url": "jdbc:derby:/tmp/d"},
            },
            "tables": {"a": {"source": "src", "from_table": "x", "to_table": "t"}},
        }

    assert load_spec(spec(1)).sink is not None
    for conc in (0, 4):
        with pytest.raises(SpecError, match="import_concurrency"):
            load_spec(spec(conc))


def test_schema_qualified_publish_independent(spark, wh):
    """Two same-named tables in two schemas publish INDEPENDENTLY: scoped
    catalog probes (the reference's sys.schemas subselect,
    MonetDBUtil.java:41-88), schema-qualified DDL and view switch
    (MonetDBTable.java:12-25), scoped retention — and the default-schema
    namespace is untouched by either."""
    nation = load_table(spark, SF, "nation")

    wh.export(nation.limit(3), "nation", datetime(2024, 6, 1))  # default ns
    p1 = wh.export(nation.limit(5), "nation", datetime(2024, 6, 1), schema="s1")
    p2 = wh.export(nation.limit(10), "nation", datetime(2024, 6, 1), schema="s2")

    # same bare physical name in both schemas — no collision
    assert p1.lower() == p2.lower()
    assert wh.current_version("nation", schema="s1").lower() == p1.lower()
    assert wh.current_version("nation", schema="s2").lower() == p2.lower()
    assert _view_count(spark, wh, "s1.nation") == 5
    assert _view_count(spark, wh, "s2.nation") == 10
    assert _view_count(spark, wh, "nation") == 3  # default ns untouched

    # probes are scoped: s1's listing never sees s2's versions
    assert len(wh.table_versions("nation", schema="s1")) == 1
    assert len(wh.table_versions("nation", schema="s2")) == 1
    assert len(wh.table_versions("nation")) == 1  # default ns sees only its own

    # retention reaps per schema
    wh.export(nation.limit(6), "nation", datetime(2024, 6, 2), schema="s1")
    wh.export(nation.limit(7), "nation", datetime(2024, 6, 3), schema="s1")
    assert len(wh.table_versions("nation", schema="s1")) == 2  # keep-2
    assert len(wh.table_versions("nation", schema="s2")) == 1  # untouched
    assert _view_count(spark, wh, "s1.nation") == 7
    assert _view_count(spark, wh, "s2.nation") == 10

    # drop_table is scoped too
    wh.drop_table("nation", schema="s2")
    assert not wh.exists("nation", schema="s2")
    assert wh.exists("nation", schema="s1")
    assert wh.exists("nation")


def test_trigger_probe_falls_back_on_case_mismatch(spark, tmp_path):
    """A trigger_column whose case doesn't match the store's quoted
    identifier must not lose the no-new-data skip: the pushdown probe
    fails, the engine retries Spark-side (case-insensitive resolution)."""
    from mssql2monetdb_spark.config.spec import load_spec
    from mssql2monetdb_spark.engine.copy import CopyEngine
    from mssql2monetdb_spark.sources.jdbc import jdbc_writer

    db = f"{tmp_path}/fbdb"
    src = SourceSpec(
        name="derby",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    jdbc_writer(
        load_table(spark, SF, "nation"), src, "nation", mode="overwrite",
        locked_mode=False,
    )
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"derby": {"format": "jdbc", "options": dict(src.options)}},
            "tables": {
                "nation_job": {
                    "source": "derby",
                    "from_table": "nation",
                    # store column is quoted lowercase "n_nationkey"
                    "trigger": {"column": "N_NATIONKEY"},
                }
            },
        }
    )
    engine = CopyEngine(spark, spec)
    wm = engine._probe_job(spec.jobs["nation_job"])
    assert (wm.value, wm.type_name) == (24, "bigint")


def test_fault_hook_fires_at_both_crash_windows(spark, wh):
    """The crash-drill seam (scripts/warehouse_crash_probe.py) must fire at
    exactly the two documented windows, in lifecycle order — if the seam
    drifts away from the DROP/CREATE boundary the probe silently stops
    testing the window it claims to."""
    points: list[str] = []
    wh.fault_hook = points.append
    df = spark.createDataFrame([(1, 10)], "k bigint, v bigint")
    wh.export(df, "seam", datetime(2024, 6, 1))
    assert points == ["between_load_and_switch", "mid_switch"]


def test_mid_switch_abort_keeps_old_view(spark, wh):
    """An abort INSIDE the switch transaction (after DROP VIEW, before
    CREATE VIEW) must roll back: readers keep the OLD view and content.
    This is the exception-path twin of the probe's hard-kill drill."""
    df1 = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    wh.export(df1, "msab", datetime(2024, 6, 1))
    v1 = wh.current_version("msab")

    class Boom(RuntimeError):
        pass

    def bomb(point):
        if point == "mid_switch":
            raise Boom("injected mid-switch abort")

    wh.fault_hook = bomb
    df2 = spark.createDataFrame([(3, 30)], "k bigint, v bigint")
    with pytest.raises(Boom):
        wh.export(df2, "msab", datetime(2024, 6, 2))
    wh.fault_hook = None
    # reader invariant: old view survives the rolled-back DROP
    assert wh.exists("msab")
    assert wh.current_version("msab") == v1
    assert _view_count(spark, wh, "msab") == 2
    # crash-retry converges (same load_date reclaims the corpse)
    wh.export(df2, "msab", datetime(2024, 6, 2))
    assert _view_count(spark, wh, "msab") == 1
    assert len(wh.table_versions("msab")) == 2


def test_probe_degradation_counter_survives_process_restart(spark, tmp_path):
    """ADVICE r10: the 'consecutive runs escalate to ERROR' rule must hold
    in the run-per-invocation deployment — the counter persists in the
    WatermarkStore, so a FRESH CopyEngine (new process) sees the prior
    run's degradation; a successful pushdown resets it."""
    from mssql2monetdb_spark.config.spec import load_spec
    from mssql2monetdb_spark.engine.copy import CopyEngine
    from mssql2monetdb_spark.sources.jdbc import jdbc_writer

    db = f"{tmp_path}/degdb"
    src = SourceSpec(
        name="derby",
        format="jdbc",
        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER},
    )
    jdbc_writer(
        load_table(spark, SF, "nation"), src, "nation", mode="overwrite",
        locked_mode=False,
    )
    raw = {
        "warehouse_dir": str(tmp_path / "wh"),
        "state_dir": str(tmp_path / "state"),
        "sources": {"derby": {"format": "jdbc", "options": dict(src.options)}},
        "tables": {
            "nation_job": {
                "source": "derby",
                "from_table": "nation",
                # store column is quoted lowercase: both probe casings fail
                "trigger": {"column": "N_NATIONKEY"},
            }
        },
    }
    e1 = CopyEngine(spark, load_spec(raw))
    e1._probe_job(e1.spec.jobs["nation_job"])
    assert e1.store.load_degradations(e1.checksum, "nation_job") == 1

    e2 = CopyEngine(spark, load_spec(raw))  # "new process"
    e2._probe_job(e2.spec.jobs["nation_job"])
    assert e2.store.load_degradations(e2.checksum, "nation_job") == 2

    # a successful pushdown resets the escalation
    import mssql2monetdb_spark.engine.watermark as wmmod
    from mssql2monetdb_spark.engine.watermark import Watermark

    orig = wmmod.probe_max_jdbc
    wmmod.probe_max_jdbc = lambda *a, **k: Watermark(24, "bigint")
    try:
        e3 = CopyEngine(spark, load_spec(raw))
        e3._probe_job(e3.spec.jobs["nation_job"])
    finally:
        wmmod.probe_max_jdbc = orig
    assert e3.store.load_degradations(e3.checksum, "nation_job") == 0


# -- phase 2 on a pool: concurrent loads into one warehouse ------------------


def _derby_sink_spec(tmp_path, db, tables, src_dir):
    from mssql2monetdb_spark.config.spec import load_spec

    return load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh_unused"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"src": {"format": "parquet", "path": str(src_dir)}},
            "sink": {
                "format": "jdbc",
                "options": {
                    "url": f"jdbc:derby:{tmp_path}/{db};create=true",
                    "driver": DERBY_DRIVER,
                },
            },
            "tables": tables,
        }
    )


def test_two_loads_into_a_new_schema_create_it_once(spark, tmp_path, nation_src, monkeypatch):
    """Two jobs into schema ``mart`` on their first run: the schema is
    created once, before the concurrent loads, and both publish."""
    from mssql2monetdb_spark.engine.copy import CopyEngine

    tables = {
        f"job_{t}": {"source": "src", "from_table": "nation", "to_table": t, "schema": "mart"}
        for t in ("nation_a", "nation_b")
    }
    engine = CopyEngine(spark, _derby_sink_spec(tmp_path, "martdb", tables, nation_src))
    statements = []
    real_execute = JdbcWarehouse._execute

    def execute(self, sql):
        statements.append(sql)
        real_execute(self, sql)

    monkeypatch.setattr(JdbcWarehouse, "_execute", execute)
    engine.do_copy(load_date=datetime(2024, 6, 1))
    assert [s for s in statements if s.startswith("CREATE SCHEMA")] == ["CREATE SCHEMA mart"]
    for t in ("nation_a", "nation_b"):
        assert engine.table(t, schema="mart").count() == 25


def test_pooled_sink_loads_equal_sequential_loads(spark, tmp_path, monkeypatch, caplog):
    """The two-job Derby sink publishes the same rows on a pool of 1 and of
    4, over two runs each; the loads import one at a time, and no load
    falls back to INSERT (a Derby lock timeout between two concurrent
    imports would surface there as a slow but correct load)."""
    import logging
    import time
    from concurrent.futures import ThreadPoolExecutor

    from mssql2monetdb_spark.engine import copy as copy_mod
    from mssql2monetdb_spark.engine.copy import CopyEngine
    from mssql2monetdb_spark.sources import jdbc

    caplog.set_level(logging.WARNING)
    real_import = jdbc._import_one_part
    running, overlaps = [], []

    def import_one_part(*args):
        running.append(1)
        overlaps.append(len(running))
        time.sleep(0.2)  # widen the window another import could enter
        try:
            real_import(*args)
        finally:
            running.pop()

    src = tmp_path / "src"
    orders = load_table(spark, SF, "orders")
    orders.withColumn("o_orderdate", orders.o_orderdate.cast("date")).write.parquet(
        str(src / "orders.parquet")
    )
    load_table(spark, SF, "customer").write.parquet(str(src / "customer.parquet"))
    tables = {
        "orders_job": {"source": "src", "from_table": "orders"},
        "customer_job": {"source": "src", "from_table": "customer"},
    }
    rows = {}
    for width in (1, 4):
        monkeypatch.setattr(
            copy_mod, "ThreadPoolExecutor", lambda max_workers, w=width: ThreadPoolExecutor(w)
        )
        monkeypatch.setattr(jdbc, "_import_one_part", import_one_part)
        engine = CopyEngine(spark, _derby_sink_spec(tmp_path, f"pool{width}", tables, src))
        for day in (1, 2):
            engine.do_copy(load_date=datetime(2024, 6, day))
        rows[width] = {
            t: sorted(engine.table(t).collect(), key=lambda r: tuple(r)[0])
            for t in ("orders", "customer")
        }
        assert len(engine.warehouse.table_versions("orders")) == 2
        monkeypatch.undo()
    assert rows[1] == rows[4]
    assert len(rows[4]["orders"]) == 1500 and len(rows[4]["customer"]) == 150
    assert overlaps and max(overlaps) == 1
    assert "degraded to INSERT" not in caplog.text


def test_summary_file_rows_are_not_counted_on_the_sink(spark, tmp_path, caplog):
    """The empty guard's count is the bulk loader's ``expected_count``: a
    ``_metadata`` summary beside the data files must not double it, or the
    import's count check fails and the load degrades to INSERT."""
    import logging
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mssql2monetdb_spark.engine.copy import CopyEngine

    caplog.set_level(logging.WARNING)
    path = tmp_path / "src" / "t.parquet"
    os.makedirs(path)
    t = pa.table({"k": pa.array(range(100), pa.int64())})
    collector = []
    pq.write_table(t, str(path / "part-0.parquet"), metadata_collector=collector)
    collector[0].set_file_path("part-0.parquet")
    pq.write_metadata(t.schema, str(path / "_metadata"), metadata_collector=collector)
    tables = {"t_job": {"source": "src", "from_table": "t", "to_table": "t"}}
    engine = CopyEngine(spark, _derby_sink_spec(tmp_path, "summary", tables, tmp_path / "src"))
    engine.do_copy(load_date=datetime(2024, 6, 1))
    assert engine.table("t").count() == 100
    assert "degraded to INSERT" not in caplog.text


def test_ntz_timestamps_round_trip_through_a_derby_sink(spark, tmp_path, caplog):
    """A ``timestamp_ntz`` column lands in Derby's zoneless TIMESTAMP with
    its wall-clock values, and the next load evolves against the
    read-back TIMESTAMP without a retype error."""
    import logging

    from pyspark.sql import functions as F

    from mssql2monetdb_spark.engine.copy import CopyEngine

    caplog.set_level(logging.WARNING)
    src = tmp_path / "src"
    frame = spark.range(0, 6).select(
        "id",
        F.make_timestamp_ntz(
            F.lit(2024), F.lit(3), F.lit(10), F.col("id") * 4, F.lit(30), F.col("id") + F.lit(0.123456)
        ).alias("ts"),
    )
    frame.write.parquet(str(src / "ev.parquet"))
    wall = lambda df: sorted(  # noqa: E731
        df.select("id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("w")).collect()
    )
    tables = {"ev_job": {"source": "src", "from_table": "ev", "to_table": "ev"}}
    engine = CopyEngine(spark, _derby_sink_spec(tmp_path, "ntz", tables, src))
    for day in (1, 2):
        engine.do_copy(load_date=datetime(2024, 6, day))
        assert wall(engine.table("ev")) == wall(frame)
    assert len(engine.warehouse.table_versions("ev")) == 2
    assert "degraded to INSERT" not in caplog.text

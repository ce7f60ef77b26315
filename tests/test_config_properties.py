"""`.properties` adapter tests — the reference's literal config format
(CopyToolConfig.java:116-279, config.properties.example) compiles into the
validated dict spec unmodified.

EXAMPLE below is a content-equivalent rewrite of the reference's
config.properties.example (same keys and structure, renamed values), not a
copy of the file.
"""

from __future__ import annotations

import pytest

from mssql2monetdb_spark.config.properties import (
    interpolate_reference_env,
    load_properties_spec,
    parse_properties,
    properties_to_spec_dict,
)
from mssql2monetdb_spark.config.spec import SpecError, load_spec, spec_checksum

EXAMPLE = """
# target MonetDB database connection (Spark target = warehouse_dir)
monetdb.user = monetdb
monetdb.password = ENV:MONETDB_PASSWORD:monetdb
monetdb.server = localhost
monetdb.database = analytics_db

# source MS SQL Server database(s)
mssql.db1.user = dbuser
mssql.db1.password = dbpassword
mssql.db1.server = sqlhost
mssql.db1.database = ops_db
mssql.db1.instance = PROD

# copy a table
table.example.source = db1
table.example.from = example_table
table.example.to = Example_Table_New
table.example.schema = sys
table.example.create = true
table.example.truncate = yes
table.example.copyViaTempTable = true
table.example.tempTablePrefix = tmp_
table.example.useFastViewSwitching = false

# mail settings
monetdb.mail.sendmail=true
monetdb.mail.to=alerts@example.org
monetdb.mail.from=noreply@example.org
monetdb.mail.server=10.0.0.9
monetdb.mail.port=2525
monetdb.mail.username=
monetdb.mail.password=

batch.size = 10000

scheduler.enabled = true
scheduler.interval = every 5 minutes

trigger.enabled = true
trigger.source = db1
trigger.table = updated
trigger.column = last_updatetime
"""


def _load(text=EXAMPLE, env=None, **kw):
    return load_properties_spec(
        text, warehouse_dir="/tmp/wh", env=env or {}, **kw
    )


def test_example_file_compiles_to_valid_spec():
    spec = _load()
    assert "db1" in spec.sources
    src = spec.sources["db1"]
    assert src.format == "jdbc"
    # dialect URL + driver per SourceDatabaseType.java:17 (jTDS, default 1433)
    assert src.options["url"] == "jdbc:jtds:sqlserver://sqlhost:1433/ops_db"
    assert src.options["driver"] == "net.sourceforge.jtds.jdbc.Driver"
    assert src.options["instance"] == "PROD"
    assert src.options["user"] == "dbuser"

    job = spec.jobs["example"]
    assert job.from_table == "example_table"
    assert job.to_table == "example_table_new"  # lowercased like setToName
    assert job.schema_name == "sys"
    assert job.create is True
    assert job.truncate is True  # 'yes' counts as true
    assert job.copy_via_temp_table is True
    assert job.use_fast_view_switching is False
    # global trigger block applies to every job
    assert job.trigger_table == "updated"
    assert job.trigger_column == "last_updatetime"
    assert job.trigger_source == "db1"

    assert spec.scheduler_interval == "every 5 minutes"
    assert spec.mail is not None and spec.mail.server == "10.0.0.9"
    assert spec.mail.port == 2525
    assert spec.raw["batch_size"] == 10000


def test_env_whole_value_and_embedded_forms():
    env = {"DB_PASS": "s3cret", "REGION": "eu"}
    assert interpolate_reference_env("ENV:DB_PASS:fallback", env) == "s3cret"
    assert interpolate_reference_env("ENV:MISSING:fallback", env) == "fallback"
    # fail-open: missing + no default -> empty string (not an exception)
    assert interpolate_reference_env("ENV:MISSING", env) == ""
    assert interpolate_reference_env("env:DB_PASS", env) == "s3cret"  # ci prefix
    assert (
        interpolate_reference_env("host-{env:REGION}.example.org", env)
        == "host-eu.example.org"
    )
    assert (
        interpolate_reference_env("{env:NOPE:west}-{env:REGION}", env) == "west-eu"
    )


def test_env_interpolation_applies_to_source_credentials():
    text = EXAMPLE.replace(
        "mssql.db1.password = dbpassword", "mssql.db1.password = ENV:SQL_PW:default_pw"
    )
    spec = _load(text, env={"SQL_PW": "live_pw"})
    assert spec.sources["db1"].options["password"] == "live_pw"
    spec2 = _load(text, env={})
    assert spec2.sources["db1"].options["password"] == "default_pw"


def test_postgresql_dialect_and_explicit_port():
    text = """
postgresql.pg.user = u
postgresql.pg.password = p
postgresql.pg.server = pghost
postgresql.pg.database = pgdb
postgresql.pg.port = 6543
table.t1.source = pg
table.t1.from = events
"""
    spec = _load(text)
    assert (
        spec.sources["pg"].options["url"] == "jdbc:postgresql://pghost:6543/pgdb"
    )
    assert spec.sources["pg"].options["driver"] == "org.postgresql.Driver"
    # to_table defaults to from_table (CopyToolConfig missing-to fallback)
    assert spec.jobs["t1"].to_table == "events"


def test_two_segment_source_key_means_default_id():
    text = """
mssql.user = u
mssql.password = p
mssql.server = h
mssql.database = d
table.t.from = x
"""
    spec = _load(text)
    assert "_default" in spec.sources
    assert spec.jobs["t"].source == "_default"


def test_from_query_requires_countquery():
    text = """
mssql.db1.server = h
mssql.db1.database = d
table.t.source = db1
table.t.from.query = SELECT 1 AS a
table.t.to = t_out
"""
    with pytest.raises(SpecError, match="count_query"):
        _load(text)
    ok = _load(text + "table.t.from.countquery = SELECT 1\n")
    assert ok.jobs["t"].count_query == "SELECT 1"


def test_queryfile_resolves_through_loader():
    text = """
mssql.db1.server = h
mssql.db1.database = d
table.t.source = db1
table.t.from.queryfile = /queries/q.sql
table.t.from.countqueryfile = /queries/c.sql
table.t.to = t_out
"""
    files = {"/queries/q.sql": "SELECT * FROM big", "/queries/c.sql": "SELECT 42"}
    spec = _load(text, query_loader=files.__getitem__)
    assert spec.jobs["t"].from_query == "SELECT * FROM big"
    assert spec.jobs["t"].count_query == "SELECT 42"


def test_source_missing_server_or_database_fails_closed():
    text = """
mssql.db1.user = u
mssql.db1.database = d
table.t.source = db1
table.t.from = x
"""
    with pytest.raises(SpecError, match="server"):
        _load(text)


def test_trigger_enabled_requires_table_and_column():
    text = """
mssql.db1.server = h
mssql.db1.database = d
table.t.source = db1
table.t.from = x
trigger.enabled = yes
"""
    with pytest.raises(SpecError, match="trigger"):
        _load(text)


def test_scheduler_disabled_drops_interval():
    text = """
mssql.db1.server = h
mssql.db1.database = d
table.t.source = db1
table.t.from = x
scheduler.enabled = false
scheduler.interval = every 2 hours
"""
    assert _load(text).scheduler_interval is None


def test_checksum_semantics_stable_and_edit_sensitive():
    a = _load()
    b = _load()
    assert spec_checksum(a) == spec_checksum(b)
    edited = _load(EXAMPLE.replace("table.example.truncate = yes",
                                   "table.example.truncate = false"))
    assert spec_checksum(a) != spec_checksum(edited)
    # and the compiled dict round-trips through the JSON spec path with the
    # same checksum — the adapter is a front-end, not a parallel code path
    props = parse_properties(EXAMPLE)
    d = properties_to_spec_dict(props, warehouse_dir="/tmp/wh", env={})
    assert spec_checksum(load_spec(d, env={})) == spec_checksum(a)


def test_properties_parser_handles_separators_comments_continuation():
    props = parse_properties(
        "# comment\n! also comment\nkey1 = v1\nkey2: v2\n"
        "long.key = part1,\\\npart2\n\nspaced   =   v3  \n"
    )
    assert props == {
        "key1": "v1",
        "key2": "v2",
        "long.key": "part1,part2",
        "spaced": "v3",
    }


def test_properties_key_ends_at_first_separator():
    """java.util.Properties terminates the key at the FIRST separator, so a
    ':'-separated value keeps any '=' it contains (round-4 ADVICE: the old
    '=-first' search silently corrupted queries and JDBC URLs)."""
    props = parse_properties(
        "table.t.from.query: SELECT * FROM x WHERE a=1\n"
        "url: jdbc:postgresql://h/db?user=u&password=p=q\n"
        "eq.first = a:b=c\n"
    )
    assert props["table.t.from.query"] == "SELECT * FROM x WHERE a=1"
    assert props["url"] == "jdbc:postgresql://h/db?user=u&password=p=q"
    assert props["eq.first"] == "a:b=c"  # '=' earlier than ':' -> '=' wins


def test_properties_continuation_eof_and_escaped_backslash():
    # dangling continuation at EOF still yields its logical line
    assert parse_properties("a = 1,\\\nb,\\") == {"a": "1,b,"}
    # even trailing backslashes = escaped literal, NOT a continuation
    assert parse_properties("p = C:\\\\\nq = 2") == {"p": "C:\\\\", "q": "2"}
    # odd (3) trailing backslashes: one pair literal + one continuation
    assert parse_properties("r = x\\\\\\\ny = tail") == {"r": "x\\\\y = tail"}
    # a comment line never opens a continuation
    assert parse_properties("# c \\\nk = v") == {"k": "v"}


def test_embedded_env_default_truncates_at_colon_like_reference():
    """CopyToolConfig.getEnvironmentValue keeps only refParts[2], so
    '{env:VAR:a:b}' defaults to 'a' — both interpolation forms agree."""
    assert interpolate_reference_env("{env:NOPE:a:b}", {}) == "a"
    assert interpolate_reference_env("ENV:NOPE:a:b", {}) == "a"


def test_load_spec_path_containing_equals_is_opened(tmp_path):
    cfg_dir = tmp_path / "env=prod"
    cfg_dir.mkdir()
    cfg = cfg_dir / "config.properties"
    cfg.write_text(
        "derby.src.server = unused\nderby.src.database = unused\n"
        "table.t.source = src\ntable.t.from = region\ntable.t.to = region_copy\n"
    )
    # the round-4 ADVICE bug: '=' in the *path* made the filename itself get
    # parsed as properties text; os.path.exists now disambiguates
    import mssql2monetdb_spark.config.properties as props_mod

    old = dict(props_mod.DIALECTS)
    props_mod.DIALECTS.setdefault(
        "derby",
        {"url": "jdbc:derby:{server}", "port": 0, "driver": "x"},
    )
    try:
        spec = load_properties_spec(str(cfg), warehouse_dir="/tmp/wh", env={})
        assert "t" in spec.jobs
    finally:
        props_mod.DIALECTS.clear()
        props_mod.DIALECTS.update(old)
    with pytest.raises(FileNotFoundError):
        # separator-free missing path -> clear error, not a silent parse
        load_properties_spec(str(tmp_path / "missing_properties"), warehouse_dir="/tmp/wh")


# --- dialect option-builder coverage (SourceDatabase.java:33-78,
# SourceDatabaseType.java:8-55): a reference user's mssql/postgresql config
# block must produce exactly the JDBC options Spark needs — URL, driver
# class, credentials, instance — end to end through the spec layer into
# sources/jdbc.py, with no server required.


def _compile_source(text, name):
    spec = _load(text)
    return spec.sources[name]


def test_mssql_options_flow_into_jdbc_read_options():
    from mssql2monetdb_spark.config.spec import CopyJob
    from mssql2monetdb_spark.sources.jdbc import jdbc_read_options

    src = _compile_source(EXAMPLE, "db1")
    job = CopyJob(job_id="example", from_table="example_table", to_table="example_table_new")
    opts = jdbc_read_options(src, job)
    assert opts["url"] == "jdbc:jtds:sqlserver://sqlhost:1433/ops_db"
    assert opts["driver"] == "net.sourceforge.jtds.jdbc.Driver"
    assert opts["dbtable"] == "example_table"
    assert opts["instance"] == "PROD"  # named-instance prop (SourceDatabase.java:49-51)
    assert opts["user"] == "dbuser" and opts["password"] == "dbpassword"
    assert opts["fetchsize"] == "10000"


def test_postgresql_options_flow_into_jdbc_write_options():
    from mssql2monetdb_spark.sources.jdbc import jdbc_write_options

    text = """
postgresql.pg.user = u
postgresql.pg.password = p
postgresql.pg.server = pghost
postgresql.pg.database = pgdb
table.t1.source = pg
table.t1.from = events
"""
    src = _compile_source(text, "pg")
    opts = jdbc_write_options(src, "events_out")
    assert opts["url"] == "jdbc:postgresql://pghost:5432/pgdb"  # default 5432
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["dbtable"] == "events_out"
    assert opts["batchsize"] == "10000"  # reference batch.size default
    assert opts["isolationLevel"] == "NONE"  # LOCKED-mode load analog


def test_watermark_probe_matches_top1_desc(spark):
    """The reference's trigger probe is dialect SQL — MSSQL `SELECT TOP 1 c
    ... ORDER BY c DESC`, PG `... ORDER BY c DESC LIMIT 1`
    (SourceDatabaseType.java:21-25,45-49). Both compute MAX(c); the engine's
    probe (engine/watermark.py probe_max, F.max underneath) is the same
    aggregate, verified here against an explicit top-1-desc plan."""
    import pyspark.sql.functions as F

    from mssql2monetdb_spark.engine.watermark import probe_max

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    top1 = orders.orderBy(F.col("o_orderdate").desc()).select("o_orderdate").first()[0]
    assert probe_max(orders, "o_orderdate").value == top1


def test_cli_accepts_properties_config(tmp_path, monkeypatch):
    """`-c config.properties` routes through the adapter (drop-in CLI
    migration); without --warehouse it fails closed with exit 1."""
    import mssql2monetdb_spark.cli as cli

    cfg = tmp_path / "config.properties"
    cfg.write_text(
        "mssql.db1.server = h\nmssql.db1.database = d\n"
        "table.t.source = db1\ntable.t.from = x\n"
    )
    # missing --warehouse: the properties front-end fails closed
    assert cli.main(["-c", str(cfg)]) == 1

    # with --warehouse: the adapter compiles the spec, then the engine is
    # reached (stub it — no JDBC server exists here)
    seen = {}

    class FakeEngine:
        def __init__(self, spark, spec):
            seen["spec"] = spec

        def run(self, **kw):
            return 0

    monkeypatch.setattr(cli, "CopyEngine", FakeEngine)
    monkeypatch.setattr(cli, "get_spark", lambda name: None)
    assert cli.main(["-c", str(cfg), "--warehouse", str(tmp_path / "wh")]) == 0
    assert seen["spec"].jobs["t"].from_table == "x"
    assert seen["spec"].sources["db1"].options["url"].startswith("jdbc:jtds:sqlserver://h:1433")


def test_properties_config_runs_pipeline_against_real_jdbc(spark, tmp_path, monkeypatch):
    """End-to-end migration proof: a reference-format .properties file
    drives the full 4-phase copy pipeline against a REAL JDBC endpoint
    (embedded Derby, in-JVM). The derby dialect is injected test-only —
    the adapter's dialect table normally holds the reference's two
    (mssql/postgresql, which need servers this sandbox doesn't have) —
    so the path proven is: properties text -> compiled spec -> JDBC
    extract -> versioned parquet load -> published view."""
    from datetime import datetime

    from mssql2monetdb_spark.catalog import load_table
    from mssql2monetdb_spark.config import properties as props_mod
    from mssql2monetdb_spark.engine.copy import CopyEngine
    from mssql2monetdb_spark.sources.jdbc import jdbc_writer
    from mssql2monetdb_spark.config.spec import SourceSpec

    db_path = tmp_path / "derbydb"
    seed = SourceSpec(
        name="seed",
        format="jdbc",
        options={
            "url": f"jdbc:derby:{db_path};create=true",
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        },
    )
    region = load_table(spark, "/root/testdata/sf0.001", "region")
    jdbc_writer(region, seed, "region", mode="overwrite", locked_mode=False)

    monkeypatch.setitem(
        props_mod.DIALECTS,
        "derby",
        {
            # str.format ignores the unused port/database slots
            "url": f"jdbc:derby:{{server}}",
            "port": 0,
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        },
    )
    text = f"""
derby.src.server = {db_path}
derby.src.database = unused
table.regions.source = src
table.regions.from = region
table.regions.to = region_copy
"""
    spec = props_mod.load_properties_spec(
        text, warehouse_dir=str(tmp_path / "wh"), env={}
    )
    engine = CopyEngine(spark, spec)
    published = engine.do_copy(load_date=datetime(2024, 6, 1))
    assert published == {"regions": "region_copy_2024_06_01_00_00_00"}
    got = engine.sql("SELECT COUNT(*) AS n FROM region_copy").collect()[0]["n"]
    assert got == region.count()


def test_monetdb_block_compiles_to_sink_when_opted_in():
    """monetdb_sink=True honors the reference's target block: the spec's
    jdbc sink carries the reference's exact URL shape
    (CopyToolConnectionManager.java:60-80) and credentials only when BOTH
    user and password are set."""
    from mssql2monetdb_spark.config.properties import load_properties_spec

    text = """
monetdb.user = monetdb
monetdb.password = secret
monetdb.server = warehouse.example.org
monetdb.database = analytics_db
mssql.src.server = db.example.org
mssql.src.database = erp
mssql.src.user = u
mssql.src.password = p
table.t1.source = src
table.t1.from.table = dbo.orders
table.t1.to = orders
"""
    spec = load_properties_spec(text, warehouse_dir="/tmp/wh", monetdb_sink=True)
    assert spec.sink is not None
    assert spec.sink.options["url"] == "jdbc:monetdb://warehouse.example.org/analytics_db"
    assert spec.sink.options["driver"] == "nl.cwi.monetdb.jdbc.MonetDriver"
    assert spec.sink.options["user"] == "monetdb"
    assert spec.sink.options["password"] == "secret"
    assert spec.sink_method == "copy"

    # default (no opt-in): block recorded-and-ignored, parquet warehouse
    spec2 = load_properties_spec(text, warehouse_dir="/tmp/wh")
    assert spec2.sink is None

    # credentials ride only as a PAIR (reference semantics)
    text_nopw = text.replace("monetdb.password = secret\n", "")
    spec3 = load_properties_spec(text_nopw, warehouse_dir="/tmp/wh", monetdb_sink=True)
    assert "user" not in spec3.sink.options

    # port, when configured, rides in the server part
    text_port = text.replace(
        "monetdb.server = warehouse.example.org",
        "monetdb.server = warehouse.example.org\nmonetdb.port = 50001",
    )
    spec4 = load_properties_spec(text_port, warehouse_dir="/tmp/wh", monetdb_sink=True)
    assert spec4.sink.options["url"] == "jdbc:monetdb://warehouse.example.org:50001/analytics_db"


def test_monetdb_sink_accepts_schema_qualified_tables():
    """Round-10 regression: the reference's ``table.<id>.schema`` key now
    compiles against a monetdb sink (pre-round-10 the spec layer rejected
    any non-default schema on a jdbc sink) — the config-time lowercasing
    matches CopyToolConfig.java:875-876, and two same-named targets in
    different schemas are accepted while a duplicate (schema, table)
    pair is still refused."""
    from mssql2monetdb_spark.config.properties import load_properties_spec

    text = """
monetdb.server = wh.example.org
monetdb.database = marts
mssql.src.server = db.example.org
mssql.src.database = erp
mssql.src.user = u
mssql.src.password = p
table.a.source = src
table.a.from.table = dbo.orders
table.a.to = orders
table.a.schema = Mart_A
table.b.source = src
table.b.from.table = dbo.orders_eu
table.b.to = orders
table.b.schema = mart_b
"""
    spec = load_properties_spec(text, warehouse_dir="/tmp/wh", monetdb_sink=True)
    assert spec.jobs["a"].schema_name == "mart_a"  # lowercased at config time
    assert spec.jobs["b"].schema_name == "mart_b"
    dup = text.replace("table.b.schema = mart_b", "table.b.schema = MART_A")
    with pytest.raises(SpecError, match="unique per"):
        load_properties_spec(dup, warehouse_dir="/tmp/wh", monetdb_sink=True)


def test_batch_size_and_temp_directory_reach_the_monetdb_sink():
    """With the monetdb sink, ``batch.size`` is the batched writer's
    ``batchsize`` (the reference's INSERT batch size) and
    ``temp.directory`` is the bulk loader's staging directory (where the
    reference spools the file COPY INTO reads)."""
    from mssql2monetdb_spark.config.properties import load_properties_spec
    from mssql2monetdb_spark.sources.jdbc import jdbc_write_options

    text = """
monetdb.server = warehouse.example.org
monetdb.database = analytics_db
mssql.src.server = db.example.org
mssql.src.database = erp
table.t1.source = src
table.t1.from.table = dbo.orders
table.t1.to = orders
batch.size = 2500
temp.directory = /data/spool
"""
    spec = load_properties_spec(text, warehouse_dir="/tmp/wh", monetdb_sink=True)
    assert spec.sink_staging_dir == "/data/spool"
    assert jdbc_write_options(spec.sink, "orders")["batchsize"] == "2500"

    defaults = load_properties_spec(
        text.replace("batch.size = 2500\ntemp.directory = /data/spool\n", ""),
        warehouse_dir="/tmp/wh",
        monetdb_sink=True,
    )
    assert defaults.sink_staging_dir is None
    assert jdbc_write_options(defaults.sink, "orders")["batchsize"] == "10000"


def test_monetdb_sink_requires_block():
    import pytest

    from mssql2monetdb_spark.config.properties import load_properties_spec
    from mssql2monetdb_spark.config.spec import SpecError

    with pytest.raises(SpecError, match="monetdb block is missing"):
        load_properties_spec(
            "table.t1.from.table = x\nmssql.s.server=h\nmssql.s.database=d",
            warehouse_dir="/tmp/wh",
            monetdb_sink=True,
        )

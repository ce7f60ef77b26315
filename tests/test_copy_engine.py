"""End-to-end copy pipeline: extract -> versioned load -> publish -> retention
(SURVEY §3.1), including empty guard, no-switch/switch-only modes, temp-table
promotion and queryability of published views."""

from __future__ import annotations

from datetime import datetime

import pytest

from mssql2monetdb_spark.config.spec import load_spec
from mssql2monetdb_spark.engine.copy import (
    EXIT_ERROR,
    EXIT_NO_NEW_DATA,
    EXIT_OK,
    CopyEngine,
    EmptyTablesError,
)
from mssql2monetdb_spark.engine.publish import VersionedCatalog, physical_name, version_of

SF = "/root/testdata/sf0.001"


def make_spec(tmp_path, tables=None, **extra):
    return load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "sources": {"_default": {"format": "parquet", "path": SF}},
            "tables": tables or {"nation_job": {"from_table": "nation"}},
            **extra,
        }
    )


def test_copy_end_to_end(spark, tmp_path):
    engine = CopyEngine(spark, make_spec(tmp_path))
    published = engine.do_copy(load_date=datetime(2024, 1, 1, 0, 0, 0))
    assert published == {"nation_job": "nation_2024_01_01_00_00_00"}
    # published view answers queries
    n = engine.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"]
    assert n == 25
    # physical naming parity (MonetDBTable.java:31-43)
    assert version_of(published["nation_job"]) == "2024_01_01_00_00_00"


def test_versioning_and_retention(spark, tmp_path):
    engine = CopyEngine(spark, make_spec(tmp_path))
    cat = engine.catalog
    for day in (1, 2, 3):
        engine.do_copy(load_date=datetime(2024, 1, day))
    versions = cat.table_versions("default", "nation")
    # keep 2: current + one backup (CopyTool.java:575-580)
    assert versions == ["nation_2024_01_03_00_00_00", "nation_2024_01_02_00_00_00"]
    assert cat.current_version("default", "nation") == "nation_2024_01_03_00_00_00"


def test_empty_guard(spark, tmp_path):
    # empty source aborts the whole run (SourceDatabaseUtil.java:22-52)
    spec = make_spec(
        tmp_path,
        tables={
            "empty_job": {
                "from_table": None,
                "from_query": "SELECT * FROM nation WHERE n_nationkey < 0",
                "count_query": "SELECT COUNT(*) FROM nation WHERE n_nationkey < 0",
                "to_table": "empty_t",
            }
        },
    )
    engine = CopyEngine(spark, spec)
    with pytest.raises(EmptyTablesError):
        engine.do_copy()

    # allowEmpty loads schema + zero rows (CopyTool.java:673-678,816-820)
    spec2 = make_spec(
        tmp_path,
        tables={
            "empty_job": {
                "from_table": None,
                "from_query": "SELECT * FROM nation WHERE n_nationkey < 0",
                "count_query": "SELECT COUNT(*) FROM nation WHERE n_nationkey < 0",
                "to_table": "empty_t",
                "allow_empty": True,
            }
        },
    )
    engine2 = CopyEngine(spark, spec2)
    engine2.do_copy(load_date=datetime(2024, 1, 1))
    out = engine2.sql("SELECT * FROM empty_t")
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["n_nationkey", "n_name", "n_regionkey"]


def test_query_mode_evaluates_natively(spark, tmp_path):
    # arbitrary SQL evaluated by Spark, not shipped anywhere
    spec = make_spec(
        tmp_path,
        tables={
            "top_cust": {
                "from_table": None,
                "from_query": """
                    SELECT c_nationkey, COUNT(*) AS n_customers
                    FROM customer GROUP BY c_nationkey
                """,
                "count_query": "SELECT COUNT(DISTINCT c_nationkey) FROM customer",
                "to_table": "cust_by_nation",
            }
        },
    )
    engine = CopyEngine(spark, spec)
    engine.do_copy(load_date=datetime(2024, 1, 1))
    total = engine.sql("SELECT SUM(n_customers) AS s FROM cust_by_nation").collect()[0]["s"]
    assert total == 150  # sf0.001 customer count


def test_count_query_not_shadowed_across_sources(spark, tmp_path):
    """Two query-mode sources exposing the same bare table name: each job's
    count_query must target its OWN source's relation, not whichever source
    registered its temp views last (regression for view shadowing)."""
    for name, n_rows in (("src_a", 3), ("src_b", 7)):
        d = tmp_path / name
        d.mkdir()
        spark.range(n_rows).selectExpr("id AS k").write.parquet(str(d / "t.parquet"))
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "sources": {
                "a": {"format": "parquet", "path": str(tmp_path / "src_a")},
                "b": {"format": "parquet", "path": str(tmp_path / "src_b")},
            },
            "tables": {
                "job_a": {
                    "source": "a",
                    "from_table": None,
                    "from_query": "SELECT * FROM t",
                    "count_query": "SELECT COUNT(*) FROM t",
                    "to_table": "t_a",
                },
                "job_b": {
                    "source": "b",
                    "from_table": None,
                    "from_query": "SELECT * FROM t",
                    "count_query": "SELECT COUNT(*) FROM t",
                    "to_table": "t_b",
                },
            },
        }
    )
    engine = CopyEngine(spark, spec)
    # extract both first so the LAST registration of view `t` (source b)
    # would shadow source a's if counts resolved against stale views
    frames = {job_id: engine._extract(job) for job_id, job in spec.jobs.items()}
    counts = engine.assert_non_empty(frames)
    assert counts == {"job_a": 3, "job_b": 7}


def test_projection_mode(spark, tmp_path):
    spec = make_spec(
        tmp_path,
        tables={"t": {"from_table": "customer", "from_columns": ["c_custkey", "c_name"]}},
    )
    engine = CopyEngine(spark, spec)
    engine.do_copy(load_date=datetime(2024, 1, 1))
    df = engine.sql("SELECT * FROM customer")
    assert df.columns == ["c_custkey", "c_name"]  # CopyTable.java:314-322


def _no_switch_then_switch_only(spark, tmp_path, fast):
    # --no-switch loads but doesn't publish; --switch-only publishes later
    # (CopyToolConfig.java:116-279 CLI modes)
    import os

    spec = make_spec(
        tmp_path,
        tables={"nation_job": {"from_table": "nation", "use_fast_view_switching": fast}},
    )
    engine = CopyEngine(spark, spec)
    loaded = engine.do_copy(no_switch=True, load_date=datetime(2024, 1, 1))
    assert engine.catalog.current_version("default", "nation") is None
    assert engine.catalog.newest_version("default", "nation") == loaded["nation_job"]

    published = engine.do_copy(switch_only=True)
    assert published["nation_job"] == loaded["nation_job"]
    assert engine.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"] == 25

    # over a published version, switch-only publishes the newer load
    # rather than republishing the current one
    loaded2 = engine.do_copy(no_switch=True, load_date=datetime(2024, 1, 2))
    assert engine.catalog.current_version("default", "nation") == loaded["nation_job"]
    assert engine.do_copy(switch_only=True) == loaded2
    assert engine.catalog.current_version("default", "nation") == loaded2["nation_job"]
    assert not [
        e for e in os.listdir(engine.catalog.schema_dir("default")) if e.startswith("tmp_")
    ]


def test_no_switch_then_switch_only(spark, tmp_path):
    _no_switch_then_switch_only(spark, tmp_path, fast=True)


def test_no_switch_then_switch_only_temp_table(spark, tmp_path):
    """use_fast_view_switching=False loads the same way: the no-switch load
    lands under the public name, where switch-only finds it."""
    _no_switch_then_switch_only(spark, tmp_path, fast=False)


def test_switch_table_cli_configless(spark, tmp_path, capsys):
    """The reference's config-less single-table switch synthesis
    (CopyToolConfig.java:219-249: --switch-only + connection/table params
    and NO config file builds a drop+fast-view-switch job on the fly).
    Spark-side: `--switch-table schema.table --warehouse dir` publishes
    the newest loaded-but-unpublished version, phases 3-4 only."""
    from mssql2monetdb_spark.cli import main

    engine = CopyEngine(spark, make_spec(tmp_path))
    loaded = engine.do_copy(no_switch=True, load_date=datetime(2024, 1, 1))
    assert engine.catalog.current_version("default", "nation") is None

    rc = main(["--switch-table", "nation", "--warehouse", str(tmp_path / "wh")])
    assert rc == 0
    assert "published default.nation" in capsys.readouterr().out
    cat = VersionedCatalog(str(tmp_path / "wh"))
    assert cat.current_version("default", "nation") == loaded["nation_job"]

    # missing prerequisites fail with the reference's error exit, not a crash
    assert main(["--switch-table", "nation"]) == EXIT_ERROR
    assert (
        main(["--switch-table", "missing", "--warehouse", str(tmp_path / "wh")])
        == EXIT_ERROR
    )


def test_temp_table_promotion(spark, tmp_path):
    # copy-via-temp-table: load under tmp_, CTAS-promote at publish
    # (CopyTool.java:1107-1124)
    spec = make_spec(
        tmp_path,
        tables={"j": {"from_table": "region", "use_fast_view_switching": False}},
    )
    engine = CopyEngine(spark, spec)
    published = engine.do_copy(load_date=datetime(2024, 1, 1))
    assert published["j"] == "region_2024_01_01_00_00_00"
    assert engine.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"] == 5
    # no tmp_ leftovers
    assert engine.catalog.table_versions("default", "tmp_region") == []

    # same-load_date retry keeps the overwrite/idempotent contract in temp
    # mode too: os.replace cannot rename onto a non-empty directory, so
    # the promotion overwrites the existing same-name version explicitly
    published2 = engine.do_copy(load_date=datetime(2024, 1, 1))
    assert published2 == published
    assert engine.catalog.table_versions("default", "region") == [
        "region_2024_01_01_00_00_00"
    ]
    assert engine.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"] == 5


def test_exit_codes(spark, tmp_path):
    engine = CopyEngine(spark, make_spec(tmp_path))
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK


def test_trigger_skip_exit_code(spark, tmp_path):
    spec = make_spec(
        tmp_path,
        tables={
            "ev": {
                "from_table": "events",
                "trigger": {"column": "ts"},
            }
        },
    )
    engine = CopyEngine(spark, spec)
    # first run: no state -> runs, persists watermark
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK
    # second run: unchanged max(ts) -> exit 2 (CopyTool.java:95-98)
    assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_NO_NEW_DATA


def test_register_all_fresh_session(spark, tmp_path):
    # republish views from manifests alone (switch-only across sessions)
    engine = CopyEngine(spark, make_spec(tmp_path))
    engine.do_copy(load_date=datetime(2024, 1, 1))
    spark.catalog.dropTempView("nation")
    cat = VersionedCatalog(str(tmp_path / "wh"))
    assert cat.register_all(spark) == ["default.nation"]
    assert spark.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"] == 25


def test_physical_name_format():
    assert (
        physical_name("orders", datetime(2024, 12, 31, 23, 59, 58))
        == "orders_2024_12_31_23_59_58"
    )


def test_csv_source_end_to_end(spark, tmp_path):
    """CSV source with the reference's conventions (\\N nulls, quoting)."""
    from mssql2monetdb_spark.sources.readers import write_csv_compat

    src_dir = tmp_path / "csv_src"
    df = spark.createDataFrame(
        [(1, "alpha", None), (2, 'qu"ote', 3.5)], "id long, s string, v double"
    )
    write_csv_compat(df, str(src_dir / "t.csv"))
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "sources": {"_default": {"format": "csv", "path": str(src_dir)}},
            "tables": {"j": {"from_table": "t"}},
        }
    )
    engine = CopyEngine(spark, spec)
    engine.do_copy(load_date=datetime(2024, 1, 1))
    rows = {r["id"]: r for r in engine.sql("SELECT * FROM t").collect()}
    assert rows[1]["v"] is None  # \N round-trips to NULL
    assert rows[2]["s"] == 'qu"ote'


def test_incremental_append_mode(spark, tmp_path):
    """incremental: delta-only extraction appended to the published snapshot."""
    import pyspark.sql.functions as F

    src_dir = tmp_path / "inc_src"
    spec_dict = {
        "warehouse_dir": str(tmp_path / "wh"),
        "sources": {"_default": {"format": "parquet", "path": str(src_dir)}},
        "tables": {
            "ev": {"from_table": "ev", "trigger": {"column": "seq"}, "incremental": True}
        },
    }
    v1 = spark.range(0, 100).select(F.col("id").alias("seq"), (F.col("id") * 2).alias("v"))
    v1.write.mode("overwrite").parquet(str(src_dir / "ev.parquet"))
    engine = CopyEngine(spark, load_spec(spec_dict))
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK
    assert engine.sql("SELECT COUNT(*) AS n FROM ev").collect()[0]["n"] == 100

    # unchanged source -> exit 2, nothing recopied
    assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_NO_NEW_DATA

    # source gains rows 100..119 (and REWRITES old rows with garbage values —
    # incremental mode must NOT pick those up: only seq > watermark)
    v2 = spark.range(0, 120).select(
        F.col("id").alias("seq"),
        (F.when(F.col("id") < 100, -999).otherwise(F.col("id") * 2)).alias("v"),
    )
    v2.write.mode("overwrite").parquet(str(src_dir / "ev.parquet"))
    assert engine.run(load_date=datetime(2024, 1, 3)) == EXIT_OK
    out = engine.sql("SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s FROM ev").collect()[0]
    assert out["n"] == 120
    # old rows kept from the snapshot (sum of 2*i for i<100), new rows appended
    assert out["s"] == sum(2 * i for i in range(120))


def test_cli_schema_evolution_incremental_flow(spark, tmp_path, capsys):
    """The reference's real operating mode, end-to-end through the CLI:
    repeated runs of ``python -m mssql2monetdb_spark -c spec.json`` over a
    changing source — exit 0 (first load), exit 2 (trigger unchanged),
    then a source schema evolution + delta append picked up in one run,
    with the published view widened to the evolved schema."""
    import json

    import pyspark.sql.functions as F

    from mssql2monetdb_spark.cli import main

    src_dir = tmp_path / "src"
    cfg_path = tmp_path / "spec.json"
    cfg_path.write_text(
        json.dumps(
            {
                "warehouse_dir": str(tmp_path / "wh"),
                "sources": {"_default": {"format": "parquet", "path": str(src_dir)}},
                "tables": {
                    "ev": {
                        "from_table": "ev",
                        "trigger": {"column": "seq"},
                        "incremental": True,
                    }
                },
            }
        )
    )

    v1 = spark.range(0, 100).select(F.col("id").alias("seq"), (F.col("id") * 2).alias("v"))
    v1.write.mode("overwrite").parquet(str(src_dir / "ev.parquet"))
    assert main(["-c", str(cfg_path)]) == EXIT_OK
    # unchanged max(seq) -> exit 2, the scheduled-run skip path
    assert main(["-c", str(cfg_path)]) == EXIT_NO_NEW_DATA

    # the source evolves: new column w, plus 20 rows past the watermark
    v2 = spark.range(0, 120).select(
        F.col("id").alias("seq"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") + 1000).alias("w"),
    )
    v2.write.mode("overwrite").parquet(str(src_dir / "ev.parquet"))
    assert main(["-c", str(cfg_path)]) == EXIT_OK

    # --query reads the published view; exit 2 because nothing new remains
    capsys.readouterr()
    code = main(
        [
            "-c",
            str(cfg_path),
            "--query",
            "SELECT COUNT(*) AS n, COUNT(w) AS n_w, CAST(SUM(w) AS BIGINT) AS s_w FROM ev",
        ]
    )
    assert code == EXIT_NO_NEW_DATA
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # snapshot rows carried over, delta appended, schema evolved: the 100
    # pre-evolution rows hold NULL w, the 20 delta rows carry real values
    assert row == {"n": 120, "n_w": 20, "s_w": sum(i + 1000 for i in range(100, 120))}


def test_per_job_watermark_state_isolated(spark, tmp_path):
    """two triggered jobs must keep independent watermark state."""
    spec = make_spec(
        tmp_path,
        tables={
            "a": {"from_table": "events", "to_table": "ev_a", "trigger": {"column": "event_id"}},
            "b": {"from_table": "orders", "to_table": "ord_b", "trigger": {"column": "o_orderkey"}},
        },
    )
    engine = CopyEngine(spark, spec)
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK
    sa = engine.store.load(engine.checksum, "a")
    sb = engine.store.load(engine.checksum, "b")
    assert sa is not None and sb is not None and sa.value != sb.value


def test_time_travel_table_at(spark, tmp_path):
    engine = CopyEngine(spark, make_spec(tmp_path))
    engine.do_copy(load_date=datetime(2024, 1, 1))
    engine.do_copy(load_date=datetime(2024, 1, 2))
    cat = engine.catalog
    cur = cat.table_at(spark, "default", "nation")
    old = cat.table_at(spark, "default", "nation", version="2024_01_01_00_00_00")
    assert cur.count() == old.count() == 25
    with pytest.raises(FileNotFoundError, match="not retained"):
        cat.table_at(spark, "default", "nation", version="1999_01_01_00_00_00")


def test_sort_by_clusters_files(spark, tmp_path):
    """sort_by clusters rows within files -> parquet row-group stats enable
    data skipping on that column."""
    spec = make_spec(
        tmp_path, tables={"j": {"from_table": "orders", "sort_by": ["o_totalprice"]}}
    )
    engine = CopyEngine(spark, spec)
    engine.do_copy(load_date=datetime(2024, 1, 1))
    version_dir = engine.catalog.version_dir(
        "default", engine.catalog.current_version("default", "orders")
    )
    import glob as _glob

    import pyarrow.parquet as pq

    for f in _glob.glob(version_dir + "/part-*.parquet"):
        vals = pq.read_table(f, columns=["o_totalprice"])["o_totalprice"].to_pylist()
        assert vals == sorted(vals)


def test_partition_by_enables_pruning(spark, tmp_path):
    """partition_by writes hive-style dirs; a filter on the partition column
    shows up as partition pruning (not a data filter) in the plan."""
    import contextlib
    import io
    import os

    import pyspark.sql.functions as F

    src_dir = tmp_path / "p_src"
    ev = spark.range(0, 1000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("day_bucket"),
        (F.col("id") * 1.5).alias("value"),
    )
    ev.write.parquet(str(src_dir / "ev.parquet"))
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "sources": {"_default": {"format": "parquet", "path": str(src_dir)}},
            "tables": {"j": {"from_table": "ev", "partition_by": ["day_bucket"]}},
        }
    )
    engine = CopyEngine(spark, spec)
    engine.do_copy(load_date=datetime(2024, 1, 1))
    vdir = engine.catalog.version_dir(
        "default", engine.catalog.current_version("default", "ev")
    )
    assert any(d.startswith("day_bucket=") for d in os.listdir(vdir))

    filtered = engine.sql("SELECT COUNT(*) AS n FROM ev WHERE day_bucket = 3")
    assert filtered.collect()[0]["n"] == len([i for i in range(1000) if i % 7 == 3])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        engine.sql("SELECT * FROM ev WHERE day_bucket = 3").explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "day_bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_json_and_orc_sources(spark, tmp_path):
    for fmt in ("json", "orc"):
        src_dir = tmp_path / f"{fmt}_src"
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
        getattr(df.write, fmt)(str(src_dir / f"t.{fmt}"))
        spec = load_spec(
            {
                "warehouse_dir": str(tmp_path / f"wh_{fmt}"),
                "sources": {"_default": {"format": fmt, "path": str(src_dir)}},
                "tables": {"j": {"from_table": "t", "to_table": f"t_{fmt}"}},
            }
        )
        engine = CopyEngine(spark, spec)
        engine.do_copy(load_date=datetime(2024, 1, 1))
        assert engine.sql(f"SELECT COUNT(*) AS n FROM t_{fmt}").collect()[0]["n"] == 2


def test_reader_survives_concurrent_publish(spark, tmp_path):
    """near-zero-downtime property: a reader holding the OLD version keeps
    working while a new version is published (files are immutable; retention
    keeps current+backup, so the old files still exist)."""
    engine = CopyEngine(spark, make_spec(tmp_path))
    engine.do_copy(load_date=datetime(2024, 1, 1))
    old_reader = engine.catalog.table_at(spark, "default", "nation")  # pin v1
    engine.do_copy(load_date=datetime(2024, 1, 2))  # publish v2
    # old plan still collectable after the switch
    assert old_reader.count() == 25
    # and the public view serves the new version
    assert (
        engine.catalog.current_version("default", "nation")
        == "nation_2024_01_02_00_00_00"
    )


def test_same_load_date_is_idempotent(spark, tmp_path):
    """re-running with the same load date overwrites the same version —
    crash-retry of a run cannot produce duplicate versions."""
    engine = CopyEngine(spark, make_spec(tmp_path))
    p1 = engine.do_copy(load_date=datetime(2024, 1, 1))
    p2 = engine.do_copy(load_date=datetime(2024, 1, 1))
    assert p1 == p2
    assert engine.catalog.table_versions("default", "nation") == [
        "nation_2024_01_01_00_00_00"
    ]
    assert engine.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"] == 25


def test_compact_shrinks_files_and_republishes(spark, tmp_path):
    """Compaction rewrites a fragmented published version into few files as
    a NEW version (atomic swap; the fragmented one stays until retention),
    preserving rows exactly."""
    import glob

    catalog = VersionedCatalog(str(tmp_path))
    df = spark.range(0, 10_000).withColumnRenamed("id", "k").repartition(32)
    v1 = catalog.write_version(df, "main", "t", datetime(2024, 1, 1, 0, 0, 0))
    catalog.publish(spark, "main", "t", v1)
    files_before = glob.glob(f"{catalog.version_dir('main', v1)}/part-*")
    assert len(files_before) > 4

    v2 = catalog.compact(
        spark, "main", "t", datetime(2024, 1, 1, 0, 0, 1), target_files=2, sort_by=["k"]
    )
    assert v2 != v1
    assert catalog.current_version("main", "t") == v2
    files_after = glob.glob(f"{catalog.version_dir('main', v2)}/part-*")
    assert len(files_after) == 2
    got = catalog.table_at(spark, "main", "t")
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).first()[0] == sum(range(10_000))
    # the fragmented version survives for time travel until cleanup
    assert v1 in catalog.table_versions("main", "t")


def test_incremental_same_second_tick_does_not_overwrite_snapshot(spark, tmp_path):
    """An INCREMENTAL tick whose load_date collides with the published
    version's name (1-second date granularity, rapid successive runs)
    must not overwrite the directory its own snapshot+delta plan is
    lazily reading — do_copy bumps the date past the name being read.
    Full-reload reruns keep the overwrite/idempotent contract
    (test_same_load_date_is_idempotent)."""
    from datetime import datetime

    from mssql2monetdb_spark.config.spec import CopyJob, JobSpec, SourceSpec
    from mssql2monetdb_spark.engine.copy import CopyEngine

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.range(10).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.parquet(
        str(src_dir / "t.parquet")
    )
    spec = JobSpec(
        sources={"s": SourceSpec(name="s", format="parquet", path=str(src_dir))},
        jobs={
            "j": CopyJob(
                job_id="j",
                source="s",
                from_table="t",
                to_table="t_sync",
                trigger_column="k",
                incremental=True,
            )
        },
        warehouse_dir=str(tmp_path / "wh"),
        state_dir=str(tmp_path / "state"),
    )
    engine = CopyEngine(spark, spec)
    d = datetime(2024, 6, 1)
    engine.do_copy(load_date=d)  # full load, watermark persisted

    spark.range(10, 15).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir / "t.parquet"))
    engine.do_copy(load_date=d)  # same second: snapshot reads the published dir

    versions = engine.catalog.table_versions("default", "t_sync")
    assert len(versions) == 2, f"incremental tick reused the snapshot's name: {versions}"
    assert engine.catalog.table_at(spark, "default", "t_sync").count() == 15

    # third same-second tick: must bump past EVERY retained name (not
    # just the current one) — landing back on tick 1's name would
    # destroy the backup and publish a name that sorts below tick 2's,
    # leaving newest_version pointing at stale data
    spark.range(15, 20).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir / "t.parquet"))
    engine.do_copy(load_date=d)
    cat = engine.catalog
    assert cat.newest_version("default", "t_sync") == cat.current_version(
        "default", "t_sync"
    ), "a same-second tick published a name sorting below a retained one"
    assert cat.table_at(spark, "default", "t_sync").count() == 20


def test_incremental_crash_retry_reclaims_unpublished_corpse(spark, tmp_path):
    """A tick that crashes BETWEEN write_version and publish leaves a
    half-written version dir in the listing. The same-load_date retry must
    RECLAIM that name (it was never published — manifest physical/previous
    don't include it), not bump past it: bumping would let keep-2 retention
    count the corpse as the backup and reap the last good version, so
    time-travel/rollback lands on garbage."""
    import glob
    import os
    from datetime import datetime

    from mssql2monetdb_spark.config.spec import CopyJob, JobSpec, SourceSpec
    from mssql2monetdb_spark.engine.copy import CopyEngine

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.range(10).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.parquet(
        str(src_dir / "t.parquet")
    )
    spec = JobSpec(
        sources={"s": SourceSpec(name="s", format="parquet", path=str(src_dir))},
        jobs={
            "j": CopyJob(
                job_id="j",
                source="s",
                from_table="t",
                to_table="t_sync",
                trigger_column="k",
                incremental=True,
            )
        },
        warehouse_dir=str(tmp_path / "wh"),
        state_dir=str(tmp_path / "state"),
    )
    engine = CopyEngine(spark, spec)
    d = datetime(2024, 6, 1)
    engine.do_copy(load_date=d)  # full load -> V0 published
    v0 = engine.catalog.current_version("default", "t_sync")

    # incremental same-second tick that crashes after write, before publish
    spark.range(10, 15).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir / "t.parquet"))
    real_publish = engine.catalog.publish

    def crash_publish(*a, **kw):
        raise RuntimeError("simulated crash between write and publish")

    engine.catalog.publish = crash_publish
    try:
        engine.do_copy(load_date=d)
    except RuntimeError:
        pass
    engine.catalog.publish = real_publish

    versions = engine.catalog.table_versions("default", "t_sync")
    assert len(versions) == 2 and engine.catalog.current_version(
        "default", "t_sync"
    ) == v0, "precondition: corpse retained, manifest still on V0"
    corpse = next(v for v in versions if v != v0)
    # make the corpse visibly half-written: drop its data files
    for f in glob.glob(f"{engine.catalog.version_dir('default', corpse)}/part-*"):
        os.remove(f)

    # retry of the SAME tick (watermark state was never persisted, so the
    # delta re-extracts): must land on the corpse's name, overwriting it
    engine.do_copy(load_date=d)
    cat = engine.catalog
    assert cat.current_version("default", "t_sync") == corpse, (
        "retry bumped past the unpublished corpse instead of reclaiming it"
    )
    assert sorted(cat.table_versions("default", "t_sync")) == sorted([v0, corpse])
    assert cat.manifest_info("default", "t_sync").get("previous") == v0
    assert cat.table_at(spark, "default", "t_sync").count() == 15
    # the keep-2 rollback window holds the last GOOD version, readable
    from mssql2monetdb_spark.engine.publish import version_of

    assert cat.table_at(spark, "default", "t_sync", version_of(v0)).count() == 10

    # a further same-second tick bumps past BOTH published-lineage names
    spark.range(15, 20).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir / "t.parquet"))
    engine.do_copy(load_date=d)
    assert cat.newest_version("default", "t_sync") == cat.current_version(
        "default", "t_sync"
    )
    assert cat.table_at(spark, "default", "t_sync").count() == 20


def test_versioned_catalog_on_hadoop_fs(spark, tmp_path):
    """The catalog's full publish protocol through the HadoopFS store
    interface (round-10 verdict item 5) — exercised against the Hadoop
    local filesystem (file:// URIs), the same code path as HDFS/S3A:
    write -> atomic manifest publish -> read-back, incremental carry (no
    hard links on Hadoop stores -> degrades to copies), retention, drop."""
    from datetime import datetime

    from mssql2monetdb_spark.engine.fs import HadoopFS
    from mssql2monetdb_spark.engine.publish import VersionedCatalog

    wh_uri = f"file://{tmp_path}/hwh"
    cat = VersionedCatalog(wh_uri, fs=HadoopFS(spark, wh_uri))

    df1 = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "k bigint, s string, b int")
    p1 = cat.write_version(df1, "default", "t", datetime(2024, 6, 1), partition_by=["b"])
    cat.publish(spark, "default", "t", p1)
    assert cat.current_version("default", "t") == p1
    assert cat.table_at(spark, "default", "t").count() == 2

    # unpartitioned write: the _SCHEMA.json sidecar goes through the store
    # (a POSIX open() of a file:// URI would fail) and the read uses it
    from mssql2monetdb_spark.engine.publish import SCHEMA_FILE

    pu = cat.write_version(df1, "default", "u", datetime(2024, 6, 1))
    sidecar = f"{cat.version_dir('default', pu)}/{SCHEMA_FILE}"
    assert cat.fs.exists(sidecar)
    assert cat.fs.read_text(sidecar) == df1.schema.json()
    cat.publish(spark, "default", "u", pu)
    assert sorted(cat.table_at(spark, "default", "u").collect()) == sorted(df1.collect())
    cat.drop_table(spark, "default", "u")

    # incremental carry: HadoopFS.link raises -> copies
    df2 = spark.createDataFrame([(3, "c", 1)], "k bigint, s string, b int")
    p2 = cat.write_version_incremental(
        df2, "default", "t", datetime(2024, 6, 2), partition_col="b", base_physical=p1
    )
    cat.publish(spark, "default", "t", p2)
    got = {(r["k"], r["s"], r["b"]) for r in cat.table_at(spark, "default", "t").collect()}
    assert got == {(1, "a", 0), (3, "c", 1)}  # b=0 carried, b=1 rewritten

    # a second carry, from a version that was itself carried by copy
    df3 = spark.createDataFrame([(4, "d", 1)], "k bigint, s string, b int")
    p3 = cat.write_version_incremental(
        df3, "default", "t", datetime(2024, 6, 3), partition_col="b", base_physical=p2
    )
    cat.publish(spark, "default", "t", p3)
    got = {(r["k"], r["s"], r["b"]) for r in cat.table_at(spark, "default", "t").collect()}
    assert got == {(1, "a", 0), (4, "d", 1)}

    # retention: p1 is past keep-2 and every retained version owns its
    # files (copies), so p1 is reaped and the current version still reads
    dropped = cat.cleanup("default", "t")
    assert p1 in dropped
    assert cat.table_versions("default", "t") == [p3, p2]
    got = {(r["k"], r["s"], r["b"]) for r in cat.table_at(spark, "default", "t").collect()}
    assert got == {(1, "a", 0), (4, "d", 1)}

    cat.drop_table(spark, "default", "t")
    assert not cat.exists("default", "t")


def test_carry_by_reference_versions_are_refused(spark, tmp_path):
    """A version in the carry-by-reference format older releases wrote
    holds only the partitions it rewrote, plus a _CARRIED.json naming the
    versions that hold the rest. Reading it, or carrying from it, must
    raise and say to compact it — never read back the owned partitions
    alone (silent row loss)."""
    import json
    import os

    cat = VersionedCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "k bigint, s string, b int")
    old = cat.write_version(df, "default", "t", datetime(2024, 6, 1), partition_by=["b"])
    base = cat.write_version(
        df.filter("b = 1"), "default", "t", datetime(2024, 6, 2), partition_by=["b"]
    )
    with open(os.path.join(cat.version_dir("default", base), "_CARRIED.json"), "w") as fh:
        json.dump({"partition_col": "b", "refs": {"b=0": {"version": old, "files": []}}}, fh)
    cat.publish(spark, "default", "t", old)

    with pytest.raises(RuntimeError, match=f"{base}.*compact"):
        cat.read_version(spark, "default", base)
    with pytest.raises(RuntimeError, match=f"{base}.*compact"):
        cat.write_version_incremental(
            df.filter("b = 1"), "default", "t", datetime(2024, 6, 3),
            partition_col="b", base_physical=base,
        )
    # the refused carry wrote nothing
    assert cat.table_versions("default", "t") == [base, old]


def test_hadoop_fs_write_atomic_falls_back_without_abstract_fs(spark, tmp_path):
    """ADVICE r10: schemes without an AbstractFileSystem binding (S3A's
    fs.AbstractFileSystem.s3a.impl is not in core-default) throw from the
    FileContext rename even though the FileSystem API works — the manifest
    swap must degrade to FileSystem delete+rename instead of failing the
    publish."""
    from mssql2monetdb_spark.engine.fs import HadoopFS

    uri = f"file://{tmp_path}/fbfs"
    hfs = HadoopFS(spark, uri)
    hfs.makedirs(uri)

    class _NS:
        def __init__(self, **kw):
            self.__dict__.update(kw)

    class _BoomFC:
        @staticmethod
        def getFileContext(*a):
            raise Exception(
                "UnsupportedFileSystemException: No AbstractFileSystem for scheme: s3a"
            )

    real_jvm = hfs._jvm
    hfs._jvm = _NS(org=_NS(apache=_NS(hadoop=_NS(fs=_NS(FileContext=_BoomFC)))))
    try:
        hfs.write_atomic(f"{uri}/m.json", '{"v": 1}')
        hfs.write_atomic(f"{uri}/m.json", '{"v": 2}')  # overwrite path too
    finally:
        hfs._jvm = real_jvm
    assert hfs.read_text(f"{uri}/m.json") == '{"v": 2}'
    assert not hfs.exists(f"{uri}/m.json.tmp")


def _append_rows(spark, path, lo, hi):
    spark.range(lo, hi).selectExpr("id AS seq", "id * 2 AS v").write.mode("append").parquet(path)


def test_rows_landing_after_the_probe_load_once(spark, tmp_path, monkeypatch):
    """Rows appended between the trigger probe and the extract belong to
    the NEXT tick: this tick saves the probe as its watermark, so loading
    them now would load them again next tick (duplicate rows)."""
    src = str(tmp_path / "src" / "ev.parquet")
    _append_rows(spark, src, 0, 10)
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"_default": {"format": "parquet", "path": str(tmp_path / "src")}},
            "tables": {"ev": {"from_table": "ev", "trigger": {"column": "seq"}, "incremental": True}},
        }
    )
    engine = CopyEngine(spark, spec)
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK

    _append_rows(spark, src, 10, 15)
    probe_only = engine.check_for_new_data

    def probe_then_append(*args, **kwargs):
        probes = probe_only(*args, **kwargs)
        _append_rows(spark, src, 15, 20)  # lands after the probe
        return probes

    monkeypatch.setattr(engine, "check_for_new_data", probe_then_append)
    assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_OK
    assert engine.sql("SELECT COUNT(*) AS n FROM ev").collect()[0]["n"] == 15
    monkeypatch.undo()
    assert engine.run(load_date=datetime(2024, 1, 3)) == EXIT_OK
    row = engine.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT seq) AS k FROM ev").collect()[0]
    assert (row["n"], row["k"]) == (20, 20)


def test_jdbc_rows_landing_after_the_probe_load_once(spark, tmp_path, monkeypatch):
    """The same race on a JDBC source, which has no file listing to pin:
    the delta is bounded above by the probe."""
    from mssql2monetdb_spark.sources.jdbc import driver_connection

    options = {
        "url": f"jdbc:derby:{tmp_path}/evdb;create=true",
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
    }

    def insert(lo, hi):
        conn = driver_connection(spark, options)
        try:
            st = conn.createStatement()
            st.execute(
                'INSERT INTO ev ("seq", "v") VALUES '
                + ", ".join(f"({i}, {2 * i})" for i in range(lo, hi))
            )
            st.close()
        finally:
            conn.close()

    conn = driver_connection(spark, options)
    try:
        st = conn.createStatement()
        st.execute('CREATE TABLE ev ("seq" BIGINT, "v" BIGINT)')
        st.close()
    finally:
        conn.close()
    insert(0, 10)
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"derby": {"format": "jdbc", "options": options}},
            "tables": {
                "ev": {
                    "source": "derby",
                    "from_table": "ev",
                    "trigger": {"column": "seq"},
                    "incremental": True,
                }
            },
        }
    )
    engine = CopyEngine(spark, spec)
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK

    insert(10, 15)
    probe_only = engine.check_for_new_data

    def probe_then_insert(*args, **kwargs):
        probes = probe_only(*args, **kwargs)
        insert(15, 20)  # committed after the probe
        return probes

    monkeypatch.setattr(engine, "check_for_new_data", probe_then_insert)
    assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_OK
    assert engine.sql("SELECT COUNT(*) AS n FROM ev").collect()[0]["n"] == 15
    monkeypatch.undo()
    assert engine.run(load_date=datetime(2024, 1, 3)) == EXIT_OK
    row = engine.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT seq) AS k FROM ev").collect()[0]
    assert (row["n"], row["k"]) == (20, 20)


def _typed_frame(spark):
    """Every column kind the schema sidecar must round-trip: a
    non-nullable key, decimal, timestamp, struct, array, map and a column
    carrying field metadata."""
    import pyspark.sql.functions as F

    return spark.range(0, 40, numPartitions=4).select(
        "id",
        F.col("id").cast("decimal(18,2)").alias("amount"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        (F.col("id") % 3).alias("grp", metadata={"comment": "bucket"}),
    )


def test_recorded_schema_matches_inference(spark, tmp_path):
    """``read_version`` with the ``_SCHEMA.json`` sidecar must give exactly
    the schema (and rows) that footer inference gives, for plain, sorted and
    z-ordered writes; a version without the sidecar still reads; a
    partitioned write records the schema its read returns."""
    import os

    from mssql2monetdb_spark.engine.publish import SCHEMA_FILE
    from mssql2monetdb_spark.engine.zorder import ZCol, cluster_by_zorder

    cat = VersionedCatalog(str(tmp_path / "wh"))
    df = _typed_frame(spark)
    want_rows = sorted(df.collect())
    zordered = cluster_by_zorder(df, [ZCol("id", 0, 39)], num_files=2)
    writes = {
        "plain": cat.write_version(df, "default", "plain", datetime(2024, 1, 1)),
        "sorted": cat.write_version(df, "default", "srt", datetime(2024, 1, 1), sort_by=["grp", "id"]),
        "zorder": cat.write_version(zordered, "default", "zo", datetime(2024, 1, 1)),
    }
    for kind, physical in writes.items():
        d = cat.version_dir("default", physical)
        assert os.path.exists(os.path.join(d, SCHEMA_FILE)), kind
        inferred = spark.read.parquet(d).schema
        got = cat.read_version(spark, "default", physical)
        assert got.schema == inferred, kind
        assert got.schema["grp"].metadata == {"comment": "bucket"}, kind
        assert sorted(got.collect()) == want_rows, kind

    # no sidecar (older code, or a crash before the schema write): inference
    d = cat.version_dir("default", writes["plain"])
    os.remove(os.path.join(d, SCHEMA_FILE))
    got = cat.read_version(spark, "default", writes["plain"])
    assert got.schema == spark.read.parquet(d).schema
    assert sorted(got.collect()) == want_rows

    part = cat.write_version(df, "default", "part", datetime(2024, 1, 1), partition_by=["grp"])
    d = cat.version_dir("default", part)
    got = cat.read_version(spark, "default", part)
    with open(os.path.join(d, SCHEMA_FILE)) as fh:
        assert fh.read() == got.schema.json()
    assert got.columns == [c for c in df.columns if c != "grp"] + ["grp"]
    assert got.count() == 40


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_resolution_saving_in_spark_jobs_and_reads(spark, tmp_path, monkeypatch):
    """Pins the saving as counts: reading a version with a recorded schema
    starts no Spark job, and one copy run resolves each source path once
    across the trigger probe, the extracts, query-mode view registration
    and the count_query's re-registration."""
    import collections
    import os
    import uuid

    from pyspark.sql.readwriter import DataFrameReader

    from mssql2monetdb_spark.engine.publish import SCHEMA_FILE

    cat = VersionedCatalog(str(tmp_path / "cat"))
    physical = cat.write_version(_typed_frame(spark), "default", "t", datetime(2024, 1, 1))
    read = lambda: cat.read_version(spark, "default", physical)  # noqa: E731
    assert _jobs_in_group(spark, f"recorded-{uuid.uuid4()}", read) == []
    os.remove(os.path.join(cat.version_dir("default", physical), SCHEMA_FILE))
    assert len(_jobs_in_group(spark, f"inferred-{uuid.uuid4()}", read)) >= 1

    src = tmp_path / "src"
    spark.range(0, 30).selectExpr("id AS k", "id % 5 AS g").write.parquet(str(src / "t.parquet"))
    spark.range(0, 5).selectExpr("id AS g", "CAST(id AS STRING) AS name").write.parquet(
        str(src / "u.parquet")
    )
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"_default": {"format": "parquet", "path": str(src)}},
            "tables": {
                "t_job": {"from_table": "t", "trigger": {"column": "k"}},
                "q_job": {
                    "from_table": None,
                    "from_query": "SELECT u.name, COUNT(*) AS n FROM t JOIN u ON t.g = u.g GROUP BY u.name",
                    "count_query": "SELECT COUNT(DISTINCT g) FROM t",
                    "to_table": "by_name",
                },
            },
        }
    )
    calls = collections.Counter()
    real_parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **options):
        calls.update(p for p in paths if p.startswith(str(src)))
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    engine = CopyEngine(spark, spec)
    engine.do_copy(load_date=datetime(2024, 1, 1))
    assert calls == {str(src / "t.parquet"): 1, str(src / "u.parquet"): 1}
    assert engine.sql("SELECT SUM(n) AS s FROM by_name").collect()[0]["s"] == 30


@pytest.mark.parametrize("store", ["parquet", "derby"])
def test_failed_publish_saves_no_watermark_on_either_store(spark, tmp_path, store):
    """One driver serves both stores: a triggered run whose publish raises
    exits 1 and saves no watermark, the rerun exits 0 and publishes, and the
    next tick without new rows exits 2."""
    src_dir = tmp_path / "src"
    spark.range(10).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.parquet(
        str(src_dir / "t.parquet")
    )
    raw = {
        "warehouse_dir": str(tmp_path / "wh"),
        "state_dir": str(tmp_path / "state"),
        "sources": {"s": {"format": "parquet", "path": str(src_dir)}},
        "tables": {
            "j": {"source": "s", "from_table": "t", "to_table": "t_sync", "trigger": {"column": "k"}}
        },
    }
    if store == "derby":
        raw["sink"] = {
            "format": "jdbc",
            "options": {
                "url": f"jdbc:derby:{tmp_path}/sinkdb;create=true",
                "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            },
        }
    engine = CopyEngine(spark, load_spec(raw))
    catalog = engine.catalog if store == "parquet" else engine.warehouse

    def crash_publish(*a, **kw):
        raise RuntimeError("simulated crash before publish")

    d = datetime(2024, 6, 1)
    catalog.publish = crash_publish
    assert engine.run(load_date=d) == EXIT_ERROR
    assert engine.store.load(engine.checksum, "j") is None
    del catalog.publish

    assert engine.run(load_date=d) == EXIT_OK
    assert engine.store.load(engine.checksum, "j").value == 9
    current = (
        engine.catalog.current_version("default", "t_sync")
        if store == "parquet"
        else engine.warehouse.current_version("t_sync")
    )
    assert current.lower() == physical_name("t_sync", d)
    assert engine.table("t_sync").count() == 10

    assert engine.run(load_date=datetime(2024, 6, 2)) == EXIT_NO_NEW_DATA


def _polled_engine(spark, tmp_path, extra_tables=None):
    """Two triggered incremental parquet tables, ``a`` (20 rows) and ``b``
    (10 rows), plus ``extra_tables``, after their first load."""
    src = tmp_path / "src"
    _append_rows(spark, str(src / "a.parquet"), 0, 20)
    _append_rows(spark, str(src / "b.parquet"), 0, 10)
    tables = {
        t: {"from_table": t, "trigger": {"column": "seq"}, "incremental": True} for t in "ab"
    }
    tables.update(extra_tables or {})
    engine = CopyEngine(
        spark,
        load_spec(
            {
                "warehouse_dir": str(tmp_path / "wh"),
                "state_dir": str(tmp_path / "state"),
                "sources": {"_default": {"format": "parquet", "path": str(src)}},
                "tables": tables,
            }
        ),
    )
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK
    return engine, src


def _version_files(cat, table):
    """Every retained version of ``table`` with its files' identities."""
    import os

    out = {}
    for physical in cat.table_versions("default", table):
        d = cat.version_dir("default", physical)
        stats = {f: os.stat(os.path.join(d, f)) for f in os.listdir(d)}
        out[physical] = {(f, st.st_ino, st.st_mtime_ns) for f, st in stats.items()}
    return out


def test_idle_tick_starts_no_spark_job(spark, tmp_path):
    """Both trigger probes come from the parquet footers: a tick that finds
    nothing new exits 2 without a single Spark job."""
    import uuid

    engine, _ = _polled_engine(spark, tmp_path)
    codes = []
    jobs = _jobs_in_group(
        spark,
        f"idle-{uuid.uuid4()}",
        lambda: codes.append(engine.run(load_date=datetime(2024, 1, 2))),
    )
    assert codes == [EXIT_NO_NEW_DATA]
    assert jobs == []


def test_fresh_tick_leaves_the_unchanged_table_alone(spark, tmp_path):
    """Rows appended to ``a`` reload ``a`` only: ``b`` keeps its published
    physical name, its retained versions and their very files, and both
    published tables hold the right rows."""
    engine, src = _polled_engine(spark, tmp_path)
    cat = engine.catalog
    b_current = cat.current_version("default", "b")
    b_files = _version_files(cat, "b")
    a_current = cat.current_version("default", "a")

    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    d = datetime(2024, 1, 2)
    published = engine.do_copy(load_date=d)
    assert published == {"a": physical_name("a", d), "b": b_current}
    assert cat.current_version("default", "b") == b_current
    assert _version_files(cat, "b") == b_files
    assert sorted(cat.table_versions("default", "a")) == sorted([a_current, physical_name("a", d)])
    for table, n in (("a", 25), ("b", 10)):
        row = engine.sql(f"SELECT COUNT(*) AS n, COUNT(DISTINCT seq) AS k, SUM(v) AS s FROM {table}").collect()[0]
        assert (row["n"], row["k"], row["s"]) == (n, n, sum(2 * i for i in range(n))), table
    assert engine.store.load(engine.checksum, "a").value == 24
    assert engine.store.load(engine.checksum, "b").value == 9
    # b's unchanged probe does not count as new data on the next tick
    assert engine.run(load_date=datetime(2024, 1, 3)) == EXIT_NO_NEW_DATA


def test_drop_and_full_copy_jobs_reload_when_another_trigger_fires(spark, tmp_path):
    """Only an incremental job without ``drop`` is skipped: a ``drop=True``
    incremental job and a non-incremental triggered job (a full copy, the
    way deletes reach the warehouse) reload whenever any trigger fires."""
    src = tmp_path / "src"
    _append_rows(spark, str(src / "c.parquet"), 0, 6)
    _append_rows(spark, str(src / "f.parquet"), 0, 8)
    engine, _ = _polled_engine(
        spark,
        tmp_path,
        {
            "c": {"from_table": "c", "trigger": {"column": "seq"}, "incremental": True, "drop": True},
            "f": {"from_table": "f", "trigger": {"column": "seq"}},
        },
    )
    _append_rows(spark, str(src / "a.parquet"), 20, 22)
    d = datetime(2024, 1, 2)
    published = engine.do_copy(load_date=d)
    for table in "acf":
        assert published[table] == physical_name(table, d), table
        assert engine.catalog.current_version("default", table) == physical_name(table, d)
    assert published["b"] == physical_name("b", datetime(2024, 1, 1))
    counts = {t: engine.sql(f"SELECT COUNT(*) AS n FROM {t}").collect()[0]["n"] for t in "abcf"}
    assert counts == {"a": 22, "b": 10, "c": 6, "f": 8}


def test_csv_trigger_probe_says_why_it_scans(spark, tmp_path, caplog):
    """A source whose files carry no statistics is probed by Spark, and the
    run logs the reason once for the job."""
    from mssql2monetdb_spark.sources.readers import write_csv_compat

    src_dir = tmp_path / "csv_src"
    write_csv_compat(spark.range(5).selectExpr("id AS seq"), str(src_dir / "t.csv"))
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "state_dir": str(tmp_path / "state"),
            "sources": {"_default": {"format": "csv", "path": str(src_dir)}},
            "tables": {"j": {"from_table": "t", "trigger": {"column": "seq"}}},
        }
    )
    engine = CopyEngine(spark, spec)
    with caplog.at_level("INFO", logger="mssql2monetdb_spark.engine.copy"):
        assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK
    reasons = [r.getMessage() for r in caplog.records if "scans with Spark" in r.getMessage()]
    assert reasons == ["trigger probe for j scans with Spark: csv files carry no column statistics"]
    assert engine.store.load(engine.checksum, "j").value == 4


def test_one_state_read_per_triggered_job(spark, tmp_path, monkeypatch):
    """A run reads each triggered job's persisted state once: the trigger
    decision, the unchanged-job skip and the delta filter share it."""
    from mssql2monetdb_spark.engine.watermark import WatermarkStore

    engine, src = _polled_engine(spark, tmp_path)
    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    reads = []
    real_load = WatermarkStore.load

    def counting_load(self, checksum, job_id=""):
        reads.append(job_id)
        return real_load(self, checksum, job_id)

    monkeypatch.setattr(WatermarkStore, "load", counting_load)
    engine.do_copy(load_date=datetime(2024, 1, 2))
    monkeypatch.undo()
    assert sorted(reads) == ["a", "b"]
    counts = {t: engine.sql(f"SELECT COUNT(DISTINCT seq) AS n FROM {t}").collect()[0]["n"] for t in "ab"}
    assert counts == {"a": 25, "b": 10}


def test_incremental_tick_dated_before_the_published_version_sorts_after_it(spark, tmp_path):
    """A tick whose load_date is older than the published version (a clock
    step back, a replayed schedule) names its version one second after the
    published one, so newest_version — and switch_only — serve the new
    rows."""
    engine, src = _polled_engine(spark, tmp_path)  # published at 2024-01-01
    cat = engine.catalog
    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    engine.do_copy(load_date=datetime(2023, 12, 31))
    expected = physical_name("a", datetime(2024, 1, 1, 0, 0, 1))
    assert cat.current_version("default", "a") == expected
    assert cat.newest_version("default", "a") == expected
    engine.do_copy(switch_only=True)
    row = engine.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT seq) AS k, SUM(v) AS s FROM a").collect()[0]
    assert (row["n"], row["k"], row["s"]) == (25, 25, sum(2 * i for i in range(25)))


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_idle_tick_probes_the_trigger_source(spark, tmp_path, fmt):
    """The trigger table lives only on ``trigger.source``: the probe reads
    it there (from the footers, or with Spark for CSV), so a tick with no
    new trigger rows exits 2 instead of failing open."""
    from mssql2monetdb_spark.sources.readers import write_csv_compat

    _append_rows(spark, str(tmp_path / "src" / "t.parquet"), 0, 10)
    ctl = tmp_path / "ctl"
    marks = spark.range(3).selectExpr("id AS seq")
    if fmt == "csv":
        write_csv_compat(marks, str(ctl / "marks.csv"))
    else:
        marks.write.parquet(str(ctl / "marks.parquet"))
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "state_dir": str(tmp_path / "state"),
            "sources": {
                "_default": {"format": "parquet", "path": str(tmp_path / "src")},
                "ctl": {"format": fmt, "path": str(ctl)},
            },
            "tables": {"j": {"from_table": "t", "trigger": {"table": "marks", "column": "seq", "source": "ctl"}}},
        }
    )
    engine = CopyEngine(spark, spec)
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK
    assert engine.store.load(engine.checksum, "j").value == 2
    assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_NO_NEW_DATA


# -- append-only incremental versions ------------------------------------------


def _rows(spark, cat, table, version=None):
    """The rows of a retained version (default: the published one), sorted
    with NULLs last."""
    df = cat.table_at(spark, "default", table, version)
    return sorted(df.collect(), key=lambda r: tuple((v is None, v) for v in r))


def _data_nlinks(cat, table, physical=None):
    """{path: st_nlink} of every data file of a version (default: the
    published one), partition directories included."""
    import os

    physical = physical or cat.current_version("default", table)
    d = cat.version_dir("default", physical)
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_nlink
        for root, _dirs, files in os.walk(d)
        for f in files
        if not f.startswith(("_", "."))
    }


def _schema_bytes(cat, table):
    import os

    from mssql2monetdb_spark.engine.publish import SCHEMA_FILE

    d = cat.version_dir("default", cat.current_version("default", table))
    with open(os.path.join(d, SCHEMA_FILE), "rb") as fh:
        return fh.read()


def _evolving_source(spark, path, upto, *, with_w=True, null_seq=()):
    """The whole source rewritten: rows 0..upto-1 (``seq``, ``v``, and
    ``w`` carrying field metadata while ``with_w``), with a NULL trigger on
    the ids in ``null_seq``."""
    import pyspark.sql.functions as F

    seq = F.when(F.col("id").isin(list(null_seq)), None).otherwise(F.col("id"))
    cols = [seq.alias("seq"), (F.col("id") * 2).alias("v")]
    if with_w:
        cols.append((F.col("id") + 1000).alias("w", metadata={"comment": "late"}))
    spark.range(0, upto).select(*cols).write.mode("overwrite").parquet(path)


def _incremental_sequence(spark, root):
    """Five loads of one incremental table (an initial load, then four
    ticks); per load, the published rows and ``_SCHEMA.json`` bytes, and
    whether any published data file is a hard link."""
    src = str(root / "src" / "ev.parquet")
    engine = CopyEngine(
        spark,
        load_spec(
            {
                "warehouse_dir": str(root / "wh"),
                "state_dir": str(root / "state"),
                "sources": {"_default": {"format": "parquet", "path": str(root / "src")}},
                "tables": {"ev": {"from_table": "ev", "trigger": {"column": "seq"}, "incremental": True}},
            }
        ),
    )
    steps = [
        dict(upto=100),
        dict(upto=120),
        dict(upto=140, null_seq=(135,)),  # a delta row whose trigger is NULL
        dict(upto=160, with_w=False),  # the delta lacks w: a typed NULL
        dict(upto=180, with_w=False),
    ]
    out = []
    for day, step in enumerate(steps, start=1):
        _evolving_source(spark, src, **step)
        assert engine.run(load_date=datetime(2024, 1, day)) == EXIT_OK
        cat = engine.catalog
        linked = any(n > 1 for n in _data_nlinks(cat, "ev").values())
        out.append((_rows(spark, cat, "ev"), _schema_bytes(cat, "ev"), linked))
    return out


def test_appended_and_rewritten_versions_hold_the_same_rows_and_schema(spark, tmp_path, monkeypatch):
    """The append path publishes, tick by tick, exactly what the full
    snapshot+delta rewrite publishes: the same sorted rows and a
    byte-equal ``_SCHEMA.json`` — through a NULL-trigger row and a delta
    that lacks a published column carrying field metadata."""
    from mssql2monetdb_spark.engine import publish

    appended = _incremental_sequence(spark, tmp_path / "append")
    monkeypatch.setattr(publish, "APPEND_MAX_FILES", 0)  # every tick rewrites
    rewritten = _incremental_sequence(spark, tmp_path / "full")
    assert [linked for *_, linked in appended] == [False, True, True, True, True]
    assert not any(linked for *_, linked in rewritten)
    for tick, ((rows_a, schema_a, _), (rows_f, schema_f, _)) in enumerate(zip(appended, rewritten)):
        assert rows_a == rows_f, tick
        assert schema_a == schema_f, tick
    rows = appended[-1][0]
    assert len(rows) == 179  # 100 initial + 4 x 20 delta rows; the NULL-seq row stays out
    assert sum(r["w"] is not None for r in rows) == 139
    assert '"comment":"late"' in appended[-1][1].decode()


def test_appended_versions_survive_retention(spark, tmp_path):
    """After three appended ticks, cleanup has reaped the version that
    first wrote the linked files, and both retained versions still read
    every row they published."""
    import os

    engine, src = _polled_engine(spark, tmp_path)
    cat = engine.catalog
    first = cat.current_version("default", "a")
    first_inodes = {os.stat(p).st_ino for p in _data_nlinks(cat, "a", first)}
    expected = {}
    for tick, hi in enumerate((23, 26, 29), start=2):
        _append_rows(spark, str(src / "a.parquet"), hi - 3, hi)
        assert engine.run(load_date=datetime(2024, 1, tick)) == EXIT_OK
        expected[cat.current_version("default", "a")] = hi
    retained = cat.table_versions("default", "a")
    assert first not in retained and len(retained) == 2
    current = cat.current_version("default", "a")
    assert first_inodes <= {os.stat(p).st_ino for p in _data_nlinks(cat, "a", current)}
    for physical in retained:
        n = expected[physical]
        got = _rows(spark, cat, "a", version_of(physical))
        assert [(r["seq"], r["v"]) for r in got] == [(i, 2 * i) for i in range(n)], physical


def _write_ids(cat, table, physical=None):
    """The Spark write id of every root data file of a version (default:
    the published one)."""
    import os

    from mssql2monetdb_spark.engine.publish import WRITE_ID_RE

    physical = physical or cat.current_version("default", table)
    names = os.listdir(cat.version_dir("default", physical))
    return [WRITE_ID_RE.match(n).group(1) for n in names if n.startswith("part-")]


def test_append_rewrites_where_the_store_has_no_links(spark, tmp_path, monkeypatch):
    """Where the first link fails (a store without hard links), the append
    copies nothing through the driver: it rewrites the base and the delta
    in one Spark write, and publishes the same rows."""
    from mssql2monetdb_spark.engine.fs import LocalFS

    engine, src = _polled_engine(spark, tmp_path)
    attempts = []

    def no_link(self, s, d):
        attempts.append(s)
        raise OSError("EXDEV: cross-device link (simulated object store)")

    monkeypatch.setattr(LocalFS, "link", no_link)
    copies = []
    monkeypatch.setattr(LocalFS, "copy", lambda self, s, d: copies.append(s))
    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_OK
    assert len(attempts) == 1 and copies == []
    nlinks = _data_nlinks(engine.catalog, "a")
    assert nlinks and set(nlinks.values()) == {1}
    assert len(set(_write_ids(engine.catalog, "a"))) == 1  # one full write
    got = _rows(spark, engine.catalog, "a")
    assert [(r["seq"], r["v"]) for r in got] == [(i, 2 * i) for i in range(25)]


def test_append_copies_the_rest_when_a_later_link_fails(spark, tmp_path, monkeypatch):
    """A link that fails after the first one succeeded switches the rest
    of the carry to byte copies, with the same rows."""
    from mssql2monetdb_spark.engine.fs import LocalFS

    engine, src = _polled_engine(spark, tmp_path)
    cat = engine.catalog
    base_files = len(_data_nlinks(cat, "a"))
    assert base_files >= 2
    real_link = LocalFS.link
    attempts = []

    def first_link_only(self, s, d):
        attempts.append(s)
        if len(attempts) > 1:
            raise OSError("EMLINK: too many links")
        real_link(self, s, d)

    monkeypatch.setattr(LocalFS, "link", first_link_only)
    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_OK
    assert len(attempts) == 2
    nlinks = sorted(_data_nlinks(cat, "a").values())
    assert nlinks.count(2) == 1 and len(nlinks) > base_files  # one link, the rest copies
    got = _rows(spark, cat, "a")
    assert [(r["seq"], r["v"]) for r in got] == [(i, 2 * i) for i in range(25)]


def test_append_on_hadoop_fs_rewrites(spark, tmp_path):
    """On a Hadoop store (no hard links) an append rewrites its base and
    the new rows in one Spark write, records the schema through the store,
    and the new version reads the base's rows plus the appended ones."""
    from mssql2monetdb_spark.engine.fs import HadoopFS
    from mssql2monetdb_spark.engine.publish import SCHEMA_FILE

    wh_uri = f"file://{tmp_path}/hwh"
    cat = VersionedCatalog(wh_uri, fs=HadoopFS(spark, wh_uri))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
    p1 = cat.write_version(df1, "default", "t", datetime(2024, 6, 1))
    cat.publish(spark, "default", "t", p1)
    assert cat.can_append("default", p1)
    df2 = spark.createDataFrame([(3, None)], "k bigint, s string")
    p2 = cat.write_version(df2, "default", "t", datetime(2024, 6, 2), carry_from=p1)
    cat.publish(spark, "default", "t", p2)
    got = {(r["k"], r["s"]) for r in cat.table_at(spark, "default", "t").collect()}
    assert got == {(1, "a"), (2, "b"), (3, None)}
    recorded = cat.fs.read_text(f"{cat.version_dir('default', p2)}/{SCHEMA_FILE}")
    assert recorded == cat.read_version(spark, "default", p1).schema.json()
    base_files = {f for f in cat.fs.listdir(cat.version_dir("default", p1)) if f.startswith("part-")}
    new_files = {f for f in cat.fs.listdir(cat.version_dir("default", p2)) if f.startswith("part-")}
    assert base_files and new_files and not base_files & new_files
    cat.fs.rmtree(cat.version_dir("default", p1))
    got = {(r["k"], r["s"]) for r in cat.table_at(spark, "default", "t").collect()}
    assert got == {(1, "a"), (2, "b"), (3, None)}


def _crash_on_second_link(monkeypatch):
    """Make the second hard link of the run raise, as a crash would."""
    from mssql2monetdb_spark.engine.fs import LocalFS

    real_link = LocalFS.link
    calls = []

    def crash_on_second(self, s, d):
        calls.append(s)
        if len(calls) == 2:
            raise RuntimeError("simulated crash mid-carry")
        real_link(self, s, d)

    monkeypatch.setattr(LocalFS, "link", crash_on_second)


def test_append_crashing_mid_carry_retries_clean(spark, tmp_path, monkeypatch):
    """An error midway through the carry's links fails the run with
    nothing published, before the delta is written; the retry with the
    same load_date publishes the right rows, and the version then holds
    the base's files plus one write of the delta."""
    import os

    from mssql2monetdb_spark.engine.publish import SCHEMA_FILE

    engine, src = _polled_engine(spark, tmp_path)
    cat = engine.catalog
    base = cat.current_version("default", "a")
    base_names = {f for f in os.listdir(cat.version_dir("default", base)) if f.startswith("part-")}
    assert len(base_names) >= 2
    _crash_on_second_link(monkeypatch)
    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    d = datetime(2024, 1, 2)
    assert engine.run(load_date=d) == EXIT_ERROR
    assert cat.current_version("default", "a") == base
    failed = cat.table_versions("default", "a")[0]
    failed_names = set(os.listdir(cat.version_dir("default", failed)))
    assert failed != base and SCHEMA_FILE not in failed_names
    assert {f for f in failed_names if f.startswith("part-")} < base_names  # part of the carry
    monkeypatch.undo()

    assert engine.run(load_date=d) == EXIT_OK
    assert cat.current_version("default", "a") == failed
    names = {f for f in os.listdir(cat.version_dir("default", failed)) if f.startswith("part-")}
    assert base_names < names
    assert len(set(_write_ids(cat, "a")) - set(_write_ids(cat, "a", base))) == 1
    got = _rows(spark, cat, "a")
    assert [(r["seq"], r["v"]) for r in got] == [(i, 2 * i) for i in range(25)]


def test_switch_only_skips_a_crashed_append(spark, tmp_path, monkeypatch):
    """An append that crashed mid-carry leaves an unpublished version with
    part of its base's files and no ``_SCHEMA.json``. ``--switch-only``
    never publishes it: before the retry it keeps the published version,
    and after a retry at a later load_date it publishes the retry's."""
    engine, src = _polled_engine(spark, tmp_path)
    cat = engine.catalog
    base = cat.current_version("default", "a")
    _crash_on_second_link(monkeypatch)
    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_ERROR
    monkeypatch.undo()
    corpse = cat.table_versions("default", "a")[0]
    assert corpse != base

    assert engine.do_copy(switch_only=True)["a"] == base
    got = _rows(spark, cat, "a")
    assert [r["seq"] for r in got] == list(range(20))

    loaded = engine.do_copy(no_switch=True, load_date=datetime(2024, 1, 3))["a"]
    assert loaded > corpse
    assert engine.do_copy(switch_only=True)["a"] == loaded
    got = _rows(spark, cat, "a")
    assert [(r["seq"], r["v"]) for r in got] == [(i, 2 * i) for i in range(25)]


def test_can_append_counts_the_files_appended_since_the_full_write(spark, tmp_path, monkeypatch):
    """The compaction bound counts the files appended since a version's
    last full write, not all its files: a full write that left more than
    ``APPEND_MAX_FILES`` files, as a big table's does, still takes
    appends, and the bound is reached only by appended files."""
    from mssql2monetdb_spark.engine import publish

    cat = VersionedCatalog(str(tmp_path / "wh"))
    wide = spark.range(0, 400, numPartitions=publish.APPEND_MAX_FILES + 8).selectExpr("id AS k")
    p1 = cat.write_version(wide, "default", "t", datetime(2024, 6, 1))
    assert len(_write_ids(cat, "t", p1)) == publish.APPEND_MAX_FILES + 8
    assert cat.can_append("default", p1)
    p2 = cat.write_version(
        spark.range(400, 402, numPartitions=1).selectExpr("id AS k"),
        "default", "t", datetime(2024, 6, 2), carry_from=p1,
    )
    assert cat.can_append("default", p2)
    monkeypatch.setattr(publish, "APPEND_MAX_FILES", 1)
    assert cat.can_append("default", p1) and not cat.can_append("default", p2)
    assert sorted(r["k"] for r in cat.read_version(spark, "default", p2).collect()) == list(range(402))


@pytest.mark.parametrize("why", ["new_column", "sort_by", "partition_by", "zorder_by", "file_bound"])
def test_full_rewrite_triggers_write_self_contained_versions(spark, tmp_path, monkeypatch, why):
    """A tick that must rewrite in full writes a version whose every data
    file is its own (link count 1) and holds the right rows, while a plain
    incremental table ``a`` in the same tick appends by hard link."""
    import pyspark.sql.functions as F

    from mssql2monetdb_spark.engine import publish

    t_path = str(tmp_path / "src" / "t.parquet")
    flags = {
        "sort_by": {"sort_by": ["v"]},
        "partition_by": {"partition_by": ["g"]},
        "zorder_by": {"zorder_by": ["seq", "v"]},
    }
    t_job = {"from_table": "t", "trigger": {"column": "seq"}, "incremental": True}
    extra = {"t": {**t_job, **flags.get(why, {})}}

    def write_t(lo, hi, mode, *, with_w=False):
        cols = ["id AS seq", "id * 2 AS v", "CAST(id % 3 AS INT) AS g"]
        cols += ["id + 1000 AS w"] if with_w else []
        spark.range(lo, hi).selectExpr(*cols).write.mode(mode).parquet(t_path)

    write_t(0, 30, "append")
    engine, src = _polled_engine(spark, tmp_path, extra)
    cat = engine.catalog
    if why == "new_column":
        write_t(0, 36, "overwrite", with_w=True)
    elif why == "file_bound":
        write_t(30, 33, "append")
        assert engine.run(load_date=datetime(2024, 1, 2)) == EXIT_OK
        assert any(n > 1 for n in _data_nlinks(cat, "t").values())  # appended
        monkeypatch.setattr(publish, "APPEND_MAX_FILES", 1)  # reached by that append
        write_t(33, 36, "append")
    else:
        write_t(30, 36, "append")
    _append_rows(spark, str(src / "a.parquet"), 20, 23)
    assert engine.run(load_date=datetime(2024, 1, 3)) == EXIT_OK

    assert any(n > 1 for n in _data_nlinks(cat, "a").values())
    nlinks = _data_nlinks(cat, "t")
    assert nlinks and set(nlinks.values()) == {1}
    got = cat.table_at(spark, "default", "t")
    row = got.agg(
        F.count("*").alias("n"), F.countDistinct("seq").alias("k"), F.sum("v").alias("s")
    ).first()
    assert (row["n"], row["k"], row["s"]) == (36, 36, sum(2 * i for i in range(36)))
    if why == "new_column":
        assert got.where("w IS NOT NULL").count() == 6
    if why == "file_bound":
        assert len(set(_write_ids(cat, "t"))) == 1  # compacted: one full write


# -- the empty guard counted from parquet footers ------------------------------


def _spy_count(spark, monkeypatch):
    """Record every ``DataFrame.count`` call; returns the list of calls."""
    frame_class = type(spark.range(0))  # the session's concrete DataFrame
    calls = []
    real_count = frame_class.count

    def spy(self):
        calls.append(self)
        return real_count(self)

    monkeypatch.setattr(frame_class, "count", spy)
    return calls


def test_footer_count_equals_spark_count_without_a_job(spark, tmp_path):
    """A table-mode parquet source is counted from its footers — plain and
    hive-partitioned directories alike — with the answer ``df.count()``
    gives, and no Spark job."""
    import uuid

    src = tmp_path / "src"
    spark.range(0, 57, numPartitions=3).selectExpr("id AS k").write.parquet(str(src / "p.parquet"))
    spark.range(0, 41).selectExpr("id AS k", "id % 4 AS d").write.partitionBy("d").parquet(
        str(src / "h.parquet")
    )
    spark.range(0, 0).selectExpr("id AS k").write.parquet(str(src / "e.parquet"))
    engine = CopyEngine(
        spark,
        load_spec(
            {
                "warehouse_dir": str(tmp_path / "wh"),
                "sources": {"_default": {"format": "parquet", "path": str(src)}},
                "tables": {t: {"from_table": t, "from_columns": ["k"]} for t in ("p", "h", "e")},
            }
        ),
    )
    resolved = {}
    for job_id, job in engine.spec.jobs.items():
        df = engine._extract(job, resolved)
        got = []
        count = lambda: got.append(engine.count_source(job, df, resolved))  # noqa: E731
        jobs = _jobs_in_group(spark, f"footer-{uuid.uuid4()}", count)
        assert jobs == [], job_id
        assert got == [df.count()], job_id
    assert got == [0]


def test_empty_table_file_raises_from_its_footers(spark, tmp_path, monkeypatch):
    """An empty table file still aborts the run with EmptyTablesError,
    counted without a Spark count: nothing is published, no state saved."""
    src = tmp_path / "src"
    spark.range(0, 5).selectExpr("id AS seq").write.parquet(str(src / "full.parquet"))
    spark.range(0, 0).selectExpr("id AS seq").write.parquet(str(src / "empty.parquet"))
    engine = CopyEngine(
        spark,
        load_spec(
            {
                "warehouse_dir": str(tmp_path / "wh"),
                "state_dir": str(tmp_path / "state"),
                "sources": {"_default": {"format": "parquet", "path": str(src)}},
                "tables": {t: {"from_table": t, "trigger": {"column": "seq"}} for t in ("full", "empty")},
            }
        ),
    )
    calls = _spy_count(spark, monkeypatch)
    with pytest.raises(EmptyTablesError, match="empty"):
        engine.do_copy(load_date=datetime(2024, 1, 1))
    assert calls == []
    for t in ("full", "empty"):
        assert not engine.catalog.exists("default", t)
        assert engine.store.load(engine.checksum, t) is None


def test_file_landing_after_resolution_is_counted_by_neither(spark, tmp_path, monkeypatch):
    """A file appended after the run resolved the source is in neither the
    guard's footer count nor the extract: both read the pinned listing."""
    engine, src = _polled_engine(spark, tmp_path)
    calls = _spy_count(spark, monkeypatch)
    real_extract = engine._extract
    counts = []

    def extract_then_append(job, resolved=None):
        df = real_extract(job, resolved)
        if job.job_id == "a":
            _append_rows(spark, str(src / "a.parquet"), 20, 30)  # lands after resolution
        return df

    real_guard = engine.assert_non_empty

    def guard(frames, resolved=None):
        counts.append(real_guard(frames, resolved))
        return counts[-1]

    monkeypatch.setattr(engine, "_extract", extract_then_append)
    monkeypatch.setattr(engine, "assert_non_empty", guard)
    _append_rows(spark, str(src / "a.parquet"), 20, 25)  # the probe sees these...
    engine.do_copy(load_date=datetime(2024, 1, 2))
    assert counts == [{"a": 25}]  # ...and the guard counts them, not the late ones
    assert calls == []
    monkeypatch.undo()
    got = _rows(spark, engine.catalog, "a")
    assert [r["seq"] for r in got] == list(range(25))


def test_csv_and_count_query_jobs_count_as_before(spark, tmp_path, monkeypatch):
    """Only the table-mode parquet job counts from footers: a CSV job still
    runs ``df.count()``, and a ``count_query`` job its declared count."""
    from mssql2monetdb_spark.sources.readers import write_csv_compat

    pq_dir, csv_dir = tmp_path / "pq", tmp_path / "csv"
    spark.range(0, 12).selectExpr("id AS k").write.parquet(str(pq_dir / "t.parquet"))
    write_csv_compat(spark.range(0, 7).selectExpr("id AS k"), str(csv_dir / "c.csv"))
    engine = CopyEngine(
        spark,
        load_spec(
            {
                "warehouse_dir": str(tmp_path / "wh"),
                "sources": {
                    "pq": {"format": "parquet", "path": str(pq_dir)},
                    "csv": {"format": "csv", "path": str(csv_dir)},
                },
                "tables": {
                    "t": {"source": "pq", "from_table": "t"},
                    "c": {"source": "csv", "from_table": "c"},
                    "q": {
                        "source": "pq",
                        "from_table": None,
                        "from_query": "SELECT k FROM t WHERE k < 5",
                        "count_query": "SELECT 99",
                        "to_table": "q",
                    },
                },
            }
        ),
    )
    calls = _spy_count(spark, monkeypatch)
    resolved = {}
    frames = {j: engine._extract(job, resolved) for j, job in engine.spec.jobs.items()}
    assert engine.assert_non_empty(frames, resolved) == {"t": 12, "c": 7, "q": 99}
    assert calls == [frames["c"]]


def _output_records(spark, group):
    """Summed ``outputRecords`` of every stage of job group ``group``, read
    from the status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    empty = sc._jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    total = 0
    for sid in stages:
        attempts = store.stageData(sid, False, empty, False, quantiles)
        total += sum(int(attempts.apply(i).outputRecords()) for i in range(attempts.size()))
    return total


def test_fresh_tick_writes_only_the_delta(spark, tmp_path):
    """Pins the saving as counts: a fresh tick's write reports as many
    output records as the delta has rows, not snapshot plus delta."""
    import uuid

    engine, src = _polled_engine(spark, tmp_path)
    _append_rows(spark, str(src / "a.parquet"), 20, 27)
    group = f"fresh-{uuid.uuid4()}"
    codes = []
    _jobs_in_group(spark, group, lambda: codes.append(engine.run(load_date=datetime(2024, 1, 2))))
    assert codes == [EXIT_OK]
    assert _output_records(spark, group) == 7
    got = _rows(spark, engine.catalog, "a")
    assert [r["seq"] for r in got] == list(range(27))


# -- phase 2 on a pool: concurrent loads, all-or-nothing publish -------------


def _pool_width(monkeypatch, width):
    """Run ``do_copy``'s loads on ``width`` threads; returns the list of
    widths the engine asked for."""
    from concurrent.futures import ThreadPoolExecutor

    from mssql2monetdb_spark.engine import copy as copy_mod

    asked = []

    def pool(max_workers):
        asked.append(max_workers)
        return ThreadPoolExecutor(max_workers=width)

    monkeypatch.setattr(copy_mod, "ThreadPoolExecutor", pool)
    return asked


def test_failed_load_cancels_the_others_and_publishes_nothing(spark, tmp_path, monkeypatch):
    """The second job raises while the first job's write runs: the run
    raises that error, not the first job's cancellation; the first job's
    Spark job is cancelled through the run's job tag; no manifest changes,
    no state is saved and no pool thread is left running."""
    import os
    import threading
    import time

    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.engine.watermark import WatermarkStore

    engine, src = _polled_engine(spark, tmp_path)
    cat = engine.catalog
    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    _append_rows(spark, str(src / "b.parquet"), 10, 15)
    manifests = {t: open(cat._manifest("default", t)).read() for t in "ab"}
    states = {t: engine.store.load(engine.checksum, t) for t in "ab"}

    sc = spark.sparkContext
    real_write = VersionedCatalog.write_version
    a_jobs = []

    def write(self, df, schema, table, *args, **kwargs):
        if table == "a":  # a write that only a cancellation ends early
            stall = F.udf(lambda v: time.sleep(60) or v, "bigint")
            return real_write(self, df.withColumn("v", stall("v")), schema, table, *args, **kwargs)
        deadline = time.monotonic() + 60
        while not a_jobs:
            assert time.monotonic() < deadline, "job a's write never started"
            time.sleep(0.05)
            a_jobs.extend(sc.statusTracker().getActiveJobsIds())
        raise RuntimeError("job b failed")

    cancelled = []
    real_cancel = SparkContext.cancelJobsWithTag

    def cancel(self, tag):
        cancelled.append(tag)
        real_cancel(self, tag)

    saves = []
    monkeypatch.setattr(VersionedCatalog, "write_version", write)
    monkeypatch.setattr(SparkContext, "cancelJobsWithTag", cancel)
    monkeypatch.setattr(WatermarkStore, "save", lambda self, *a, **kw: saves.append(a))
    asked = _pool_width(monkeypatch, 2)

    baseline = threading.active_count()
    started = time.monotonic()
    with pytest.raises(RuntimeError, match="job b failed") as err:
        engine.do_copy(load_date=datetime(2024, 1, 2))
    assert err.type is RuntimeError
    assert time.monotonic() - started < 45  # a's 60 s task did not run out
    assert threading.active_count() == baseline
    assert asked == [min(2, os.cpu_count())]

    assert len(cancelled) == 1
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    for jid in a_jobs:
        assert sc.statusTracker().getJobInfo(jid).status == "FAILED"
        assert store.job(jid).jobTags().contains(cancelled[0])
    assert cancelled[0] not in sc.getJobTags()  # the caller's thread carries no tag
    assert {t: open(cat._manifest("default", t)).read() for t in "ab"} == manifests
    assert saves == []
    assert {t: engine.store.load(engine.checksum, t) for t in "ab"} == states
    assert [r["seq"] for r in _rows(spark, cat, "a")] == list(range(20))


def test_retry_after_a_failed_run_keeps_the_backup(spark, tmp_path, monkeypatch):
    """Job ``b`` raises after job ``a`` wrote its version, so ``a``'s
    version stays unpublished; the retry at a later load_date publishes a
    newer one. Retention keeps the manifest's ``previous`` although the
    leftover sits between it and the published version, and reaps the
    leftover once newer versions push it out of keep-2."""
    import threading

    spec = make_spec(
        tmp_path,
        tables={
            "a": {"from_table": "nation", "to_table": "a"},
            "b": {"from_table": "region", "to_table": "b"},
        },
    )
    engine = CopyEngine(spark, spec)
    cat = engine.catalog
    for day in (1, 2):
        engine.do_copy(load_date=datetime(2024, 1, day))
    backup = cat.current_version("default", "a")

    real_write = VersionedCatalog.write_version
    a_wrote = threading.Event()

    def write(self, df, schema, table, *args, **kwargs):
        if table == "a":
            out = real_write(self, df, schema, table, *args, **kwargs)
            a_wrote.set()
            return out
        assert a_wrote.wait(60)
        raise RuntimeError("job b failed")

    monkeypatch.setattr(VersionedCatalog, "write_version", write)
    assert engine.run(load_date=datetime(2024, 1, 3)) == EXIT_ERROR
    monkeypatch.undo()
    leftover = physical_name("a", datetime(2024, 1, 3))
    assert cat.current_version("default", "a") == backup
    assert leftover in cat.table_versions("default", "a")

    engine.do_copy(load_date=datetime(2024, 1, 4))
    assert cat.manifest_info("default", "a")["previous"] == backup
    assert cat.table_at(spark, "default", "a", version_of(backup)).count() == 25
    assert leftover in cat.table_versions("default", "a")

    engine.do_copy(load_date=datetime(2024, 1, 5))
    assert cat.table_versions("default", "a") == [
        physical_name("a", datetime(2024, 1, 5)),
        physical_name("a", datetime(2024, 1, 4)),
    ]


FULL_REFRESH_TABLES = {
    "orders_job": {"from_table": "orders"},
    "customer_job": {"from_table": "customer"},
    "revenue_job": {
        "from_table": None,
        "from_query": (
            "SELECT c.c_nationkey AS nation, SUM(o.o_totalprice) AS revenue "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "GROUP BY c.c_nationkey"
        ),
        "count_query": (
            "SELECT COUNT(DISTINCT c.c_nationkey) "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        ),
        "to_table": "nation_revenue",
    },
}


def test_pooled_loads_equal_sequential_loads(spark, tmp_path, monkeypatch, caplog):
    """Two table jobs and a query job with a ``count_query`` publish the
    same rows on a pool of 1 and of 4, over two runs each, and the engine
    asks for ``min(jobs, cores)`` threads."""
    import logging
    import os

    caplog.set_level(logging.WARNING)
    published = {}
    for width in (1, 4):
        asked = _pool_width(monkeypatch, width)
        engine = CopyEngine(spark, make_spec(tmp_path / f"w{width}", tables=FULL_REFRESH_TABLES))
        for day in (1, 2):
            engine.do_copy(load_date=datetime(2024, 1, day))
        assert asked == [min(3, os.cpu_count())] * 2
        cat = engine.catalog
        published[width] = {
            t: (_rows(spark, cat, t), cat.table_versions("default", t))
            for t in ("orders", "customer", "nation_revenue")
        }
        monkeypatch.undo()
    assert published[1] == published[4]
    assert len(published[4]["orders"][0]) == 1500
    assert "degraded to INSERT" not in caplog.text


# -- sources resolved from one footer pass -------------------------------------


def _summarised_table(path, n):
    """A pyarrow-written table of ``n`` rows whose ``_metadata`` summary
    repeats its data file's row groups, as ``pyarrow.parquet.write_metadata``
    and older Hadoop writers leave it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    t = pa.table({"k": pa.array(range(n), pa.int64()), "v": pa.array([i * 2 for i in range(n)])})
    collector = []
    pq.write_table(t, os.path.join(path, "part-0.parquet"), metadata_collector=collector)
    collector[0].set_file_path("part-0.parquet")
    pq.write_metadata(t.schema, os.path.join(path, "_metadata"), metadata_collector=collector)


def test_summary_file_rows_are_not_counted(spark, tmp_path):
    """Spark lists a ``_metadata`` summary beside the data files, but reads
    no rows from it: the empty guard counts the data files only, and the
    run publishes every row once."""
    src = tmp_path / "src"
    _summarised_table(str(src / "t.parquet"), 100)
    engine = CopyEngine(spark, make_spec(tmp_path, {"t": {"from_table": "t"}}, sources={
        "_default": {"format": "parquet", "path": str(src)}}))
    resolved = {}
    job = engine.spec.jobs["t"]
    df = engine._extract(job, resolved)
    assert engine.count_source(job, df, resolved) == df.count() == 100
    engine.do_copy(load_date=datetime(2024, 1, 1))
    assert engine.sql("SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 100


def test_fresh_tick_runs_one_spark_job(spark, tmp_path):
    """A fresh incremental tick of a local parquet source runs one Spark
    job, its write: the probe, the schema and the empty guard come from
    the footers."""
    import uuid

    engine, src = _polled_engine(spark, tmp_path)
    _append_rows(spark, str(src / "a.parquet"), 20, 25)
    codes = []
    jobs = _jobs_in_group(
        spark, f"fresh-{uuid.uuid4()}", lambda: codes.append(engine.run(load_date=datetime(2024, 1, 2)))
    )
    assert codes == [EXIT_OK]
    assert len(jobs) == 1
    got = _rows(spark, engine.catalog, "a")
    assert [r["seq"] for r in got] == list(range(25))


def test_sources_are_read_with_their_footer_schema(spark, tmp_path, monkeypatch):
    """Two table jobs and a query-mode job over the same directory: each
    source is read once, with a schema handed to the reader, so no Spark
    job infers one."""
    src = tmp_path / "src"
    spark.range(0, 30).selectExpr("id AS k", "id % 5 AS g").write.parquet(str(src / "t.parquet"))
    spark.range(0, 5).selectExpr("id AS g", "CAST(id AS STRING) AS name").write.parquet(
        str(src / "u.parquet")
    )
    spec = load_spec(
        {
            "warehouse_dir": str(tmp_path / "wh"),
            "sources": {"_default": {"format": "parquet", "path": str(src)}},
            "tables": {
                "t_job": {"from_table": "t"},
                "u_job": {"from_table": "u"},
                "q_job": {
                    "from_table": None,
                    "from_query": "SELECT u.name, COUNT(*) AS n FROM t JOIN u ON t.g = u.g GROUP BY u.name",
                    "count_query": "SELECT COUNT(DISTINCT g) FROM t",
                    "to_table": "by_name",
                },
            },
        }
    )
    from pyspark.sql.readwriter import DataFrameReader

    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet
    reads = []

    def schema(self, s):
        self.given = True
        return real_schema(self, s)

    def parquet(self, *paths, **options):
        reads.extend((p, getattr(self, "given", False)) for p in paths if p.startswith(str(src)))
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    engine = CopyEngine(spark, spec)
    engine.do_copy(load_date=datetime(2024, 1, 1))
    monkeypatch.undo()
    assert sorted(reads) == [(str(src / "t.parquet"), True), (str(src / "u.parquet"), True)]
    assert engine.sql("SELECT SUM(n) AS s FROM by_name").collect()[0]["s"] == 30
    assert engine.sql("SELECT COUNT(*) AS n FROM u").collect()[0]["n"] == 5


def test_footer_resolution_loads_what_inference_loads(spark, tmp_path, monkeypatch):
    """Old-vs-new: the append sequence's sources (a NULL trigger, a column
    carrying field metadata, then a delta without it) publish the same
    rows, schema bytes and appends whether each source takes its schema
    from the footers or from Spark's inference."""
    from mssql2monetdb_spark.sources.footers import ParquetTable

    from_footers = _incremental_sequence(spark, tmp_path / "footers")
    real_scan = ParquetTable._scan

    def inferring_scan(self):
        real_scan(self)
        self.fallback = self.fallback or "inference, for comparison"

    monkeypatch.setattr(ParquetTable, "_scan", inferring_scan)
    inferred = _incremental_sequence(spark, tmp_path / "inferred")
    assert from_footers == inferred


def test_partition_by_bigint_column_takes_two_ticks(spark, tmp_path):
    """A ``partition_by`` job on a bigint column: the partitioned version
    records its schema, so its partition column reads back bigint, not the
    int partition discovery gives small values, and the next ticks evolve
    without a retype error."""
    import os

    from mssql2monetdb_spark.engine.publish import SCHEMA_FILE

    path = str(tmp_path / "src" / "ev.parquet")

    def write(lo, hi):
        spark.range(lo, hi).selectExpr("id AS seq", "id % 3 AS g").write.mode("append").parquet(path)

    write(0, 30)
    engine = CopyEngine(
        spark,
        load_spec(
            {
                "warehouse_dir": str(tmp_path / "wh"),
                "state_dir": str(tmp_path / "state"),
                "sources": {"_default": {"format": "parquet", "path": str(tmp_path / "src")}},
                "tables": {
                    "ev": {
                        "from_table": "ev",
                        "trigger": {"column": "seq"},
                        "incremental": True,
                        "partition_by": ["g"],
                    }
                },
            }
        ),
    )
    assert engine.run(load_date=datetime(2024, 1, 1)) == EXIT_OK
    for day, (lo, hi) in ((2, (30, 36)), (3, (36, 40))):
        write(lo, hi)
        assert engine.run(load_date=datetime(2024, 1, day)) == EXIT_OK
    cat = engine.catalog
    current = cat.current_version("default", "ev")
    assert os.path.exists(os.path.join(cat.version_dir("default", current), SCHEMA_FILE))
    assert not cat.can_append("default", current)
    got = cat.table_at(spark, "default", "ev")
    assert dict(got.dtypes)["g"] == "bigint"
    assert sorted((r["seq"], r["g"]) for r in got.collect()) == [(i, i % 3) for i in range(40)]

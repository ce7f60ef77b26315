"""Job-spec compilation & validation rules (CopyToolConfig.java:800-1046)."""

from __future__ import annotations

import pytest

from mssql2monetdb_spark.config.spec import (
    SpecError,
    interpolate_env,
    load_spec,
    spec_checksum,
)


def base_spec(**table_overrides):
    table = {"from_table": "lineitem"}
    table.update(table_overrides)
    return {
        "warehouse_dir": "/tmp/wh",
        "sources": {"_default": {"format": "parquet", "path": "/root/testdata/sf0.001"}},
        "tables": {"t1": table},
    }


def test_minimal_spec():
    spec = load_spec(base_spec())
    job = spec.jobs["t1"]
    assert job.from_table == "lineitem"
    assert job.to_table == "lineitem"  # to := from default (CopyToolConfig.java:936-940)
    assert job.source == "_default"
    assert job.auto_trim is True  # default ON (CopyTable.java:72)


def test_from_or_query_required():
    # CopyToolConfig.java:947-955
    with pytest.raises(SpecError, match="from_table.*or.*from_query"):
        load_spec(base_spec(from_table=None))


def test_query_requires_countquery():
    # CopyToolConfig.java:964-977
    with pytest.raises(SpecError, match="count_query"):
        load_spec(base_spec(from_table=None, from_query="SELECT 1", to_table="x"))
    spec = load_spec(
        base_spec(
            from_table=None,
            from_query="SELECT * FROM lineitem",
            count_query="SELECT COUNT(*) FROM lineitem",
            to_table="x",
        )
    )
    assert spec.jobs["t1"].from_query


def test_from_table_wins_over_query():
    # CopyTable.java:302,312 precedence
    spec = load_spec(base_spec(from_query="SELECT 1", count_query="SELECT 1"))
    mode, payload = spec.jobs["t1"].select_source()
    assert mode == "table" and payload[0] == "lineitem"


def test_unknown_source_rejected():
    with pytest.raises(SpecError, match="unknown source"):
        load_spec(base_spec(source="nope"))


def test_to_table_lowercased():
    spec = load_spec(base_spec(to_table="MyTable"))
    assert spec.jobs["t1"].to_table == "mytable"  # CopyToolConfig.java:875-876


def test_env_interpolation():
    env = {"WH": "/data/warehouse"}
    assert interpolate_env("${WH}/x", env) == "/data/warehouse/x"
    assert interpolate_env("${MISSING:fallback}", env) == "fallback"
    with pytest.raises(SpecError, match="MISSING"):
        interpolate_env("${MISSING}", env)

    raw = base_spec()
    raw["warehouse_dir"] = "${WH}"
    assert load_spec(raw, env).warehouse_dir == "/data/warehouse"


def test_checksum_changes_with_config():
    # CopyToolConfig.java:1088-1112: any config change invalidates state
    a = load_spec(base_spec())
    b = load_spec(base_spec(truncate=True))
    assert spec_checksum(a) != spec_checksum(b)
    assert spec_checksum(a) == spec_checksum(load_spec(base_spec()))


def test_jdbc_source_requires_url():
    raw = base_spec()
    raw["sources"]["jdbc1"] = {"format": "jdbc", "options": {}}
    with pytest.raises(SpecError, match="url"):
        load_spec(raw)


def test_targets_unique_per_schema_table_on_the_parquet_catalog():
    """Two jobs writing one (schema, table) on the parquet catalog publish
    the same version name, so the later write silently replaces the
    earlier one's rows: refused at spec time, as on a JDBC sink."""
    raw = base_spec(to_table="t")
    raw["tables"]["t2"] = {"from_table": "orders", "to_table": "T"}
    with pytest.raises(SpecError, match="unique per \\(schema, table\\)"):
        load_spec(raw)
    # the same table name in another schema is a different target
    raw["tables"]["t2"]["schema"] = "mart"
    assert load_spec(raw).jobs["t2"].schema_name == "mart"


def test_copy_via_temp_table_warns_once_naming_its_jobs(caplog):
    """``copy_via_temp_table`` is accepted for the reference's config files
    but has no effect: one warning names every job that sets it."""
    raw = base_spec(copy_via_temp_table=True)
    raw["tables"]["t2"] = {"from_table": "orders"}
    raw["tables"]["t0"] = {"from_table": "nation", "copy_via_temp_table": True}
    with caplog.at_level("WARNING", logger="mssql2monetdb_spark.config.spec"):
        spec = load_spec(raw)
    assert spec.jobs["t1"].copy_via_temp_table is True
    warnings = [r for r in caplog.records if "copy_via_temp_table" in r.getMessage()]
    assert len(warnings) == 1
    assert warnings[0].getMessage().endswith("set by: t0, t1")
    caplog.clear()
    with caplog.at_level("WARNING", logger="mssql2monetdb_spark.config.spec"):
        load_spec(base_spec())
    assert not [r for r in caplog.records if "copy_via_temp_table" in r.getMessage()]


def test_trigger_source_is_carried_and_must_exist():
    """``trigger.source`` names the source that holds the trigger table;
    without it the probe reads the job's own source."""
    spec = load_spec(base_spec(trigger={"column": "l_orderkey", "source": "_default"}))
    assert spec.jobs["t1"].trigger_source == "_default"
    assert load_spec(base_spec(trigger={"column": "l_orderkey"})).jobs["t1"].trigger_source is None
    with pytest.raises(SpecError, match="unknown trigger source 'nope'"):
        load_spec(base_spec(trigger={"column": "l_orderkey", "source": "nope"}))

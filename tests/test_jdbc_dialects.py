"""Dialect statement pins for the reference's SOURCE databases
(``SourceDatabaseType.java``): MSSQL gets the same verbatim unit-pinning
bar the MonetDB staging serializer (commit ae1a52d) and catalog probes
(``test_monetdb_catalog_statement_shapes``) already have — no MSSQL server
exists in this sandbox, so the statement TEXT is the testable surface.
"""

from __future__ import annotations

import pytest

from mssql2monetdb_spark.config.properties import DIALECTS
from mssql2monetdb_spark.sources.jdbc import is_identifier_resolution_error


@pytest.mark.parametrize(
    "url",
    ["jdbc:jtds:sqlserver://db1:1433/mart", "jdbc:sqlserver://db1;db=x", "jdbc:postgresql://db1/mart"],
    ids=["jtds", "sqlserver", "postgresql"],
)
def test_mssql_and_postgresql_trigger_probes_ship_select_max(monkeypatch, url):
    """Every dialect's trigger probe is the pushed ``SELECT MAX``: the
    reference's PostgreSQL top-1 (``ORDER BY c DESC LIMIT 1``) answers NULL
    whenever the column holds a NULL, and its MSSQL form brackets a
    schema-qualified table name whole (``[dbo.orders]``)."""
    from mssql2monetdb_spark.config.spec import SourceSpec
    from mssql2monetdb_spark.engine import watermark as wm

    shipped: list[str] = []

    class _Frame:
        def collect(self):
            return [(41,)]

    def fake_pushed_query(spark, options, sql):
        shipped.append(sql)
        return _Frame()

    monkeypatch.setattr(wm, "pushed_query", fake_pushed_query)
    src = SourceSpec(name="s", format="jdbc", options={"url": url})
    got = wm.probe_max_jdbc(None, src, "dbo.orders", "c")
    assert (got.value, got.type_name) == (41, "bigint")
    assert shipped == ['SELECT MAX("c") AS m FROM dbo.orders']


def test_mssql_url_synthesis_and_default_port():
    """URL template + default port + jTDS driver class
    (``SourceDatabaseType.java:16-18,28-30``; ``CopyToolConfig.java``
    loads the jTDS driver)."""
    d = DIALECTS["mssql"]
    assert d["port"] == 1433
    assert d["driver"] == "net.sourceforge.jtds.jdbc.Driver"
    assert d["url"].format(server="s", port=1433, database="db") == (
        "jdbc:jtds:sqlserver://s:1433/db"
    )


def test_postgresql_url_synthesis_and_default_port():
    """``SourceDatabaseType.java:40-43,52-54``."""
    d = DIALECTS["postgresql"]
    assert d["port"] == 5432
    assert d["url"].format(server="s", port=5432, database="db") == (
        "jdbc:postgresql://s:5432/db"
    )


def test_identifier_error_classifier():
    """The unquoted-casing retry must fire ONLY on identifier-resolution
    SQLStates — Derby 42X04/42X05, SQL-Server-class 42S22/42S02,
    PostgreSQL 42703/42P01 — never on transient failures."""
    assert is_identifier_resolution_error(
        Exception("ERROR 42X04: Column 'X' is either not in any table ...")
    )
    assert is_identifier_resolution_error(Exception("SQLState: 42S22 col not found"))
    assert is_identifier_resolution_error(Exception('ERROR: column "c" 42703'))
    assert not is_identifier_resolution_error(
        Exception("ERROR 40XL1: A lock could not be obtained within the time")
    )
    assert not is_identifier_resolution_error(Exception("connection reset"))


def test_transient_quoted_probe_failure_surfaces_not_retries(monkeypatch):
    """ADVICE r10 regression: a transient failure (lock timeout) of the
    quoted MAX probe must raise — NOT silently run the unquoted form,
    which the store case-normalizes and can resolve to a DIFFERENT
    same-named column where both casings exist."""
    from mssql2monetdb_spark.config.spec import SourceSpec
    from mssql2monetdb_spark.engine import watermark as wm

    calls: list[bool] = []

    class _Boom(Exception):
        pass

    def fake_frame(spark, source, table, column, *, quoted=True):
        calls.append(quoted)

        class _F:
            def collect(self):
                raise _Boom("ERROR 40XL1: lock timeout")

        return _F()

    monkeypatch.setattr(wm, "jdbc_max_probe_frame", fake_frame)
    src = SourceSpec(name="s", format="jdbc", options={"url": "jdbc:derby:/x"})
    with pytest.raises(_Boom):
        wm.probe_max_jdbc(None, src, "t", "c")
    assert calls == [True]  # no unquoted second attempt


def test_identifier_quoted_probe_failure_retries_unquoted(monkeypatch):
    """The healthy half of the gate: a 42X04-class failure still walks the
    ladder to the store-cased unquoted identifier."""
    from mssql2monetdb_spark.config.spec import SourceSpec
    from mssql2monetdb_spark.engine import watermark as wm

    calls: list[bool] = []

    def fake_frame(spark, source, table, column, *, quoted=True):
        calls.append(quoted)

        class _F:
            def collect(self):
                if quoted:
                    raise Exception("ERROR 42X04: Column 'C' is not in any table")
                return [(41,)]

        return _F()

    monkeypatch.setattr(wm, "jdbc_max_probe_frame", fake_frame)
    src = SourceSpec(name="s", format="jdbc", options={"url": "jdbc:derby:/x"})
    got = wm.probe_max_jdbc(None, src, "t", "c")
    assert (got.value, got.type_name) == (41, "bigint")
    assert calls == [True, False]


def test_native_trigger_probe_drops_partitioned_scan_options():
    """A source whose options declare a partitioned scan (the auto-bounds
    setup: ``partitionColumn`` + ``numPartitions``) must still run the
    one-row MAX probe: a pushed query carries no partitioning keys, which
    Spark rejects without ``dbtable`` — keeping them would fail the probe
    on every tick."""
    from mssql2monetdb_spark.config.spec import SourceSpec
    from mssql2monetdb_spark.engine import watermark as wm

    loads: list[dict] = []

    class _Reader:
        def format(self, fmt):
            return self

        def options(self, **opts):
            loads.append(opts)
            return self

        def load(self):
            return self

        def collect(self):
            return [(41,)]

    class _Spark:
        read = _Reader()

    src = SourceSpec(
        name="s",
        format="jdbc",
        options={
            "url": "jdbc:postgresql://db1:5432/mart",
            "dbtable": "t",
            "partitionColumn": "k",
            "lowerBound": "1",
            "upperBound": "9",
            "numPartitions": "4",
            "fetchsize": "500",
        },
    )
    got = wm.probe_max_jdbc(_Spark(), src, "t", "c")
    assert (got.value, got.type_name) == (41, "bigint")
    assert loads == [
        {
            "url": "jdbc:postgresql://db1:5432/mart",
            "fetchsize": "500",
            "query": 'SELECT MAX("c") AS m FROM t',
        }
    ]

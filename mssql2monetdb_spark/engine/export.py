"""JDBC warehouse sink: the reference's MonetDB-side publish lifecycle
against any JDBC target — versioned physical tables, a transactional view
switch, and keep-2 retention — executed over a real connection.

This is the direction the reference actually loads (`CopyTool` PHASES 2-4
against MonetDB): each load lands in a NEW physical table
``name_yyyy_MM_dd_HH_mm_ss``, the public name is a VIEW dropped and
recreated inside one transaction (``MonetDBUtil.dropAndRecreateViewForTable``,
``MonetDBUtil.java:442-529``), and versions beyond the newest 2 are dropped
(``CopyTool.dropOldTables``, ``CopyTool.java:554-602``). The engine's
parquet ``VersionedCatalog`` is the Spark-first translation of the same
protocol; this module keeps the protocol itself available against a real
warehouse so a user pointing the engine at MonetDB/Derby gets the
reference's zero-downtime semantics, not just a table dump.

Catalog probes are dialect-dispatched: Derby (integration-tested — ships
with Spark) reads ``SYS.SYSTABLES``/``SYS.SYSVIEWS``; MonetDB uses the
reference's own ``sys.tables`` queries verbatim (``MonetDBUtil.java:41-88``
existence/is-table, ``CopyTool.java:562-565`` version listing) — statement
shapes unit-pinned, no MonetDB server exists in this sandbox.

Scale note: every statement here is control-plane (catalog probes, DDL,
view switch) — O(versions), never O(rows). The data plane is
``jdbc_bulk_loader`` (distributed staging + server-side COPY, INSERT
fallback) or the distributed batched writer; the warehouse never sees a
driver-side row loop.
"""

from __future__ import annotations

import logging
import re
import threading
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..config.spec import SourceSpec
from ..sources.jdbc import (
    driver_statement,
    insert_load,
    jdbc_bulk_loader,
    pushed_query,
    url_dialect,
)
from .publish import RETAIN_VERSIONS, VERSION_RE, physical_name

log = logging.getLogger(__name__)

#: dialect-specific catalog probes; {name}/{prefix}/{schema} are substituted
#: with store-cased identifiers (Derby upper-cases unquoted names,
#: MonetDB/PostgreSQL lower-case them — SourceDatabaseType semantics).
#: EVERY probe is schema-scoped, exactly like the reference's
#: (MonetDBTable.java:12-25 carries a schema; MonetDBUtil.java:41-88 scopes
#: every probe with a sys.schemas subselect; CopyToolConfig.java:875-876
#: lowercases the schema at config time). An unscoped probe would let two
#: same-named tables in different schemas satisfy each other's existence
#: checks — and default-namespace retention would try to DROP another
#: schema's same-prefixed versions. Jobs without a declared schema scope to
#: the CONNECTION's current schema (where their unqualified DDL lands).
CATALOG_SQL = {
    "derby": {
        "exists": (
            "SELECT t.TABLENAME FROM SYS.SYSTABLES t "
            "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID "
            "WHERE t.TABLENAME = '{name}' AND t.TABLETYPE IN ('T', 'V') "
            "AND s.SCHEMANAME = '{schema}'"
        ),
        "is_table": (
            "SELECT t.TABLENAME FROM SYS.SYSTABLES t "
            "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID "
            "WHERE t.TABLENAME = '{name}' AND t.TABLETYPE = 'T' "
            "AND s.SCHEMANAME = '{schema}'"
        ),
        "list_versions": (
            "SELECT t.TABLENAME FROM SYS.SYSTABLES t "
            "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID "
            "WHERE t.TABLETYPE = 'T' AND t.TABLENAME LIKE '{prefix}20%' "
            "AND s.SCHEMANAME = '{schema}' ORDER BY t.TABLENAME DESC"
        ),
        "view_definition": (
            "SELECT v.VIEWDEFINITION FROM SYS.SYSVIEWS v "
            "JOIN SYS.SYSTABLES t ON v.TABLEID = t.TABLEID "
            "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID "
            "WHERE t.TABLENAME = '{name}' AND s.SCHEMANAME = '{schema}'"
        ),
    },
    # the reference's statements, verbatim subselect (MonetDBUtil.java:48,73)
    "monetdb": {
        "exists": (
            "SELECT name FROM sys.tables WHERE name = '{name}' AND schema_id = "
            "(SELECT id FROM sys.schemas WHERE LOWER(name) = LOWER('{schema}'))"
        ),
        "is_table": (
            "SELECT name FROM sys.tables WHERE name = '{name}' AND query IS NULL "
            "AND schema_id = "
            "(SELECT id FROM sys.schemas WHERE LOWER(name) = LOWER('{schema}'))"
        ),
        "list_versions": (
            "SELECT name FROM sys.tables WHERE name LIKE '{prefix}20%' "
            "AND query IS NULL AND schema_id = "
            "(SELECT id FROM sys.schemas WHERE LOWER(name) = LOWER('{schema}')) "
            "ORDER BY name DESC"
        ),
        "view_definition": (
            "SELECT query FROM sys.tables WHERE name = '{name}' AND schema_id = "
            "(SELECT id FROM sys.schemas WHERE LOWER(name) = LOWER('{schema}'))"
        ),
    },
    "postgresql": {
        "exists": (
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name = '{name}' AND table_schema = '{schema}'"
        ),
        "is_table": (
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name = '{name}' AND table_type = 'BASE TABLE' "
            "AND table_schema = '{schema}'"
        ),
        "list_versions": (
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name LIKE '{prefix}20%' AND table_type = 'BASE TABLE' "
            "AND table_schema = '{schema}' ORDER BY table_name DESC"
        ),
        "view_definition": (
            "SELECT view_definition FROM information_schema.views "
            "WHERE table_name = '{name}' AND table_schema = '{schema}'"
        ),
    },
}

#: schema-existence probe per dialect ({schema} store-cased)
SCHEMA_EXISTS_SQL = {
    "derby": "SELECT SCHEMANAME FROM SYS.SYSSCHEMAS WHERE SCHEMANAME = '{schema}'",
    "monetdb": "SELECT name FROM sys.schemas WHERE LOWER(name) = LOWER('{schema}')",
    "postgresql": (
        "SELECT schema_name FROM information_schema.schemata "
        "WHERE schema_name = '{schema}'"
    ),
}

#: the connection's current (default) schema — where unqualified DDL lands
CURRENT_SCHEMA_SQL = {
    "derby": "VALUES CURRENT SCHEMA",
    "monetdb": "SELECT current_schema",
    "postgresql": "SELECT current_schema",
}


def parse_view_target(text: str | None) -> str | None:
    """The physical relation a stored view definition selects FROM.

    Tolerates the stores' rendering differences: optional schema
    qualification (``"sys"."t_2024_..."``), quoting, trailing semicolon,
    and full create-statement text (MonetDB keeps the whole
    ``create view ... as select ...`` in ``sys.tables.query``).

    CONTRACT: only valid for views THIS ENGINE created — always exactly
    ``CREATE VIEW t AS SELECT * FROM <physical>`` (``publish()``), so the
    pattern anchors on the LAST ``FROM`` at end-of-string. A hand-created
    view with a trailing WHERE/JOIN clause would misparse; the protocol
    never reads such views (``current_version`` is only consulted for
    names the engine itself publishes)."""
    if not text:
        return None
    text = text.strip().rstrip(";").strip()
    m = re.search(
        r'FROM\s+(?:"?[A-Za-z0-9_]+"?\s*\.\s*)?"?([A-Za-z0-9_]+)"?\s*$',
        text,
        re.IGNORECASE,
    )
    return m.group(1) if m else None


@dataclass
class JdbcWarehouse:
    """Versioned publish lifecycle against a JDBC warehouse target."""

    spark: SparkSession
    source: SourceSpec
    #: Fault-injection seam for the crash drill
    #: (``scripts/warehouse_crash_probe.py``): called with a label at the
    #: two crash windows the reference's bounded re-probe loop guards
    #: (``MonetDBUtil.java:462-498``) — "between_load_and_switch" (new
    #: physical fully loaded, view still on the old version) and
    #: "mid_switch" (inside the switch transaction, after DROP VIEW and
    #: before CREATE VIEW). Production value is a no-op; the probe arms it
    #: with ``os._exit`` in a child driver to prove readers never see a
    #: half-state and a rerun converges.
    fault_hook: object = None
    #: held by each server-side bulk import into this warehouse, so the
    #: concurrent loads of one run import one at a time (``jdbc_bulk_loader``)
    _imports: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def _fault(self, point: str) -> None:
        if self.fault_hook is not None:
            self.fault_hook(point)

    # -- plumbing ---------------------------------------------------------
    @property
    def dialect(self) -> str:
        """Catalog-probe dialect — its own gate, distinct from bulk-import
        support: a warehouse needs CATALOG_SQL to be a sink at all (even
        in insert mode), while server-side COPY support is the bulk
        loader's concern."""
        url = self.source.options["url"]
        dialect = url_dialect(url)
        if dialect is None:
            raise ValueError(
                "jdbc sink requires a dialect with catalog probes "
                f"(derby/monetdb/postgresql), got {url.split(':', 2)[:2]}"
            )
        return dialect

    def _store_name(self, name: str) -> str:
        """Unquoted identifiers are case-normalized by the store: Derby
        upper-cases, MonetDB/PostgreSQL lower-case."""
        return name.upper() if self.dialect == "derby" else name.lower()

    @staticmethod
    def _qualify(name: str, schema: str | None) -> str:
        """Schema-qualified identifier for DDL/DML — the reference's
        ``getToTableSql`` shape (``MonetDBTable.java:45-49``); unqualified
        (the connection's default schema) when no schema is given."""
        return f"{schema}.{name}" if schema else name

    def _statement(self, *, transaction: bool = False):
        """:func:`driver_statement` on this warehouse's connection options."""
        return driver_statement(self.spark, self.source.options, transaction=transaction)

    def _current_schema(self) -> str:
        """The connection's current schema (cached — fixed connection
        options mean it cannot change): Derby's default is the user name
        (APP when none), MonetDB/PostgreSQL report ``current_schema``.
        Unqualified DDL lands here, so probes for unqualified targets
        scope to exactly this namespace."""
        cached = self.__dict__.get("_cur_schema")
        if cached is None:
            with self._statement() as st:
                rs = st.executeQuery(CURRENT_SCHEMA_SQL[self.dialect])
                rs.next()
                cached = rs.getString(1)
            self.__dict__["_cur_schema"] = cached
        return cached

    def _resolve_schema(self, schema: str | None) -> str:
        """Store-cased probe scope: the declared schema, else the
        connection's current schema (idempotent under _store_name —
        the stores report it already case-normalized)."""
        return self._store_name(schema) if schema else self._current_schema()

    def _probe_on(self, st, kind: str, *, schema: str | None = None, **subst: str) -> list[str]:
        """Run a catalog probe on an EXISTING statement — inside the view
        switch this sees the transaction's own uncommitted drops. Always
        schema-scoped (the reference's sys.schemas subselect,
        ``MonetDBUtil.java:41-88``): to the declared schema, else to the
        connection's current schema, where unqualified DDL lands."""
        sql = CATALOG_SQL[self.dialect][kind].format(
            schema=self._resolve_schema(schema), **subst
        )
        rs = st.executeQuery(sql)
        out = []
        while rs.next():
            out.append(rs.getString(1))
        return out

    def _probe(self, kind: str, *, schema: str | None = None, **subst: str) -> list[str]:
        with self._statement() as st:
            return self._probe_on(st, kind, schema=schema, **subst)

    def _execute(self, sql: str) -> None:
        with self._statement() as st:
            st.execute(sql)

    # -- catalog probes (ops #15-16, MonetDBUtil.java:41-88) --------------
    def exists(self, name: str, *, schema: str | None = None) -> bool:
        return bool(self._probe("exists", name=self._store_name(name), schema=schema))

    def is_table(self, name: str, *, schema: str | None = None) -> bool:
        return bool(
            self._probe("is_table", name=self._store_name(name), schema=schema)
        )

    def schema_exists(self, schema: str) -> bool:
        sql = SCHEMA_EXISTS_SQL[self.dialect].format(schema=self._store_name(schema))
        with self._statement() as st:
            return bool(st.executeQuery(sql).next())

    def ensure_schema(self, schema: str) -> None:
        """Create the warehouse schema if absent (idempotent). The
        reference assumes its configured schemas pre-exist on MonetDB;
        creating it before the first load of a new schema-qualified target
        keeps that load from failing on a missing namespace. The probe and
        the CREATE are two statements, so callers run it once per schema
        before any concurrent load into it (``CopyEngine.do_copy``,
        :meth:`export`)."""
        if not self.schema_exists(schema):
            self._execute(f"CREATE SCHEMA {schema}")

    def table_versions(self, table: str, *, schema: str | None = None) -> list[str]:
        """All physical versions, newest first (CopyTool.java:562-565 —
        client-side regex confirms the version suffix, same as the parquet
        catalog's listing filter)."""
        store = self._store_name(table)
        out = []
        for name in self._probe("list_versions", prefix=f"{store}_", schema=schema):
            if VERSION_RE.search(name) and name[:-20] == store:
                out.append(name)
        return out

    def current_version(self, table: str, *, schema: str | None = None) -> str | None:
        """The physical table the public view points at, parsed from the
        stored view definition by :func:`parse_view_target`."""
        rows = self._probe(
            "view_definition", name=self._store_name(table), schema=schema
        )
        return parse_view_target(rows[0]) if rows else None

    # -- schema evolve (op #14, MonetDBUtil.java:339-394) -------------------
    def table_schema(self, table: str, *, schema: str | None = None):
        """The warehouse table's Spark schema from a zero-row metadata
        query (``SELECT * WHERE 1=0`` — the reference reads
        ResultSetMetaData off ``SELECT * ... LIMIT 1``,
        ``MonetDBUtil.java:346-349``); no data crosses the wire."""
        sql = f"SELECT * FROM {self._qualify(table, schema)} WHERE 1=0"
        return pushed_query(self.spark, self.source.options, sql).schema

    # -- PHASE 2: load ----------------------------------------------------
    def load_version(
        self,
        df: DataFrame,
        table: str,
        load_date: datetime,
        *,
        method: str = "copy",
        staging_dir: str | None = None,
        expected_count: int | None = None,
        schema: str | None = None,
    ) -> str:
        """Land the frame in a NEW versioned physical table; returns the
        physical name (bare — qualification is per-statement). A declared
        ``schema`` must exist already (:meth:`ensure_schema`).
        ``method="copy"`` is the staged-CSV server-side import with its
        own INSERT degradation (``jdbc_bulk_loader``); ``method="insert"``
        forces the distributed batched writer against a mapper-derived DDL.

        Crash-retry: a colliding physical name that is NOT the live view's
        target is an unpublished corpse from a crashed attempt — it is
        dropped and rebuilt (the same-name reclaim the parquet catalog does
        with ``mode("overwrite")``). A collision WITH the live target
        raises: rebuilding a table readers are on is never safe.

        Schema evolve (op #14): when a version is already published, the
        new version is widened to published ∪ incoming (columns the
        incoming frame dropped arrive as typed NULLs; a retype fails
        loudly) — the same ``evolve_to_union`` semantics as the parquet
        catalog, so the public view never loses a column."""
        from ..schema.mapper import spark_schema_to_derby_ddl

        current = self.current_version(table, schema=schema)
        if current is not None:
            from pyspark.sql import types as T

            from ..schema.evolve import evolve_to_union
            from ..schema.mapper import equivalent_in_derby

            published = self.table_schema(current, schema=schema)
            # The JDBC read-back schema is post-round-trip (SMALLINT
            # reads as int), so exact comparison inside evolve_to_union
            # would reject every re-export of a short/byte column.
            # Substitute the incoming type wherever the pair is merely
            # the sink's lossy lattice round-trip — this also keeps the
            # NEW physical version on the narrow DDL (SMALLINT) instead
            # of silently widening it on every publish.
            incoming_types = {f.name: f.dataType for f in df.schema.fields}
            published = T.StructType(
                [
                    T.StructField(
                        f.name,
                        incoming_types[f.name]
                        if f.name in incoming_types
                        and equivalent_in_derby(f.dataType, incoming_types[f.name])
                        else f.dataType,
                        f.nullable,
                    )
                    for f in published.fields
                ]
            )
            df = evolve_to_union(df, published)
        physical = physical_name(table, load_date)
        qualified = self._qualify(physical, schema)
        if self.exists(physical, schema=schema):
            if current and current.lower() == physical.lower():
                raise RuntimeError(
                    f"{qualified} is the live published version; refusing to "
                    "rebuild it in place — pick a later load_date"
                )
            self._execute(f"DROP TABLE {qualified}")
        if method == "copy":
            jdbc_bulk_loader(
                self.spark,
                df,
                self.source,
                qualified,
                staging_dir=staging_dir,
                expected_count=expected_count,
                import_lock=self._imports,
            )
        elif method == "insert":
            insert_load(self.spark, df, self.source, qualified, spark_schema_to_derby_ddl(df.schema))
        else:
            raise ValueError(f"method must be copy|insert, got {method!r}")
        return physical

    # -- PHASE 3: transactional view switch (MonetDBUtil.java:442-529) ----
    def publish(self, table: str, physical: str, *, schema: str | None = None) -> None:
        """Drop the public name (view OR stale table) and recreate the view
        pointing at ``physical`` — one transaction, so readers see either
        the old version or the new one, never an absent name.

        The reference re-probes in a bounded loop to survive a MonetDB
        duplicate-view bug (``MonetDBUtil.java:462-498``); kept with the
        same bound of 10.
        """
        if not self.exists(physical, schema=schema):
            raise FileNotFoundError(
                f"physical table {self._qualify(physical, schema)} does not exist"
            )
        store = self._store_name(table)
        q_table = self._qualify(table, schema)
        q_physical = self._qualify(physical, schema)
        self._resolve_schema(schema)  # warm the current-schema cache OUTSIDE the txn
        with self._statement(transaction=True) as st:
            for i in range(10):
                if not self._probe_on(st, "exists", name=store, schema=schema):
                    break
                if i > 0:
                    log.warning("%s still exists despite previous DROP", q_table)
                kind = (
                    "TABLE"
                    if self._probe_on(st, "is_table", name=store, schema=schema)
                    else "VIEW"
                )
                st.execute(f"DROP {kind} {q_table}")
            self._fault("mid_switch")
            st.execute(f"CREATE VIEW {q_table} AS SELECT * FROM {q_physical}")

    # -- PHASE 4: retention (CopyTool.java:554-602) ------------------------
    def cleanup(
        self, table: str, *, retain: int = RETAIN_VERSIONS, schema: str | None = None
    ) -> list[str]:
        """Drop versions beyond the newest ``retain`` (current + backup),
        never the one the live view references."""
        current = self.current_version(table, schema=schema)
        dropped = []
        for physical in self.table_versions(table, schema=schema)[retain:]:
            if current and physical.lower() == current.lower():
                continue
            self._execute(f"DROP TABLE {self._qualify(physical, schema)}")
            dropped.append(physical)
        return dropped

    def drop_table(self, table: str, *, schema: str | None = None) -> None:
        """Drop the public name and ALL versions (op #15)."""
        if self.exists(table, schema=schema):
            kind = "TABLE" if self.is_table(table, schema=schema) else "VIEW"
            self._execute(f"DROP {kind} {self._qualify(table, schema)}")
        for physical in self.table_versions(table, schema=schema):
            self._execute(f"DROP TABLE {self._qualify(physical, schema)}")

    # -- one-call export ---------------------------------------------------
    def export(
        self,
        df: DataFrame,
        table: str,
        load_date: datetime,
        *,
        method: str = "copy",
        staging_dir: str | None = None,
        schema: str | None = None,
    ) -> str:
        """PHASES 2-4 in one call: load a new version, switch the view,
        reap old versions. Returns the physical name published."""
        if schema:
            self.ensure_schema(schema)
        physical = self.load_version(
            df, table, load_date, method=method, staging_dir=staging_dir, schema=schema
        )
        self._fault("between_load_and_switch")
        self.publish(table, physical, schema=schema)
        self.cleanup(table, schema=schema)
        return physical

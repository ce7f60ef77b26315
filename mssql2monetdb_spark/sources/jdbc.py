"""JDBC connector parity (reference ops #1-2, #9-11 — SURVEY.md §2A).

The reference runs a single forward-only cursor per table and loads through
a COPY INTO / batched-INSERT fallback chain (``CopyTool.java:829-866``).
Spark replaces both ends:

- reads: ``spark.read.format("jdbc")`` with partitioned scans
  (partitionColumn/lowerBound/upperBound/numPartitions) so a 100 TB source
  table is pulled by many executors in parallel, not one cursor;
- writes: ``df.write.format("jdbc")`` with ``batchsize`` (the reference's
  ``batch.size``, default 10000 — ``CopyToolConfig.java:44``) and
  ``isolationLevel=NONE`` as the analog of LOCKED-mode loads
  (``CopyTool.java:990-991``).

Every driver-side statement (catalog probes, DDL, the view switch, the bulk
loader's imports and count) runs through :func:`driver_statement`. The read,
write, bulk-load and warehouse paths are integration-tested against embedded
Derby, which ships with Spark; the MonetDB and PostgreSQL statement shapes
are unit-pinned.
"""

from __future__ import annotations

import logging
import os
import shutil
import zipfile
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession

from ..config.spec import CopyJob, SourceSpec

log = logging.getLogger(__name__)

DEFAULT_BATCH_SIZE = 10_000  # reference batch.size default (CopyToolConfig.java:44)
DEFAULT_NUM_PARTITIONS = 32

#: JDBC url prefix -> dialect key: the dialects with catalog probes
#: (engine/export.py) and a server-side bulk import (:func:`bulk_dialect`)
_URL_DIALECTS = (
    ("jdbc:derby:", "derby"),
    ("jdbc:monetdb:", "monetdb"),
    ("jdbc:postgresql:", "postgresql"),
)


def url_dialect(url: str) -> str | None:
    """The :data:`_URL_DIALECTS` key for a JDBC url; ``None`` when none matches."""
    return next((name for prefix, name in _URL_DIALECTS if url.startswith(prefix)), None)


#: read options that shape a table scan — a pushed query carries none of
#: them: Spark rejects partitioning keys without ``dbtable`` ("users need to
#: specify all or none for ... 'partitionColumn', 'lowerBound',
#: 'upperBound', and 'numPartitions'")
_SCAN_OPTIONS = ("dbtable", "query", "partitionColumn", "lowerBound", "upperBound", "numPartitions")


def jdbc_read_options(source: SourceSpec, job: CopyJob) -> dict[str, str]:
    """Build the spark.read.format('jdbc') option map for a copy job.

    Table mode always uses ``dbtable`` — a declared column projection is
    applied as a Spark-side ``.select`` in :func:`jdbc_reader`, which the
    JDBC source compiles into a pruned SELECT with *dialect-quoted*
    identifiers (hand-built ``SELECT a, b FROM t`` strings break on
    case-normalizing databases; CopyTable.java:314-322 is the reference's
    equivalent pushdown).

    A ``partitionColumn`` without declared bounds is allowed in table mode:
    :func:`jdbc_reader` fills the bounds with one pushed
    ``SELECT MIN(c), MAX(c)`` probe (:func:`probe_partition_bounds`) so a
    spec can opt into a parallel scan without hand-probing — the
    reference's single forward cursor is exactly the failure mode this
    prevents at a 100 TB source. Query mode still requires explicit bounds
    (Spark's partitioned read needs ``dbtable``).
    """
    opts = dict(source.options)
    mode, payload = job.select_source()
    if mode == "table":
        opts["dbtable"] = payload[0]
    else:
        opts["query"] = payload
    # partitioned scan when the spec names a partition column
    if "partitionColumn" in opts:
        opts.setdefault("numPartitions", str(DEFAULT_NUM_PARTITIONS))
        if "dbtable" not in opts:
            # Spark requires dbtable (+bounds) for partitioned reads
            raise ValueError("partitionColumn requires table mode")
    opts.setdefault("fetchsize", str(DEFAULT_BATCH_SIZE))
    return opts


#: SQLStates meaning "this identifier does not resolve" — the ONLY failures
#: where retrying a probe with the other identifier casing is sound. Derby
#: 42X04/42X05 (column/table not found), SQL-Server-class 42S22/42S02,
#: PostgreSQL 42703/42P01. A transient error (lock timeout, connection
#: blip) must NOT fall through to the unquoted form: the store would
#: case-normalize it and could silently resolve a DIFFERENT same-named
#: column where both casings exist (ADVICE r10).
IDENTIFIER_SQLSTATES = ("42X04", "42X05", "42S22", "42S02", "42703", "42P01")


def is_identifier_resolution_error(exc: Exception) -> bool:
    """True when the (possibly py4j-wrapped) SQLException is an
    identifier-resolution failure — the exception text carries the
    SQLState for every dialect this engine probes."""
    text = str(exc)
    return any(code in text for code in IDENTIFIER_SQLSTATES)


def pushed_query(spark: SparkSession, options: dict[str, str], sql: str) -> DataFrame:
    """``sql`` shipped verbatim as the JDBC relation's query, so it runs ON
    the source and only its result rows cross the wire. Every other option
    of the source (url, driver, credentials, fetchsize) rides along."""
    opts = {k: v for k, v in options.items() if k not in _SCAN_OPTIONS}
    opts["query"] = sql
    return spark.read.format("jdbc").options(**opts).load()


def identifier_ladder(probe, what: str):
    """``probe(quoted)`` with the identifier double-quoted first (the
    case-exact columns Spark's writer creates), then bare, so the STORE
    case-normalizes it (a column created unquoted is stored upper- or
    lower-cased and never matches a quoted probe). The bare retry runs only
    on an :data:`IDENTIFIER_SQLSTATES` failure; any other failure of the
    quoted probe surfaces as itself."""
    try:
        return probe(True)
    except Exception as exc:  # noqa: BLE001 — classified below
        if not is_identifier_resolution_error(exc):
            raise
        log.warning(
            "quoted %s failed (identifier resolution) — retrying with the "
            "store-cased unquoted identifier",
            what,
            exc_info=True,
        )
    return probe(False)


def probe_partition_bounds(
    spark: SparkSession, options: dict[str, str], table: str, column: str
) -> tuple[object, object]:
    """One pushed ``SELECT MIN(c), MAX(c)`` — the bounds for a
    range-partitioned scan, computed ON the source so exactly one row
    crosses the wire (the same probe shape as the watermark trigger;
    Spark's V1 JDBC relation would otherwise pull the whole column for a
    Spark-side agg), through :func:`identifier_ladder`. Returns
    ``(None, None)`` only when the table is empty."""

    def bounds(quoted: bool) -> tuple[object, object]:
        ident = f'"{column}"' if quoted else column
        sql = f"SELECT MIN({ident}) AS lo, MAX({ident}) AS hi FROM {table}"
        lo, hi = pushed_query(spark, options, sql).collect()[0]
        return lo, hi

    return identifier_ladder(bounds, f"bounds probe for {table}.{column}")


def jdbc_reader(spark: SparkSession, source: SourceSpec, job: CopyJob) -> DataFrame:
    opts = jdbc_read_options(source, job)
    if "partitionColumn" in opts and not (
        "lowerBound" in opts and "upperBound" in opts
    ):
        lo, hi = probe_partition_bounds(
            spark, source.options, opts["dbtable"], opts["partitionColumn"]
        )
        if lo is None:
            # empty table: nothing to range-split — single (empty) scan
            for k in ("partitionColumn", "lowerBound", "upperBound", "numPartitions"):
                opts.pop(k, None)
        else:
            opts["lowerBound"], opts["upperBound"] = str(lo), str(hi)
    df = spark.read.format("jdbc").options(**opts).load()
    mode, payload = job.select_source()
    if mode == "table" and payload[1]:
        # column pruning: compiled into the source-side SELECT by the JDBC
        # relation (visible as a narrowed ReadSchema), dialect-quoted
        df = df.select(*payload[1])
    return df


def jdbc_write_options(source: SourceSpec, table: str, *, locked_mode: bool = True) -> dict[str, str]:
    """Writer options: batchsize + isolation analog of LOCKED loads."""
    opts = dict(source.options)
    opts["dbtable"] = table
    opts.setdefault("batchsize", str(DEFAULT_BATCH_SIZE))
    if locked_mode:
        opts.setdefault("isolationLevel", "NONE")
    return opts


def jdbc_writer(df: DataFrame, source: SourceSpec, table: str, *, mode: str = "append", locked_mode: bool = True) -> None:
    (
        df.write.format("jdbc")
        .options(**jdbc_write_options(source, table, locked_mode=locked_mode))
        .mode(mode)
        .save()
    )


#: CSV staging conventions for the bulk-load path — Derby's import proc
#: reads comma-separated, double-quote-delimited fields with doubled
#: embedded quotes; empty-UNQUOTED means NULL, quoted "" means empty string
#: (Spark's write defaults emit exactly that split). Timestamp/date render
#: in Derby's JDBC-escape shapes; the 6-digit fraction carries Spark's full
#: microsecond timestamp precision (Derby's import parses fractions up to
#: nanoseconds — the reference's Timestamp.toString() staging likewise
#: keeps the full fraction, CopyTool.java:695-721).
BULK_CSV_OPTIONS = {
    "header": "false",
    "quote": '"',
    "escape": '"',
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "dateFormat": "yyyy-MM-dd",
}


def bulk_dialect(url: str) -> str:
    """Dialect key for a JDBC url's server-side bulk-import support.

    Raises ``ValueError`` for dialects without a known server-side COPY —
    the loader then degrades to the distributed INSERT path up front
    (before any staging I/O)."""
    dialect = url_dialect(url)
    if dialect is None:
        raise ValueError(f"no server-side bulk import for JDBC url {url.split(':', 2)[:2]}")
    return dialect


def monetdb_staged_frame(df: DataFrame) -> DataFrame:
    """Render a frame into MonetDB staging lines — ONE string column
    ``value`` per record, serialized exactly like the reference's writer
    (``CopyTool.java:691-733``):

    - NULL is the bare, UNQUOTED two-character token ``\\N``;
    - every non-null value is double-quoted, with backslash escaping
      inside the quotes (``\\`` -> ``\\\\`` then ``"`` -> ``\\"``,
      the reference's replace order);
    - fields joined by ``,``, records by ``\\n`` — the exact dialect the
      COPY statement declares (``USING DELIMITERS ',','\\n','\"' NULL AS
      '\\\\N'``, ``CopyTool.java:1058``).

    Spark's csv writer cannot express this split: with ``quoteAll`` it
    quotes the nullValue token too, so a staged NULL becomes ``"\\N"`` —
    byte-identical to a quoted literal-``\\N`` data value, and string
    NULLs would round-trip as the 2-char literal with no row-count
    shortfall to trip the loader's verification. Rendering the line
    JVM-side (when/concat/replace — whole-stage codegen, no Python) is
    the only serializer that keeps the null token unquoted while quoting
    all data.

    Timestamps render at full microsecond precision, dates ISO, binary
    hex — the same conventions as the csv staging path.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fields = []
    for f in df.schema.fields:
        col = F.col(f.name)
        if isinstance(f.dataType, T.BinaryType):
            rendered = F.hex(col)
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            rendered = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        elif isinstance(f.dataType, T.DateType):
            rendered = F.date_format(col, "yyyy-MM-dd")
        else:
            rendered = col.cast("string")
        escaped = F.replace(
            F.replace(rendered, F.lit("\\"), F.lit("\\\\")),
            F.lit('"'),
            F.lit('\\"'),
        )
        fields.append(
            F.when(col.isNull(), F.lit("\\N")).otherwise(
                F.concat(F.lit('"'), escaped, F.lit('"'))
            )
        )
    return df.select(F.concat_ws(",", *fields).alias("value"))


def stage_bulk_frame(df: DataFrame, url: str, stage_dir: str) -> None:
    """Distributed staging write, dialect-dispatched serializer.

    Derby/PostgreSQL: Spark's csv writer with :data:`BULK_CSV_OPTIONS`
    (RFC4180 doubled quotes; unquoted-empty = NULL — both stores' native
    csv import dialect). MonetDB: the reference's serializer re-expressed
    as :func:`monetdb_staged_frame` written through the text source —
    backslash-escaped quoting with a bare unquoted ``\\N`` null token,
    which the csv writer cannot produce."""
    if bulk_dialect(url) == "monetdb":
        monetdb_staged_frame(df).write.mode("overwrite").text(stage_dir)
        return
    writer = df.write.mode("overwrite")
    for k, v in BULK_CSV_OPTIONS.items():
        writer = writer.option(k, v)
    writer.csv(stage_dir)


def server_bulk_import_sql(url: str, table: str, path: str) -> tuple[str, list[str]]:
    """One staged part file's server-side bulk-import statement —
    the reference's COPY INTO builder re-expressed per dialect
    (``CopyTool.java:1042-1071``). Returns ``(sql, params)``; empty
    params means plain ``execute``.

    - Derby: ``SYSCS_UTIL.SYSCS_IMPORT_TABLE`` (parameterized call; the
      integration-tested path — embedded Derby ships with Spark).
    - MonetDB: the reference's statement verbatim —
      ``COPY INTO t FROM 'file' USING DELIMITERS ',','\\n','\"'
      NULL AS '\\\\N' LOCKED``. ``LOCKED`` is the reference's default-on
      use-locked-mode flag (``CopyTable.java:66``,
      ``CopyTool.java:990-991``), safe on every import here: each one
      targets a table :func:`jdbc_bulk_loader` has just created and no
      reader uses yet (on the sink, an unpublished version). Statement-shape
      parity is unit-pinned;
      the test suite has no MonetDB server, so the path is
      integration-ready rather than integration-proven.
    - PostgreSQL: server-side ``COPY ... FROM ... (FORMAT csv)`` —
      requires the file be readable by the SERVER process, the same
      visibility contract as the other two.
    """
    dialect = bulk_dialect(url)
    esc = path.replace("'", "''")
    if dialect == "derby":
        # the import proc takes schema and table as SEPARATE case-sensitive
        # arguments (NULL schema = the connection's default); a qualified
        # name is split here while MonetDB/PG COPY take it verbatim
        schema, _, bare = table.rpartition(".")
        call = "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(?, ?, ?, NULL, NULL, 'UTF-8', 0)"
        if schema:
            return (call, [schema.upper(), bare.upper(), path])
        return (
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, NULL, NULL, 'UTF-8', 0)",
            [bare.upper(), path],
        )
    if dialect == "monetdb":
        return (
            f"COPY INTO {table} FROM '{esc}'"
            " USING DELIMITERS ',','\\n','\"' NULL AS '\\\\N' LOCKED",
            [],
        )
    return (
        f"COPY {table} FROM '{esc}' WITH (FORMAT csv, QUOTE '\"', ESCAPE '\"')",
        [],
    )


def driver_connection(spark: SparkSession, options: dict[str, str]):
    """Driver-side java.sql.Connection honoring the FULL option map — the
    ``driver`` class is loaded explicitly and ``user``/``password`` travel
    as connection properties (DriverManager.getConnection(url) alone
    silently drops credentials, which no embedded-Derby test ever catches
    because Derby needs none)."""
    jvm = spark._jvm  # noqa: SLF001
    if options.get("driver"):
        jvm.java.lang.Class.forName(options["driver"])
    props = jvm.java.util.Properties()
    for key in ("user", "password"):
        if options.get(key):
            props.setProperty(key, options[key])
    return jvm.java.sql.DriverManager.getConnection(options["url"], props)


@contextmanager
def driver_statement(spark: SparkSession, options: dict[str, str], *, transaction: bool = False):
    """A statement on a fresh driver connection; the statement and the
    connection are closed on every exit path. This is the one place the
    engine opens a driver-side connection.

    With ``transaction`` the block runs with auto-commit off and commits
    when it exits normally. A block that raises — or a commit that
    fails — is rolled back BEFORE close: embedded Derby raises SQLState
    25001 from close() on an active transaction, which would mask the
    original failure and leak the connection, and a failed view switch
    must leave readers on the OLD view."""
    conn = driver_connection(spark, options)
    committed = False
    try:
        if transaction:
            conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            yield st
        finally:
            st.close()
        if transaction:
            conn.commit()
            committed = True
    finally:
        if transaction and not committed:
            try:
                conn.rollback()
            except Exception:  # noqa: BLE001 — closing anyway
                log.warning("rollback before close failed", exc_info=True)
        conn.close()


def _import_one_part(st, url: str, table: str, part: str) -> None:
    sql, params = server_bulk_import_sql(url, table, part)
    if not params:
        st.execute(sql)
        return
    cs = st.getConnection().prepareCall(sql)
    try:
        for i, p in enumerate(params, start=1):
            cs.setString(i, p)
        cs.execute()
    finally:
        cs.close()


def insert_load(spark: SparkSession, df: DataFrame, source: SourceSpec, table: str, ddl: str) -> str:
    """CREATE ``table`` from ``ddl`` and load ``df`` through the distributed
    batched :func:`jdbc_writer` — the INSERT end of the reference's
    degradation chain (``CopyTool.java:829-866``). Returns ``"insert"``."""
    with driver_statement(spark, source.options) as st:
        st.execute(f"CREATE TABLE {table} ({ddl})")
    jdbc_writer(df, source, table, mode="append")
    return "insert"


def jdbc_bulk_loader(
    spark: SparkSession,
    df: DataFrame,
    source: SourceSpec,
    table: str,
    *,
    table_ddl: str | None = None,
    staging_dir: str | None = None,
    expected_count: int | None = None,
    import_lock=None,
) -> str:
    """Staged-CSV bulk load — the reference's COPY INTO path
    (``CopyTool.java:1042-1071``), with the reference's own degradation
    chain (COPY-from-file -> batched INSERT, ``CopyTool.java:829-866``)
    re-expressed for Spark. Returns the path that loaded the table:
    ``"copy"`` (server-side bulk import) or ``"insert"`` (the distributed
    :func:`jdbc_writer` fallback).

    1. executors stage the frame as part files (distributed write, no
       database connection on any executor) — serializer dispatched by
       dialect (:func:`stage_bulk_frame`: RFC4180 csv for Derby/PG, the
       reference's backslash-escaped lines with bare ``\\N`` nulls for
       MonetDB);
    2. the driver creates the table (DDL from the engine's schema mapper
       unless ``table_ddl`` pins explicit types) and issues ONE server-side
       bulk-import call per part file, in order, on one connection,
       dialect-dispatched by :func:`server_bulk_import_sql` (Derby:
       ``SYSCS_UTIL.SYSCS_IMPORT_TABLE``; MonetDB: the reference's
       ``COPY INTO ... USING DELIMITERS ... NULL AS '\\N' LOCKED``
       statement verbatim, with ``\\N``-staged nulls; PostgreSQL:
       ``COPY ... (FORMAT csv)``). A dialect with no known server-side
       COPY degrades to the INSERT path BEFORE staging;
    3. the loaded row count is verified against the frame's count (the
       reference's pre-load count file, ``CopyTool.java:643-649``). Any
       shortfall — zero staged part files, an import error, or a count
       mismatch — means the staging path was not fully server-visible:
       the half-load is dropped and the table is reloaded through the
       distributed batched-INSERT :func:`jdbc_writer`, exactly the
       reference's fallback order.

    The staged part files are removed once the import is done, on success
    and before the INSERT fallback (which reads ``df``, not the files);
    a driver-local tmpdir made for want of ``staging_dir`` goes with them.

    **Cluster contract**: ``staging_dir`` (default: a driver-local tmpdir)
    must be a filesystem BOTH the executors and the database server can
    see — on a multi-node cluster that means shared storage (NFS/HDFS
    fuse), the same constraint the reference documents for COPY INTO FROM
    file (``CopyTool.java:756-870``). When it is not (executors committed
    part files to their own local disks, so the driver-side glob sees a
    partial set), the count verification catches the shortfall and the
    loader degrades to the INSERT path instead of silently importing a
    partial table.

    ``expected_count`` lets callers that already counted the extract (the
    engine's pre-scan count, op #4) skip the extra count job here.

    ``import_lock``, when given, is held around step 2 and the count check
    (not the staging write), so loads that share it stage concurrently but
    import one at a time, as the reference does on its one connection per
    database. Two concurrent Derby imports can otherwise wait on each
    other's locks on the stored statements the import procedure
    recompiles, until one fails after Derby's 60 s lock timeout (SQLState
    40XL1) and degrades to INSERT.

    BinaryType columns are hex-encoded at staging (Derby's documented
    import representation for BLOB data without LOB side-files).
    """
    import glob
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..schema.mapper import spark_schema_to_derby_ddl

    url = source.options["url"]
    # derive DDL before staging: an unmappable column fails loudly here
    # (UnknownSqlTypeError) instead of after a useless distributed write
    ddl = table_ddl if table_ddl is not None else spark_schema_to_derby_ddl(df.schema)
    # dialect gate, also before staging: a target with no server-side COPY
    # degrades straight to the INSERT path (no useless distributed write)
    try:
        bulk_dialect(url)
    except ValueError as exc:
        log.warning("bulk load of %s degraded to INSERT path: %s", table, exc)
        return insert_load(spark, df, source, table, ddl)
    if expected_count is None:
        expected_count = df.count()
    staged = df.select(
        *[
            F.hex(F.col(f.name)).alias(f.name)
            if isinstance(f.dataType, T.BinaryType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )
    base_dir = staging_dir or tempfile.mkdtemp(prefix="jdbc_bulk_")
    csv_dir = os.path.join(base_dir, f"stage_{table}")
    try:
        stage_bulk_frame(staged, url, csv_dir)
        with import_lock or nullcontext(), driver_statement(spark, source.options) as st:
            st.execute(f"CREATE TABLE {table} ({ddl})")
            failure: str | None = None
            parts = sorted(glob.glob(os.path.join(csv_dir, "part-*")))
            if not parts and expected_count > 0:
                failure = f"no staged part files visible at {csv_dir}"
            else:
                # dialect-dispatched server-side import, one call per part
                # file (Derby: parameterized SYSCS_IMPORT_TABLE — unquoted
                # CREATE stores the name uppercase and the proc matches its
                # tablename argument case-SENSITIVELY; MonetDB/PostgreSQL:
                # plain COPY). Sequential on one connection: server-side
                # COPY serializes on the table lock in Derby and MonetDB,
                # and the reference holds one connection per database.
                try:
                    for part in parts:
                        _import_one_part(st, url, table, part)
                except Exception as exc:  # noqa: BLE001 — degrade per reference chain
                    failure = f"server-side import failed: {exc}"
            if failure is None:
                rs = st.executeQuery(f"SELECT COUNT(*) FROM {table}")
                rs.next()
                loaded = int(rs.getLong(1))
                if loaded != expected_count:
                    failure = (
                        f"bulk load row-count mismatch: imported {loaded}, "
                        f"expected {expected_count} (staging dir {csv_dir} "
                        f"not fully server-visible?)"
                    )
            if failure is None:
                return "copy"
            # The reference's COPY-file -> INSERT degradation
            # (CopyTool.java:829-866): drop the half-load, recreate with the
            # same DDL, reload through the distributed batched writer.
            log.warning("bulk load of %s degraded to INSERT path: %s", table, failure)
            try:
                st.execute(f"DROP TABLE {table}")
            except Exception:  # noqa: BLE001 — table absent: nothing to drop
                pass
    finally:
        shutil.rmtree(csv_dir if staging_dir else base_dir, ignore_errors=True)
    return insert_load(spark, df, source, table, ddl)


def derby_shutdown(spark: SparkSession, db_path: str) -> None:
    """Cleanly shut down ONE embedded-Derby database (flushes the log so a
    filesystem snapshot of the directory is consistent). Derby signals a
    successful single-db shutdown by RAISING SQLState 08006 — so that state
    is swallowed, and anything else (database not found, boot failure — the
    cases where a subsequent snapshot would zip an unflushed store) is
    re-raised loudly."""
    try:
        spark._jvm.java.sql.DriverManager.getConnection(  # noqa: SLF001
            f"jdbc:derby:{db_path};shutdown=true"
        )
    except Exception as exc:
        jexc = getattr(exc, "java_exception", None)
        state = None
        if jexc is not None:
            try:
                state = jexc.getSQLState()
            except Exception:  # noqa: BLE001 — not an SQLException
                state = None
        if state == "08006":
            return  # Derby's documented success signal
        raise
    raise RuntimeError(
        f"derby shutdown of {db_path!r} returned a connection instead of "
        "raising SQLState 08006 — the database was not shut down"
    )


def derby_snapshot_jar(spark: SparkSession, db_path: str, *, tag: str | None = None) -> str:
    """Freeze an embedded-Derby database into a read-only ``jar:`` snapshot
    every JVM can open concurrently.

    Embedded Derby allows exactly ONE booting JVM per database directory
    (db.lck), so a ``local-cluster`` / real-cluster partitioned read of a
    driver-written fixture db would crash in executor boots. Derby's
    documented escape is the read-only jar subprotocol
    (``jdbc:derby:jar:(file.jar)dbname``): each JVM boots its own
    lock-free read-only instance. This turns the sandbox's embedded
    fixture into a URL reachable from every executor — the same shape as
    a real deployment's server URL (multi-executor probe: SCALE.md r8).

    Returns the jar-subprotocol JDBC url for the snapshot.

    ``tag`` makes the jar FILENAME unique: Derby identifies a jar database
    by its full subprotocol URL and keeps it BOOTED for the JVM's
    lifetime, so re-snapshotting to the same path silently serves the
    FIRST snapshot's content forever (callers re-snapshotting an evolving
    db — e.g. per micro-batch — must tag each snapshot).
    """
    derby_shutdown(spark, db_path)
    parent = os.path.dirname(db_path)
    name = os.path.basename(db_path)
    fname = f"{name}-{tag}.jar" if tag else f"{name}.jar"
    jar_path = os.path.join(parent, fname)
    with zipfile.ZipFile(jar_path, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(db_path):
            for fname in files:
                full = os.path.join(root, fname)
                zf.write(full, os.path.relpath(full, parent))
    return f"jdbc:derby:jar:({jar_path}){name}"


def partition_bounds_options(
    partition_column: str, lower: int, upper: int, *, num_partitions: int = DEFAULT_NUM_PARTITIONS
) -> dict[str, str]:
    """Options enabling Spark's range-partitioned JDBC scan.

    At cluster scale this is what turns the reference's single forward
    cursor into N concurrent range queries; bounds come from a cheap
    ``SELECT MIN(c), MAX(c)`` probe on the source (the same probe shape as
    the watermark trigger)."""
    if lower > upper:
        raise ValueError(f"lower bound {lower} > upper bound {upper}")
    return {
        "partitionColumn": partition_column,
        "lowerBound": str(lower),
        "upperBound": str(upper),
        "numPartitions": str(max(1, num_partitions)),
    }

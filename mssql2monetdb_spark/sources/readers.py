"""Source readers & the reference-compatible CSV sink.

The reference spools extracts to CSV with ``\\N`` nulls, always-quoted
fields and backslash escaping (``CopyTool.java:50,697-730``); our staging is
Parquet (schema+count carried natively), but the CSV conventions are kept as
a compat sink/source for interop with the reference's files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..config.spec import CopyJob, SourceSpec
from .footers import ParquetTable
from .jdbc import jdbc_reader

#: Reference CSV conventions (CopyTool.java:50 NULL sentinel; 716-722 escaping)
CSV_OPTIONS = {
    "nullValue": r"\N",
    "quote": '"',
    "escape": "\\",
    "header": "true",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
}


def read_source(
    spark: SparkSession,
    source: SourceSpec,
    job: CopyJob,
    resolved: dict[str, ParquetTable | DataFrame] | None = None,
) -> DataFrame:
    """Extract phase: produce the source DataFrame for a copy job.

    File sources: table mode reads ``<path>/<table>.parquet`` (or csv) with
    column pruning pushed to the scan; query mode registers every table file
    in the directory as a temp view and evaluates the SQL natively in Spark
    (the reference ships it verbatim to the source DB —
    ``CopyToolConfig.java:856-867``; we ARE the query engine).
    JDBC sources: partitioned reads via the options builder in ``jdbc.py``.

    ``resolved`` is a per-run memo of table-file path -> resolution (see
    :func:`_read_table_file`); ``None`` resolves every path afresh.
    """
    mode, payload = job.select_source()
    if source.format == "jdbc":
        return jdbc_reader(spark, source, job)

    if mode == "table":
        table, columns = payload
        df = _read_table_file(spark, source, table, resolved)
        if columns:
            df = df.select(*columns)  # projection pushdown (CopyTable.java:314-322)
        return df

    # query mode: register all tables present in the source dir, then spark.sql
    register_source_views(spark, source, resolved)
    return spark.sql(payload)


def resolve_parquet(
    source: SourceSpec,
    table: str,
    resolved: dict[str, ParquetTable | DataFrame] | None = None,
) -> ParquetTable:
    """The run's record of the parquet table file ``table``: one footer
    pass (``sources/footers.py``), kept in ``resolved`` so the trigger
    probe, the extract, view registration and the empty guard share it."""
    path = os.path.join(source.path, f"{table}.parquet")
    if resolved is not None and path in resolved:
        return resolved[path]
    record = ParquetTable(path)
    if resolved is not None:
        resolved[path] = record
    return record


def _read_table_file(
    spark: SparkSession,
    source: SourceSpec,
    table: str,
    resolved: dict[str, ParquetTable | DataFrame] | None = None,
) -> DataFrame:
    """Resolve one table file. A parquet table reads through its
    :func:`resolve_parquet` record: the schema from its footers, no Spark
    job, unless the record falls back to Spark's inference. The other
    formats list the files and infer the schema as they are read. With
    ``resolved`` the first resolution of a path is kept and returned on
    every later call, so one copy run lists and resolves each source once
    and all of its reads (trigger probe, extract, view registration, empty
    guard) see the same files: ``resolved`` maps a parquet path to its
    record and any other path to its frame."""
    if source.format == "parquet":
        return resolve_parquet(source, table, resolved).read(spark)
    path = os.path.join(source.path, f"{table}.{source.format}")
    if resolved is not None and path in resolved:
        return resolved[path]
    if source.format == "csv":
        df = spark.read.options(**CSV_OPTIONS, inferSchema="true").csv(path)
    elif source.format == "json":
        df = spark.read.json(path)  # JSON-lines
    else:
        df = spark.read.orc(path)
    if resolved is not None:
        resolved[path] = df
    return df


def register_source_views(
    spark: SparkSession,
    source: SourceSpec,
    resolved: dict[str, ParquetTable | DataFrame] | None = None,
) -> None:
    """(Re-)register every table file in a file source dir as a temp view.

    Temp views are session-global and bare-named (the job SQL references bare
    table names, reference ``CopyToolConfig.java:856-867``), so two query-mode
    sources with same-named tables shadow each other. Any SQL evaluated
    against a source (extract query, count_query) must call this immediately
    beforehand so the views it sees are *this* source's. ``resolved`` is
    passed to :func:`_read_table_file`.
    """
    if source.format == "jdbc":
        return
    suffix = f".{source.format}"
    for fname in sorted(os.listdir(source.path)):
        if fname.endswith(suffix):
            table = fname[: -len(suffix)]
            _read_table_file(spark, source, table, resolved).createOrReplaceTempView(table)


def write_csv_compat(df: DataFrame, path: str) -> None:
    """Reference-convention CSV sink: ``\\N`` nulls, quoted+escaped fields.

    Spark-internal round-trip surface: Spark's reader matches ``nullValue``
    after unquoting, so the quoted ``"\\N"`` this writer emits for NULL
    reads back as NULL through :data:`CSV_OPTIONS`. It is NOT a bulk-load
    staging format — a server-side COPY parser distinguishes the quoted
    token from the bare one; that path uses
    :func:`..jdbc.monetdb_staged_frame`, which keeps the null token
    unquoted exactly like the reference's serializer."""
    df.write.mode("overwrite").options(**CSV_OPTIONS, quoteAll="true").csv(path)

"""One footer pass per parquet table per run.

A copy run resolves each local parquet table once into a
:class:`ParquetTable`: the data files Spark's listing reads, each file's
footer (read with pyarrow) and the Spark schema. The trigger probe
(``engine/watermark.probe_max_footer``), the empty guard
(:meth:`ParquetTable.rows`), the extract, query-mode view registration and
the ``count_query`` re-registration all use that one record, so no Spark
job infers a schema, counts rows or probes a maximum that the footers
already hold (Dremel's metadata-instead-of-scan, VLDB 2020). The reference
keeps the same facts beside each extract, a schema file and a row-count
file (``CopyTool.java:635-750``).

Without ``mergeSchema``, ``spark.read.parquet`` infers the schema from ONE
footer: a summary file's, else any data file's (``ParquetUtils.inferSchema``).
When every data file's footer holds the same parquet schema and the same
Spark row metadata, any one of them gives that schema. The record then
converts one footer on the driver with Spark's own converter
(``ParquetFileFormat.readSchemaFromFooter``) and reads the table directory
with ``spark.read.schema(s).parquet(path)``: no Spark job. It falls back to
Spark's inference, and logs why once per table per run, when

- the path is not local, cannot be listed or holds no data file;
- a footer cannot be read;
- the table has subdirectories (hive partitions);
- a ``_metadata`` or ``_common_metadata`` summary is listed: Spark takes
  the schema from it;
- the footers differ in their parquet schema or in Spark's row metadata;
- ``spark.sql.parquet.mergeSchema`` is on.

The reader is given the table directory, not a file list: Spark lists more
than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` root paths
with a Spark job, and a polled table gains a file with every delta. Spark's
own listing then pins the files the run reads. A file that Spark lists and
the footer pass missed (it landed in between) has its footer read and
checked before the record is used; a file that is gone is dropped.
"""

from __future__ import annotations

import functools
import json
import logging
import os
from types import SimpleNamespace
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

#: the footer key under which Spark records the schema it wrote
#: (``ParquetReadSupport.SPARK_METADATA_KEY``)
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


class FooterFallback(Exception):
    """The parquet footers cannot give Spark's exact answer; the message
    says why. The caller asks Spark instead."""


def hidden(name: str) -> bool:
    """True for a name that holds no table data under Spark's file listing
    (``HadoopFSUtils.shouldFilterOutPathName``): ``.`` prefixes, ``_``
    prefixes other than partition directories (``_kb=3``), and in-flight
    ``._COPYING_`` files. Spark still lists the ``_metadata`` and
    ``_common_metadata`` summaries (:func:`summary`) but reads no rows
    from them."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def summary(name: str) -> bool:
    """True for a parquet summary file, which Spark lists but reads no rows
    from."""
    return name.startswith(("_metadata", "_common_metadata"))


def _local_path(path: str) -> str:
    """``path`` on the local file system; raises :class:`FooterFallback`
    for any other URI scheme."""
    uri = urlparse(path)
    if uri.scheme not in ("", "file") or uri.netloc not in ("", "localhost"):
        raise FooterFallback(f"{path} is not a local path")
    return uri.path if uri.scheme else path


def _read_footer(file: str):
    """The pyarrow ``FileMetaData`` of one local parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return pq.read_metadata(file)
    except (OSError, pa.ArrowException) as exc:
        raise FooterFallback(f"unreadable footer {file}: {exc}") from exc


def _same_schema(a, b) -> bool:
    """True when Spark infers the same schema from footers ``a`` and ``b``."""
    return a.schema.equals(b.schema) and _row_metadata(a) == _row_metadata(b)


def _row_metadata(md) -> bytes | None:
    return (md.metadata or {}).get(SPARK_ROW_METADATA)


@functools.cache
def _jvm_classes(jvm) -> SimpleNamespace:
    """The JVM classes :func:`_spark_schema` calls, looked up once per
    gateway: py4j resolves each name segment with a round trip, which cost
    more than the conversion itself."""
    parquet = jvm.org.apache.parquet
    spark_parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        ParquetFileReader=parquet.hadoop.ParquetFileReader,
        SKIP_ROW_GROUPS=parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        Footer=parquet.hadoop.Footer,
        ParquetToSparkSchemaConverter=spark_parquet.ParquetToSparkSchemaConverter,
        ParquetFileFormat=spark_parquet.ParquetFileFormat,
    )


def _spark_schema(spark: SparkSession, file: str) -> StructType:
    """What ``spark.read.parquet`` infers from the footer of ``file``,
    converted on the driver by Spark's own code under the session's
    settings: no Spark job."""
    jvm = _jvm_classes(spark._jvm)
    path = jvm.Path("file", None, file)
    footer = jvm.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(), path, jvm.SKIP_ROW_GROUPS
    )
    converter = jvm.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf())
    schema = jvm.ParquetFileFormat.readSchemaFromFooter(jvm.Footer(path, footer), converter)
    return StructType.fromJson(json.loads(schema.asNullable().json()))


class ParquetTable:
    """One parquet table of a run, resolved by one footer pass (module
    docstring).

    ``files`` are the data files, sorted: the footer pass's until
    :meth:`read`, then the ones Spark's listing holds. ``footers`` maps a
    file to its footer. ``unread`` says why ``files`` are unknown to the
    footer pass (the probe then asks Spark; ``files`` is ``None`` unless
    Spark's listing gave them). ``fallback`` says why the schema comes
    from Spark's inference; ``None`` means the footers give it."""

    def __init__(self, path: str):
        self.path = path
        self.files: list[str] | None = None
        self.footers: dict = {}
        self.unread: str | None = None
        self.fallback: str | None = None
        self._root: str | None = None
        self._frame: DataFrame | None = None
        try:
            self._scan()
        except FooterFallback as exc:
            self.unread = self.fallback = str(exc)

    def _scan(self) -> None:
        local = os.path.abspath(_local_path(self.path))
        if os.path.isfile(local):
            self._root, names = os.path.dirname(local), [os.path.basename(local)]
        else:
            self._root = local
            try:
                entries = [e for e in os.scandir(local) if not hidden(e.name) or summary(e.name)]
            except OSError as exc:
                raise FooterFallback(f"cannot list {local}: {exc}") from exc
            if any(e.is_dir() for e in entries):
                raise FooterFallback(f"{local} has subdirectories (hive partitions)")
            names = [e.name for e in entries]
        files = sorted(os.path.join(self._root, n) for n in names if not summary(n))
        if not files:
            raise FooterFallback(f"{local} holds no data file")
        self.footers = {f: _read_footer(f) for f in files}
        self.files = files
        listed = [n for n in names if summary(n)]
        if listed:
            self.fallback = f"{local} lists the summary file {listed[0]}"
        else:
            first = self.footers[files[0]]
            odd = [f for f in files[1:] if not _same_schema(self.footers[f], first)]
            if odd:
                self.fallback = f"{odd[0]} and {files[0]} differ in their parquet or Spark schema"

    def probe_footers(self) -> list[tuple[str, object]]:
        """``(file, footer)`` of every data file, for the trigger probe;
        raises :class:`FooterFallback` when the footer pass could not read
        them."""
        if self.unread is not None:
            raise FooterFallback(self.unread)
        return [(f, self.footers[f]) for f in self.files]

    def read(self, spark: SparkSession) -> DataFrame:
        """The table's frame, built once per record: with the footers'
        schema, or by Spark's inference when the record falls back."""
        if self._frame is None:
            self._frame = self._read(spark)
        return self._frame

    def _read(self, spark: SparkSession) -> DataFrame:
        reason = self.fallback
        if reason is None and spark.conf.get("spark.sql.parquet.mergeSchema").strip().lower() == "true":
            reason = "spark.sql.parquet.mergeSchema is on"
        if reason is None:
            df = spark.read.schema(_spark_schema(spark, self.files[0])).parquet(self.path)
            try:
                self._pin(df.inputFiles(), check=True)
                return df
            except FooterFallback as exc:
                reason = str(exc)
        log.info("parquet table %s takes its schema from Spark's inference: %s", self.path, reason)
        self.fallback = reason
        df = spark.read.parquet(self.path)
        try:
            self._pin(df.inputFiles(), check=False)
        except FooterFallback as exc:
            self.files, self.unread = None, str(exc)
        return df

    def _pin(self, uris: list[str], *, check: bool) -> None:
        """Take Spark's listing ``uris`` as the record's files. With
        ``check``, the listing must be what the footers' schema holds for:
        local files at the table's root, no summary, and the footer of any
        file the footer pass missed equal to the others'."""
        files = []
        for uri in uris:
            u = urlparse(uri)
            if u.scheme != "file" or u.netloc not in ("", "localhost"):
                raise FooterFallback(f"Spark lists {uri}, not a local file")
            f = unquote(u.path)
            if summary(os.path.basename(f)):
                if check:
                    raise FooterFallback(f"Spark lists the summary file {f}")
                continue
            files.append(f)
        if check:
            first = self.footers[self.files[0]]
            for f in files:
                if os.path.dirname(f) != self._root:
                    raise FooterFallback(f"Spark lists {f} below {self._root} (hive partitions)")
                if f not in self.footers:
                    self.footers[f] = _read_footer(f)
                    if not _same_schema(self.footers[f], first):
                        raise FooterFallback(f"{f} landed with a different parquet or Spark schema")
        self.files = sorted(files)

    def rows(self) -> int:
        """The table's row count, summed from its data files' footers: no
        Spark job. Raises :class:`FooterFallback` when a file is not local,
        a footer cannot be read or there is no data file."""
        if self.files is None:
            raise FooterFallback(self.unread)
        if not self.files:
            raise FooterFallback("no data file is listed")
        for f in self.files:
            if f not in self.footers:
                self.footers[f] = _read_footer(f)
        return sum(self.footers[f].num_rows for f in self.files)

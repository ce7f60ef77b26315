"""Watermark trigger: change detection that skips unchanged sources.

Ports the decision table of ``CopyTool.checkForNewData``
(``CopyTool.java:332-477``) exactly — the fail-open rules matter:

| condition                                   | verdict        | ref |
|---------------------------------------------|----------------|-----|
| no trigger configured                       | run            | 186-190 |
| probe returns no rows / NULL max            | run (fail-open)| 352 |
| probe raises                                | run (fail-open)| 375-381 |
| no persisted state                          | run            | 420-427 |
| state checksum != current spec checksum     | run            | 434-438 |
| state type != probe type                    | run            | 428-433 |
| probe value > state value (typed compare)   | run            | 444-473 |
| otherwise                                   | SKIP (exit 2)  | 95-98 |

How the probe is taken, by the source that holds the trigger table (the
job's ``trigger.source`` when set, else the job's own source):

| source                                  | probe                              |
|-----------------------------------------|------------------------------------|
| JDBC table, any dialect                 | source-side ``SELECT MAX`` (:func:`probe_max_jdbc`) |
| local parquet table                     | footer statistics (:func:`probe_max_footer`), no Spark job |
| anything the footer cannot answer       | Spark ``agg(max)`` scan (:func:`probe_max`) |

The footer probe answers from the row-group min/max the parquet writer
recorded (Dremel's metadata-instead-of-scan, VLDB 2020), typed exactly as
:func:`probe_max` types Spark's answer. It reads the footers of the run's
one footer pass over the table (``sources/footers.py:ParquetTable``), which
the extract's schema and the empty guard's count share, so the probe lists
and reads no file of its own. The run takes the Spark probe instead, and
logs why once per job (:class:`FooterFallback`'s message), when the source
is CSV/JSON/ORC; the footer pass could not read the table: the path has a
URI scheme other than ``file:``, the table directory has subdirectories
(hive partitions), no data file is listed or a footer cannot be read (the
pass's own fallbacks, which send the schema to Spark's inference too); the
column is missing, nested, quoted or dotted, or matches no or several
names under Spark's name resolution; its parquet type differs between
files; it is INT96, unsigned, NANOS or outside
bigint/int/smallint/tinyint/date/timestamp; a date or timestamp lies
before 1900 (where Spark may rebase legacy calendar values); or a
non-empty row group lacks min/max and is not all-null. A table whose
schema alone falls back (a listed summary file, footers whose schemas
differ, ``mergeSchema``) keeps the footer probe: it reads only the data
files, and checks the column's type in each.

State is persisted ONLY after a fully successful run
(``CopyTool.java:305-309``) — a failed run re-processes.
"""

from __future__ import annotations

import json
import logging
import os
from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

from ..sources.footers import FooterFallback, ParquetTable
from ..sources.jdbc import identifier_ladder, pushed_query
from .fs import LocalFS

log = logging.getLogger(__name__)

_TYPES = ("bigint", "date", "timestamp")


@dataclass(frozen=True)
class Watermark:
    value: int | date | datetime
    type_name: str  # one of _TYPES

    def to_json(self) -> dict:
        v = self.value
        if self.type_name == "date":
            v = v.isoformat()
        elif self.type_name == "timestamp":
            v = v.isoformat(sep=" ")
        return {"value": v, "type": self.type_name}

    @staticmethod
    def from_json(obj: dict) -> "Watermark":
        t, v = obj["type"], obj["value"]
        if t == "date":
            v = date.fromisoformat(v)
        elif t == "timestamp":
            v = datetime.fromisoformat(v)
        else:
            v = int(v)
        return Watermark(v, t)


def _typed_watermark(value, column: str) -> Watermark | None:
    if value is None:
        return None
    if isinstance(value, datetime):
        return Watermark(value, "timestamp")
    if isinstance(value, date):
        return Watermark(value, "date")
    if isinstance(value, int):
        return Watermark(int(value), "bigint")
    raise TypeError(
        f"trigger column {column!r} has unsupported type {type(value).__name__}; "
        f"supported: BIGINT/INTEGER, DATE, TIMESTAMP (CopyTool.java:356-370)"
    )


def probe_max(df: DataFrame, column: str) -> Watermark | None:
    """``SELECT MAX(col)`` typed probe (dialect top-1 queries in the
    reference, ``SourceDatabaseType.java:21-25,45-49`` — the same value
    wherever those skip NULLs; see :func:`probe_max_jdbc`).

    The aggregate is partial/map-side over the scan (one scalar to the
    driver); on columnar file sources the scan prunes to the single probe
    column. JDBC sources should prefer :func:`jdbc_max_probe_frame` —
    Spark's V1 JDBC relation does NOT push aggregates, so this form would
    pull the whole trigger column across the wire at a 100 TB source."""
    row = df.agg(F.max(column).alias("m")).collect()[0]
    return _typed_watermark(row["m"], column)


#: 1900-01-01 in days and in microseconds since the epoch: older values may
#: be rebased from the legacy hybrid calendar on read, which footers don't see
_OLDEST_DAY = -25567
_OLDEST_MICROS = _OLDEST_DAY * 86_400_000_000


def _footer_kind(col, infer_ntz: bool) -> tuple[str, int]:
    """(kind, micros per unit) of a top-level parquet column as Spark reads
    it: kind is ``int``, ``date``, ``ltz`` (TimestampType) or ``ntz``."""
    logical = json.loads(col.logical_type.to_json())
    lt = logical["Type"]
    if col.physical_type in ("INT32", "INT64"):
        wide = col.physical_type == "INT64"
        if lt == "None" or (
            lt == "Int" and logical["isSigned"] and (logical["bitWidth"] == 64) == wide
        ):
            return "int", 1
        if lt == "Date" and not wide:
            return "date", 1
        if lt == "Timestamp" and wide:
            scale = {"milliseconds": 1000, "microseconds": 1}.get(logical["timeUnit"])
            if scale is not None:
                ntz = infer_ntz and not logical["isAdjustedToUTC"]
                return ("ntz" if ntz else "ltz"), scale
    raise FooterFallback(
        f"column {col.name!r} is {col.physical_type} {col.logical_type.to_json()}, "
        "not a signed integer, date or milli/microsecond timestamp"
    )


def probe_max_footer(
    table: ParquetTable, column: str, *, case_sensitive: bool = False, infer_ntz: bool = True
) -> Watermark | None:
    """:func:`probe_max` of ``spark.read.parquet(table.path)`` from the
    files' row-group statistics — the footers of the run's one footer pass
    ``table``, no data read and no Spark job.

    ``case_sensitive`` and ``infer_ntz`` mirror the session's
    ``spark.sql.caseSensitive`` and
    ``spark.sql.parquet.inferTimestampNTZ.enabled``. Raises
    :class:`FooterFallback` whenever the footers cannot give Spark's exact
    answer (the cases are listed in the module docstring)."""
    import pyarrow as pa

    if "." in column or "`" in column:
        raise FooterFallback(f"{column!r} is not a plain column name")
    key = column if case_sensitive else column.lower()
    signature = None
    lo = hi = None
    for f, md in table.probe_footers():
        try:
            names = md.schema.to_arrow_schema().names
        except pa.ArrowException as exc:
            raise FooterFallback(f"unreadable footer {f}: {exc}") from exc
        matches = [n for n in names if (n if case_sensitive else n.lower()) == key]
        if len(matches) != 1:
            raise FooterFallback(f"{column!r} matches {len(matches)} columns of {f}")
        leaf = [i for i in range(md.num_columns) if md.schema.column(i).path == matches[0]]
        if len(leaf) != 1:
            raise FooterFallback(f"{column!r} is nested in {f}")
        col = md.schema.column(leaf[0])
        if signature is None:
            signature = (col.physical_type, col.logical_type.to_json())
            kind, scale = _footer_kind(col, infer_ntz)
        elif signature != (col.physical_type, col.logical_type.to_json()):
            raise FooterFallback(f"{column!r} changes type between files ({f})")
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            stats = rg.column(leaf[0]).statistics
            if stats is not None and stats.has_min_max:
                lo = stats.min_raw if lo is None else min(lo, stats.min_raw)
                hi = stats.max_raw if hi is None else max(hi, stats.max_raw)
            elif stats is None or not stats.has_null_count or stats.null_count != rg.num_rows:
                raise FooterFallback(f"a row group of {f} has no min/max for {column!r}")
    if hi is None:
        return None  # every row NULL, or no rows: Spark's MAX is NULL too
    if kind != "int" and lo * scale < (_OLDEST_DAY if kind == "date" else _OLDEST_MICROS):
        raise FooterFallback(f"{column!r} holds values before 1900")
    convert = {
        "int": int,
        "date": DateType().fromInternal,
        "ltz": TimestampType().fromInternal,
        "ntz": TimestampNTZType().fromInternal,
    }[kind]
    try:
        value = convert(hi * scale)
    except (ValueError, OverflowError, OSError) as exc:
        raise FooterFallback(f"{column!r} max {hi} is out of Python's range: {exc}") from exc
    return _typed_watermark(value, column)


def jdbc_max_probe_frame(
    spark, source, table: str, column: str, *, quoted: bool = True
) -> DataFrame:
    """One-row frame whose MAX executes ON the source server.

    Query-mode pushdown (``SELECT MAX("col") AS m FROM table`` shipped
    verbatim as the JDBC relation's query — the value of the reference's
    dialect probe, ``SourceDatabaseType.java:21-25,45-49``): the source
    computes the aggregate and exactly ONE row crosses the wire, regardless
    of table size. Spark's V1 JDBC relation never pushes a Spark-side
    ``agg(max(...))`` down (pinned by ``tests/test_watermark.py``), so
    at a 100 TB source the Spark-side form is a full-column pull — this
    frame is the scale-correct probe shape. ``quoted`` picks the column's
    identifier form (see :func:`identifier_ladder`); the table name travels
    verbatim like every other ``dbtable`` here.
    """
    ident = f'"{column}"' if quoted else column
    return pushed_query(spark, source.options, f"SELECT MAX({ident}) AS m FROM {table}")


def probe_max_jdbc(spark, source, table: str, column: str) -> Watermark | None:
    """Typed watermark from the source-side MAX probe (see
    :func:`jdbc_max_probe_frame`), the one trigger statement of every
    dialect. The reference's top-1 statements are not shipped: PostgreSQL
    sorts NULLs first under ``ORDER BY c DESC``, so its top-1 answers NULL
    whenever the column holds one (a NULL probe fails open on every tick),
    while MAX skips NULLs.

    The probe walks :func:`identifier_ladder`: quoted, then — only on an
    identifier-resolution failure — the store-cased bare identifier, which
    keeps the one-row pushdown for columns created unquoted. Only
    identifier failures of both forms reach the caller's degradation
    path."""
    value = identifier_ladder(
        lambda quoted: jdbc_max_probe_frame(spark, source, table, column, quoted=quoted)
        .collect()[0][0],
        f"MAX probe for {table}.{column}",
    )
    return _typed_watermark(value, column)


class WatermarkStore:
    """State files ``job-<checksum>_lastrun.json`` under ``state_dir``
    (reference naming ``CopyTool.java:320-324``)."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        self.fs = LocalFS()
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, checksum: str, job_id: str = "") -> str:
        suffix = f"-{job_id}" if job_id else ""
        return os.path.join(self.state_dir, f"job-{checksum}{suffix}_lastrun.json")

    def load(self, checksum: str, job_id: str = "") -> Watermark | None:
        path = self._path(checksum, job_id)
        if not os.path.exists(path):
            return None
        try:
            with open(path) as fh:
                obj = json.load(fh)
            if obj.get("checksum") != checksum:
                return None  # checksum mismatch invalidates state
            return Watermark.from_json(obj)
        except Exception:
            log.warning("unreadable trigger state %s — failing open", path, exc_info=True)
            return None

    def save(self, checksum: str, wm: Watermark, job_id: str = "") -> None:
        self.fs.write_atomic(
            self._path(checksum, job_id), json.dumps({**wm.to_json(), "checksum": checksum})
        )

    # -- probe-degradation persistence (ADVICE r10) -----------------------
    # The escalation rule "same job, consecutive runs -> ERROR" must hold
    # in the normal run-per-invocation deployment (cron/scheduler reboots
    # the process every tick), so the counter lives HERE beside the
    # watermark, not in CopyEngine's process memory.

    def _degradation_path(self, checksum: str, job_id: str) -> str:
        return os.path.join(
            self.state_dir, f"job-{checksum}-{job_id}_probe_degradations.json"
        )

    def load_degradations(self, checksum: str, job_id: str) -> int:
        path = self._degradation_path(checksum, job_id)
        if not os.path.exists(path):
            return 0
        try:
            with open(path) as fh:
                return int(json.load(fh).get("n", 0))
        except Exception:
            log.warning("unreadable degradation state %s", path, exc_info=True)
            return 0

    def save_degradations(self, checksum: str, job_id: str, n: int) -> None:
        path = self._degradation_path(checksum, job_id)
        if n <= 0:
            if os.path.exists(path):
                os.remove(path)
            return
        self.fs.write_atomic(path, json.dumps({"n": int(n)}))


def has_new_data(probe: Watermark | None, state: Watermark | None) -> bool:
    """The typed compare + fail-open rules (CopyTool.java:420-473)."""
    if probe is None:
        return True  # empty/NULL probe: fail open (CopyTool.java:352)
    if state is None:
        return True  # no/invalid/mismatched state (CopyTool.java:420-438)
    if state.type_name != probe.type_name:
        return True  # type changed under us: fail open (CopyTool.java:428-433)
    return probe.value > state.value  # strictly newer (CopyTool.java:444-473)

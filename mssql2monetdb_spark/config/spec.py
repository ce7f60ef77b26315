"""Job-spec compilation & validation — the reference's config layer redone
as a declarative dict/JSON spec (``CopyToolConfig.java:800-1046`` semantics).

Validation rules carried over:

- a copy job needs ``from_table`` or ``from_query`` (from-name wins when both
  are present — ``CopyTable.java:302,312`` precedence);
- ``from_query`` requires ``count_query`` (``CopyToolConfig.java:964-977``);
- ``to_table`` defaults to ``from_table`` (``CopyToolConfig.java:936-940``);
- ``source`` defaults to ``_default`` and must exist
  (``CopyToolConfig.java:913-931``);
- table/schema names lowercased at config time (``CopyToolConfig.java:875-876``);
- env-var interpolation ``${VAR}`` / ``${VAR:default}`` in every string value
  (reference ``ENV:VAR:default`` / ``{env:VAR}``,
  ``CopyToolConfig.java:281-357``);
- SHA-1 checksum of the canonicalized spec identifies trigger state
  (``CopyToolConfig.java:91-114,1088-1112``).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
from dataclasses import dataclass, field

log = logging.getLogger(__name__)


class SpecError(ValueError):
    """Invalid job spec (reference: ConfigurationException)."""


_ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\}")


def interpolate_env(value: str, env: dict[str, str] | None = None) -> str:
    """Replace ``${VAR}`` / ``${VAR:default}``; error on unset without default
    (fail-closed like the reference's missing-env error path)."""
    env = os.environ if env is None else env

    def repl(m: re.Match) -> str:
        var, default = m.group(1), m.group(2)
        if var in env:
            return env[var]
        if default is not None:
            return default
        raise SpecError(f"environment variable {var!r} is not set and has no default")

    return _ENV_RE.sub(repl, value)


def _interp_deep(obj, env):
    if isinstance(obj, str):
        return interpolate_env(obj, env)
    if isinstance(obj, dict):
        return {k: _interp_deep(v, env) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_interp_deep(v, env) for v in obj]
    return obj


@dataclass(frozen=True)
class SourceSpec:
    """A named source: parquet/csv directory or JDBC endpoint
    (reference ``SourceDatabase``, ``SourceDatabase.java:12-61``)."""

    name: str
    format: str  # "parquet" | "csv" | "jdbc"
    path: str | None = None  # file formats
    options: dict[str, str] = field(default_factory=dict)  # jdbc url/user/...


@dataclass(frozen=True)
class CopyJob:
    """One table copy (reference ``CopyTable``, ``CopyTable.java:18-74``)."""

    job_id: str
    source: str = "_default"
    from_table: str | None = None
    from_columns: tuple[str, ...] | None = None
    from_query: str | None = None
    count_query: str | None = None
    to_table: str = ""
    schema_name: str = "default"
    # reference flags (CopyTable.java:29-72); truncate is implicit in the
    # versioned publish (each new version fully replaces the last), so the
    # engine reads it nowhere
    truncate: bool = False
    drop: bool = False
    create: bool = True
    allow_empty: bool = False
    auto_trim: bool = True
    # a parquet version is invisible until its publish, which is all the
    # reference's temp-table copy provides, so the parquet load reads it
    # nowhere; a jdbc sink refuses False (load_spec)
    use_fast_view_switching: bool = True
    # the same reason as use_fast_view_switching: the versioned load already
    # keeps a version out of sight until its publish, so the engine reads it
    # nowhere; load_spec warns when a job sets it
    copy_via_temp_table: bool = False
    # watermark trigger (CopyTool.java:332-477); the trigger table is read
    # on trigger_source when set, else on the job's source
    trigger_table: str | None = None
    trigger_column: str | None = None
    trigger_source: str | None = None
    # incremental append: only rows with trigger_column > persisted state are
    # extracted; the new version = published snapshot + the delta (a
    # Spark-first upgrade — the reference always re-copies the full table)
    incremental: bool = False
    # within-file clustering for parquet min/max data skipping on these cols
    sort_by: tuple[str, ...] | None = None
    # hive-style partition directories -> partition pruning on these cols
    partition_by: tuple[str, ...] | None = None
    # multi-column Morton clustering (numeric cols): data skipping on EVERY
    # listed column, not just the leading sort key
    zorder_by: tuple[str, ...] | None = None

    def select_source(self) -> tuple[str, object]:
        """(mode, payload): from-name wins over from-query
        (``CopyTable.java:302,312``)."""
        if self.from_table:
            return ("table", (self.from_table, self.from_columns))
        return ("query", self.from_query)


@dataclass(frozen=True)
class JobSpec:
    sources: dict[str, SourceSpec]
    jobs: dict[str, CopyJob]
    warehouse_dir: str
    state_dir: str
    scheduler_interval: str | None = None
    mail: "MailSettings | None" = None  # failure-mail config (EmailUtil analog)
    # optional JDBC sink: publish to a real warehouse (the reference's
    # MonetDB topology) instead of the parquet catalog — see engine/export.py
    sink: SourceSpec | None = None
    sink_method: str = "copy"  # "copy" (staged bulk) | "insert" (batched writer)
    sink_staging_dir: str | None = None  # shared-fs staging for the bulk path
    raw: dict = field(default_factory=dict, compare=False)


def load_spec(spec: dict | str, env: dict[str, str] | None = None) -> JobSpec:
    """Compile a dict (or JSON text/path) into a validated JobSpec."""
    if isinstance(spec, str):
        if spec.lstrip().startswith("{"):
            spec = json.loads(spec)
        else:
            with open(spec) as fh:
                spec = json.load(fh)
    spec = _interp_deep(spec, env)

    warehouse = spec.get("warehouse_dir")
    if not warehouse:
        raise SpecError("spec requires 'warehouse_dir'")
    state_dir = spec.get("state_dir") or os.path.join(warehouse, "_state")

    sources: dict[str, SourceSpec] = {}
    for name, s in (spec.get("sources") or {}).items():
        fmt = (s.get("format") or "parquet").lower()
        if fmt not in ("parquet", "csv", "json", "orc", "jdbc"):
            raise SpecError(f"source {name!r}: unsupported format {fmt!r}")
        if fmt != "jdbc" and not s.get("path"):
            raise SpecError(f"source {name!r}: file format requires 'path'")
        if fmt == "jdbc" and not (s.get("options") or {}).get("url"):
            raise SpecError(f"source {name!r}: jdbc requires options.url")
        sources[name] = SourceSpec(
            name=name, format=fmt, path=s.get("path"), options=dict(s.get("options") or {})
        )
    if not sources:
        raise SpecError("spec requires at least one source")

    jobs: dict[str, CopyJob] = {}
    for job_id, j in (spec.get("tables") or {}).items():
        from_table = j.get("from_table")
        from_query = j.get("from_query")
        if not from_table and not from_query:
            # CopyToolConfig.java:947-955: from-name or query required
            raise SpecError(f"table {job_id!r}: needs 'from_table' or 'from_query'")
        if from_query and not from_table and not j.get("count_query"):
            # CopyToolConfig.java:964-977: custom query requires countquery
            raise SpecError(f"table {job_id!r}: 'from_query' requires 'count_query'")
        source = j.get("source", "_default")
        if source not in sources:
            raise SpecError(f"table {job_id!r}: unknown source {source!r}")
        to_table = (j.get("to_table") or from_table or "").lower()
        if not to_table:
            raise SpecError(f"table {job_id!r}: cannot derive 'to_table' from a query-only job")
        trigger = j.get("trigger") or {}
        if j.get("incremental") and not trigger.get("column"):
            raise SpecError(f"table {job_id!r}: 'incremental' requires trigger.column")
        if trigger.get("source") and trigger["source"] not in sources:
            raise SpecError(f"table {job_id!r}: unknown trigger source {trigger['source']!r}")
        jobs[job_id] = CopyJob(
            job_id=job_id,
            source=source,
            from_table=from_table,
            from_columns=tuple(j["from_columns"]) if j.get("from_columns") else None,
            from_query=from_query,
            count_query=j.get("count_query"),
            to_table=to_table,
            schema_name=(j.get("schema") or "default").lower(),
            truncate=bool(j.get("truncate", False)),
            drop=bool(j.get("drop", False)),
            create=bool(j.get("create", True)),
            allow_empty=bool(j.get("allow_empty", False)),
            auto_trim=bool(j.get("auto_trim", True)),
            use_fast_view_switching=bool(j.get("use_fast_view_switching", True)),
            copy_via_temp_table=bool(j.get("copy_via_temp_table", False)),
            trigger_table=trigger.get("table"),
            trigger_column=trigger.get("column"),
            trigger_source=trigger.get("source"),
            incremental=bool(j.get("incremental", False)),
            sort_by=tuple(j["sort_by"]) if j.get("sort_by") else None,
            partition_by=tuple(j["partition_by"]) if j.get("partition_by") else None,
            zorder_by=tuple(j["zorder_by"]) if j.get("zorder_by") else None,
        )
        if jobs[job_id].sort_by and jobs[job_id].zorder_by:
            raise SpecError(
                f"table {job_id!r}: sort_by and zorder_by are mutually exclusive "
                "(both control within-file clustering)"
            )
    if not jobs:
        raise SpecError("spec defines no tables")
    temp_table_jobs = sorted(j for j, job in jobs.items() if job.copy_via_temp_table)
    if temp_table_jobs:
        log.warning(
            "copy_via_temp_table has no effect (every load lands as an unpublished "
            "version); set by: %s",
            ", ".join(temp_table_jobs),
        )

    # mail block (reference CONFIG_KEYS MAIL_* family, CopyToolConfig):
    # optional; ${ENV} interpolation above covers credentials
    mail = None
    m = spec.get("mail")
    if m is not None:
        from ..engine.notify import MailSettings

        try:
            port = int(m.get("port", 0) or 0)
        except (TypeError, ValueError) as exc:
            raise SpecError(f"mail.port must be an integer: {exc}") from exc
        mail = MailSettings(
            server=str(m.get("server") or ""),
            port=port,
            mail_from=str(m.get("from") or ""),
            mail_to=str(m.get("to") or ""),
            subject=str(m.get("subject") or ""),
            username=str(m.get("username") or ""),
            password=str(m.get("password") or ""),
            enabled=bool(m.get("enabled", True)),
        )

    # optional JDBC sink block (the reference's MonetDB target,
    # CopyToolConfig monetdb.* block): publishes go to a real warehouse
    # through engine/export.py instead of the parquet catalog
    sink = None
    sink_method = "copy"
    sink_staging_dir = None
    sk = spec.get("sink")
    if sk is not None:
        if (sk.get("format") or "jdbc").lower() != "jdbc":
            raise SpecError("sink.format must be 'jdbc' (only warehouse sinks exist)")
        if not (sk.get("options") or {}).get("url"):
            raise SpecError("sink: jdbc requires options.url")
        sink_method = (sk.get("method") or "copy").lower()
        if sink_method not in ("copy", "insert"):
            raise SpecError(f"sink.method must be copy|insert, got {sink_method!r}")
        sink_staging_dir = sk.get("staging_dir")
        # the bulk loader imports on one connection, like the reference;
        # the key is still accepted at that one value
        if str(sk.get("import_concurrency", 1)) != "1":
            raise SpecError("sink.import_concurrency must be 1 (one import connection)")
        sink = SourceSpec(name="_sink", format="jdbc", options=dict(sk["options"]))
        for job_id, job in jobs.items():
            if job.incremental:
                # the reference re-copies the full table every run against
                # MonetDB; snapshot+delta needs the parquet catalog's
                # versioned snapshot read — not offered on a JDBC sink
                raise SpecError(
                    f"table {job_id!r}: 'incremental' is a parquet-catalog "
                    "upgrade; a jdbc sink re-copies fully (reference parity)"
                )
            if job.partition_by or job.zorder_by:
                raise SpecError(
                    f"table {job_id!r}: partition_by/zorder_by are parquet "
                    "layout controls — not applicable to a jdbc sink"
                )
            if not job.use_fast_view_switching:
                raise SpecError(
                    f"table {job_id!r}: a jdbc sink always publishes via the "
                    "versioned view switch (Derby has no CTAS-with-data)"
                )

    # targets must be unique per (schema, table) on either store: two jobs
    # writing one target publish the same version name (the later write
    # replaces the earlier one's data) and race the view switch. A jdbc
    # sink's jobs may share a table name across schemas (round 10; reference
    # MonetDBTable.java:12-25, schemas lowercased at config time —
    # CopyToolConfig.java:875-876, matched by load_spec's .lower() above).
    seen_targets: dict[tuple[str, str], str] = {}
    for job_id, job in jobs.items():
        key = (job.schema_name, job.to_table)
        if key in seen_targets:
            raise SpecError(
                f"tables {seen_targets[key]!r} and {job_id!r} both target "
                f"{job.schema_name}.{job.to_table} — targets must be unique "
                "per (schema, table)"
            )
        seen_targets[key] = job_id

    return JobSpec(
        sources=sources,
        jobs=jobs,
        warehouse_dir=warehouse,
        state_dir=state_dir,
        scheduler_interval=spec.get("scheduler_interval"),
        mail=mail,
        sink=sink,
        sink_method=sink_method,
        sink_staging_dir=sink_staging_dir,
        raw=spec,
    )


def spec_checksum(spec: JobSpec) -> str:
    """SHA-1 of the canonicalized spec — identifies trigger state; any config
    change invalidates persisted watermarks (``CopyToolConfig.java:1088-1112``)."""
    canon = json.dumps(spec.raw, sort_keys=True, separators=(",", ":"))
    return hashlib.sha1(canon.encode()).hexdigest()

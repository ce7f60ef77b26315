""".properties config adapter — the reference's literal user interface.

The reference's only configuration format is a Java ``.properties`` file
(``CopyToolConfig.java:116-279``; ``config.properties.example:1-60``) with
``table.<id>.*`` copy jobs, ``mssql.<id>.*`` / ``postgresql.<id>.*`` source
databases, global trigger/scheduler/mail blocks, and two environment-variable
interpolation forms (``ENV:VAR:default`` whole-value,
``{env:VAR[:default]}`` embedded — ``CopyToolConfig.java:281-357``).

This module parses that exact format and compiles it into the dict spec that
:func:`mssql2monetdb_spark.config.spec.load_spec` already validates, so a
reference user's config file runs unmodified::

    spec = load_properties_spec("config.properties", warehouse_dir="/data/wh")

Differences by design (SURVEY.md §7 sanctioned):

- The default copy *target* is the Spark warehouse (``warehouse_dir``, a
  required parameter). Passing ``monetdb_sink=True`` honors the config's
  ``monetdb.server/database/user/password`` block instead: it compiles to
  the spec's jdbc ``sink`` (the reference's exact URL shape,
  ``CopyToolConnectionManager.java:60-80``) and the engine publishes to
  that warehouse through the versioned view-switch protocol
  (``engine/export.py``). ``monetdb.mail.*`` maps onto the failure-mail
  settings either way.
- ``ENV:`` interpolation is fail-open like the reference (missing variable
  resolves to the default, or empty string — ``CopyToolConfig.java:338-355``
  logs a warning and continues), unlike the spec layer's fail-closed
  ``${VAR}`` form. Both forms work after compilation because the adapter
  resolves ``ENV:``/``{env:}`` itself and never emits ``${...}``.
"""

from __future__ import annotations

import re

from .spec import JobSpec, SpecError, load_spec

#: the reference's default source id (``CopyToolConfig.java:46``)
DEFAULT_SOURCE_ID = "_default"

#: dialect URL/port tables (``SourceDatabaseType.java:8-55``). The jTDS
#: driver class the reference loads is what a real cluster would put on the
#: executor classpath; Spark's JDBC source takes it via the ``driver`` option.
DIALECTS = {
    "mssql": {
        "url": "jdbc:jtds:sqlserver://{server}:{port}/{database}",
        "port": 1433,
        "driver": "net.sourceforge.jtds.jdbc.Driver",
    },
    "postgresql": {
        "url": "jdbc:postgresql://{server}:{port}/{database}",
        "port": 5432,
        "driver": "org.postgresql.Driver",
    },
}

_EMBED_RE = re.compile(r"\{env:([^}:]+)(?::([^}]*))?\}")


def _env_value(var: str, default: str, env: dict[str, str]) -> str:
    """Fail-open lookup: unset/empty -> default -> '' (CopyToolConfig.java:338)."""
    got = env.get(var, "")
    return got if got else default


def interpolate_reference_env(value: str, env: dict[str, str]) -> str:
    """Both reference forms: whole-value ``ENV:VAR[:default]`` (case-
    insensitive prefix) and embedded ``{env:VAR[:default]}`` occurrences."""
    if value.lower().startswith("env:"):
        parts = value.split(":")
        var = parts[1] if len(parts) >= 2 else ""
        default = parts[2] if len(parts) >= 3 else ""
        return _env_value(var, default, env)
    # the reference keeps only refParts[2] as the default, so an embedded
    # default truncates at the next ':' exactly like the whole-value form
    # (CopyToolConfig.java:281-357 splits on ':' and reads split[2])
    return _EMBED_RE.sub(
        lambda m: _env_value(m.group(1), (m.group(2) or "").split(":")[0], env),
        value,
    )


def parse_properties(text: str) -> dict[str, str]:
    """Minimal Java ``.properties`` reader: ``#``/``!`` comments, ``=`` or
    ``:`` separators, trimmed keys/values, backslash line continuation.
    Lines break ONLY on \\n / \\r (like java.util.Properties) — not on the
    form-feed/unicode separators Python's splitlines() also honors, which
    would corrupt values containing them.

    java.util.Properties semantics honored here: the key ends at the FIRST
    separator in the line (so ``a.query: SELECT ... WHERE x=1`` keeps the
    ``=`` inside the value); a line continues only on an ODD number of
    trailing backslashes (``\\\\`` is an escaped literal backslash, not a
    continuation); a dangling continuation at EOF still yields its logical
    line. Out of scope (documented divergence): escape-sequence *decoding*
    (``\\n``/``\\uXXXX``/``\\\\`` are kept literally) and whitespace-only
    key/value separation."""
    props: dict[str, str] = {}

    def emit(line: str) -> None:
        if not line or line.startswith(("#", "!")):
            return
        seps = [i for i in (line.find("="), line.find(":")) if i > 0]
        if seps:
            idx = min(seps)
            props[line[:idx].strip()] = line[idx + 1 :].strip()

    pending = ""
    for raw_line in re.split(r"\r\n|\r|\n", text):
        stripped = raw_line.strip()
        if not pending and (not stripped or stripped.startswith(("#", "!"))):
            continue  # comments/blanks never open a continuation
        line = pending + stripped
        pending = ""
        n_backslashes = len(line) - len(line.rstrip("\\"))
        if n_backslashes % 2 == 1:
            pending = line[:-1]
            continue
        emit(line)
    emit(pending)  # dangling continuation at EOF is still a logical line
    return props


def _bool(value: str) -> bool:
    """Table-flag boolean: 'true' or 'yes', case-insensitive
    (``CopyToolConfig.java`` findTablesToCopy boolValue)."""
    return value.lower() in ("true", "yes")


def _global_bool(value: str | None) -> bool:
    """Global-flag boolean: startswith 'y' or equals 'true'
    (``CopyToolConfig.java:82-88`` getBooleanProperty)."""
    return bool(value) and (value.lower().startswith("y") or value.lower() == "true")


def properties_to_spec_dict(
    props: dict[str, str],
    *,
    warehouse_dir: str,
    env: dict[str, str] | None = None,
    query_loader=None,
    monetdb_sink: bool = False,
) -> dict:
    """Compile parsed properties into the dict shape ``load_spec`` validates.

    ``query_loader`` resolves ``from.queryfile`` / ``from.countqueryfile``
    paths to SQL text (defaults to reading the file; injectable for tests).
    """
    import os

    env = dict(os.environ) if env is None else env
    if query_loader is None:

        def query_loader(path: str) -> str:
            with open(path) as fh:
                return fh.read()

    # pass 1: env interpolation over every value (reference does this before
    # any structural parsing — loadEnvironmentVariables)
    props = {k: interpolate_reference_env(v, env) for k, v in props.items()}

    sources: dict[str, dict] = {}
    tables: dict[str, dict] = {}
    mail: dict = {}
    monetdb_block: dict = {}
    top: dict = {}

    for key, value in props.items():
        parts = key.lower().split(".")
        head = parts[0]
        if head in DIALECTS:
            # mssql.<id>.<key> or mssql.<key> (-> _default id)
            if len(parts) == 3:
                src_id, field = parts[1], parts[2]
            elif len(parts) == 2:
                src_id, field = DEFAULT_SOURCE_ID, parts[1]
            else:
                continue
            src = sources.setdefault(
                src_id, {"format": "jdbc", "dialect": head, "options": {}}
            )
            src["dialect"] = head
            if field in ("user", "password", "server", "database", "instance"):
                src[field] = value.strip()
            elif field == "port":
                try:
                    src["port"] = int(value)
                except ValueError:
                    pass  # reference logs a warning and keeps the default
        elif head == "monetdb" and len(parts) == 2:
            # the reference's target-database block (CopyToolConnectionManager
            # .java:60-80); honored as the engine's jdbc sink when the caller
            # opts in (monetdb_sink=True), otherwise recorded and ignored
            # (the parquet warehouse stands in — SURVEY §7 sanctioned)
            if parts[1] in ("user", "password", "server", "database", "port", "driver"):
                monetdb_block[parts[1]] = value.strip()
        elif head == "monetdb" and len(parts) >= 3 and parts[1] == "mail":
            field = parts[2]
            if field == "sendmail":
                mail["enabled"] = _global_bool(value)
            elif field in ("to", "from", "server", "username", "password"):
                mail[field] = value
            elif field == "port":
                mail["port"] = value
        elif head == "table" and len(parts) >= 3:
            job_id, field = parts[1], parts[2]
            sub = parts[3] if len(parts) > 3 else None
            job = tables.setdefault(job_id, {})
            if field == "source":
                job["source"] = value
            elif field == "from":
                if sub is None or sub == "table":
                    job["from_table"] = value
                elif sub == "columns":
                    job["from_columns"] = [c.strip() for c in value.split(",") if c.strip()]
                elif sub == "query":
                    job["from_query"] = value
                elif sub == "queryfile":
                    job["from_query"] = query_loader(value)
                elif sub == "countquery":
                    job["count_query"] = value
                elif sub == "countqueryfile":
                    job["count_query"] = query_loader(value)
            elif field == "to":
                job["to_table"] = value.lower()
            elif field == "schema":
                job["schema"] = value
            elif field in ("create", "truncate", "drop"):
                job[field] = _bool(value)
            elif field == "copyviatemptable":
                job["copy_via_temp_table"] = _bool(value)
            elif field == "usefastviewswitching":
                job["use_fast_view_switching"] = _bool(value)
            elif field == "allowempty":
                job["allow_empty"] = _bool(value)
            elif field == "autotrim":
                job["auto_trim"] = _bool(value)
            # temptableprefix / copymethod are accepted but have no
            # Spark-side distinction (versioned-parquet publish subsumes the
            # reference's temp-table + COPY INTO/INSERT split); uselockedmode
            # is accepted and always on: a MonetDB sink's COPY INTO ends in
            # LOCKED, since it loads a table no reader uses yet
        elif key.lower() == "batch.size":
            try:
                top["batch_size"] = int(value)
            except ValueError as exc:
                raise SpecError(f"batch.size must be an integer: {value!r}") from exc
        elif key.lower() == "temp.directory":
            top["temp_directory"] = value
        elif head == "scheduler":
            if parts[1:] == ["enabled"]:
                top["scheduler_enabled"] = _global_bool(value)
            elif parts[1:] == ["interval"]:
                top["scheduler_interval"] = value
        elif head == "trigger":
            top.setdefault("trigger", {})[".".join(parts[1:])] = value

    # dialect URL assembly + reference-faithful validation: a source missing
    # server or database is dropped with an error in the reference
    # (findSourceDatabases tail); the spec layer fails closed instead.
    compiled_sources: dict[str, dict] = {}
    for src_id, src in sources.items():
        missing = [f for f in ("server", "database") if not src.get(f)]
        if missing:
            raise SpecError(
                f"{src['dialect']} source {src_id!r} is missing {missing} in the config"
            )
        dialect = DIALECTS[src["dialect"]]
        options = {
            "url": dialect["url"].format(
                server=src["server"],
                port=src.get("port", dialect["port"]),
                database=src["database"],
            ),
            "driver": dialect["driver"],
        }
        for f in ("user", "password", "instance"):
            if src.get(f):
                options[f] = src[f]
        compiled_sources[src_id] = {"format": "jdbc", "options": options}

    # global trigger block -> per-job watermark config (the reference gates
    # the entire run on one trigger table/column; the spec layer's
    # per-job trigger applies it to every job — CopyTool.java:332-477)
    trig = top.pop("trigger", {})
    if _global_bool(trig.get("enabled")):
        t_table, t_column = trig.get("table"), trig.get("column")
        if not t_table or not t_column:
            raise SpecError("trigger.enabled requires trigger.table and trigger.column")
        for job in tables.values():
            job.setdefault("trigger", {})
            job["trigger"]["table"] = t_table
            job["trigger"]["column"] = t_column
            if trig.get("source"):
                job["trigger"]["source"] = trig["source"]

    spec: dict = {
        "warehouse_dir": warehouse_dir,
        "sources": compiled_sources,
        "tables": tables,
    }
    if monetdb_sink:
        missing = [f for f in ("server", "database") if not monetdb_block.get(f)]
        if missing:
            raise SpecError(f"monetdb sink requested but the config's monetdb block is missing {missing}")
        # the reference's URL shape exactly: jdbc:monetdb://server/database
        # (CopyToolConnectionManager.java:71-76; port rides in server when
        # configured); user/password only when BOTH are set (ibid.:65-69)
        server = monetdb_block["server"]
        if monetdb_block.get("port"):
            server = f"{server}:{monetdb_block['port']}"
        options = {
            "url": f"jdbc:monetdb://{server}/{monetdb_block['database']}",
            # the reference loads the legacy 2.x class (CopyTool.java:1152);
            # monetdb-jdbc 3.x renamed it — monetdb.driver overrides
            "driver": monetdb_block.get("driver") or "nl.cwi.monetdb.jdbc.MonetDriver",
        }
        if monetdb_block.get("user") and monetdb_block.get("password"):
            options["user"] = monetdb_block["user"]
            options["password"] = monetdb_block["password"]
        # batch.size is the reference's INSERT batch size (CopyToolConfig
        # .java:44), the batched writer's batchsize option
        if "batch_size" in top:
            options["batchsize"] = str(top["batch_size"])
        spec["sink"] = {"format": "jdbc", "options": options}
        # temp.directory is where the reference spools the file COPY INTO
        # reads: the bulk loader's staging directory
        if "temp_directory" in top:
            spec["sink"]["staging_dir"] = top["temp_directory"]
    if top.get("scheduler_enabled") and top.get("scheduler_interval"):
        spec["scheduler_interval"] = top["scheduler_interval"]
    for passthrough in ("batch_size", "temp_directory"):
        if passthrough in top:
            spec[passthrough] = top[passthrough]
    if mail:
        spec["mail"] = {
            "enabled": mail.get("enabled", True),
            "server": mail.get("server", ""),
            "port": mail.get("port", 0),
            "from": mail.get("from", ""),
            "to": mail.get("to", ""),
            "username": mail.get("username", ""),
            "password": mail.get("password", ""),
        }
    return spec


def load_properties_spec(
    path_or_text: str,
    *,
    warehouse_dir: str,
    env: dict[str, str] | None = None,
    query_loader=None,
    monetdb_sink: bool = False,
) -> JobSpec:
    """One-call adapter: ``.properties`` file (path or literal text) ->
    validated :class:`JobSpec`. Checksum semantics are identical to the
    dict/JSON path because the compiled dict IS the checksummed ``raw``
    spec — the same properties file always compiles to the same checksum,
    and any edit (key added, value changed) changes it, which is what
    invalidates persisted watermark state (``CopyToolConfig.java:1088-1112``).
    """
    import os

    # A newline is the one safe "this is literal text" marker; '=' is not —
    # a config *path* may legally contain it (/configs/env=prod/c.properties).
    # Single-line input is a path if it exists on disk, else literal text
    # (a one-line literal like "table.t.from = x" never collides with a real
    # file, and a missing path then fails in load_spec with the offending
    # string visible rather than a bare FileNotFoundError).
    if "\n" in path_or_text or "\r" in path_or_text:
        text = path_or_text
    elif os.path.exists(path_or_text):
        with open(path_or_text) as fh:
            text = fh.read()
    elif "=" in path_or_text or ":" in path_or_text:
        text = path_or_text  # one-line literal like "table.t.from = x"
    else:
        raise FileNotFoundError(f"properties file not found: {path_or_text!r}")
    props = parse_properties(text)
    spec_dict = properties_to_spec_dict(
        props,
        warehouse_dir=warehouse_dir,
        env=env,
        query_loader=query_loader,
        monetdb_sink=monetdb_sink,
    )
    return load_spec(spec_dict, env=env or {})

"""The 4-phase copy pipeline — ``CopyTool.doCopy`` re-expressed on Spark
(``CopyTool.java:168-314``; SURVEY.md §3.1).

Phases:

1. extract  — ``read_source`` (parquet/csv/jdbc; table, projected table, or
              arbitrary SQL evaluated natively) + schema normalization
              (lowercase/sanitize identifiers, autoTrim);
2. load     — write a new versioned Parquet physical table (the reference's
              staged-CSV + COPY INTO collapses into one distributed columnar
              write — no double materialization);
3. publish  — atomic view switch to the new version;
4. cleanup  — retention drop beyond 2 versions.

One driver, ``do_copy``, runs the phases in order for either store: the
engine's versioned Parquet catalog, or a JDBC warehouse sink
(``engine/export.py``) when the spec configures one. Only the storage steps
are chosen by sink — the load itself, and newest/exists/drop/publish/cleanup
(``_SinkCatalog`` gives the sink the catalog's call shapes).

Phase 2 loads a run's jobs concurrently. Each job's load is one task:
drop, the create check, reading the published version, the delta filter,
evolve, zorder, and the write or the sink's load. The tasks run on a pool
of ``min(jobs, cores)`` driver threads, and Spark schedules the jobs those
threads submit side by side, so one job's small write or warehouse import
no longer waits for another's. Everything else stays sequential in spec
order: the extract, the empty guard (its ``count_query`` re-registers
session-global temp views) and the barrier after it, then publish, cleanup
and the state save. A new sink schema is created once, before the pool
starts.

Publish stays all-or-nothing: nothing is published until every load has
finished. On the first failed load the run cancels the other loads' Spark
jobs (they carry one job tag of the run, and stay in the caller's job
group), waits for every task to stop, and raises that first error. No
manifest or view changes and no state is saved. The versions of the loads
that finished stay unpublished; retention never lets them displace the
published version or its backup, and reaps them once newer versions push
them out of its window (``VersionedCatalog.cleanup``).

Cross-cutting semantics kept on both: watermark trigger skip (exit code 2),
empty-source guard aborting the whole run before any load, drop/create
flags, state persisted only after full success. Every load writes its
version under the public name: a version stays invisible until its publish,
which is all the reference's temp-table copy (``CopyTool.java:1107-1124``)
provides, so ``use_fast_view_switching=False`` loads the same way.

One run resolves each file-source table once: ``do_copy`` keeps a per-run
dict of resolved sources that the trigger probe, the extract, query-mode
view registration, the empty guard and the ``count_query`` all share, and
the next run resolves afresh. A local parquet table resolves from one
footer pass (``sources/footers.py``): the probe takes its maximum from the
footers' statistics, the extract reads with the footers' schema and the
guard sums their row counts, so none of them starts a Spark job, and an
idle tick starts none at all. A table the footers cannot answer for (the
cases are listed there) takes its schema from Spark's inference, once per
run, as other file formats do. The footer pass lists the files before the
extract does, and an incremental job's bound ``trigger IS NULL OR trigger
<= probe`` leaves rows that land in between for the next tick, whose probe
sees them.

A tick pays only for the tables that changed. An ``incremental`` job is
skipped — no extract, empty-guard count, load, publish or cleanup — when
``drop`` is off, its probe is not ``None``, ``has_new_data(probe, state)``
is False and it has a published version: its delta would be empty, so the
next version would hold the rows the published one already holds. The run
returns that published name for it and re-points only the session's view.
The reference has no incremental mode and re-copies every table whenever any
trigger fires (``CopyTool.java:168-314``); non-incremental triggered jobs
still do, since a full copy is also how deletes reach the warehouse. The one
visible difference: a column added to a skipped job's source without new
rows appears at the next tick that brings rows, not at this one.

A fresh tick of an incremental job costs O(delta), not O(table). Its load
writes only the delta and hard-links every data file of the published
version into the new one (``VersionedCatalog.write_version(carry_from=)``),
and the empty guard counts a table-mode parquet source from its footers,
so no Spark job counts it. The tick rewrites in full, as snapshot plus
delta, when any of these holds:

- the job has no saved state (its first load, or its spec changed) or
  no published version;
- the delta brings a column the published version lacks;
- the job sets ``sort_by``, ``zorder_by`` or ``partition_by``;
- the published version recorded no schema (written by older code, or
  by the partition-pruned streaming sync) or has partition directories;
- ``publish.APPEND_MAX_FILES`` (32) or more of the published version's
  data files were appended since its last full write;
- the store has no hard links (``VersionedCatalog.write_version``).

A full rewrite is one Spark write, so its files count as the new
version's full write and the next tick appends again.

Exit codes: 0 = loaded, 1 = error, 2 = no new data
(``CopyTool.java:66-68,95-106``).
"""

from __future__ import annotations

import functools
import logging
import os
import uuid
from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..config.spec import CopyJob, JobSpec, spec_checksum
from ..schema.evolve import evolve_to_union
from ..schema.mapper import normalized_dataframe
from ..sources.footers import FooterFallback, ParquetTable
from ..sources.readers import read_source, register_source_views, resolve_parquet
from .publish import LOAD_DATE_FORMAT, VersionedCatalog, version_of
from .watermark import WatermarkStore, has_new_data, probe_max, probe_max_footer

log = logging.getLogger(__name__)

EXIT_OK = 0
EXIT_ERROR = 1
EXIT_NO_NEW_DATA = 2


class EmptyTablesError(RuntimeError):
    """A source produced 0 rows and allowEmpty is off — the whole run aborts
    before loading anything (``SourceDatabaseUtil.java:22-52``,
    ``EmptyTablesException.java:3-10``)."""


class NoNewDataError(RuntimeError):
    """Every configured trigger says the source is unchanged
    (``CopyTool.java:95-98`` -> exit code 2)."""


class CopyEngine:
    def __init__(self, spark: SparkSession, spec: JobSpec):
        self.spark = spark
        self.spec = spec
        self.catalog = VersionedCatalog(spec.warehouse_dir)
        self.store = WatermarkStore(spec.state_dir)
        self.checksum = spec_checksum(spec)
        # {job_id: state} of the triggered jobs, read by check_for_new_data
        self.states: dict[str, object] = {}
        # optional JDBC sink: publishes land in a real warehouse through the
        # reference's versioned-table + view-switch protocol (engine/export)
        self.warehouse = None
        if spec.sink is not None:
            from .export import JdbcWarehouse

            self.warehouse = JdbcWarehouse(spark, spec.sink)

    # -- trigger (PHASE 0, CopyTool.java:332-477) ------------------------
    def _probe_job(
        self, job: CopyJob, resolved: dict[str, ParquetTable | DataFrame] | None = None
    ):
        src = self.spec.sources[job.trigger_source or job.source]
        table = job.trigger_table or job.from_table
        if src.format == "jdbc" and table:
            # source-side MAX: the aggregate runs ON the database and one
            # row crosses the wire (the reference's dialect probe) — the
            # Spark-side agg would pull the whole trigger column, since
            # the V1 JDBC relation never pushes aggregates
            from .watermark import probe_max_jdbc

            try:
                wm = probe_max_jdbc(self.spark, src, table, job.trigger_column)
                self.store.save_degradations(self.checksum, job.job_id, 0)
                return wm
            except Exception:
                # both identifier casings failed (probe_max_jdbc's quoted ->
                # unquoted ladder) — degrade to the Spark-side probe instead
                # of losing the no-new-data skip to the fail-open rule. The
                # Spark-side probe pulls the whole trigger column across the
                # wire, so REPEATED degradation (same job, consecutive runs)
                # escalates to ERROR: at a 100 TB source that is a standing
                # scale regression, not a transient. The counter persists in
                # the WatermarkStore so the escalation survives the normal
                # run-per-invocation deployment (ADVICE r10).
                n = self.store.load_degradations(self.checksum, job.job_id) + 1
                self.store.save_degradations(self.checksum, job.job_id, n)
                msg = (
                    "source-side MAX probe failed for %s — degrading to the "
                    "Spark-side full-column probe (run %d)"
                )
                if n >= 2:
                    log.error(
                        msg + "; this is persistent — the pushdown's "
                        "one-row-across-the-wire property is LOST every run; "
                        "fix the trigger column's identifier case",
                        job.job_id,
                        n,
                        exc_info=True,
                    )
                else:
                    log.warning(msg, job.job_id, n, exc_info=True)
        elif table:
            # file source: the max from the parquet footers' row-group
            # statistics — no Spark job (the reference's probe is a one-row
            # metadata query too); what footers cannot answer falls back
            try:
                if src.format != "parquet":
                    raise FooterFallback(f"{src.format} files carry no column statistics")
                conf = self.spark.conf
                return probe_max_footer(
                    resolve_parquet(src, table, resolved),
                    job.trigger_column,
                    case_sensitive=_conf_on(conf, "spark.sql.caseSensitive"),
                    infer_ntz=_conf_on(conf, "spark.sql.parquet.inferTimestampNTZ.enabled"),
                )
            except FooterFallback as exc:
                log.info("trigger probe for %s scans with Spark: %s", job.job_id, exc)
        trigger_job = CopyJob(job_id=f"{job.job_id}__trigger", source=src.name, from_table=table)
        df = read_source(self.spark, src, trigger_job, resolved)
        return probe_max(df, job.trigger_column)

    def check_for_new_data(
        self, resolved: dict[str, ParquetTable | DataFrame] | None = None
    ) -> dict[str, object]:
        """Return {job_id: probe} for triggered jobs; raise NoNewDataError
        when every triggered job is unchanged (and at least one exists).
        ``resolved`` is the run's memo of resolved sources. Each
        job's persisted state is read once here and kept in ``self.states``
        for the run's skip and delta filter."""
        probes: dict[str, object] = {}
        self.states = {
            j.job_id: self.store.load(self.checksum, j.job_id)
            for j in self.spec.jobs.values()
            if j.trigger_column
        }
        fresh = False
        for job_id, state in self.states.items():
            job = self.spec.jobs[job_id]
            try:
                probe = self._probe_job(job, resolved)
            except Exception:
                log.warning("trigger probe failed for %s — failing open", job.job_id, exc_info=True)
                probe = None
                fresh = True  # probe error => run (CopyTool.java:375-381)
            probes[job_id] = probe
            if has_new_data(probe, state):
                fresh = True
        if self.states and not fresh:
            raise NoNewDataError("no new data in any triggered source")
        return probes

    # -- empty guard (CopyTool.java:192-197) -----------------------------
    def _extract(
        self, job: CopyJob, resolved: dict[str, ParquetTable | DataFrame] | None = None
    ) -> DataFrame:
        src = self.spec.sources[job.source]
        df = read_source(self.spark, src, job, resolved)
        return normalized_dataframe(df, auto_trim=job.auto_trim)

    def _zorder_cluster(self, df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
        """Morton-cluster the load on ``cols`` (numeric) before writing.

        Bounds come from one MIN/MAX probe over the extracted frame — the
        same cheap probe shape as the watermark trigger; file count follows
        the upstream partitioning.
        """
        from .zorder import ZCol, cluster_by_zorder

        aggs = []
        for c in cols:
            aggs += [F.min(F.col(c).cast("double")).alias(f"lo_{c}"),
                     F.max(F.col(c).cast("double")).alias(f"hi_{c}")]
        stats = df.agg(*aggs).collect()[0]
        specs = []
        for c in cols:
            lo, hi = stats[f"lo_{c}"], stats[f"hi_{c}"]
            if lo is None or hi is None:
                raise ValueError(f"zorder_by column {c!r} is non-numeric or all-NULL")
            specs.append(ZCol(c, lo, hi))
        num_files = max(1, df.rdd.getNumPartitions())
        return cluster_by_zorder(df, specs, num_files=num_files)

    def count_source(
        self,
        job: CopyJob,
        df: DataFrame,
        resolved: dict[str, ParquetTable | DataFrame] | None = None,
    ) -> int:
        """Pre-scan count (op #4, ``CopyTool.java:643-649``), from the
        cheapest place that holds it:

        - the declared ``count_query``, evaluated natively (the reference
          ships it to the source DB, ``CopyTable.java:300-308``);
        - for a table-mode parquet job, the sum of its data files' footer
          row counts (:meth:`ParquetTable.rows`) over the files the run's
          record pinned when the extract read it, so the guard and the
          extract read one listing, and no Spark job runs. Summary files
          (``_metadata``, ``_common_metadata``) hold no rows and are not
          counted. A file that is not a local ``file:`` path, an unreadable
          footer or an empty listing falls back to ``df.count()``, logging
          why;
        - otherwise (query mode, JDBC, CSV/JSON/ORC) ``df.count()``.

        Before the ``count_query`` runs, the job's own source views are
        re-registered: bare temp views are session-global, so another
        query-mode job (or a published view of the same name) could
        otherwise shadow the relation the count targets. With the run's
        ``resolved`` memo the re-registration reuses the frames the extract
        resolved.
        """
        source = self.spec.sources[job.source]
        if job.count_query:
            register_source_views(self.spark, source, resolved)
            row = self.spark.sql(job.count_query).collect()[0]
            return int(row[0])
        mode, payload = job.select_source()
        if source.format == "parquet" and mode == "table":
            table = resolve_parquet(source, payload[0], resolved)
            table.read(self.spark)  # pins the listing, when the extract has not
            try:
                return table.rows()
            except FooterFallback as exc:
                log.info("empty guard for %s counts with Spark: %s", job.job_id, exc)
        return df.count()

    def assert_non_empty(
        self,
        frames: dict[str, DataFrame],
        resolved: dict[str, ParquetTable | DataFrame] | None = None,
    ) -> dict[str, int]:
        """Count every source before any load (:meth:`count_source`) and
        abort the whole run on any empty source unless that job allows it:
        nothing is loaded or published and no state is saved. The counts
        are the unfiltered sources' (an incremental job's delta is cut
        later) and double as the progress/validation count, and as the
        JDBC sink's ``expected_count``."""
        counts: dict[str, int] = {}
        empty: list[str] = []
        for job_id, df in frames.items():
            job = self.spec.jobs[job_id]
            n = self.count_source(job, df, resolved)
            counts[job_id] = n
            if n == 0 and not job.allow_empty:
                empty.append(job_id)
        if empty:
            raise EmptyTablesError(f"sources returned 0 rows: {', '.join(sorted(empty))}")
        return counts

    # -- PHASE 2, one job ------------------------------------------------
    def _load_job(
        self,
        job_id: str,
        df: DataFrame,
        sink,
        probes: dict[str, object],
        counts: dict[str, int],
        load_date: datetime,
    ) -> str:
        """Load one job's new version and return its physical name; the
        drop/create flags mirror reference ops #12/#15. ``do_copy`` runs
        one of these per job on its pool, so this touches no state shared
        with another job's load. ``sink`` is ``do_copy``'s store for the
        storage steps: the JDBC sink's, or ``None`` for the catalog."""
        job = self.spec.jobs[job_id]
        catalog = sink or self.catalog
        if job.drop:
            catalog.drop_table(self.spark, job.schema_name, job.to_table)
        if not job.create and not catalog.exists(job.schema_name, job.to_table):
            raise FileNotFoundError(
                f"target {job.schema_name}.{job.to_table} does not exist and create=False"
            )
        if sink is not None:
            return sink.load_version(job, df, load_date, counts[job_id])
        # the published version, read once: the incremental snapshot
        # and the schema the new version evolves from
        info = self.catalog.manifest_info(job.schema_name, job.to_table)
        current = info.get("physical")
        current_df = (
            self.catalog.read_version(self.spark, job.schema_name, current)
            if current is not None
            else None
        )
        # incremental append (trigger-filtered delta + published snapshot):
        # only rows strictly newer than the persisted watermark are read
        # from the source — the filter pushes down to the source scan —
        # and the new version is snapshot+delta: the delta's files plus
        # links to the published version's, or one rewrite of both when
        # the tick must rewrite in full (module docstring). The
        # reference re-copies the full table every run; this is the
        # Spark-first upgrade.
        # Rows newer than this run's probe are left out as well: the
        # probe is the watermark saved on success, so the next tick
        # loads them — loading them now would load them twice. The
        # probe may list the files before the extract does, so this
        # bound is what keeps such rows out, for file and JDBC sources
        # alike.
        reads_current = False
        carry_from = None
        if job.incremental:
            trigger = F.col(job.trigger_column)
            probe = probes.get(job_id)
            if probe is not None:
                df = df.filter(trigger.isNull() | (trigger <= F.lit(probe.value)))
            state = self.states[job_id]
            if state is not None and current_df is not None:
                df = df.filter(trigger > F.lit(state.value))  # the delta
                reads_current = True
                if (
                    not (job.sort_by or job.zorder_by or job.partition_by)
                    and set(df.columns) <= set(current_df.columns)
                    and self.catalog.can_append(job.schema_name, current)
                ):
                    carry_from = current  # evolving the delta adds no column
                else:
                    df = current_df.unionByName(df, allowMissingColumns=True)

        # schema verify + evolve (op #14): widen the new version to the
        # union of the published schema and the incoming one so the view
        # never loses columns; incompatible retyping fails loudly
        if current_df is not None:
            df = evolve_to_union(df, current_df.schema)
        if job.zorder_by:
            df = self._zorder_cluster(df, job.zorder_by)
        # A version built from the published one (its plan reads it, or
        # it carries its files) must not overwrite it or sort below it
        # (newest_version, switch_only):
        # names have 1-second granularity, so it lands at least one
        # second after the newer of the published version and its
        # backup. An unpublished directory at that name is a crashed
        # attempt's leftover, and write_version's overwrite reclaims
        # it. Full reloads keep the same-date overwrite (crash-retry
        # idempotence).
        eff_date = load_date
        if reads_current:
            newest = max(v for v in (current, info.get("previous")) if v)
            after = datetime.strptime(version_of(newest), LOAD_DATE_FORMAT)
            eff_date = max(load_date, after + timedelta(seconds=1))
        return self.catalog.write_version(
            df, job.schema_name, job.to_table, eff_date,
            sort_by=list(job.sort_by) if job.sort_by else None,
            partition_by=list(job.partition_by) if job.partition_by else None,
            carry_from=carry_from,
        )

    # -- the 4 phases ----------------------------------------------------
    def do_copy(
        self,
        *,
        no_switch: bool = False,
        switch_only: bool = False,
        load_date: datetime | None = None,
    ) -> dict[str, str]:
        """Run the pipeline; returns {job_id: physical_name} — for an
        incremental job skipped as unchanged (module docstring), the version
        it already publishes.

        ``no_switch`` stops after phase 2 (load but don't publish);
        ``switch_only`` publishes the newest already-loaded version without
        extracting (the reference's CLI modes, ``CopyToolConfig.java:116-279``).
        """
        load_date = load_date or datetime.now(timezone.utc).replace(tzinfo=None)
        # the store the storage steps run on; the parquet-only step (the
        # snapshot+delta load) uses self.catalog
        sink = None if self.warehouse is None else _SinkCatalog(self.warehouse, self.spec)
        catalog = self.catalog if sink is None else sink
        published: dict[str, str] = {}

        if switch_only:
            for job in self.spec.jobs.values():
                physical = catalog.newest_version(job.schema_name, job.to_table)
                if physical is None:
                    raise FileNotFoundError(
                        f"switch-only: no loaded version for {job.schema_name}.{job.to_table}"
                    )
                catalog.publish(self.spark, job.schema_name, job.to_table, physical)
                catalog.cleanup(job.schema_name, job.to_table)
                published[job.job_id] = physical
            return published

        resolved: dict[str, ParquetTable | DataFrame] = {}  # this run's sources, by path
        probes = self.check_for_new_data(resolved)
        # an incremental job whose probe did not move has an empty delta:
        # its published version already holds what a reload would write
        unchanged: dict[str, str] = {}
        for job_id, state in self.states.items():
            job = self.spec.jobs[job_id]
            probe = probes.get(job_id)
            if not job.incremental or job.drop or probe is None or has_new_data(probe, state):
                continue
            current = self.catalog.current_version(job.schema_name, job.to_table)
            if current is not None:
                unchanged[job_id] = current

        # PHASE 1: extract all (plans built lazily; counts force the scans)
        frames = {
            job_id: self._extract(job, resolved)
            for job_id, job in self.spec.jobs.items()
            if job_id not in unchanged
        }
        counts = self.assert_non_empty(frames, resolved)

        # PHASE 2: load all, one task per job on a bounded pool (module
        # docstring); a new sink schema is created once, before any load
        if sink is not None:
            for schema in sorted({self.spec.jobs[j].schema_name for j in frames} - {"default"}):
                self.warehouse.ensure_schema(schema)
        loaded: dict[str, str] = dict(unchanged)
        loaded.update(
            _run_all(
                self.spark,
                {
                    job_id: functools.partial(
                        self._load_job, job_id, df, sink, probes, counts, load_date
                    )
                    for job_id, df in frames.items()
                },
            )
        )

        if no_switch:
            return loaded

        # PHASE 3: publish (view switch); unchanged jobs keep their published
        # version, and only the session's view is pointed at it
        for job_id, physical in unchanged.items():
            job = self.spec.jobs[job_id]
            self.catalog.register_view(self.spark, job.schema_name, job.to_table)
            published[job_id] = physical
        for job_id in frames:
            job = self.spec.jobs[job_id]
            catalog.publish(self.spark, job.schema_name, job.to_table, loaded[job_id])
            published[job_id] = loaded[job_id]

        # PHASE 4: retention cleanup
        for job_id in frames:
            job = self.spec.jobs[job_id]
            catalog.cleanup(job.schema_name, job.to_table)

        # persist trigger state ONLY after full success (CopyTool.java:305-309)
        for job_id, probe in probes.items():
            if probe is not None:
                self.store.save(self.checksum, probe, job_id)
        return published

    def run(self, *, notify=None, **kwargs) -> int:
        """CLI-shaped wrapper with the reference's exit codes.

        ``notify`` is the failure-notification hook (the reference mails a
        stack trace on any job error, ``EmailUtil.java:21-111``): called
        with the exception; its own failures are swallowed.
        """
        try:
            self.do_copy(**kwargs)
            return EXIT_OK
        except NoNewDataError:
            log.info("no new data — skipping run (exit 2)")
            return EXIT_NO_NEW_DATA
        except Exception as exc:
            log.exception("copy run failed")
            if notify is not None:
                try:
                    notify(exc)
                except Exception:
                    log.exception("failure-notification hook raised")
            return EXIT_ERROR

    # -- convenience -----------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Query the published views (the post-publish read path)."""
        return self.spark.sql(query)

    def table(self, table: str, schema: str = "default") -> DataFrame:
        if self.warehouse is not None:
            # jdbc sink: the published name is a VIEW on the warehouse
            # (schema-qualified when the job declared a non-default schema)
            name = table if schema == "default" else f"{schema}.{table}"
            return read_source(
                self.spark,
                self.spec.sink,
                CopyJob(job_id=f"read_{table}", source="_sink", from_table=name),
            )
        self.catalog.register_view(self.spark, schema, table)
        name = table if schema == "default" else f"{schema}_{table}"
        return self.spark.table(name)


def _run_all(spark: SparkSession, tasks: dict[str, Callable[[], str]]) -> dict[str, str]:
    """Run ``tasks`` on a pool of ``min(len(tasks), cores)`` driver threads
    and return their results by key, in ``tasks`` order.

    Spark schedules jobs submitted from separate threads concurrently. Each
    task runs under its own clone of the caller's local properties, so its
    Spark jobs stay in the caller's job group, and carries one job tag of
    this call (a job group of its own would replace the caller's). On the
    first failure, tasks not yet started never start, the tagged Spark jobs
    are cancelled, every running task is waited for, and that first error
    is raised, not the cancellations it caused. No pool thread outlives
    the call."""
    if not tasks:
        return {}
    sc = spark.sparkContext
    tag = f"copy-load-{uuid.uuid4().hex}"

    def tagged(fn: Callable[[], str]) -> Callable[[], str]:
        def run() -> str:
            sc.addJobTag(tag)
            return fn()

        # wrapped per task: each captures its own clone of the properties
        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=min(len(tasks), os.cpu_count() or 1)) as pool:
        futures = {key: pool.submit(tagged(fn)) for key, fn in tasks.items()}
        done, _ = wait(futures.values(), return_when=FIRST_EXCEPTION)
        failed = [f for f in futures.values() if f in done and f.exception() is not None]
        if failed:
            for f in futures.values():
                f.cancel()
            sc.cancelJobsWithTag(tag)
            wait(futures.values())
            raise failed[0].exception()
    return {key: f.result() for key, f in futures.items()}


def _conf_on(conf, key: str) -> bool:
    return conf.get(key).strip().lower() == "true"


class _SinkCatalog:
    """The JDBC sink's storage steps in the parquet catalog's call shapes,
    so ``do_copy`` runs one sequence of steps on either store.

    The config's ``default`` namespace maps to the connection's default
    schema (unqualified SQL, the pre-round-10 behavior); any other schema
    name qualifies every statement and scopes every catalog probe
    (reference ``MonetDBTable.java:12-25``)."""

    def __init__(self, warehouse, spec: JobSpec):
        self.warehouse = warehouse
        self.spec = spec

    @staticmethod
    def _schema(schema: str) -> str | None:
        return None if schema == "default" else schema

    def newest_version(self, schema: str, table: str) -> str | None:
        versions = self.warehouse.table_versions(table, schema=self._schema(schema))
        # the engine's canonical lowercase (store listings come back
        # store-cased; unquoted SQL resolves either way)
        return versions[0].lower() if versions else None

    def exists(self, schema: str, table: str) -> bool:
        return self.warehouse.exists(table, schema=self._schema(schema))

    def drop_table(self, spark: SparkSession, schema: str, table: str) -> None:
        self.warehouse.drop_table(table, schema=self._schema(schema))

    def publish(self, spark: SparkSession, schema: str, table: str, physical: str) -> None:
        self.warehouse.publish(table, physical, schema=self._schema(schema))

    def cleanup(self, schema: str, table: str) -> None:
        self.warehouse.cleanup(table, schema=self._schema(schema))

    def load_version(
        self, job: CopyJob, df: DataFrame, load_date: datetime, expected_count: int
    ) -> str:
        """PHASE 2 on the sink: a new versioned physical table (staged bulk
        COPY or batched INSERT). ``expected_count`` is the empty guard's
        pre-load count, which doubles as the bulk loader's verification
        count (the reference's count file, ``CopyTool.java:643-649``), so no
        extra count job runs."""
        if job.sort_by:
            df = df.sortWithinPartitions(*job.sort_by)
        return self.warehouse.load_version(
            df,
            job.to_table,
            load_date,
            method=self.spec.sink_method,
            staging_dir=self.spec.sink_staging_dir,
            expected_count=expected_count,
            schema=self._schema(job.schema_name),
        )

"""Versioned-table publish: near-zero-downtime view switching on Parquet.

Reference protocol (SURVEY.md §2A #18-21): each load writes a *new* physical
table ``name_yyyy_MM_dd_HH_mm_ss`` (``MonetDBTable.java:31-43``,
date format ``CopyTool.java:216-218``), then a view of the public name is
transactionally repointed (``MonetDBUtil.java:442-529``), and versions
beyond the newest 2 (current + 1 backup) are dropped
(``CopyTool.java:554-602``).

Spark-first translation: versions are Parquet directories; the "view switch"
is (a) an atomic manifest-file swap (``os.replace``) for cross-session
durability and (b) ``createOrReplaceTempView`` in the live session catalog —
both single atomic operations, so readers always see a complete version.
At cluster scale the same protocol works on any object store that gives
atomic single-object PUT (the manifest), with no table-lock during load.

Schema sidecar: ``write_version`` records the written frame's
``schema.json()`` as ``_SCHEMA.json`` at the version root, through
``fs.write_atomic`` and after the parquet write (and an append's carry) has
committed. A partitioned write records the schema its read returns: the
data columns, then the partition columns typed as written, where partition
discovery would type a small bigint value as int. An append
(``write_version(carry_from=...)``) records the schema that writing the
base version's rows plus the new ones would record, so appended and
rewritten versions carry byte-equal sidecars. Written last, it also marks a
version as finished: ``newest_version`` skips an unpublished unpartitioned
one without it, such as an append that crashed mid-carry and holds only
part of its base's files. When the file is present, ``read_version`` reads
with that schema and runs no footer-reading inference job; when it is
absent it infers as before. It is absent for ``write_version_incremental``
versions, for versions written by older code, and after a crash between
the data write and the schema write. Spark's file listing skips names
starting with ``_``, so the sidecar is never read as data.
``mode("overwrite")`` replaces a version directory whole, so a sidecar
never outlives the data it describes.

Every version is a self-contained directory: ``write_version`` rewrites the
table or, as an append, writes only the new rows and carries every data
file of the base version; ``write_version_incremental`` rewrites the
touched partitions and carries the rest. Both carry through one helper,
``_carry``: a hard link per file, so retention can reap the version that
first wrote a file while every retained version that links it still reads
it. Where the store has no hard links, the partition carry copies bytes,
and an append rewrites its base instead: copying the whole table through
the driver would cost more than Spark's parallel rewrite. Linked files are
shared, so no code may modify a version's data files in place.
Older releases could also carry partitions by reference, leaving a version
that held only the partitions it rewrote plus a marker file naming the
versions that held the rest. That format is gone: reading such a version,
or carrying from it, raises instead of silently dropping rows.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..sources.footers import hidden
from .fs import LocalFS

LOAD_DATE_FORMAT = "%Y_%m_%d_%H_%M_%S"  # yyyy_MM_dd_HH_mm_ss (CopyTool.java:216-218)
#: version suffix regex — parity with CopyTool.java:64 (_20%...)
VERSION_RE = re.compile(r"_(20\d{2}_\d{2}_\d{2}_\d{2}_\d{2}_\d{2})$")
RETAIN_VERSIONS = 2  # current + 1 backup (CopyTool.java:575-580)
#: the written schema of a version (module docstring)
SCHEMA_FILE = "_SCHEMA.json"
#: An append carries a version while fewer of its data files than this were
#: appended since its last full write; then the tick rewrites it whole, which
#: compacts it (``can_append``).
APPEND_MAX_FILES = 32
#: the write id Spark puts in every file name of one write:
#: ``part-00000-<uuid>-c000.snappy.parquet``
WRITE_ID_RE = re.compile(r"^part-\d+-([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})")


def physical_name(table: str, load_date: datetime) -> str:
    return f"{table}_{load_date.strftime(LOAD_DATE_FORMAT)}"


def version_of(physical: str) -> str | None:
    m = VERSION_RE.search(physical)
    return m.group(1) if m else None


@dataclass
class VersionedCatalog:
    """Directory-backed versioned table catalog under ``warehouse_dir``.

    Layout: ``<warehouse>/<schema>/<table>_<version>/`` (Parquet) plus
    ``<warehouse>/<schema>/.<table>.current`` manifest naming the published
    version. The manifest write is an atomic single-object publish
    (``os.replace`` on POSIX; see ``engine/fs.py`` for the store contract).

    ``fs`` routes ALL control-plane I/O (listing, manifest swap, carry
    links/copies, retention deletes) through a store interface —
    ``LocalFS`` (default) for POSIX paths, ``HadoopFS`` for HDFS/S3A/any
    Hadoop URI; the data plane (parquet read/write) already goes through
    Spark's own Hadoop layer, so a non-POSIX ``warehouse_dir`` needs only
    the matching ``fs``.
    """

    warehouse_dir: str
    fs: object = field(default_factory=LocalFS)

    # -- paths -----------------------------------------------------------
    def schema_dir(self, schema: str) -> str:
        return os.path.join(self.warehouse_dir, schema)

    def version_dir(self, schema: str, physical: str) -> str:
        return os.path.join(self.schema_dir(schema), physical)

    def _manifest(self, schema: str, table: str) -> str:
        return os.path.join(self.schema_dir(schema), f".{table}.current")

    # -- catalog probes (reference op #16, MonetDBUtil.java:41-88) -------
    def table_versions(self, schema: str, table: str) -> list[str]:
        """All physical versions, newest first (op #20, CopyTool.java:513-548)."""
        sdir = self.schema_dir(schema)
        if not self.fs.isdir(sdir):
            return []
        out = []
        prefix = f"{table}_"
        for name in self.fs.listdir(sdir):
            if name.startswith(prefix) and VERSION_RE.search(name) and name[: -20] == table:
                out.append(name)
        return sorted(out, reverse=True)

    def exists(self, schema: str, table: str) -> bool:
        return self.fs.exists(self._manifest(schema, table)) or bool(
            self.table_versions(schema, table)
        )

    def current_version(self, schema: str, table: str) -> str | None:
        path = self._manifest(schema, table)
        if not self.fs.exists(path):
            return None
        return json.loads(self.fs.read_text(path))["physical"]

    def manifest_info(self, schema: str, table: str) -> dict:
        """Full manifest record (``{}`` when unpublished) — includes any
        publisher-supplied ``meta`` keys (e.g. the streaming sync's lineage
        id), which is what lets replay guards compare provenance instead of
        just the version name."""
        path = self._manifest(schema, table)
        if not self.fs.exists(path):
            return {}
        return json.loads(self.fs.read_text(path))

    # -- write / publish / retention ------------------------------------
    def write_version(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        load_date: datetime,
        *,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        distribute: bool = True,
        carry_from: str | None = None,
    ) -> str:
        """PHASE 1+2 analog: materialize the load as a new physical version.

        Partition count rides on the upstream plan (AQE-coalesced); callers
        repartition for target file sizing when needed.

        ``sort_by`` clusters rows within each output file so parquet
        row-group min/max statistics enable data skipping on those columns
        (the cheap cousin of Z-ordering). ``partition_by`` writes hive-style
        partition directories — filters on those columns become partition
        PRUNING (directories never listed), the coarsest and cheapest skip
        level for e.g. date-partitioned event tables at 100 TB. A
        partitioned write is REBALANCE-clustered on the partition columns
        first (round 11, guide §6 write distribution): without it every
        upstream task writes a file into every partition directory it
        touches — task-count x partition-count small files at scale — while
        the AQE rebalance both clusters rows per directory AND splits any
        oversized partition by the advisory size, so one huge day still
        writes in parallel. (Measured locally: the clustered writer also
        stops thrashing per-directory open files — 0.87 s -> 0.51 s for the
        30-day events publish at sf0.1.) Callers that manage their own
        distribution (``compact()``'s ``target_files`` repartition) pass
        ``distribute=False`` so the rebalance doesn't re-shuffle over it.

        The write also records its schema in ``_SCHEMA.json`` (module
        docstring), so reading the version back needs no inference.

        ``carry_from`` makes the write an append: ``df`` holds only the new
        rows, with the columns and types of version ``carry_from`` (one
        :meth:`can_append` accepts; no ``sort_by`` or ``partition_by``).
        Every data file of that version is hard-linked into the new one
        first (:meth:`_carry`), and ``df`` is then written beside them, so
        a crash leaves no ``_SCHEMA.json`` (module docstring). Where the
        store has no hard links, the write rewrites ``carry_from``'s rows
        plus ``df`` instead. Either way the recorded schema is the one that
        rewrite records.
        """
        physical = physical_name(table, load_date)
        out_dir = self.version_dir(schema, physical)
        if carry_from is not None:
            base = self.read_version(df.sparkSession, schema, carry_from)
            full = base.unionByName(df)  # analysis only, no job
            self.fs.rmtree_quiet(out_dir)
            self.fs.makedirs(out_dir)
            if self._carry(self.version_dir(schema, carry_from), out_dir, or_copy=False):
                df.write.mode("append").parquet(out_dir)
                self.fs.write_atomic(os.path.join(out_dir, SCHEMA_FILE), full.schema.json())
                return physical
            df = full
        out = df
        if partition_by and distribute:
            out = out.hint("rebalance", *partition_by)
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out_dir)
        recorded = out.schema
        if partition_by:
            # the schema the read returns: data columns, then the partition
            # columns typed as written (discovery would narrow a bigint)
            ordered = StructType(
                [f for f in recorded.fields if f.name not in partition_by]
                + [recorded[c] for c in partition_by]
            )
            recorded = df.sparkSession.read.schema(ordered).parquet(out_dir).schema
        self.fs.write_atomic(os.path.join(out_dir, SCHEMA_FILE), recorded.json())
        return physical

    def can_append(self, schema: str, physical: str) -> bool:
        """True when ``write_version(carry_from=physical)`` may carry the
        version: it recorded its schema (its write finished), it has no
        partition directory (a partitioned write records one too), and
        fewer than :data:`APPEND_MAX_FILES` of its data files were appended
        since its last full write. Those are the files outside its largest
        write (:data:`WRITE_ID_RE`; a file without a write id counts as a
        write of its own): a full write, of any size, is one write, and each
        append adds one more. So a version a full write left with many files
        still takes appends."""
        names = self.fs.listdir(self.version_dir(schema, physical))
        if SCHEMA_FILE not in names or any("=" in n for n in names):
            return False
        writes = Counter(
            (m.group(1) if (m := WRITE_ID_RE.match(n)) else n) for n in names if not hidden(n)
        )
        appended = sum(writes.values()) - max(writes.values(), default=0)
        return appended < APPEND_MAX_FILES

    def write_version_incremental(
        self,
        df_touched: DataFrame,
        schema: str,
        table: str,
        load_date: datetime,
        *,
        partition_col: str,
        base_physical: str | None,
    ) -> str:
        """Materialize a new version rewriting ONLY the touched partitions.

        ``df_touched`` holds the merged content of the partitions this load
        actually changed (hive-partitioned on ``partition_col``); every
        OTHER partition directory of ``base_physical`` is carried into the
        new version (:meth:`_carry`) — zero rewrite I/O where the store has
        hard links, and the links keep the data alive after retention
        deletes the base version's directory entry. This is the
        directory-catalog analog of a manifest-based table format's file
        reuse (Delta/Iceberg): write volume per load drops from O(table) to
        O(touched partitions) while the version swap stays atomic (the new
        directory is complete before ``publish`` repoints the manifest) and
        time travel keeps working (every retained version remains a full
        self-describing directory).

        Crash-retry safe the same way ``write_version`` is: the target
        directory is cleared first, so a replay that recomputes the same
        version name rebuilds it deterministically from the unchanged
        manifest state.
        """
        if base_physical:
            self._refuse_carried(schema, base_physical)
        physical = physical_name(table, load_date)
        out_dir = self.version_dir(schema, physical)
        self.fs.rmtree_quiet(out_dir)
        df_touched.write.mode("overwrite").partitionBy(partition_col).parquet(out_dir)
        if base_physical:
            self._carry(self.version_dir(schema, base_physical), out_dir)
        return physical

    def _carry(self, base_dir: str, out_dir: str, *, or_copy: bool = True) -> bool:
        """Carry every data file of ``base_dir`` into ``out_dir`` by hard
        link: the files at its root, and those of each partition directory
        that the write into ``out_dir`` did not rewrite. Names starting
        with ``_`` or ``.`` (write markers, checksums, ``_SCHEMA.json``) are
        not data and stay behind, except partition directories such as
        ``_kb=3`` (Spark's listing rule). The first ``OSError`` from a link
        switches the rest of the carry to byte copies: the same content, at
        O(carried bytes) I/O. When that is the very first link
        (a store without hard links: object-store FUSE mounts, cross-device
        staging, every ``HadoopFS`` store) and ``or_copy`` is False, the
        carry copies nothing and returns False; otherwise it returns True.
        """
        pairs = []
        for entry in self.fs.listdir(base_dir):
            if hidden(entry):
                continue
            src, dst = os.path.join(base_dir, entry), os.path.join(out_dir, entry)
            if not self.fs.isdir(src):
                pairs.append((src, dst))
            elif not self.fs.exists(dst):  # a partition the write left alone
                self.fs.makedirs(dst)
                pairs += [
                    (os.path.join(src, f), os.path.join(dst, f))
                    for f in self.fs.listdir(src)
                    if not hidden(f)
                ]
        use_copy = False
        for i, (src, dst) in enumerate(pairs):
            if not use_copy:
                try:
                    self.fs.link(src, dst)
                    continue
                except OSError:
                    if i == 0 and not or_copy:
                        return False
                    use_copy = True  # store has no links: copy from here on
            self.fs.copy(src, dst)
        return True

    def _refuse_carried(self, schema: str, physical: str) -> None:
        """Fail loudly on a version in the carry-by-reference format older
        releases wrote (module docstring): it holds only the partitions it
        owns, so reading it as a plain directory would drop rows."""
        if self.fs.exists(os.path.join(self.version_dir(schema, physical), "_CARRIED.json")):
            raise RuntimeError(
                f"version {schema}.{physical} is in the removed carry-by-reference "
                "format: it holds only the partitions it rewrote, the rest live in "
                "older versions. compact() it with the previous release, which "
                "still reads that format, then retry"
            )

    def read_version(self, spark: SparkSession, schema: str, physical: str) -> DataFrame:
        """Read one physical version as a plain parquet directory, with the
        schema recorded in ``_SCHEMA.json`` when there is one."""
        self._refuse_carried(schema, physical)
        d = self.version_dir(schema, physical)
        schema_path = os.path.join(d, SCHEMA_FILE)
        reader = spark.read
        if self.fs.exists(schema_path):
            reader = reader.schema(StructType.fromJson(json.loads(self.fs.read_text(schema_path))))
        return reader.parquet(d)

    def version_is_partitioned(self, schema: str, physical: str | None, partition_col: str) -> bool:
        """True iff the version directory is hive-partitioned on
        ``partition_col``. The partition-pruned sync checks this before
        trusting a base version for incremental linking: a version whose
        SCHEMA carries the bucket column but whose LAYOUT doesn't (e.g. a
        ``compact()`` rewrite) must be migrated by full rewrite — linking
        against it would publish only the touched buckets."""
        if not physical:
            return False
        d = self.version_dir(schema, physical)
        if not self.fs.isdir(d):
            return False
        prefix = f"{partition_col}="
        return any(e.startswith(prefix) for e in self.fs.listdir(d))

    def publish(
        self,
        spark: SparkSession,
        schema: str,
        table: str,
        physical: str,
        *,
        meta: dict | None = None,
    ) -> None:
        """PHASE 3 analog: atomically repoint the public name (op #19).

        Manifest swap (durable) + session-catalog view replace (live) — each
        a single atomic operation, mirroring the reference's one-transaction
        drop-view/create-view (``MonetDBUtil.java:442-529``). ``meta`` keys
        ride along in the manifest (reserved names ``physical``/``schema``/
        ``table`` win) so publishers can record provenance — see
        ``manifest_info``.
        """
        manifest = self._manifest(schema, table)
        record = dict(meta or {})
        # Record the outgoing version as ``previous``: the manifest then
        # names the published lineage the keep-2 retention protects
        # (current + backup). Its readers: CopyEngine.do_copy names an
        # incremental version after the newer of the two, and the
        # ``catalog_version_diff`` lifecycle query (queries/lifecycle.py)
        # diffs the backup against the current version.
        old = self.manifest_info(schema, table)
        prior = old.get("physical")
        if prior is not None and prior != physical:
            record.setdefault("previous", prior)
        elif prior == physical and old.get("previous"):
            # same-physical republish (switch-only / retry): keep protecting
            # the existing backup rather than dropping the lineage record
            record.setdefault("previous", old["previous"])
        record.update({"physical": physical, "schema": schema, "table": table})
        self.fs.write_atomic(manifest, json.dumps(record))
        self.register_view(spark, schema, table)

    def register_view(self, spark: SparkSession, schema: str, table: str) -> None:
        """Expose the published version as view ``<schema>_<table>`` (and bare
        ``<table>`` for the default schema)."""
        physical = self.current_version(schema, table)
        if physical is None:
            raise FileNotFoundError(f"no published version for {schema}.{table}")
        df = self.read_version(spark, schema, physical)
        df.createOrReplaceTempView(f"{schema}_{table}")
        if schema == "default":
            df.createOrReplaceTempView(table)

    def table_at(self, spark: SparkSession, schema: str, table: str, version: str | None = None) -> DataFrame:
        """Time travel: read a specific retained version (default: published).

        ``version`` is the ``yyyy_MM_dd_HH_mm_ss`` suffix. Versions beyond
        retention are gone — this reads what cleanup kept (current + backup),
        the same rollback window the reference's keep-2 policy provides.
        """
        if version is None:
            physical = self.current_version(schema, table)
            if physical is None:
                raise FileNotFoundError(f"no published version for {schema}.{table}")
        else:
            physical = f"{table}_{version}"
            if physical not in self.table_versions(schema, table):
                raise FileNotFoundError(
                    f"version {version} of {schema}.{table} not retained; "
                    f"available: {[version_of(v) for v in self.table_versions(schema, table)]}"
                )
        return self.read_version(spark, schema, physical)

    def register_all(self, spark: SparkSession) -> list[str]:
        """Re-register every published view in a fresh session (re-publish
        decoupled from load — the reference's --switch-only mode)."""
        registered = []
        if not self.fs.isdir(self.warehouse_dir):
            return registered
        for schema in sorted(self.fs.listdir(self.warehouse_dir)):
            sdir = self.schema_dir(schema)
            if not self.fs.isdir(sdir):
                continue
            for name in sorted(self.fs.listdir(sdir)):
                if name.startswith(".") and name.endswith(".current"):
                    table = name[1 : -len(".current")]
                    self.register_view(spark, schema, table)
                    registered.append(f"{schema}.{table}")
        return registered

    def newest_version(self, schema: str, table: str) -> str | None:
        """The newest loaded version, which ``--switch-only`` publishes. An
        unpublished version whose write did not finish is skipped: one
        with neither ``_SCHEMA.json``, which every write records last, nor
        a partition directory (a partitioned version written by older code
        has no sidecar; module docstring)."""
        current = self.current_version(schema, table)
        for physical in self.table_versions(schema, table):
            names = self.fs.listdir(self.version_dir(schema, physical))
            if physical == current or SCHEMA_FILE in names or any("=" in n for n in names):
                return physical
        return None

    def cleanup(self, schema: str, table: str, *, retain: int = RETAIN_VERSIONS) -> list[str]:
        """PHASE 4 analog: drop versions beyond retention (op #21).

        Never drops the published version or the manifest's ``previous``
        backup, even when unpublished versions newer than them fill the
        keep-``retain`` window: a failed run leaves the versions of the jobs
        that finished, and they are reaped once newer versions push them
        out of the window.
        Files a retained version carried by hard link stay readable: the
        link keeps the data alive when the version that wrote it is reaped.
        """
        info = self.manifest_info(schema, table)
        keep = {info.get("physical"), info.get("previous")}
        versions = self.table_versions(schema, table)
        dropped = []
        for physical in versions[retain:]:
            if physical in keep:
                continue
            self.fs.rmtree(self.version_dir(schema, physical))
            dropped.append(physical)
        return dropped

    def compact(
        self,
        spark: SparkSession,
        schema: str,
        table: str,
        load_date: datetime,
        *,
        target_files: int = 1,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> str:
        """Small-file compaction (the OPTIMIZE analog): rewrite the current
        version into ``target_files`` files and atomically republish.

        Compacting a hive-partitioned table (e.g. the partition-pruned
        streaming sync's bucketed layout) without passing the same
        ``partition_by`` produces a valid but UNPARTITIONED version; the
        sync detects that via ``version_is_partitioned`` and migrates back
        with one full bucketed rewrite on its next batch — correct either
        way, but passing ``partition_by`` keeps the incremental-link fast
        path unbroken (``target_files`` then applies per partition).

        Streaming sinks (one version per micro-batch) and highly-parallel
        loads accumulate many small files; at 100 TB small files dominate
        scan cost (per-file open + footer read, and task scheduling
        overhead at ~200k files). Compaction reads the published version,
        ``repartition(target_files)`` (a full shuffle — sized so each
        output file lands near the 128 MB-1 GB sweet spot), optionally
        re-sorts within partitions to restore min/max skipping, and
        publishes the rewrite as a NEW version — readers never see a
        half-compacted table, and retention cleanup reaps the fragmented
        one.
        """
        df = self.table_at(spark, schema, table)
        out = (
            df.repartition(target_files, *partition_by)
            if partition_by
            else df.repartition(target_files)
        )
        physical = self.write_version(
            out,
            schema,
            table,
            load_date,
            sort_by=sort_by,
            partition_by=partition_by,
            # target_files sizing is this method's contract — write_version's
            # rebalance would re-shuffle right over it
            distribute=False,
        )
        # A layout-preserving compact (partition_by passed) carries the
        # publisher's recorded bucket count forward: the partitioned sync's
        # fast path trusts a base version only when the manifest's bucket
        # modulus matches its own — dropping the key here would force one
        # needless full-rewrite migration on the next batch.
        meta = None
        prior = self.manifest_info(schema, table)
        if partition_by and prior.get("buckets") is not None:
            meta = {"buckets": prior["buckets"]}
        self.publish(spark, schema, table, physical, meta=meta)
        return physical

    def drop_table(self, spark: SparkSession, schema: str, table: str) -> None:
        """Drop the public name and ALL versions (op #15)."""
        manifest = self._manifest(schema, table)
        if self.fs.exists(manifest):
            self.fs.remove(manifest)
        for physical in self.table_versions(schema, table):
            self.fs.rmtree(self.version_dir(schema, physical))
        spark.catalog.dropTempView(f"{schema}_{table}")
        if schema == "default":
            spark.catalog.dropTempView(table)

"""Structured Streaming pipelines — the idiomatic upgrade of the reference's
polling scheduler + watermark trigger (``CopyTool.java:121-160,332-477``).

The reference polls a source, compares a monotone column against persisted
state, and reprocesses everything when newer data exists. Structured
Streaming replaces that with an incremental source + event-time watermark +
checkpointed state: only new files/rows are processed, late data is bounded
by the watermark, and exactly-once sinks replace the versioned-table swap
for append-shaped loads.

These builders return streaming DataFrames; tests run them with
``trigger(availableNow=True)`` (the catch-up analog of a scheduler tick)
against the events fixture copied into a file-stream directory.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: events schema with ts as TIMESTAMP (micros) — file-stream sources need an
#: explicit schema (no inference on streams).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(
    spark: SparkSession, source_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over parquet event files: each new file is a
    micro-batch (the streaming analog of the reference's per-poll extract).

    ``max_files_per_trigger`` bounds each micro-batch's file count — the
    production backpressure knob, and what the replay tests use to force
    a multi-batch drain."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def windowed_counts_stream(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour counts with late-data bound.

    The watermark is the streaming generalization of the reference's
    high-water-mark trigger: state for windows older than max(ts)-watermark
    is finalized and dropped, bounding memory at any scale.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n_events", "sum_value")
    )


def sessionized_stream(events: DataFrame, *, gap: str = "10 minutes", watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows (gap-based) — stateful aggregation whose
    state is pruned by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def enriched_windowed_stream(
    events: DataFrame,
    dim: DataFrame,
    *,
    join_key: str = "user_id",
    dim_key: str = "c_custkey",
    segment_col: str = "c_mktsegment",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a static
    dimension (broadcast — the dimension never shuffles the stream), then
    windowed aggregate per segment.

    This is the canonical "enrich the event stream with reference data"
    shape: the static side is re-read per micro-batch by Spark, so a
    versioned-catalog publish (engine/publish.py) is picked up without
    restarting the query. State is bounded by watermark x segment count.
    """
    enriched = events.withWatermark("ts", watermark).join(
        F.broadcast(dim.select(F.col(dim_key), F.col(segment_col))),
        on=F.col(join_key) == F.col(dim_key),
        how="inner",
    )
    return (
        enriched.groupBy(F.window("ts", "1 hour").alias("w"), F.col(segment_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col(segment_col).alias("segment"),
            "n_events",
            "sum_value",
        )
    )


def stateful_dedup_stream(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on (user_id, event_type) within the watermark — the
    streaming analog of the keep-first batch dedup (stream_dedup_first)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    table_name: str,
    *,
    output_mode: str = "complete",
) -> None:
    """Drain everything currently available into an in-memory sink — one
    scheduler tick / catch-up run (``trigger(availableNow=True)``).

    Aggregations use ``complete`` here because a single availableNow batch
    never advances the watermark far enough to finalize the newest windows
    in append mode; row-shaped streams (dedup) pass ``append``.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


#: epoch for the streaming sync's monotonic version counter: version date
#: = SEQ_BASE + seq seconds (names sort in publish order).
SEQ_BASE = datetime(2024, 1, 1)


def batch_is_committed(info: dict, lineage: str | None, batch_id: int) -> bool:
    """Committed-batch replay guard: the manifest records the provenance
    (lineage, batch_id) of the publish that produced it; a batch whose
    provenance already matches crashed between publish and checkpoint
    commit — it completed, the replay is a no-op.

    An unresolvable lineage (None) NEVER matches — not even a manifest that
    itself recorded lineage=None. Matching on batch_id alone would skip a
    fresh checkpoint's batch 0 (ids restart at 0 on a wipe), the exact
    data-loss case this guard exists for; failing open re-merges instead,
    which the SCD-1 last-write-wins merge makes content-idempotent."""
    if lineage is None:
        return False
    return info.get("lineage") == lineage and info.get("batch_id") == int(batch_id)


def seq_of_physical(physical: str | None) -> int | None:
    """Seconds-since-SEQ_BASE encoded in a physical version name (None for
    unversioned/absent names). Negative for pre-2024 legacy names —
    callers take a max, so ordering still holds."""
    from ..engine.publish import LOAD_DATE_FORMAT, version_of

    v = version_of(physical or "")
    if not v:
        return None
    return int((datetime.strptime(v, LOAD_DATE_FORMAT) - SEQ_BASE).total_seconds())


def next_version_seq(info: dict, retained: list[str]) -> int:
    """The seq for the NEXT publish given the manifest record and the
    retained version names.

    Manifest has ``seq`` (normal steady state): seq+1, IGNORING the
    directory listing — a replay whose publish never landed must recompute
    the SAME name from the unchanged manifest and overwrite its own
    half-written directory, so the listing (which contains that half dir)
    must not perturb the result.

    Manifest lacks ``seq`` (legacy day-salt or external publish, e.g.
    compact): one-shot migration — seed from the MAX encoded date across
    the manifest AND every retained dir, so the new name outsorts even a
    legacy dir that sorts above the manifest's current (else
    newest_version/cleanup would stay pinned to the stale dir forever).
    """
    prev_seq = info.get("seq")
    if prev_seq is None:
        candidates = [seq_of_physical(info.get("physical"))] + [
            seq_of_physical(p) for p in retained
        ]
        candidates = [c for c in candidates if c is not None]
        prev_seq = max(candidates) if candidates else -1
    return int(prev_seq) + 1


#: hive-partition column carrying the key's hash bucket in partitioned
#: sync mode — an internal layout column, but a useful one: readers that
#: filter on it get partition pruning for key-targeted lookups too.
KEY_BUCKET_COL = "_kb"


def upsert_stream_available_now(
    events: DataFrame,
    catalog,
    schema: str,
    table: str,
    checkpoint_dir: str,
    *,
    key: str = "user_id",
    partition_buckets: int | None = None,
) -> None:
    """Streaming SCD-1 sync into the versioned catalog: each micro-batch
    collapses to one row per ``key`` (latest ``(ts, event_id)`` wins),
    merges last-write-wins over the published version
    (operators/upsert.py:upsert_scd1 — batch broadcast, table scanned
    never shuffled), writes a NEW physical version, and atomically
    publishes it. This is the reference's scheduled incremental copy
    re-expressed as foreachBatch: the trigger state lives in the stream
    checkpoint, the swap stays the same manifest ``os.replace``.

    foreachBatch is at-least-once; two mechanisms make it effectively
    exactly-once here:

    1. **Committed-batch guard on provenance, not names.** Every publish
       records ``{"lineage", "batch_id"}`` in the manifest meta. A batch
       whose (lineage, batch_id) already matches the manifest crashed
       BETWEEN publish and the checkpoint commit — it completed; the
       replay is skipped (the transactional sink's epoch-ledger idea).
       Comparing provenance instead of a recomputed version NAME means the
       guard cannot be defeated by name drift: batch ids restart at 0 on a
       wiped checkpoint, so a name-only check would make a FRESH stream's
       batch 0 (which may include files the committed batch 0 never saw)
       look "already merged" and silently drop its data. The lineage id is
       Structured Streaming's query id — stable across restarts of the
       same checkpoint, regenerated when the checkpoint is wiped.
    2. **Monotonic version names from a manifest ``seq`` counter.** The
       version date is ``2024-01-01 + seq seconds`` where ``seq`` is the
       last published seq + 1 (read from the manifest, so a replay whose
       publish never landed recomputes the SAME name and overwrites its
       own half-written directory — never a directory another lineage
       still retains). Names therefore sort in publish order across
       lineages, which is what ``newest_version``/``cleanup`` retention
       assumes; the lineage epoch lives only in the manifest meta the
       guard reads. A publish that predates this scheme (no ``seq`` key,
       e.g. a ``compact()`` rewrite) is handled by continuing one second
       past its encoded date.

    ``partition_buckets=P`` switches the published table to hash-bucketed
    hive partitioning on ``KEY_BUCKET_COL = pmod(xxhash64(key), P)`` and
    the merge to PARTITION-PRUNED incremental rewrites: each batch reads
    only the buckets its keys hash into (partition pruning — untouched
    directories are never even listed), merges last-write-wins within
    them, and writes a new version where only those buckets are
    rewritten — every other bucket is hard-linked from the previous
    version (``write_version_incremental``). Per-batch write volume
    drops from O(table) to O(touched buckets) ≈ O(batch x table/P),
    which is the knob that makes a 100 TB published table sustainable
    under frequent ticks; the version swap, replay guard, retention and
    time travel are unchanged. Every bucketed publish records its modulus
    in the manifest (``"buckets"``); a base published without buckets,
    under a DIFFERENT modulus, or with a flattened layout is migrated by
    one full bucketed rewrite on the next batch — linking old-modulus
    directories next to new-modulus rewrites of the same keys would
    silently publish duplicates. Untouched buckets travel into each new
    version by hard link, or by byte copy on a store without links (see
    ``VersionedCatalog.write_version_incremental``).

    Pinned by ``tests/test_streaming.py::test_upsert_stream_replay_is_
    idempotent`` (checkpoint wipe = every batch replays),
    ``test_upsert_stream_fresh_checkpoint_new_files_not_skipped`` (the
    data-loss case a name-only guard misses), and
    ``test_upsert_stream_versions_monotonic_across_lineages`` (retention
    ordering across a checkpoint wipe); the partitioned mode by
    ``test_upsert_stream_partitioned_*`` (content parity with the
    unpartitioned path, untouched-bucket files carried by hard link, and
    replay idempotence).
    """
    import json as _json
    import logging
    import os as _os
    import threading
    from datetime import timedelta

    from pyspark.sql.window import Window

    from ..operators.upsert import upsert_scd1

    def _lineage_id(holder: dict) -> str | None:
        # Primary: the query id persisted at stream start in
        # <checkpoint>/metadata (any Hadoop-visible store; local fs here).
        try:
            with open(_os.path.join(checkpoint_dir, "metadata")) as fh:
                return _json.load(fh)["id"]
        except (OSError, KeyError, ValueError):
            pass
        # Fallback for stores this process can't open() directly: the
        # StreamingQuery object captured right after start() exposes the
        # same id. start() launches batches concurrently, so batch 0 can
        # reach here BEFORE the main thread assigns the handle — wait for
        # the started event instead of degrading a racy first batch.
        holder["started"].wait(timeout=60)
        if holder.get("query") is not None:
            return str(holder["query"].id)
        # Degraded: with lineage=None the guard FAILS OPEN (batch_is_committed
        # never matches), so this batch is unconditionally re-merged — safe
        # (SCD-1 merge is content-idempotent) but worth a warning because the
        # replay-skip fast path is lost for the batch.
        logging.getLogger(__name__).warning(
            "upsert_stream %s.%s: could not determine stream lineage id "
            "(checkpoint metadata unreadable, query handle not set); "
            "replay guard fails open — this batch re-merges unconditionally",
            schema,
            table,
        )
        return None

    holder: dict = {"started": threading.Event()}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        lineage = _lineage_id(holder)
        info = catalog.manifest_info(schema, table)
        if batch_is_committed(info, lineage, batch_id):
            return  # batch already merged AND published: replay is a no-op
        seq = next_version_seq(info, catalog.table_versions(schema, table))
        load_date = SEQ_BASE + timedelta(seconds=seq)
        w = Window.partitionBy(key).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if partition_buckets:
            latest = latest.withColumn(
                KEY_BUCKET_COL,
                F.pmod(F.xxhash64(F.col(key)), F.lit(partition_buckets)),
            )
        existing = (
            catalog.table_at(spark, schema, table)
            if catalog.exists(schema, table)
            else None
        )
        # the pruned fast path needs the base version's LAYOUT bucketed,
        # not just its schema: a compact() rewrite keeps the _kb column
        # but flattens the directories — linking against it would publish
        # only the touched buckets (data loss); migrate instead. It ALSO
        # needs the base written under the SAME bucket modulus: the
        # manifest records the publishing P ("buckets"), and a base whose
        # recorded P differs from — or predates — the current parameter is
        # migrated by full rewrite (carrying old-modulus directories by
        # link while rewriting the same keys under a new modulus would
        # silently publish duplicate rows per key).
        base_is_bucketed = (
            partition_buckets
            and catalog.version_is_partitioned(
                schema, info.get("physical"), KEY_BUCKET_COL
            )
            and info.get("buckets") is not None
            and int(info["buckets"]) == int(partition_buckets)
        )
        if existing is None:
            merged = latest
        elif base_is_bucketed and KEY_BUCKET_COL in existing.columns:
            # partition-pruned merge: only the buckets this batch touches
            # are read (pruning) and rewritten; the rest carry by hard link
            touched = sorted(
                r[0] for r in latest.select(KEY_BUCKET_COL).distinct().collect()
            )  # O(P) scalar probe, never data-sized
            merged = upsert_scd1(
                existing.filter(F.col(KEY_BUCKET_COL).isin(touched)), latest, key
            )
        elif partition_buckets:
            # migration: previously-unbucketed LAYOUT (first bucketed batch,
            # or a compact() flattened the directories — the schema may or
            # may not still carry the bucket column) — one full bucketed
            # rewrite brings the table back under the incremental scheme
            plain = existing.select(
                *[c for c in existing.columns if c != KEY_BUCKET_COL]
            )
            merged = upsert_scd1(plain, latest.drop(KEY_BUCKET_COL), key).withColumn(
                KEY_BUCKET_COL,
                F.pmod(F.xxhash64(F.col(key)), F.lit(partition_buckets)),
            )
        else:
            merged = upsert_scd1(existing, latest, key)
        if partition_buckets:
            physical = catalog.write_version_incremental(
                merged,
                schema,
                table,
                load_date,
                partition_col=KEY_BUCKET_COL,
                base_physical=(
                    info.get("physical")
                    if existing is not None
                    and base_is_bucketed
                    and KEY_BUCKET_COL in existing.columns
                    else None
                ),
            )
        else:
            physical = catalog.write_version(merged, schema, table, load_date)
        meta = {"lineage": lineage, "batch_id": int(batch_id), "seq": seq}
        if partition_buckets:
            # the modulus this version's layout was written under — what
            # the NEXT batch's fast-path guard compares against its own P
            meta["buckets"] = int(partition_buckets)
        catalog.publish(spark, schema, table, physical, meta=meta)

    q = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    holder["query"] = q
    holder["started"].set()
    q.awaitTermination()


def correlated_purchases_stream(
    events: DataFrame,
    *,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: every click matched to the same user's
    purchases within ``horizon`` after the click — conversion attribution
    over two unbounded sides.

    Both sides carry a watermark and the join condition time-bounds
    ``purchase_ts`` to [click_ts, click_ts + horizon]; that pair is what
    lets Spark discard buffered state for rows past the watermark on BOTH
    sides — an unbounded-state self-join otherwise. Inner-join matches
    emit as soon as both rows arrive (append mode); state per side is
    bounded by watermark + horizon regardless of stream length, and the
    join shuffles on user_id exactly like its batch counterpart.
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    c = clicks.withWatermark("click_ts", watermark)
    p = purchases.withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"interval {horizon}")),
    ).select("click_id", "click_user", "click_ts", "purchase_id", "purchase_ts", "purchase_value")


def jdbc_warehouse_stream_sync(
    events: DataFrame,
    wh,
    table: str,
    checkpoint_dir: str,
    *,
    key: str = "user_id",
    state_url: "callable | None" = None,
    base_date: datetime | None = None,
) -> None:
    """Streaming SCD-1 sync into a JDBC WAREHOUSE — the reference's full
    topology (scheduled incremental copy -> MonetDB versioned tables +
    view switch, ``CopyTool.java:121-160,202-299``) driven by a real
    readStream instead of the polling scheduler. Each micro-batch:

    1. collapses to one row per ``key`` (latest ``(ts, event_id)`` wins);
    2. merges last-write-wins over the PREVIOUSLY PUBLISHED warehouse
       state (read back through ``state_url()`` — see below);
    3. lands the merged state as a NEW versioned physical table through
       the staged-CSV bulk loader, transactionally swaps the view, and
       reaps beyond keep-2 (``JdbcWarehouse.export``).

    foreachBatch is at-least-once; the committed-batch guard here keys on
    the DETERMINISTIC version name (``base_date + batch_id`` seconds): a
    replayed batch whose physical name IS the live view's target crashed
    between publish and checkpoint-commit — it completed, so the replay
    is skipped. (Names are pure functions of batch id, so the name-drift
    caveat of the parquet sync's provenance guard does not arise within
    one stream lineage; a WIPED checkpoint restarts batch numbering and
    must target a fresh table, same contract as the reference's re-run.)

    ``state_url`` exists for the embedded-Derby sandbox: executors must
    never boot an embedded database (single-JVM lock), so the prior state
    is read back through a fresh read-only ``jar:`` snapshot per batch
    (the callable takes the batch id and returns the URL — the id must
    make each snapshot's jar path UNIQUE, because Derby keeps a jar db
    booted per URL and would serve the first snapshot forever). Against a
    real server (MonetDB/PG) pass ``None`` — the published view is read
    over the network like any other table and the snapshot step
    disappears.
    """
    from ..config.spec import CopyJob, SourceSpec
    from ..sources.jdbc import jdbc_reader

    base = base_date or datetime(2024, 6, 1)
    cols = ["event_id", "ts", "user_id", "event_type", "value"]

    def collapse(df: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.partitionBy(key).orderBy(F.col("ts").desc(), F.col("event_id").desc())
        return (
            df.select(*cols)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from datetime import timedelta

        from ..engine.publish import physical_name

        load_date = base + timedelta(seconds=int(batch_id))
        physical = physical_name(table, load_date)
        current = wh.current_version(table)
        if current and current.lower() == physical.lower():
            return  # completed replay: published but checkpoint uncommitted
        merged = collapse(batch_df)
        if current is not None:
            url = (
                state_url(batch_id)
                if state_url is not None
                else wh.source.options["url"]
            )
            prior_src = SourceSpec(
                name="_wh_state",
                format="jdbc",
                options={**wh.source.options, "url": url},
            )
            prior = jdbc_reader(
                batch_df.sparkSession,
                prior_src,
                CopyJob(job_id="wh_state", source="_wh_state", from_table=table),
            ).select(*cols)
            merged = collapse(prior.unionByName(merged))
        wh.export(merged.coalesce(1), table, load_date)

    (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

"""Structured Streaming pipelines pinned against their batch equivalents.

Strategy: copy the events fixture into a file-stream source dir, drain with
trigger(availableNow=True), and assert the streamed result equals the batch
query on the same data — pinning window/session/dedup semantics by test, not
assumption (SURVEY §7 hard part d)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mssql2monetdb_spark.catalog import load_table
from mssql2monetdb_spark.streaming.pipelines import (
    events_stream,
    run_available_now,
    sessionized_stream,
    stateful_dedup_stream,
    windowed_counts_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    """Events fixture rewritten as a streamable parquet dir (micros ts)."""
    src = tmp_path_factory.mktemp("events_stream")
    load_table(spark, SF, "events").coalesce(2).write.mode("overwrite").parquet(str(src / "in"))
    return str(src / "in")


def test_windowed_counts_matches_batch(spark, stream_src, tmp_path):
    stream = windowed_counts_stream(events_stream(spark, stream_src))
    run_available_now(stream, str(tmp_path / "ckpt"), "win_counts")
    streamed = {
        (r["w_start"], r["n_events"], r["sum_value"])
        for r in spark.table("win_counts").collect()
    }
    batch = {
        (r["w_start"], r["n_events"], r["sum_value"])
        for r in (
            spark.read.parquet(stream_src)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
            )
            .select(F.col("w.start").alias("w_start"), "n_events", "sum_value")
            .collect()
        )
    }
    assert streamed == batch and len(streamed) > 0


def test_sessionized_matches_batch(spark, stream_src, tmp_path):
    stream = sessionized_stream(events_stream(spark, stream_src))
    run_available_now(stream, str(tmp_path / "ckpt"), "sessions")
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sessions").collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in (
            spark.read.parquet(stream_src)
            .groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
            .collect()
        )
    }
    assert streamed == batch and len(streamed) > 0


def test_stateful_dedup_one_row_per_key(spark, stream_src, tmp_path):
    stream = stateful_dedup_stream(events_stream(spark, stream_src))
    run_available_now(stream, str(tmp_path / "ckpt"), "deduped", output_mode="append")
    out = spark.table("deduped")
    n_keys = (
        spark.read.parquet(stream_src).select("user_id", "event_type").distinct().count()
    )
    assert out.count() == n_keys
    assert out.select("user_id", "event_type").distinct().count() == n_keys


def test_incremental_second_batch_only_processes_new_files(spark, stream_src, tmp_path):
    """New file after a drain -> only the delta is processed (checkpointed
    source offsets, the streaming replacement for the reference's
    watermark-skip)."""
    import shutil

    src2 = tmp_path / "in2"
    shutil.copytree(stream_src, src2)
    ckpt = str(tmp_path / "ckpt2")
    out_dir = str(tmp_path / "out2")

    def drain() -> None:
        # file sink (unlike memory) supports checkpoint recovery
        q = (
            stateful_dedup_stream(events_stream(spark, str(src2)))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out_dir).count()

    # append a brand-new key as a late file
    extra = spark.createDataFrame(
        [(99901, "2024-01-30 23:00:00", 999, "newtype", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    extra.coalesce(1).write.mode("append").parquet(str(src2))

    drain()
    total = spark.read.parquet(out_dir).count()
    # second drain emitted ONLY the new key's row
    assert first > 0 and total == first + 1


def test_stateful_tracker_matches_batch_totals(spark, stream_src, tmp_path):
    """applyInPandasWithState cumulative per-user state == batch groupBy."""
    from mssql2monetdb_spark.streaming.stateful import user_activity_tracker

    stream = user_activity_tracker(events_stream(spark, stream_src))
    q = (
        stream.writeStream.format("memory")
        .queryName("activity")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per user is the cumulative total
    from pyspark.sql.window import Window

    out = spark.table("activity")
    streamed = {
        (r["user_id"]): (r["n_events"], round(r["sum_value"], 6), r["last_ts"])
        for r in out.collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["s"], 6), r["m"])
        for r in (
            spark.read.parquet(stream_src)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("s"),
                F.max("ts").alias("m"),
            )
            .collect()
        )
    }
    assert streamed == batch and len(streamed) > 0


def test_enriched_stream_matches_batch(spark, stream_src, tmp_path):
    from mssql2monetdb_spark.streaming.pipelines import enriched_windowed_stream

    dim = load_table(spark, SF, "customer")
    stream = enriched_windowed_stream(events_stream(spark, stream_src), dim)
    run_available_now(stream, str(tmp_path / "ckpt"), "enriched_win")
    streamed = {
        (r["w_start"], r["segment"], r["n_events"], r["sum_value"])
        for r in spark.table("enriched_win").collect()
    }
    batch_df = (
        spark.read.parquet(stream_src)
        .join(
            F.broadcast(dim.select("c_custkey", "c_mktsegment")),
            on=F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )
    batch = {
        (r["w_start"], r["segment"], r["n_events"], r["sum_value"]) for r in batch_df.collect()
    }
    assert streamed == batch and len(batch) > 0


def test_upsert_stream_incremental_batches_match_batch_scd1(spark, tmp_path):
    """Two incremental drains of a foreachBatch SCD-1 sync produce exactly
    the batch answer (latest row per user over ALL events), with one
    published catalog version per batch."""
    from pyspark.sql.window import Window

    from mssql2monetdb_spark.engine.publish import VersionedCatalog
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    events = load_table(spark, SF, "events")
    half = events.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]
    src = tmp_path / "in"
    events.filter(F.col("event_id") <= half).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))

    catalog = VersionedCatalog(str(tmp_path / "wh"))
    stream = events_stream(spark, str(src))
    upsert_stream_available_now(
        stream, catalog, "main", "user_state", str(tmp_path / "ckpt")
    )
    v_after_first = len(catalog.table_versions("main", "user_state"))
    assert v_after_first >= 1

    # second incremental batch: only the new file is processed
    events.filter(F.col("event_id") > half).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    upsert_stream_available_now(
        stream, catalog, "main", "user_state", str(tmp_path / "ckpt")
    )
    assert len(catalog.table_versions("main", "user_state")) > v_after_first

    got = {
        r.user_id: r.event_id
        for r in catalog.table_at(spark, "main", "user_state").collect()
    }
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    want = {
        r.user_id: r.event_id
        for r in events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    assert got == want


def test_upsert_stream_replay_is_idempotent(spark, tmp_path):
    """Crash-recovery semantics: foreachBatch is at-least-once, so after a
    checkpoint loss Structured Streaming REPLAYS committed work. The SCD-1
    sync claims replayed epochs are idempotent (deterministic version
    names + merge against the PUBLISHED version); prove it by draining
    once, wiping the checkpoint (the maximal replay: every batch re-runs
    against the already-published table), draining again, and asserting
    the published table is bit-identical."""
    from mssql2monetdb_spark.engine.publish import VersionedCatalog
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    src = tmp_path / "in"
    load_table(spark, SF, "events").coalesce(2).write.mode("overwrite").parquet(
        str(src)
    )
    catalog = VersionedCatalog(str(tmp_path / "wh"))
    stream = events_stream(spark, str(src))

    upsert_stream_available_now(
        stream, catalog, "main", "user_state", str(tmp_path / "ckpt")
    )
    before = sorted(
        tuple(r) for r in catalog.table_at(spark, "main", "user_state").collect()
    )
    assert len(before) > 0

    # checkpoint loss -> every source file replays from scratch
    import shutil

    shutil.rmtree(tmp_path / "ckpt")
    upsert_stream_available_now(
        stream, catalog, "main", "user_state", str(tmp_path / "ckpt2")
    )
    after = sorted(
        tuple(r) for r in catalog.table_at(spark, "main", "user_state").collect()
    )
    assert after == before


def test_upsert_stream_multi_batch_replay_is_idempotent(spark, tmp_path):
    """Same replay property when the drain is MULTI-batch
    (maxFilesPerTrigger=1): the committed-batch guard only short-circuits
    the batch whose version is currently published; every EARLIER batch
    re-runs its merge against the complete published state, and content
    must still come out bit-identical (last-write-wins re-merge of
    already-merged rows)."""
    from mssql2monetdb_spark.engine.publish import VersionedCatalog
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    src = tmp_path / "in"
    load_table(spark, SF, "events").repartition(3).write.mode("overwrite").parquet(
        str(src)
    )
    catalog = VersionedCatalog(str(tmp_path / "wh"))
    stream = events_stream(spark, str(src), max_files_per_trigger=1)

    upsert_stream_available_now(
        stream, catalog, "main", "user_state", str(tmp_path / "ckpt")
    )
    versions = catalog.table_versions("main", "user_state")
    assert len(versions) >= 3, f"expected a multi-batch drain, got {versions}"
    before = sorted(
        tuple(r) for r in catalog.table_at(spark, "main", "user_state").collect()
    )

    import shutil

    shutil.rmtree(tmp_path / "ckpt")
    upsert_stream_available_now(
        stream, catalog, "main", "user_state", str(tmp_path / "ckpt2")
    )
    after = sorted(
        tuple(r) for r in catalog.table_at(spark, "main", "user_state").collect()
    )
    assert after == before


def test_upsert_stream_fresh_checkpoint_new_files_not_skipped(spark, tmp_path):
    """The committed-batch guard must be LINEAGE-aware, not name-only:
    batch ids restart at 0 on a fresh checkpoint, so after a single-batch
    drain publishes "batch 0", a NEW stream (wiped checkpoint) whose
    batch 0 now includes files the committed batch never saw must still
    merge them — a name-only guard would skip it and silently drop the
    new data (the round-5 ADVICE finding)."""
    from mssql2monetdb_spark.engine.publish import VersionedCatalog
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    src = tmp_path / "in"
    ev = load_table(spark, SF, "events")
    ev.coalesce(1).write.mode("overwrite").parquet(str(src))
    catalog = VersionedCatalog(str(tmp_path / "wh"))

    upsert_stream_available_now(
        events_stream(spark, str(src)), catalog, "main", "user_state",
        str(tmp_path / "ckpt"),
    )
    users_before = {
        r["user_id"]
        for r in catalog.table_at(spark, "main", "user_state").select("user_id").collect()
    }
    new_user = max(users_before) + 1_000_000

    # checkpoint wiped; the source dir gains a file with an unseen user
    import shutil

    shutil.rmtree(tmp_path / "ckpt")
    ev.limit(1).select(
        F.col("event_id"),
        F.col("ts"),
        F.lit(new_user).alias("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    ).coalesce(1).write.mode("append").parquet(str(src))

    upsert_stream_available_now(
        events_stream(spark, str(src)), catalog, "main", "user_state",
        str(tmp_path / "ckpt2"),
    )
    users_after = {
        r["user_id"]
        for r in catalog.table_at(spark, "main", "user_state").select("user_id").collect()
    }
    assert new_user in users_after, "fresh-lineage batch 0 was skipped: new data lost"
    assert users_before <= users_after


def test_upsert_stream_versions_monotonic_across_lineages(spark, tmp_path):
    """Version names must sort in PUBLISH order even across a checkpoint
    wipe (new lineage): retention (`cleanup`) and `newest_version` order
    lexicographically, so a new lineage whose names sorted OLDER than
    retained ones would make cleanup keep stale directories as 'newest'
    and reap the new lineage's own backup (the round-6 ADVICE day-salt
    finding). The manifest `seq` counter keeps names monotonic; the
    lineage epoch lives only in the manifest meta."""
    from mssql2monetdb_spark.engine.publish import VersionedCatalog
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    src = tmp_path / "in"
    ev = load_table(spark, SF, "events")
    ev.repartition(2).write.mode("overwrite").parquet(str(src))
    catalog = VersionedCatalog(str(tmp_path / "wh"))

    upsert_stream_available_now(
        events_stream(spark, str(src), max_files_per_trigger=1),
        catalog, "main", "user_state", str(tmp_path / "ckpt"),
    )
    first_versions = catalog.table_versions("main", "user_state")
    assert len(first_versions) >= 2

    # new lineage: wiped checkpoint + one more file
    import shutil

    shutil.rmtree(tmp_path / "ckpt")
    ev.limit(5).coalesce(1).write.mode("append").parquet(str(src))
    upsert_stream_available_now(
        events_stream(spark, str(src), max_files_per_trigger=1),
        catalog, "main", "user_state", str(tmp_path / "ckpt2"),
    )

    # the manifest's published version IS the lexicographically newest —
    # retention and newest_version stay coherent across the lineage change
    assert catalog.newest_version("main", "user_state") == catalog.current_version(
        "main", "user_state"
    )
    # and cleanup never reaps the just-published current
    catalog.cleanup("main", "user_state")
    kept = catalog.table_versions("main", "user_state")
    assert catalog.current_version("main", "user_state") in kept
    assert len(kept) <= 2
    # seq strictly increases across the wipe: every second-lineage publish
    # sorts after every first-lineage one it followed
    assert kept[0] > first_versions[0]


def test_stream_stream_interval_join_matches_batch(spark, stream_src, tmp_path):
    """Stream-stream inner interval join (clicks x purchases within 30 min)
    drains to exactly the batch join's matches — the two-unbounded-sides
    capability none of the other streaming pipelines exercise."""
    from mssql2monetdb_spark.streaming.pipelines import correlated_purchases_stream

    stream = correlated_purchases_stream(events_stream(spark, stream_src))
    run_available_now(stream, str(tmp_path / "ckpt"), "conversions", output_mode="append")
    streamed = {
        tuple(r) for r in spark.table("conversions").collect()
    }
    ev = spark.read.parquet(stream_src)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = {
        tuple(r)
        for r in clicks.join(
            purchases,
            (F.col("click_user") == F.col("purchase_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 30 minutes")),
        )
        .select("click_id", "click_user", "click_ts", "purchase_id", "purchase_ts", "purchase_value")
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_upsert_stream_migrates_past_legacy_outsorting_version(spark, tmp_path):
    """Migration from the pre-seq (day-salt) naming: a retained legacy dir
    can sort ABOVE the manifest's current version. The first seq-based
    publish must outsort ALL retained dirs — seeding the counter from the
    manifest alone would leave newest_version()/cleanup pinned to the
    stale legacy dir forever."""
    import json
    import os
    from datetime import datetime

    from mssql2monetdb_spark.engine.publish import VersionedCatalog
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    ev = load_table(spark, SF, "events")
    catalog = VersionedCatalog(str(tmp_path / "wh"))

    # legacy state: an old-lineage dir salted far in the future (2069)
    # still retained, while the manifest's current is a 2030-salted dir
    # published by a later lineage — no `seq` key in the manifest
    legacy_hi = catalog.write_version(ev.limit(3), "main", "user_state", datetime(2069, 5, 1))
    cur = catalog.write_version(ev.limit(5), "main", "user_state", datetime(2030, 2, 1))
    catalog.publish(spark, "main", "user_state", cur, meta={"lineage": "old", "batch_id": 0})
    manifest = json.load(open(os.path.join(str(tmp_path / "wh"), "main", ".user_state.current")))
    assert "seq" not in manifest
    assert catalog.newest_version("main", "user_state") == legacy_hi  # the incoherence

    src = tmp_path / "in"
    ev.coalesce(1).write.mode("overwrite").parquet(str(src))
    upsert_stream_available_now(
        events_stream(spark, str(src)), catalog, "main", "user_state",
        str(tmp_path / "ckpt"),
    )
    # the new publish outsorts every retained dir: coherence restored
    assert catalog.newest_version("main", "user_state") == catalog.current_version(
        "main", "user_state"
    )
    assert catalog.current_version("main", "user_state") > legacy_hi


def _drain_partitioned(spark, tmp_path, buckets, *, shards=3, ckpt="ckpt_part"):
    from mssql2monetdb_spark.engine.publish import VersionedCatalog
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    events = load_table(spark, SF, "events")
    src = tmp_path / "in_part"
    # shards are user-DISJOINT: the SCD-1 merge is last-write-wins by
    # ARRIVAL (the reference's monotone-source assumption), so sharding a
    # user's events across batches in arbitrary file order would be an
    # invalid fixture, not an engine test
    for shard in range(shards):
        events.filter(F.col("user_id") % shards == shard).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    catalog = VersionedCatalog(str(tmp_path / "wh_part"))
    upsert_stream_available_now(
        events_stream(spark, str(src), max_files_per_trigger=1),
        catalog,
        "main",
        "user_state_p",
        str(tmp_path / ckpt),
        partition_buckets=buckets,
    )
    return catalog


def test_upsert_stream_partitioned_matches_unpartitioned(spark, tmp_path):
    """Bucketed partition-pruned sync publishes exactly the content the
    full-rewrite path publishes (latest row per user), plus the internal
    _kb layout column."""
    from pyspark.sql.window import Window

    from mssql2monetdb_spark.streaming.pipelines import KEY_BUCKET_COL

    catalog = _drain_partitioned(spark, tmp_path, buckets=8)
    out = catalog.table_at(spark, "main", "user_state_p")
    assert KEY_BUCKET_COL in out.columns
    got = {r.user_id: r.event_id for r in out.collect()}

    events = load_table(spark, SF, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expected = {
        r.user_id: r.event_id
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == expected

    # every row's bucket matches its key's hash (pruning reads the right dirs)
    bad = out.filter(
        F.col(KEY_BUCKET_COL) != F.pmod(F.xxhash64(F.col("user_id")), F.lit(8))
    ).count()
    assert bad == 0


def test_upsert_stream_partitioned_untouched_buckets_carry_by_hardlink(spark, tmp_path):
    """A batch that touches a strict subset of buckets must REWRITE only
    those partition dirs; untouched buckets' data files in the new version
    are the SAME inodes as the previous version's (hard links, zero write
    volume)."""
    import os

    from mssql2monetdb_spark.streaming.pipelines import KEY_BUCKET_COL

    catalog = _drain_partitioned(spark, tmp_path, buckets=8, shards=1)
    versions = catalog.table_versions("main", "user_state_p")
    assert len(versions) == 1
    base = versions[0]

    # second batch: ONE user only -> exactly one touched bucket
    events = load_table(spark, SF, "events")
    one_user = events.orderBy("event_id").limit(1)
    one_user.coalesce(1).write.mode("append").parquet(str(tmp_path / "in_part"))
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    upsert_stream_available_now(
        events_stream(spark, str(tmp_path / "in_part"), max_files_per_trigger=1),
        catalog,
        "main",
        "user_state_p",
        str(tmp_path / "ckpt_part"),
        partition_buckets=8,
    )
    new = catalog.current_version("main", "user_state_p")
    assert new != base

    uid = one_user.first()["user_id"]
    # cast: a bare python-int lit is int32, and xxhash64 is width-sensitive
    touched_bucket = (
        f"{KEY_BUCKET_COL}="
        f"{spark.range(1).select(F.pmod(F.xxhash64(F.lit(uid).cast('long')), F.lit(8))).first()[0]}"
    )

    base_dir = catalog.version_dir("main", base)
    new_dir = catalog.version_dir("main", new)
    carried = rewritten = 0
    for entry in os.listdir(new_dir):
        if not entry.startswith(f"{KEY_BUCKET_COL}="):
            continue
        new_files = {
            f: os.stat(os.path.join(new_dir, entry, f)).st_ino
            for f in os.listdir(os.path.join(new_dir, entry))
            if not f.startswith(("_", "."))
        }
        base_part = os.path.join(base_dir, entry)
        base_inodes = (
            {
                os.stat(os.path.join(base_part, f)).st_ino
                for f in os.listdir(base_part)
                if not f.startswith(("_", "."))
            }
            if os.path.isdir(base_part)
            else set()
        )
        if entry == touched_bucket:
            assert not set(new_files.values()) & base_inodes, "touched bucket must be rewritten"
            rewritten += 1
        else:
            assert set(new_files.values()) == base_inodes, f"{entry} should be hard-linked"
            carried += 1
    assert rewritten == 1 and carried >= 1


def test_upsert_stream_partitioned_replay_is_idempotent(spark, tmp_path):
    """Checkpoint wipe replays every batch through the partitioned path;
    the provenance guard + same-name overwrite keep content identical."""
    catalog = _drain_partitioned(spark, tmp_path, buckets=4)
    before = {
        r.user_id: r.event_id
        for r in catalog.table_at(spark, "main", "user_state_p").collect()
    }
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt_part"))
    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    upsert_stream_available_now(
        events_stream(spark, str(tmp_path / "in_part"), max_files_per_trigger=1),
        catalog,
        "main",
        "user_state_p",
        str(tmp_path / "ckpt_part"),
        partition_buckets=4,
    )
    after = {
        r.user_id: r.event_id
        for r in catalog.table_at(spark, "main", "user_state_p").collect()
    }
    assert after == before


def test_upsert_stream_partitioned_survives_compact_flatten(spark, tmp_path):
    """A compact() WITHOUT partition_by flattens the bucketed layout while
    keeping the _kb column in the schema; the next batch must detect the
    unbucketed base (version_is_partitioned) and take the full-rewrite
    migration path — linking against the flat version would silently drop
    every untouched bucket."""
    from datetime import datetime

    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    catalog = _drain_partitioned(spark, tmp_path, buckets=8, shards=1)
    full_before = {
        r.user_id: r.event_id
        for r in catalog.table_at(spark, "main", "user_state_p").collect()
    }
    catalog.compact(spark, "main", "user_state_p", datetime(2030, 1, 1))
    assert not catalog.version_is_partitioned(
        "main", catalog.current_version("main", "user_state_p"), "_kb"
    )

    # delta touching one user; without the layout guard this batch would
    # publish ONLY that user's bucket
    one_user = load_table(spark, SF, "events").orderBy("event_id").limit(1)
    delta_uid, delta_eid = (
        one_user.select("user_id", "event_id").first()[0],
        one_user.select("event_id").first()[0],
    )
    one_user.coalesce(1).write.mode("append").parquet(str(tmp_path / "in_part"))
    upsert_stream_available_now(
        events_stream(spark, str(tmp_path / "in_part"), max_files_per_trigger=1),
        catalog,
        "main",
        "user_state_p",
        str(tmp_path / "ckpt_part"),
        partition_buckets=8,
    )
    after = {
        r.user_id: r.event_id
        for r in catalog.table_at(spark, "main", "user_state_p").collect()
    }
    # SCD-1 is last-write-wins by ARRIVAL: the delta replaces its user's
    # row; every OTHER user must survive (the data-loss case under test)
    expected = dict(full_before)
    expected[delta_uid] = delta_eid
    assert after == expected
    # migrated back to bucketed layout: incremental fast path restored
    assert catalog.version_is_partitioned(
        "main", catalog.current_version("main", "user_state_p"), "_kb"
    )


def test_compact_with_partition_by_keeps_bucketed_layout(spark, tmp_path):
    from datetime import datetime

    catalog = _drain_partitioned(spark, tmp_path, buckets=8, shards=1)
    catalog.compact(
        spark, "main", "user_state_p", datetime(2030, 1, 2), partition_by=["_kb"]
    )
    assert catalog.version_is_partitioned(
        "main", catalog.current_version("main", "user_state_p"), "_kb"
    )


def _latest_per_user(spark):
    from pyspark.sql.window import Window

    events = load_table(spark, SF, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return {
        r.user_id: r.event_id
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }


def test_upsert_stream_partitioned_bucket_count_change_migrates(spark, tmp_path):
    """Changing partition_buckets between runs (8 -> 4) must force the
    full-rewrite migration: the manifest records the publishing modulus,
    and a base published under a DIFFERENT modulus cannot be carried by
    link — old-modulus directories would coexist with the same keys
    rewritten under the new modulus, silently publishing duplicate rows
    per key."""
    from mssql2monetdb_spark.streaming.pipelines import (
        KEY_BUCKET_COL,
        events_stream,
        upsert_stream_available_now,
    )

    catalog = _drain_partitioned(spark, tmp_path, buckets=8, shards=1)
    assert catalog.manifest_info("main", "user_state_p")["buckets"] == 8

    one_user = load_table(spark, SF, "events").orderBy("event_id").limit(1)
    one_user.coalesce(1).write.mode("append").parquet(str(tmp_path / "in_part"))
    upsert_stream_available_now(
        events_stream(spark, str(tmp_path / "in_part"), max_files_per_trigger=1),
        catalog,
        "main",
        "user_state_p",
        str(tmp_path / "ckpt_part"),
        partition_buckets=4,
    )
    out = catalog.table_at(spark, "main", "user_state_p")
    # no duplicate keys (the bug under test), and every row re-bucketed
    # under the NEW modulus
    assert out.count() == out.select("user_id").distinct().count()
    bad = out.filter(
        F.col(KEY_BUCKET_COL) != F.pmod(F.xxhash64(F.col("user_id")), F.lit(4))
    ).count()
    assert bad == 0
    assert catalog.manifest_info("main", "user_state_p")["buckets"] == 4
    delta_uid, delta_eid = one_user.select("user_id", "event_id").first()[:2]
    expected = _latest_per_user(spark)
    expected[delta_uid] = delta_eid
    got = {r.user_id: r.event_id for r in out.collect()}
    assert got == expected


def test_upsert_stream_partitioned_copy_carry_parity(spark, tmp_path, monkeypatch):
    """The copy carry (taken where the store has no hard links) must
    publish the same CONTENT as the default link carry — and actually
    copy: no carried file may share an inode with the base version."""
    import os

    def read(catalog):
        out = catalog.table_at(spark, "main", "user_state_p")
        return {r.user_id: r.event_id for r in out.collect()}

    linked = read(_drain_partitioned(spark, tmp_path / "link", buckets=8))

    def no_link(src, dst, *a, **k):
        raise OSError("EXDEV: cross-device link (simulated object store)")

    monkeypatch.setattr(os, "link", no_link)
    catalog = _drain_partitioned(spark, tmp_path / "copy", buckets=8)
    got = read(catalog)
    assert got == linked == _latest_per_user(spark)

    # 3 shards -> >= 2 versions with carried (untouched) buckets; every
    # data file in the published version must be link-count 1 (a copy)
    cur_dir = catalog.version_dir(
        "main", catalog.current_version("main", "user_state_p")
    )
    nlinks = [
        os.stat(os.path.join(root, f)).st_nlink
        for root, _dirs, files in os.walk(cur_dir)
        for f in files
        if not f.startswith(("_", "."))
    ]
    assert nlinks and all(n == 1 for n in nlinks)


def test_write_version_incremental_auto_falls_back_to_copy(spark, tmp_path, monkeypatch):
    """On a store without hard links (os.link raises) the carry degrades
    to byte copies mid-carry with identical published content."""
    import os

    def no_link(src, dst, *a, **k):
        raise OSError("EXDEV: cross-device link (simulated object store)")

    monkeypatch.setattr(os, "link", no_link)
    catalog = _drain_partitioned(spark, tmp_path, buckets=8)
    got = {
        r.user_id: r.event_id
        for r in catalog.table_at(spark, "main", "user_state_p").collect()
    }
    assert got == _latest_per_user(spark)


def test_compact_carries_buckets_meta_and_keeps_fast_path(spark, tmp_path):
    """A layout-preserving compact (partition_by=['_kb']) must carry the
    manifest's recorded bucket modulus forward, so the next batch still
    takes the partition-pruned fast path (untouched buckets carried by
    hard link, not rewritten)."""
    import os
    from datetime import datetime

    from mssql2monetdb_spark.streaming.pipelines import (
        events_stream,
        upsert_stream_available_now,
    )

    catalog = _drain_partitioned(spark, tmp_path, buckets=8, shards=1)
    catalog.compact(
        spark, "main", "user_state_p", datetime(2030, 1, 2), partition_by=["_kb"]
    )
    assert catalog.manifest_info("main", "user_state_p")["buckets"] == 8
    compacted = catalog.current_version("main", "user_state_p")

    one_user = load_table(spark, SF, "events").orderBy("event_id").limit(1)
    one_user.coalesce(1).write.mode("append").parquet(str(tmp_path / "in_part"))
    upsert_stream_available_now(
        events_stream(spark, str(tmp_path / "in_part"), max_files_per_trigger=1),
        catalog,
        "main",
        "user_state_p",
        str(tmp_path / "ckpt_part"),
        partition_buckets=8,
    )
    new = catalog.current_version("main", "user_state_p")
    assert new != compacted
    # fast path proof: at least one data file in the new version shares an
    # inode with the compacted base (hard-link carry, not a full rewrite)
    base_inodes = {
        os.stat(os.path.join(root, f)).st_ino
        for root, _dirs, files in os.walk(catalog.version_dir("main", compacted))
        for f in files
        if not f.startswith(("_", "."))
    }
    new_inodes = {
        os.stat(os.path.join(root, f)).st_ino
        for root, _dirs, files in os.walk(catalog.version_dir("main", new))
        for f in files
        if not f.startswith(("_", "."))
    }
    assert base_inodes & new_inodes


def _drain_tracker_event_time(spark, src, ckpt, out_dir, idle_ms):
    from mssql2monetdb_spark.streaming.pipelines import events_stream
    from mssql2monetdb_spark.streaming.stateful import user_activity_tracker

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        user_activity_tracker(
            events_stream(spark, src),
            evict_idle=True,
            idle_timeout_ms=idle_ms,
            timeout_mode="event",
        )
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _stage_tracker_file(spark, src, event_id, user_id, ts):
    spark.createDataFrame(
        [(event_id, ts, user_id, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _run_tracker_event_time_scenario(spark, base):
    """4 single-file batches: user 1 goes idle past the 1h event-time
    window while user 2 advances the watermark; user 1 is evicted by the
    WATERMARK (not wall clock) and restarts at n_events=1 on return."""
    import os

    src = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")
    steps = [
        [(1, 1, "2024-01-01 10:00:00"), (2, 2, "2024-01-01 10:00:00")],
        [(3, 2, "2024-01-01 12:30:00")],   # watermark -> 12:29:59 > user1 deadline 11:00
        [(4, 2, "2024-01-01 13:00:00")],   # user1 timer fires here: evicted
        [(5, 1, "2024-01-01 14:00:00")],   # user1 returns: fresh state
    ]
    for batch in steps:
        for eid, uid, ts in batch:
            _stage_tracker_file(spark, src, eid, uid, ts)
        _drain_tracker_event_time(spark, src, ckpt, out, idle_ms=60 * 60 * 1000)
    return spark.read.parquet(out)


def test_stateful_tracker_event_time_eviction(spark, tmp_path):
    out = _run_tracker_event_time_scenario(spark, str(tmp_path / "a"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    final = {
        r.user_id: r.n_events
        for r in out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    # user 1 was evicted at the watermark and restarted: 1, not 2
    assert final[1] == 1
    assert final[2] == 3


def test_stateful_tracker_event_time_replay_deterministic(spark, tmp_path):
    """Event-time eviction is a function of the DATA: a full replay (fresh
    checkpoint, same files) produces the identical emission sequence,
    including identical eviction points — the property processing-time
    timeouts cannot give an at-least-once sink."""
    a = _run_tracker_event_time_scenario(spark, str(tmp_path / "a"))
    b = _run_tracker_event_time_scenario(spark, str(tmp_path / "b"))
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) > 0


def test_stream_quality_classifier_matches_batch(spark, tmp_path, tmp_path_factory):
    """The hashed linear quality classifier is a pure per-row projection, so
    it composes directly as a Structured Streaming stage: an availableNow
    drain of the documents corpus through linear_classifier_scores equals
    the batch result exactly — the shape of a streaming ingest-time
    quality filter (score on arrival, route keeps/rejects downstream)."""
    from mssql2monetdb_spark.operators import ranking

    src = tmp_path_factory.mktemp("docs_stream")
    docs = load_table(spark, SF, "documents")
    docs.coalesce(2).write.mode("overwrite").parquet(str(src / "in"))
    stream_docs = (
        spark.readStream.schema(docs.schema).parquet(str(src / "in"))
    )
    scored = ranking.linear_classifier_scores(stream_docs)
    run_available_now(
        scored, str(tmp_path / "ckpt_clf"), "stream_clf", output_mode="append"
    )
    streamed = {
        (r["doc_id"], r["n_features"], r["score_sum"], r["keep"])
        for r in spark.table("stream_clf").collect()
    }
    batch = {
        (r["doc_id"], r["n_features"], r["score_sum"], r["keep"])
        for r in ranking.linear_classifier_scores(docs).collect()
    }
    assert streamed == batch and len(streamed) > 0

"""Event replay: the reference's coordinator/worker/queue pipeline
(events/EventQueue.java, main/IndexerCoordinator.java, IndexerWorker.java)
collapsed into declarative DataFrame semantics.

Reference semantics preserved (SURVEY §2.11):
 - dedup by event_id        (EventQueue.java:86-99)
 - per-object timestamp order (ObjectEventQueue.java:42-49) — resolved by a
   window, not a blocking queue
 - NEW_VERSION / DELETE / UNDELETE / RENAME ops (StatusEventType.java:3-19;
   undelete restores the last pre-delete version per the reference's
   undeleteAllVersions, ElasticIndexingStorage.java:918-953)
 - islast visibility: queries see only the latest surviving version
   (ElasticIndexingStorage.java:588-622; soft-delete tombstones per M8)
 - idempotence: replaying the same batch twice is a no-op

Batch is the core; ``run_stream`` wraps the same logic in Structured
Streaming via foreachBatch (micro-batch = the coordinator tick analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# event payload schema (FIXTURES.md §5)
EVENT_SCHEMA = (
    "event_id bigint, ts bigint, op string, repo string, path string, "
    "commit string, lang string, content string"
)

DOC_KEY = ["repo", "path"]


def events_to_version_rows(events: DataFrame) -> DataFrame:
    """Expand events into versioned doc rows (E5 expansion analog).

    NEW_VERSION -> live row; DELETE -> tombstone; UNDELETE -> visibility
    marker (content-less live row: the latest content row becomes visible
    again — M8, ElasticIndexingStorage.java:918-953); RENAME -> tombstone
    at the old path + live row at the new path (new path in
    `content`-carrying columns; the rename payload reuses
    commit/lang/content). Dedup by event_id first (idempotent replay).
    """
    ev = events.dropDuplicates(["event_id"])
    new_v = ev.where(F.col("op") == "NEW_VERSION").select(
        "repo", "path", "commit", "lang", "content",
        F.col("ts"), F.lit(False).alias("tombstone"), F.col("event_id"),
    )
    delete = ev.where(F.col("op").isin("DELETE")).select(
        "repo", "path",
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
        F.col("ts"), F.lit(True).alias("tombstone"), F.col("event_id"),
    )
    undelete = ev.where(F.col("op") == "UNDELETE").select(
        "repo", "path",
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
        F.col("ts"), F.lit(False).alias("tombstone"), F.col("event_id"),
    )
    # RENAME: `commit` column carries the new path for rename events
    ren = ev.where(F.col("op") == "RENAME")
    ren_old = ren.select(
        "repo", "path",
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
        F.col("ts"), F.lit(True).alias("tombstone"), F.col("event_id"),
    )
    ren_new = ren.select(
        "repo", F.col("commit").alias("path"),  # new path
        F.lit(None).cast("string").alias("commit"),
        "lang", "content",
        F.col("ts"), F.lit(False).alias("tombstone"), F.col("event_id"),
    )
    return (
        new_v.unionByName(delete)
        .unionByName(undelete)
        .unionByName(ren_old)
        .unionByName(ren_new)
    )


def expand_group_events(events: DataFrame, state: DataFrame) -> DataFrame:
    """E5 group expansion: a NEW_ALL_VERSIONS event fans out into one
    NEW_VERSION child event per existing version of the object in `state`
    (the reference's WorkspaceEventHandler.java:433-563 re-index
    expansion). Child event_ids are deterministic derivatives of the
    parent id (parent*4096 + version ordinal), so replay stays idempotent
    through the same event_id dedup. Non-group events pass through.
    """
    group = events.where(F.col("op") == "NEW_ALL_VERSIONS")
    rest = events.where(F.col("op") != "NEW_ALL_VERSIONS")
    w = Window.partitionBy(*DOC_KEY).orderBy(
        F.asc("ts"), F.asc_nulls_first("event_id")
    )
    versions = (
        state.where((~F.col("tombstone")) & F.col("content").isNotNull())
        .withColumn("_vn", F.row_number().over(w))
        .select(
            *DOC_KEY,
            F.col("commit").alias("_commit"),
            F.col("lang").alias("_lang"),
            F.col("content").alias("_content"),
            "_vn",
        )
    )
    children = (
        group.join(versions, DOC_KEY)
        .select(
            (F.col("event_id") * 4096 + F.col("_vn")).alias("event_id"),
            F.col("ts"),
            F.lit("NEW_VERSION").alias("op"),
            F.col("repo"),
            F.col("path"),
            F.col("_commit").alias("commit"),
            F.col("_lang").alias("lang"),
            F.col("_content").alias("content"),
        )
    )
    return rest.select(
        "event_id", "ts", "op", "repo", "path", "commit", "lang", "content"
    ).unionByName(children)


def apply_events(state: DataFrame, events: DataFrame) -> DataFrame:
    """Apply an event batch to the versioned doc state (append-only log).

    state: rows (repo, path, commit, lang, content, ts, tombstone, event_id)
    New state = old state ∪ new version rows, minus exact event duplicates
    (replay idempotence via event_id anti-join — the Mongo status-store
    dedup analog)."""
    rows = events_to_version_rows(events)
    fresh = rows.join(
        state.select("event_id").where(F.col("event_id").isNotNull()).distinct(),
        "event_id",
        "left_anti",
    )
    return state.unionByName(fresh)


def initial_state(corpus: DataFrame, ts: int = 0) -> DataFrame:
    return corpus.select(
        "repo", "path", "commit", "lang", "content",
        F.lit(ts).cast("bigint").alias("ts"),
        F.lit(False).alias("tombstone"),
        F.lit(None).cast("bigint").alias("event_id"),
    )


def visible_docs(state: DataFrame) -> DataFrame:
    """islast view (G4/M1/M8): per (repo, path), visibility is decided by
    the LATEST row (tombstone -> hidden; anything else -> shown), and the
    shown content is the latest CONTENT row — so DELETE then UNDELETE
    restores the last pre-delete version, matching the reference's
    undeleteAllVersions. One window pass; content resolution rides the
    same partitioning."""
    w = Window.partitionBy(*DOC_KEY).orderBy(
        F.desc("ts"), F.desc_nulls_last("event_id")
    )
    # BOTH rankings hang off the SAME windowed frame: the content ranking
    # filters `ranked` (narrow, partitioning preserved) and re-ranks over
    # the identical window, so the two branches share one Exchange
    # (ReuseExchange) and the second sort is satisfied by the first —
    # the r5 shape windowed `state` and `state.where(...)` separately and
    # paid the full shuffle+sort twice (guide §2.4).
    ranked = state.withColumn("_rn", F.row_number().over(w))
    visible_keys = ranked.where((F.col("_rn") == 1) & (~F.col("tombstone"))).select(
        *DOC_KEY
    )
    latest_content = (
        ranked.drop("_rn")
        .where((~F.col("tombstone")) & F.col("content").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    return latest_content.join(visible_keys, DOC_KEY, "left_semi").drop(
        "_rn", "tombstone", "event_id"
    )


def windowed_type_counts(
    events: DataFrame, window: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Tumbling-window per-type event counts (the E7 windowed-aggregation
    shape): ONE transform shared verbatim by the batch path and the
    Structured Streaming path (run_windowed_stream adds the watermark) —
    the Kappa-architecture property Spark gives for free."""
    return (
        events.groupBy(F.window(F.col(ts_col), window).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
    )


def run_windowed_stream(
    spark,
    events_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
):
    """Streaming windowed aggregation with late-data handling: watermark
    bounds state (windows older than max(ts) - watermark finalize and
    append; later-than-watermark events drop) — the streaming analog of
    the reference's out-of-order event buffer (E7), with bounded state
    instead of an unbounded queue."""
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withWatermark(ts_col, watermark)
    )
    agg = windowed_type_counts(stream, window, ts_col)
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream(
    spark,
    events_dir: str,
    state_path: str,
    checkpoint_dir: str,
    initial: DataFrame | None = None,
):
    """Structured Streaming wrapper: watch a directory of event parquet
    files; each micro-batch appends version rows to the state table
    (exactly-once via checkpoint + idempotent event_id dedup).

    Returns the StreamingQuery; caller drives it (processAllAvailable in
    tests — the coordinator-tick analog)."""
    if initial is not None:
        initial.write.mode("overwrite").parquet(state_path)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir)
    )

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        state = batch_df.sparkSession.read.parquet(state_path)
        # append only the fresh rows (state is an append-only log)
        fresh = events_to_version_rows(batch_df).join(
            state.select("event_id").where(F.col("event_id").isNotNull()).distinct(),
            "event_id",
            "left_anti",
        )
        fresh.write.mode("append").parquet(state_path)

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

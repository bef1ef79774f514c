"""Incremental / changed-since processing (SC5) + Structured Streaming.

The reference's incremental mode re-exports only bundles whose
``modified`` timestamp falls on a given day
(/root/reference/lib/npm/NpmCouchDb.js:74-78, ``-T`` flag at
bin/exportTriples.js:96-97). Two Spark equivalents:

- ``changed_since``: partition-pruned batch filter on ``warc_ts`` —
  the idiomatic snapshot-incremental read (with an Iceberg catalog
  this becomes an incremental snapshot scan; on parquet it is a
  pushed-down timestamp predicate).
- ``stream_pipeline``: Structured Streaming over a pages directory —
  ``readStream -> foreachBatch(extract -> triples -> append)`` with a
  checkpointLocation, giving exactly-once file-sink semantics; new
  page files are picked up and their triples appended.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

from ..plans.kg import pages_to_triples, split_errors
from ..sources.pages import PAGES_SCHEMA

# the (event_id, ts, user_id) event files the event-time streams read
_EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
])
# how far behind the max seen event time a row may arrive and still count
_WATERMARK_DELAY = "30 minutes"


def changed_since(pages: DataFrame, start: str, end: str | None = None) -> DataFrame:
    """Pages whose crawl timestamp falls in [start, end) — the SC5
    date-window predicate, pushed down to the scan."""
    cond = F.col("warc_ts") >= F.lit(start).cast("timestamp")
    if end is not None:
        cond = cond & (F.col("warc_ts") < F.lit(end).cast("timestamp"))
    return pages.filter(cond)


def incremental_triples(pages: DataFrame, start: str, end: str | None = None,
                        root: str = "http://example.org/") -> DataFrame:
    window = changed_since(pages, start, end)
    triples, _ = split_errors(pages_to_triples(window, root))
    return triples


def snapshot_incremental_triples(spark: SparkSession, table: str,
                                 from_snapshot: int,
                                 to_snapshot: int | None = None,
                                 root: str = "http://example.org/") -> DataFrame:
    """SC5 in its BEST form: the changed-page set comes from the
    snapshot log (sources/snapshots.py), so the scan opens only the
    files the new commits added — no full-corpus timestamp filter, no
    footer reads over unchanged data. This is the 100 TB shape:
    incremental cost follows the day's change, not the table."""
    from ..sources.snapshots import read_incremental

    pages = read_incremental(spark, table, from_snapshot, to_snapshot)
    triples, _ = split_errors(pages_to_triples(pages, root))
    return triples


def stream_pipeline(spark: SparkSession, pages_dir: str, out_dir: str,
                    checkpoint_dir: str, root: str = "http://example.org/"):
    """Streaming variant: returns the StreamingQuery. Caller drives it
    (processAllAvailable for batch-style tests, awaitTermination in
    production)."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        triples, _ = split_errors(pages_to_triples(batch_df, root))
        (triples.withColumn("epoch", F.lit(epoch_id))
         .write.mode("append").parquet(f"{out_dir}/triples"))

    return (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_triples_to_snapshots(spark: SparkSession, pages_dir: str,
                                table: str, checkpoint_dir: str,
                                root: str = "http://example.org/"):
    """Streaming triple sink as a SNAPSHOT TABLE with exactly-once
    semantics end to end: each micro-batch commits one snapshot whose
    manifest records the (checkpoint, epoch) pair. If the stream
    crashes between the snapshot commit and the checkpoint advance,
    the replayed epoch is detected in the snapshot log and SKIPPED
    (idempotent commits — the Iceberg streaming-sink pattern, which
    likewise keys replay detection on the query id + epoch). Keying on
    the PAIR, not the bare epoch, matters: epoch ids restart from 0
    with every fresh checkpoint, so a new stream writing into an
    existing table would otherwise silently skip its first batches as
    'replays' of the old stream's epochs. Downstream consumers get
    manifest-planned incremental reads of exactly the new triples per
    epoch."""
    import os as _os

    from ..sources.snapshots import commit, snapshot_log

    ckpt_key = _os.path.abspath(checkpoint_dir)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        import os

        if os.path.exists(os.path.join(table, "meta", "CURRENT")):
            done = {(m["props"].get("ckpt"), m["props"].get("epoch"))
                    for m in snapshot_log(table)}
            if (ckpt_key, epoch_id) in done:
                return  # replayed epoch of THIS stream: already committed
        triples, _ = split_errors(pages_to_triples(batch_df, root))
        commit(triples, table, props={"epoch": epoch_id, "ckpt": ckpt_key})

    return (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_sessionize(spark: SparkSession, events_dir: str, out_dir: str,
                      checkpoint_dir: str, gap_seconds: int = 1800):
    """Custom stateful streaming operator (§2.8):
    ``applyInPandasWithState`` sessionization — per-user state carries
    (session count, last event ts) across micro-batches; emits one row
    per user per batch with the running session count. Demonstrates the
    custom-stateful path the reference has no analog for."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ])
    state_schema = StructType([
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        n_sessions, n_events, last_ts = (
            state.get if state.exists else (0, 0, None))
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts in rows["ts"]:
            ts_s = int(ts.timestamp())
            if last_ts is None or ts_s - last_ts > gap_seconds:
                n_sessions += 1
            last_ts = ts_s
            n_events += 1
        state.update((n_sessions, n_events, last_ts))
        yield pd.DataFrame({"user_id": [key[0]], "n_sessions": [n_sessions],
                            "n_events": [n_events]})

    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )
    result = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)
    return (
        result.writeStream.outputMode("update")
        .foreachBatch(lambda df, epoch: df.write.mode("append")
                      .parquet(f"{out_dir}/sessions"))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_counts(spark: SparkSession, events_dir: str, out_dir: str,
                           checkpoint_dir: str):
    """Watermarked event-time 10-minute tumbling-window counts (§2.8
    late data): events more than ``_WATERMARK_DELAY`` (30 minutes)
    behind the max seen event time are DROPPED; closed windows are
    emitted exactly once (append mode requires the watermark). The
    batch-equivalent query is the same groupBy(window(ts)) — the test
    compares against it."""
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch so
        .parquet(events_dir)              # the watermark advances between files
    )
    agg = (
        stream.withWatermark("ts", _WATERMARK_DELAY)
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"), "n_events")
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/windows")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_to_snapshots(spark: SparkSession, updates_dir: str,
                               table: str, checkpoint_dir: str,
                               key: str, schema, order_col: str | None = None):
    """CDC ingestion: a stream of row-level updates MERGEs into the
    snapshot table — each micro-batch becomes one copy-on-write
    'overwrite' snapshot (sources/snapshots.merge_upsert), with the
    same exactly-once contract as stream_triples_to_snapshots: the
    commit's manifest records the (checkpoint, epoch) pair and a
    replayed epoch of the same stream is skipped, so a crash between
    the merge commit and the checkpoint advance cannot double-apply a
    batch (which for an upsert would be harmless for updates but
    DUPLICATE-commit snapshots and replay deletes of re-inserted
    keys — idempotence is still the right contract).

    Within a batch, ``order_col`` resolves multiple updates to the
    same key last-write-wins (highest order value; ties on order_col
    break on the remaining PAYLOAD columns ascending — the window is
    partitioned by key, so the key itself can never discriminate —
    making the pick a pure function of the row set); without it,
    duplicate keys in one batch are an error (merge_upsert enforces).
    The first batch into an empty table is a plain commit; every
    commit, that one included, is clustered by ``key``."""
    from pyspark.sql import Window

    from ..sources.snapshots import (
        commit,
        current_snapshot_id,
        merge_upsert,
        snapshot_log,
    )

    ckpt_key = os.path.abspath(checkpoint_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(updates_dir)
    )
    cluster_by = [key]

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if current_snapshot_id(table) is not None:
            done = {(m["props"].get("ckpt"), m["props"].get("epoch"))
                    for m in snapshot_log(table)}
            if (ckpt_key, epoch_id) in done:
                return  # replayed epoch of THIS stream
        batch = batch_df
        if order_col is not None:
            # deterministic LWW: order_col desc, then every ORDERABLE
            # remaining payload column ascending (the partition key
            # would be a constant within the window — useless as a
            # tie-break; map columns are unorderable in Spark and
            # would fail analysis, so they are excluded — ties that
            # differ ONLY in unorderable columns remain best-effort)
            from pyspark.sql.types import ArrayType, MapType

            def _orderable(dt) -> bool:
                if isinstance(dt, MapType):
                    return False
                if isinstance(dt, ArrayType):
                    return _orderable(dt.elementType)
                if isinstance(dt, StructType):
                    return all(_orderable(f.dataType) for f in dt.fields)
                return True

            payload = [
                c for c in batch.columns
                if c not in (key, order_col)
                and _orderable(batch.schema[c].dataType)]
            w = Window.partitionBy(key).orderBy(
                F.col(order_col).desc(), *[F.col(c) for c in payload])
            batch = (batch.withColumn("_rn", F.row_number().over(w))
                     .filter(F.col("_rn") == 1).drop("_rn"))
        props = {"epoch": epoch_id, "ckpt": ckpt_key}
        if current_snapshot_id(table) is None:
            commit(batch, table, cluster_by=cluster_by, props=props)
        else:
            merge_upsert(spark, table, batch, key=key,
                         cluster_by=cluster_by, props=props)

    return (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_interval_join(spark: SparkSession, views_dir: str,
                         purchases_dir: str, out_dir: str,
                         checkpoint_dir: str,
                         max_files_per_trigger: int = 64):
    """Watermarked STREAM-STREAM interval join — the attribution query
    (which view led to this purchase?) as two unbounded inputs: each
    purchase joins every view by the same user in the preceding hour.

    The state story is the whole point at scale: BOTH sides carry an
    event-time watermark and the join condition bounds purchase time
    to [view_ts, view_ts + 1 hour], so Spark derives a state watermark
    and EVICTS buffered rows once they can no longer match — state is
    bounded by (``_WATERMARK_DELAY`` + 1 hour) of traffic, not the
    stream history. Without the time bound (or the watermarks) the
    state grows forever and the query is rightly rejected/unbounded;
    this is the canonical shape from the Structured Streaming docs,
    applied to the events table. Batch-equivalence is the test
    contract: the same join over the same files as plain DataFrames
    gives the identical row set.

    ``max_files_per_trigger`` trades per-micro-batch fixed cost (state
    checkpoint + commit) against watermark granularity; tests pass 1
    to force multi-batch behavior, production wants a big batch."""
    return _interval_join(spark, views_dir, purchases_dir, out_dir,
                          checkpoint_dir, max_files_per_trigger, "inner")


def _interval_join(spark: SparkSession, views_dir: str, purchases_dir: str,
                   out_dir: str, checkpoint_dir: str,
                   max_files_per_trigger: int, how: str):
    """The body of both interval joins; ``how`` is the join type."""
    def side(path, user, ts, event_id):
        return (spark.readStream.schema(_EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .parquet(path)
                .withWatermark("ts", _WATERMARK_DELAY)
                .select(F.col("user_id").alias(user), F.col("ts").alias(ts),
                        F.col("event_id").alias(event_id)))

    views = side(views_dir, "v_user", "v_ts", "view_id")
    purchases = side(purchases_dir, "p_user", "p_ts", "purchase_id")
    joined = views.join(
        purchases,
        F.expr("""v_user = p_user
                  AND p_ts >= v_ts
                  AND p_ts <= v_ts + interval 1 hour"""),
        how)
    return (
        joined.select("v_user", "view_id", "purchase_id", "v_ts", "p_ts")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/attributed")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_link_degrees(spark: SparkSession, pages_dir: str, out_dir: str,
                        checkpoint_dir: str):
    """Incremental host-degree maintenance over a growing crawl: new
    page files stream in, each micro-batch extracts its outlinks
    (extract/links.outlinks — JVM-only regex) and appends a PARTIAL
    per-host aggregate (dst_host, n_links, n_pages, epoch).

    The partials form a commutative monoid under column-wise sum
    because the file source assigns every page to exactly one
    micro-batch: per-batch ``countDistinct(url)`` sums to the global
    distinct-page count (page url sets across batches are disjoint),
    and link counts are plain sums. ``read_link_degrees`` folds the
    partials — incremental cost per day follows the day's crawl, not
    the accumulated table, and the merge is a tiny aggregate over
    (hosts x epochs) rows, never a rescan of the pages.

    Exactly-once: foreachBatch + checkpointLocation replays an epoch
    only if the append did not commit; the epoch column makes replay
    cleanup possible (delete-by-epoch) and keeps the audit trail."""
    from ..extract.links import host_degree, outlinks

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (host_degree(outlinks(batch_df))
         .withColumn("epoch", F.lit(epoch_id))
         .write.mode("append").parquet(f"{out_dir}/degree_partials"))

    return (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_link_degrees(spark: SparkSession, out_dir: str) -> DataFrame:
    """Fold the streamed per-epoch partials into current host degrees
    (see stream_link_degrees for why the column-wise sum is exact)."""
    return (
        spark.read.parquet(f"{out_dir}/degree_partials")
        .groupBy("dst_host")
        .agg(F.sum("n_links").alias("n_links"),
             F.sum("n_pages").alias("n_pages"))
    )


def stream_dedup(spark: SparkSession, events_dir: str, out_dir: str,
                 checkpoint_dir: str):
    """Watermarked streaming DEDUPLICATION: at-least-once sources
    (replayed files, retried producers) emit the same event more
    than once; ``dropDuplicatesWithinWatermark`` keeps the FIRST
    arrival of each ``event_id`` and discards re-deliveries that
    arrive within the watermark (``_WATERMARK_DELAY``) of the
    original — after which the key's state is
    dropped, so state is bounded by (keys per watermark window), not
    the stream's lifetime (the property that matters on an unbounded
    crawl feed; a plain dropDuplicates would grow state forever).
    Restart-safe via the checkpoint. The batch equivalent is
    dropDuplicates on the key — the test compares against it."""
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # re-deliveries land in later
        .parquet(events_dir)              # micro-batches (the real shape)
    )
    deduped = (
        stream.withWatermark("ts", _WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/deduped")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_interval_join_outer(spark: SparkSession, views_dir: str,
                               purchases_dir: str, out_dir: str,
                               checkpoint_dir: str):
    """LEFT OUTER watermarked stream-stream interval join — the other
    half of attribution: views that led to NO purchase within the
    window must also be emitted (null purchase columns), and they can
    only be emitted once the watermark proves no future purchase can
    still match. Same bounded-state story as the inner form
    (stream_interval_join, 64 files per trigger); the outer rows ride
    the state EVICTION: an unmatched buffered view is released with
    nulls exactly when its match window expires, so output
    completeness is a function of watermark progress, never of stream
    end."""
    return _interval_join(spark, views_dir, purchases_dir, out_dir,
                          checkpoint_dir, 64, "leftOuter")

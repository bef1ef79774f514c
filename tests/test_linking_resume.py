"""Entity linking, connected components, resume, incremental tests."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from npm_extraction_server_spark.plans.kg import run_pipeline
from npm_extraction_server_spark.plans.linking import (
    candidate_edges,
    canonicalize_triples,
    connected_components,
    entity_mentions,
    link_entities,
)
from npm_extraction_server_spark.plans.resume import (
    completed_chunks,
    read_resumable_triples,
    run_resumable,
)
from npm_extraction_server_spark.sources.pages import pages_df, write_pages
from npm_extraction_server_spark.streaming.incremental import (
    changed_since,
    incremental_triples,
    stream_pipeline,
)


@pytest.fixture(scope="module")
def triples(spark):
    pages = pages_df(spark, 100, partitions=8)
    t = run_pipeline(pages)["triples"].cache()
    t.count()
    return t


def test_connected_components_basic(spark):
    v = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",)],
                              ["entity_iri"])
    e = spark.createDataFrame([("b", "c"), ("c", "d")], ["src", "dst"])
    labels = {r["entity_iri"]: r["canonical_id"]
              for r in connected_components(v, e).collect()}
    assert labels["b"] == labels["c"] == labels["d"] == "b"
    assert labels["a"] == "a" and labels["e"] == "e"


def test_connected_components_chain(spark):
    """long chain needs multiple propagation rounds"""
    n = 40
    v = spark.createDataFrame([(f"n{i:02d}",) for i in range(n)], ["entity_iri"])
    e = spark.createDataFrame([(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n - 1)],
                              ["src", "dst"])
    labels = connected_components(v, e)
    assert labels.select("canonical_id").distinct().count() == 1


def test_entity_linking_email_clusters(triples):
    ents = link_entities(triples).cache()
    # every (user IRI, mailto node) pair sharing an email is one cluster
    bad = (
        ents.filter(F.col("email").isNotNull())
        .groupBy("email")
        .agg(F.countDistinct("canonical_id").alias("n"), F.count("*").alias("m"))
        .filter((F.col("m") > 1) & (F.col("n") > 1))
        .count()
    )
    assert bad == 0
    # clusters exist (mailto <-> user-IRI merges)
    assert ents.count() > ents.select("canonical_id").distinct().count()


def test_canonicalize_preserves_count(triples):
    ents = link_entities(triples)
    canon = canonicalize_triples(triples, ents)
    assert canon.count() == triples.count()
    # literals are never rewritten
    lits = triples.filter(F.col("obj_is_literal")).select("obj")
    lits_c = canon.filter(F.col("obj_is_literal")).select("obj")
    assert lits.exceptAll(lits_c).count() == 0


def test_head_entity_shortcircuit(triples, spark):
    mentions = entity_mentions(triples)
    edges_with = candidate_edges(mentions, triples)
    # head-dictionary path must not break correctness of email edges
    assert edges_with.filter(F.col("dst").startswith("mailto:")).count() > 0


def test_resume_kill_rerun(spark, tmp_path):
    pages = pages_df(spark, 60, partitions=4).cache()
    out1 = str(tmp_path / "full")
    full = run_resumable(pages, out1, n_chunks=4)
    assert sorted(full["processed"]) == [0, 1, 2, 3]
    expected = read_resumable_triples(spark, out1)

    out2 = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(pages, out2, n_chunks=4, fail_after=2)
    assert len(completed_chunks(out2)) == 2
    second = run_resumable(pages, out2, n_chunks=4)
    assert len(second["processed"]) == 2
    assert sorted(second["skipped"]) == sorted(completed_chunks(out2) - set(second["processed"]))

    resumed = read_resumable_triples(spark, out2)
    # identical final triple multiset, no duplicates from the rerun
    assert resumed.count() == expected.count()
    assert resumed.select("subj", "pred", "obj").exceptAll(
        expected.select("subj", "pred", "obj")).count() == 0


def test_changed_since_pruning(spark):
    pages = pages_df(spark, 100, partitions=8).cache()
    lo, hi = "2018-01-01", "2018-07-01"
    window = changed_since(pages, lo, hi)
    n_window = window.count()
    assert 0 < n_window < pages.count()
    t = incremental_triples(pages, lo, hi)
    assert t.select("src_url").distinct().count() <= n_window


def test_streaming_pipeline(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_pages(pages_df(spark, 30, partitions=3), pages_dir)

    q = stream_pipeline(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out_dir}/triples")
    assert got.count() > 100
    assert got.select("src_url").distinct().count() == 30


def test_incremental_components_matches_full(spark):
    """incremental_components: merging two old components through a
    brand-new node, an untouched component, and an all-new component
    must all equal the from-scratch CC of the union graph."""
    from npm_extraction_server_spark.plans.linking import (
        connected_components,
        incremental_components,
    )

    def df_edges(pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    base_nodes = spark.createDataFrame(
        [(f"n{i}",) for i in range(1, 7)], "entity_iri string")
    base = connected_components(
        base_nodes, df_edges([("n1", "n2"), ("n3", "n4"), ("n5", "n6")]))
    delta = df_edges([("n2", "n7"), ("n7", "n3"),  # n7 merges comps 1+2
                      ("n8", "n9")])               # all-new component
    got = {r["entity_iri"]: r["canonical_id"]
           for r in incremental_components(base, delta).collect()}
    all_nodes = spark.createDataFrame(
        [(f"n{i}",) for i in range(1, 10)], "entity_iri string")
    full = {r["entity_iri"]: r["canonical_id"]
            for r in connected_components(
                all_nodes,
                df_edges([("n1", "n2"), ("n3", "n4"), ("n5", "n6"),
                          ("n2", "n7"), ("n7", "n3"), ("n8", "n9")])).collect()}
    assert got == full
    assert got["n4"] == "n1" and got["n5"] == "n5" and got["n9"] == "n8"


def test_stream_to_snapshot_table_exactly_once(spark, tmp_path):
    """Streaming sink -> snapshot table: per-epoch commits with epoch
    ids in the manifest; restarting the stream over new files appends
    only the new epochs; a REPLAYED epoch (crash between snapshot
    commit and checkpoint advance) is detected and skipped."""
    from npm_extraction_server_spark.sources.snapshots import (
        read_snapshot,
        snapshot_log,
    )
    from npm_extraction_server_spark.streaming.incremental import (
        stream_triples_to_snapshots,
    )

    pages_dir = str(tmp_path / "pages")
    table = str(tmp_path / "triples_tbl")
    ckpt = str(tmp_path / "ckpt")
    write_pages(pages_df(spark, 24, partitions=3), pages_dir)

    q = stream_triples_to_snapshots(spark, pages_dir, table, ckpt)
    q.awaitTermination(120)
    n1 = read_snapshot(spark, table).count()
    epochs1 = [m["props"]["epoch"] for m in snapshot_log(table)]
    assert n1 > 50 and len(epochs1) == len(set(epochs1))

    # replayed epoch: a second run with the SAME checkpoint and no new
    # files must not commit anything
    q = stream_triples_to_snapshots(spark, pages_dir, table, ckpt)
    q.awaitTermination(120)
    assert read_snapshot(spark, table).count() == n1
    assert [m["props"]["epoch"] for m in snapshot_log(table)] == epochs1

    # new files -> only the new epochs append
    write_pages(pages_df(spark, 36, partitions=3).filter(
        "url like '%-3_'"), str(tmp_path / "more"))
    import shutil

    for f in Path(str(tmp_path / "more")).glob("part-*.parquet"):
        shutil.copy(f, Path(pages_dir) / f.name)
    q = stream_triples_to_snapshots(spark, pages_dir, table, ckpt)
    q.awaitTermination(120)
    n2 = read_snapshot(spark, table).count()
    assert n2 > n1
    new_epochs = [m["props"]["epoch"] for m in snapshot_log(table)]
    assert new_epochs[:len(epochs1)] == epochs1


def test_stream_fresh_checkpoint_commits_are_not_skipped(spark, tmp_path):
    """Replay detection is keyed on (checkpoint, epoch), NOT the bare
    epoch id: a NEW stream (fresh checkpoint) writing into an existing
    table starts its epochs at 0 again — its batches must COMMIT, not
    be silently dropped as 'replays' of the old stream's epochs."""
    from npm_extraction_server_spark.sources.snapshots import read_snapshot
    from npm_extraction_server_spark.streaming.incremental import (
        stream_triples_to_snapshots,
    )

    pages_dir = str(tmp_path / "pages")
    table = str(tmp_path / "tbl")
    write_pages(pages_df(spark, 12, partitions=2), pages_dir)

    q = stream_triples_to_snapshots(spark, pages_dir, table,
                                    str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    n1 = read_snapshot(spark, table).count()
    assert n1 > 0

    # fresh checkpoint -> the source replays all files as epoch 0...;
    # with bare-epoch keying these collided and were silently dropped
    q = stream_triples_to_snapshots(spark, pages_dir, table,
                                    str(tmp_path / "ckpt2"))
    q.awaitTermination(120)
    assert read_snapshot(spark, table).count() == 2 * n1


def test_stateful_stream_sessionize(spark, tmp_path):
    """applyInPandasWithState: state carries across micro-batches; the
    final per-user session counts match the batch sessionize query."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.streaming.incremental import stream_sessionize

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("user_id") < 10)
        .select("event_id", "ts", "user_id")
    )
    events_dir = str(tmp_path / "events")
    # many small TIME-RANGED files -> several micro-batches in event-time
    # order (stateful sessionization assumes ordered arrival, as a real
    # ingestion feed would provide; out-of-order handling would need
    # watermark buffering, out of scope for this operator)
    events.repartitionByRange(12, "ts").sortWithinPartitions("ts") \
        .write.parquet(events_dir)
    # FileStreamSource orders files by modification time; stamp the
    # time-ranged parts with ascending mtimes so micro-batches arrive
    # in event-time order
    import os
    import time as time_mod

    parts = sorted(p for p in os.listdir(events_dir) if p.startswith("part-"))
    base = time_mod.time() - len(parts)
    for i, p in enumerate(parts):
        os.utime(os.path.join(events_dir, p), (base + i, base + i))

    q = stream_sessionize(spark, events_dir, str(tmp_path / "out"),
                          str(tmp_path / "ckpt"), gap_seconds=1800)
    q.awaitTermination(180)

    got_df = spark.read.parquet(str(tmp_path / "out" / "sessions"))
    # update mode emits one row per user per batch; the LAST emission
    # per user carries the final state
    from pyspark.sql import Window
    final = (
        got_df.withColumn("rn", F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("n_events"))))
        .filter(F.col("rn") == 1)
    )
    got = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in final.collect()}

    # batch oracle
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
    expect = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in events.withColumn("s", sess).groupBy("user_id")
        .agg(F.max("s").alias("n_sessions"), F.count("*").alias("n_events"))
        .collect()
    }
    assert got == expect


def test_name_lsh_blocking_planted(spark):
    """J6 fuzzy path: near-identical names (not linked by email/url)
    land in the same LSH band and pass the Jaccard verify; a dissimilar
    name does not."""
    from npm_extraction_server_spark.plans.linking import candidate_edges

    mentions = spark.createDataFrame(
        [("iri:a", "user", "Jonathan Q. Smithers", None, None),
         ("iri:b", "user", "Jonathan Q Smithers", None, None),
         ("iri:c", "user", "Completely Different", None, None)],
        "entity_iri string, kind string, name string, email string, url string")
    edges = {(r["src"], r["dst"])
             for r in candidate_edges(mentions, None, name_jaccard=0.7).collect()}
    assert ("iri:a", "iri:b") in edges
    assert not any("iri:c" in e for pair in edges for e in pair)


def test_name_lsh_oversized_bucket_dropped(spark):
    """The LSH name-blocking cap: a band bucket holding more than 64
    mentions is boilerplate and yields no name edges; at or under the
    cap, same-kind mentions with one identical name pair up fully."""
    def name_edges(n):
        iris = [f"iri:{i:03d}" for i in range(n)]
        mentions = spark.createDataFrame(
            [(iri, "user", "Jonathan Q Smithers", None, None) for iri in iris],
            "entity_iri string, kind string, name string, email string, "
            "url string")
        got = {(r["src"], r["dst"])
               for r in candidate_edges(mentions, None).collect()}
        return got, {(a, b) for a in iris for b in iris if a < b}

    got, _ = name_edges(70)
    assert got == set()
    for n in (5, 64):
        got, every_pair = name_edges(n)
        assert got == every_pair


def test_stream_windowed_watermark(spark, tmp_path):
    """Watermarked tumbling windows over event time: on-time events are
    aggregated exactly once in append mode; an event arriving in a
    later micro-batch but >watermark behind the advanced event-time
    frontier is DROPPED (the late-data contract of §2.8)."""
    import pandas as pd

    from npm_extraction_server_spark.streaming.incremental import (
        stream_windowed_counts,
    )

    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    mtime = [1_700_000_000]

    def write_file(name, rows):
        # explicit filenames + strictly increasing mtimes: the file
        # source orders micro-batches by modification time, and three
        # sub-second appends would race the intended batch order
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        path = str(events_dir / f"{name}.parquet")
        schema = pa.schema([("event_id", pa.int64()),
                            ("ts", pa.timestamp("us")),
                            ("user_id", pa.int64())])
        pq.write_table(pa.Table.from_pandas(pdf).cast(schema), path)
        mtime[0] += 60
        os.utime(path, (mtime[0], mtime[0]))

    # file 1: events across windows [00:00,00:10) and [00:10,00:20)
    write_file("f1", [(1, base + pd.Timedelta(minutes=1), 1),
                      (2, base + pd.Timedelta(minutes=2), 1),
                      (3, base + pd.Timedelta(minutes=12), 2)])
    # file 2: advances the frontier to 02:00 (watermark -> 01:30)
    write_file("f2", [(4, base + pd.Timedelta(hours=2), 3)])
    # file 3: one more on-time batch — at ITS end the early windows are
    # emitted and EVICTED (watermark 01:30 > their window ends)
    write_file("f3", [(6, base + pd.Timedelta(hours=2, minutes=5), 3)])
    # file 4: a VERY late event for the already-evicted first window
    # (01:27 behind the watermark) -> dropped, no duplicate emission
    # (the watermark's input filter applies the PREVIOUS batch's
    # frontier, so eviction must precede the late arrival — measured)
    write_file("f4", [(5, base + pd.Timedelta(minutes=3), 9),
                      (7, base + pd.Timedelta(hours=2, minutes=6), 3)])

    q = stream_windowed_counts(spark, str(events_dir), str(tmp_path / "out"),
                               str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "out") + "/windows")
    got = {(str(r["win_start"]), r["n_events"]) for r in out.collect()}
    # the first window closed with ONLY the on-time events (late #5
    # dropped); the 00:10 window closed with one event
    assert ("2024-01-01 00:00:00", 2) in got
    assert ("2024-01-01 00:10:00", 1) in got
    # no duplicate emissions for the same window
    starts = [str(r["win_start"]) for r in out.collect()]
    assert len(starts) == len(set(starts))


def test_stream_upsert_cdc_merges_batches(spark, tmp_path):
    """CDC streaming upsert sink: per-batch copy-on-write merges with
    last-write-wins within a batch, exactly-once across restarts."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from npm_extraction_server_spark.sources.snapshots import (
        read_snapshot,
        snapshot_log,
    )
    from npm_extraction_server_spark.streaming.incremental import (
        stream_upsert_to_snapshots,
    )

    ups_dir = tmp_path / "ups"
    table = str(tmp_path / "cdc_tbl")
    ckpt = str(tmp_path / "cdc_ckpt")
    ups_dir.mkdir()
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("seq", T.LongType()),
    ])

    # batch file 1: base rows 0..9 (v = 0)
    spark.range(10).select(F.col("id"), F.lit(0).alias("v"),
                           F.lit(0).alias("seq")) \
        .coalesce(1).write.parquet(str(ups_dir / "b1"))
    # batch file 2: update 3 twice (seq 1 then 2 -> LWW keeps v=22),
    # insert 100
    spark.createDataFrame([(3, 11, 1), (3, 22, 2), (100, 5, 1)], schema) \
        .coalesce(1).write.parquet(str(ups_dir / "b2"))
    # flatten into one stream dir (one file per micro-batch). The file
    # source orders micro-batches by MODIFICATION TIME, not name —
    # back-to-back copies can collide within the fs timestamp
    # granularity and flip the batch order under load (the b2 updates
    # would then be "overwritten" by the b1 base rows: across batches
    # the LATER batch wins by design). Pin distinct mtimes so the
    # intended order is deterministic.
    import os
    import shutil
    import time as _time

    flat = tmp_path / "flat"
    flat.mkdir()
    now = _time.time()
    for i, sub in enumerate(sorted(ups_dir.iterdir())):
        for f in sub.glob("part-*.parquet"):
            dst = flat / f"{i:02d}-{f.name}"
            shutil.copy(f, dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))

    q = stream_upsert_to_snapshots(spark, str(flat), table, ckpt,
                                   key="id", schema=schema, order_col="seq")
    assert q.awaitTermination(300), "stream did not drain in 300s"

    got = {r["id"]: r["v"] for r in read_snapshot(spark, table).collect()}
    assert len(got) == 11 and got[3] == 22 and got[100] == 5 and got[0] == 0
    ops = [m["operation"] for m in snapshot_log(table)]
    assert ops[0] == "append" and "overwrite" in ops[1:]

    # restart with same checkpoint, no new files: nothing re-applied
    n_snaps = len(snapshot_log(table))
    q = stream_upsert_to_snapshots(spark, str(flat), table, ckpt,
                                   key="id", schema=schema, order_col="seq")
    assert q.awaitTermination(300), "restart did not drain in 300s"
    assert len(snapshot_log(table)) == n_snaps


def test_stream_upsert_lww_tie_breaks_deterministically(spark, tmp_path):
    """Equal order_col values for the same key within one batch: the
    winner is a pure function of the row set (order_col desc, then the
    remaining payload columns ascending — the partition key itself can
    never discriminate inside its own window), not partition order."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from npm_extraction_server_spark.sources.snapshots import read_snapshot
    from npm_extraction_server_spark.streaming.incremental import (
        stream_upsert_to_snapshots,
    )

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("seq", T.LongType()),
    ])
    flat = tmp_path / "flat"
    flat.mkdir()
    # one batch: key 1 has THREE rows tied at seq=5 with payloads
    # shuffled across partitions; deterministic winner = min payload
    rows = [(1, 30, 5), (1, 10, 5), (1, 20, 5), (2, 7, 1)]
    spark.createDataFrame(rows, schema).repartition(4) \
        .coalesce(1).write.parquet(str(flat / "b1"))
    import shutil

    for f in (flat / "b1").glob("part-*.parquet"):
        shutil.move(str(f), flat / f"00-{f.name}")
    shutil.rmtree(flat / "b1")

    for attempt in range(2):  # run twice from scratch: same pick
        table = str(tmp_path / f"t{attempt}")
        ckpt = str(tmp_path / f"c{attempt}")
        q = stream_upsert_to_snapshots(spark, str(flat), table, ckpt,
                                       key="id", schema=schema,
                                       order_col="seq")
        assert q.awaitTermination(300), "stream did not drain in 300s"
        got = {r["id"]: r["v"] for r in read_snapshot(spark, table).collect()}
        assert got == {1: 10, 2: 7}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (view->purchase
    attribution within 1h): the streamed result must EQUAL the same
    interval join run as plain batch DataFrames over the same files —
    and late rows beyond the watermark are the only permissible
    difference (none are planted here)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from npm_extraction_server_spark.streaming.incremental import (
        stream_interval_join,
    )

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ])

    def ts(minute):
        import datetime

        return datetime.datetime(2024, 1, 1, 0, minute)

    views = [(1, ts(0), 7), (2, ts(5), 7), (3, ts(0), 8), (4, ts(30), 9)]
    # purchase 100 at 00:40: within 1h of views 1 and 2 (user 7);
    # purchase 101 at 02:00: too late for view 3 (user 8);
    # purchase 102 at 00:31: within 1h of view 4 (user 9)
    purchases = [(100, ts(40), 7), (101, ts(0).replace(hour=2), 8),
                 (102, ts(31), 9)]

    vdir, pdir = tmp_path / "views", tmp_path / "purch"
    for rows, d in ((views, vdir), (purchases, pdir)):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(d))

    q = stream_interval_join(spark, str(vdir), str(pdir),
                             str(tmp_path / "out"), str(tmp_path / "ck"),
                             max_files_per_trigger=1)
    assert q.awaitTermination(300), "stream did not drain"

    got = {(r["view_id"], r["purchase_id"])
           for r in spark.read.parquet(
               str(tmp_path / "out" / "attributed")).collect()}

    batch_v = spark.createDataFrame(views, schema).select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"))
    batch_p = spark.createDataFrame(purchases, schema).select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"))
    expect = {(r["view_id"], r["purchase_id"])
              for r in batch_v.join(
                  batch_p,
                  F.expr("v_user = p_user AND p_ts >= v_ts "
                         "AND p_ts <= v_ts + interval 1 hour")).collect()}
    assert got == expect == {(1, 100), (2, 100), (4, 102)}


def test_stream_dedup_within_watermark_matches_batch(spark, tmp_path):
    """Streaming dedup: re-delivered keys inside the watermark are
    dropped (first arrival wins), state for expired keys is evicted,
    and the on-time output equals batch dropDuplicates over the
    distinct-key stream."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from npm_extraction_server_spark.streaming.incremental import (
        stream_dedup,
    )

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    mtime = [1_700_000_000]

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        path = str(events_dir / f"{name}.parquet")
        schema = pa.schema([("event_id", pa.int64()),
                            ("ts", pa.timestamp("us")),
                            ("user_id", pa.int64())])
        pq.write_table(pa.Table.from_pandas(pdf).cast(schema), path)
        mtime[0] += 60
        os.utime(path, (mtime[0], mtime[0]))

    # batch 1: three events, one key duplicated WITHIN the batch
    write_file("f1", [(1, base + pd.Timedelta(minutes=1), 10),
                      (1, base + pd.Timedelta(minutes=2), 11),
                      (2, base + pd.Timedelta(minutes=3), 12)])
    # batch 2: key 1 re-delivered within the watermark -> dropped;
    # fresh key 3 kept
    write_file("f2", [(1, base + pd.Timedelta(minutes=5), 13),
                      (3, base + pd.Timedelta(minutes=6), 14)])
    # batch 3: frontier jumps 2h -> watermark passes the old keys'
    # expiry; key 4 is new
    write_file("f3", [(4, base + pd.Timedelta(hours=2), 15)])

    q = stream_dedup(spark, str(events_dir), str(tmp_path / "out"),
                     str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "out") + "/deduped")
    got = {(r["event_id"], r["user_id"]) for r in out.collect()}
    # first arrival of each key, exactly once
    assert got == {(1, 10), (2, 12), (3, 14), (4, 15)}


def test_stream_interval_join_outer_emits_unmatched_on_eviction(
        spark, tmp_path):
    """LEFT OUTER interval join: matched views join normally;
    unmatched views are emitted with NULL purchase columns once the
    watermark passes their match window — the on-time output equals
    the batch left join over the same files."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from npm_extraction_server_spark.streaming.incremental import (
        stream_interval_join_outer,
    )

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
    ])

    def ts(hour, minute=0):
        return datetime.datetime(2024, 1, 1, hour, minute)

    # view 1 (user 7) matched by purchase 100; view 2 (user 8) never
    # matched; view 3 (user 7) outside purchase 100's window; view 4
    # advances the VIEWS-side watermark (the join's state watermark is
    # the MIN across both inputs — without a late view, view 3's
    # window never provably closes and its outer row stays buffered)
    views = [(1, ts(0), 7), (2, ts(0, 5), 8), (3, ts(5), 7),
             (4, ts(9), 99)]
    # late purchases push the purchases-side watermark equally far
    purchases = [(100, ts(0, 30), 7), (200, ts(9), 99), (201, ts(9, 1), 99)]

    vdir, pdir = tmp_path / "views", tmp_path / "purch"
    for rows, d in ((views, vdir), (purchases, pdir)):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(d))

    q = stream_interval_join_outer(
        spark, str(vdir), str(pdir), str(tmp_path / "out"),
        str(tmp_path / "ck"))
    assert q.awaitTermination(300), "stream did not drain"
    got = {(r["view_id"], r["purchase_id"])
           for r in spark.read.parquet(
               str(tmp_path / "out" / "attributed")).collect()}

    batch_v = spark.createDataFrame(views, schema).select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"))
    batch_p = spark.createDataFrame(purchases, schema).select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"))
    expect = {(r["view_id"], r["purchase_id"])
              for r in batch_v.join(
                  batch_p,
                  F.expr("v_user = p_user AND p_ts >= v_ts "
                         "AND p_ts <= v_ts + interval 1 hour"),
                  "leftOuter").collect()}
    assert got == expect
    assert (2, None) in got and (3, None) in got  # the outer rows


def test_stream_upserts_maintain_agg_view(spark, tmp_path):
    """Streaming CDC merges + incremental view maintenance compose:
    a count/sum view created after the first ingested batch is folded
    forward from the changelog the LATER streamed batches committed —
    incremental refresh equals a from-scratch recompute of the final
    table state, and the refresh consumes only changelog rows."""
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from npm_extraction_server_spark.plans.views import (
        create_agg_view,
        read_view,
        refresh_agg_view,
    )
    from npm_extraction_server_spark.sources.snapshots import read_snapshot
    from npm_extraction_server_spark.streaming.incremental import (
        stream_upsert_to_snapshots,
    )

    ups = tmp_path / "ups"
    table = str(tmp_path / "tbl")
    view = str(tmp_path / "view")
    ups.mkdir()
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("g", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("seq", T.LongType()),
    ])

    # batch 1: base rows
    spark.range(20).select(F.col("id"), (F.col("id") % 3).alias("g"),
                           (F.col("id") * 2).alias("x"),
                           F.lit(0).alias("seq")) \
        .coalesce(1).write.parquet(str(ups / "b1"))
    flat = tmp_path / "flat"
    flat.mkdir()
    now = _time.time()
    f1 = next((ups / "b1").glob("part-*.parquet"))
    d1 = flat / f"00-{f1.name}"
    shutil.copy(f1, d1)
    os.utime(d1, (now, now))
    q = stream_upsert_to_snapshots(spark, str(flat), table,
                                   str(tmp_path / "ckpt"), key="id",
                                   schema=schema, order_col="seq")
    assert q.awaitTermination(300)
    create_agg_view(spark, table, view, group_by=["g"], sums={"sx": "x"})

    # batch 2 streamed later: updates + inserts land as CoW merges
    spark.createDataFrame(
        [(0, 0, 999, 1), (3, 0, 7, 1), (100, 2, 4, 1)], schema) \
        .coalesce(1).write.parquet(str(ups / "b2"))
    f2 = next((ups / "b2").glob("part-*.parquet"))
    d2 = flat / f"01-{f2.name}"
    shutil.copy(f2, d2)
    os.utime(d2, (now + 10, now + 10))
    q = stream_upsert_to_snapshots(spark, str(flat), table,
                                   str(tmp_path / "ckpt"), key="id",
                                   schema=schema, order_col="seq")
    assert q.awaitTermination(300)

    stats = refresh_agg_view(spark, table, view)
    assert 0 < stats["change_rows"] <= 8, stats   # 2 upd pairs + 1 ins
    got = {r.g: (r.n_rows, r.sx) for r in read_view(spark, view).collect()}
    exp = {r.g: (r.n_rows, r.sx)
           for r in read_snapshot(spark, table).groupBy("g")
           .agg(F.count("*").alias("n_rows"), F.sum("x").alias("sx"))
           .collect()}
    assert got == exp


def test_pair_metrics_hand_computed(spark):
    """Pair-counting metrics on a hand-checkable case: pred merges two
    gold clusters and splits another; items missing from one side are
    ignored."""
    from npm_extraction_server_spark.plans.linking import pair_metrics

    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 3), ("x", 9)],
        "item string, cluster long")
    gold = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 20), ("d", 20), ("e", 20)],
        "item string, cluster long")
    # joined items: a,b,c,d,e. pred pairs: C(3,2)=3 (abc) = ab,ac,bc
    # gold pairs: ab, cd, ce, de = 1 + 3 = 4; tp = ab only
    r = pair_metrics(pred, gold).collect()[0]
    assert (r.n_items, r.tp, r.fp, r.fn) == (5, 1, 2, 3)
    # perfect clustering: tp = all pairs, fp = fn = 0
    r2 = pair_metrics(gold.withColumnRenamed("cluster", "c")
                      .select("item", F.col("c").alias("cluster")),
                      gold).collect()[0]
    assert (r2.tp, r2.fp, r2.fn) == (4, 0, 0)


def test_ifp_smush_transitive_across_predicates(spark):
    from npm_extraction_server_spark.plans.linking import ifp_smush

    triples = spark.createDataFrame(
        [("ent:a", "foaf:mbox", "mailto:x"),
         ("ent:b", "foaf:mbox", "mailto:x"),
         ("ent:b", "foaf:homepage", "http://h/1"),
         ("ent:c", "foaf:homepage", "http://h/1"),
         ("ent:d", "foaf:mbox", "mailto:solo"),
         # non-IFP assertions must not link anything
         ("ent:a", "foaf:name", "same"),
         ("ent:e", "foaf:name", "same")],
        "subj string, pred string, obj string")
    got = {r.entity_iri: r.canonical_id
           for r in ifp_smush(triples,
                              ["foaf:mbox", "foaf:homepage"]).collect()}

    # a~b via mbox, b~c via homepage -> one class with min canon
    assert got["ent:a"] == got["ent:b"] == got["ent:c"] == "ent:a"
    assert got["ent:d"] == "ent:d"
    # ent:e holds no IFP assertion -> not in the output at all
    assert "ent:e" not in got

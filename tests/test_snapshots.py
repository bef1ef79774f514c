"""Snapshot-log table format (sources/snapshots.py): commit protocol,
time travel, incremental reads, crash atomicity, rollback forks."""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from npm_extraction_server_spark.sources.snapshots import (
    commit,
    current_snapshot_id,
    read_incremental,
    read_snapshot,
    rollback,
    snapshot_log,
)


@pytest.fixture()
def table(tmp_path, spark):
    """Three-commit table: ids [0,10), [10,30), [30,35)."""
    t = str(tmp_path / "tbl")
    ids = spark.range(35).select(F.col("id"), (F.col("id") * 2).alias("v"))
    commit(ids.filter("id < 10"), t)
    commit(ids.filter("id >= 10 and id < 30"), t)
    commit(ids.filter("id >= 30"), t)
    return t


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_full_read_and_time_travel(spark, table):
    assert _ids(read_snapshot(spark, table)) == list(range(35))
    assert _ids(read_snapshot(spark, table, snapshot_id=1)) == list(range(10))
    assert _ids(read_snapshot(spark, table, snapshot_id=2)) == list(range(30))


def test_incremental_reads_only_new_commits(spark, table):
    assert _ids(read_incremental(spark, table, from_snapshot=1)) == list(range(10, 35))
    assert _ids(read_incremental(spark, table, 1, to_snapshot=2)) == list(range(10, 30))
    assert read_incremental(spark, table, 3).count() == 0  # nothing after CURRENT


def test_manifest_stats_and_log(table):
    log = snapshot_log(table)
    assert [m["snapshot_id"] for m in log] == [1, 2, 3]
    assert [m["added_rows"] for m in log] == [10, 20, 5]
    assert all(Path(f).exists() for m in log for f in m["added_files"])


def test_stats_pruning_plans_only_matching_commits(spark, table):
    from npm_extraction_server_spark.sources.snapshots import (
        plan_scan,
        read_where,
    )

    # id in [10,30) lives entirely in commit 2: commits 1 and 3 must be
    # pruned by manifest min/max alone
    preds = [("id", ">=", 10), ("id", "<", 30)]
    kept, total = plan_scan(table, preds)
    assert kept and len(kept) < len(total)
    assert all("/snap-2/" in f for f in kept)
    # pruning is a pure optimization: same rows as a full-scan filter
    assert _ids(read_where(spark, table, preds)) == list(range(10, 30))


def test_stats_pruning_empty_and_residual(spark, table):
    from npm_extraction_server_spark.sources.snapshots import (
        plan_scan,
        read_where,
    )

    kept, _ = plan_scan(table, [("id", ">", 1000)])
    assert kept == []
    df = read_where(spark, table, [("id", ">", 1000)])
    assert df.count() == 0 and "id" in df.columns
    # predicate INSIDE one file's range: residual filter still applies
    assert _ids(read_where(spark, table, [("id", "=", 7)])) == [7]


def test_cluster_by_sharpens_file_pruning(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        plan_scan,
        read_where,
    )

    t = str(tmp_path / "clustered")
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    commit(df, t, partitions=8, cluster_by=["id"])
    kept, total = plan_scan(t, [("id", "=", 5)])
    # range-clustered commit: a point predicate opens exactly one file
    assert len(total) == 8 and len(kept) == 1
    assert _ids(read_where(spark, t, [("id", "=", 5)])) == [5]


def test_string_stats_prune_and_untrusted_stats_keep(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        _STATS_MAX_STR,
        plan_scan,
    )

    t = str(tmp_path / "strtab")
    a = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id long, s string")
    z = spark.createDataFrame([(3, "zeta"), (4, "zulu")], "id long, s string")
    commit(a, t, partitions=1)
    commit(z, t, partitions=1)
    kept, total = plan_scan(t, [("s", ">=", "z")])
    assert len(total) == 2 and len(kept) == 1 and "/snap-2/" in kept[0]
    # long strings: stats untrusted -> file kept (never wrongly pruned)
    big = spark.createDataFrame([(9, "x" * (_STATS_MAX_STR + 10))],
                                "id long, s string")
    commit(big, t, partitions=1)
    kept2, total2 = plan_scan(t, [("s", "=", "zzz-not-there")])
    assert len(total2) == 3
    assert any("/snap-3/" in f for f in kept2)  # untrusted stats kept
    assert not any("/snap-1/" in f for f in kept2)  # trusted stats pruned


def test_crash_before_current_flip_is_invisible(spark, table):
    """Data files + manifest without the CURRENT flip = no commit: a
    writer that dies mid-commit leaves the table state unchanged."""
    meta = Path(table) / "meta"
    orphan_dir = Path(table) / "data" / "snap-99"
    orphan_dir.mkdir(parents=True)
    (meta / "snap-99.json").write_text(json.dumps(
        {"snapshot_id": 99, "parent": 3, "added_files": [], "added_rows": 0,
         "schema": "{}"}))
    assert current_snapshot_id(table) == 3
    assert read_snapshot(spark, table).count() == 35


def test_rollback_forks_the_chain(spark, table):
    rollback(table, 2)
    assert _ids(read_snapshot(spark, table)) == list(range(30))
    # a new commit after rollback forks: fresh id, parent = 2
    ids = spark.range(100, 104).select(F.col("id"), (F.col("id") * 2).alias("v"))
    new_sid = commit(ids, table)
    assert new_sid == 4 and snapshot_log(table)[-1]["parent"] == 2
    assert _ids(read_snapshot(spark, table)) == list(range(30)) + [100, 101, 102, 103]
    # snapshot 3 is orphaned: not on the chain, not a valid ancestor
    with pytest.raises(ValueError):
        read_incremental(spark, table, from_snapshot=3)


def test_compaction_replace_snapshot(spark, table):
    """compact() rewrites the table as one 'replace' snapshot: full
    reads plan from the compacted files only; incremental readers skip
    it (no new rows); appends continue on top; time travel below the
    compaction still works."""
    from npm_extraction_server_spark.sources.snapshots import compact

    c = compact(spark, table, partitions=1)
    assert _ids(read_snapshot(spark, table)) == list(range(35))
    # the planned scan is exactly the compaction's own files
    log = snapshot_log(table)
    assert log[-1]["operation"] == "replace" and len(log[-1]["added_files"]) == 1
    # compaction added no rows -> incremental over it is empty
    assert read_incremental(spark, table, from_snapshot=3).count() == 0
    # appends continue; incremental (3, new] sees only the append
    ids = spark.range(200, 203).select(F.col("id"), (F.col("id") * 2).alias("v"))
    commit(ids, table)
    assert _ids(read_incremental(spark, table, from_snapshot=3)) == [200, 201, 202]
    assert _ids(read_incremental(spark, table, from_snapshot=c)) == [200, 201, 202]
    # time travel below the compaction is untouched
    assert _ids(read_snapshot(spark, table, snapshot_id=2)) == list(range(30))


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """write_bucketed_tables: a subj=entity_iri join between the two
    bucketed tables must plan with ZERO Exchange (co-located buckets),
    even with broadcast disabled — the big-big join shape at 10^12
    rows."""
    from npm_extraction_server_spark.plans.warehouse import write_bucketed_tables

    triples = spark.range(200).selectExpr(
        "concat('http://e/', id % 50) AS subj", "'p' AS pred",
        "concat('o', id) AS obj")
    entities = spark.range(50).selectExpr(
        "concat('http://e/', id) AS entity_iri", "'person' AS kind")
    db = "kgwh_test"
    write_bucketed_tables(triples, entities, db, str(tmp_path / "wh"),
                          n_buckets=4)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = spark.table(f"{db}.triples")
        e = spark.table(f"{db}.entities")
        joined = t.join(e, t.subj == e.entity_iri)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 200
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_expire_snapshots_bounds_storage(spark, table):
    """compact + expire: history below the compaction is deleted
    (manifests AND data dirs), the current chain still reads fully,
    incremental reads above the compaction still work, and expired
    snapshots can no longer anchor reads."""
    from npm_extraction_server_spark.sources.snapshots import (
        compact,
        expire_snapshots,
    )

    c = compact(spark, table, partitions=1)  # snapshot 4 (replace)
    ids = spark.range(300, 305).select(F.col("id"), (F.col("id") * 2).alias("v"))
    commit(ids, table)  # snapshot 5
    stats = expire_snapshots(table, keep_last=2)
    assert stats["deleted_manifests"] == 3 and stats["deleted_data_dirs"] == 3
    assert _ids(read_snapshot(spark, table)) == list(range(35)) + [300, 301,
                                                                   302, 303, 304]
    assert _ids(read_incremental(spark, table, from_snapshot=c)) == [300, 301,
                                                                     302, 303,
                                                                     304]
    assert [m["snapshot_id"] for m in snapshot_log(table)] == [4, 5]
    with pytest.raises((ValueError, FileNotFoundError)):
        read_snapshot(spark, table, snapshot_id=2)


def test_concurrent_commits_all_land(spark, tmp_path):
    """Optimistic-concurrency commits: N committers racing on one table
    must ALL land (serialized on the commit lock) — no snapshot is ever
    silently dropped by a lost CURRENT flip."""
    import threading

    t = str(tmp_path / "race_tbl")
    n_writers, errs = 8, []
    frames = [spark.range(i * 10, i * 10 + 10).select(F.col("id"))
              .localCheckpoint(eager=True) for i in range(n_writers)]

    def work(i):
        try:
            commit(frames[i], t)
        except Exception as e:  # noqa: BLE001 — recorded and asserted
            errs.append(e)

    threads = [threading.Thread(target=work, args=(i,))
               for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    log = snapshot_log(t)
    assert len(log) == n_writers
    assert sorted(m["snapshot_id"] for m in log) == list(
        range(1, n_writers + 1))
    # parent chain is a straight line: every commit built on the last
    assert [m["parent"] for m in log] == [None] + [
        m["snapshot_id"] for m in log[:-1]]
    assert _ids(read_snapshot(spark, t)) == list(range(n_writers * 10))


def test_commit_conflict_on_stale_expected_parent(spark, tmp_path):
    """CAS check: a commit whose content was computed against a parent
    that is no longer CURRENT must raise CommitConflict, not silently
    clobber — and compact() uses it so a concurrent append can never be
    dropped by a replace."""
    from npm_extraction_server_spark.sources.snapshots import CommitConflict

    t = str(tmp_path / "cas_tbl")
    s1 = commit(spark.range(5).select("id"), t)
    commit(spark.range(5, 8).select("id"), t)  # someone else appends
    with pytest.raises(CommitConflict):
        commit(spark.range(99, 100).select("id"), t, operation="replace",
               expected_parent=s1)
    # table unchanged by the failed commit; a correct retry lands
    assert _ids(read_snapshot(spark, t)) == list(range(8))
    sid = commit(spark.range(8, 9).select("id"), t,
                 expected_parent=current_snapshot_id(t))
    assert current_snapshot_id(t) == sid


def test_orphan_data_dir_does_not_wedge_commits(spark, tmp_path):
    """A writer crash between the staging rename and the manifest write
    leaves data/snap-N with no manifest. Later commits must skip that
    id (ids are claimed over manifests AND data dirs) instead of dying
    on an existing directory forever."""
    t = str(tmp_path / "orphan_tbl")
    commit(spark.range(3).select("id"), t)
    orphan = Path(t) / "data" / "snap-2"
    orphan.mkdir(parents=True)
    (orphan / "part-00000-junk.parquet").write_bytes(b"not a real file")
    sid = commit(spark.range(3, 6).select("id"), t)
    assert sid == 3  # snap-2 skipped, not reused
    assert _ids(read_snapshot(spark, t)) == list(range(6))
    assert [m["snapshot_id"] for m in snapshot_log(t)] == [1, 3]


def test_stale_commit_lock_is_broken(spark, tmp_path):
    """A crashed writer's lock (old mtime) must not block the table
    forever: the next committer breaks it after lock_stale_after."""
    import os
    import time

    t = str(tmp_path / "stale_tbl")
    commit(spark.range(2).select("id"), t)
    lock = Path(t) / "meta" / "COMMIT.lock"
    lock.write_text("424242\n")
    old = time.time() - 1000
    os.utime(lock, (old, old))
    sid = commit(spark.range(2, 4).select("id"), t,
                 lock_timeout=5.0, lock_stale_after=60.0)
    assert sid == 2 and _ids(read_snapshot(spark, t)) == [0, 1, 2, 3]


def test_schema_evolution_merge_read(spark, tmp_path):
    """A later commit may add columns; merge_schema reads the union
    with nulls for earlier files."""
    t = str(tmp_path / "evo")
    commit(spark.range(3).select("id"), t)
    commit(spark.range(3, 5).select("id", (F.col("id") * 10).alias("extra")), t)
    df = read_snapshot(spark, t, merge_schema=True)
    assert set(df.columns) == {"id", "extra"}
    rows = {r["id"]: r["extra"] for r in df.collect()}
    assert rows[0] is None and rows[4] == 40


def test_snapshot_ops_match_model(spark, tmp_path):
    """Model-based check: a random-ish sequence of append / rollback /
    compact operations against an in-memory reference model — full
    reads, time travel, and incremental reads must agree with the
    model after every step. (Deterministic op sequence chosen to cover
    rollback-then-append forks and post-compaction increments.)"""
    from npm_extraction_server_spark.sources.snapshots import compact

    t = str(tmp_path / "model_tbl")
    base = spark.range(1000)

    def batch(lo, hi):
        return base.filter(f"id >= {lo} and id < {hi}").select(
            F.col("id"), (F.col("id") * 3).alias("v"))

    # model: snapshot_id -> (parent, set_of_ids_added, operation)
    model: dict[int, tuple] = {}

    def model_state(sid):
        ids, cur = set(), sid
        while cur is not None:
            parent, added, op = model[cur]
            ids |= added
            if op == "replace":
                break
            cur = parent
        return ids

    ops = [("append", 0, 100), ("append", 100, 250), ("rollback", 1),
           ("append", 250, 300), ("compact",), ("append", 300, 420),
           ("append", 420, 431), ("rollback", 4), ("append", 431, 500)]
    current = None
    for op in ops:
        if op[0] == "append":
            sid = commit(batch(op[1], op[2]), t)
            model[sid] = (current, set(range(op[1], op[2])), "append")
            current = sid
        elif op[0] == "rollback":
            rollback(t, op[1])
            current = op[1]
        else:
            sid = compact(spark, t)
            model[sid] = (current, model_state(current), "replace")
            current = sid
        # full read == model, at every step
        assert _ids(read_snapshot(spark, t)) == sorted(model_state(current))
    # time travel to every recorded snapshot still matches
    for sid in model:
        try:
            got = _ids(read_snapshot(spark, t, snapshot_id=sid))
        except ValueError:
            continue
        assert got == sorted(model_state(sid))
    # incremental (ancestor, CURRENT] == model difference of appends
    anc = 4  # the post-rollback fork point
    inc = set(_ids(read_incremental(spark, t, from_snapshot=anc)))
    expect = set()
    cur = current
    while cur is not None and cur != anc:
        parent, added, op = model[cur]
        if op == "append":
            expect |= added
        cur = parent
    assert inc == expect


def test_snapshot_incremental_pipeline(spark, tmp_path):
    """SC5 snapshot form end-to-end: triples come only from the pages
    the new snapshot added."""
    from npm_extraction_server_spark.sources.pages import pages_df
    from npm_extraction_server_spark.streaming.incremental import (
        snapshot_incremental_triples,
    )

    from npm_extraction_server_spark.plans.kg import (
        docs_to_triples,
        extract_docs,
        split_errors,
    )

    t = str(tmp_path / "pages_tbl")
    pages = pages_df(spark, 20, partitions=2).localCheckpoint(eager=True)
    batch2 = pages.filter(~F.col("url").endswith("-0"))
    s1 = commit(pages.filter(F.col("url").endswith("-0")), t)
    commit(batch2, t)
    # part_id is physical-partition lineage — legitimately differs
    # between the snapshot scan and the direct frame; exclude it
    cols = ["src_url", "subj", "pred", "obj", "obj_is_literal", "graph"]
    inc = {tuple(r) for r in snapshot_incremental_triples(
        spark, t, from_snapshot=s1).select(cols).collect()}
    direct, _ = split_errors(docs_to_triples(extract_docs(batch2)))
    assert len(inc) > 0
    assert inc == {tuple(r) for r in direct.select(cols).collect()}


def test_merge_upsert_updates_inserts_and_carries_untouched(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        merge_upsert,
        read_snapshot,
        snapshot_log,
    )

    t = str(tmp_path / "merge")
    base = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    commit(base, t, partitions=4, cluster_by=["id"])
    # update ids 10..14 (v -> 999), insert ids 1000..1002
    ups = spark.createDataFrame(
        [(i, 999) for i in range(10, 15)] + [(i, -1) for i in (1000, 1001, 1002)],
        "id long, v long")
    merge_upsert(spark, t, ups, key="id")
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 103
    assert all(got[i] == 999 for i in range(10, 15))
    assert all(got[i] == -1 for i in (1000, 1001, 1002))
    assert got[50] == 100  # untouched row carried by reference
    # only the stats-matching files were rewritten (4 clustered files;
    # ids 10..14 live in one; inserts beyond max touch none)
    man = snapshot_log(t)[-1]
    assert man["operation"] == "overwrite"
    assert len(man["removed_files"]) == 1


def test_merge_upsert_time_travel_sees_pre_merge_state(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        merge_upsert,
        read_snapshot,
    )

    t = str(tmp_path / "mtt")
    s1 = commit(spark.range(10).select(F.col("id"), F.lit(0).alias("v")), t)
    ups = spark.createDataFrame([(3, 7)], "id long, v int")
    merge_upsert(spark, t, ups, key="id")
    old = {r["id"]: r["v"] for r in read_snapshot(spark, t, snapshot_id=s1).collect()}
    assert old[3] == 0 and len(old) == 10
    new = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert new[3] == 7 and len(new) == 10


def test_merge_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        merge_upsert,
    )

    t = str(tmp_path / "mdup")
    commit(spark.range(5).select(F.col("id"), F.lit(0).alias("v")), t)
    ups = spark.createDataFrame([(1, 1), (1, 2)], "id long, v int")
    with pytest.raises(ValueError, match="duplicate key"):
        merge_upsert(spark, t, ups, key="id")


def test_merge_upsert_retries_past_concurrent_append(spark, tmp_path):
    """A commit landing between merge planning and merge commit must
    not lose rows: the CAS fails, the merge re-plans over the new
    CURRENT and both writers' rows survive."""
    from npm_extraction_server_spark.sources import snapshots as S

    t = str(tmp_path / "mrace")
    S.commit(spark.range(10).select(F.col("id"), F.lit(0).alias("v")), t)

    real_commit = S.commit
    interfered = {"done": False}

    def racing_commit(df, table, **kw):
        if not interfered["done"] and kw.get("operation") == "overwrite":
            interfered["done"] = True
            # sneak an append in first: ids 100..104
            real_commit(
                spark.range(100, 105).select(F.col("id"), F.lit(5).alias("v")),
                table)
        return real_commit(df, table, **kw)

    S.commit = racing_commit
    try:
        ups = spark.createDataFrame([(3, 7)], "id long, v int")
        S.merge_upsert(spark, t, ups, key="id")
    finally:
        S.commit = real_commit
    got = {r["id"]: r["v"] for r in S.read_snapshot(spark, t).collect()}
    assert len(got) == 15  # 10 base + 5 raced-in appends
    assert got[3] == 7 and got[100] == 5


def test_incremental_read_refuses_overwrite_range(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        merge_upsert,
        read_incremental,
    )

    t = str(tmp_path / "minc")
    s1 = commit(spark.range(10).select(F.col("id"), F.lit(0).alias("v")), t)
    merge_upsert(spark, t,
                 spark.createDataFrame([(3, 7)], "id long, v int"), key="id")
    with pytest.raises(ValueError, match="overwrite"):
        read_incremental(spark, t, from_snapshot=s1)


def test_changelog_scan_append_and_merge(spark, tmp_path):
    """read_changes: appends arrive as inserts; a copy-on-write merge
    arrives as delete+insert pairs for updated keys plus pure inserts
    for new keys — survivor rows copied between files cancel out."""
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        merge_upsert,
        read_changes,
    )

    t = str(tmp_path / "cdf")
    s1 = commit(spark.range(10).select(F.col("id"), F.lit(0).alias("v")), t)
    commit(spark.range(10, 15).select(F.col("id"), F.lit(1).alias("v")), t)
    ups = spark.createDataFrame([(3, 7), (99, 9)], "id long, v int")
    merge_upsert(spark, t, ups, key="id")

    ch = read_changes(spark, t, from_snapshot=s1).collect()
    by = {}
    for r in ch:
        by.setdefault((r["_snapshot_id"], r["_change_type"]), set()).add(
            (r["id"], r["v"]))
    assert by[(2, "insert")] == {(i, 1) for i in range(10, 15)}
    assert by[(3, "insert")] == {(3, 7), (99, 9)}
    assert by[(3, "delete")] == {(3, 0)}
    assert set(by) == {(2, "insert"), (3, "insert"), (3, "delete")}


def test_changelog_scan_skips_compaction(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        compact,
        read_changes,
    )

    t = str(tmp_path / "cdfc")
    s1 = commit(spark.range(5).select(F.col("id"), F.lit(0).alias("v")), t)
    compact(spark, t, partitions=1)
    assert read_changes(spark, t, from_snapshot=s1).count() == 0
    commit(spark.range(5, 8).select(F.col("id"), F.lit(2).alias("v")), t)
    ch = read_changes(spark, t, from_snapshot=s1)
    assert sorted(r["id"] for r in ch.collect()) == [5, 6, 7]
    assert {r["_change_type"] for r in ch.collect()} == {"insert"}


def test_zorder_clustering_prunes_on_every_dimension(spark, tmp_path):
    """Z-order vs linear clustering on a 2-D grid: linear cluster_by=[x]
    makes x-predicates open ~1 file but y-predicates open ALL files;
    z-order gives BOTH dimensions sub-linear file counts."""
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        plan_scan,
        read_where,
    )

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y"))

    lin = str(tmp_path / "lin")
    commit(grid, lin, partitions=16, cluster_by=["x"])
    zt = str(tmp_path / "zt")
    commit(grid, zt, partitions=16, cluster_by=["x", "y"],
           cluster_mode="zorder")

    def kept(t, col):
        k, total = plan_scan(t, [(col, ">=", 100), (col, "<", 116)])
        assert len(total) == 16
        return len(k)

    assert kept(lin, "x") <= 2          # linear: first key razor-sharp
    assert kept(lin, "y") == 16         # ...second key not at all
    assert kept(zt, "x") <= 10          # z-order: both keys sub-linear
    assert kept(zt, "y") <= 10
    # correctness unaffected by layout
    rows = read_where(spark, zt, [("x", ">=", 100), ("x", "<", 116)]).count()
    assert rows == 16 * 256


def test_expire_vacuums_overwrite_removed_files(spark, tmp_path):
    """After a merge, expire with keep_last=1 must delete the
    pre-merge versions of rewritten files (nothing kept can read
    them), while the merged state stays fully readable."""
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        expire_snapshots,
        merge_upsert,
        read_snapshot,
        snapshot_log,
    )

    t = str(tmp_path / "vac")
    commit(spark.range(100).select(F.col("id"), F.lit(0).alias("v")),
           t, partitions=4, cluster_by=["id"])
    merge_upsert(spark, t,
                 spark.createDataFrame([(3, 7)], "id long, v int"), key="id")
    man = snapshot_log(t)[-1]
    removed = set(man["removed_files"])
    assert removed and all(Path(f).exists() for f in removed)

    out = expire_snapshots(t, keep_last=1)
    assert all(not Path(f).exists() for f in removed)  # vacuumed
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 100 and got[3] == 7 and got[50] == 0
    assert out["deleted_data_dirs"] == 0 or out["deleted_data_dirs"] >= 0


def test_snapshot_merge_model(spark, tmp_path):
    """Model-based check with row-level MERGE in the op mix: appends,
    merges (update+insert), compaction, rollback forks — full reads,
    time travel, and the changelog must agree with a dict model after
    every step."""
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        compact,
        merge_upsert,
        read_changes,
        read_snapshot,
        rollback,
    )

    t = str(tmp_path / "merge_model")
    states: dict[int, dict] = {}  # sid -> {id: v} table state AT sid

    def kv(df):
        return {r["id"]: r["v"] for r in df.collect()}

    def mk(pairs):
        return spark.createDataFrame(list(pairs.items()), "id long, v long")

    cur: dict = {}
    ops = [
        ("append", {i: 0 for i in range(50)}),
        ("merge", {3: 7, 100: 1}),                  # update + insert
        ("merge", {3: 8, 101: 2}),                  # re-update + insert
        ("compact",),
        ("merge", {49: 9, 102: 3}),                 # merge after compact
        ("append", {i: 5 for i in range(200, 210)}),
        ("rollback", 4),                            # back to the compaction
        ("merge", {0: 11, 300: 12}),                # merge on the fork
    ]
    sid = None
    for op in ops:
        if op[0] == "append":
            sid = commit(mk(op[1]), t)
            cur = {**cur, **op[1]}
        elif op[0] == "merge":
            sid = merge_upsert(spark, t, mk(op[1]), key="id")
            cur = {**cur, **op[1]}
        elif op[0] == "compact":
            sid = compact(spark, t)
        else:
            rollback(t, op[1])
            sid = op[1]
            cur = dict(states[sid])
        states[sid] = dict(cur)
        assert kv(read_snapshot(spark, t)) == cur, f"state diverged at {op}"
    # time travel to every recorded snapshot still matches its model
    for s, st in states.items():
        try:
            got = kv(read_snapshot(spark, t, snapshot_id=s))
        except ValueError:
            continue  # orphaned by the rollback fork
        assert got == st
    # changelog over the fork's merge: one delete (old 0) + two inserts
    ch = read_changes(spark, t, from_snapshot=4)
    rows = {(r["id"], r["v"], r["_change_type"]) for r in ch.collect()}
    assert rows == {(0, 0, "delete"), (0, 11, "insert"), (300, 12, "insert")}


def test_compact_with_clustering_restores_pruning(spark, tmp_path):
    """Interleaved commits scatter key ranges (every file overlaps a
    point predicate); compact(cluster_by=...) restores one-file
    point-predicate pruning."""
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        compact,
        plan_scan,
        read_where,
    )

    t = str(tmp_path / "recluster")
    # 4 commits of interleaved ids: every commit spans the whole range
    for r in range(4):
        commit(spark.range(1000).filter(F.col("id") % 4 == r)
               .select(F.col("id"), (F.col("id") * 2).alias("v")), t,
               partitions=2)
    kept0, total0 = plan_scan(t, [("id", "=", 500)])
    assert len(kept0) > 4  # scattered: most files overlap
    compact(spark, t, partitions=8, cluster_by=["id"])
    kept1, total1 = plan_scan(t, [("id", "=", 500)])
    assert len(total1) == 8 and len(kept1) == 1
    assert _ids(read_where(spark, t, [("id", "=", 500)])) == [500]


def test_concurrent_merges_both_land(spark, tmp_path):
    """Two merges racing: the second (planned against the same parent)
    must hit the CAS, re-plan over the first merge's result, and both
    update sets survive — no lost update in either direction."""
    from npm_extraction_server_spark.sources import snapshots as S

    t = str(tmp_path / "mm_race")
    S.commit(spark.range(20).select(
        F.col("id"), F.lit(0).cast("long").alias("v")), t,
        partitions=2, cluster_by=["id"])

    real_commit = S.commit
    raced = {"done": False}

    def racing_commit(df, table, **kw):
        if not raced["done"] and kw.get("operation") == "overwrite":
            raced["done"] = True
            # a full merge_upsert (not just an append) sneaks in first
            S.commit = real_commit
            try:
                S.merge_upsert(
                    spark, table,
                    spark.createDataFrame([(5, 55), (100, 1)],
                                          "id long, v long"), key="id")
            finally:
                S.commit = racing_commit
        return real_commit(df, table, **kw)

    S.commit = racing_commit
    try:
        S.merge_upsert(spark, t,
                       spark.createDataFrame([(7, 77), (200, 2)],
                                             "id long, v long"), key="id")
    finally:
        S.commit = real_commit

    got = {r["id"]: r["v"] for r in S.read_snapshot(spark, t).collect()}
    assert len(got) == 22
    assert got[5] == 55 and got[100] == 1   # first merge survived
    assert got[7] == 77 and got[200] == 2   # second merge re-planned
    assert got[0] == 0                       # untouched rows intact


def test_merge_upsert_rejects_schema_mismatch(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        merge_upsert,
    )

    t = str(tmp_path / "mschema")
    commit(spark.range(5).select(F.col("id"), F.lit(0).alias("v")), t)
    ups = spark.createDataFrame([(1, 1)], "id long, v long")  # int vs long
    with pytest.raises(ValueError, match="schema"):
        merge_upsert(spark, t, ups, key="id")


def test_expired_snapshots_refuse_to_anchor_reads(spark, tmp_path):
    """After expire_snapshots, below-horizon manifests that survive as
    chain-planning fragments are stamped expired and refuse to anchor
    read_snapshot / read_changes / read_incremental / rollback with a
    CLEAR error — never a mid-scan missing-parquet crash (their views
    may reference vacuumed files). The kept head stays fully readable."""
    from npm_extraction_server_spark.sources.snapshots import (
        expire_snapshots,
        merge_upsert,
        read_changes,
    )

    t = str(tmp_path / "exp_anchor")
    commit(spark.range(50).select(F.col("id"), F.lit(0).alias("v")),
           t, partitions=2, cluster_by=["id"])
    s1 = current_snapshot_id(t)
    merge_upsert(spark, t,
                 spark.createDataFrame([(7, 1)], "id long, v int"), key="id")
    s2 = current_snapshot_id(t)
    expire_snapshots(t, keep_last=1)

    # s1 survives as a planning fragment (s2's walk needs it) but is
    # expired: every anchor path refuses it up front
    assert any(m["snapshot_id"] == s1 and m.get("expired")
               for m in snapshot_log(t))
    with pytest.raises(ValueError, match="expired"):
        read_snapshot(spark, t, snapshot_id=s1)
    with pytest.raises(ValueError, match="expired"):
        read_changes(spark, t, from_snapshot=None, to_snapshot=s1)
    with pytest.raises(ValueError, match="expired"):
        read_incremental(spark, t, from_snapshot=0, to_snapshot=s1)
    with pytest.raises(ValueError, match="expired"):
        rollback(t, s1)
    # the kept head is intact
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 50 and got[7] == 1 and got[0] == 0
    assert current_snapshot_id(t) == s2


def test_read_changes_rejects_non_ancestor_past_compaction(spark, tmp_path):
    """Ancestry for the changelog is validated with an explicit parent
    walk: with a compaction in the chain, a from_snapshot orphaned by a
    rollback fork (or a typo id) must raise — not silently emit the
    whole table history."""
    from npm_extraction_server_spark.sources.snapshots import (
        compact,
        read_changes,
    )

    t = str(tmp_path / "cdf_anc")
    commit(spark.range(5).select(F.col("id"), F.lit(0).alias("v")), t)
    s1 = current_snapshot_id(t)
    commit(spark.range(5, 8).select(F.col("id"), F.lit(1).alias("v")), t)
    s2 = current_snapshot_id(t)
    rollback(t, s1)
    commit(spark.range(8, 9).select(F.col("id"), F.lit(2).alias("v")), t)
    compact(spark, t)  # 'replace' sits between CURRENT and the root

    # s2 was orphaned by the rollback: not an ancestor of CURRENT
    with pytest.raises(ValueError, match="not an ancestor"):
        read_changes(spark, t, from_snapshot=s2)
    with pytest.raises(ValueError, match="not an ancestor"):
        read_changes(spark, t, from_snapshot=999)
    # a real ancestor below the compaction still works
    n = read_changes(spark, t, from_snapshot=s1).count()
    assert n == 1  # the fork commit; the compaction itself is no change


def test_merge_upsert_rejects_null_key(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import merge_upsert

    t = str(tmp_path / "mnull")
    commit(spark.range(5).select(F.col("id"), F.lit(0).alias("v")), t)
    ups = spark.createDataFrame([(None, 3)], "id long, v int")
    with pytest.raises(ValueError, match="NULL merge key"):
        merge_upsert(spark, t, ups, key="id")


def test_merge_string_key_byte_order_fast_path(spark, tmp_path):
    """The string-key file-pruning fast path must compare in the SAME
    order the parquet footer stats were computed in — unsigned UTF-8
    bytes — independent of the session's string collation (under
    UTF8_LCASE/ICU collations a plain string `>=` would diverge from
    the stats order and could skip the file holding the key, leaving
    the stale row alongside the insert). merge_upsert therefore
    encodes both sides to BinaryType, which Spark always compares
    bytewise. Exercised with a supplementary-plane key (4-byte UTF-8,
    surrogate pair in UTF-16 — the classic cross-order troublemaker)
    plus an ASCII neighbor."""
    from npm_extraction_server_spark.sources.snapshots import merge_upsert

    t = str(tmp_path / "msupp")
    k_bmp, k_supp = "x", "\U00010000x"
    commit(spark.createDataFrame([(k_bmp, 0), (k_supp, 0)], "k string, v int"),
           t, partitions=1, cluster_by=["k"])
    merge_upsert(spark, t,
                 spark.createDataFrame([(k_supp, 9)], "k string, v int"),
                 key="k")
    rows = read_snapshot(spark, t).collect()
    assert len(rows) == 2  # no stale duplicate of the supplementary key
    got = {r["k"]: r["v"] for r in rows}
    assert got == {k_bmp: 0, k_supp: 9}


def test_expire_deeper_keep_after_expire_stays_sane(spark, tmp_path):
    """A later expire with a DEEPER keep_last than an earlier one must
    not re-adopt an already-expired manifest as an anchor (its files
    may be vacuumed — expiration is permanent): the keep window is
    taken over the still-anchorable chain suffix, the maintenance op
    completes, and the head stays readable."""
    from npm_extraction_server_spark.sources.snapshots import (
        expire_snapshots,
        merge_upsert,
    )

    t = str(tmp_path / "exp_deep")
    commit(spark.range(20).select(F.col("id"), F.lit(0).alias("v")),
           t, partitions=2, cluster_by=["id"])
    s1 = current_snapshot_id(t)
    merge_upsert(spark, t,
                 spark.createDataFrame([(3, 7)], "id long, v int"), key="id")
    expire_snapshots(t, keep_last=1)          # stamps s1 expired
    # deeper window: would previously crash planning s1's view
    out = expire_snapshots(t, keep_last=2)
    assert out["kept"] >= 1
    assert any(m["snapshot_id"] == s1 and m.get("expired")
               for m in snapshot_log(t))      # stays expired, not re-adopted
    with pytest.raises(ValueError, match="expired"):
        read_snapshot(spark, t, snapshot_id=s1)
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 20 and got[3] == 7


# ---------------------------------------------------------------------------
# merge-on-read (rowdelta) snapshots — Iceberg v2-style equality deletes


def test_mor_upsert_rewrites_zero_data_files(spark, tmp_path):
    """The MOR contract itself: an upsert touching a handful of keys
    commits ONLY its own rows + one small delete file — every
    pre-existing data file survives untouched on disk, yet readers see
    the merged state immediately."""
    from npm_extraction_server_spark.sources.snapshots import mor_upsert

    t = str(tmp_path / "mor0")
    commit(spark.range(200).select(F.col("id"), (F.col("id") * 2).alias("v")),
           t, partitions=4, cluster_by=["id"])
    before = {str(p) for p in (tmp_path / "mor0" / "data").rglob("*.parquet")}
    ups = spark.createDataFrame([(3, -1), (150, -2), (500, 9)], "id long, v long")
    mor_upsert(spark, t, ups, key="id")
    man = snapshot_log(t)[-1]
    assert man["operation"] == "rowdelta"
    assert man["delete_key"] == "id" and man["delete_files"]
    assert not man.get("removed_files")
    after = {str(p) for p in (tmp_path / "mor0" / "data").rglob("*.parquet")}
    assert before <= after  # nothing rewritten or removed
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 201
    assert got[3] == -1 and got[150] == -2 and got[500] == 9 and got[4] == 8


def test_mor_own_inserts_not_shadowed_by_own_deletes(spark, tmp_path):
    """Sequence-number semantics: the delete file applies to STRICTLY
    OLDER data files only — the upsert's replacement rows (same keys,
    same snapshot) survive, and a LATER delete does remove them."""
    from npm_extraction_server_spark.sources.snapshots import (
        mor_delete,
        mor_upsert,
    )

    t = str(tmp_path / "mor1")
    commit(spark.range(10).select(F.col("id"), F.lit(0).alias("v")), t)
    mor_upsert(spark, t,
               spark.createDataFrame([(5, 1)], "id long, v int"), key="id")
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert got[5] == 1  # replacement row visible, not self-deleted
    mor_delete(spark, t, spark.createDataFrame([(5,)], "id long"), key="id")
    ids = {r["id"] for r in read_snapshot(spark, t).collect()}
    assert 5 not in ids and len(ids) == 9


def test_mor_compact_folds_deletes_physical(spark, tmp_path):
    """compact() on a table with pending delete files materializes the
    logical state: the replace snapshot has no delete files, reads stay
    identical, and copy-on-write merge_upsert (which refuses pending
    MOR deletes) works again afterwards."""
    from npm_extraction_server_spark.sources.snapshots import (
        compact,
        merge_upsert,
        mor_upsert,
        expire_snapshots,
    )

    t = str(tmp_path / "mor2")
    commit(spark.range(50).select(F.col("id"), F.lit(0).alias("v")),
           t, partitions=2, cluster_by=["id"])
    mor_upsert(spark, t,
               spark.createDataFrame([(7, 1), (99, 2)], "id long, v int"),
               key="id")
    with pytest.raises(ValueError, match="merge-on-read"):
        merge_upsert(spark, t,
                     spark.createDataFrame([(8, 3)], "id long, v int"),
                     key="id")
    compact(spark, t, partitions=2, cluster_by=["id"])
    assert not snapshot_log(t)[-1].get("delete_files")
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 51 and got[7] == 1 and got[99] == 2
    merge_upsert(spark, t,
                 spark.createDataFrame([(8, 3)], "id long, v int"), key="id")
    got = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert got[8] == 3 and got[7] == 1
    # vacuum: the pre-compaction delete files die with their history
    expire_snapshots(t, keep_last=1)
    left = [p.name for p in (tmp_path / "mor2" / "data").rglob("delete-*.parquet")]
    assert left == []


def test_mor_changelog_emits_delete_insert_pairs(spark, tmp_path):
    """read_changes over a rowdelta snapshot: updated keys arrive as
    (delete old row, insert new row); pure inserts arrive alone; a pure
    mor_delete emits deletes only. Delete keys absent from the parent
    state emit nothing."""
    from npm_extraction_server_spark.sources.snapshots import (
        mor_delete,
        mor_upsert,
        read_changes,
    )

    t = str(tmp_path / "mor3")
    s1 = commit(spark.range(20).select(F.col("id"), F.lit(0).alias("v")),
                t, partitions=2, cluster_by=["id"])
    mor_upsert(spark, t,
               spark.createDataFrame([(3, 7), (100, 8)], "id long, v int"),
               key="id")
    s3 = mor_delete(spark, t, spark.createDataFrame([(4,), (555,)], "id long"),
                    key="id")
    ch = {(r["id"], r["v"], r["_change_type"], r["_snapshot_id"])
          for r in read_changes(spark, t, from_snapshot=s1).collect()}
    assert ch == {
        (3, 0, "delete", 2), (3, 7, "insert", 2), (100, 8, "insert", 2),
        (4, 0, "delete", s3),  # 555 never existed -> no delete row
    }


def test_mor_incremental_refuses_and_validations(spark, tmp_path):
    """read_incremental refuses a rowdelta range (row-level change, not
    an append); NULL/duplicate update keys and NULL delete keys are
    rejected up front."""
    from npm_extraction_server_spark.sources.snapshots import (
        mor_delete,
        mor_upsert,
    )

    t = str(tmp_path / "mor4")
    s1 = commit(spark.range(10).select(F.col("id"), F.lit(0).alias("v")), t)
    with pytest.raises(ValueError, match="duplicate"):
        mor_upsert(spark, t,
                   spark.createDataFrame([(1, 1), (1, 2)], "id long, v int"),
                   key="id")
    with pytest.raises(ValueError, match="NULL"):
        mor_upsert(spark, t,
                   spark.createDataFrame([(None, 1)], "id long, v int"),
                   key="id")
    with pytest.raises(ValueError, match="NULL"):
        mor_delete(spark, t, spark.createDataFrame([(None,)], "id long"),
                   key="id")
    mor_upsert(spark, t,
               spark.createDataFrame([(1, 1)], "id long, v int"), key="id")
    with pytest.raises(ValueError, match="rowdelta"):
        read_incremental(spark, t, s1).count()


def test_snapshot_mor_model(spark, tmp_path):
    """Model-based check with merge-on-read ops in the mix: appends,
    mor upserts/deletes, CoW merges (after compaction), compaction,
    rollback forks — full reads and time travel must agree with a dict
    model after every step."""
    from npm_extraction_server_spark.sources.snapshots import (
        compact,
        merge_upsert,
        mor_delete,
        mor_upsert,
        rollback,
    )

    t = str(tmp_path / "mor_model")
    states: dict[int, dict] = {}

    def kv(df):
        return {r["id"]: r["v"] for r in df.collect()}

    def mk(pairs):
        return spark.createDataFrame(list(pairs.items()), "id long, v long")

    cur: dict = {}
    ops = [
        ("append", {i: 0 for i in range(40)}),
        ("mor_upsert", {3: 7, 100: 1}),
        ("mor_upsert", {3: 8, 101: 2}),       # re-update over a pending delete
        ("mor_delete", [10, 11, 999]),        # 999 never existed
        ("compact",),
        ("merge", {49: 9, 102: 3}),           # CoW works after the fold
        ("mor_upsert", {102: 4, 200: 5}),     # MOR over a CoW overwrite
        ("rollback", 5),                      # back to the compaction
        ("mor_delete", [0, 1]),               # delete on the fork
    ]
    sid = None
    for op in ops:
        if op[0] == "append":
            sid = commit(mk(op[1]), t)
            cur = {**cur, **op[1]}
        elif op[0] == "mor_upsert":
            sid = mor_upsert(spark, t, mk(op[1]), key="id")
            cur = {**cur, **op[1]}
        elif op[0] == "mor_delete":
            sid = mor_delete(
                spark, t,
                spark.createDataFrame([(k,) for k in op[1]], "id long"),
                key="id")
            cur = {k: v for k, v in cur.items() if k not in set(op[1])}
        elif op[0] == "merge":
            sid = merge_upsert(spark, t, mk(op[1]), key="id")
            cur = {**cur, **op[1]}
        elif op[0] == "compact":
            sid = compact(spark, t)
        else:
            rollback(t, op[1])
            sid = op[1]
            cur = dict(states[sid])
        states[sid] = dict(cur)
        assert kv(read_snapshot(spark, t)) == cur, f"state diverged at {op}"
    for s, st in states.items():
        try:
            got = kv(read_snapshot(spark, t, snapshot_id=s))
        except ValueError:
            continue  # orphaned by the rollback fork
        assert got == st


# ---------------------------------------------------------------------------
# hidden partitioning (Iceberg partition transforms)


def test_hidden_partitioning_day_transform_prunes_and_hides(spark, tmp_path):
    """A day(ts)-partitioned table: readers never see the derived
    column, a ts-window predicate on the SOURCE column prunes to the
    window's files (the 'hidden' contract — queries mention only raw
    columns), and results equal a plain filter."""
    from npm_extraction_server_spark.sources.snapshots import (
        plan_scan,
        read_where,
    )

    t = str(tmp_path / "hp_day")
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("event_id", "ts", "user_id"))
    commit(ev, t, partitions=8, partition_spec=[("day", "ts")])
    df = read_snapshot(spark, t)
    assert not [c for c in df.columns if c.startswith("__p_")]
    import datetime

    preds = [("ts", ">=", datetime.datetime(2024, 1, 10)),
             ("ts", "<", datetime.datetime(2024, 1, 12))]
    kept, total = plan_scan(t, preds)
    assert 0 < len(kept) < len(total), (len(kept), len(total))
    want = sorted(r["event_id"] for r in ev.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-12")).collect())
    got = sorted(r["event_id"] for r in read_where(spark, t, preds).collect())
    assert got == want


def test_hidden_partitioning_bucket_point_lookup(spark, tmp_path):
    """bucket(doc_id, 8): an equality predicate on the source column
    rewrites to the sha256-derived bucket id (driver and executors
    compute the same hash), pruning to ~1/8 of the files."""
    from npm_extraction_server_spark.sources.snapshots import (
        plan_scan,
        read_where,
    )

    t = str(tmp_path / "hp_bucket")
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "lang"))
    commit(docs, t, partitions=8, partition_spec=[("bucket", "doc_id", 8)])
    kept, total = plan_scan(t, [("doc_id", "=", 123)])
    assert 0 < len(kept) < len(total)
    rows = read_where(spark, t, [("doc_id", "=", 123)]).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 123
    # a range predicate must NOT rewrite through the hash (order-destroying)
    kept_rng, total_rng = plan_scan(t, [("doc_id", ">=", 0)])
    assert len(kept_rng) == len(total_rng)


def test_hidden_partitioning_spec_lifecycle(spark, tmp_path):
    """The spec is set at table creation, inherited by appends and
    merges, changeable only via a replace (compaction under the new
    layout), and every write path keeps results correct."""
    from npm_extraction_server_spark.sources.snapshots import (
        compact,
        merge_upsert,
        mor_upsert,
        plan_scan,
        snapshot_log,
    )

    t = str(tmp_path / "hp_life")
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "lang"))
    commit(docs, t, partitions=4, partition_spec=[("truncate", "doc_id", 100)])
    commit(docs.filter("doc_id < 5").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "lang"), t)
    assert snapshot_log(t)[-1]["partition_spec"] == [["truncate", "doc_id", 100]]
    with pytest.raises(ValueError, match="replace"):
        commit(docs, t, partition_spec=[("bucket", "doc_id", 4)])
    merge_upsert(spark, t, docs.filter("doc_id < 3").select(
        "doc_id", F.lit("xx").alias("lang")), key="doc_id")
    mor_upsert(spark, t, docs.filter("doc_id = 7").select(
        "doc_id", F.lit("yy").alias("lang")), key="doc_id")
    got = {r["doc_id"]: r["lang"] for r in read_snapshot(spark, t).collect()}
    assert got[0] == "xx" and got[7] == "yy" and 100003 in got
    compact(spark, t, partitions=4, partition_spec=[("bucket", "doc_id", 4)])
    assert snapshot_log(t)[-1]["partition_spec"] == [["bucket", "doc_id", 4]]
    kept, total = plan_scan(t, [("doc_id", "=", 7)])
    assert 0 < len(kept) < len(total)
    got2 = {r["doc_id"]: r["lang"] for r in read_snapshot(spark, t).collect()}
    assert got2 == got  # respec is layout-only


# ---------------- schema evolution (field-id based) ----------------


def test_evolve_add_rename_drop_no_rewrite(spark, tmp_path):
    """add/rename/drop are metadata-only: the data-file set is
    untouched; old files read through the rename by FIELD ID, added
    columns are NULL in pre-evolve rows, dropped columns vanish."""
    from npm_extraction_server_spark.sources.snapshots import evolve_schema

    t = str(tmp_path / "tbl")
    df = spark.range(5).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.lit("x").alias("junk"))
    commit(df, t)
    files_before = sorted(
        str(p) for p in Path(t).glob("data/snap-*/part-*.parquet"))

    evolve_schema(t, add=[("score", "double")],
                  rename={"v": "value"}, drop=["junk"])

    files_after = sorted(
        str(p) for p in Path(t).glob("data/snap-*/part-*.parquet"))
    assert files_after == files_before  # metadata-only DDL

    out = read_snapshot(spark, t)
    assert sorted(out.columns) == ["id", "score", "value"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[3]["value"] == 6 and rows[3]["score"] is None

    # post-evolve append in the new schema mixes transparently
    commit(spark.createDataFrame([(100, 200, 0.5)],
                                 "id long, value long, score double"), t)
    out = {r["id"]: r for r in read_snapshot(spark, t).collect()}
    assert out[100]["score"] == 0.5 and out[2]["value"] == 4


def test_evolve_time_travel_uses_schema_at_snapshot(spark, tmp_path):
    """Reading an old snapshot id shows the schema AS OF then
    (Iceberg time-travel semantics: a snapshot pins its schema)."""
    from npm_extraction_server_spark.sources.snapshots import evolve_schema

    t = str(tmp_path / "tbl")
    commit(spark.range(3).select("id", F.col("id").alias("v")), t)
    pre = current_snapshot_id(t)
    evolve_schema(t, rename={"v": "value"})
    assert sorted(read_snapshot(spark, t, pre).columns) == ["id", "v"]
    assert sorted(read_snapshot(spark, t).columns) == ["id", "value"]


def test_evolve_readd_same_name_does_not_resurrect(spark, tmp_path):
    """Drop a column, re-add the SAME name: the new field gets a fresh
    id, so old files' bytes for the dead field stay invisible — the
    classic correctness property the id-based model exists for."""
    from npm_extraction_server_spark.sources.snapshots import evolve_schema

    t = str(tmp_path / "tbl")
    commit(spark.range(4).select("id", (F.col("id") + 7).alias("v")), t)
    evolve_schema(t, drop=["v"])
    evolve_schema(t, add=[("v", "bigint")])
    rows = {r["id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert rows == {0: None, 1: None, 2: None, 3: None}


def test_evolve_incremental_and_changelog_project(spark, tmp_path):
    """read_incremental and read_changes spanning an evolve emit every
    row in the CURRENT schema (per-file era projection)."""
    from npm_extraction_server_spark.sources.snapshots import (
        evolve_schema,
        read_changes,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(1).select("id", F.col("id").alias("v")), t)
    s0 = current_snapshot_id(t)
    commit(spark.range(1, 3).select("id", F.col("id").alias("v")), t)
    s1 = current_snapshot_id(t)
    evolve_schema(t, rename={"v": "value"}, add=[("w", "bigint")])
    commit(spark.createDataFrame([(10, 11, 12)],
                                 "id long, value long, w long"), t)

    inc = read_incremental(spark, t, from_snapshot=s0)
    assert sorted(inc.columns) == ["id", "value", "w"]
    assert _ids(inc) == [1, 2, 10]

    ch = read_changes(spark, t, from_snapshot=s0)
    got = {(r["id"], r["value"], r["w"], r["_change_type"])
           for r in ch.collect()}
    assert (10, 11, 12, "insert") in got and (1, 1, None, "insert") in got
    # range strictly above the evolve still works
    assert _ids(read_changes(spark, t, from_snapshot=s1)) == [10]


def test_evolve_stats_pruning_translates_names(spark, tmp_path):
    """read_where on a renamed column still prunes files via the
    era-name stats; a predicate on an ADDED column prunes every
    pre-evolve file outright (provably all-NULL there)."""
    from npm_extraction_server_spark.sources.snapshots import (
        evolve_schema,
        plan_scan,
        read_where,
    )

    t = str(tmp_path / "tbl")
    ids = spark.range(100).select("id", (F.col("id") * 3).alias("v"))
    commit(ids, t, partitions=4, cluster_by=["v"])
    evolve_schema(t, rename={"v": "val"}, add=[("score", "bigint")])
    commit(spark.createDataFrame([(1000, 3000, 5)],
                                 "id long, val long, score long"), t)

    kept, total = plan_scan(t, [("val", "=", 150)])
    assert 0 < len(kept) < len(total)
    got = read_where(spark, t, [("val", "=", 150)]).collect()
    assert [(r["id"], r["val"]) for r in got] == [(50, 150)]

    # predicate on the added column: only the post-evolve file survives
    kept2, _ = plan_scan(t, [("score", "=", 5)])
    assert len(kept2) == 1
    assert _ids(read_where(spark, t, [("score", "=", 5)])) == [1000]


def test_evolve_merge_upsert_across_rename(spark, tmp_path):
    """Copy-on-write MERGE after a rename: old-era files lack stats
    under the current key name, so they are conservatively rewritten —
    and the rewrite projects them to the current schema first."""
    from npm_extraction_server_spark.sources.snapshots import (
        evolve_schema,
        merge_upsert,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(20).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v")), t)
    evolve_schema(t, rename={"k": "key_id"})
    upd = spark.createDataFrame([(5, 999)], "key_id long, v long")
    merge_upsert(spark, t, upd, key="key_id")
    rows = {r["key_id"]: r["v"] for r in read_snapshot(spark, t).collect()}
    assert rows[5] == 999 and rows[6] == 12 and len(rows) == 20


def test_evolve_guards(spark, tmp_path):
    """Rejected evolutions: unknown columns, duplicate result names,
    hidden partition columns, partition-spec sources, live MOR delete
    keys; CAS conflict on expected_parent."""
    from npm_extraction_server_spark.sources.snapshots import (
        CommitConflict,
        evolve_schema,
        mor_delete,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(10).select("id", F.col("id").alias("v"),
                                  (F.col("id") % 3).alias("g")), t,
           partitions=2, partition_spec=[["identity", "g"]])

    with pytest.raises(ValueError, match="no such column"):
        evolve_schema(t, drop=["nope"])
    with pytest.raises(ValueError, match="duplicate column"):
        evolve_schema(t, rename={"v": "id"})
    with pytest.raises(ValueError, match="hidden partition"):
        evolve_schema(t, drop=["__p_identity_g"])
    with pytest.raises(ValueError, match="partition-spec source"):
        evolve_schema(t, rename={"g": "grp"})
    with pytest.raises(ValueError, match="nothing to do"):
        evolve_schema(t)
    with pytest.raises(CommitConflict):
        evolve_schema(t, add=[("x", "int")], expected_parent=99)

    # live-MOR delete-key guard (plain table: spec-less rowdelta)
    t2 = str(tmp_path / "tbl2")
    commit(spark.range(10).select("id", F.col("id").alias("v")), t2)
    mor_delete(spark, t2, spark.createDataFrame([(3,)], "id long"), key="id")
    with pytest.raises(ValueError, match="delete keys of live"):
        evolve_schema(t2, rename={"id": "ident"})
    # a non-key column still evolves fine next to live deletes
    evolve_schema(t2, rename={"v": "val"})
    rows = {r["id"]: r["val"] for r in read_snapshot(spark, t2).collect()}
    assert 3 not in rows and rows[4] == 4


# ------------------- refs: branches, tags, WAP ---------------------


def test_write_audit_publish_flow(spark, tmp_path):
    """WAP: staged commits land on the audit branch only (CURRENT
    readers never see them), validation reads the branch by ref, and
    fast_forward publishes atomically."""
    from npm_extraction_server_spark.sources.snapshots import (
        create_branch,
        fast_forward,
        list_refs,
        ref_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(10).select("id"), t)
    create_branch(t, "audit")
    commit(spark.range(10, 15).select("id"), t, branch="audit")
    commit(spark.range(15, 18).select("id"), t, branch="audit")

    # main line unchanged; branch sees staged rows
    assert _ids(read_snapshot(spark, t)) == list(range(10))
    staged = read_snapshot(spark, t, ref_snapshot(t, "audit"))
    assert _ids(staged) == list(range(18))
    assert list_refs(t)["audit"]["kind"] == "branch"

    published = fast_forward(t, "audit")
    assert current_snapshot_id(t) == published
    assert _ids(read_snapshot(spark, t)) == list(range(18))


def test_fast_forward_refuses_diverged_main(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        create_branch,
        fast_forward,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(5).select("id"), t)
    create_branch(t, "audit")
    commit(spark.range(5, 8).select("id"), t, branch="audit")
    commit(spark.range(100, 103).select("id"), t)  # main diverges
    with pytest.raises(ValueError, match="not an ancestor"):
        fast_forward(t, "audit")
    # main kept its own commit
    assert _ids(read_snapshot(spark, t)) == [0, 1, 2, 3, 4, 100, 101, 102]


def test_tags_pin_and_are_immutable(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        create_tag,
        drop_ref,
        ref_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(5).select("id"), t)
    create_tag(t, "v1")
    commit(spark.range(5, 9).select("id"), t)
    assert _ids(read_snapshot(spark, t, ref_snapshot(t, "v1"))) == \
        list(range(5))
    with pytest.raises(ValueError, match="is a tag"):
        commit(spark.range(9, 10).select("id"), t, branch="v1")
    with pytest.raises(ValueError, match="already exists"):
        create_tag(t, "v1")
    drop_ref(t, "v1")
    with pytest.raises(ValueError, match="no ref"):
        ref_snapshot(t, "v1")


def test_expire_keeps_ref_closures_and_vacuums_dropped_branch(
        spark, tmp_path):
    """A tag's read closure survives expire_snapshots(keep_last=1);
    a dropped audit branch's fork data is vacuumed."""
    from npm_extraction_server_spark.sources.snapshots import (
        create_branch,
        create_tag,
        drop_ref,
        expire_snapshots,
        ref_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(5).select("id"), t)
    create_tag(t, "v1")
    create_branch(t, "audit")
    commit(spark.range(50, 60).select("id"), t, branch="audit")
    commit(spark.range(5, 9).select("id"), t)
    commit(spark.range(9, 12).select("id"), t)

    expire_snapshots(t, keep_last=1)
    # tag still readable after the vacuum
    assert _ids(read_snapshot(spark, t, ref_snapshot(t, "v1"))) == \
        list(range(5))
    # branch fork survived too
    branch_head = ref_snapshot(t, "audit")
    assert 50 in _ids(read_snapshot(spark, t, branch_head))

    drop_ref(t, "audit")
    expire_snapshots(t, keep_last=1)
    man_ids = {int(p.stem.split("-")[1])
               for p in (Path(t) / "meta").glob("snap-*.json")}
    assert ref_snapshot(t, "v1") in man_ids  # tag closure still here
    assert branch_head not in man_ids  # dropped fork vacuumed
    assert _ids(read_snapshot(spark, t)) == list(range(12))


def test_branch_commit_cas(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        CommitConflict,
        create_branch,
        ref_snapshot,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(3).select("id"), t)
    create_branch(t, "b")
    base = ref_snapshot(t, "b")
    commit(spark.range(3, 5).select("id"), t, branch="b",
           expected_parent=base)
    with pytest.raises(CommitConflict):
        commit(spark.range(5, 6).select("id"), t, branch="b",
               expected_parent=base)


# ---------------- positional (file, pos) MOR deletes ----------------


def test_mor_delete_where_positional(spark, tmp_path):
    """mor_delete_where: a predicate delete commits only (file, pos)
    coordinates — zero data files rewritten — and readers hide exactly
    the matching rows; compact() makes it physical."""
    from npm_extraction_server_spark.sources.snapshots import (
        compact,
        mor_delete_where,
        snapshot_log,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(100).select("id", (F.col("id") * 2).alias("v")), t,
           partitions=4, cluster_by=["id"])
    files_before = sorted(
        str(p) for p in Path(t).glob("data/snap-*/part-*.parquet"))

    sid = mor_delete_where(spark, t, [("id", ">=", 20), ("id", "<", 30)])
    man = snapshot_log(t)[-1]
    assert man["snapshot_id"] == sid
    assert man["operation"] == "rowdelta" and man["added_rows"] == 0
    assert man.get("pos_delete_files") and not man.get("delete_files")
    import pyarrow.parquet as pq

    files_after = sorted(
        str(p) for p in Path(t).glob("data/snap-*/part-*.parquet"))
    assert set(files_before) <= set(files_after)  # originals untouched
    for f in set(files_after) - set(files_before):
        assert pq.ParquetFile(f).metadata.num_rows == 0  # empty stub only

    got = _ids(read_snapshot(spark, t))
    assert got == [i for i in range(100) if not (20 <= i < 30)]

    # no-match predicates commit nothing
    assert mor_delete_where(spark, t, [("id", ">=", 10**6)]) == sid

    compact(spark, t)
    assert _ids(read_snapshot(spark, t)) == got


def test_mor_delete_where_changelog_and_incremental_refusal(
        spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        mor_delete_where,
        read_changes,
    )

    t = str(tmp_path / "tbl")
    s1 = commit(spark.range(10).select("id"), t)
    mor_delete_where(spark, t, [("id", "=", 3)])
    ch = read_changes(spark, t, from_snapshot=s1).collect()
    assert [(r["id"], r["_change_type"]) for r in ch] == [(3, "delete")]
    with pytest.raises(ValueError, match="row-level rowdelta"):
        read_incremental(spark, t, from_snapshot=s1)


def test_mor_delete_where_across_schema_evolution(spark, tmp_path):
    """Predicates use CURRENT column names; coordinates land on
    old-era files through the per-era projection."""
    from npm_extraction_server_spark.sources.snapshots import (
        evolve_schema,
        mor_delete_where,
    )

    t = str(tmp_path / "tbl")
    commit(spark.range(10).select("id", (F.col("id") * 3).alias("v")), t)
    evolve_schema(t, rename={"v": "val"})
    mor_delete_where(spark, t, [("val", "=", 9)])
    rows = {r["id"]: r["val"] for r in read_snapshot(spark, t).collect()}
    assert 3 not in rows and len(rows) == 9


def test_snapshot_as_of_timestamp(spark, tmp_path):
    """AS OF TIMESTAMP resolves the newest snapshot committed at or
    before ts, lands on the schema in force then (evolve commits are
    timestamped too), and raises before the first commit."""
    import json as jsonlib

    from npm_extraction_server_spark.sources.snapshots import (
        evolve_schema,
        snapshot_as_of,
    )

    t = str(tmp_path / "tbl")
    s1 = commit(spark.range(3).select("id", F.col("id").alias("v")), t)
    s2 = commit(spark.range(3, 6).select("id", F.col("id").alias("v")), t)
    s3 = evolve_schema(t, rename={"v": "val"})

    # pin deterministic commit times by editing the manifests
    meta = Path(t) / "meta"
    for sid, at in ((s1, 100.0), (s2, 200.0), (s3, 300.0)):
        p = meta / f"snap-{sid}.json"
        man = jsonlib.loads(p.read_text())
        man["committed_at"] = at
        p.write_text(jsonlib.dumps(man))

    assert snapshot_as_of(t, 150.0) == s1
    assert snapshot_as_of(t, 200.0) == s2
    assert snapshot_as_of(t, 1e12) == s3
    assert sorted(read_snapshot(spark, t,
                                snapshot_as_of(t, 250.0)).columns) == \
        ["id", "v"]       # pre-DDL view
    assert sorted(read_snapshot(spark, t,
                                snapshot_as_of(t, 350.0)).columns) == \
        ["id", "val"]     # post-DDL view
    with pytest.raises(ValueError, match="at or before"):
        snapshot_as_of(t, 50.0)


def test_mor_delete_where_idempotent_and_cdc_clean(spark, tmp_path):
    """Repeating the same predicate delete is a no-op (already-hidden
    rows are never re-recorded), and the changelog carries each
    deleted row exactly once — also across an equality delete hiding
    part of the predicate range first."""
    from npm_extraction_server_spark.sources.snapshots import (
        mor_delete,
        mor_delete_where,
        read_changes,
    )

    t = str(tmp_path / "tbl")
    s1 = commit(spark.range(20).select("id"), t)
    # equality-delete ids 5,6 first
    mor_delete(spark, t, spark.createDataFrame([(5,), (6,)], "id long"),
               key="id")
    # predicate delete overlapping the equality-deleted range
    sid = mor_delete_where(spark, t, [("id", ">=", 4), ("id", "<", 8)])
    assert _ids(read_snapshot(spark, t)) == [0, 1, 2, 3] + list(range(8, 20))
    # repeat: nothing live matches -> no new snapshot
    assert mor_delete_where(spark, t, [("id", ">=", 4), ("id", "<", 8)]) == sid
    # CDC: ids 4 and 7 deleted by the positional commit (5,6 belong to
    # the equality commit), each exactly once
    ch = read_changes(spark, t, from_snapshot=s1)
    got = sorted((r["id"], r["_change_type"], r["_snapshot_id"])
                 for r in ch.collect())
    pos_dels = [(i, c) for i, c, s in got if s == sid]
    assert pos_dels == [(4, "delete"), (7, "delete")]
    assert [(i, c) for i, c, s in got if s != sid] == [(5, "delete"),
                                                      (6, "delete")]


def test_agg_view_incremental_equals_recompute(spark, tmp_path):
    """Incrementally-maintained aggregate view: after an append, a
    copy-on-write merge (update+insert), and a key delete, chained
    refreshes must equal a from-scratch recompute; groups whose count
    reaches 0 drop out; a same-snapshot refresh is a no-op; spec/
    validation errors raise."""
    from npm_extraction_server_spark.plans.views import (
        create_agg_view,
        read_view,
        refresh_agg_view,
    )
    from npm_extraction_server_spark.sources.snapshots import merge_upsert, mor_delete

    t = str(tmp_path / "base")
    v = str(tmp_path / "view")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).alias("g"), (F.col("id") * 3).alias("x"))
    commit(df.filter("id < 20"), t)
    sid = create_agg_view(spark, t, v, group_by=["g"], sums={"sx": "x"})
    assert sid == current_snapshot_id(t)

    def check():
        got = {(r.g): (r.n_rows, r.sx) for r in read_view(spark, v).collect()}
        exp = {(r.g): (r.n_rows, r.sx)
               for r in read_snapshot(spark, t).groupBy("g")
               .agg(F.count("*").alias("n_rows"), F.sum("x").alias("sx"))
               .collect()}
        assert got == exp, (got, exp)

    # append
    commit(df.filter("id >= 20"), t)
    s1 = refresh_agg_view(spark, t, v)
    assert s1["change_rows"] == 20
    check()

    # copy-on-write merge: update 5 rows, insert 3 new
    updates = (df.filter("id < 5").select("id", "g", (F.col("x") + 100).alias("x"))
               .unionByName(spark.range(3).select(
                   (F.col("id") + 1000).alias("id"), F.lit(9).alias("g"),
                   F.lit(7).alias("x"))))
    merge_upsert(spark, t, updates, key="id")
    refresh_agg_view(spark, t, v)
    check()

    # delete the whole g=9 group -> it must vanish from the view
    mor_delete(spark, t, spark.range(3).select((F.col("id") + 1000).alias("id")),
               key="id")
    refresh_agg_view(spark, t, v)
    check()
    assert 9 not in {r.g for r in read_view(spark, v).collect()}

    # no-op refresh at the same snapshot
    assert refresh_agg_view(spark, t, v)["change_rows"] == 0

    with pytest.raises(ValueError, match="maintains"):
        refresh_agg_view(spark, str(tmp_path / "other"), v)
    with pytest.raises(ValueError, match="reserved"):
        create_agg_view(spark, t, str(tmp_path / "v2"),
                        group_by=["g"], sums={"n_rows": "x"})
    with pytest.raises(ValueError, match="empty group_by"):
        create_agg_view(spark, t, str(tmp_path / "v3"), group_by=[])


def test_agg_view_null_group_key_folds(spark, tmp_path):
    """A NULL group key is ONE group (SQL GROUP BY semantics): the
    refresh merge must fold the delta into the stored NULL-key row,
    not emit a stale row plus a delta row."""
    from npm_extraction_server_spark.plans.views import (
        create_agg_view,
        read_view,
        refresh_agg_view,
    )

    t = str(tmp_path / "base")
    v = str(tmp_path / "view")
    df = spark.createDataFrame(
        [(1, None, 10), (2, None, 20), (3, "a", 5)],
        "id long, g string, x long")
    commit(df, t)
    create_agg_view(spark, t, v, group_by=["g"], sums={"sx": "x"})
    commit(spark.createDataFrame([(4, None, 7), (5, "a", 1)],
                                 "id long, g string, x long"), t)
    refresh_agg_view(spark, t, v)
    rows = {r.g: (r.n_rows, r.sx) for r in read_view(spark, v).collect()}
    assert rows == {None: (3, 37), "a": (2, 6)}
    assert len(read_view(spark, v).collect()) == 2


def test_agg_view_republish_and_legacy_spec(spark, tmp_path):
    """Re-creating a view at the same base snapshot never clobbers the
    live data dir in place (readable throughout, exactly one data dir
    after); legacy specs without a 'data' key fall back to
    data.parquet; strand data dirs are swept on the next publish."""
    import json as _json
    from pathlib import Path

    from npm_extraction_server_spark.plans.views import (
        create_agg_view,
        read_view,
    )

    t = str(tmp_path / "base")
    v = str(tmp_path / "view")
    df = spark.range(10).select(F.col("id"), (F.col("id") % 2).alias("g"),
                                F.col("id").alias("x"))
    commit(df, t)
    create_agg_view(spark, t, v, group_by=["g"], sums={"sx": "x"})
    first = {r.g: r.sx for r in read_view(spark, v).collect()}
    # plant a strand from a hypothetical crashed publish
    strand = Path(v) / "data-99-deadbeef.parquet"
    strand.mkdir()
    create_agg_view(spark, t, v, group_by=["g"], sums={"sx": "x"})
    assert {r.g: r.sx for r in read_view(spark, v).collect()} == first
    dirs = [p.name for p in Path(v).glob("data-*")]
    assert len(dirs) == 1 and not strand.exists()

    # legacy layout: data.parquet + spec without 'data'
    lv = tmp_path / "legacy_view"
    lv.mkdir()
    read_view(spark, v).write.parquet(str(lv / "data.parquet"))
    (lv / "view.json").write_text(_json.dumps(
        {"table": t, "group_by": ["g"], "sums": {"sx": "x"}, "as_of": 1}))
    assert {r.g: r.sx
            for r in read_view(spark, str(lv)).collect()} == first


def test_snapshot_row_count_metadata_only(spark, tmp_path):
    """snapshot_row_count: footer-sum equals the real count across
    append / overwrite-merge / replace chains, runs NO Spark job,
    honestly returns None while MOR deletes are in view, and recovers
    after compact makes them physical."""
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        compact,
        merge_upsert,
        mor_delete,
        read_snapshot,
        snapshot_row_count,
    )

    t = str(tmp_path / "cnt")
    docs = spark.range(300).selectExpr("id", "id % 7 AS grp")
    commit(docs, t, partitions=4, cluster_by=["id"])
    commit(spark.range(300, 420).selectExpr("id", "id % 7 AS grp"), t,
           partitions=2)

    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    n = snapshot_row_count(t)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert n == 420 and len(after) == len(before)  # no Spark job ran

    # copy-on-write merge (update + insert) stays countable
    merge_upsert(spark, t,
                 spark.range(400, 440).selectExpr("id", "id % 7 AS grp"),
                 key="id")
    assert snapshot_row_count(t) == 440
    assert snapshot_row_count(t) == read_snapshot(spark, t).count()

    # MOR delete: honest None; compaction restores the fast path
    mor_delete(spark, t, spark.range(10), key="id")
    assert snapshot_row_count(t) is None
    compact(spark, t, partitions=2)
    assert snapshot_row_count(t) == 430


def test_metadata_tables_surface(spark, tmp_path):
    """snapshots_table / files_table: the $snapshots / $files
    metadata surface — chain bookkeeping row-for-row, live file set
    by kind with footer row counts, time travel to an older snapshot,
    and a compaction chain cut (replace resets the live set)."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        compact,
        files_table,
        mor_delete,
        snapshots_table,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"))
    t = str(tmp_path / "meta_tbl")
    s1 = commit(docs, t, partitions=4, cluster_by=["doc_id"])
    commit(docs.filter(F.col("doc_id") < 50), t, partitions=1,
           cluster_by=["doc_id"])
    mor_delete(spark, t, docs.filter(F.col("doc_id") % 10 == 0)
               .select("doc_id"), key="doc_id")

    snaps = snapshots_table(spark, t).collect()
    assert [r.operation for r in snaps] == ["append", "append", "rowdelta"]
    assert [r.n_added_rows for r in snaps] == [200, 50, 0]
    assert [r.parent_id for r in snaps] == [None, s1, s1 + 1]
    assert snaps[2].n_delete_files == 1

    files = files_table(spark, t).collect()
    by_kind = {}
    for r in files:
        by_kind.setdefault(r.kind, []).append(r)
    assert sum(r.n_rows for r in by_kind["data"]) == 250
    assert len(by_kind["eq_delete"]) == 1
    assert by_kind["eq_delete"][0].n_rows == 20
    # time travel: the first snapshot's view is just its 4 data files
    f1 = files_table(spark, t, snapshot_id=s1).collect()
    assert {r.kind for r in f1} == {"data"}
    assert sum(r.n_rows for r in f1) == 200

    # compaction cuts the chain: one replace group, no delete files
    compact(spark, t)
    fc = files_table(spark, t).collect()
    assert {r.kind for r in fc} == {"data"}
    # 250 rows minus the 25 deleted keys (20 in the first commit's
    # copy, 5 in the 50-row re-append)
    assert sum(r.n_rows for r in fc) == 225


def test_diff_refs_multiset_and_direction(spark, tmp_path):
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        create_branch,
        diff_refs,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")],
                               "k long, s string")
    commit(df, t, partitions=1)
    create_branch(t, "aud")
    # main diverges: add one row and one EXTRA duplicate of (2,b)
    commit(spark.createDataFrame([(3, "c"), (2, "b")], "k long, s string"),
           t)
    out = [(r.op, r.k, r.s) for r in diff_refs(spark, t, None, "aud").collect()]
    assert sorted(out) == [("added", 2, "b"), ("added", 3, "c")]
    # reversed anchors flip the direction
    rev = [(r.op, r.k, r.s)
           for r in diff_refs(spark, t, "aud", None).collect()]
    assert sorted(rev) == [("removed", 2, "b"), ("removed", 3, "c")]


def test_every_reader_sees_the_same_view(spark, tmp_path):
    """plan_scan, files_table, read_snapshot and snapshot_row_count
    read one view: after each kind of commit they name the same files,
    and the metadata-only row count is withheld exactly while delete
    files are in view."""
    from pathlib import PurePath

    from npm_extraction_server_spark.sources.snapshots import (
        compact,
        evolve_schema,
        files_table,
        merge_upsert,
        mor_delete,
        plan_scan,
        snapshot_row_count,
    )

    t = str(tmp_path / "views")

    def check(has_deletes):
        planned = sorted(PurePath(f).name for f in plan_scan(t, [])[1])
        rows = files_table(spark, t).collect()
        listed = sorted(r["file_name"] for r in rows if r["kind"] == "data")
        read = sorted(PurePath(f).name
                      for f in read_snapshot(spark, t).inputFiles())
        assert planned == listed
        # the read opens the view's data files plus its delete files
        assert read == sorted(r["file_name"] for r in rows)
        assert any(r["kind"] != "data" for r in rows) == has_deletes
        assert (snapshot_row_count(t) is None) == has_deletes

    commit(spark.range(20).select(F.col("id"), F.lit(0).alias("v")), t,
           partitions=2, cluster_by=["id"])
    check(False)
    merge_upsert(spark, t, spark.createDataFrame([(3, 1), (25, 2)],
                                                 "id long, v int"), key="id")
    assert snapshot_log(t)[-1]["removed_files"]
    check(False)
    mor_delete(spark, t, spark.createDataFrame([(4,)], "id long"), key="id")
    check(True)
    evolve_schema(t, rename={"v": "w"})
    check(True)
    compact(spark, t)
    check(False)
    commit(spark.createDataFrame([(30, 5)], "id long, w int"), t)
    check(False)
    got = {r["id"]: r["w"] for r in read_snapshot(spark, t).collect()}
    assert len(got) == 21 and 4 not in got
    assert got[3] == 1 and got[25] == 2 and got[30] == 5

"""Physical-plan regression tests: the optimizations PLANS.md documents
must survive refactors — pushdown reaching the scan, zero-shuffle hot
path, broadcast sides on the bounded sets."""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_filter_pushdown(spark):
    from npm_extraction_server_spark.operators.suite import sc1_scan_filter

    plan = _plan(sc1_scan_filter(spark, SF))
    assert "PushedFilters" in plan and "GreaterThan(n_chars,200)" in plan
    # column pruning: text (the widest column) must not be read
    assert "text" not in plan.split("ReadSchema")[1][:300]


def test_fused_pipeline_has_no_exchange(spark):
    """The north-star hot path: scan -> one python stage -> filter.
    No shuffle anywhere when the scan is already parallel."""
    from npm_extraction_server_spark.plans.kg import pages_to_triples
    from npm_extraction_server_spark.sources.pages import pages_df

    pages = pages_df(spark, 50, partitions=64)  # >= cores: no repartition
    plan = _plan(pages_to_triples(pages))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 1


def test_span_dedup_hot_chunks_broadcast_anti(spark):
    from npm_extraction_server_spark.operators.text import span_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(span_dedup(docs))
    assert "LeftAnti, BuildRight" in plan or \
        ("LeftAnti" in plan and "BroadcastExchange" in plan)


def test_decontaminate_broadcasts_eval_side(spark):
    from npm_extraction_server_spark.operators.text import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(decontaminate(docs, docs.filter(F.col("doc_id") % 50 == 0)))
    assert "BroadcastExchange" in plan  # eval shingles, never the corpus


def test_decontaminate_falls_back_to_shuffle_join(spark):
    """Past the broadcast threshold the eval-shingle join must degrade
    to an explicit shuffle-hash join (no broadcast that would OOM) and
    still produce the same answer."""
    from npm_extraction_server_spark.operators.text import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    fb = decontaminate(docs, ev, broadcast_max_shingles=1)
    plan = _plan(fb)
    # the SHINGLE join (keys sh#N) must be shuffle-hash, not broadcast
    # (the tiny per-doc hits join may still broadcast — that's fine)
    sh_joins = [ln for ln in plan.split("\n")
                if "Join [sh#" in ln or ("Join" in ln and "[sh#" in ln)]
    assert sh_joins, plan
    assert all("ShuffledHashJoin" in ln for ln in sh_joins), sh_joins
    normal = decontaminate(docs, ev)
    assert sorted(map(tuple, fb.collect())) == \
        sorted(map(tuple, normal.collect()))


def test_embedding_near_dup_approx_n_runs_no_job(spark):
    """With ``approx_n`` provided, building the near-dup plan must not
    launch the bucket-sizing count() job (jobs asserted via job group)."""
    from npm_extraction_server_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("no-job-probe", "plan construction only")
    try:
        df = embedding_near_dup_pairs(emb, approx_n=1000)
        df.explain  # plan exists; no action taken
        jobs = sc.statusTracker().getJobIdsForGroup("no-job-probe")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs or []) == []
    # and the adaptive-bits math still ran: 1000/32 -> 8..16 bits plan builds
    assert df.columns == ["id_a", "id_b", "cosine"]


def test_events_funnel_single_exchange(spark):
    """The funnel is one pass: a conditional-min window cascade plus a
    same-key groupBy — exactly ONE Exchange (on user_id) in the plan."""
    from npm_extraction_server_spark.operators.suite import events_funnel

    plan = _plan(events_funnel(spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(user_id" in plan


def test_ivf_assignment_is_map_side(spark):
    """ivf_topk's centroid assignment must be the closure-broadcast
    matmul UDF, not crossJoin(N x C) + row_number: the returned plan
    may contain exactly ONE Window (the final per-query top-k rank) and
    no cartesian/nested-loop join over the crossed vector set."""
    from npm_extraction_server_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3,
                          n_centroids=4, nprobe=2, kmeans_iters=1))
    # exactly one Window exec (WindowGroupLimit helper nodes aside),
    # and it is keyed on query_id — never a per-vector crank window
    assert plan.count("Window [") == 1, plan
    assert "windowspecdefinition(vec_id" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the map-side assignment UDF is an ArrowEvalPython stage
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_minhash_band_rows_do_not_carry_signatures(spark):
    """Band rows shuffled for bucketing must not include the sig array
    (the ~60x-bytes regression fixed in round 2). Round 6 removed the
    band self-join entirely — ONE groupBy(band_id, band_hash) with the
    pair explode inside the bucket row replaces it — so the stronger
    invariant is: no Join keyed on band_hash at all, and the bucket
    aggregation's exchange carries only the 24-byte band rows."""
    from npm_extraction_server_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, 64, 32, threshold=0.2))
    joins = [seg for seg in plan.split("\n")
             if "band_hash" in seg and "Join" in seg]
    assert not joins, "band self-join should be gone (round-6 groupBy plan)"
    # an Exchange line prints only its partition keys, so check the
    # exchange's INPUT (the next line of the tree string): the map-side
    # partial aggregate, whose functions and output list every column
    # that rides the shuffle
    lines = plan.split("\n")
    inputs = [lines[i + 1] for i, seg in enumerate(lines)
              if "Exchange hashpartitioning(band_id" in seg]
    assert inputs, "expected the bucket groupBy exchange on band_hash"
    for seg in inputs:
        assert "partial_collect_list" in seg, seg
        assert not re.search(r"\bsig#", seg), seg


def test_read_where_pushes_residual_to_scan(spark, tmp_path):
    """Stats-pruned snapshot reads still push the residual predicate
    into the parquet scan of the files they do open."""
    from npm_extraction_server_spark.sources.snapshots import (
        commit,
        read_where,
    )

    t = str(tmp_path / "rw")
    commit(spark.range(1000).select(F.col("id"), (F.col("id") % 9).alias("k")),
           t, partitions=4, cluster_by=["id"])
    plan = _plan(read_where(spark, t, [("id", ">=", 500)]))
    assert "PushedFilters" in plan and "GreaterThanOrEqual(id,500)" in plan


def test_merge_upsert_broadcasts_file_ranges_not_updates(spark, tmp_path):
    """The merge's touched-file planning joins the (tiny) manifest
    range list BROADCAST against the update keys — the update side is
    never collected or shuffled for planning."""
    from npm_extraction_server_spark.sources import snapshots as S

    t = str(tmp_path / "mplan")
    S.commit(spark.range(1000).select(F.col("id"), F.lit(0).alias("v")),
             t, partitions=4, cluster_by=["id"])
    seen = []
    orig = S.commit

    def spy_commit(df, table, **kw):
        if kw.get("operation") == "overwrite":
            seen.append(_plan(df))
        return orig(df, table, **kw)

    S.commit = spy_commit
    try:
        ups = spark.range(100, 120).select(F.col("id"), F.lit(7).alias("v"))
        S.merge_upsert(spark, t, ups, key="id")
    finally:
        S.commit = orig
    # the rewritten-data plan: survivors (anti-join on key) + updates;
    # the anti-join build side is the update keys (bounded) — broadcast
    assert seen and "LeftAnti" in seen[0]
    assert "BroadcastExchange" in seen[0]


def test_pagerank_adjacency_materialized_once(spark):
    """The loop-invariant (src, dst, out_deg) adjacency is checkpointed:
    each iteration's plan scans the checkpoint, not a re-derived
    groupBy — no repeated degree aggregation inside the loop."""
    from npm_extraction_server_spark.plans.graph import pagerank

    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 50) for i in range(50)]
        + [(i, (i + 1) % 50) for i in range(50)], "src long, dst long")
    ranks = pagerank(e, iterations=2)
    plan = _plan(ranks)
    # final plan is rooted at checkpointed scans (the per-iteration
    # localCheckpoint), so no full lineage re-derivation appears
    assert "Scan ExistingRDD" in plan
    total = sum(r["rank"] for r in ranks.collect())
    assert abs(total - 1.0) < 1e-6


def test_retrieval_topk_uses_take_ordered_not_global_window(spark):
    """tfidf/bm25 top-k must plan as TakeOrderedAndProject (per-
    partition local k, driver merge) — a global row_number window
    would funnel the whole scored corpus through one partition."""
    from npm_extraction_server_spark.operators.text import (
        bm25_topk,
        tfidf_topk,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for fn in (tfidf_topk, bm25_topk):
        plan = _plan(fn(docs, ["spark", "merge"], k=10))
        assert "TakeOrderedAndProject" in plan


def test_bgp_join_semantics(spark):
    """BGP matching: constants filter, shared variables join,
    repeated variables inside one pattern mean equality, disconnected
    groups cross-join, duplicate triples collapse (set semantics)."""
    from npm_extraction_server_spark.plans.bgp import bgp_join

    t = spark.createDataFrame(
        [("a", "type", "Person"), ("b", "type", "Person"),
         ("a", "knows", "b"), ("b", "knows", "a"),
         ("a", "knows", "b"),              # duplicate triple
         ("c", "type", "Robot"), ("c", "knows", "c"),
         ("b", "age", "30")],
        "subj string, pred string, obj string")

    # star: persons with an age
    out = bgp_join(t, [("?x", "type", "Person"), ("?x", "age", "?a")])
    assert [(r.x, r.a) for r in out.collect()] == [("b", "30")]

    # chain with shared var + dedup of the duplicate triple
    out = bgp_join(t, [("?x", "knows", "?y"), ("?y", "type", "Person")],
                   select=["x", "y"])
    assert sorted((r.x, r.y) for r in out.collect()) == [("a", "b"), ("b", "a")]

    # repeated variable in one pattern: self-loops only
    out = bgp_join(t, [("?x", "knows", "?x")])
    assert [r.x for r in out.collect()] == ["c"]

    # disconnected groups: explicit product
    out = bgp_join(t, [("?x", "type", "Robot"), ("?y", "age", "?v")])
    assert [(r.x, r.y, r.v) for r in out.collect()] == [("c", "b", "30")]

    import pytest

    with pytest.raises(ValueError, match="empty pattern"):
        bgp_join(t, [])


def test_bgp_optional_semantics(spark):
    """SPARQL OPTIONAL: unmatched optional groups NULL-extend instead
    of dropping; matched ones fan out per binding; a disconnected
    optional group is rejected (it would be a hidden cartesian)."""
    import pytest

    from npm_extraction_server_spark.plans.bgp import bgp_optional

    t = spark.createDataFrame(
        [("a", "type", "Person"), ("b", "type", "Person"),
         ("a", "knows", "b"), ("a", "knows", "c"),
         ("b", "age", "30")],
        "subj string, pred string, obj string")

    out = bgp_optional(t, [("?x", "type", "Person")],
                       [[("?x", "knows", "?y")]], select=["x", "y"])
    assert sorted((r.x, r.y) for r in out.collect()) == [
        ("a", "b"), ("a", "c"), ("b", None)]

    # two optional groups stack independently
    out = bgp_optional(t, [("?x", "type", "Person")],
                       [[("?x", "knows", "?y")], [("?x", "age", "?a")]])
    assert sorted((r.x, r.y, r.a) for r in out.collect()) == [
        ("a", "b", None), ("a", "c", None), ("b", None, "30")]

    with pytest.raises(ValueError, match="shares no variable"):
        bgp_optional(t, [("?x", "type", "Person")],
                     [[("?z", "age", "?a")]])


def test_bgp_union_and_filter_semantics(spark):
    """SPARQL UNION: branches match independently and union by
    variable NAME, padding variables absent from a branch with NULL;
    FILTER expressions (Column or SQL string) prune bindings before
    projection."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.plans.bgp import bgp_join, bgp_union

    t = spark.createDataFrame(
        [("a", "name", "alpha"), ("b", "name", "beta"),
         ("a", "rev", "1.0"), ("c", "rev", "2.0")],
        "subj string, pred string, obj string")

    # same variable domain in both branches
    out = bgp_union(t, [[("?s", "name", "?l")], [("?s", "rev", "?l")]])
    assert sorted((r.s, r.l) for r in out.collect()) == [
        ("a", "1.0"), ("a", "alpha"), ("b", "beta"), ("c", "2.0")]

    # different domains: NULL padding per branch
    out = bgp_union(t, [[("?s", "name", "?n")], [("?s", "rev", "?r")]])
    got = sorted(((r.s, r.n, r.r) for r in out.collect()),
                 key=lambda x: tuple("" if v is None else v for v in x))
    assert got == [
        ("a", None, "1.0"), ("a", "alpha", None),
        ("b", "beta", None), ("c", None, "2.0")]

    # FILTER: Column and SQL-string forms agree
    got_col = bgp_join(t, [("?s", "name", "?n")],
                       filters=[F.col("n").startswith("a")])
    got_sql = bgp_join(t, [("?s", "name", "?n")],
                       filters=["n LIKE 'a%'"])
    assert [(r.s, r.n) for r in got_col.collect()] == [("a", "alpha")]
    assert got_col.collect() == got_sql.collect()


def test_hll_partial_aggregation_and_single_final_shuffle(spark):
    """hll_distinct must plan map-side partial aggregation for the
    register stage (HashAggregate below the Exchange), so the shuffle
    carries <= 2^p rows per group per partition, never the raw rows —
    the property that makes the sketch fixed-state at 100 TB."""
    from npm_extraction_server_spark.operators.sketch import hll_distinct

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(hll_distinct(ev, "event_type", "event_id", p=8))
    # partial_max before the first exchange (map-side register combine)
    pre_exchange = plan.split("Exchange")[0]
    assert "partial_max" in plan
    assert "HashAggregate" in pre_exchange


def test_bgp_constant_pred_pushed_to_scan(spark, tmp_path):
    """A BGP pattern's constant predicate must reach the parquet scan
    as a pushed filter (EqualTo on pred) — the property that lets a
    pred-partitioned triple store read one predicate's rows only."""
    from npm_extraction_server_spark.plans.bgp import bgp_join

    t = spark.createDataFrame(
        [("s1", "name", "a"), ("s1", "rev", "1"), ("s2", "name", "b")],
        "subj string, pred string, obj string")
    path = str(tmp_path / "triples")
    t.write.parquet(path)
    tt = spark.read.parquet(path)
    plan = _plan(bgp_join(tt, [("?m", "name", "?n"), ("?m", "rev", "?r")]))
    assert "EqualTo(pred,name)" in plan and "EqualTo(pred,rev)" in plan


def test_bgp_over_pred_partitioned_prunes(spark, tmp_path):
    """Over the pred-PARTITIONED triple layout (warehouse.
    write_triples_by_pred), a BGP pattern's bound predicate becomes a
    partition filter — the scan plans only that predicate's directory,
    the vertical-partitioning triple-store property."""
    from npm_extraction_server_spark.plans.bgp import bgp_join
    from npm_extraction_server_spark.plans.warehouse import write_triples_by_pred

    t = spark.createDataFrame(
        [("s1", "name", "a"), ("s1", "rev", "1"),
         ("s2", "name", "b"), ("s2", "other", "x")],
        "subj string, pred string, obj string")
    path = str(tmp_path / "tp")
    write_triples_by_pred(t, path, n_write_tasks=1)
    tt = spark.read.parquet(path)
    out = bgp_join(tt, [("?m", "name", "?n"), ("?m", "rev", "?r")])
    plan = _plan(out)
    assert "PartitionFilters" in plan and "isnotnull(pred" in plan
    assert [(r.m, r.n, r.r) for r in out.collect()] == [("s1", "a", "1")]


def test_bgp_path_plus_and_star(spark):
    """pred+ reaches strictly-forward closure with min hop counts;
    pred* includes the seeds at 0; other predicates never traverse."""
    from npm_extraction_server_spark.plans.bgp import bgp_path

    t = spark.createDataFrame(
        [("a", "dep", "b"), ("b", "dep", "c"), ("c", "dep", "d"),
         ("a", "dep", "c"),                   # shortcut: c at 1 hop
         ("a", "other", "z")],                # wrong predicate
        "subj string, pred string, obj string")
    seeds = spark.createDataFrame([("a",)], "node_id string")

    plus = {(r["node"], r["hops"])
            for r in bgp_path(t, seeds, "dep").collect()}
    assert plus == {("b", 1), ("c", 1), ("d", 2)}

    star = {(r["node"], r["hops"])
            for r in bgp_path(t, seeds, "dep",
                              include_seed=True).collect()}
    assert star == plus | {("a", 0)}


def test_bgp_construct_materializes_rule(spark):
    """CONSTRUCT: one output triple set per template entry x binding,
    constants and variables mixed, distinct (graph semantics); unbound
    template vars rejected."""
    from npm_extraction_server_spark.plans.bgp import bgp_construct

    t = spark.createDataFrame(
        [("m1", "name", "alpha"), ("m1", "rev", "1.0"),
         ("m2", "name", "beta"),
         ("m1", "name", "alpha")],          # duplicate triple
        "subj string, pred string, obj string")
    out = bgp_construct(
        t,
        [("?m", "name", "?n")],
        [("?m", "label", "?n"), ("?m", "type", "Module")])
    got = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert got == {("m1", "label", "alpha"), ("m2", "label", "beta"),
                   ("m1", "type", "Module"), ("m2", "type", "Module")}
    assert out.count() == 4  # distinct: duplicate source triple collapsed

    import pytest

    with pytest.raises(ValueError, match=r"template var \?x"):
        bgp_construct(t, [("?m", "name", "?n")], [("?m", "label", "?x")])


def test_materialize_rules_rdfs_closure(spark):
    """Forward chaining to fixpoint: subClassOf transitivity + type
    inheritance over a 4-deep class chain — every entailed triple
    appears exactly once, original triples survive, and a divergent
    rule set raises instead of looping."""
    import pytest

    from npm_extraction_server_spark.plans.bgp import materialize_rules

    SUB, TYPE = "subClassOf", "type"
    t = spark.createDataFrame(
        [("A", SUB, "B"), ("B", SUB, "C"), ("C", SUB, "D"),
         ("i", TYPE, "A"), ("j", TYPE, "C")],
        "subj string, pred string, obj string")
    rules = [
        ([("?a", SUB, "?b"), ("?b", SUB, "?c")], [("?a", SUB, "?c")]),
        ([("?x", TYPE, "?c"), ("?c", SUB, "?d")], [("?x", TYPE, "?d")]),
    ]
    got = {(r["subj"], r["pred"], r["obj"])
           for r in materialize_rules(t, rules).collect()}
    assert got == {
        ("A", SUB, "B"), ("B", SUB, "C"), ("C", SUB, "D"),
        ("A", SUB, "C"), ("A", SUB, "D"), ("B", SUB, "D"),
        ("i", TYPE, "A"), ("i", TYPE, "B"), ("i", TYPE, "C"),
        ("i", TYPE, "D"),
        ("j", TYPE, "C"), ("j", TYPE, "D"),
    }

    # the max_rounds guard: a rule still deriving fresh triples when
    # the budget runs out raises instead of silently truncating
    inverse = [([("?x", TYPE, "?c")], [("?c", TYPE, "?x")])]
    looped = spark.createDataFrame(
        [("a", TYPE, "b")], "subj string, pred string, obj string")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        materialize_rules(looped, inverse, max_rounds=1)


def test_materialize_rules_round_job_budget(spark):
    """A one-hop ``reach`` rule over a ``next`` chain derives one more
    hop per round, so the rounds follow the chain length. Going from an
    8- to a 16-node chain measured 80 more jobs; 99-101 when every
    round also re-checkpointed the closure and probed the fresh triples
    with a separate count."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.plans.bgp import materialize_rules

    rules = [
        ([("?a", "next", "?b")], [("?a", "reach", "?b")]),
        ([("?a", "reach", "?b"), ("?b", "next", "?c")],
         [("?a", "reach", "?c")]),
    ]
    sc = spark.sparkContext
    jobs = []
    for n in (8, 16):
        chain = spark.range(n - 1).select(
            F.col("id").cast("string").alias("subj"),
            F.lit("next").alias("pred"),
            (F.col("id") + 1).cast("string").alias("obj"))
        group = f"materialize_rules_budget_{n}"
        spark.catalog.clearCache()
        sc.setJobGroup(group, group)
        try:
            got = materialize_rules(chain, rules).collect()
        finally:
            sc.setJobGroup(None, None)
        assert len(got) == (n - 1) + n * (n - 1) // 2
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] - jobs[0] <= 90, jobs


def test_bgp_agg_semantics(spark):
    """SPARQL GROUP BY: aggregates run over the DISTINCT bindings
    (set semantics — the duplicate triple must not inflate counts);
    HAVING prunes groups; unknown aggregate / unbound group var
    rejected."""
    import pytest

    from npm_extraction_server_spark.plans.bgp import bgp_agg

    t = spark.createDataFrame(
        [("a", "knows", "b"), ("a", "knows", "b"),  # duplicate binding
         ("a", "knows", "c"), ("b", "knows", "c"),
         ("a", "age", "30")],
        "subj string, pred string, obj string")

    out = bgp_agg(t, [("?x", "knows", "?y")], group_by=["x"],
                  aggs=[("y", "count", "n"), ("y", "min", "first_y")])
    assert sorted((r.x, r.n, r.first_y) for r in out.collect()) == [
        ("a", 2, "b"), ("b", 1, "c")]

    # count_distinct + HAVING
    out = bgp_agg(t, [("?x", "knows", "?y")], group_by=["x"],
                  aggs=[("y", "count_distinct", "n")],
                  having=["n >= 2"])
    assert [(r.x, r.n) for r in out.collect()] == [("a", 2)]

    with pytest.raises(ValueError, match="unknown aggregate"):
        bgp_agg(t, [("?x", "knows", "?y")], ["x"],
                [("y", "median", "m")])  # avg/sample/group_concat exist now
    with pytest.raises(ValueError, match="not bound"):
        bgp_agg(t, [("?x", "knows", "?y")], ["z"], [("y", "count", "n")])


def test_bgp_minus_semantics(spark):
    """SPARQL MINUS: bindings compatible with any minus-group binding
    (agreement on shared vars) are removed; incompatible ones stay;
    a minus group with no shared variable is rejected (it would
    remove nothing)."""
    import pytest

    from npm_extraction_server_spark.plans.bgp import bgp_minus

    t = spark.createDataFrame(
        [("a", "type", "Person"), ("b", "type", "Person"),
         ("c", "type", "Person"),
         ("a", "knows", "b"), ("b", "age", "30")],
        "subj string, pred string, obj string")

    # persons with no outgoing knows edge
    out = bgp_minus(t, [("?x", "type", "Person")],
                    [[("?x", "knows", "?y")]])
    assert sorted(r.x for r in out.collect()) == ["b", "c"]

    # two minus groups stack (remove knows-subjects AND age-subjects)
    out = bgp_minus(t, [("?x", "type", "Person")],
                    [[("?x", "knows", "?y")], [("?x", "age", "?a")]])
    assert [r.x for r in out.collect()] == ["c"]

    with pytest.raises(ValueError, match="shares no variable"):
        bgp_minus(t, [("?x", "type", "Person")],
                  [[("?z", "age", "?a")]])


def test_reorder_patterns_selectivity_and_connectivity(spark):
    """reorder_patterns puts measured-selective patterns first but
    never breaks join connectivity (a cheap pattern sharing no
    variable with the placed prefix waits its turn); bgp_join results
    are invariant under the reordering."""
    from npm_extraction_server_spark.plans.bgp import bgp_join, reorder_patterns

    rows = [("s%d" % i, "common", "x") for i in range(50)] + \
           [("s%d" % i, "rare", "y") for i in range(2)] + \
           [("s0", "link", "t0"), ("s1", "link", "t1"),
            ("t0", "tiny", "z")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")

    pats = [("?s", "common", "?c"),       # 50 rows
            ("?s", "link", "?t"),         # 2 rows
            ("?t", "tiny", "?z")]         # 1 row
    got = reorder_patterns(t, pats)
    # tiny (1 row) first; link connects via ?t before common (?s)
    assert got == [("?t", "tiny", "?z"), ("?s", "link", "?t"),
                   ("?s", "common", "?c")]

    # variable COLUMN order follows pattern order, so compare the
    # binding mappings by name
    a = {frozenset(r.asDict().items()) for r in bgp_join(t, pats).collect()}
    b = {frozenset(r.asDict().items()) for r in bgp_join(t, got).collect()}
    assert a == b and a  # same non-empty bindings

    # deliberately disconnected patterns keep working (cheapest-first
    # fallback) and still produce the explicit product
    pats2 = [("?a", "tiny", "?z"), ("?b", "rare", "?y")]
    got2 = reorder_patterns(t, pats2)
    assert set(got2) == set(pats2)
    assert bgp_join(t, got2).count() == 2


def test_inverted_index_two_term_exchanges(spark):
    """inverted_index: exactly two shuffles, both keyed on the term
    ((term, doc) posting aggregate + the term window for df); no
    Python eval node anywhere."""
    from npm_extraction_server_spark.operators.text import inverted_index

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(inverted_index(docs))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "term" in plan.split("Exchange hashpartitioning")[1][:60]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bgp_constant_predicate_reaches_scan(spark):
    """bgp_agg (like every BGP form): a constant predicate term
    becomes a pushed filter on the triples scan."""
    import tempfile

    from npm_extraction_server_spark.plans.bgp import bgp_agg

    t = spark.createDataFrame(
        [(f"s{i}", "knows" if i % 2 else "likes", f"o{i}")
         for i in range(100)],
        "subj string, pred string, obj string")
    d = tempfile.mkdtemp(prefix="bgp_scan_")
    t.write.mode("overwrite").parquet(d)
    triples = spark.read.parquet(d)
    plan = _plan(bgp_agg(triples, [("?s", "knows", "?o")], ["s"],
                         [("o", "count", "n")]))
    assert "PushedFilters" in plan and "EqualTo(pred,knows)" in plan


def test_link_predict_no_cartesian(spark):
    """link_predict: wedge pairs come from key-partitioned joins;
    no cartesian/broadcast-nested-loop anywhere in the plan."""
    from npm_extraction_server_spark.plans.graph import link_predict

    edges = spark.range(200).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 200).alias("dst"))
    plan = _plan(link_predict(edges, min_common=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bgp_describe_and_ask_semantics(spark):
    """DESCRIBE returns the subject+object closure at depth 1,
    distinct; ASK returns one boolean row, true iff a binding exists
    (including under FILTER)."""
    from npm_extraction_server_spark.plans.bgp import bgp_ask, bgp_describe

    t = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "a"), ("a", "knows", "b"),
         ("c", "likes", "a"), ("b", "age", "30")],
        "subj string, pred string, obj string")

    rows = {tuple(r) for r in bgp_describe(t, "a").collect()}
    assert rows == {("a", "knows", "b"), ("b", "knows", "a"),
                    ("c", "likes", "a")}

    assert bgp_ask(t, [("?x", "age", "?y")]).collect()[0].ask is True
    assert bgp_ask(t, [("?x", "height", "?y")]).collect()[0].ask is False
    assert bgp_ask(t, [("?x", "age", "?y")],
                   filters=["y > '40'"]).collect()[0].ask is False


def test_bgp_quad_patterns_semantics(spark):
    """GRAPH patterns: a constant 4th term selects one named graph, a
    variable binds the graph name, 3-term patterns keep matching the
    union of all graphs, and mixing arities inside one group works.
    A quad pattern over a graph-less table is rejected."""
    import pytest

    from npm_extraction_server_spark.plans.bgp import bgp_join

    q = spark.createDataFrame(
        [("a", "type", "Person", "g1"), ("a", "age", "30", "g1"),
         ("b", "type", "Person", "g2"), ("b", "age", "40", "g2"),
         ("a", "age", "31", "g2")],      # same subj, different graph
        "subj string, pred string, obj string, graph string")

    # constant graph: only g1's age triple
    out = bgp_join(q, [("?x", "age", "?v", "g1")])
    assert [(r.x, r.v) for r in out.collect()] == [("a", "30")]

    # graph variable binds; same-graph star join constrains both
    # patterns to ONE graph (a's type is only in g1, so its g2 age
    # binding is excluded)
    out = bgp_join(q, [("?x", "type", "Person", "?g"),
                       ("?x", "age", "?v", "?g")], select=["x", "v", "g"])
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", "30", "g1"), ("b", "40", "g2")]

    # 3-term pattern = default graph = union of graphs
    out = bgp_join(q, [("?x", "age", "?v")])
    assert sorted((r.x, r.v) for r in out.collect()) == [
        ("a", "30"), ("a", "31"), ("b", "40")]

    # mixed arity in one group
    out = bgp_join(q, [("?x", "type", "Person"),
                       ("?x", "age", "?v", "g2")], select=["x", "v"])
    assert sorted((r.x, r.v) for r in out.collect()) == [
        ("a", "31"), ("b", "40")]

    t3 = q.select("subj", "pred", "obj")
    with pytest.raises(ValueError, match="graph"):
        bgp_join(t3, [("?x", "age", "?v", "?g")])
    with pytest.raises(ValueError, match="3 or 4 terms"):
        bgp_join(q, [("?x", "age")])


def test_as_quads_and_describe_with_graph(spark):
    """as_quads: explicit named-graph triples keep their graph,
    default-graph triples land in their source document's graph;
    DESCRIBE with_graph carries the provenance column."""
    from npm_extraction_server_spark.plans.bgp import as_quads, bgp_describe

    t = spark.createDataFrame(
        [("a", "p", "b", None, "http://x/1"),
         ("a", "q", "c", "gX", "http://x/1"),
         ("d", "p", "a", None, "http://x/2")],
        "subj string, pred string, obj string, graph string, src_url string")
    q = as_quads(t)
    assert sorted(tuple(r) for r in q.collect()) == [
        ("a", "p", "b", "http://x/1"), ("a", "q", "c", "gX"),
        ("d", "p", "a", "http://x/2")]

    rows = {tuple(r) for r in bgp_describe(q, "a", with_graph=True).collect()}
    assert rows == {("a", "p", "b", "http://x/1"), ("a", "q", "c", "gX"),
                    ("d", "p", "a", "http://x/2")}


def test_bgp_construct_quad_template(spark):
    """CONSTRUCT quad templates: a 4-term template emits into a named
    graph (variable or constant); 3-term entries get NULL (default
    graph) when any quad entry is present."""
    from npm_extraction_server_spark.plans.bgp import bgp_construct

    q = spark.createDataFrame(
        [("a", "type", "Person", "g1"), ("b", "type", "Person", "g2")],
        "subj string, pred string, obj string, graph string")
    out = bgp_construct(
        q, [("?x", "type", "Person", "?g")],
        [("?x", "rdfs:label", "someone", "?g"),
         ("?x", "audited", "true")])
    assert out.columns == ["subj", "pred", "obj", "graph"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", "audited", "true", None),
        ("a", "rdfs:label", "someone", "g1"),
        ("b", "audited", "true", None),
        ("b", "rdfs:label", "someone", "g2")]


def test_bgp_modifiers_take_ordered_plan(spark):
    """ORDER BY + LIMIT on a BGP plans as TakeOrderedAndProject (per-
    partition heap + k-row merge), NOT a global Sort; results honor
    order, limit, offset, and '-col' DESC syntax."""
    from npm_extraction_server_spark.plans.bgp import bgp_join

    t = spark.createDataFrame(
        [(f"s{i:02d}", "score", f"{i:02d}") for i in range(40)],
        "subj string, pred string, obj string")

    out = bgp_join(t, [("?x", "score", "?v")], select=["x", "v"],
                   order_by=["v"], limit=3)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort operator
    assert [r.v for r in out.collect()] == ["00", "01", "02"]

    out = bgp_join(t, [("?x", "score", "?v")], select=["x", "v"],
                   order_by=["-v"], limit=2)
    assert [r.v for r in out.collect()] == ["39", "38"]

    out = bgp_join(t, [("?x", "score", "?v")], select=["v"],
                   order_by=["v"], limit=2, offset=5)
    assert [r.v for r in out.collect()] == ["05", "06"]


def test_reorder_patterns_void_stats(spark):
    """reorder_patterns_void orders from the VoID per-predicate stats
    with ZERO Spark jobs (pure driver math), keeps connectivity, and
    bgp_join results are invariant under the reordering."""
    from npm_extraction_server_spark.plans.bgp import (
        bgp_join,
        reorder_patterns_void,
    )

    rows = [("s%d" % i, "common", "x") for i in range(50)] + \
           [("s0", "link", "t0"), ("s1", "link", "t1"),
            ("t0", "tiny", "z")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    void = {"common": (50, 50, 1), "link": (2, 2, 2), "tiny": (1, 1, 1)}

    pats = [("?s", "common", "?c"), ("?s", "link", "?t"),
            ("?t", "tiny", "?z")]
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    got = reorder_patterns_void(pats, void)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before)  # no counting job ran
    assert got == [("?t", "tiny", "?z"), ("?s", "link", "?t"),
                   ("?s", "common", "?c")]

    a = {frozenset(r.asDict().items()) for r in bgp_join(t, pats).collect()}
    b = {frozenset(r.asDict().items()) for r in bgp_join(t, got).collect()}
    assert a == b and a

    # bound-subject estimate: n_triples/n_subjects ranks a point
    # lookup on a big predicate under a full scan of a medium one
    pats2 = [("s0", "common", "?c"), ("?s2", "link", "?t2")]
    got2 = reorder_patterns_void(pats2, void)
    assert got2[0] == ("s0", "common", "?c")  # est 1 row < 2 rows


def test_q17_aggregate_prefiltered(spark):
    """TPC-H Q17: the per-part aggregate's input must carry the
    broadcast part semi-join BELOW the groupBy — the full-lineitem
    Exchange that round-4 flagged as the scale killer must be gone
    (the only Exchange under the aggregate is fed by the pruned
    join, and the lineitem scan feeding it sits under a
    BroadcastHashJoin)."""
    from npm_extraction_server_spark.operators.suite import q17_small_quantity

    plan = _plan(q17_small_quantity(spark, SF))
    # locate the per-part partial aggregate (sum of l_quantity)
    seg = plan.split("partial_sum(cast(round(l_quantity", 1)
    assert len(seg) == 2, plan
    below = seg[1]
    # the aggregate's child: a broadcast join appears BEFORE the
    # lineitem scan it prunes
    assert below.index("BroadcastHashJoin") < below.index("lineitem.parquet")


def test_q19_one_broadcast_join_no_union(spark):
    """TPC-H Q19: the OR of three conjunction bands must plan as ONE
    broadcast equi-join with a residual disjunction filter — not a
    union of three joins and not a cartesian fallback."""
    from npm_extraction_server_spark.operators.suite import (
        q19_disjunctive_bands,
    )

    plan = _plan(q19_disjunctive_bands(spark, SF))
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "Union" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_path_edges_algebra(spark):
    """Property-path algebra: seq composes, alt unions, inv swaps,
    neg excludes; closure (bgp_path) accepts a path expression."""
    from npm_extraction_server_spark.plans.bgp import bgp_path, path_edges

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c"), ("b", "q", "c"),  # dup
         ("a", "r", "x"), ("c", "p", "d")],
        "subj string, pred string, obj string")

    assert sorted(map(tuple, path_edges(t, ("seq", "p", "q")).collect())) \
        == [("a", "c")]
    assert sorted(map(tuple, path_edges(t, ("alt", "p", "r")).collect())) \
        == [("a", "b"), ("a", "x"), ("c", "d")]
    assert sorted(map(tuple, path_edges(t, ("inv", "p")).collect())) \
        == [("b", "a"), ("d", "c")]
    assert sorted(map(tuple, path_edges(t, ("neg", "p", "q")).collect())) \
        == [("a", "x")]
    # composed: ^(p/q) == inv of seq
    assert sorted(map(tuple,
                      path_edges(t, ("inv", ("seq", "p", "q"))).collect())) \
        == [("c", "a")]
    # closure over an alternative: (p|q)+ from a reaches b, c, d
    seeds = spark.createDataFrame([("a",)], "node_id string")
    got = {(r.node, r.hops)
           for r in bgp_path(t, seeds, ("alt", "p", "q")).collect()}
    assert got == {("b", 1), ("c", 2), ("d", 3)}

    import pytest

    with pytest.raises(ValueError, match="unknown path operator"):
        path_edges(t, ("bogus", "p"))


def test_bgp_values_semantics_and_broadcast(spark):
    """VALUES inner-joins the inline binding table (broadcast into
    the plan); unknown vars and empty tables are rejected."""
    import pytest

    from npm_extraction_server_spark.plans.bgp import bgp_join

    t = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y"), ("c", "p", "x")],
        "subj string, pred string, obj string")
    out = bgp_join(t, [("?s", "p", "?o")],
                   values=(["o"], [("x",), ("x",)]))  # dup row collapses
    assert sorted((r.s, r.o) for r in out.collect()) == [
        ("a", "x"), ("c", "x")]
    # two-var VALUES: row-wise conjunction, not per-column IN
    out2 = bgp_join(t, [("?s", "p", "?o")],
                    values=(["s", "o"], [("a", "x"), ("b", "x")]))
    assert [(r.s, r.o) for r in out2.collect()] == [("a", "x")]
    plan = _plan(bgp_join(t, [("?s", "p", "?o")],
                          values=(["o"], [("x",)])))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan

    with pytest.raises(ValueError, match="not bound"):
        bgp_join(t, [("?s", "p", "?o")], values=(["zz"], [("x",)]))
    with pytest.raises(ValueError, match=">=1 var"):
        bgp_join(t, [("?s", "p", "?o")], values=(["o"], []))


def test_bgp_agg_sparql11_completions(spark):
    """avg (grid-rounded), sample (deterministic min), group_concat
    (canonical sorted order) — the SPARQL 1.1 aggregate tail."""
    from npm_extraction_server_spark.plans.bgp import bgp_agg

    t = spark.createDataFrame(
        [("a", "score", "2"), ("a", "score", "3"), ("a", "score", "3"),
         ("b", "score", "10")],
        "subj string, pred string, obj string")
    out = {r.s: r for r in bgp_agg(
        t, [("?s", "score", "?v")], group_by=["s"],
        aggs=[("v", "avg", "mean_v"), ("v", "sample", "one_v"),
              ("v", "group_concat", "all_v")]).collect()}
    # distinct bindings: a -> {2,3}; b -> {10}
    assert out["a"].mean_v == 2.5 and out["b"].mean_v == 10.0
    assert out["a"].one_v == "2" and out["a"].all_v == "2,3"
    assert out["b"].all_v == "10"


def test_bgp_exists_semantics(spark):
    """FILTER EXISTS keeps bindings compatible with every exists
    group (positive dual of MINUS: the two row sets partition the
    base bindings); disconnected groups are rejected."""
    import pytest

    from npm_extraction_server_spark.plans.bgp import (
        bgp_exists,
        bgp_join,
        bgp_minus,
    )

    t = spark.createDataFrame(
        [("a", "type", "P"), ("b", "type", "P"), ("c", "type", "P"),
         ("a", "knows", "b"), ("c", "knows", "c")],
        "subj string, pred string, obj string")
    pats = [("?x", "type", "P")]
    grp = [[("?x", "knows", "?y")]]
    ex = {r.x for r in bgp_exists(t, pats, grp).collect()}
    mi = {r.x for r in bgp_minus(t, pats, grp).collect()}
    base = {r.x for r in bgp_join(t, pats).collect()}
    assert ex == {"a", "c"} and mi == {"b"}
    assert ex | mi == base and not (ex & mi)  # exact partition

    with pytest.raises(ValueError, match="shares no variable"):
        bgp_exists(t, pats, [[("?z", "age", "?v")]])


def test_bgp_subquery_joins_nested_select(spark):
    """SPARQL 1.1 subquery: a nested aggregate SELECT joins into the
    outer bindings on its shared variable; unshared subqueries
    (cartesian product) are rejected."""
    import pytest

    from npm_extraction_server_spark.plans.bgp import bgp_agg, bgp_join

    t = spark.createDataFrame(
        [("a", "dep", "x"), ("a", "dep", "y"), ("b", "dep", "z"),
         ("x", "rev", "1"), ("y", "rev", "2"), ("z", "rev", "3")],
        "subj string, pred string, obj string")
    sub = bgp_agg(t, [("?v", "dep", "?d")], group_by=["v"],
                  aggs=[("d", "count_distinct", "n")])
    out = bgp_join(t, [("?v", "dep", "?d"), ("?d", "rev", "?r")],
                   subqueries=[sub], filters=["n >= 2"],
                   select=["v", "d", "r", "n"])
    assert sorted((r.v, r.d, r.r, r.n) for r in out.collect()) == [
        ("a", "x", "1", 2), ("a", "y", "2", 2)]

    alien = spark.createDataFrame([(1,)], "zz long")
    with pytest.raises(ValueError, match="cartesian"):
        bgp_join(t, [("?v", "dep", "?d")], subqueries=[alien])

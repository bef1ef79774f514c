"""Iterative graph analytics over the constructed KG (BFS distances,
PageRank, triangle counts).

The north-star pipeline materializes an entity graph (triples ->
linked entities -> canonical ids); these operators answer the
questions a KG consumer asks of that graph — reachability/hop
distance from a seed set, link-structure importance, and local
clustering — with the same execution discipline as
``plans/linking.connected_components``: iterative DataFrame
self-joins with eagerly ``localCheckpoint``-ed frontiers (truncating
lineage so Catalyst never re-derives round N-1 inside round N), every
per-round shuffle keyed on the node id.

One round loop (``_persisted`` + ``_rounds``) is the lifecycle every
loop over a persisted edge set uses:

- ``with _persisted(edges, key) as e:`` hash-partitions the edge set on
  its join key (``src``; ``dst`` for hyperball) and persists it, so
  each round shuffles only the small side. There is no warm-up action:
  the first round's job fills the cache. The edge set is unpersisted
  when the block exits, also when a round raises, so one block can
  span several loops (betweenness's forward and backward sweeps).
- ``_rounds(step, seed, n)`` runs ``step(r, outs)`` for r = 1..n, where
  ``outs`` is ``[seed, out_1, ..., out_{r-1}]``. Each round's output is
  ``localCheckpoint``-ed, which truncates lineage so round r never
  re-derives round r-1. Frontier loops stop at the first empty output,
  which is not kept (``_empty``: ``DataFrame.isEmpty()``, no job at
  all for a checkpoint without partitions); fixed-iteration loops pass
  ``until_empty=False``. The stop rule also sets the checkpoint rule:
  a loop that probes its rounds checkpoints them EAGERLY (the probe
  reads the materialised frame); a fixed-iteration loop checkpoints
  them LAZILY. Under AQE the lazy call still runs the round's shuffle
  stages, and its last stage runs inside the next round's first job —
  one job per round fewer, and the persisted edges of a ``_persisted``
  block are read while the block is open. Callers that promise
  convergence pass ``exhausted``, the ``RuntimeError`` message for n
  non-empty rounds. Accumulated state (visited sets, walk corpora) is
  ``_union_all(outs)``: every input is a checkpoint, so the balanced
  union is pure metadata and no round rewrites earlier rounds' rows.

One peel loop (``_peel``) is the fixpoint every decomposition uses
(kcore, coreness, ktruss, trussness, ab_core):

- ``_peel(step, live, n_live, rounds, exhausted)`` replaces the live
  set by ``step(live)``, eagerly ``localCheckpoint``-ed, until its row
  count stops changing, and returns ``(live, n_live, rounds left)``.
  Each round runs ONE count action; the previous checkpoint's count is
  carried in ``n_live`` — also from one ``_peel`` call into the next —
  and never recounted. The no-change round counts toward ``rounds``.
  A round that empties the live set also charges that round without
  running it: an empty set is a fixpoint. ``exhausted`` is the
  RuntimeError message raised when the rounds run out.
- ``kcore``/``coreness`` share the degree step ``_core_step(k)``,
  ``ktruss``/``trussness`` the triangle-support step
  ``_truss_step(k)``. ``coreness`` and ``trussness`` call ``_peel``
  once per ascending threshold with the rounds left over, so
  ``max_rounds`` bounds the peel rounds over all thresholds, and label
  what each threshold removed once, after its fixpoint.

Scale notes (100 TB / 10^9-node graphs):

- ``bfs_distances`` shuffles only the FRONTIER each round (nodes first
  reached that round), not the full vertex set: cost follows the BFS
  wavefront. The visited set is carried as a checkpointed DataFrame
  and the frontier anti-joins against it — both sides hash-partitioned
  on node id, so each round is one shuffle of the frontier plus one of
  the newly-reached set.
- ``pagerank`` is the classic power iteration: one join (edges x
  ranks, co-partitioned on src) + one groupBy(dst) per round — two
  shuffles per iteration, both on node id; AQE coalesces the tail.
  Dangling nodes (no out-edges — the COMMON case in a real KG: sink
  entities referenced but never described) are handled explicitly:
  their rank mass is summed each iteration (a 1-row aggregate,
  broadcast-cross-joined into the update so the round stays one job)
  and redistributed uniformly (``dangling="redistribute"``, default)
  or to the teleport vector for personalized_pagerank; callers who
  KNOW the graph has no sinks can pass ``dangling="assert_none"``
  (one upfront anti-join check) or ``dangling="ignore"`` to skip the
  per-round aggregate. When the dangling set is empty the
  redistribute path detects it once and skips the term entirely.
- ``triangle_counts`` orients edges from their low-degree to their
  high-degree endpoint, so wedges form only at each edge's cheap end
  (O(d) rows per degree-d hub, not O(d^2)) and each triangle is
  counted exactly once at its degree-minimal corner — the standard MR
  triangle enumeration (Suri & Vassilvitskii) as two joins. Measured:
  a mid-id-range 30k-degree hub costs the naive id-ordering 22 s where
  degree ordering holds flat at ~5 s (BENCH/BASELINE.md).

Cross-engine determinism (the DuckDB hard oracles in
operators/suite.py): BFS and triangles are integer-exact. PageRank
uses the repo's decimal-sum protocol (operators/suite.py:37-47) —
per-edge contributions are double-divided then rounded to a 12-decimal
grid, summed EXACTLY as decimal(28,12), and the new rank is re-rounded
to the same grid, so Spark's partition-order-dependent double
summation can never leak a ULP: both engines walk identical rank
vectors through every iteration.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["ab_core", "assortativity_moments", "betweenness", "bfs_distances",
           "bipartite_project", "boruvka_msf", "bowtie", "butterfly_counts",
           "closeness", "clustering_coefficients", "conductance", "coreness",
           "degree_powerlaw", "dyad_census", "eccentricity",
           "fastrp_embeddings", "greedy_coloring", "hits", "hyperball",
           "hyperball_stats", "ic_cascade", "katz", "kcore", "ktruss",
           "link_predict", "louvain_levels", "louvain_moves",
           "lpa_communities", "maximal_independent_set", "maximal_matching",
           "modularity", "neighbor_agg", "node2vec_walks", "pagerank",
           "pagerank_incremental", "personalized_pagerank", "ppr_push",
           "propagate_labels", "random_walks", "rich_club", "salsa", "simrank",
           "spam_mass", "sssp", "strongly_connected_components",
           "temporal_reach", "topo_layers", "triad_census", "triad_code_table",
           "triangle_counts", "trussness", "walk_skipgram_pairs",
           "weighted_random_walks", "wl_refinement"]


@contextmanager
def _persisted(edges: DataFrame, key: str = "src") -> Iterator[DataFrame]:
    """``edges`` hash-partitioned on ``key`` and persisted for the life
    of the ``with`` block. An ``InMemoryTableScan`` keeps its
    outputPartitioning (an eager localCheckpoint does not), so every
    round's join shuffles only the frontier/score side to meet the
    edges — the edge set is shuffled once per call, not once per
    round. Unpersisted on exit, also when a round raises."""
    e = edges.repartition(F.col(key)).persist()
    try:
        yield e
    finally:
        e.unpersist()


def _rounds(step: Callable[[int, list[DataFrame]], DataFrame],
            seed: DataFrame, n: int, until_empty: bool = True,
            exhausted: str | None = None) -> list[DataFrame]:
    """``[seed, out_1, ..., out_k]`` with ``out_r = step(r, outs)``
    checkpointed, eagerly iff ``until_empty`` (see the module
    docstring). With ``until_empty`` the loop stops at the first empty
    output, which is dropped; ``exhausted`` is the RuntimeError message
    raised when all ``n`` rounds produced rows."""
    outs = [seed]
    for r in range(1, n + 1):
        nxt = step(r, outs).localCheckpoint(eager=until_empty)
        if until_empty and _empty(nxt):
            return outs
        outs.append(nxt)
    if exhausted is not None:
        raise RuntimeError(exhausted)
    return outs


def _empty(df: DataFrame) -> bool:
    """Emptiness of a CHECKPOINTED frame: ``DataFrame.isEmpty()`` (one
    limit-1 job), skipped when the checkpoint has no partitions at all
    — an empty one often has none, and isEmpty's single-partition
    limit exchange would still launch a job for it. (On a lazy plan
    ``.rdd`` would run its shuffle stages; probe those with
    ``isEmpty()`` directly.)"""
    return df.rdd.getNumPartitions() == 0 or df.isEmpty()


def _peel(step: Callable[[DataFrame], DataFrame], live: DataFrame,
          n_live: int, rounds: int,
          exhausted: str) -> tuple[DataFrame, int, int]:
    """``(fixpoint, its row count, rounds left)`` of ``step`` from
    ``live`` (``n_live`` rows) within ``rounds`` rounds (see the
    module docstring)."""
    while rounds > 0:
        rounds -= 1
        nxt = step(live).localCheckpoint(eager=True)
        n_nxt = nxt.count()
        if n_nxt == n_live:
            return nxt, n_nxt, rounds
        live, n_live = nxt, n_nxt
        if not n_live and rounds:
            # empty is a fixpoint: charge its no-change round, skip its jobs
            return live, 0, rounds - 1
    raise RuntimeError(exhausted)


def _und_nodes(und: DataFrame, name: str = "n") -> DataFrame:
    """Both endpoints of each (a, b) edge as one column ``name``
    (duplicates kept: grouped, it gives the degrees)."""
    return (und.select(F.col("a").alias(name))
            .unionByName(und.select(F.col("b").alias(name))))


def _und_adj(und: DataFrame) -> DataFrame:
    """The symmetric adjacency of (a, b) edges: (n, m) for both
    directions, i.e. n has neighbor m."""
    return (und.select(F.col("a").alias("n"), F.col("b").alias("m"))
            .unionByName(und.select(F.col("b").alias("n"),
                                    F.col("a").alias("m"))))


def _core_step(k: int) -> Callable[[DataFrame], DataFrame]:
    """kcore/coreness round: the (a, b) edges of ``live`` whose both
    endpoints have degree >= k in ``live``."""
    def step(live: DataFrame) -> DataFrame:
        keep = (_und_nodes(live).groupBy("n").agg(F.count("*").alias("d"))
                .filter(F.col("d") >= k).select("n"))
        return (live.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
                .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
                .select("a", "b"))
    return step


def _truss_step(k: int) -> Callable[[DataFrame], DataFrame]:
    """ktruss/trussness round: the (a, b, support) edges of ``live``
    closing >= k-2 triangles in ``live``, with that support."""
    def step(live: DataFrame) -> DataFrame:
        live = live.select("a", "b")
        tri = _oriented_triangles(live)
        # (u,v,w) is degree-oriented, not sorted — normalize each of
        # the triangle's three edges back to (a < b)
        sup = (
            tri.select(F.least("u", "v").alias("a"),
                       F.greatest("u", "v").alias("b"))
            .unionByName(tri.select(F.least("u", "w").alias("a"),
                                    F.greatest("u", "w").alias("b")))
            .unionByName(tri.select(F.least("v", "w").alias("a"),
                                    F.greatest("v", "w").alias("b")))
            .groupBy("a", "b").agg(F.count("*").alias("support"))
        )
        return (live.join(sup, ["a", "b"], "left")
                .select("a", "b",
                        F.coalesce("support", F.lit(0)).alias("support"))
                .filter(F.col("support") >= k - 2))
    return step


def _luby_priority(r: int, *cols: str) -> Column:
    """Round ``r``'s Luby priority of the row keyed by ``cols``: the
    first 15 hex digits of md5("r:col:...") as a bigint — a pure
    function of (round, key), so every run, partitioning and engine
    draws the same (the DuckDB twins hash the same string)."""
    return F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit(str(r)), *[F.col(c).cast("string") for c in cols])),
        1, 15), 16, 10).cast("bigint")


def bfs_distances(seeds: DataFrame, edges: DataFrame,
                  max_rounds: int = 30) -> DataFrame:
    """Directed BFS hop distance from a seed set.

    ``seeds``: one column ``node_id`` (distance 0).
    ``edges``: columns ``src, dst`` (directed; duplicates tolerated).
    Returns (node_id, dist) for every node reachable within
    ``max_rounds`` hops; dist is the MINIMUM hop count (level-
    synchronous BFS visits each node first at its true distance).

    This is the multi-source sweep with every seed under ONE shared
    key: each round is frontier ⋈ edges -> candidate next level,
    anti-join the visited set, distinct, checkpoint. Stops early on an
    empty frontier, so total work is O(sum of frontier sizes), not
    O(rounds * |V|)."""
    return (_multi_source_sweep(seeds, edges, max_rounds, shared_seed=True)
            .select(F.col("node").alias("node_id"), "dist"))


# 12-decimal grid: fine enough that 5 damped iterations lose no
# meaningful precision, coarse enough that both engines' double
# round() agree (the proven suite.py money-sum scale).
_GRID = 12


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    """Balanced unionByName tree (depth log2 n). A left-fold union
    chain nests the analyzer recursion once per input and overflows
    the JVM stack beyond a few hundred — exactly the shape of
    per-round accumulators (peel lists, BFS visited sets, backward-
    sweep dependencies) on deep graphs, where rounds ∝ depth/diameter.
    Inputs are typically checkpointed frames, so the union itself is
    pure metadata either way; only the tree SHAPE changes."""
    if not dfs:
        raise ValueError("_union_all: empty input")
    while len(dfs) > 1:
        dfs = [dfs[i].unionByName(dfs[i + 1]) if i + 1 < len(dfs)
               else dfs[i] for i in range(0, len(dfs), 2)]
    return dfs[0]


def _endpoints(edges: DataFrame) -> DataFrame:
    """Distinct ``node_id`` over both endpoints of (src, dst) edges."""
    return (edges.select(F.col("src").alias("node_id"))
            .unionByName(edges.select(F.col("dst").alias("node_id")))
            .distinct())


def _und_simple(edges: DataFrame, eager: bool | None = True) -> DataFrame:
    """The undirected-simple-graph normalization every symmetric
    algorithm starts from: drop self-loops, canonicalize each edge to
    (a, b) with a < b, dedupe. ``eager=None`` skips the checkpoint
    (callers that immediately derive and checkpoint something else)."""
    und = (edges.filter(F.col("src") != F.col("dst"))
           .select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"))
           .distinct())
    return und if eager is None else und.localCheckpoint(eager=eager)


def _dangling_mass(ranks: DataFrame, dang: DataFrame) -> DataFrame:
    """1-row DataFrame with the total rank mass sitting on dangling
    nodes, summed on the cross-engine decimal grid (round to 12 dp —
    a no-op re-round of already-grid values, kept so the Spark and
    DuckDB expression trees are identical — then EXACT decimal sum,
    then one deterministic cast back to double)."""
    return (ranks.join(dang, "node_id", "left_semi")
            .agg(F.coalesce(
                F.sum(F.round(F.col("rank"), _GRID)
                      .cast(f"decimal(28,{_GRID})")),
                F.lit(0).cast(f"decimal(28,{_GRID})"))
                .cast("double").alias("_dmass")))


def _rank_graph(edges: DataFrame, dangling: str, who: str,
                weight_col: str | None = None
                ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """The setup pagerank and personalized_pagerank share: checkpointed
    (src, dst[, w]) edges, the checkpointed node set, and the dangling
    (no out-edge) node set — None when ``dangling="ignore"`` or when
    there are no sinks. Round 6: emptiness is probed on the LAZY
    anti-join first (one limit-1 job), and the dangling set is only
    checkpointed when non-empty — sink-free graphs (the common suite
    shape) skip a checkpoint job."""
    if dangling not in ("redistribute", "assert_none", "ignore"):
        raise ValueError(f"{who}: unknown dangling mode {dangling!r}")
    cols = [F.col("src"), F.col("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("w"))
    edges = edges.select(*cols).localCheckpoint(eager=True)
    nodes = _endpoints(edges).localCheckpoint(eager=True)
    if dangling == "ignore":
        return edges, nodes, None
    dang = nodes.join(
        edges.select(F.col("src").alias("node_id")).distinct(),
        "node_id", "left_anti")
    if dang.isEmpty():
        return edges, nodes, None  # sink-free: redistribute is a no-op
    if dangling == "assert_none":
        raise ValueError(
            f"{who}(dangling='assert_none'): graph has nodes with no "
            "out-edges; pass dangling='redistribute' or augment")
    return edges, nodes, dang.localCheckpoint(eager=True)


def _power_rounds(edges: DataFrame, base: DataFrame, ranks: DataFrame,
                  iterations: int, damping: float, teleport: Column,
                  dangling_share: Column,
                  dang: DataFrame | None) -> list[DataFrame]:
    """The PageRank round body shared by pagerank and
    personalized_pagerank; returns the per-iteration rank frames
    (iteration 0 = ``ranks``). Each round is one join of the adjacency
    with the rank vector, a decimal-grid inflow sum per dst, and the
    damped update over ``base`` (node_id plus whatever columns
    ``teleport``/``dangling_share`` read):
    ``round(teleport + damping * (inflow + dangling_share), 12)``,
    where the dangling share (read from the broadcast 1-row ``_dmass``)
    only enters when ``dang`` is a non-empty sink set. A weighted edge
    set (column ``w``) splits rank w/sum_w per source instead of
    uniformly.

    (src, dst, out_deg) is loop-invariant and persisted hash-partitioned
    on src, so each iteration's rank join shuffles only the |V|-sized
    rank vector, never the |E|-sized adjacency. No eager adj.count()
    (round 6): the first round's job fills the cache."""
    weighted = "w" in edges.columns
    out_deg = edges.groupBy("src").agg(
        (F.sum("w") if weighted else F.count("*")).alias("out_deg"))
    share = (F.col("rank") * F.col("w") / F.col("out_deg") if weighted
             else F.col("rank") / F.col("out_deg"))
    with _persisted(edges.join(out_deg, "src")) as adj:
        def step(_, hist):
            ranks = hist[-1]
            contrib = (adj.join(ranks, adj.src == ranks.node_id)
                       .select(F.col("dst"),
                               F.round(share, _GRID)
                               .cast(f"decimal(28,{_GRID})")
                               .alias("contrib")))
            inflow = contrib.groupBy("dst").agg(
                F.sum("contrib").cast("double").alias("inflow"))
            upd = base.join(inflow, base.node_id == inflow.dst, "left")
            gain = F.coalesce("inflow", F.lit(0.0))
            if dang is not None:
                # the 1-row aggregate broadcasts, so the whole update
                # is still one job
                upd = upd.crossJoin(F.broadcast(_dangling_mass(ranks, dang)))
                gain = gain + dangling_share
            return upd.select(
                "node_id",
                F.round(teleport + F.lit(damping) * gain,
                        _GRID).alias("rank"))

        return _rounds(step, ranks, iterations, until_empty=False)


def _rank_result(hist: list[DataFrame], return_history: bool,
                 out_scale: int) -> DataFrame:
    """Final ranks rounded to ``out_scale``, or with ``return_history``
    the per-iteration GRID ranks (node_id, iter, rank), iter 0..k — the
    warm state pagerank_incremental consumes."""
    if return_history:
        return _union_all([h.withColumn("iter", F.lit(i))
                           for i, h in enumerate(hist)])
    return hist[-1].select("node_id",
                           F.round("rank", out_scale).alias("rank"))


def pagerank(edges: DataFrame, iterations: int = 5,
             damping: float = 0.85, out_scale: int = 8,
             dangling: str = "redistribute",
             normalized: bool = True,
             return_history: bool = False,
             weight_col: str | None = None) -> DataFrame:
    """Fixed-iteration PageRank over a directed multigraph.

    ``edges``: (src, dst); parallel edges each carry their own share
    of the source's rank (out_degree counts multiplicity).

    ``dangling`` controls sink-node (no out-edge) rank mass — the
    common real-KG shape, where leaf entities are referenced but never
    described:

    - ``"redistribute"`` (default): each iteration sums the rank on
      dangling nodes (1-row aggregate, broadcast-cross-joined into the
      update — the round stays a single job) and hands every node an
      equal share, so ranks keep summing to 1 and the result equals
      true PageRank. If the upfront dangling-set check finds no sinks,
      the term is skipped entirely and the plan is identical to the
      sink-free fast path.
    - ``"assert_none"``: raise ``ValueError`` if any node lacks an
      out-edge (the round-3 docstring promise, now real).
    - ``"ignore"``: legacy behavior — dangling mass leaks each
      iteration (ranks no longer sum to 1); only for callers that
      pre-augmented the graph themselves.

    Deterministic across engines: contributions are
    ``round(rank / out_deg, 12)`` (IEEE double division is correctly
    rounded in both engines), summed exactly as decimal(28,12), and
    the damped update is re-rounded to the same grid — the rank
    vector is identical bit-for-bit in Spark and DuckDB at every
    iteration. The dangling share uses the same protocol:
    ``round(decimal_sum(rank)::double / n, 12)`` added INSIDE the
    damped term, so the dangling oracle unrolls to the same doubles.
    Output rank is rounded to ``out_scale``.

    ``weight_col``: integer edge weights — rank splits w/sum_w per
    source instead of uniformly (``round(rank*w/sum_w, 12)`` on the
    same grid, so the weighted oracle unrolls identically). Zero-total
    sources would divide by zero; weights must be positive.

    ``return_history=True`` returns the full per-iteration rank table
    (node_id, iter, rank) on the 12-dp grid instead of the final
    rounded vector — the warm state ``pagerank_incremental`` resumes
    from when the edge set changes.
    """
    edges, nodes, dang = _rank_graph(edges, dangling, "pagerank",
                                     weight_col)
    n = nodes.count()
    # normalized=False: the classic unnormalized formulation (init 1,
    # teleport 1-d; ranks sum to |V|, the ordering is identical). Its
    # constants don't involve |V|, so a cross-engine oracle needs no
    # node-count literal — used by graphs whose size is data-dependent
    # (e.g. the web host graph).
    if normalized:
        init = round(1.0 / n, _GRID)
        teleport = round((1.0 - damping) / n, _GRID)
    else:
        init = 1.0
        teleport = round(1.0 - damping, _GRID)
    # Round-6 note (measured, kept for the record): two "obvious"
    # restructurings were A/B-tested here and REVERTED because both
    # were slower on the suite graph in a 0%-steal window — (a)
    # persisting nodes to preserve distinct()'s hash-partitioning
    # (pins every round to the cached 32-partition layout, defeating
    # AQE's coalescing of these tiny shuffles), and (b) running 4
    # rounds lazily between checkpoints (one mega AQE query re-plans
    # per stage; per-round eager checkpoints measured 1.7-2.5 s vs
    # 2.9-3.8 s for the lazy chain). The cheap job cuts that DID
    # survive: the lazy dangling probe and no eager adj.count().
    ranks = nodes.withColumn("rank", F.lit(init)).localCheckpoint(eager=True)
    hist = _power_rounds(
        edges, nodes, ranks, iterations, damping, F.lit(teleport),
        F.round(F.col("_dmass") / F.lit(float(n)), _GRID), dang)
    return _rank_result(hist, return_history, out_scale)


def pagerank_incremental(edges_old: DataFrame, edges_new: DataFrame,
                         history: DataFrame, iterations: int = 5,
                         damping: float = 0.85, out_scale: int = 8,
                         normalized: bool = True,
                         stats: dict | None = None,
                         added: DataFrame | None = None,
                         removed: DataFrame | None = None) -> DataFrame:
    """Delta-proportional PageRank maintenance: given the OLD graph's
    per-iteration rank history (``pagerank(edges_old, ...,
    return_history=True)``) and a new edge set, produce ranks
    BIT-IDENTICAL to ``pagerank(edges_new, iterations, ...)`` while
    recomputing only the nodes the delta can actually reach.

    The exactness argument: with fixed-iteration semantics,
    ``rank_t(v)`` is a pure function of v's in-edge multiset, its
    in-neighbors' ``rank_{t-1}``, and their out-degrees. So
    ``rank_t^{new}(v) != rank_t^{old}(v)`` is only possible if
    (a) v's in-edge set changed, (b) an in-neighbor's out-degree
    changed, or (c) an in-neighbor's ``rank_{t-1}`` changed. (a)+(b)
    form the round-invariant STATIC affected set (dst endpoints of
    added/removed edges + new-graph out-neighbors of degree-changed
    sources + brand-new nodes); (c) propagates one hop per iteration
    from the previous round's recomputed set. Each round therefore
    recomputes a SUPERSET of the truly-changed nodes — affected nodes
    whose inputs turn out unchanged reproduce their old value exactly
    (same grid formula) and simply stop propagating. Everything else
    keeps its history value, which is provably the recompute value.

    TWO COST REGIMES, one semantics:

    - **changelog path** (pass ``added``/``removed`` — e.g. from the
      snapshot layer's change feed): the full graph is touched ONLY by
      map-side scans of the cached new edge list (per-round in-edge
      gather, needed-source out-degrees, history lookups — all
      broadcast semi-joins against delta-sized sets) plus one cached
      scan of the history per round. No full-graph shuffle exists
      anywhere: degree changes derive from the delta's src endpoints,
      node births/deaths are checked only at delta endpoints, and the
      final result is the cached history's last iteration overlaid
      with the recomputed rows. This is the 100x-scale path; the
      2M-node probe archived in BENCH/BASELINE.md ("Round-5
      new-operator probes") measured it beating cold recompute.
    - **diff path** (no changelog): the delta is derived by two
      exceptAll multiset comparisons and the node universe is rebuilt
      and fully cross-checked — correct anywhere, but pays fixed
      full-graph costs comparable to ~one cold run; use it when no
      change feed exists.

    Locality constraints (checked, not assumed):
    - the new graph must be SINK-FREE — the dangling-mass term is a
      global sum, one changed sink would touch every node (on the
      changelog path only the removed edges' sources can become
      sinks, so exactly those are checked; the OLD graph being
      sink-free is the caller's contract — history produced with an
      active dangling term would poison the formula either way).
    - with ``normalized=True`` the node SET must be unchanged (init
      and teleport are 1/n — a node-count change shifts every rank).
      ``normalized=False`` (constants independent of n) accepts node
      additions/removals.
    - the affected set is broadcast each round BY CONTRACT (it is
      delta-proportional); a delta touching most of the graph should
      be a cold recompute instead.

    ``stats``, when passed, receives {"affected": [per-round counts],
    "n_nodes": n} — the delta-proportionality evidence the probes
    assert on. Returns (node_id, rank) rounded to ``out_scale``,
    exactly as ``pagerank`` does.
    """
    if (added is None) != (removed is None):
        raise ValueError("pagerank_incremental: pass added AND removed "
                         "(the changelog), or neither (exceptAll diff)")
    e_old = edges_old.select("src", "dst")
    e_new = edges_new.select("src", "dst").persist()
    hist = history.select("node_id", "iter", "rank").persist()
    # out-degrees once (one shuffle), probed per round by broadcast
    # semi-join — a 2M-row cached scan per round instead of re-counting
    # from the 6M-row edge list
    out_deg_all = (e_new.groupBy("src").agg(F.count("*").alias("out_deg"))
                   .persist())
    try:
        changelog = added is not None
        if not changelog:
            # no changelog available: derive the delta by multiset
            # diff — two full-edge-set comparisons (the moderate-scale
            # path)
            added = e_new.exceptAll(e_old).localCheckpoint(eager=True)
            removed = e_old.exceptAll(e_new).localCheckpoint(eager=True)
        else:
            added = added.select("src", "dst") \
                .localCheckpoint(eager=True)
            removed = removed.select("src", "dst") \
                .localCheckpoint(eager=True)

        hist_depth = hist.agg(F.max("iter")).collect()[0][0]
        if hist_depth is None or hist_depth < iterations:
            raise ValueError(
                f"pagerank_incremental: history covers iterations "
                f"0..{hist_depth}, need {iterations} — rerun "
                f"pagerank(edges_old, iterations={iterations}, "
                f"return_history=True)")
        hist_nodes = hist.filter(F.col("iter") == 0).select("node_id")

        def _members(universe_col_pairs, probe: DataFrame) -> DataFrame:
            """Which rows of small ``probe`` (node_id) appear in any of
            the (df, col) universes — each test a broadcast-probe
            map-side semi-scan of the cached big side, inverted so the
            BIG side streams and the SMALL side builds."""
            parts = [df.join(F.broadcast(probe),
                             df[col] == probe["node_id"], "left_semi")
                     .select(df[col].alias("node_id"))
                     for df, col in universe_col_pairs]
            return _union_all(parts).distinct()

        dend = (added.select(F.col("src").alias("node_id"))
                .unionByName(added.select(F.col("dst").alias("node_id")))
                .unionByName(removed.select(F.col("src").alias("node_id")))
                .unionByName(removed.select(F.col("dst").alias("node_id")))
                .distinct().localCheckpoint(eager=True))
        # node births/deaths happen only at delta endpoints
        known = _members([(hist_nodes, "node_id")], dend) \
            .localCheckpoint(eager=True)
        new_nodes = dend.join(known, "node_id", "left_anti") \
            .localCheckpoint(eager=True)
        rem_end = _endpoints(removed)
        still_there = _members([(e_new, "src"), (e_new, "dst")],
                               rem_end).localCheckpoint(eager=True)
        dead = rem_end.join(still_there, "node_id", "left_anti") \
            .localCheckpoint(eager=True)
        n_new_nodes, n_dead = new_nodes.count(), dead.count()

        if normalized:
            if n_new_nodes or n_dead:
                raise ValueError(
                    "pagerank_incremental(normalized=True): node set "
                    "changed — 1/n constants shift every rank; "
                    "recompute, or use normalized=False")
            n = hist_nodes.count()
            init = round(1.0 / n, _GRID)
            teleport = round((1.0 - damping) / n, _GRID)
        else:
            n = None
            init = 1.0
            teleport = round(1.0 - damping, _GRID)

        # sink check: on the changelog path only a removed edge's
        # source can LOSE its last out-edge, so exactly those are probed
        # (the old graph being sink-free is the documented caller
        # contract); the diff path keeps the full whole-graph check,
        # since it makes no assumption about how the inputs were
        # produced
        if changelog:
            sink_cand = (removed.select(F.col("src").alias("node_id"))
                         .distinct())
            has_out = _members([(e_new, "src")], sink_cand)
            sinks = sink_cand.join(has_out, "node_id", "left_anti")
        else:
            sinks = (e_new.select(F.col("dst").alias("node_id")).distinct()
                     .join(e_new.select(F.col("src").alias("node_id"))
                           .distinct(), "node_id", "left_anti"))
        if not sinks.isEmpty():
            raise ValueError(
                "pagerank_incremental: the new graph has sink nodes — "
                "the dangling-mass term is global, incremental "
                "maintenance cannot stay local; pre-augment the graph")

        # static affected set: delta-edge dsts + out-neighbors of
        # degree-changed sources (== delta src endpoints) + new nodes
        deg_changed = (added.select("src")
                       .unionByName(removed.select("src")).distinct())
        static_aff = (
            added.select("dst").unionByName(removed.select("dst"))
            .unionByName(e_new.join(F.broadcast(deg_changed), "src",
                                    "left_semi").select("dst"))
            .select(F.col("dst").alias("node_id"))
            .unionByName(new_nodes)
            .distinct()
            .join(dead, "node_id", "left_anti")
            .localCheckpoint(eager=True))
        if stats is not None:
            stats["n_nodes"] = n
            stats["affected"] = []

        changed: DataFrame | None = None
        for t in range(1, iterations + 1):
            aff = static_aff
            if changed is not None:
                # one-hop forward propagation, map-side over the cached
                # edge list (the changed set broadcasts by contract)
                aff = (aff.unionByName(
                    e_new.join(F.broadcast(changed.select("node_id")
                                           .withColumnRenamed("node_id",
                                                              "src")),
                               "src", "left_semi")
                    .select(F.col("dst").alias("node_id")))
                    .distinct())
            # in-edges of the affected set + out-degrees of exactly the
            # sources that appear — two map-side scans of the cached
            # edges
            in_edges = e_new.join(
                F.broadcast(aff.withColumnRenamed("node_id", "dst")),
                "dst", "left_semi").localCheckpoint(eager=True)
            srcs = in_edges.select("src").distinct()
            out_deg = out_deg_all.join(F.broadcast(srcs), "src",
                                       "left_semi")
            gather = in_edges.join(F.broadcast(out_deg), "src")
            # history lookup pruned to the gather's sources FIRST (a
            # map-side scan of the cached history, never a full shuffle)
            prev_h = (hist.filter(F.col("iter") == t - 1)
                      .join(F.broadcast(srcs),
                            hist.node_id == srcs.src, "left_semi")
                      .select(F.col("node_id").alias("src"),
                              F.col("rank").alias("h_rank")))
            if changed is not None:
                gather = gather.join(
                    F.broadcast(changed.select(
                        F.col("node_id").alias("src"),
                        F.col("rank").alias("c_rank"))),
                    "src", "left")
            else:
                gather = gather.withColumn("c_rank",
                                           F.lit(None).cast("double"))
            gather = gather.join(F.broadcast(prev_h), "src", "left")
            contrib = gather.select(
                "dst",
                F.round(F.coalesce("c_rank", "h_rank", F.lit(init))
                        / F.col("out_deg"), _GRID)
                .cast(f"decimal(28,{_GRID})").alias("contrib"))
            inflow = contrib.groupBy("dst").agg(
                F.sum("contrib").cast("double").alias("inflow"))
            changed = (
                aff.join(inflow, aff.node_id == inflow.dst, "left")
                .select(
                    "node_id",
                    F.round(F.lit(teleport)
                            + F.lit(damping)
                            * F.coalesce("inflow", F.lit(0.0)),
                            _GRID).alias("rank"))
                .localCheckpoint(eager=True))
            if stats is not None:
                stats["affected"].append(changed.count())
        assert changed is not None
        # final overlay: the history's last iteration, minus dead
        # nodes, recomputed rows substituted, brand-new nodes appended
        # — one map-side scan of the history, zero full-graph shuffles
        hk = (hist.filter(F.col("iter") == iterations)
              .select("node_id", F.col("rank").alias("h_rank")))
        if n_dead:
            hk = hk.join(F.broadcast(dead), "node_id", "left_anti")
        out = (hk.join(F.broadcast(changed.withColumnRenamed("rank",
                                                             "c_rank")),
                       "node_id", "left")
               .select("node_id",
                       F.coalesce("c_rank", "h_rank").alias("rank")))
        if n_new_nodes:
            out = out.unionByName(
                changed.join(F.broadcast(new_nodes), "node_id",
                             "left_semi").select("node_id", "rank"))
        out = out.select("node_id",
                         F.round("rank", out_scale).alias("rank"))
        return out
    finally:
        # ``out`` reads the history's last iteration lazily; released
        # here, the caller's action re-reads it from ``history``
        for df in (e_new, hist, out_deg_all):
            df.unpersist()


def _oriented_triangles(und: DataFrame) -> DataFrame:
    """Each triangle of the undirected simple edge set ``und``
    (columns a < b) exactly once, as (u, v, w) via low-degree->high-
    degree orientation (ties on id) — the Suri & Vassilvitskii MR
    enumeration: wedges form only at each edge's cheap end, O(d) rows
    per degree-d hub. The triangle SET equals naive a<b<c
    enumeration; only the plan is skew-safe."""
    deg = _und_nodes(und).groupBy("n").agg(F.count("*").alias("d"))
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    ori = (
        und.join(da, "a").join(db, "b")
        .select(F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
                F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"))
        .localCheckpoint(eager=True)
    )
    e2 = ori.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = ori.select(F.col("u").alias("tu"), F.col("v").alias("tw"))
    return (
        ori.join(e2, "v")                 # wedge u->v->w at u (low deg)
        .join(e3, (F.col("u") == F.col("tu")) & (F.col("w") == F.col("tw")))
        .select("u", "v", "w")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation count over the undirected simple
    graph induced by ``edges`` (direction and duplicates dropped,
    self-loops ignored).

    Edges are oriented LOW-DEGREE -> HIGH-DEGREE endpoint (ties break
    on id) — the MR triangle-enumeration trick (Suri &
    Vassilvitskii): wedges form only at each edge's lower-degree end,
    so a degree-d hub contributes O(d) wedge rows instead of O(d^2)
    and the enumeration survives power-law graphs. Each triangle has
    exactly one degree-minimal corner, so it is counted once; the
    OUTPUT is identical to naive a<b<c orientation (which is what the
    DuckDB oracle runs — same triangle set, skew-safe plan here).
    Returns (node_id, n_triangles) for nodes in >=1 triangle.
    """
    und = _und_simple(edges)
    tri = _oriented_triangles(und)
    per_node = (
        tri.select(F.col("u").alias("node_id"))
        .unionByName(tri.select(F.col("v").alias("node_id")))
        .unionByName(tri.select(F.col("w").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          iterations: int = 5, damping: float = 0.85,
                          out_scale: int = 8,
                          dangling: str = "redistribute",
                          return_history: bool = False) -> DataFrame:
    """Personalized PageRank: teleport mass goes to ``seeds`` (one
    column ``node_id``) instead of uniformly — importance RELATIVE TO
    a seed set, the query a KG consumer asks to rank entities around
    a topic. It runs :func:`pagerank`'s round body with the teleport
    vector t(v) (1/|seeds| on seeds, 0 elsewhere) and the dangling
    share passed in as columns, so the execution and determinism
    contract is pagerank's (persisted src-partitioned adjacency,
    decimal-grid updates, bit-exact vs the unrolled DuckDB oracle).

    ``dangling`` follows :func:`pagerank`, except redistributed mass
    lands on the TELEPORT vector (the personalized analog of the
    uniform share): gain = inflow + round(dmass * t(v), 12) — mass
    flows back to the seed neighborhood instead of diluting the whole
    graph. Sink-free graphs skip the term after one upfront check."""
    edges, nodes, dang = _rank_graph(edges, dangling,
                                     "personalized_pagerank")
    n_seeds = seeds.select("node_id").distinct().count()
    tv = round(1.0 / n_seeds, _GRID)
    base = (
        nodes.join(seeds.select("node_id").distinct()
                   .withColumn("_s", F.lit(True)), "node_id", "left")
        .select("node_id",
                F.when(F.col("_s"), F.lit(tv)).otherwise(F.lit(0.0))
                .alias("t"))
        .localCheckpoint(eager=True)
    )
    hist = _power_rounds(
        edges, base, base.select("node_id", F.col("t").alias("rank")),
        iterations, damping, F.lit(1.0 - damping) * F.col("t"),
        F.round(F.col("_dmass") * F.col("t"), _GRID), dang)
    return _rank_result(hist, return_history, out_scale)


def _least(parts: list[DataFrame], col: str,
           alias: str | None = None) -> DataFrame:
    """Per-node minimum of ``col`` over a relaxation loop's rounds.
    Each round emits only strict improvements, so the minimum is the
    node's current label — no per-round merge is rewritten."""
    return (_union_all(parts).groupBy("node_id")
            .agg(F.min(col).alias(alias or col)))


def sssp(seeds: DataFrame, edges: DataFrame,
         max_rounds: int = 50) -> DataFrame:
    """Single-source (multi-seed) shortest paths over a weighted
    directed graph — the KG consumer's "cheapest derivation chain"
    query (edge weights = link costs / hop penalties).

    ``seeds``: column ``node_id`` (distance 0). ``edges``: columns
    ``src, dst, w`` with NON-NEGATIVE weights (parallel edges fine —
    relaxation takes the min). Returns (node_id, dist) with the exact
    minimum path weight for every reachable node.

    Execution is frontier Bellman-Ford (delta-free): each round
    relaxes ONLY the frontier — nodes whose distance improved last
    round — against the (persisted, src-hash-partitioned) edge set,
    takes the per-dst min offer, and keeps offers that beat the
    current label (the per-node min over the rounds' improvements,
    joined on node id — both sides hash-partitioned by their
    aggregates). Work per round follows the improvement
    wavefront exactly as ``bfs_distances``; with non-negative weights
    the frontier empties after at most |V| rounds (in practice ~the
    weighted diameter). Raises if ``max_rounds`` is hit with a
    non-empty frontier rather than returning wrong distances.

    Determinism: integer (or decimal) weights make every distance an
    exact value — both engines agree bit-for-bit; the DuckDB oracle
    unrolls the same relaxation (suite._sssp_sql)."""
    dists = (seeds.select("node_id").distinct()
             .withColumn("dist", F.lit(0).cast("long"))
             .localCheckpoint(eager=True))
    with _persisted(edges.select("src", "dst", "w")) as e:
        def step(_, parts):
            frontier = parts[-1]
            return (frontier.join(e, frontier.node_id == e.src)
                    .groupBy(F.col("dst").alias("node_id"))
                    .agg(F.min(F.col("dist") + F.col("w")).alias("offer"))
                    .join(_least(parts, "dist"), "node_id", "left")
                    .filter(F.col("dist").isNull()
                            | (F.col("offer") < F.col("dist")))
                    .select("node_id", F.col("offer").alias("dist")))

        parts = _rounds(step, dists, max_rounds, exhausted=(
            f"sssp: frontier still active after {max_rounds} rounds "
            "(negative weights or pathological graph?)"))
    return _least(parts, "dist")


def temporal_reach(seeds: DataFrame, edges: DataFrame,
                   max_rounds: int = 60) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL graph (the
    contact-sequence model of Holme & Saramäki): an edge
    (src, dst, t) can be traversed only at its contact time t, and
    only if you are already at src by then (t >= arrival(src)); you
    then stand at dst from time t. Time-respecting paths are what
    static reachability gets WRONG on event data — A->B at t=5 and
    B->C at t=3 do NOT connect A to C. This is the primitive behind
    "what could this crawl/update/infection have influenced"
    questions over the events stream.

    ``seeds``: node_id (present at their node from time 0).
    ``edges``: (src, dst, t) with non-negative integer contact times.
    Returns (node_id, arrival) — the provably minimal arrival time
    per reachable node (earlier arrival admits a superset of outgoing
    contacts, so min-arrival has optimal substructure and frontier
    relaxation converges exactly, as in sssp).

    Scale shape: identical to sssp — per round the IMPROVED frontier
    joins the (persisted, src-hash-partitioned) contact set with the
    admissibility predicate, one per-dst min, one improvement join;
    work follows the wavefront. One emptiness probe per round.

    Oracle twin: the graph_temporal_reach entry (recursive CTE over
    (node, arrival) pairs — finite contact times make the closure
    small).
    """
    dist = (seeds.select("node_id").distinct()
            .withColumn("arr", F.lit(0).cast("long"))
            .localCheckpoint(eager=True))
    with _persisted(edges.select("src", "dst",
                                 F.col("t").cast("long").alias("t"))) as e:
        def step(_, parts):
            frontier = parts[-1]
            return (frontier.join(e, (frontier.node_id == e.src)
                                  & (e.t >= frontier.arr))
                    .groupBy(F.col("dst").alias("node_id"))
                    .agg(F.min("t").alias("cand"))
                    .join(_least(parts, "arr"), "node_id", "left")
                    .filter(F.col("arr").isNull()
                            | (F.col("cand") < F.col("arr")))
                    .select("node_id", F.col("cand").alias("arr")))

        parts = _rounds(step, dist, max_rounds, exhausted=(
            f"temporal_reach: no convergence in {max_rounds} rounds"))
    return _least(parts, "arr", "arrival")


def propagate_labels(seeds: DataFrame, edges: DataFrame,
                     max_rounds: int = 30) -> DataFrame:
    """Multi-source label propagation: every reachable node takes the
    label of its NEAREST seed (directed hops); equal-distance ties
    break on the smaller label — fully deterministic, so the driver
    oracle re-derives it with a recursive CTE. The KG use case: seed a
    few entities with types/communities and flood the neighborhood.

    Execution = :func:`bfs_distances` with a label payload: per round
    one frontier-sized join against the (persisted, src-partitioned)
    edge set, a min-label aggregate over the round's offers, and an
    anti-join against the already-labeled set. Work follows the
    wavefront; the edge set is shuffled once."""
    labeled = (seeds.select("node_id", "label")
               .groupBy("node_id").agg(F.min("label").alias("label"))
               .withColumn("dist", F.lit(0))
               .localCheckpoint(eager=True))
    with _persisted(edges.select("src", "dst")) as e:
        def step(r, parts):
            frontier = parts[-1]
            return (frontier.join(e, frontier.node_id == e.src)
                    .groupBy(F.col("dst").alias("node_id"))
                    .agg(F.min("label").alias("label"))
                    .join(_union_all(parts).select("node_id"), "node_id",
                          "left_anti")
                    .withColumn("dist", F.lit(r)))

        return _union_all(_rounds(step, labeled, max_rounds))


def kcore(edges: DataFrame, k: int, max_rounds: int = 30) -> DataFrame:
    """The k-core of the undirected simple graph induced by ``edges``:
    the maximal subgraph where every node has degree >= k, computed by
    iterative peeling (drop nodes with degree < k, recompute, repeat
    to fixpoint). Returns (node_id, core_degree) — the node's degree
    WITHIN the k-core.

    Each round is one degree aggregation over the surviving edge set +
    a semi-join filter (``_core_step``), run to fixpoint by ``_peel``
    (peeling converges in <= |V| rounds, in practice a handful).
    Raises if not converged by ``max_rounds`` (the driver-oracle
    contract needs the true fixpoint, not a truncation)."""
    live = _und_simple(edges)
    core, _, _ = _peel(_core_step(k), live, live.count(), max_rounds,
                       f"kcore: no convergence in {max_rounds} rounds")
    return (_und_nodes(core, "node_id").groupBy("node_id")
            .agg(F.count("*").alias("core_degree")))


def coreness(edges: DataFrame, max_rounds: int = 200) -> DataFrame:
    """Full core decomposition: coreness(v) = the maximum k such that
    v belongs to the k-core — ``kcore`` asks one k, this labels every
    node (the standard graph-mining output for influence ranking and
    dense-subgraph screening). Ascending-threshold peeling: peel at
    k=1 to fixpoint, raise k, re-peel the SURVIVORS, repeat until the
    graph is gone; a node removed while the threshold is k has
    coreness k-1. Nodes recorded as removed are the endpoint-set
    difference nodes(before k) - nodes(after k), NOT just the degree<k
    set — a node can lose its last edge because its neighbors dropped,
    without ever itself showing degree < k in a surviving edge.

    Returns (node_id, coreness) for every non-isolated node.

    Scale shape: identical per-round cost to kcore (``_core_step``);
    ``max_rounds`` bounds the peel rounds over all thresholds (see
    ``_peel``), plus one labeling anti-join per threshold that removed
    nodes.

    Oracle twin: _coreness_sql in operators/suite.py (max-k
    membership over per-k unrolled peels — provably the same
    labeling).
    """
    live = _und_simple(edges)
    n_live = live.count()
    parts: list[DataFrame] = []
    k, left = 1, max_rounds
    while n_live:
        before, n_before = live, n_live
        live, n_live, left = _peel(
            _core_step(k), live, n_live, left,
            f"coreness: no convergence in {max_rounds} rounds")
        if n_live != n_before:
            parts.append(
                _und_nodes(before).distinct()
                .join(_und_nodes(live).distinct(), "n", "left_anti")
                .select(F.col("n").alias("node_id"),
                        F.lit(k - 1).cast("int").alias("coreness"))
                .localCheckpoint(eager=True))
        k += 1
    if not parts:
        return live.select(F.col("a").alias("node_id"),
                           F.lit(0).cast("int").alias("coreness"))
    return _union_all(parts)


def topo_layers(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Topological layering of a directed dependency graph (Kahn's
    algorithm by rounds, the public construction): layer 0 = nodes
    with no in-edges; layer r = nodes whose every in-edge comes from
    earlier layers. Nodes inside a cycle — or downstream of one —
    never peel and come back with ``layer`` NULL: exactly the "which
    dependencies can be built in what order, and what's stuck in a
    cycle" question a package-dependency KG answers (npm graphs do
    contain cycles; the reference's semver resolution creates the
    version->version edges this runs over).

    Per round: one distinct-dst projection of the live edge set + two
    anti-joins; the live edge set only shrinks and is checkpointed.
    Rounds are bounded by the longest acyclic in-path, not |V|.

    ONE action per round: ``peel`` is lazily checkpointed and its
    ``count()`` is the round's only real computation. Termination
    state (is the peel empty? are any nodes left?) is carried in
    driver counters off that one count, mirroring the kcore loop —
    the round-4 loop's separate eager-checkpoint actions and two
    ``limit(1).count()`` emptiness probes are gone. Residual cost:
    Spark finalizes each lazy local checkpoint in its own narrow
    single-stage job (cached parents, no shuffle), so the measured
    budget is 4 jobs/round (1 action + 3 finalizations) vs ~11 before
    (pinned by tests/test_graph.py's 120-level-chain probe). Rounds ∝
    DAG depth — npm chains run hundreds of levels, so per-round
    scheduler waste multiplies by depth.
    Returns (node_id, layer int nullable)."""
    e = (edges.filter(F.col("src") != F.col("dst"))
         .select("src", "dst").distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("node_id"))
             .unionByName(e.select(F.col("dst").alias("node_id")))
             .distinct().localCheckpoint(eager=True))
    unassigned, live = nodes, e
    n_unassigned = nodes.count()
    peeled: list[DataFrame] = []
    for r in range(max_rounds):
        blocked = live.select(F.col("dst").alias("node_id")).distinct()
        peel = unassigned.join(blocked, "node_id", "left_anti") \
            .localCheckpoint(eager=False)
        n_peel = peel.count()  # the round's ONE job
        if n_peel == 0:
            break  # only cycle closure remains (or nothing)
        peeled.append(peel.withColumn("layer", F.lit(r)))
        n_unassigned -= n_peel
        if n_unassigned == 0:
            # fully layered: the residual is empty; no extra round (or
            # checkpoint) needed to see it
            unassigned = unassigned.join(peel, "node_id", "left_anti")
            break
        unassigned = unassigned.join(peel, "node_id", "left_anti") \
            .localCheckpoint(eager=False)
        live = live.join(peel.withColumnRenamed("node_id", "src"),
                         "src", "left_anti").localCheckpoint(eager=False)
    else:
        raise RuntimeError(f"topo_layers: not converged in {max_rounds} "
                           "rounds (raise max_rounds)")
    out = _union_all(
        peeled + [unassigned.withColumn("layer",
                                        F.lit(None).cast("int"))])
    return out


def strongly_connected_components(edges: DataFrame,
                                  max_rounds: int = 30) -> DataFrame:
    """SCC partition of a directed graph — the coloring algorithm from
    the public FW-BW/coloring literature (Orzan; Slota et al.), built
    from three DataFrame fixpoints:

    1. TRIM: iteratively peel nodes with in-degree 0 or out-degree 0
       in the live subgraph — each is a singleton SCC (this disposes
       of the DAG portion in O(longest chain) cheap rounds, the known
       fix for naive coloring's chain worst case).
    2. COLOR: forward min-id propagation to fixpoint over what's left
       (color(n) = min id that reaches n, within the live subgraph).
    3. MARK: within each color class, backward-propagate from the
       root (color c marks nodes that REACH c through same-colored
       nodes) — marked nodes form exactly SCC(c); assign, remove,
       repeat from 1.

    Returns (node_id, scc_id) with scc_id = the component's minimum
    node id. Every fixpoint is join+aggregate rounds over checkpointed
    shrinking state; per-round shuffles carry (node, label) pairs.

    Known cost bound (inherent to coloring): the COLOR fixpoint runs
    one round per hop the min id must travel, i.e. rounds ∝ the
    diameter of the largest remaining SCC — fine for real web/
    dependency graphs (SCCs are dense and shallow; the probe's
    1000-node chorded cluster colors in ~30 rounds) but a bare
    N-cycle costs N rounds. Trim guarantees the acyclic portion never
    reaches coloring at all."""
    e_all = (edges.filter(F.col("src") != F.col("dst"))
             .select("src", "dst").distinct().localCheckpoint(eager=True))
    nodes = (e_all.select(F.col("src").alias("n"))
             .unionByName(e_all.select(F.col("dst").alias("n")))
             .distinct().localCheckpoint(eager=True))
    live_n, live_e = nodes, e_all
    # seed with an empty typed frame so a graph with no (non-self-loop)
    # edges returns an empty result instead of crashing the reduce
    done: list[DataFrame] = [
        nodes.limit(0).withColumn("scc_id", F.col("n"))]
    # isolated nodes never enter edges; callers pass edge-defined graphs
    for _ in range(max_rounds):
        if _empty(live_n):
            out = _union_all(done)  # balanced: many trim rounds
            return out.select(F.col("n").alias("node_id"), "scc_id")
        # --- 1. trim singleton SCCs (in-deg 0 or out-deg 0) ---
        while True:
            srcs = live_e.select(F.col("src").alias("n")).distinct()
            dsts = live_e.select(F.col("dst").alias("n")).distinct()
            trivial = (live_n.join(srcs, "n", "left_anti")
                       .unionByName(live_n.join(dsts, "n", "left_anti"))
                       .distinct().localCheckpoint(eager=True))
            if _empty(trivial):
                break
            done.append(trivial.withColumn("scc_id", F.col("n")))
            live_n = live_n.join(trivial, "n", "left_anti") \
                .localCheckpoint(eager=True)
            live_e = (live_e
                      .join(trivial.withColumnRenamed("n", "src"),
                            "src", "left_anti")
                      .join(trivial.withColumnRenamed("n", "dst"),
                            "dst", "left_anti")
                      .select("src", "dst").localCheckpoint(eager=True))
        if _empty(live_n):
            continue
        # --- 2. forward min-id coloring to fixpoint ---
        color = live_n.select("n", F.col("n").alias("c")) \
            .localCheckpoint(eager=True)
        while True:
            inc = (live_e.join(color.withColumnRenamed("n", "src"), "src")
                   .groupBy(F.col("dst").alias("n"))
                   .agg(F.min("c").alias("pc")))
            nxt = (color.join(inc, "n", "left")
                   .select("n", F.least(F.col("c"),
                                        F.coalesce("pc", F.col("c")))
                           .alias("c"))
                   .localCheckpoint(eager=True))
            settled = (nxt.alias("x").join(color.alias("y"), "n")
                       .filter(F.col("x.c") != F.col("y.c")).isEmpty())
            color = nxt
            if settled:
                break
        # --- 3. backward mark within color classes ---
        mark = color.filter(F.col("n") == F.col("c")) \
            .localCheckpoint(eager=True)     # roots reach themselves
        ec = (live_e
              .join(color.withColumnRenamed("n", "src")
                    .withColumnRenamed("c", "sc"), "src")
              .join(color.withColumnRenamed("n", "dst")
                    .withColumnRenamed("c", "dc"), "dst")
              .filter(F.col("sc") == F.col("dc"))
              .select("src", "dst", F.col("sc").alias("c"))
              .localCheckpoint(eager=True))  # same-color edges only
        while True:
            new = (ec.join(mark.withColumnRenamed("n", "dst"),
                           ["dst", "c"], "left_semi")
                   .select(F.col("src").alias("n"), "c").distinct()
                   .join(mark, ["n", "c"], "left_anti")
                   .localCheckpoint(eager=True))
            if _empty(new):
                break
            mark = mark.unionByName(new).localCheckpoint(eager=True)
        done.append(mark.select("n", F.col("c").alias("scc_id")))
        live_n = live_n.join(mark.select("n"), "n", "left_anti") \
            .localCheckpoint(eager=True)
        live_e = (live_e
                  .join(mark.select(F.col("n").alias("src")),
                        "src", "left_anti")
                  .join(mark.select(F.col("n").alias("dst")),
                        "dst", "left_anti")
                  .select("src", "dst").localCheckpoint(eager=True))
    raise RuntimeError(f"scc: not converged in {max_rounds} rounds")


def hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """Unnormalized HITS (Kleinberg 1999): hub/authority scores over a
    directed graph. ``edges``: (src, dst); parallel edges count with
    multiplicity.

    Without per-round normalization the update is pure integer
    arithmetic — ``auth_k(v) = sum of hub_{k-1} over in-edges``,
    ``hub_k(u) = sum of auth_k over out-edges``, init hub_0 = 1 — so
    after k rounds each score is an exact BIGINT path count, identical
    in any engine (the cross-engine-verifiable philosophy applied to
    HITS: the score RATIOS equal normalized HITS', since
    normalization is one global scalar per round).

    The edge set is the loop invariant: persisted hash-partitioned on
    src once; each half-round shuffles only the |V|-sized score
    vector. Returns (node_id, hub, auth) with 0 for absent roles —
    on a bipartite page->url graph, pages get auth=0 and leaf urls
    hub=0.
    """
    with _persisted(edges.select("src", "dst")) as e:
        nodes = _endpoints(e)
        hub, auth = _reinforce(
            lambda hub: (e.join(hub, e.src == hub.node_id)
                         .groupBy("dst").agg(F.sum("hub").alias("auth"))
                         .withColumnRenamed("dst", "node_id")),
            lambda auth: (e.join(auth, e.dst == auth.node_id)
                          .groupBy("src").agg(F.sum("auth").alias("hub"))
                          .withColumnRenamed("src", "node_id")),
            nodes.withColumn("hub", F.lit(1).cast("bigint"))
            .localCheckpoint(eager=True), iterations)
    return (nodes
            .join(hub, "node_id", "left")
            .join(auth, "node_id", "left")
            .select("node_id",
                    F.coalesce("hub", F.lit(0)).alias("hub"),
                    F.coalesce("auth", F.lit(0)).alias("auth")))


def _reinforce(first: Callable[[DataFrame], DataFrame],
               second: Callable[[DataFrame], DataFrame],
               seed: DataFrame, iterations: int):
    """Mutual-reinforcement rounds (HITS, SALSA): from y_0 = ``seed``,
    round r computes x_r = first(y_{r-1}) and y_r = second(x_r).
    Returns (y_n, x_n). Only x_r is a round output (checkpointed); y_r
    rides lazily into the next round's x, and y_n is left lazy for the
    caller's final join."""
    xs = _rounds(lambda r, xs: first(seed if r == 1 else second(xs[-1])),
                 seed, iterations, until_empty=False)
    return second(xs[-1]), xs[-1]


def link_predict(edges: DataFrame, min_common: int = 1,
                 max_degree: int | None = None) -> DataFrame:
    """Neighborhood-based link prediction over the undirected simple
    graph induced by ``edges``: for every NON-adjacent node pair
    sharing >= ``min_common`` neighbors, emit the classic integer-
    exact scores — common-neighbor count, Jaccard as the exact
    fraction (common, union_n) with union_n = deg_a + deg_b - common,
    and preferential attachment deg_a * deg_b. "Which entities are
    probably the same / should be connected?" is the KG-completion
    question this answers (the reference's consumers would ask it of
    the package-dependency graph: packages sharing many dependents
    but no direct edge are likely alternatives).

    Also emits the Resource Allocation index (Zhou/Lu/Zhang 2009) —
    sum over common neighbors c of 1/deg(c), which down-weights hub
    witnesses — on the repo's integer grid: ra_grid = sum of
    floor(1e8 / deg(c)). Floor division of positive integers is
    bit-exact in both engines, so RA joins the hard oracle instead of
    becoming a float column (the harmonic-centrality protocol).
    deg(c) here is the FULL-graph degree even under ``max_degree``
    (the cap prunes which centers generate candidates, not the
    degree a surviving witness contributes).

    Returns (a, b, common, deg_a, deg_b, union_n, pref_attach,
    ra_grid) with a < b, one row per predicted pair. All columns are
    integers, so the DuckDB oracle is bit-exact; callers rank by
    common desc, common/union_n (exact rational compare:
    c1*u2 > c2*u1), or ra_grid desc.

    Scale shape: wedges are enumerated at their CENTER node — a
    degree-d center yields the d*(d-1)/2 candidate pairs its
    neighborhood implies, which is the OUTPUT a common-neighbor
    method is defined to produce, not avoidable join blowup. On
    power-law graphs the hubs dominate that quadratic; pass
    ``max_degree`` to drop super-hub centers (the standard
    production cap: a node linked from half the graph predicts
    nothing useful anyway — stop-word removal for graphs). The
    existing-edge anti-join and the degree joins are all keyed on
    node ids; no cartesian products.

    Oracle twin: _GRAPH_LINK_PREDICT_SQL in operators/suite.py.
    """
    und = _und_simple(edges)
    # adjacency in both directions: (n, m) = n has neighbor m
    adj = _und_adj(und)
    deg = adj.groupBy("n").agg(F.count("*").alias("d"))
    if max_degree is not None:
        adj = (adj.join(deg.filter(F.col("d") <= max_degree)
                        .select("n"), "n", "left_semi"))
    # wedges at center n: unordered neighbor pair (u, w), u < w.
    # The center's full-graph degree rides along on the LEFT leg so
    # the RA witness weight needs no post-aggregation re-join.
    degc = deg.select(F.col("n").alias("c"),
                      F.expr("CAST(100000000 DIV d AS BIGINT)")
                      .alias("ra_c"))
    left = (adj.select(F.col("n").alias("c"), F.col("m").alias("u"))
            .join(degc, "c"))
    right = adj.select(F.col("n").alias("c"), F.col("m").alias("w"))
    pairs = (left.join(right, "c")
             .filter(F.col("u") < F.col("w"))
             .groupBy("u", "w")
             .agg(F.count("*").alias("common"),
                  F.sum("ra_c").alias("ra_grid"))
             .filter(F.col("common") >= min_common))
    # drop already-adjacent pairs (u < w matches und's a < b)
    cand = pairs.join(
        und, (pairs.u == und.a) & (pairs.w == und.b), "left_anti")
    da = deg.select(F.col("n").alias("u"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("n").alias("w"), F.col("d").alias("deg_b"))
    return (cand.join(da, "u").join(db, "w")
            .select(F.col("u").alias("a"), F.col("w").alias("b"),
                    "common", "deg_a", "deg_b",
                    (F.col("deg_a") + F.col("deg_b") - F.col("common"))
                    .alias("union_n"),
                    (F.col("deg_a") * F.col("deg_b"))
                    .alias("pref_attach"),
                    "ra_grid"))


def lpa_communities(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) over the undirected simple graph induced by
    ``edges``: every node starts labeled with its own id; each round,
    every node adopts the label most frequent among its neighbors,
    ties broken by the MINIMUM label. The min tie-break makes the
    synchronous schedule fully deterministic (the paper's random
    order/tie-break is the only nondeterminism in LPA), so a fixed
    round count unrolls to an exact DuckDB twin — a hard oracle for a
    community detector. This is the community question
    ``propagate_labels`` (nearest-SEED labeling) cannot answer: no
    seeds, communities emerge from the edge structure alone.

    Returns (node, label) for every non-isolated node. ``rounds`` is
    fixed, not converged-to: synchronous LPA can 2-cycle on bipartite
    structures (known since the original paper), so production runs
    pick a small fixed budget — labels stabilize in O(diameter) of
    each community in practice.

    Scale shape: per round, ONE shuffle join of the label table into
    the neighbor-keyed adjacency, a map-side-combinable (node, label)
    count, and a node-keyed window pick — all keyed on node ids, cost
    ∝ |E| per round regardless of community count. The adjacency is
    built once and cached; the label rounds run on ``_rounds`` (see
    the module docstring), so the plan stays round-deep, not
    round-exponential.

    Oracle twin: _lpa_sql in operators/suite.py.
    """
    adj = _und_adj(_und_simple(edges, eager=None)).localCheckpoint(eager=True)
    w = Window.partitionBy("n").orderBy(F.col("c").desc(),
                                        F.col("label").asc())

    def step(_, outs):
        cnt = (adj.join(outs[-1].withColumnRenamed("node", "m"), "m")
               .groupBy("n", "label").agg(F.count("*").alias("c")))
        return (cnt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("n").alias("node"), "label"))

    return _rounds(step, adj.select(F.col("n").alias("node")).distinct()
                   .withColumn("label", F.col("node")),
                   rounds, until_empty=False)[-1]


def random_walks(edges: DataFrame, starts: DataFrame, length: int = 8,
                 walks_per_node: int = 1) -> DataFrame:
    """Deterministic hash-seeded random walks — the corpus-generation
    step of node2vec/DeepWalk-style graph embeddings, done the
    reproducible way: at step t the walk at node v moves to the
    out-neighbor d minimizing md5(walk_id:t:v:d), so the "random"
    choice is a pure function of (walk, step, edge) — identical on
    every run, every partitioning, and every engine (md5 hex is
    engine-neutral, unlike builtin hash()). Walks stop early at sink
    nodes.

    ``starts``: one column ``node_id``; each start node launches
    ``walks_per_node`` walks with walk_id = node_id * walks_per_node
    + r. Returns (walk_id, step, node), step 0 = the start node.

    Scale shape: the edge set is deduped and persisted hash-
    partitioned on src ONCE; each step is one join of the |walks|-row
    frontier against it plus a groupBy(walk_id) argmin — per-step
    shuffle is O(frontier out-degree), never |V| or |E|. Exactly the
    bfs_distances discipline with an argmin instead of a distinct.

    Oracle twin: _graph_walks_sql in operators/suite.py (steps
    unrolled, row_number argmin).
    """
    with _persisted(edges.select("src", "dst").distinct()) as e:
        def step(t, walks):
            cur = walks[-1]
            h = (F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.col("walk_id").cast("string"), F.lit(str(t)),
                F.col("node").cast("string"),
                F.col("dst").cast("string"))), 1, 15), 16, 10)
                .cast("bigint"))
            return (cur.join(e, cur.node == e.src)
                    .select("walk_id", h.alias("h"), "dst")
                    .groupBy("walk_id")
                    .agg(F.min(F.struct("h", "dst")).alias("m"))
                    .select("walk_id", F.col("m.dst").alias("node"))
                    .withColumn("step", F.lit(t)))

        walks = _rounds(step, _walk_starts(starts, walks_per_node), length)
    return _union_all(walks).select("walk_id", "step", "node")


def _walk_starts(starts: DataFrame, walks_per_node: int) -> DataFrame:
    """Step 0 of every walk: (walk_id, node, step) with walk_id =
    node_id * walks_per_node + r for r < walks_per_node."""
    reps = starts.sparkSession.range(walks_per_node) \
        .select(F.col("id").alias("r"))
    return (starts.select("node_id").distinct().crossJoin(reps)
            .select((F.col("node_id") * walks_per_node + F.col("r"))
                    .alias("walk_id"),
                    F.col("node_id").alias("node"))
            .withColumn("step", F.lit(0))
            .localCheckpoint(eager=True))


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair counts from a random-walk
    corpus — the final data-prep step of DeepWalk/node2vec: each
    walk's nodes within ``window`` steps of each other become a
    training pair, aggregated to (center, context, n_pairs). Feed the
    pairs to any embedding trainer; with deterministic walks
    (random_walks) the whole training set is reproducible
    end-to-end.

    Scale shape: one self-join keyed on walk_id (each side ~|corpus|
    rows, per-walk fan-out bounded by 2*window), then the pair
    groupBy — shuffles on walk_id and (center, context) only.
    """
    a = walks.select("walk_id", F.col("step").alias("s1"),
                     F.col("node").alias("center"))
    b = walks.select("walk_id", F.col("step").alias("s2"),
                     F.col("node").alias("context"))
    return (a.join(b, "walk_id")
            .filter((F.col("s1") != F.col("s2"))
                    & (F.abs(F.col("s1") - F.col("s2")) <= window))
            .groupBy("center", "context")
            .agg(F.count("*").alias("n_pairs")))


def assortativity_moments(edges: DataFrame) -> DataFrame:
    """Degree-assortativity moments (Newman 2002) over the undirected
    simple graph: for every edge endpoint pair with degrees (j, k),
    the exact integer sums the Pearson coefficient is built from —
    r = (M1*Sjk - Sj*Sk) / sqrt((M1*Sjj - Sj^2) * (M1*Skk - Sk^2))
    where each edge contributes BOTH orientations (the standard
    undirected convention, which also makes Sj == Sk and Sjj == Skk).
    Emitting the moments instead of r keeps the output all-BIGINT and
    the oracle bit-exact; the float division is one driver-side line
    for the caller. Positive r = hubs link to hubs (social shape),
    negative = hubs link to leaves (web/dependency shape) — the
    one-number skew diagnostic for join planning on a new graph.

    Returns one row (m1, s_j, s_jk, s_jj): orientation count,
    Σj, Σjk, Σj² — everything r needs under the symmetry above.

    Scale shape: one degree aggregate + two node-keyed joins to
    attach endpoint degrees + a single global sum — no quadratic
    anything; cost ∝ |E|.
    """
    adj = _und_adj(_und_simple(edges, eager=None))
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    dj = deg.select(F.col("n"), F.col("d").alias("dj"))
    dk = deg.select(F.col("n").alias("m"), F.col("d").alias("dk"))
    return (adj.join(dj, "n").join(dk, "m")
            .agg(F.count(F.lit(1)).alias("m1"),
                 F.sum("dj").cast("bigint").alias("s_j"),
                 F.sum(F.col("dj") * F.col("dk")).cast("bigint")
                 .alias("s_jk"),
                 F.sum(F.col("dj") * F.col("dj")).cast("bigint")
                 .alias("s_jj")))


def _multi_source_sweep(seeds: DataFrame, edges: DataFrame,
                        max_rounds: int,
                        shared_seed: bool = False) -> DataFrame:
    """The shared multi-source BFS sweep under bfs_distances /
    closeness / harmonic / eccentricity: one level-synchronous
    traversal carrying every seed's wavefront at once; returns the
    visited set (seed, node, dist) with exact hop distances. Edges are
    shuffled once (persisted src-hash-partitioned); per-round shuffles
    carry only the (seed, node) frontier. ``shared_seed`` puts every
    seed under one shared key — the seed column is dropped, so the
    visited set is (node, dist) with dist the hop distance from the
    nearest seed: plain multi-seed BFS."""
    key = ["node"] if shared_seed else ["seed", "node"]
    frontier = (seeds.select("node_id").distinct()
                .select(*[F.col("node_id").alias(k) for k in key],
                        F.lit(0).alias("dist"))
                .localCheckpoint(eager=True))
    with _persisted(edges.select("src", "dst")) as e:
        def step(r, parts):
            frontier = parts[-1]
            return (frontier.join(e, frontier.node == e.src)
                    .select(*key[:-1], F.col("dst").alias("node"))
                    .distinct()
                    .join(_union_all(parts).select(*key), key, "left_anti")
                    .withColumn("dist", F.lit(r)))

        return _union_all(_rounds(step, frontier, max_rounds))


def eccentricity(seeds: DataFrame, edges: DataFrame,
                 max_rounds: int = 30) -> DataFrame:
    """Sampled eccentricity: for each SEED, the maximum hop distance
    to any node it reaches (plus the reachable count) — the third
    distance statistic next to closeness (sum) and harmonic
    (reciprocal sum), on the same single multi-source sweep. The max
    sampled eccentricity is the standard exact LOWER bound on the
    graph's diameter (the double-sweep heuristic's building block),
    and the one HyperBall's neighborhood-function estimate cannot
    give exactly. All-integer output -> bit-exact cross-engine.

    Returns (node_id, ecc, n_reached) — one row per seed.

    Oracle twin: the graph_eccentricity entry in operators/suite.py
    (recursive-CTE min-distances, max per seed).
    """
    visited = _multi_source_sweep(seeds, edges, max_rounds)
    return (visited.groupBy(F.col("seed").alias("node_id"))
            .agg(F.max("dist").cast("bigint").alias("ecc"),
                 F.count(F.lit(1)).alias("n_reached")))


def closeness(seeds: DataFrame, edges: DataFrame,
              max_rounds: int = 30, harmonic: bool = False) -> DataFrame:
    """Sampled closeness-centrality aggregates via MULTI-SOURCE BFS:
    one level-synchronous sweep carries every seed's wavefront at
    once — the frontier is keyed (seed, node), so k sampled sources
    cost one traversal with k-wide frontiers instead of k traversals.
    This is the standard estimator for closeness/harmonic centrality
    at graph sizes where all-pairs BFS is impossible: sample seeds,
    aggregate exact distances from the sample.

    Returns per-node INTEGER aggregates (node_id, n_sources,
    total_dist): the number of sampled sources that reach the node
    and the sum of their hop distances. Closeness ≈ n_sources /
    total_dist and harmonic variants derive from these; keeping the
    output integral keeps it bit-exact cross-engine.

    Scale shape: per-round shuffles carry only the (seed, node)
    frontier; the visited set is bounded by |seeds| * |reachable| —
    the sample size is the knob that trades estimator variance for
    memory, exactly as in the published landmark/pivot estimators.
    Edges are shuffled once (persisted src-hash-partitioned).

    ``harmonic=True`` appends the harmonic-centrality sample sum
    Σ_{d(s,v)>0} 1/d(s,v) — the variant that stays well-defined on
    disconnected graphs (unreachable sources contribute 0 instead of
    poisoning the mean). Each reciprocal is rounded to the 8-dp grid
    and summed as exact DECIMAL (the BM25 oracle's proven protocol),
    so the double output is cross-engine bit-identical.
    """
    visited = _multi_source_sweep(seeds, edges, max_rounds)
    aggs = [F.count("*").alias("n_sources"),
            F.sum("dist").cast("bigint").alias("total_dist")]
    if harmonic:
        aggs.append(
            F.sum(F.when(F.col("dist") > 0,
                         F.round(F.lit(1.0) / F.col("dist"), 8))
                  .otherwise(F.lit(0.0)).cast("decimal(28,8)"))
            .cast("double").alias("harmonic"))
    return (visited.groupBy(F.col("node").alias("node_id")).agg(*aggs))


def neighbor_agg(edges: DataFrame, features: DataFrame,
                 rounds: int = 2) -> DataFrame:
    """GraphSAGE-style message passing over integer node features —
    the data-prep shape of GNN feature engineering, kept
    integer-exact: per round, every node adds the SUM of its
    in-neighbors' previous-round values,
    ``h_t(v) = h_{t-1}(v) + sum over edges (u, v) of h_{t-1}(u)``
    (parallel edges count with multiplicity — they are distinct
    messages). Returns (node_id, h0, h1, ..., h{rounds}) — one column
    per layer, so downstream consumers get the whole receptive-field
    cascade in one table.

    ``features``: (node_id, h) integer starting features; nodes
    absent from ``features`` contribute and accumulate nothing (they
    are not in the output — give every vertex a row, zero if need
    be).

    Scale shape: per round ONE join (edges x current features,
    co-partitioned on src against the once-shuffled persisted edge
    set) + one groupBy(dst) partial-aggregated sum + one left join
    back onto the feature table — all keyed on node id; the feature
    table is the only state and it never grows beyond |V| x rounds
    columns.
    """
    cur = (features.select("node_id", F.col("h").cast("bigint")
                           .alias("h0"))
           .localCheckpoint(eager=True))
    with _persisted(edges.select("src", "dst")) as e:
        def step(t, layers):
            cur, prev = layers[-1], f"h{t - 1}"
            msg = (e.join(cur.select(F.col("node_id").alias("src"),
                                     F.col(prev).alias("_hm")), "src")
                   .groupBy("dst").agg(F.sum("_hm").alias("_m")))
            return (cur.join(msg.select(F.col("dst").alias("node_id"),
                                        "_m"), "node_id", "left")
                    .withColumn(f"h{t}",
                                F.col(prev) + F.coalesce(F.col("_m"),
                                                         F.lit(0)))
                    .drop("_m"))

        return _rounds(step, cur, rounds, until_empty=False)[-1]


def ktruss(edges: DataFrame, k: int, max_rounds: int = 30) -> DataFrame:
    """The k-truss of the undirected simple graph induced by
    ``edges``: the maximal subgraph where every EDGE participates in
    >= k-2 triangles — the standard cohesive-community definition one
    rung stronger than k-core (every edge, not just every node, must
    be embedded in enough mutual connections). Computed by iterative
    edge peeling: count per-edge triangle support, drop edges below
    k-2, repeat to fixpoint. Returns the surviving edges
    (a, b, support) with their support in the final truss.

    Each round (``_truss_step``) is one skew-safe oriented triangle
    enumeration (_oriented_triangles — O(d) wedge rows per degree-d
    hub) + one per-edge support aggregate + one filter, run to
    fixpoint by ``_peel``. Raises if not converged by ``max_rounds``.
    """
    live = _und_simple(edges)
    return _peel(_truss_step(k), live, live.count(), max_rounds,
                 f"ktruss: no convergence in {max_rounds} rounds")[0]


def maximal_independent_set(edges: DataFrame,
                            max_rounds: int = 40) -> DataFrame:
    """Luby's maximal-independent-set algorithm with DETERMINISTIC
    md5 round priorities — the classic distributed symmetry-breaking
    primitive (the building block of parallel coloring, matching, and
    clustering): each round, every undecided node draws priority
    p = md5(round:node) and joins the MIS iff it beats every
    undecided neighbor; winners and their neighbors leave the game.
    Expected O(log n) rounds. md5 makes the "random" draw a pure
    function of (round, node): identical on every run, partitioning,
    and engine (15-hex keys — a tie needs an md5 collision).

    Returns (node_id) — the MIS over the undirected simple graph
    induced by ``edges``. Isolated nodes never appear in the edge
    list and so are not represented (they are trivially in any MIS —
    union them in if the vertex set is wider).

    Scale shape: per round one join of the adjacency against the
    undecided priorities + one groupBy(n) max + one anti-join — all
    keyed on node id; the undecided set shrinks geometrically in
    expectation and every round's state is checkpointed.

    Oracle twin: _mis_sql in operators/suite.py (rounds unrolled).
    """
    und = _und_simple(edges)
    adj = _und_adj(und).localCheckpoint(eager=True)
    undecided = (adj.select("n").distinct()
                 .localCheckpoint(eager=True))
    mis: DataFrame | None = None
    for r in range(1, max_rounds + 1):
        if _empty(undecided):
            # empty-graph / all-self-loop input: the MIS is empty
            if mis is None:
                return undecided.select(F.col("n").alias("node_id"))
            return mis.select(F.col("n").alias("node_id"))
        pr = undecided.select("n", _luby_priority(r, "n").alias("p"))
        nbr_max = (adj.join(pr.select(F.col("n").alias("m"),
                                      F.col("p").alias("p_m")), "m")
                   .join(undecided, "n", "left_semi")
                   .groupBy("n").agg(F.max("p_m").alias("mp")))
        winners = (pr.join(nbr_max, "n", "left")
                   .filter(F.col("mp").isNull()
                           | (F.col("p") > F.col("mp")))
                   .select("n")
                   .localCheckpoint(eager=True))
        mis = winners if mis is None else mis.unionByName(winners)
        removed = (winners
                   .unionByName(adj.join(winners, "n", "left_semi")
                                .select(F.col("m").alias("n")))
                   .distinct())
        undecided = (undecided.join(removed, "n", "left_anti")
                     .localCheckpoint(eager=True))
    raise RuntimeError(
        f"maximal_independent_set: no convergence in {max_rounds} rounds")


def _stats_fresh(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that also DROPS the plan's carried size
    statistics. ``Dataset.localCheckpoint`` preserves the origin
    plan's estimated sizeInBytes into the checkpoint's LogicalRDD,
    and the size-only estimator MULTIPLIES child sizes through every
    join — so an iterative algorithm that feeds checkpoints back into
    self-joins (pointer doubling) squares the carried number each
    round. Composed across an outer loop this grows
    double-exponentially: boruvka_msf round 4 stalled the driver for
    minutes multiplying ~10^6-digit BigIntegers inside
    SizeInBytesOnlyStatsPlanVisitor (jstack: BigInteger.multiplyToomCook3
    under LogicalPlanStats). Rebuilding the frame from the
    checkpointed InternalRow RDD resets stats to the bounded default
    (one scan, same data, no extra job). Falls back to the plain
    checkpoint if the JVM constructor ever disappears."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        fresh = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(fresh, df.sparkSession)
    except Exception:   # pragma: no cover - Spark-internal dependency
        return ck


def boruvka_msf(edges: DataFrame, weight_col: str = "w",
                max_rounds: int = 25) -> DataFrame:
    """Borůvka's minimum spanning forest — THE parallel MST algorithm
    (every component picks its minimum outgoing edge each round, so
    components at least halve: O(log n) rounds regardless of graph
    shape). Edges are totally ordered by (w, a, b), which makes the
    forest UNIQUE even under weight ties — every engine and run
    returns the same edge set, so a bit-exact cross-engine oracle
    exists for an MST algorithm. Parallel edges collapse to their
    minimum weight first (only the lightest can ever be picked).

    Returns (a, b, w): the forest edges (a < b). Spanning tree per
    connected component; total weight is the MST weight.

    Scale shape: per round, two node-keyed label joins attach
    component ids to the surviving inter-component edges, a
    component-keyed window picks each component's min edge, and the
    merge runs the engine's own ``plans/linking.connected_components``
    on the COMPONENT graph — whose size halves every round, so the
    inner pointer-jumping loops operate on geometrically shrinking
    frames. State frames are EAGERLY checkpointed (with a nested loop
    per round the job budget is already rounds x cc-rounds), and the
    two cross-round accumulation points go through ``_stats_fresh`` —
    see its docstring for the double-exponential carried-stats blowup
    this loop exposed.

    Oracle twin: _msf_sql in operators/suite.py (outer rounds
    unrolled; each merge is a recursive-CTE closure over that round's
    pick edges).
    """
    from .linking import connected_components

    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("long").alias("w"))
        .groupBy("a", "b").agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    labels = (_und_nodes(und, "node").distinct()
              .withColumn("comp", F.col("node"))
              .localCheckpoint(eager=True))
    forest: DataFrame | None = None
    wpick = Window.partitionBy("c").orderBy("w", "a", "b")
    for _ in range(max_rounds):
        live = (
            und.join(labels.select(F.col("node").alias("a"),
                                   F.col("comp").alias("ca")), "a")
            .join(labels.select(F.col("node").alias("b"),
                                F.col("comp").alias("cb")), "b")
            .filter(F.col("ca") != F.col("cb"))
            .localCheckpoint(eager=True))
        if _empty(live):
            return und.limit(0).select("a", "b", "w") \
                if forest is None else forest
        cand = (live.select(F.col("ca").alias("c"), "w", "a", "b",
                            "ca", "cb")
                .unionByName(live.select(F.col("cb").alias("c"), "w",
                                         "a", "b", "ca", "cb")))
        picks = (cand.withColumn("rn", F.row_number().over(wpick))
                 .filter(F.col("rn") == 1)
                 .select("a", "b", "w", "ca", "cb")
                 .distinct()
                 .localCheckpoint(eager=True))
        new_edges = picks.select("a", "b", "w")
        forest = (new_edges if forest is None
                  else forest.unionByName(new_edges)
                  ).localCheckpoint(eager=True)
        # _stats_fresh at both accumulation points: connected_components'
        # pointer doubling inflates carried size stats ~2x in DIGITS per
        # inner round, and feeding that back into next round's joins is
        # the double-exponential blowup documented on _stats_fresh
        mapping = _stats_fresh(connected_components(
            labels.select(F.col("comp").alias("entity_iri")).distinct(),
            picks.select(F.col("ca").alias("src"),
                         F.col("cb").alias("dst"))))
        labels = _stats_fresh(labels.join(
            mapping.select(F.col("entity_iri").alias("comp"),
                           "canonical_id"), "comp")
            .select("node", F.col("canonical_id").alias("comp")))
    raise RuntimeError(
        f"boruvka_msf: no convergence in {max_rounds} rounds")


def maximal_matching(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Maximal matching via Luby's symmetry-breaking on EDGES: each
    round, every live edge draws p = md5(round:a:b) and enters the
    matching iff p is the maximum among all edges sharing either
    endpoint (unique 15-hex keys make >= the strict local max);
    matched endpoints leave, killing their incident edges. The result
    is a maximal (not maximum) matching — no live edge survives with
    both endpoints free — and its endpoint set is the classic
    2-approximate vertex cover. Expected O(log n) rounds;
    deterministic on any partitioning/engine.

    Returns (a, b) matched edges over the undirected simple graph.

    Scale shape: per round one explode of live edges to (endpoint,
    priority) + a node-keyed max + two node-keyed joins for the
    local-max test + two anti-joins to drop covered edges — cost
    ∝ live |E|, which shrinks geometrically. One driver action per
    round (the live count off a lazy checkpoint).

    Oracle twin: _matching_sql in operators/suite.py.
    """
    und = _und_simple(edges)
    live = und
    matched: DataFrame | None = None
    for r in range(1, max_rounds + 1):
        if not live.count():
            return und.limit(0) if matched is None else matched
        pr = live.select("a", "b", _luby_priority(r, "a", "b").alias("p"))
        nm = (pr.select(F.col("a").alias("node"), "p")
              .unionByName(pr.select(F.col("b").alias("node"), "p"))
              .groupBy("node").agg(F.max("p").alias("mx")))
        winners = (
            pr.join(nm.select(F.col("node").alias("a"),
                              F.col("mx").alias("mx_a")), "a")
            .join(nm.select(F.col("node").alias("b"),
                            F.col("mx").alias("mx_b")), "b")
            .filter((F.col("p") >= F.col("mx_a"))
                    & (F.col("p") >= F.col("mx_b")))
            .select("a", "b"))
        matched = (winners if matched is None
                   else matched.unionByName(winners)
                   ).localCheckpoint(eager=False)
        mnodes = _und_nodes(winners).distinct()
        live = (live
                .join(mnodes.select(F.col("n").alias("a")), "a", "left_anti")
                .join(mnodes.select(F.col("n").alias("b")), "b", "left_anti")
                .select("a", "b")
                .localCheckpoint(eager=False))
    raise RuntimeError(
        f"maximal_matching: no convergence in {max_rounds} rounds")


def greedy_coloring(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Distributed greedy graph coloring (Jones-Plassmann with Luby
    re-draws): each round, every still-uncolored node draws priority
    p = md5(round:node) and wins iff it beats every uncolored
    neighbor; winners form an independent set, so each safely takes
    the MEX (smallest non-negative integer) of its already-colored
    neighbors' colors. Any edge's endpoints either win in different
    rounds (the later sees the earlier's color in its mex) or never
    tie (15-hex md5 keys), so the result is a proper coloring —
    greedy-bounded at maxdeg+1 colors. Coloring is the classic
    scheduling primitive (color classes = conflict-free parallel
    batches, e.g. for edge-disjoint graph mutations or async label
    updates); md5 priorities make the whole run a pure function of
    the graph, identical on every partitioning and engine.

    Returns (node_id, color int) for every non-isolated node.

    Scale shape: the state PEELS with progress — ``adj_unc`` (edges
    among still-uncolored nodes) drives the local-max test and
    ``cadj`` (uncolored node -> already-assigned neighbor COLOR)
    drives the mex, so every round's joins scan frames that shrink
    geometrically with the uncolored set instead of rescanning the
    full adjacency ~log n times (the 2M-node probe: full-adj rescans
    cost 217 s; the peeled loop 3-4x less). All joins node-keyed;
    one driver action per round (the uncolored count, off a lazy
    checkpoint — the kcore/topo_layers job-budget pattern).

    Oracle twin: _coloring_sql in operators/suite.py (rounds
    unrolled; fixpoint rounds are no-ops).
    """
    und = _und_simple(edges)
    adj_unc = _und_adj(und).localCheckpoint(eager=True)
    uncolored = (adj_unc.select("n").distinct()
                 .localCheckpoint(eager=False))
    cadj: DataFrame | None = None     # (n uncolored, color of a neighbor)
    colors: DataFrame | None = None
    mex = F.array_min(F.filter(
        F.sequence(F.lit(0), F.size("used")),
        lambda x: ~F.array_contains(F.col("used"), x)))
    for r in range(1, max_rounds + 1):
        if not uncolored.count():
            if colors is None:
                return uncolored.select(F.col("n").alias("node_id"),
                                        F.lit(0).cast("int").alias("color"))
            return colors
        pr = uncolored.select("n", _luby_priority(r, "n").alias("p"))
        # adj_unc holds only uncolored-uncolored edges, so the max
        # test needs no semi-join against the uncolored set
        nbr_max = (adj_unc.join(pr.select(F.col("n").alias("m"),
                                          F.col("p").alias("p_m")), "m")
                   .groupBy("n").agg(F.max("p_m").alias("mp")))
        winners = (pr.join(nbr_max, "n", "left")
                   .filter(F.col("mp").isNull()
                           | (F.col("p") > F.col("mp")))
                   .select("n")
                   .localCheckpoint(eager=False))
        if cadj is None:
            newc = winners.select(
                F.col("n").alias("node_id"),
                F.lit(0).cast("int").alias("color"))
        else:
            used = (cadj.join(winners, "n", "left_semi")
                    .groupBy("n")
                    .agg(F.collect_set("color").alias("used")))
            newc = (winners.join(used, "n", "left")
                    .select(F.col("n").alias("node_id"),
                            F.when(F.col("used").isNull(), F.lit(0))
                            .otherwise(mex).cast("int").alias("color")))
        newc = newc.localCheckpoint(eager=False)
        colors = (newc if colors is None
                  else colors.unionByName(newc)).localCheckpoint(eager=False)
        uncolored = (uncolored.join(winners, "n", "left_anti")
                     .localCheckpoint(eager=False))
        # peel: edges whose m just got colored move into cadj (carrying
        # the color), edges whose n got colored leave the game entirely
        moved = (adj_unc
                 .join(newc.select(F.col("node_id").alias("m"), "color"),
                       "m")
                 .join(winners, "n", "left_anti")
                 .select("n", "color"))
        survivors = (cadj.join(winners, "n", "left_anti")
                     if cadj is not None else None)
        cadj = (moved if survivors is None
                else survivors.unionByName(moved)
                ).localCheckpoint(eager=False)
        adj_unc = (adj_unc
                   .join(winners, "n", "left_anti")
                   .join(winners.select(F.col("n").alias("m")),
                         "m", "left_anti")
                   .localCheckpoint(eager=False))
    raise RuntimeError(
        f"greedy_coloring: no convergence in {max_rounds} rounds")


def weighted_random_walks(edges: DataFrame, starts: DataFrame,
                          length: int = 8,
                          walks_per_node: int = 1) -> DataFrame:
    """Edge-weighted deterministic random walks: at step t the walk
    at node v draws u = md5(walk_id:t:v) / 2^60 and moves to the
    neighbor at the cumulative-weight crossing (neighbors ordered by
    dst id, P(d) proportional to its integer weight ``w``) — weighted
    sampling without RNG state, reproducible anywhere. The crossing
    test runs in EXACT decimal arithmetic (cum * 2^60 > h * total),
    so engines can never disagree on a boundary.

    ``edges``: (src, dst, w) with w a positive integer (parallel
    edges: pre-aggregate, or they act as independent weight mass at
    the same dst slot — dedupe+sum upstream for strict node2vec
    semantics). Returns (walk_id, step, node) like random_walks;
    walks stop at sinks.

    Scale shape: identical to random_walks plus a per-(walk, step)
    window over the candidate out-edges (partitioned on walk_id — the
    frontier key, already co-located after the join). This is
    :func:`node2vec_walks` with equal biases: a constant bias scales
    cum and total alike and cancels out of the crossing test.

    Oracle twin: _weighted_walks_sql in operators/suite.py.
    """
    return node2vec_walks(edges, starts, length, walks_per_node, 1, 1, 1)


def node2vec_walks(edges: DataFrame, starts: DataFrame,
                   length: int = 8, walks_per_node: int = 1,
                   bias_return: int = 3, bias_adjacent: int = 6,
                   bias_far: int = 2) -> DataFrame:
    """TRUE second-order node2vec walks, deterministic end-to-end:
    the next hop from ``cur`` (having arrived from ``prev``) draws
    u = md5(walk:step:cur)/2^60 and picks the cumulative-mass
    crossing over candidates weighted ``w * bias`` where bias depends
    on the candidate's relation to ``prev`` — the node2vec search
    bias. Biases are INTEGER weights (for p/q semantics scale by
    p*q: return = q, adjacent = p*q, far = p), so every mass, cum and
    crossing compare is exact — no float ratio ever enters.

    Step 1 has no ``prev``: every candidate takes ``bias_far``
    (a uniform scale — identical to a plain weighted first-order
    choice). ``edges``: (src, dst, w) positive integer weights.
    Returns (walk_id, step, node); walks stop at sinks.

    Scale shape: weighted_random_walks plus ONE more join per step —
    the (prev, dst) adjacency membership probe against the undirected
    simple edge set (key-partitioned; the frontier side is
    |walks| x out-degree). State carries (walk_id, prev, node) only.
    With three equal biases the bias is a constant that cancels out
    of the crossing test, so the probe and the ``prev`` column are
    skipped: that is :func:`weighted_random_walks`.

    Oracle twin: _node2vec_sql in operators/suite.py.
    """
    biased = not bias_return == bias_adjacent == bias_far
    two60 = F.lit(str(1 << 60)).cast("decimal(38,0)")
    win = Window.partitionBy("walk_id").orderBy("dst")
    tot = Window.partitionBy("walk_id")
    start = _walk_starts(starts, walks_per_node) \
        .withColumn("prev", F.lit(None).cast("long"))
    with _persisted(edges.select("src", "dst",
                                 F.col("w").cast("long"))) as e:
        if biased:
            und = (e.filter(F.col("src") != F.col("dst"))
                   .select(F.least("src", "dst").alias("ua"),
                           F.greatest("src", "dst").alias("ub"))
                   .distinct()
                   .withColumn("adj_flag", F.lit(1))
                   .localCheckpoint(eager=True))

        def step(t, walks):
            cur = walks[-1]
            h = (F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.col("walk_id").cast("string"), F.lit(str(t)),
                F.col("node").cast("string"))), 1, 15), 16, 10)
                .cast("decimal(38,0)"))
            cand = cur.join(e, cur.node == e.src).withColumn("h", h)
            bias = F.lit(bias_far)
            if biased:
                cand = cand.join(
                    und,
                    (F.least(F.col("prev"), F.col("dst")) == F.col("ua"))
                    & (F.greatest(F.col("prev"), F.col("dst"))
                       == F.col("ub")),
                    "left")
                bias = (F.when(F.col("dst") == F.col("prev"),
                               F.lit(bias_return))
                        .when(F.col("adj_flag").isNotNull(),
                              F.lit(bias_adjacent))
                        .otherwise(bias))
            nxt = (cand.select("walk_id", "h", "dst",
                               (F.col("w") * bias).alias("mass"))
                   .withColumn("cum", F.sum("mass").over(win)
                               .cast("decimal(38,0)"))
                   .withColumn("total", F.sum("mass").over(tot)
                               .cast("decimal(38,0)"))
                   .filter(F.col("cum") * two60
                           > F.col("h") * F.col("total"))
                   .groupBy("walk_id").agg(F.min("dst").alias("node")))
            if biased:
                nxt = (cur.select("walk_id", F.col("node").alias("prev"))
                       .join(nxt, "walk_id"))
            return nxt.withColumn("step", F.lit(t))

        walks = _rounds(step, start, length)
    return _union_all([w.select("walk_id", "step", "node") for w in walks])


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """INTEGER-EXACT modularity components per community — the
    community-quality metric, computed without a single float:
    for each community c over the undirected simple graph,
    ``e_in`` (intra-community edges), ``tot_deg`` (degree sum) and
    ``q_num = 4*m*e_in - tot_deg^2``; global Newman modularity
    Q = sum(q_num) / (4*m^2) — the caller divides once at the end
    (or compares communities directly on the integer numerators).

    ``labels``: (node_id, community). Edges with an unlabeled
    endpoint count toward ``m`` and toward labeled endpoints'
    degrees but are intra-community for none — the standard
    treatment of an incomplete partition.

    Scale shape: one distinct-edge projection, one degree aggregate,
    two label joins keyed on node id, one groupBy(community) — no
    iteration; composes directly with propagate_labels /
    connected_components output.
    """
    und = _und_simple(edges)
    m = und.count()
    lab = labels.select(F.col("node_id"), F.col("community"))
    la = lab.select(F.col("node_id").alias("a"),
                    F.col("community").alias("ca"))
    lb = lab.select(F.col("node_id").alias("b"),
                    F.col("community").alias("cb"))
    intra = (und.join(la, "a").join(lb, "b")
             .filter(F.col("ca") == F.col("cb"))
             .groupBy(F.col("ca").alias("community"))
             .agg(F.count("*").alias("e_in")))
    deg = (_und_nodes(und, "node_id")
           .groupBy("node_id").agg(F.count("*").alias("d")))
    per_comm = (lab.join(deg, "node_id", "left")
                .groupBy("community")
                .agg(F.count("*").alias("n_nodes"),
                     F.sum(F.coalesce("d", F.lit(0))).alias("tot_deg")))
    return (per_comm.join(intra, "community", "left")
            .select("community", "n_nodes",
                    F.coalesce("e_in", F.lit(0)).alias("e_in"),
                    "tot_deg",
                    (F.lit(4 * m) * F.coalesce("e_in", F.lit(0))
                     - F.col("tot_deg") * F.col("tot_deg"))
                    .alias("q_num"),
                    F.lit(m).alias("m_edges")))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient as an EXACT fraction:
    cc(v) = 2*T(v) / (d(v)*(d(v)-1)) emitted as integer numerator
    ``two_t`` and denominator ``d_pairs`` (0-denominator rows — degree
    < 2 — keep two_t = 0). Composes triangle_counts with the degree
    aggregate; one extra join, no float anywhere (the caller divides,
    or compares nodes by cross-multiplication)."""
    und = _und_simple(edges)
    per_node = triangle_counts(edges).withColumnRenamed(
        "n_triangles", "t")
    deg = (_und_nodes(und, "node_id")
           .groupBy("node_id").agg(F.count("*").alias("d")))
    return (deg.join(per_node, "node_id", "left")
            .select("node_id", "d",
                    (F.lit(2) * F.coalesce("t", F.lit(0))).alias("two_t"),
                    (F.col("d") * (F.col("d") - 1)).alias("d_pairs")))


def betweenness(edges: DataFrame, sources: DataFrame | None = None,
                max_rounds: int = 40, out_scale: int = 6,
                scale_to_n: bool = False) -> DataFrame:
    """Betweenness centrality by Brandes' dependency accumulation
    (Brandes 2001), run for ALL sources simultaneously as one
    level-synchronous computation — the multi-source trick the
    closeness estimator uses, extended with shortest-path COUNTS and
    the backward sweep:

    - forward: the frontier is keyed (source, node) and carries sigma
      = the number of shortest s->v paths (exact integers, summed per
      (source, node) each level). Rounds ∝ diameter; per-round
      shuffles carry only the live frontier.
    - backward: walk the BFS DAG from the deepest level up; at level
      d, each v accumulates delta(v) = Σ_w σ(v)/σ(w) · (1 + delta(w))
      over its successors w at level d+1 (pair dependencies, one join
      + aggregate per level).
    - betweenness(v) = Σ_sources delta_s(v), v ≠ s.

    ``sources=None`` runs EXACT betweenness (every node a source) —
    all-pairs, affordable only on small/medium graphs. Pass a sampled
    ``sources`` (node_id) DataFrame for the Brandes-Pich estimator;
    with ``scale_to_n=True`` the result is scaled by n/|sources| to
    estimate the exact value. The BFS-DAG state (source, node, dist,
    sigma) is the memory bound: |sources| × |reachable| rows,
    checkpointed once per level — the sample size is the knob, same
    contract as ``closeness``.

    Determinism (the pagerank grid protocol, upgraded from the
    earlier order-dependent IEEE sweep): sigma is exact integer; each
    backward contribution sigma_v/sigma_w * (1 + delta_w) is ONE
    quotient-product double re-rounded to the 8-dp grid and summed as
    EXACT decimal(28,8) per level (delta_w itself is the exact
    scale-8 value), and the final per-node sum across sources/levels
    is an exact decimal sum with the n/|S| scaling applied as
    integer-times-decimal before the one output division — so the
    whole computation is bit-reproducible cross-engine and the suite
    query carries a HARD unrolled-DuckDB oracle (8 forward levels +
    the backward chain). Pytest's pure-Python Brandes twin still
    pins textbook agreement to 1e-6 (the grid error is <= levels *
    1e-8). Directed semantics (pass both edge directions for the
    undirected variant)."""
    # the backward sweep: delta at the deepest level is 0. Delta state
    # is an INTEGER on the 1e-8 grid (delta8 = delta * 10^8): each
    # contribution sigma_v * (1 + delta_w) / sigma_w is computed as
    # the exact HALF_UP integer (2*num + den) div (2*den) — rounding
    # the DOUBLE product to 8 dp here ties SYSTEMATICALLY (sigma
    # ratios are short rationals: 1/2 * an 8-dp delta lands on
    # .xxxxxxxx5 constantly, and Spark/DuckDB split those ties), while
    # integer arithmetic never loses a digit (the graph_katz
    # discipline). int64 bound, stated: sigma_max * (10^8 +
    # delta8_max) < 2^63 — i.e. per-source delta < ~9e10/sigma_max,
    # far past any sampled-betweenness use.
    grid = 10 ** 8
    with _persisted(edges.filter(F.col("src") != F.col("dst"))
                    .select("src", "dst").distinct()) as e:
        nodes = _endpoints(e).localCheckpoint(eager=True)
        n = nodes.count()
        src_nodes = (nodes if sources is None
                     else sources.select("node_id").distinct()
                     .join(nodes, "node_id", "left_semi"))
        n_sources = src_nodes.count()
        if not n_sources:
            raise ValueError("betweenness: empty source set")

        def forward(_, levels):
            # the visited BFS-DAG state per level; each level is its
            # own checkpoint (the backward sweep walks them in reverse)
            f = levels[-1]
            return (f.join(e, f.v == e.src)
                    .select("s", F.col("dst").alias("v"), "sigma")
                    .join(_union_all(levels).select("s", "v"), ["s", "v"],
                          "left_anti")
                    .groupBy("s", "v").agg(F.sum("sigma").alias("sigma")))

        def backward(r, deltas):
            # round r walks level d = L-1-r; deltas[-1] is level d+1's
            # (the seed stands for the all-zero deepest level)
            d = len(levels) - 1 - r
            succ = levels[d + 1].select(
                "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w"))
            if r > 1:
                succ = (succ.join(deltas[-1].select(
                    "s", F.col("v").alias("w"), F.col("delta8").alias("dw8")),
                    ["s", "w"], "left")
                    .withColumn("dw8", F.coalesce("dw8",
                                                  F.lit(0).cast("long"))))
            else:
                succ = succ.withColumn("dw8", F.lit(0).cast("long"))
            cur = levels[d]
            return (cur.join(e, cur.v == e.src)
                    .select("s", "v", "sigma", F.col("dst").alias("w"))
                    .join(succ, ["s", "w"])
                    .select("s", "v",
                            (F.lit(2) * F.col("sigma")
                             * (F.lit(grid) + F.col("dw8"))
                             + F.col("sigma_w")).alias("cnum"),
                            (F.lit(2) * F.col("sigma_w")).alias("cden"))
                    .select("s", "v",
                            F.expr("cnum div cden").alias("part8"))
                    .groupBy("s", "v").agg(F.sum("part8").alias("delta8")))

        levels = _rounds(forward, src_nodes.select(
            F.col("node_id").alias("s"), F.col("node_id").alias("v"),
            F.lit(1).cast("long").alias("sigma"))
            .localCheckpoint(eager=True), max_rounds, exhausted=(
                f"betweenness: diameter exceeds {max_rounds} rounds "
                "(raise max_rounds)"))
        deltas = _rounds(backward, levels[-1], len(levels) - 1,
                         until_empty=False)[1:]
    acc_parts = [d.filter(F.col("s") != F.col("v")).select("v", "delta8")
                 for d in deltas]
    if not acc_parts:  # no edges from any source: all-zero centrality
        return nodes.select("node_id", F.lit(0.0).alias("betweenness"))
    acc = _union_all(acc_parts)  # balanced: depth ∝ log(diameter)
    # exact integer sum across sources/levels; integer n/|S| factors
    # fold INTO the int64 domain (decimal multiplies past precision
    # 38 silently drop scale — the ts_ewma trap), then ONE exact
    # decimal 1e-8 de-scale multiply (never a division) and the
    # HALF_UP output round
    tot = F.sum(F.col("delta8"))
    exact_factor = scale_to_n and n % n_sources == 0
    if exact_factor:
        tot = tot * F.lit(int(n // n_sources))
    d8 = (tot.cast("decimal(20,0)")
          * F.lit("0.00000001").cast("decimal(10,8)"))
    if scale_to_n and not exact_factor:
        bc = F.round((d8 * F.lit(int(n))).cast("double")
                     / F.lit(float(n_sources)), out_scale)
    else:
        bc = F.round(d8, out_scale).cast("double")
    agg = (acc.groupBy(F.col("v").alias("node_id")).agg(bc.alias("bc")))
    # every node gets a row — endpoints that lie on no shortest path
    # carry an explicit 0.0, the per-node-metric contract the rest of
    # the family (closeness, pagerank) follows
    return (nodes.join(agg, "node_id", "left")
            .select("node_id",
                    F.coalesce("bc", F.lit(0.0)).alias("betweenness")))


def hyperball(edges: DataFrame, radius: int = 3, p: int = 4) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-node out-ball-size
    estimates |B(v, t)| for every t = 0..radius, via HyperLogLog
    counters propagated along edges — the algorithm that measured
    "four degrees of separation" on the full Facebook graph, and the
    ONLY tractable shape for distance distributions / effective
    diameter / harmonic centrality at 10^9+ nodes, where one exact
    BFS per node (|V| sweeps) is off the table and even the sampled
    ``closeness`` sweep caps at a few hundred sources.

    State is the repo's sparse HLL register table keyed by node:
    (node_id, reg, mj) with at most 2^p rows per node — fixed-size
    mergeable state, exactly ``operators/sketch.hll_registers``'s
    shape. One round is

        c_{t+1}(v) = c_t(v)  ∪  ⋃_{(v,w) ∈ E} c_t(w)

    i.e. ONE hash join (edges keyed dst × state keyed node) plus ONE
    map-combined groupBy((node, reg), max(mj)) — two node-keyed
    shuffles per round, each bounded by |V|·2^p rows no matter how
    dense the balls get (the whole point: exact ball MEMBERSHIP grows
    quadratically, the sketch does not). The state is eagerly
    localCheckpoint-ed per round (the family's lineage-truncation
    discipline), and register values only ever grow, so rounds
    monotonically converge; callers track saturation via the t-series.

    Estimates use ``operators/sketch.hll_estimate`` — md5-derived
    registers and an integer-exact harmonic sum on a 4-dp grid, so the
    approximate ball sizes themselves are CROSS-ENGINE BIT-IDENTICAL
    (DuckDB recomputes the same registers over exact recursive-CTE
    balls and must land on the same doubles — a hard oracle for an
    approximate algorithm).

    Returns (node_id, t, ball_est) for t = 0..radius, one row per
    node per radius. p=4 (16 registers, ~26% rel. std. err.) suits
    effective-diameter work; raise p for centrality-grade accuracy.
    """
    from ..operators.sketch import hll_estimate, kmv_hash

    sb = 48 - p
    h = kmv_hash(F.col("node_id"))
    rest = h.bitwiseAND(F.lit((1 << sb) - 1))
    rank = (F.when(rest == 0, F.lit(sb + 1))
            .otherwise(F.lit(sb + 1) - F.length(F.bin(rest))))
    # one dst-hash shuffle up front: every round's join probes the
    # SAME edge partitioning (the closeness pattern), so per round
    # only the register state moves
    with _persisted(edges.select("src", "dst").distinct(), "dst") as e:
        def step(_, states):
            st = states[-1]
            contrib = (e.join(st.withColumnRenamed("node_id", "_n"),
                              F.col("dst") == F.col("_n"))
                       .select(F.col("src").alias("node_id"), "reg", "mj"))
            return (st.unionByName(contrib)
                    .groupBy("node_id", "reg")
                    .agg(F.max("mj").alias("mj")))

        states = _rounds(step, _endpoints(e).select(
            "node_id", F.shiftrightunsigned(h, sb).alias("reg"),
            rank.alias("mj")).localCheckpoint(eager=True),
            radius, until_empty=False)
    return _union_all([
        hll_estimate(st.withColumnRenamed("node_id", "grp"), "node_id", p)
        .select("node_id", F.lit(t).cast("int").alias("t"),
                F.col("distinct_est").alias("ball_est"))
        for t, st in enumerate(states)])


def hyperball_stats(ball_series: DataFrame,
                    radius: int) -> DataFrame:
    """Graph-level neighborhood function from a ``hyperball`` series:
    per radius t, N(t) = Σ_v |B(v,t)| (estimated reachable pairs
    within t hops) and the fraction of N(radius) reached — the curve
    whose 0.9 crossing IS the effective diameter. The per-node grid
    doubles are summed as DECIMAL(28,4) (exact, associative — Spark's
    partition-order double sum can never leak a ULP), and the single
    fraction division happens on the exact decimals cast once to
    double, so every output bit is cross-engine reproducible.

    Returns (t, n_est, frac_reached), one row per radius."""
    nf = (ball_series.groupBy("t")
          .agg(F.sum(F.col("ball_est").cast("decimal(28,4)"))
               .alias("_n")))
    tot = (nf.filter(F.col("t") == radius)
           .select(F.col("_n").alias("_tot")))
    return (nf.crossJoin(F.broadcast(tot))
            .select("t",
                    F.col("_n").cast("double").alias("n_est"),
                    F.round(F.col("_n").cast("double")
                            / F.col("_tot").cast("double"), 6)
                    .alias("frac_reached"))
            .orderBy("t"))


def bipartite_project(edges: DataFrame, min_common: int = 1,
                      max_degree: int | None = None) -> DataFrame:
    """One-mode projection of a bipartite edge set onto its LEFT
    side: for every left-node pair (a, b) sharing >= ``min_common``
    right-neighbors, emit (a, b, common) with a < b. This is the
    npm-shaped graph question (maintainer x package — the reference's
    foaf:maker edges, lib/npm/NpmUsers.js semantics — projects to the
    co-maintainership graph; host x url projects to host co-hosting)
    and the first stage of butterfly counting.

    Scale shape: wedges are enumerated at RIGHT-side centers — a
    right node of degree d implies d*(d-1)/2 co-membership pairs,
    which is the projection's defined OUTPUT, not join blowup. On
    power-law corpora the hub centers dominate that quadratic; pass
    ``max_degree`` to drop super-hub centers (a package maintained by
    ten thousand users asserts nothing about any pair — the graph
    stop-word cap, same contract as link_predict's). The self-join is
    keyed on the center id and the pair aggregation on (a, b): two
    hash shuffles, no cartesian products. All-integer output, so the
    DuckDB oracle (same joins) is bit-exact.

    ``edges`` carries (u, v): u = left node, v = right node;
    duplicates collapse (set semantics, the projection is over the
    simple bipartite graph)."""
    e = edges.select("u", "v").distinct()
    if max_degree is not None:
        keep = (e.groupBy("v").agg(F.count("*").alias("d"))
                .filter(F.col("d") <= max_degree).select("v"))
        e = e.join(keep, "v", "left_semi")
    left = e.select(F.col("v").alias("c"), F.col("u").alias("a"))
    right = e.select(F.col("v").alias("c"), F.col("u").alias("b"))
    return (left.join(right, "c")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("common"))
            .filter(F.col("common") >= F.lit(int(min_common))))


def butterfly_counts(edges: DataFrame,
                     max_degree: int | None = None) -> DataFrame:
    """Per-LEFT-vertex butterfly counts over a bipartite (u, v) edge
    set. A butterfly is the bipartite 4-cycle — two left nodes
    sharing two right nodes — the smallest bipartite motif with
    closure information (the role triangles play in unipartite
    graphs: clustering, community strength, spam-farm signatures in
    user x page graphs). For a left pair sharing ``c`` right
    neighbors, the pair lies on C(c, 2) butterflies; a vertex's count
    sums that over its pairs, so the GLOBAL butterfly count is
    sum(butterflies) / 2 (each butterfly has two left endpoints).

    Exact and all-integer (c*(c-1) DIV 2), so the DuckDB oracle is
    bit-exact. Cost rides on ``bipartite_project`` (wedge enumeration
    at right centers, same ``max_degree`` hub cap); the per-vertex
    rollup is one more (node)-keyed aggregation over the pair set —
    the Wang/Fu/Cheng peeling-free exact counting shape, which at
    10^9 edges is the only part of butterfly analytics that stays an
    aggregation rather than an iteration."""
    pairs = bipartite_project(edges, min_common=2, max_degree=max_degree)
    bf = pairs.select(
        "a", "b",
        F.expr("CAST((common * (common - 1)) DIV 2 AS BIGINT)")
        .alias("bf"))
    per = (bf.select(F.col("a").alias("u"), "bf")
           .unionByName(bf.select(F.col("b").alias("u"), "bf"))
           .groupBy("u")
           .agg(F.sum("bf").alias("butterflies")))
    return per


def wl_refinement(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """1-WL (Weisfeiler-Leman) color refinement over the undirected
    simple graph induced by ``edges`` — the structural-equivalence
    partition: two nodes share a color after r rounds iff their
    r-hop rooted neighborhood trees are isomorphic. This is the node
    signature behind graph-isomorphism screening, GNN expressiveness
    (GIN == 1-WL), and structural role mining (nodes of a KG that
    "look alike" — e.g. every leaf package with two maintainers and
    one dependency — collapse to one color, whatever their ids).

    color_0(v)  = md5(degree(v) as string)
    color_t(v)  = md5(color_{t-1}(v) || '|' ||
                      comma-join(SORTED multiset of neighbor
                                 color_{t-1}))

    The multiset hash is the canonical-form trick of the original
    algorithm (Weisfeiler & Leman 1968; Shervashidze et al. 2011 WL
    kernels): sorting the neighbor colors makes the concatenation a
    canonical encoding, and md5 keeps the label width constant across
    rounds. Everything is a deterministic string function, so the
    refinement is engine-neutral — the DuckDB oracle (suite
    graph_wl_colors / graph_wl_classes) reproduces every color
    bit-for-bit: a HARD oracle for a graph-kernel primitive.

    Returns (node, wl_color) for every non-isolated node.

    Scale shape: the symmetric adjacency is built once and
    checkpointed; each round is ONE node-keyed
    join-collect_list-aggregate (sort_array over each node's
    neighbor-color list — memory ∝ max degree, the same bound
    neighbor_agg carries) and a hash projection; the color rounds run
    on ``_rounds`` (see the module docstring), so the plan stays
    round-deep. Per-round shuffle is O(|E|) on the node key, never
    quadratic; rounds needed in practice = graph diameter's log
    (refinement stabilizes in <= |V| rounds, typically a handful).
    """
    adj = _und_adj(_und_simple(edges, eager=None)).localCheckpoint(eager=True)

    def step(_, outs):
        colors = outs[-1]
        nb = (adj.join(colors.select(F.col("node").alias("m"),
                                     F.col("wl_color").alias("mc")), "m")
              .groupBy("n")
              .agg(F.array_join(F.array_sort(F.collect_list("mc")), ",")
                   .alias("ms")))
        return (colors.join(nb, colors["node"] == nb["n"])
                .select("node",
                        F.md5(F.concat_ws("|", "wl_color", "ms"))
                        .alias("wl_color")))

    return _rounds(step,
                   adj.groupBy("n").agg(F.count("*").alias("d"))
                   .select(F.col("n").alias("node"),
                           F.md5(F.col("d").cast("string"))
                           .alias("wl_color")),
                   rounds, until_empty=False)[-1]


def louvain_moves(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """One-level Louvain local-move passes (Blondel et al. 2008) over
    the undirected simple graph — THE modularity-ascent community
    heuristic — synchronized and determinized so a fixed round count
    unrolls to a bit-exact DuckDB twin: every node i simultaneously
    scores joining each neighbor community C (labels from the
    previous round) with the standard gain ordering

        k_{i,C}  -  k_i * sigma_tot(C \\ {i}) / 2m

    cross-multiplied onto integers: score(C) = 2m * k_{i,C} -
    k_i * sigma'(C), where sigma'(C) excludes i's own degree when C
    is its current community (the "remove i first" convention). The
    node's own community competes as a candidate even with zero
    internal edges; argmax wins, ties break to the SMALLEST community
    id (this also makes label basins merge deterministically, the
    same role the min tie-break plays in lpa_communities).

    Moves are SEMI-synchronous: round r only lets nodes with
    node % 2 == r % 2 move (everyone else keeps their label) — the
    standard parallel-Louvain/LPA fix (cf. Cordasco & Gargano 2010)
    for the oscillation a fully synchronous schedule exhibits on
    symmetric structures (two triangle nodes swapping into each
    other's community forever); with alternating phases the two-
    triangle-plus-bridge graph settles into its triangles by round 3
    (pinned in tests).

    Returns (node, community) for every non-isolated node after
    ``rounds`` synchronous passes — the first (and dominant) level of
    the Louvain hierarchy; iterating graph-contraction levels on top
    composes with the existing modularity() scorer.

    Scale shape: per round ONE |E|-sized label join + a map-side-
    combinable (node, community) count, a |V|-sized community-degree
    aggregate, and a node-keyed window pick; 2m is a 1-row broadcast.
    Everything is keyed on node/community ids — cost ∝ |E| per round.
    Scores are 64-bit products (2m * k): exact up to ~10^18, i.e.
    2m * max-degree < 2^63 — beyond that lift the two products to
    decimal(38,0). The label rounds run on ``_rounds`` (see the module
    docstring), so the plan stays round-deep.

    Oracle twin: _louvain_sql in operators/suite.py.
    """
    return louvain_levels(edges, rounds, levels=1)


def _louvain_pass(adj: DataFrame, sloop: DataFrame | None,
                  rounds: int) -> DataFrame:
    """One Louvain move level over a WEIGHTED adjacency: ``adj`` is
    the direction-expanded simple adjacency (n, m, w), ``sloop`` the
    per-node self-loop weight (n, sl; None at level 1 — contraction
    creates them). Node strength s = sum(w) + 2*sl (self-loops count
    twice, the igraph/python-louvain convention, which preserves 2m
    across contraction levels); gains and phases exactly as
    louvain_moves. Returns (node, comm, s)."""
    deg = adj.groupBy("n").agg(F.sum("w").alias("s"))
    if sloop is not None:
        deg = (deg.join(sloop, "n", "left")
               .select("n", (F.col("s")
                             + 2 * F.coalesce("sl", F.lit(0))).alias("s")))
    two_m = deg.agg(F.sum("s").alias("two_m"))
    w = Window.partitionBy("n").orderBy(F.desc("score"), F.asc("comm"))

    def step(r, outs):
        labels = outs[-1]
        kic = (adj.join(labels.select(F.col("node").alias("m"), "comm"),
                        "m")
               .groupBy("n", "comm").agg(F.sum("w").alias("k")))
        own = labels.select(F.col("node").alias("n"), "comm",
                            F.lit(0).cast("long").alias("k"))
        cand = (kic.unionByName(own)
                .groupBy("n", "comm").agg(F.max("k").alias("k")))
        sig = labels.groupBy("comm").agg(F.sum("s").alias("tot"))
        cur = labels.select(F.col("node").alias("n"),
                            F.col("comm").alias("own_comm"), "s")
        scored = (cand.join(sig, "comm").join(cur, "n")
                  .crossJoin(F.broadcast(two_m))
                  .withColumn(
                      "score",
                      F.col("two_m") * F.col("k")
                      - F.col("s")
                      * (F.col("tot")
                         - F.when(F.col("comm") == F.col("own_comm"),
                                  F.col("s")).otherwise(F.lit(0)))))
        moved = (scored.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1)
                 .select(F.col("n").alias("node"),
                         F.col("comm").alias("new_comm")))
        # rounds count from 1 and the first moves the even nodes
        return (labels.join(moved, "node")
                .select("node",
                        F.when(F.col("node") % 2 == F.lit((r - 1) % 2),
                               F.col("new_comm"))
                        .otherwise(F.col("comm")).alias("comm"),
                        "s"))

    return _rounds(step, deg.select(F.col("n").alias("node"),
                                    F.col("n").alias("comm"), "s"),
                   rounds, until_empty=False)[-1]


def fastrp_embeddings(edges: DataFrame, dims: int = 8,
                      rounds: int = 2) -> DataFrame:
    """FastRP graph embeddings (Chen, Sultan, Tyree & Perozzi, CIKM
    2019) determinized onto the engine's exact-arithmetic protocol:
    the very-sparse random projection r_d(v) in {-1, 0, +1} comes from
    md5(node '#f' d) (engine-neutral, no RNG state), each round
    propagates the HALF_UP integer MEAN over simple-graph neighbors
    (sign applied outside the division — the family's div-vs-floor
    rule), and the embedding is the equal-weight sum of the round
    outputs on the 1e-8 grid. Nodes embed near each other iff their
    r-hop neighborhoods mix the same random signs — the degree-mean
    variant of A_norm^k R, the production-grade structural embedding
    (Neo4j GDS ships exactly this family) at a fraction of node2vec's
    walk cost.

    Returns (node, f0..f{dims-1}) as doubles on the 1e-8 grid — a
    hard-oracle-able embedding VECTOR output (node2vec here emits
    walk corpora; this emits coordinates).

    Scale shape: per round ONE |E| join + a (node)-keyed sum of
    ``dims`` columns (map-side combined) + a |V| mean projection —
    the pagerank cost times dims; the rounds run on ``_rounds`` (see
    the module docstring). Oracle twin: _fastrp_sql in operators/suite.py.
    """
    adj = _und_adj(_und_simple(edges, eager=None)).localCheckpoint(eager=True)
    deg = adj.groupBy("n").agg(F.count("*").alias("deg"))
    xs = [f"x{d}" for d in range(dims)]

    def init(d):
        h = F.conv(F.substring(
            F.md5(F.concat(F.col("n").cast("string"),
                           F.lit(f"#f{d}"))), 1, 8), 16, 10).cast("long")
        return ((h % 3) - 1) * F.lit(100000000).cast("long")

    def step(_, outs):
        nb = (adj.join(outs[-1].select(F.col("node").alias("m"), *xs), "m")
              .groupBy("n")
              .agg(*[F.sum(f"x{d}").alias(f"s{d}") for d in range(dims)]))
        mean = [F.expr(
            f"CASE WHEN s{d} < 0 THEN -1 ELSE 1 END"
            f" * ((2 * abs(s{d}) + deg) div (2 * deg))").alias(f"x{d}")
            for d in range(dims)]
        return (nb.join(deg, "n")
                .select(F.col("n").alias("node"), "deg", *mean))

    x0 = deg.select(F.col("n").alias("node"), "deg",
                    *[init(d).alias(f"x{d}") for d in range(dims)])
    outs = _rounds(step, x0.localCheckpoint(eager=False), rounds,
                   until_empty=False)[1:]
    # the embedding: one exact node-keyed sum over the rounds' outputs
    return (_union_all([x.select("node", *xs) for x in outs])
            .groupBy("node")
            .agg(*[(F.sum(f"x{d}").cast("double") / 1e8).alias(f"f{d}")
                   for d in range(dims)]))


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance over the undirected simple graph:
    phi(C) = cut(C) / min(vol(C), 2m - vol(C)) — the standard
    community-QUALITY metric (low phi = few edges escape relative to
    the community's volume; the complement of what modularity scores
    globally). ``labels`` is any (node, community) assignment —
    Louvain, LPA, CC, an external partition — so this is the
    evaluation half of the community family.

    Exact arithmetic: cut and volume are integers; phi lands once on
    the 1e-8 grid via HALF_UP integer division (whole-graph
    communities, where min(vol, 2m-vol) = 0, report phi = 0 — there
    is no cut). Returns (community, n_nodes, volume, cut_edges, phi).

    Scale shape: one |E| double label join (cut), one |V| degree
    aggregate joined to labels (volume), a |communities|-sized rollup;
    2m is a 1-row broadcast. Nothing exceeds the Louvain pass cost.
    """
    adj = _und_adj(_und_simple(edges, eager=None))
    lab = labels.select(F.col("node").alias("n"),
                        F.col("community").alias("c"))
    deg = adj.groupBy("n").agg(F.count("*").alias("deg"))
    per_node = deg.join(lab, "n")
    vol = (per_node.groupBy("c")
           .agg(F.count("*").alias("n_nodes"),
                F.sum("deg").alias("volume")))
    la = lab
    lb = lab.select(F.col("n").alias("m"), F.col("c").alias("cb"))
    cut = (adj.join(la, "n").join(lb, "m")
           .filter(F.col("c") != F.col("cb"))
           .groupBy("c").agg(F.count("*").alias("cut_edges")))
    two_m = deg.agg(F.sum("deg").alias("two_m"))
    out = (vol.join(cut, "c", "left")
           .crossJoin(F.broadcast(two_m))
           .select("c", "n_nodes", "volume",
                   F.coalesce("cut_edges", F.lit(0)).alias("cut_edges"),
                   F.expr("least(volume, two_m - volume)").alias("mind")))
    phi = F.expr("CASE WHEN mind = 0 THEN 0 ELSE"
                 " (2 * cut_edges * 100000000 + mind) div (2 * mind)"
                 " END")
    return out.select(F.col("c").alias("community"), "n_nodes",
                      "volume", "cut_edges",
                      (phi.cast("double") / 1e8).alias("phi"))


def louvain_levels(edges: DataFrame, rounds: int = 3,
                   levels: int = 2) -> DataFrame:
    """The full Louvain hierarchy (Blondel et al. 2008) to ``levels``
    depth, determinized end-to-end: level 1 is louvain_moves'
    semi-synchronous integer-gain pass over the unit-weight simple
    graph; then the graph CONTRACTS — communities become supernodes,
    inter-community edge weights sum, intra-community weight becomes
    a self-loop (counted twice in strength, so 2m is invariant across
    levels) — and the same weighted pass runs on the supergraph. The
    final mapping composes levels: every original node reports its
    top-level community. This is the part of Louvain that delivers
    the big modularity gains at web scale (hub-dominated level-1
    communities merge into stable super-communities), and it stays a
    bit-exact DuckDB twin because contraction is pure integer
    aggregation and the weighted gains reuse the same cross-
    multiplied ordering.

    Scale shape: each level's pass is the louvain_moves shape (|E|
    label join + (node, comm) sum + window pick per round); the
    contraction is ONE |E|-sized double label join + a (comm, comm)
    sum — and every level's graph is no larger than the last. Labels
    and contracted edges are checkpointed between levels.

    Oracle twin: _louvain_levels_sql in operators/suite.py.
    """
    adj = (_und_adj(_und_simple(edges, eager=None))
           .select("n", "m", F.lit(1).cast("long").alias("w"))
           .localCheckpoint(eager=True))
    sloop = None  # (n, sl): contraction creates self-loops
    mapping = None  # node -> current top community
    for lvl in range(levels):
        last = lvl == levels - 1
        lab = _louvain_pass(adj, sloop, rounds).select("node", "comm")
        if not last:
            lab = lab.localCheckpoint(eager=True)
        # LEFT join: a community that contracted into an isolated
        # supernode (no inter-community edges) is absent from the next
        # level's adjacency and keeps its id
        mapping = lab if mapping is None else (
            mapping.join(lab.select(F.col("node").alias("comm"),
                                    F.col("comm").alias("next_comm")),
                         "comm", "left")
            .select("node", F.coalesce("next_comm", "comm").alias("comm")))
        if last:
            break
        # contract: relabel both endpoints, aggregate weights
        la = lab.withColumnsRenamed({"node": "n", "comm": "ca"})
        lb = lab.withColumnsRenamed({"node": "m", "comm": "cb"})
        rel = adj.join(la, "n").join(lb, "m")
        inter = (rel.filter(F.col("ca") != F.col("cb"))
                 .groupBy(F.col("ca").alias("n"), F.col("cb").alias("m"))
                 .agg(F.sum("w").alias("w")))
        # intra weight: each undirected {a,b} edge appears twice in
        # adj — sum(w)/2 per community is the self-loop weight; plus
        # inherited self-loops mapped up
        intra = (rel.filter(F.col("ca") == F.col("cb"))
                 .groupBy(F.col("ca").alias("n"))
                 .agg(F.expr("sum(w) div 2").alias("sl")))
        if sloop is not None:
            inh = (sloop.join(lab.withColumnsRenamed({"node": "n"}), "n")
                   .select(F.col("comm").alias("n"), "sl"))
            intra = (intra.unionByName(inh)
                     .groupBy("n").agg(F.sum("sl").alias("sl")))
        sloop = intra.localCheckpoint(eager=True)
        adj = inter.localCheckpoint(eager=True)
    return mapping.select("node", F.col("comm").alias("community"))


def rich_club(edges: DataFrame) -> DataFrame:
    """Rich-club coefficient curve over the undirected simple graph:
    for every degree threshold k present in the graph,
    phi(k) = 2 * E_k / (N_k * (N_k - 1)) where N_k = #nodes with
    degree > k and E_k = #edges whose BOTH endpoints have degree > k
    (Colizza et al. 2006) — the "do the hubs club together" curve
    that separates a web/citation core from a decentralized topology.

    Exactness: N_k and E_k are exact integers via two cumulative
    histograms — per-node degrees roll up to a degree histogram, and
    each edge contributes min(deg(a), deg(b)) so that
    E_k = #edges with min-endpoint-degree > k, a suffix sum. phi is
    one correctly-rounded double division re-rounded to 8 dp — the
    DuckDB oracle (graph_rich_club) is bit-exact.

    Scale shape: one degree aggregation, one edge->degree join keyed
    on node ids (two joins, the triangle-counting discipline), then
    ALL window work happens on the degree histogram — whose size is
    the number of DISTINCT degrees (<= thousands at any graph scale),
    so the curve costs two |E|-sized aggregations and a toy window,
    never a per-k pass."""
    und = _und_simple(edges)
    deg = _und_nodes(und).groupBy("n").agg(F.count("*").alias("d"))
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    emin = (und.join(da, "a").join(db, "b")
            .select(F.least("da", "db").alias("md")))
    # suffix-sum both histograms over the shared threshold axis
    dh = deg.groupBy("d").agg(F.count("*").alias("nd"))
    eh = emin.groupBy(F.col("md").alias("d")).agg(F.count("*").alias("ne"))
    hist = dh.join(eh, "d", "full") \
             .select("d", F.coalesce("nd", F.lit(0)).alias("nd"),
                     F.coalesce("ne", F.lit(0)).alias("ne"))
    w = (Window.orderBy(F.col("d").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    curve = hist.select(
        F.col("d").alias("k"),
        F.coalesce(F.sum("nd").over(w), F.lit(0)).alias("n_k"),
        F.coalesce(F.sum("ne").over(w), F.lit(0)).alias("e_k"))
    return (curve.filter(F.col("n_k") >= 2)
            .select("k", "n_k", "e_k",
                    F.round(F.lit(2.0) * F.col("e_k").cast("double")
                            / (F.col("n_k").cast("double")
                               * (F.col("n_k").cast("double") - 1)), 8)
                    .alias("phi")))


def degree_powerlaw(edges: DataFrame, d_min: int = 2) -> DataFrame:
    """Hill / discrete-MLE power-law exponent of the degree
    distribution (Clauset-Shalizi-Newman 2009 eq. 3.7 continuous
    approximation): over nodes with degree >= d_min,

        alpha_hat = 1 + n_tail / sum ln(d_i / (d_min - 1/2))

    plus the tail size and max degree — the one-row scorecard that
    says whether a crawl/citation graph is scale-free enough to need
    skew handling (alpha ~ 2-3) before the expensive operators run.

    Cross-engine: each node's ln term is 8-dp-grid rounded, the sum
    follows the decimal(28,8) protocol, alpha is one double division
    re-rounded to 6 dp — graph_powerlaw's DuckDB twin is bit-exact.
    Scale shape: one degree aggregation + one 1-row aggregate; the ln
    join never happens (it's a projection on the degree table)."""
    und = _und_simple(edges)
    deg = _und_nodes(und).groupBy("n").agg(F.count("*").alias("d"))
    tail = deg.filter(F.col("d") >= d_min).select(
        "d", F.round(F.log(F.col("d").cast("double")
                           / F.lit(d_min - 0.5)), 8).alias("lt"))
    return tail.agg(
        F.lit(d_min).cast("bigint").alias("d_min"),
        F.count("*").alias("n_tail"),
        F.max("d").alias("d_max"),
        F.round(F.lit(1.0) + F.count("*").cast("double")
                / F.sum(F.col("lt").cast("decimal(28,8)")).cast("double"),
                6).alias("alpha"))


def trussness(edges: DataFrame, max_rounds: int = 200) -> DataFrame:
    """Full truss decomposition: trussness(e) = the maximum k such
    that edge e belongs to the k-truss — ``ktruss`` asks one k, this
    labels every edge (the edge-level analog of ``coreness``, the
    standard output for community-strength ranking: an edge of
    trussness k lives inside a subgraph where EVERY edge closes
    >= k-2 triangles). Ascending-threshold peeling: peel at k=3 to
    fixpoint, raise k, re-peel the survivors; an edge removed while
    the threshold is k has trussness k-1, and edges that fall out at
    the first threshold (no triangle support) have trussness 2 (every
    edge is a 2-truss member by definition).

    Returns (a, b, trussness) for every edge of the undirected simple
    graph, a < b.

    Scale shape: identical per-round cost to ktruss
    (``_truss_step``); ``max_rounds`` bounds the peel rounds over all
    thresholds (see ``_peel``), plus one labeling anti-join per
    threshold that removed edges. The labeled output accumulates ∝
    edges dropped, unioned as a balanced tree.

    Oracle twin: _trussness_sql in operators/suite.py (max-k
    membership over per-k unrolled ktruss peels, default 2 —
    provably the same labeling).
    """
    live = _und_simple(edges)
    n_live = live.count()
    parts: list[DataFrame] = []
    k, left = 3, max_rounds
    while n_live:
        before, n_before = live, n_live
        live, n_live, left = _peel(
            _truss_step(k), live, n_live, left,
            f"trussness: no convergence in {max_rounds} rounds")
        if n_live != n_before:
            parts.append(
                before.join(live, ["a", "b"], "left_anti")
                .select("a", "b", F.lit(k - 1).cast("int").alias("trussness"))
                .localCheckpoint(eager=True))
        k += 1
    if not parts:
        return live.select("a", "b", F.lit(2).cast("int").alias("trussness"))
    return _union_all(parts)


def bowtie(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Broder bow-tie decomposition of a directed graph (Broder et
    al. 2000, "Graph structure in the Web") — THE structural census
    of a crawl: every node classified relative to the largest
    strongly connected component as

      CORE     the largest SCC
      IN       reaches CORE, not in it
      OUT      reachable from CORE, not in it
      TUBE     on an IN -> OUT path that bypasses CORE
      TENDRIL  hangs off IN (forward) or off OUT (backward) only
      DISC     none of the above (disconnected from the bow tie)

    Correctness note for TUBE/TENDRIL: for a node outside
    CORE ∪ IN ∪ OUT, any path from IN to it CANNOT pass through CORE
    (a CORE-passing path would make it CORE-reachable, i.e. OUT), so
    plain forward-reach(IN) / backward-reach(OUT) restricted to the
    residue implements Broder's "without touching CORE" side
    condition exactly — no path-constrained search needed.

    Returns (node_id, component) over all edge endpoints.

    Scale shape: one SCC run (trim+color+mark, diameter-bound on the
    core), ONE driver-sized collect for the largest component id,
    then four multi-source BFS sweeps (forward/backward from CORE,
    forward from IN, backward from OUT) — each frontier-only — and a
    single five-way classification projection via left-semi flags.
    This is the census Common-Crawl-scale link graphs get run on
    once per snapshot.
    """
    comp = strongly_connected_components(edges, max_rounds=max_rounds)
    top = (comp.groupBy("scc_id").agg(F.count("*").alias("n"))
           .orderBy(F.col("n").desc(), F.col("scc_id").asc())
           .limit(1).collect())
    core_id = top[0]["scc_id"]
    core = (comp.filter(F.col("scc_id") == F.lit(core_id))
            .select("node_id").localCheckpoint(eager=True))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    fwd_core = bfs_distances(core, edges, max_rounds).select("node_id")
    bwd_core = bfs_distances(core, rev, max_rounds).select("node_id")
    in_set = (bwd_core.join(core, "node_id", "left_anti")
              .localCheckpoint(eager=True))
    out_set = (fwd_core.join(core, "node_id", "left_anti")
               .localCheckpoint(eager=True))
    t_in = bfs_distances(in_set, edges, max_rounds).select("node_id")
    t_out = bfs_distances(out_set, rev, max_rounds).select("node_id")
    nodes = comp.select("node_id")

    def flag(s, name):
        return (s.distinct().withColumn(name, F.lit(True)))

    lab = (nodes
           .join(flag(core, "is_core"), "node_id", "left")
           .join(flag(in_set, "is_in"), "node_id", "left")
           .join(flag(out_set, "is_out"), "node_id", "left")
           .join(flag(t_in, "f_in"), "node_id", "left")
           .join(flag(t_out, "b_out"), "node_id", "left"))
    c = F.when(F.col("is_core"), F.lit("CORE")) \
         .when(F.col("is_in"), F.lit("IN")) \
         .when(F.col("is_out"), F.lit("OUT")) \
         .when(F.coalesce("f_in", F.lit(False))
               & F.coalesce("b_out", F.lit(False)), F.lit("TUBE")) \
         .when(F.coalesce("f_in", F.lit(False))
               | F.coalesce("b_out", F.lit(False)), F.lit("TENDRIL")) \
         .otherwise(F.lit("DISC"))
    return lab.select("node_id", c.alias("component"))


def salsa(edges: DataFrame, iterations: int = 2,
          out_scale: int = 8) -> DataFrame:
    """SALSA (Lempel & Moran 2000): hub/authority ranking via the two
    DEGREE-NORMALIZED random walks over the directed support graph —
    the Twitter-WTF / web-spam-resistant alternative to HITS, whose
    mutual reinforcement it replaces with the stationary distribution
    of a bipartite walk (authorities ∝ in-degree within a connected
    authority component; a few iterations from uniform give the
    useful TKC-free ranking). Parallel edges collapse (the walk is on
    the support graph, per the paper).

        hub_k(u)  = sum over (u,v) of auth_{k-1}(v) / indeg(v)
        auth_k(v) = sum over (u,v) of hub_k(u)      / outdeg(u)

    init auth_0 = 1 on every authority-side node.

    Deterministic across engines on the pagerank decimal protocol:
    each contribution is round(x / deg, 12) (correctly-rounded IEEE
    division), summed exactly as decimal(28,12), re-rounded to the
    12-dp grid; output rounded to ``out_scale`` — the DuckDB twin
    (_web_salsa_oracle) is bit-exact.

    Scale shape: the degree-annotated edge set is built once and
    persisted hash-partitioned on src; each half-round shuffles only
    the |V|-sized score vector into it (the hits discipline). Returns
    (node_id, hub, auth) with 0 for absent roles.
    """
    g = str(_GRID)
    with _persisted(edges.select("src", "dst").distinct()) as e:
        outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
        indeg = e.groupBy("dst").agg(F.count("*").alias("idg"))
        ed = (e.join(outdeg, "src").join(indeg, "dst")
              .localCheckpoint(eager=True))

        def half(scores, score_col, key, deg_col, out_key, out_col):
            return (ed.join(scores, ed[key] == scores["node_id"])
                    .groupBy(out_key)
                    .agg(F.round(
                        F.sum(F.round(F.col(score_col) / F.col(deg_col),
                                      _GRID).cast(f"decimal(28,{g})"))
                        .cast("double"), _GRID).alias(out_col))
                    .withColumnRenamed(out_key, "node_id"))

        auth, hub = _reinforce(
            lambda auth: half(auth, "auth", "dst", "idg", "src", "hub"),
            lambda hub: half(hub, "hub", "src", "od", "dst", "auth"),
            indeg.select(F.col("dst").alias("node_id"),
                         F.lit(1.0).alias("auth")), iterations)
    return (_endpoints(ed)
            .join(hub, "node_id", "left")
            .join(auth, "node_id", "left")
            .select("node_id",
                    F.round(F.coalesce("hub", F.lit(0.0)), out_scale)
                    .alias("hub"),
                    F.round(F.coalesce("auth", F.lit(0.0)), out_scale)
                    .alias("auth")))


def ab_core(edges: DataFrame, alpha: int, beta: int,
            max_rounds: int = 100) -> DataFrame:
    """The (alpha, beta)-core of a bipartite graph (Ding et al. 2017):
    the maximal bipartite subgraph where every LEFT node keeps degree
    >= alpha and every RIGHT node degree >= beta — the bipartite
    analog of k-core (k-core itself is blind to the two-sided
    structure: a spam farm of 1-degree users on high-degree pages
    survives a k=1 core but not a (2,2)-core). Computed by
    alternating peeling to fixpoint. Returns the surviving edges
    (u, v) of the simple support graph.

    Scale shape: per round one degree aggregate per side + two
    semi-joins over a monotonically shrinking edge set — the kcore
    step with two thresholds, run to fixpoint by ``_peel``.

    Oracle twin: _ab_core_sql in operators/suite.py (rounds
    unrolled; fixpoint rounds are no-ops so over-unrolling is safe).
    """
    def step(live: DataFrame) -> DataFrame:
        du = (live.groupBy("u").agg(F.count("*").alias("d"))
              .filter(F.col("d") >= alpha).select("u"))
        dv = (live.groupBy("v").agg(F.count("*").alias("d"))
              .filter(F.col("d") >= beta).select("v"))
        return (live.join(du, "u", "left_semi")
                .join(dv, "v", "left_semi"))

    live = (edges.select("u", "v").distinct()
            .localCheckpoint(eager=True))
    return _peel(step, live, live.count(), max_rounds,
                 f"ab_core: no convergence in {max_rounds} rounds")[0]


def ic_cascade(edges: DataFrame, seeds: DataFrame, rounds: int = 4,
               p_num: int = 1, p_den: int = 2) -> DataFrame:
    """Independent-Cascade influence spread (Kempe, Kleinberg & Tardos
    2003) with DETERMINISTIC md5 coins — the influence-maximization
    inner loop (one Monte-Carlo sample of the cascade), done the
    reproducible way: when node u first activates at round r-1, each
    out-edge (u, v) gets its single activation trial at round r and
    fires iff md5("ic:r:u:v") mod ``p_den`` < ``p_num`` (probability
    p_num/p_den under the uniform hash). Because a node activates at
    most once, every edge is tried at most once — the IC contract —
    and the whole cascade is a pure function of (edge set, seed set,
    p), identical on every run and every engine: a HARD oracle for a
    randomized diffusion process (vary the coin namespace to draw
    independent samples).

    ``seeds``: one column ``node_id`` (activated at round 0). Returns
    (node_id, round) for every activated node within ``rounds``.

    Scale shape: the edge set is persisted hash-partitioned on src
    once; each round joins only the NEW-activation frontier against
    it (frontier-proportional work, the bfs_distances discipline) plus
    one anti-join against the activated set; stops early when a round
    activates nothing.
    """
    active = (seeds.select("node_id").distinct()
              .withColumn("round", F.lit(0).cast("int"))
              .localCheckpoint(eager=True))
    with _persisted(edges.select("src", "dst").distinct()) as e:
        def step(r, parts):
            frontier = parts[-1]
            coin = (F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.lit("ic"), F.lit(r), F.col("src"),
                F.col("dst"))), 1, 12), 16, 10).cast("bigint")
                % F.lit(p_den) < F.lit(p_num))
            return (frontier.join(e, frontier["node_id"] == e["src"])
                    .filter(coin)
                    .select(F.col("dst").alias("node_id")).distinct()
                    .join(_union_all(parts), "node_id", "left_anti")
                    .withColumn("round", F.lit(r).cast("int")))

        return _union_all(_rounds(step, active, rounds))


def katz(edges: DataFrame, iterations: int = 4, decay_pow: int = 1,
         out_scale: int = 8) -> DataFrame:
    """Truncated Katz centrality (Katz 1953): c(v) = sum over path
    lengths k = 1..iterations of beta^k * (number of walks of length
    k ending at v) — the influence measure that counts ALL inbound
    walks with geometric attenuation, where PageRank counts only the
    random-walk mass (Katz rewards being reachable many ways;
    in-degree is its k=1 truncation). Parallel edges count with
    multiplicity (walk semantics).

    beta is restricted to 10^-``decay_pow`` ON PURPOSE: walk counts
    are exact integers (the HITS discipline), and with S = 10^d the
    whole truncated sum folds as a HORNER recurrence on integers,

        acc_k(v) = acc_{k-1}(v) * S + w_k(v),
        c(v)     = acc_K(v) / S^K,

    so there is NO decimal division (whose precision/scale rules
    differ between engines) and no float protocol anywhere in the
    loop — acc is exact decimal(38,0) integer state, and the only
    floating step is the final correctly-rounded double division by
    the exactly-representable S^K, re-rounded to ``out_scale``. The
    DuckDB twin (_katz_sql, HUGEINT accumulator) is bit-exact by
    construction. Requires iterations * decay_pow <= 15 so S^K stays
    an exact double.

    Returns (node_id, katz) over all edge endpoints.

    Scale shape: the edge set is persisted hash-partitioned on src
    once; each round shuffles only the |V|-row walk-count vector (one
    join + one dst-keyed sum), checkpointed per round; the Horner sum
    is then unrolled into ONE node-keyed sum over the rounds' counts
    (w_k scaled by S^(K-k)). Truncation depth is the adversarial knob,
    not |V|: walk counts grow like degree^k and decimal(38) holds
    hub-degree 10^4 graphs to k ~ 8 — beyond that the attenuated
    terms are below any practical output grid anyway.
    """
    assert iterations * decay_pow <= 15, "S^K must stay an exact double"
    s = 10 ** decay_pow
    dec = "decimal(38,0)"
    with _persisted(edges.select("src", "dst")) as e:
        nodes = _endpoints(e).localCheckpoint(eager=True)
        walks = _rounds(
            lambda _, walks: (
                e.join(walks[-1].withColumnRenamed("node_id", "src"), "src")
                .groupBy("dst").agg(F.sum("w").cast(dec).alias("w"))
                .withColumnRenamed("dst", "node_id")),
            nodes.withColumn("w", F.lit(1).cast(dec)), iterations,
            until_empty=False)
    # the Horner fold unrolled: acc_K = sum over k of w_k * S^(K-k),
    # one exact integer sum over the rounds' walk counts
    acc = (_union_all([
        w.select("node_id", (F.col("w") * F.lit(s ** (iterations - k)))
                 .cast(dec).alias("acc"))
        for k, w in enumerate(walks) if k])
        .groupBy("node_id").agg(F.sum("acc").cast(dec).alias("acc")))
    denom = float(s ** iterations)
    return (nodes.join(acc, "node_id", "left")
            .select("node_id",
                    F.round(F.coalesce(F.col("acc"), F.lit(0).cast(dec))
                            .cast("double") / F.lit(denom),
                            out_scale).alias("katz")))


def dyad_census(edges: DataFrame) -> DataFrame:
    """Holland-Leinhardt dyad census of a directed graph: the number
    of MUTUAL (both directions present), ASYMMETRIC (exactly one),
    and NULL (neither) dyads over all unordered node pairs, plus the
    reciprocity ratio mutual / (mutual + asym) — the first statistic
    of any social/link-graph analysis (a crawl graph with high
    reciprocity is a link exchange; citation DAGs sit near zero).
    Self-loops dropped; parallel edges collapse (dyads are about the
    support).

    Exact and one-pass: canonicalize each arc to its unordered pair
    with a direction bit, then one pair-keyed aggregate — a dyad with
    both bits is mutual, one bit asymmetric; nulls are
    C(n, 2) - mutual - asym in closed form (never materialized: the
    null count at web scale is ~n^2/2 and exists only as arithmetic).
    Reciprocity is one correctly-rounded 6-dp division. Returns ONE
    row (n_nodes, mutual, asym, nulls, reciprocity) — bit-exact in
    any engine.
    """
    e = (edges.filter(F.col("src") != F.col("dst"))
         .select(F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b"),
                 (F.col("src") < F.col("dst")).cast("int").alias("fwd"),
                 (F.col("src") > F.col("dst")).cast("int").alias("rev")))
    dyads = (e.groupBy("a", "b")
             .agg(F.max("fwd").alias("f"), F.max("rev").alias("r")))
    nodes = (edges.select(F.col("src").alias("n"))
             .unionByName(edges.select(F.col("dst").alias("n")))
             .distinct().agg(F.count("*").alias("n_nodes")))
    agg = dyads.agg(
        F.sum((F.col("f") * F.col("r")).cast("bigint")).alias("mutual"),
        F.sum(((F.col("f") + F.col("r")) == 1).cast("bigint"))
        .alias("asym"))
    return (agg.crossJoin(F.broadcast(nodes))
            .select("n_nodes", "mutual", "asym",
                    (F.expr("n_nodes * (n_nodes - 1) DIV 2")
                     - F.col("mutual") - F.col("asym")).cast("bigint")
                    .alias("nulls"),
                    F.round(F.col("mutual").cast("double")
                            / (F.col("mutual")
                               + F.col("asym")).cast("double"), 6)
                    .alias("reciprocity")))


def spam_mass(edges: DataFrame, seeds: DataFrame, iterations: int = 5,
              damping: float = 0.85) -> DataFrame:
    """TrustRank + relative spam mass (Gyongyi, Garcia-Molina &
    Pedersen, VLDB 2004) — the link-spam demotion signal a crawl
    pipeline runs before trusting PageRank: trust flows from a
    hand-vetted seed set via :func:`personalized_pagerank`, and a
    node's spam mass is the fraction of its PageRank share NOT
    accounted for by trusted flow,
    ``m = 1 - (tr/sum_tr) / (pr/sum_pr)``.

    Determinism: both rank vectors live on the 12-dp grid (the
    pagerank protocol); the two normalizing sums are EXACT
    decimal(38,12) aggregates of grid values cast to double at the
    end (an IEEE double sum would be partition-order-dependent), and
    the share quotient is a fixed sequence of IEEE ops on identical
    doubles — so the DuckDB twin is bit-identical. ``pr`` runs
    ``normalized=False`` (init 1, teleport 0.15 — constants free of
    the data-dependent |V|).

    Scale shape: two rank iterations over the same persisted
    adjacency + one node-keyed join + two 1-row broadcast sums; the
    only corpus-sized exchanges are the per-round inflow aggregates
    both pageranks already pay.
    """
    pr = pagerank(edges, iterations=iterations, damping=damping,
                  normalized=False)
    tr = (personalized_pagerank(edges, seeds, iterations=iterations,
                                damping=damping)
          .withColumnRenamed("rank", "trank"))
    spr = pr.agg(F.sum(F.col("rank").cast("decimal(38,12)"))
                 .cast("double").alias("spr"))
    str_ = tr.agg(F.sum(F.col("trank").cast("decimal(38,12)"))
                  .cast("double").alias("str"))
    j = (pr.join(tr, "node_id")
         .crossJoin(F.broadcast(spr))
         .crossJoin(F.broadcast(str_)))
    share_pr = F.col("rank") / F.col("spr")
    share_tr = F.col("trank") / F.col("str")
    return j.select(
        "node_id",
        F.round("rank", 8).alias("pr"),
        F.round("trank", 8).alias("tr"),
        F.round(F.lit(1.0) - share_tr / share_pr, 8).alias("spam_mass"))


def simrank(edges: DataFrame, iterations: int = 3, decay_num: int = 4,
            decay_den: int = 5, scale: int = 8) -> DataFrame:
    """SimRank structural similarity (Jeh & Widom, KDD 2002): two
    nodes are similar if their in-neighbors are similar —
    ``s_k(a,b) = C/(|I(a)||I(b)|) * sum s_{k-1}(I(a) x I(b))`` with
    ``s(a,a) = 1``; the KG use is ranking candidate duplicate
    entities by how interchangeably the graph cites them.

    ALL-INTEGER protocol: scores live on the 10^-scale grid as
    longs; C = decay_num/decay_den stays rational, each update is one
    exact HALF_UP integer division
    ``(2*num*C_n + C_d*|Ia|*|Ib|) div (2*C_d*|Ia|*|Ib|)`` — no
    doubles anywhere, so the DuckDB twin (HUGEINT) is bit-identical
    with zero float protocol. In-neighbor sets are MULTISETS (every
    parallel edge contributes), matching the multigraph inputs.

    Scale shape and honest contract: the pair frame is the classic
    SimRank cost — it grows toward the co-citation closure, and each
    iteration is |pairs| x (out-deg)^2 join work. The sparse
    formulation only materializes pairs with s > 0 (zero rows are
    dropped every round) and runs on ``_rounds``, but SimRank at
    web scale is a per-ER-BLOCK operator (bounded candidate sets
    from blocking, like the linking pipeline's), not a whole-graph
    one; for whole-graph similarity use the random-walk samplers.
    """
    E = edges.select("src", "dst").localCheckpoint(eager=True)
    nodes = (E.select(F.col("src").alias("n"))
             .unionByName(E.select(F.col("dst").alias("n")))
             .distinct().localCheckpoint(eager=True))
    ind = E.groupBy("dst").agg(F.count("*").alias("ind"))
    grid = 10 ** scale
    diag = nodes.select(F.col("n").alias("u"), F.col("n").alias("v"),
                        F.lit(grid).cast("long").alias("s_e8"))
    ea = E.select(F.col("src").alias("u"), F.col("dst").alias("a"))
    eb = E.select(F.col("src").alias("v"), F.col("dst").alias("b"))
    s_expr = F.expr(
        f"(2 * {decay_num} * CAST(num AS DECIMAL(38,0))"
        f" + {decay_den} * CAST(ia AS DECIMAL(38,0))"
        f"   * CAST(ib AS DECIMAL(38,0)))"
        f" div (2 * {decay_den} * CAST(ia AS DECIMAL(38,0))"
        f"      * CAST(ib AS DECIMAL(38,0)))")

    def step(_, outs):
        num = (outs[-1].join(ea, "u").join(eb, "v")
               .groupBy("a", "b").agg(F.sum("s_e8").alias("num")))
        nxt = (num
               .join(ind.select(F.col("dst").alias("a"),
                                F.col("ind").alias("ia")), "a")
               .join(ind.select(F.col("dst").alias("b"),
                                F.col("ind").alias("ib")), "b"))
        off = (nxt.filter(F.col("a") != F.col("b"))
               .select(F.col("a").alias("u"), F.col("b").alias("v"),
                       s_expr.cast("long").alias("s_e8"))
               .filter(F.col("s_e8") > 0))
        return off.unionByName(diag)

    pairs = _rounds(step, diag, iterations, until_empty=False)[-1]
    return (pairs.filter(F.col("u") < F.col("v"))
            .select("u", "v", "s_e8",
                    (F.col("s_e8").cast("double") / F.lit(float(grid)))
                    .alias("simrank")))


def triad_code_table() -> dict[int, str]:
    """The 64 -> 16 triad-type lookup for the Holland-Leinhardt census:
    key = c_ab*16 + c_ac*4 + c_bc over the three dyads of a sorted
    triple a < b < c, where each dyad code is 0 = null, 1 = low->high
    arc, 2 = high->low arc, 3 = mutual. Labels follow the standard
    MAN notation (021D = out-star A<-B->C, 021U = in-star, 021C =
    chain; 111D = outsider's arc INTO the mutual dyad, 111U = out of
    it; 030T transitive vs 030C cycle; 120D/U/C mirror 021 with the
    third dyad mutual). Derived structurally from explicit 3-node
    digraphs, so the Spark CASE and the DuckDB oracle CASE are the
    same generated table."""
    table = {}
    pairs = [(0, 1), (0, 2), (1, 2)]  # (a,b), (a,c), (b,c) index pairs
    for cab in range(4):
        for cac in range(4):
            for cbc in range(4):
                arcs = set()
                for (x, y), code in zip(pairs, (cab, cac, cbc)):
                    if code in (1, 3):
                        arcs.add((x, y))
                    if code in (2, 3):
                        arcs.add((y, x))
                codes = (cab, cac, cbc)
                m = sum(1 for c in codes if c == 3)
                a = sum(1 for c in codes if c in (1, 2))
                if (m, a) == (0, 0):
                    lbl = "003"
                elif (m, a) == (0, 1):
                    lbl = "012"
                elif (m, a) == (1, 0):
                    lbl = "102"
                elif (m, a) == (2, 0):
                    lbl = "201"
                elif (m, a) == (3, 0):
                    lbl = "300"
                elif (m, a) == (2, 1):
                    lbl = "210"
                elif (m, a) == (0, 3):
                    outd = [0, 0, 0]
                    ind = [0, 0, 0]
                    for x, y in arcs:
                        outd[x] += 1
                        ind[y] += 1
                    lbl = "030C" if max(outd) == 1 and max(ind) == 1 \
                        else "030T"
                elif (m, a) == (1, 1):
                    # the mutual pair; the asym arc's outsider endpoint
                    mut = next(p for p, c in zip(pairs, codes) if c == 3)
                    asym = next(set(p) for p, c in zip(pairs, codes)
                                if c in (1, 2))
                    outsider = (asym - set(mut)).pop()
                    arc = next((x, y) for x, y in arcs
                               if set((x, y)) == asym)
                    lbl = "111D" if arc[0] == outsider else "111U"
                else:  # (0,2) or (1,2): D/U/C by the two asym arcs
                    asym_arcs = []
                    for (x, y), code in zip(pairs, codes):
                        if code == 1:
                            asym_arcs.append((x, y))
                        elif code == 2:
                            asym_arcs.append((y, x))
                    (t1, h1), (t2, h2) = asym_arcs
                    if t1 == t2:
                        duc = "D"
                    elif h1 == h2:
                        duc = "U"
                    else:
                        duc = "C"
                    lbl = ("021" if m == 0 else "120") + duc
                table[cab * 16 + cac * 4 + cbc] = lbl
    return table


TRIAD_LABELS = ["003", "012", "102", "021D", "021U", "021C", "111D",
                "111U", "030T", "030C", "201", "120D", "120U", "120C",
                "210", "300"]


def triad_census(edges: DataFrame) -> DataFrame:
    """Holland-Leinhardt directed triad census (all 16 MAN classes)
    via the Batagelj-Mrvar decomposition (Social Networks 2001):
    connected triads (>= 2 linked dyads) are ENUMERATED through wedge
    joins on the linked-dyad table and classified by the generated
    64->16 code CASE; the quadratically-many disconnected triads come
    from closed-form integer arithmetic — 012 = A*(n-2) - (asym dyads
    inside connected triads), 102 = M*(n-2) - (mutual dyads inside),
    003 = C(n,3) - everything else. Self-loops dropped; node universe
    = edge endpoints.

    Scale shape: work is O(wedges) = sum deg^2 over the linked-dyad
    graph (the triangle-counting budget), never O(n^3); the only
    corpus-sized shuffles are the dyad groupBy, the wedge join, and
    the distinct-triple dedup. All counts are exact BIGINTs.
    """
    spark = edges.sparkSession
    E = (edges.select("src", "dst")
         .filter(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=True))
    dy = (E.select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"),
                   (F.col("src") < F.col("dst")).cast("int").alias("f"),
                   (F.col("src") > F.col("dst")).cast("int").alias("r"))
          .groupBy("a", "b")
          .agg((F.max("f") + 2 * F.max("r")).alias("code"))
          .localCheckpoint(eager=True))
    n_nodes = (E.select(F.col("src").alias("x"))
               .unionByName(E.select(F.col("dst").alias("x")))
               .distinct().count())

    # wedges over the symmetrized linked-dyad relation; every triple
    # with >= 2 linked dyads appears (endpoints x < z around center y)
    P = (dy.select(F.col("a").alias("x"), F.col("b").alias("y"))
         .unionByName(dy.select(F.col("b").alias("x"),
                                F.col("a").alias("y"))))
    tri = (P.alias("l").join(
        P.select(F.col("x").alias("y2"), F.col("y").alias("z")).alias("r"),
        (F.col("l.y") == F.col("r.y2")) & (F.col("l.x") < F.col("r.z")))
        .select(F.col("l.x").alias("px"), F.col("l.y").alias("py"),
                F.col("r.z").alias("pz"))
        .select(F.array_sort(F.array("px", "py", "pz")).alias("t"))
        .select(F.col("t")[0].alias("t1"), F.col("t")[1].alias("t2"),
                F.col("t")[2].alias("t3"))
        .distinct())

    def dcode(alias):
        return dy.select(F.col("a").alias(f"{alias}_a"),
                         F.col("b").alias(f"{alias}_b"),
                         F.col("code").alias(alias))

    j = (tri
         .join(dcode("c12"),
               (F.col("t1") == F.col("c12_a"))
               & (F.col("t2") == F.col("c12_b")), "left")
         .join(dcode("c13"),
               (F.col("t1") == F.col("c13_a"))
               & (F.col("t3") == F.col("c13_b")), "left")
         .join(dcode("c23"),
               (F.col("t2") == F.col("c23_a"))
               & (F.col("t3") == F.col("c23_b")), "left")
         .select(F.coalesce("c12", F.lit(0)).alias("c12"),
                 F.coalesce("c13", F.lit(0)).alias("c13"),
                 F.coalesce("c23", F.lit(0)).alias("c23")))

    tbl = triad_code_table()
    case = "CASE c12*16 + c13*4 + c23 " + " ".join(
        f"WHEN {k} THEN '{v}'" for k, v in sorted(tbl.items())) + " END"
    cls = j.select(
        F.expr(case).alias("triad"),
        ((F.col("c12") == 3).cast("long") + (F.col("c13") == 3).cast("long")
         + (F.col("c23") == 3).cast("long")).alias("mm"),
        (F.col("c12").isin(1, 2).cast("long")
         + F.col("c13").isin(1, 2).cast("long")
         + F.col("c23").isin(1, 2).cast("long")).alias("aa"))
    conn = (cls.groupBy("triad").agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True))
    sums = cls.agg(F.sum("aa").alias("a_in"),
                   F.sum("mm").alias("m_in")).collect()[0]
    dtot = dy.agg(
        F.sum(F.col("code").isin(1, 2).cast("long")).alias("A"),
        F.sum((F.col("code") == 3).cast("long")).alias("M")).collect()[0]
    conn_rows = {r["triad"]: r["n"] for r in conn.collect()}
    n = n_nodes
    singles_012 = dtot["A"] * (n - 2) - (sums["a_in"] or 0)
    singles_102 = dtot["M"] * (n - 2) - (sums["m_in"] or 0)
    total = n * (n - 1) * (n - 2) // 6
    counted = sum(conn_rows.values()) + singles_012 + singles_102
    out = dict(conn_rows)
    out["012"] = singles_012
    out["102"] = singles_102
    out["003"] = total - counted
    rows = [(lbl, int(out.get(lbl, 0))) for lbl in TRIAD_LABELS]
    return spark.createDataFrame(rows, "triad string, n long")


def ppr_push(edges: DataFrame, seeds: DataFrame, rounds: int = 8,
             alpha_num: int = 15, alpha_den: int = 100,
             eps_thresh: int = 0, scale: int = 12) -> DataFrame:
    """Personalized PageRank by BATCHED local push (the synchronized
    variant of Andersen-Chung-Lang, FOCS 2006): residual mass starts
    on the seeds and spreads one hop per round; a node pushes only
    when its residual clears ``r > eps_thresh * out_deg`` — so the
    computation touches ONLY the seed neighborhood the tolerance
    implies, never the whole graph. This is the shape that matters at
    10^9 nodes: power-iteration PPR (personalized_pagerank) costs a
    full rank-vector shuffle per round regardless of |seeds|; push
    cost follows the touched frontier.

    ALL-INTEGER mass accounting on the 10^-scale grid (longs):
    a push moves ``r*alpha_num div alpha_den`` into the estimate p,
    spreads ``(r - pushed) div out_deg`` along EACH out-edge
    (multiset semantics), and the integer dust
    ``rem - q*out_deg`` stays in the node's residual — mass is
    conserved EXACTLY (sum(p) + sum(r) == 10^scale at every round),
    every quantity is a long, and the DuckDB twin is bit-identical
    with zero float protocol. Sinks and sub-threshold nodes hold
    their residual (documented contract).

    Returns (node_id, p_e12, r_e12) for nodes with any mass — no rows
    when ``seeds`` is empty. Rounds are FIXED (not convergence-tested)
    so the unrolled oracle has the same shape; they run on ``_rounds``
    (see the module docstring), so the seed count is the only driver
    action before the caller's.
    """
    grid = 10 ** scale
    E = edges.select("src", "dst").localCheckpoint(eager=True)
    deg = E.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = (E.select(F.col("src").alias("node_id"))
             .unionByName(E.select(F.col("dst").alias("node_id")))
             .distinct())
    seeds = seeds.select("node_id").distinct()
    n_seeds = seeds.count()
    if not n_seeds:  # no seeds, no mass
        return E.select(F.col("src").alias("node_id"),
                        F.lit(0).cast("long").alias("p_e12"),
                        F.lit(0).cast("long").alias("r_e12")).limit(0)
    cur = (nodes
           .join(deg.withColumnRenamed("src", "node_id"), "node_id",
                 "left")
           .join(seeds.withColumn("_s", F.lit(True)), "node_id", "left")
           .select("node_id",
                   F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
                   F.lit(0).cast("long").alias("p"),
                   F.when(F.col("_s"), F.lit(grid // n_seeds))
                   .otherwise(F.lit(0)).cast("long").alias("r")))
    push = (F.col("deg") > 0) & \
        (F.col("r") > F.lit(eps_thresh) * F.col("deg"))
    pushed = F.expr(f"(r * {alpha_num}) div {alpha_den}")
    rem = F.col("r") - pushed
    q = F.expr(f"(r - (r * {alpha_num}) div {alpha_den}) div deg")

    def step(_, outs):
        st = outs[-1].select(
            "node_id", "deg",
            F.when(push, F.col("p") + pushed).otherwise(F.col("p"))
            .alias("p"),
            F.when(push, rem - q * F.col("deg")).otherwise(F.col("r"))
            .alias("keep"),
            F.when(push, q).otherwise(F.lit(0)).alias("q"))
        gains = (st.filter(F.col("q") > 0)
                 .join(E, st.node_id == E.src)
                 .groupBy("dst").agg(F.sum("q").alias("gain")))
        return (st.join(gains, st.node_id == gains.dst, "left")
                .select("node_id", "deg", "p",
                        (F.col("keep") + F.coalesce("gain", F.lit(0)))
                        .alias("r")))

    cur = _rounds(step, cur.localCheckpoint(eager=False), rounds,
                  until_empty=False)[-1]
    return (cur.filter((F.col("p") > 0) | (F.col("r") > 0))
            .select("node_id", F.col("p").alias("p_e12"),
                    F.col("r").alias("r_e12")))

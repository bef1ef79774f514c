"""Unit tests for plans/graph.py (BFS, PageRank, triangles) on tiny
hand-checkable graphs. The cross-engine hard oracles live in the
driver suite (graph_bfs / graph_pagerank / graph_triangles)."""

import math

import pytest
from pyspark.sql import functions as F

from npm_extraction_server_spark.plans.graph import (
    bfs_distances,
    pagerank,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_bfs_chain_and_unreachable(spark):
    # 0 -> 1 -> 2 -> 3 ; 10 -> 11 disconnected from the seed
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (10, 11)])
    seeds = spark.createDataFrame([(0,)], "node_id long")
    got = {r.node_id: r.dist for r in bfs_distances(seeds, e).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_takes_min_distance_and_respects_direction(spark):
    # two paths to 4: 0->4 (1 hop) and 0->1->2->4 (3 hops); 5->0 is a
    # back edge that must NOT make 5 reachable
    e = _edges(spark, [(0, 4), (0, 1), (1, 2), (2, 4), (5, 0)])
    seeds = spark.createDataFrame([(0,)], "node_id long")
    got = {r.node_id: r.dist for r in bfs_distances(seeds, e).collect()}
    assert got[4] == 1
    assert 5 not in got


def test_bfs_multi_seed_frontier_stops_early(spark):
    e = _edges(spark, [(0, 1), (2, 3)])
    seeds = spark.createDataFrame([(0,), (2,)], "node_id long")
    got = {r.node_id: r.dist for r in bfs_distances(seeds, e, max_rounds=30).collect()}
    assert got == {0: 0, 2: 0, 1: 1, 3: 1}


def test_pagerank_mass_conserved_and_symmetry(spark):
    # 4-cycle: perfect symmetry -> all ranks equal 1/4; total mass 1
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    ranks = {r.node_id: r.rank for r in pagerank(e, iterations=5).collect()}
    assert all(math.isclose(v, 0.25, abs_tol=1e-8) for v in ranks.values())
    assert math.isclose(sum(ranks.values()), 1.0, abs_tol=1e-6)


def test_pagerank_sink_with_return_edge_ranks_highest(spark):
    # star into 0 with a return edge each: 0 aggregates rank
    e = _edges(spark, [(1, 0), (2, 0), (3, 0), (0, 1), (0, 2), (0, 3)])
    ranks = {r.node_id: r.rank for r in pagerank(e, iterations=10).collect()}
    assert ranks[0] > ranks[1] == ranks[2] == ranks[3]
    assert math.isclose(sum(ranks.values()), 1.0, abs_tol=1e-6)


def test_pagerank_parallel_edges_split_rank(spark):
    # node 0 has two parallel edges to 1 and one to 2: out_deg 3, so 1
    # receives 2/3 of 0's outflow and 2 receives 1/3
    e = _edges(spark, [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)])
    ranks = {r.node_id: r.rank for r in pagerank(e, iterations=8).collect()}
    assert ranks[1] > ranks[2]


def test_triangles_counts_each_once(spark):
    # K4 on {0,1,2,3}: 4 triangles, each node in exactly 3; edge
    # direction/duplication must not matter
    pairs = [(a, b) for a in range(4) for b in range(4) if a != b]
    e = _edges(spark, pairs + [(0, 1), (9, 9)])  # dup + self-loop
    got = {r.node_id: r.n_triangles for r in triangle_counts(e).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_none_on_a_tree(spark):
    e = _edges(spark, [(0, 1), (0, 2), (1, 3), (1, 4)])
    assert triangle_counts(e).count() == 0


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    """PPR: rank mass concentrates around the seed; far nodes get
    (near) zero; mass is conserved at 1."""
    import math

    from npm_extraction_server_spark.plans.graph import personalized_pagerank

    # two disjoint 4-cycles; seed in the first
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0),
                       (10, 11), (11, 12), (12, 13), (13, 10)])
    seeds = spark.createDataFrame([(0,)], "node_id long")
    ranks = {r.node_id: r.rank
             for r in personalized_pagerank(e, seeds, iterations=8).collect()}
    assert ranks[0] > ranks[1] > 0
    assert all(ranks[n] == 0.0 for n in (10, 11, 12, 13))  # unreachable
    assert math.isclose(sum(ranks.values()), 1.0, abs_tol=1e-6)


def test_label_propagation_nearest_seed_and_ties(spark):
    """Labels flow from the nearest seed; equal-distance ties take the
    smaller label; unreachable nodes stay unlabeled."""
    from npm_extraction_server_spark.plans.graph import propagate_labels

    #  A(0)-1-2   B(5)-4-2 : node 2 is dist 2 from both seeds -> tie
    e = _edges(spark, [(0, 1), (1, 2), (5, 4), (4, 2), (8, 9)])
    seeds = spark.createDataFrame([(0, "zz"), (5, "aa")],
                                  "node_id long, label string")
    got = {r.node_id: (r.label, r.dist)
           for r in propagate_labels(seeds, e).collect()}
    assert got[1] == ("zz", 1) and got[4] == ("aa", 1)
    assert got[2] == ("aa", 2)        # tie -> min label
    assert 8 not in got and 9 not in got  # unreachable from seeds


def test_kcore_peels_tendrils(spark):
    """2-core of a triangle with a pendant chain: chain peels away
    round by round, triangle survives with degree 2 each."""
    from npm_extraction_server_spark.plans.graph import kcore

    e = _edges(spark, [(0, 1), (1, 2), (2, 0),      # triangle
                       (2, 3), (3, 4), (4, 5)])     # pendant chain
    got = {r.node_id: r.core_degree for r in kcore(e, k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}
    # k above the max degree: empty core
    assert kcore(e, k=4).count() == 0


def test_pagerank_dangling_mass_redistributed(spark):
    """A graph with a true sink (no out-edges): default
    dangling='redistribute' hands the sink's mass back uniformly each
    iteration, so total rank mass stays 1 and the result equals true
    PageRank; dangling='ignore' leaks the mass (sum < 1);
    dangling='assert_none' raises."""
    import pytest

    # 0 -> 1 -> 2 (sink); 0 <- 1 back edge keeps 0 fed
    e = _edges(spark, [(0, 1), (1, 2), (1, 0)])
    ranks = {r.node_id: r.rank
             for r in pagerank(e, iterations=20).collect()}
    assert math.isclose(sum(ranks.values()), 1.0, abs_tol=1e-6)
    # 0 and 2 each receive half of 1's outflow plus the same uniform
    # redistribution share: exactly symmetric; 1 (fed 0's whole
    # outflow) out-ranks both
    assert ranks[2] == ranks[0] and ranks[1] > ranks[0]

    leaked = {r.node_id: r.rank
              for r in pagerank(e, iterations=20,
                                dangling="ignore").collect()}
    assert sum(leaked.values()) < 0.9  # mass visibly lost

    with pytest.raises(ValueError, match="no out-edges"):
        pagerank(e, iterations=2, dangling="assert_none")
    # sink-free graph: assert_none passes and equals redistribute
    ring = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    a = {r.node_id: r.rank
         for r in pagerank(ring, iterations=5,
                           dangling="assert_none").collect()}
    b = {r.node_id: r.rank for r in pagerank(ring, iterations=5).collect()}
    assert a == b


def test_ppr_dangling_mass_returns_to_seeds(spark):
    """Personalized PageRank with a sink: redistributed mass follows
    the TELEPORT vector, so total mass stays 1 and stays concentrated
    near the seeds rather than diluting uniformly."""
    from npm_extraction_server_spark.plans.graph import personalized_pagerank

    e = _edges(spark, [(0, 1), (1, 2), (1, 0)])  # 2 is a sink
    seeds = spark.createDataFrame([(0,)], "node_id long")
    ranks = {r.node_id: r.rank
             for r in personalized_pagerank(e, seeds,
                                            iterations=20).collect()}
    assert math.isclose(sum(ranks.values()), 1.0, abs_tol=1e-6)
    assert ranks[0] > ranks[2]  # mass cycles back to the seed side


def test_sssp_weighted_min_paths(spark):
    """Weighted shortest paths: cheaper long path beats expensive
    direct edge; parallel edges take the min; unreachable nodes
    absent; seed distance 0."""
    from npm_extraction_server_spark.plans.graph import sssp

    e = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 1, 2),      # 0->1 direct 10, via 2: 3
         (1, 3, 1), (1, 3, 5),                  # parallel: min 1
         (4, 5, 1)],                            # disconnected from seed
        "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "node_id long")
    got = {r.node_id: r.dist for r in sssp(seeds, e).collect()}
    assert got == {0: 0, 2: 1, 1: 3, 3: 4}


def test_sssp_multi_seed_and_zero_weight(spark):
    from npm_extraction_server_spark.plans.graph import sssp

    e = spark.createDataFrame(
        [(0, 1, 4), (9, 1, 1), (1, 2, 0)], "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,), (9,)], "node_id long")
    got = {r.node_id: r.dist for r in sssp(seeds, e).collect()}
    assert got == {0: 0, 9: 0, 1: 1, 2: 1}


def test_sssp_oracle_cap_exceeds_true_diameter():
    """The graph_sssp DuckDB oracle prunes path enumeration at cost
    100; that is only sound if every true shortest distance in the
    driver graph is strictly below the cap. Pin it with an
    independent pure-Python Dijkstra over the same synthetic graph
    (no Spark, no DuckDB) — if the graph or weight formula ever
    changes, this fails before the oracle silently under-counts."""
    import heapq

    edges: dict[int, list] = {}
    for i in range(500):
        dsts = [(7 * i + 3) % 500, (13 * i + 5) % 500, (i + 1) % 500]
        if i % 3 == 0:
            dsts.append((i + 2) % 500)
        for d in dsts:
            edges.setdefault(i, []).append((d, 1 + (3 * i + 5 * d) % 7))
    dist = {s: 0 for s in range(0, 500, 50)}
    pq = [(0, s) for s in dist]
    heapq.heapify(pq)
    while pq:
        dd, u = heapq.heappop(pq)
        if dd > dist.get(u, 1 << 60):
            continue
        for v, w in edges.get(u, []):
            nd = dd + w
            if nd < dist.get(v, 1 << 60):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert len(dist) == 500          # everything reachable
    assert max(dist.values()) < 100  # the oracle's enumeration cap


def test_topo_layers_dag_cycle_and_closure(spark):
    """Kahn layering: DAG nodes get the longest-in-path layer; nodes
    in the planted cycle AND everything downstream of it come back
    layer NULL; an isolated diamond layers correctly."""
    from npm_extraction_server_spark.plans.graph import topo_layers

    edges = spark.createDataFrame(
        [
            # diamond: 1 -> 2,3 -> 4
            (1, 2), (1, 3), (2, 4), (3, 4),
            # chain off the diamond: 4 -> 5
            (4, 5),
            # cycle: 10 -> 11 -> 12 -> 10, feeding 13 (downstream)
            (10, 11), (11, 12), (12, 10), (12, 13),
            # 13 also fed by the acyclic side: still NULL (one poisoned
            # in-edge is enough)
            (5, 13),
            # a root feeding the cycle does peel (edges INTO a cycle
            # don't poison the src)
            (9, 10),
        ],
        "src long, dst long")
    got = {r["node_id"]: r["layer"] for r in topo_layers(edges).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 1, 4: 2, 5: 3,
                   10: None, 11: None, 12: None, 13: None}


def test_topo_layers_all_cyclic_and_all_acyclic(spark):
    from npm_extraction_server_spark.plans.graph import topo_layers

    ring = spark.createDataFrame([(0, 1), (1, 2), (2, 0)],
                                 "src long, dst long")
    assert {r["layer"] for r in topo_layers(ring).collect()} == {None}

    chain = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["node_id"]: r["layer"] for r in topo_layers(chain).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_scc_matches_tarjan_reference(spark):
    """SCC partition pinned against an independent pure-Python Tarjan
    implementation over a deterministic mixed graph (nested cycles,
    shared-node cycles, DAG chains, a figure-eight)."""
    from npm_extraction_server_spark.plans.graph import (
        strongly_connected_components,
    )

    edge_list = [
        # figure-eight: two cycles sharing node 2 -> one SCC
        (1, 2), (2, 1), (2, 3), (3, 2),
        # chain into it
        (0, 1),
        # separate 3-cycle with an exit
        (10, 11), (11, 12), (12, 10), (12, 13),
        # pure DAG diamond
        (20, 21), (20, 22), (21, 23), (22, 23),
        # 2-cycle fed by the diamond
        (23, 30), (30, 31), (31, 30),
        # deterministic pseudo-random extra edges
        *[(i * 7 % 40 + 40, i * 13 % 40 + 40) for i in range(60)],
    ]
    edge_list = [(a, b) for a, b in edge_list if a != b]

    # reference: iterative Tarjan
    import collections
    adj = collections.defaultdict(list)
    vs = set()
    for a, b in edge_list:
        adj[a].append(b)
        vs |= {a, b}
    index = {}
    low = {}
    on = set()
    stack = []
    comp = {}
    counter = [0]

    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                scc = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    scc.append(w)
                    if w == v:
                        break
                cid = min(scc)
                for w in scc:
                    comp[w] = cid
            work.pop()
            if work:
                w, v2 = v, work[-1][0]
                low[v2] = min(low[v2], low[w])

    for v in sorted(vs):
        if v not in index:
            strongconnect(v)

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node_id"]: r["scc_id"]
           for r in strongly_connected_components(edges).collect()}
    assert got == comp


def test_scc_simple_shapes(spark):
    from npm_extraction_server_spark.plans.graph import (
        strongly_connected_components,
    )

    # chain: all singletons
    chain = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["node_id"]: r["scc_id"]
           for r in strongly_connected_components(chain).collect()}
    assert got == {0: 0, 1: 1, 2: 2}

    # ring: one component labeled by its min id
    ring = spark.createDataFrame([(5, 6), (6, 7), (7, 5)],
                                 "src long, dst long")
    got = {r["node_id"]: r["scc_id"]
           for r in strongly_connected_components(ring).collect()}
    assert got == {5: 5, 6: 5, 7: 5}


def test_topo_layers_exact_max_rounds_and_scc_empty(spark):
    """A fully acyclic graph whose layer count equals max_rounds must
    NOT raise (no phantom non-convergence); SCC of a self-loop-only
    graph returns empty instead of crashing."""
    from npm_extraction_server_spark.plans.graph import (
        strongly_connected_components,
        topo_layers,
    )

    chain = spark.createDataFrame([(i, i + 1) for i in range(4)],
                                  "src long, dst long")
    got = {r["node_id"]: r["layer"]
           for r in topo_layers(chain, max_rounds=5).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}

    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    assert strongly_connected_components(loops).count() == 0


def test_link_predict_matches_bruteforce(spark):
    """link_predict pinned against a pure-Python brute force over a
    deterministic graph: common-neighbor counts, exact-integer
    Jaccard components, preferential attachment; existing edges and
    sub-threshold pairs excluded; max_degree drops hub CENTERS (their
    neighborhoods stop generating candidates) but keeps their degree
    in the scores of pairs found via other centers."""
    import itertools

    from npm_extraction_server_spark.plans.graph import link_predict

    edge_list = [(i, (i * 7 + 3) % 30) for i in range(30)] + \
                [(i, (i * 11 + 5) % 30) for i in range(30)] + \
                [(0, j) for j in range(1, 12)]          # a hub
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edges = spark.createDataFrame(edge_list, "src long, dst long")

    und = {tuple(sorted(e)) for e in edge_list}
    nbr: dict[int, set[int]] = {}
    for a, b in und:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)

    def brute(min_common, max_degree=None):
        centers = {n for n in nbr
                   if max_degree is None or len(nbr[n]) <= max_degree}
        exp = {}
        for u, w in itertools.combinations(sorted(nbr), 2):
            if (u, w) in und:
                continue
            witnesses = [c for c in nbr[u] & nbr[w] if c in centers]
            common = len(witnesses)
            if common >= min_common:
                du, dw = len(nbr[u]), len(nbr[w])
                # RA on the integer grid: full-graph degree of each
                # surviving witness, floor(1e8 / deg)
                ra = sum(100000000 // len(nbr[c]) for c in witnesses)
                exp[(u, w)] = (common, du, dw, du + dw - common,
                               du * dw, ra)
        return exp

    for kwargs in ({"min_common": 1}, {"min_common": 2},
                   {"min_common": 1, "max_degree": 4}):
        got = {(r.a, r.b): (r.common, r.deg_a, r.deg_b, r.union_n,
                            r.pref_attach, r.ra_grid)
               for r in link_predict(edges, **kwargs).collect()}
        assert got == brute(**kwargs), kwargs


def test_lpa_communities_matches_python_twin(spark):
    """lpa_communities pinned against a pure-Python synchronous LPA
    with the same min tie-break, on two cliques joined by one bridge
    edge: after 3 rounds each clique collapses to its min id, and the
    result is invariant to edge direction/duplication."""
    from npm_extraction_server_spark.plans.graph import lpa_communities

    c1 = [(a, b) for a in range(5) for b in range(5) if a < b]
    c2 = [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    edge_list = c1 + c2 + [(4, 10)]
    # direction + duplicate noise must not change anything
    noisy = edge_list + [(b, a) for a, b in edge_list[:5]] + c1[:3]

    nbr: dict[int, set[int]] = {}
    for a, b in edge_list:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)

    def python_lpa(rounds):
        lab = {n: n for n in nbr}
        for _ in range(rounds):
            new = {}
            for n in nbr:
                cnt: dict[int, int] = {}
                for m in nbr[n]:
                    cnt[lab[m]] = cnt.get(lab[m], 0) + 1
                best = max(cnt.values())
                new[n] = min(l for l, c in cnt.items() if c == best)
            lab = new
        return lab

    for rounds in (1, 3):
        exp = python_lpa(rounds)
        for elist in (edge_list, noisy):
            edges = spark.createDataFrame(elist, "src long, dst long")
            got = {r.node: r.label
                   for r in lpa_communities(edges, rounds=rounds).collect()}
            assert got == exp, (rounds, len(elist))
    # the two cliques end as two communities anchored at their min ids
    final = python_lpa(3)
    assert {final[n] for n in range(5)} == {0}
    assert {final[n] for n in range(10, 15)} == {10}


def test_greedy_coloring_proper_and_matches_twin(spark):
    """greedy_coloring: proper coloring (no monochromatic edge),
    greedy bound (colors <= maxdeg+1), and bit-equality with a
    pure-Python twin of the md5 round rule — incl. a clique (forces
    maxdeg+1 colors, one winner per round) and direction/duplicate
    invariance."""
    import hashlib

    from npm_extraction_server_spark.plans.graph import greedy_coloring

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    ring = [(i, (i + 1) % 12) for i in range(100, 112)]
    edge_list = clique + ring + [(4, 100)]
    noisy = edge_list + [(b, a) for a, b in edge_list[:4]] + clique[:2]

    nbr: dict[int, set[int]] = {}
    for a, b in edge_list:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)

    def python_coloring():
        color: dict[int, int] = {}
        unc = set(nbr)
        r = 0
        while unc:
            r += 1
            p = {n: int(hashlib.md5(f"{r}:{n}".encode())
                        .hexdigest()[:15], 16) for n in unc}
            winners = [n for n in unc
                       if all(p[n] > p[m] for m in nbr[n] if m in unc)]
            for n in winners:
                used = {color[m] for m in nbr[n] if m in color}
                c = 0
                while c in used:
                    c += 1
                color[n] = c
            unc -= set(winners)
        return color

    exp = python_coloring()
    for elist in (edge_list, noisy):
        edges = spark.createDataFrame(elist, "src long, dst long")
        got = {r.node_id: r.color
               for r in greedy_coloring(edges).collect()}
        assert got == exp
    # proper + greedy bound
    assert all(exp[a] != exp[b] for a, b in edge_list)
    maxdeg = max(len(v) for v in nbr.values())
    assert max(exp.values()) <= maxdeg
    # the 5-clique needs exactly 5 colors
    assert {exp[n] for n in range(5)} == set(range(5))


def test_maximal_matching_maximal_and_matches_twin(spark):
    """maximal_matching: a valid matching (no shared endpoint),
    MAXIMAL (every edge touches a matched node), bit-equal to a
    pure-Python twin of the md5 edge-Luby rule, invariant to
    direction/duplicate noise; a star matches exactly one edge."""
    import hashlib

    from npm_extraction_server_spark.plans.graph import maximal_matching

    star = [(0, j) for j in range(1, 8)]
    path = [(i, i + 1) for i in range(20, 30)]
    edge_list = star + path + [(7, 20)]
    noisy = edge_list + [(b, a) for a, b in edge_list[:5]] + star[:2]

    def python_matching():
        und = {tuple(sorted(e)) for e in edge_list}
        matched, mnodes = set(), set()
        r = 0
        while und:
            r += 1
            p = {e: int(hashlib.md5(f"{r}:{e[0]}:{e[1]}".encode())
                        .hexdigest()[:15], 16) for e in und}
            nodemax: dict[int, int] = {}
            for (a, b), v in p.items():
                nodemax[a] = max(nodemax.get(a, 0), v)
                nodemax[b] = max(nodemax.get(b, 0), v)
            win = [e for e in und
                   if p[e] >= nodemax[e[0]] and p[e] >= nodemax[e[1]]]
            for a, b in win:
                matched.add((a, b))
                mnodes.update((a, b))
            und = {e for e in und
                   if e[0] not in mnodes and e[1] not in mnodes}
        return matched, mnodes

    exp, mnodes = python_matching()
    for elist in (edge_list, noisy):
        edges = spark.createDataFrame(elist, "src long, dst long")
        got = {(r.a, r.b) for r in maximal_matching(edges).collect()}
        assert got == exp
    # valid matching: endpoints pairwise distinct
    flat = [n for e in exp for n in e]
    assert len(flat) == len(set(flat))
    # maximal: every original edge touches a matched node
    assert all(a in mnodes or b in mnodes for a, b in edge_list)
    # the star contributes exactly one matched edge at node 0
    assert sum(1 for a, b in exp if 0 in (a, b)) == 1


def test_boruvka_msf_equals_kruskal(spark):
    """boruvka_msf equals an independent Kruskal union-find on the
    (w, a, b) total order — the unique MSF under distinct tuple
    weights. Covers: weight ties (broken by (a, b)), parallel edges
    collapsing to min weight, a DISCONNECTED graph (spanning forest,
    |V| - #components edges), direction invariance."""
    from npm_extraction_server_spark.plans.graph import boruvka_msf

    comp1 = [(0, 1, 4), (1, 2, 1), (0, 2, 1), (2, 3, 9), (1, 3, 9),
             (0, 3, 2), (1, 2, 7)]          # parallel (1,2) -> min 1
    comp2 = [(10, 11, 3), (11, 12, 3), (10, 12, 3)]   # all-tie triangle
    edge_list = comp1 + comp2
    rev = [(b, a, w) for a, b, w in edge_list[:4]]

    def kruskal():
        und = {}
        for a, b, w in edge_list:
            k = (min(a, b), max(a, b))
            und[k] = min(und.get(k, w), w)
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        forest = set()
        for (a, b), w in sorted(und.items(), key=lambda kv:
                                (kv[1], kv[0][0], kv[0][1])):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
                forest.add((a, b, w))
        return forest

    exp = kruskal()
    for elist in (edge_list, edge_list + rev):
        edges = spark.createDataFrame(elist, "src long, dst long, w long")
        got = {(r.a, r.b, r.w) for r in boruvka_msf(edges).collect()}
        assert got == exp
    # spanning forest shape: 4+3 nodes, 2 components -> 5 edges
    assert len(exp) == 5
    assert sum(w for _, _, w in exp) == 1 + 1 + 2 + 3 + 3


def test_temporal_reach_time_respecting(spark):
    """temporal_reach: time-respecting semantics — an edge is usable
    only at its contact time and only after arrival. A->B@5, B->C@3
    does NOT reach C; a later parallel contact B->C@7 does, at 7;
    revisits can IMPROVE arrival via a faster parallel contact."""
    from npm_extraction_server_spark.plans.graph import temporal_reach

    seeds = spark.createDataFrame([(0,)], "node_id long")
    base = [(0, 1, 5), (1, 2, 3)]
    edges = spark.createDataFrame(base, "src long, dst long, t long")
    got = {r.node_id: r.arrival
           for r in temporal_reach(seeds, edges).collect()}
    assert got == {0: 0, 1: 5}          # C unreachable: 3 < 5

    edges2 = spark.createDataFrame(base + [(1, 2, 7), (0, 1, 2)],
                                   "src long, dst long, t long")
    got2 = {r.node_id: r.arrival
            for r in temporal_reach(seeds, edges2).collect()}
    # 0->1@2 (earlier contact wins), then 1->2@3 is now admissible
    assert got2 == {0: 0, 1: 2, 2: 3}


def test_coreness_matches_python_peel(spark):
    """coreness pinned against a pure-Python ascending peel on a graph
    with a 3-core (4-clique), a chain tail, and a pendant that loses
    its LAST edge because its neighbor dropped (the endpoint-set
    difference case a degree<k test alone would miss)."""
    from npm_extraction_server_spark.plans.graph import coreness

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    pendant = [(12, 20)]
    edge_list = clique + chain + pendant
    edges = spark.createDataFrame(edge_list, "src long, dst long")

    import collections

    def python_coreness():
        live = {tuple(sorted(e)) for e in edge_list}
        core: dict[int, int] = {}
        k = 1
        while live:
            deg = collections.Counter()
            for a, b in live:
                deg[a] += 1
                deg[b] += 1
            keep = {n for n, d in deg.items() if d >= k}
            nxt = {(a, b) for a, b in live
                   if a in keep and b in keep}
            if nxt == live:
                k += 1
                continue
            gone = {n for e in live for n in e} \
                - {n for e in nxt for n in e}
            for n in gone:
                core[n] = k - 1
            live = nxt
        return core

    exp = python_coreness()
    got = {r.node_id: r.coreness for r in coreness(edges).collect()}
    assert got == exp
    assert {exp[n] for n in range(4)} == {3}     # the 4-clique
    assert exp[20] == 1 and exp[12] == 1


def test_assortativity_moments_star_vs_clique(spark):
    """assortativity_moments: exact integer moments against a hand
    count; the derived Pearson r is -1 on a star (perfectly
    disassortative) and the moments are direction/duplicate
    invariant."""
    import math

    from npm_extraction_server_spark.plans.graph import (
        assortativity_moments,
    )

    star = [(0, j) for j in range(1, 6)]        # deg0=5, leaves=1
    edges = spark.createDataFrame(star + [(3, 0), (0, 1)],
                                  "src long, dst long")
    r = assortativity_moments(edges).collect()[0]
    # 10 orientations; each edge contributes (5,1) and (1,5)
    assert (r.m1, r.s_j, r.s_jk, r.s_jj) == (10, 5 * 6, 10 * 5, 5 * 26)
    num = r.m1 * r.s_jk - r.s_j * r.s_j
    den = math.sqrt((r.m1 * r.s_jj - r.s_j ** 2) ** 2)
    assert num / den == -1.0


def test_eccentricity_chain_and_disconnection(spark):
    """eccentricity: exact max-hop per seed on a directed chain with a
    side branch; unreachable parts don't count (n_reached tracks the
    reachable set); agrees with closeness' sweep on the same seeds."""
    from npm_extraction_server_spark.plans.graph import eccentricity

    # 0->1->2->3->4 and 2->9; island 100->101
    edge_list = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 9), (100, 101)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (3,), (100,)], "node_id long")
    got = {r.node_id: (r.ecc, r.n_reached)
           for r in eccentricity(seeds, edges).collect()}
    assert got == {
        0: (4, 6),      # reaches 0,1,2,3,4,9; farthest = 4 hops
        3: (1, 2),      # reaches 3,4
        100: (1, 2),    # island: reaches 100,101
    }


def test_stats_fresh_resets_carried_size_stats(spark):
    """_stats_fresh: localCheckpoint PRESERVES the origin plan's
    estimated sizeInBytes (self-joins then square it every iteration
    — the boruvka_msf driver stall), while _stats_fresh returns the
    same rows with the carried estimate dropped to the bounded
    default. Pin both halves so a Spark upgrade that changes either
    behavior is caught here, not as a mystery hang."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.plans.graph import _stats_fresh

    def size_digits(df):
        return len(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

    df = spark.range(64).select(F.col("id").alias("a"),
                                (F.col("id") * 2).alias("b"))
    # three rounds of checkpointed self-joins: carried stats square
    for _ in range(3):
        j = df.join(df.select("a", F.col("b").alias("c")), "a") \
              .select("a", "b")
        df = j.localCheckpoint(eager=True)
    inflated = size_digits(df)
    fresh = _stats_fresh(df)
    assert inflated > size_digits(fresh)
    assert size_digits(fresh) <= 19        # the bounded default
    assert sorted(map(tuple, fresh.collect())) == \
        sorted(map(tuple, df.collect()))
    assert fresh.columns == df.columns


def test_characteristic_sets_counts_and_signature(spark):
    """characteristic_sets: signatures are sorted distinct predicates,
    n_subjects counts subjects per shape, n_triples sums their triple
    counts (duplicate predicate occurrences counted, set unchanged)."""
    from npm_extraction_server_spark.plans.warehouse import (
        characteristic_sets,
    )

    rows = [
        ("s1", "p:name", "a"), ("s1", "p:rev", "b"),
        ("s2", "p:rev", "c"), ("s2", "p:name", "d"),
        ("s2", "p:name", "e"),            # repeat pred, new obj
        ("s3", "p:name", "f"),
        ("s4", "p:dep", "g"), ("s4", "p:name", "h"), ("s4", "p:rev", "i"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {r.char_set: (r.n_preds, r.n_subjects, r.n_triples)
           for r in characteristic_sets(t).collect()}
    assert got == {
        "p:name|p:rev": (2, 2, 5),
        "p:name": (1, 1, 1),
        "p:dep|p:name|p:rev": (3, 1, 3),
    }


def test_random_walks_deterministic_and_sink_stop(spark):
    """random_walks pinned against a pure-Python simulation of the
    md5-argmin step rule; walks stop early at sink nodes; duplicate
    edges don't perturb the choice; walks_per_node launches distinct
    deterministic walks."""
    import hashlib

    from npm_extraction_server_spark.plans.graph import random_walks

    edge_list = [(i, (i * 7 + 3) % 20) for i in range(20)] + \
                [(i, (i * 3 + 1) % 20) for i in range(20)] + \
                [(0, 5), (0, 5)] + \
                [(19, 100)]                      # 100 is a sink
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    starts = spark.createDataFrame([(0,), (7,), (19,)], "node_id long")

    out = random_walks(edges, starts, length=6, walks_per_node=2)
    got = {(r.walk_id, r.step): r.node for r in out.collect()}

    nbr: dict[int, set[int]] = {}
    for a, b in edge_list:
        nbr.setdefault(a, set()).add(b)

    def h(walk_id, t, v, d):
        s = f"{walk_id}:{t}:{v}:{d}".encode()
        return int(hashlib.md5(s).hexdigest()[:15], 16)

    exp = {}
    for n in (0, 7, 19):
        for r in (0, 1):
            wid = n * 2 + r
            cur = n
            exp[(wid, 0)] = cur
            for t in range(1, 7):
                outs = nbr.get(cur)
                if not outs:
                    break
                cur = min(outs, key=lambda d: (h(wid, t, cur, d), d))
                exp[(wid, t)] = cur
    assert got == exp
    # the two walks from node 0 diverge (different walk_id seeds)
    w0 = [exp[(0, t)] for t in range(7)]
    w1 = [exp[(1, t)] for t in range(7)]
    assert w0 != w1


def test_closeness_matches_bruteforce_bfs(spark):
    """Multi-source closeness aggregates pinned against per-seed
    pure-Python BFS: n_sources counts reaching seeds, total_dist sums
    their hop distances; unreachable (node, seed) pairs contribute
    nothing; seeds count themselves at distance 0."""
    import collections

    from npm_extraction_server_spark.plans.graph import closeness

    edge_list = [(i, (i * 7 + 3) % 25) for i in range(25)] + \
                [(i, (i * 11 + 5) % 25) for i in range(25)] + \
                [(30, 31), (31, 32)]      # island chain, unreachable
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = [0, 5, 10, 30]
    sdf = spark.createDataFrame([(s,) for s in seeds], "node_id long")

    adj = collections.defaultdict(set)
    for a, b in edge_list:
        adj[a].add(b)
    exp = collections.defaultdict(lambda: [0, 0])
    for s in seeds:
        dist = {s: 0}
        q = collections.deque([s])
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        for v, dv in dist.items():
            exp[v][0] += 1
            exp[v][1] += dv

    got = {r.node_id: (r.n_sources, r.total_dist)
           for r in closeness(sdf, edges).collect()}
    assert got == {v: tuple(x) for v, x in exp.items()}


def test_neighbor_agg_matches_bruteforce(spark):
    """Sum message passing pinned against a pure-Python simulation:
    parallel edges deliver one message each; featureless nodes
    neither send nor accumulate; h columns cascade per round."""
    import collections

    from npm_extraction_server_spark.plans.graph import neighbor_agg

    edge_list = [(0, 1), (1, 2), (2, 0), (0, 1),   # parallel edge 0->1
                 (3, 1), (9, 0)]                   # 9 has no feature row
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    feats = {0: 5, 1: 7, 2: 11, 3: 2}
    fdf = spark.createDataFrame(list(feats.items()), "node_id long, h long")

    h = dict(feats)
    hist = {v: [h[v]] for v in h}
    for _ in range(3):
        inbox = collections.defaultdict(int)
        for a, b in edge_list:
            if a in h:
                inbox[b] += h[a]
        h = {v: h[v] + inbox[v] for v in h}
        for v in h:
            hist[v].append(h[v])

    got = {r.node_id: (r.h0, r.h1, r.h2, r.h3)
           for r in neighbor_agg(edges, fdf, rounds=3).collect()}
    assert got == {v: tuple(hist[v]) for v in hist}


def test_ktruss_matches_bruteforce_peeling(spark):
    """ktruss pinned against pure-Python edge peeling on a graph with
    a planted 5-clique (survives k=4 and k=5), a triangle chain
    (dies at k=4), and pendant edges (die immediately); supports in
    the returned truss match the final-round counts."""
    import itertools

    from npm_extraction_server_spark.plans.graph import ktruss

    clique = list(itertools.combinations(range(5), 2))
    tri_chain = [(10, 11), (11, 12), (12, 10), (12, 13), (13, 14),
                 (14, 12)]
    pendants = [(0, 50), (11, 51)]
    edge_list = clique + tri_chain + pendants
    edges = spark.createDataFrame(edge_list, "src long, dst long")

    def brute(k):
        live = {tuple(sorted(e)) for e in edge_list}
        while True:
            nbr = {}
            for a, b in live:
                nbr.setdefault(a, set()).add(b)
                nbr.setdefault(b, set()).add(a)
            sup = {e: len(nbr[e[0]] & nbr[e[1]]) for e in live}
            nxt = {e for e in live if sup[e] >= k - 2}
            if nxt == live:
                return {e: sup[e] for e in live}
            live = nxt

    for k in (3, 4, 5):
        got = {(r.a, r.b): r.support for r in ktruss(edges, k=k).collect()}
        assert got == brute(k), k
    # the 5-clique is exactly the 5-truss; every edge has support 3
    assert set(brute(5)) == set(clique)


def test_mis_matches_simulation_and_properties(spark):
    """Luby MIS pinned against a pure-Python simulation of the exact
    md5 priority rounds; result is independent (no MIS edge) and
    maximal (every non-MIS node has an MIS neighbor)."""
    import hashlib

    from npm_extraction_server_spark.plans.graph import (
        maximal_independent_set,
    )

    edge_list = [(i, (i * 7 + 3) % 40) for i in range(40)] + \
                [(i, (i * 11 + 5) % 40) for i in range(40)] + \
                [(0, j) for j in range(1, 10)]
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edges = spark.createDataFrame(edge_list, "src long, dst long")

    nbr = {}
    for a, b in edge_list:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)

    def p(r, v):
        return int(hashlib.md5(f"{r}:{v}".encode()).hexdigest()[:15], 16)

    undecided = set(nbr)
    exp = set()
    r = 0
    while undecided:
        r += 1
        pri = {v: p(r, v) for v in undecided}
        win = {v for v in undecided
               if all(pri[v] > pri[u] for u in nbr[v] if u in undecided)}
        exp |= win
        rm = set(win)
        for v in win:
            rm |= nbr[v] & undecided
        undecided -= rm

    got = {r_.node_id for r_ in maximal_independent_set(edges).collect()}
    assert got == exp
    assert all(not (a in got and b in got) for a, b in edge_list)
    assert all(v in got or (nbr[v] & got) for v in nbr)


def test_weighted_walks_match_simulation_and_bias(spark):
    """weighted_random_walks pinned against a pure-Python simulation
    of the cumulative-threshold rule; a heavily-weighted edge is
    chosen proportionally more often across many walks."""
    import hashlib

    from npm_extraction_server_spark.plans.graph import weighted_random_walks

    # star: node 0 -> {1 (w=1), 2 (w=8), 3 (w=1)}; plus a tail so
    # walks have length
    edge_list = [(0, 1, 1), (0, 2, 8), (0, 3, 1),
                 (1, 0, 1), (2, 0, 1), (3, 0, 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long, w long")
    starts = spark.createDataFrame([(0,)], "node_id long")

    out = weighted_random_walks(edges, starts, length=6,
                                walks_per_node=40)
    got = {(r.walk_id, r.step): r.node for r in out.collect()}

    nbr = {}
    for a, b, w in edge_list:
        nbr.setdefault(a, []).append((b, w))
    for v in nbr:
        nbr[v].sort()

    def u(wid, t, v):
        s = f"{wid}:{t}:{v}".encode()
        return int(hashlib.md5(s).hexdigest()[:15], 16)

    exp = {}
    for r in range(40):
        wid = 0 * 40 + r
        cur = 0
        exp[(wid, 0)] = 0
        for t in range(1, 7):
            outs = nbr.get(cur)
            if not outs:
                break
            h = u(wid, t, cur)
            total = sum(w for _, w in outs)
            cum = 0
            for d, w in outs:
                cum += w
                if cum * (1 << 60) > h * total:
                    cur = d
                    break
            exp[(wid, t)] = cur
        # noqa: walk continues
    assert got == exp
    # bias: from node 0, the w=8 edge should dominate the choices
    picks = [exp[(w, t)] for (w, t) in exp
             if t >= 1 and exp.get((w, t - 1)) == 0]
    frac2 = picks.count(2) / len(picks)
    assert frac2 > 0.6, frac2


def test_mis_empty_and_self_loop_input(spark):
    """No non-self-loop edges: the MIS is empty, not an error."""
    from npm_extraction_server_spark.plans.graph import (
        maximal_independent_set,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert maximal_independent_set(empty).count() == 0
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    assert maximal_independent_set(loops).count() == 0


def test_node2vec_walks_match_second_order_simulation(spark):
    """node2vec_walks pinned against a pure-Python second-order
    simulation (return / adjacent / far biases all exercised); step 1
    takes the far bias uniformly (no prev)."""
    import hashlib

    from npm_extraction_server_spark.plans.graph import node2vec_walks

    # triangle 0-1-2 with tails so all three bias branches appear
    edge_list = [(0, 1, 2), (1, 0, 2), (1, 2, 1), (2, 1, 1),
                 (0, 2, 3), (2, 0, 3), (2, 3, 5), (3, 2, 5),
                 (3, 4, 1), (4, 3, 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long, w long")
    starts = spark.createDataFrame([(0,), (3,)], "node_id long")

    out_adj = {}
    und = set()
    for a, b, w in edge_list:
        out_adj.setdefault(a, []).append((b, w))
        und.add((min(a, b), max(a, b)))
    for v in out_adj:
        out_adj[v].sort()

    def u(wid, t, v):
        return int(hashlib.md5(f"{wid}:{t}:{v}".encode())
                   .hexdigest()[:15], 16)

    br, ba, bf = 3, 6, 2
    exp = {}
    for n in (0, 3):
        for r in (0, 1):
            wid = n * 2 + r
            prev, cur = None, n
            exp[(wid, 0)] = cur
            for t in range(1, 7):
                outs = out_adj.get(cur)
                if not outs:
                    break
                h = u(wid, t, cur)
                masses = []
                for d, w in outs:
                    if prev is not None and d == prev:
                        b = br
                    elif prev is not None and \
                            (min(prev, d), max(prev, d)) in und:
                        b = ba
                    else:
                        b = bf
                    masses.append((d, w * b))
                total = sum(m for _, m in masses)
                cum = 0
                nxt = None
                for d, m in masses:
                    cum += m
                    if cum * (1 << 60) > h * total:
                        nxt = d
                        break
                prev, cur = cur, nxt
                exp[(wid, t)] = cur

    got = {(r_.walk_id, r_.step): r_.node
           for r_ in node2vec_walks(edges, starts, length=6,
                                    walks_per_node=2).collect()}
    assert got == exp


def test_modularity_matches_handcomputed(spark):
    """Integer modularity components on a hand-checkable graph: two
    4-cliques joined by one bridge, perfect 2-community labels; also
    the unlabeled-endpoint and isolated-labeled-node treatments."""
    import itertools

    from npm_extraction_server_spark.plans.graph import modularity

    c1 = list(itertools.combinations([0, 1, 2, 3], 2))
    c2 = list(itertools.combinations([10, 11, 12, 13], 2))
    edge_list = c1 + c2 + [(3, 10), (13, 99)]   # 99 unlabeled
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels = spark.createDataFrame(
        [(i, "A") for i in range(4)] + [(10 + i, "B") for i in range(4)]
        + [(50, "C")],                            # labeled, isolated
        "node_id long, community string")

    rows = {r.community: r for r in modularity(edges, labels).collect()}
    m = len(edge_list)  # 14 distinct edges
    assert rows["A"].e_in == 6 and rows["A"].tot_deg == 13
    assert rows["B"].e_in == 6 and rows["B"].tot_deg == 14
    assert rows["C"].e_in == 0 and rows["C"].tot_deg == 0
    for c in ("A", "B", "C"):
        r = rows[c]
        assert r.q_num == 4 * m * r.e_in - r.tot_deg ** 2
        assert r.m_edges == m
    # global Q against the textbook float formula
    q = sum(r.q_num for r in rows.values()) / (4 * m * m)
    exp = sum((r.e_in / m) - (r.tot_deg / (2 * m)) ** 2
              for r in rows.values())
    assert abs(q - exp) < 1e-12


def test_clustering_coefficients_exact_fractions(spark):
    """cc fractions on a hand graph: triangle node = 1, star hub = 0,
    degree-1 nodes get 0/0 denominators kept as (0, 0)."""
    from npm_extraction_server_spark.plans.graph import (
        clustering_coefficients,
    )

    edge_list = [(0, 1), (1, 2), (2, 0),            # triangle
                 (0, 3), (0, 4),                     # hub spokes on 0
                 (5, 6)]                             # isolated edge
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    rows = {r.node_id: (r.d, r.two_t, r.d_pairs)
            for r in clustering_coefficients(edges).collect()}
    assert rows[1] == (2, 2, 2) and rows[2] == (2, 2, 2)   # cc = 1
    assert rows[0] == (4, 2, 12)                           # cc = 1/6
    assert rows[3] == (1, 0, 0) and rows[5] == (1, 0, 0)


def test_topo_layers_one_job_per_round_deep_dag(spark):
    """Round-4 item 2: topo_layers must spend ~ONE Spark job per peel
    round (the peel count materializes the round's lazy checkpoints;
    no separate eager-checkpoint or emptiness-probe jobs). Adversarial
    shape: a 120-level chain DAG — depth IS the round count, so job
    waste multiplies by depth. Budget: <= 2 jobs per round amortized
    (the prescribed bound), correctness pinned alongside."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.plans.graph import topo_layers

    depth = 120
    chain = spark.range(depth - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))

    sc = spark.sparkContext
    # AQE decomposes ONE action into one job per materialized query
    # stage, which would drown the metric this test pins — the number
    # of driver-submitted jobs per round. With AQE off the loop costs
    # exactly 4/round: the ONE count action (the round's only real
    # multi-stage computation) + three narrow single-stage jobs that
    # materialize the peel/unassigned/live local checkpoints from
    # their cached parents (no shuffle; Spark finalizes lazy local
    # checkpoints in their own job). The round-4 loop paid 5 actions
    # + their checkpoint jobs: measured at depth 20 with AQE on, 221
    # jobs old vs 124 new.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("topo_probe", "topo job count")
    try:
        got = {r["node_id"]: r["layer"]
               for r in topo_layers(chain, max_rounds=depth + 5).collect()}
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    jobs = sc.statusTracker().getJobIdsForGroup("topo_probe")
    assert got == {i: i for i in range(depth)}
    # rounds = depth (every peel is one node); + setup (edges, nodes,
    # node count) + the final collect. 4/round is the hard budget
    # (1 action + 3 checkpoint materializations).
    assert len(jobs) <= 4 * depth + 8, len(jobs)


# Fixed-iteration loops on ``_rounds`` checkpoint lazily; per extra
# round on a 42-node cycle that measured 4 jobs for pagerank (5 with
# an eager checkpoint per round) and 3 for lpa_communities.
_ROUND_BUDGETS = {
    "pagerank": (lambda G, e, k: G.pagerank(e, iterations=k), 4),
    "lpa_communities": (lambda G, e, k: G.lpa_communities(e, rounds=k), 3),
}


@pytest.mark.parametrize("name", sorted(_ROUND_BUDGETS))
def test_fixed_iteration_rounds_job_budget(spark, name):
    """Eight more rounds of a fixed-iteration loop cost at most its
    per-round job budget each, plus 4 jobs for the +-1 job jitter of
    each of the two runs (AQE on, the session default)."""
    from npm_extraction_server_spark.plans import graph as G

    run, budget = _ROUND_BUDGETS[name]
    n = 42
    e = spark.range(n).select(F.col("id").alias("src"),
                              ((F.col("id") + 1) % n).alias("dst"))
    sc = spark.sparkContext
    jobs = []
    for k in (2, 10):
        group = f"{name}_budget_{k}"
        spark.catalog.clearCache()
        sc.setJobGroup(group, group)
        try:
            assert len(run(G, e, k).collect()) == n
        finally:
            sc.setJobGroup(None, None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] - jobs[0] <= 8 * budget + 4, jobs


def test_pagerank_incremental_bit_exact_and_local(spark):
    """pagerank_incremental == full recompute on the changed graph,
    bit-for-bit, while recomputing only the delta's forward cone:
    on a 200-node ring with one chord added far from most nodes, the
    per-round affected counts stay << n (the delta-proportionality
    contract). Guards: sink graphs and node-set changes under
    normalized=True are rejected."""
    import pytest

    from npm_extraction_server_spark.plans.graph import (
        pagerank,
        pagerank_incremental,
    )

    n = 200
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
    # delta: one chord 0 -> 100 and remove nothing; node set unchanged
    chord = spark.createDataFrame([(0, 100)], "src long, dst long")
    new = ring.unionAll(chord)

    hist = pagerank(ring, iterations=5, dangling="assert_none",
                    return_history=True)
    stats = {}
    inc = {r.node_id: r.rank
           for r in pagerank_incremental(ring, new, hist, iterations=5,
                                         stats=stats).collect()}
    full = {r.node_id: r.rank
            for r in pagerank(new, iterations=5,
                              dangling="assert_none").collect()}
    assert inc == full
    # locality: the chord touches 0's out-neighbors and the 5-hop
    # cone past 100 — far below the 200-node graph each round
    assert stats["n_nodes"] == n
    assert max(stats["affected"]) < n / 4, stats

    # edge REMOVAL path: drop the chord again (new -> ring)
    hist2 = pagerank(new, iterations=4, return_history=True)
    inc2 = {r.node_id: r.rank
            for r in pagerank_incremental(new, ring, hist2,
                                          iterations=4).collect()}
    full2 = {r.node_id: r.rank
             for r in pagerank(ring, iterations=4).collect()}
    assert inc2 == full2

    # unnormalized + node-set growth (new node spliced into the ring)
    grown = ring.unionAll(spark.createDataFrame(
        [(0, 1000), (1000, 1)], "src long, dst long"))
    hist3 = pagerank(ring, iterations=3, normalized=False,
                     return_history=True)
    inc3 = {r.node_id: r.rank
            for r in pagerank_incremental(ring, grown, hist3,
                                          iterations=3,
                                          normalized=False).collect()}
    full3 = {r.node_id: r.rank
             for r in pagerank(grown, iterations=3,
                               normalized=False).collect()}
    assert inc3 == full3 and 1000 in inc3

    with pytest.raises(ValueError, match="node set changed"):
        pagerank_incremental(ring, grown, hist3, iterations=3)
    sinky = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="sink"):
        pagerank_incremental(sinky, sinky, hist3, iterations=3)
    with pytest.raises(ValueError, match="history covers"):
        pagerank_incremental(ring, new, hist3, iterations=9,
                             normalized=False)


def _brandes_reference(edge_list, sources=None):
    """Pure-Python Brandes (directed, unweighted) — the exactness twin
    for plans/graph.betweenness."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    nodes = set()
    for a, b in edge_list:
        if a != b:
            adj[a].append(b)
            nodes.add(a)
            nodes.add(b)
    bc = defaultdict(float)
    for s in (sources if sources is not None else sorted(nodes)):
        stack, preds = [], defaultdict(list)
        sigma = defaultdict(int)
        dist = {s: 0}
        sigma[s] = 1
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in sorted(set(adj[v])):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = defaultdict(float)
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return dict(bc)


def test_betweenness_matches_pure_python_brandes(spark):
    """Exact all-sources betweenness equals the textbook Brandes on a
    graph with multiple equal-length shortest paths, a cycle, and a
    pendant; sampled mode restricts sources; scale_to_n multiplies."""
    import math

    from npm_extraction_server_spark.plans.graph import betweenness

    pairs = [(0, 1), (0, 2), (1, 3), (2, 3),   # diamond: two paths 0->3
             (3, 4), (4, 5), (5, 3),           # cycle off the diamond
             (4, 6)]                            # pendant
    e = _edges(spark, pairs)
    got = {r.node_id: r.betweenness for r in betweenness(e).collect()}
    want = _brandes_reference(pairs)
    want[0] = 0.0  # sources on no path still get a 0.0 row
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-6), (k, got[k], want[k])

    # sampled sources: only s=0's dependencies accumulate
    seeds = spark.createDataFrame([(0,)], "node_id long")
    got1 = {r.node_id: r.betweenness
            for r in betweenness(e, sources=seeds).collect()}
    want1 = _brandes_reference(pairs, sources=[0])
    for k in set(got1) - set(want1):
        want1[k] = 0.0  # off-path nodes carry explicit zeros
    assert set(got1) == set(want1)
    for k in want1:
        assert math.isclose(got1[k], want1[k], abs_tol=1e-6)

    # scale_to_n: n/|sources| = 7 multiplies every value
    got7 = {r.node_id: r.betweenness
            for r in betweenness(e, sources=seeds,
                                 scale_to_n=True).collect()}
    for k in want1:
        assert math.isclose(got7[k], 7 * want1[k], abs_tol=1e-5)


def test_personalized_pagerank_history(spark):
    """PPR return_history: iter 0..k grid ranks; iter k matches the
    default output before out_scale rounding."""
    from npm_extraction_server_spark.plans.graph import personalized_pagerank

    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    seeds = spark.createDataFrame([(0,)], "node_id long")
    hist = personalized_pagerank(e, seeds, iterations=3,
                                 return_history=True)
    got = {(r.node_id, r.iter): r.rank for r in hist.collect()}
    assert {i for _, i in got} == {0, 1, 2, 3}
    final = {r.node_id: r.rank
             for r in personalized_pagerank(e, seeds,
                                            iterations=3).collect()}
    for n, v in final.items():
        assert abs(got[(n, 3)] - v) < 1e-8


def test_pagerank_weighted_follows_weights(spark):
    """weight_col: rank splits w/sum_w per source — the heavy edge's
    target out-ranks the light edge's; all-equal weights reproduce
    the unweighted ranks exactly (same grid)."""
    e = spark.createDataFrame(
        [(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)],
        "src long, dst long, w long")
    ranks = {r.node_id: r.rank
             for r in pagerank(e, iterations=10, weight_col="w").collect()}
    assert ranks[1] > ranks[2]
    assert abs(sum(ranks.values()) - 1.0) < 1e-6

    uni = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 5), (2, 0, 5)], "src long, dst long, w long")
    a = {r.node_id: r.rank
         for r in pagerank(uni, iterations=5, weight_col="w").collect()}
    b = {r.node_id: r.rank
         for r in pagerank(uni.select("src", "dst"),
                           iterations=5).collect()}
    assert a == b


def test_hyperball_tracks_exact_balls(spark):
    """HyperBall ball-size estimates vs exact out-ball sizes from
    pure-Python BFS on a 40-node graph: t=0 is exactly 1 everywhere
    (single element, linear-counting regime is near-exact there), the
    series is monotone nondecreasing in t per node, and at p=8 (256
    registers, ~6.5% rse) every estimate lands within 30% of truth."""
    import collections

    from npm_extraction_server_spark.plans.graph import hyperball

    n = 40
    edge_list = [(i, (i * 7 + 3) % n) for i in range(n)] + \
                [(i, (i + 1) % n) for i in range(n)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {(r.node_id, r.t): r.ball_est
           for r in hyperball(edges, radius=3, p=8).collect()}

    adj = collections.defaultdict(set)
    for a, b in edge_list:
        adj[a].add(b)
    for v in range(n):
        ball, frontier = {v}, {v}
        exact = {0: 1}
        for t in range(1, 4):
            frontier = {w for u in frontier for w in adj[u]} - ball
            ball |= frontier
            exact[t] = len(ball)
        for t in range(4):
            est = got[(v, t)]
            assert est >= 0.9999  # never below a single element
            if t > 0:
                assert est >= got[(v, t - 1)] - 1e-9  # monotone
            # absolute floor of 1.5: at 2-4 elements a single register
            # collision (prob ~ k^2/2m) costs ~1 whole element
            assert abs(est - exact[t]) <= max(1.5, 0.30 * exact[t]), \
                (v, t, est, exact[t])


def test_hyperball_stats_frac_curve(spark):
    """Neighborhood-function aggregate: frac_reached hits 1.0 at the
    final radius, is monotone, and n_est equals the per-node column
    sum (decimal-exact)."""
    from npm_extraction_server_spark.plans.graph import (
        hyperball, hyperball_stats)

    edge_list = [(i, (i + 1) % 20) for i in range(20)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    series = hyperball(edges, radius=2, p=4)
    rows = hyperball_stats(series, radius=2).collect()
    assert [r.t for r in rows] == [0, 1, 2]
    assert rows[-1].frac_reached == 1.0
    fr = [r.frac_reached for r in rows]
    assert fr == sorted(fr)
    from decimal import Decimal
    per_node = series.filter(F.col("t") == 1) \
        .agg(F.sum(F.col("ball_est").cast("decimal(28,4)"))).collect()[0][0]
    assert float(per_node) == rows[1].n_est


def test_closeness_harmonic_column(spark):
    """harmonic=True appends Σ 1/d over reaching sources (8-dp grid):
    chain 0->1->2 with seeds {0, 2}: node 1 gets 1/1 from seed 0
    (seed 2 can't reach it); node 2 gets 1/2 + 0 (itself at d=0
    contributes nothing); default output keeps the 3-column schema."""
    from npm_extraction_server_spark.plans.graph import closeness

    e = _edges(spark, [(0, 1), (1, 2)])
    seeds = spark.createDataFrame([(0,), (2,)], "node_id long")
    got = {r.node_id: r for r in
           closeness(seeds, e, harmonic=True).collect()}
    assert got[1].harmonic == 1.0
    assert got[2].harmonic == 0.5
    assert got[0].harmonic == 0.0
    assert closeness(seeds, e).columns == [
        "node_id", "n_sources", "total_dist"]


def test_bipartite_project_matches_bruteforce(spark):
    from itertools import combinations

    from npm_extraction_server_spark.plans.graph import (
        bipartite_project, butterfly_counts)

    # maintainer u -> package v; duplicate edge (0,10) must collapse
    edges = [(0, 10), (0, 10), (0, 11), (0, 12), (1, 10), (1, 11),
             (2, 10), (2, 11), (2, 12), (3, 13), (4, 12), (4, 13)]
    e = spark.createDataFrame(edges, "u long, v long")

    adj = {}
    for u, v in set(edges):
        adj.setdefault(u, set()).add(v)
    want_pairs = {}
    for a, b in combinations(sorted(adj), 2):
        c = len(adj[a] & adj[b])
        if c >= 1:
            want_pairs[(a, b)] = c

    got = {(r.a, r.b): r.common
           for r in bipartite_project(e, min_common=1).collect()}
    assert got == want_pairs

    # min_common filters, max_degree drops hub right-nodes (deg>2)
    got2 = {(r.a, r.b): r.common
            for r in bipartite_project(e, min_common=2).collect()}
    assert got2 == {k: c for k, c in want_pairs.items() if c >= 2}
    hub_deg = {}
    for u, v in set(edges):
        hub_deg[v] = hub_deg.get(v, 0) + 1
    keep_v = {v for v, d in hub_deg.items() if d <= 2}
    adj_cap = {u: vs & keep_v for u, vs in adj.items()}
    want_cap = {}
    for a, b in combinations(sorted(adj_cap), 2):
        c = len(adj_cap[a] & adj_cap[b])
        if c >= 1:
            want_cap[(a, b)] = c
    got_cap = {(r.a, r.b): r.common
               for r in bipartite_project(e, max_degree=2).collect()}
    assert got_cap == want_cap

    # butterflies: per-vertex sum of C(common,2); global = sum/2
    want_bf = {}
    for (a, b), c in want_pairs.items():
        bf = c * (c - 1) // 2
        if bf:
            want_bf[a] = want_bf.get(a, 0) + bf
            want_bf[b] = want_bf.get(b, 0) + bf
    got_bf = {r.u: r.butterflies for r in butterfly_counts(e).collect()}
    assert got_bf == want_bf
    assert sum(got_bf.values()) % 2 == 0


def test_wl_refinement_matches_pure_python(spark):
    import hashlib

    from npm_extraction_server_spark.plans.graph import wl_refinement

    # two isomorphic 4-stars (centers 0, 10) + one P3 path (20-21-22):
    # WL must give identical colors to corresponding star nodes and
    # distinguish path ends from the path center and from star leaves
    edges = [(0, 1), (0, 2), (0, 3), (0, 4),
             (10, 11), (10, 12), (10, 13), (10, 14),
             (20, 21), (21, 22)]
    e = spark.createDataFrame(edges, "src long, dst long")

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    colors = {v: md5(str(len(ns))) for v, ns in adj.items()}
    for _ in range(3):
        colors = {v: md5(colors[v] + "|" +
                         ",".join(sorted(colors[m] for m in adj[v])))
                  for v in adj}

    got = {r.node: r.wl_color
           for r in wl_refinement(e, rounds=3).collect()}
    assert got == colors
    # structural invariants the hash values imply
    assert got[0] == got[10] and got[1] == got[11]
    assert got[20] == got[22] and got[20] != got[21]
    assert got[21] != got[0] and got[1] != got[20]


def test_rich_club_and_powerlaw_match_pure_python(spark):
    import math
    from decimal import Decimal
    from itertools import combinations

    from npm_extraction_server_spark.plans.graph import (
        degree_powerlaw, rich_club)

    # hub clique {0,1,2} + pendants so degrees spread: star arms on 0
    edges = [(0, 1), (0, 2), (1, 2), (0, 3), (0, 4), (0, 5),
             (1, 6), (2, 7), (3, 8)]
    e = spark.createDataFrame(edges, "src long, dst long")

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    deg = {v: len(ns) for v, ns in adj.items()}

    want = {}
    for k in sorted(set(deg.values())):
        nodes = [v for v in deg if deg[v] > k]
        if len(nodes) < 2:
            continue
        ek = sum(1 for a, b in combinations(nodes, 2)
                 if b in adj[a])
        want[k] = (len(nodes), ek,
                   round(2.0 * ek / (len(nodes) * (len(nodes) - 1)), 8))
    got = {r.k: (r.n_k, r.e_k, r.phi) for r in rich_club(e).collect()}
    assert got == want

    tail = [d for d in deg.values() if d >= 2]
    s = sum(Decimal(str(round(math.log(d / 1.5), 8))) for d in tail)
    alpha = round(1.0 + len(tail) / float(s), 6)
    row = degree_powerlaw(e, d_min=2).first()
    assert (row.d_min, row.n_tail, row.d_max, row.alpha) == (
        2, len(tail), max(deg.values()), alpha)


def test_trussness_matches_bruteforce_peeling(spark):
    from itertools import combinations

    from npm_extraction_server_spark.plans.graph import trussness

    # K5 on {0..4} (trussness 5), a triangle {10,11,12} glued to it by
    # bridge 4-10 (trussness 2), and a pendant edge 12-13
    edges = ([(a, b) for a, b in combinations(range(5), 2)]
             + [(10, 11), (10, 12), (11, 12), (4, 10), (12, 13)])
    e = spark.createDataFrame(edges, "src long, dst long")

    def peel(es):
        # pure-python ascending-k peel
        es = {tuple(sorted(x)) for x in es}
        truss = {x: 2 for x in es}
        k = 3
        while es:
            while True:
                sup = {x: 0 for x in es}
                for (a, b) in es:
                    common = sum(
                        1 for c in {n for ed in es for n in ed}
                        if tuple(sorted((a, c))) in es
                        and tuple(sorted((b, c))) in es)
                    sup[(a, b)] = common
                drop = {x for x in es if sup[x] < k - 2}
                if not drop:
                    break
                es -= drop
                for x in drop:
                    truss[x] = k - 1
            k += 1
            if k > 20:
                break
        return truss

    want = peel(edges)
    got = {(r.a, r.b): r.trussness for r in trussness(e).collect()}
    assert got == want
    assert all(got[x] == 5 for x in combinations(range(5), 2))
    assert got[(10, 11)] == got[(10, 12)] == got[(11, 12)] == 3
    assert got[(4, 10)] == 2 and got[(12, 13)] == 2


def test_bowtie_classifies_hand_graph(spark):
    from npm_extraction_server_spark.plans.graph import bowtie

    # core cycle {0,1}; 2 -> core (IN); core -> 3 (OUT);
    # 2 -> 4 dead end (TENDRIL fwd); 2 -> 5 -> 3 bypass (TUBE);
    # 6 -> 3 feeds OUT from nowhere (TENDRIL bwd); 8 -> 9 disconnected
    edges = [(0, 1), (1, 0), (2, 0), (1, 3), (2, 4), (2, 5), (5, 3),
             (6, 3), (8, 9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node_id: r.component for r in bowtie(e).collect()}
    assert got == {0: "CORE", 1: "CORE", 2: "IN", 3: "OUT",
                   4: "TENDRIL", 5: "TUBE", 6: "TENDRIL",
                   8: "DISC", 9: "DISC"}


def test_salsa_degree_normalization_and_grid(spark):
    from decimal import Decimal

    from npm_extraction_server_spark.plans.graph import salsa

    # two hubs point at shared authority 10; hub 0 also points at a
    # private authority 11; duplicate edge must collapse
    edges = [(0, 10), (0, 10), (1, 10), (0, 11)]
    e = spark.createDataFrame(edges, "src long, dst long")

    def rnd(x, s=12):
        return float(round(Decimal(x).quantize(Decimal(10) ** -s)))

    # support graph degrees: od(0)=2, od(1)=1; idg(10)=2, idg(11)=1
    # round 1: hub(0)=1/2+1/1=1.5, hub(1)=1/2=0.5
    #          auth(10)=1.5/2+0.5/1=1.25, auth(11)=1.5/2=0.75
    # round 2: hub(0)=1.25/2+0.75=1.375, hub(1)=0.625
    #          auth(10)=1.375/2+0.625=1.3125, auth(11)=0.6875
    got = {r.node_id: (r.hub, r.auth)
           for r in salsa(e, iterations=2).collect()}
    assert got == {0: (1.375, 0.0), 1: (0.625, 0.0),
                   10: (0.0, 1.3125), 11: (0.0, 0.6875)}


def test_ab_core_alternating_peel(spark):
    from npm_extraction_server_spark.plans.graph import ab_core

    # core block: u in {0,1}, v in {10,11} complete (2x2);
    # u=2 touches v=10 once (left degree 1 -> peeled at alpha=2);
    # v=12 held only by u=0 (right degree 1 -> peeled at beta=2,
    # which must NOT drag u=0 below alpha afterwards)
    edges = [(0, 10), (0, 11), (1, 10), (1, 11), (2, 10), (0, 12)]
    e = spark.createDataFrame(edges, "u long, v long")
    got = {(r.u, r.v) for r in ab_core(e, alpha=2, beta=2).collect()}
    assert got == {(0, 10), (0, 11), (1, 10), (1, 11)}
    # beta=1 keeps the pendant package but still drops the 1-degree
    # maintainer
    got2 = {(r.u, r.v) for r in ab_core(e, alpha=2, beta=1).collect()}
    assert got2 == {(0, 10), (0, 11), (1, 10), (1, 11), (0, 12)}


def test_ic_cascade_matches_pure_python(spark):
    import hashlib

    from npm_extraction_server_spark.plans.graph import ic_cascade

    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 0), (5, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node_id long")

    def coin(r, u, v, num, den):
        h = hashlib.md5(f"ic:{r}:{u}:{v}".encode()).hexdigest()[:12]
        return int(h, 16) % den < num

    def simulate(num, den, rounds=6):
        active = {0: 0}
        frontier = [0]
        for r in range(1, rounds + 1):
            new = sorted({v for u in frontier for (s, v) in edges
                          if s == u and v not in active
                          and coin(r, u, v, num, den)})
            if not new:
                break
            for v in new:
                active[v] = r
            frontier = new
        return active

    for num, den in ((1, 2), (3, 4), (1, 1)):
        got = {r.node_id: r.round
               for r in ic_cascade(e, seeds, rounds=6,
                                   p_num=num, p_den=den).collect()}
        assert got == simulate(num, den), (num, den)
    # p=1 must behave exactly like BFS from the seed: 5,6 unreachable
    full = simulate(1, 1)
    assert full == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_katz_matches_pure_python_horner(spark):
    from npm_extraction_server_spark.plans.graph import katz

    # chain with a parallel edge (multiplicity counts) and a cycle
    edges = [(0, 1), (0, 1), (1, 2), (2, 0), (3, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")

    nodes = {u for ed in edges for u in ed}
    w = {v: 1 for v in nodes}
    acc = {}
    for k in range(4):
        nw = {}
        for (u, v) in edges:
            nw[v] = nw.get(v, 0) + w.get(u, 0)
        w = nw
        for v in nodes:
            acc[v] = acc.get(v, 0) * 10 + w.get(v, 0)
    want = {v: round(acc[v] / 1e4, 8) for v in nodes}

    got = {r.node_id: r.katz for r in katz(e, iterations=4).collect()}
    assert got == want
    # the doubled edge makes 1 the most central; 3 has no in-walks
    assert got[1] == max(got.values()) and got[3] == 0.0


def test_dyad_census_hand_graph(spark):
    from npm_extraction_server_spark.plans.graph import dyad_census

    # mutual: 0<->1 (with a duplicate arc), asym: 0->2, 2->3, self-loop
    # dropped, node 4 joins via 4->0
    edges = [(0, 1), (1, 0), (0, 1), (0, 2), (2, 3), (3, 3), (4, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    r = dyad_census(e).first()
    # 5 nodes -> C(5,2)=10 dyads; mutual 1 (0-1); asym 3 (0-2, 2-3, 4-0)
    assert (r.n_nodes, r.mutual, r.asym, r.nulls) == (5, 1, 3, 6)
    assert r.reciprocity == 0.25


def test_simrank_matches_pure_python_integer_twin(spark):
    from npm_extraction_server_spark.plans.graph import simrank

    # multigraph with a parallel edge, a shared-in-neighbor pair, and
    # a sink: classic SimRank shapes
    edges = [(0, 2), (1, 2), (0, 3), (1, 3), (2, 4), (3, 4), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.u, r.v): r.s_e8 for r in simrank(df, iterations=3).collect()}

    # independent integer twin (multiset in-neighbors, HALF_UP div)
    from collections import defaultdict
    GRID = 10 ** 8
    innb = defaultdict(list)
    nodes = set()
    for s, d in edges:
        innb[d].append(s)
        nodes |= {s, d}
    cur = {(n, n): GRID for n in nodes}
    for _ in range(3):
        nxt = {}
        for a in nodes:
            for b in nodes:
                if a == b or not innb[a] or not innb[b]:
                    continue
                num = sum(cur.get((u, v), 0)
                          for u in innb[a] for v in innb[b])
                den = len(innb[a]) * len(innb[b])
                s = (2 * 4 * num + 5 * den) // (2 * 5 * den)
                if s > 0:
                    nxt[(a, b)] = s
        for n in nodes:
            nxt[(n, n)] = GRID
        cur = nxt
    want = {(a, b): s for (a, b), s in cur.items() if a < b and s > 0}
    assert got == want
    # nodes 2 and 3 share BOTH in-neighbors (with the parallel 0->3
    # edge diluting): similarity strictly positive and below 1
    assert 0 < got[(2, 3)] < GRID


def test_triad_census_every_class_planted(spark):
    """One disjoint node triple per connected class (plus an empty
    triple), built from the textbook patterns; the disconnected
    classes are checked against an independent pure-Python
    brute-force census of all C(n,3) triples."""
    from npm_extraction_server_spark.plans.graph import triad_census

    pat = {
        "012":  [(0, 1)],
        "102":  [(0, 1), (1, 0)],
        "021D": [(1, 0), (1, 2)],            # A<-B->C
        "021U": [(0, 1), (2, 1)],            # A->B<-C
        "021C": [(0, 1), (1, 2)],            # A->B->C
        "111D": [(0, 1), (1, 0), (2, 1)],    # A<->B<-C
        "111U": [(0, 1), (1, 0), (1, 2)],    # A<->B->C
        "030T": [(0, 1), (0, 2), (1, 2)],
        "030C": [(0, 1), (1, 2), (2, 0)],
        "201":  [(0, 1), (1, 0), (1, 2), (2, 1)],
        "120D": [(1, 0), (1, 2), (0, 2), (2, 0)],
        "120U": [(0, 1), (2, 1), (0, 2), (2, 0)],
        "120C": [(0, 1), (1, 2), (0, 2), (2, 0)],
        "210":  [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2)],
        "300":  [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)],
    }
    edges = []
    base = 0
    for lbl in sorted(pat):
        edges += [(base + x, base + y) for x, y in pat[lbl]]
        base += 3
    # plus an isolated pair to perturb the disconnected counts: the
    # node universe is edge endpoints, so add one extra linked dyad
    edges.append((base, base + 1))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.triad: r.n for r in triad_census(df).collect()}

    # independent brute force over all C(n,3) triples
    from itertools import combinations

    from npm_extraction_server_spark.plans.graph import triad_code_table
    tbl = triad_code_table()
    arcs = set(edges)
    nodes = sorted({x for e in edges for x in e})
    want = {lbl: 0 for lbl in got}
    for a, b, c in combinations(nodes, 3):
        def code(x, y):
            return ((x, y) in arcs) + 2 * ((y, x) in arcs)
        k = code(a, b) * 16 + code(a, c) * 4 + code(b, c)
        want[tbl[k]] += 1
    assert got == want
    # each planted connected pattern contributes exactly one triad of
    # its class among the within-triple triads
    for lbl in pat:
        if lbl != "012":
            assert got[lbl] >= 1, lbl


def test_ppr_push_exact_mass_conservation_and_locality(spark):
    from npm_extraction_server_spark.plans.graph import ppr_push

    # long path: seed at node 0; after k rounds mass cannot have
    # travelled past node k (one hop per round) — locality
    n = 30
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node_id long")
    rows = {r.node_id: r for r in
            ppr_push(edges, seeds, rounds=5).collect()}

    grid = 10 ** 12
    # exact conservation: estimates + residuals == the whole grid
    assert sum(r.p_e12 + r.r_e12 for r in rows.values()) == grid
    # locality: nothing past hop 5
    assert all(k <= 5 for k in rows)

    # independent integer twin on a branchy graph with a sink and a
    # parallel edge
    e2 = [(0, 1), (0, 2), (1, 2), (2, 3), (0, 1), (3, 3)]
    df = spark.createDataFrame(e2, "src long, dst long")
    got = {r.node_id: (r.p_e12, r.r_e12) for r in
           ppr_push(df, seeds, rounds=4).collect()}

    from collections import defaultdict
    deg = defaultdict(int)
    out = defaultdict(list)
    nodes = set()
    for s, d in e2:
        deg[s] += 1
        out[s].append(d)
        nodes |= {s, d}
    p = {v: 0 for v in nodes}
    r = {v: 0 for v in nodes}
    r[0] = grid
    for _ in range(4):
        gain = defaultdict(int)
        for v in nodes:
            if deg[v] > 0 and r[v] > 0:
                pushed = r[v] * 15 // 100
                rem = r[v] - pushed
                q = rem // deg[v]
                p[v] += pushed
                r[v] = rem - q * deg[v]
                for d in out[v]:
                    gain[d] += q
        for v, g in gain.items():
            r[v] += g
    want = {v: (p[v], r[v]) for v in nodes if p[v] > 0 or r[v] > 0}
    assert got == want

    # no seeds, no mass: an empty result, not a ZeroDivisionError
    none = ppr_push(df, seeds.limit(0), rounds=4)
    assert none.columns == ["node_id", "p_e12", "r_e12"]
    assert none.count() == 0


def test_louvain_moves_pure_python_twin(spark):
    from npm_extraction_server_spark.plans.graph import louvain_moves

    # two triangles bridged by one edge + a pendant
    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3),
             (5, 6)]
    rounds = 3
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.community
           for r in louvain_moves(df, rounds=rounds).collect()}

    # independent pure-python replay of the synchronous integer-gain
    # protocol
    und = {tuple(sorted(e)) for e in edges}
    adj = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    deg = {n: len(ms) for n, ms in adj.items()}
    two_m = sum(deg.values())
    lab = {n: n for n in adj}
    for r in range(rounds):
        sig = {}
        for n in adj:
            sig[lab[n]] = sig.get(lab[n], 0) + deg[n]
        new = {}
        for n in adj:
            if n % 2 != r % 2:          # semi-synchronous phase gate
                new[n] = lab[n]
                continue
            kic = {lab[n]: 0}
            for m in adj[n]:
                kic[lab[m]] = kic.get(lab[m], 0) + 1
            best = None
            for c, k in kic.items():
                tot = sig[c] - (deg[n] if c == lab[n] else 0)
                score = two_m * k - deg[n] * tot
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c)
            new[n] = best[1]
        lab = new
    assert got == lab
    # the two triangles resolve to separate communities
    assert len({got[0], got[1], got[2]}) == 1
    assert len({got[3], got[4], got[5]}) == 1
    assert got[0] != got[3]


def test_louvain_levels_pure_python_twin(spark):
    """Rings of triangles bridged by single edges: 4 triangles at 2
    levels, and 8 at 3 levels, where the second contraction also
    carries the first one's self-loops up and merges them."""
    from npm_extraction_server_spark.plans.graph import louvain_levels

    # pure-python replay: weighted semi-synchronous pass + contraction
    def lpass(adj, sl, rounds):
        # adj: {n: {m: w}}, sl: {n: w}
        s = {n: sum(ws.values()) + 2 * sl.get(n, 0)
             for n, ws in adj.items()}
        two_m = sum(s.values())
        lab = {n: n for n in adj}
        for r in range(rounds):
            sig = {}
            for n in adj:
                sig[lab[n]] = sig.get(lab[n], 0) + s[n]
            new = {}
            for n in adj:
                if n % 2 != r % 2:
                    new[n] = lab[n]
                    continue
                kic = {lab[n]: 0}
                for m, wt in adj[n].items():
                    kic[lab[m]] = kic.get(lab[m], 0) + wt
                best = None
                for c, k in kic.items():
                    tot = sig[c] - (s[n] if c == lab[n] else 0)
                    key = (-(two_m * k - s[n] * tot), c)
                    if best is None or key < best[0]:
                        best = (key, c)
                new[n] = best[1]
            lab = new
        return lab

    tri = lambda b: [(b, b + 1), (b + 1, b + 2), (b + 2, b)]
    rounds = 3
    for n_tri, levels in ((4, 2), (8, 3)):
        edges = [e for k in range(n_tri) for e in tri(3 * k)] + \
            [(3 * k + 2, (3 * k + 3) % (3 * n_tri)) for k in range(n_tri)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.community
               for r in louvain_levels(df, rounds=rounds,
                                       levels=levels).collect()}

        adj = {}
        for a, b in {tuple(sorted(e)) for e in edges}:
            adj.setdefault(a, {})[b] = 1
            adj.setdefault(b, {})[a] = 1
        sl, expect = {}, {n: n for n in adj}
        for _ in range(levels):
            lab = lpass(adj, sl, rounds)
            expect = {n: lab.get(c, c) for n, c in expect.items()}
            # contraction: inter-community weights sum; intra weight
            # and the members' self-loops become the community's
            nxt, nsl = {}, {}
            for n, w in sl.items():
                if n in lab:
                    nsl[lab[n]] = nsl.get(lab[n], 0) + w
            for a, ms in adj.items():
                for b, w in ms.items():
                    ca, cb = lab[a], lab[b]
                    if ca != cb:
                        nxt.setdefault(ca, {})[cb] = \
                            nxt.get(ca, {}).get(cb, 0) + w
                    elif a < b:
                        nsl[ca] = nsl.get(ca, 0) + w
            adj, sl = nxt, nsl
        assert got == expect, (n_tri, levels)
        # triangles never split across the hierarchy
        for b in range(0, 3 * n_tri, 3):
            assert len({got[b], got[b + 1], got[b + 2]}) == 1


def test_conductance_hand_computed(spark):
    from npm_extraction_server_spark.plans.graph import conductance

    # triangle {0,1,2} + pendant 3 attached to 2; 2m = 8
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    labels = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 10), (3, 3)], "node long, community long")
    got = {r.community: r for r in conductance(edges, labels).collect()}

    c = got[10]
    # vol = 2+2+3 = 7, cut = 1 (edge 2-3), min(7, 8-7)=1 -> phi = 1.0
    assert (c.n_nodes, c.volume, c.cut_edges, c.phi) == (3, 7, 1, 1.0)
    p = got[3]
    assert (p.n_nodes, p.volume, p.cut_edges, p.phi) == (1, 1, 1, 1.0)

    # whole-graph community: no cut, min = 0 -> phi = 0
    one = spark.createDataFrame([(0, 5), (1, 5), (2, 5), (3, 5)],
                                "node long, community long")
    w = conductance(edges, one).collect()[0]
    assert (w.cut_edges, w.phi) == (0, 0.0)


def test_fastrp_pure_python_twin(spark):
    import hashlib

    from npm_extraction_server_spark.plans.graph import fastrp_embeddings

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    dims, rounds, S = 4, 2, 10 ** 8
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: [r.f0, r.f1, r.f2, r.f3]
           for r in fastrp_embeddings(df, dims=dims, rounds=rounds).collect()}

    adj = {}
    for a, b in {tuple(sorted(e)) for e in edges}:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)

    def init(n, d):
        h = int(hashlib.md5(f"{n}#f{d}".encode()).hexdigest()[:8], 16)
        return (h % 3 - 1) * S

    x = {n: [init(n, d) for d in range(dims)] for n in adj}
    acc = None
    for _ in range(rounds):
        nx = {}
        for n in adj:
            deg = len(adj[n])
            row = []
            for d in range(dims):
                s = sum(x[m][d] for m in adj[n])
                sign = -1 if s < 0 else 1
                row.append(sign * ((2 * abs(s) + deg) // (2 * deg)))
            nx[n] = row
        x = nx
        acc = ({n: list(v) for n, v in x.items()} if acc is None else
               {n: [a + b for a, b in zip(acc[n], x[n])] for n in adj})
    expect = {n: [v / S for v in acc[n]] for n in adj}
    assert set(got) == set(expect)
    for n in expect:
        assert got[n] == expect[n], (n, got[n], expect[n])


def _cycle_with_chord(spark):
    """Sink-free 4-node graph with integer weights and contact times."""
    return spark.createDataFrame(
        [(0, 1, 1, 1), (1, 2, 2, 2), (2, 3, 1, 3), (3, 0, 1, 4), (0, 2, 3, 2)],
        "src long, dst long, w long, t long")


_CACHE_CASES = {
    "bfs_distances": lambda G, e, s: G.bfs_distances(s, e),
    "closeness": lambda G, e, s: G.closeness(s, e),
    "propagate_labels": lambda G, e, s: G.propagate_labels(
        s.withColumn("label", F.lit(7)), e),
    "sssp": lambda G, e, s: G.sssp(s, e),
    "temporal_reach": lambda G, e, s: G.temporal_reach(s, e),
    "ic_cascade": lambda G, e, s: G.ic_cascade(e, s),
    "random_walks": lambda G, e, s: G.random_walks(e, s),
    "weighted_random_walks": lambda G, e, s: G.weighted_random_walks(e, s),
    "node2vec_walks": lambda G, e, s: G.node2vec_walks(e, s),
    "betweenness": lambda G, e, s: G.betweenness(e),
    "hyperball": lambda G, e, s: G.hyperball(e),
    "neighbor_agg": lambda G, e, s: G.neighbor_agg(
        e, e.select(F.col("src").alias("node_id"), F.col("w").alias("h"))),
    "hits": lambda G, e, s: G.hits(e),
    "salsa": lambda G, e, s: G.salsa(e),
    "katz": lambda G, e, s: G.katz(e),
    "pagerank": lambda G, e, s: G.pagerank(e),
    "personalized_pagerank": lambda G, e, s: G.personalized_pagerank(e, s),
    "pagerank_incremental": lambda G, e, s: G.pagerank_incremental(
        e, e, G.pagerank(e, return_history=True)),
    # raising paths: the 3-hop chain 0 -> 1 -> 2 -> 3 needs more rounds
    "betweenness_exhausted": lambda G, e, s: G.betweenness(
        e.filter(F.col("dst") - F.col("src") == 1), max_rounds=1),
    "sssp_exhausted": lambda G, e, s: G.sssp(
        s, e.filter(F.col("dst") - F.col("src") == 1), max_rounds=1),
}


@pytest.mark.parametrize("case", sorted(_CACHE_CASES))
def test_persisted_edge_loops_leave_no_cached_data(spark, case):
    """Every loop over a persisted edge set releases it: after the
    result is collected — or after the loop raises on an exhausted
    ``max_rounds`` — the session's cache manager holds nothing."""
    from npm_extraction_server_spark.plans import graph as G

    spark.catalog.clearCache()
    e = _cycle_with_chord(spark)
    seeds = spark.createDataFrame([(0,)], "node_id long")
    if case.endswith("_exhausted"):
        with pytest.raises(RuntimeError):
            _CACHE_CASES[case](G, e, seeds).collect()
    else:
        assert _CACHE_CASES[case](G, e, seeds).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# Each peel function on a graph whose first round removes something, so
# convergence needs a second (no-change) round: a triangle 0-1-2 with a
# pendant edge 2-3 (for coreness the k=1 round changes nothing and k=2
# needs another), and for ab_core a 2x2 block plus a left node of
# degree 1. ``cols`` are the documented output columns.
_PEEL_CASES = {
    "kcore": (lambda G, e, b, **kw: G.kcore(e, k=2, **kw),
              ["node_id", "core_degree"]),
    "coreness": (lambda G, e, b, **kw: G.coreness(e, **kw),
                 ["node_id", "coreness"]),
    "ktruss": (lambda G, e, b, **kw: G.ktruss(e, k=3, **kw),
               ["a", "b", "support"]),
    "trussness": (lambda G, e, b, **kw: G.trussness(e, **kw),
                  ["a", "b", "trussness"]),
    "ab_core": (lambda G, e, b, **kw: G.ab_core(b, alpha=2, beta=2, **kw),
                ["u", "v"]),
}


@pytest.mark.parametrize("name", sorted(_PEEL_CASES))
def test_peel_max_rounds_and_empty_input(spark, name):
    """The ``_peel`` contract per caller: an exhausted ``max_rounds``
    raises the function's own RuntimeError, and an input with no
    simple edges (all self-loops; no (u, v) rows for ab_core) returns
    zero rows with the documented columns."""
    from npm_extraction_server_spark.plans import graph as G

    run, cols = _PEEL_CASES[name]
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    b = spark.createDataFrame([(0, 10), (0, 11), (1, 10), (1, 11), (2, 10)],
                              "u long, v long")
    assert run(G, e, b).count() > 0
    with pytest.raises(RuntimeError, match=f"^{name}: "):
        run(G, e, b, max_rounds=1)
    loops = _edges(spark, [(1, 1), (2, 2)])
    out = run(G, loops, b.limit(0))
    assert sorted(out.columns) == sorted(cols)
    assert out.count() == 0


def test_all_lists_every_public_function():
    import inspect

    from npm_extraction_server_spark.plans import graph as G

    public = {name for name, f in inspect.getmembers(G, inspect.isfunction)
              if not name.startswith("_") and f.__module__ == G.__name__}
    assert sorted(G.__all__) == sorted(public)

"""Basic-graph-pattern (BGP) matching over the materialized triples
table — the SPARQL-SELECT core a knowledge graph exists to answer.

The reference serves per-package RDF documents (JSON-LD / N-Triples /
TriG; lib/npm/NpmModule.js + the serializers); the queries its
consumers then run over that RDF are conjunctive triple patterns.
This module expresses them directly over the engine's (subj, pred,
obj) triple table as ordinary Catalyst equi-joins, so the KG is
queryable WITHOUT a separate SPARQL engine.

Semantics: a pattern is a (s, p, o) string triple; terms starting
with ``?`` are variables, everything else is a constant matched
against the column. The result is one row per variable binding that
satisfies EVERY pattern (set semantics — duplicates collapsed), with
one column per variable.

Quad patterns (SPARQL GRAPH): a pattern may carry a FOURTH term
``(s, p, o, g)`` matched against the table's ``graph`` column — a
variable binds the graph name, a constant selects one named graph
(``GRAPH <g> {{...}}``), and ``None``/omitted means the pattern
matches in the DEFAULT graph view = the union of all graphs (the
RDF-dataset convention this engine's warehouse uses: the reference
serves each package as its own RDF document, so the dump is a dataset
of per-source named graphs; ``as_quads`` lifts the pipeline's triples
table into that form with graph = COALESCE(graph, src_url)). Mixing
3- and 4-term patterns in one group is allowed. A constant graph term
is a scan filter like any other (partition-prunable on a
graph-partitioned layout).

Shape at 100 TB (10^11-triple tables):

- Constant terms become scan-level filters — a pattern with a bound
  predicate reads only that predicate's rows (PushedFilters on the
  parquet scan; on a table bucketed/partitioned by ``pred`` the scan
  prunes to one partition, the triple-store layout this engine's
  warehouse writes).
- Each pattern is one filtered projection; patterns chain with
  hash-joins on their shared variables. A star pattern (same subject
  variable) joins k filtered scans on ``subj`` — co-partitioned after
  the first shuffle, so k-1 joins reuse one exchange.
- Highly selective patterns shrink under AQE into broadcast sides at
  runtime; callers should still order patterns most-selective-first
  (the classic BGP heuristic) since join order follows list order.
- No cartesian products unless the caller writes disconnected
  patterns (then crossJoin is explicit and intentional).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounds import _rounds, _union_all

__all__ = ["as_quads", "bgp_agg", "bgp_ask", "bgp_construct", "bgp_exists", "path_edges",
           "bgp_describe",
           "bgp_join", "bgp_minus",
           "bgp_optional", "bgp_path", "bgp_union", "materialize_rules",
           "reorder_patterns", "reorder_patterns_void"]


def as_quads(triples: DataFrame) -> DataFrame:
    """Lift a pipeline triples table into the named-graph dataset the
    GRAPH patterns run over: graph = COALESCE(graph, src_url) — triples
    the JSON-LD converter placed in an explicit named graph keep it,
    everything else lands in its source document's graph (the
    reference serves each package as its own RDF document —
    lib/npm/NpmBundle.js — so the dataset-dump convention is one named
    graph per source)."""
    cols = [c for c in ("subj", "pred", "obj") if c in triples.columns]
    return triples.select(
        *cols,
        F.coalesce(F.col("graph"), F.col("src_url")).alias("graph"))


def _norm_pattern(pat) -> tuple:
    """(s, p, o) -> (s, p, o, None); validate arity."""
    if len(pat) == 3:
        return (*pat, None)
    if len(pat) == 4:
        return tuple(pat)
    raise ValueError(f"bgp: pattern must have 3 or 4 terms, got {pat}")


def _match_patterns(triples: DataFrame,
                    patterns: list[tuple]) -> DataFrame:
    """Inner-join a conjunctive pattern group (no distinct — callers
    decide set vs bag semantics after composing OPTIONAL/UNION).
    Patterns are (s, p, o) triples or (s, p, o, g) quads."""
    if not patterns:
        raise ValueError("bgp: empty pattern list")
    patterns = [_norm_pattern(p) for p in patterns]
    has_graph = any(g is not None for _, _, _, g in patterns)
    if has_graph and "graph" not in triples.columns:
        raise ValueError(
            "bgp: quad pattern over a table without a 'graph' column "
            "(lift it with as_quads first)")
    base_cols = ["subj", "pred", "obj"] + (["graph"] if has_graph else [])
    t = triples.select(*base_cols)
    bound: DataFrame | None = None
    for s, p, o, g in patterns:
        cur = t
        out_cols: list = []
        seen: dict[str, str] = {}
        terms = [("subj", s), ("pred", p), ("obj", o)]
        if g is not None:
            terms.append(("graph", g))
        for col, term in terms:
            if term.startswith("?"):
                var = term[1:]
                if not var:
                    raise ValueError(f"bare '?' in pattern {(s, p, o)}")
                if var in seen:  # repeated var: intra-pattern equality
                    cur = cur.filter(F.col(col) == F.col(seen[var]))
                else:
                    seen[var] = col
                    out_cols.append(F.col(col).alias(var))
            else:
                cur = cur.filter(F.col(col) == term)
        cur = cur.select(*out_cols)
        if bound is None:
            bound = cur
        else:
            shared = [c for c in cur.columns if c in bound.columns]
            if shared:
                bound = bound.join(cur, shared)
            else:  # disconnected pattern groups: explicit product
                bound = bound.crossJoin(cur)
    assert bound is not None
    return bound


def _modifiers(out: DataFrame, order_by, limit, offset) -> DataFrame:
    """SPARQL solution modifiers: ORDER BY / LIMIT / OFFSET over a
    finished solution set. ``order_by`` entries are column names
    (``"-name"`` for DESC) or Column expressions. ORDER BY + LIMIT
    (no offset) plans as TakeOrderedAndProject — a per-partition
    top-k heap + single-partition merge of k rows — never a global
    sort (plan-asserted in tests). OFFSET forces the global sort
    (its semantics need the full prefix) and is the discouraged
    pagination form at scale, same as in any warehouse."""
    if order_by:
        cols = [F.col(c[1:]).desc() if isinstance(c, str)
                and c.startswith("-") else c for c in order_by]
        out = out.orderBy(*cols)
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def _finish(bound: DataFrame, select: list[str] | None,
            filters: list[Column] | list[str] | None,
            order_by: list | None = None, limit: int | None = None,
            offset: int = 0) -> DataFrame:
    """Shared FILTER -> SELECT -> DISTINCT -> ORDER/LIMIT/OFFSET tail
    of every BGP form. ``filters`` entries are Column expressions over
    the variable columns (SQL strings also accepted, evaluated via
    F.expr — an expression API by contract, not data
    interpolation)."""
    for flt in filters or []:
        bound = bound.filter(F.expr(flt) if isinstance(flt, str) else flt)
    if select:
        bound = bound.select(*select)
    return _modifiers(bound.distinct(), order_by, limit, offset)


def bgp_join(triples: DataFrame, patterns: list[tuple],
             select: list[str] | None = None,
             filters: list | None = None,
             order_by: list | None = None, limit: int | None = None,
             offset: int = 0,
             values: tuple[list[str], list[tuple]] | None = None,
             bind: dict[str, Column | str] | None = None,
             subqueries: list[DataFrame] | None = None
             ) -> DataFrame:
    """Conjunctive triple-pattern join over ``triples`` (columns
    subj, pred, obj). ``patterns``: list of (s, p, o) terms —
    ``"?x"``-style variables bind, other strings filter. ``select``
    optionally projects/orders the output variable columns;
    ``filters`` are SPARQL-FILTER-style Column expressions applied to
    the bindings before projection.

    Returns one row per distinct satisfying binding, one column per
    variable (no ``?`` prefix). Repeated variables within one pattern
    express equality (``("?x", P, "?x")`` keeps self-loops only).

    ``values``: SPARQL VALUES — an inline binding table
    ``(["var", ...], [(v1, ...), ...])`` inner-joined with the
    solutions on its variable names (each must be bound by the
    patterns). The literal rows build a local DataFrame that is
    BROADCAST into the join, so a VALUES-constrained query prunes at
    the join against a hash table, never rescans — the standard way a
    caller pins a query to an explicit entity list.

    ``subqueries``: SPARQL 1.1 subqueries — each entry is a FINISHED
    solution DataFrame (the output of another ``bgp_join`` /
    ``bgp_agg`` / ``bgp_union`` call, its columns = its projected
    variables) inner-joined with this group's bindings on the shared
    variable names, SPARQL's bottom-up evaluation order made literal:
    the inner SELECT is a value, the outer group joins against it.
    The canonical use is an aggregate subquery extending each binding
    with its group statistic ("versions of packages declaring >= k
    dependencies"); because the subquery is just a DataFrame, Catalyst
    still sees ONE plan — a selective aggregate broadcasts under AQE,
    and the join keys reuse the bindings' hash partitioning. A
    subquery sharing no variable with the outer group is a cartesian
    product per SPARQL semantics — rejected as a footgun, same rule
    as ``bgp_minus``.
    """
    bound = _match_patterns(triples, patterns)
    for sq in subqueries or []:
        shared = [c for c in sq.columns if c in bound.columns]
        if not shared:
            raise ValueError(
                "bgp_join: subquery shares no variable with the outer "
                f"patterns (cartesian product): {sq.columns} vs "
                f"{sorted(bound.columns)}")
        bound = bound.join(sq, shared)
    if values is not None:
        vars_, rows = values
        if not vars_ or not rows:
            raise ValueError("bgp_join: VALUES needs >=1 var and row")
        missing = [v for v in vars_ if v not in bound.columns]
        if missing:
            raise ValueError(
                f"bgp_join: VALUES vars {missing} not bound by the "
                f"patterns {sorted(bound.columns)}")
        spark = triples.sparkSession
        vdf = spark.createDataFrame(
            [tuple(r) if isinstance(r, (list, tuple)) else (r,)
             for r in rows],
            ", ".join(f"{v} string" for v in vars_)).distinct()
        bound = bound.join(F.broadcast(vdf), vars_)
    for var, expr in (bind or {}).items():
        # SPARQL BIND(expr AS ?var): a derived variable over the
        # bindings — pure projection, evaluated before FILTER/SELECT
        # so both can reference it (SQL strings via F.expr, same
        # expression-API contract as filters)
        bound = bound.withColumn(
            var, F.expr(expr) if isinstance(expr, str) else expr)
    return _finish(bound, select, filters,
                   order_by, limit, offset)


def bgp_optional(triples: DataFrame,
                 patterns: list[tuple],
                 optional: list[list[tuple]],
                 select: list[str] | None = None,
                 filters: list | None = None,
                 order_by: list | None = None, limit: int | None = None,
                 offset: int = 0) -> DataFrame:
    """SPARQL OPTIONAL: the required ``patterns`` group left-joined
    with each group in ``optional`` on their shared variables —
    bindings that match extend the row, bindings that don't leave the
    optional group's variables NULL (never drop the required row).

    Each optional group must share at least one variable with the
    required group (a disconnected OPTIONAL would be a cartesian
    product hiding behind NULL semantics — rejected instead).

    Scale shape: each optional group is one more filtered scan +
    left hash-join on the shared variable — same exchange reuse as
    the inner-join star; NULL-extension is free. OPTIONAL groups
    whose filtered scans are small broadcast under AQE.
    """
    bound = _match_patterns(triples, patterns)
    for grp in optional:
        opt = _match_patterns(triples, grp)
        shared = [c for c in opt.columns if c in bound.columns]
        if not shared:
            raise ValueError(
                "bgp_optional: optional group shares no variable with "
                f"the required patterns: {grp}")
        bound = bound.join(opt, shared, "left")
    return _finish(bound, select, filters, order_by, limit, offset)


def bgp_union(triples: DataFrame,
              groups: list[list[tuple]],
              select: list[str] | None = None,
              filters: list | None = None,
              order_by: list | None = None, limit: int | None = None,
              offset: int = 0) -> DataFrame:
    """SPARQL UNION: alternative pattern groups, each matched
    independently, bindings unioned by variable NAME — variables
    absent from one branch come back NULL in that branch's rows
    (unionByName with null padding), exactly SPARQL's union of
    solution mappings over possibly-different domains.

    Scale shape: branches are independent filtered scans evaluated in
    parallel; the union is a zero-shuffle concatenation — only the
    final DISTINCT exchanges, on the (small) binding rows.
    """
    if not groups:
        raise ValueError("bgp_union: empty group list")
    out: DataFrame | None = None
    for grp in groups:
        cur = _match_patterns(triples, grp)
        out = cur if out is None else out.unionByName(
            cur, allowMissingColumns=True)
    assert out is not None
    return _finish(out, select, filters, order_by, limit, offset)


def bgp_path(triples: DataFrame, seeds: DataFrame, pred,
             max_hops: int = 30, include_seed: bool = False) -> DataFrame:
    """SPARQL property path ``pred+`` (``pred*`` with
    ``include_seed=True``) from a seed set: every node reachable from
    a seed over one-or-more ``pred`` edges, with the minimum hop
    count. ``seeds``: one column ``node_id`` (subject IRIs).

    This is the SPARQL construct the engine's frontier-BFS machinery
    exists for: the predicate filter becomes a pushed scan filter
    (one partition on a pred-partitioned triple layout), and the
    closure delegates to plans.graph.bfs_distances — per-round work
    follows the reachability wavefront, never |V| (the
    kg_transitive_deps driver query is exactly this operator composed
    with semver resolution; its recursive-CTE oracle covers the
    closure semantics end-to-end)."""
    from .graph import bfs_distances

    edges = path_edges(triples, pred)  # str or any path expression:
    # closure (+/*) composes over the whole path algebra, exactly
    # SPARQL's grammar where +/* wrap an arbitrary path
    out = bfs_distances(seeds, edges, max_rounds=max_hops)
    if not include_seed:
        out = out.filter(F.col("dist") > 0)
    return out.select(F.col("node_id").alias("node"),
                      F.col("dist").alias("hops"))


def path_edges(triples: DataFrame, path) -> DataFrame:
    """SPARQL property-path ALGEBRA over the triple table: evaluate a
    path expression to its edge relation (src, dst). Expressions:

    - ``"<pred-IRI>"``            — one predicate (a pushed scan filter)
    - ``("seq", p1, p2, ...)``    — sequence ``p1/p2``: relational
      composition, one hash-join per step on the shared midpoint
    - ``("alt", p1, p2, ...)``    — alternative ``p1|p2``: union
    - ``("inv", p)``              — inverse ``^p``: swap src/dst (free)
    - ``("neg", i1, i2, ...)``    — negated property set ``!(i1|..)``:
      every triple whose predicate is NOT listed (IRI terms only)

    Each operator is one Catalyst plan fragment — sequences join on
    their midpoint variable (the same shape as a bgp_join chain),
    alternatives scan in parallel and concatenate shuffle-free. For
    transitive closure (``p+``/``p*``) pass the RESULT of this algebra
    to ``bgp_path`` via its ``edges=`` form — closure composes on top
    of any path expression, mirroring SPARQL's grammar where +/* wrap
    a path. Returns DISTINCT (src, dst): SPARQL path semantics are
    set-valued (and unbounded-length paths make bag semantics
    undefined), so every composition point collapses duplicates."""
    if isinstance(path, str):
        return (triples.filter(F.col("pred") == path)
                .select(F.col("subj").alias("src"),
                        F.col("obj").alias("dst")).distinct())
    op, *args = path
    if op == "inv":
        (inner,) = args
        e = path_edges(triples, inner)
        return e.select(F.col("dst").alias("src"),
                        F.col("src").alias("dst"))
    if op == "alt":
        return _union_all([path_edges(triples, a) for a in args]).distinct()
    if op == "seq":
        out = path_edges(triples, args[0])
        for nxt in args[1:]:
            step = (path_edges(triples, nxt)
                    .withColumnRenamed("src", "mid")
                    .withColumnRenamed("dst", "nxt_dst"))
            out = (out.join(step, out.dst == step.mid)
                   .select("src", F.col("nxt_dst").alias("dst"))
                   .distinct())
        return out
    if op == "neg":
        return (triples.filter(~F.col("pred").isin(*args))
                .select(F.col("subj").alias("src"),
                        F.col("obj").alias("dst")).distinct())
    raise ValueError(f"path_edges: unknown path operator {op!r}")


def bgp_construct(triples: DataFrame,
                  patterns: list[tuple],
                  template: list[tuple],
                  filters: list | None = None) -> DataFrame:
    """SPARQL CONSTRUCT: match the WHERE ``patterns`` (conjunctive,
    same semantics as bgp_join) and instantiate each ``template``
    triple once per binding — ``?var`` terms substitute the bound
    value, other terms are constants. Returns a (subj, pred, obj)
    DataFrame, distinct (CONSTRUCT produces a GRAPH, a set of
    triples), ready to union into the warehouse.

    This is single-rule materialized inference: a rule like
    "every module with a name has that name as its rdfs label" runs
    as one Catalyst plan (pattern scans -> joins -> projection), and
    a rule SET is just a union of bgp_construct calls — fixpoint
    iteration on top of it gives RDFS-style closure when rules feed
    each other.

    Quad templates: a 4-term template ``(s, p, o, g)`` emits into the
    named graph ``g`` (variable or constant) — SPARQL's
    ``CONSTRUCT {{ GRAPH ?g {{...}} }}`` extension. If ANY template
    entry is a quad the output carries a ``graph`` column (NULL for
    3-term entries = default graph)."""
    bound = _match_patterns(triples, patterns)
    for flt in filters or []:
        bound = bound.filter(F.expr(flt) if isinstance(flt, str) else flt)
    template = [_norm_pattern(t) for t in template]
    with_graph = any(g is not None for _, _, _, g in template)
    parts = []
    for s, p, o, g in template:
        def term(t):
            if t.startswith("?"):
                var = t[1:]
                if var not in bound.columns:
                    raise ValueError(
                        f"bgp_construct: template var ?{var} is not "
                        f"bound by the patterns {sorted(bound.columns)}")
                return F.col(var)
            return F.lit(t)

        cols = [term(s).alias("subj"), term(p).alias("pred"),
                term(o).alias("obj")]
        if with_graph:
            cols.append(
                (F.lit(None).cast("string") if g is None
                 else term(g)).alias("graph"))
        parts.append(bound.select(*cols))
    return _union_all(parts).distinct()


def materialize_rules(triples: DataFrame,
                      rules: list[tuple[list, list]],
                      max_rounds: int = 20) -> DataFrame:
    """Forward-chaining rule materialization to FIXPOINT: ``rules``
    is a list of (patterns, template) pairs — each a bgp_construct
    rule — applied repeatedly until no rule derives a new triple.
    Returns the closure (original triples + everything derived),
    distinct. This is RDFS-style entailment materialization
    (subClassOf/subPropertyOf transitivity, type inheritance,
    domain/range typing all fit the rule shape) done the warehouse
    way: materialize once, query with plain BGP forever.

    Scale shape: each round is |rules| Catalyst plans over the
    current closure + one anti-join against it (only genuinely NEW
    triples survive into the next round), checkpointed by
    ``plans/rounds._rounds`` — rounds are bounded by the derivation
    depth (e.g. the subclass-chain length), and each round's cost
    follows the rule matches, not the closure size squared. Raises on non-convergence within ``max_rounds``
    (a rule set deriving fresh IRIs forever is a bug, not a
    workload)."""
    def step(_, outs: list[DataFrame]) -> DataFrame:
        closure = _union_all(outs)
        return (_union_all([bgp_construct(closure, pats, tmpl)
                            for pats, tmpl in rules]).distinct()
                .join(closure, ["subj", "pred", "obj"], "left_anti"))

    return _union_all(_rounds(
        step, triples.select("subj", "pred", "obj").distinct()
        .localCheckpoint(eager=True), max_rounds,
        exhausted=f"materialize_rules: no fixpoint in {max_rounds} rounds"))


_AGG_FNS = {
    "count": F.count,
    "count_distinct": F.count_distinct,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    # SPARQL 1.1 completions. avg is rounded to a fixed grid so the
    # cross-engine hard oracle compares doubles exactly; SAMPLE is
    # deterministic (the spec allows any element — min is the
    # reproducible choice); GROUP_CONCAT sorts its elements before
    # joining (the spec leaves order undefined — an engine that feeds
    # results to a hash-comparing consumer must pick a canonical one).
    "avg": lambda c: F.round(F.avg(c), 9),
    "sample": F.min,
    "group_concat": lambda c: F.array_join(F.sort_array(
        F.collect_list(c)), ","),
}


def bgp_agg(triples: DataFrame,
            patterns: list[tuple],
            group_by: list[str],
            aggs: list[tuple[str, str, str]],
            filters: list | None = None,
            having: list | None = None,
            order_by: list | None = None, limit: int | None = None,
            offset: int = 0) -> DataFrame:
    """SPARQL GROUP BY + aggregates: match the conjunctive
    ``patterns``, apply FILTER, then aggregate the DISTINCT bindings
    (this module's uniform set-semantics contract — every BGP form
    here returns distinct solution mappings, and the aggregate
    operates over that same set) grouped by the ``group_by``
    variables. ``aggs``: (var, fn, alias) with fn one of count /
    count_distinct / min / max / sum. ``having``: Column expressions
    (or SQL strings) over the aggregated row — SPARQL HAVING.

    "How many dependencies does each version declare?", "how many
    versions per package?" — the KG dashboard queries. Runs as one
    Catalyst plan: filtered pattern scans -> joins -> distinct ->
    partial/final hash aggregate; the groupBy reuses the binding
    rows' existing hash partitioning when the group key was the last
    join key, and map-side partial aggregation bounds the shuffle by
    the group cardinality either way.
    """
    for var, fn, _ in aggs:
        if fn not in _AGG_FNS:
            raise ValueError(
                f"bgp_agg: unknown aggregate '{fn}' for ?{var} "
                f"(have {sorted(_AGG_FNS)})")
    bound = _match_patterns(triples, patterns)
    for flt in filters or []:
        bound = bound.filter(F.expr(flt) if isinstance(flt, str) else flt)
    bound = bound.distinct()
    missing = [v for v in group_by if v not in bound.columns]
    if missing:
        raise ValueError(f"bgp_agg: group_by vars {missing} not bound "
                         f"by the patterns {sorted(bound.columns)}")
    out = bound.groupBy(*group_by).agg(
        *[_AGG_FNS[fn](F.col(var)).alias(alias)
          for var, fn, alias in aggs])
    for h in having or []:
        out = out.filter(F.expr(h) if isinstance(h, str) else h)
    return _modifiers(out, order_by, limit, offset)


def bgp_minus(triples: DataFrame,
              patterns: list[tuple],
              minus: list[list[tuple]],
              select: list[str] | None = None,
              filters: list | None = None,
              order_by: list | None = None, limit: int | None = None,
              offset: int = 0) -> DataFrame:
    """SPARQL MINUS (and the equivalent FILTER NOT EXISTS for
    variable-connected groups): keep the bindings of ``patterns``
    that are NOT compatible with any binding of any ``minus`` group —
    compatibility = agreement on the shared variables, so each minus
    group becomes one LEFT ANTI join on its shared-variable
    projection. "Packages with no dependency edge", "entities never
    referenced" — the negation queries that find the KG's gaps.

    Each minus group must share at least one variable with the
    required group: SPARQL MINUS with disjoint domains removes
    NOTHING by definition, which silently returns the unfiltered
    input — rejected as a footgun instead.

    Scale shape: the anti-join's build side is the minus group's
    DISTINCT shared-variable projection (usually far smaller than its
    full binding set); both sides hash-partition on the shared
    variables, and a selective minus group broadcasts under AQE.
    """
    bound = _match_patterns(triples, patterns)
    for grp in minus:
        m = _match_patterns(triples, grp)
        shared = [c for c in m.columns if c in bound.columns]
        if not shared:
            raise ValueError(
                "bgp_minus: minus group shares no variable with the "
                f"required patterns (would remove nothing): {grp}")
        bound = bound.join(m.select(*shared).distinct(), shared,
                           "left_anti")
    return _finish(bound, select, filters, order_by, limit, offset)


def bgp_exists(triples: DataFrame,
               patterns: list[tuple],
               exists: list[list[tuple]],
               select: list[str] | None = None,
               filters: list | None = None,
               order_by: list | None = None, limit: int | None = None,
               offset: int = 0) -> DataFrame:
    """SPARQL FILTER EXISTS: keep the bindings of ``patterns`` that
    ARE compatible with at least one binding of EVERY ``exists`` group
    — the positive dual of bgp_minus, one LEFT SEMI join per group on
    the shared variables. "Versions that do declare a dependency",
    "entities that are referenced somewhere" — the existence probes a
    KG consumer composes with the main pattern.

    Each exists group must share a variable with the required group
    (a disconnected EXISTS is satisfied by the group's mere
    non-emptiness — write it as a separate bgp_ask instead; rejected
    here as a footgun, mirroring bgp_minus).

    Scale shape: identical to bgp_minus with the join type flipped —
    the semi join's build side is the group's DISTINCT shared-variable
    projection; both sides hash-partition on the shared variables and
    selective groups broadcast under AQE.
    """
    bound = _match_patterns(triples, patterns)
    for grp in exists:
        m = _match_patterns(triples, grp)
        shared = [c for c in m.columns if c in bound.columns]
        if not shared:
            raise ValueError(
                "bgp_exists: exists group shares no variable with the "
                f"required patterns (use bgp_ask instead): {grp}")
        bound = bound.join(m.select(*shared).distinct(), shared,
                           "left_semi")
    return _finish(bound, select, filters, order_by, limit, offset)


def reorder_patterns(triples: DataFrame,
                     patterns: list[tuple[str, str, str]]
                     ) -> list[tuple[str, str, str]]:
    """Selectivity-based BGP join ordering — the classic SPARQL
    optimizer heuristic, measured instead of guessed: ONE aggregate
    pass over ``triples`` counts each pattern's constant-matching
    rows (a single job producing one row, every pattern's count as a
    conditional sum), then patterns are ordered greedily
    most-selective-first UNDER the connectivity constraint: the next
    pattern must share a variable with those already placed (else the
    join would degenerate into a cross product), falling back to the
    cheapest remaining pattern only when no connected one exists
    (i.e. the caller genuinely wrote disconnected groups).

    Pure plan optimization: the result set of ``bgp_join(triples,
    reorder_patterns(triples, ps))`` equals ``bgp_join(triples, ps)``
    — only the join tree changes. At 10^11 triples the count pass is
    one scan (cheap next to a misordered join whose first pattern
    binds half the table), and the counts can be cached per predicate
    by callers issuing many queries.
    """
    if not patterns:
        raise ValueError("bgp: empty pattern list")
    norm = [_norm_pattern(pat) for pat in patterns]
    conds = []
    cols = ("subj", "pred", "obj", "graph")
    proj = ["subj", "pred", "obj"] + (
        ["graph"] if any(g is not None and not g.startswith("?")
                         for _, _, _, g in norm) else [])
    for idx, quad in enumerate(norm):
        cond = F.lit(True)
        for col, term in zip(cols, quad):
            if term is not None and not term.startswith("?"):
                cond = cond & (F.col(col) == term)
        conds.append(F.sum(cond.cast("long")).alias(f"c{idx}"))
    row = triples.select(*proj).agg(*conds).collect()[0]
    counts = [int(row[f"c{i}"] or 0) for i in range(len(patterns))]
    return _greedy_order(patterns, counts)


def _pat_vars(pat) -> set:
    return {t[1:] for t in pat
            if t is not None and t.startswith("?") and len(t) > 1}


def _greedy_order(patterns: list, counts: list[int]) -> list:
    """Most-selective-first under the shared-variable connectivity
    constraint (shared by the measured and the stats-based orderer)."""
    remaining = list(range(len(patterns)))
    remaining.sort(key=lambda i: (counts[i], i))
    order: list[int] = []
    bound_vars: set[str] = set()
    while remaining:
        pick = next((i for i in remaining
                     if not order or _pat_vars(patterns[i]) & bound_vars),
                    remaining[0])
        remaining.remove(pick)
        order.append(pick)
        bound_vars |= _pat_vars(patterns[pick])
    return [patterns[i] for i in order]


def reorder_patterns_void(patterns: list,
                          void_stats: dict[str, tuple[int, int, int]]
                          ) -> list:
    """Stats-based BGP join ordering from the dataset's OWN VoID
    partition statistics — no measurement job at all. ``void_stats``
    maps predicate IRI -> (n_triples, n_subjects, n_objects), exactly
    the rows ``plans/warehouse.void_stats`` (the ``kg_void_stats``
    query) materializes; callers collect that small table ONCE per
    dataset and order every subsequent query driver-side.

    Cardinality model (the standard VoID estimator): a bound
    predicate starts at its n_triples; a bound subject divides by the
    predicate's distinct-subject count, a bound object by its
    distinct-object count (uniformity assumption). A variable
    predicate starts at the dataset total and divides by the summed
    distinct counts. Same greedy connectivity-constrained order as
    ``reorder_patterns``; same result-set invariance guarantee (only
    the join tree changes). Estimates are driver-side float math over
    a dict — the plan gains the ordering with ZERO extra Spark jobs,
    closing the one measurement pass ``reorder_patterns`` pays."""
    if not patterns:
        raise ValueError("bgp: empty pattern list")
    tot_t = sum(v[0] for v in void_stats.values()) or 1
    tot_s = sum(v[1] for v in void_stats.values()) or 1
    tot_o = sum(v[2] for v in void_stats.values()) or 1
    counts = []
    for pat in patterns:
        s, p, o, g = _norm_pattern(pat)
        if not p.startswith("?"):
            nt, ns, no = void_stats.get(p, (0, 1, 1))
        else:
            nt, ns, no = tot_t, tot_s, tot_o
        est = float(nt)
        if not s.startswith("?"):
            est /= max(ns, 1)
        if not o.startswith("?"):
            est /= max(no, 1)
        if g is not None and not g.startswith("?"):
            est /= 2.0  # graph constants prune; exact share unknown
        counts.append(est)
    return _greedy_order(patterns, counts)


def bgp_describe(triples: DataFrame, iri: str,
                 with_graph: bool = False) -> DataFrame:
    """SPARQL DESCRIBE (symmetric concise-bounded form, depth 1):
    every triple in which ``iri`` appears as subject OR object — the
    "show me this entity" query the reference answers per-package
    over HTTP, expressed over the triples table. Two pushed scan
    filters unioned; on a pred-partitioned layout both sides still
    prune columns, and a subj-bucketed table serves the subject arm
    shuffle-free. ``with_graph=True`` keeps the ``graph`` column
    (quad DESCRIBE over an ``as_quads`` dataset — which named graphs
    mention the entity)."""
    cols = ["subj", "pred", "obj"] + (["graph"] if with_graph else [])
    t = triples.select(*cols)
    return (t.filter(F.col("subj") == iri)
            .unionByName(t.filter(F.col("obj") == iri))
            .distinct())


def bgp_ask(triples: DataFrame, patterns: list[tuple[str, str, str]],
            filters: list | None = None) -> DataFrame:
    """SPARQL ASK: does at least one binding satisfy the pattern
    group? Returns ONE row (ask: boolean). Planned as the pattern
    join under a LIMIT 1 — Catalyst stops the scan at the first
    surviving row, so a satisfiable ASK touches a sliver of the
    table."""
    bound = _match_patterns(triples, patterns)
    for flt in filters or []:
        bound = bound.filter(F.expr(flt) if isinstance(flt, str) else flt)
    spark = triples.sparkSession
    n = bound.limit(1).count()
    return spark.createDataFrame([(bool(n),)], "ask boolean")

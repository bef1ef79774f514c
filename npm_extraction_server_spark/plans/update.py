"""SPARQL 1.1 Update over the lakehouse triple / quad table.

The reference serves a READ view of the npm registry's RDF (every
query endpoint in the server is GET-shaped), but a KG-construction
pipeline's triple store needs the write verbs too: corrections,
retractions, enrichment passes. This module implements the SPARQL 1.1
Update operations (INSERT DATA / DELETE DATA / DELETE WHERE /
DELETE-INSERT-WHERE with WITH-graph scoping, plus the graph-management
verbs CLEAR / ADD / COPY / MOVE and LOAD (single-document and the
distributed many-documents form),
https://www.w3.org/TR/sparql11-update/) against a snapshot-table
(sources/snapshots.py) holding the triples, i.e. the engine's
Iceberg-analog triple sink (SN1, ``plans/kg.py``).

Spark-first shape — one ATOMIC merge-on-read row-delta commit per
update:

- The WHERE clause is evaluated by the BGP layer (``plans/bgp.py``)
  over the CURRENT snapshot — one Catalyst plan, constants pushed to
  the scan.
- DELETE templates instantiate to concrete triples; the rows to
  remove are keyed by a content hash (``__tkey`` = sha2 of the
  unit-separated terms, written at load time) and committed as ONE
  equality-delete file — artifact size proportional to the DELETED
  triples, data files untouched (Iceberg v2 MOR semantics).
- INSERT templates instantiate and append in the SAME commit
  (``operation='rowdelta'`` carries both added rows and delete keys);
  the snapshot chain's sequence-number rule — an equality delete
  applies only to files STRICTLY OLDER than its commit — gives the
  SPARQL delete-before-insert evaluation order for free, so a triple
  both deleted and re-inserted survives, atomically, in one snapshot.
- RDF graphs are SETS: inserts are anti-joined against the
  post-delete state so a pre-existing triple is never duplicated, and
  deletes are semi-joined against the current state so retracting an
  absent triple is a no-op (and a fully no-op update commits NOTHING —
  the snapshot id does not move).

Named graphs (RDF datasets): ``create_triple_table`` builds a QUAD
table when the input carries a ``graph`` column (NULL = the default
graph, mirroring the pipeline triples layout). Templates and patterns
may then have 3 or 4 terms. On the WRITE side the spec is exact-graph:
a 3-term template touches the DEFAULT graph only (or the ``WITH``
graph when given). On the READ side (WHERE), 3-term patterns follow
the BGP layer's documented union-of-graphs default-graph view. Every
identity comparison runs on the single content-hash key column (its
sentinel coalesce folds the NULL default graph), so the default graph
participates in set semantics like any named graph and the store-side
scans column-prune to the key. CLEAR / ADD / COPY / MOVE are each one
row-delta commit whose artifacts are proportional to the affected
graphs, never the store — their delete side is a filtered subset of
the current rows, so its keys commit with no join at all.

Scale shape: the only full-width scan is the WHERE evaluation (the
same cost as the equivalent SELECT); the delete/insert deltas are
template-instantiation projections over its bindings, and the commit
artifacts are proportional to the delta, never the store. Readers pay
one broadcast anti-join per un-compacted update (``compact`` folds
them away), exactly the MOR trade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .rounds import _empty

TKEY = "__tkey"
_TERM_COLS = ("subj", "pred", "obj")
GRAPH = "graph"
# 0x1f unit separator: cannot occur in N-Triples-encoded terms, so the
# concatenation is injective and the sha2 key is a faithful triple id.
# 0x1e (record separator) stands in for the NULL default graph in the
# key — distinct from any graph IRI including the empty string.
_SEP = "\x1f"
_DEFAULT_G = "\x1e"

# Sentinels for clear_graph scope (the spec's CLEAR DEFAULT/NAMED/ALL).
DEFAULT = None
NAMED = "__named__"
ALL = "__all__"


def _term_cols(df_or_cols) -> tuple[str, ...]:
    """The identity columns of this table: triples or quads."""
    cols = df_or_cols.columns if isinstance(df_or_cols, DataFrame) \
        else list(df_or_cols)
    return _TERM_COLS + ((GRAPH,) if GRAPH in cols else ())


def triple_key(cols: tuple[str, ...] = _TERM_COLS) -> Column:
    """Content hash identifying one (subj, pred, obj[, graph]) row —
    the equality-delete key column. sha2-256 over the unit-separated
    terms; collision-free in practice and deterministic across
    engines (DuckDB: sha256(subj || chr(31) || ...))."""
    parts = [F.coalesce(F.col(c), F.lit(_DEFAULT_G)) if c == GRAPH
             else F.col(c) for c in cols]
    return F.sha2(F.concat_ws(_SEP, *parts), 256)


def create_triple_table(spark: SparkSession, triples: DataFrame,
                        table: str, partitions: int = 8) -> int:
    """Load a triple (or quad, if the input has a ``graph`` column)
    DataFrame as the initial snapshot of an updatable table: distinct
    (set semantics), keyed, clustered on subj so DESCRIBE-shaped
    reads prune files."""
    from ..sources.snapshots import commit

    cols = _term_cols(triples)
    df = (triples.select(*cols).distinct()
          .withColumn(TKEY, triple_key(cols)))
    return commit(df, table, partitions=partitions, cluster_by=["subj"])


def read_triple_table(spark: SparkSession, table: str,
                      snapshot_id: int | None = None) -> DataFrame:
    """Current (or time-travel) triple set, key column dropped."""
    from ..sources.snapshots import read_snapshot

    return read_snapshot(spark, table, snapshot_id).drop(TKEY)


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _norm_template(t, cols: tuple[str, ...], with_graph: str | None):
    """(s, p, o) or (s, p, o, g) -> a term per table column. 3-term
    templates land in the WITH graph (default graph when no WITH),
    per the spec's exact-graph write semantics."""
    if len(t) == 3 and len(cols) == 4:
        return (*t, with_graph)
    if len(t) == len(cols):
        # a 4-term template's own GRAPH term overrides WITH, per spec
        return tuple(t)
    if len(t) == 4:
        raise ValueError(
            f"quad template {t!r} over a triple table (no graph column)")
    raise ValueError(f"template must be (s, p, o[, g]): {t!r}")


def _instantiate(bindings: DataFrame, templates: list[tuple],
                 cols: tuple[str, ...],
                 with_graph: str | None) -> DataFrame:
    """Concrete rows from templates over the WHERE bindings: variables
    substitute per solution, constants replicate; solutions leaving
    any s/p/o term unbound (OPTIONAL-null) drop that instantiation,
    per the SPARQL 1.1 Update spec (a NULL graph term is the default
    graph, not an unbound solution). Pure projections + a union — no
    shuffle until the caller's distinct."""
    parts = []
    for t in templates:
        terms = _norm_template(t, cols, with_graph)
        sel = []
        for term, name in zip(terms, cols):
            if _is_var(term):
                v = term[1:]
                if v not in bindings.columns:
                    raise ValueError(
                        f"template variable ?{v} is not bound by the "
                        f"WHERE clause ({sorted(bindings.columns)})")
                sel.append(F.col(v).alias(name))
            else:
                sel.append(F.lit(term).cast("string").alias(name))
        parts.append(bindings.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    crit = " AND ".join(f"{c} IS NOT NULL" for c in _TERM_COLS)
    return out.filter(crit).distinct()


def _constant_rows(spark: SparkSession, triples: list[tuple],
                   cols: tuple[str, ...],
                   with_graph: str | None) -> DataFrame:
    rows = []
    for t in triples:
        if any(_is_var(term) for term in t):
            raise ValueError(
                f"DATA forms take ground triples only (no variables): {t!r}")
        rows.append(_norm_template(t, cols, with_graph))
    schema = ", ".join(f"{c} string" for c in cols)
    return spark.createDataFrame(rows, schema).distinct()


def _commit_delta(spark: SparkSession, table: str, base: int,
                  cur: DataFrame, dele: DataFrame | None,
                  ins: DataFrame | None, cols: tuple[str, ...]) -> int:
    """Shared atomic tail of every update verb: effective delta under
    set semantics, evaluated once and pinned (localCheckpoint) so the
    commit's delete keys and added rows are consistent even if the
    table moves under a concurrent writer (the commit CAS on
    expected_parent would then refuse anyway).

    Every identity comparison runs on the ONE content-hash key column
    (the same injective sha2 the store persists), never on the 3-4
    term columns: the store-side scans column-prune to ``__tkey``
    alone, the joins are single-column hash semi/anti joins (AQE
    broadcasts the delta side when small), and NULL default graphs
    need no null-safe special case — the key's sentinel coalesce
    already folded them. A ``dele`` frame that still carries the key
    column is a subset of ``cur`` by construction (CLEAR/COPY/MOVE
    pass filtered current rows), so its keys commit with NO join at
    all — one filtered, column-pruned scan."""
    from ..sources.snapshots import commit

    del_keys = None
    if dele is not None:
        if TKEY in dele.columns:  # subset of cur: keys are authoritative
            del_keys = (dele.select(TKEY).distinct()
                        .localCheckpoint(eager=True))
        else:
            dkeys = (dele.withColumn(TKEY, triple_key(cols))
                     .select(TKEY).distinct())
            # semi join against the store keeps the no-op contract:
            # retracting absent triples must not move CURRENT or emit
            # spurious delete artifacts
            del_keys = (cur.select(TKEY).join(dkeys, TKEY, "left_semi")
                        .localCheckpoint(eager=True))
        if _empty(del_keys):
            del_keys = None
    if ins is not None:
        live_keys = cur.select(TKEY)
        if del_keys is not None:
            live_keys = live_keys.join(del_keys, TKEY, "left_anti")
        new_rows = (ins.withColumn(TKEY, triple_key(cols))
                    .join(live_keys, TKEY, "left_anti")
                    .localCheckpoint(eager=True))
        if _empty(new_rows):
            new_rows = None
    else:
        new_rows = None

    if del_keys is None and new_rows is None:
        return base  # no-op update: CURRENT does not move
    if new_rows is None:
        new_rows = cur.limit(0).localCheckpoint(eager=True)
    if del_keys is not None:
        return commit(new_rows, table, operation="rowdelta",
                      delete_keys=del_keys, delete_key=TKEY,
                      expected_parent=base)
    return commit(new_rows, table, operation="append",
                  expected_parent=base)


def _current(spark: SparkSession, table: str):
    from ..sources.snapshots import current_snapshot_id, read_snapshot

    base = current_snapshot_id(table)
    if base is None:
        raise ValueError(f"{table}: empty table (no CURRENT)")
    cur = read_snapshot(spark, table, base)
    return base, cur, _term_cols(cur.drop(TKEY))


def sparql_update(spark: SparkSession, table: str,
                  delete: list[tuple] | None = None,
                  insert: list[tuple] | None = None,
                  where: list[tuple] | DataFrame | None = None,
                  filters: list | None = None,
                  with_graph: str | None = None) -> int:
    """WITH <g> DELETE { templates } INSERT { templates } WHERE
    { patterns }.

    Any of the three clauses may be omitted: DELETE WHERE passes
    ``delete=where`` patterns as templates (use :func:`delete_where`),
    the DATA forms omit WHERE with ground templates. ``with_graph``
    scopes 3-term templates AND 3-term WHERE patterns to one named
    graph (the spec's WITH). For WHERE clauses beyond a conjunctive
    group (OPTIONAL / UNION / MINUS / subqueries / aggregates), pass a
    prepared solution DataFrame built with the bgp_* forms over
    :func:`read_triple_table` — templates bind its columns by variable
    name, so the full SPARQL query algebra drives updates without this
    function re-growing it. Returns the new snapshot id (unchanged
    CURRENT id if the update is a no-op).
    """
    if not delete and not insert:
        raise ValueError("sparql_update: need delete and/or insert templates")
    base, cur, cols = _current(spark, table)
    if with_graph is not None and GRAPH not in cols:
        raise ValueError("WITH graph over a triple table (no graph column)")

    if isinstance(where, DataFrame):
        if filters:
            raise ValueError(
                "apply filters when building the bindings DataFrame")
        bindings = where
    elif where is not None:
        from .bgp import bgp_join

        pats = where
        if with_graph is not None:
            pats = [(*p, with_graph) if len(p) == 3 else p for p in where]
        bindings = bgp_join(cur.drop(TKEY), pats, filters=filters)
    else:
        if filters:
            raise ValueError("filters need a WHERE clause")
        bindings = None

    def ground(templates):
        if bindings is None:
            return _constant_rows(spark, templates, cols, with_graph)
        return _instantiate(bindings, templates, cols, with_graph)

    dele = ground(delete) if delete else None
    ins = ground(insert) if insert else None
    return _commit_delta(spark, table, base, cur, dele, ins, cols)


def insert_data(spark: SparkSession, table: str,
                triples: list[tuple]) -> int:
    """INSERT DATA { ground triples/quads } — set-semantics append."""
    return sparql_update(spark, table, insert=triples)


def delete_data(spark: SparkSession, table: str,
                triples: list[tuple]) -> int:
    """DELETE DATA { ground triples/quads } — keyed retraction,
    no-op safe."""
    return sparql_update(spark, table, delete=triples)


def delete_where(spark: SparkSession, table: str,
                 patterns: list[tuple],
                 filters: list | None = None) -> int:
    """DELETE WHERE { patterns } — the patterns double as the delete
    templates, per the spec's shorthand. NOTE: 3-term patterns here
    follow the write-side exact-graph rule (they retract from the
    default graph only); pass quads to retract from named graphs."""
    return sparql_update(spark, table, delete=patterns, where=patterns,
                         filters=filters)


def _parsed_rows(text: str, fmt: str, into, quads: bool) -> list[tuple]:
    """Parse one RDF document into table rows. ``into`` overrides the
    document's graphs (the spec's LOAD ... INTO GRAPH); quad formats
    loaded without INTO keep their own named graphs."""
    from ..kernel.parse import parse_rdf

    rows = []
    for t in parse_rdf(text, fmt):
        g = into if into is not None else t.graph
        if g is not None and not quads:
            raise ValueError(
                "LOAD: named-graph data into a triple table (no graph "
                "column) — create the table from quads")
        rows.append((t.subj, t.pred, t.obj, g) if quads
                    else (t.subj, t.pred, t.obj))
    return rows


def load_graph(spark: SparkSession, table: str, text: str,
               fmt: str = "nt", into: str | None = None) -> int:
    """LOAD (one RDF document) [INTO GRAPH <into>] — parse N-Triples /
    N-Quads / Turtle / TriG text (kernel/parse.py) and insert the
    triples under set semantics, one commit. Loading a document whose
    triples all pre-exist is a no-op (CURRENT does not move)."""
    base, cur, cols = _current(spark, table)
    quads = GRAPH in cols
    rows = _parsed_rows(text, fmt, into, quads)
    if not rows:
        return base  # empty document: no-op, per set semantics
    schema = ", ".join(f"{c} string" for c in cols)
    ins = spark.createDataFrame(rows, schema).distinct()
    return _commit_delta(spark, table, base, cur, None, ins, cols)


def load_documents(spark: SparkSession, table: str, docs: DataFrame,
                   text_col: str, fmt: str = "nq",
                   into: str | None = None) -> int:
    """Distributed LOAD: a DataFrame column of RDF documents (one
    document per row — the shape a crawl or an export produces) parses
    in parallel inside mapInPandas and commits as ONE set-semantics
    append. This is the scale path: parsing cost is per-executor, the
    driver sees only the commit; the per-document parser is the same
    pure kernel the TriG round-trip oracle pins."""
    import pandas as pd

    base, cur, cols = _current(spark, table)
    quads = GRAPH in cols
    schema = ", ".join(f"{c} string" for c in cols)

    def parse_part(batches):
        for pdf in batches:
            out = []
            for text in pdf[text_col]:
                if text:
                    out.extend(_parsed_rows(text, fmt, into, quads))
            yield pd.DataFrame(out, columns=list(cols)) if out \
                else pd.DataFrame({c: pd.Series(dtype="object")
                                   for c in cols})

    ins = (docs.select(text_col).mapInPandas(parse_part, schema)
           .distinct())
    return _commit_delta(spark, table, base, cur, None, ins, cols)


def _graph_pred(g) -> Column:
    """Row filter for one clear_graph scope value."""
    if g is ALL:
        return F.lit(True)
    if g is NAMED:
        return F.col(GRAPH).isNotNull()
    if g is DEFAULT:
        return F.col(GRAPH).isNull()
    return F.col(GRAPH) == g


def clear_graph(spark: SparkSession, table: str,
                graph: str | None = DEFAULT) -> int:
    """CLEAR GRAPH <g> / CLEAR DEFAULT / CLEAR NAMED / CLEAR ALL
    (pass the module sentinels ``NAMED`` / ``ALL``; ``None`` = the
    default graph). One equality-delete commit sized by the cleared
    graph; clearing an empty graph is a no-op (silent, per spec)."""
    base, cur, cols = _current(spark, table)
    if GRAPH not in cols:
        if graph is not DEFAULT and graph is not ALL:
            raise ValueError("clear_graph: triple table has no named graphs")
        dele = cur.select(*cols, TKEY)
    else:
        dele = cur.filter(_graph_pred(graph)).select(*cols, TKEY)
    return _commit_delta(spark, table, base, cur, dele, None, cols)


def _src_dst(cur: DataFrame, cols, src, dst):
    if GRAPH not in cols:
        raise ValueError("graph management needs a quad table")
    rows = cur.filter(_graph_pred(src)).select(*_TERM_COLS)
    relabeled = rows.withColumn(GRAPH, F.lit(dst).cast("string"))
    return relabeled.select(*cols)


def add_graph(spark: SparkSession, table: str,
              src: str | None, dst: str | None) -> int:
    """ADD <src> TO <dst> — insert a copy of src's triples into dst
    (dst's existing triples kept; set semantics dedup). src/dst None =
    the default graph. src == dst is a no-op, per spec."""
    base, cur, cols = _current(spark, table)
    if src == dst:
        return base
    ins = _src_dst(cur, cols, src, dst)
    return _commit_delta(spark, table, base, cur, None, ins, cols)


def copy_graph(spark: SparkSession, table: str,
               src: str | None, dst: str | None) -> int:
    """COPY <src> TO <dst> — dst := src exactly (dst cleared first),
    in ONE atomic row-delta commit: dst's old rows become delete keys,
    src's relabeled rows the appended data. src == dst is a no-op."""
    base, cur, cols = _current(spark, table)
    if src == dst:
        return base
    dele = cur.filter(_graph_pred(dst)).select(*cols, TKEY)
    ins = _src_dst(cur, cols, src, dst)
    return _commit_delta(spark, table, base, cur, dele, ins, cols)


def move_graph(spark: SparkSession, table: str,
               src: str | None, dst: str | None) -> int:
    """MOVE <src> TO <dst> — COPY then drop src, still ONE commit
    (delete keys cover both graphs; the relabeled rows append)."""
    base, cur, cols = _current(spark, table)
    if src == dst:
        return base
    dele = (cur.filter(_graph_pred(dst) | _graph_pred(src))
            .select(*cols, TKEY))
    ins = _src_dst(cur, cols, src, dst)
    return _commit_delta(spark, table, base, cur, dele, ins, cols)

"""Forward-chaining RDF inference materialization: the RDFS rho-df
rule set (subClassOf / subPropertyOf / domain / range) and the
OWL-Horst property rules (inverseOf / SymmetricProperty /
TransitiveProperty) as batch closure operators over a triple table.

The reference serves raw extracted triples
(/root/reference/lib/npm/NpmContext.js emits doap/foaf assertions with
no entailment); a KG-construction engine that feeds SPARQL consumers
materializes the standard entailments once at build time so queries
need no inference at read time. Both operators are deterministic set
closures — hard-oracle-able with recursive CTEs.

Scale discipline:
- Schema closures (subClassOf+/subPropertyOf+) run on the SCHEMA
  table, which is ontology-sized (thousands of rows at most), and are
  broadcast into the corpus-sized joins — the data passes are a fixed
  number of broadcast joins + one distinct.
- TransitiveProperty closure is the one genuinely iterative rule: it
  runs per-predicate path doubling (T <- T union T.T) on the
  ``plans/rounds._peel`` driver — each round's frame is checkpointed
  eagerly and counted once — so a diameter-D relation closes in
  ceil(log2 D) rounds. Output is the closure SET, whose size
  (reachability pairs) is the inherent cost of materializing a
  transitive predicate — the caller's modeling choice, not a plan
  artifact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import _peel

RDF_TYPE = "rdf:type"
RDFS_SUBCLASS = "rdfs:subClassOf"
RDFS_SUBPROP = "rdfs:subPropertyOf"
RDFS_DOMAIN = "rdfs:domain"
RDFS_RANGE = "rdfs:range"
OWL_INVERSE = "owl:inverseOf"
OWL_SYMMETRIC = "owl:SymmetricProperty"
OWL_TRANSITIVE = "owl:TransitiveProperty"

_SPO = ("subj", "pred", "obj")


def _spo(df: DataFrame) -> DataFrame:
    return df.select(*_SPO)


def _fixpoint(step: Callable[[DataFrame], DataFrame], rows: DataFrame,
              max_rounds: int, what: str) -> DataFrame:
    """The ``_peel`` fixpoint of ``step`` from the distinct ``rows``;
    raises "``what`` did not converge in ``max_rounds`` rounds"."""
    live = rows.distinct().localCheckpoint(eager=True)
    return _peel(step, live, live.count(), max_rounds,
                 f"{what} did not converge in {max_rounds} rounds")[0]


def _transitive_closure(rel: DataFrame, max_rounds: int,
                        what: str) -> DataFrame:
    """Transitive closure of (subj, pred, obj) rows within each pred,
    by path doubling; one count() per round, converges in
    log2(depth)."""
    def step(t: DataFrame) -> DataFrame:
        return t.unionByName(
            t.alias("a")
            .join(t.alias("b"), (F.col("a.pred") == F.col("b.pred"))
                  & (F.col("a.obj") == F.col("b.subj")))
            .select(F.col("a.subj").alias("subj"),
                    F.col("a.pred").alias("pred"),
                    F.col("b.obj").alias("obj"))).distinct()
    return _fixpoint(step, _spo(rel), max_rounds, what)


def rdfs_closure(data: DataFrame, schema: DataFrame) -> DataFrame:
    """Materialize the RDFS rho-df closure of ``data`` under
    ``schema`` (both (subj, pred, obj) frames): rules rdfs5/rdfs11
    (subPropertyOf / subClassOf transitivity, on the schema),
    rdfs7 (property inheritance), rdfs2/rdfs3 (domain / range typing),
    rdfs9 (type propagation up the class hierarchy) — the standard
    stratification subprop -> domain/range -> subclass, which is
    complete for rho-df (Munoz, Perez & Gutierrez, ESWC 2007).

    Returns the full closure (data + schema + entailed) as distinct
    (subj, pred, obj, inferred) rows; ``inferred`` marks triples not
    present in either input. Corpus-sized work: two broadcast joins
    against the (tiny) schema closures, one type-propagation
    broadcast join, one distinct.
    """
    data = _spo(data)
    schema = _spo(schema)

    # rdfs5/rdfs11: subPropertyOf+ and subClassOf+ in one closure
    sch = _transitive_closure(
        schema.filter(F.col("pred").isin(RDFS_SUBPROP, RDFS_SUBCLASS)),
        16, "schema closure")

    def sup_of(pred: str) -> DataFrame:
        return sch.filter(F.col("pred") == pred).select(
            F.col("subj").alias("sub"), F.col("obj").alias("sup"))

    spc, scc = sup_of(RDFS_SUBPROP), sup_of(RDFS_SUBCLASS)

    # rdfs7: (s p o), p subPropertyOf+ q  =>  (s q o)
    ext = data.unionByName(
        data.join(F.broadcast(spc), data.pred == spc.sub)
        .select("subj", F.col("sup").alias("pred"), "obj"))

    dom = (schema.filter(F.col("pred") == RDFS_DOMAIN)
           .select(F.col("subj").alias("p"), F.col("obj").alias("c")))
    rng = (schema.filter(F.col("pred") == RDFS_RANGE)
           .select(F.col("subj").alias("p"), F.col("obj").alias("c")))
    # rdfs2/rdfs3 over the subprop-extended triples (domains declared
    # on super-properties fire for sub-property assertions)
    t_dom = (ext.join(F.broadcast(dom), ext.pred == dom.p)
             .select(F.col("subj").alias("s"), F.col("c")))
    t_rng = (ext.join(F.broadcast(rng), ext.pred == rng.p)
             .select(F.col("obj").alias("s"), F.col("c")))
    ty0 = (ext.filter(F.col("pred") == RDF_TYPE)
           .select(F.col("subj").alias("s"), F.col("obj").alias("c"))
           .unionByName(t_dom).unionByName(t_rng))
    # rdfs9: propagate every type up subClassOf+
    ty = ty0.unionByName(
        ty0.join(F.broadcast(scc), ty0.c == scc.sub)
        .select("s", F.col("sup").alias("c")))

    closure = (
        ext
        .unionByName(ty.select(F.col("s").alias("subj"),
                               F.lit(RDF_TYPE).alias("pred"),
                               F.col("c").alias("obj")))
        .unionByName(schema)
        .unionByName(sch)
        .distinct())
    given = data.unionByName(schema).distinct() \
        .withColumn("_given", F.lit(True))
    return (closure.join(given, list(_SPO), "left")
            .select(*_SPO, F.col("_given").isNull().alias("inferred")))


def _sym_inv_fixpoint(triples: DataFrame, sym_preds: DataFrame,
                      inv: DataFrame, max_rounds: int = 8) -> DataFrame:
    """Close ``triples`` under SymmetricProperty + inverseOf (both
    ontology-sized, broadcast). Each round derives (o p s) for
    symmetric p and (o q s) for p inverseOf q (both directions);
    fixpoint in rounds = nesting depth of the property chains (~2 for
    real ontologies), one count() per round."""
    def step(cur: DataFrame) -> DataFrame:
        s_new = (cur.join(F.broadcast(sym_preds), cur.pred == sym_preds.p)
                 .select(F.col("obj").alias("subj"), "pred",
                         F.col("subj").alias("obj")))
        i_new = (cur.join(F.broadcast(inv), cur.pred == inv.p)
                 .select(F.col("obj").alias("subj"),
                         F.col("q").alias("pred"),
                         F.col("subj").alias("obj")))
        return cur.unionByName(s_new).unionByName(i_new).distinct()
    return _fixpoint(step, triples, max_rounds, "sym/inv closure")


def owl_horst_closure(data: DataFrame, schema: DataFrame,
                      max_rounds: int = 32) -> DataFrame:
    """Materialize the OWL-Horst (pD*) PROPERTY rules over ``data``:
    rdfp3 (SymmetricProperty), rdfp8ax/rdfp8bx (inverseOf, both
    directions), rdfp4 (TransitiveProperty). Schema rows declare
    ``(p, rdf:type, owl:SymmetricProperty / owl:TransitiveProperty)``
    and ``(p, owl:inverseOf, q)``.

    Stratification (complete for this rule subset): sym/inv fixpoint
    -> per-predicate transitive closure by path doubling -> one final
    sym/inv fixpoint (the inverse / symmetric image of a transitive
    closure IS the closure of the image, so no new transitive edges
    can arise after the last pass; a transitive predicate declared
    inverse of another transitive predicate lands on the same set).

    Returns distinct (subj, pred, obj, inferred). The transitive
    closure materializes reachability pairs — the inherent output
    size of the modeling choice; rounds = ceil(log2(diameter)) with
    one count() action per round.
    """
    data = _spo(data)
    schema = _spo(schema)
    sym_preds = (schema.filter((F.col("pred") == RDF_TYPE)
                               & (F.col("obj") == OWL_SYMMETRIC))
                 .select(F.col("subj").alias("p")).distinct())
    trans_preds = (schema.filter((F.col("pred") == RDF_TYPE)
                                 & (F.col("obj") == OWL_TRANSITIVE))
                   .select(F.col("subj").alias("p")).distinct())
    inv_half = (schema.filter(F.col("pred") == OWL_INVERSE)
                .select(F.col("subj").alias("p"), F.col("obj").alias("q")))
    inv = (inv_half.unionByName(
        inv_half.select(F.col("q").alias("p"), F.col("p").alias("q")))
        .distinct())

    cur = _sym_inv_fixpoint(data, sym_preds, inv)

    # rdfp4: per-predicate path doubling over the transitive slice
    t_edges = _transitive_closure(
        cur.join(F.broadcast(trans_preds), cur.pred == F.col("p")),
        max_rounds, "transitive closure")
    cur = _sym_inv_fixpoint(cur.unionByName(t_edges), sym_preds, inv)

    closure = cur.unionByName(schema).distinct()
    given = data.unionByName(schema).distinct() \
        .withColumn("_given", F.lit(True))
    return (closure.join(given, list(_SPO), "left")
            .select(*_SPO, F.col("_given").isNull().alias("inferred")))

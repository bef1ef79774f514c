"""Hand-computed closure tests for plans/entail (RDFS rho-df and
OWL-Horst property rules)."""

from npm_extraction_server_spark.plans.entail import (
    owl_horst_closure,
    rdfs_closure,
)


def _rows(df):
    return {(r.subj, r.pred, r.obj, r.inferred) for r in df.collect()}


def test_rdfs_closure_hand_computed(spark):
    data = spark.createDataFrame(
        [("x", "p0", "y"), ("z", "rdf:type", "c0")],
        "subj string, pred string, obj string")
    schema = spark.createDataFrame(
        [("p0", "rdfs:subPropertyOf", "p1"),
         ("p1", "rdfs:subPropertyOf", "p2"),
         ("p0", "rdfs:domain", "d"),
         ("p2", "rdfs:range", "r"),
         ("c0", "rdfs:subClassOf", "c1"),
         ("c1", "rdfs:subClassOf", "c2"),
         ("d", "rdfs:subClassOf", "c2")],
        "subj string, pred string, obj string")
    got = _rows(rdfs_closure(data, schema))

    want = {
        # asserted data
        ("x", "p0", "y", False), ("z", "rdf:type", "c0", False),
        # rdfs7 through the chain
        ("x", "p1", "y", True), ("x", "p2", "y", True),
        # rdfs2 on p0's domain, then rdfs9 up d < c2
        ("x", "rdf:type", "d", True), ("x", "rdf:type", "c2", True),
        # rdfs3: range declared on p2 fires for the inherited triple
        ("y", "rdf:type", "r", True),
        # rdfs9 for z up the class chain
        ("z", "rdf:type", "c1", True), ("z", "rdf:type", "c2", True),
        # schema + its transitive closures
        ("p0", "rdfs:subPropertyOf", "p1", False),
        ("p1", "rdfs:subPropertyOf", "p2", False),
        ("p0", "rdfs:subPropertyOf", "p2", True),
        ("p0", "rdfs:domain", "d", False),
        ("p2", "rdfs:range", "r", False),
        ("c0", "rdfs:subClassOf", "c1", False),
        ("c1", "rdfs:subClassOf", "c2", False),
        ("c0", "rdfs:subClassOf", "c2", True),
        ("d", "rdfs:subClassOf", "c2", False),
    }
    assert got == want


def test_owl_horst_closure_hand_computed(spark):
    data = spark.createDataFrame(
        [("a", "partOf", "b"), ("b", "partOf", "c"),
         ("d", "hasPart", "c"),   # inverse feeds the transitive set
         ("m", "adj", "n")],
        "subj string, pred string, obj string")
    schema = spark.createDataFrame(
        [("partOf", "rdf:type", "owl:TransitiveProperty"),
         ("hasPart", "owl:inverseOf", "partOf"),
         ("adj", "rdf:type", "owl:SymmetricProperty")],
        "subj string, pred string, obj string")
    got = _rows(owl_horst_closure(data, schema))

    part_pairs = {("a", "b"), ("b", "c"), ("c", "d"),  # c<-d via inverse
                  ("a", "c"), ("b", "d"), ("a", "d")}  # transitive
    want = {("a", "partOf", "b", False), ("b", "partOf", "c", False),
            ("d", "hasPart", "c", False), ("m", "adj", "n", False),
            ("n", "adj", "m", True),
            ("partOf", "rdf:type", "owl:TransitiveProperty", False),
            ("hasPart", "owl:inverseOf", "partOf", False),
            ("adj", "rdf:type", "owl:SymmetricProperty", False)}
    for s, o in part_pairs:
        want.add((s, "partOf", o, (s, o) not in {("a", "b"), ("b", "c")}))
        # every partOf pair has its hasPart inverse; (d hasPart c) was
        # asserted, the rest are inferred
        want.add((o, "hasPart", s, (o, s) != ("d", "c")))
    assert got == want


def test_owl_horst_symmetric_transitive_interaction(spark):
    # a symmetric AND transitive predicate closes into the full
    # connected clique (both directions)
    data = spark.createDataFrame(
        [("a", "near", "b"), ("b", "near", "c")],
        "subj string, pred string, obj string")
    schema = spark.createDataFrame(
        [("near", "rdf:type", "owl:TransitiveProperty"),
         ("near", "rdf:type", "owl:SymmetricProperty")],
        "subj string, pred string, obj string")
    got = {(r.subj, r.obj) for r in
           owl_horst_closure(data, schema)
           .filter("pred = 'near'").collect()}
    nodes = {"a", "b", "c"}
    # symmetric+transitive closure of a connected set: every ordered
    # pair including self-loops via x near y near x
    want = {(s, o) for s in nodes for o in nodes}
    assert got == want


def test_owl_horst_transitive_closure_exhausted(spark):
    """One path-doubling round does not close a 4-node transitive
    chain: with ``max_rounds=1`` the closure raises its own error
    instead of returning a partial closure."""
    import pytest

    data = spark.createDataFrame(
        [("a", "near", "b"), ("b", "near", "c"), ("c", "near", "d")],
        "subj string, pred string, obj string")
    schema = spark.createDataFrame(
        [("near", "rdf:type", "owl:TransitiveProperty")],
        "subj string, pred string, obj string")
    with pytest.raises(RuntimeError, match="^transitive closure did not "
                       "converge in 1 rounds$"):
        owl_horst_closure(data, schema, max_rounds=1)

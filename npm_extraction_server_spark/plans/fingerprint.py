"""Canonical RDF-graph fingerprints via per-graph 1-WL color refinement.

``wl_graph_hash`` assigns every named graph (= one extracted document's
triples) a hash that is invariant to node RENAMING: skolemized blank
nodes, minted entity IRIs, or (in structural mode) every IRI and
literal are abstracted away, and only the predicate-labeled graph
SHAPE feeds the hash. Two documents whose RDF graphs are isomorphic
modulo those renamings collide — the graph-level dedup / change-
detection primitive for a KG-construction pipeline (cf. Hogan,
"Canonical Forms for Isomorphic and Equivalent RDF Graphs", and the
RDF Dataset Canonicalization WG's hash-based labeling; this is the
bounded-round WL screen, not the full canonical form).

Colors (all deterministic md5 string functions, so the DuckDB oracle
reproduces every hash bit-for-bit — suite ``kg_graph_hash``):

  color_0(v)   = md5('lit')              for literal nodes
                 md5('n')                for IRI nodes     (structural)
                 md5(lexical form)       for every node    (value mode)
  color_t(v)   = md5(color_{t-1}(v) || '|' ||
                     sorted-join of md5(pred || '>' || color(obj))
                       over v's outgoing triples          || '|' ||
                     sorted-join of md5(pred || '<' || color(subj))
                       over v's incoming triples)
  hash(graph)  = md5(sorted-join of md5(color(s)||' '||p||' '||color(o))
                     over the graph's distinct triples)

Scale shape: each round is two edge-keyed hash joins + two
(graph, node)-keyed sorted-list aggregates (memory ~ per-node degree
within ONE document's graph — tiny by construction); the color frame
is lazily checkpointed per round (``plans/rounds._rounds``) so the
plan stays round-deep. The final hash is one (graph)-keyed aggregate;
the duplicate-class rollup runs on |graphs| rows. Nothing is ever
quadratic and no Python UDF runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import _rounds


def wl_graph_hash(triples: DataFrame, rounds: int = 2,
                  structural: bool = True) -> DataFrame:
    """Per-graph WL fingerprint over (graph, subj, pred, obj) rows.

    Returns (graph, wl_hash, n_triples, class_rep, class_size) where
    class_rep is the lexicographically smallest graph sharing the hash
    (the canonical representative of the duplicate class).
    """
    e = (triples.select(F.col("graph").alias("g"),
                        F.col("subj").alias("s"),
                        F.col("pred").alias("p"),
                        F.col("obj").alias("o"))
         .distinct()
         .localCheckpoint(eager=False))

    nodes = (e.select("g", F.col("s").alias("node"))
             .unionByName(e.select("g", F.col("o").alias("node")))
             .distinct())
    is_lit = F.col("node").startswith('"')
    if structural:
        c0 = F.md5(F.when(is_lit, F.lit("lit")).otherwise(F.lit("n")))
    else:
        c0 = F.md5(F.col("node"))

    def step(_, hist: list[DataFrame]) -> DataFrame:
        colors = hist[-1]
        osig = (e.join(colors.select(F.col("g").alias("g2"),
                                     F.col("node").alias("o2"),
                                     F.col("c").alias("oc")),
                       (F.col("g") == F.col("g2")) & (F.col("o") == F.col("o2")))
                .select("g", "s", F.md5(F.concat(F.col("p"), F.lit(">"),
                                                 F.col("oc"))).alias("sig"))
                .groupBy("g", "s")
                .agg(F.array_join(F.array_sort(F.collect_list("sig")), ",")
                     .alias("outs")))
        isig = (e.join(colors.select(F.col("g").alias("g2"),
                                     F.col("node").alias("s2"),
                                     F.col("c").alias("sc")),
                       (F.col("g") == F.col("g2")) & (F.col("s") == F.col("s2")))
                .select("g", "o", F.md5(F.concat(F.col("p"), F.lit("<"),
                                                 F.col("sc"))).alias("sig"))
                .groupBy("g", "o")
                .agg(F.array_join(F.array_sort(F.collect_list("sig")), ",")
                     .alias("ins")))
        return (colors
                .join(osig.withColumnsRenamed({"g": "og", "s": "on"}),
                      (F.col("g") == F.col("og"))
                      & (F.col("node") == F.col("on")), "left")
                .join(isig.withColumnsRenamed({"g": "ig", "o": "in_"}),
                      (F.col("g") == F.col("ig"))
                      & (F.col("node") == F.col("in_")), "left")
                .select("g", "node",
                        F.md5(F.concat(
                            F.col("c"), F.lit("|"),
                            F.coalesce(F.col("outs"), F.lit("")),
                            F.lit("|"),
                            F.coalesce(F.col("ins"), F.lit("")))).alias("c")))

    colors = _rounds(step, nodes.select("g", "node", c0.alias("c")),
                     rounds, until_empty=False)[-1]

    ts = (e.join(colors.select(F.col("g").alias("sg"),
                               F.col("node").alias("sn"),
                               F.col("c").alias("sc")),
                 (F.col("g") == F.col("sg")) & (F.col("s") == F.col("sn")))
          .join(colors.select(F.col("g").alias("og"),
                              F.col("node").alias("on"),
                              F.col("c").alias("oc")),
                (F.col("g") == F.col("og")) & (F.col("o") == F.col("on")))
          .select("g", F.md5(F.concat_ws(" ", "sc", "p", "oc")).alias("ts")))
    gh = (ts.groupBy("g")
          .agg(F.md5(F.array_join(F.array_sort(F.collect_list("ts")), ","))
               .alias("wl_hash"),
               F.count("*").alias("n_triples")))
    rep = (gh.groupBy("wl_hash")
           .agg(F.min("g").alias("class_rep"),
                F.count("*").alias("class_size")))
    return (gh.join(rep, "wl_hash")
            .select(F.col("g").alias("graph"), "wl_hash", "n_triples",
                    "class_rep", "class_size"))

"""Truth discovery / conflicting-fact fusion.

When the pipeline's three extraction sources (embedded structured
metadata, manifest JSON blobs, prose text mentions — the reference
renders only curated registry JSON, `lib/npm/NpmCouchDb.js`, so it
never faces this) assert CONFLICTING values for the same
(entity, attribute), a plain majority vote is wrong whenever low-
quality sources outnumber good ones. ``truth_discovery`` runs the
classic fixpoint from the truth-discovery literature (Sums /
Hubs-and-Authorities over the source-claim bipartite graph, the
baseline of Pasternack & Roth COLING'10 and the TruthFinder family):

    belief(fact)   = sum of trust(source) over asserting sources
    trust(source)  = MEAN of belief(fact) over asserted facts

with max-normalization after each half-step so the vectors stay in
(0, 1].  Reliable sources are the ones that agree with other reliable
sources; their facts win even against a numerical majority of junk.
The trust half-step uses the mean, not the sum (the "Average"
operator of Pasternack & Roth), because plain Sums rewards sheer
claim volume — a prolific colluding spam clique out-scores a larger
but sparser set of honest sources, which is exactly the adversary a
web-crawl extraction pipeline faces.

Determinism protocol (identical to ``plans/graph.pagerank``): every
vector value lives on the 12-decimal grid — contributions are
``cast(round(x, 12) AS DECIMAL(28,12))``, summed exactly, cast back
to double, divided by the (exactly comparable) double max, and
re-rounded to 12 — so the belief/trust vectors match DuckDB's
unrolled CTE bit-for-bit at every iteration.

Scale shape: the (source, entity, attr, value) assertion set is
deduplicated once and persisted TWICE (``plans/rounds._persisted``),
hash-partitioned on each join side — ``by source`` for the
trust->belief half-step and ``by fact`` for the belief->trust
half-step. The trust->belief join broadcasts the |sources|-sized trust
vector, so it never shuffles the assertions. The belief->trust join
is keyed on the fact: in AQE's final plan (``explain()``, Spark 4.1,
both broadcast thresholds at -1) its sort-merge join reads the
fact-keyed copy from the cache with no exchange above it and exchanges
only the belief checkpoint, which carries no partitioning. With the
session's thresholds AQE broadcasts whichever side is small at run
time instead. Both normalizing maxima are 1-row aggregates
broadcast-cross-joined into the update.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .rounds import _persisted, _rounds

_FACT = ["entity", "attr", "value"]
_DEC = "decimal(28,12)"


def _grid_sum(col):
    """Exact decimal accumulation of 12-dp-grid doubles, back to double."""
    return F.sum(F.round(col, 12).cast(_DEC)).cast("double")


def truth_discovery(claims: DataFrame, iterations: int = 4,
                    return_trust: bool = False) -> DataFrame:
    """Fuse conflicting (source, entity, attr, value) claims.

    Returns one fused row per (entity, attr): the value with the
    highest final belief (ties broken toward the lexicographically
    smallest value — deterministic), its belief rounded to 8 decimals,
    and the number of distinct asserting sources.  With
    ``return_trust=True`` returns the final per-source trust vector
    instead (source, trust), rounded the same way.
    """
    a = (claims.select("source", *_FACT).distinct()
         .localCheckpoint(eager=True))
    trust0 = (a.select("source").distinct()
              .withColumn("trust", F.lit(1.0)))
    with _persisted(a, "source") as a_by_src, \
            _persisted(a, *_FACT) as a_by_fact:
        def trust_of(belief: DataFrame) -> DataFrame:
            # belief -> trust: a fact-keyed join that exchanges only
            # the belief side (see the module docstring)
            raw_t = (a_by_fact.join(belief, _FACT)
                     .groupBy("source")
                     .agg((_grid_sum("belief") / F.count("*"))
                          .alias("raw")))
            tmax = raw_t.agg(F.max("raw").alias("tmax"))
            return (raw_t.crossJoin(F.broadcast(tmax))
                    .select("source",
                            F.round(F.col("raw") / F.col("tmax"), 12)
                            .alias("trust"))
                    .localCheckpoint(eager=True))

        def step(r: int, outs: list[DataFrame]) -> DataFrame:
            trust = trust0 if r == 1 else trust_of(outs[-1])
            # trust -> belief: the trust vector is |sources|-sized, so
            # the join broadcasts it; the groupBy's exchange carries
            # map-side decimal partials, never raw assertions.
            raw_b = (a_by_src.join(F.broadcast(trust), "source")
                     .groupBy(*_FACT).agg(_grid_sum("trust").alias("raw")))
            bmax = raw_b.agg(F.max("raw").alias("bmax"))
            return (raw_b.crossJoin(F.broadcast(bmax))
                    .select(*_FACT,
                            F.round(F.col("raw") / F.col("bmax"), 12)
                            .alias("belief")))

        belief = _rounds(step, trust0, iterations, until_empty=False)[-1]
        if return_trust:
            return trust_of(belief).select(
                "source", F.round("trust", 8).alias("trust"))
    n_src = a.groupBy(*_FACT).agg(
        F.countDistinct("source").alias("n_sources"))
    w = (belief.join(n_src, _FACT)
         .withColumn("_rk", F.row_number().over(
             Window.partitionBy("entity", "attr")
             .orderBy(F.col("belief").desc(), F.col("value").asc()))))
    return (w.filter(F.col("_rk") == 1)
            .select("entity", "attr", "value",
                    F.round("belief", 8).alias("belief"),
                    "n_sources"))

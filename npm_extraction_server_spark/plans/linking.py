"""Entity linking + canonicalization (J6/J7, BASELINE.json north_star).

Stages:
1. ``entity_mentions``: pull (entity_iri, kind, features) out of the
   triples table — packages, users (incl. bare ``mailto:`` person
   nodes), repo/homepage URLs, engines.
2. ``candidate_edges``: same-as candidates from
   (a) exact feature keys (shared mbox, normalized URL) — plain
       hash-joins;
   (b) MinHash-LSH blocking over name 3-grams for fuzzy user/package
       name matches, verified by Jaccard — only bucket collisions are
       compared;
   (c) a BROADCAST dictionary of head entities (the most-mentioned
       IRIs): mentions matching a head entity short-circuit the LSH
       path entirely, so the hot keys never enter the shuffle (skew
       defense mandated by the north star).
3. ``connected_components``: min-label propagation with pointer
   doubling (``plans/rounds._min_label``), checkpointed per round to
   truncate lineage; converges in O(log n) rounds; the convergence
   test is a count of changed labels.
4. ``canonicalize_triples``: rewrite subj/obj to canonical ids via two
   hash-joins against the assignment table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import _min_label, _stats_fresh

FOAF = "http://xmlns.com/foaf/0.1/"
DOAP = "http://usefulinc.com/ns/doap#"


def classify_kind(iri_col):
    return (
        F.when(iri_col.startswith("mailto:"), "user")
        .when(iri_col.contains("/users/npm/"), "user")
        .when(iri_col.contains("/engines/"), "engine")
        .when(iri_col.rlike(r"/bundles/npm/[^/]+$")
              | iri_col.rlike(r"/bundles/npm/@[^/]+/[^/]+$"), "package")
        .otherwise("other")
    )


def entity_mentions(triples: DataFrame) -> DataFrame:
    """(entity_iri, kind, name, email, url) — one row per entity with
    collected identity features (first non-null per feature)."""
    t = triples
    feat = (
        t.filter(F.col("pred").isin(FOAF + "name", FOAF + "mbox", FOAF + "homepage",
                                    DOAP + "name"))
        .select(
            F.col("subj").alias("entity_iri"),
            F.when(F.col("pred").isin(FOAF + "name", DOAP + "name"),
                   F.regexp_replace(F.col("obj"), '^"|"$', "")).alias("name"),
            F.when(F.col("pred") == FOAF + "mbox", F.col("obj")).alias("email"),
            F.when(F.col("pred") == FOAF + "homepage", F.col("obj")).alias("url"),
        )
        .groupBy("entity_iri")
        .agg(
            F.first("name", ignorenulls=True).alias("name"),
            F.first("email", ignorenulls=True).alias("email"),
            F.first("url", ignorenulls=True).alias("url"),
        )
    )
    subjects = t.select(F.col("subj").alias("entity_iri")).distinct()
    mailto_objs = (
        t.filter(F.col("obj").startswith("mailto:") & ~F.col("obj_is_literal"))
        .select(F.col("obj").alias("entity_iri")).distinct()
    )
    entities = subjects.unionByName(mailto_objs).distinct()
    return (
        entities.join(feat, "entity_iri", "left")
        .withColumn("kind", classify_kind(F.col("entity_iri")))
        .filter(F.col("kind") != "other")
    )


def _norm_url(col):
    return F.regexp_replace(
        F.regexp_replace(F.lower(col), r"^(https?|git|ssh)://(git@)?(www\.)?", ""),
        r"(\.git)?/?$", "")


def head_entity_dictionary(triples: DataFrame) -> DataFrame:
    """The 1,000 most-referenced entity IRIs (objects of non-literal
    triples): broadcast side of the skew short-circuit."""
    return (
        triples.filter(~F.col("obj_is_literal"))
        .groupBy(F.col("obj").alias("entity_iri"))
        .agg(F.count("*").alias("n_refs"))
        .orderBy(F.desc("n_refs"), F.asc("entity_iri"))
        .limit(1000)
    )


def _name_shingle_buckets(mentions: DataFrame) -> DataFrame:
    """MinHash-LSH over character-3-gram shingles of the normalized name:
    12 hashes in 6 bands of 2 rows."""
    named = mentions.filter(F.col("name").isNotNull()).select(
        "entity_iri", "kind", F.lower(F.regexp_replace("name", r"\s+", " ")).alias("nname"))
    n = F.length("nname")
    idx = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    shingled = named.withColumn(
        "shingles",
        F.array_distinct(F.transform(idx, lambda i: F.substring(F.col("nname"), i, 3))))
    mh = shingled.select(
        "entity_iri", "kind", "nname", "shingles",
        *[F.array_min(F.transform("shingles",
                                  lambda s: F.xxhash64(s, F.lit(seed)))).alias(f"h{seed}")
          for seed in range(12)],
    )
    return mh.select(
        "entity_iri", "kind", "nname", "shingles",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(F.concat_ws(",", *[
                    F.col(f"h{b * 2 + r}").cast("string")
                    for r in range(2)
                ])).alias("band_hash"))
            for b in range(6)
        ])).alias("band"),
    ).select("entity_iri", "kind", "nname", "shingles", "band.band_id", "band.band_hash")


def candidate_edges(mentions: DataFrame, triples: DataFrame | None = None,
                    name_jaccard: float = 0.8) -> DataFrame:
    """(src, dst) same-as candidate pairs.

    LSH name-blocking buckets of more than 64 mentions are dropped: a
    corpus of templated names (pkg-1, pkg-2, ...) shares most 3-grams,
    so band buckets grow with the corpus and the within-bucket pairing
    turns quadratic — measured 390 s of a 498 s end-to-end run at 48k pages
    before the cap, ~8 s after. Oversized buckets are boilerplate-name
    clusters: their members still link through the exact email/URL
    channels, which is the correct production trade (same guard as
    minhash_lsh_pairs)."""
    # (a) shared email — exact key join
    by_email = mentions.filter(F.col("email").isNotNull()).select("entity_iri", "email")
    e1, e2 = by_email.alias("a"), by_email.alias("b")
    email_edges = (
        e1.join(e2, (F.col("a.email") == F.col("b.email"))
                & (F.col("a.entity_iri") < F.col("b.entity_iri")))
        .select(F.col("a.entity_iri").alias("src"), F.col("b.entity_iri").alias("dst"))
    )
    # user IRI <-> its mbox mailto node (the mailto node IS an entity)
    mbox_edges = (
        mentions.filter(F.col("email").isNotNull()
                        & (F.col("email") != F.col("entity_iri")))
        .select(F.col("entity_iri").alias("src"), F.col("email").alias("dst"))
        .join(mentions.select(F.col("entity_iri").alias("dst")), "dst", "left_semi")
    )
    # (b) normalized URL equality
    by_url = mentions.filter(F.col("url").isNotNull()).select(
        "entity_iri", _norm_url(F.col("url")).alias("nurl"))
    u1, u2 = by_url.alias("a"), by_url.alias("b")
    url_edges = (
        u1.join(u2, (F.col("a.nurl") == F.col("b.nurl"))
                & (F.col("a.entity_iri") < F.col("b.entity_iri")))
        .select(F.col("a.entity_iri").alias("src"), F.col("b.entity_iri").alias("dst"))
    )
    # (c) LSH name blocking (heads short-circuited out of the fuzzy path)
    banded = _name_shingle_buckets(mentions)
    if triples is not None:
        heads = head_entity_dictionary(triples).select("entity_iri")
        banded = banded.join(F.broadcast(heads), "entity_iri", "left_anti")
    oversized = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > 64)
        .select("band_id", "band_hash")
    )
    banded = banded.join(F.broadcast(oversized),
                         ["band_id", "band_hash"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = (F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter)
    name_edges = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.kind") == F.col("b.kind"))
               & (F.col("a.entity_iri") < F.col("b.entity_iri")))
        .select(F.col("a.entity_iri").alias("src"), F.col("b.entity_iri").alias("dst"),
                inter.alias("n_inter"), union.alias("n_union"))
        .dropDuplicates(["src", "dst"])
        .filter((F.col("n_inter") / F.col("n_union")) >= name_jaccard)
        .select("src", "dst")
    )
    return email_edges.unionByName(mbox_edges).unionByName(url_edges) \
        .unionByName(name_edges).dropDuplicates(["src", "dst"])


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_rounds: int = 25) -> DataFrame:
    """Min-label propagation union-find: (entity_iri, canonical_id).

    ``plans/rounds._min_label`` over the symmetric edge set: each round
    takes the min neighbor label, pointer-doubles, and checkpoints the
    labels (truncates the lineage Catalyst would otherwise re-derive).
    Converges in O(log n) rounds; raises if not converged by
    ``max_rounds``."""
    # _stats_fresh, not a plain checkpoint: the carried size estimate
    # of an LSH bucket join squares through the rounds until it
    # overflows BigInteger (observed on 200k mutual-kNN edges from
    # lsh_topk at round ~20; the boruvka_msf pathology, same fix)
    sym = _stats_fresh(
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    labels = _stats_fresh(vertices.select(
        F.col("entity_iri").alias("node"), F.col("entity_iri").alias("label")))
    return _min_label(
        labels, sym, max_rounds,
        f"connected_components: no convergence in {max_rounds} rounds",
    ).select(F.col("node").alias("entity_iri"),
             F.col("label").alias("canonical_id"))


def incremental_components(old_labels: DataFrame, new_edges: DataFrame,
                           max_rounds: int = 25) -> DataFrame:
    """Connected components under an EDGE DELTA without recomputing the
    base graph: cost follows the day's change, not the corpus.

    Old components are collapsed to their canonical label (one proxy
    node per component — valid because every member already shares that
    label), so the iterative CC runs only over the delta graph: new
    edges plus (delta-node -> its old label) attachment edges. The
    resulting relabeling of the proxies is then applied to the full
    old table with ONE broadcastable join (label -> new label) — no
    iteration ever touches unchanged rows. Since each old canonical id
    is the min of its component, the merged minimum is preserved and
    the output equals ``connected_components`` over the union graph
    (hard-oracled by the ``graph_components_incr`` driver query)."""
    touched = (
        new_edges.select(F.col("src").alias("entity_iri"))
        .unionByName(new_edges.select(F.col("dst").alias("entity_iri")))
        .distinct()
    )
    old_touched = touched.join(old_labels, "entity_iri")  # delta ∩ old
    attach = old_touched.select(F.col("entity_iri").alias("src"),
                                F.col("canonical_id").alias("dst"))
    delta_edges = new_edges.select("src", "dst").unionByName(attach)
    delta_nodes = (
        delta_edges.select(F.col("src").alias("entity_iri"))
        .unionByName(delta_edges.select(F.col("dst").alias("entity_iri")))
        .distinct()
    )
    delta_labels = connected_components(delta_nodes, delta_edges, max_rounds)

    # remap whole old components via their proxy's new label
    remap = delta_labels.select(F.col("entity_iri").alias("old_label"),
                                F.col("canonical_id").alias("new_label"))
    relabeled_old = (
        old_labels.join(F.broadcast(remap),
                        old_labels.canonical_id == remap.old_label, "left")
        .select("entity_iri",
                F.coalesce("new_label", "canonical_id").alias("canonical_id"))
    )
    # brand-new nodes (no old label) take their delta label directly;
    # proxies are old entities themselves, so the anti-join drops them
    new_only = delta_labels.join(old_labels.select("entity_iri"),
                                 "entity_iri", "left_anti")
    return relabeled_old.unionByName(new_only)


def link_entities(triples: DataFrame) -> DataFrame:
    """triples -> entities table (entity_iri, kind, name, email, url,
    canonical_id)."""
    mentions = entity_mentions(triples)
    mentions = mentions.localCheckpoint(eager=True)
    edges = candidate_edges(mentions, triples)
    labels = connected_components(mentions.select("entity_iri"), edges)
    return mentions.join(labels, "entity_iri", "left").withColumn(
        "canonical_id", F.coalesce("canonical_id", "entity_iri"))


def canonicalize_triples(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """Rewrite subj/obj IRIs to canonical ids (two equi-joins; the
    assignment table is shuffled on the join key, AQE splits hot ids)."""
    assign = entities.select("entity_iri", "canonical_id")
    sub = assign.select(F.col("entity_iri").alias("subj"),
                        F.col("canonical_id").alias("subj_canon"))
    obj = assign.select(F.col("entity_iri").alias("obj"),
                        F.col("canonical_id").alias("obj_canon"))
    return (
        triples.join(sub, "subj", "left")
        .join(obj.hint("shuffle_hash"), "obj", "left")
        .withColumn("subj", F.coalesce("subj_canon", "subj"))
        .withColumn("obj", F.when(F.col("obj_is_literal"), F.col("obj"))
                    .otherwise(F.coalesce("obj_canon", "obj")))
        .drop("subj_canon", "obj_canon")
    )


def pair_metrics(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Pair-counting evaluation of a clustering against gold — the
    entity-resolution / dedup scorecard behind the north rule's
    P/R >= 0.95 bar, INTEGER-EXACT: over all item pairs,
    tp = pairs co-clustered in both, fp = co-clustered only in pred,
    fn = only in gold. Precision = tp/(tp+fp), recall = tp/(tp+fn) —
    the caller divides once; everything emitted here is a count.

    ``pred``: (item, cluster); ``gold``: (item, cluster). Items
    missing from either side are ignored (inner join — score what
    both sides cover).

    Scale shape: never enumerates pairs — pair counts come from
    cluster-size combinatorics (sum of C(n,2) over pred clusters,
    gold clusters, and the pred x gold contingency cells), so the
    cost is three aggregates over |items| rows. Returns one row
    (n_items, tp, fp, fn)."""
    j = (pred.select(F.col("item"), F.col("cluster").alias("cp"))
         .join(gold.select(F.col("item"), F.col("cluster").alias("cg")),
               "item")
         .localCheckpoint(eager=True))

    def c2(df, cols):
        return (df.groupBy(*cols).agg(F.count("*").alias("n"))
                .agg(F.coalesce(
                    F.sum(F.expr("n * (n - 1) DIV 2")), F.lit(0))
                    .alias("pairs")))

    tp = c2(j, ["cp", "cg"]).withColumnRenamed("pairs", "tp")
    p2 = c2(j, ["cp"]).withColumnRenamed("pairs", "p2")
    g2 = c2(j, ["cg"]).withColumnRenamed("pairs", "g2")
    n = j.agg(F.count("*").alias("n_items"))
    return (n.crossJoin(F.broadcast(tp))
            .crossJoin(F.broadcast(p2))
            .crossJoin(F.broadcast(g2))
            .select("n_items", F.col("tp").cast("bigint").alias("tp"),
                    (F.col("p2") - F.col("tp")).cast("bigint").alias("fp"),
                    (F.col("g2") - F.col("tp")).cast("bigint").alias("fn")))


def ifp_smush(triples: DataFrame, ifp_preds: list[str]) -> DataFrame:
    """owl:InverseFunctionalProperty smushing — the classic RDF
    entity-resolution rule (two subjects sharing a value of an IFP
    like foaf:mbox denote the SAME entity), run as equality blocking
    + connected components: no pairwise scoring, no similarity join.

    Scale shape: for each (ifp predicate, value) group the members
    link to the group MIN as a STAR (|members| - 1 edges), never a
    clique — a 10^6-subject shared-mailbox hub costs 10^6 edges, not
    10^12 pairs. Transitivity across different IFPs (A~B via mbox,
    B~C via homepage) is closed by the same pointer-doubling
    connected components the entity-linking pipeline uses.

    Returns (entity_iri, canonical_id) for every subject holding at
    least one IFP assertion; canonical = lexicographic min of the
    connected equivalence class.
    """
    t = (triples.filter(F.col("pred").isin(list(ifp_preds)))
         .select(F.col("pred").alias("p"),
                 F.col("obj").alias("o"),
                 F.col("subj").alias("s"))
         .distinct()
         .localCheckpoint(eager=False))
    grp = t.groupBy("p", "o").agg(F.min("s").alias("canon"))
    edges = (t.join(grp, ["p", "o"])
             .filter(F.col("s") != F.col("canon"))
             .select(F.col("s").alias("src"), F.col("canon").alias("dst"))
             .distinct())
    vertices = t.select(F.col("s").alias("entity_iri")).distinct()
    return connected_components(vertices, edges)

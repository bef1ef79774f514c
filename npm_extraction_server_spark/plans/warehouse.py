"""Graph materialization: triples + entities + lineage tables, plus
text serialization sinks (the north_rule's "graph materialize" step).

Layout (Iceberg-style on parquet — the bucket transform is explicit
since the Iceberg runtime jars are not in this image; swapping
``.parquet`` for ``.format("iceberg")`` + a catalog is the only change
needed on a real cluster):

  out/triples/bucket=<xxhash64(subj) % N>/...
  out/entities/                          (entity_iri, kind, features, canonical_id)
  out/lineage/                           (part_id, stage, n_in, n_out, n_failed, ...)
  out/errors/                            (src_url, bundle, error)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .kg import (
    engine_triples,
    extract_docs,
    lineage,
    maybe_repartition_pages,
    pages_to_triples,
    split_errors,
    write_triples,
)
from .linking import canonicalize_triples, link_entities


def max_satisfying_edges(docs: DataFrame,
                         root: str = "http://example.org/") -> DataFrame:
    """J1 over the whole corpus: dependency ranges resolved against the
    corpus's version sets, materialized as npm:maxSatisfying triples
    (the 307-redirect triple of /root/reference/bin/index.js:167-171,
    batch-wide). Returns rows in the triples-table shape.

    Each manifest is parsed once: its tagged rows are checkpointed, and
    the edge, version and dist-tag tables are JVM projections of them."""
    from ..operators.semver_join import (
        edges_of,
        manifest_rows,
        max_satisfying_triples,
        resolve_ranges,
        tags_of,
        versions_of,
    )

    rows = manifest_rows(docs).localCheckpoint(eager=True)
    resolved = resolve_ranges(edges_of(rows), versions_of(rows), tags_of(rows), root)
    t = max_satisfying_triples(resolved, root)
    return t.select(
        F.lit(None).cast("string").alias("src_url"),
        F.lit(None).cast("string").alias("bundle"),
        "subj", "pred", "obj",
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("graph"),
        F.lit(-2).alias("part_id"),
    )


def nt_lines(triples: DataFrame) -> DataFrame:
    """Triples -> one N-Triples line per row, entirely JVM-side column
    ops (escaping + datatype wrapping; no python in the path)."""
    def esc(col):
        col = F.regexp_replace(col, r"\\", r"\\\\")
        col = F.regexp_replace(col, '"', '\\\\"')
        col = F.regexp_replace(col, "\n", "\\\\n")
        col = F.regexp_replace(col, "\r", "\\\\r")
        col = F.regexp_replace(col, "\t", "\\\\t")
        return col

    # Decompose the kernel's N3-encoded literal: "value", "value"@lang,
    # "value"^^datatype — split on the LAST closing quote (DOTALL so
    # multiline readme literals match).
    df = triples.withColumn(
        "lit_value",
        F.regexp_extract("obj", r'(?s)^"(.*)"((\^\^|@).*)?$', 1),
    ).withColumn(
        "lit_suffix",
        F.regexp_extract("obj", r'(?s)^"(.*)"((\^\^|@).*)?$', 2),
    )
    literal_term = F.concat(
        F.lit('"'), esc(F.col("lit_value")), F.lit('"'),
        F.when(F.col("lit_suffix").startswith("^^"),
               F.concat(F.lit("^^<"), F.expr("substring(lit_suffix, 3)"),
                        F.lit(">")))
        .when(F.col("lit_suffix") != "", F.col("lit_suffix"))
        .otherwise(F.lit("")),
    )
    term = F.when(F.col("obj_is_literal"), literal_term).otherwise(
        F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
    return df.select(
        F.concat(F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"),
                 F.lit("> "), term, F.lit(" .")).alias("line"))


def export_ntriples(triples: DataFrame, path: str) -> None:
    """SN1 analog: the bulk text export, written distributed (overwrites
    ``path``)."""
    nt_lines(triples).write.mode("overwrite").text(path)


def materialize_graph(pages: DataFrame, out_dir: str,
                      root: str = "http://example.org/",
                      n_buckets: int = 64, do_linking: bool = True,
                      resolve_ranges: bool = True) -> dict:
    """pages -> {triples, entities, lineage, errors} tables on disk.

    Each Python stage runs once per build. The fused pages->triples
    stage is materialized by one eager checkpoint, which the triples,
    errors and lineage tables all read. The engine dimension is
    generated on the driver and unioned in. Semver resolution extracts
    the docs once and parses each manifest once (max_satisfying_edges).
    The returned row counts are observed on the two writes."""
    spark = pages.sparkSession
    pages_p = maybe_repartition_pages(pages)
    raw = pages_to_triples(pages_p, root).localCheckpoint(eager=True)
    triples, errors = split_errors(raw)
    triples = triples.unionByName(engine_triples(spark, root).drop("error"))
    if resolve_ranges:
        triples = triples.unionByName(
            max_satisfying_edges(extract_docs(pages_p), root).withColumn(
                "part_id", F.col("part_id").cast("int")))
    # linking reads the triples several times; keep the semver join and
    # its Python UDFs to one run
    triples = triples.localCheckpoint(eager=True)

    if do_linking:
        entities = link_entities(triples)
        entities = entities.localCheckpoint(eager=True)
        canonical = canonicalize_triples(triples, entities)
    else:
        entities = None
        canonical = triples

    n_triples = Observation("triples")
    write_triples(canonical.observe(n_triples, F.count(F.lit(1)).alias("n")),
                  f"{out_dir}/triples", n_buckets=n_buckets)
    n_entities = 0
    if entities is not None:
        seen = Observation("entities")
        (entities.observe(seen, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(f"{out_dir}/entities"))
        n_entities = seen.get["n"]
    lineage(raw).write.mode("overwrite").parquet(f"{out_dir}/lineage")
    errors.write.mode("overwrite").parquet(f"{out_dir}/errors")
    return {
        "n_triples": n_triples.get["n"],
        "n_entities": n_entities,
        "out_dir": out_dir,
    }


def write_bucketed_tables(triples: DataFrame, entities: DataFrame,
                          db: str, location: str,
                          n_buckets: int = 16) -> None:
    """Materialize triples + entities as REAL Spark bucketed tables
    (``bucketBy`` + ``sortBy`` + ``saveAsTable``), both bucketed on
    their join key (subj / entity_iri) with the same bucket count.

    This is the co-located-join layout for the big-big joins of the
    warehouse: canonicalization (triples.subj = entities.entity_iri)
    and any subj-keyed self-join read bucket i against bucket i
    directly — ZERO Exchange in the plan (asserted by
    tests/test_snapshots.py::test_bucketed_join_has_no_exchange).
    At 10^12 triples that shuffle is the single largest cost in the
    naive plan; bucketing pays it once at write time and amortizes it
    over every subsequent join."""
    spark = triples.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{location}'")
    (triples.write.mode("overwrite")
     .bucketBy(n_buckets, "subj").sortBy("subj")
     .format("parquet").saveAsTable(f"{db}.triples"))
    (entities.write.mode("overwrite")
     .bucketBy(n_buckets, "entity_iri").sortBy("entity_iri")
     .format("parquet").saveAsTable(f"{db}.entities"))


def write_triples_by_pred(triples: DataFrame, path: str,
                          n_write_tasks: int | None = None) -> None:
    """Materialize the triple table PARTITIONED BY PREDICATE — the
    classic vertical-partitioning triple-store layout, and the layout
    the BGP query layer (plans/bgp.py) wants: a pattern with a bound
    predicate prunes to ONE partition directory at scan planning
    (PartitionFilters, asserted by
    tests/test_plans.py::test_bgp_over_pred_partitioned_prunes), so a
    star query over a 10^12-triple table reads only its k predicates'
    data. Predicate cardinality is vocabulary-sized (~40 here, a few
    hundred in any real KG) — far below the small-partitions danger
    zone.

    ``n_write_tasks`` is the TOTAL repartition width (hash on
    (pred, subj)); each predicate directory receives at most that many
    files, written subj-hash-spread WITHIN the task set. Note this is
    a directory layout, not Spark bucketing metadata — readers still
    shuffle for subj joins; use ``write_bucketed_tables`` when
    zero-Exchange subject joins are the goal."""
    out = triples.select("subj", "pred", "obj")
    if n_write_tasks is None:
        n_write_tasks = max(
            out.sparkSession.sparkContext.defaultParallelism // 4, 1)
    if n_write_tasks < 1:
        raise ValueError(f"n_write_tasks must be >= 1, got {n_write_tasks}")
    (out.repartition(n_write_tasks, F.col("pred"), F.col("subj"))
     .write.mode("overwrite").partitionBy("pred").parquet(path))


def user_package_index(triples: DataFrame) -> DataFrame:
    """SC4/A1: the byUser inverted index
    (/root/reference/lib/npm/NpmCouchDb.js:67-70 + NpmUser.js:36-53):
    maintainer -> sorted distinct list of maintained bundle IRIs."""
    DOAP = "http://usefulinc.com/ns/doap#"
    return (
        triples.filter((F.col("pred") == DOAP + "maintainer")
                       & ~F.col("obj_is_literal"))
        .select(F.col("obj").alias("user_iri"), F.col("subj").alias("module_iri"))
        .groupBy("user_iri")
        # comma-joined sorted set, not array<string>: hashable by the
        # driver's canonicalizer AND DuckDB-oracle comparable
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("module_iri")))
             .alias("maintains"),
             F.count("*").alias("n_mentions"))
    )


def property_graph(triples: DataFrame) -> dict[str, DataFrame]:
    """Export the RDF triple table as a property graph (the shape
    GraphFrames / Neo4j-style consumers load): IRI->IRI triples become
    the ``edges`` relation (src, rel, dst), literal-valued triples
    become node properties, and ``nodes`` carries every IRI seen on
    either side with its out/in degree and property count.

    Literal detection is the serialization contract (kernel/serialize:
    literals carry their quotes in ``obj``). Both outputs are value
    SETS (triples may repeat across source documents). Every shuffle
    is keyed on the node id — the same subject-hash layout the triple
    sink buckets by (write_triples), so on a bucketed store the three
    degree aggregations are map-side; the final assembly is one
    id-keyed join tree AQE plans from observed sizes.
    """
    lit = F.col("obj").startswith('"')
    edges = (
        triples.filter(~lit)
        .select(F.col("subj").alias("src"), F.col("pred").alias("rel"),
                F.col("obj").alias("dst"))
        .distinct()
    )
    props = triples.filter(lit).select("subj", "pred", "obj").distinct()
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    n_p = props.groupBy(F.col("subj").alias("id")).agg(
        F.count(F.lit(1)).alias("n_props"))
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .unionByName(props.select(F.col("subj").alias("id")))
        .distinct()
    )
    nodes = (
        ids.join(out_d, "id", "left").join(in_d, "id", "left")
        .join(n_p, "id", "left")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("n_props", F.lit(0)).cast("long").alias("n_props"),
        )
    )
    return {"nodes": nodes, "edges": edges}


def characteristic_sets(triples: DataFrame) -> DataFrame:
    """Characteristic sets over an RDF triple table (Neumann &
    Moerkotte, ICDE 2011): group every subject by the SET of distinct
    predicates it carries — the structural "schema" emergent in
    schema-less RDF. The output is the statistic RDF optimizers use
    for star-join cardinality estimation (the next step past the
    per-predicate VoID counts feeding reorder_patterns_void): one row
    per distinct predicate set with

      char_set   — the sorted distinct predicate IRIs, '|'-joined
                   (a canonical string signature, stable cross-engine
                   because predicate IRIs are ASCII and both engines
                   compare bytewise)
      n_preds    — predicates in the set
      n_subjects — subjects exhibiting exactly this set
      n_triples  — total triples those subjects carry (so the mean
                   multiplicity per predicate is n_triples/n_subjects
                   as an exact rational)

    All-integer output + deterministic signature = hard DuckDB oracle.

    Scale shape: two shuffles — a subject-keyed aggregate (collect_set
    is partially aggregable, so map-side combine applies; on the
    subj-bucketed triple store of write_bucketed_tables it is
    shuffle-FREE) and a signature-keyed count whose input is one row
    per subject. No joins, no blowup: output cardinality is the number
    of distinct structural shapes, which Neumann & Moerkotte measured
    in the low thousands even on billion-triple corpora.
    """
    per_subj = (
        triples.groupBy("subj")
        .agg(F.array_join(F.array_sort(F.collect_set("pred")), "|")
             .alias("char_set"),
             F.size(F.collect_set("pred")).cast("long").alias("n_preds"),
             F.count(F.lit(1)).alias("n_triples"))
    )
    return (per_subj.groupBy("char_set")
            .agg(F.min("n_preds").alias("n_preds"),
                 F.count(F.lit(1)).alias("n_subjects"),
                 F.sum("n_triples").alias("n_triples")))


def direct_mapping(df: DataFrame, table: str, pk: list[str],
                   cols: list[str] | None = None,
                   fks: list[tuple[list[str], str, list[str]]] = (),
                   base: str = "http://example.org/db/") -> DataFrame:
    """W3C Direct Mapping (RDB2RDF REC, 2012) of one relational table
    to RDF — the standard relational side-entrance into the KG the
    pipeline builds from web pages:

      row IRI        <base><table>/<pk>=<v>(;<pk2>=<v2>...)
      type triple    row rdf:type <base><table>
      literal triple row <base><table>#<col> "<value>"   (NULLs skipped)
      FK triple      row <base><table>#ref-<c1;c2> -> target row IRI

    Values are serialized with N-Triples string escaping (backslash,
    quote) after a plain CAST to string, so every triple is a
    deterministic string function of the row — the DuckDB twin (suite
    ``kg_direct_mapping``) is bit-exact.

    Scale shape: ONE scan of the table — each row builds its
    (pred, obj) entries as an inline struct array (NULL columns yield
    NULL entries, filtered JVM-side) and explodes; triple emission is
    a single narrow whole-stage-codegen pass, |triples| = rows x
    non-null columns, no joins, no shuffles, no per-arm re-scan (a
    UNION-of-projections formulation would scan the table once per
    column — k corpus scans at 10^12 rows).
    """
    def esc(c):
        return F.replace(F.replace(c.cast("string"),
                                   F.lit("\\"), F.lit("\\\\")),
                         F.lit('"'), F.lit('\\"'))

    def row_iri(tbl: str, key_cols: list[str], vals: list) -> F.Column:
        parts: list = [F.lit(base + tbl + "/")]
        for n, (kc, v) in enumerate(zip(key_cols, vals)):
            if n:
                parts.append(F.lit(";"))
            parts.extend([F.lit(kc + "="), v.cast("string")])
        return F.concat(*parts)

    cols = cols if cols is not None else [c for c in df.columns
                                          if c not in pk]
    subj = row_iri(table, pk, [F.col(c) for c in pk])
    entry_t = "struct<pred:string,obj:string>"
    entries = [F.struct(
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
        .alias("pred"),
        F.lit(base + table).alias("obj"))]
    for c in pk + cols:
        entries.append(
            F.when(F.col(c).isNotNull(),
                   F.struct(F.lit(base + table + "#" + c).alias("pred"),
                            F.concat(F.lit('"'), esc(F.col(c)),
                                     F.lit('"')).alias("obj")))
            .cast(entry_t))
    for fk_cols, target, target_pk in fks:
        cond = F.lit(True)
        for c in fk_cols:
            cond = cond & F.col(c).isNotNull()
        entries.append(
            F.when(cond, F.struct(
                F.lit(base + table + "#ref-" + ";".join(fk_cols))
                .alias("pred"),
                row_iri(target, target_pk,
                        [F.col(c) for c in fk_cols]).alias("obj")))
            .cast(entry_t))
    arr = F.filter(F.array(*entries), lambda s: s.isNotNull())
    return (df.select(subj.alias("subj"), F.explode(arr).alias("_po"))
            .select("subj", F.col("_po.pred").alias("pred"),
                    F.col("_po.obj").alias("obj")))

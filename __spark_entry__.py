"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline: pages are
synthesized deterministically from the sf0.001 ``documents`` parquet
(BASELINE.json input shape: url, warc_ts, html, text, lang; the html
embeds package-manifest JSON + JSON-LD + microdata), then
extract -> doc->triples (SURVEY.md §3.1) and the triples DataFrame is
returned.

``queries()`` / ``oracle_sql()`` expose the operator suite
(npm_extraction_server_spark/operators/suite.py) plus the queries
defined here, for the DuckDB cross-check at sf=0.01. Both read one
registry (operators/registry.py). To add a query, define
``name(spark, sf_dir) -> DataFrame`` in either module under one
``@query(oracle)`` line: ``oracle`` is the DuckDB SQL over the same
parquet tables, or ``None`` for a rows-only query. The function's
name is the query's name; ``_PRIORITY`` below picks the first 50.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from npm_extraction_server_spark.operators.registry import (  # noqa: E402
    ORACLE_SQL,
    SPARK_QUERIES,
    query,
)

_SHIPPED: set[str] = set()


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """The driver may hand us ITS SparkSession (not ours): python
    workers resolve imports from shipped archives, not the driver's
    sys.path, so ship the package zip onto whatever session we get."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    from npm_extraction_server_spark.plans.session import _ship_package

    _ship_package(spark)
    _SHIPPED.add(app_id)


def _pages_from_documents(spark: SparkSession, sf_dir: str, limit: int | None = None) -> DataFrame:
    """Build the north-star pages table from the driver-provided
    documents parquet: html wraps a deterministic package manifest keyed
    by doc_id plus the document's own text (pass-through invariant)."""
    import json as jsonlib
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from npm_extraction_server_spark.operators.suite import _t

    docs = _t(spark, sf_dir, "documents")
    if limit:
        docs = docs.filter(F.col("doc_id") < limit)

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from npm_extraction_server_spark.sources.synth import (
            outlinks_footer,
            synth_jsonld_blob,
            synth_microdata,
            synth_package,
        )

        for pdf in batches:
            rows = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                i = int(doc_id)
                pkg = synth_package(i)
                html = (
                    "<!DOCTYPE html><html><body>"
                    '<script type="application/json" data-kind="npm-manifest">'
                    + jsonlib.dumps(pkg, separators=(",", ":"))
                    + "</script>"
                    + ('<script type="application/ld+json">'
                       + jsonlib.dumps(synth_jsonld_blob(i), separators=(",", ":"))
                       + "</script>" if i % 3 == 0 else "")
                    + (synth_microdata(i) if i % 4 == 0 else "")
                    + f"<article>{text}</article>"
                    + outlinks_footer(i)
                    + "</body></html>"
                ).encode("utf-8")
                rows.append((
                    f"http://crawl.example.org/{i % 100}/doc-{i}",
                    pd.Timestamp("2017-06-01") + pd.Timedelta(seconds=i),
                    html, text, lang,
                ))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return docs.select("doc_id", "text", "lang").mapInPandas(build, schema=schema)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extract->triples KG pipeline on sf0.001 pages."""
    from npm_extraction_server_spark.plans.kg import run_pipeline

    _ensure_workers_can_import(spark)

    pages = _pages_from_documents(spark, "/root/testdata/sf0.001")
    result = run_pipeline(pages)
    return result["triples"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from npm_extraction_server_spark.operators import suite  # noqa: F401  (registers)

    def _wrap(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_workers_can_import(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = getattr(fn, "__name__", "query")
        return wrapped

    # _PRIORITY first (a misspelt name raises KeyError), then the rest
    # in registration order: suite.py's queries, then this module's.
    tail = sorted((n for n in SPARK_QUERIES if n not in _PRIORITY),
                  key=lambda n: SPARK_QUERIES[n].__module__ == __name__)
    return {name: _wrap(SPARK_QUERIES[name]) for name in _PRIORITY + tail}


# The curated driver-budget head: the driver's correctness run records
# exactly the FIRST 50 queries() entries, so these 50 go first. Rule:
# give the head to queries with no driver record yet, keep every
# family (scan/join/agg/window, TPC-H, dedup, text, retrieval,
# similarity, graph, lakehouse snapshots, sketches, sampling, events,
# KG/BGP, web, WARC) represented, and demote only a query that is
# hard-green in the committed CORRECTNESS_FULL_r*.json self-runs. Each
# swap's reasons are in git history and ROUND*.md.
_PRIORITY: list[str] = [
    "text_gopher_rules", "sim_knn_components", "dedup_containment",
    "graph_pagerank_incr", "kg_bgp_bind", "snap_eq_delete",
    "snap_branch_diff", "kg_bgp_path_ops", "kg_rdfs_entail",
    "kg_owl_entail", "graph_triads", "graph_conductance",
    "kg_link_pred_rank", "kg_link_pred_metrics", "kg_shacl_report",
    "kg_ifp_smush", "graph_louvain_l2", "kg_text_mentions",
    "kg_rdfa_triples", "graph_lpa_communities", "text_textrank",
    "kg_graph_hash", "sim_mrl_verified", "graph_fastrp", "kg_truth_fusion",
    "web_url_patterns", "g4_grouping_sets", "j13_interval_join",
    "ts_theilsen", "sample_kcenter", "kg_sparql_update", "text_good_turing",
    "events_gini", "events_dau_wau", "events_survival", "kg_bgp_dep_chain",
    "events_ab_test", "text_lang_mix", "warc_revisits", "web_anchor_tfidf",
    "text_fertility", "text_idf_drift", "events_paths",
    "events_entropy_rate", "kg_direct_mapping", "text_char_entropy",
    "sim_sq8_verified", "events_rfm", "graph_katz", "web_template_lines",
]


def oracle_sql() -> dict[str, str]:
    from npm_extraction_server_spark.operators import suite  # noqa: F401  (registers)

    return dict(ORACLE_SQL)


# DuckDB replica of the J1 semver-resolution join over the synthetic
# corpus (sources/synth.py synth_package): dependency edges carry one of
# six valid ranges ("latest"/URL/shorthand ranges are invalid and never
# become edges); version sets are {maj.v.pat : v in 0..nv-1}, so
# maxSatisfying reduces to closed-form CASE arms per range. Targets not
# in the corpus (pkg-j where doc j is hot/scoped/absent) resolve NULL.
# Shared synthetic-corpus CTE prefix (docs -> pkg -> vers) replicating
# sources/synth.py in DuckDB — used by the doap-slice and BGP oracles.
_SYNTH_VERS_CTE = """
docs AS (
  SELECT doc_id AS i,
         ('0x' || substr(sha256('pkg:' || doc_id), 1, 16))::UBIGINT AS h
  FROM documents WHERE doc_id >= {lo} AND doc_id < {hi}
),
pkg AS (
  SELECT i, h,
    CASE WHEN i=0 THEN 'hotpkg' WHEN i=1 THEN 'megalib' WHEN i=2 THEN 'ultrautil'
         WHEN h%11=0 THEN '@org' || (h%7) || '/pkg-' || i
         ELSE 'pkg-' || i END AS name,
    (1 + (h%3))::INT AS nv
  FROM docs
),
vers AS (
  SELECT i, name,
    'http://example.org/bundles/npm/' ||
      replace(replace(name,'@','%40'),'/','%2F') || '/' ||
      ((1+(h%2)) || '.' || v || '.' || ((h>>4)%10)) AS module_iri,
    ((1+(h%2)) || '.' || v || '.' || ((h>>4)%10)) AS ver,
    ('0x' || substr(sha256('ver:' || (i*1000 + v)), 1, 16))::UBIGINT AS hv
  FROM pkg, unnest(generate_series(0, nv-1)) AS t(v)
)
"""

# Shared synth dependency-replica fragments (used by the property-graph
# and characteristic-sets oracles): the per-version dependency targets
# and the range -> encodeURIComponent'd revision-IRI segment. One
# definition so the two oracles cannot drift apart.
_SYNTH_DEPS_CTES = """pkgdeps AS (
  SELECT DISTINCT
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng FROM vers WHERE hv%10 < 8
  UNION
  SELECT DISTINCT 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
),
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
)"""

_RNG_ENC_CASE = """CASE rng WHEN '^1.0.0' THEN '%5E1.0.0'
         WHEN '>=1.0.0 <2' THEN '%3E%3D1.0.0%20%3C2'
         ELSE rng END"""


_SEMVER_RESOLVE_ORACLE = """
WITH docs AS (
  SELECT doc_id AS i,
         ('0x' || substr(sha256('pkg:' || doc_id), 1, 16))::UBIGINT AS h
  FROM documents WHERE doc_id < 100
),
pkg AS (
  SELECT i, h,
    CASE WHEN i=0 THEN 'hotpkg' WHEN i=1 THEN 'megalib' WHEN i=2 THEN 'ultrautil'
         WHEN h%11=0 THEN '@org' || (h%7) || '/pkg-' || i
         ELSE 'pkg-' || i END AS name,
    (1 + (h%3))::INT AS nv,
    (1 + (h%2))::INT AS major,
    ((h>>4) % 10)::INT AS patch
  FROM docs
),
vers AS (
  SELECT p.name, (p.major || '.' || v || '.' || p.patch) AS ver,
         ('0x' || substr(sha256('ver:' || (p.i*1000 + v)), 1, 16))::UBIGINT AS hv
  FROM pkg p, unnest(generate_series(0, p.nv - 1)) AS t(v)
),
edges AS (
  SELECT name AS src_bundle, ver AS src_version,
         'dependencies' AS dep_type,
         CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
                   ELSE 'ultrautil' END AS dep_pkg,
         '^1.0.0' AS dep_range
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT name, ver, 'dependencies',
         'pkg-' || (hv%1000) AS dep_pkg,
         CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
                   WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
                   WHEN 5 THEN '1.0.0' END AS dep_range
  FROM vers WHERE hv%9 <= 5
),
targets AS (SELECT name AS dep_pkg, major, patch, nv FROM pkg)
SELECT e.src_bundle, e.src_version, e.dep_type, e.dep_pkg, e.dep_range,
  CASE
    WHEN t.dep_pkg IS NULL THEN NULL
    WHEN e.dep_range IN ('^1.0.0', '>=1.0.0 <2', '1.x')
      THEN CASE WHEN t.major = 1
                THEN '1.' || (t.nv - 1) || '.' || t.patch END
    WHEN e.dep_range = '~1.2'
      THEN CASE WHEN t.major = 1 AND t.nv >= 3 THEN '1.2.' || t.patch END
    WHEN e.dep_range = '*'
      THEN t.major || '.' || (t.nv - 1) || '.' || t.patch
    WHEN e.dep_range = '1.0.0'
      THEN CASE WHEN t.major = 1 AND t.patch = 0 THEN '1.0.0' END
  END AS resolved_version
FROM edges e LEFT JOIN targets t USING (dep_pkg)
"""


# Market-basket association rules over dependency baskets. The synth
# vers replica re-derives each basket (bundle -> distinct valid-semver
# dep targets across its versions) from doc_id arithmetic alone:
# trio deps when hv%10 < 8, the pkg-(hv%1000) tail dep when hv%9 <= 5
# (ranges 6-8 of _RANGES fail valid_range, matching sources/synth.py).
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
bitems AS (
  SELECT DISTINCT name AS b,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS item
  FROM vers WHERE hv%10 < 8
  UNION
  SELECT DISTINCT name, 'pkg-' || (hv%1000) FROM vers WHERE hv%9 <= 5
),
nb AS (SELECT count(DISTINCT b)::HUGEINT AS n FROM bitems),
supp AS (SELECT item, count(*)::HUGEINT AS s FROM bitems GROUP BY 1),
freq AS (SELECT * FROM supp WHERE s >= 2),
fb AS (SELECT b, item FROM bitems
       WHERE item IN (SELECT item FROM freq)),
pairs AS (
  SELECT x.item AS xi, y.item AS yi, count(*)::HUGEINT AS sxy
  FROM fb x JOIN fb y ON x.b = y.b AND x.item < y.item
  GROUP BY 1, 2 HAVING count(*) >= 2
),
rules AS (
  SELECT xi AS antecedent, yi AS consequent, sxy FROM pairs
  UNION ALL
  SELECT yi, xi, sxy FROM pairs
),
r AS (
  SELECT antecedent, consequent, n, sa.s AS supp_a, sc.s AS supp_c, sxy
  FROM rules
  JOIN freq sa ON sa.item = rules.antecedent
  JOIN freq sc ON sc.item = rules.consequent
  CROSS JOIN nb
)
SELECT antecedent, consequent, n::BIGINT AS n_baskets,
       supp_a::BIGINT AS supp_a, supp_c::BIGINT AS supp_c,
       sxy::BIGINT AS supp_both,
       ((2*sxy*100000000 + supp_a) // (2*supp_a))::BIGINT AS conf_e8,
       (((2*sxy*100000000 + supp_a) // (2*supp_a))::DOUBLE
        / 100000000.0) AS confidence,
       ((2*n*sxy*100000000 + supp_a*supp_c)
        // (2*supp_a*supp_c))::BIGINT AS lift_e8,
       (((2*n*sxy*100000000 + supp_a*supp_c)
         // (2*supp_a*supp_c))::DOUBLE / 100000000.0) AS lift
FROM r
""")
def kg_dep_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over dependency baskets — "packages that
    depend on X also depend on Y" (A-priori, pairwise; see
    operators/assoc.py for the exactness + scale contract): basket =
    package, items = its distinct valid-semver dep targets across all
    versions (operators/semver_join.dependency_edges), min support 2
    on items AND pairs, confidence/lift exact on the 1e-8 grid."""
    from npm_extraction_server_spark.operators.assoc import assoc_rules
    from npm_extraction_server_spark.operators.semver_join import (
        dependency_edges,
    )
    from npm_extraction_server_spark.plans.kg import extract_docs, repartition_pages

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    docs = extract_docs(repartition_pages(pages))
    return assoc_rules(
        dependency_edges(docs).select("src_bundle", "dep_pkg"),
        min_supp=2)


# Transitive dependency closure from hotpkg's versions over the
# RESOLVED dependency graph: the semver-resolution oracle (verbatim, as
# a CTE) gives the concrete version->version edges; a recursive CTE
# walks them. Mirrors kg_transitive_deps (BFS over resolve_ranges
# output). hotpkg is doc 0, so its version list re-derives standalone.
@query("WITH RECURSIVE resolved AS (" + _SEMVER_RESOLVE_ORACLE + """),
re AS (SELECT src_bundle || '@' || src_version AS src,
              dep_pkg || '@' || resolved_version AS dst
       FROM resolved WHERE resolved_version IS NOT NULL),
""" + _SYNTH_VERS_CTE.format(lo=0, hi=10).strip().rstrip() + """,
reach(node_id, dist) AS (
    SELECT DISTINCT name || '@' || ver, 0 FROM vers
    UNION
    SELECT re.dst, r.dist + 1
    FROM reach r JOIN re ON re.src = r.node_id
    WHERE r.dist < 30
)
SELECT node_id, min(dist)::INT AS dist FROM reach GROUP BY node_id
""")
def kg_transitive_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The question a dependency KG exists to answer: everything
    REACHABLE from a package through resolved dependency edges.
    Composition of three engine pieces — extraction (docs), the semver
    range-resolution join (concrete version->version edges), and the
    frontier BFS from plans/graph — one operator feeding the next as
    DataFrames. Seeds: every version of the first 10 packages. Hard
    oracle: the resolution SQL replica wrapped in a recursive CTE."""
    from npm_extraction_server_spark.operators.semver_join import (
        dependency_edges,
        resolve_ranges,
        version_rows,
    )
    from npm_extraction_server_spark.plans.graph import bfs_distances
    from npm_extraction_server_spark.plans.kg import extract_docs, repartition_pages

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    docs = extract_docs(repartition_pages(pages))
    resolved = resolve_ranges(dependency_edges(docs), version_rows(docs))
    dep_edges = (
        resolved.filter(F.col("resolved_version").isNotNull())
        .select(F.concat_ws("@", "src_bundle", "src_version").alias("src"),
                F.concat_ws("@", "dep_pkg", "resolved_version").alias("dst")))
    from npm_extraction_server_spark.sources.synth import synth_package

    seed_pkgs = [synth_package(i)["name"] for i in range(10)]
    versions = version_rows(docs)
    seeds = (versions.filter(F.col("pkg").isin(seed_pkgs))
             .select(F.concat_ws("@", "pkg", "version").alias("node_id")))
    return bfs_distances(seeds, dep_edges)


# --- web link-graph family (extract/links.py) -----------------------------
# The html footer carries 2-5 deterministic outlinks per page with a
# hub-host skew (sources/synth.synth_outlinks); pages with i % 4 == 0
# additionally carry the microdata anchor (synth_microdata). Both are
# pure functions of doc_id, so DuckDB re-derives the exact link set:

_WEB_LINKS_CTE = """
lh AS (
    SELECT doc_id AS i,
           ('0x' || substr(sha256('links:' || doc_id), 1, 16))::UBIGINT AS hl
    FROM documents WHERE doc_id < {hi}
),
slots AS (
    SELECT i, v AS j FROM lh,
    unnest(generate_series(0, (2 + hl % 4)::INT - 1)) AS t(v)
),
nav AS (
    SELECT i,
           (CASE WHEN t % 10 < 6 THEN 'hub' || (t % 3)
                 ELSE 'site' || ((t >> 4) % 40) END) || '.example.org' AS dst_host,
           (t % 1000) AS pid,
           (t % 7 = 0) AS messy,
           (t % 10) AS frag,
           t AS w
    FROM (SELECT i,
                 ('0x' || substr(sha256('lnk:' || (i*100 + j)), 1, 16))::UBIGINT AS t
          FROM slots)
),
links AS (
    SELECT 'http://crawl.example.org/' || (i % 100) || '/doc-' || i AS url,
           CASE WHEN messy
                THEN 'HTTP://' || upper(dst_host) || ':80/p/' || pid
                     || '#f' || frag
                ELSE 'http://' || dst_host || '/p/' || pid END AS dst_url,
           'http://' || dst_host || '/p/' || pid AS canon_url,
           dst_host,
           {words}[((w >> 8) % {nwords})::INT + 1] AS anchor
    FROM nav
    UNION ALL
    SELECT 'http://crawl.example.org/' || (i % 100) || '/doc-' || i,
           'http://people.example.org/' || pid,
           'http://people.example.org/' || pid,
           'people.example.org',
           'home'
    FROM (SELECT doc_id AS i,
                 ('0x' || substr(sha256('md:' || doc_id), 1, 16))::UBIGINT
                 % 1000 AS pid
          FROM documents WHERE doc_id < {hi} AND doc_id % 4 = 0)
)
"""

_WEB_HI = 300  # pages 0..299 exist at every sf (documents has >= 500 rows)


def _web_links_sql() -> str:
    """The links CTE with its literals bound: page bound, and the
    anchor-word vocabulary embedded as a DuckDB list literal (same
    order as sources/synth._WORDS)."""
    from npm_extraction_server_spark.sources.synth import _WORDS

    words = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    return _WEB_LINKS_CTE.format(hi=_WEB_HI, words=words, nwords=len(_WORDS))


_WEB_LINKS_SQL = _web_links_sql()


_WEB_COCITATION_CTE = _WEB_LINKS_SQL + """,
hosts AS (SELECT DISTINCT url, dst_host FROM links),
co AS (
    SELECT a.dst_host AS host_a, b.dst_host AS host_b,
           count(*)::BIGINT AS weight
    FROM hosts a JOIN hosts b
      ON a.url = b.url AND a.dst_host < b.dst_host
    GROUP BY 1, 2
)
"""


def _web_pagerank_oracle() -> str:
    """plans/graph.pagerank(normalized=False, iterations=5) unrolled over the
    symmetrized host co-citation graph: init rank 1.0, teleport
    round(1-0.85, 12) = 0.15 — no |V| literal needed, so the oracle
    holds for any data-dependent host count. Same 12-decimal
    contribution grid + exact decimal(28,12) inflow sum as
    operators/suite._pagerank_sql; the symmetric graph has no
    dangling nodes by construction."""
    sql = ("WITH " + _WEB_COCITATION_CTE + """,
    e0 AS (SELECT host_a AS src, host_b AS dst FROM co
           UNION ALL SELECT host_b, host_a FROM co),
    deg AS (SELECT src, count(*) AS out_deg FROM e0 GROUP BY src),
    adj AS (SELECT e0.src, e0.dst, deg.out_deg FROM e0 JOIN deg USING (src)),
    nodes AS (SELECT src AS node_id FROM e0 UNION SELECT dst FROM e0),
    r0 AS (SELECT node_id, 1.0::DOUBLE AS rank FROM nodes)""")
    for k in range(1, 6):
        sql += f""",
    r{k} AS (
        SELECT n.node_id,
               round(0.15 + 0.85 * coalesce(s.inflow, 0.0), 12) AS rank
        FROM nodes n LEFT JOIN (
            SELECT a.dst,
                   cast(sum(cast(round(r.rank / a.out_deg, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS inflow
            FROM adj a JOIN r{k - 1} r ON r.node_id = a.src
            GROUP BY a.dst) s ON s.dst = n.node_id)"""
    sql += f"""
    SELECT node_id AS host, round(rank, 8) AS rank FROM r5"""
    return sql


def _web_trustrank_oracle() -> str:
    """plans/graph.spam_mass unrolled (5 iterations): the
    normalized=False pagerank chain (init 1, teleport 0.15) AND the
    personalized chain (init = teleport vector, update
    round((1.0-0.85)*t + 0.85*inflow, 12)) over the same adjacency,
    then exact decimal normalizing sums and
    the identical IEEE share quotient — both taken over the 8-dp
    OUTPUT grid (pagerank rounds its published ranks to 8 decimals;
    the 12-dp grid is internal). (1-d) is repr-injected from
    the SAME Python subtraction the Spark side performs (one ulp off
    the 0.15 literal, which DuckDB would otherwise parse as exact
    DECIMAL)."""
    omd = repr(1.0 - 0.85)
    sql = ("WITH " + _WEB_COCITATION_CTE + """,
    e0 AS (SELECT host_a AS src, host_b AS dst FROM co
           UNION ALL SELECT host_b, host_a FROM co),
    deg AS (SELECT src, count(*) AS out_deg FROM e0 GROUP BY src),
    adj AS (SELECT e0.src, e0.dst, deg.out_deg
            FROM e0 JOIN deg USING (src)),
    nodes AS (SELECT src AS node_id FROM e0 UNION SELECT dst FROM e0),
    base AS (
        SELECT node_id,
               CASE WHEN node_id LIKE 'hub%'
                    THEN round(1.0 / (SELECT count(*) FROM nodes
                                      WHERE node_id LIKE 'hub%'), 12)
                    ELSE 0.0 END AS t
        FROM nodes),
    p0 AS (SELECT node_id, 1.0::DOUBLE AS rank FROM nodes),
    t0 AS (SELECT node_id, t AS rank FROM base)""")
    for k in range(1, 6):
        sql += f""",
    p{k} AS (
        SELECT n.node_id,
               round(0.15 + 0.85 * coalesce(s.inflow, 0.0), 12) AS rank
        FROM nodes n LEFT JOIN (
            SELECT a.dst,
                   cast(sum(cast(round(r.rank / a.out_deg, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS inflow
            FROM adj a JOIN p{k - 1} r ON r.node_id = a.src
            GROUP BY a.dst) s ON s.dst = n.node_id),
    t{k} AS (
        SELECT b.node_id,
               round({omd} * b.t
                     + 0.85 * coalesce(s.inflow, 0.0), 12) AS rank
        FROM base b LEFT JOIN (
            SELECT a.dst,
                   cast(sum(cast(round(r.rank / a.out_deg, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS inflow
            FROM adj a JOIN t{k - 1} r ON r.node_id = a.src
            GROUP BY a.dst) s ON s.dst = b.node_id)"""
    sql += f""",
    p8 AS (SELECT node_id, round(rank, 8) AS rank FROM p5),
    t8 AS (SELECT node_id, round(rank, 8) AS rank FROM t5),
    sp AS (SELECT cast(sum(cast(rank AS DECIMAL(38,12))) AS DOUBLE)
               AS spr FROM p8),
    st AS (SELECT cast(sum(cast(rank AS DECIMAL(38,12))) AS DOUBLE)
               AS strn FROM t8)
    SELECT p.node_id AS host, p.rank AS pr, t.rank AS tr,
           round(1.0 - (t.rank / st.strn) / (p.rank / sp.spr), 8)
               AS spam_mass
    FROM p8 p JOIN t8 t USING (node_id), sp, st"""
    return sql


@query(_web_trustrank_oracle())
def web_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank + relative spam mass over the symmetrized host
    co-citation graph (plans/graph.spam_mass): trust teleports to the
    'hub*' seed hosts via personalized PageRank; spam mass is the
    PageRank share not explained by trusted flow. Hard oracle: both
    power iterations unrolled on the 12-dp grid, the normalizing sums
    as exact DECIMAL(38,12) aggregates, the share quotient the same
    IEEE op sequence — bit-identical."""
    from npm_extraction_server_spark.extract.links import cocitation
    from npm_extraction_server_spark.plans.graph import spam_mass

    co = cocitation(_web_links_df(spark, sf_dir))
    edges = (co.select(F.col("host_a").alias("src"),
                       F.col("host_b").alias("dst"))
             .unionByName(co.select(F.col("host_b").alias("src"),
                                    F.col("host_a").alias("dst"))))
    seeds = (edges.select(F.col("src").alias("node_id")).distinct()
             .filter(F.col("node_id").startswith("hub")))
    return (spam_mass(edges, seeds, iterations=5)
            .select(F.col("node_id").alias("host"), "pr", "tr",
                    "spam_mass"))


@query("""
    WITH RECURSIVE r AS (
        SELECT 'http://r.example.org/u/' || doc_id AS src,
               'http://r.example.org/u/' ||
               (CASE WHEN doc_id >= 490
                     THEN 490 + ((doc_id - 490 + 1) % 10)
                     ELSE doc_id - 1 END) AS dst
        FROM documents
        WHERE doc_id < 500 AND (doc_id >= 490 OR doc_id % 8 <> 0)
    ),
    walk(src, cur, hops) AS (
        SELECT src, dst, 1 FROM r
        UNION ALL
        SELECT w.src, r.dst, w.hops + 1
        FROM walk w JOIN r ON r.src = w.cur
        WHERE w.hops < 16
    ),
    last AS (
        SELECT src, max_by(cur, hops) AS cur, max(hops) AS hops
        FROM walk GROUP BY src
    )
    SELECT l.src AS src_url,
           CASE WHEN d.src IS NOT NULL OR l.hops > 16
                THEN NULL ELSE l.cur END AS final_url,
           (CASE WHEN d.src IS NOT NULL OR l.hops > 16
                 THEN NULL ELSE l.hops END)::BIGINT AS hops,
           (d.src IS NOT NULL OR l.hops > 16) AS unresolved
    FROM last l
    LEFT JOIN (SELECT DISTINCT src FROM r) d ON d.src = l.cur""")
def web_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (extract/links.resolve_redirects)
    over a deterministic redirect map on doc_ids < 500: ids >= 490
    form a 10-cycle, other non-multiples-of-8 redirect one step down
    (chains up to 7 hops ending at multiples of 8). Pointer doubling
    must report the TRUE hop count for every resolved chain and mark
    the cycle block unresolved. Hard oracle: a recursive CTE walks
    every chain step-by-step (hop cap 16) and classifies terminals
    identically."""
    from npm_extraction_server_spark.extract.links import (
        resolve_redirects,
    )
    from npm_extraction_server_spark.operators.suite import _t

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(d < 500)

    def u(c):
        return F.concat(F.lit("http://r.example.org/u/"),
                        c.cast("long").cast("string"))

    red = (docs.filter((d >= 490) | (d % 8 != 0))
           .select(u(d).alias("src_url"),
                   u(F.when(d >= 490, 490 + ((d - 490 + 1) % 10))
                     .otherwise(d - 1)).alias("dst_url")))
    return resolve_redirects(red, max_hops=16)


def _web_hits_oracle() -> str:
    """plans/graph.hits unrolled (2 iterations): unnormalized HITS is
    pure integer arithmetic (auth_k = in-sum of hub_{k-1}, hub_k =
    out-sum of auth_k, hub_0 = 1), so every score is an exact BIGINT
    path count — bit-equality needs no float protocol at all."""
    sql = ("WITH " + _WEB_LINKS_SQL + """,
    e0 AS (SELECT url AS src, canon_url AS dst FROM links),
    nodes AS (SELECT src AS node_id FROM e0 UNION SELECT dst FROM e0),
    h0 AS (SELECT node_id, 1::BIGINT AS hub FROM nodes)""")
    for k in range(1, 3):
        sql += f""",
    a{k} AS (SELECT e0.dst AS node_id, sum(h.hub)::BIGINT AS auth
             FROM e0 JOIN h{k - 1} h ON h.node_id = e0.src
             GROUP BY e0.dst),
    h{k} AS (SELECT e0.src AS node_id, sum(a.auth)::BIGINT AS hub
             FROM e0 JOIN a{k} a ON a.node_id = e0.dst
             GROUP BY e0.src)"""
    sql += f"""
    SELECT n.node_id,
           coalesce(h.hub, 0)::BIGINT AS hub,
           coalesce(a.auth, 0)::BIGINT AS auth
    FROM nodes n
    LEFT JOIN h2 h ON h.node_id = n.node_id
    LEFT JOIN a2 a ON a.node_id = n.node_id"""
    return sql


def _web_salsa_oracle() -> str:
    """plans/graph.salsa unrolled (2 iterations): contributions
    round(x/deg, 12), summed as DECIMAL(28,12), re-rounded to the 12-dp
    grid per half-round (the pagerank protocol), output at 8 dp."""
    sql = ("WITH " + _WEB_LINKS_SQL + """,
    e0 AS (SELECT DISTINCT url AS src, canon_url AS dst FROM links),
    od AS (SELECT src, count(*) AS od FROM e0 GROUP BY src),
    idg AS (SELECT dst, count(*) AS idg FROM e0 GROUP BY dst),
    ed AS (SELECT e0.src, e0.dst, od.od, idg.idg
           FROM e0 JOIN od ON od.src = e0.src
                   JOIN idg ON idg.dst = e0.dst),
    nodes AS (SELECT src AS node_id FROM e0 UNION SELECT dst FROM e0),
    a0 AS (SELECT dst AS node_id, 1.0::DOUBLE AS auth FROM idg)""")
    for k in range(1, 3):
        sql += f""",
    h{k} AS (
        SELECT ed.src AS node_id,
               round(cast(sum(cast(round(a.auth / ed.idg, 12)
                              AS DECIMAL(28,12))) AS DOUBLE), 12) AS hub
        FROM ed JOIN a{k - 1} a ON a.node_id = ed.dst
        GROUP BY ed.src),
    a{k} AS (
        SELECT ed.dst AS node_id,
               round(cast(sum(cast(round(h.hub / ed.od, 12)
                              AS DECIMAL(28,12))) AS DOUBLE), 12) AS auth
        FROM ed JOIN h{k} h ON h.node_id = ed.src
        GROUP BY ed.dst)"""
    sql += f"""
    SELECT n.node_id,
           round(coalesce(h.hub, 0.0), 8) AS hub,
           round(coalesce(a.auth, 0.0), 8) AS auth
    FROM nodes n
    LEFT JOIN h2 h ON h.node_id = n.node_id
    LEFT JOIN a2 a ON a.node_id = n.node_id"""
    return sql


def _web_links_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from npm_extraction_server_spark.extract.links import outlinks

    return outlinks(_pages_from_documents(spark, sf_dir, limit=_WEB_HI))


@query("WITH " + _WEB_LINKS_SQL
                        + "SELECT url, dst_url, dst_host FROM links")
def web_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-anchor outlink extraction from raw html — pure JVM regex
    (regexp_extract_all + explode; the html column never reaches a
    Python worker). Hard oracle: the sha256-replica link derivation
    (_WEB_LINKS_CTE)."""
    return _web_links_df(spark, sf_dir).select("url", "dst_url", "dst_host")


# An INDEPENDENT DuckDB implementation of the normalization spec (not a
# generator re-derivation): lowercase scheme+host, strip the scheme's
# default port, drop the fragment, keep path+query bytes.
@query("WITH " + _WEB_LINKS_SQL + """
, raw AS (SELECT DISTINCT dst_url FROM links),
parts AS (
    SELECT dst_url,
           lower(regexp_extract(dst_url, '(?i)^(https?)://', 1)) AS scheme,
           lower(regexp_extract(dst_url, '(?i)^https?://([^/#?]+)', 1)) AS host,
           regexp_extract(dst_url, '(?i)^https?://[^/#?]+([^#]*)', 1) AS rest
    FROM raw
)
SELECT dst_url,
       scheme || '://' ||
       CASE WHEN scheme = 'http' AND host LIKE '%:80'
                 THEN substr(host, 1, length(host) - 3)
            WHEN scheme = 'https' AND host LIKE '%:443'
                 THEN substr(host, 1, length(host) - 4)
            ELSE host END || rest AS canonical_url
FROM parts""")
def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over the distinct extracted hrefs — the
    messy forms (uppercase scheme/host, explicit :80, fragments) fold
    onto their canonical twins in one codegen projection. Hard oracle:
    an independent DuckDB implementation of the same normalization
    spec (not a generator re-derivation)."""
    from npm_extraction_server_spark.extract.links import normalize_url

    return (_web_links_df(spark, sf_dir)
            .select("dst_url").distinct()
            .withColumn("canonical_url", normalize_url("dst_url")))


# the boilerplate remover must return the article prose byte-identical
# with exactly one surviving content block — the north text invariant
@query(f"""
SELECT 'http://crawl.example.org/' || (doc_id % 100) || '/doc-' || doc_id
           AS url,
       text AS main_text,
       1::INT AS n_content_blocks
FROM documents WHERE doc_id < {_WEB_HI}
""")
def web_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal over the raw pages (extract/content.py):
    text-density block classification must recover EXACTLY the
    <article> prose — scripts stripped, the nav footer rejected at
    link-density 1.0, the microdata stub rejected below the length
    floor — so the oracle is the byte-identity check main_text ==
    documents.text with exactly ONE surviving content block per page
    (the north-rule text invariant THROUGH a real content extractor).
    Whole-stage codegen: the html bytes never enter a Python worker
    (plan-asserted in tests/test_webgraph.py)."""
    from npm_extraction_server_spark.extract.content import (
        extract_main_content,
    )

    pages = _pages_from_documents(spark, sf_dir, limit=_WEB_HI)
    return extract_main_content(pages).select(
        "url", "main_text", "n_content_blocks")


# sitemap frontier: root urlsets' entries + index roots' children's
# entries; every field a sha256 function of the sitemap URL (exact
# replica of extract/crawl.synth_sitemaps)
@query("WITH " + _WEB_LINKS_SQL + """
, hosts AS (SELECT DISTINCT dst_host AS host FROM links),
hi AS (
    SELECT host,
           ('0x' || substr(sha256('si:' || host), 1, 15))::UBIGINT % 4 = 0
               AS is_idx
    FROM hosts
),
smaps AS (
    SELECT host, 'http://' || host || '/sitemap.xml' AS su
    FROM hi WHERE NOT is_idx
    UNION ALL
    SELECT host, 'http://' || host || '/sitemap-' || c || '.xml'
    FROM hi, unnest([0, 1]) AS t(c) WHERE is_idx
),
entries AS (
    SELECT host, su,
           (3 + ('0x' || substr(sha256('sn:' || su), 1, 15))::UBIGINT % 4)
               ::INT AS n
    FROM smaps
)
SELECT host,
       'http://' || host || '/s/' ||
           (('0x' || substr(sha256('loc:' || su || '#' || j), 1, 15))
            ::UBIGINT % 1000) AS loc,
       '2024-01-' || lpad((1 + ('0x' || substr(sha256('lm:' || su || '#' || j), 1, 15))
                           ::UBIGINT % 28)::VARCHAR, 2, '0') AS lastmod,
       '0.' || (('0x' || substr(sha256('pr:' || su || '#' || j), 1, 15))
                ::UBIGINT % 10) AS priority
FROM entries, unnest(generate_series(1, n)) AS t(j)
""")
def web_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery over the link graph's host set
    (extract/crawl.py): synthesize each host's sitemap XML (1/4 are
    sitemap INDEXES referencing two child files), parse with JVM
    regex, and expand root -> children -> URL frontier through the
    fetch-join. Hard oracle: the frontier (loc/lastmod/priority) is a
    pure sha256 function of the sitemap URLs, re-derived in DuckDB."""
    from npm_extraction_server_spark.extract.crawl import (
        sitemap_frontier,
        synth_sitemaps,
    )

    hosts = (_web_links_df(spark, sf_dir)
             .select(F.col("dst_host").alias("host")).distinct())
    return sitemap_frontier(synth_sitemaps(hosts))


@query("WITH " + _WEB_LINKS_SQL + """
SELECT dst_host, count(*)::BIGINT AS n_links,
       count(DISTINCT url)::BIGINT AS n_pages
FROM links GROUP BY dst_host""")
def web_host_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level in-degree over extracted links: anchor count +
    distinct citing pages per destination host. The hub hosts absorb
    ~60% of all links (deliberate power-law head) — map-side partial
    aggregation collapses the skew before the shuffle."""
    from npm_extraction_server_spark.extract.links import host_degree

    return host_degree(_web_links_df(spark, sf_dir))


@query("WITH " + _WEB_COCITATION_CTE
                          + "SELECT host_a, host_b, weight FROM co")
def web_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host co-citation projection: hosts a < b weighted by the number
    of pages citing both. Implemented with a per-page collect_set +
    JVM array pair-expansion (no self-join, no Python): the k*(k-1)/2
    blowup happens AFTER the per-page aggregate, bounded by
    links-per-page."""
    from npm_extraction_server_spark.extract.links import cocitation

    return cocitation(_web_links_df(spark, sf_dir))


@query("WITH " + _WEB_LINKS_SQL + """
SELECT canon_url AS target,
       string_agg(DISTINCT anchor, ',' ORDER BY anchor) AS anchor_terms,
       count(*)::BIGINT AS n_anchors
FROM links GROUP BY canon_url""")
def web_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation: for every canonical target URL, the
    distinct link texts the web uses to refer to it (classic web
    search's strongest relevance signal) plus the raw anchor count.
    (href, text) pairs come out of the html via the two-stage JVM
    regex in extract/links.anchor_texts."""
    from npm_extraction_server_spark.extract.links import (
        anchor_texts,
        normalize_url,
    )

    at = anchor_texts(_pages_from_documents(spark, sf_dir, limit=_WEB_HI))
    return (at.select(normalize_url("dst_url").alias("target"), "anchor")
            .groupBy("target")
            .agg(F.array_join(F.array_sort(F.collect_set("anchor")), ",")
                 .alias("anchor_terms"),
                 F.count("*").alias("n_anchors")))


@query("WITH " + _WEB_LINKS_SQL + """
, pat AS (
    SELECT regexp_extract(canon_url, '^https?://([^/]+)', 1) AS host,
           regexp_replace(
               regexp_extract(canon_url, '^https?://[^/]+(/.*)?$', 1),
               '[0-9]+', '{N}', 'g') AS path_template,
           canon_url
    FROM links)
SELECT host, path_template, count(*)::BIGINT AS n_links,
       count(DISTINCT canon_url)::BIGINT AS n_urls,
       min(canon_url) AS example_url
FROM pat GROUP BY 1, 2""")
def web_url_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template mining over the canonicalized link corpus: path
    digit-runs collapse to '{N}' and the (host, template) rollup
    counts links, distinct URLs, and the smallest example — the
    crawl-ops primitive behind frontier dedup, pagination detection,
    and per-site URL-space budgeting. One codegen projection + one
    grouped aggregate (map-side combined); the skewed hub hosts
    collapse before the shuffle. Hard oracle: the identical
    regex algebra over the sha256 link replica."""
    from npm_extraction_server_spark.extract.links import normalize_url

    links = _web_links_df(spark, sf_dir)
    cu = normalize_url("dst_url")
    host = F.regexp_extract("cu", "^https?://([^/]+)", 1)
    path = F.regexp_extract("cu", "^https?://[^/]+(/.*)?$", 1)
    tmpl = F.regexp_replace(path, "[0-9]+", "{N}")
    return (links.select(cu.alias("cu"))
            .select(host.alias("host"), tmpl.alias("path_template"), "cu")
            .groupBy("host", "path_template")
            .agg(F.count("*").alias("n_links"),
                 F.countDistinct("cu").alias("n_urls"),
                 F.min("cu").alias("example_url")))


@query("WITH " + _WEB_LINKS_SQL + """
, front AS (SELECT DISTINCT canon_url, dst_host FROM links),
rules AS (
    SELECT dst_host,
           ('0x' || substr(sha256('rb:' || dst_host), 1, 15))::UBIGINT % 10
               AS d,
           (1 + ('0x' || substr(sha256('cd:' || dst_host), 1, 15))::UBIGINT % 3)
               AS delay
    FROM (SELECT DISTINCT dst_host FROM front)
),
allowed AS (
    SELECT f.canon_url, f.dst_host, r.delay
    FROM front f JOIN rules r USING (dst_host)
    WHERE regexp_extract(f.canon_url, '^https?://[^/#?]+([^#?]*)', 1)
          NOT LIKE '/p/' || r.d || '%'
)
SELECT canon_url, dst_host,
       ((row_number() OVER (PARTITION BY dst_host ORDER BY canon_url) - 1)
        // 2)::INT AS round,
       delay::INT AS crawl_delay_s,
       (((row_number() OVER (PARTITION BY dst_host ORDER BY canon_url) - 1)
        // 2) * delay)::INT AS fetch_offset_s
FROM allowed""")
def web_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness pipeline: distinct outlink targets ->
    per-host robots.txt bytes synthesized + PARSED (regexp over the
    fetched file, JVM-side) -> disallowed path-prefixes filtered out
    (broadcast anti-join) -> remaining URLs cut into per-host fetch
    rounds of 2 spaced by the host's Crawl-delay. Hard oracle: DuckDB
    re-derives the rule set from the same sha256 host digests and
    replays the window arithmetic."""
    from npm_extraction_server_spark.extract.crawl import (
        fetch_rounds,
        parse_robots,
        robots_filter,
        synth_robots,
    )
    from npm_extraction_server_spark.extract.links import normalize_url

    links = _web_links_df(spark, sf_dir)
    frontier = links.select(normalize_url("dst_url").alias("canon_url"),
                            "dst_host").distinct()
    hosts = frontier.select(F.col("dst_host").alias("host")).distinct()
    rules = parse_robots(synth_robots(hosts))
    allowed = robots_filter(frontier, rules)
    return fetch_rounds(allowed, rules, per_round=2)


@query(_web_hits_oracle())
def web_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the bipartite page -> canonical-URL link graph: pages
    are hubs, linked URLs authorities. Unnormalized (plans/graph.hits),
    so after 2 rounds every score is an exact BIGINT path count — the
    hard oracle needs no float protocol. Messy href twins fold onto
    one authority via normalize_url before the iteration."""
    from npm_extraction_server_spark.extract.links import normalize_url
    from npm_extraction_server_spark.plans.graph import hits

    links = _web_links_df(spark, sf_dir)
    edges = links.select(
        F.col("url").alias("src"),
        normalize_url("dst_url").alias("dst"))
    return hits(edges, iterations=2)


@query(_web_salsa_oracle())
def web_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA over the bipartite page -> canonical-URL link graph —
    the degree-normalized (TKC-immune) counterpart ranked next to
    web_hits: same support graph, stationary-walk semantics instead
    of mutual reinforcement. Hard oracle: the degree-normalized
    half-rounds unrolled on the pagerank decimal grid, bit-exact."""
    from npm_extraction_server_spark.extract.links import normalize_url
    from npm_extraction_server_spark.plans.graph import salsa

    links = _web_links_df(spark, sf_dir)
    edges = links.select(
        F.col("url").alias("src"),
        normalize_url("dst_url").alias("dst"))
    return salsa(edges, iterations=2)


@query(_web_pagerank_oracle())
def web_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized host co-citation graph
    (normalized=False: init 1, teleport 0.15 — constants free of |V|,
    which is data-dependent here). Hard oracle: the unrolled power
    iteration on the same decimal grid, bit-exact."""
    from npm_extraction_server_spark.extract.links import cocitation
    from npm_extraction_server_spark.plans.graph import pagerank

    co = cocitation(_web_links_df(spark, sf_dir))
    edges = (co.select(F.col("host_a").alias("src"), F.col("host_b").alias("dst"))
             .unionByName(co.select(F.col("host_b").alias("src"),
                                    F.col("host_a").alias("dst"))))
    ranks = pagerank(edges, iterations=5, normalized=False)
    return ranks.select(F.col("node_id").alias("host"), "rank")


# --- WARC / WET / WAT container formats (sources/warc.py) -----------------
# The Common-Crawl distribution formats over the pages table. Each
# query is a WRITE -> READ round trip through real record framing
# (CRLF headers, Content-Length payloads, per-record gzip members), so
# the oracle checks the container codec end-to-end: any corrupted
# byte, header, or timestamp breaks the hash.

_WARC_PAGES_CTE = f"""
p AS (
    SELECT 'http://crawl.example.org/' || (doc_id % 100) || '/doc-' || doc_id
               AS url,
           TIMESTAMP '2017-06-01 00:00:00' + to_seconds(doc_id) AS warc_ts,
           text
    FROM documents WHERE doc_id < {_WEB_HI}
)
"""


@query("WITH " + _WARC_PAGES_CTE + """
SELECT url, warc_ts, true AS payload_ok, 200::INT AS http_status FROM p""")
def warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages -> WARC response records (per-record gzip members, HTTP
    payload wrapping) -> read back. payload_ok proves the html bytes
    survived both framings; url/warc_ts come from the parsed WARC
    headers (not the source table), so the oracle checks header
    serialization too."""
    from npm_extraction_server_spark.operators.suite import _scratch
    from npm_extraction_server_spark.sources import warc as W

    pages = _pages_from_documents(spark, sf_dir, limit=_WEB_HI)
    d = _scratch("warcq_")
    W.write_warc(pages.select("url", "warc_ts", "html"), d,
                 kind="response", compress=True)
    back = W.read_warc(spark, d)
    j = back.join(pages.select("url", F.col("html").alias("want")), on="url")
    return j.select(
        "url",
        F.col("warc_date").alias("warc_ts"),
        (F.col("payload") == F.col("want")).alias("payload_ok"),
        "http_status")


@query("WITH " + _WARC_PAGES_CTE + """
SELECT url, warc_ts, text FROM p""")
def warc_wet_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages -> WET conversion records -> read back. The returned text
    is decoded from the WET payload bytes and oracle-compared against
    documents.text directly — the north rule's byte-identical-text
    invariant proven through a file-format round trip."""
    from npm_extraction_server_spark.operators.suite import _scratch
    from npm_extraction_server_spark.sources import warc as W

    pages = _pages_from_documents(spark, sf_dir, limit=_WEB_HI)
    d = _scratch("wetq_")
    W.write_warc(W.wet_from_pages(pages), d, kind="conversion")
    wet = W.read_warc(spark, d, record_types=("conversion",))
    return wet.select(
        "url",
        F.col("warc_date").alias("warc_ts"),
        F.decode("payload", "UTF-8").alias("text"))


# CDX slice: SURT urlkey + sha256(text) re-derived from the
# deterministic corpus (url = http://crawl.example.org/{i%100}/doc-{i}
# -> org,example,crawl)/{i%100}/doc-{i}; WET payload == text bytes).
@query("WITH " + _WARC_PAGES_CTE + """
SELECT 'org,example,crawl)/' || (doc_id % 100) || '/doc-' || doc_id
           AS urlkey,
       TIMESTAMP '2017-06-01 00:00:00' + to_seconds(doc_id) AS warc_ts,
       sha256(text) AS digest
FROM documents WHERE doc_id < 300""")
def warc_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages -> WET warc -> CDX index (SURT urlkey + per-record gzip
    member spans + payload sha256). The driver-compared slice is
    (urlkey, warc_ts, digest) — all re-derivable in DuckDB from
    documents (sha256 of the text, SURT from the deterministic url);
    the offset/length spans are pinned by the slice-fetch pytest
    (tests/test_warc.py)."""
    from npm_extraction_server_spark.operators.suite import _scratch
    from npm_extraction_server_spark.sources import warc as W

    pages = _pages_from_documents(spark, sf_dir, limit=_WEB_HI)
    d = _scratch("cdxq_")
    W.write_warc(W.wet_from_pages(pages), d, kind="conversion")
    return W.build_cdx(spark, d).select("urlkey", "warc_ts", "digest")


@query("""
    WITH caps AS (
        SELECT 'org,example,crawl)/' || (doc_id % 100) || '/doc-' || doc_id
                   AS urlkey,
               TIMESTAMP '2017-06-01 00:00:00' + to_seconds(doc_id)
                   + CASE WHEN cap = 1 THEN INTERVAL 1 DAY
                          ELSE INTERVAL 0 DAY END AS warc_ts,
               doc_id
        FROM documents, unnest([0, 1]) AS t(cap)
        WHERE doc_id < 300 AND (cap = 0 OR doc_id < 100))
    SELECT urlkey, warc_ts,
           CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS kind,
           CASE WHEN rn > 1 THEN f END AS ref_ts
    FROM (
        SELECT urlkey, warc_ts,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY warc_ts) AS rn,
               first_value(warc_ts) OVER (PARTITION BY doc_id
                                          ORDER BY warc_ts) AS f
        FROM caps)
""")
def warc_revisits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX revisit consolidation (sources/warc.consolidate_revisits):
    the crawl re-captures pages doc_id<100 one day later with
    byte-identical text, so their CDX digests collide — the
    consolidation must keep the day-0 capture as the canonical
    'response' and demote every re-capture to a 'revisit' referencing
    the original timestamp (the Common-Crawl storage-dedup rule).
    Hard oracle: both captures and the window rule re-derived from
    doc_id arithmetic."""
    from npm_extraction_server_spark.operators.suite import _scratch
    from npm_extraction_server_spark.sources import warc as W

    pages = _pages_from_documents(spark, sf_dir, limit=_WEB_HI)
    recap = (pages
             .filter(F.col("url").rlike("/doc-\\d{1,2}$"))
             .withColumn("warc_ts",
                         F.col("warc_ts") + F.expr("INTERVAL 1 DAY")))
    d = _scratch("revq_")
    W.write_warc(W.wet_from_pages(pages.unionByName(recap)), d,
                 kind="conversion")
    return (W.consolidate_revisits(W.build_cdx(spark, d))
            .select("urlkey", "warc_ts", "kind", "ref_ts"))


@query("WITH " + _WEB_LINKS_SQL + """
, ta AS (SELECT canon_url AS target, anchor FROM links),
tf AS (SELECT target, anchor, count(*) AS tf FROM ta GROUP BY 1, 2),
df AS (SELECT anchor, count(DISTINCT target) AS df FROM ta GROUP BY 1),
n AS (SELECT count(DISTINCT target) AS n FROM ta)
SELECT target, anchor, tf, df,
       tf * round(ln(n.n::DOUBLE / df.df), 8) AS score
FROM tf JOIN df USING (anchor), n
ORDER BY score DESC, target, anchor
LIMIT 100""")
def web_anchor_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text relevance index: tf-idf of anchor terms per
    canonical target URL — tf = anchors carrying the term to the
    target, idf = round(ln(N/df), 8) over distinct targets — classic
    web search's strongest off-page signal, top-100 page as
    TakeOrderedAndProject. Hard oracle: the sha256 link replica
    carries every anchor term, so tf/df/N re-derive exactly."""
    from npm_extraction_server_spark.extract.links import (
        anchor_texts,
        normalize_url,
    )

    at = anchor_texts(_pages_from_documents(spark, sf_dir, limit=_WEB_HI))
    ta = at.select(normalize_url("dst_url").alias("target"), "anchor")
    tf = ta.groupBy("target", "anchor").agg(F.count("*").alias("tf"))
    df_ = ta.groupBy("anchor").agg(
        F.countDistinct("target").alias("df"))
    n = ta.agg(F.countDistinct("target").alias("n"))
    idf = F.round(F.log(F.col("n").cast("double") / F.col("df")), 8)
    scored = (tf.join(F.broadcast(df_), "anchor")
              .crossJoin(F.broadcast(n))
              .select("target", "anchor", "tf", "df",
                      (F.col("tf") * idf).alias("score")))
    return scored.orderBy(F.desc("score"), "target", "anchor").limit(100)


@query("WITH " + _WEB_LINKS_SQL
                             + "SELECT url, dst_url FROM links")
def warc_wat_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages -> WAT metadata records (JSON envelope with the outlink
    list, built in-plan via to_json) -> read back -> from_json +
    explode. Ends at the same (url, dst_url) rows as direct html
    extraction, so the link CTE oracle covers the whole WAT codec."""
    from npm_extraction_server_spark.operators.suite import _scratch
    from npm_extraction_server_spark.sources import warc as W

    pages = _pages_from_documents(spark, sf_dir, limit=_WEB_HI)
    d = _scratch("watq_")
    W.write_warc(W.wat_from_pages(pages), d, kind="metadata")
    return W.wat_outlinks(W.read_warc(spark, d, record_types=("metadata",)))


# --- rows-only KG queries -------------------------------------------------

@query(None)
def kg_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from npm_extraction_server_spark.plans.kg import run_pipeline

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    return run_pipeline(pages)["triples"]


@query(None)
def kg_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from npm_extraction_server_spark.plans.kg import run_pipeline

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    return run_pipeline(pages)["lineage"]


@query(None)
def kg_entity_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J7: MinHash-LSH blocking + connected-components canonical ids."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.plans.kg import run_pipeline
    from npm_extraction_server_spark.plans.linking import link_entities

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    triples = run_pipeline(pages)["triples"].localCheckpoint(eager=True)
    return link_entities(triples).select(
        "entity_iri", "kind", "canonical_id").orderBy("entity_iri")


# DuckDB replica of sources/synth.py synth_package(i)'s maintainer facts:
# h = first 8 bytes of sha256("pkg:{i}") big-endian; owner = dev{h%97};
# one doap:maintainer triple on the bundle IRI + one per version module
# IRI (kernel/context.py:202 + kernel/usermap.py:51).
@query("""
WITH base AS (
  SELECT doc_id AS i,
         ('0x' || substr(sha256('pkg:' || doc_id), 1, 16))::UBIGINT AS h
  FROM documents WHERE doc_id < 100
),
pkg AS (
  SELECT i, h,
    CASE WHEN i=0 THEN 'hotpkg' WHEN i=1 THEN 'megalib' WHEN i=2 THEN 'ultrautil'
         WHEN h%11=0 THEN '@org' || (h%7) || '/pkg-' || i
         ELSE 'pkg-' || i END AS name,
    'dev' || (h%97) AS owner,
    (1 + (h%3))::INT AS n_versions
  FROM base
),
vers AS (
  SELECT i, name, owner,
    ((1+(h%2)) || '.' || v || '.' || ((h>>4)%10)) AS ver
  FROM pkg, unnest(generate_series(0, n_versions-1)) AS t(v)
),
mentions AS (
  SELECT owner, 'http://example.org/bundles/npm/' || name AS iri FROM pkg
  UNION ALL
  SELECT owner, 'http://example.org/bundles/npm/' ||
     replace(replace(name,'@','%40'),'/','%2F') || '/' || ver AS iri FROM vers
)
SELECT 'http://example.org/users/npm/' || owner AS user_iri,
       string_agg(DISTINCT iri, ',' ORDER BY iri) AS maintains,
       count(*)::BIGINT AS n_mentions
FROM mentions GROUP BY 1
""")
def kg_user_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SC4/A1: byUser inverted index over the triples table."""
    from npm_extraction_server_spark.plans.kg import run_pipeline
    from npm_extraction_server_spark.plans.warehouse import user_package_index

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    triples = run_pipeline(pages)["triples"]
    return user_package_index(triples)


def _doap_slice(t: DataFrame) -> DataFrame:
    """The oracle-comparable doap:name/doap:revision projection of a
    triples table (skolem genids excluded) — see kg_triples_doap."""
    DOAP = "http://usefulinc.com/ns/doap#"
    return (
        t.filter(F.col("pred").isin(DOAP + "name", DOAP + "revision")
                 & F.col("subj").startswith("http://example.org/bundles/npm/")
                 & ~F.col("subj").contains("/.well-known/"))
        .select("subj", "pred", "obj")
        .dropDuplicates(["subj", "pred", "obj"])
    )


# Three triple families in the slice: each module version's
# name+revision, each bundle's name, and each (valid-range) dependency
# reference's range-module revision (NpmModule dependency handling
# emits a module IRI at the RAW range, doap:revision = the range
# literal). The CASE arm is JS encodeURIComponent over the 6 valid
# synth ranges. The {lo}/{hi} doc window parameterizes the slice: the
# full-pipeline query uses [0, 100), the changed-since incremental
# query [30, 100) (warc_ts = 2017-06-01 + doc_id seconds).
# BGP star join (?m doap:name ?name)(?m doap:revision ?rev): exactly
# the version modules — bundles carry name only, dependency range
# modules revision only, so the conjunction discriminates.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """
SELECT DISTINCT module_iri AS m,
       '"' || name || '"' AS name,
       '"' || ver || '"' AS rev
FROM vers
""")
def kg_bgp_version_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style BGP star join over the RAW pipeline triples table:
    (?m doap:name ?name)(?m doap:revision ?rev) — two filtered scans
    of the same triples joined on the subject variable. Exactly the
    version modules satisfy both patterns (bundles have no revision,
    dependency range modules no name), so the DuckDB oracle re-derives
    the bindings from doc_id alone (plans/bgp.bgp_join)."""
    from npm_extraction_server_spark.plans.bgp import bgp_join
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_join(t, [("?m", DOAP + "name", "?name"),
                        ("?m", DOAP + "revision", "?rev")],
                    select=["m", "name", "rev"])


# BGP chain (?v npm:dependency ?d)(?d doap:revision ?rng): each
# version's dependency edges joined to the range-module's revision
# literal — per-VERSION (not per-package-distinct like the doap
# slice's deps arm), replicating synth_package's two dependency arms.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
)
SELECT DISTINCT v,
  'http://example.org/bundles/npm/' || dep_pkg || '/' ||
    CASE rng WHEN '^1.0.0' THEN '%5E1.0.0'
             WHEN '>=1.0.0 <2' THEN '%3E%3D1.0.0%20%3C2'
             ELSE rng END AS d,
  '"' || rng || '"' AS rng
FROM alldeps
""")
def kg_bgp_dep_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP 2-pattern chain over the raw triples:
    (?v npm:dependency ?d)(?d doap:revision ?rng) — every version's
    dependency edge joined to the range-module's revision literal, the
    1-hop property path a KG consumer walks to resolve a dependency.
    Hard oracle: synth replica of both dependency arms per version."""
    from npm_extraction_server_spark.plans.bgp import bgp_join
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_join(t, [("?v", NPM + "dependency", "?d"),
                        ("?d", DOAP + "revision", "?rng")],
                    select=["v", "d", "rng"])


# OPTIONAL (?m npm:dependency ?d) over the version-meta star: vers
# LEFT JOIN the per-version dependency replica (same alldeps CTE as
# the dep chain); versions failing both arms keep a NULL d.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
)
SELECT DISTINCT vers.module_iri AS m,
  '"' || vers.ver || '"' AS rev,
  CASE WHEN a.v IS NULL THEN NULL
       ELSE 'http://example.org/bundles/npm/' || a.dep_pkg || '/' ||
         CASE a.rng WHEN '^1.0.0' THEN '%5E1.0.0'
                    WHEN '>=1.0.0 <2' THEN '%3E%3D1.0.0%20%3C2'
                    ELSE a.rng END
  END AS d
FROM vers LEFT JOIN alldeps a ON a.v = vers.module_iri
""")
def kg_bgp_optional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL over the raw triples: the version-meta star
    (?m doap:name ?name)(?m doap:revision ?rev) left-extended with the
    2-pattern group OPTIONAL {(?m npm:dependency ?d)(?d doap:revision
    ?rng)} — valid-semver-range dependencies only (tarball/repo-
    shorthand deps are skolem blank nodes WITHOUT a revision, so the
    inner chain excludes them, replicating the reference's valid_range
    split at NpmModule handling). Versions whose every dep is invalid
    (~7% of the corpus) keep their row with NULL ?d. Hard oracle:
    vers LEFT JOIN the per-version valid-dependency replica."""
    from npm_extraction_server_spark.plans.bgp import bgp_optional
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_optional(
        t,
        [("?m", DOAP + "name", "?name"), ("?m", DOAP + "revision", "?rev")],
        [[("?m", NPM + "dependency", "?d"),
          ("?d", DOAP + "revision", "?rng")]],
        select=["m", "rev", "d"])


_DOAP_ORACLE_TMPL = """
WITH docs AS (
  SELECT doc_id AS i,
         ('0x' || substr(sha256('pkg:' || doc_id), 1, 16))::UBIGINT AS h
  FROM documents WHERE doc_id >= {lo} AND doc_id < {hi}
),
pkg AS (
  SELECT i, h,
    CASE WHEN i=0 THEN 'hotpkg' WHEN i=1 THEN 'megalib' WHEN i=2 THEN 'ultrautil'
         WHEN h%11=0 THEN '@org' || (h%7) || '/pkg-' || i
         ELSE 'pkg-' || i END AS name,
    (1 + (h%3))::INT AS nv
  FROM docs
),
vers AS (
  SELECT i, name,
    'http://example.org/bundles/npm/' ||
      replace(replace(name,'@','%40'),'/','%2F') || '/' ||
      ((1+(h%2)) || '.' || v || '.' || ((h>>4)%10)) AS module_iri,
    ((1+(h%2)) || '.' || v || '.' || ((h>>4)%10)) AS ver,
    ('0x' || substr(sha256('ver:' || (i*1000 + v)), 1, 16))::UBIGINT AS hv
  FROM pkg, unnest(generate_series(0, nv-1)) AS t(v)
),
deps AS (
  SELECT DISTINCT
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng FROM vers WHERE hv%10 < 8
  UNION
  SELECT DISTINCT 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT module_iri AS subj, 'http://usefulinc.com/ns/doap#name' AS pred,
         '"' || name || '"' AS obj
  FROM vers
  UNION ALL
  SELECT module_iri, 'http://usefulinc.com/ns/doap#revision', '"' || ver || '"'
  FROM vers
  UNION ALL
  SELECT 'http://example.org/bundles/npm/' || name,
         'http://usefulinc.com/ns/doap#name', '"' || name || '"'
  FROM pkg
  UNION ALL
  SELECT 'http://example.org/bundles/npm/' || dep_pkg || '/' ||
           CASE rng WHEN '^1.0.0' THEN '%5E1.0.0'
                    WHEN '>=1.0.0 <2' THEN '%3E%3D1.0.0%20%3C2'
                    ELSE rng END,
         'http://usefulinc.com/ns/doap#revision', '"' || rng || '"'
  FROM deps
)
"""


_KG_TRIPLES_DOAP_ORACLE = _DOAP_ORACLE_TMPL.format(lo=0, hi=100)


@query("SELECT DISTINCT subj AS s, obj AS label FROM ("
    + _KG_TRIPLES_DOAP_ORACLE + ")")
def kg_bgp_union_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION + FILTER over the raw triples:
    {(?s doap:name ?label)} UNION {(?s doap:revision ?label)} with
    FILTER(strstarts(?s, bundle prefix) && !contains '/.well-known/')
    — every human-readable label in the KG keyed by subject, the
    union-of-solution-mappings form. Hard oracle: the doap-slice
    derivation reshaped to (s, label)."""
    from npm_extraction_server_spark.plans.bgp import bgp_union
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_union(
        t,
        [[("?s", DOAP + "name", "?label")],
         [("?s", DOAP + "revision", "?label")]],
        select=["s", "label"],
        filters=[F.col("s").startswith("http://example.org/bundles/npm/")
                 & ~F.col("s").contains("/.well-known/")])


# CONSTRUCT from the version-meta star: both template arms re-derived
# from the vers replica (label literal + constant type triple).
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """
SELECT DISTINCT subj, pred, obj FROM (
  SELECT module_iri AS subj,
         'http://www.w3.org/2000/01/rdf-schema#label' AS pred,
         '"' || name || '"' AS obj
  FROM vers
  UNION ALL
  SELECT module_iri,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'http://usefulinc.com/ns/doap#Version'
  FROM vers
)
""")
def kg_bgp_construct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT over the raw triples: from the version-meta
    star, materialize the inference rule "every named+versioned
    module gets an rdfs:label and an explicit type triple" — two
    template triples per binding, the single-rule materialized-
    inference shape rule sets compose from. Hard oracle: both
    template arms re-derived from the vers replica."""
    from npm_extraction_server_spark.plans.bgp import bgp_construct
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_construct(
        t,
        [("?m", DOAP + "name", "?name"), ("?m", DOAP + "revision", "?rev")],
        [("?m", RDFS + "label", "?name"),
         ("?m", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
          DOAP + "Version")])


# GROUP BY ?v over the distinct (v, d, rng) bindings of the dep chain:
# count distinct dep-module IRIs + min range literal per version. The
# alldeps replica is per-version (bag), so DISTINCT first — exactly
# bgp_agg's distinct-bindings contract.
_KG_BGP_DEP_COUNTS_ORACLE = ("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
),
bindings AS (
  SELECT DISTINCT v,
    'http://example.org/bundles/npm/' || dep_pkg || '/' ||
      """ + _RNG_ENC_CASE + """ AS d,
    '"' || rng || '"' AS rng
  FROM alldeps
)
SELECT v, count(DISTINCT d)::BIGINT AS n_deps, min(rng) AS min_rng
FROM bindings GROUP BY v
""")


@query(_KG_BGP_DEP_COUNTS_ORACLE)
def kg_bgp_dep_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP BY over the raw triples: how many (distinct)
    valid-range dependencies does each version declare, and what is
    its lexicographically-first range literal —
    SELECT ?v (COUNT(DISTINCT ?d) AS n_deps) (MIN(?rng) AS min_rng)
    WHERE {(?v npm:dependency ?d)(?d doap:revision ?rng)} GROUP BY ?v.
    Hard oracle: the alldeps synth replica grouped identically (all
    outputs are integers/ASCII strings — no float drift)."""
    from npm_extraction_server_spark.plans.bgp import bgp_agg
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_agg(
        t,
        [("?v", NPM + "dependency", "?d"),
         ("?d", DOAP + "revision", "?rng")],
        group_by=["v"],
        aggs=[("d", "count_distinct", "n_deps"),
              ("rng", "min", "min_rng")])


# MINUS: version modules whose every dependency is invalid — vers
# anti-joined against the dep-chain replica on the shared ?m.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri FROM vers WHERE hv%9 <= 5
)
SELECT DISTINCT module_iri AS m,
       '"' || name || '"' AS name,
       '"' || ver || '"' AS rev
FROM vers WHERE module_iri NOT IN (SELECT v FROM alldeps)
""")
def kg_bgp_minus_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS over the raw triples: the version-meta star MINUS
    the valid-dependency chain — versions declaring NO valid-semver
    dependency (~7% of the corpus; their deps are all tarball/repo-
    shorthand skolem nodes without a revision). The negation query
    that finds the KG's leaves. Hard oracle: vers anti-joined against
    the alldeps replica."""
    from npm_extraction_server_spark.plans.bgp import bgp_minus
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_minus(
        t,
        [("?m", DOAP + "name", "?name"),
         ("?m", DOAP + "revision", "?rev")],
        [[("?m", NPM + "dependency", "?d"),
          ("?d", DOAP + "revision", "?rng")]],
        select=["m", "name", "rev"])


# GRAPH ?g star: each version's (m, rev) plus the named graph it lives
# in = its source page's url (as_quads coalesces NULL graph -> src_url;
# the synthetic url is a pure function of doc_id, vers carries i).
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """
SELECT DISTINCT module_iri AS m,
       '"' || ver || '"' AS rev,
       'http://crawl.example.org/' || (i % 100) || '/doc-' || i AS g
FROM vers
""")
def kg_bgp_quads_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH with a graph VARIABLE over the quad dataset: the
    version-meta star constrained to a single named graph —
    GRAPH ?g { ?m doap:name ?name . ?m doap:revision ?rev } — over
    as_quads(triples) (graph = each triple's source document, the
    per-package-document dataset the reference serves). Binds which
    crawl page each version's metadata came from. Hard oracle: the
    vers replica with g re-derived from doc_id (the synthetic page
    url is a pure function of it)."""
    from npm_extraction_server_spark.plans.bgp import as_quads, bgp_join
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    q = as_quads(run_pipeline(pages)["triples"])
    return bgp_join(q, [("?m", DOAP + "name", "?name", "?g"),
                        ("?m", DOAP + "revision", "?rev", "?g")],
                    select=["m", "rev", "g"])


# GRAPH <const>: doc 0 is the fixed 'hotpkg' package; its graph holds
# the bundle's doap:name plus one per version module (dep-range modules
# carry revision only, so the name pattern excludes them).
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """
SELECT DISTINCT s, name FROM (
  SELECT 'http://example.org/bundles/npm/hotpkg' AS s,
         '"hotpkg"' AS name
  FROM pkg WHERE i = 0
  UNION ALL
  SELECT module_iri, '"' || name || '"' FROM vers WHERE i = 0
)
""")
def kg_bgp_graph_const(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH with a CONSTANT graph IRI: all doap:name bindings
    inside ONE source document's named graph — GRAPH <doc-0's url>
    { ?s doap:name ?name } — the "what did this page contribute"
    provenance query. The constant graph term is an ordinary scan
    filter (partition-prunable on a graph-partitioned layout). Hard
    oracle: doc 0 is the fixed 'hotpkg' package, so the bundle IRI +
    its version-module IRIs are re-derived from doc_id 0 alone."""
    from npm_extraction_server_spark.plans.bgp import as_quads, bgp_join
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    q = as_quads(run_pipeline(pages)["triples"])
    return bgp_join(
        q,
        [("?s", DOAP + "name", "?name", "http://crawl.example.org/0/doc-0")],
        select=["s", "name"],
        filters=[F.col("s").startswith("http://example.org/bundles/npm/")])


# ORDER BY (v, d, rng) LIMIT 25 over the distinct dep-chain bindings —
# full-tuple ordering, so the page is deterministic in both engines.
_KG_BGP_TOPK_DEPS_ORACLE = ("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
),
bindings AS (
  SELECT DISTINCT v,
    'http://example.org/bundles/npm/' || dep_pkg || '/' ||
      """ + _RNG_ENC_CASE + """ AS d,
    '"' || rng || '"' AS rng
  FROM alldeps
)
SELECT v, d, rng FROM bindings ORDER BY v, d, rng LIMIT 25
""")


@query(_KG_BGP_TOPK_DEPS_ORACLE)
def kg_bgp_topk_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL solution modifiers (ORDER BY + LIMIT) as a BGP-layer
    surface: the dependency-chain bindings ordered by the full
    (v, d, rng) tuple, first 25 — a deterministic top-k page. Plans
    as TakeOrderedAndProject (per-partition heap + k-row merge),
    never a global sort (plan-asserted in tests/test_plans.py). Hard
    oracle: the dep-chain replica under the same ORDER BY/LIMIT."""
    from npm_extraction_server_spark.plans.bgp import bgp_join
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_join(t, [("?v", NPM + "dependency", "?d"),
                        ("?d", DOAP + "revision", "?rng")],
                    select=["v", "d", "rng"],
                    order_by=["v", "d", "rng"], limit=25)


# EXISTS dual of the minus oracle: versions WITH a valid dep.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri FROM vers WHERE hv%9 <= 5
)
SELECT DISTINCT module_iri AS m,
       '"' || name || '"' AS name,
       '"' || ver || '"' AS rev
FROM vers WHERE module_iri IN (SELECT v FROM alldeps)
""")
def kg_bgp_exists_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER EXISTS (plans/bgp.bgp_exists): the version-meta
    star kept only where a valid-semver dependency chain EXISTS — the
    positive dual of kg_bgp_minus_deps (their row sets partition the
    version universe; both hard-oracled, so the duality itself is
    cross-checked). One LEFT SEMI join on the shared ?m."""
    from npm_extraction_server_spark.plans.bgp import bgp_exists
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_exists(
        t,
        [("?m", DOAP + "name", "?name"),
         ("?m", DOAP + "revision", "?rev")],
        [[("?m", NPM + "dependency", "?d"),
          ("?d", DOAP + "revision", "?rng")]],
        select=["m", "name", "rev"])


# BIND derivation: bare range + its length from the quoted literal.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
)
SELECT DISTINCT v, rng AS bare, length(rng)::INT AS rng_len
FROM alldeps WHERE length(rng) >= 4
""")
def kg_bgp_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL BIND over the dep-chain bindings: derive the bare range
    string (strip the literal quotes) and its length, then FILTER on
    the derived variable — BIND(expr AS ?var) evaluated before FILTER
    so downstream clauses see it, exactly the SPARQL scoping. Hard
    oracle: identical string derivation in DuckDB."""
    from npm_extraction_server_spark.plans.bgp import bgp_join
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_join(
        t, [("?v", NPM + "dependency", "?d"),
            ("?d", DOAP + "revision", "?rng")],
        bind={"bare": "substring(rng, 2, length(rng) - 2)",
              "rng_len": "length(rng) - 2"},
        filters=["rng_len >= 4"],
        select=["v", "bare", "rng_len"])


# (dependency/revision) | sameAs: dep-chain (v -> range literal) UNION
# bundle -> npmjs identity (encodeURIComponent-escaped name).
_KG_BGP_PATH_OPS_ORACLE = ("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
)
SELECT DISTINCT src, dst FROM (
  SELECT v AS src, '"' || rng || '"' AS dst FROM alldeps
  UNION ALL
  SELECT 'http://example.org/bundles/npm/' || name,
         'https://www.npmjs.com/package/' ||
           replace(replace(name,'@','%40'),'/','%2F')
  FROM pkg
)
""")


@query(_KG_BGP_PATH_OPS_ORACLE)
def kg_bgp_path_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property-path ALGEBRA (plans/bgp.path_edges): the path
    ``(npm:dependency / doap:revision) | owl:sameAs`` — sequence
    composes the dependency hop with the range-literal hop,
    alternative unions in each bundle's npmjs identity edge. One
    Catalyst plan: two pushed predicate scans joined on the midpoint,
    a third unioned in. Hard oracle: the dep-chain replica UNION the
    encodeURIComponent-escaped npmjs sameAs replica."""
    from npm_extraction_server_spark.plans.bgp import path_edges
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    OWL_SAME = "http://www.w3.org/2002/07/owl#sameAs"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    # crawl-derived triples only: the engine DIMENSION (SC8's fixed
    # node/iojs table) also carries sameAs edges, constant and
    # corpus-independent — excluded so the oracle derives every row
    # from doc_id
    t = run_pipeline(pages)["triples"].filter(
        ~F.col("subj").startswith("http://example.org/engines/"))
    return path_edges(
        t, ("alt", ("seq", NPM + "dependency", DOAP + "revision"),
            OWL_SAME))


# dep chain under VALUES ?d { hotpkg@^1.0.0, megalib@^1.0.0 }.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
),
bindings AS (
  SELECT DISTINCT v,
    'http://example.org/bundles/npm/' || dep_pkg || '/' ||
      """ + _RNG_ENC_CASE + """ AS d,
    '"' || rng || '"' AS rng
  FROM alldeps
)
SELECT v, d, rng FROM bindings
WHERE d IN ('http://example.org/bundles/npm/hotpkg/%5E1.0.0',
            'http://example.org/bundles/npm/megalib/%5E1.0.0')
""")
def kg_bgp_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES: the dependency-chain bindings pinned to an
    explicit two-module list — VALUES ?d { <hotpkg@^1.0.0>
    <megalib@^1.0.0> } — the entity-list constraint a KG consumer
    sends with every lookup batch. The inline table broadcasts into
    the binding join. Hard oracle: the dep-chain replica filtered to
    the same two IRIs."""
    from npm_extraction_server_spark.plans.bgp import bgp_join
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    pin = ["http://example.org/bundles/npm/hotpkg/%5E1.0.0",
           "http://example.org/bundles/npm/megalib/%5E1.0.0"]
    return bgp_join(t, [("?v", NPM + "dependency", "?d"),
                        ("?d", DOAP + "revision", "?rng")],
                    select=["v", "d", "rng"],
                    values=(["d"], [(p,) for p in pin]))


# GROUP BY ?v over distinct dep-chain bindings with canonical-order
# GROUP_CONCAT + min-SAMPLE + COUNT.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
),
bindings AS (
  SELECT DISTINCT v,
    'http://example.org/bundles/npm/' || dep_pkg || '/' ||
      """ + _RNG_ENC_CASE + """ AS d,
    '"' || rng || '"' AS rng
  FROM alldeps
)
SELECT v,
       string_agg(rng, ',' ORDER BY rng) AS all_ranges,
       min(d) AS sample_dep,
       count(d)::BIGINT AS n_deps
FROM bindings GROUP BY v
""")
def kg_bgp_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 aggregate completions over the dep-chain bindings,
    GROUP BY ?v: GROUP_CONCAT(?rng) with canonical (sorted) element
    order, SAMPLE(?d) (deterministic = min), COUNT(?d). Hard oracle:
    DuckDB string_agg ORDER BY over the same distinct bindings."""
    from npm_extraction_server_spark.plans.bgp import bgp_agg
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_agg(
        t,
        [("?v", NPM + "dependency", "?d"),
         ("?d", DOAP + "revision", "?rng")],
        group_by=["v"],
        aggs=[("rng", "group_concat", "all_ranges"),
              ("d", "sample", "sample_dep"),
              ("d", "count", "n_deps")])


# Subquery: dep-chain bindings joined to the per-version dependency
# count (the nested aggregate SELECT), kept where n_deps >= 2.
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
),
bindings AS (
  SELECT DISTINCT v,
    'http://example.org/bundles/npm/' || dep_pkg || '/' ||
      """ + _RNG_ENC_CASE + """ AS d,
    '"' || rng || '"' AS rng
  FROM alldeps
),
counts AS (
  SELECT v, count(DISTINCT d)::BIGINT AS n_deps
  FROM bindings GROUP BY v
)
SELECT b.v, b.d, b.rng, c.n_deps
FROM bindings b JOIN counts c USING (v)
WHERE c.n_deps >= 2
""")
def kg_bgp_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 subquery: the dep-chain bindings extended with each
    version's dependency count from a nested aggregate SELECT —
    { SELECT ?v (COUNT(?d) AS ?n_deps) WHERE {...} GROUP BY ?v } —
    and filtered to versions declaring >= 2 dependencies. Bottom-up
    evaluation as one Catalyst plan: the aggregate joins back into
    the outer bindings on ?v (broadcast under AQE — group cardinality
    << binding count). Hard oracle: the dep-chain replica joined to
    its own distinct-count CTE."""
    from npm_extraction_server_spark.plans.bgp import bgp_agg, bgp_join
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    # the inner group repeats the revision pattern so the count runs
    # over range-bearing deps only (bundledDependencies skolems carry
    # npm:dependency but no doap:revision — S10's reified nodes)
    sub = bgp_agg(t, [("?v", NPM + "dependency", "?d"),
                      ("?d", DOAP + "revision", "?rng")],
                  group_by=["v"], aggs=[("d", "count_distinct", "n_deps")])
    return bgp_join(t, [("?v", NPM + "dependency", "?d"),
                        ("?d", DOAP + "revision", "?rng")],
                    subqueries=[sub],
                    filters=["n_deps >= 2"],
                    select=["v", "d", "rng", "n_deps"])


# The doap replica with per-source-graph attribution: version/bundle
# triples belong to their own page's graph; dep-range revisions repeat
# once per citing page (DISTINCT per (quad), not per (triple)).
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """
SELECT DISTINCT subj, pred, obj, g FROM (
  SELECT module_iri AS subj, 'http://usefulinc.com/ns/doap#name' AS pred,
         '"' || name || '"' AS obj,
         'http://crawl.example.org/' || (i % 100) || '/doc-' || i AS g
  FROM vers
  UNION ALL
  SELECT module_iri, 'http://usefulinc.com/ns/doap#revision',
         '"' || ver || '"',
         'http://crawl.example.org/' || (i % 100) || '/doc-' || i
  FROM vers
  UNION ALL
  -- bundle URIs keep scoped names RAW ('@org/x', not %40org%2Fx):
  -- the reference's NpmBundle URI quirk, replicated by kernel/uris.py
  SELECT 'http://example.org/bundles/npm/' || name,
         'http://usefulinc.com/ns/doap#name', '"' || name || '"',
         'http://crawl.example.org/' || (i % 100) || '/doc-' || i
  FROM pkg
  UNION ALL
  SELECT 'http://example.org/bundles/npm/' || dep_pkg || '/' ||
           CASE rng WHEN '^1.0.0' THEN '%5E1.0.0'
                    WHEN '>=1.0.0 <2' THEN '%3E%3D1.0.0%20%3C2'
                    ELSE rng END,
         'http://usefulinc.com/ns/doap#revision', '"' || rng || '"',
         'http://crawl.example.org/' || (i % 100) || '/doc-' || i
  FROM (
    SELECT i, CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
                        ELSE 'ultrautil' END AS dep_pkg,
           '^1.0.0' AS rng
    FROM vers WHERE hv%10 < 8
    UNION ALL
    SELECT i, 'pkg-' || (hv%1000),
           CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2'
                     WHEN 2 THEN '1.x' WHEN 3 THEN '*'
                     WHEN 4 THEN '>=1.0.0 <2' WHEN 5 THEN '1.0.0' END
    FROM vers WHERE hv%9 <= 5
  )
)
""")
def kg_trig_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-graph serialization ROUND TRIP through real TriG text
    (kernel/serialize.to_trig -> kernel/parse.parse_trig), executed
    distributed: each partition's doap-slice quads (graph = source
    page, the as_quads dataset-dump convention) are serialized to a
    TriG document and re-parsed, and the parsed rows must equal the
    input — the warc_roundtrip analog for the RDF text formats, in
    the direction (parsing) the engine previously lacked. Hard
    oracle: the doap replica extended with per-source graph
    attribution (dep-range modules repeat per citing page; version/
    bundle triples are unique to theirs)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from npm_extraction_server_spark.plans.bgp import as_quads
    from npm_extraction_server_spark.plans.kg import run_pipeline

    DOAP = "http://usefulinc.com/ns/doap#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    q = (as_quads(t.filter(
            F.col("pred").isin(DOAP + "name", DOAP + "revision")
            & F.col("subj").startswith("http://example.org/bundles/npm/")
            & ~F.col("subj").contains("/.well-known/"))
         .select("subj", "pred", "obj", "obj_is_literal", "graph",
                 "src_url")))

    schema = T.StructType([
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("g", T.StringType(), False),
    ])

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from npm_extraction_server_spark.kernel.jsonld_rdf import Triple
        from npm_extraction_server_spark.kernel.parse import parse_trig
        from npm_extraction_server_spark.kernel.serialize import to_trig

        for pdf in batches:
            ts = [Triple(s, p, o, True, g)
                  for s, p, o, g in zip(pdf["subj"], pdf["pred"],
                                        pdf["obj"], pdf["graph"])]
            back = parse_trig(to_trig(ts))
            yield pd.DataFrame(
                {"subj": [x.subj for x in back],
                 "pred": [x.pred for x in back],
                 "obj": [x.obj for x in back],
                 "g": [x.graph for x in back]})

    return (q.select("subj", "pred", "obj", "graph")
            .mapInPandas(roundtrip, schema=schema)
            .dropDuplicates(["subj", "pred", "obj", "g"]))


# UNION of the two label predicates + subject FILTER == the doap
# slice reshaped to (s, label): reuse its derivation verbatim.
@query("SELECT DISTINCT subj, pred, obj FROM (" + _KG_TRIPLES_DOAP_ORACLE
    + ") WHERE subj = 'http://example.org/bundles/npm/hotpkg'"
      " OR obj = 'http://example.org/bundles/npm/hotpkg'")
def kg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE of the hotpkg bundle entity over the doap
    slice (subject-or-object closure, depth 1) — completes the
    SELECT / CONSTRUCT / DESCRIBE verb triad. Hard oracle: the doap
    replica filtered the same way (hotpkg is doc 0's fixed name, so
    the IRI is corpus-independent)."""
    from npm_extraction_server_spark.plans.bgp import bgp_describe
    from npm_extraction_server_spark.plans.kg import run_pipeline

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = _doap_slice(run_pipeline(pages)["triples"])
    return bgp_describe(t, "http://example.org/bundles/npm/hotpkg")


@query("SELECT pred, count(*)::BIGINT AS n_triples,"
    " count(DISTINCT subj)::BIGINT AS n_subjects,"
    " count(DISTINCT obj)::BIGINT AS n_objects FROM ("
    + _KG_TRIPLES_DOAP_ORACLE + ") GROUP BY pred")
def kg_void_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID-style dataset statistics over the doap slice: per
    predicate, triple count + distinct subjects + distinct objects —
    the RDF dataset-description standard a KG publishes about itself.
    Hard oracle: the same aggregates over the doap replica."""
    from npm_extraction_server_spark.plans.kg import run_pipeline

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = _doap_slice(run_pipeline(pages)["triples"])
    return (t.groupBy("pred")
            .agg(F.count("*").alias("n_triples"),
                 F.count_distinct("subj").alias("n_subjects"),
                 F.count_distinct("obj").alias("n_objects")))


@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """
SELECT EXISTS(SELECT 1 FROM vers WHERE hv % 3 = 0 AND hv % 10 < 8)
    AS ask""")
def kg_bgp_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK: does any version declare a dependency on
    hotpkg@^1.0.0? (constant-object pattern -> LIMIT 1 probe).
    Hard oracle: EXISTS over the alldeps replica."""
    from npm_extraction_server_spark.plans.bgp import bgp_ask
    from npm_extraction_server_spark.plans.kg import run_pipeline

    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return bgp_ask(t, [(
        "?v", NPM + "dependency",
        "http://example.org/bundles/npm/hotpkg/%5E1.0.0")])


@query(_DOAP_ORACLE_TMPL.format(lo=30, hi=100))
def kg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SC5: changed-since window -> pipeline over only those pages,
    projected to the doap slice so the driver can hard-verify it (the
    synthetic warc_ts is 2017-06-01 + doc_id seconds, so the window
    [00:00:30, 00:01:40) selects exactly doc_id in [30, 100))."""
    from npm_extraction_server_spark.streaming.incremental import incremental_triples

    pages = _pages_from_documents(spark, sf_dir, limit=200)
    return _doap_slice(
        incremental_triples(pages, "2017-06-01 00:00:30", "2017-06-01 00:01:40"))


def _synth_blobs(spark: SparkSession, synth_fn) -> DataFrame:
    """Shared scaffold for the multimodal driver queries: 64 media
    blobs generated distributedly from a deterministic per-id synth
    function (one definition instead of six copy-pasted schema+gen
    blocks)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["id"],
                "payload": [synth_fn(int(i)) for i in pdf["id"]],
            })

    return spark.range(64).mapInPandas(gen, schema=schema)


@query(None)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary media -> typed metadata + features."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.operators.multimodal import (
        decode_features,
        synth_media_df,
    )

    media = synth_media_df(spark, 64)
    feats = decode_features(media, dim=8)
    return media.select("media_id", "media_kind", "n_bytes", "sha").join(
        feats.select("media_id", F.round(
            F.aggregate("features", F.lit(0.0),
                        lambda a, v: a + v * v), 6).alias("feat_norm_sq")),
        "media_id")


@query(_KG_TRIPLES_DOAP_ORACLE)
def kg_triples_doap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A driver-verifiable SLICE of the full KG pipeline output: the
    doap:name / doap:revision triples of every module version (skolem
    genid subjects excluded). End-to-end coverage — page synthesis ->
    html blob extraction -> kernel doc->RDF -> triples table — checked
    bit-exact against a DuckDB re-derivation from doc_id alone."""
    from npm_extraction_server_spark.plans.kg import run_pipeline

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    return _doap_slice(run_pipeline(pages)["triples"])


@query("""
WITH t AS (SELECT unnest(generate_series(0, 19)) AS i),
files AS (
  SELECT 'tar-' || i AS tar_id, 'package/package.json' AS member_path,
         '{"name":"pkg-' || i || '","version":"1.0.' || (i % 10) || '"}' AS body
  FROM t
  UNION ALL
  SELECT 'tar-' || i, 'package/components.jsonld',
         '{"@context":"http://example.org/ctx/' || i ||
         '","import":["sub/extra.jsonld"],"components":[{"@id":"http://example.org/c/'
         || i || '/main"}]}'
  FROM t
  UNION ALL
  SELECT 'tar-' || i, 'package/sub/extra.jsonld',
         '{"@context":"http://example.org/ctx/' || i ||
         '/sub","components":[{"@id":"http://example.org/c/' || i || '/extra"}]}'
  FROM t
)
SELECT tar_id, member_path, length(body)::BIGINT AS n_bytes,
       sha256(body) AS sha
FROM files
""")
def tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SC9: gunzip+tar walk over binary tarball blobs (Spark really
    extracts; the DuckDB oracle re-derives the expected members
    analytically from the deterministic corpus)."""
    from npm_extraction_server_spark.sources.tarballs import (
        synth_tarballs,
        tarball_members,
    )

    return tarball_members(synth_tarballs(spark, 20))


@query("""
WITH t AS (SELECT unnest(generate_series(0, 19)) AS i)
SELECT 'tar-' || i AS tar_id,
       '{"@context":"http://example.org/ctx/' || i ||
       '","@id":"http://example.org/c/' || i || '/main"}' AS component_json
FROM t
UNION ALL
SELECT 'tar-' || i,
       '{"@context":"http://example.org/ctx/' || i ||
       '/sub","@id":"http://example.org/c/' || i || '/extra"}'
FROM t
""")
def tar_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SC10 + the lsd component BFS: resolve 'components.jsonld' under
    package/, follow relative 'import' edges, emit components with the
    defining file's @context (NpmModule.js:216-243)."""
    from npm_extraction_server_spark.sources.tarballs import (
        lsd_component_closure,
        synth_tarballs,
    )

    return lsd_component_closure(synth_tarballs(spark, 20))


# samples[j] = ((i*37 + j*13) % 2048) - 1024 over n = 200 + (i%7)*100
# frames at 8 kHz mono 16-bit; rms/peak/duration re-derived in SQL.
@query("""
WITH audio AS (
  SELECT unnest(generate_series(0, 63)) AS i
),
aud AS (SELECT i, (200 + (i % 7) * 100) AS n FROM audio WHERE i % 5 = 2),
samples AS (
  SELECT a.i, a.n, (((a.i * 37 + j * 13) % 2048) - 1024) AS s
  FROM aud a, unnest(generate_series(0, a.n - 1)) AS t(j)
),
stats AS (
  SELECT i, any_value(n) AS n,
         floor(sqrt(sum(s * s) / count(*)))::INT AS rms,
         max(abs(s))::INT AS peak
  FROM samples GROUP BY i
)
SELECT i::BIGINT AS media_id, true AS ok,
       8000 AS sample_rate, 1 AS n_channels, 2 AS sample_width,
       n::BIGINT AS n_frames, (n * 1000 // 8000)::BIGINT AS duration_ms,
       rms, peak
FROM stats
""")
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: Spark parses actual PCM WAV blobs (stdlib
    wave) and computes sample statistics; the DuckDB oracle re-derives
    every field ANALYTICALLY from the synthesis formula — a hard check
    on the whole container round-trip."""
    from npm_extraction_server_spark.operators.multimodal import (
        audio_features,
        synth_media_df,
    )

    return audio_features(synth_media_df(spark, 64))


# pixels: r=(i*5+x*23+y*31)%256, g=(i*11+x*3+y*17)%256,
# b=(i*7+x*13+y*29)%256 over w=4+(i%5), h=3+(i%4); means are
# floor(sum/n) — integer-exact in both engines.
@query("""
WITH ids AS (SELECT unnest(generate_series(0, 63)) AS i),
px AS (
  SELECT ids.i, tx.x, ty.y
  FROM ids,
       unnest(generate_series(0, 4 + (ids.i % 5) - 1)) AS tx(x),
       unnest(generate_series(0, 3 + (ids.i % 4) - 1)) AS ty(y)
),
stats AS (
  SELECT i, count(*) AS n,
         sum((i*5 + x*23 + y*31) % 256) AS sr,
         sum((i*11 + x*3 + y*17) % 256) AS sg,
         sum((i*7 + x*13 + y*29) % 256) AS sb
  FROM px GROUP BY i
)
SELECT i::BIGINT AS media_id, true AS ok,
       (4 + (i % 5))::INT AS width, (3 + (i % 4))::INT AS height,
       (sr // n)::INT AS mean_r, (sg // n)::INT AS mean_g,
       (sb // n)::INT AS mean_b
FROM stats
""")
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: Spark sniffs ("BM" magic) and parses actual
    24-bit BMP blobs (stdlib codec, npm_extraction_server_spark/
    operators/multimodal.py:decode_bmp) and computes per-channel pixel
    means; the DuckDB oracle re-derives dimensions and means
    ANALYTICALLY from the pixel formula — a hard check on the whole
    encode -> sniff -> decode round-trip."""
    from npm_extraction_server_spark.operators.multimodal import (
        attach_media_metadata,
        image_features,
        synth_bmp,
    )

    blobs = _synth_blobs(spark, synth_bmp)
    return image_features(attach_media_metadata(blobs))


# 3x2 nearest-neighbor resample of the synth BMPs: target (x,y) maps
# to source (x*w//3, y*h//2); channel means over the 6 sampled pixels.
@query("""
WITH ids AS (SELECT unnest(generate_series(0, 63)) AS i),
tgt AS (
  SELECT ids.i, tx.x, ty.y
  FROM ids,
       unnest(generate_series(0, 2)) AS tx(x),
       unnest(generate_series(0, 1)) AS ty(y)
),
src AS (
  SELECT i, (x * (4 + (i % 5))) // 3 AS sx,
            (y * (3 + (i % 4))) // 2 AS sy
  FROM tgt
),
stats AS (
  SELECT i, count(*) AS n,
         sum((i*5 + sx*23 + sy*31) % 256) AS sr,
         sum((i*11 + sx*3 + sy*17) % 256) AS sg,
         sum((i*7 + sx*13 + sy*29) % 256) AS sb
  FROM src GROUP BY i
)
SELECT i::BIGINT AS media_id, true AS ok,
       3::INT AS width, 2::INT AS height,
       (sr // n)::INT AS mean_r, (sg // n)::INT AS mean_g,
       (sb // n)::INT AS mean_b
FROM stats
""")
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize composed with REAL decode: BMP blobs ->
    resize_bmp_images(3x2, nearest neighbor, re-encoded as valid BMP)
    -> image_features decodes THAT. The oracle re-derives the 3x2
    sampled pixels analytically (src = (x*w//3, y*h//2) into the luma
    formulas), so decode -> resample -> encode -> decode is verified
    end-to-end."""
    from npm_extraction_server_spark.operators.multimodal import (
        attach_media_metadata,
        image_features,
        resize_bmp_images,
        synth_bmp,
    )

    blobs = _synth_blobs(spark, synth_bmp)
    resized = resize_bmp_images(attach_media_metadata(blobs), 3, 2)
    return image_features(resized.filter(F.col("ok")))


# even-index samples of the synth triangle wave at the halved rate;
# n' = ceil(n/2) (n = 200 + (i%7)*100 is always even -> n' = n/2)
@query("""
WITH ids AS (SELECT unnest(generate_series(0, 63)) AS i),
aud AS (SELECT i, (200 + (i % 7) * 100) AS n FROM ids),
samples AS (
  SELECT a.i, a.n // 2 AS n2,
         (((a.i * 37 + j * 13) % 2048) - 1024) AS s
  FROM aud a, unnest(generate_series(0, a.n - 1)) AS t(j)
  WHERE j % 2 = 0
),
stats AS (
  SELECT i, any_value(n2) AS n2,
         floor(sqrt(sum(s * s) / count(*)))::INT AS rms,
         max(abs(s))::INT AS peak
  FROM samples GROUP BY i
)
SELECT i::BIGINT AS media_id, true AS ok,
       4000 AS sample_rate, 1 AS n_channels, 2 AS sample_width,
       n2::BIGINT AS n_frames, (n2 * 1000 // 4000)::BIGINT AS duration_ms,
       rms, peak
FROM stats
""")
def mm_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio downsampling composed with REAL decode: WAV blobs ->
    decimate_wav(factor=2: every 2nd sample, rate 8000->4000,
    re-encoded as valid WAV) -> audio_features decodes THAT. Oracle:
    stats over the even-index samples of the synth formula at the
    halved rate — decode -> decimate -> encode -> decode verified
    end-to-end (the audio leg of the transform round-trip family)."""
    from npm_extraction_server_spark.operators.multimodal import (
        attach_media_metadata,
        audio_features,
        decimate_wav,
        synth_wav,
    )

    blobs = _synth_blobs(spark, synth_wav)
    dec = decimate_wav(attach_media_metadata(blobs), factor=2)
    return audio_features(dec.filter(F.col("ok")))


# luma[f][y][x] = (i*7 + f*31 + y*13 + x*5) % 256 over w=4+(i%3)*2,
# h=4+(i%2)*2, frames 2+(i%3); per-frame mean = floor(sum / (w*h)).
@query("""
WITH ids AS (SELECT unnest(generate_series(0, 63)) AS i),
px AS (
  SELECT ids.i, tf.f, ty.y, tx.x
  FROM ids,
       unnest(generate_series(0, 2 + (ids.i % 3) - 1)) AS tf(f),
       unnest(generate_series(0, 4 + (ids.i % 2) * 2 - 1)) AS ty(y),
       unnest(generate_series(0, 4 + (ids.i % 3) * 2 - 1)) AS tx(x)
),
stats AS (
  SELECT i, f, count(*) AS n,
         sum((i*7 + f*31 + y*13 + x*5) % 256) AS sy
  FROM px GROUP BY i, f
)
SELECT i::BIGINT AS media_id, true AS ok,
       (4 + (i % 3) * 2)::INT AS width, (4 + (i % 2) * 2)::INT AS height,
       f::INT AS frame_idx, (sy // n)::INT AS mean_y
FROM stats
""")
def mm_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode: Spark sniffs and parses actual Y4M
    (YUV4MPEG2) blobs — the standard uncompressed video container —
    and emits per-frame mean luma; the DuckDB oracle re-derives every
    frame mean ANALYTICALLY from the luma formula (the video leg of
    the WAV/BMP real-decode trifecta)."""
    from npm_extraction_server_spark.operators.multimodal import (
        attach_media_metadata,
        synth_y4m,
        video_features,
    )

    blobs = _synth_blobs(spark, synth_y4m)
    return video_features(attach_media_metadata(blobs))


# Sampled variant (every_n=2): even source frames only, reindexed.
@query("""
WITH ids AS (SELECT unnest(generate_series(0, 63)) AS i),
px AS (
  SELECT ids.i, tf.f, ty.y, tx.x
  FROM ids,
       unnest(generate_series(0, 2 + (ids.i % 3) - 1)) AS tf(f),
       unnest(generate_series(0, 4 + (ids.i % 2) * 2 - 1)) AS ty(y),
       unnest(generate_series(0, 4 + (ids.i % 3) * 2 - 1)) AS tx(x)
),
stats AS (
  SELECT i, f, count(*) AS n,
         sum((i*7 + f*31 + y*13 + x*5) % 256) AS sy
  FROM px WHERE f % 2 = 0 GROUP BY i, f
)
SELECT i::BIGINT AS media_id, true AS ok,
       (4 + (i % 3) * 2)::INT AS width, (4 + (i % 2) * 2)::INT AS height,
       (f // 2)::INT AS frame_idx, (sy // n)::INT AS mean_y
FROM stats
""")
def mm_video_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling composed with REAL decode: Y4M blobs ->
    sample_video_frames(every_n=2) keeps frames 0,2,... and RE-ENCODES
    a valid Y4M stream -> video_features decodes THAT and emits the
    sampled frames' means. The oracle re-derives analytically: frame
    means of the original luma formula at even f, reindexed — so the
    round-trip (decode -> sample -> encode -> decode) is verified
    end-to-end, not just the arithmetic."""
    from npm_extraction_server_spark.operators.multimodal import (
        attach_media_metadata,
        sample_video_frames,
        synth_y4m,
        video_features,
    )

    blobs = _synth_blobs(spark, synth_y4m)
    sampled = sample_video_frames(attach_media_metadata(blobs), every_n=2)
    return video_features(sampled.filter(F.col("ok")))


@query(_SEMVER_RESOLVE_ORACLE)
def semver_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the distributed semver range-resolution join over the
    synthetic corpus (dep edges x version lists -> npm:maxSatisfying)."""
    from npm_extraction_server_spark.operators.semver_join import (
        dependency_edges,
        resolve_ranges,
        version_rows,
    )
    from npm_extraction_server_spark.plans.kg import extract_docs, repartition_pages

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    docs = extract_docs(repartition_pages(pages))
    edges = dependency_edges(docs)
    versions = version_rows(docs)
    return resolve_ranges(edges, versions)


# --- embedding link-prediction eval (plans/embed.py) ----------------------

def _dep_edge_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The valid-range dependency edges of the pipeline KG as a
    (src, rel, dst) set: version module -> npm:dependency -> range
    module (skolem tarball/shorthand deps carry /.well-known/ genid
    IRIs and are excluded, mirroring the dep-chain BGP's revision
    join)."""
    from npm_extraction_server_spark.plans.kg import run_pipeline

    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pref = "http://example.org/bundles/npm/"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return (
        t.filter((F.col("pred") == NPM + "dependency")
                 & F.col("obj").startswith(pref)
                 & ~F.col("obj").contains("/.well-known/"))
        .select(F.col("subj").alias("src"), F.col("pred").alias("rel"),
                F.col("obj").alias("dst"))
    )


def _lp_h(x: str, tag: str, i: int) -> str:
    """DuckDB twin of plans/embed.md5_component."""
    return (f"(('0x' || substr(md5({x} || '#{tag}{i}'), 1, 8))"
            "::UBIGINT)::BIGINT")


def _lp_score(src: str, rel: str, cand: str) -> str:
    """DuckDB twin of plans/embed.transe_score (L1 on the md5 grid)."""
    from npm_extraction_server_spark.plans.embed import _DIM

    return " + ".join(
        f"abs({_lp_h(src, 'e', i)} + {_lp_h(rel, 'r', i)}"
        f" - {_lp_h(cand, 'e', i)})"
        for i in range(_DIM))


# Edges replica = the dep-chain bindings (distinct v, d); test split,
# candidate domain, filtered anti-join and lexicographic tie-break all
# mirror plans/embed.link_pred_ranks exactly.
_LP_RANKS_CTE = ("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
),
edges AS (
  SELECT DISTINCT v AS src,
    'https://linkedsoftwaredependencies.org/vocabularies/npm#dependency'
      AS rel,
    'http://example.org/bundles/npm/' || dep_pkg || '/' ||
      """ + _RNG_ENC_CASE + """ AS dst
  FROM alldeps
),
test AS (
  SELECT src, rel, dst, """ + _lp_score("src", "rel", "dst") + """ AS ts
  FROM edges
  WHERE (('0x' || substr(md5(src || '->' || dst), 1, 4))::UBIGINT)::BIGINT
        % 5 = 0
),
cands AS (SELECT DISTINCT rel, dst AS cand FROM edges),
pairs AS (
  SELECT t.src, t.rel, t.dst, t.ts, c.cand,
         """ + _lp_score("t.src", "t.rel", "c.cand") + """ AS sc
  FROM test t JOIN cands c ON t.rel = c.rel
  WHERE NOT EXISTS (SELECT 1 FROM edges e
                    WHERE e.src = t.src AND e.rel = t.rel
                      AND e.dst = c.cand)
),
grouped AS (
  SELECT src, rel, dst,
    (1 + sum(CASE WHEN sc < ts OR (sc = ts AND cand < dst)
                  THEN 1 ELSE 0 END))::BIGINT AS rank,
    count(*)::BIGINT AS n_comp
  FROM pairs GROUP BY src, rel, dst
),
ranks AS (
  SELECT t.src, t.dst, coalesce(g.rank, 1)::BIGINT AS rank,
         coalesce(g.n_comp, 0)::BIGINT AS n_comp
  FROM test t LEFT JOIN grouped g ON t.src = g.src AND t.dst = g.dst
)
""")


@query(_LP_RANKS_CTE + "SELECT * FROM ranks")
def kg_link_pred_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered TransE link-prediction ranks over the dependency-edge
    KG (md5-grid embeddings -> exact integer scores; hard oracle
    re-derives edges + the identical scoring in DuckDB)."""
    from npm_extraction_server_spark.plans.embed import link_pred_ranks

    return link_pred_ranks(_dep_edge_set(spark, sf_dir))


@query(_LP_RANKS_CTE + """
SELECT count(*)::BIGINT AS n,
       sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END)::BIGINT AS hits1,
       sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END)::BIGINT AS hits10,
       sum(100000000 // rank)::BIGINT AS sum_rr_e8
FROM ranks
""")
def kg_link_pred_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorecard over the ranks: n / hits@1 / hits@10 / integer-grid
    MRR numerator (floor(1e8/rank) summed — exact in both engines)."""
    from npm_extraction_server_spark.plans.embed import (
        link_pred_metrics,
        link_pred_ranks,
    )

    return link_pred_metrics(link_pred_ranks(_dep_edge_set(spark, sf_dir)))


# --- SHACL-style shape validation (plans/shacl.py) -------------------------

# Violation replica: dep cardinality per version is (hv%10<8)+(hv%9<=5)
# distinct range-module IRIs; revisions start "1." iff h%2=0; every
# version's doap:name is a literal (the intentional nodeKind failure).
@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
alldeps AS (
  SELECT module_iri AS v,
    CASE hv%3 WHEN 0 THEN 'hotpkg' WHEN 1 THEN 'megalib'
              ELSE 'ultrautil' END AS dep_pkg,
    '^1.0.0' AS rng
  FROM vers WHERE hv%10 < 8
  UNION ALL
  SELECT module_iri, 'pkg-' || (hv%1000),
    CASE hv%9 WHEN 0 THEN '^1.0.0' WHEN 1 THEN '~1.2' WHEN 2 THEN '1.x'
              WHEN 3 THEN '*' WHEN 4 THEN '>=1.0.0 <2'
              WHEN 5 THEN '1.0.0' END
  FROM vers WHERE hv%9 <= 5
),
depcnt AS (
  SELECT v, count(DISTINCT dep_pkg || '@' || rng)::BIGINT AS n
  FROM alldeps GROUP BY v
),
dep AS (
  SELECT vers.module_iri AS focus, coalesce(d.n, 0)::BIGINT AS n
  FROM vers LEFT JOIN depcnt d ON d.v = vers.module_iri
)
SELECT focus, 'VersionShape' AS shape,
  'https://linkedsoftwaredependencies.org/vocabularies/npm#dependency'
    AS path,
  'sh:minCount' AS component, n
FROM dep WHERE n < 1
UNION ALL
SELECT focus, 'VersionShape',
  'https://linkedsoftwaredependencies.org/vocabularies/npm#dependency',
  'sh:maxCount', n
FROM dep WHERE n > 1
UNION ALL
SELECT module_iri, 'VersionShape',
  'http://usefulinc.com/ns/doap#revision', 'sh:pattern', 1::BIGINT
FROM vers WHERE ver LIKE '2.%'
UNION ALL
SELECT module_iri, 'VersionShape',
  'http://usefulinc.com/ns/doap#name', 'sh:nodeKind', 1::BIGINT
FROM vers
""")
def kg_shacl_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate on the pipeline KG: VersionShape (targetSubjectsOf
    doap:name) validates revision cardinality+pattern, qualified
    dependency cardinality (valid range modules only — skolem genid
    deps don't count, the qualifiedValueShape analog) and a
    deliberately-failing nodeKind (names are literals, the shape says
    IRI) so every constraint component appears in the report."""
    from npm_extraction_server_spark.plans.kg import run_pipeline
    from npm_extraction_server_spark.plans.shacl import shacl_validate

    DOAP = "http://usefulinc.com/ns/doap#"
    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    shapes = [{
        "id": "VersionShape",
        "target_pred": DOAP + "name",
        "target_also_pred": DOAP + "revision",
        "target_not_contains": "/.well-known/",
        "properties": [
            {"path": DOAP + "revision", "min_count": 1, "max_count": 1,
             "pattern": '^"1\\.'},
            {"path": NPM + "dependency",
             "qualified_prefix": "http://example.org/bundles/npm/",
             "qualified_not_contains": "/.well-known/",
             "min_count": 1, "max_count": 1},
            {"path": DOAP + "name", "node_kind": "IRI"},
        ],
    }]
    return shacl_validate(t, shapes)


# --- PROV-O provenance emission (plans/kg.prov_triples) ---------------------

@query("""
WITH docs AS (
  SELECT 'http://crawl.example.org/' || (doc_id % 100) || '/doc-' || doc_id
           AS url,
         strftime(TIMESTAMP '2017-06-01 00:00:00' + to_seconds(doc_id),
                  '%Y-%m-%dT%H:%M:%S') || '.000Z' AS ts
  FROM documents WHERE doc_id < 100
)
SELECT url AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'http://www.w3.org/ns/prov#Entity' AS obj FROM docs
UNION ALL
SELECT url || '#graph',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'http://www.w3.org/ns/prov#Entity' FROM docs
UNION ALL
SELECT url || '#graph', 'http://www.w3.org/ns/prov#wasDerivedFrom', url
FROM docs
UNION ALL
SELECT url || '#graph', 'http://www.w3.org/ns/prov#wasGeneratedBy',
       url || '#extract' FROM docs
UNION ALL
SELECT url || '#extract',
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'http://www.w3.org/ns/prov#Activity' FROM docs
UNION ALL
SELECT url || '#extract', 'http://www.w3.org/ns/prov#used', url FROM docs
UNION ALL
SELECT url || '#graph', 'http://www.w3.org/ns/prov#generatedAtTime',
       '"' || ts || '"^^http://www.w3.org/2001/XMLSchema#dateTime'
FROM docs
""")
def kg_prov_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3C PROV-O star per source document over the pipeline KG
    (page/graph prov:Entity, #extract prov:Activity, derivation/use
    edges + generatedAtTime from the page's warc_ts). Hard oracle:
    src_url and warc_ts are pure functions of doc_id."""
    from npm_extraction_server_spark.plans.kg import prov_triples, run_pipeline

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages, include_engines=False)["triples"]
    return prov_triples(t, pages=pages)


# --- property-graph export (plans/warehouse.property_graph) ----------------

@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + ",\n"
    + _SYNTH_DEPS_CTES + """,
slice AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT module_iri AS subj, 'name' AS pred, '"' || name || '"' AS obj
    FROM vers
    UNION ALL
    SELECT module_iri, 'rev', '"' || ver || '"' FROM vers
    UNION ALL
    SELECT 'http://example.org/bundles/npm/' || name, 'name',
           '"' || name || '"' FROM pkg
    UNION ALL
    SELECT 'http://example.org/bundles/npm/' || dep_pkg || '/' ||
             """ + _RNG_ENC_CASE + """,
           'rev', '"' || rng || '"'
    FROM pkgdeps
  )
),
edges AS (
  SELECT DISTINCT v AS src,
    'http://example.org/bundles/npm/' || dep_pkg || '/' ||
      """ + _RNG_ENC_CASE + """ AS dst
  FROM alldeps
),
ids AS (
  SELECT DISTINCT id FROM (
    SELECT subj AS id FROM slice
    UNION ALL SELECT src FROM edges
    UNION ALL SELECT dst FROM edges)
),
outd AS (SELECT src, count(*) AS n FROM edges GROUP BY src),
ind AS (SELECT dst, count(*) AS n FROM edges GROUP BY dst),
np AS (SELECT subj, count(*) AS n FROM slice GROUP BY subj)
SELECT id, coalesce(o.n, 0)::BIGINT AS out_deg,
       coalesce(i.n, 0)::BIGINT AS in_deg,
       coalesce(p.n, 0)::BIGINT AS n_props
FROM ids LEFT JOIN outd o ON o.src = id
         LEFT JOIN ind i ON i.dst = id
         LEFT JOIN np p ON p.subj = id
""")
def kg_property_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF -> property-graph export over the oracle-able KG slice
    (doap literal star + valid dependency edges): nodes with out/in
    degree + property counts. Hard oracle: both inputs have synth
    replicas, so DuckDB rebuilds the full node relation."""
    from npm_extraction_server_spark.plans.kg import run_pipeline
    from npm_extraction_server_spark.plans.warehouse import property_graph

    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pref = "http://example.org/bundles/npm/"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    dep_edges = (
        t.filter((F.col("pred") == NPM + "dependency")
                 & F.col("obj").startswith(pref)
                 & ~F.col("obj").contains("/.well-known/")
                 & ~F.col("subj").contains("/.well-known/"))
        .select("subj", "pred", "obj")
    )
    return property_graph(_doap_slice(t).unionByName(dep_edges))["nodes"]


@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + ",\n"
    + _SYNTH_DEPS_CTES + """,
trip AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT module_iri AS subj,
           'http://usefulinc.com/ns/doap#name' AS pred,
           '"' || name || '"' AS obj
    FROM vers
    UNION ALL
    SELECT module_iri, 'http://usefulinc.com/ns/doap#revision',
           '"' || ver || '"' FROM vers
    UNION ALL
    SELECT 'http://example.org/bundles/npm/' || name,
           'http://usefulinc.com/ns/doap#name', '"' || name || '"'
    FROM pkg
    UNION ALL
    SELECT 'http://example.org/bundles/npm/' || dep_pkg || '/' ||
             """ + _RNG_ENC_CASE + """,
           'http://usefulinc.com/ns/doap#revision', '"' || rng || '"'
    FROM pkgdeps
    UNION ALL
    SELECT v,
           'https://linkedsoftwaredependencies.org/vocabularies/npm#dependency',
           'http://example.org/bundles/npm/' || dep_pkg || '/' ||
             """ + _RNG_ENC_CASE + """
    FROM alldeps
  )
),
per_subj AS (
  SELECT subj, string_agg(DISTINCT pred, '|' ORDER BY pred) AS char_set,
         count(DISTINCT pred) AS n_preds, count(*) AS n_triples
  FROM trip GROUP BY subj
)
SELECT char_set, min(n_preds)::BIGINT AS n_preds,
       count(*)::BIGINT AS n_subjects, sum(n_triples)::BIGINT AS n_triples
FROM per_subj GROUP BY char_set
""")
def kg_char_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011) over the
    oracle-able KG slice (doap literal star + valid dependency
    edges): one row per distinct per-subject predicate set with
    subject/triple counts — the star-join cardinality statistic one
    step past kg_void_stats' per-predicate counts. Hard oracle: the
    synth replica re-derives every subject's predicate set, and the
    signature/counters are deterministic integers/ASCII strings."""
    from npm_extraction_server_spark.plans.kg import run_pipeline
    from npm_extraction_server_spark.plans.warehouse import (
        characteristic_sets,
    )

    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pref = "http://example.org/bundles/npm/"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    dep_edges = (
        t.filter((F.col("pred") == NPM + "dependency")
                 & F.col("obj").startswith(pref)
                 & ~F.col("obj").contains("/.well-known/")
                 & ~F.col("subj").contains("/.well-known/"))
        .select("subj", "pred", "obj")
    )
    trip = (_doap_slice(t).unionByName(dep_edges)
            .dropDuplicates(["subj", "pred", "obj"]))
    return characteristic_sets(trip)


@query("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + """,
base AS (
  SELECT d.doc_id,
         d.text
         || CASE WHEN d.doc_id % 2 = 0
                 THEN ' see pkg-' || ((d.doc_id * 3) % 100) ELSE '' END
         || CASE WHEN d.doc_id % 3 = 0
                 THEN ' and pkg-' || ((d.doc_id * 3) % 100) || ' again'
                 ELSE '' END
         || CASE WHEN d.doc_id % 5 = 0 THEN ' uses hotpkg' ELSE '' END
         || CASE WHEN d.doc_id % 7 = 0 THEN ' try pkg-99999' ELSE '' END
             AS t
  FROM documents d WHERE d.doc_id < 100),
mentions AS (
  SELECT doc_id,
         unnest(regexp_extract_all(t,
             '(@org[0-9]+/pkg-[0-9]+|pkg-[0-9]+|hotpkg|megalib|ultrautil)',
             1)) AS m
  FROM base),
hits AS (
  SELECT mn.doc_id, mn.m, count(*) AS n
  FROM mentions mn JOIN (SELECT DISTINCT name FROM pkg) dict
    ON dict.name = mn.m
  GROUP BY 1, 2)
SELECT 'http://crawl.example.org/' || (doc_id % 100) || '/doc-' || doc_id
           AS url,
       'http://example.org/bundles/npm/' || m AS bundle,
       n AS n_mentions
FROM hits""")
def kg_text_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prose text-mention extraction + dictionary linking — the
    north-star's third extraction source next to embedded structured
    metadata: package-name-shaped tokens in the ARTICLE TEXT are
    matched (JVM regex, one narrow explode) and linked against the
    broadcast dictionary of bundle names the pipeline itself minted
    (bundles = doap:name holders with no doap:revision), yielding
    (url, bundle, n_mentions) mention edges. Mentions of names no
    package owns (scoped twins, planted junk) are dropped by the
    dictionary join — exactly the head-entity short-circuit
    plans/linking.py documents. Hard oracle: the injected mention
    sentences and the pkg-name dictionary re-derive from doc_id
    arithmetic."""
    from npm_extraction_server_spark.operators.suite import _t
    from npm_extraction_server_spark.plans.kg import run_pipeline

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").filter(d < 100)
    text2 = F.concat(
        F.col("text"),
        F.when(d % 2 == 0,
               F.concat(F.lit(" see pkg-"),
                        ((d * 3) % 100).cast("string"))).otherwise(F.lit("")),
        F.when(d % 3 == 0,
               F.concat(F.lit(" and pkg-"), ((d * 3) % 100).cast("string"),
                        F.lit(" again"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" uses hotpkg")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit(" try pkg-99999")).otherwise(F.lit("")))
    pat = r"(@org[0-9]+/pkg-[0-9]+|pkg-[0-9]+|hotpkg|megalib|ultrautil)"
    mentions = (docs.select("doc_id",
                            F.explode(F.regexp_extract_all(
                                text2, F.lit(pat), 1)).alias("m")))

    t = run_pipeline(pages)["triples"]
    DOAP = "http://usefulinc.com/ns/doap#"
    named = (t.filter((F.col("pred") == DOAP + "name")
                      & F.col("subj").startswith(
                          "http://example.org/bundles/npm/"))
             .select("subj", F.translate("obj", '"', "").alias("name")))
    revs = (t.filter(F.col("pred") == DOAP + "revision")
            .select("subj").distinct())
    bundles = (named.join(revs, "subj", "left_anti")
               .select("name").distinct())
    return (mentions.join(F.broadcast(bundles),
                          mentions["m"] == bundles["name"])
            .groupBy("doc_id", "name")
            .agg(F.count("*").alias("n_mentions"))
            .select(F.concat(F.lit("http://crawl.example.org/"),
                             (F.col("doc_id") % 100).cast("string"),
                             F.lit("/doc-"),
                             F.col("doc_id").cast("string")).alias("url"),
                    F.concat(F.lit("http://example.org/bundles/npm/"),
                             F.col("name")).alias("bundle"),
                    "n_mentions"))


def _kg_graph_hash_oracle() -> str:
    """Two WL fingerprint rounds unrolled over the synth KG-slice replica
    with the graph key assigned at generation time (subject's package
    name) — the same md5 color/hash algebra as wl_graph_hash."""
    sql = ("WITH " + _SYNTH_VERS_CTE.format(lo=0, hi=100) + ",\n"
           + _SYNTH_DEPS_CTES + """,
trip AS MATERIALIZED (
  SELECT DISTINCT g, s, p, o FROM (
    SELECT name AS g, module_iri AS s,
           'http://usefulinc.com/ns/doap#name' AS p,
           '"' || name || '"' AS o
    FROM vers
    UNION ALL
    SELECT name, module_iri, 'http://usefulinc.com/ns/doap#revision',
           '"' || ver || '"' FROM vers
    UNION ALL
    SELECT name, 'http://example.org/bundles/npm/' || name,
           'http://usefulinc.com/ns/doap#name', '"' || name || '"'
    FROM pkg
    UNION ALL
    SELECT dep_pkg,
           'http://example.org/bundles/npm/' || dep_pkg || '/' ||
             """ + _RNG_ENC_CASE + """,
           'http://usefulinc.com/ns/doap#revision', '"' || rng || '"'
    FROM pkgdeps
    UNION ALL
    SELECT vr.name, a.v,
       'https://linkedsoftwaredependencies.org/vocabularies/npm#dependency',
           'http://example.org/bundles/npm/' || a.dep_pkg || '/' ||
             """ + _RNG_ENC_CASE.replace("rng", "a.rng") + """
    FROM alldeps a JOIN vers vr ON vr.module_iri = a.v
  )
),
nodes AS (
  SELECT DISTINCT g, s AS node FROM trip
  UNION
  SELECT DISTINCT g, o FROM trip),
c0 AS MATERIALIZED (
  SELECT g, node,
         md5(CASE WHEN node LIKE '"%' THEN 'lit' ELSE 'n' END) AS c
  FROM nodes)""")
    for r in range(1, 3):
        sql += f""",
o{r} AS (
  SELECT t.g, t.s,
         string_agg(md5(t.p || '>' || c.c), ','
                    ORDER BY md5(t.p || '>' || c.c)) AS outs
  FROM trip t JOIN c{r - 1} c ON c.g = t.g AND c.node = t.o
  GROUP BY t.g, t.s),
i{r} AS (
  SELECT t.g, t.o,
         string_agg(md5(t.p || '<' || c.c), ','
                    ORDER BY md5(t.p || '<' || c.c)) AS ins
  FROM trip t JOIN c{r - 1} c ON c.g = t.g AND c.node = t.s
  GROUP BY t.g, t.o),
c{r} AS MATERIALIZED (
  SELECT n.g, n.node,
         md5(n.c || '|' || coalesce(o{r}.outs, '') || '|' ||
             coalesce(i{r}.ins, '')) AS c
  FROM c{r - 1} n
  LEFT JOIN o{r} ON o{r}.g = n.g AND o{r}.s = n.node
  LEFT JOIN i{r} ON i{r}.g = n.g AND i{r}.o = n.node)"""
    sql += f""",
ts AS (
  SELECT t.g, md5(cs.c || ' ' || t.p || ' ' || co.c) AS tsg
  FROM trip t
  JOIN c2 cs ON cs.g = t.g AND cs.node = t.s
  JOIN c2 co ON co.g = t.g AND co.node = t.o),
gh AS MATERIALIZED (
  SELECT g, md5(string_agg(tsg, ',' ORDER BY tsg)) AS wl_hash,
         count(*) AS n_triples
  FROM ts GROUP BY g),
rep AS (SELECT wl_hash, min(g) AS class_rep, count(*) AS class_size
        FROM gh GROUP BY 1)
SELECT g AS graph, gh.wl_hash, n_triples, class_rep, class_size
FROM gh JOIN rep USING (wl_hash)"""
    return sql


@query(_kg_graph_hash_oracle())
def kg_graph_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical per-package RDF graph fingerprints
    (plans/fingerprint.wl_graph_hash, structural mode): the pipeline's
    oracle-able KG slice (doap literal star + dependency edges) is
    grouped into per-package graphs by SUBJECT locality (the package
    segment of the subject IRI, scoped names decoded), then 2 rounds
    of predicate-labeled WL color refinement hash each graph
    invariantly to node identity — packages whose dependency-star
    SHAPES are isomorphic collide into one class (class_rep/
    class_size), the KG-document structural-dedup primitive. Hard
    oracle: every color and hash is a deterministic md5 string
    function, so DuckDB unrolls both rounds bit-exactly from the
    synth replica."""
    from npm_extraction_server_spark.plans.fingerprint import (
        wl_graph_hash,
    )
    from npm_extraction_server_spark.plans.kg import run_pipeline

    NPM = "https://linkedsoftwaredependencies.org/vocabularies/npm#"
    pref = "http://example.org/bundles/npm/"
    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    dep_edges = (
        t.filter((F.col("pred") == NPM + "dependency")
                 & F.col("obj").startswith(pref)
                 & ~F.col("obj").contains("/.well-known/")
                 & ~F.col("subj").contains("/.well-known/"))
        .select("subj", "pred", "obj")
    )
    trip = (_doap_slice(t).unionByName(dep_edges)
            .dropDuplicates(["subj", "pred", "obj"]))
    rest = F.regexp_replace("subj", "^http://example\\.org/bundles/npm/",
                            "")
    parts = F.split(rest, "/")
    pkgseg = (F.when(rest.startswith("@"),
                     F.concat(parts[0], F.lit("/"), parts[1]))
              .otherwise(parts[0]))
    graph = F.replace(F.replace(pkgseg, F.lit("%40"), F.lit("@")),
                      F.lit("%2F"), F.lit("/"))
    return wl_graph_hash(trip.withColumn("graph", graph), rounds=2)


# --- SPARQL text front-end (plans/sparql.py) --------------------------------

_SPARQL_PREFIXES = """
PREFIX doap: <http://usefulinc.com/ns/doap#>
PREFIX npm: <https://linkedsoftwaredependencies.org/vocabularies/npm#>
"""


@query(_KG_BGP_DEP_COUNTS_ORACLE)
def kg_sparql_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kg_bgp_dep_counts aggregate expressed as SPARQL TEXT
    (plans/sparql.py parses it onto bgp_agg — same Catalyst plan,
    same hard oracle as the Python-API form)."""
    from npm_extraction_server_spark.plans.kg import run_pipeline
    from npm_extraction_server_spark.plans.sparql import sparql

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return sparql(t, _SPARQL_PREFIXES + """
        SELECT ?v (COUNT(DISTINCT ?d) AS ?n_deps) (MIN(?rng) AS ?min_rng)
        WHERE { ?v npm:dependency ?d . ?d doap:revision ?rng . }
        GROUP BY ?v
    """)


@query(_KG_BGP_TOPK_DEPS_ORACLE)
def kg_sparql_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kg_bgp_topk_deps ORDER BY + LIMIT page as SPARQL TEXT
    (parses onto bgp_join's solution modifiers — still
    TakeOrderedAndProject, same oracle)."""
    from npm_extraction_server_spark.plans.kg import run_pipeline
    from npm_extraction_server_spark.plans.sparql import sparql

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"]
    return sparql(t, _SPARQL_PREFIXES + """
        SELECT ?v ?d ?rng
        WHERE { ?v npm:dependency ?d . ?d doap:revision ?rng . }
        ORDER BY ?v ?d ?rng LIMIT 25
    """)


@query(_KG_BGP_PATH_OPS_ORACLE)
def kg_sparql_text_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kg_bgp_path_ops property path written as SPARQL TEXT —
    ((npm:dependency/doap:revision)|owl:sameAs) parses onto the same
    path_edges algebra and reuses its hard oracle."""
    from npm_extraction_server_spark.plans.kg import run_pipeline
    from npm_extraction_server_spark.plans.sparql import sparql

    pages = _pages_from_documents(spark, sf_dir, limit=100)
    t = run_pipeline(pages)["triples"].filter(
        ~F.col("subj").startswith("http://example.org/engines/"))
    return sparql(t, _SPARQL_PREFIXES + """
        PREFIX owl: <http://www.w3.org/2002/07/owl#>
        SELECT ?src ?dst
        WHERE { ?src (npm:dependency/doap:revision)|owl:sameAs ?dst }
    """)


def _truth_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic conflicting-claims corpus for the truth-discovery
    queries, a pure function of doc_id (so DuckDB re-derives it):
    480 docs -> the full 24-source x 20-entity grid. Sources s%8==0
    ({0,8,16}) are a colluding spam clique asserting the same wrong
    license for EVERY entity; s%4==0 non-clique ({4,12,20}) are lone
    spammers with their own wrong values; the 18 honest sources assert
    the truth L(e%5) densely for e<16 and THINLY for the planted tail
    e>=16 (exactly one honest claimant) — on the tail a majority vote
    picks the clique's value 4:1, the fixpoint recovers the truth."""
    from npm_extraction_server_spark.operators.suite import _t

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 480)
    base = d.select((F.col("doc_id") % 24).alias("s"),
                    F.floor(F.col("doc_id") / 24).cast("long").alias("e"))
    s, e = F.col("s"), F.col("e")
    keep = ((s % 4 == 0)
            | ((e < 16) & ((s + e) % 3 != 0))
            | ((e >= 16) & (s == 1 + e % 2)))
    val = (F.when(s % 8 == 0, 5 + e % 3)
           .when(s % 4 == 0, 5 + (e + s) % 3)
           .otherwise(e % 5))
    return (base.filter(keep)
            .select(F.concat(F.lit("src-"), s.cast("string")).alias("source"),
                    F.concat(F.lit("pkg-"), e.cast("string")).alias("entity"),
                    F.lit("license").alias("attr"),
                    F.concat(F.lit("L"), val.cast("string")).alias("value")))


_TRUTH_CLAIMS_CTE = """
grid AS (SELECT doc_id % 24 AS s, doc_id // 24 AS e
         FROM documents WHERE doc_id < 480),
claims AS MATERIALIZED (
  SELECT DISTINCT 'src-' || s AS source, 'pkg-' || e AS entity,
         'license' AS attr,
         CASE WHEN s % 8 = 0 THEN 'L' || (5 + e % 3)
              WHEN s % 4 = 0 THEN 'L' || (5 + (e + s) % 3)
              ELSE 'L' || (e % 5) END AS value
  FROM grid
  WHERE s % 4 = 0
     OR (e < 16 AND (s + e) % 3 <> 0)
     OR (e >= 16 AND s = 1 + e % 2))"""


def _truth_sql() -> str:
    """plans/fusion.truth_discovery unrolled (4 iterations): belief = exact
    decimal(28,12) sum of 12-dp trusts, max-normalized and re-rounded
    to 12; trust = the MEAN of 12-dp beliefs on the same grid,
    max-normalized — expression-for-expression the Spark loop, so both
    vectors match bit-for-bit at every iteration. Every per-iteration
    CTE is AS MATERIALIZED: each level references its predecessor ~4
    times (select + scalar-max, twice per half-step), so DuckDB's
    default inlining re-evaluates the chain 4^k times — the trust
    oracle at k=4 ran past 4 minutes before materialization, ~1 s
    after."""
    sql = "WITH " + _TRUTH_CLAIMS_CTE + """,
t0 AS (SELECT DISTINCT source, 1.0::DOUBLE AS trust FROM claims)"""
    for k in range(1, 5):
        sql += f""",
b{k} AS MATERIALIZED (
  SELECT entity, attr, value,
         cast(sum(cast(round(t.trust, 12) AS DECIMAL(28,12))) AS DOUBLE)
           AS raw
  FROM claims c JOIN t{k - 1} t USING (source)
  GROUP BY entity, attr, value),
bn{k} AS MATERIALIZED (
  SELECT entity, attr, value,
         round(raw / (SELECT max(raw) FROM b{k}), 12) AS belief
  FROM b{k}),
tr{k} AS MATERIALIZED (
  SELECT c.source,
         cast(sum(cast(round(b.belief, 12) AS DECIMAL(28,12))) AS DOUBLE)
           / count(*) AS raw
  FROM claims c JOIN bn{k} b USING (entity, attr, value)
  GROUP BY c.source),
t{k} AS MATERIALIZED (
  SELECT source, round(raw / (SELECT max(raw) FROM tr{k}), 12) AS trust
  FROM tr{k})"""
    return sql


@query(_truth_sql() + """,
nsrc AS (SELECT entity, attr, value, count(DISTINCT source) AS n_sources
         FROM claims GROUP BY entity, attr, value),
ranked AS (
  SELECT b.entity, b.attr, b.value, b.belief, n.n_sources,
         row_number() OVER (PARTITION BY b.entity, b.attr
                            ORDER BY b.belief DESC, b.value ASC) AS rk
  FROM bn4 b JOIN nsrc n USING (entity, attr, value))
SELECT entity, attr, value, round(belief, 8) AS belief, n_sources
FROM ranked WHERE rk = 1""")
def kg_truth_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery over conflicting multi-source claims
    (plans/fusion.truth_discovery, 4 iterations): one fused
    (entity, attr) row each — the belief-argmax value, its belief on
    the 8-dp grid, and the distinct-source count. The reference never
    fuses (it renders one curated registry JSON per package,
    lib/npm/NpmCouchDb.js); a crawl-scale extractor must. The planted
    tail entities pkg-16..19 are majority-vote-WRONG (spam clique 3 +
    a coinciding lone spammer vs 1 honest source) and fusion-right —
    pinned by tests/test_fusion.py. Hard oracle: the same fixpoint
    unrolled as chained CTEs on the identical 12-dp decimal grid."""
    from npm_extraction_server_spark.plans.fusion import truth_discovery

    return truth_discovery(_truth_claims(spark, sf_dir), iterations=4)


@query(_truth_sql() + """
SELECT source, round(trust, 8) AS trust FROM t4""")
def kg_truth_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final per-source trust vector of the same fixpoint
    (return_trust=True): honest sources score ~0.85-1.0, the spam
    clique ~0.013, lone spammers ~1e-4 — the source-reliability
    scorecard a crawl pipeline feeds back into fetch scheduling."""
    from npm_extraction_server_spark.plans.fusion import truth_discovery

    return truth_discovery(_truth_claims(spark, sf_dir), iterations=4,
                           return_trust=True)



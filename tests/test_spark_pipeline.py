"""Spark-side integration tests: pages -> docs -> triples, invariants,
Spark-vs-kernel parity (the Spark UDF path must emit exactly the oracle
kernel's triples), lineage, sink layout."""

import pytest
from pyspark.sql import functions as F

from fixtures import ROOT as FIXTURE_ROOT
from fixtures import all_packages

from npm_extraction_server_spark.kernel.pipeline import export_bundle
from npm_extraction_server_spark.plans.kg import (
    DEFAULT_ROOT,
    extract_docs,
    lineage,
    repartition_pages,
    run_pipeline,
    split_errors,
    verify_text_invariant,
    write_triples,
)
from npm_extraction_server_spark.sources.pages import pages_df

N_PAGES = 80


@pytest.fixture(scope="module")
def pipeline(spark):
    pages = pages_df(spark, N_PAGES, partitions=8)
    result = run_pipeline(pages, include_engines=True)
    result["triples"].cache().count()
    result["docs"].cache().count()
    return {"pages": pages, **result}


def _corpus(spark, root, rows):
    """A corpus directory holding every catalog table as ``rows`` rows
    of (id, lang, n_chars)."""
    from npm_extraction_server_spark.plans.catalog import TABLES

    df = spark.range(rows).select(
        "id", F.lit("en").alias("lang"), F.lit(300).alias("n_chars"))
    for t in TABLES:
        df.write.parquet(f"{root}/{t}.parquet")
    return str(root)


def test_sql_frontend_views(spark, tmp_path):
    """register_corpus/register_warehouse: the whole engine is reachable
    from plain spark.sql — a DuckDB-oracle query body runs verbatim-ish
    on Spark SQL, and a materialized warehouse queries by SQL too."""
    from npm_extraction_server_spark.plans.catalog import (
        register_corpus,
        register_warehouse,
    )
    from npm_extraction_server_spark.plans.warehouse import materialize_graph

    register_corpus(spark, _corpus(spark, tmp_path / "corpus", 3))
    row = spark.sql("""
        SELECT lang, count(*) AS n FROM documents
        WHERE n_chars > 200 GROUP BY lang ORDER BY n DESC, lang LIMIT 1
    """).collect()[0]
    assert row["n"] == 3
    pages = pages_df(spark, 12, partitions=2)
    materialize_graph(pages, str(tmp_path / "wh"), do_linking=False,
                      resolve_ranges=False)
    assert "triples" in register_warehouse(spark, str(tmp_path / "wh"))
    n = spark.sql("SELECT count(*) AS n FROM triples WHERE subj IS NOT NULL") \
        .collect()[0]["n"]
    assert n > 100


def test_catalog_sql_follows_corpus_dir(spark, tmp_path):
    """catalog.sql answers from the corpus directory it is given, also
    right after the views were registered for another one."""
    from npm_extraction_server_spark.plans.catalog import register_corpus, sql

    big = _corpus(spark, tmp_path / "big", 5)
    small = _corpus(spark, tmp_path / "small", 2)
    q = "SELECT count(*) AS n FROM lineitem"
    assert sql(spark, big, q).collect()[0]["n"] == 5
    register_corpus(spark, small)
    assert sql(spark, big, q).collect()[0]["n"] == 5
    assert sql(spark, small, q).collect()[0]["n"] == 2


def test_extract_counts(pipeline):
    docs = pipeline["docs"]
    kinds = {r["doc_kind"]: r["n"] for r in
             docs.groupBy("doc_kind").agg(F.count("*").alias("n")).collect()}
    assert kinds.get("npm_manifest") == N_PAGES  # one manifest per page
    assert kinds.get("jsonld", 0) > 0
    assert kinds.get("microdata", 0) > 0


def test_no_errors_and_triples_present(pipeline):
    assert pipeline["errors"].count() == 0
    assert pipeline["triples"].count() > 1000


def test_text_invariant(pipeline):
    assert verify_text_invariant(pipeline["pages"], pipeline["docs"]) == 0


def test_spark_matches_kernel_oracle(pipeline, spark):
    """Differential: the Spark path must reproduce the pure-Python kernel
    triple-for-triple on the same manifests (P/R == 1.0)."""
    import json as jsonlib

    docs = (
        pipeline["docs"].filter(F.col("doc_kind") == "npm_manifest")
        .select("doc_json").limit(10).collect()
    )
    spark_triples = (
        pipeline["triples"].filter(F.col("bundle").isNotNull())
        .select("bundle", "subj", "pred", "obj").collect()
    )
    by_bundle = {}
    for r in spark_triples:
        by_bundle.setdefault(r["bundle"], set()).add((r["subj"], r["pred"], r["obj"]))
    checked = 0
    for row in docs:
        doc = jsonlib.loads(row["doc_json"])
        expected = export_bundle(doc, DEFAULT_ROOT)
        assert expected.error is None
        exp_set = {(t.subj, t.pred, t.obj) for t in expected.triples}
        got = by_bundle.get(expected.bundle, set())
        assert got == exp_set, f"triple mismatch for {expected.bundle}"
        checked += 1
    assert checked == 10


def test_lineage_rows(pipeline):
    rows = pipeline["lineage"].collect()
    assert len(rows) > 0
    assert sum(r["n_failed"] for r in rows) == 0
    assert sum(r["n_out"] for r in rows) > 0


def test_engine_triples_included(pipeline):
    eng = pipeline["triples"].filter(F.col("bundle") == "engines")
    assert eng.count() > 50


def test_atomicity_error_rows(spark):
    """A page with a broken manifest yields an error row, zero triples
    for that bundle, and healthy pages are unaffected."""
    import json as jsonlib

    bad_pkg = all_packages()[0]
    bad_pkg["versions"]["1.0.0"]["license"] = {}
    html = (
        '<html><body><script type="application/json" data-kind="npm-manifest">'
        + jsonlib.dumps(bad_pkg) + "</script></body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [("http://x.org/bad", None, html, "t", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    r = run_pipeline(pages, include_engines=False)
    assert r["errors"].count() == 1
    assert r["triples"].count() == 0
    err = r["errors"].collect()[0]
    assert "toUpperCase" in err["error"]


def test_write_triples_bucketed(pipeline, tmp_path):
    out = str(tmp_path / "triples")
    write_triples(pipeline["triples"].limit(500), out, n_buckets=8)
    spark = pipeline["triples"].sparkSession
    back = spark.read.parquet(out)
    assert back.count() == 500
    assert "bucket" in back.columns
    assert back.select("bucket").distinct().count() > 1


def test_select_bundle_docs(pipeline, spark):
    """SC6 stdin-list mode: only the named bundles are processed."""
    from npm_extraction_server_spark.plans.kg import (
        docs_to_triples,
        select_bundle_docs,
        split_errors,
    )

    docs = pipeline["docs"]
    names = ["hotpkg", "pkg-7"]
    picked = select_bundle_docs(docs.filter(F.col("doc_kind") == "npm_manifest"),
                                names)
    triples, _ = split_errors(docs_to_triples(picked))
    got = {r["bundle"] for r in triples.select("bundle").distinct().collect()}
    assert got <= set(names) and "hotpkg" in got


def test_rdfa_lite_extraction():
    from npm_extraction_server_spark.extract.html import extract_parsed
    from npm_extraction_server_spark.kernel.jsonld_rdf import to_triples

    html = (b'<html><body>'
            b'<div vocab="http://schema.org/" typeof="Dataset">'
            b'<span property="name">ds1</span>'
            b'<a property="license" href="https://ex.org/l/1">L</a>'
            b'<span property="name">ignored-second-value</span>'
            b'</div>'
            b'<div vocab="http://schema.org/" typeof="Person">'
            b'<span property="name">alice</span>'
            b'</div></body></html>')
    out = extract_parsed("https://ex.org/p", html)
    rdfa = [doc for kind, doc in out if kind == "rdfa"]
    assert len(rdfa) == 2
    a, b = rdfa
    # scope indices skolemize per page; first text value per prop wins
    assert a["@id"] == "https://ex.org/p#rdfa0"
    assert a["@type"] == "http://schema.org/Dataset"
    assert a["http://schema.org/name"] == "ds1"
    assert a["http://schema.org/license"] == {"@id": "https://ex.org/l/1"}
    assert b["@id"] == "https://ex.org/p#rdfa1"
    assert b["http://schema.org/name"] == "alice"
    # rides the generic JSON-LD kernel branch: 3 triples for scope a
    ts = to_triples(a, root="https://ex.org/p")
    assert {(t.pred, t.obj) for t in ts} == {
        ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://schema.org/Dataset"),
        ("http://schema.org/license", "https://ex.org/l/1"),
        ("http://schema.org/name", '"ds1"'),
    }
    # pages without RDFa are untouched (no new kinds, no new docs)
    plain = extract_parsed("https://ex.org/q", b"<html><p>hi</p></html>")
    assert plain == []

"""How often a KG build runs its Python stages, and what the single
pass writes.

``materialize_graph`` materializes the fused pages->triples stage once
and reads triples, errors and lineage from that result; semver
resolution reads the pages once more, through ``extract_docs``. The
pass count is read from Spark's SQL status store: the rows that the
scans of the pages table returned, summed over the SQL executions of
the build's job group.
"""

import json
from collections import Counter

from fixtures import ROOT, pkg_simple


def _scala_iter(it):
    while it.hasNext():
        yield it.next()


def _rows_scanned(spark, group: str, path: str) -> int:
    """Rows returned by the parquet scans of ``path`` in the SQL
    executions that ran jobs of ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for ex in _scala_iter(store.executionsList().iterator()):
        if not jobs & {int(j) for j in _scala_iter(ex.jobs().keysIterator())}:
            continue
        values = store.executionMetrics(ex.executionId())
        for node in _scala_iter(store.planGraph(ex.executionId()).allNodes().iterator()):
            if not (node.name().startswith("Scan parquet") and path in node.desc()):
                continue
            for m in _scala_iter(node.metrics().iterator()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


def _build(spark, pages_path, out, **kw) -> int:
    """Run one build under its own job group (a group's job list is
    cumulative); return the pages rows its scans read."""
    from npm_extraction_server_spark.plans.warehouse import materialize_graph
    from npm_extraction_server_spark.sources.pages import read_pages

    sc = spark.sparkContext
    group = f"kg-build-passes:{out}"
    sc.setJobGroup(group, "materialize_graph")
    try:
        materialize_graph(read_pages(spark, pages_path), out, **kw)
    finally:
        sc.setJobGroup(None, None)
    return _rows_scanned(spark, group, pages_path)


def test_build_runs_fused_stage_once(spark, tmp_path):
    """The fused stage reads the pages once per build; semver edges read
    them once more (one docs pass). A second fused run, or a docs pass
    per semver table, reads them again and fails the count."""
    from npm_extraction_server_spark.sources.pages import pages_df, read_pages, write_pages

    n, pages = 40, str(tmp_path / "pages")
    write_pages(pages_df(spark, n, partitions=8), pages)
    # one scan per pass only without a repartition: passes that read a
    # shared url-hash shuffle would scan the table once between them
    parallelism = spark.sparkContext.defaultParallelism
    assert read_pages(spark, pages).rdd.getNumPartitions() >= parallelism
    assert _build(spark, pages, str(tmp_path / "full")) == 2 * n
    assert _build(spark, pages, str(tmp_path / "bare"), do_linking=False,
                  resolve_ranges=False) == n


def test_package_named_engines_written_once(spark, tmp_path):
    """A real npm package called ``engines`` shares its bundle name with
    the engine dimension; its triples must land in the table once each,
    exactly the kernel's output for its page."""
    from pyspark.sql import functions as F

    from npm_extraction_server_spark.kernel.pipeline import export_bundle
    from npm_extraction_server_spark.plans.warehouse import materialize_graph
    from npm_extraction_server_spark.sources.pages import PAGES_SCHEMA

    doc = pkg_simple()
    doc["name"] = "engines"
    for manifest in doc["versions"].values():
        manifest["name"] = "engines"
    url = "http://crawl.example.org/0/engines"
    html = ('<html><body><script type="application/json" data-kind="npm-manifest">'
            + json.dumps(doc) + "</script></body></html>")
    pages = spark.createDataFrame([(url, None, html.encode(), "", "en")], PAGES_SCHEMA)

    out = str(tmp_path / "graph")
    materialize_graph(pages, out, do_linking=False, resolve_ranges=False)
    rows = (spark.read.parquet(f"{out}/triples").filter(F.col("src_url") == url)
            .select("subj", "pred", "obj").collect())
    result = export_bundle(doc, ROOT)
    assert result.error is None and result.bundle == "engines"
    assert Counter(map(tuple, rows)) == Counter(
        (t.subj, t.pred, t.obj) for t in result.triples)

"""Crawl-frontier operators: robots.txt rules + politeness scheduling.

The step between the link graph and the next crawl: the outlink
frontier is filtered by each host's robots.txt rules and scheduled
into per-host fetch rounds that respect the host's crawl-delay — the
classic politeness constraint (never more than ``per_round`` URLs per
host per round, rounds spaced by the host's declared delay).

Everything is whole-stage codegen: robots parsing is regexp over the
fetched bytes, the filter is a broadcast anti-join on (host, prefix
match), and the schedule is one window over the host partition — the
same shuffle key the frontier is naturally grouped by. At 10^12 URLs
the frontier partitioning by host is exactly what a fetcher fleet
needs anyway (a host's queue lives on one partition), so the schedule
costs one shuffle that the fetch layout wants regardless; hub hosts
(huge queues) stay a single partition each, which is correct — the
crawl of one host is inherently serial under politeness, and the
window never materializes more than a partition stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sha_mod(salt: str, col, n: int):
    """Deterministic digit from sha256("<salt><value>") — 60-bit hex
    prefix mod n, reproducible bit-for-bit in DuckDB for the oracles
    (same recipe as the synthetic-corpus derivations)."""
    return F.pmod(
        F.conv(F.substring(F.sha2(F.concat(F.lit(salt), col), 256), 1, 15),
               16, 10).cast("long"), F.lit(n))


def synth_robots(hosts: DataFrame) -> DataFrame:
    """Deterministic robots.txt BYTES per ``host`` (the fetched-file model:
    real crawls store the raw response). Each host disallows one
    path-prefix family ``/p/<digit>`` and declares a crawl-delay of
    1-3 s — both pure sha256 functions of the host name, so DuckDB
    re-derives the exact rule set."""
    h = F.col("host")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /p/"),
        _sha_mod("rb:", h, 10).cast("string"),
        F.lit("\nCrawl-delay: "),
        (F.lit(1) + _sha_mod("cd:", h, 3)).cast("string"),
        F.lit("\n"))
    return hosts.select(h.alias("host"), F.encode(body, "UTF-8").alias("robots"))


def parse_robots(robots: DataFrame) -> DataFrame:
    """(host, robots bytes) -> one row per Disallow rule:
    (host, disallow_prefix, crawl_delay_s). Hosts whose file has no
    Disallow line (or an empty one — 'Disallow:' means allow-all in
    the robots.txt spec) emit no rule rows; crawl-delay defaults to 1
    when absent. Pure JVM regex — the bytes never reach Python."""
    txt = F.decode(F.col("robots"), "UTF-8")
    delay = F.regexp_extract(txt, r"(?m)^Crawl-delay:\s*(\d+)", 1)
    base = robots.select(
        "host",
        F.explode(F.regexp_extract_all(txt, F.lit(r"(?m)^Disallow:\s*(\S+)"),
                                       F.lit(1))).alias("disallow_prefix"),
        F.when(delay == "", F.lit(1))
         .otherwise(delay.cast("int")).alias("crawl_delay_s"))
    return base.filter(F.col("disallow_prefix") != "")


def _url_path(col):
    return F.regexp_extract(col, r"(?i)^https?://[^/#?]+([^#?]*)", 1)


def robots_filter(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """Drop frontier URLs (``canon_url``) whose path starts with a
    Disallow prefix of their host (``dst_host``). The rule table is
    tiny relative to the frontier (one small file per HOST, not per
    page) — broadcast left-anti join on host + prefix match, one pass
    over the frontier."""
    r = rules.select(F.col("host").alias("dst_host"), "disallow_prefix")
    path = _url_path(F.col("canon_url"))
    return frontier.join(
        F.broadcast(r),
        on=[frontier["dst_host"] == r["dst_host"],
            path.startswith(r["disallow_prefix"])],
        how="left_anti")


def fetch_rounds(frontier: DataFrame, rules: DataFrame,
                 per_round: int = 2) -> DataFrame:
    """Politeness schedule: each host's (``dst_host``) distinct,
    allowed URLs (``canon_url``) are ordered deterministically and cut
    into rounds of ``per_round``; the earliest fetch offset is round *
    the host's crawl-delay. At
    most ``per_round`` URLs of a host share a round — the invariant a
    polite fetcher fleet enforces. One window over the host partition;
    hosts without a crawl-delay rule default to 1 s."""
    delays = (rules.groupBy("host")
              .agg(F.max("crawl_delay_s").alias("crawl_delay_s"))
              .withColumnRenamed("host", "dst_host"))
    w = Window.partitionBy("dst_host").orderBy("canon_url")
    sched = (frontier.select("canon_url", "dst_host").distinct()
             .withColumn("rn", F.row_number().over(w))
             .withColumn("round",
                         ((F.col("rn") - 1) / per_round).cast("int"))
             .drop("rn"))
    return (sched.join(F.broadcast(delays), "dst_host", "left")
            .withColumn("crawl_delay_s",
                        F.coalesce("crawl_delay_s", F.lit(1)))
            .withColumn("fetch_offset_s",
                        F.col("round") * F.col("crawl_delay_s")))


def synth_sitemaps(hosts: DataFrame) -> DataFrame:
    """Deterministic sitemap XML per ``host`` (the fetched-file model,
    like synth_robots): ~1/4 of hosts publish a SITEMAP INDEX at
    /sitemap.xml referencing two child sitemaps; the rest publish a
    plain urlset there. Every urlset carries 3-6 <url> entries with
    <loc>/<lastmod>/<priority>, all pure sha256 functions of the
    sitemap URL, so DuckDB re-derives the exact frontier. Returns
    (host, sitemap_url, xml bytes) — one row per sitemap FILE (index
    hosts emit the index plus both children)."""
    h = F.col("host")
    root = F.concat(F.lit("http://"), h, F.lit("/sitemap.xml"))
    is_idx = _sha_mod("si:", h, 4) == 0
    child = [F.concat(F.lit("http://"), h, F.lit(f"/sitemap-{c}.xml"))
             for c in (0, 1)]
    files = hosts.select(
        h.alias("host"),
        F.explode(F.when(is_idx, F.array(root, *child))
                  .otherwise(F.array(root))).alias("sitemap_url"))

    su, host = F.col("sitemap_url"), F.col("host")
    index_xml = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex>'),
        F.lit("<sitemap><loc>"),
        F.concat(F.lit("http://"), host, F.lit("/sitemap-0.xml")),
        F.lit("</loc></sitemap><sitemap><loc>"),
        F.concat(F.lit("http://"), host, F.lit("/sitemap-1.xml")),
        F.lit("</loc></sitemap></sitemapindex>"))
    n = (F.lit(3) + _sha_mod("sn:", su, 4)).cast("int")

    def entry(j):
        key = F.concat(su, F.lit("#"), j.cast("string"))
        return F.concat(
            F.lit("<url><loc>http://"), host, F.lit("/s/"),
            _sha_mod("loc:", key, 1000).cast("string"),
            F.lit("</loc><lastmod>2024-01-"),
            F.lpad((F.lit(1) + _sha_mod("lm:", key, 28)).cast("string"),
                   2, "0"),
            F.lit("</lastmod><priority>0."),
            _sha_mod("pr:", key, 10).cast("string"),
            F.lit("</priority></url>"))

    urlset_xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.array_join(F.transform(F.sequence(F.lit(1), n), entry), ""),
        F.lit("</urlset>"))
    is_root_index = su.endswith("/sitemap.xml") \
        & (_sha_mod("si:", host, 4) == 0)
    return files.select(
        "host", "sitemap_url",
        F.encode(F.when(is_root_index, index_xml).otherwise(urlset_xml),
                 "UTF-8").alias("xml"))


def parse_sitemap(sitemaps: DataFrame) -> DataFrame:
    """(host, sitemap_url, xml bytes) -> one row per entry:
    ``kind='index'`` rows carry a child sitemap URL in ``loc``
    (lastmod/priority null); ``kind='urlset'`` rows carry a page URL
    with its lastmod/priority strings. Pure JVM regex over the
    fetched bytes."""
    txt = F.decode(F.col("xml"), "UTF-8")
    idx = (sitemaps
           .filter(txt.contains("<sitemapindex"))
           .select("host", "sitemap_url", F.lit("index").alias("kind"),
                   F.explode(F.regexp_extract_all(
                       txt, F.lit("<loc>(.*?)</loc>"), F.lit(1)))
                   .alias("loc"),
                   F.lit(None).cast("string").alias("lastmod"),
                   F.lit(None).cast("string").alias("priority")))
    ent = (sitemaps
           .filter(~txt.contains("<sitemapindex"))
           .select("host", "sitemap_url", F.lit("urlset").alias("kind"),
                   F.explode(F.regexp_extract_all(
                       txt, F.lit("<url>(.*?)</url>"), F.lit(1)))
                   .alias("e")))
    ent = ent.select(
        "host", "sitemap_url", "kind",
        F.regexp_extract("e", "<loc>(.*?)</loc>", 1).alias("loc"),
        F.regexp_extract("e", "<lastmod>(.*?)</lastmod>", 1).alias("lastmod"),
        F.regexp_extract("e", "<priority>(.*?)</priority>", 1)
        .alias("priority"))
    return idx.unionByName(ent)


def sitemap_frontier(sitemaps: DataFrame) -> DataFrame:
    """Expand every host's ROOT sitemap into its URL frontier:
    urlset roots contribute their entries directly; index roots join
    their child references against the fetched child sitemaps (the
    fetch-join a real crawler performs) and contribute the children's
    entries. Returns (host, loc, lastmod, priority). Child sitemaps
    not referenced by any root index are ignored — reachability, not
    directory listing."""
    parsed = parse_sitemap(sitemaps)
    is_root = F.col("sitemap_url").endswith("/sitemap.xml")
    direct = (parsed.filter(is_root & (F.col("kind") == "urlset"))
              .select("host", "loc", "lastmod", "priority"))
    refs = (parsed.filter(is_root & (F.col("kind") == "index"))
            .select("host", F.col("loc").alias("child_url")))
    children = (parsed.filter((~is_root) & (F.col("kind") == "urlset"))
                .select(F.col("host").alias("h2"),
                        F.col("sitemap_url").alias("child_url"),
                        "loc", "lastmod", "priority"))
    via_index = (refs.join(children,
                           (refs["child_url"] == children["child_url"])
                           & (refs["host"] == children["h2"]))
                 .select("host", "loc", "lastmod", "priority"))
    return direct.unionByName(via_index)

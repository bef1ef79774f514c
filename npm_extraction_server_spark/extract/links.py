"""Web link-graph extraction: html -> outlinks -> host graph.

The Common-Crawl operation the KG pipeline's page table exists for
beyond metadata extraction: pull every ``<a href>`` out of the raw
html, aggregate to a host-level graph, and rank hosts. All of it stays
JVM-side whole-stage codegen — ``regexp_extract_all`` + ``explode`` +
hash aggregates; no Python touches the hot path (the html column never
crosses into a Python worker).

Scale notes (100 TB): outlink extraction is embarrassingly parallel
(map-only over the page scan — html/url are the only columns read, so
column pruning drops text for free). The host-degree and co-citation
aggregates shuffle only (host, host) pairs — bytes per page, not the
page itself — and hub hosts (the power-law head) are exactly the keys
Spark's AQE skew handling + partial map-side aggregation absorb:
``groupBy`` on host emits one partial row per (partition, host), so a
hub appearing in every page still contributes only ``#partitions``
rows to the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.rounds import _rounds

# any anchor, however many attributes precede href (double-quoted)
_HREF_RE = r'<a[^>]*href="([^"]+)"'
# scheme is matched case-insensitively: crawled hrefs carry HTTP:// too
_HOST_RE = r"(?i)^https?://([^/#?]+)"
_SCHEME_RE = r"(?i)^(https?)://"
_REST_RE = r"(?i)^https?://[^/#?]+([^#]*)"


def _strip_default_port(scheme, host):
    return (
        F.when((scheme == F.lit("http")) & host.endswith(":80"),
               F.substring(host, F.lit(1), F.length(host) - 3))
        .when((scheme == F.lit("https")) & host.endswith(":443"),
              F.substring(host, F.lit(1), F.length(host) - 4))
        .otherwise(host)
    )


def normalize_url(col) -> "F.Column":
    """Canonical form of a crawled http(s) URL, as one codegen
    projection: lowercase scheme + host, strip an explicit default
    port (:80 for http, :443 for https), drop the fragment. Path and
    query are preserved byte-for-byte (case is significant there).
    Non-http(s) inputs pass through unchanged."""
    col = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(col, _SCHEME_RE, 1))
    host = _strip_default_port(scheme, F.lower(F.regexp_extract(col, _HOST_RE, 1)))
    rest = F.regexp_extract(col, _REST_RE, 1)
    return F.when(scheme != "", F.concat(scheme, F.lit("://"), host, rest)) \
            .otherwise(col)


def outlinks(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, html, ...) -> one row per anchor: (url, dst_url,
    dst_host). ``dst_url`` is the raw href; ``dst_host`` is already
    canonical (lowercased, default port stripped) so every downstream
    host aggregate keys on the normalized entity. Duplicate links on a
    page are kept (they carry weight in the host graph); use
    ``distinct()`` downstream if not."""
    html_str = F.decode(F.col("html"), "UTF-8")
    raw_host = F.lower(F.regexp_extract("dst_url", _HOST_RE, 1))
    scheme = F.lower(F.regexp_extract("dst_url", _SCHEME_RE, 1))
    return (
        pages
        .select(
            "url",
            F.explode(F.regexp_extract_all(html_str, F.lit(_HREF_RE), F.lit(1)))
            .alias("dst_url"),
        )
        .withColumn("dst_host", _strip_default_port(scheme, raw_host))
    )


# full anchor element (attrs + simple text body), for (href, text) pairs
_ANCHOR_RE = r'<a[^>]*href="[^"]+"[^>]*>[^<]*</a>'


def anchor_texts(pages: DataFrame) -> DataFrame:
    """(url, html, ...) -> one row per anchor: (url, dst_url, anchor)
    — the link text under which the web refers to the target. The
    input to anchor-text retrieval (the strongest relevance signal in
    classic web search). Two-stage JVM regex: extract whole <a>
    elements first, then pull href/text out of each element — Spark's
    ``regexp_extract_all`` returns a single group, so pairs need the
    element as the intermediate row."""
    html_str = F.decode(F.col("html"), "UTF-8")
    return (
        pages
        .select(
            "url",
            F.explode(F.regexp_extract_all(html_str, F.lit(_ANCHOR_RE), F.lit(0)))
            .alias("tag"),
        )
        .select(
            "url",
            F.regexp_extract("tag", r'href="([^"]+)"', 1).alias("dst_url"),
            F.regexp_extract("tag", r">([^<]*)</a>$", 1).alias("anchor"),
        )
    )


def host_degree(links: DataFrame) -> DataFrame:
    """Host-level in-degree: for every destination host, the total
    anchor count and the number of distinct citing pages. One hash
    aggregate with map-side partials; hub skew collapses before the
    shuffle."""
    return (
        links
        .groupBy("dst_host")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("url").alias("n_pages"),
        )
    )


def cocitation(links: DataFrame) -> DataFrame:
    """Host co-citation graph: hosts a < b get an edge weighted by the
    number of pages whose outlinks cite both. The classic webgraph
    projection (Kessler 1963 applied to hosts).

    Implemented without a self-join: per page the distinct host set is
    small (bounded by links-per-page), so we collect it per page
    (first aggregate), expand the intra-page pairs with a JVM-side
    array comprehension (``transform``+``flatten``+``filter`` — no
    Python), and count. The shuffle carries one row per page, then one
    per (a, b) pair; a page with k hosts expands to k*(k-1)/2 rows
    only AFTER the per-page aggregate, so hub pages never amplify the
    first shuffle."""
    per_page = (
        links.select("url", "dst_host").distinct()
        .groupBy("url")
        .agg(F.sort_array(F.collect_set("dst_host")).alias("hosts"))
    )
    pairs = per_page.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "hosts",
                        lambda a: F.transform(
                            per_page["hosts"], lambda b: F.struct(
                                a.alias("a"), b.alias("b"))),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("pair")
    )
    return (
        pairs.select(F.col("pair.a").alias("host_a"),
                     F.col("pair.b").alias("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("weight"))
    )


def resolve_redirects(redirects: DataFrame, max_hops: int = 16) -> DataFrame:
    """Redirect-chain resolution — collapse every crawl-discovered
    redirect (301/302/canonical) to its terminal URL so dedup and
    link analysis key on ONE identity per page. ``redirects`` is a
    partial function table (src_url, dst_url), one out-edge per
    src_url; output has one row per src with (final_url, hops,
    unresolved): ``unresolved`` marks cycles and chains longer than
    ``max_hops`` (final_url/hops NULL — a crawler treats those as
    traps).

    Pointer doubling: after k self-join rounds every chain of length
    <= 2^k is fully collapsed, so resolution costs ceil(log2(
    max_hops)) rounds, NOT chain-length rounds — the same discipline
    as connected components (a 10^7-long vanity chain would take
    10^7 sequential joins naively, 24 here). Each round is one
    src-keyed hash join on the (shrinking-constant) chain table; the
    chain table is the ``plans/rounds._rounds`` state, lazily
    localCheckpoint-ed per round so Catalyst never replays prior
    rounds (plan-diamond rule).

    A src whose final target still has an out-edge after the rounds
    either sits on a cycle or exceeds max_hops — both unresolved:
    exact hop counts survive the doubling (hops(u) = hops_a + hops_b
    at each squaring), so resolved rows report the TRUE chain length.
    """
    import math

    def step(_, hist: list[DataFrame]) -> DataFrame:
        cur = hist[-1]
        nxt = cur.alias("a").join(
            cur.select(F.col("src").alias("b_src"),
                       F.col("cur").alias("b_cur"),
                       F.col("hops").alias("b_hops")),
            F.col("a.cur") == F.col("b_src"), "left")
        return nxt.select(
            F.col("a.src").alias("src"),
            F.coalesce("b_cur", F.col("a.cur")).alias("cur"),
            (F.col("a.hops")
             + F.coalesce("b_hops", F.lit(0))).alias("hops"))

    cur = redirects.select(F.col("src_url").alias("src"),
                           F.col("dst_url").alias("cur"),
                           F.lit(1).cast("long").alias("hops"))
    rounds = max(1, math.ceil(math.log2(max_hops)))
    cur = _rounds(step, cur, rounds, until_empty=False)[-1]
    dom = (redirects.select(F.col("src_url").alias("cur"))
           .distinct().withColumn("_dom", F.lit(True)))
    out = cur.join(dom, "cur", "left")
    bad = F.col("_dom").isNotNull() | (F.col("hops") > max_hops)
    return out.select(
        F.col("src").alias("src_url"),
        F.when(bad, F.lit(None)).otherwise(F.col("cur"))
        .alias("final_url"),
        F.when(bad, F.lit(None)).otherwise(F.col("hops"))
        .cast("long").alias("hops"),
        bad.alias("unresolved"))

"""Per-entity query surface: the DataFrame equivalents of the
reference HTTP server's routes (/root/reference/bin/index.js:144-274).

A reference user's queries map 1:1:

  GET /bundles/npm/:pkg            -> bundle_triples(triples, pkg)
  GET /bundles/npm/:pkg/:version   -> module_request(...): exact/range/
                                      dist-tag resolution; non-exact
                                      matches yield the 307-redirect
                                      npm:maxSatisfying triple
                                      (bin/index.js:162-175)
  GET /users/npm/:user             -> user_triples(...) (maintains
                                      edges, NpmUser.js:36-53)
  GET /engines/:engine[/:version]  -> engine_triples_for(...)
  Accept-header conneg             -> negotiate(accept) -> serializer
                                      (formatMap bin/index.js:31-37)

All are partition-pruned point lookups over the bucketed triples table:
the subj-hash bucket is computed driver-side so the scan touches ONE
bucket directory (the Iceberg bucket-pruning pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.serialize import SERIALIZERS
from ..kernel.uris import bundle_uri, engine_bundle_uri, engine_module_uri, module_uri, user_uri

# the reference's formatMap (bin/exportTriples.js:14-21, bin/index.js:31-37)
CONTENT_TYPES = {
    "jsonld": "application/ld+json",
    "nt": "application/n-triples",
    "nq": "application/n-quads",
    "n3": "text/n3",
    "ttl": "text/turtle",
    "trig": "application/trig",
}
_BY_MIME = {v: k for k, v in CONTENT_TYPES.items()}


class NotAcceptable(ValueError):
    """No acceptable representation — the HTTP-server analog of
    Express res.format()'s 406 (/root/reference/bin/index.js:140)."""


def negotiate(accept: str | None, strict: bool = False) -> str:
    """Accept header -> format key. Absent or a wildcard -> "nt"
    (N-Triples); unknown -> "nt" for batch callers, while
    ``strict=True`` replicates the reference server exactly: an Accept
    header that matches no supported type raises NotAcceptable
    (-> 406), as Express res.format does."""
    if not accept:
        return "nt"
    for part in accept.split(","):
        mime = part.split(";")[0].strip().lower()
        if mime in _BY_MIME:
            return _BY_MIME[mime]
        if mime in ("*/*", "text/*", "application/*"):
            return "nt"
    if strict:
        raise NotAcceptable(accept)
    return "nt"


def split_format_ext(path: str) -> tuple[str, str | None]:
    """The reference's file-extension middleware
    (/root/reference/bin/index.js:40-55): a recognized trailing ``.ext``
    on the route path overrides content negotiation and is stripped from
    the canonical URL. Returns (path_without_ext, fmt or None);
    unrecognized extensions are left in place (fmt None)."""
    idx = path.rfind(".")
    if idx > path.rfind("/"):
        ext = path[idx + 1:].lower()
        if ext in ("json", "jsonld") or ext in CONTENT_TYPES:
            return path[:idx], ext
    return path, None


def serialize_answer(triples_rows, fmt: str = "nt") -> str:
    """Rows (subj,pred,obj,obj_is_literal,graph) -> serialized text."""
    from ..kernel.jsonld_rdf import Triple

    ts = [Triple(r["subj"], r["pred"], r["obj"], r["obj_is_literal"],
                 r["graph"] if "graph" in r.__fields__ else None)
          for r in triples_rows]
    return SERIALIZERS[fmt](ts)


def _bucket_pruned(triples: DataFrame, subject: str,
                   n_buckets: int | None = None) -> DataFrame:
    """Point lookup with driver-side bucket computation: when the table
    carries the writer's ``bucket`` column, restrict the scan to the
    one matching partition directory before the subj filter."""
    df = triples
    if n_buckets and "bucket" in triples.columns:
        spark = triples.sparkSession
        bucket = spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(subject)), F.lit(n_buckets)).cast("int")
            .alias("b")).collect()[0]["b"]
        df = df.filter(F.col("bucket") == bucket)
    return df


def entity_triples(triples: DataFrame, iri: str,
                   n_buckets: int | None = None) -> DataFrame:
    """All triples with the given subject (one bucket scanned)."""
    return _bucket_pruned(triples, iri, n_buckets).filter(F.col("subj") == iri)


def bundle_triples(triples: DataFrame, pkg: str, root: str = "http://example.org/",
                   n_buckets: int | None = None) -> DataFrame:
    return entity_triples(triples, bundle_uri(root, pkg), n_buckets)


def user_triples(triples: DataFrame, user: str, root: str = "http://example.org/",
                 n_buckets: int | None = None) -> DataFrame:
    """User route: the maintains edges point AT the user (doap:maintainer
    objects) plus any identity triples on the user node."""
    iri = user_uri(root, user)
    own = entity_triples(triples, iri, n_buckets)
    maintains = triples.filter((F.col("obj") == iri) & ~F.col("obj_is_literal"))
    return own.unionByName(maintains)


def engine_triples_for(triples: DataFrame, engine: str, version: str | None = None,
                       root: str = "http://example.org/",
                       n_buckets: int | None = None) -> DataFrame:
    iri = (engine_module_uri(root, engine, version) if version
           else engine_bundle_uri(root, engine))
    return entity_triples(triples, iri, n_buckets)


def module_request(triples: DataFrame, docs: DataFrame, pkg: str, requested: str,
                   root: str = "http://example.org/",
                   n_buckets: int | None = None) -> dict:
    """GET /bundles/npm/:pkg/:version semantics (bin/index.js:162-175):
    resolve the requested version (exact | maxSatisfying | dist-tag);
    if the resolution differs from the request, the answer is the
    307-redirect triple <requested> npm:maxSatisfying <resolved>;
    otherwise the module's own triples. Returns
    {status, resolved_version, triples: DataFrame}."""
    import json as jsonlib

    from ..kernel.pipeline import resolve_module_version
    from ..kernel.vocab import PREFIXES

    doc_rows = (
        docs.filter(F.col("doc_kind") == "npm_manifest")
        .filter(F.get_json_object("doc_json", "$.name") == pkg)
        .select("doc_json").limit(1).collect()
    )
    if not doc_rows:
        return {"status": 404, "resolved_version": None, "triples": None}
    doc = jsonlib.loads(doc_rows[0]["doc_json"])
    resolved = resolve_module_version(doc, requested)
    if resolved is None:
        return {"status": 404, "resolved_version": None, "triples": None}
    if resolved != requested:
        spark = triples.sparkSession
        redirect = spark.createDataFrame(
            [(module_uri(root, pkg, requested),
              PREFIXES["npm"] + "maxSatisfying",
              module_uri(root, pkg, resolved), False, None)],
            "subj string, pred string, obj string, obj_is_literal boolean, "
            "graph string")
        return {"status": 307, "resolved_version": resolved, "triples": redirect}
    return {
        "status": 200,
        "resolved_version": resolved,
        "triples": entity_triples(triples, module_uri(root, pkg, resolved),
                                  n_buckets),
    }


def route(triples: DataFrame, docs: DataFrame, path: str,
          accept: str | None = None, root: str = "http://example.org/",
          n_buckets: int | None = None) -> dict:
    """The full server-mode dispatcher — one call per reference route
    (/root/reference/bin/index.js:144-274), composing the middleware
    chain: .ext override (bin/index.js:40-55) -> strict conneg (406,
    :140) -> path dispatch -> entity lookup / 307 redirect / 404.

    Returns {status, fmt, triples: DataFrame|None, resolved_version?}.
    Scoped packages arrive URL-style ("@org%2Fname" or "@org/name" as
    two segments) exactly like the reference's @org middleware
    re-joins them (bin/index.js:57-67)."""
    stripped, ext_fmt = split_format_ext(path)
    if ext_fmt in ("json", "jsonld"):
        ext_fmt = "jsonld"
    try:
        fmt = ext_fmt or negotiate(accept, strict=True)
    except NotAcceptable:
        return {"status": 406, "fmt": None, "triples": None}

    parts = [p for p in stripped.strip("/").split("/") if p]
    # re-join scoped "@org"/"name" into one pkg segment, like the
    # reference's @org middleware
    if len(parts) >= 4 and parts[:2] == ["bundles", "npm"] \
            and parts[2].startswith("@"):
        parts = parts[:2] + [parts[2] + "/" + parts[3]] + parts[4:]

    def ok(df: DataFrame) -> dict:
        return {"status": 200, "fmt": fmt, "triples": df}

    if len(parts) >= 3 and parts[0] == "bundles" and parts[1] == "npm":
        pkg = parts[2].replace("%2F", "/").replace("%40", "@")
        if len(parts) == 3:
            df = bundle_triples(triples, pkg, root, n_buckets)
            return ok(df)
        if len(parts) == 4:
            res = module_request(triples, docs, pkg, parts[3], root, n_buckets)
            res["fmt"] = fmt if res["status"] != 406 else None
            return res
    if len(parts) == 3 and parts[0] == "users" and parts[1] == "npm":
        return ok(user_triples(triples, parts[2], root, n_buckets))
    if len(parts) in (2, 3) and parts[0] == "engines":
        version = parts[2] if len(parts) == 3 else None
        return ok(engine_triples_for(triples, parts[1], version, root, n_buckets))
    return {"status": 404, "fmt": fmt, "triples": None}

"""J1: the semver range-resolution join, distributed.

Reference semantics (/root/reference/lib/npm/NpmBundle.js:41-59): exact
version-key match, else ``semver.maxSatisfying`` over the bundle's
version set, else dist-tag indirection; the resolution is materialized
as an ``npm:maxSatisfying`` triple (/root/reference/bin/index.js:167-171).

Spark shape (SURVEY.md J1): dep edges equi-join the per-package version
list (collect_list keeps the right side bounded: one row per package,
versions arrays of bounded size), then a vectorized pandas UDF applies
max-satisfying per Arrow batch. ``pkg`` is the skew key — head packages
(lodash-alikes) dominate — so AQE skew-join is on session-wide and an
optional broadcast of the head-package version dictionary short-circuits
the hot keys entirely.
"""

from __future__ import annotations

import json as jsonlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEP_KEYS = ("dependencies", "devDependencies", "peerDependencies",
             "optionalDependencies")

# One row per fact of a manifest, tagged by ``row_kind``: "edge" rows
# fill (pkg, version) as (src_bundle, src_version) plus the dep_*
# columns, "version" rows (pkg, version), "tag" rows (pkg, tag_*).
# ``tag_resolved`` is the tag's FULLY-resolved concrete version:
# multi-level tag chains ("next" -> "beta" -> "1.2.3") are followed at
# extraction time, where the whole package doc (versions + all tags) is
# local to the row — zero extra shuffles, exact kernel recursion
# semantics (kernel/pipeline.py resolve_module_version,
# NpmBundle.js:41-59).
MANIFEST_ROWS_SCHEMA = T.StructType([
    T.StructField("row_kind", T.StringType(), False),
    T.StructField("pkg", T.StringType(), True),
    T.StructField("version", T.StringType(), True),
    T.StructField("dep_type", T.StringType(), True),
    T.StructField("dep_pkg", T.StringType(), True),
    T.StructField("dep_range", T.StringType(), True),
    T.StructField("tag", T.StringType(), True),
    T.StructField("tag_version", T.StringType(), True),
    T.StructField("tag_resolved", T.StringType(), True),
])


def _manifest_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse each manifest once and emit its edge, version and tag rows."""
    from ..functions.semver import valid_range
    from ..kernel.pipeline import resolve_module_version

    cols = [f.name for f in MANIFEST_ROWS_SCHEMA.fields]
    for pdf in batches:
        rows = []
        for doc_json in pdf["doc_json"]:
            doc = jsonlib.loads(doc_json)
            name = doc.get("name") or doc.get("_id")
            for ver, manifest in (doc.get("versions") or {}).items():
                rows.append(("version", name, ver, None, None, None, None, None, None))
                if not isinstance(manifest, dict):
                    continue
                for dep_type in _DEP_KEYS:
                    for pkg, rng in (manifest.get(dep_type) or {}).items():
                        if isinstance(rng, str) and valid_range(rng):
                            rows.append(("edge", name, ver, dep_type, pkg, rng,
                                         None, None, None))
            for tag, ver in (doc.get("dist-tags") or {}).items():
                # follow the chain: the tag's value may itself be a tag
                # (or a range) — exact kernel recursion, depth-capped
                rows.append(("tag", name, None, None, None, None, tag, ver,
                             resolve_module_version(doc, ver)))
        yield pd.DataFrame(rows, columns=cols)


def manifest_rows(docs: DataFrame) -> DataFrame:
    """The npm_manifest docs parsed once into tagged rows
    (MANIFEST_ROWS_SCHEMA). The edge, version and tag tables are JVM
    projections of it; checkpoint it when more than one is needed."""
    return (
        docs.filter(F.col("doc_kind") == "npm_manifest")
        .select("doc_json")
        .mapInPandas(_manifest_partition, schema=MANIFEST_ROWS_SCHEMA)
    )


def edges_of(rows: DataFrame) -> DataFrame:
    return rows.filter(F.col("row_kind") == "edge").select(
        F.col("pkg").alias("src_bundle"), F.col("version").alias("src_version"),
        "dep_type", "dep_pkg", "dep_range")


def versions_of(rows: DataFrame) -> DataFrame:
    return (rows.filter(F.col("row_kind") == "version")
            .select("pkg", "version")
            .dropDuplicates(["pkg", "version"]))


def tags_of(rows: DataFrame) -> DataFrame:
    return (rows.filter(F.col("row_kind") == "tag")
            .select("pkg", "tag", "tag_version", "tag_resolved")
            .dropDuplicates(["pkg", "tag"]))


def dependency_edges(docs: DataFrame) -> DataFrame:
    """(src_bundle, src_version, dep_type, dep_pkg, dep_range) for every
    semver-range dependency in npm_manifest docs."""
    return edges_of(manifest_rows(docs))


def version_rows(docs: DataFrame) -> DataFrame:
    """(pkg, version): every version key of every manifest, deduplicated."""
    return versions_of(manifest_rows(docs))


def dist_tag_rows(docs: DataFrame) -> DataFrame:
    """(pkg, tag, tag_version, tag_resolved): see MANIFEST_ROWS_SCHEMA."""
    return tags_of(manifest_rows(docs))


@F.pandas_udf(T.StringType())
def _max_satisfying_udf(versions: pd.Series, rng: pd.Series) -> pd.Series:
    """Vectorized maxSatisfying with the exact-match short-circuit
    (NpmBundle.js:45-47). Arrow-batched; no per-row Python dispatch
    from Spark's side."""
    from ..functions.semver import max_satisfying

    out = []
    for vlist, r in zip(versions, rng):
        if vlist is None or r is None:
            out.append(None)
        elif r in set(vlist):
            out.append(r)  # exact version-key match
        else:
            out.append(max_satisfying(list(vlist), r))
    return pd.Series(out, dtype=object)


def resolve_ranges(edges: DataFrame, versions: DataFrame,
                   dist_tags: DataFrame | None = None,
                   root: str = "http://example.org/") -> DataFrame:
    """Edges x per-package version sets -> resolved versions.

    Scale shape: the Python maxSatisfying runs over DISTINCT
    (dep_pkg, dep_range) pairs only — head ranges ("^1.0.0" against a
    hot package) repeat across millions of edges but resolve once —
    then the resolution joins back to the edge set on the pair key
    (AQE picks broadcast when the pair table is small, which it almost
    always is relative to the edges). Dist-tag fallback coalesces the
    tag's pre-resolved version (multi-level chains already followed at
    extraction, see MANIFEST_ROWS_SCHEMA); exact-before-tag order
    matches NpmBundle.js:41-59."""
    vsets = versions.groupBy("pkg").agg(
        F.sort_array(F.collect_list("version")).alias("version_set"))

    pairs = edges.select("dep_pkg", "dep_range").dropDuplicates()
    j = pairs.join(vsets, pairs.dep_pkg == vsets.pkg, "left").drop("pkg")
    resolved = j.withColumn(
        "resolved_version",
        _max_satisfying_udf(F.col("version_set"), F.col("dep_range")))

    if dist_tags is not None:
        tags = dist_tags.select(
            F.col("pkg").alias("t_pkg"), F.col("tag").alias("t_tag"),
            F.col("tag_resolved").alias("t_resolved"))
        resolved = (
            resolved.join(
                tags,
                (F.col("dep_pkg") == F.col("t_pkg"))
                & (F.col("dep_range") == F.col("t_tag")), "left")
            .withColumn(
                "resolved_version",
                F.coalesce(F.col("resolved_version"), F.col("t_resolved")))
            .drop("t_pkg", "t_tag", "t_resolved")
        )

    pair_res = resolved.select("dep_pkg", "dep_range", "resolved_version")
    return edges.join(pair_res, ["dep_pkg", "dep_range"], "left").select(
        "src_bundle", "src_version", "dep_type", "dep_pkg", "dep_range",
        "resolved_version",
    )


def max_satisfying_triples(resolved: DataFrame,
                           root: str = "http://example.org/") -> DataFrame:
    """The 307-redirect triple (bin/index.js:171): requested-range
    module IRI --npm:maxSatisfying--> resolved module IRI."""
    from ..kernel.vocab import PREFIXES

    enc = _encode_uri_component_col
    req = F.concat(F.lit(root + "bundles/npm/"), enc(F.col("dep_pkg")),
                   F.lit("/"), enc(F.col("dep_range")))
    res = F.concat(F.lit(root + "bundles/npm/"), enc(F.col("dep_pkg")),
                   F.lit("/"), enc(F.col("resolved_version")))
    return (
        resolved.filter(F.col("resolved_version").isNotNull())
        .select(
            req.alias("subj"),
            F.lit(PREFIXES["npm"] + "maxSatisfying").alias("pred"),
            res.alias("obj"),
        )
        .dropDuplicates(["subj", "obj"])
    )


@F.pandas_udf(T.StringType())
def _encode_uri_component_col(s: pd.Series) -> pd.Series:
    from ..functions.jsuri import encode_uri_component

    return s.map(lambda v: encode_uri_component(v) if v is not None else None)


def resolve_engine_ranges(edges: DataFrame, engine_index: dict[str, list[dict]],
                          spark=None) -> DataFrame:
    """J2: engine range resolution against the broadcast release
    dimension (/root/reference/lib/npm/NodeEngineBundle.js:34-44 —
    'v'-prefix stripped before maxSatisfying, re-prefixed after).
    ``edges``: (src_bundle, src_version, engine, engine_range)."""
    spark = spark or edges.sparkSession
    dim_rows = [
        (name, entry["version"][1:])
        for name, index in engine_index.items()
        for entry in index
    ]
    dim = spark.createDataFrame(dim_rows, "engine string, bare_version string")
    vsets = dim.groupBy("engine").agg(
        F.sort_array(F.collect_list("bare_version")).alias("version_set"))
    joined = edges.join(F.broadcast(vsets), "engine", "left")
    return (
        joined.withColumn(
            "resolved_bare",
            _max_satisfying_udf(F.col("version_set"), F.col("engine_range")))
        .withColumn(
            "resolved_version",
            F.when(F.col("resolved_bare").isNotNull(),
                   F.concat(F.lit("v"), F.col("resolved_bare"))))
        .select("src_bundle", "src_version", "engine", "engine_range",
                "resolved_version")
    )

"""Per-document pipeline: package doc -> triples (the oracle & UDF body).

Mirrors the export loop (/root/reference/bin/exportTriples.js:138-181):
per bundle, render EVERY version-module JSON-LD block then the bundle
block, convert each with its own toRDF call (own skolem scope), and emit
all-or-nothing — any error drops the whole bundle (T2, per-bundle
atomicity). Written once here, wrapped twice: called directly by pytest
goldens and inside the Spark ``mapInPandas`` triple-extraction stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..functions.semver import max_satisfying
from .bundle import bundle_jsonld
from .engines import engine_bundle_jsonld, engine_module_jsonld
from .jsonld_rdf import Triple, to_triples
from .module import module_jsonld
from .uris import bundle_uri, engine_bundle_uri, engine_module_uri, module_uri
from .usermap import build_user_map


def error_message(error: Exception) -> str:
    """S22 (/root/reference/bin/exportTriples.js:123-136): recursive
    cause-chain flattening."""
    msg = f"{type(error).__name__}: {error}"
    cause = error.__cause__ or error.__context__
    if cause is not None and cause is not error:
        msg += "\n" + error_message(cause)
    return msg


@dataclass
class BundleResult:
    bundle: str
    triples: list[Triple] = field(default_factory=list)
    n_docs: int = 0  # toRDF calls (modules + bundle)
    error: str | None = None


def export_bundle(package_doc: dict, root: str) -> BundleResult:
    """One bundle -> all its triples, atomically. NEVER raises: any
    malformed input (including a non-dict — a manifest blob can parse
    to a JSON array or scalar) becomes an error-row result, so one bad
    page can't fail a whole task."""
    if not isinstance(package_doc, dict):
        result = BundleResult(bundle=None)
        result.error = (f"Error: package document is "
                        f"{type(package_doc).__name__}, not an object")
        return result
    name = package_doc.get("name") or package_doc.get("_id")
    result = BundleResult(bundle=str(name))
    try:
        user_map = build_user_map(package_doc)
        triples: list[Triple] = []
        n_docs = 0
        for version in (package_doc.get("versions") or {}).keys():
            doc = module_jsonld(package_doc, name, version, root, user_map, output=True)
            triples.extend(to_triples(doc, root=module_uri(root, name, version)))
            n_docs += 1
        bdoc = bundle_jsonld(package_doc, name, root, user_map, output=True)
        triples.extend(to_triples(bdoc, root=bundle_uri(root, name)))
        n_docs += 1
        result.triples = triples
        result.n_docs = n_docs
    except Exception as e:  # per-bundle atomicity: no partial output
        result.triples = []
        result.error = error_message(e)
    return result


def export_engines(index_by_name: dict[str, list[dict]], root: str) -> list[Triple]:
    """Engine export (/root/reference/bin/exportTriples.js:183-201):
    every release module doc, then the engine bundle doc."""
    triples: list[Triple] = []
    for name, index in index_by_name.items():
        for entry in index:
            doc = engine_module_jsonld(name, entry, root)
            triples.extend(to_triples(doc, root=engine_module_uri(root, name, entry["version"])))
        bdoc = engine_bundle_jsonld(name, index, root)
        triples.extend(to_triples(bdoc, root=engine_bundle_uri(root, name)))
    return triples


def resolve_module_version(package_doc: dict, requested: str,
                           _depth: int = 0) -> str | None:
    """J1: NpmBundle.getModule (/root/reference/lib/npm/NpmBundle.js:41-59):
    exact match -> maxSatisfying -> dist-tag recursion -> None."""
    versions = package_doc.get("versions") or {}
    if requested in versions:
        return requested
    parsed = max_satisfying(list(versions.keys()), requested)
    if parsed:
        return parsed
    tags = package_doc.get("dist-tags") or {}
    if requested in tags and _depth < 16:
        return resolve_module_version(package_doc, tags[requested], _depth + 1)
    return None

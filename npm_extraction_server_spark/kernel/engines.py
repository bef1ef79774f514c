"""Engine (node/iojs) bundle + module JSON-LD.

Ports /root/reference/lib/npm/NodeEngineBundle.js:46-63 and
NodeEngineModule.js:38-59. The release index is a broadcast-able static
dimension (SC8 — the reference fetches nodejs.org/iojs.org index.json
once and memoizes, /root/reference/lib/npm/NodeEngines.js:12-33).
"""

from __future__ import annotations

from ..functions.jsuri import encode_uri_component as enc
from .uris import ENGINE_ROOTS, engine_bundle_uri, engine_module_base_uri, engine_module_uri

ENGINE_BUNDLE_CONTEXT = {
    "owl": "http://www.w3.org/2002/07/owl#",
    "doap": "http://usefulinc.com/ns/doap#",
    "doap:release": {"@type": "@id"},
}

ENGINE_MODULE_CONTEXT = {
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "dcterms": "http://purl.org/dc/terms/",
    "doap": "http://usefulinc.com/ns/doap#",
    "version": "doap:revision",
    "date": {"@id": "dcterms:created", "@type": "xsd:date"},
    "bundle": {"@reverse": "doap:release", "@type": "@id"},
}


def engine_bundle_jsonld(name: str, index: list[dict], root: str) -> dict:
    return {
        "@context": dict(ENGINE_BUNDLE_CONTEXT),
        "@id": engine_bundle_uri(root, name),
        "owl:sameAs": {"@id": ENGINE_ROOTS[name]},
        "doap:name": name,
        "doap:release": [
            engine_module_uri(root, name, entry["version"]) for entry in index
        ],
    }


def engine_module_jsonld(name: str, entry: dict, root: str) -> dict:
    clone = dict(entry)
    clone["@context"] = dict(ENGINE_MODULE_CONTEXT)
    clone["@id"] = engine_module_uri(root, name, entry["version"])
    clone["owl:sameAs"] = {"@id": ENGINE_ROOTS[name] + enc(entry["version"])}
    clone["bundle"] = engine_module_base_uri(root, name)[:-1]
    return clone

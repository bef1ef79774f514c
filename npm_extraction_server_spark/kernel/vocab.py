"""Vendored npm JSON-LD context + vocabulary constants.

The reference loads its key->IRI mapping from ``lib/contexts/npm.jsonld``
(/root/reference/lib/npm/NpmContext.js:10,
/root/reference/lib/util/JsonLdParser.js:12) — a git submodule that is
NOT checked out in the reference repo (SURVEY.md R1). This module is our
reconstruction from (a) the context IRI hard-coded at NpmContext.js:22,149
and (b) every explicit predicate usage in the reference code
(SURVEY.md Appendix A). It is the single source of truth for both the
Spark pipeline and the pytest fixture oracle.
"""

from __future__ import annotations

CONTEXT_IRI = "https://linkedsoftwaredependencies.org/contexts/npm.jsonld"

PREFIXES = {
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "doap": "http://usefulinc.com/ns/doap#",
    "dcterms": "http://purl.org/dc/terms/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "spdx": "http://spdx.org/rdf/terms#",
    "npm": "https://linkedsoftwaredependencies.org/vocabularies/npm#",
    "lsd": "https://linkedsoftwaredependencies.org/vocabularies/lsd#",
}

RDF_FIRST = PREFIXES["rdf"] + "first"
RDF_REST = PREFIXES["rdf"] + "rest"
RDF_NIL = PREFIXES["rdf"] + "nil"
RDF_TYPE = PREFIXES["rdf"] + "type"
XSD = PREFIXES["xsd"]

# The root @context content (reconstructed npm.jsonld).
# Term forms supported by our JSON-LD 1.0 processor (kernel/jsonld_rdf.py):
#   "term": "iri-or-curie"
#   "term": {"@id": ..., "@type": "@id" | curie, "@container": "@index"|"@list",
#            "@reverse": ...}
ROOT_CONTEXT: dict = {
    **PREFIXES,
    # --- bundle/module identity ---
    "name": "doap:name",
    "description": "doap:description",
    "version": "doap:revision",
    "versions": {"@id": "doap:release", "@type": "@id", "@container": "@index"},
    "bundle": {"@reverse": "doap:release", "@type": "@id"},
    "created": {"@id": "dcterms:created", "@type": "xsd:dateTime"},
    "modified": {"@id": "dcterms:modified", "@type": "xsd:dateTime"},
    # --- package.json surface ---
    "homepage": {"@id": "doap:homepage", "@type": "@id"},
    "bugs": {"@id": "doap:bug-database", "@type": "@id"},
    "keywords": "npm:keyword",
    "main": "npm:main",
    "readme": {"@id": "npm:readme", "@type": "@id"},
    "repository": {"@id": "doap:repository", "@type": "@id"},
    "license": {"@id": "spdx:licenseDeclared", "@type": "@id"},
    # --- people ---
    "author": "npm:author",
    "contributors": "npm:contributor",
    "maintainers": "doap:maintainer",
    "_npmUser": "npm:publisher",
    "email": {"@id": "foaf:mbox", "@type": "@id"},
    "foaf:homepage": {"@id": "foaf:homepage", "@type": "@id"},
    # --- dependencies ---
    "dependencies": {"@id": "npm:dependency", "@type": "@id", "@container": "@index"},
    "devDependencies": {"@id": "npm:devDependency", "@type": "@id", "@container": "@index"},
    "peerDependencies": {"@id": "npm:peerDependency", "@type": "@id", "@container": "@index"},
    "optionalDependencies": {
        "@id": "npm:optionalDependency", "@type": "@id", "@container": "@index",
    },
    "bundledDependencies": {"@id": "npm:bundledDependency", "@type": "@id"},
    "bundleDependencies": {"@id": "npm:bundledDependency", "@type": "@id"},
    "engines": {"@id": "npm:engine", "@type": "@id", "@container": "@index"},
    "_nodeVersion": {"@id": "npm:nodeVersion", "@type": "@id"},
    "_npmVersion": {"@id": "npm:npmVersion", "@type": "@id"},
    "pre-commit": {"@id": "npm:preCommitScript", "@type": "@id"},
    "precommit": {"@id": "npm:preCommitScript", "@type": "@id"},
    # --- dist ---
    "dist": "npm:dist",
    "tarball": {"@id": "npm:tarball", "@type": "@id"},
    "shasum": "npm:shasum",
    "integrity": "npm:integrity",
    "fileCount": "npm:fileCount",
    "unpackedSize": "npm:unpackedSize",
    # --- spdx structures (terms used as raw keys by NpmContext) ---
    "member": {"@id": "spdx:member", "@type": "@id"},
    "owl:sameAs": {"@id": "owl:sameAs", "@type": "@id"},
    "spdx:licenseInfoFromFiles": {"@id": "spdx:licenseInfoFromFiles", "@type": "@id"},
    "dcterms:license": {"@id": "dcterms:license", "@type": "@id"},
    "spdx:licenseException": {"@id": "spdx:licenseException", "@type": "@id"},
    # --- misc kept columns ---
    "_id": "npm:packageId",
    "scripts": "npm:scripts",  # deleted pre-toRDF by NpmModule (S12) but mapped
    "files": "npm:file",
    "bin": "npm:bin",
    "man": "npm:man",
    "os": "npm:os",
    "cpu": "npm:cpu",
    "private": "npm:private",
    "deprecated": "npm:deprecated",
}

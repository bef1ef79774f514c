"""JSON-LD 1.0 -> RDF triples over the closed npm vocabulary (T1).

Deterministic pure-Python reimplementation of the reference's
``JsonLdParser.toRDF`` path (/root/reference/lib/util/JsonLdParser.js:22-136):

  jsonld.promises.toRDF (JSON-LD 1.0 deserialization, jsonld@0.4.11)
  -> per-triple IRI validity filter (isValid, :127-136)
  -> blank-node skolemization (md5 + per-call counter, :85-104)
  -> N3-style literal encoding (convertEntity, :111-125)

Scope is bounded (SURVEY.md R3): the documents fed to this function are
produced by our own transforms over the vendored context
(kernel/vocab.py), so only the JSON-LD fragment those shapes exercise is
implemented: term/CURIE/absolute-IRI keys, @id/@type coercion,
@container @index, @list, @reverse terms, @graph at top level, typed
literals for JSON natives, value objects.

One call == one document == one reference ``toRDF`` invocation (the
export loop calls it once per module/bundle doc,
/root/reference/bin/exportTriples.js:160-161), so the skolem counter is
per-document, matching the reference's reset at JsonLdParser.js:34.
"""

from __future__ import annotations

import hashlib
import math
from typing import NamedTuple

from ..functions.jsuri import iri_is_valid, url_join
from .vocab import CONTEXT_IRI, RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, ROOT_CONTEXT, XSD

KEYWORDS = {"@id", "@type", "@context", "@graph", "@list", "@value", "@language", "@reverse"}
_XSD_STRING = XSD + "string"


class Triple(NamedTuple):
    # NamedTuple, not a frozen dataclass: construction is ~4x faster
    # (the frozen-dataclass __init__ goes through object.__setattr__),
    # and the kernel builds hundreds of millions of these at corpus scale
    subj: str
    pred: str
    obj: str  # IRI, or N3-encoded literal ("v", "v"@lang, "v"^^dt)
    obj_is_literal: bool
    graph: str | None = None


_ROOT_ONLY_MERGED: dict | None = None


def merge_contexts(contexts) -> dict:
    """NpmContext.mergeContexts (/root/reference/lib/npm/NpmContext.js:14-27):
    array of (IRI | inline dict), root IRI replaced by the vendored
    context, shallow-assign merged left-to-right. The ubiquitous
    ``[CONTEXT_IRI]`` case returns a shared singleton (hot path: every
    module/bundle doc merges the same one-element array)."""
    global _ROOT_ONLY_MERGED
    if contexts == [CONTEXT_IRI] or contexts == CONTEXT_IRI:
        if _ROOT_ONLY_MERGED is None:
            _ROOT_ONLY_MERGED = dict(ROOT_CONTEXT)
        return _ROOT_ONLY_MERGED
    if not isinstance(contexts, list):
        contexts = [contexts]
    result: dict = {}
    for ctx in contexts:
        if ctx == CONTEXT_IRI:
            ctx = ROOT_CONTEXT
        if isinstance(ctx, dict):
            result.update(ctx)
    return result


def _expand_iri(value, ctx: dict, vocab: bool = False):
    """Expand a term/CURIE/absolute IRI against the merged context.
    Returns None when the value cannot be expanded to an absolute IRI
    (JSON-LD drops such keys/ids)."""
    if not isinstance(value, str):
        return None
    if value.startswith("@"):
        return value
    if vocab and value in ctx:
        defn = ctx[value]
        if isinstance(defn, dict):
            if "@id" in defn:
                mapped = defn["@id"]
            elif "@reverse" in defn:
                mapped = defn["@reverse"]
            else:
                mapped = value  # e.g. "doap:release": {"@type": "@id"} —
                # the key itself is the (compact) IRI
        else:
            mapped = defn
        if mapped is None:
            return None
        if mapped != value:
            return _expand_iri(mapped, ctx, vocab=True)
        # term maps to itself (e.g. "owl:sameAs": {"@id": "owl:sameAs"}):
        # fall through to CURIE expansion
    if "://" in value:
        return value
    idx = value.find(":")
    if idx > 0:
        prefix, suffix = value[:idx], value[idx + 1:]
        mapped = ctx.get(prefix)
        if isinstance(mapped, str):
            return mapped + suffix
        if isinstance(mapped, dict) and isinstance(mapped.get("@id"), str):
            return mapped["@id"] + suffix
        if prefix == "_":
            return value  # blank node label
    if value.startswith("_:"):
        return value
    return None


_TERM_CACHES: dict[int, tuple[dict, dict]] = {}


def _term_def(key: str, ctx: dict):
    """Resolve (predicate_iri, type_coercion, container, is_reverse) for a
    document key; predicate None => key dropped. Results are memoized
    per context object (contexts are shared/singleton per doc shape)."""
    entry = _TERM_CACHES.get(id(ctx))
    if entry is not None and entry[0] is ctx:
        cache = entry[1]
        hit = cache.get(key)
        if hit is not None:
            return hit
    else:
        if len(_TERM_CACHES) > 64:
            _TERM_CACHES.clear()
        cache = {}
        _TERM_CACHES[id(ctx)] = (ctx, cache)
    result = _term_def_uncached(key, ctx)
    cache[key] = result
    return result


def _term_def_uncached(key: str, ctx: dict):
    defn = ctx.get(key)
    type_c = None
    container = None
    reverse = False
    if isinstance(defn, dict):
        if "@reverse" in defn:
            reverse = True
            pred = _expand_iri(defn["@reverse"], ctx, vocab=True)
        else:
            pred = _expand_iri(defn.get("@id", key), ctx, vocab=True)
        t = defn.get("@type")
        if t == "@id":
            type_c = "@id"
        elif isinstance(t, str):
            type_c = _expand_iri(t, ctx, vocab=True)
        container = defn.get("@container")
    elif isinstance(defn, str):
        pred = _expand_iri(defn, ctx, vocab=True)
    else:
        pred = _expand_iri(key, ctx, vocab=True)
        if pred is not None and pred.startswith("@"):
            return None, None, None, False
    return pred, type_c, container, reverse


def _canonical_double(value: float) -> str:
    """Canonical xsd:double lexical form (JSON-LD 1.0 style, e.g. 1.5E0)."""
    if math.isinf(value):
        return "INF" if value > 0 else "-INF"
    if math.isnan(value):
        return "NaN"
    mantissa, _, exp = f"{value:.15E}".partition("E")
    mantissa = mantissa.rstrip("0")
    if mantissa.endswith("."):
        mantissa += "0"
    return f"{mantissa}E{int(exp)}"


class _ToRdf:
    """Single-document conversion state (blank counter + emitted triples)."""

    def __init__(self, ctx: dict):
        self.ctx = ctx
        self.counter = 0
        self.triples: list[tuple] = []  # (subj, pred, obj_term, graph)

    def new_blank(self) -> str:
        b = f"_:b{self.counter}"
        self.counter += 1
        return b

    # --- literals --------------------------------------------------------

    def literal(self, value, type_coercion):
        """Return an object term tuple ('lit', lexical, lang, datatype)."""
        if type(value) is str:  # the overwhelmingly common case
            if type_coercion is None:
                return ("lit", value, None, _XSD_STRING)
            if type_coercion == "@id":
                iri = _expand_iri(value, self.ctx)
                return ("iri", iri if iri is not None else value)
            return ("lit", value, None, type_coercion)
        if isinstance(value, bool):
            return ("lit", "true" if value else "false", None, XSD + "boolean")
        if isinstance(value, int):
            if type_coercion and type_coercion not in ("@id",):
                return ("lit", str(value), None, type_coercion)
            return ("lit", str(value), None, XSD + "integer")
        if isinstance(value, float):
            if float(value).is_integer() and abs(value) < 1e21:
                return ("lit", str(int(value)), None, XSD + "integer")
            return ("lit", _canonical_double(value), None, XSD + "double")
        if value is None:
            return None
        s = str(value)
        if type_coercion == "@id":
            iri = _expand_iri(s, self.ctx)
            return ("iri", iri if iri is not None else s)
        if type_coercion:
            return ("lit", s, None, type_coercion)
        return ("lit", s, None, XSD + "string")

    # --- nodes -----------------------------------------------------------

    def node_id(self, obj: dict) -> str:
        if "@id" in obj and isinstance(obj["@id"], str):
            iri = _expand_iri(obj["@id"], self.ctx)
            if iri is not None:
                return iri
            return obj["@id"]  # kept as-is; validity filter will drop
        return self.new_blank()

    def emit(self, subj, pred, obj_term, graph=None):
        self.triples.append((subj, pred, obj_term, graph))

    def process_value(self, value, type_coercion, graph):
        """Process one object-position value -> object term or None."""
        tv = type(value)
        if tv is not dict:  # scalar fast path (the overwhelming case)
            if tv is list:
                raise ValueError("nested arrays not supported in JSON-LD 1.0")
            return self.literal(value, type_coercion)
        if "@list" in value:
            return ("iri", self.process_list(value["@list"], type_coercion, graph))
        if "@value" in value:
            lang = value.get("@language")
            dt = value.get("@type")
            dt_iri = _expand_iri(dt, self.ctx, vocab=True) if dt else None
            base = self.literal(value["@value"], dt_iri)
            if base and lang and base[0] == "lit":
                return ("lit", base[1], lang, None)
            return base
        return ("iri", self.process_node(value, graph))

    def process_list(self, items, type_coercion, graph) -> str:
        if not items:
            return RDF_NIL
        head = self.new_blank()
        current = head
        for i, item in enumerate(items):
            obj_term = self.process_value(item, type_coercion, graph)
            if obj_term is not None:
                self.emit(current, RDF_FIRST, obj_term, graph)
            nxt = self.new_blank() if i < len(items) - 1 else RDF_NIL
            self.emit(current, RDF_REST, ("iri", nxt), graph)
            current = nxt
        return head

    def process_node(self, obj: dict, graph=None) -> str:
        node = self.node_id(obj)
        ctx = self.ctx
        append = self.triples.append
        process_value = self.process_value
        for key, value in obj.items():
            if key in ("@id", "@context"):
                continue
            if key == "@type":
                types = value if isinstance(value, list) else [value]
                for t in types:
                    t_iri = _expand_iri(t, ctx, vocab=True)
                    if t_iri:
                        append((node, RDF_TYPE, ("iri", t_iri), graph))
                continue
            if key == "@graph":
                entries = value if isinstance(value, list) else [value]
                for entry in entries:
                    self.process_node(entry, graph=node)
                continue
            pred, type_c, container, reverse = _term_def(key, ctx)
            if pred is None or pred.startswith("@"):
                continue
            if container == "@index" and isinstance(value, dict):
                values = list(value.values())
            elif container == "@list":
                lst = value if isinstance(value, list) else [value]
                append((node, pred, ("iri", self.process_list(lst, type_c, graph)),
                        graph))
                continue
            elif isinstance(value, list):
                values = value
            else:
                # single-value fast path (most keys): no list wrapping
                obj_term = process_value(value, type_c, graph)
                if obj_term is not None:
                    if reverse:
                        if obj_term[0] == "iri":
                            append((obj_term[1], pred, ("iri", node), graph))
                    else:
                        append((node, pred, obj_term, graph))
                continue
            for v in values:
                if isinstance(v, list):  # one level of nesting from @index maps
                    inner = v
                else:
                    inner = [v]
                for item in inner:
                    obj_term = process_value(item, type_c, graph)
                    if obj_term is None:
                        continue
                    if reverse:
                        # reverse edges require a node/IRI object
                        if obj_term[0] != "iri":
                            continue
                        append((obj_term[1], pred, ("iri", node), graph))
                    else:
                        append((node, pred, obj_term, graph))
        return node


def _encode_object(term) -> tuple[str, bool]:
    """convertEntity (/root/reference/lib/util/JsonLdParser.js:111-125):
    IRIs as-is; literals N3-encoded, xsd:string datatype elided."""
    if term[0] == "iri":
        return term[1], False
    _, value, lang, dt = term
    if lang:
        return f'"{value}"@{lang}', True
    if dt and dt != XSD + "string":
        return f'"{value}"^^{dt}', True
    return f'"{value}"', True


def to_triples(doc: dict, root: str) -> list[Triple]:
    """Full document -> validated, skolemized triples.

    ``root`` is the skolem base (the entity URI), as in
    ``JsonLdParser.toRDF(json, {root: module.getUri()})``
    (/root/reference/bin/exportTriples.js:160-161)."""
    ctx = merge_contexts(doc.get("@context", []))
    conv = _ToRdf(ctx)
    if "@graph" in doc and "@id" not in doc:
        entries = doc["@graph"]
        if not isinstance(entries, list):
            entries = [entries]
        for entry in entries:
            conv.process_node(entry, graph=None)
    else:
        conv.process_node(doc, graph=None)

    # validity + skolemization pass (JsonLdParser.convertTriple)
    out: list[Triple] = []
    blanks: dict[str, str] = {}
    blank_names: dict[str, int] = {}  # per-doc counter (reset per toRDF call)
    valid = iri_is_valid

    for subj, pred, obj_term, graph in conv.triples:
        obj_str, is_lit = _encode_object(obj_term)
        if obj_str is None:
            continue
        if not valid(subj) or not valid(pred):
            continue
        if not is_lit and not valid(obj_str):
            continue
        if graph is not None and not valid(graph):
            continue

        # fast path: no blank components (the common case) skips the
        # skolemization machinery entirely
        if not (
            subj.startswith("_:")
            or pred.startswith("_:")
            or (not is_lit and obj_str.startswith("_:"))
            or (graph is not None and graph.startswith("_:"))
        ):
            out.append(Triple(subj, pred, obj_str, is_lit, graph))
            continue

        components = {"subject": subj, "predicate": pred, "object": obj_str, "graph": graph}
        blank_hash = None
        for key in ("subject", "predicate", "object", "graph"):
            val = components[key]
            if val and val.startswith("_:") and not (key == "object" and is_lit):
                if val not in blanks:
                    if blank_hash is None:
                        material = "".join(
                            v for v in components.values()
                            if v and not v.startswith("_:")
                        )
                        h = hashlib.md5(material.encode("utf-8")).hexdigest()
                        if h not in blank_names:
                            blank_names[h] = 0
                        blank_hash = h + str(blank_names[h])
                        blank_names[h] += 1
                    blanks[val] = url_join(root, ".well-known/genid/", blank_hash)
                components[key] = blanks[val]
        out.append(
            Triple(
                components["subject"], components["predicate"],
                components["object"], is_lit, components["graph"],
            )
        )
    return out


# --- N-Triples serialization (oracle goldens) ---------------------------

_NT_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _nt_escape(s: str) -> str:
    return "".join(_NT_ESCAPES.get(ch, ch) for ch in s)


def _nt_term(obj: str, is_literal: bool) -> str:
    if not is_literal:
        return f"<{obj}>"
    # obj is N3-encoded: "value", "value"@lang, or "value"^^datatype
    closing = obj.rfind('"')
    value, suffix = obj[1:closing], obj[closing + 1:]
    if suffix.startswith("^^"):
        return f'"{_nt_escape(value)}"^^<{suffix[2:]}>'
    return f'"{_nt_escape(value)}"{suffix}'

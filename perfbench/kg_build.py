"""Workload ``kg_build``: the batch KG build, pages to canonical tables.

One pass is ``plans.warehouse.materialize_graph`` with entity linking
on, over a seeded synthetic corpus: a fixed head of pages plus a tail
the seed picks among ``VARIANTS``.

Each pass is checked twice. The written rows, with the semver edges set
aside, must equal as a multiset a single-process reference built from
the same pages without Spark (extract + kernel triples plus the engine
dimension, subjects and IRI objects rewritten through the written entity
table). And the linking and semver outputs must equal the values
recorded for the seed's tail in ``expected_kg.json``: the entity and
canonical-id counts, a digest of the (entity_iri, canonical_id) rows and
of the semver edges. A tail with no record fails. Record them with

    python3 perfbench/kg_build.py --record
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from inputs import page_ids, write_pages

ROOT = "http://example.org/"
HEAD_PAGES, SEED_PAGES = 1000, 200
N_PAGES = HEAD_PAGES + SEED_PAGES
N_BUCKETS = 64  # materialize_graph's default triples layout
SEMVER_PART_ID = -2  # part_id that max_satisfying_edges stamps on its rows
RESUME_CHUNKS = 8
VARIANTS = 16  # the seed picks one of these tails; each has recorded outputs
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_kg.json")

LAYER_METRICS = [
    "sources.scan_s",
    "extract.page_us", "extract.docs_pass_s",
    "kernel.doc_us", "kernel.triples_per_page", "kernel.serialize.triple_us",
    "plans.kg.triples_pass_s", "plans.kg.python_boundary_s",
    "plans.linking.mentions_s", "plans.linking.candidates_s",
    "plans.linking.candidate_edges", "plans.linking.cc_s",
    "plans.linking.cc_rounds", "plans.linking.cc_jobs",
    "plans.linking.canonicalize_s",
    "plans.warehouse.semver_edges_s", "plans.warehouse.write_s",
    "plans.warehouse.bytes_written", "plans.warehouse.files_written",
    "plans.resume.chunk_s", "plans.resume.jobs_per_chunk",
    "plans.serving.bundle_ms", "plans.serving.module_ms",
    "plans.serving.user_ms", "plans.serving.engine_ms",
    "plans.serving.rows_read_per_row_returned",
    "plans.serving.jobs_per_request",
]


def digest(rows) -> tuple[int, str]:
    """Order-independent multiset digest of rows of strings."""
    n, acc = 0, 0
    for row in rows:
        h = hashlib.blake2b("\x1f".join(row).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"


def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for base, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                size += os.path.getsize(os.path.join(base, name))
                files += 1
    return size, files


def _recorded() -> dict:
    try:
        with open(EXPECTED) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


class KgBuild:
    pass_unit = "pages"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.pages_dir = os.path.join(work, "pages")
        self.out = os.path.join(work, "graph")
        self.cores = spark.sparkContext.defaultParallelism
        self.size = N_PAGES
        self.variant = seed % VARIANTS
        self.ids = page_ids(self.variant, HEAD_PAGES, SEED_PAGES)
        write_pages(self.pages_dir, self.ids, 2 * self.cores)
        self._reference()
        self.expected = _recorded().get(str(self.variant))
        self.attempted = self.failed = 0

    def _reference(self) -> None:
        """Single-process extract + kernel over the corpus: the expected
        triples, and the no-Spark cost floor of the Python layers."""
        from npm_extraction_server_spark.extract.html import extract_parsed
        from npm_extraction_server_spark.kernel.jsonld_rdf import to_triples
        from npm_extraction_server_spark.kernel.pipeline import export_bundle, export_engines
        from npm_extraction_server_spark.sources.engine_index import ENGINE_INDEX
        from npm_extraction_server_spark.sources.synth import synth_page

        pages = [synth_page(i) for i in self.ids]
        t0 = time.process_time()
        docs = [(p["url"], kind, doc) for p in pages
                for kind, doc in extract_parsed(p["url"], p["html"])]
        t1 = time.process_time()
        triples = []
        for url, kind, doc in docs:
            if kind == "npm_manifest":
                result = export_bundle(doc, ROOT)
                if result.error is None:
                    triples.extend(result.triples)
            else:
                try:
                    triples.extend(to_triples(doc, root=url))
                except Exception:  # noqa: BLE001 - the pipeline drops these as error rows
                    pass
        t2 = time.process_time()
        self.extract_s, self.kernel_s = t1 - t0, t2 - t1  # CPU seconds
        self.n_docs = len(docs)
        self.n_kernel_triples = len(triples)
        self.reference = triples + export_engines(ENGINE_INDEX, ROOT)

    @property
    def report(self) -> str:
        single = self.extract_s + self.kernel_s
        return (f"tail {self.variant}; extract+kernel in one process: "
                f"{single:.2f} CPU s, {single / self.pass_cpu_s:.3f} of pass_cpu_s")

    def run_pass(self, tracer) -> tuple[float, float]:
        """One build; returns its wall and CPU seconds, without the check."""
        from npm_extraction_server_spark.plans.warehouse import materialize_graph
        from npm_extraction_server_spark.sources.pages import read_pages

        self.attempted += 1
        try:
            with tracer.span("plans.warehouse.materialize_graph") as rec:
                result = materialize_graph(read_pages(self.spark, self.pages_dir),
                                           self.out, root=ROOT, n_buckets=N_BUCKETS)
        except Exception:  # noqa: BLE001 - a failed pass counts, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.pass_cpu_s = float("nan")
            return float("nan"), float("nan")
        if not self._check(result):
            self.failed += 1
        self.pass_cpu_s = tracer.cpu(rec)
        return tracer.wall(rec), self.pass_cpu_s

    def _check(self, result: dict) -> bool:
        written = (self.spark.read.parquet(f"{self.out}/triples")
                   .select("subj", "pred", "obj", "part_id").toPandas())
        ents = (self.spark.read.parquet(f"{self.out}/entities")
                .select("entity_iri", "canonical_id").toPandas())
        canon = self.canon = dict(zip(ents["entity_iri"], ents["canonical_id"]))
        semver = written["part_id"] == SEMVER_PART_ID
        kept = written[~semver]
        got = digest(zip(kept["subj"], kept["pred"], kept["obj"]))
        want = digest((canon.get(t.subj, t.subj), t.pred,
                       t.obj if t.obj_is_literal else canon.get(t.obj, t.obj))
                      for t in self.reference)
        edges = written[semver]
        self.summary = {
            "entities": len(ents),
            "canonical_ids": int(ents["canonical_id"].nunique()),
            "entities_digest": digest(zip(ents["entity_iri"], ents["canonical_id"]))[1],
            "semver_edges": len(edges),
            "semver_digest": digest(zip(edges["subj"], edges["pred"], edges["obj"]))[1],
        }
        self.checks = checks = {
            "rows": result["n_triples"] == len(written),
            "entities": result["n_entities"] == len(ents) == len(canon),
            "kernel_digest": got == want,
            "recorded": self.summary == self.expected,
        }
        if not all(checks.values()):
            print(f"kg_build: check failed {checks} got={got} want={want} "
                  f"summary={self.summary} recorded={self.expected}", file=sys.stderr)
        return all(checks.values())

    # ---- traced run: each layer's public functions, one span each ----

    def layer_metrics(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from npm_extraction_server_spark.plans import linking
        from npm_extraction_server_spark.plans.kg import (
            extract_docs, maybe_repartition_pages, pages_to_triples, run_pipeline,
            split_errors, write_triples)
        from npm_extraction_server_spark.plans.warehouse import max_satisfying_edges
        from npm_extraction_server_spark.sources.pages import read_pages

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def timed(name, fn):
            with tracer.span(name) as rec:
                value = fn()
            return rec, value

        m = {}
        pages = read_pages(self.spark, self.pages_dir)
        rec, _ = timed("sources.scan", lambda: noop(pages))
        m["sources.scan_s"] = tracer.wall(rec)

        pages_p = maybe_repartition_pages(pages)
        m["extract.page_us"] = self.extract_s / N_PAGES * 1e6
        rec, _ = timed("extract.docs_pass", lambda: noop(extract_docs(pages_p)))
        m["extract.docs_pass_s"] = tracer.wall(rec)
        m["kernel.doc_us"] = self.kernel_s / self.n_docs * 1e6
        m["kernel.triples_per_page"] = self.n_kernel_triples / N_PAGES
        rec, _ = timed("plans.kg.triples_pass", lambda: noop(pages_to_triples(pages_p, ROOT)))
        m["plans.kg.triples_pass_s"] = tracer.wall(rec)
        m["plans.kg.python_boundary_s"] = (
            tracer.wall(rec) - (self.extract_s + self.kernel_s) / self.cores)

        # materialize_graph's composition, one layer call at a time
        result = run_pipeline(pages, root=ROOT)
        triples, _ = split_errors(result["raw"])
        triples = triples.unionByName(
            result["triples"].filter(F.col("bundle") == "engines"))
        rec, _ = timed("plans.warehouse.semver_edges",
                       lambda: noop(max_satisfying_edges(result["docs"], ROOT)))
        m["plans.warehouse.semver_edges_s"] = tracer.wall(rec)
        triples = triples.unionByName(
            max_satisfying_edges(result["docs"], ROOT)
            .withColumn("part_id", F.col("part_id").cast("int")))
        _, triples = timed("plans.kg.checkpoint", lambda: triples.localCheckpoint(eager=True))
        rec, mentions = timed("plans.linking.mentions", lambda: linking.entity_mentions(
            triples).localCheckpoint(eager=True))
        m["plans.linking.mentions_s"] = tracer.wall(rec)
        rec, edges = timed("plans.linking.candidates", lambda: linking.candidate_edges(
            mentions, triples).localCheckpoint(eager=True))
        m["plans.linking.candidates_s"] = tracer.wall(rec)
        m["plans.linking.candidate_edges"] = edges.count()
        rec, labels = timed("plans.linking.cc", lambda: linking.connected_components(
            mentions.select("entity_iri"), edges))
        m["plans.linking.cc_s"] = tracer.wall(rec)
        m["plans.linking.cc_jobs"] = rec.get("jobs", 0)
        # connected_components checkpoints its two inputs once, then the
        # labels once per propagation round
        m["plans.linking.cc_rounds"] = sum(
            1 for n in rec.get("job_names", []) if n.startswith("localCheckpoint")) - 2
        entities = mentions.join(labels, "entity_iri", "left").withColumn(
            "canonical_id", F.coalesce("canonical_id", "entity_iri"))
        canonical = linking.canonicalize_triples(triples, entities)
        rec, _ = timed("plans.linking.canonicalize", lambda: noop(canonical))
        m["plans.linking.canonicalize_s"] = tracer.wall(rec)
        layer_out = os.path.join(self.work, "layer_graph")
        rec, _ = timed("plans.warehouse.write", lambda: write_triples(
            canonical, f"{layer_out}/triples", n_buckets=N_BUCKETS))
        m["plans.warehouse.write_s"] = tracer.wall(rec)
        m["plans.warehouse.bytes_written"], m["plans.warehouse.files_written"] = (
            _dir_size(f"{layer_out}/triples"))

        m.update(self._resume_metrics(tracer, pages))
        m.update(self._serving_metrics(tracer, extract_docs(pages_p)))
        return m

    def _resume_metrics(self, tracer, pages) -> dict:
        """``run_resumable`` stopped by its own ``fail_after`` hook after
        every chunk, so each call commits exactly one chunk; a last call
        must find nothing left. The union of the chunks must hold the
        kernel triples of one unchunked pass, nothing lost or doubled."""
        from npm_extraction_server_spark.plans.resume import (
            read_resumable_triples, run_resumable)

        out = os.path.join(self.work, "resume")
        shutil.rmtree(out, ignore_errors=True)
        walls, jobs = [], 0
        for chunk in range(RESUME_CHUNKS):
            with tracer.span(f"plans.resume.chunk{chunk}") as rec:
                try:
                    run_resumable(pages, out, RESUME_CHUNKS, root=ROOT, fail_after=1)
                except RuntimeError:  # the hook fired after one committed chunk
                    pass
            walls.append(tracer.wall(rec))
            jobs += rec.get("jobs", 0)
        rest = run_resumable(pages, out, RESUME_CHUNKS, root=ROOT)
        markers = [f for f in os.listdir(out) if f.startswith("_chunk_")]
        rows = read_resumable_triples(self.spark, out).select("subj", "pred", "obj").toPandas()
        got = digest(zip(rows["subj"], rows["pred"], rows["obj"]))
        want = digest((t.subj, t.pred, t.obj)
                      for t in self.reference[:self.n_kernel_triples])
        self.attempted += 1
        if rest["processed"] or len(markers) != RESUME_CHUNKS or got != want:
            print(f"kg_build: resume left {rest}, {len(markers)} markers, "
                  f"digest {got} want {want}", file=sys.stderr)
            self.failed += 1
        return {"plans.resume.chunk_s": statistics.median(walls),
                "plans.resume.jobs_per_chunk": jobs / RESUME_CHUNKS}

    def _serving_metrics(self, tracer, docs_df) -> dict:
        """A few requests per route against the tables the pass wrote:
        the read side of the warehouse layout. Requests name packages and
        users that linking kept as their own canonical entity; a merged
        one has no rows of its own in the canonical table."""
        from npm_extraction_server_spark.kernel.uris import bundle_uri, module_uri, user_uri
        from npm_extraction_server_spark.plans.serving import route, serialize_answer
        from npm_extraction_server_spark.sources.synth import synth_package

        def canonical(iri):
            return self.canon.get(iri, iri) == iri

        docs_path = os.path.join(self.work, "docs")
        with tracer.span("plans.serving.docs_table"):
            docs_df.write.mode("overwrite").parquet(docs_path)
        triples = self.spark.read.parquet(f"{self.out}/triples")
        docs = self.spark.read.parquet(docs_path)
        requests = []
        for i in self.ids[N_PAGES // 10:]:
            pkg = synth_package(i)
            name = pkg["name"]  # a scoped "@org/name" stays two path segments
            version = list(pkg["versions"])[-1]
            user = pkg["maintainers"][0]["name"]
            if not (canonical(bundle_uri(ROOT, name))
                    and canonical(module_uri(ROOT, name, version))
                    and canonical(user_uri(ROOT, user))):
                continue
            if len(requests) == 25:
                break
            requests += [("bundle", f"/bundles/npm/{name}", 200),
                         ("module", f"/bundles/npm/{name}/{version}", 200),
                         ("module", f"/bundles/npm/{name}/^{version.split('.')[0]}.0.0", 307),
                         ("user", f"/users/npm/{user}", 200),
                         ("engine", "/engines/node", 200)]
        walls = {"bundle": [], "module": [], "user": [], "engine": []}
        rows_read = rows_returned = jobs = 0
        for kind, path, want in requests:
            self.attempted += 1
            with tracer.span(f"plans.serving.{kind}") as rec:
                answer = route(triples, docs, path, accept="text/turtle",
                               root=ROOT, n_buckets=N_BUCKETS)
                rows = answer["triples"].collect() if answer["triples"] is not None else []
                body = serialize_answer(rows, answer["fmt"]) if rows else ""
            walls[kind].append(tracer.wall(rec) * 1e3)
            rows_read += rec.get("input_records", 0)
            rows_returned += len(rows)
            jobs += rec.get("jobs", 0)
            if answer["status"] != want or not body:
                print(f"kg_build: {path} gave {answer['status']}, want {want}",
                      file=sys.stderr)
                self.failed += 1
        m = {f"plans.serving.{k}_ms": statistics.median(v) for k, v in walls.items()}
        m["plans.serving.rows_read_per_row_returned"] = rows_read / max(rows_returned, 1)
        m["plans.serving.jobs_per_request"] = jobs / len(requests)
        m["kernel.serialize.triple_us"] = self._serialize_us()
        return m

    def _serialize_us(self) -> float:
        from npm_extraction_server_spark.kernel.serialize import SERIALIZERS

        sample = self.reference[:20000]
        t0 = time.perf_counter()
        for fn in SERIALIZERS.values():
            fn(sample)
        return (time.perf_counter() - t0) / (len(SERIALIZERS) * len(sample)) * 1e6


def record() -> None:
    """Run one pass per tail with the program as it is and write its
    linking and semver outputs to ``expected_kg.json``."""
    from host import fit_host, stop_spark
    from spans import Tracer

    work = os.path.join(os.path.dirname(os.path.dirname(EXPECTED)), ".perfbench_work", "record")
    host = fit_host(work)
    from npm_extraction_server_spark.plans.session import get_spark

    spark = get_spark(app="perfbench-record", master=f"local[{host['cores']}]")
    expected = {}
    try:
        for variant in range(VARIANTS):
            wl = KgBuild(spark, os.path.join(work, str(variant)), variant)
            wl.run_pass(Tracer(spark, enabled=False))
            checks = dict(getattr(wl, "checks", {"pass": False}))
            checks.pop("recorded", None)
            if not all(checks.values()):
                raise SystemExit(f"tail {variant}: {checks}; nothing recorded")
            expected[str(variant)] = wl.summary
            print(variant, wl.summary, flush=True)
            shutil.rmtree(wl.work, ignore_errors=True)
    finally:
        stop_spark(spark)
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path[:0] = [os.path.dirname(os.path.dirname(EXPECTED))]
    if sys.argv[1:] != ["--record"]:
        sys.exit(f"usage: {sys.argv[0]} --record")
    record()

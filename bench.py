#!/usr/bin/env python
"""Benchmark harness. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

- Headline operator queries run at $SPARK_GRAFT_SF_DIR (default
  /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query runs
  twice: "queries" reports the WARM pass (steady-state plan execution —
  the number that projects to cluster scale, where per-query codegen
  compile amortizes to zero), "queries_cold" the first pass including
  one-time whole-stage-codegen compilation and python-worker forks.
- The KG pipeline (the north-star workload) additionally runs at TWO
  cluster sizes — 1 executor vs 4 executors (separate pinned JVM
  subprocesses, disjoint slices, co-resident fleets with interleaved
  barrier-synchronized passes; tools/scale_lib.py) — evidencing the
  north_rule's N->4N scaling efficiency >= 0.8 with honest wall-clock
  medians (see BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))
SCALE_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "24000"))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "j1_range_pick",
    "a2_last_write_wins",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash",
    "text_quality",
    "text_fingerprint",
    "text_span_dedup",
    "sim_cosine_topk",
    "sim_lsh_topk",
    "graph_pagerank",
]


def _run_queries(spark) -> tuple[dict[str, float], dict[str, float]]:
    import __spark_entry__ as entry

    queries = entry.queries()
    from pyspark.sql import functions as F

    # absorb session warmup (JVM codegen, python worker forks, parquet
    # footer reads) so the first headline query isn't over-charged
    spark.range(1000).select(F.sum("id")).collect()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(10).count()
    warm, cold = {}, {}
    for name in HEADLINE:
        t0 = time.monotonic()
        queries[name](spark, SF_DIR).count()
        cold[name] = round(time.monotonic() - t0, 3)
        # warm = best of two steady-state passes: the round-3 host
        # shows intermittent multi-second CPU-steal bursts from
        # co-tenant VMs (measured via /proc/stat steal; see
        # BENCH/BASELINE.md) — the minimum is the number that
        # reflects the PLAN rather than the neighbor's workload
        passes = []
        for _ in range(2):
            t0 = time.monotonic()
            queries[name](spark, SF_DIR).count()
            passes.append(time.monotonic() - t0)
        warm[name] = round(min(passes), 3)
    return warm, cold


def _write_bench_pages(n_pages: int) -> str:
    """Materialize the synthetic pages corpus once (the measured runs
    then start from a parquet scan — the north-star input shape)."""
    import hashlib
    import tempfile

    from npm_extraction_server_spark.plans.session import get_spark
    from npm_extraction_server_spark.sources.pages import pages_df, write_pages
    from npm_extraction_server_spark.sources.synth import synth_page

    # cache key includes a generator fingerprint: a change to the
    # synthetic html (e.g. the round-4 outlink footer) must invalidate
    # the cached corpus, not silently reuse the old bytes
    tag = hashlib.sha256(synth_page(0)["html"]).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"bench_pages_{n_pages}_{tag}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        spark = get_spark(app="bench-gen", master=f"local[{CPUS}]")
        write_pages(pages_df(spark, n_pages, partitions=CPUS * 2), out)
        spark.stop()
    return out


class _StealSampler:
    """Background /proc/stat sampler: per-second CPU steal%% for the
    whole bench run, reported in the output JSON so the timings carry
    their own host-conditions context (round 3's regressions were
    traced to co-tenant steal bursts after the fact — now the evidence
    ships with every run)."""

    def __init__(self, interval: float = 1.0):
        import threading

        self.interval = interval
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _read():
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)

    def _run(self):
        try:
            s0, t0 = self._read()
        except OSError:
            return
        while not self._stop.wait(self.interval):
            s1, t1 = self._read()
            dt = t1 - t0
            if dt > 0:
                self.samples.append(100.0 * (s1 - s0) / dt)
            s0, t0 = s1, t1

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=2)

    def summary(self) -> dict:
        if not self.samples:
            return {"samples": 0}
        s = sorted(self.samples)
        n = len(s)
        return {"samples": n,
                "mean_pct": round(sum(s) / n, 2),
                "p95_pct": round(s[int(0.95 * (n - 1))], 2),
                "max_pct": round(s[-1], 2),
                "sec_over_1pct": sum(1 for x in s if x > 1.0),
                "sec_over_5pct": sum(1 for x in s if x > 5.0)}


def main() -> None:
    from npm_extraction_server_spark.plans.session import get_spark
    from tools.scale_lib import measure_scaling

    sf = SF_DIR.rstrip("/").split("sf")[-1]

    sampler = _StealSampler()
    sampler.__enter__()
    pages_dir = _write_bench_pages(SCALE_PAGES)
    spark = get_spark(app="bench", master=f"local[{CPUS}]")
    t0 = time.monotonic()
    warm, cold = _run_queries(spark)
    total = round(time.monotonic() - t0, 3)

    # link-graph extraction throughput: the Common-Crawl map job
    # (html -> anchors -> host degrees) over the full bench corpus —
    # JVM-only regex path, so this measures codegen scan throughput,
    # not Python
    from npm_extraction_server_spark.extract.links import host_degree, outlinks

    def _links_job() -> float:
        t = time.monotonic()
        host_degree(outlinks(spark.read.parquet(pages_dir))).count()
        return time.monotonic() - t

    lg_cold = _links_job()
    lg_warm = min(_links_job() for _ in range(2))
    linkgraph = {"pages": SCALE_PAGES, "cold_s": round(lg_cold, 3),
                 "warm_s": round(lg_warm, 3),
                 "pages_per_sec": round(SCALE_PAGES / lg_warm, 1)}
    spark.stop()

    # 1-core executors (spark.executor.cores=1): isolates executor
    # scaling from sandbox memory-bandwidth sharing between co-located
    # simulated executors — real cluster executors live on separate
    # machines. 2-core variant reproducible via scale_diag (see
    # BENCH/BASELINE.md for both).
    # 7 pass pairs: the round-3 host's intermittent CPU-steal bursts
    # can corrupt individual samples in either direction — a 7-sample
    # median stays honest with up to 3 burst-hit pairs (5 was marginal)
    scaling = measure_scaling(pages_dir, exec_cores=1, n_execs=4, n_pairs=7)
    sampler.__exit__()

    out = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": warm,
        "queries_cold": cold,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "kg_scaling": scaling,
        "web_linkgraph": linkgraph,
        "host_steal": sampler.summary(),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Workload ``query_suite``: the 14 headline operator queries.

One pass runs every query and converts its result to pandas. Outside
the timed region, every result is checked against the query's DuckDB
oracle over the same parquet. The two queries without an oracle
(``dedup_minhash``, ``sim_lsh_topk``) must return rows; after the pass,
their verified siblings, which run the same MinHash-LSH and ANN-LSH
code with an exact re-check, are checked against their oracles.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

from inputs import write_tables

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "j1_range_pick", "a2_last_write_wins", "events_sessionize",
    "dedup_exact", "dedup_minhash", "text_quality", "text_fingerprint",
    "text_span_dedup", "sim_cosine_topk", "sim_lsh_topk", "graph_pagerank",
]
# the oracle-checked sibling of each query that has no oracle
VERIFIED = {"dedup_minhash": "dedup_minhash_verified", "sim_lsh_topk": "sim_lsh_verified"}
SCALE = 0.01  # 60k lineitem rows: per-query fixed costs dominate, as at sf0.1

LAYER_METRICS = [f"operators.suite.{q}.{m}" for q in HEADLINE
                 for m in ("build_s", "exec_s", "jobs", "shuffle_bytes")]


class QuerySuite:
    pass_unit = "queries"

    def __init__(self, spark, work: str, seed: int):
        import duckdb

        import __spark_entry__ as entry
        from tools.check_oracles import TABLES

        self.spark = spark
        self.size = len(HEADLINE)
        self.data = os.path.join(work, "tables")
        write_tables(self.data, seed, SCALE)
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        with duckdb.connect() as db:
            for t in TABLES:
                db.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            self.oracle = {q: db.sql(oracles[q]).df()
                           for q in [*HEADLINE, *VERIFIED.values()] if q in oracles}
        self.per_query: dict[str, dict] = {}
        self.attempted = self.failed = 0
        self.report = ("results checked against DuckDB oracles; "
                       + ", ".join(f"{q} through {v}" for q, v in VERIFIED.items()))

    def run_pass(self, tracer) -> tuple[float, float]:
        """One pass over the 14 queries; returns the wall and CPU seconds
        of the queries, without the checks between and after them."""
        wall = cpu = 0.0
        for name in HEADLINE:
            rec = self._run(tracer, name, f"operators.suite.{name}")
            if rec:
                wall += tracer.wall(rec)
                cpu += tracer.cpu(rec)
                self.per_query[name] = rec
        for name in VERIFIED.values():
            self._run(tracer, name, f"check.{name}")
        return wall, cpu

    def _run(self, tracer, name: str, span: str) -> dict | None:
        """Run and check one query; returns its span, or None if it failed."""
        self.attempted += 1
        try:
            with tracer.span(span) as rec:
                df = self.queries[name](self.spark, self.data)
                rec["built"] = time.monotonic()
                result = df.toPandas()
        except Exception:  # noqa: BLE001 - a failed query counts, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if not self._correct(name, result):
            print(f"query_suite: {name} result differs from the expected "
                  f"one ({len(result)} rows)", file=sys.stderr)
            self.failed += 1
        return rec

    def _correct(self, name: str, result) -> bool:
        from tools.check_oracles import normalize

        if name not in self.oracle:
            return len(result) > 0
        oracle = self.oracle[name]
        floaty = {c for df in (result, oracle) for c, d in df.dtypes.items()
                  if str(d).startswith("float")}
        a, b = normalize(result, floaty), normalize(oracle, floaty)
        return len(a) > 0 and list(a.columns) == list(b.columns) and a.equals(b)

    def layer_metrics(self, tracer) -> dict:
        """Per-query split of the pass: build (the query function,
        including any jobs it runs eagerly) and execution."""
        out = {}
        for name, rec in self.per_query.items():
            key = f"operators.suite.{name}"
            out[f"{key}.build_s"] = rec["built"] - rec["start"]
            out[f"{key}.exec_s"] = rec["end"] - rec["built"]
            out[f"{key}.jobs"] = rec.get("jobs", 0)
            out[f"{key}.shuffle_bytes"] = rec.get("shuffle_write_bytes", 0)
        return out

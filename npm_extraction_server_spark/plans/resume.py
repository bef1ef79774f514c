"""Checkpointed, resumable pipeline runs (SC7 — strictly better than
the reference's positional ``-s start`` offset,
/root/reference/bin/exportTriples.js:103-108).

The pages table is split into ``n_chunks`` url-hash chunks (the same
bucketing the sink uses). Each chunk is processed as one distributed
job and committed atomically: triples parquet + a lineage parquet +
a ``_chunk_<id>.done`` manifest marker, written only after both
dataframes land. A rerun set-differences the manifest against the
chunk list (anti-join semantics) and processes only the remainder, so
a killed run resumes from the last completed chunk with no duplicated
output.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kg import lineage, pages_to_triples, split_errors


def _chunk_col(n_chunks: int):
    return F.pmod(F.xxhash64("url"), F.lit(n_chunks)).cast("int")


def completed_chunks(out_dir: str) -> set[int]:
    p = Path(out_dir)
    if not p.exists():
        return set()
    return {
        int(f.name[len("_chunk_"):-len(".done")])
        for f in p.iterdir()
        if f.name.startswith("_chunk_") and f.name.endswith(".done")
    }


def run_resumable(pages: DataFrame, out_dir: str, n_chunks: int = 8,
                  root: str = "http://example.org/",
                  fail_after: int | None = None) -> dict:
    """Process all not-yet-done chunks; returns summary counts.
    ``fail_after`` aborts after N chunks (test hook for kill/rerun)."""
    os.makedirs(out_dir, exist_ok=True)
    done = completed_chunks(out_dir)
    todo = [c for c in range(n_chunks) if c not in done]
    processed = []
    for i, chunk in enumerate(todo):
        if fail_after is not None and i >= fail_after:
            raise RuntimeError(f"injected failure before chunk {chunk}")
        chunk_pages = pages.filter(_chunk_col(n_chunks) == chunk)
        # fused single python stage (BENCH lesson 1: chained
        # extract->triples mapInPandas stages pin 2 workers per task
        # slot — measured CPU oversubscription), computed once per chunk:
        # the triples write fills the cache the lineage write reads
        raw = pages_to_triples(chunk_pages, root).persist()
        try:
            triples, _ = split_errors(raw)
            (triples.withColumn("chunk", F.lit(chunk))
             .write.mode("overwrite").parquet(f"{out_dir}/triples/chunk={chunk}"))
            (lineage(raw).withColumn("chunk", F.lit(chunk))
             .write.mode("overwrite").parquet(f"{out_dir}/lineage/chunk={chunk}"))
        finally:
            raw.unpersist()
        # commit marker LAST: chunk is either fully present or redone
        Path(out_dir, f"_chunk_{chunk}.done").write_text(
            json.dumps({"chunk": chunk}))
        processed.append(chunk)
    return {"processed": processed, "skipped": sorted(done),
            "n_chunks": n_chunks}


def read_resumable_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/triples/chunk=*")

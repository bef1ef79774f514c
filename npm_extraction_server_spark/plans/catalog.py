"""SQL-surface facade: register the corpus as temp views so every
engine capability is reachable through plain ``spark.sql`` — the
second half of the DataFrame/SQL dual API (`input_hint` mandates the
pyspark.sql DataFrame API; Catalyst compiles both to the same plans,
and some consumers only speak SQL).

At 100 TB the views would be catalog tables (Iceberg/HMS) instead of
path-registered temp views; nothing else changes — Catalyst resolves
either through the same analyzer, with full pushdown/pruning.
"""

from __future__ import annotations

import weakref

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

__all__ = ["TABLES", "register_corpus", "register_warehouse", "sql"]

# temp views are SESSION-scoped (not application-scoped), so the
# registration cache must be keyed by the live session object — a
# WeakKeyDictionary, so dropped sessions don't pin memory and an id()
# reused by a new session can't alias a stale entry
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = \
    weakref.WeakKeyDictionary()


def register_corpus(spark: SparkSession, sf_dir: str) -> None:
    """Create/replace a temp view per corpus table over its parquet.
    Skipped when THIS SESSION's views already point at ``sf_dir`` AND
    a probe view still exists (another caller may have dropped them) —
    re-running 10 driver-side parquet schema reads per sql() call
    would be pure waste. Switching sf_dir re-registers, since the
    view NAMES are shared and must not go stale."""
    if (_REGISTERED.get(spark) == sf_dir
            and all(spark.catalog.tableExists(t) for t in TABLES)):
        return  # all views present and pointing at this sf_dir
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .createOrReplaceTempView(t)
    _REGISTERED[spark] = sf_dir


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run ``query`` against the registered corpus views."""
    register_corpus(spark, sf_dir)
    return spark.sql(query)


def register_warehouse(spark: SparkSession, out_dir: str) -> list[str]:
    """Register a materialized warehouse (plans/warehouse.py layout) as
    temp views; returns the registered names. Tables the build did not
    write (e.g. ``entities`` without linking) are skipped."""
    out = []
    for name in ("triples", "entities", "lineage", "errors"):
        try:
            spark.read.parquet(f"{out_dir}/{name}") \
                .createOrReplaceTempView(name)
        except AnalysisException:
            continue
        out.append(name)
    return out

"""Seeded benchmark inputs, written as parquet before anything is timed.

- ``write_pages``: the synthetic web-page corpus of ``sources.synth``.
  Most pages are a fixed head, ids [0, head): the hot packages and the
  dependency targets other pages' ranges resolve against, so every seed
  has semver edges to resolve and a linking graph of the same shape.
  The seed picks the rest, ids [head + seed*tail, head + (seed+1)*tail).
- ``write_tables``: the ten tables the headline operator queries read,
  in the column layout, row counts and value shapes of the engine's
  sf0.01 test data (a TPC-H-like star schema plus events, documents and
  embeddings), as ``profile_tables.py`` measures them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def page_ids(seed: int, head: int, tail: int) -> list[int]:
    first = head + seed * tail
    return list(range(head)) + list(range(first, first + tail))


def write_pages(out: str, ids: list[int], n_files: int) -> None:
    """Write the pages ``ids`` in ``n_files`` parquet files."""
    from npm_extraction_server_spark.sources.synth import synth_page

    os.makedirs(out, exist_ok=True)
    rows = [synth_page(i) for i in ids]
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * per:(f + 1) * per]
        table = pa.table({
            "url": [r["url"] for r in part],
            "warc_ts": pa.array([r["warc_ts"] * 1_000_000 for r in part],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in part], pa.binary()),
            "text": [r["text"] for r in part],
            "lang": [r["lang"] for r in part],
        })
        pq.write_table(table, os.path.join(out, f"part-{f:05d}.parquet"))


# The shapes below are measured on the engine's sf0.01 test data
# (``profile_tables.py``; figures in README): keys and categories are
# uniform and independent, lineitem rows pick their order at random
# (Poisson fan-out, repeated (order, line) pairs), 5% of the documents
# are an earlier document plus a " dup" word, and the embeddings are
# isotropic, their labels independent of the vectors.
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS, _LANG_P = ["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_DUP_SHARE = 0.05


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _documents(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < _DUP_SHARE:
            text = texts[int(rng.integers(0, i))] + " dup"
            while text in texts:  # a second copy of one document: "dup dup"
                text += " dup"
            texts.append(text)
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return texts


def write_tables(out: str, seed: int, scale: float) -> None:
    """Write the query-suite tables; ``scale`` 0.01 gives the row counts
    of the engine's sf0.01 test data (60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_orders, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = 10_000, 500, 500
    i32 = pa.int32()

    def put(name, cols, types=None):
        types = types or {}
        pq.write_table(pa.table({k: pa.array(v, types.get(k)) for k, v in cols.items()}),
                       os.path.join(out, f"{name}.parquet"))

    put("region", {"r_regionkey": list(range(5)), "r_name": _REGIONS},
        {"r_regionkey": i32})
    put("nation", {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]},
        {"n_nationkey": i32, "n_regionkey": i32})
    put("customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}, {"c_nationkey": i32})
    put("supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}, {"s_nationkey": i32})
    put("part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part),
                                              rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10, 2)}, {"p_size": i32})

    put("orders", {
        "o_orderkey": np.arange(n_orders),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000, 500000),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders)})

    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
    }, {"l_linenumber": i32})

    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    put("events", {
        "event_id": np.arange(n_events),
        "ts": np.sort(start + rng.integers(0, 30 * 86400 * 1_000_000, n_events)
                      .astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, n_events),
        "event_type": rng.choice(_EVENTS, n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = _documents(rng, n_docs)
    put("documents", {
        "doc_id": np.arange(n_docs), "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts]})

    vecs = rng.normal(0, 1, (n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {"vec_id": np.arange(n_vecs),
                       "embedding": list(vecs), "label": rng.integers(0, 10, n_vecs)},
        {"embedding": pa.list_(pa.float32()), "label": i32})

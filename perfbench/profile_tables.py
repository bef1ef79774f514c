#!/usr/bin/env python3
"""Print the shape of a directory of query-suite tables, one figure a line.

    python3 perfbench/profile_tables.py <dir-with-the-ten-parquet-tables>

Run it on the engine's test data and on the output of
``inputs.write_tables`` to compare the two: the figures are the ones the
headline queries' costs depend on (row counts, duplicate and near-duplicate
shares, vocabulary and document lengths, users per event, vector clusters,
key fan-outs). ``perfbench/README.md`` records both sets.
"""

from __future__ import annotations

import os
import sys

import duckdb

FIGURES = {
    "lineitem.rows": "SELECT count(*) FROM lineitem",
    "lineitem.per_order.mean": "SELECT count(*) / count(DISTINCT l_orderkey) FROM lineitem",
    "lineitem.per_order.max": "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)",
    "lineitem.parts": "SELECT count(DISTINCT l_partkey) FROM lineitem",
    "lineitem.suppliers": "SELECT count(DISTINCT l_suppkey) FROM lineitem",
    "lineitem.ship_days.max": """SELECT max(date_diff('day', o_orderdate, l_shipdate))
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    "lineitem.returnflag.R_share": "SELECT avg((l_returnflag = 'R')::int) FROM lineitem",
    "orders.rows": "SELECT count(*) FROM orders",
    "orders.customers": "SELECT count(DISTINCT o_custkey) FROM orders",
    "orders.first_year": "SELECT year(min(o_orderdate)) FROM orders",
    "orders.last_year": "SELECT year(max(o_orderdate)) FROM orders",
    "customer.rows": "SELECT count(*) FROM customer",
    "supplier.rows": "SELECT count(*) FROM supplier",
    "part.rows": "SELECT count(*) FROM part",
    "part.brands": "SELECT count(DISTINCT p_brand) FROM part",
    "part.names": "SELECT count(DISTINCT p_name) FROM part",
    "events.rows": "SELECT count(*) FROM events",
    "events.users": "SELECT count(DISTINCT user_id) FROM events",
    "events.per_user.median": "SELECT median(n) FROM (SELECT count(*) n FROM events GROUP BY user_id)",
    "events.types": "SELECT count(DISTINCT event_type) FROM events",
    "events.span_days": "SELECT date_diff('day', min(ts), max(ts)) FROM events",
    "events.value.median": "SELECT median(value) FROM events",
    "events.value.max": "SELECT max(value) FROM events",
    "documents.rows": "SELECT count(*) FROM documents",
    "documents.exact_dup_share": "SELECT 1 - count(DISTINCT text) / count(*) FROM documents",
    "documents.words.min": "SELECT min(len(string_split(text, ' '))) FROM documents",
    "documents.words.median": "SELECT median(len(string_split(text, ' '))) FROM documents",
    "documents.words.max": "SELECT max(len(string_split(text, ' '))) FROM documents",
    "documents.vocabulary": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "documents.langs": "SELECT count(DISTINCT lang) FROM documents",
    "documents.en_share": "SELECT avg((lang = 'en')::int) FROM documents",
    "documents.sources": "SELECT count(DISTINCT source) FROM documents",
    "embeddings.rows": "SELECT count(*) FROM embeddings",
    "embeddings.dim": "SELECT max(len(embedding)) FROM embeddings",
    "embeddings.labels": "SELECT count(DISTINCT label) FROM embeddings",
}

# word-bigram Jaccard pairs, as the dedup_minhash* queries and their
# oracle shingle the documents
_BIGRAM_PAIRS = """
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))) AS s
        FROM (SELECT doc_id, string_split(lower(text), ' ') w FROM documents)
    ), sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id da, b.doc_id db, count(*) c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT count(*) FILTER (WHERE c / (sa.n + sb.n - c) >= 0.5),
           count(*) FILTER (WHERE c / (sa.n + sb.n - c) >= 0.2)
    FROM pairs JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
"""

# mean cosine of each vector to the mean of its label: how tight the
# clusters are that the similarity queries search
_CLUSTER_COSINE = """
    WITH v AS (SELECT vec_id, label, unnest(embedding) x,
                      generate_subscripts(embedding, 1) i FROM embeddings),
    c AS (SELECT label, i, avg(x) m FROM v GROUP BY 1, 2),
    d AS (SELECT vec_id, sum(x * m) dot, sqrt(sum(x * x)) nv, sqrt(sum(m * m)) nc
          FROM v JOIN c USING (label, i) GROUP BY vec_id)
    SELECT avg(dot / (nv * nc)) FROM d
"""


def profile(path: str) -> dict:
    with duckdb.connect() as db:
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                db.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}/{name}'")
        out = {name: db.sql(sql).fetchone()[0] for name, sql in FIGURES.items()}
        out["documents.bigram_pairs_0.5"], out["documents.bigram_pairs_0.2"] = (
            db.sql(_BIGRAM_PAIRS).fetchone())
        out["embeddings.cosine_to_label_mean"] = db.sql(_CLUSTER_COSINE).fetchone()[0]
    return out


if __name__ == "__main__":
    for name, value in profile(sys.argv[1]).items():
        print(f"{name:<36} {value:.4g}" if isinstance(value, float) else f"{name:<36} {value}")

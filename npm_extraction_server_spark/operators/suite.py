"""The driver-contract query suite: Spark callables + DuckDB oracles.

One entry per implemented operator family from SURVEY.md §2 plus the
training-data operators (dedup / similarity / text analysis). Every
aggregate over doubles is stabilized for cross-engine bit-equality:
row-level round -> decimal sum (exact) -> double -> final round, so the
DuckDB oracle hashes identically regardless of partial-agg order.

Naming: every computed column is aliased identically in the Spark plan
and the oracle SQL (driver compares sorted-by-name columns). Each query
registers under its function name with its oracle, ``@query(sql)`` (or
``@query(None)`` for rows-only), see operators/registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import (
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_recall_report,
    simhash_verified_pairs,
)
from .registry import ORACLE_SQL, SPARK_QUERIES, query  # noqa: F401
from .similarity import cosine_topk, ivf_topk, lsh_topk
from .text import (
    _BM25_B,
    _BM25_K1,
    fingerprints,
    lang_id,
    quality_scores,
    token_counts,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCRATCH_ROOT: str | None = None


def _scratch(prefix: str) -> str:
    """A fresh directory for a query's on-disk tables (snapshot tables,
    views, WARC files). The returned DataFrames read them lazily, so
    they must outlive the query call: every directory lives under one
    per-process root that is removed at interpreter exit."""
    global _SCRATCH_ROOT
    import tempfile

    if _SCRATCH_ROOT is None:
        import atexit
        import shutil

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark-kg-scratch-")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _dec_sum(col, scale=2):
    """Deterministic money-sum: round each term, sum exactly as decimal,
    emit double AT THE SAME SCALE. Re-rounding the exact decimal sum to
    a coarser scale can land exactly on a .xx5 tie, where Spark
    (HALF_UP) and DuckDB (half-even on decimals) disagree — one real
    group at sf0.1 summed to 289679.3450 and split .35 vs .34. Emitting
    at the term scale has no ties by construction (the sum IS exact at
    that scale) and decimal->double conversion is correctly rounded in
    both engines."""
    return F.round(
        F.sum(F.round(col, scale).cast(f"decimal(28,{scale})")).cast("double"), scale
    )


def _dec_sum_sql(expr, scale=2):
    return (f"round(cast(sum(cast(round({expr}, {scale}) as decimal(28,{scale}))) "
            f"as double), {scale})")


# --- scans / filters / projections (SC1-SC6, P1-P8) ----------------------

@query("""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE source <> 'src0' AND n_chars > 200
    """)
def sc1_scan_filter(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter((F.col("source") != "src0") & (F.col("n_chars") > 200))
        .select("doc_id", "lang", "n_chars")
    )


@query("""
        SELECT p_partkey, p_name, p_brand, p_type FROM part WHERE p_partkey = 42
    """)
def sc2_point_lookup(spark, sf):
    return (
        _t(spark, sf, "part")
        .filter(F.col("p_partkey") == 42)
        .select("p_partkey", "p_name", "p_brand", "p_type")
    )


@query("""
        SELECT json_extract_string(props, '$.k') AS k_val, count(*) AS n_events
        FROM events GROUP BY 1
    """)
def sc3_json_get(spark, sf):
    return (
        _t(spark, sf, "events")
        .select(F.get_json_object("props", "$.k").alias("k_val"))
        .groupBy("k_val")
        .agg(F.count("*").alias("n_events"))
    )


@query(f"""
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
               count(*) AS n_orders,
               {_dec_sum_sql('o_totalprice')} AS day_total
        FROM orders
        WHERE o_orderdate BETWEEN timestamp '1995-06-01 00:00:00'
                              AND timestamp '1995-08-31 00:00:00'
        GROUP BY 1
    """)
def sc5_changed_window(spark, sf):
    return (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderdate").between("1995-06-01", "1995-08-31"))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"))
        .agg(F.count("*").alias("n_orders"),
             _dec_sum(F.col("o_totalprice")).alias("day_total"))
    )


@query("""
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount), 4) AS revenue
        FROM lineitem WHERE l_quantity > 45
    """)
def p4_derive_project(spark, sf):
    # price/discount carry exactly 2 decimals, so the product sits on the
    # 4-decimal grid: round(.,4) has no cross-engine tie cases (a .5 tie
    # would need 5+ true decimals).
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .select(
            "l_orderkey", "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            .alias("revenue"),
        )
    )


# --- aggregations (A1-A3) ------------------------------------------------

@query("""
        SELECT user_id,
               array_to_string(list_sort(list_distinct(list(event_type))), ',')
                   AS event_types
        FROM events GROUP BY user_id
    """)
def a1_group_collect(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.array_join(F.sort_array(F.collect_set("event_type")), ",")
             .alias("event_types"))
    )


@query("""
        SELECT user_id, last_type, last_value FROM (
            SELECT user_id, event_type AS last_type, round(value, 2) AS last_value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1
    """)
def a2_last_write_wins(spark, sf):
    # round 6 (guide §2.3 "aggregate before you shuffle"): max_by over
    # the (ts, event_id) struct replaces the row_number sort-window —
    # the hash aggregate does MAP-SIDE partial reduction, so the
    # exchange carries one row per (user, partition) instead of every
    # event, and no per-partition sort runs. The pick is identical:
    # lexicographic max of (ts, event_id) == first row under
    # ORDER BY ts DESC, event_id DESC (event_id is unique, so the max
    # key is unique; struct comparison orders null fields smallest,
    # matching DESC NULLS LAST). Oracle SQL unchanged.
    ev = _t(spark, sf, "events")
    picked = ev.groupBy("user_id").agg(
        F.max_by(F.struct("event_type", "value"),
                 F.struct("ts", "event_id")).alias("p"))
    return picked.select(
        "user_id", F.col("p.event_type").alias("last_type"),
        F.round("p.value", 2).alias("last_value"))


@query("SELECT DISTINCT lang, source FROM documents")
def a3_distinct(spark, sf):
    return _t(spark, sf, "documents").select("lang", "source").distinct()


# --- joins (J1-J7 shapes) ------------------------------------------------

@query("""
        SELECT o_orderkey, o_custkey, picked_qty, picked_line FROM (
            SELECT o.o_orderkey, o.o_custkey, l.l_quantity AS picked_qty,
                   l.l_linenumber AS picked_line,
                   row_number() OVER (PARTITION BY o.o_orderkey
                                      ORDER BY l.l_quantity DESC, l.l_linenumber)
                       AS rn
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderstatus = 'F' AND l.l_quantity BETWEEN 30 AND 40)
        WHERE rn = 1
    """)
def j1_range_pick(spark, sf):
    """J1 shape: equi-join + predicate + max-by pick (the semver
    resolution join pattern: per edge, the best matching version)."""
    orders = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity").between(30, 40))
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("l_quantity"),
                                                 F.asc("l_linenumber"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "o_custkey", F.col("l_quantity").alias("picked_qty"),
                F.col("l_linenumber").alias("picked_line"))
    )


@query(f"""
        SELECT r_name, n_name, count(*) AS n_cust,
               {_dec_sum_sql('c_acctbal')} AS sum_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """)
def j2_broadcast_dim(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"), _dec_sum(F.col("c_acctbal")).alias("sum_bal"))
    )


@query("""
        SELECT c_mktsegment, count(*) AS n_with_orders FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """)
def j6_semi_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_orders"))
    )


@query("""
        SELECT c_nationkey, count(*) AS n_without_orders FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        GROUP BY c_nationkey
    """)
def j7_anti_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_without_orders"))
    )


# --- windows (W1, W4) ----------------------------------------------------

@query("""
        SELECT o_custkey, o_orderkey, totalprice, rank FROM (
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rank
            FROM orders WHERE o_custkey <= 50)
        WHERE rank <= 3
    """)
def w1_topk_per_group(spark, sf):
    o = _t(spark, sf, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("totalprice"), "rank")
    )


@query("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               round(sum(l_quantity) OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_qty
        FROM lineitem WHERE l_suppkey <= 5
    """)
def w4_running_sum(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_suppkey") <= 5)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
    )


# --- analytics (TPC-H-style headline queries) ----------------------------

@query(f"""
        SELECT l_returnflag, l_linestatus,
               {_dec_sum_sql('l_quantity')} AS sum_qty,
               {_dec_sum_sql('l_extendedprice')} AS sum_base_price,
               {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 4)}
                   AS sum_disc_price,
               {_dec_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}
                   AS sum_charge,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)
def q1_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dec_sum(disc_price, 4).alias("sum_disc_price"),
            # charge = price*(1-disc)*(1+tax) is EXACTLY 6-decimal:
            # rounding terms at 4 lands on .xxxx50 ties where the
            # engines' rounding modes differ; at the true scale there
            # are no ties
            _dec_sum(charge, 6).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@query(f"""
        SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               o_orderpriority,
               {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < timestamp '1996-03-15 00:00:00'
          AND l_shipdate > timestamp '1996-03-15 00:00:00'
        GROUP BY l_orderkey, order_date, o_orderpriority
    """)
def q3_shipping_priority(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1996-03-15")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
                 "o_orderpriority")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
             .alias("revenue"))
    )


@query(f"""
        SELECT n_name,
               {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey AND c_nationkey = s_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """)
def q5_region_revenue(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), (s.s_nationkey == n.n_nationkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
             .alias("revenue"))
    )


@query("""
        SELECT lang, count(*) AS n_docs,
               sum(n_chars) AS total_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents
        WHERE source <> 'src0'
        GROUP BY lang
    """)
def sql_lang_stats(spark, sf):
    """The SQL half of the dual API: the exact same engine consumed
    through ``spark.sql`` over registered corpus views (plans/catalog)
    — Catalyst compiles it to the identical plan a DataFrame chain
    gets, with full pushdown. Integer-exact aggregates (count/sum/
    min/max) so the oracle is the very same SQL text run by DuckDB."""
    from ..plans.catalog import sql

    return sql(spark, sf, """
        SELECT lang, count(*) AS n_docs,
               sum(n_chars) AS total_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents
        WHERE source <> 'src0'
        GROUP BY lang
    """)


@query(f"""
        SELECT {_dec_sum_sql('l_extendedprice * l_discount', 4)} AS revenue,
               count(*)::BIGINT AS n_rows
        FROM lineitem
        WHERE l_shipdate >= DATE '1994-01-01'
          AND l_shipdate < DATE '1995-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """)
def q6_forecast_revenue(spark, sf):
    """TPC-H Q6 shape: highly selective conjunctive filter + one
    global money sum — the pushdown showcase (every predicate reaches
    the parquet scan; the agg is a single partial+final pair over the
    surviving rows). Decimal-sum protocol for cross-engine equality."""
    li = _t(spark, sf, "lineitem")
    d = F.col("l_shipdate")
    return (
        li.filter((d >= F.lit("1994-01-01")) & (d < F.lit("1995-01-01"))
                  & (F.col("l_discount") >= 0.05)
                  & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 24))
        .agg(_dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 4)
             .alias("revenue"),
             F.count("*").alias("n_rows"))
    )


@query(f"""
        SELECT {_dec_sum_sql('l_extendedprice * (1.0 - l_discount)', 4)}
                   AS revenue,
               count(*)::BIGINT AS n_rows
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """)
def q19_disjunctive_bands(spark, sf):
    """TPC-H Q19 shape: an OR of three (brand, size-range,
    quantity-range) conjunction bands sharing the part equi-join key —
    the classic disjunctive-predicate plan test (the join stays ONE
    equi-join with the disjunction as a residual filter; the naive
    plan is a union of three joins). Part broadcasts; decimal-sum
    protocol for cross-engine equality."""
    li = _t(spark, sf, "lineitem")
    pt = _t(spark, sf, "part")
    q = F.col("l_quantity")
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & q.between(20, 30)))
    return (li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
            .filter(band)
            .agg(_dec_sum(F.col("l_extendedprice")
                          * (F.lit(1.0) - F.col("l_discount")), 4)
                 .alias("revenue"),
                 F.count("*").alias("n_rows")))


@query(f"""
        WITH big AS (
            SELECT l_orderkey,
                   {_dec_sum_sql('l_quantity')} AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING {_dec_sum_sql('l_quantity')} > 250
        )
        SELECT c_name, c_custkey, o_orderkey,
               o_orderdate::VARCHAR AS o_date, o_totalprice, sum_qty
        FROM orders
        JOIN big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """)
def q18_large_orders(spark, sf):
    """TPC-H Q18 shape: HAVING over a grouped child (orders whose
    line-quantity sum exceeds a threshold) joined back to customer +
    order headers — aggregate-then-join with the small filtered
    aggregate on the build side."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(_dec_sum(F.col("l_quantity")).alias("sum_qty"))
           .filter(F.col("sum_qty") > 250))
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey",
                F.col("o_orderdate").cast("string").alias("o_date"),
                "o_totalprice", "sum_qty")
    )


@query("""
        WITH v AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY 1
        ), c AS (
            SELECT v.user_id, min(e.ts) AS t_click
            FROM v JOIN events e ON e.user_id = v.user_id
                 AND e.event_type = 'click'
                 AND e.ts > v.t_view
                 AND e.ts <= v.t_view + INTERVAL 24 HOUR
            GROUP BY 1
        ), p AS (
            SELECT c.user_id, min(e.ts) AS t_purchase
            FROM c JOIN events e ON e.user_id = c.user_id
                 AND e.event_type = 'purchase'
                 AND e.ts > c.t_click
                 AND e.ts <= c.t_click + INTERVAL 24 HOUR
            GROUP BY 1
        )
        SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
               c.t_click IS NOT NULL AS reached_click,
               p.t_purchase IS NOT NULL AS converted
        FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """)
def events_funnel(spark, sf):
    """Sequential-pattern funnel per user: earliest view -> first click
    after it -> first purchase after that, within 24h per step (the
    classic conversion-funnel query) — computed in ONE pass: a cascade
    of conditional mins over the same user_id window (each step's
    predicate references the previous step's window column), then a
    same-key groupBy that reuses the window's hash partitioning. The
    whole plan has a SINGLE Exchange on user_id (plan-asserted); the
    previous form ran 3 join+groupBy rounds over the events table."""
    ev = _t(spark, sf, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    day = F.expr("INTERVAL 24 HOURS")

    def step_min(etype, prev):
        cond = F.col("event_type") == etype
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev)) \
                & (F.col("ts") <= F.col(prev) + day)
        return F.min(F.when(cond, F.col("ts"))).over(w)

    staged = (
        ev.withColumn("t_view", step_min("view", None))
        .withColumn("t_click", step_min("click", "t_view"))
        .withColumn("t_purchase", step_min("purchase", "t_click"))
    )
    return (
        staged.filter(F.col("t_view").isNotNull())
        .groupBy("user_id")
        .agg(F.min("t_view").alias("t_view"),
             F.min("t_click").alias("t_click"),
             F.min("t_purchase").alias("t_purchase"))
        .select(
            "user_id", "t_view", "t_click", "t_purchase",
            (F.col("t_click").isNotNull()).alias("reached_click"),
            (F.col("t_purchase").isNotNull()).alias("converted"),
        )
    )


@query("""
        WITH o AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
            SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM o
        )
        SELECT user_id, min(ts) AS sess_start,
               max(ts) + INTERVAL 30 MINUTE AS sess_end,
               count(*)::BIGINT AS n_events
        FROM s GROUP BY user_id, sid
    """)
def events_session_window(spark, sf):
    """Gap-based sessionization via Spark's BUILT-IN session_window
    (the dedicated aggregation operator — complements the custom
    window-lag/cumsum form in events_sessionize and shares its exact
    semantics: a session is maximal events per user with < 30 min
    between neighbors; end = last event + gap, half-open). Hard
    oracle: gaps-and-islands lag/cumsum in DuckDB — timestamps are
    exact, so sessions match bit-for-bit."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id",
                F.col("session_window.start").alias("sess_start"),
                F.col("session_window.end").alias("sess_end"),
                "n_events"))


@query("""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('second', lag(ts) OVER w, ts) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM flagged)
        SELECT user_id, cast(max(session_id) AS bigint) AS n_sessions,
               count(*) AS n_events
        FROM numbered GROUP BY user_id
    """)
def events_sessionize(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(new_session).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


# --- beyond-reference relational coverage ---------------------------------

@query(f"""
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
               {_dec_sum_sql('l_quantity')} AS qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """)
def g1_rollup(spark, sf):
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total rows."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), _dec_sum(F.col("l_quantity")).alias("qty"))
    )


@query("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """)
def g2_cube(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(f"""
        SELECT o_orderstatus, o_orderpriority,
               cast(grouping(o_orderstatus) AS INT) AS g_status,
               cast(grouping(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n_orders,
               {_dec_sum_sql('o_totalprice')} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus),
                                (o_orderstatus, o_orderpriority),
                                ())
    """)
def g4_grouping_sets(spark, sf):
    """Explicit GROUPING SETS — the generalization rollup (g1) and
    cube (g2) are shorthands for: exactly the three groupings
    (status), (status, priority), () in ONE pass (Spark plans one
    Expand + one aggregate — not a union of three scans). grouping()
    flags disambiguate real NULLs from subtotal rows; sum on the
    _dec_sum same-scale protocol."""
    o = _t(spark, sf, "orders")
    o.createOrReplaceTempView("g4_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               cast(grouping(o_orderstatus) AS int) AS g_status,
               cast(grouping(o_orderpriority) AS int) AS g_prio,
               count(*) AS n_orders,
               round(cast(sum(cast(round(o_totalprice, 2)
                                   AS decimal(28,2))) AS double), 2)
                   AS total_price
        FROM g4_orders
        GROUP BY GROUPING SETS ((o_orderstatus),
                                (o_orderstatus, o_orderpriority),
                                ())
    """)


@query("""
        WITH evh AS (
            SELECT event_id, event_type,
                   epoch(date_trunc('hour', ts))::BIGINT // 3600 AS eh
            FROM events
        ),
        span AS (SELECT min(eh) AS h0, max(eh) AS h1 FROM evh),
        wins AS (
            SELECT ws AS w_start, ws + 2 AS w_end
            FROM (SELECT unnest(generate_series(
                (SELECT h0 FROM span), (SELECT h1 FROM span))) AS ws)
            WHERE ws % 11 = 0
        )
        SELECT event_type, w_start, count(*) AS n_events
        FROM evh JOIN wins ON evh.eh BETWEEN wins.w_start AND wins.w_end
        GROUP BY 1, 2
    """)
def j13_interval_join(spark, sf):
    """Batch interval (range) join: every event joined to the
    maintenance windows containing its timestamp — ts BETWEEN w_start
    AND w_end, a NON-equi join the asof family (j9/j11) cannot
    express (asof picks one nearest row; this keeps every containing
    interval). The window dim is tiny and explicitly broadcast, so
    the plan is BroadcastNestedLoopJoin streaming the fact side once
    — the shape that survives at corpus scale because the build side
    is |windows|, never |events|. Windows derive deterministically
    from the events span (every 11th hour opens a 3-hour window), so
    the DuckDB twin rebuilds them bit-exactly."""
    ev = _t(spark, sf, "events")
    hr = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
          / 3600).cast("bigint")
    span = (ev.select(hr.alias("h"))
            .agg(F.min("h").alias("h0"), F.max("h").alias("h1")))
    wins = (span.select(F.explode(F.sequence(F.col("h0"), F.col("h1")))
                        .alias("ws"))
            .filter(F.col("ws") % 11 == 0)
            .select(F.col("ws").alias("w_start"),
                    (F.col("ws") + 2).alias("w_end")))
    evh = ev.select("event_id", "event_type", hr.alias("eh"))
    j = evh.join(F.broadcast(wins),
                 (F.col("eh") >= F.col("w_start"))
                 & (F.col("eh") <= F.col("w_end")))
    return (j.groupBy("event_type", "w_start")
            .agg(F.count("*").alias("n_events"))
            .filter(F.col("n_events") > 0))


@query("""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
               count(*) FILTER (WHERE l_linestatus = 'F') AS n_filled
        FROM lineitem GROUP BY l_returnflag
    """)
def g3_pivot(spark, sf):
    """Pivot linestatus into columns (manual CASE aggregation shape so
    the DuckDB oracle matches column-for-column)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .withColumnRenamed("O", "n_open")
        .withColumnRenamed("F", "n_filled")
        .na.fill({"n_open": 0, "n_filled": 0})
    )


@query("""
        WITH building AS (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        ), with_open AS (
            SELECT DISTINCT o_custkey AS c_custkey FROM orders
            WHERE o_orderstatus = 'O')
        SELECT c_custkey, 'both' AS which
        FROM (SELECT c_custkey FROM building
              INTERSECT SELECT c_custkey FROM with_open)
        UNION ALL
        SELECT c_custkey, 'building_only' AS which
        FROM (SELECT c_custkey FROM building
              EXCEPT ALL SELECT c_custkey FROM with_open)
    """)
def s1_set_ops(spark, sf):
    """INTERSECT / EXCEPT: customers in BUILDING vs with open orders."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_open = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")).distinct()
    both = building.intersect(with_open).withColumn("which", F.lit("both"))
    only_building = building.exceptAll(with_open).withColumn("which",
                                                             F.lit("building_only"))
    return both.unionByName(only_building)


@query("""
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               count(*) AS n
        FROM orders GROUP BY o_orderstatus
    """)
def p1_percentiles(spark, sf):
    """Exact percentiles per group (Spark `percentile` == DuckDB
    quantile_cont, both linear interpolation)."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.count("*").alias("n"),
        )
    )


@query(f"""
        SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
               count(*) AS n_orders,
               {_dec_sum_sql('o_totalprice')} AS total
        FROM orders GROUP BY 1, 2
    """)
def d1_date_parts(spark, sf):
    """Date/part derivations (S19 analog): year/quarter/month buckets."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"))
        .agg(F.count("*").alias("n_orders"),
             _dec_sum(F.col("o_totalprice")).alias("total"))
    )


@query("""
        SELECT p_partkey,
               upper(substring(p_name, 1, 5)) AS prefix5,
               length(p_name) AS name_len,
               instr(p_type, 'a') > 0 AS has_a,
               concat_ws('|', p_brand, p_type) AS brand_type
        FROM part
    """)
def str1_funcs(spark, sf):
    """String-kernel surface: substring/locate/upper/concat/length."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 5)).alias("prefix5"),
        F.length("p_name").alias("name_len"),
        (F.instr(F.col("p_type"), "a") > 0).alias("has_a"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


# --- training-data operators ---------------------------------------------

@query("""
        SELECT sha256(text) AS text_sha, min(doc_id) AS survivor_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1
    """)
def dedup_exact(spark, sf):
    docs = _t(spark, sf, "documents")
    sig = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("text_sha"))
    return (
        sig.groupBy("text_sha")
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("n_copies"))
    )


@query("""
        WITH norm AS (
            SELECT doc_id,
                   string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                                ' ') AS words
            FROM documents
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(words) - 3, 0) + 2),
                       i -> array_to_string(words[i:i+2], ' ')))) AS shingle
            FROM norm
        ), sizes AS (
            SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_common,
               round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6)
                   AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.05
    """)
def dedup_ngram(spark, sf):
    return ngram_jaccard_pairs(_t(spark, sf, "documents"), k=3, threshold=0.05)


@query(None)
def dedup_minhash(spark, sf):
    return minhash_lsh_pairs(_t(spark, sf, "documents"), num_hashes=64, bands=32,
                             threshold=0.2)


# Exact all-pairs word-3-shingle Jaccard at a threshold — the shared
# DuckDB oracle for the *verified* MinHash (0.5) and SimHash (0.9)
# dedup forms, whose LSH/band candidate recall is complete in those
# regimes so their output EQUALS this exact set.
_EXACT_JACCARD_SQL_TMPL = """
    WITH norm AS (
        SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                            ' ') AS words
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(words) - 3, 0) + 2),
                   i -> array_to_string(words[i:i+2], ' ')))) AS shingle
        FROM norm
    ), sizes AS (
        SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6)
               AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6)
          >= {threshold}
"""


@query(_EXACT_JACCARD_SQL_TMPL.format(threshold=0.5))
def dedup_minhash_verified(spark, sf):
    """MinHash-LSH candidates -> exact-Jaccard re-check: equals the
    exact pair set at threshold 0.5 (hard DuckDB oracle) with a
    bucketed candidate plan."""
    return minhash_verified_pairs(_t(spark, sf, "documents"), threshold=0.5)


@query("WITH RECURSIVE ep AS (" + _EXACT_JACCARD_SQL_TMPL.format(threshold=0.5)
        + """),
    e0 AS (SELECT doc_a AS src, doc_b AS dst FROM ep
           UNION ALL SELECT doc_b, doc_a FROM ep),
    reach(node, lbl) AS (
        SELECT src, src FROM e0
        UNION
        SELECT e0.dst, r.lbl FROM reach r JOIN e0 ON e0.src = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id,
           (node = min(lbl)) AS is_survivor
    FROM reach GROUP BY node
    """)
def dedup_clusters(spark, sf):
    """Near-dup CLUSTERS, not just pairs — the form a curation
    pipeline actually consumes: verified MinHash pairs (== the exact
    Jaccard>=0.5 set) closed into connected components, cluster id =
    min member, survivor = the canonical doc to keep. Composes the
    dedup family with the CC engine; hard oracle closes the exact
    pair set with a recursive CTE."""
    from ..plans.linking import connected_components
    from .dedup import minhash_verified_pairs

    pairs = minhash_verified_pairs(_t(spark, sf, "documents"),
                                   threshold=0.5)
    edges = pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))
    verts = (edges.select(F.col("src").alias("entity_iri"))
             .unionByName(edges.select(F.col("dst").alias("entity_iri")))
             .distinct())
    cc = connected_components(verts, edges)
    return cc.select(
        F.col("entity_iri").alias("doc_id"),
        F.col("canonical_id").alias("cluster_id"),
        (F.col("entity_iri") == F.col("canonical_id")).alias("is_survivor"))


@query(None)
def dedup_simhash(spark, sf):
    return simhash_near_pairs(_t(spark, sf, "documents"), max_hamming=8)


@query(_EXACT_JACCARD_SQL_TMPL.format(threshold=0.9))
def dedup_simhash_verified(spark, sf):
    """Bounded verified SimHash row: MinHash-LSH blocks (miss prob
    ~1e-23 at Jaccard 0.9), exact-Jaccard re-check -> equals the exact
    pair set at threshold 0.9 (hard DuckDB oracle). SimHash's own
    recall contract is measured adaptively per corpus by
    simhash_recall_report (pytest-verified) rather than betting the
    blocking on a fixed Hamming radius."""
    return simhash_verified_pairs(_t(spark, sf, "documents"), threshold=0.9)


@query(None)
def dedup_simhash_report(spark, sf):
    """Adaptive SimHash recall instrument (rows-only; its pair set is
    exactly the hard-oracled dedup_simhash_verified set): per TRUE
    near-dup pair, the measured 64-bit Hamming distance and the exact
    band-catch flag at the production (bands=4, probe_bits=1) blocking
    config — the per-corpus answer to 'what radius does this corpus
    need', replacing a fixed-radius bet."""
    return simhash_recall_report(_t(spark, sf, "documents"), threshold=0.9)


@query("""
        WITH orig AS (
            SELECT vec_id AS id,
                   list_transform(embedding, x -> cast(x AS double)) AS vec
            FROM embeddings),
        planted AS (
            SELECT id + 100000 AS id,
                   list_transform(range(1, 65),
                       i -> vec[i] + 0.01 * (cast((id * 64 + (i - 1)) % 5
                                                  AS double) - 2)) AS vec
            FROM orig WHERE id < 50),
        base AS (
            SELECT id, vec,
                   sqrt(list_sum(list_transform(vec, x -> x * x))) AS norm
            FROM (SELECT * FROM orig UNION ALL SELECT * FROM planted))
        SELECT a.id AS id_a, b.id AS id_b,
               round(list_sum(list_transform(range(1, 65),
                         i -> a.vec[i] * b.vec[i]))
                     / (a.norm * b.norm), 6) AS cosine
        FROM base a JOIN base b ON a.id < b.id
        WHERE round(list_sum(list_transform(range(1, 65),
                        i -> a.vec[i] * b.vec[i]))
                    / (a.norm * b.norm), 6) >= 0.95
    """)
def dedup_embedding(spark, sf):
    """Embedding near-dup over a corpus with PLANTED near-duplicates
    (vec_id < 50 get a deterministically-perturbed copy at id+100000 —
    cosine ~0.993), detected via the LSH-bucketed scale path (candidate
    equi-join on (table, bucket) + exact re-rank — no cross join). The
    DuckDB oracle replants identically and computes exact pairs; the
    row is green because LSH recall at near-dup angles is ~1 (and the
    sha256 hyperplanes make the result deterministic)."""
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + 0.01 * (F.pmod(F.col("vec_id") * 64 + i, F.lit(5)).cast("double") - 2),
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).unionByName(planted)
    return embedding_near_dup_pairs(corpus, threshold=0.95, mode="lsh")


@query("""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens,
               len(list_distinct(regexp_extract_all(text, '[A-Za-z0-9]+')))
                   AS distinct_words
        FROM documents
    """)
def text_tokens(spark, sf):
    return token_counts(_t(spark, sf, "documents"))


# DuckDB replay of the toy-BPE greedy longest-match segmentation: the
# recursive CTE walks each DISTINCT word with a cursor that advances by
# the longest vocab piece matching at the cursor (single char when none
# matches; correlated subquery picks the piece), counting one token per
# step; per-doc totals come from re-joining the word multiset. The
# vocab VALUES list is generated from the same frozen BPE_PIECES the
# Spark operator uses — one source of truth.
def _bpe_ctes() -> str:
    from .text import BPE_PIECES

    vocab_values = ", ".join(f"('{p}')" for p in BPE_PIECES)
    return f"""
    WITH RECURSIVE
    vocab(piece) AS (VALUES {vocab_values}),
    words AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents),
    dw AS (SELECT DISTINCT w FROM words),
    seg AS (
        SELECT w, 1 AS pos, 0 AS n FROM dw
        UNION ALL
        SELECT w,
               pos + length(coalesce(
                   (SELECT v.piece FROM vocab v
                     WHERE substr(seg.w, seg.pos, length(v.piece)) = v.piece
                     ORDER BY length(v.piece) DESC LIMIT 1),
                   substr(seg.w, seg.pos, 1))),
               n + 1
        FROM seg WHERE pos <= length(w)),
    counts AS (SELECT w, max(n) AS n_pieces FROM seg GROUP BY w),
    per_doc AS (
        SELECT doc_id, count(*) AS n_words, sum(n_pieces) AS n_bpe
        FROM words JOIN counts USING (w) GROUP BY doc_id)
    """


@query(_bpe_ctes() + """
    SELECT d.doc_id,
           coalesce(p.n_words, 0)::BIGINT AS n_words,
           coalesce(p.n_bpe, 0)::BIGINT AS n_bpe_tokens
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """)
def text_bpe_tokens(spark, sf):
    """Deterministic toy-BPE subword counts (greedy longest-match over
    the frozen BPE_PIECES vocab); the DuckDB oracle replays the same
    greedy segmentation with a recursive CTE over distinct words —
    a hard cross-engine check of a genuinely iterative tokenizer."""
    from .text import bpe_token_counts

    return bpe_token_counts(_t(spark, sf, "documents"))


@query("""
        WITH base AS (
            SELECT doc_id, text,
                   length(text) AS n_chars,
                   regexp_extract_all(text, '[A-Za-z0-9]+') AS words,
                   length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                       AS n_punct
            FROM documents
        ), feat AS (
            SELECT doc_id, n_chars, len(words) AS n_words,
                   CASE WHEN n_chars > 0
                        THEN cast(n_punct AS double) / n_chars ELSE 0.0 END
                       AS punct_ratio_raw,
                   CASE WHEN len(words) > 0
                        THEN cast(len(list_distinct(list_filter(words,
                             w -> list_contains(['the','and','of','to','in','is',
                                                 'that','for','with','on'], w))))
                             AS double) / len(words)
                        ELSE 0.0 END AS stop_ratio_raw,
                   CASE WHEN len(words) > 0
                        THEN cast(length(regexp_replace(text, '[\\s]', '', 'g'))
                             AS double) / len(words)
                        ELSE 0.0 END AS awl_raw
            FROM base)
        SELECT doc_id, n_chars, n_words,
               round(punct_ratio_raw, 6) AS punct_ratio,
               round(stop_ratio_raw, 6) AS stopword_ratio,
               round(awl_raw, 6) AS avg_word_len,
               round(least(n_words / 100.0, 1.0) * 0.5
                     + (1.0 - punct_ratio_raw) * 0.3
                     + least(stop_ratio_raw * 5, 1.0) * 0.2, 6) AS quality_score
        FROM feat
    """)
def text_quality(spark, sf):
    return quality_scores(_t(spark, sf, "documents"))


@query("""
        WITH base AS (
            SELECT doc_id, text,
                   regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS words
            FROM documents
        ), feat AS (
            SELECT doc_id, text, greatest(len(words), 1) AS n_words,
                   len(list_distinct(list_filter(words, w -> list_contains(
                       ['the','and','of','to','in','is','that','for','with','on'],
                       w)))) AS en_hits,
                   len(list_distinct(list_filter(words, w -> list_contains(
                       ['el','la','de','que','y','en','los','por','con','una'],
                       w)))) AS es_hits,
                   cast(length(regexp_replace(text, '[^一-鿿぀-ヿ]', '', 'g'))
                        AS double) / greatest(length(text), 1) AS cjk_raw
            FROM base)
        SELECT doc_id,
               round(cast(en_hits AS double) / n_words, 6) AS en_score,
               round(cast(es_hits AS double) / n_words, 6) AS es_score,
               round(cjk_raw, 6) AS cjk_ratio,
               CASE WHEN cjk_raw > 0.2 THEN 'cjk'
                    WHEN en_hits > es_hits THEN 'en'
                    WHEN es_hits > en_hits THEN 'es'
                    ELSE 'und' END AS lang_pred
        FROM feat
    """)
def text_langid(spark, sf):
    return lang_id(_t(spark, sf, "documents"))


@query("""
        WITH norm AS (
            SELECT doc_id,
                   lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext
            FROM documents
        ), sh AS (
            SELECT doc_id, ntext, string_split(ntext, ' ') AS words FROM norm)
        SELECT doc_id, md5(ntext) AS doc_md5,
               list_min(list_transform(
                   range(1, greatest(len(words) - 5, 0) + 2),
                   i -> md5(array_to_string(words[i:i+4], ' ')))) AS min_shingle_md5
        FROM sh
    """)
def text_fingerprint(spark, sf):
    return fingerprints(_t(spark, sf, "documents"))


def _textrank_sql(iterations: int = 4) -> str:
    """textrank_keywords' SQL twin: adjacent lowercased word tokens ->
    unordered co-occurrence counts -> symmetrized weighted edges ->
    the normalized=False weighted power iteration (init 1.0, teleport
    0.15, round(rank*w/sum_w, 12) contributions summed as
    DECIMAL(28,12)) unrolled."""
    sql = """
    WITH docs AS (
        SELECT regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS l
        FROM documents WHERE doc_id < 200
    ),
    prs AS (
        SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
        FROM docs, unnest(range(1, len(l))) AS t(i)
        WHERE l[i] <> l[i + 1]
    ),
    co AS (SELECT a, b, count(*)::BIGINT AS w FROM prs GROUP BY a, b),
    e0 AS (SELECT a AS src, b AS dst, w FROM co
           UNION ALL SELECT b, a, w FROM co),
    deg AS (SELECT src, sum(w) AS out_deg FROM e0 GROUP BY src),
    adj AS (SELECT e0.src, e0.dst, e0.w, deg.out_deg
            FROM e0 JOIN deg USING (src)),
    nodes AS (SELECT src AS node_id FROM e0 UNION SELECT dst FROM e0),
    r0 AS (SELECT node_id, 1.0::DOUBLE AS rank FROM nodes)"""
    for k in range(1, iterations + 1):
        sql += f""",
    r{k} AS (
        SELECT n.node_id,
               round(0.15 + 0.85 * coalesce(s.inflow, 0.0), 12) AS rank
        FROM nodes n LEFT JOIN (
            SELECT a.dst,
                   cast(sum(cast(round(r.rank * a.w / a.out_deg, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS inflow
            FROM adj a JOIN r{k - 1} r ON r.node_id = a.src
            GROUP BY a.dst) s ON s.dst = n.node_id)"""
    sql += f"""
    SELECT node_id AS word, round(rank, 8) AS rank FROM r{iterations}"""
    return sql


@query(_textrank_sql(4))
def text_textrank(spark, sf):
    """TextRank keyword scores over the first 200 documents (hard
    oracle: the word co-occurrence graph rebuilt with DuckDB list ops
    + the unnormalized weighted power iteration unrolled on the same
    decimal grid — bit-exact ranks). A text-layer -> graph-layer
    composition: tokenization, pair extraction, and the PageRank
    rounds are ONE Catalyst plan."""
    from .text import textrank_keywords

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return textrank_keywords(docs, iterations=4)


@query(r"""
        WITH planted AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id ||
                   '@mail.example.org or +1-800-' ||
                   lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
                   ' from 10.0.' || (doc_id % 200) || '.' ||
                   (doc_id % 250) AS text
            FROM documents
        ), s1 AS (
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       ::BIGINT AS n_emails,
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t
            FROM planted
        ), s2 AS (
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(t,
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ips,
                   regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b',
                                  '<IP>', 'g') AS t
            FROM s1
        )
        SELECT doc_id, n_emails, n_ips,
               len(regexp_extract_all(t, '\+?\d[\d-]{7,}\d\b'))::BIGINT
                   AS n_phones,
               regexp_replace(t, '\+?\d[\d-]{7,}\d\b', '<PHONE>', 'g')
                   AS scrubbed_text
        FROM s2
    """)
def text_pii_scrub(spark, sf):
    """PII redaction under a hard oracle: a deterministic PII footer
    (email + phone + IPv4 keyed off doc_id) is planted into every doc
    in BOTH engines; the scrubbed text and per-kind counts must match
    bit-exactly — a cross-engine check on the regex semantics."""
    from .text import scrub_pii

    docs = _t(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.org or +1-800-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 200).cast("string"),
            F.lit("."), (F.col("doc_id") % 250).cast("string"),
        ).alias("text"),
    )
    return scrub_pii(planted)


@query(r"""
        WITH norm AS (
            SELECT doc_id,
                   string_split(lower(regexp_replace(trim(text), '\s+', ' ',
                                                     'g')), ' ') AS words
            FROM documents
        ), chunks AS (
            SELECT doc_id, i AS pos,
                   array_to_string(words[(i*10+1):(i*10+10)], ' ') AS chunk
            FROM norm,
                 unnest(range(0, greatest(cast(ceil(len(words) / 10.0)
                                               AS BIGINT), 1))) AS t(i)
        ), hot AS (
            SELECT chunk FROM chunks
            GROUP BY chunk HAVING count(DISTINCT doc_id) > 1
        ), kept AS (
            SELECT c.* FROM chunks c ANTI JOIN hot USING (chunk)
        ), rebuilt AS (
            SELECT doc_id, count(*)::BIGINT AS n_kept_chunks,
                   string_agg(chunk, ' ' ORDER BY pos) AS kept_text
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(r.n_kept_chunks, 0) AS n_kept_chunks,
               coalesce(r.kept_text, '') AS kept_text
        FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """)
def text_span_dedup(spark, sf):
    """C4-style global span dedup (10-word chunks, drop chunks present
    in >1 distinct docs, reassemble) — DuckDB re-derives the full
    rebuilt corpus."""
    from .text import span_dedup

    return span_dedup(_t(spark, sf, "documents"), chunk_words=10,
                      max_doc_freq=1)


@query(r"""
        WITH norm AS (
            SELECT doc_id,
                   string_split(lower(regexp_replace(trim(text), '\s+', ' ',
                                                     'g')), ' ') AS words
            FROM documents
        ), base AS (
            SELECT doc_id, words, greatest(len(words), 1) AS n,
                   list_transform(range(1, greatest(len(words) - 3, 0) + 2),
                                  i -> array_to_string(words[i:i+2], ' '))
                       AS grams
            FROM norm
        )
        SELECT doc_id,
               round((len(words) - len(list_distinct(words))) / n, 6)
                   AS dup_word_frac,
               round((len(grams) - len(list_distinct(grams)))
                     / greatest(len(grams), 1), 6) AS dup_gram_frac,
               round(list_max(list_transform(list_distinct(words),
                         w -> len(list_filter(words, x -> x = w)))) / n, 6)
                   AS top_word_frac
        FROM base
    """)
def text_repetition(spark, sf):
    """Intra-doc repetition quality signals (hard oracle)."""
    from .text import repetition_scores

    return repetition_scores(_t(spark, sf, "documents"), k=3)


@query(r"""
        WITH norm AS (
            SELECT doc_id,
                   string_split(lower(regexp_replace(trim(text), '\s+', ' ',
                                                     'g')), ' ') AS words
            FROM documents
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(words) - 8, 0) + 2),
                       i -> array_to_string(words[i:i+7], ' ')))) AS shingle
            FROM norm
        ), eval_sh AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
        ), hits AS (
            SELECT s.doc_id, count(*)::BIGINT AS n_hits
            FROM sh s JOIN eval_sh USING (shingle) GROUP BY s.doc_id
        )
        SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """)
def text_decontaminate(spark, sf):
    """Eval-set decontamination under a hard oracle: eval = every 50th
    doc; training docs sharing any word-8-gram with it are flagged
    (DuckDB re-derives membership on the raw shingle strings — the
    Spark side joins on xxhash64 of the shingle, which is equivalent
    up to 64-bit collisions)."""
    from .text import decontaminate

    docs = _t(spark, sf, "documents")
    return decontaminate(docs, docs.filter(F.col("doc_id") % 50 == 0), k=8)


@query("""
        WITH arrs AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, unnest(arr) AS w,
                   unnest(generate_series(0, len(arr) - 1))::INT AS pos
            FROM arrs
        ),
        bi AS (
            SELECT doc_id, w AS w1,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM toks
        ),
        bif AS (SELECT * FROM bi WHERE w2 IS NOT NULL),
        c1 AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bif GROUP BY w1, w2),
        vs AS (SELECT count(*)::DOUBLE AS v_size FROM c1),
        logp AS (
            SELECT c2.w1, c2.w2,
                   round(ln((c2.c2::DOUBLE + 1.0)
                         / (c1.c1::DOUBLE + (SELECT v_size FROM vs))), 8)
                       AS lp
            FROM c2 JOIN c1 ON c1.w = c2.w1
        ),
        scored AS (
            SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                   round(cast(sum(cast(lp AS DECIMAL(28,8))) AS DOUBLE)
                         / count(*)::DOUBLE, 6) AS avg_logprob
            FROM bif JOIN logp USING (w1, w2) GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, avg_logprob,
               ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id)::INT
                   AS bucket
        FROM scored
    """)
def text_bigram_ppl(spark, sf):
    """Bigram-LM quality tiers (hard oracle: DuckDB replays the exact
    count/smooth/round protocol with a lead window over zipped-unnest
    positions)."""
    from .text import bigram_logprob_scores

    return bigram_logprob_scores(_t(spark, sf, "documents"))


@query("""
        WITH arrs AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, unnest(arr) AS w,
                   unnest(generate_series(0, len(arr) - 1))::INT AS pos
            FROM arrs
        ),
        grams AS (
            SELECT doc_id, w AS term FROM toks
            UNION ALL
            SELECT doc_id, w || ' ' ||
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
            FROM toks
            QUALIFY lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                    IS NOT NULL
        ),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5(term), 1, 12))::UBIGINT AS hx
            FROM grams
        )
        SELECT doc_id, (hx % 4096)::BIGINT AS feat,
               sum(CASE WHEN (hx // 4096) % 2 = 0 THEN 1 ELSE -1 END)
                   ::BIGINT AS val
        FROM hashed GROUP BY doc_id, feat
        HAVING sum(CASE WHEN (hx // 4096) % 2 = 0 THEN 1 ELSE -1 END) <> 0
    """)
def text_hashed_features(spark, sf):
    """Feature-hashing-trick sparse matrix (unigrams + bigrams,
    12-bit space, signed) — hard oracle: DuckDB rebuilds the exact
    matrix from the same md5 index/sign derivation."""
    from .text import hashed_features

    return hashed_features(_t(spark, sf, "documents"))


@query("""
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5('kpg:' || doc_id),
                                                1, 15))::UBIGINT,
                                doc_id) AS rn
            FROM documents)
        WHERE rn <= 50
    """)
def sample_k_per_domain(spark, sf):
    """Exact-k deterministic per-domain sample (k=50) — hard oracle:
    the identical md5-rank row_number in DuckDB selects the same
    rows."""
    from .sampling import sample_k_per_group

    return sample_k_per_group(_t(spark, sf, "documents"), k=50)


@query(f"""
        SELECT doc_id, source, w FROM (
            SELECT doc_id, source, w,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY key DESC, doc_id) AS rn
            FROM (
                SELECT doc_id, source, n_chars::DOUBLE AS w,
                       round(ln((('0x' || substr(md5('ws:' || doc_id),
                                                 1, 12))
                                 ::UBIGINT::BIGINT + 1)::DOUBLE
                                / {float(1 << 48)!r}), 8)
                           / n_chars::DOUBLE AS key
                FROM documents WHERE n_chars > 0))
        WHERE rn <= 50
    """)
def sample_weighted(spark, sf):
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-ES), 50 docs per source with inclusion probability ∝ n_chars —
    the quality-weighted curation subsample. Hard oracle: the
    identical md5-uniform + grid-ln(u)/w rank in DuckDB selects the
    SAME row set."""
    from .sampling import weighted_sample_k

    return weighted_sample_k(_t(spark, sf, "documents"), k=50,
                             weight_col="n_chars")


@query("""
        WITH toks AS (
            SELECT DISTINCT doc_id AS doc,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS token
            FROM documents
        ),
        n AS (SELECT doc, count(*) AS n FROM toks GROUP BY doc),
        pairs AS (
            SELECT a.doc AS id_a, b.doc AS id_b, count(*)::BIGINT AS inter
            FROM toks a JOIN toks b
              ON a.token = b.token AND a.doc < b.doc
            GROUP BY 1, 2
        )
        SELECT p.id_a, p.id_b, p.inter,
               na.n::BIGINT AS n_a, nb.n::BIGINT AS n_b
        FROM pairs p
        JOIN n na ON na.doc = p.id_a
        JOIN n nb ON nb.doc = p.id_b
        WHERE 8 * p.inter >= 3 * (na.n + nb.n)
    """)
def dedup_setsim_join(spark, sf):
    """EXACT set-similarity self-join at Jaccard >= 3/5 via lossless
    prefix filtering (hard oracle: brute-force all-pairs Jaccard in
    DuckDB — the prefix filter must lose NOTHING)."""
    from .dedup import setsim_join

    return setsim_join(_t(spark, sf, "documents"))


@query("""
        WITH arrs AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, unnest(arr) AS w,
                   unnest(generate_series(0, len(arr) - 1))::INT AS pos
            FROM arrs
        ),
        bi AS (
            SELECT doc_id, w AS w1,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM toks QUALIFY w2 IS NOT NULL
        ),
        cab AS (
            SELECT w1, w2, count(*)::BIGINT AS c_ab FROM bi
            GROUP BY w1, w2 HAVING count(*) >= 3
        ),
        uni AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w),
        nt AS (SELECT count(*)::BIGINT AS n_total FROM toks)
        SELECT cab.w1, cab.w2, cab.c_ab,
               ua.c AS c_a, ub.c AS c_b,
               (SELECT n_total FROM nt) AS n_total
        FROM cab
        JOIN uni ua ON ua.w = cab.w1
        JOIN uni ub ON ub.w = cab.w2
        WHERE 5 * cab.c_ab * (SELECT n_total FROM nt)
              >= 6 * ua.c * ub.c
    """)
def text_collocations(spark, sf):
    """Corpus collocations at exact lift >= 6/5 with min_count 3
    (131 pairs at sf0.01 — parameters chosen non-vacuous on the
    formulaic synthetic corpus; hard oracle: the identical integer
    cross-multiplied filter in DuckDB)."""
    from .text import collocations

    return collocations(_t(spark, sf, "documents"),
                        lift_num=6, lift_den=5, min_count=3)


@query("""
        WITH arrs AS (
            SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, unnest(arr) AS term,
                   unnest(generate_series(0, len(arr) - 1))::INT AS pos
            FROM arrs
        ),
        postings AS (
            SELECT term, doc_id, count(*)::BIGINT AS tf,
                   list_aggregate(list_sort(list(pos)), 'string_agg', ',')
                       AS positions
            FROM toks GROUP BY term, doc_id
        ),
        with_df AS (
            SELECT term, count(*) OVER (PARTITION BY term)::BIGINT AS df,
                   doc_id, tf, positions
            FROM postings
        )
        SELECT * FROM with_df WHERE df >= 2
    """)
def text_inverted_index(spark, sf):
    """Positional inverted index over the documents table, min_df=2
    (hard oracle: DuckDB rebuilds the postings with zipped unnest +
    the same window df). Positions are comma-joined so the array
    content is hash-comparable cross-engine."""
    from .text import inverted_index

    return inverted_index(_t(spark, sf, "documents"), min_df=2)


@query("""
        WITH base AS (
            SELECT doc_id, text,
                   regexp_extract_all(text, '[A-Za-z0-9]+') AS words,
                   string_split(text, chr(10)) AS lines
            FROM documents
        ), feat AS (
            SELECT doc_id,
                len(words) AS n_words,
                len(list_filter(words,
                    w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
                coalesce(list_sum(list_transform(words,
                    w -> length(w))), 0) AS twc,
                length(text) - length(replace(text, '#', '')) AS n_hash,
                len(string_split(text, '...')) - 1 AS n_ellipsis,
                len(lines) AS n_lines,
                len(list_filter(lines, ln -> regexp_matches(ln,
                    '^\\s*([-*•]|[0-9]+[.)])\\s'))) AS n_bullet,
                len(list_filter(lines, ln -> regexp_matches(ln,
                    '\\.\\.\\.\\s*$'))) AS n_ell_end,
                len(list_intersect(list_distinct(words),
                    ['the','be','to','of','and','that','have','with']))
                    AS n_stop
            FROM base
        )
        SELECT doc_id, n_words,
            (n_words BETWEEN 50 AND 100000) AS r_word_count,
            (n_words > 0 AND twc >= 3 * n_words
                         AND twc <= 10 * n_words) AS r_mean_word_len,
            (n_words > 0 AND 10 * (n_hash + n_ellipsis) <= n_words)
                AS r_symbol_ratio,
            (n_words > 0 AND 5 * n_alpha >= 4 * n_words) AS r_alpha_words,
            (10 * n_bullet < 9 * n_lines) AS r_bullet_lines,
            (10 * n_ell_end < 3 * n_lines) AS r_ellipsis_lines,
            (n_stop >= 2) AS r_stopwords,
            ((n_words BETWEEN 50 AND 100000)
             AND (n_words > 0 AND twc >= 3 * n_words AND twc <= 10 * n_words)
             AND (n_words > 0 AND 10 * (n_hash + n_ellipsis) <= n_words)
             AND (n_words > 0 AND 5 * n_alpha >= 4 * n_words)
             AND (10 * n_bullet < 9 * n_lines)
             AND (10 * n_ell_end < 3 * n_lines)
             AND (n_stop >= 2)) AS gopher_pass
        FROM feat
    """)
def text_gopher_rules(spark, sf):
    """Gopher/MassiveText quality rule set (Rae et al. 2021 A1.1
    thresholds) over the documents table — every rule an integer
    cross-multiplied boolean, so the DuckDB oracle reproduces the
    booleans bit-for-bit. The curation pre-filter a web-scale corpus
    runs before anything expensive."""
    from .text import gopher_rules

    return gopher_rules(_t(spark, sf, "documents"))


# DSIR's shared CTE chain: hashed unigram+bigram buckets over the raw
# corpus (= documents); target grams are the doc_id % 7 == 0 subset of
# the same stream (target is a subset of raw, so one gram pass feeds
# both LMs). Mirrors text.dsir_logweights term-for-term.
_DSIR_SCORED_CTES = """
    dsarr AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
        FROM documents
    ),
    dstok AS (
        SELECT doc_id, unnest(arr) AS w,
               unnest(generate_series(0, len(arr) - 1))::INT AS pos
        FROM dsarr
    ),
    dsgr AS (
        SELECT doc_id, w AS term FROM dstok
        UNION ALL
        SELECT doc_id, w || ' ' ||
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
        FROM dstok
        QUALIFY lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NOT NULL
    ),
    dsb AS (
        SELECT doc_id,
               (('0x' || substr(md5(term), 1, 12))::UBIGINT
                % 4096)::BIGINT AS b
        FROM dsgr
    ),
    dsrc AS (SELECT b, count(*) AS cr FROM dsb GROUP BY b),
    dstc AS (SELECT b, count(*) AS ct FROM dsb
             WHERE doc_id % 7 = 0 GROUP BY b),
    dstot AS (SELECT (SELECT sum(cr)::DOUBLE FROM dsrc) AS nr,
                     (SELECT sum(ct)::DOUBLE FROM dstc) AS nt),
    dslr AS (
        SELECT dsrc.b,
               round(ln((coalesce(dstc.ct, 0)::DOUBLE + 1.0)
                        / ((SELECT nt FROM dstot) + 4096.0))
                     - ln((dsrc.cr::DOUBLE + 1.0)
                          / ((SELECT nr FROM dstot) + 4096.0)), 8) AS lr
        FROM dsrc LEFT JOIN dstc ON dstc.b = dsrc.b
    ),
    dsscored AS (
        -- round the exact DECIMAL sum, THEN cast: round(double, 6)
        -- diverges cross-engine on ..50 scale-8 boundaries
        SELECT doc_id, count(*)::BIGINT AS n_grams,
               cast(round(sum(cast(lr AS DECIMAL(28,8))), 6) AS DOUBLE)
                   AS logw
        FROM dsb JOIN dslr ON dslr.b = dsb.b
        GROUP BY doc_id
    )
"""


@query(f"""
        WITH {_DSIR_SCORED_CTES}
        SELECT doc_id, n_grams, logw FROM dsscored
    """)
def text_dsir_weights(spark, sf):
    """DSIR importance log-weights (Xie et al. 2023) over the
    documents table: hashed unigram+bigram bucket LMs (2^12 buckets),
    target corpus = the deterministic quality-seed split
    doc_id % 7 == 0, raw corpus = all documents; per-doc
    log w = sum of 8-dp-grid bucket log-ratios on the decimal
    protocol (hard oracle: DuckDB replays the hashing, both smoothed
    LMs, and the decimal sum bit-exactly)."""
    from .text import dsir_logweights

    docs = _t(spark, sf, "documents")
    return dsir_logweights(docs, docs.filter(F.col("doc_id") % 7 == 0))


@query(f"""
        WITH {_DSIR_SCORED_CTES}
        SELECT doc_id, n_grams, logw FROM (
            SELECT doc_id, n_grams, logw,
                   row_number() OVER (ORDER BY logw DESC, doc_id) AS rn
            FROM dsscored)
        WHERE rn <= 50
    """)
def text_dsir_sample(spark, sf):
    """Deterministic DSIR selection: the top-50 most-target-like
    documents by importance log-weight (logw DESC, doc_id ASC) — the
    resampling step with the reproducible tie-break, planned as
    TakeOrderedAndProject over the weight table (hard oracle: QUALIFY
    row_number twin)."""
    from .text import dsir_logweights

    docs = _t(spark, sf, "documents")
    w = dsir_logweights(docs, docs.filter(F.col("doc_id") % 7 == 0))
    return (w.orderBy(F.col("logw").desc(), F.col("doc_id").asc())
            .limit(50))


@query("""
        WITH w AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS words,
                   list_filter(regexp_split_to_array(lower(text),
                                                     '[.!?]+'),
                               s -> regexp_matches(s, '[a-z0-9]'))
                       AS sents
            FROM documents
        ),
        c AS (
            SELECT doc_id, len(words) AS n_words,
                   len(sents)::BIGINT AS n_sentences,
                   coalesce(list_sum(list_transform(words,
                       x -> greatest(len(regexp_extract_all(
                                x, '[aeiouy]+')), 1))), 0)::BIGINT
                       AS n_syllables,
                   greatest(len(sents), 1) AS ns
            FROM w
        )
        SELECT doc_id, n_words::BIGINT AS n_words, n_sentences,
               n_syllables,
               round(206.835
                     - 1.015 * (n_words::DOUBLE / ns::DOUBLE)
                     - 84.6 * (CASE WHEN n_words > 0 THEN
                                   n_syllables::DOUBLE / n_words::DOUBLE
                               ELSE 0.0 END), 4) AS flesch_ease,
               round(0.39 * (n_words::DOUBLE / ns::DOUBLE)
                     + 11.8 * (CASE WHEN n_words > 0 THEN
                                   n_syllables::DOUBLE / n_words::DOUBLE
                               ELSE 0.0 END) - 15.59, 4) AS fk_grade
        FROM c
    """)
def text_readability(spark, sf):
    """Flesch reading-ease + Flesch-Kincaid grade per document —
    the classic readability quality gate (hard oracle: exact
    sentence/word/vowel-group-syllable counts, two correctly-rounded
    divisions, 4-dp affine combinations replayed in DuckDB)."""
    from .text import readability_scores

    return readability_scores(_t(spark, sf, "documents"))


@query("""
        WITH toks AS (
            SELECT source AS dom,
                   (('0x' || substr(md5(unnest(regexp_extract_all(
                        lower(text), '[a-z0-9]+'))), 1, 12))::UBIGINT
                    % 4096)::BIGINT AS b
            FROM documents
        ),
        cnt AS (SELECT dom, b, count(*) AS c FROM toks GROUP BY dom, b),
        tot AS (SELECT dom, sum(c) AS n FROM cnt GROUP BY dom),
        grid AS (
            SELECT tot.dom, gs.b, coalesce(cnt.c, 0) AS c, tot.n
            FROM tot
            CROSS JOIN (SELECT unnest(generate_series(0, 4095)) AS b) gs
            LEFT JOIN cnt ON cnt.dom = tot.dom AND cnt.b = gs.b
        ),
        g AS (
            SELECT dom, b,
                   (c::DOUBLE + 1.0) / (n::DOUBLE + 4096.0) AS p,
                   round(ln((c::DOUBLE + 1.0) / (n::DOUBLE + 4096.0)),
                         8) AS lp
            FROM grid
        )
        SELECT ga.dom AS domain_a, gb.dom AS domain_b,
               cast(round(sum(cast(round(ga.p * (ga.lp - gb.lp), 12)
                                   AS DECIMAL(38,12))), 6) AS DOUBLE)
                   AS kl_ab,
               cast(round(sum(cast(round(gb.p * (gb.lp - ga.lp), 12)
                                   AS DECIMAL(38,12))), 6) AS DOUBLE)
                   AS kl_ba
        FROM g ga JOIN g gb ON gb.b = ga.b AND ga.dom < gb.dom
        GROUP BY ga.dom, gb.dom
    """)
def text_domain_kl(spark, sf):
    """Pairwise KL divergence between per-source hashed-unigram LMs
    over the documents table — the domain-shift scorecard (hard
    oracle: DuckDB replays the densified 4096-bucket grid, the 8-dp
    ln terms, and the decimal sums bit-exactly)."""
    from .text import domain_kl

    return domain_kl(_t(spark, sf, "documents"))


@query("""
        WITH arrs AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
            FROM documents
        ),
        grams AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(array_to_string(list_slice(arr, i, i + 7), ' '))
                       AS gh
            FROM arrs,
                 unnest(generate_series(1, greatest(len(arr) - 7, 0)))
                     AS t(i)
        ),
        dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1),
        hits AS (
            SELECT g.doc_id, g.pos FROM grams g
            JOIN dup ON dup.gh = g.gh
        ),
        runs AS (
            SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM hits
        )
        SELECT doc_id, min(pos)::BIGINT AS start_tok,
               (max(pos) + 7)::BIGINT AS end_tok,
               count(*)::BIGINT AS n_grams
        FROM runs GROUP BY doc_id, grp
    """)
def text_dup_spans(spark, sf):
    """Exact duplicate-substring spans (Lee et al. 2021 ExactSubstr,
    8-token grams): maximal runs of corpus-repeated k-grams per
    document (hard oracle: the same gram hashing, count > 1
    criterion, and run-merge window in DuckDB — all integers/md5,
    bit-exact)."""
    from .text import duplicate_spans

    return duplicate_spans(_t(spark, sf, "documents"), k=8)


@query("""
        WITH toks AS (
            SELECT DISTINCT doc_id AS doc,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS token
            FROM documents
        ),
        n AS (SELECT doc, count(*) AS n FROM toks GROUP BY doc),
        pairs AS (
            SELECT a.doc AS id_a, b.doc AS id_b, count(*)::BIGINT AS inter
            FROM toks a JOIN toks b
              ON a.token = b.token AND a.doc <> b.doc
            GROUP BY 1, 2
        )
        SELECT p.id_a, p.id_b, p.inter,
               na.n::BIGINT AS n_a, nb.n::BIGINT AS n_b
        FROM pairs p
        JOIN n na ON na.doc = p.id_a
        JOIN n nb ON nb.doc = p.id_b
        WHERE 5 * p.inter >= 4 * na.n
    """)
def dedup_containment(spark, sf):
    """EXACT directed set-containment join at >= 4/5 over documents
    (dedup.containment_join) — the asymmetric near-superset dedup
    (short doc inside long doc) Jaccard misses. Hard oracle:
    brute-force all-pairs containment in DuckDB (recall-1 contract,
    same integer threshold)."""
    from .dedup import containment_join

    return containment_join(_t(spark, sf, "documents"),
                            threshold_num=4, threshold_den=5)


@query("""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, e.vec_id AS item_id,
                   round(
                       list_sum(list_transform(range(1, 65),
                           i -> cast(e.embedding[i] AS double)
                                * cast(q.qv[i] AS double)))
                       / (sqrt(list_sum(list_transform(range(1, 65),
                              i -> cast(e.embedding[i] AS double)
                                   * cast(e.embedding[i] AS double))))
                          * sqrt(list_sum(list_transform(range(1, 65),
                              i -> cast(q.qv[i] AS double)
                                   * cast(q.qv[i] AS double))))), 6) AS cosine
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
        SELECT query_id, item_id, cosine, rank FROM (
            SELECT query_id, item_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, item_id) AS rank
            FROM scored)
        WHERE rank <= 5
    """)
def sim_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=5)


@query("""
        WITH orig AS (
            SELECT vec_id AS id,
                   list_transform(embedding, x -> cast(x AS double)) AS vec
            FROM embeddings),
        q AS (
            SELECT id + 200000 AS query_id,
                   list_transform(range(1, 65),
                       i -> vec[i] + 0.01 * (cast((id * 64 + (i - 1)) % 5
                                                  AS double) - 2)) AS qv
            FROM orig WHERE id < 20),
        scored AS (
            SELECT q.query_id, o.id AS item_id,
                   round(list_sum(list_transform(range(1, 65),
                             i -> o.vec[i] * q.qv[i]))
                         / (sqrt(list_sum(list_transform(o.vec, x -> x * x)))
                            * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
                         6) AS cosine
            FROM orig o CROSS JOIN q WHERE o.id <> q.query_id)
        SELECT query_id, item_id, cosine FROM scored WHERE cosine >= 0.9
    """)
def sim_range_search(spark, sf):
    """Exact cosine range search over the planted queries (hard
    oracle: the same 6-dp-grid cosine filter in DuckDB) — the
    radius-query dual of sim_cosine_topk; at threshold 0.9 the result
    is exactly each plant's known near-duplicate source, asserting
    both directions of the radius cut (the ~0.993 plant passes, the
    ~0.4-max random mass does not)."""
    from .similarity import cosine_range

    emb = _t(spark, sf, "embeddings")
    return cosine_range(emb, _planted_ann_queries(emb), threshold=0.9)


@query(None)
def sim_lsh_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, dim=64,
                    tables=16, bits=4)


@query(None)
def sim_ivf_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


def _planted_ann_queries(emb, n: int = 20):
    """Perturbed copies of the first ``n`` vectors (cosine ~0.993 to
    their source, same formula as dedup_embedding's plants) — queries
    whose TRUE nearest neighbor is known to sit in the near-dup angle
    regime where LSH/IVF recall is ~1, making ANN top-1 exactly
    oracle-checkable."""
    return emb.filter(F.col("vec_id") < n).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + 0.01 * (F.pmod(F.col("vec_id") * 64 + i, F.lit(5)).cast("double") - 2),
        ).alias("embedding"),
    )


# Exact nearest neighbor of every planted ANN query (perturbed copies
# of vec_id < 20 at +200000; same plant formula as dedup_embedding) —
# the shared oracle for sim_lsh_verified and sim_ivf_verified: both ANN
# engines must retrieve the true top-1.
_ANN_VERIFIED_SQL = """
    WITH orig AS (
        SELECT vec_id AS id,
               list_transform(embedding, x -> cast(x AS double)) AS vec
        FROM embeddings),
    q AS (
        SELECT id + 200000 AS query_id,
               list_transform(range(1, 65),
                   i -> vec[i] + 0.01 * (cast((id * 64 + (i - 1)) % 5
                                              AS double) - 2)) AS qv
        FROM orig WHERE id < 20),
    scored AS (
        SELECT q.query_id, o.id AS item_id,
               round(list_sum(list_transform(range(1, 65),
                         i -> o.vec[i] * q.qv[i]))
                     / (sqrt(list_sum(list_transform(o.vec, x -> x * x)))
                        * sqrt(list_sum(list_transform(q.qv, x -> x * x)))),
                     6) AS cosine
        FROM orig o CROSS JOIN q)
    SELECT query_id, item_id, cosine, rank FROM (
        SELECT query_id, item_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, item_id) AS rank
        FROM scored)
    WHERE rank = 1
"""


@query(_ANN_VERIFIED_SQL)
def sim_lsh_verified(spark, sf):
    """ANN-LSH retrieves the exact nearest neighbor of every planted
    query (hard DuckDB oracle: exact argmax cosine). 16 tables x 8 bits:
    per-table collision for the ~0.993-cosine source is ~0.74, miss
    probability over 16 tables ~5e-10 — and the sha256 hyperplanes make
    the result fully deterministic."""
    emb = _t(spark, sf, "embeddings")
    return lsh_topk(emb, _planted_ann_queries(emb), k=1, dim=64,
                    tables=16, bits=8)


@query(_ANN_VERIFIED_SQL)
def sim_ivf_verified(spark, sf):
    """IVF ANN retrieves the exact nearest neighbor of every planted
    query (hard DuckDB oracle): the query is a tiny perturbation of its
    source vector, so the source's centroid cell is always within the
    nprobe=4 probed cells."""
    emb = _t(spark, sf, "embeddings")
    return ivf_topk(emb, _planted_ann_queries(emb), k=1,
                    n_centroids=16, nprobe=4)


@query(_ANN_VERIFIED_SQL)
def sim_ivfpq_verified(spark, sf):
    """IVF+PQ ANN retrieves the exact nearest neighbor of every
    planted query (hard DuckDB oracle: exact argmax cosine — same
    contract as sim_ivf_verified). Candidates are scored from 8-byte
    PQ residual codes via per-query ADC lookup tables; the exact
    re-rank touches only the 64 ADC survivors per query, and the
    ~0.993-cosine source vector always survives preselection (its ADC
    inner product is essentially maximal; quantization noise is shared
    across candidates)."""
    from .similarity import ivfpq_topk

    emb = _t(spark, sf, "embeddings")
    return ivfpq_topk(emb, _planted_ann_queries(emb), k=1,
                      n_centroids=16, nprobe=4, m_sub=8, ksub=16,
                      rerank=64)


@query(None)
def sim_ivfpq_recall(spark, sf):
    """Measured IVF+PQ recall@10 vs exact brute force on the corpus's
    own vectors (similarity.ivfpq_recall_report) — the quantization-
    error instrument VERDICT r4 item 6 asked for. Rows-only by nature
    (the index's k-means state is float-iterative and data-dependent;
    its exactness contract is pinned by the sim_ivfpq_verified hard
    sibling on the same code path). Measured on this corpus: mean
    recall@10 ~0.77 at nprobe=8/16 cells — an honest ceiling for IVF
    on near-uniform random embeddings (no cluster structure, so true
    neighbors scatter across cells; nprobe=16 reaches 0.98 but probes
    everything). The pytest floor pins mean >= 0.7 as the regression
    gate."""
    from .similarity import ivfpq_recall_report

    emb = _t(spark, sf, "embeddings")
    return ivfpq_recall_report(emb, n_queries=30, k=10,
                               n_centroids=16, nprobe=8, m_sub=8,
                               ksub=16, rerank=256)


@query("""
        WITH r AS (
            SELECT o_custkey AS user_id, o_orderdate,
                   max(o_orderkey) AS asof_orderkey,
                   round(max_by(o_totalprice, o_orderkey), 2) AS asof_total
            FROM orders GROUP BY 1, 2
        )
        SELECT e.user_id, e.event_id, e.ts,
               r.asof_orderkey, r.asof_total
        FROM events e ASOF LEFT JOIN r
          ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
    """)
def j9_asof_join(spark, sf):
    """As-of (point-in-time) join under DuckDB's NATIVE ASOF JOIN as
    the oracle: every event gets the latest order of the same customer
    at or before the event time. The right side is first reduced to
    one row per (customer, date) with a deterministic arg-max so the
    as-of target is unambiguous in both engines."""
    from .asof import asof_join

    ev = _t(spark, sf, "events").select("event_id", "ts", "user_id")
    r = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate"))
        .agg(F.max("o_orderkey").alias("asof_orderkey"),
             F.round(F.max_by("o_totalprice", "o_orderkey"), 2)
             .alias("asof_total"))
    )
    return asof_join(ev, r, by="user_id", left_time="ts",
                     right_time="o_orderdate",
                     value_cols=["asof_orderkey", "asof_total"])


@query("""
        WITH r AS (
            SELECT o_custkey AS user_id, o_orderdate,
                   max(o_orderkey) AS next_orderkey,
                   round(max_by(o_totalprice, o_orderkey), 2) AS next_total
            FROM orders GROUP BY 1, 2
        )
        SELECT e.user_id, e.event_id, e.ts,
               r.next_orderkey, r.next_total
        FROM events e ASOF LEFT JOIN r
          ON e.user_id = r.user_id AND e.ts <= r.o_orderdate
    """)
def j11_asof_forward(spark, sf):
    """FORWARD as-of join (pandas merge_asof direction='forward')
    under DuckDB's native ASOF JOIN with the reversed inequality as
    the oracle: every event gets the EARLIEST order of the same
    customer at or after the event time."""
    from .asof import asof_join

    ev = _t(spark, sf, "events").select("event_id", "ts", "user_id")
    r = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate"))
        .agg(F.max("o_orderkey").alias("next_orderkey"),
             F.round(F.max_by("o_totalprice", "o_orderkey"), 2)
             .alias("next_total"))
    )
    return asof_join(ev, r, by="user_id", left_time="ts",
                     right_time="o_orderdate",
                     value_cols=["next_orderkey", "next_total"],
                     direction="forward")


@query(f"""
        WITH dim AS (
            SELECT event_type, count(*)::BIGINT AS type_total
            FROM events GROUP BY 1
        )
        SELECT e.event_type, count(*)::BIGINT AS n_rows,
               max(d.type_total)::BIGINT AS type_total,
               {_dec_sum_sql('e.value')} AS sum_value
        FROM events e JOIN dim d USING (event_type)
        GROUP BY e.event_type
    """)
def j12_auto_salted_join(spark, sf):
    """Sketch-driven SELECTIVE salting under a hard oracle: hot keys
    detected by count-min heavy hitters get the salted join, the cold
    tail takes the plain join, and the unioned aggregate must equal
    the plain SQL join exactly (the split is a pure optimization; at
    sf0.01 the 2000-count threshold genuinely splits event types into
    both paths)."""
    from .skew import auto_salted_join

    ev = _t(spark, sf, "events")
    dim = ev.groupBy("event_type").agg(F.count("*").alias("type_total"))
    joined = auto_salted_join(ev, dim, "event_type",
                              hot_min_count=2000, salt_buckets=4,
                              salt_source="event_id")
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.max("type_total").alias("type_total"),
        _dec_sum(F.col("value")).alias("sum_value"))


@query(f"""
        SELECT o_orderpriority, count(*) AS n_rows,
               {_dec_sum_sql('l_quantity')} AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """)
def j8_salted_join(spark, sf):
    """Skew-safe salted join under a hard oracle: the salt must be
    side-effect-free — the salted lineitem⋈orders aggregate equals the
    plain SQL join (the salt spreads one hot key's rows across
    ``salt_buckets`` shuffle partitions; correctness is unchanged)."""
    from .skew import salted_join

    li = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity", "l_linenumber")
    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority")
    joined = salted_join(li, o, "okey", salt_buckets=8,
                         salt_source="l_linenumber")
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_rows"),
             _dec_sum(F.col("l_quantity")).alias("sum_qty"))
    )


@query("""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               a.c_nationkey AS blk,
               levenshtein(a.c_name, b.c_name)::INT AS dist
        FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
        WHERE a.c_custkey < b.c_custkey
          AND levenshtein(a.c_name, b.c_name) <= 2
    """)
def j10_fuzzy_block_join(spark, sf):
    """Blocked fuzzy self-join (the precision stage of entity
    resolution): customers blocked by nation, pairs scored with the
    built-in JVM levenshtein, kept within 2 edits. Hard oracle: the
    identical blocked join + DuckDB's levenshtein — both implement
    the standard DP edit distance, so the pair set and distances are
    integer-exact."""
    from .fuzzy import fuzzy_block_join

    return fuzzy_block_join(_t(spark, sf, "customer"), "c_custkey",
                            "c_nationkey", "c_name", max_dist=2)


_GRAPH_COMPONENTS_SQL = """
    WITH RECURSIVE e0 AS (
        SELECT doc_id AS a, doc_id - 1 AS b FROM documents
        WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT d.doc_id, d.doc_id + 100 FROM documents d
        WHERE d.doc_id % 37 = 0
          AND EXISTS (SELECT 1 FROM documents x
                      WHERE x.doc_id = d.doc_id + 100)
    ), sym AS (
        SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), r(id, t) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.id, sym.b FROM r JOIN sym ON r.t = sym.a
    )
    SELECT lpad(id::VARCHAR, 8, '0') AS node_id,
           lpad(min(t)::VARCHAR, 8, '0') AS component_id
    FROM r GROUP BY id
"""


@query(_GRAPH_COMPONENTS_SQL)
def graph_components(spark, sf):
    """J7 connected components under a HARD oracle: a deterministic
    graph over doc_ids (chain edges i -> i-1 within runs of 10, cross
    edges i -> i+100 at i % 37 == 0) whose components DuckDB re-derives
    via a recursive-CTE transitive closure. Exercises min-label
    propagation + pointer doubling over multi-hop chains. Node ids are
    zero-padded so string min == numeric min on both engines."""
    from ..plans.linking import connected_components

    docs = _t(spark, sf, "documents").select("doc_id")

    def nid(col):
        return F.lpad(col.cast("string"), 8, "0")

    vertices = docs.select(nid(F.col("doc_id")).alias("entity_iri"))
    chain = docs.filter((F.col("doc_id") % 10) != 0).select(
        nid(F.col("doc_id")).alias("src"),
        nid(F.col("doc_id") - 1).alias("dst"))
    cross = (
        docs.filter((F.col("doc_id") % 37) == 0)
        .select(nid(F.col("doc_id")).alias("src"),
                nid(F.col("doc_id") + 100).alias("dst"))
        .join(docs.select(nid(F.col("doc_id")).alias("dst")), "dst", "left_semi")
    )
    cc = connected_components(vertices, chain.unionByName(cross))
    return cc.select(F.col("entity_iri").alias("node_id"),
                     F.col("canonical_id").alias("component_id"))


@query("""
        WITH hashes AS (
            SELECT DISTINCT lang AS grp,
                   ('0x' || substr(md5(text), 1, 12))::UBIGINT::BIGINT AS h
            FROM documents
        ), kmin AS (
            SELECT grp, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
            FROM hashes QUALIFY rn <= 64
        ), agg AS (
            SELECT grp, count(*)::BIGINT AS n_kept, max(h) AS max_h
            FROM kmin GROUP BY grp
        )
        SELECT grp AS lang, n_kept,
               CASE WHEN n_kept = 64 THEN max_h END AS kth_hash,
               CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
                    ELSE round(63.0::DOUBLE * 281474976710656.0::DOUBLE
                               / max_h::DOUBLE, 4)
               END AS distinct_est
        FROM agg
    """)
def sketch_distinct(spark, sf):
    """KMV distinct-count sketch per lang (hard oracle: the md5-based
    k-min hash set — and therefore the estimate — is bit-identical in
    DuckDB; HLL sketches can't be cross-engine-verified, KMV can)."""
    from .sketch import kmv_distinct

    return kmv_distinct(_t(spark, sf, "documents"), "lang", "text", k=64)


@query("""
        WITH rows0 AS (
            SELECT DISTINCT event_type AS grp,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                   )::UBIGINT::BIGINT AS h
            FROM events
        ), sk AS (
            SELECT grp, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
            FROM rows0 QUALIFY rn <= 64
        ), pairs AS (
            SELECT a.grp AS ga, b.grp AS gb
            FROM (SELECT DISTINCT grp FROM sk) a,
                 (SELECT DISTINCT grp FROM sk) b
            WHERE a.grp < b.grp
        ), ex AS (
            SELECT p.ga, p.gb, s.h, 1 AS ia, 0 AS ib
            FROM pairs p JOIN sk s ON s.grp = p.ga
            UNION ALL
            SELECT p.ga, p.gb, s.h, 0, 1
            FROM pairs p JOIN sk s ON s.grp = p.gb
        ), u AS (
            SELECT ga, gb, h, max(ia) AS ia, max(ib) AS ib
            FROM ex GROUP BY ga, gb, h
        ), topk AS (
            SELECT ga, gb, h, ia, ib,
                   row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
            FROM u QUALIFY rn <= 64
        ), agg AS (
            SELECT ga, gb, count(*)::BIGINT AS n_kept, max(h) AS h_k,
                   sum(ia * ib)::BIGINT AS k_cap
            FROM topk GROUP BY ga, gb
        )
        SELECT ga, gb, n_kept, k_cap,
               round(CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
                          ELSE 63.0::DOUBLE * 281474976710656.0::DOUBLE
                               / h_k::DOUBLE END, 4) AS union_est,
               round(k_cap::DOUBLE / n_kept::DOUBLE, 6) AS jaccard,
               round((k_cap::DOUBLE / n_kept::DOUBLE)
                     * CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
                            ELSE 63.0::DOUBLE * 281474976710656.0::DOUBLE
                                 / h_k::DOUBLE END, 4) AS inter_est
        FROM agg
    """)
def sketch_set_ops(spark, sf):
    """KMV set algebra (hard oracle): pairwise union / Jaccard /
    intersection estimates between event-type AUDIENCES (distinct
    user_id sets) from the k-min sketches alone — the "how much do
    these segments overlap" question at 100 TB, answered on G·k
    sketch rows. The md5 hash grid makes every estimate bit-identical
    in DuckDB (the estimator itself is verified, not just plumbing)."""
    from .sketch import kmv_set_ops

    return kmv_set_ops(_t(spark, sf, "events"), "event_type", "user_id",
                       k=64)


def _hll_oracle(p: int = 8) -> str:
    """operators/sketch.hll_distinct mirrored in DuckDB: identical
    md5-derived registers, identical integer-scaled harmonic sum
    (exact in BIGINT, exact as double below 2^53), identical 4-dp
    estimate grid; alpha-derived constants repr-injected from the
    SAME Python floats the Spark side uses."""
    m = 1 << p
    sb = 48 - p
    mr = sb + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = repr(alpha * float(m) * float(m) * float(1 << mr))
    mf = repr(float(m))
    return f"""
    WITH h AS (
        SELECT event_type AS grp,
               ('0x' || substr(md5(event_id::VARCHAR), 1, 12))
                   ::UBIGINT::BIGINT AS hv
        FROM events),
    r AS (SELECT grp, hv >> {sb} AS reg,
                 hv & ((1::BIGINT << {sb}) - 1) AS rest FROM h),
    regs AS (SELECT grp, reg,
                    max(CASE WHEN rest = 0 THEN {mr}
                        ELSE {mr} - length(bin(rest)) END) AS mj
             FROM r GROUP BY grp, reg),
    agg AS (SELECT grp, count(*) AS nset,
                   sum(1::BIGINT << ({mr} - mj)) AS s_present
            FROM regs GROUP BY grp),
    est AS (SELECT grp, nset,
                   round({num} / (s_present
                         + ({m} - nset)::BIGINT * (1::BIGINT << {mr}))
                         ::DOUBLE, 4) AS raw
            FROM agg)
    SELECT grp AS event_type, nset::BIGINT AS n_registers_set,
           CASE WHEN ({m} - nset) > 0 AND raw <= {repr(2.5 * m)}
                THEN round({mf} * round(ln({mf}
                           / ({m} - nset)::DOUBLE), 8), 4)
                ELSE raw END AS distinct_est
    FROM est
    """


@query(_hll_oracle(8))
def sketch_hll(spark, sf):
    """HyperLogLog distinct-count per event_type over event_id (hard
    oracle: md5-derived registers + an integer-scaled harmonic sum
    make the ESTIMATE itself bit-identical in DuckDB — the same
    cross-engine-verifiable-sketch philosophy as sketch_distinct,
    for the industry-standard register sketch; fixed 2^8-register
    mergeable state per group)."""
    from .sketch import hll_distinct

    return hll_distinct(_t(spark, sf, "events"), "event_type", "event_id",
                        p=8)


@query("""
        WITH tgt(source, t) AS (
            VALUES ('src1', 0.6), ('src2', 0.3), ('src3', 0.1)),
        cnt AS (SELECT source, count(*) AS n FROM documents
                GROUP BY source),
        rates0 AS (SELECT c.source, c.n, g.t, c.n::DOUBLE / g.t AS cap
                   FROM cnt c JOIN tgt g USING (source)),
        tm AS (SELECT min(cap) AS tcap FROM rates0),
        rates AS (SELECT source,
                         cast(floor(t * (SELECT tcap FROM tm) / n::DOUBLE
                                    * 281474976710656.0) AS BIGINT) AS thr
                  FROM rates0),
        h AS (SELECT doc_id, source,
                     ('0x' || substr(md5('mix:' || doc_id), 1, 12))
                         ::UBIGINT::BIGINT AS hv
              FROM documents)
        SELECT h.doc_id, h.source
        FROM h JOIN rates USING (source) WHERE hv < thr
    """)
def sample_domain_mix(spark, sf):
    """Deterministic domain-mix resampling (hard oracle: the md5
    threshold selects the IDENTICAL row set in DuckDB): target mix
    src1:60% / src2:30% / src3:10% realized at maximum retention —
    the limiting domain keeps everything, the rest downsample."""
    from .sampling import resample_to_mix

    return resample_to_mix(_t(spark, sf, "documents"),
                           {"src1": 0.6, "src2": 0.3, "src3": 0.1})


@query("""
        WITH cnt AS (SELECT source, count(*) AS n FROM documents
                     GROUP BY source),
        rates0 AS (SELECT source, n,
                          round(power(n::DOUBLE, 0.5), 6) AS t,
                          n::DOUBLE / round(power(n::DOUBLE, 0.5), 6)
                              AS cap
                   FROM cnt),
        tm AS (SELECT min(cap) AS tcap FROM rates0),
        rates AS (SELECT source,
                         cast(floor(t * (SELECT tcap FROM tm) / n::DOUBLE
                                    * 281474976710656.0) AS BIGINT) AS thr
                  FROM rates0),
        h AS (SELECT doc_id, source,
                     ('0x' || substr(md5('mix:' || doc_id), 1, 12))
                         ::UBIGINT::BIGINT AS hv
              FROM documents)
        SELECT h.doc_id, h.source
        FROM h JOIN rates USING (source) WHERE hv < thr
    """)
def sample_alpha_mix(spark, sf):
    """Temperature (alpha=0.5) domain mixing — targets derived from
    the corpus's own domain counts, whole computation one plan (hard
    oracle: identical row set in DuckDB; the 6-dp grid on n^alpha
    absorbs cross-engine pow ulps)."""
    from .sampling import alpha_mix

    return alpha_mix(_t(spark, sf, "documents"), alpha=0.5)


@query("""
        WITH rows AS (
            SELECT event_type AS grp, user_id::VARCHAR AS v, i
            FROM events, unnest([0, 1, 2, 3]) AS t(i)
            WHERE user_id IS NOT NULL
        ),
        pm AS (
            SELECT grp,
                   (('0x' || substr(md5(i::VARCHAR || ':' || v), 1, 12))
                       ::UBIGINT % 288)::BIGINT AS pos
            FROM rows
        )
        SELECT grp AS event_type, (pos // 48)::BIGINT AS slot,
               bit_or(1::BIGINT << ((pos % 48)::INT)) AS bits
        FROM pm GROUP BY 1, 2
    """)
def sketch_bloom(spark, sf):
    """Per-event-type Bloom filter over user_id as a (grp, slot, bits)
    long table (hard oracle: md5 hash positions + exact integer bit_or
    make the FILTER ITSELF bit-identical in DuckDB). The 100 TB use:
    broadcast decontamination/blocklist prefilter — definite absences
    drop before any expensive join; mergeable cell-wise."""
    from .sketch import bloom_bits

    return bloom_bits(_t(spark, sf, "events"), "event_type", "user_id",
                      n_slots=6, k=4).withColumnRenamed("grp", "event_type")


@query("""
        WITH sample AS (
            SELECT lang, n_chars FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))
                  ::UBIGINT::BIGINT < 70368744177664
        )
        SELECT lang, count(*)::BIGINT AS n_sampled,
               round(quantile_cont(n_chars, 0.25), 4) AS q25,
               round(quantile_cont(n_chars, 0.50), 4) AS q50,
               round(quantile_cont(n_chars, 0.75), 4) AS q75
        FROM sample GROUP BY lang
    """)
def sketch_quantiles(spark, sf):
    """Deterministic hash-sample quantile estimator per lang (hard
    oracle: sample membership is md5-based so DuckDB draws the same
    sample and the same exact quantiles of it)."""
    from .sketch import hash_sample_quantiles

    return hash_sample_quantiles(_t(spark, sf, "documents"),
                                 "lang", "n_chars", key_col="doc_id",
                                 rate_bits=2)


@query("""
        SELECT doc_id, lang, n_chars FROM documents WHERE doc_id >= 200
    """)
def snap_incremental(spark, sf):
    """SC5, snapshot-table form (hard oracle): the documents table is
    committed in three snapshots to a snapshot-log table
    (sources/snapshots.py); the incremental read of (snap1, snap3]
    must return exactly the rows the last two commits added — the scan
    is planned from the manifests and opens ONLY those commits' files."""
    from ..sources.snapshots import commit, read_incremental

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snaptab_")
    s1 = commit(docs.filter(F.col("doc_id") < 200), table)
    commit(docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400)), table)
    commit(docs.filter(F.col("doc_id") >= 400), table)
    return read_incremental(spark, table, from_snapshot=s1)


@query("""
        WITH cells AS (
            SELECT j,
                   ('0x' || substr(md5(j || ':' || user_id), 1, 12))::UBIGINT
                       % 256 AS bucket,
                   count(*) AS cnt
            FROM events, unnest([0, 1, 2, 3]) AS t(j)
            GROUP BY 1, 2
        ),
        kj AS (
            SELECT DISTINCT user_id::VARCHAR AS v, t.j
            FROM events, unnest([0, 1, 2, 3]) AS t(j)
        ),
        est AS (
            SELECT kj.v, min(coalesce(c.cnt, 0)) AS est_count
            FROM kj LEFT JOIN cells c
              ON c.j = kj.j
             AND c.bucket = ('0x' || substr(md5(kj.j || ':' || kj.v), 1, 12))
                                ::UBIGINT % 256
            GROUP BY kj.v
        )
        SELECT v AS user_id, est_count::BIGINT AS est_count
        FROM est WHERE est_count >= 80
    """)
def sketch_heavy_hitters(spark, sf):
    """Count-min-sketch heavy hitters over events.user_id (hard
    oracle: md5-bucketed counters are deterministic, so DuckDB builds
    the identical depth x width table and the identical min-over-rows
    estimates — the estimator ITSELF is cross-engine-verified, same
    philosophy as sketch_distinct)."""
    from .sketch import cms_heavy_hitters

    return cms_heavy_hitters(_t(spark, sf, "events"), "user_id",
                             min_count=80)


@query("""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents
        ),
        counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        tot AS (SELECT sum(c)::DOUBLE AS n_total,
                       count(*)::DOUBLE AS v_size
                FROM counts),
        logp AS (
            SELECT w,
                   round(ln((c::DOUBLE + 1.0)
                         / ((SELECT n_total FROM tot)
                            + (SELECT v_size FROM tot))), 8) AS lp
            FROM counts
        ),
        scored AS (
            SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   round(cast(sum(cast(lp AS DECIMAL(28,8))) AS DOUBLE)
                         / count(*)::DOUBLE, 6) AS avg_logprob
            FROM toks JOIN logp USING (w) GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, avg_logprob,
               ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id)::INT
                   AS bucket
        FROM scored
    """)
def text_unigram_ppl(spark, sf):
    """CCNet-style LM quality scoring (hard oracle): Laplace-smoothed
    unigram model fit on the corpus, every document scored by mean
    token log-prob, corpus split into 3 quality tiers (head/middle/
    tail). Deterministic via the 8-dp ln grid + decimal sums; tier
    ties break on doc_id."""
    from .text import unigram_logprob_scores

    return unigram_logprob_scores(_t(spark, sf, "documents"), n_buckets=3)


@query(None)
def text_bpe_train(spark, sf):
    """Distributed BPE merge-table training (rows-only: the iterative
    data-dependent argmax is not SQL-expressible; the trainer is
    pinned EXACTLY against an independent pure-Python reference
    implementation in tests/test_operators.py, and the apply path has
    the hard-oracled sibling text_bpe_tokens). Corpus-sized work is
    one word-count shuffle; each merge round runs on the vocab-sized
    frequency table."""
    from .text import bpe_train

    return bpe_train(_t(spark, sf, "documents")
                     .filter(F.col("doc_id") < 200), n_merges=25)


@query("""
        WITH words AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
            FROM documents
        ),
        dt AS (
            SELECT doc_id, term, count(*) AS tf FROM words
            WHERE term IN ('spark', 'merge', 'vector')
            GROUP BY 1, 2
        ),
        idf AS (
            SELECT term,
                   round(ln(((SELECT count(*) + 1 FROM documents))::DOUBLE
                            / (count(DISTINCT doc_id) + 1)), 8) AS idf
            FROM dt GROUP BY term
        ),
        scored AS (
            SELECT doc_id,
                   cast(round(sum(cast(tf * idf AS DECIMAL(28,8))),
                              6) AS DOUBLE) AS score
            FROM dt JOIN idf USING (term) GROUP BY doc_id
        )
        SELECT doc_id, score, rank::INT AS rank FROM (
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM scored)
        WHERE rank <= 20
    """)
def text_tfidf_topk(spark, sf):
    """Lexical retrieval: top-20 documents by TF-IDF for a fixed query
    (hard oracle: identical idf grid + decimal tf*idf sums in DuckDB;
    1-ulp ln() divergence between engines is absorbed by the 8-dp
    rounding)."""
    from .text import tfidf_topk

    return tfidf_topk(_t(spark, sf, "documents"),
                      ["spark", "merge", "vector"], k=20)


def _bm25_oracle() -> str:
    """BM25 oracle with float constants injected via repr() from the
    SAME Python values operators/text.py:bm25_topk uses — an engine
    re-deriving k1+1 could differ by an ulp; a repr round-trip cannot."""
    k1p1, one_m_b = repr(_BM25_K1 + 1.0), repr(1.0 - _BM25_B)
    k1r, br = repr(_BM25_K1), repr(_BM25_B)
    return """
        WITH toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS t
            FROM documents
        ),
        lens AS (SELECT doc_id, len(t) AS dl FROM toks),
        avgl AS (SELECT sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
                 FROM lens),
        dt AS (
            SELECT toks.doc_id, lens.dl, w.term, count(*) AS tf
            FROM toks JOIN lens USING (doc_id),
                 unnest(toks.t) AS w(term)
            WHERE w.term IN ('spark', 'merge', 'vector')
            GROUP BY 1, 2, 3
        ),
        idf AS (
            SELECT term,
                   round(ln(1.0 + ((SELECT count(*) FROM documents)::DOUBLE
                                   - count(DISTINCT doc_id)::DOUBLE + 0.5)
                            / (count(DISTINCT doc_id)::DOUBLE + 0.5)), 8)
                       AS idf
            FROM dt GROUP BY term
        ),
        scored AS (
            SELECT doc_id,
                   cast(round(sum(cast(round(
                       idf * ((tf::DOUBLE * {{k1p1}})
                              / (tf::DOUBLE + {{k1r}} * ({{one_m_b}}
                                 + {{br}} * dl::DOUBLE
                                   / (SELECT avgdl FROM avgl)))), 8)
                       AS DECIMAL(28,8))), 6) AS DOUBLE) AS score
            FROM dt JOIN idf USING (term) GROUP BY doc_id
        )
        SELECT doc_id, score, rank::INT AS rank FROM (
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM scored)
        WHERE rank <= 20
    """.replace("{{k1p1}}", k1p1).replace("{{k1r}}", k1r) \
       .replace("{{one_m_b}}", one_m_b).replace("{{br}}", br)  # noqa: E501


@query(_bm25_oracle())
def text_bm25_topk(spark, sf):
    """Okapi BM25 top-20 for the same fixed query (hard oracle: the
    mirrored SQL injects the IDENTICAL float constants via repr —
    k1+1 computed once in Python, never re-derived engine-side — and
    uses the same 8-dp score grid + decimal sums)."""
    from .text import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"),
                     ["spark", "merge", "vector"], k=20)


@query("""
        SELECT 'not_null(user_id)' AS rule,
               event_id::VARCHAR AS key, user_id::VARCHAR AS detail
        FROM events WHERE user_id IS NULL
        UNION ALL
        SELECT 'range(value,0.0,10.0)', event_id::VARCHAR, value::VARCHAR
        FROM events
        WHERE value IS NOT NULL AND (value < 0.0 OR value > 10.0)
        UNION ALL
        SELECT 'accepted(event_type)', event_id::VARCHAR, event_type
        FROM events
        WHERE event_type IS NOT NULL
          AND event_type NOT IN ('click', 'view', 'error', 'signup')
        UNION ALL
        SELECT 'expr(props_has_k)', event_id::VARCHAR, 'props LIKE ''%"k"%'''
        FROM events
        WHERE NOT coalesce(props LIKE '%"k"%', FALSE)
        UNION ALL
        SELECT 'fk(user_id->c_custkey)', event_id::VARCHAR,
               user_id::VARCHAR
        FROM events
        WHERE user_id IS NOT NULL
          AND user_id NOT IN (SELECT c_custkey FROM customer
                              WHERE c_custkey IS NOT NULL)
    """)
def dq_violations(spark, sf):
    """Data-quality expectations (hard oracle): the write-audit-
    publish audit step as one plan — row-local rules (not_null /
    range / accepted / expr) fuse into a single scan pass, the
    referential rule is one anti-join against the customer dim (zero
    violations — the empty-rule path is part of the contract), and
    the violation stream is re-derived in DuckDB with plain WHERE
    clauses."""
    from .quality import validate

    ev = _t(spark, sf, "events")
    cust = _t(spark, sf, "customer")
    rules = [
        ("not_null", "user_id"),
        ("range", "value", 0.0, 10.0),
        ("accepted", "event_type", ["click", "view", "error", "signup"]),
        ("expr", "props_has_k", "props LIKE '%\"k\"%'"),
        ("fk", "user_id", cust, "c_custkey"),
    ]
    return validate(ev, rules, key_col="event_id")


@query("""
        WITH obs AS (
            SELECT event_type AS k, epoch_us(ts) AS t, min(value) AS v
            FROM events GROUP BY 1, 2
        ), b AS (
            SELECT k, min(t) AS lo, max(t) AS hi FROM obs GROUP BY k
        ), grid AS (
            SELECT k, j AS t, CAST(NULL AS DOUBLE) AS v, 0 AS is_obs
            FROM b, unnest(generate_series(
                CAST(ceil(lo / 300000000.0) * 300000000 AS BIGINT),
                hi, 300000000)) AS g(j)
        ), u AS (
            SELECT k, t, v, 1 AS is_obs FROM obs
            UNION ALL SELECT k, t, v, is_obs FROM grid
        ), w AS (
            SELECT k, t, is_obs,
                last_value(v IGNORE NULLS) OVER fwd AS pv,
                last_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS)
                    OVER fwd AS pt,
                first_value(v IGNORE NULLS) OVER bwd AS nv,
                first_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS)
                    OVER bwd AS nt
            FROM u
            WINDOW fwd AS (PARTITION BY k ORDER BY t, is_obs DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW),
                   bwd AS (PARTITION BY k ORDER BY t, is_obs DESC
                           ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING)
        )
        SELECT k AS event_type, make_timestamp(t) AS grid_ts,
               round(CASE WHEN pt = t THEN pv
                          WHEN pt IS NULL THEN nv
                          WHEN nt IS NULL THEN pv
                          ELSE pv + (nv - pv)
                               * ((t - pt)::DOUBLE / (nt - pt)::DOUBLE)
                     END, 6) AS value
        FROM w WHERE is_obs = 0
    """)
def ts_resample(spark, sf):
    """Time-series resample + linear interpolation per event_type on a
    5-minute grid (hard oracle: identical union+two-window IEEE
    expression in DuckDB — last/first ignorenulls with the same
    coincident-instant tie order; the 6-dp round absorbs nothing, the
    bits already match, it just pins the contract)."""
    from .asof import resample_linear

    return resample_linear(_t(spark, sf, "events"),
                           key="event_type", ts="ts", value="value",
                           step_s=300)


# ts_ewma's smoothing factor alpha and truncation window W, shared with
# its DuckDB twin
_EWMA_ALPHA, _EWMA_WINDOW = 0.3, 24


def _ts_ewma_sql() -> str:
    """DuckDB twin: the identical driver-computed scaled-integer
    weight literals over the identical lag frame (shared WINDOW
    clause); all-BIGINT sum, one final /10^8 double division."""
    wints = [int(round(_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i, 8) * 1e8 + 0.5)
             for i in range(_EWMA_WINDOW)]
    terms = []
    for i, wi in enumerate(wints):
        x = "n" if i == 0 else f"coalesce(lag(n, {i}) OVER w, 0)"
        terms.append(f"{wi}::BIGINT * ({x})")
    expr = "(" + "\n                 + ".join(terms) + ")"
    return f"""
        WITH cnt AS (
            SELECT event_type AS et,
                   epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h,
                   count(*) AS n
            FROM events GROUP BY et, h
        ),
        span AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
        grid AS (
            SELECT t.et, gs.h, coalesce(cnt.n, 0) AS n
            FROM (SELECT DISTINCT et FROM cnt) t
            CROSS JOIN (SELECT unnest(generate_series(
                (SELECT h0 FROM span), (SELECT h1 FROM span))) AS h) gs
            LEFT JOIN cnt ON cnt.et = t.et AND cnt.h = gs.h
        )
        SELECT et AS event_type, h AS hour, n::BIGINT AS n,
               cast({expr} AS DOUBLE) / 100000000.0 AS ewma
        FROM grid
        WINDOW w AS (PARTITION BY et ORDER BY h)
    """


@query(_ts_ewma_sql())
def ts_ewma(spark, sf):
    """Exponentially-weighted moving average of hourly event rates per
    type — the smoothing/forecast primitive next to ts_resample's
    interpolation. The recurrence is folded into its TRUNCATED closed
    form S_t = sum_{i<W} alpha(1-alpha)^i x_{t-i} (zero-padded before
    the series start, stated contract): the W weights are computed
    ONCE on the driver, rounded to the 8-dp grid and emitted as
    INTEGER literals scaled by 10^8 into BOTH engines — no
    cross-engine pow, and (the trap this operator pinned) no decimal
    ADD CHAIN: folding 24 decimal(.,8) terms grows Spark's result
    precision past 38 and allowPrecisionLoss silently DROPS SCALE
    (0.98437568 came back 0.984375). All-integer Horner-style
    arithmetic never loses digits (the graph_katz discipline); the
    single final /10^8 is one correctly-rounded double division.
    Bound: hourly count x 10^8 per term must fit int64 — counts up to
    ~9x10^10/hour/type, far past any real stream. One window pass:
    all W lags share one window spec, so Spark plans a single
    sort+Window over the dense grid."""
    ev = _t(spark, sf, "events")
    hr = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
          / 3600).cast("bigint")
    # the (type, hour) count feeds span/types/grid — checkpoint it so
    # the corpus scan runs once (the plan-diamond sweep; audited)
    cnt = (ev.select(F.col("event_type").alias("et"), hr.alias("h"))
           .groupBy("et", "h").agg(F.count("*").alias("n"))
           .localCheckpoint(eager=True))
    span = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (cnt.select("et").distinct()
            .crossJoin(F.broadcast(span))
            .select("et", F.explode(F.sequence("h0", "h1")).alias("h"))
            .join(cnt, ["et", "h"], "left")
            .select("et", "h", F.coalesce("n", F.lit(0)).alias("n")))
    w = Window.partitionBy("et").orderBy("h")
    wints = [int(round(_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i, 8) * 1e8 + 0.5)
             for i in range(_EWMA_WINDOW)]
    s = None
    for i, wi in enumerate(wints):
        x = F.col("n") if i == 0 else F.coalesce(F.lag("n", i).over(w),
                                                 F.lit(0))
        term = F.lit(wi) * x
        s = term if s is None else s + term
    return grid.select(F.col("et").alias("event_type"),
                       F.col("h").alias("hour"), "n",
                       (s.cast("double") / F.lit(1e8)).alias("ewma"))


@query("""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id >= 150 AND doc_id < 340
    """)
def snap_stats_prune(spark, sf):
    """Manifest-stats file pruning (hard oracle): documents are
    committed range-clustered on doc_id, then a doc_id window is read
    via read_where — scan planning keeps only files whose footer
    min/max overlap the predicate (the Iceberg stats-pruning story;
    pruned-vs-total is asserted in tests/test_snapshots.py). Results
    must equal a plain filtered scan, which is what DuckDB runs."""
    from ..sources.snapshots import commit, plan_scan, read_where

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapstats_")
    commit(docs, table, partitions=8, cluster_by=["doc_id"])
    preds = [("doc_id", ">=", 150), ("doc_id", "<", 340)]
    kept, total = plan_scan(table, preds)
    assert len(kept) < len(total), "stats pruning had no effect"
    return read_where(spark, table, preds).select("doc_id", "lang", "n_chars")


@query("""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE n_chars >= 200 AND n_chars < 260
    """)
def snap_zorder(spark, sf):
    """Z-order clustered commit (hard oracle): documents are committed
    with cluster_mode='zorder' over (doc_id, n_chars) — the
    interleaved-bit curve gives EVERY clustered dimension usable
    per-file ranges, so a predicate on doc_id AND a predicate on
    n_chars each prune files (both asserted; linear clustering serves
    only its first key — the 2-D grid proof lives in
    tests/test_snapshots.py). The read must equal a plain filtered
    scan, which is what DuckDB runs — the curve is pure layout, never
    semantics."""
    from ..sources.snapshots import commit, plan_scan, read_where

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapz_")
    commit(docs, table, partitions=16, cluster_by=["doc_id", "n_chars"],
           cluster_mode="zorder")
    p1 = [("doc_id", ">=", 100), ("doc_id", "<", 160)]
    p2 = [("n_chars", ">=", 200), ("n_chars", "<", 260)]
    k1, total = plan_scan(table, p1)
    k2, _ = plan_scan(table, p2)
    assert len(k1) < len(total), "z-order: dim 1 did not prune"
    assert len(k2) < len(total), "z-order: dim 2 did not prune"
    return read_where(spark, table, p2).select("doc_id", "lang",
                                               "n_chars")


@query("""
        SELECT doc_id,
               lang,
               CASE WHEN doc_id >= 100 AND doc_id < 200
                    THEN n_chars + 1000 ELSE n_chars END AS n_chars
        FROM documents
        UNION ALL
        SELECT doc_id + 100000, lang, -1 FROM documents WHERE doc_id < 50
    """)
def snap_merge_upsert(spark, sf):
    """Copy-on-write MERGE/upsert (hard oracle): documents land
    range-clustered, then a merge updates n_chars for doc_id in
    [100,200) and inserts shadow rows at doc_id+100000 for doc_id<50.
    Only files whose manifest key range overlaps the update keys are
    rewritten (asserted); DuckDB re-derives the merged table with
    plain CASE/UNION set logic."""
    from ..sources.snapshots import (
        commit,
        merge_upsert,
        read_snapshot,
        snapshot_log,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapmerge_")
    commit(docs, table, partitions=8, cluster_by=["doc_id"])
    updates = (
        docs.filter((d >= 100) & (d < 200))
        .select("doc_id", "lang", (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(
            docs.filter(d < 50)
            .select((d + 100000).alias("doc_id"), "lang",
                    F.lit(-1).alias("n_chars")))
    )
    merge_upsert(spark, table, updates, key="doc_id")
    man = snapshot_log(table)[-1]
    assert man["operation"] == "overwrite"
    assert len(man["removed_files"]) < 8, "merge rewrote every file"
    return read_snapshot(spark, table)


@query("""
        SELECT doc_id, lang, (n_chars + 1000)::BIGINT AS n_chars,
               'insert' AS _change_type, 2 AS _snapshot_id
        FROM documents WHERE doc_id >= 100 AND doc_id < 200
        UNION ALL
        SELECT doc_id + 100000, lang, -1, 'insert', 2
        FROM documents WHERE doc_id < 50
        UNION ALL
        SELECT doc_id, lang, n_chars::BIGINT, 'delete', 2
        FROM documents WHERE doc_id >= 100 AND doc_id < 200
    """)
def snap_changelog(spark, sf):
    """Row-level change-data feed over a copy-on-write merge (hard
    oracle): after the same merge as snap_merge_upsert, read_changes
    must emit exactly the delete+insert pairs of the updated keys plus
    the pure inserts — survivor rows copied between rewritten files
    cancel out of the diff. DuckDB re-derives the change set with
    plain set logic."""
    from ..sources.snapshots import commit, merge_upsert, read_changes

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapcdf_")
    s1 = commit(docs, table, partitions=8, cluster_by=["doc_id"])
    updates = (
        docs.filter((d >= 100) & (d < 200))
        .select("doc_id", "lang", (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(
            docs.filter(d < 50)
            .select((d + 100000).alias("doc_id"), "lang",
                    F.lit(-1).alias("n_chars")))
    )
    merge_upsert(spark, table, updates, key="doc_id")
    return read_changes(spark, table, from_snapshot=s1)


@query("""
        WITH finalrows AS (
            SELECT lang,
                   CASE WHEN doc_id >= 100 AND doc_id < 200
                        THEN n_chars + 1000 ELSE n_chars END AS n_chars
            FROM documents WHERE doc_id < 300
            UNION ALL
            SELECT lang, -1 FROM documents WHERE doc_id < 50
        )
        SELECT lang, count(*)::BIGINT AS n_rows,
               sum(n_chars)::BIGINT AS sum_chars
        FROM finalrows GROUP BY lang
    """)
def snap_incr_view(spark, sf):
    """Incrementally-maintained aggregate view (hard oracle): a
    per-lang (n_docs, sum_chars) view created at snapshot 1, then an
    append + a copy-on-write merge land on the base table and ONE
    incremental refresh folds their changelog into the view — no base
    rescan (asserted: the refresh consumed exactly the change rows,
    two orders below the table). DuckDB recomputes the final
    aggregate from scratch; incremental must equal recompute."""
    from ..plans.views import create_agg_view, read_view, refresh_agg_view
    from ..sources.snapshots import commit, merge_upsert

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapview_")
    view = _scratch("aggview_")
    commit(docs.filter(d < 150), table, partitions=8,
           cluster_by=["doc_id"])
    create_agg_view(spark, table, view, group_by=["lang"],
                    sums={"sum_chars": "n_chars"})
    commit(docs.filter((d >= 150) & (d < 300)), table, partitions=4)
    updates = (
        docs.filter((d >= 100) & (d < 200))
        .select("doc_id", "lang", (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(
            docs.filter(d < 50)
            .select((d + 100000).alias("doc_id"), "lang",
                    F.lit(-1).alias("n_chars")))
    )
    merge_upsert(spark, table, updates, key="doc_id")
    stats = refresh_agg_view(spark, table, view)
    # incremental contract: work follows the changelog, not the table
    assert 0 < stats["change_rows"] < 600, stats
    assert refresh_agg_view(spark, table, view)["change_rows"] == 0
    return read_view(spark, view)


@query(f"""
        WITH pp AS (
            SELECT l_partkey,
                   sum(cast(round(l_quantity, 2) AS DECIMAL(28,2)))
                       AS sum_q,
                   count(*) AS cnt
            FROM lineitem GROUP BY l_partkey
        ),
        sel AS (
            SELECT p_partkey FROM part
            WHERE p_brand = 'Brand#23' AND p_size < 15
        )
        SELECT {_dec_sum_sql("l_extendedprice")} AS sum_extprice,
               count(*)::BIGINT AS n_rows
        FROM lineitem
        JOIN sel ON sel.p_partkey = lineitem.l_partkey
        JOIN pp USING (l_partkey)
        WHERE 5 * cast(round(l_quantity, 2) AS DECIMAL(28,2)) * cnt
              < sum_q
    """)
def q17_small_quantity(spark, sf):
    """TPC-H Q17 shape — correlated per-part average turned exact:
    the classic avg-subquery filter l_quantity < 0.2 * avg(qty) is
    cross-multiplied to ``5 * qty * cnt < sum_qty`` over exact
    decimals, so no division (and no float) exists anywhere; the
    per-part aggregate joins back broadcastable, the money sum uses
    the decimal protocol (hard oracle: identical rewrite in
    DuckDB)."""
    li = _t(spark, sf, "lineitem")
    sel = (_t(spark, sf, "part")
           .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15))
           .select(F.col("p_partkey").alias("l_partkey")))
    qd = F.round(F.col("l_quantity"), 2).cast("decimal(28,2)")
    # Semi-join BEFORE the per-part aggregate: only ~1/1000 parts
    # survive the brand/size filter, so aggregating the full lineitem
    # and discarding 99.9% of the groups would be a full-table shuffle
    # wasted at scale. The broadcast semi-join prunes the aggregate's
    # input; per-part sums/counts are unchanged because every lineitem
    # row of a selected part survives the equi-join.
    li_sel = li.join(F.broadcast(sel), "l_partkey")
    per_part = (li_sel.groupBy("l_partkey")
                .agg(F.sum(qd).alias("sum_q"),
                     F.count("*").alias("cnt")))
    return (li_sel
            .join(per_part, "l_partkey")
            .filter(F.lit(5) * qd * F.col("cnt") < F.col("sum_q"))
            .agg(_dec_sum(F.col("l_extendedprice")).alias("sum_extprice"),
                 F.count("*").alias("n_rows")))


@query("""
        SELECT doc_id, lang, n_chars FROM documents
    """)
def snap_compact(spark, sf):
    """Compaction as a hard oracle: 8 small commits -> one 'replace'
    snapshot; the rewritten table must read back exactly the logical
    state (DuckDB recomputes it from documents) and the file count
    must actually shrink (asserted) — the small-files maintenance op
    end-to-end."""
    from ..sources.snapshots import commit, compact, plan_scan, read_snapshot

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapcompact_")
    for i in range(8):
        commit(docs.filter((d % 8) == i), table, partitions=4)
    pre = len(plan_scan(table, [])[1])
    compact(spark, table, partitions=2, cluster_by=["doc_id"])
    post = len(plan_scan(table, [])[1])
    assert post < pre, (pre, post)
    return read_snapshot(spark, table)


@query("""
        WITH cnt AS (
            SELECT event_type AS et,
                   epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h,
                   count(*) AS n
            FROM events GROUP BY et, h
        ),
        span AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
        grid AS (
            SELECT t.et, gs.h, coalesce(cnt.n, 0) AS n
            FROM (SELECT DISTINCT et FROM cnt) t
            CROSS JOIN (SELECT unnest(generate_series(
                (SELECT h0 FROM span), (SELECT h1 FROM span))) AS h) gs
            LEFT JOIN cnt ON cnt.et = t.et AND cnt.h = gs.h
        ),
        stats AS (
            SELECT et, count(*) AS nh, sum(n) AS s, sum(n * n) AS ss
            FROM grid GROUP BY et
        )
        SELECT g.et AS event_type, g.h AS hour, g.n::BIGINT AS n,
               round(s::DOUBLE / nh::DOUBLE, 6) AS mean_rate,
               round(ss::DOUBLE / nh::DOUBLE
                     - (s::DOUBLE / nh::DOUBLE) * (s::DOUBLE / nh::DOUBLE),
                     6) AS var_rate
        FROM grid g JOIN stats st ON st.et = g.et
        WHERE (g.n::DOUBLE - s::DOUBLE / nh::DOUBLE)
              * (g.n::DOUBLE - s::DOUBLE / nh::DOUBLE)
              > 4.0 * (ss::DOUBLE / nh::DOUBLE
                       - (s::DOUBLE / nh::DOUBLE)
                         * (s::DOUBLE / nh::DOUBLE))
    """)
def events_rate_outliers(spark, sf):
    """Per-type event-rate anomaly scan — the ops question (which
    hours spiked? which type went quiet?) asked deterministically:
    counts on the DENSE epoch-hour grid between the dataset's first
    and last hour (zeros count — a silent hour IS the anomaly),
    per-type mean/variance over the grid, and the outlier test as
    (x - mean)^2 > 4 * var — the z > 2 rule squared, so there is NO
    sqrt and every comparison is between identically-derived doubles
    (hard oracle: same grid, same integer sums, same correctly-
    rounded divisions in DuckDB). One count aggregate + a tiny
    type x hours grid; corpus-sized work is one scan — the count is
    eagerly localCheckpoint-ed since it feeds span/types/grid and the
    stats/test fork (audited: 6 FileScans without, 0 downstream
    with)."""
    ev = _t(spark, sf, "events")
    # date_trunc first: unix_timestamp truncates sub-second fractions
    # while DuckDB's epoch() rounds them — the hour boundary must be
    # derived from a fraction-free timestamp in both engines
    hr = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
          / 3600).cast("bigint")
    cnt = (ev.select(F.col("event_type").alias("et"), hr.alias("h"))
           .groupBy("et", "h").agg(F.count("*").alias("n"))
           .localCheckpoint(eager=True))
    span = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (cnt.select("et").distinct()
            .crossJoin(F.broadcast(span))
            .select("et", F.explode(F.sequence("h0", "h1")).alias("h"))
            .join(cnt, ["et", "h"], "left")
            .select("et", "h", F.coalesce("n", F.lit(0)).alias("n")))
    stats = (grid.groupBy("et")
             .agg(F.count("*").alias("nh"),
                  F.sum("n").alias("s"),
                  F.sum(F.col("n") * F.col("n")).alias("ss")))
    mean = F.col("s").cast("double") / F.col("nh").cast("double")
    var = (F.col("ss").cast("double") / F.col("nh").cast("double")
           - mean * mean)
    j = grid.join(stats, "et")
    dev = F.col("n").cast("double") - mean
    return (j.filter(dev * dev > F.lit(4.0) * var)
            .select(F.col("et").alias("event_type"), F.col("h").alias("hour"),
                    "n", F.round(mean, 6).alias("mean_rate"),
                    F.round(var, 6).alias("var_rate")))


@query("""
        WITH pairs AS (
            SELECT event_type AS prev_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       AS next_type
            FROM events
        ),
        cnt AS (
            SELECT prev_type, next_type, count(*) AS n
            FROM pairs WHERE next_type IS NOT NULL
            GROUP BY prev_type, next_type
        )
        SELECT prev_type, next_type, n::BIGINT AS n,
               round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_type)
                     ::DOUBLE, 6) AS p
        FROM cnt
    """)
def events_markov(spark, sf):
    """First-order Markov transition matrix over per-user event
    streams — the user-journey model (what follows a click? where do
    error paths lead?): per user, events ordered by (ts, event_id)
    pair into (prev_type -> next_type) bigrams; output one row per
    transition with the count and the row-normalized probability on
    the 6-dp grid (hard oracle: the same lead() window + integer
    counts + one correctly-rounded division in DuckDB). Scale shape:
    one user-keyed window pass + one (prev, next)-keyed count — the
    sessionize budget; the matrix is |event_types|^2, driver-tiny."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select("user_id", "ts", "event_id", "event_type",
                       F.lead("event_type").over(w).alias("next_type"))
             .filter(F.col("next_type").isNotNull()))
    cnt = (pairs.groupBy(F.col("event_type").alias("prev_type"),
                         "next_type")
           .agg(F.count("*").alias("n")))
    wp = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type", "next_type", "n",
        F.round(F.col("n").cast("double")
                / F.sum("n").over(wp).cast("double"), 6).alias("p"))


@query("""
        WITH f AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ),
        w AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS w
            FROM events WHERE user_id IS NOT NULL
        )
        SELECT f.cohort_week,
               (datediff('day', f.cohort_week, w.w) // 7)::INT AS week_k,
               count(DISTINCT w.user_id)::BIGINT AS n_users
        FROM f JOIN w USING (user_id)
        GROUP BY 1, 2
    """)
def events_retention(spark, sf):
    """Cohort retention matrix: users bucketed by first-event ISO
    week, distinct-user counts at each week offset (hard oracle: the
    identical date_trunc/datediff derivation in DuckDB — both engines
    Monday-truncate, so the day difference is an exact multiple of
    7)."""
    ev = _t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    firsts = (ev.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    weeks = (ev.select("user_id",
                       F.date_trunc("week", F.col("ts")).alias("w"))
             .distinct())
    return (firsts.join(weeks, "user_id")
            .select("user_id", "cohort_week",
                    (F.datediff(F.col("w"), F.col("cohort_week"))
                     / F.lit(7)).cast("int").alias("week_k"))
            .groupBy("cohort_week", "week_k")
            .agg(F.count_distinct("user_id").alias("n_users")))


@query("""
        SELECT event_id, ts, user_id FROM events
        WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-12'
    """)
def snap_hidden_partition(spark, sf):
    """Hidden partitioning (hard oracle): events commit day(ts)-
    partitioned — the derived day column is invisible to readers, and
    a ts-window predicate on the RAW column prunes the scan to the
    window's files via the transform-aware predicate rewrite
    (asserted). DuckDB runs the plain filter; results must match
    exactly, proving the layout is a pure optimization."""
    import datetime

    from ..sources.snapshots import commit, plan_scan, read_where

    ev = _t(spark, sf, "events").select("event_id", "ts", "user_id")
    table = _scratch("snaphp_")
    commit(ev, table, partitions=8, partition_spec=[("day", "ts")])
    preds = [("ts", ">=", datetime.datetime(2024, 1, 10)),
             ("ts", "<", datetime.datetime(2024, 1, 12))]
    kept, total = plan_scan(table, preds)
    assert len(kept) < len(total), "hidden-partition pruning had no effect"
    return read_where(spark, table, preds)


# MOR produces the SAME logical state/changes as CoW — that
# equivalence is exactly what these oracles pin
@query("""
        SELECT doc_id,
               lang,
               CASE WHEN doc_id >= 100 AND doc_id < 200
                    THEN n_chars + 1000 ELSE n_chars END AS n_chars
        FROM documents
        UNION ALL
        SELECT doc_id + 100000, lang, -1 FROM documents WHERE doc_id < 50
    """)
def snap_mor_merge(spark, sf):
    """MERGE-ON-READ upsert (hard oracle — same merged state as
    snap_merge_upsert, produced the Iceberg v2 way): the same updates
    commit as one 'rowdelta' snapshot (new rows + an equality-delete
    key file), rewriting ZERO existing data files (asserted), with
    readers applying the delete as a broadcast anti-join against
    strictly-older files. DuckDB re-derives the state with CASE/UNION
    set logic, so the two write strategies are pinned equivalent."""
    from pathlib import Path

    from ..sources.snapshots import (
        commit,
        mor_upsert,
        read_snapshot,
        snapshot_log,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapmor_")
    commit(docs, table, partitions=8, cluster_by=["doc_id"])
    before = {str(p) for p in Path(table).rglob("*.parquet")}
    updates = (
        docs.filter((d >= 100) & (d < 200))
        .select("doc_id", "lang", (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(
            docs.filter(d < 50)
            .select((d + 100000).alias("doc_id"), "lang",
                    F.lit(-1).alias("n_chars")))
    )
    mor_upsert(spark, table, updates, key="doc_id")
    man = snapshot_log(table)[-1]
    assert man["operation"] == "rowdelta" and man["delete_files"]
    assert not man.get("removed_files"), "MOR merge rewrote data files"
    after = {str(p) for p in Path(table).rglob("*.parquet")}
    assert before <= after, "MOR merge deleted pre-existing files"
    return read_snapshot(spark, table)


@query("""
        SELECT doc_id, lang, n_chars AS chars,
               CAST(NULL AS BIGINT) AS quality
        FROM documents WHERE doc_id < 300
        UNION ALL
        SELECT doc_id, lang, n_chars, doc_id % 7
        FROM documents WHERE doc_id >= 300 AND doc_id < 400
    """)
def snap_schema_evolution(spark, sf):
    """Field-id schema evolution (hard oracle): documents commit under
    (doc_id, lang, n_chars); a metadata-only evolve renames n_chars ->
    chars and adds quality bigint (asserted: zero data files written);
    a post-evolve commit appends rows in the new schema. read_snapshot
    returns ONE uniform schema — old files read through the rename by
    field id, their quality is NULL. DuckDB re-derives both eras with
    plain aliasing/UNION, proving the mapping is purely logical."""
    from ..sources.snapshots import (
        commit,
        evolve_schema,
        read_snapshot,
        snapshot_log,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapevo_")
    commit(docs.filter(d < 300), table, partitions=4, cluster_by=["doc_id"])
    evolve_schema(table, rename={"n_chars": "chars"},
                  add=[("quality", "bigint")])
    man = snapshot_log(table)[-1]
    assert man["operation"] == "evolve" and man["added_files"] == []
    commit(docs.filter((d >= 300) & (d < 400))
               .select("doc_id", "lang", F.col("n_chars").alias("chars"),
                       (d % 7).alias("quality")),
           table, partitions=2, cluster_by=["doc_id"])
    return read_snapshot(spark, table)


@query("""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE NOT (doc_id >= 120 AND doc_id < 180)
    """)
def snap_pos_delete(spark, sf):
    """Positional merge-on-read delete (hard oracle): a ts-window
    predicate delete over the documents table commits only (file, pos)
    coordinates from Spark's _metadata scan columns — no key column,
    zero data files rewritten (asserted) — and readers hide exactly
    the matching rows. DuckDB runs the plain NOT(window) filter; the
    match proves the coordinate bookkeeping is a pure optimization."""
    from ..sources.snapshots import (
        commit,
        mor_delete_where,
        read_snapshot,
        snapshot_log,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snappd_")
    commit(docs, table, partitions=8, cluster_by=["doc_id"])
    mor_delete_where(spark, table,
                     [("doc_id", ">=", 120), ("doc_id", "<", 180)])
    man = snapshot_log(table)[-1]
    assert man["operation"] == "rowdelta" and man["added_rows"] == 0
    assert man.get("pos_delete_files"), "no positional delete committed"
    return read_snapshot(spark, table)


@query("""
        SELECT * FROM (VALUES
          (0::BIGINT, 1::BIGINT, NULL::BIGINT, 'append', 8::INT,
           (SELECT count(*) FROM documents)::BIGINT, 0::INT, 0::INT),
          (1, 2, 1, 'append', 2,
           (SELECT count(*) FROM documents WHERE doc_id < 100), 0, 0),
          (2, 3, 2, 'rowdelta', 1, 0, 0, 1)
        ) t(sequence, snapshot_id, parent_id, operation, n_added_files,
            n_added_rows, n_removed_files, n_delete_files)
    """)
def snap_meta_tables(spark, sf):
    """$snapshots metadata table (the Iceberg db.table$snapshots
    surface) over a deterministic three-commit chain — append /
    append / MOR equality delete (hard oracle: the chain bookkeeping
    re-stated in SQL, row counts derived from the same documents
    table; the rowdelta commit carries its one empty data file).
    committed_at is wall time and excluded."""
    from ..sources.snapshots import commit, mor_delete, snapshots_table

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapmeta_")
    commit(docs, table, partitions=8, cluster_by=["doc_id"])
    commit(docs.filter(d < 100), table, partitions=2,
           cluster_by=["doc_id"])
    mor_delete(spark, table, docs.filter((d % 7 == 0) & (d < 210))
               .select("doc_id"), key="doc_id")
    return snapshots_table(spark, table).drop("committed_at")


@query("""
        SELECT * FROM (VALUES
          ('data',
           11::BIGINT,
           ((SELECT count(*) FROM documents)
            + (SELECT count(*) FROM documents WHERE doc_id < 100))::BIGINT),
          ('eq_delete', 1,
           (SELECT count(*) FROM documents
            WHERE doc_id % 7 = 0 AND doc_id < 210))
        ) t(kind, n_files, total_rows)
    """)
def snap_files_meta(spark, sf):
    """$files metadata table over the same chain: live file set by
    kind with footer row counts, aggregated to (kind, n_files,
    total_rows) — per-file row splits depend on the range
    partitioner's sampling, the aggregate does not (hard oracle)."""
    from ..sources.snapshots import commit, files_table, mor_delete

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapfiles_")
    commit(docs, table, partitions=8, cluster_by=["doc_id"])
    commit(docs.filter(d < 100), table, partitions=2,
           cluster_by=["doc_id"])
    mor_delete(spark, table, docs.filter((d % 7 == 0) & (d < 210))
               .select("doc_id"), key="doc_id")
    return (files_table(spark, table)
            .groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("n_rows").alias("total_rows")))


@query("""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE NOT (doc_id % 7 = 0 AND doc_id < 210)
    """)
def snap_eq_delete(spark, sf):
    """Equality merge-on-read delete (hard oracle): a key-list DELETE
    over the documents table commits one small equality-delete file
    (the distinct doc_id values) and ZERO data rows (asserted from
    the manifest) — readers hide exactly the keyed rows, DuckDB runs
    the plain NOT IN filter. The other MOR flavor next to
    snap_pos_delete: keys when you have them, coordinates when you
    don't."""
    from ..sources.snapshots import (
        commit,
        mor_delete,
        read_snapshot,
        snapshot_log,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snaped_")
    commit(docs, table, partitions=8, cluster_by=["doc_id"])
    keys = docs.filter((d % 7 == 0) & (d < 210)).select("doc_id")
    mor_delete(spark, table, keys, key="doc_id")
    man = snapshot_log(table)[-1]
    assert man["operation"] == "rowdelta" and man["added_rows"] == 0
    assert man.get("delete_files"), "no equality delete committed"
    return read_snapshot(spark, table)


@query("""
        WITH base AS (
            SELECT 'doc:' || doc_id::VARCHAR AS subj,
                   'dcterms:language' AS pred, lang AS obj
            FROM documents WHERE doc_id < 400 AND lang IS NOT NULL
            UNION
            SELECT 'doc:' || doc_id::VARCHAR, 'ex:chars',
                   n_chars::VARCHAR
            FROM documents WHERE doc_id < 400
        ),
        after_ins AS (
            SELECT * FROM base
            UNION SELECT 'ex:corpus', 'rdf:type', 'ex:Corpus'
            UNION SELECT 'ex:corpus', 'ex:label', 'npm docs'
        ),
        after_del AS (
            SELECT * FROM after_ins
            WHERE NOT (subj = 'ex:corpus' AND pred = 'ex:label'
                       AND obj = 'npm docs')
              AND NOT (pred = 'dcterms:language' AND obj = 'en')
        ),
        big AS (
            SELECT DISTINCT subj FROM after_del
            WHERE pred = 'ex:chars' AND try_cast(obj AS BIGINT) >= 500
        )
        SELECT subj, pred, obj FROM after_del
        WHERE NOT (pred = 'ex:chars' AND try_cast(obj AS BIGINT) >= 500)
        UNION
        SELECT subj, 'ex:size', 'big' FROM big
    """)
def kg_sparql_update(spark, sf):
    """SPARQL 1.1 Update over the lakehouse triple store (hard
    oracle): a triple table seeded from the documents table (language
    + chars triples per doc) takes four updates — INSERT DATA of two
    ground triples, a REPEATED INSERT DATA of one of them (asserted a
    no-op: RDF graphs are sets, CURRENT must not move), DELETE DATA of
    one ground triple, DELETE WHERE retracting every English language
    triple, and a DELETE-INSERT-WHERE that rewrites every chars triple
    >= 500 into a size classification — each as ONE atomic
    merge-on-read row-delta commit (equality-delete keys + appended
    rows in the same snapshot; the rewrite's manifest is asserted to
    carry BOTH). DuckDB re-derives the final state with plain set
    algebra over the same base derivation, proving the MOR
    delete-then-insert machinery implements exactly the spec's update
    semantics (delete evaluated before insert, set semantics both
    ways)."""
    from ..plans.update import (
        create_triple_table,
        delete_data,
        delete_where,
        insert_data,
        read_triple_table,
        sparql_update,
    )
    from ..sources.snapshots import snapshot_log

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").filter(d < 400)
    base = (docs.filter(F.col("lang").isNotNull())
            .select(F.concat(F.lit("doc:"), d.cast("string")).alias("subj"),
                    F.lit("dcterms:language").alias("pred"),
                    F.col("lang").alias("obj"))
            .unionByName(docs.select(
                F.concat(F.lit("doc:"), d.cast("string")).alias("subj"),
                F.lit("ex:chars").alias("pred"),
                F.col("n_chars").cast("string").alias("obj"))))
    table = _scratch("kgupd_")
    create_triple_table(spark, base, table, partitions=4)

    insert_data(spark, table, [
        ("ex:corpus", "rdf:type", "ex:Corpus"),
        ("ex:corpus", "ex:label", "npm docs"),
    ])
    sid = insert_data(spark, table,
                      [("ex:corpus", "rdf:type", "ex:Corpus")])
    log = snapshot_log(table)
    assert sid == log[-1]["snapshot_id"] and len(log) == 2, \
        "re-inserting an existing triple must be a no-op commit"
    delete_data(spark, table, [("ex:corpus", "ex:label", "npm docs")])
    delete_where(spark, table, [("?s", "dcterms:language", "en")])
    sparql_update(spark, table,
                  delete=[("?s", "ex:chars", "?c")],
                  insert=[("?s", "ex:size", "big")],
                  where=[("?s", "ex:chars", "?c")],
                  filters=[F.col("c").try_cast("long") >= 500])
    man = snapshot_log(table)[-1]
    assert man["operation"] == "rowdelta" and man["delete_files"] \
        and man["added_rows"] > 0, \
        "DELETE-INSERT-WHERE must commit keys + rows atomically"
    return read_triple_table(spark, table)


@query("""
        WITH docs AS (
            SELECT 'doc:' || doc_id::VARCHAR AS subj, n_chars, lang
            FROM documents WHERE doc_id < 300 AND lang IS NOT NULL
        ),
        base AS (
            SELECT subj, 'ex:chars' AS pred, n_chars::VARCHAR AS obj,
                   'g:' || lang AS graph FROM docs
            UNION
            SELECT subj, 'ex:lang', lang, NULL::VARCHAR FROM docs
        ),
        s1 AS (  -- WITH g:en big rewrite (delete before insert)
            SELECT * FROM base
            WHERE NOT (graph = 'g:en' AND pred = 'ex:chars'
                       AND try_cast(obj AS BIGINT) >= 500)
            UNION
            SELECT DISTINCT subj, 'ex:size', 'big', 'g:en' FROM base
            WHERE graph = 'g:en' AND pred = 'ex:chars'
              AND try_cast(obj AS BIGINT) >= 500
        ),
        s2 AS (  -- COPY g:de + ADD g:es into g:mirror
            SELECT * FROM s1
            UNION SELECT subj, pred, obj, 'g:mirror' FROM s1
                  WHERE graph IN ('g:de', 'g:es')
        ),
        s3 AS (  -- MOVE g:fr -> g:romance
            SELECT * FROM s2 WHERE graph IS NULL OR graph <> 'g:fr'
            UNION SELECT subj, pred, obj, 'g:romance' FROM s2
                  WHERE graph = 'g:fr'
        ),
        s4 AS (  -- CLEAR g:zh
            SELECT * FROM s3 WHERE graph IS NULL OR graph <> 'g:zh'
        )
        SELECT subj, pred, obj, graph FROM s4
        UNION
        SELECT 'ex:corpus', 'rdf:type', 'ex:Corpus', NULL::VARCHAR
    """)
def kg_sparql_update_graphs(spark, sf):
    """SPARQL 1.1 Update over NAMED GRAPHS (hard oracle): a quad table
    seeded from documents — per-language named graphs holding chars
    quads plus a default-graph lang triple — takes the full
    graph-management verb set: a WITH-scoped DELETE-INSERT-WHERE that
    rewrites g:en's big documents in place (other graphs untouched),
    COPY g:de + ADD g:es into a g:mirror union graph, MOVE g:fr to
    g:romance (asserted ONE atomic rowdelta commit carrying both
    graphs' delete keys and the relabeled rows), CLEAR g:zh, and a
    3-term INSERT DATA that must land in the default graph only. All
    delta joins are null-safe on graph, so the default graph
    participates in set semantics like any named graph. DuckDB
    re-derives the final quad set with plain set algebra."""
    from ..plans.update import (
        add_graph,
        clear_graph,
        copy_graph,
        create_triple_table,
        insert_data,
        move_graph,
        read_triple_table,
        sparql_update,
    )
    from ..sources.snapshots import snapshot_log

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").filter(
        (d < 300) & F.col("lang").isNotNull())
    subj = F.concat(F.lit("doc:"), d.cast("string")).alias("subj")
    base = (docs.select(subj, F.lit("ex:chars").alias("pred"),
                        F.col("n_chars").cast("string").alias("obj"),
                        F.concat(F.lit("g:"), F.col("lang")).alias("graph"))
            .unionByName(docs.select(
                subj, F.lit("ex:lang").alias("pred"),
                F.col("lang").alias("obj"),
                F.lit(None).cast("string").alias("graph"))))
    table = _scratch("kgupdg_")
    create_triple_table(spark, base, table, partitions=4)

    sparql_update(spark, table,
                  delete=[("?s", "ex:chars", "?c")],
                  insert=[("?s", "ex:size", "big")],
                  where=[("?s", "ex:chars", "?c")],
                  filters=[F.col("c").try_cast("long") >= 500],
                  with_graph="g:en")
    copy_graph(spark, table, "g:de", "g:mirror")
    add_graph(spark, table, "g:es", "g:mirror")
    n0 = len(snapshot_log(table))
    move_graph(spark, table, "g:fr", "g:romance")
    log = snapshot_log(table)
    assert len(log) == n0 + 1 and log[-1]["operation"] == "rowdelta" \
        and log[-1]["delete_files"] and log[-1]["added_rows"] > 0, \
        "MOVE must be one atomic rowdelta commit (keys + rows)"
    clear_graph(spark, table, "g:zh")
    insert_data(spark, table, [("ex:corpus", "rdf:type", "ex:Corpus")])
    return read_triple_table(spark, table)


@query("""
        WITH docs AS (
            SELECT 'doc:' || doc_id::VARCHAR AS subj, n_chars, lang
            FROM documents WHERE doc_id < 400 AND lang IS NOT NULL
        )
        SELECT subj, 'ex:chars' AS pred,
               '"' || n_chars::VARCHAR || '"' AS obj,
               'g:' || lang AS graph FROM docs
        UNION
        SELECT subj, 'ex:lang', '"' || lang || '"', NULL::VARCHAR
        FROM docs
        UNION
        SELECT 'ex:corpus', 'rdf:type', 'ex:Corpus', NULL::VARCHAR
    """)
def kg_sparql_load(spark, sf):
    """Distributed SPARQL LOAD (hard oracle): the documents table is
    serialized into N-Quads documents — one RDF document per 8-way
    shard, chars quads in per-language named graphs plus default-graph
    lang triples — and loaded back through plans/update.load_documents:
    each document parses inside mapInPandas (the kernel N-Quads parser,
    executor-side, driver sees only the commit) into a seeded quad
    table as ONE set-semantics append. DuckDB re-derives the final
    quad set from the documents table directly, proving
    text -> parse -> commit loses nothing and dedups exactly."""
    from ..plans.update import (
        create_triple_table,
        load_documents,
        read_triple_table,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").filter(
        (d < 400) & F.col("lang").isNotNull())
    line_named = F.concat(
        F.lit("<doc:"), d.cast("string"), F.lit("> <ex:chars> \""),
        F.col("n_chars").cast("string"), F.lit("\" <g:"), F.col("lang"),
        F.lit("> ."))
    line_default = F.concat(
        F.lit("<doc:"), d.cast("string"), F.lit("> <ex:lang> \""),
        F.col("lang"), F.lit("\" ."))
    lines = (docs.select((d % 8).alias("shard"), line_named.alias("line"))
             .unionByName(docs.select((d % 8).alias("shard"),
                                      line_default.alias("line"))))
    rdf_docs = (lines.groupBy("shard")
                .agg(F.concat_ws("\n", F.collect_list("line")).alias("doc")))

    seed = spark.createDataFrame(
        [("ex:corpus", "rdf:type", "ex:Corpus", None)],
        "subj string, pred string, obj string, graph string")
    table = _scratch("kgload_")
    create_triple_table(spark, seed, table, partitions=4)
    load_documents(spark, table, rdf_docs, "doc", fmt="nq")
    return read_triple_table(spark, table)


@query("""
        SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 350
    """)
def snap_wap(spark, sf):
    """Write-audit-publish over branch refs (hard oracle): docs<200
    commit to main; [200,350) stage onto an 'audit' branch (TWO branch
    commits — CURRENT never moves, asserted); an audit query validates
    the staged rows (no empty langs), then fast_forward publishes
    atomically. The returned table is main AFTER publish; DuckDB
    re-derives it as the plain doc_id<350 selection, proving the whole
    branch dance is metadata-only."""
    from ..sources.snapshots import (
        commit,
        create_branch,
        current_snapshot_id,
        fast_forward,
        read_snapshot,
        ref_snapshot,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapwap_")
    main_id = commit(docs.filter(d < 200), table, partitions=4)
    create_branch(table, "audit")
    commit(docs.filter((d >= 200) & (d < 300)), table, branch="audit")
    commit(docs.filter((d >= 300) & (d < 350)), table, branch="audit")
    assert current_snapshot_id(table) == main_id, "WAP leaked to main"
    # the audit step: staged rows must all carry a lang
    staged = read_snapshot(spark, table, ref_snapshot(table, "audit"))
    assert staged.filter(F.col("lang").isNull()).limit(1).count() == 0
    fast_forward(table, "audit")
    return read_snapshot(spark, table)


@query("""
        SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 400
    """)
def snap_dedup_incr(spark, sf):
    """Incremental corpus ingestion with exact dedup (hard oracle):
    batch 1 (doc_id<250) seeds the corpus + digest tables; batch 2
    carries genuinely-new docs [250,400) PLUS re-keyed copies of
    [100,150) (same text, doc_id+100000) — dedup_against_corpus drops
    every copy via the digest table WITHOUT rescanning the corpus,
    and the survivors append as a second snapshot commit. The final
    corpus is exactly doc_id<400 (DuckDB re-derives it trivially —
    the copies' absence IS the assertion). The 10^12-document crawl
    pattern: per-batch cost follows the batch, never the corpus."""
    from ..operators.dedup import dedup_against_corpus
    from ..sources.snapshots import commit, read_snapshot

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars",
                                             "text")
    corpus_t = _scratch("snapcorp_")
    digest_t = _scratch("snapdig_")

    batch1 = docs.filter(d < 250)
    b1 = batch1.withColumn("digest", F.sha2(F.col("text"), 256))
    commit(b1.drop("digest"), corpus_t, partitions=4)
    commit(b1.select("digest"), digest_t, partitions=1)

    batch2 = (docs.filter((d >= 250) & (d < 400))
              .unionByName(
                  docs.filter((d >= 100) & (d < 150))
                  .select((d + 100000).alias("doc_id"), "lang",
                          "n_chars", "text")))
    fresh = dedup_against_corpus(batch2, read_snapshot(spark, digest_t))
    commit(fresh.drop("digest"), corpus_t, partitions=2)
    commit(fresh.select("digest"), digest_t, partitions=1)

    return read_snapshot(spark, corpus_t).select("doc_id", "lang",
                                                 "n_chars")


@query("""
        SELECT doc_id, lang, (n_chars + 1000)::BIGINT AS n_chars,
               'insert' AS _change_type, 2 AS _snapshot_id
        FROM documents WHERE doc_id >= 100 AND doc_id < 200
        UNION ALL
        SELECT doc_id + 100000, lang, -1, 'insert', 2
        FROM documents WHERE doc_id < 50
        UNION ALL
        SELECT doc_id, lang, n_chars::BIGINT, 'delete', 2
        FROM documents WHERE doc_id >= 100 AND doc_id < 200
    """)
def snap_mor_changelog(spark, sf):
    """Change-data feed over a merge-on-read upsert (hard oracle —
    identical change set to the copy-on-write snap_changelog): the
    rowdelta diff reads the delete-key rows from the PARENT state
    (pruned to the manifest's delete-key range) as deletes and the
    commit's own files as inserts — no file-set diff needed, because
    no files were rewritten."""
    from ..sources.snapshots import commit, mor_upsert, read_changes

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapmorcdf_")
    s1 = commit(docs, table, partitions=8, cluster_by=["doc_id"])
    updates = (
        docs.filter((d >= 100) & (d < 200))
        .select("doc_id", "lang", (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(
            docs.filter(d < 50)
            .select((d + 100000).alias("doc_id"), "lang",
                    F.lit(-1).alias("n_chars")))
    )
    mor_upsert(spark, table, updates, key="doc_id")
    return read_changes(spark, table, from_snapshot=s1)


@query(_GRAPH_COMPONENTS_SQL)
def graph_components_incr(spark, sf):
    """Incremental CC under the SAME full-graph oracle as
    graph_components: the base labels come from the chain edges alone;
    the bridge edges arrive as a delta via incremental_components
    (proxy-collapsed old components + one relabel join) — the result
    must equal the from-scratch components of the union graph."""
    from ..plans.linking import connected_components, incremental_components

    docs = _t(spark, sf, "documents").select("doc_id")

    def nid(col):
        return F.lpad(col.cast("string"), 8, "0")

    vertices = docs.select(nid(F.col("doc_id")).alias("entity_iri"))
    chain = docs.filter((F.col("doc_id") % 10) != 0).select(
        nid(F.col("doc_id")).alias("src"),
        nid(F.col("doc_id") - 1).alias("dst"))
    bridges = (
        docs.filter((F.col("doc_id") % 37) == 0)
        .select(nid(F.col("doc_id")).alias("src"),
                nid(F.col("doc_id") + 100).alias("dst"))
        .join(docs.select(nid(F.col("doc_id")).alias("dst")), "dst", "left_semi")
    )
    base = connected_components(vertices, chain).localCheckpoint(eager=True)
    cc = incremental_components(base, bridges)
    return cc.select(F.col("entity_iri").alias("node_id"),
                     F.col("canonical_id").alias("component_id"))


def _kg_graph_edges(spark, sf):
    """Deterministic KG-shaped directed multigraph over doc_ids < 500
    (fixed vertex set at every sf so the oracle SQL is scale-free):
    two hash-derived long-range edges per node, a ring edge, and a
    chord every third node (the chords close triangles). Re-derivable
    in DuckDB from doc_id arithmetic alone."""
    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 500)

    def e(cond, dst):
        return docs.filter(cond).select(d.alias("src"), dst.alias("dst"))

    true = F.lit(True)
    return (
        e(true, (d * 7 + 3) % 500)
        .unionByName(e(true, (d * 13 + 5) % 500))
        .unionByName(e(true, (d + 1) % 500))
        .unionByName(e(d % 3 == 0, (d + 2) % 500))
    )


_KG_GRAPH_EDGES_CTE = """
    e0 AS (
        SELECT doc_id AS src, (7*doc_id+3) % 500 AS dst
        FROM documents WHERE doc_id < 500
        UNION ALL
        SELECT doc_id, (13*doc_id+5) % 500 FROM documents WHERE doc_id < 500
        UNION ALL
        SELECT doc_id, (doc_id+1) % 500 FROM documents WHERE doc_id < 500
        UNION ALL
        SELECT doc_id, (doc_id+2) % 500 FROM documents
        WHERE doc_id < 500 AND doc_id % 3 = 0
    )
"""


@query(f"""
        WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
        te AS (
            SELECT src, dst, (src + 2*dst) % 20 AS t FROM e0
        ),
        reach(node, arr) AS (
            SELECT doc_id, 0 FROM documents
            WHERE doc_id < 500 AND doc_id % 50 = 0
            UNION
            SELECT te.dst, te.t
            FROM reach r JOIN te ON te.src = r.node AND te.t >= r.arr
        )
        SELECT node AS node_id, min(arr)::BIGINT AS arrival
        FROM reach GROUP BY node
    """)
def graph_temporal_reach(spark, sf):
    """Earliest-arrival temporal reachability over the KG graph with
    deterministic contact times t = (src + 2*dst) % 20 (hard oracle:
    recursive CTE over (node, arrival) pairs with the t >= arrival
    admissibility — time-respecting paths, not static reachability)."""
    from ..plans.graph import temporal_reach

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id")))
    e = _kg_graph_edges(spark, sf).select(
        "src", "dst", ((F.col("src") + 2 * F.col("dst")) % 20).alias("t"))
    return temporal_reach(seeds, e)


@query(f"""
    WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
    reach(node_id, dist) AS (
        SELECT doc_id, 0 FROM documents WHERE doc_id < 500 AND doc_id % 50 = 0
        UNION
        SELECT e0.dst, r.dist + 1
        FROM reach r JOIN e0 ON e0.src = r.node_id
        WHERE r.dist < 30
    )
    SELECT node_id, min(dist)::INT AS dist FROM reach GROUP BY node_id
""")
def graph_bfs(spark, sf):
    """Hop distance from a 10-seed set over the deterministic KG graph
    (hard oracle: recursive-CTE min-distance in DuckDB). The Spark side
    is level-synchronous frontier BFS with checkpointed frontiers —
    per-round work follows the wavefront, not |V|."""
    from ..plans.graph import bfs_distances

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id")))
    return bfs_distances(seeds, _kg_graph_edges(spark, sf))


def _dep_dag_edges(spark, sf):
    """Deterministic layered dependency graph over doc_ids < 540 with
    a planted 3-cycle: node level = doc_id % 6, every level<5 node
    points at one or two next-level nodes (doc_id arithmetic — DuckDB
    re-derives the edge set exactly), plus the cycle 7->13->19->7
    among level-1 nodes, which also poisons everything downstream of
    those three (the cycle-closure contract topo_layers reports)."""
    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 540)
    lvl = d % 6
    e1 = (docs.filter(lvl < 5)
          .select(d.alias("src"),
                  ((d * 11 + 7) % 89 * 6 + lvl + 1).alias("dst")))
    e2 = (docs.filter((lvl < 5) & (d % 2 == 0))
          .select(d.alias("src"),
                  ((d * 17 + 3) % 89 * 6 + lvl + 1).alias("dst")))
    cyc = spark.createDataFrame([(7, 13), (13, 19), (19, 7)],
                                "src long, dst long")
    return e1.unionByName(e2).unionByName(cyc)


_DEP_DAG_EDGES_CTE = """
    depbase AS (SELECT doc_id AS i FROM documents WHERE doc_id < 540),
    depedges AS (
        SELECT i AS src, (i*11 + 7) % 89 * 6 + (i%6) + 1 AS dst
        FROM depbase WHERE i%6 < 5
        UNION
        SELECT i, (i*17 + 3) % 89 * 6 + (i%6) + 1
        FROM depbase WHERE i%6 < 5 AND i%2 = 0
        UNION
        SELECT * FROM (VALUES (7, 13), (13, 19), (19, 7)) AS c(src, dst)
    ),
    depnodes AS (
        SELECT DISTINCT n FROM (SELECT src AS n FROM depedges
                                UNION SELECT dst FROM depedges)
    )"""


def _topo_layers_sql(rounds: int = 7) -> str:
    """Kahn peeling unrolled: p_r = still-unassigned nodes with no
    in-edge from a still-unassigned src; a_r accumulates. The layered
    construction bounds true layers at 5, so 7 rounds over-covers;
    what's left after the last round is the cycle closure (layer
    NULL)."""
    ctes, selects = [], []
    for r in range(rounds):
        prev = f"(SELECT n FROM a{r - 1})" if r else "(SELECT NULL WHERE 1=0)"
        # MATERIALIZED is load-bearing: each a{r} is referenced 3x by
        # round r+1 (two NOT INs + the union), so without it DuckDB
        # re-inlines the whole chain — measured 146.5 s for the
        # 540-node DAG vs ~1 s materialized
        ctes.append(f"""
    p{r} AS MATERIALIZED (
        SELECT n FROM depnodes
        WHERE n NOT IN {prev}
          AND n NOT IN (SELECT dst FROM depedges
                        WHERE src NOT IN {prev})
    )""")
        acc = f"SELECT n FROM a{r - 1} UNION SELECT n FROM p{r}" if r \
            else f"SELECT n FROM p{r}"
        ctes.append(f"""
    a{r} AS MATERIALIZED ({acc})""")
        selects.append(f"SELECT n AS node_id, {r} AS layer FROM p{r}")
    selects.append(
        f"SELECT n, CAST(NULL AS INT) FROM depnodes "
        f"WHERE n NOT IN (SELECT n FROM a{rounds - 1})")
    return ("WITH " + _DEP_DAG_EDGES_CTE + "," + ",".join(ctes)
            + "\n" + "\nUNION ALL\n".join(selects))


@query(_topo_layers_sql(7))
def graph_topo_layers(spark, sf):
    """Kahn topological layering + cycle detection over the dependency
    DAG (hard oracle: the peeling rounds are UNROLLED in DuckDB —
    layer r = nodes whose every in-edge left earlier layers; nodes in
    or downstream of the planted cycle come back layer NULL). The
    build-order question a package KG exists to answer."""
    from ..plans.graph import topo_layers

    return topo_layers(_dep_dag_edges(spark, sf))


@query("WITH " + _DEP_DAG_EDGES_CTE + """
        SELECT n AS node_id,
               CASE WHEN n IN (7, 13, 19) THEN 7 ELSE n END AS scc_id
        FROM depnodes
    """)
def graph_scc(spark, sf):
    """Strongly connected components over the dependency graph (hard
    oracle): the layered construction makes every edge strictly
    increase level (doc_id % 6) EXCEPT the planted 7->13->19->7
    cycle, so the unique non-trivial SCC is exactly {7,13,19} with
    id 7 and every other node is a singleton — closed-form in DuckDB
    from the edge derivation. The Spark side runs the real
    trim+color+mark fixpoint machinery (pinned separately against a
    pure-Python Tarjan in tests/test_graph.py)."""
    from ..plans.graph import strongly_connected_components

    return strongly_connected_components(_dep_dag_edges(spark, sf))


def _pagerank_sql(iterations: int = 5, edges: str = "e0",
                  weighted: bool = False) -> str:
    """The power iteration of plans/graph.pagerank unrolled as chained
    CTEs: same init (round(1/500,12)=0.002), same teleport
    (round(0.15/500,12)=0.0003), same 12-decimal contribution grid and
    exact decimal(28,12) inflow sum — the rank vector matches Spark's
    bit-for-bit at every step. ``edges`` names the edge CTE to iterate
    over (eN = the graph_pagerank_incr delta variant)."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    eN AS (
        SELECT src, dst FROM e0
        WHERE NOT (src % 30 = 0 AND dst = (src + 2) % 500)
        UNION ALL
        SELECT doc_id, (11 * doc_id + 2) % 500 FROM documents
        WHERE doc_id < 500 AND doc_id % 50 = 7
    ),
    ew AS (SELECT src, dst, 1 + (3*src + 5*dst) % 7 AS w FROM {edges}),
    deg AS (SELECT src,
                   {'sum(w)' if weighted else 'count(*)'} AS out_deg
            FROM {'ew' if weighted else edges} GROUP BY src),
    adj AS (SELECT e.src, e.dst, {'e.w,' if weighted else ''} deg.out_deg
            FROM {'ew' if weighted else edges} e JOIN deg USING (src)),
    nodes AS (SELECT src AS node_id FROM {edges}
              UNION SELECT dst FROM {edges}),
    r0 AS (SELECT node_id, 0.002::DOUBLE AS rank FROM nodes)"""
    for k in range(1, iterations + 1):
        sql += f""",
    r{k} AS (
        SELECT n.node_id,
               round(0.0003 + 0.85 * coalesce(s.inflow, 0.0), 12) AS rank
        FROM nodes n LEFT JOIN (
            SELECT a.dst,
                   cast(sum(cast(round({'r.rank * a.w' if weighted
                                        else 'r.rank'} / a.out_deg, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS inflow
            FROM adj a JOIN r{k - 1} r ON r.node_id = a.src
            GROUP BY a.dst) s ON s.dst = n.node_id)"""
    sql += f"""
    SELECT node_id, round(rank, 8) AS rank FROM r{iterations}"""
    return sql


@query(_pagerank_sql(5))
def graph_pagerank(spark, sf):
    """5-iteration PageRank over the deterministic KG multigraph (hard
    oracle: the identical power iteration unrolled as 5 chained CTEs in
    DuckDB). Cross-engine bit-equality comes from the decimal-sum
    protocol in plans/graph.pagerank — per-edge contributions rounded
    to a 12-decimal grid and summed exactly as decimal(28,12)."""
    from ..plans.graph import pagerank

    return pagerank(_kg_graph_edges(spark, sf), iterations=5)


@query(_pagerank_sql(5, edges="eN"))
def graph_pagerank_incr(spark, sf):
    """Incremental PageRank over an edge delta (plans/graph.
    pagerank_incremental): the standard KG graph loses its chord edge
    at every doc_id % 30 == 0 and gains a hash chord at every
    doc_id % 50 == 7; ranks resume from the old graph's per-iteration
    history and only the delta's forward cone is recomputed — yet the
    output is BIT-IDENTICAL to a cold 5-iteration run on the new
    graph, which is exactly what the DuckDB oracle computes (the same
    unrolled decimal-grid power iteration over the modified edge
    CTE). The incremental==recompute contract is also pinned directly
    in tests/test_graph.py with per-round affected-set counts."""
    from ..plans.graph import pagerank, pagerank_incremental

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 500)
    e_old = _kg_graph_edges(spark, sf)
    removed = (docs.filter((d % 30) == 0)
               .select(d.alias("src"), ((d + 2) % 500).alias("dst")))
    added = (docs.filter((d % 50) == 7)
             .select(d.alias("src"), ((d * 11 + 2) % 500).alias("dst")))
    e_new = e_old.exceptAll(removed).unionByName(added)
    hist = pagerank(e_old, iterations=5, return_history=True)
    # changelog path: the delta is known (as it would be from the
    # snapshot change feed), so no exceptAll re-derivation runs
    return pagerank_incremental(e_old, e_new, hist, iterations=5,
                                added=added, removed=removed)


# Transitive closure of the deterministic doc_id graph (chains within
# runs of 10 + cross edges at multiples of 37): component id = min
# reachable node. Recursive CTE = the oracle for the distributed
# min-label/pointer-doubling connected components.
# The deterministic KG graph shared by graph_bfs / graph_pagerank /
# graph_triangles — the SQL twin of _kg_graph_edges.
def _betweenness_sql() -> str:
    """Unrolled Brandes twin (house style: one MATERIALIZED CTE per
    round): 10 forward BFS levels carrying exact-integer
    sigma path counts with NOT EXISTS de-dup against the visited set,
    then the backward dependency chain where each level's delta is
    the exact scale-8 decimal of sum(round(sigma_v/sigma_w *
    (1+delta_w), 8)) — mirroring plans/graph.betweenness
    term-for-term. Seeds: doc_id < 500, doc_id % 50 = 0 (10 sources);
    scale_to_n multiplies by 500 (exact decimal x int) before the one
    output division by 10. Levels beyond the true per-source depth (8 on this
    graph) are empty CTEs and contribute nothing."""
    levels = 10
    parts = [f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    ebc AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM e0 WHERE src <> dst
    ),
    l0 AS MATERIALIZED (
        SELECT doc_id AS s, doc_id AS v, 1::BIGINT AS sigma
        FROM documents WHERE doc_id < 500 AND doc_id % 50 = 0
    ),
    vis0 AS MATERIALIZED (SELECT s, v FROM l0)"""]
    for k in range(1, levels):
        parts.append(f""",
    l{k} AS MATERIALIZED (
        SELECT f.s, e.dst AS v, sum(f.sigma) AS sigma
        FROM l{k - 1} f JOIN ebc e ON e.src = f.v
        WHERE NOT EXISTS (SELECT 1 FROM vis{k - 1} x
                          WHERE x.s = f.s AND x.v = e.dst)
        GROUP BY 1, 2
    ),
    vis{k} AS MATERIALIZED (
        SELECT * FROM vis{k - 1} UNION ALL SELECT s, v FROM l{k}
    )""")
    for d in range(levels - 2, -1, -1):
        dn_join = ("" if d == levels - 2 else f"""
        LEFT JOIN dl{d + 1} dn ON dn.s = f.s AND dn.v = e.dst""")
        dw8 = ("0::BIGINT" if d == levels - 2
               else "coalesce(dn.delta8, 0)::BIGINT")
        parts.append(f""",
    dl{d} AS MATERIALIZED (
        SELECT f.s, f.v,
               sum((2 * f.sigma * (100000000 + {dw8}) + w.sigma)
                   // (2 * w.sigma))::BIGINT AS delta8
        FROM l{d} f
        JOIN ebc e ON e.src = f.v
        JOIN l{d + 1} w ON w.s = f.s AND w.v = e.dst{dn_join}
        GROUP BY 1, 2
    )""")
    accs = "\n            UNION ALL ".join(
        f"SELECT v, delta8 FROM dl{d} WHERE s <> v"
        for d in range(levels - 1))
    parts.append(f""",
    acc AS ({accs}),
    agg AS (
        SELECT v AS node_id,
               cast(round((sum(delta8)
                           * 50)::DECIMAL(20,0)
                          * 0.00000001::DECIMAL(10,8), 6) AS DOUBLE)
                   AS bc
        FROM acc GROUP BY 1
    )
    SELECT d.doc_id AS node_id, coalesce(agg.bc, 0.0) AS betweenness
    FROM documents d LEFT JOIN agg ON agg.node_id = d.doc_id
    WHERE d.doc_id < 500""")
    return "".join(parts)


@query(_betweenness_sql())
def graph_betweenness(spark, sf):
    """Sampled Brandes betweenness (plans/graph.betweenness) on the
    standard KG graph, 10 hash-spread sources, scaled to n. HARD
    oracle since the sweep moved to the pagerank grid protocol
    (contributions 8-dp-rounded + exact decimal level sums): the
    DuckDB twin unrolls 8 forward sigma levels and the backward
    dependency chain term-for-term (_betweenness_sql). Textbook
    agreement stays pinned by the pure-Python Brandes pytest on
    multi-path / cycle / pendant graphs."""
    from ..plans.graph import betweenness

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id")))
    return betweenness(_kg_graph_edges(spark, sf), sources=seeds,
                       scale_to_n=True)


@query(_pagerank_sql(5, weighted=True))
def graph_pagerank_weighted(spark, sf):
    """Edge-weighted PageRank (plans/graph.pagerank(weight_col=...)):
    rank splits proportionally to the integer edge weight (the SSSP
    weight formula, 1 + (3*src + 5*dst) % 7) instead of uniformly —
    dependency-strength edges in a KG. Hard oracle: the unrolled
    decimal-grid iteration with contributions rank*w/sum_w, bit-exact
    like the unweighted twin."""
    from ..plans.graph import pagerank

    e = _kg_graph_edges(spark, sf).withColumn(
        "w", (F.lit(1) + (F.col("src") * 3 + F.col("dst") * 5) % 7))
    return pagerank(e, iterations=5, weight_col="w")


def _pagerank_dangling_sql(iterations: int = 5) -> str:
    """plans/graph.pagerank with dangling="redistribute" unrolled: the
    edge set drops every src % 7 == 0 out-edge (72 sinks appear; the
    node set stays all 500, so init/teleport constants are unchanged),
    and each iteration adds round(dangling_mass / 500.0, 12) inside
    the damped term — dangling mass itself summed on the exact
    decimal(28,12) grid from the previous rank vector, mirroring
    graph._dangling_mass expression-for-expression."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    e1 AS (SELECT src, dst FROM e0 WHERE src % 7 <> 0),
    deg AS (SELECT src, count(*) AS out_deg FROM e1 GROUP BY src),
    adj AS (SELECT e1.src, e1.dst, deg.out_deg FROM e1 JOIN deg USING (src)),
    nodes AS (SELECT src AS node_id FROM e1 UNION SELECT dst FROM e1),
    dangnodes AS (SELECT node_id FROM nodes
                  WHERE node_id NOT IN (SELECT src FROM e1)),
    r0 AS (SELECT node_id, 0.002::DOUBLE AS rank FROM nodes)"""
    for k in range(1, iterations + 1):
        sql += f""",
    d{k} AS (SELECT coalesce(cast(sum(cast(round(rank, 12)
                                           AS DECIMAL(28,12))) AS DOUBLE),
                             0.0) AS dm
             FROM r{k - 1}
             WHERE node_id IN (SELECT node_id FROM dangnodes)),
    r{k} AS (
        SELECT n.node_id,
               round(0.0003 + 0.85 * (coalesce(s.inflow, 0.0)
                     + round((SELECT dm FROM d{k}) / 500.0, 12)), 12) AS rank
        FROM nodes n LEFT JOIN (
            SELECT a.dst,
                   cast(sum(cast(round(r.rank / a.out_deg, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS inflow
            FROM adj a JOIN r{k - 1} r ON r.node_id = a.src
            GROUP BY a.dst) s ON s.dst = n.node_id)"""
    sql += f"""
    SELECT node_id, round(rank, 8) AS rank FROM r{iterations}"""
    return sql


@query(_pagerank_dangling_sql(5))
def graph_pagerank_dangling(spark, sf):
    """5-iteration PageRank over the KG multigraph with every
    ``src % 7 == 0`` node's out-edges REMOVED — 72 of the 500 nodes
    become dangling sinks (the realistic KG shape: leaf entities that
    are referenced but never described). Exercises the explicit
    dangling-mass redistribution in plans/graph.pagerank: each
    iteration's sink mass is decimal-summed and handed back uniformly,
    so ranks still sum to 1. Hard oracle: the same dangling-aware
    power iteration unrolled as chained CTEs in DuckDB, bit-exact via
    the shared 12-decimal grid."""
    from ..plans.graph import pagerank

    edges = _kg_graph_edges(spark, sf).filter(F.col("src") % 7 != 0)
    return pagerank(edges, iterations=5, dangling="redistribute")


def _ppr_sql(iterations: int = 5) -> str:
    """personalized_pagerank unrolled: teleport vector t(v) = 0.1 on
    the 10 seeds (round(1/10,12)), 0 elsewhere; init rank = t; update
    rank = round((1-d)*t + 0.85*inflow, 12) with the same decimal-grid
    inflow sum as _pagerank_sql. (1-d) is repr-injected from the SAME
    Python subtraction the Spark side performs — it differs from the
    literal 0.15 by one ulp."""
    omd = repr(1.0 - 0.85)
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    deg AS (SELECT src, count(*) AS out_deg FROM e0 GROUP BY src),
    adj AS (SELECT e0.src, e0.dst, deg.out_deg FROM e0 JOIN deg USING (src)),
    nodes AS (SELECT src AS node_id FROM e0 UNION SELECT dst FROM e0),
    base AS (SELECT node_id,
                    CASE WHEN node_id % 50 = 0 THEN 0.1::DOUBLE
                         ELSE 0.0::DOUBLE END AS t
             FROM nodes),
    r0 AS (SELECT node_id, t AS rank FROM base)"""
    for k in range(1, iterations + 1):
        sql += f""",
    r{k} AS (
        SELECT b.node_id,
               round({omd} * b.t + 0.85 * coalesce(s.inflow, 0.0), 12) AS rank
        FROM base b LEFT JOIN (
            SELECT a.dst,
                   cast(sum(cast(round(r.rank / a.out_deg, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS inflow
            FROM adj a JOIN r{k - 1} r ON r.node_id = a.src
            GROUP BY a.dst) s ON s.dst = b.node_id)"""
    sql += f"""
    SELECT node_id, round(rank, 8) AS rank FROM r{iterations}"""
    return sql


@query(_ppr_sql(5))
def graph_ppr(spark, sf):
    """Personalized PageRank from the BFS seed set over the same KG
    multigraph (hard oracle: the seeded power iteration unrolled in
    DuckDB; same decimal-grid bit-exactness as graph_pagerank)."""
    from ..plans.graph import personalized_pagerank

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id")))
    return personalized_pagerank(_kg_graph_edges(spark, sf), seeds,
                                 iterations=5)


@query(f"""
    WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
    ew AS (SELECT src, dst, 1 + (3*src + 5*dst) % 7 AS w FROM e0),
    walk(node_id, dist) AS (
        SELECT doc_id, 0::BIGINT
        FROM documents WHERE doc_id < 500 AND doc_id % 50 = 0
        UNION
        SELECT ew.dst, wk.dist + ew.w
        FROM walk wk JOIN ew ON ew.src = wk.node_id
        WHERE wk.dist + ew.w < 100
    )
    SELECT node_id, min(dist)::BIGINT AS dist FROM walk GROUP BY node_id
""")
def graph_sssp(spark, sf):
    """Weighted single-source shortest paths from the 10-seed set over
    the KG multigraph with deterministic integer weights
    w = 1 + (3*src + 5*dst) % 7 (hard oracle: capped recursive-CTE
    path enumeration + min per node in DuckDB — integer distances are
    exact in both engines). Spark side is frontier Bellman-Ford:
    per-round work follows the improvement wavefront, the edge set is
    shuffled once (persisted hash-partitioned on src)."""
    from ..plans.graph import sssp

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id")))
    edges = _kg_graph_edges(spark, sf).withColumn(
        "w", (F.lit(1) + (F.col("src") * 3 + F.col("dst") * 5) % 7)
        .cast("long"))
    return sssp(seeds, edges)


@query(f"""
    WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
    reach(node_id, label, dist) AS (
        SELECT doc_id, 'L' || (doc_id // 50)::VARCHAR, 0
        FROM documents WHERE doc_id < 500 AND doc_id % 50 = 0
        UNION
        SELECT e0.dst, r.label, r.dist + 1
        FROM reach r JOIN e0 ON e0.src = r.node_id
        WHERE r.dist < 30
    ),
    best AS (SELECT node_id, min(dist) AS d FROM reach GROUP BY node_id)
    SELECT r.node_id, min(r.label) AS label, b.d::INT AS dist
    FROM reach r JOIN best b
      ON b.node_id = r.node_id AND r.dist = b.d
    GROUP BY r.node_id, b.d
""")
def graph_labelprop(spark, sf):
    """Nearest-seed label propagation over the KG multigraph (hard
    oracle: recursive-CTE reachability + min-(dist, label) in DuckDB).
    Ten seeds labeled L0..L9; every node takes the min label among its
    minimum-distance seeds — deterministic by construction."""
    from ..plans.graph import propagate_labels

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id"),
                     F.concat(F.lit("L"), (d / 50).cast("int").cast("string"))
                     .alias("label")))
    return propagate_labels(seeds, _kg_graph_edges(spark, sf))


def _coreness_sql(kmax: int = 5, rounds: int = 8) -> str:
    """coreness's SQL twin: for each k in 1..kmax run the unrolled
    kcore peel (namespaced CTEs), then label every node with the max
    k whose survivor set contains it — provably the same labeling as
    the ascending peel (coreness(v) = max k with v in k-core)."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    s0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    )"""
    for k in range(1, kmax + 1):
        sql += f""",
    c{k}s0 AS MATERIALIZED (SELECT a, b FROM s0)"""
        for r in range(1, rounds + 1):
            sql += f""",
    c{k}d{r} AS MATERIALIZED (
        SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM c{k}s{r - 1}
            UNION ALL SELECT b FROM c{k}s{r - 1}) GROUP BY n),
    c{k}k{r} AS MATERIALIZED (SELECT n FROM c{k}d{r} WHERE d >= {k}),
    c{k}s{r} AS MATERIALIZED (
        SELECT s.a, s.b FROM c{k}s{r - 1} s
        JOIN c{k}k{r} ka ON ka.n = s.a
        JOIN c{k}k{r} kb ON kb.n = s.b)"""
    member = "\n        UNION ALL ".join(
        f"SELECT n, {k} AS k FROM (SELECT a AS n FROM c{k}s{rounds} "
        f"UNION SELECT b FROM c{k}s{rounds})"
        for k in range(1, kmax + 1))
    sql += f"""
    SELECT n AS node_id, max(k)::INT AS coreness FROM (
        {member}) GROUP BY n"""
    return sql


@query(_coreness_sql(5, 8))
def graph_coreness(spark, sf):
    """Full core decomposition over the KG multigraph (hard oracle:
    per-k unrolled peels + max-k membership in DuckDB). The suite
    graph has min degree 4 and an empty 6-core, so the labeling is
    the exact 498-node coreness-5 / 2-node coreness-4 split."""
    from ..plans.graph import coreness

    return coreness(_kg_graph_edges(spark, sf))


def _kcore_sql(k: int, rounds: int = 4) -> str:
    """kcore's peeling unrolled: s0 = the undirected simple edge set;
    each round keeps edges whose BOTH endpoints have degree >= k in
    the previous survivor set. Rounds past the fixpoint are no-ops,
    so unrolling more rounds than the graph needs is safe."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    s0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    )"""
    for r in range(1, rounds + 1):
        sql += f""",
    d{r} AS MATERIALIZED (
        SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM s{r - 1}
            UNION ALL SELECT b FROM s{r - 1}) GROUP BY n),
    k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {k}),
    s{r} AS MATERIALIZED (
        SELECT s.a, s.b FROM s{r - 1} s
        JOIN k{r} ka ON ka.n = s.a
        JOIN k{r} kb ON kb.n = s.b)"""
    sql += f"""
    SELECT n AS node_id, count(*)::BIGINT AS core_degree FROM (
        SELECT a AS n FROM s{rounds}
        UNION ALL SELECT b FROM s{rounds}) GROUP BY n"""
    return sql


@query(_kcore_sql(5, rounds=4))
def graph_kcore(spark, sf):
    """5-core of the KG multigraph via iterative peeling (hard oracle:
    the peeling unrolled in DuckDB — the driver graph converges in 2
    rounds, the oracle unrolls 4; extra rounds past the fixpoint are
    no-ops so the results agree exactly)."""
    from ..plans.graph import kcore

    return kcore(_kg_graph_edges(spark, sf), k=5)


@query(f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_nodes AS (
        SELECT a AS node_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node_id, count(*)::BIGINT AS n_triangles
    FROM tri_nodes GROUP BY node_id
""")
def graph_triangles(spark, sf):
    """Per-node triangle counts over the undirected simple graph
    induced by the KG multigraph (hard oracle: the same two-join
    oriented enumeration in DuckDB). Each triangle counted once via
    a<b<c orientation."""
    from ..plans.graph import triangle_counts

    return triangle_counts(_kg_graph_edges(spark, sf))


@query(f"""
        WITH {_KG_GRAPH_EDGES_CTE},
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst
        ),
        deg AS (
            SELECT node_id, count(*) AS degree FROM (
                SELECT a AS node_id FROM und
                UNION ALL SELECT b FROM und)
            GROUP BY 1
        ),
        tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        tcnt AS (
            SELECT node_id, count(*) AS n_triangles FROM (
                SELECT a AS node_id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
            GROUP BY 1
        )
        SELECT d.node_id, d.degree::BIGINT AS degree,
               coalesce(t.n_triangles, 0)::BIGINT AS n_triangles,
               CASE WHEN d.degree >= 2 THEN
                   ((2 * (2000000 * coalesce(t.n_triangles, 0))
                     + d.degree * (d.degree - 1))
                    // (2 * d.degree * (d.degree - 1)))::DOUBLE
                   / 1000000.0
               END AS local_cc
        FROM deg d LEFT JOIN tcnt t ON t.node_id = d.node_id
    """)
def graph_clustering(spark, sf):
    """Per-node local clustering coefficient C(v) = 2T(v) /
    (deg(v)(deg(v)-1)) over the undirected simple graph — the
    neighborhood-density metric next to the raw triangle counts.
    Rides triangle_counts' skew-safe oriented enumeration; the
    coefficient is computed as the exact HALF_UP integer
    (2*(2T*10^6) + den) div (2*den) on the 1e-6 grid (the
    betweenness lesson: 2T/d(d-1) is a short rational, so rounding
    the DOUBLE quotient ties on terminating expansions), then ONE
    exact /10^6 double conversion. Degree-<2 nodes report null."""
    from ..plans.graph import triangle_counts

    e = _kg_graph_edges(spark, sf)
    und = (e.filter(F.col("src") != F.col("dst"))
           .select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"))
           .distinct())
    deg = (und.select(F.col("a").alias("node_id"))
           .unionByName(und.select(F.col("b").alias("node_id")))
           .groupBy("node_id").agg(F.count("*").alias("degree")))
    tri = triangle_counts(e)
    j = (deg.join(tri, "node_id", "left")
         .select("node_id", "degree",
                 F.coalesce("n_triangles", F.lit(0))
                 .alias("n_triangles")))
    den = F.col("degree") * (F.col("degree") - 1)
    j = j.select("node_id", "degree", "n_triangles",
                 (F.lit(2) * (F.lit(2_000_000) * F.col("n_triangles"))
                  + den).alias("cnum"),
                 (F.lit(2) * den).alias("cden"))
    cc = F.when(F.col("degree") >= 2,
                F.expr("cnum div cden").cast("double") / F.lit(1e6))
    return j.select("node_id", "degree", "n_triangles",
                    cc.alias("local_cc"))


def _msf_sql(rounds: int = 5) -> str:
    """boruvka_msf unrolled: per outer round, each component's
    (w, a, b)-minimum outgoing edge joins the forest, and the merge
    is a recursive-CTE min-label closure over that round's pick
    edges on the COMPONENT graph. Weights are the deterministic
    1 + (3a + 5b) % 7 grid of the weighted-pagerank convention.
    Fixpoint rounds are no-ops (empty live -> identity relabel)."""
    sql = f"""
    WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
    und AS MATERIALIZED (
        SELECT a, b, 1 + (3*a + 5*b) % 7 AS w FROM (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst)
    ),
    l0 AS MATERIALIZED (
        SELECT n AS node, n AS comp FROM (
            SELECT a AS n FROM und UNION SELECT b FROM und)
    ),
    f0 AS MATERIALIZED (SELECT a, b, w FROM und WHERE false)"""
    for r in range(1, rounds + 1):
        sql += f""",
    live{r} AS MATERIALIZED (
        SELECT u.a, u.b, u.w, la.comp AS ca, lb.comp AS cb
        FROM und u
        JOIN l{r - 1} la ON la.node = u.a
        JOIN l{r - 1} lb ON lb.node = u.b
        WHERE la.comp <> lb.comp),
    picks{r} AS MATERIALIZED (
        SELECT DISTINCT a, b, w, ca, cb FROM (
            SELECT *, row_number() OVER (PARTITION BY c
                                         ORDER BY w, a, b) AS rn
            FROM (SELECT ca AS c, w, a, b, ca, cb FROM live{r}
                  UNION ALL
                  SELECT cb, w, a, b, ca, cb FROM live{r}))
        WHERE rn = 1),
    f{r} AS MATERIALIZED (
        SELECT a, b, w FROM f{r - 1}
        UNION SELECT a, b, w FROM picks{r}),
    psym{r} AS MATERIALIZED (
        SELECT ca AS x, cb AS y FROM picks{r}
        UNION SELECT cb, ca FROM picks{r}),
    pcc{r}(id, t) AS (
        SELECT comp, comp FROM (SELECT DISTINCT comp FROM l{r - 1})
        UNION
        SELECT p.id, s.y FROM pcc{r} p JOIN psym{r} s ON s.x = p.t),
    m{r} AS MATERIALIZED (
        SELECT id, min(t) AS new FROM pcc{r} GROUP BY id),
    l{r} AS MATERIALIZED (
        SELECT l.node, m.new AS comp
        FROM l{r - 1} l JOIN m{r} m ON m.id = l.comp)"""
    sql += f"\n    SELECT a, b, w::BIGINT AS w FROM f{rounds}"
    return sql


@query(_msf_sql(5))
def graph_msf(spark, sf):
    """Borůvka minimum spanning forest over the weighted KG graph
    (hard oracle: the outer rounds unrolled in DuckDB, each merge a
    recursive-CTE closure — a bit-exact oracle for an MST algorithm,
    possible because the (w, a, b) total order makes the forest
    unique). The connected suite graph spans in 4 rounds -> 499
    edges, total weight 852; the oracle unrolls 5."""
    from ..plans.graph import boruvka_msf

    e = _kg_graph_edges(spark, sf)
    weighted = e.select(
        "src", "dst",
        (1 + (3 * F.least("src", "dst")
              + 5 * F.greatest("src", "dst")) % 7).alias("w"))
    return boruvka_msf(weighted)


def _matching_sql(rounds: int = 7) -> str:
    """maximal_matching unrolled: per round, live edges whose
    md5(round:a:b) priority is the max at BOTH endpoints enter the
    matching; covered edges leave. Fixpoint rounds are no-ops."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    l0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    )"""
    for r in range(1, rounds + 1):
        sql += f""",
    pr{r} AS MATERIALIZED (
        SELECT a, b,
               ('0x' || substr(md5({r} || ':' || a || ':' || b), 1, 15))
               ::UBIGINT AS p
        FROM l{r - 1}),
    nm{r} AS MATERIALIZED (
        SELECT node, max(p) AS mx FROM (
            SELECT a AS node, p FROM pr{r}
            UNION ALL SELECT b, p FROM pr{r}) GROUP BY node),
    w{r} AS MATERIALIZED (
        SELECT pr.a, pr.b FROM pr{r} pr
        JOIN nm{r} na ON na.node = pr.a
        JOIN nm{r} nb ON nb.node = pr.b
        WHERE pr.p >= na.mx AND pr.p >= nb.mx),
    mn{r} AS MATERIALIZED (
        SELECT a AS n FROM w{r} UNION SELECT b FROM w{r}),
    l{r} AS MATERIALIZED (
        SELECT l.a, l.b FROM l{r - 1} l
        ANTI JOIN mn{r} ma ON ma.n = l.a
        ANTI JOIN mn{r} mb ON mb.n = l.b)"""
    sql += ("\n    SELECT a, b FROM ("
            + " UNION ALL ".join(f"SELECT a, b FROM w{k}"
                                 for k in range(1, rounds + 1)) + ")")
    return sql


@query(_matching_sql(7))
def graph_matching(spark, sf):
    """Maximal matching over the KG multigraph (hard oracle: the
    edge-Luby rounds unrolled in DuckDB with identical md5 priorities
    — the matched edge set is bit-identical). The fixed graph matches
    228 edges in 5 rounds; the oracle unrolls 7 (fixpoint no-ops).
    Matched endpoints double as the 2-approx vertex cover."""
    from ..plans.graph import maximal_matching

    return maximal_matching(_kg_graph_edges(spark, sf))


def _coloring_sql(rounds: int = 12) -> str:
    """greedy_coloring unrolled: per round, uncolored nodes beating
    every uncolored neighbor's md5(round:node) priority win and take
    the mex of their colored neighbors' colors. Rounds past the
    fixpoint are no-ops (empty uncolored -> empty winners)."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    s0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    adj AS MATERIALIZED (
        SELECT a AS n, b AS m FROM s0 UNION ALL SELECT b, a FROM s0
    ),
    u0 AS MATERIALIZED (SELECT DISTINCT n FROM adj),
    col0 AS MATERIALIZED (SELECT n, 0::INT AS color FROM u0 WHERE false)"""
    for r in range(1, rounds + 1):
        sql += f""",
    pr{r} AS MATERIALIZED (
        SELECT n, ('0x' || substr(md5({r} || ':' || n), 1, 15))::UBIGINT AS p
        FROM u{r - 1}),
    mx{r} AS MATERIALIZED (
        SELECT e.n, max(pm.p) AS mp
        FROM adj e
        JOIN pr{r} pm ON pm.n = e.m
        SEMI JOIN u{r - 1} uu ON uu.n = e.n
        GROUP BY e.n),
    w{r} AS MATERIALIZED (
        SELECT pr.n FROM pr{r} pr LEFT JOIN mx{r} mx ON mx.n = pr.n
        WHERE mx.n IS NULL OR pr.p > mx.mp),
    nc{r} AS MATERIALIZED (
        SELECT w.n,
               coalesce(mexed.color, 0)::INT AS color
        FROM w{r} w LEFT JOIN (
            SELECT u.n,
                   list_min(list_filter(range(0, len(u.used) + 1),
                                        x -> NOT list_contains(u.used, x)))
                   AS color
            FROM (
                SELECT w2.n, list(DISTINCT c.color) AS used
                FROM w{r} w2
                JOIN adj e ON e.n = w2.n
                JOIN col{r - 1} c ON c.n = e.m
                GROUP BY w2.n) u) mexed ON mexed.n = w.n),
    col{r} AS MATERIALIZED (
        SELECT * FROM col{r - 1} UNION ALL SELECT * FROM nc{r}),
    u{r} AS MATERIALIZED (
        SELECT u.n FROM u{r - 1} u ANTI JOIN w{r} w ON w.n = u.n)"""
    sql += f"\n    SELECT n AS node_id, color FROM col{rounds}"
    return sql


@query(_coloring_sql(12))
def graph_coloring(spark, sf):
    """Distributed greedy coloring over the KG multigraph (hard
    oracle: the Luby/Jones-Plassmann rounds unrolled in DuckDB with
    the identical md5 priorities and mex picks — bit-exact colors).
    The fixed graph settles in 10 rounds / 6 colors; the oracle
    unrolls 12 (fixpoint rounds are no-ops)."""
    from ..plans.graph import greedy_coloring

    return greedy_coloring(_kg_graph_edges(spark, sf))


def _mis_sql(rounds: int = 4) -> str:
    """maximal_independent_set unrolled: per round, undecided nodes
    beating every undecided neighbor's md5 priority join the MIS;
    winners + neighbors leave. Rounds past the fixpoint add nothing
    (empty undecided -> empty winners)."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    s0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    adj AS MATERIALIZED (
        SELECT a AS n, b AS m FROM s0 UNION ALL SELECT b, a FROM s0
    ),
    u0 AS MATERIALIZED (SELECT DISTINCT n FROM adj)"""
    for r in range(1, rounds + 1):
        sql += f""",
    pr{r} AS MATERIALIZED (
        SELECT n, ('0x' || substr(md5({r} || ':' || n), 1, 15))::UBIGINT AS p
        FROM u{r - 1}),
    mx{r} AS MATERIALIZED (
        SELECT e.n, max(pm.p) AS mp
        FROM adj e
        JOIN pr{r} pm ON pm.n = e.m
        SEMI JOIN u{r - 1} uu ON uu.n = e.n
        GROUP BY e.n),
    w{r} AS MATERIALIZED (
        SELECT pr.n FROM pr{r} pr LEFT JOIN mx{r} mx ON mx.n = pr.n
        WHERE mx.n IS NULL OR pr.p > mx.mp),
    rm{r} AS MATERIALIZED (
        SELECT n FROM w{r}
        UNION
        SELECT e.m FROM adj e SEMI JOIN w{r} w ON w.n = e.n),
    u{r} AS MATERIALIZED (
        SELECT u.n FROM u{r - 1} u ANTI JOIN rm{r} rr ON rr.n = u.n)"""
    sql += ("\n    SELECT n AS node_id FROM ("
            + " UNION ".join(f"SELECT n FROM w{k}"
                             for k in range(1, rounds + 1)) + ")")
    return sql


@query(_mis_sql(4))
def graph_mis(spark, sf):
    """Luby maximal independent set over the KG multigraph with
    deterministic md5 round priorities (hard oracle: the rounds
    unrolled in DuckDB with the identical priority draw — 130 of the
    500 nodes, bit-exact)."""
    from ..plans.graph import maximal_independent_set

    return maximal_independent_set(_kg_graph_edges(spark, sf))


@query("""
        WITH RECURSIVE e0 AS (
            SELECT doc_id AS a, doc_id - 1 AS b FROM documents
            WHERE doc_id % 10 <> 0
            UNION ALL
            SELECT d.doc_id, d.doc_id + 100 FROM documents d
            WHERE d.doc_id % 37 = 0
              AND EXISTS (SELECT 1 FROM documents x
                          WHERE x.doc_id = d.doc_id + 100)
        ), sym AS (
            SELECT a, b FROM e0 UNION SELECT b, a FROM e0
        ), r(id, t) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.id, sym.b FROM r JOIN sym ON r.t = sym.a
        ),
        pred AS (
            SELECT lpad(id::VARCHAR, 8, '0') AS item,
                   lpad(min(t)::VARCHAR, 8, '0') AS cp
            FROM r GROUP BY id
        ),
        gold AS (
            SELECT lpad(doc_id::VARCHAR, 8, '0') AS item,
                   doc_id - doc_id % 10 AS cg
            FROM documents
        ),
        j AS (SELECT p.cp, g.cg FROM pred p JOIN gold g USING (item)),
        cells AS (SELECT cp, cg, count(*) AS n FROM j GROUP BY 1, 2),
        tp AS (SELECT coalesce(sum(n * (n - 1) // 2), 0) AS tp FROM cells),
        p2 AS (SELECT coalesce(sum(n * (n - 1) // 2), 0) AS p2 FROM
               (SELECT count(*) AS n FROM j GROUP BY cp)),
        g2 AS (SELECT coalesce(sum(n * (n - 1) // 2), 0) AS g2 FROM
               (SELECT count(*) AS n FROM j GROUP BY cg))
        SELECT (SELECT count(*) FROM j)::BIGINT AS n_items,
               (SELECT tp FROM tp)::BIGINT AS tp,
               ((SELECT p2 FROM p2) - (SELECT tp FROM tp))::BIGINT AS fp,
               ((SELECT g2 FROM g2) - (SELECT tp FROM tp))::BIGINT AS fn
    """)
def kg_er_metrics(spark, sf):
    """Pair-counting ER evaluation, integer-exact: the chain-graph
    connected components scored against a doc_id-block gold
    partition (hard oracle: the recursive-CTE closure + the same
    C(n,2) contingency combinatorics in DuckDB). Precision/recall
    derive as tp/(tp+fp), tp/(tp+fn)."""
    from ..plans.linking import connected_components, pair_metrics

    docs = _t(spark, sf, "documents").select("doc_id")

    def nid(col):
        return F.lpad(col.cast("string"), 8, "0")

    d = F.col("doc_id")
    chain = (docs.filter(d % 10 != 0)
             .select(nid(d).alias("a"), nid(d - 1).alias("b"))
             .join(docs.select(nid(d).alias("b")), "b", "left_semi"))
    cross = (docs.filter(d % 37 == 0)
             .select(nid(d).alias("a"), nid(d + 100).alias("b"))
             .join(docs.select(nid(d).alias("b")), "b", "left_semi"))
    edges = (chain.unionByName(cross)
             .select(F.col("a").alias("src"), F.col("b").alias("dst")))
    verts = docs.select(nid(d).alias("entity_iri"))
    pred = (connected_components(verts, edges)
            .select(F.col("entity_iri").alias("item"),
                    F.col("canonical_id").alias("cluster")))
    gold = docs.select(nid(d).alias("item"),
                       (d - d % 10).alias("cluster"))
    return pair_metrics(pred, gold)


@query(f"""
        WITH {_KG_GRAPH_EDGES_CTE},
        und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst
        ),
        tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        tn AS (
            SELECT node_id, count(*)::BIGINT AS t FROM (
                SELECT a AS node_id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri) GROUP BY node_id
        ),
        deg AS (
            SELECT node_id, count(*)::BIGINT AS d FROM (
                SELECT a AS node_id FROM und
                UNION ALL SELECT b FROM und) GROUP BY node_id
        )
        SELECT deg.node_id, deg.d,
               (2 * coalesce(tn.t, 0))::BIGINT AS two_t,
               (deg.d * (deg.d - 1))::BIGINT AS d_pairs
        FROM deg LEFT JOIN tn ON tn.node_id = deg.node_id
    """)
def graph_clustering_coeff(spark, sf):
    """Per-node clustering coefficient as an exact integer fraction
    (2T, d(d-1)) over the KG multigraph (hard oracle: the triangle
    CTE + degree aggregate in DuckDB)."""
    from ..plans.graph import clustering_coefficients

    return clustering_coefficients(_kg_graph_edges(spark, sf))


@query(f"""
        WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
        reach(node_id, label, dist) AS (
            SELECT doc_id, 'L' || (doc_id // 50)::VARCHAR, 0
            FROM documents WHERE doc_id < 500 AND doc_id % 50 = 0
            UNION
            SELECT e0.dst, r.label, r.dist + 1
            FROM reach r JOIN e0 ON e0.src = r.node_id
            WHERE r.dist < 30
        ),
        best AS (SELECT node_id, min(dist) AS d FROM reach GROUP BY node_id),
        lab AS (
            SELECT r.node_id, min(r.label) AS community
            FROM reach r JOIN best b
              ON b.node_id = r.node_id AND r.dist = b.d
            GROUP BY r.node_id
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst
        ),
        m AS (SELECT count(*)::BIGINT AS m FROM und),
        intra AS (
            SELECT la.community, count(*)::BIGINT AS e_in
            FROM und u
            JOIN lab la ON la.node_id = u.a
            JOIN lab lb ON lb.node_id = u.b
            WHERE la.community = lb.community
            GROUP BY la.community
        ),
        deg AS (
            SELECT node_id, count(*)::BIGINT AS d FROM (
                SELECT a AS node_id FROM und
                UNION ALL SELECT b FROM und) GROUP BY node_id
        ),
        pc AS (
            SELECT l.community, count(*)::BIGINT AS n_nodes,
                   sum(coalesce(deg.d, 0))::BIGINT AS tot_deg
            FROM lab l LEFT JOIN deg ON deg.node_id = l.node_id
            GROUP BY l.community
        )
        SELECT pc.community, pc.n_nodes,
               coalesce(i.e_in, 0)::BIGINT AS e_in, pc.tot_deg,
               (4 * (SELECT m FROM m) * coalesce(i.e_in, 0)
                - pc.tot_deg * pc.tot_deg)::BIGINT AS q_num,
               (SELECT m FROM m) AS m_edges
        FROM pc LEFT JOIN intra i ON i.community = pc.community
    """)
def graph_modularity(spark, sf):
    """Integer-exact modularity components of the labelprop
    communities over the KG multigraph (hard oracle: the labelprop
    recursive CTE composed with the same per-community aggregates —
    not a float anywhere; global Q = sum(q_num)/(4 m^2))."""
    from ..plans.graph import modularity, propagate_labels

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id"),
                     F.concat(F.lit("L"), (d / 50).cast("int").cast("string"))
                     .alias("label")))
    edges = _kg_graph_edges(spark, sf)
    labels = (propagate_labels(seeds, edges)
              .select("node_id", F.col("label").alias("community")))
    return modularity(edges, labels)


def _ktruss_sql(k: int, rounds: int = 5) -> str:
    """ktruss's peeling unrolled: per round, per-edge triangle support
    over the survivor set (naive a<b<c enumeration), keep support >=
    k-2. Rounds past the fixpoint are no-ops; the final support comes
    from the last round's aggregate over the (fixpoint) survivor set,
    exactly the value the Spark loop returns."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    s0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    )"""
    for r in range(1, rounds + 1):
        sql += f""",
    t{r} AS MATERIALIZED (
        SELECT e1.a, e1.b, e2.b AS c
        FROM s{r - 1} e1
        JOIN s{r - 1} e2 ON e2.a = e1.b
        JOIN s{r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b),
    p{r} AS MATERIALIZED (
        SELECT a, b, count(*) AS s FROM (
            SELECT a, b FROM t{r}
            UNION ALL SELECT a, c AS b FROM t{r}
            UNION ALL SELECT b AS a, c AS b FROM t{r}) GROUP BY a, b),
    s{r} AS MATERIALIZED (
        SELECT e.a, e.b FROM s{r - 1} e
        JOIN p{r} p ON p.a = e.a AND p.b = e.b
        WHERE p.s >= {k - 2})"""
    sql += f"""
    SELECT e.a, e.b, p.s::BIGINT AS support
    FROM s{rounds} e JOIN p{rounds} p ON p.a = e.a AND p.b = e.b"""
    return sql


@query(_ktruss_sql(3, rounds=4))
def graph_ktruss(spark, sf):
    """3-truss of the KG multigraph via per-edge support peeling
    (hard oracle: the peel rounds unrolled in DuckDB with naive
    triangle enumeration — same truss, skew-safe plan here; 530 of
    the 1657 undirected edges survive, so the comparison is
    non-vacuous — the graph's 4-truss is EMPTY, which would verify
    nothing). Returns surviving edges with their final support."""
    from ..plans.graph import ktruss

    return ktruss(_kg_graph_edges(spark, sf), k=3)


@query(f"""
        WITH {_KG_GRAPH_EDGES_CTE},
        h0 AS (
            SELECT doc_id AS node_id, (doc_id % 100)::BIGINT AS h0
            FROM documents WHERE doc_id < 500
        ),
        m1 AS (
            SELECT e0.dst, sum(h0.h0)::BIGINT AS m
            FROM e0 JOIN h0 ON h0.node_id = e0.src GROUP BY e0.dst
        ),
        h1 AS (
            SELECT h0.node_id, h0.h0,
                   (h0.h0 + coalesce(m1.m, 0))::BIGINT AS h1
            FROM h0 LEFT JOIN m1 ON m1.dst = h0.node_id
        ),
        m2 AS (
            SELECT e0.dst, sum(h1.h1)::BIGINT AS m
            FROM e0 JOIN h1 ON h1.node_id = e0.src GROUP BY e0.dst
        )
        SELECT h1.node_id, h1.h0, h1.h1,
               (h1.h1 + coalesce(m2.m, 0))::BIGINT AS h2
        FROM h1 LEFT JOIN m2 ON m2.dst = h1.node_id
    """)
def graph_neighbor_agg(spark, sf):
    """Two rounds of integer sum message passing over the KG
    multigraph, starting features h = doc_id % 100 (hard oracle: the
    same two join+sum layers chained in DuckDB — every value exact)."""
    from ..plans.graph import neighbor_agg

    d = F.col("doc_id")
    feats = (_t(spark, sf, "documents").select("doc_id")
             .filter(d < 500)
             .select(d.alias("node_id"), (d % 100).alias("h")))
    return neighbor_agg(_kg_graph_edges(spark, sf), feats, rounds=2)


@query(f"""
        WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
        reach(seed, node, dist) AS (
            SELECT doc_id, doc_id, 0 FROM documents
            WHERE doc_id < 500 AND doc_id % 50 = 0
            UNION
            SELECT r.seed, e0.dst, r.dist + 1
            FROM reach r JOIN e0 ON e0.src = r.node
            WHERE r.dist < 30
        ),
        md AS (
            SELECT seed, node, min(dist) AS dist
            FROM reach GROUP BY seed, node
        )
        SELECT node AS node_id, count(*)::BIGINT AS n_sources,
               sum(dist)::BIGINT AS total_dist
        FROM md GROUP BY node
    """)
def graph_closeness(spark, sf):
    """Sampled closeness aggregates from the 10-seed set over the KG
    multigraph — ONE multi-source BFS sweep, frontier keyed
    (seed, node) (hard oracle: recursive-CTE min distance per
    (seed, node) in DuckDB, aggregated; all-integer output)."""
    from ..plans.graph import closeness

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id")))
    return closeness(seeds, _kg_graph_edges(spark, sf))


@query(f"""
        WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
        reach(seed, node, dist) AS (
            SELECT doc_id, doc_id, 0 FROM documents
            WHERE doc_id < 500 AND doc_id % 50 = 0
            UNION
            SELECT r.seed, e0.dst, r.dist + 1
            FROM reach r JOIN e0 ON e0.src = r.node
            WHERE r.dist < 30
        ),
        md AS (
            SELECT seed, node, min(dist) AS dist
            FROM reach GROUP BY seed, node
        )
        SELECT node AS node_id, count(*)::BIGINT AS n_sources,
               sum(dist)::BIGINT AS total_dist,
               sum(CAST(CASE WHEN dist > 0
                        THEN round(1.0::DOUBLE / dist, 8)
                        ELSE 0.0 END AS DECIMAL(28,8)))::DOUBLE
                   AS harmonic
        FROM md GROUP BY node
    """)
def graph_harmonic(spark, sf):
    """Sampled HARMONIC centrality from the 10-seed set — the
    closeness variant that survives disconnection (unreachable
    sources add 0 instead of breaking the mean). Same single
    multi-source BFS sweep as graph_closeness; the reciprocal sum
    rides the 8-dp-grid exact-decimal protocol, so the double output
    hard-oracles bit-for-bit (recursive-CTE distances in DuckDB)."""
    from ..plans.graph import closeness

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id")))
    return closeness(seeds, _kg_graph_edges(spark, sf), harmonic=True)


def _hyperball_sql(radius: int = 3, p: int = 4,
                   stats: bool = False) -> str:
    """plans/graph.hyperball mirrored in DuckDB — but from the EXACT
    side: recursive-CTE min-hop distances give the true ball
    membership per (node, t); the same md5-derived HLL registers and
    integer-exact estimator as _hll_oracle then reproduce Spark's
    approximate ball sizes bit-for-bit (the sketch is a deterministic
    function of set membership, so exact-membership + same-registers
    == propagated-counters). stats=True wraps the per-node series in
    the neighborhood-function aggregate (exact decimal sums, one
    double division on a 6-dp grid)."""
    m = 1 << p
    sb = 48 - p
    mr = sb + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = repr(alpha * float(m) * float(m) * float(1 << mr))
    mf = repr(float(m))
    ts = ", ".join(f"({t})" for t in range(radius + 1))
    series = f"""
    WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
    nodes AS (SELECT DISTINCT src AS v FROM e0
              UNION SELECT DISTINCT dst FROM e0),
    reach(v, u, dist) AS (
        SELECT v, v, 0 FROM nodes
        UNION
        SELECT r.v, e0.dst, r.dist + 1
        FROM reach r JOIN e0 ON e0.src = r.u
        WHERE r.dist < {radius}
    ),
    ball AS (SELECT v, u, min(dist) AS d FROM reach GROUP BY v, u),
    mem AS (SELECT b.v, tv.t, b.u
            FROM ball b JOIN (VALUES {ts}) tv(t) ON b.d <= tv.t),
    h AS (SELECT v, t,
                 ('0x' || substr(md5(u::VARCHAR), 1, 12))
                     ::UBIGINT::BIGINT AS hv
          FROM mem),
    r AS (SELECT v, t, hv >> {sb} AS reg,
                 hv & ((1::BIGINT << {sb}) - 1) AS rest FROM h),
    regs AS (SELECT v, t, reg,
                    max(CASE WHEN rest = 0 THEN {mr}
                        ELSE {mr} - length(bin(rest)) END) AS mj
             FROM r GROUP BY v, t, reg),
    agg AS (SELECT v, t, count(*) AS nset,
                   sum(1::BIGINT << ({mr} - mj)) AS s_present
            FROM regs GROUP BY v, t),
    est AS (SELECT v, t, nset,
                   round({num} / (s_present
                         + ({m} - nset)::BIGINT * (1::BIGINT << {mr}))
                         ::DOUBLE, 4) AS raw
            FROM agg),
    series AS (
        SELECT v AS node_id, t::INT AS t,
               CASE WHEN ({m} - nset) > 0 AND raw <= {repr(2.5 * m)}
                    THEN round({mf} * round(ln({mf}
                               / ({m} - nset)::DOUBLE), 8), 4)
                    ELSE raw END AS ball_est
        FROM est)
    """
    if not stats:
        return series + "SELECT node_id, t, ball_est FROM series"
    return series + f""",
    nf AS (SELECT t, sum(CAST(ball_est AS DECIMAL(28,4))) AS n
           FROM series GROUP BY t),
    tot AS (SELECT n AS tot FROM nf WHERE t = {radius})
    SELECT t, n::DOUBLE AS n_est,
           round(n::DOUBLE / tot::DOUBLE, 6) AS frac_reached
    FROM nf, tot ORDER BY t
    """


@query(_hyperball_sql(3, 4))
def graph_hyperball(spark, sf):
    """HyperBall out-ball-size estimates |B(v,t)| for t=0..3 over the
    KG multigraph — HLL counters propagated along edges, the 10^9-node
    scale path for distance distributions where per-node BFS is
    intractable. Hard oracle: DuckDB computes EXACT balls by recursive
    CTE, rebuilds the same md5-derived HLL registers over the exact
    membership, and runs the identical integer-exact estimator — the
    approximate values themselves are bit-identical cross-engine."""
    from ..plans.graph import hyperball

    return hyperball(_kg_graph_edges(spark, sf), radius=3, p=4)


@query(_hyperball_sql(3, 4, stats=True))
def graph_hyperball_nf(spark, sf):
    """Neighborhood function N(t) = Σ_v |B(v,t)| and frac-of-final
    curve from the HyperBall series — the effective-diameter
    instrument (0.9 crossing). Per-node grid doubles summed as exact
    decimals; hard oracle shares graph_hyperball's register SQL."""
    from ..plans.graph import hyperball, hyperball_stats

    return hyperball_stats(
        hyperball(_kg_graph_edges(spark, sf), radius=3, p=4), radius=3)


def _graph_walks_sql() -> str:
    """random_walks unrolled (8 steps, 2 walks per start): step k picks
    the out-neighbor minimizing the same md5-derived key Spark computes
    (15 hex chars < 2^60, so UBIGINT ordering == the Spark BIGINT
    value's); row_number argmin with the identical (h, dst) tie-break."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    ed AS (SELECT DISTINCT src, dst FROM e0),
    w0 AS (
        SELECT (doc_id * 2 + r.r)::BIGINT AS walk_id,
               doc_id AS node, 0 AS step
        FROM documents,
             (SELECT unnest(generate_series(0, 1)) AS r) r
        WHERE doc_id < 500 AND doc_id % 10 = 0)"""
    for k in range(1, 9):
        sql += f""",
    c{k} AS (
        SELECT w.walk_id, e.dst,
               ('0x' || substr(md5(w.walk_id || ':{k}:' || w.node
                                   || ':' || e.dst), 1, 15))::UBIGINT AS h
        FROM w{k - 1} w JOIN ed e ON e.src = w.node),
    w{k} AS (
        SELECT walk_id, node, {k} AS step FROM (
            SELECT walk_id, dst AS node,
                   row_number() OVER (PARTITION BY walk_id
                                      ORDER BY h, dst) AS rn
            FROM c{k})
        WHERE rn = 1)"""
    sql += ("\n    SELECT walk_id, step, node FROM ("
            + "\n    UNION ALL ".join(
                f"SELECT * FROM w{k}" for k in range(9))
            + ")")
    return sql


@query("WITH walks AS (" + _graph_walks_sql() + """)
        SELECT a.node AS center, b.node AS context,
               count(*)::BIGINT AS n_pairs
        FROM walks a JOIN walks b
          ON a.walk_id = b.walk_id AND a.step <> b.step
         AND abs(a.step - b.step) <= 2
        GROUP BY a.node, b.node
    """)
def graph_walk_pairs(spark, sf):
    """Skip-gram (center, context) pair counts from the deterministic
    walk corpus (window=2) — the node2vec training set, reproducible
    end-to-end because the walks are hash-seeded. Hard oracle: the
    unrolled walk CTE self-joined identically in DuckDB."""
    from ..plans.graph import random_walks, walk_skipgram_pairs

    d = F.col("doc_id")
    starts = (_t(spark, sf, "documents").select("doc_id")
              .filter((d < 500) & (d % 10 == 0))
              .select(d.alias("node_id")))
    walks = random_walks(_kg_graph_edges(spark, sf), starts,
                         length=8, walks_per_node=2)
    return walk_skipgram_pairs(walks, window=2)


def _weighted_walks_sql() -> str:
    """weighted_random_walks unrolled (8 steps, 2 walks per start):
    per step the walk draws u = md5(walk:step:node)/2^60 and picks the
    first dst (ordered by id) whose cumulative weight crosses u — the
    crossing test in exact HUGEINT arithmetic, mirroring Spark's
    decimal(38,0)."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    ew AS MATERIALIZED (
        SELECT src, dst, (1 + (3*src + 5*dst) % 7)::BIGINT AS w FROM e0),
    w0 AS (
        SELECT (doc_id * 2 + r.r)::BIGINT AS walk_id,
               doc_id AS node, 0 AS step
        FROM documents,
             (SELECT unnest(generate_series(0, 1)) AS r) r
        WHERE doc_id < 500 AND doc_id % 10 = 0)"""
    for k in range(1, 9):
        sql += f""",
    c{k} AS MATERIALIZED (
        SELECT w.walk_id,
               ('0x' || substr(md5(w.walk_id || ':{k}:' || w.node),
                               1, 15))::UBIGINT::HUGEINT AS h,
               e.dst, e.w
        FROM w{k - 1} w JOIN ew e ON e.src = w.node),
    x{k} AS (
        SELECT walk_id, dst, h,
               sum(w) OVER (PARTITION BY walk_id
                            ORDER BY dst)::HUGEINT AS cum,
               sum(w) OVER (PARTITION BY walk_id)::HUGEINT AS total
        FROM c{k}),
    w{k} AS MATERIALIZED (
        SELECT walk_id, min(dst) AS node, {k} AS step FROM x{k}
        WHERE cum * 1152921504606846976::HUGEINT > h * total
        GROUP BY walk_id)"""
    sql += ("\n    SELECT walk_id, step, node FROM ("
            + "\n    UNION ALL ".join(
                f"SELECT * FROM w{k}" for k in range(9))
            + ")")
    return sql


@query(_weighted_walks_sql())
def graph_weighted_walks(spark, sf):
    """Edge-weighted deterministic walks over the KG multigraph with
    the sssp weight rule w = 1 + (3*src + 5*dst) % 7 (hard oracle:
    unrolled cumulative-threshold choice in DuckDB, exact HUGEINT/
    decimal crossing compare — the weighted corpus is bit-identical
    cross-engine)."""
    from ..plans.graph import weighted_random_walks

    d = F.col("doc_id")
    starts = (_t(spark, sf, "documents").select("doc_id")
              .filter((d < 500) & (d % 10 == 0))
              .select(d.alias("node_id")))
    edges = _kg_graph_edges(spark, sf).withColumn(
        "w", (F.lit(1) + (F.col("src") * 3 + F.col("dst") * 5) % 7)
        .cast("long"))
    return weighted_random_walks(edges, starts, length=8,
                                 walks_per_node=2)


def _node2vec_sql() -> str:
    """node2vec_walks unrolled (8 steps, 2 walks per start): state
    tables carry (walk_id, prev, node); per step the candidate mass is
    w * bias(prev, dst) (integer biases return 3 / adjacent 6 / far 2
    via a LEFT JOIN adjacency probe — least/greatest skip NULL prev
    identically in both engines, landing step 1 on the far branch),
    then the exact HUGEINT cumulative-threshold crossing."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    ew AS MATERIALIZED (
        SELECT src, dst, (1 + (3*src + 5*dst) % 7)::BIGINT AS w FROM e0),
    undadj AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS ua, greatest(src, dst) AS ub
        FROM e0 WHERE src <> dst),
    w0 AS (
        SELECT (doc_id * 2 + r.r)::BIGINT AS walk_id,
               NULL::BIGINT AS prev, doc_id AS node, 0 AS step
        FROM documents,
             (SELECT unnest(generate_series(0, 1)) AS r) r
        WHERE doc_id < 500 AND doc_id % 10 = 0)"""
    for k in range(1, 9):
        sql += f""",
    c{k} AS MATERIALIZED (
        SELECT w.walk_id, w.node AS cur, w.prev,
               ('0x' || substr(md5(w.walk_id || ':{k}:' || w.node),
                               1, 15))::UBIGINT::HUGEINT AS h,
               e.dst,
               e.w * (CASE WHEN e.dst = w.prev THEN 3
                           WHEN a.ua IS NOT NULL THEN 6
                           ELSE 2 END) AS mass
        FROM w{k - 1} w
        JOIN ew e ON e.src = w.node
        LEFT JOIN undadj a
          ON least(w.prev, e.dst) = a.ua
         AND greatest(w.prev, e.dst) = a.ub),
    x{k} AS (
        SELECT walk_id, cur, dst, h,
               sum(mass) OVER (PARTITION BY walk_id
                               ORDER BY dst)::HUGEINT AS cum,
               sum(mass) OVER (PARTITION BY walk_id)::HUGEINT AS total
        FROM c{k}),
    w{k} AS MATERIALIZED (
        SELECT walk_id, any_value(cur) AS prev, min(dst) AS node,
               {k} AS step
        FROM x{k}
        WHERE cum * 1152921504606846976::HUGEINT > h * total
        GROUP BY walk_id)"""
    sql += ("\n    SELECT walk_id, step, node FROM ("
            + "\n    UNION ALL ".join(
                f"SELECT walk_id, step, node FROM w{k}"
                for k in range(9))
            + ")")
    return sql


@query(_node2vec_sql())
def graph_node2vec_walks(spark, sf):
    """TRUE second-order node2vec walks over the weighted KG
    multigraph — integer search biases (return 3 / adjacent 6 /
    far 2, the p/q mapping scaled exact), md5-seeded draw (hard
    oracle: unrolled in DuckDB with the same state-carrying
    prev/cur tables and adjacency probe, bit-exact)."""
    from ..plans.graph import node2vec_walks

    d = F.col("doc_id")
    starts = (_t(spark, sf, "documents").select("doc_id")
              .filter((d < 500) & (d % 10 == 0))
              .select(d.alias("node_id")))
    edges = _kg_graph_edges(spark, sf).withColumn(
        "w", (F.lit(1) + (F.col("src") * 3 + F.col("dst") * 5) % 7)
        .cast("long"))
    return node2vec_walks(edges, starts, length=8, walks_per_node=2)


@query("""
        WITH m AS (
            SELECT doc_id AS i, (doc_id // 8) * 8 AS head
            FROM documents WHERE doc_id < 200 AND doc_id % 8 < 4
        ),
        pairs AS (
            SELECT 'e' || a.i AS subj,
                   'http://www.w3.org/2002/07/owl#sameAs' AS pred,
                   'e' || b.i AS obj
            FROM m a JOIN m b ON a.head = b.head
        ),
        labels AS (
            SELECT 'e' || i AS subj,
                   'http://www.w3.org/2000/01/rdf-schema#label' AS pred,
                   '"L' || head || '"' AS obj
            FROM m
        )
        SELECT DISTINCT subj, pred, obj
        FROM (SELECT * FROM pairs UNION ALL SELECT * FROM labels)
    """)
def kg_sameas_closure(spark, sf):
    """owl:sameAs entity-identity closure via forward-chaining rule
    materialization to FIXPOINT (plans/bgp.materialize_rules): planted
    4-node sameAs chains + per-chain-head rdfs:labels, closed under
    {symmetry, transitivity, label inheritance across sameAs}. The
    canonicalization-adjacent inference a KG runs after entity
    linking. Hard oracle: closed form — every ordered pair (incl.
    self) within a chain component, every member inheriting the head
    label."""
    from ..plans.bgp import materialize_rules

    OWL_SAME = "http://www.w3.org/2002/07/owl#sameAs"
    RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 200)
    e = F.concat(F.lit("e"), d.cast("string"))
    e_next = F.concat(F.lit("e"), (d + 1).cast("string"))
    edges = (docs.filter(d % 8 < 3)
             .select(e.alias("subj"), F.lit(OWL_SAME).alias("pred"),
                     e_next.alias("obj")))
    labels = (docs.filter(d % 8 == 0)
              .select(e.alias("subj"), F.lit(RDFS_LABEL).alias("pred"),
                      F.concat(F.lit('"L'), d.cast("string"), F.lit('"'))
                      .alias("obj")))
    rules = [
        ([("?a", OWL_SAME, "?b")], [("?b", OWL_SAME, "?a")]),
        ([("?a", OWL_SAME, "?b"), ("?b", OWL_SAME, "?c")],
         [("?a", OWL_SAME, "?c")]),
        ([("?a", OWL_SAME, "?b"), ("?a", RDFS_LABEL, "?l")],
         [("?b", RDFS_LABEL, "?l")]),
    ]
    return materialize_rules(edges.unionByName(labels), rules)


# link_predict's SQL twin: wedges at their center node -> candidate
# pair counts -> anti-join existing edges -> integer degree scores.
_GRAPH_LINK_PREDICT_SQL = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    adj AS (
        SELECT a AS n, b AS m FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT n, count(*)::BIGINT AS d FROM adj GROUP BY n),
    pairs AS (
        SELECT a1.m AS u, a2.m AS w, count(*)::BIGINT AS common,
               sum(100000000 // dc.d)::BIGINT AS ra_grid
        FROM adj a1 JOIN adj a2 ON a1.n = a2.n AND a1.m < a2.m
        JOIN deg dc ON dc.n = a1.n
        GROUP BY a1.m, a2.m
        HAVING count(*) >= 2
    ),
    cand AS (
        SELECT p.* FROM pairs p
        ANTI JOIN und ON und.a = p.u AND und.b = p.w
    )
    SELECT c.u AS a, c.w AS b, c.common,
           da.d AS deg_a, db.d AS deg_b,
           (da.d + db.d - c.common)::BIGINT AS union_n,
           (da.d * db.d)::BIGINT AS pref_attach,
           c.ra_grid
    FROM cand c
    JOIN deg da ON da.n = c.u
    JOIN deg db ON db.n = c.w
"""


@query(_GRAPH_LINK_PREDICT_SQL)
def graph_link_predict(spark, sf):
    """Common-neighbor link prediction over the undirected KG graph
    (hard oracle: the same wedge-enumeration + degree joins in DuckDB
    — every output column is an integer, so Jaccard rides along as
    the exact (common, union_n) fraction). min_common=2 keeps the
    candidate set to multiply-supported predictions."""
    from ..plans.graph import link_predict

    return link_predict(_kg_graph_edges(spark, sf), min_common=2)


def _bipartite_edges(spark, sf):
    """Deterministic maintainer x package bipartite graph over
    doc_ids < 600 (fixed at every sf so the oracle SQL is
    scale-free): 40 left nodes (maintainers), 90 right nodes
    (packages), two membership edges per doc — arithmetic residues,
    re-derivable in DuckDB from doc_id alone. The npm shape: the
    reference's foaf:maker edges (lib/npm/NpmUsers.js) form exactly
    this user x package bipartite set."""
    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 600)
    return (docs.select((d % 40).alias("u"), (d % 90).alias("v"))
            .unionByName(docs.select((d % 40).alias("u"),
                                     ((3 * d + 1) % 90).alias("v"))))


# The deterministic maintainer x package bipartite graph — the SQL
# twin of _bipartite_edges (DISTINCT = the simple bipartite graph the
# projection is defined over).
_BIPARTITE_EDGES_CTE = """
    be AS (
        SELECT DISTINCT u, v FROM (
            SELECT doc_id % 40 AS u, doc_id % 90 AS v
            FROM documents WHERE doc_id < 600
            UNION ALL
            SELECT doc_id % 40, (3 * doc_id + 1) % 90
            FROM documents WHERE doc_id < 600
        )
    )
"""


@query(f"""
        WITH {_BIPARTITE_EDGES_CTE}
        SELECT l.u AS a, r.u AS b, count(*) AS common
        FROM be l JOIN be r ON l.v = r.v AND l.u < r.u
        GROUP BY 1, 2
        HAVING count(*) >= 2
    """)
def graph_bipartite_project(spark, sf):
    """Co-maintainership projection of the bipartite maintainer x
    package graph: left pairs sharing >= 2 packages, with the shared
    count (hard oracle: the same center-keyed wedge join + pair
    aggregation in DuckDB — all-integer output)."""
    from ..plans.graph import bipartite_project

    return bipartite_project(_bipartite_edges(spark, sf), min_common=2)


@query(f"""
        WITH {_BIPARTITE_EDGES_CTE},
        pairs AS (
            SELECT l.u AS a, r.u AS b, count(*) AS common
            FROM be l JOIN be r ON l.v = r.v AND l.u < r.u
            GROUP BY 1, 2
            HAVING count(*) >= 2
        ),
        bf AS (
            SELECT a, b, (common * (common - 1)) // 2 AS bf FROM pairs
        )
        SELECT u, sum(bf)::BIGINT AS butterflies
        FROM (SELECT a AS u, bf FROM bf
              UNION ALL SELECT b AS u, bf FROM bf)
        GROUP BY u
    """)
def graph_butterflies(spark, sf):
    """Per-maintainer butterfly counts (bipartite 4-cycles) over the
    maintainer x package graph (hard oracle: C(common,2) per
    projected pair, rolled up per endpoint — exact integers in both
    engines; global count = sum/2)."""
    from ..plans.graph import butterfly_counts

    return butterfly_counts(_bipartite_edges(spark, sf))


def _ab_core_sql(alpha: int, beta: int, rounds: int = 6) -> str:
    """ab_core's alternating peel unrolled over the bipartite edge
    set: each round keeps edges whose LEFT endpoint has degree >=
    alpha and RIGHT endpoint degree >= beta in the previous survivor
    set."""
    sql = f"""
    WITH {_BIPARTITE_EDGES_CTE},
    c0 AS (SELECT u, v FROM be)"""
    for r in range(1, rounds + 1):
        sql += f""",
    lu{r} AS MATERIALIZED (SELECT u FROM c{r - 1} GROUP BY u
              HAVING count(*) >= {alpha}),
    rv{r} AS MATERIALIZED (SELECT v FROM c{r - 1} GROUP BY v
              HAVING count(*) >= {beta}),
    c{r} AS MATERIALIZED (
        SELECT c.u, c.v FROM c{r - 1} c
        JOIN lu{r} ON lu{r}.u = c.u
        JOIN rv{r} ON rv{r}.v = c.v)"""
    sql += f"\n    SELECT u, v FROM c{rounds}"
    return sql


@query(_ab_core_sql(2, 2, rounds=6))
def graph_ab_core(spark, sf):
    """(2,2)-core of the maintainer x package bipartite graph — the
    bipartite cohesion filter k-core can't express (hard oracle: the
    alternating two-threshold peel unrolled in DuckDB; fixpoint
    rounds are no-ops so over-unrolling is safe)."""
    from ..plans.graph import ab_core

    return ab_core(_bipartite_edges(spark, sf), alpha=2, beta=2)


@query(f"""
        WITH {_KG_GRAPH_EDGES_CTE},
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst
        ),
        adj AS (
            SELECT a AS n, b AS m FROM und UNION ALL SELECT b, a FROM und
        ),
        deg AS (SELECT n, count(*)::BIGINT AS d FROM adj GROUP BY n)
        SELECT count(*)::BIGINT AS m1,
               sum(dj.d)::BIGINT AS s_j,
               sum(dj.d * dk.d)::BIGINT AS s_jk,
               sum(dj.d * dj.d)::BIGINT AS s_jj
        FROM adj
        JOIN deg dj ON dj.n = adj.n
        JOIN deg dk ON dk.n = adj.m
    """)
def graph_assortativity(spark, sf):
    """Degree-assortativity moments over the KG multigraph (hard
    oracle: the same integer sums in DuckDB — all-BIGINT, so the
    Pearson numerator/denominator are exact)."""
    from ..plans.graph import assortativity_moments

    return assortativity_moments(_kg_graph_edges(spark, sf))


@query(f"""
        WITH RECURSIVE {_KG_GRAPH_EDGES_CTE},
        reach(seed, node, dist) AS (
            SELECT doc_id, doc_id, 0 FROM documents
            WHERE doc_id < 500 AND doc_id % 50 = 0
            UNION
            SELECT r.seed, e0.dst, r.dist + 1
            FROM reach r JOIN e0 ON e0.src = r.node
            WHERE r.dist < 30
        ),
        md AS (
            SELECT seed, node, min(dist) AS dist
            FROM reach GROUP BY seed, node
        )
        SELECT seed AS node_id, max(dist)::BIGINT AS ecc,
               count(*)::BIGINT AS n_reached
        FROM md GROUP BY seed
    """)
def graph_eccentricity(spark, sf):
    """Sampled eccentricity per seed over the KG multigraph (hard
    oracle: recursive-CTE min-distances, max per seed) — the exact
    diameter lower bound the HyperBall estimate can't give."""
    from ..plans.graph import eccentricity

    d = F.col("doc_id")
    seeds = (_t(spark, sf, "documents").select("doc_id")
             .filter((d < 500) & (d % 50 == 0))
             .select(d.alias("node_id")))
    return eccentricity(seeds, _kg_graph_edges(spark, sf))


def _lpa_sql(rounds: int = 3) -> str:
    """lpa_communities' SQL twin: the synchronous min-tie-break label
    rounds unrolled — l0 = own id; l{r} picks per node the (count desc,
    label asc) argmax over neighbor labels in l{r-1}."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    adj AS MATERIALIZED (
        SELECT a AS n, b AS m FROM und
        UNION ALL SELECT b, a FROM und
    ),
    l0 AS (SELECT DISTINCT n AS node, n AS label FROM adj)"""
    for r in range(1, rounds + 1):
        sql += f""",
    c{r} AS (
        SELECT a.n, l.label, count(*) AS c
        FROM adj a JOIN l{r - 1} l ON l.node = a.m
        GROUP BY a.n, l.label),
    l{r} AS (
        SELECT node, label FROM (
            SELECT n AS node, label,
                   row_number() OVER (PARTITION BY n
                                      ORDER BY c DESC, label ASC) AS rn
            FROM c{r})
        WHERE rn = 1)"""
    sql += f"\n    SELECT node, label FROM l{rounds}"
    return sql


@query(_lpa_sql(3))
def graph_lpa_communities(spark, sf):
    """Label-propagation community detection over the KG multigraph
    (hard oracle: the synchronous min-tie-break rounds unrolled in
    DuckDB — a bit-exact oracle for a community detector, possible
    because the min tie-break removes LPA's only nondeterminism).
    Three rounds: the ring+chord structure settles into label basins
    around the low-id chord anchors."""
    from ..plans.graph import lpa_communities

    return lpa_communities(_kg_graph_edges(spark, sf), rounds=3)


def _fastrp_sql(dims: int = 8, rounds: int = 2) -> str:
    """fastrp_embeddings' twin: md5 {-1,0,1} init on the 1e-8 grid,
    per-round HALF_UP neighbor means (sign outside), equal-weight sum
    of round outputs."""
    def cols(fn):
        return ",\n           ".join(fn(d) for d in range(dims))

    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    adj AS MATERIALIZED (
        SELECT a AS n, b AS m FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS MATERIALIZED (SELECT n, count(*) AS deg FROM adj GROUP BY n),
    x0 AS MATERIALIZED (
        SELECT n AS node, deg,
           """ + cols(lambda d: (
        f"((('0x' || substr(md5(n::VARCHAR || '#f{d}'), 1, 8))::BIGINT"
        f" % 3) - 1) * 100000000 AS x{d}")) + """
        FROM deg)"""
    for r in range(1, rounds + 1):
        sql += f""",
    s{r} AS (
        SELECT a.n,
           """ + cols(lambda d: f"sum(x.x{d}) AS s{d}") + f"""
        FROM adj a JOIN x{r - 1} x ON x.node = a.m GROUP BY a.n),
    x{r} AS MATERIALIZED (
        SELECT s.n AS node, d.deg,
           """ + cols(lambda d: (
            f"(CASE WHEN s{d} < 0 THEN -1 ELSE 1 END)"
            f" * ((2 * abs(s{d}) + d.deg) // (2 * d.deg)) AS x{d}")) + f"""
        FROM s{r} s JOIN deg d ON d.n = s.n)"""
    total = " + ".join(f"x{r}.x{{d}}" for r in range(1, rounds + 1))
    sel = ",\n           ".join(
        "(" + total.format(d=d) + f") / 1e8 AS f{d}" for d in range(dims))
    joins = " ".join(f"JOIN x{r} ON x{r}.node = x1.node"
                     for r in range(2, rounds + 1))
    sql += f"""
    SELECT x1.node,
           {sel}
    FROM x1 {joins}"""
    return sql


@query(_fastrp_sql(8, 2))
def graph_fastrp(spark, sf):
    """FastRP structural embeddings over the KG multigraph — 8 dims,
    2 propagation rounds, md5 sparse-sign init, all arithmetic on the
    exact 1e-8 integer grid (hard oracle: init + both neighbor-mean
    rounds unrolled in DuckDB, bit-exact coordinates)."""
    from ..plans.graph import fastrp_embeddings

    return fastrp_embeddings(_kg_graph_edges(spark, sf), dims=8,
                             rounds=2)


def _louvain_sql(rounds: int = 3) -> str:
    """louvain_moves' SQL twin: the synchronous integer-gain move
    rounds unrolled — candidates = neighbor communities + own (k=0
    floor), score = 2m*k - deg*(tot - own-degree correction), argmax
    by (score DESC, comm ASC)."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    adj AS MATERIALIZED (
        SELECT a AS n, b AS m FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS MATERIALIZED (SELECT n, count(*) AS deg FROM adj GROUP BY n),
    tm AS (SELECT sum(deg) AS two_m FROM deg),
    l0 AS MATERIALIZED (SELECT n AS node, n AS comm, deg FROM deg)"""
    for r in range(1, rounds + 1):
        sql += f""",
    k{r} AS (
        SELECT a.n, l.comm, count(*) AS k
        FROM adj a JOIN l{r - 1} l ON l.node = a.m
        GROUP BY a.n, l.comm),
    cand{r} AS (
        SELECT n, comm, max(k) AS k FROM (
            SELECT n, comm, k FROM k{r}
            UNION ALL
            SELECT node, comm, 0 FROM l{r - 1})
        GROUP BY n, comm),
    sig{r} AS (SELECT comm, sum(deg) AS tot FROM l{r - 1} GROUP BY comm),
    l{r} AS MATERIALIZED (
        SELECT p.node,
               CASE WHEN p.node % 2 = {(r - 1) % 2}
                    THEN p.new_comm ELSE cur2.comm END AS comm,
               cur2.deg
        FROM (
            SELECT node, new_comm FROM (
                SELECT c.n AS node, c.comm AS new_comm,
                       row_number() OVER (PARTITION BY c.n ORDER BY
                           (tm.two_m * c.k - cur.deg *
                            (s.tot - CASE WHEN c.comm = cur.comm
                                          THEN cur.deg ELSE 0 END)) DESC,
                           c.comm ASC) AS rn
                FROM cand{r} c
                JOIN sig{r} s USING (comm)
                JOIN l{r - 1} cur ON cur.node = c.n, tm)
            WHERE rn = 1) p
        JOIN l{r - 1} cur2 ON cur2.node = p.node)"""
    sql += f"\n    SELECT node, comm AS community FROM l{rounds}"
    return sql


@query(_louvain_sql(3))
def graph_louvain(spark, sf):
    """One-level Louvain modularity moves over the KG multigraph —
    3 synchronous integer-gain passes (hard oracle: the determinized
    rounds unrolled in DuckDB; possible because the gain comparison
    is cross-multiplied onto exact integers and ties break to the
    smallest community id)."""
    from ..plans.graph import louvain_moves

    return louvain_moves(_kg_graph_edges(spark, sf), rounds=3)


def _conductance_sql(rounds: int = 3) -> str:
    """graph_conductance's twin: the louvain rounds (same generator
    body as _louvain_sql) + the integer cut/volume/phi rollup."""
    body = _louvain_sql(rounds)
    body = body[:body.rindex("\n    SELECT node, comm AS community")]
    return body + f""",
    lab AS MATERIALIZED (SELECT node AS n, comm AS c FROM l{rounds}),
    dg AS MATERIALIZED (SELECT n, count(*) AS deg FROM adj GROUP BY n),
    vol AS (
        SELECT l.c, count(*) AS n_nodes, sum(d.deg) AS volume
        FROM dg d JOIN lab l USING (n) GROUP BY l.c),
    cut AS (
        SELECT la.c, count(*) AS cut_edges
        FROM adj a JOIN lab la ON la.n = a.n
                   JOIN lab lb ON lb.n = a.m
        WHERE la.c <> lb.c GROUP BY la.c),
    tm2 AS (SELECT sum(deg) AS two_m FROM dg)
    SELECT v.c AS community, v.n_nodes, v.volume,
           coalesce(cut.cut_edges, 0) AS cut_edges,
           (CASE WHEN least(v.volume, tm2.two_m - v.volume) = 0 THEN 0
                 ELSE (2 * coalesce(cut.cut_edges, 0) * 100000000
                       + least(v.volume, tm2.two_m - v.volume))
                      // (2 * least(v.volume, tm2.two_m - v.volume))
            END) / 1e8 AS phi
    FROM vol v LEFT JOIN cut USING (c), tm2"""


@query(_conductance_sql(3))
def graph_conductance(spark, sf):
    """Community-quality scorecard: conductance phi(C) = cut /
    min(vol, 2m - vol) for every level-1 Louvain community of the KG
    multigraph — the evaluation half of the community family (hard
    oracle: the Louvain rounds + the integer cut/volume rollup, phi
    landing once on the 1e-8 HALF_UP grid)."""
    from ..plans.graph import conductance, louvain_moves

    e = _kg_graph_edges(spark, sf)
    return conductance(e, louvain_moves(e, rounds=3))


def _louvain_levels_sql(rounds: int = 3, levels: int = 2) -> str:
    """louvain_levels' SQL twin: per level, the weighted
    semi-synchronous move rounds (strength = sum(w) + 2*self-loop),
    then integer contraction (inter-community weight sums, intra
    becomes a self-loop), and the final mapping composes levels with
    the isolated-supernode LEFT-join rule. The final SELECT composes
    exactly two levels."""
    assert levels == 2, "final mapping below is written for levels=2"
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    adj1 AS MATERIALIZED (
        SELECT a AS n, b AS m, 1::BIGINT AS w FROM und
        UNION ALL SELECT b, a, 1::BIGINT FROM und
    ),
    sl1 AS (SELECT 0::BIGINT AS n, 0::BIGINT AS sl WHERE 1 = 0)"""
    for lv in range(1, levels + 1):
        sql += f""",
    s{lv} AS MATERIALIZED (
        SELECT d.n, d.ws + 2 * coalesce(s.sl, 0) AS s
        FROM (SELECT n, sum(w) AS ws FROM adj{lv} GROUP BY n) d
        LEFT JOIN sl{lv} s USING (n)),
    tm{lv} AS (SELECT sum(s) AS two_m FROM s{lv}),
    L{lv}r0 AS MATERIALIZED (SELECT n AS node, n AS comm, s FROM s{lv})"""
        for r in range(1, rounds + 1):
            p = f"L{lv}r{r - 1}"
            sql += f""",
    k{lv}_{r} AS (
        SELECT a.n, l.comm, sum(a.w) AS k
        FROM adj{lv} a JOIN {p} l ON l.node = a.m
        GROUP BY a.n, l.comm),
    cand{lv}_{r} AS (
        SELECT n, comm, max(k) AS k FROM (
            SELECT n, comm, k FROM k{lv}_{r}
            UNION ALL SELECT node, comm, 0 FROM {p})
        GROUP BY n, comm),
    sig{lv}_{r} AS (SELECT comm, sum(s) AS tot FROM {p} GROUP BY comm),
    L{lv}r{r} AS MATERIALIZED (
        SELECT p.node,
               CASE WHEN p.node % 2 = {(r - 1) % 2}
                    THEN p.new_comm ELSE cur2.comm END AS comm,
               cur2.s
        FROM (
            SELECT node, new_comm FROM (
                SELECT c.n AS node, c.comm AS new_comm,
                       row_number() OVER (PARTITION BY c.n ORDER BY
                           (tm{lv}.two_m * c.k - cur.s *
                            (sg.tot - CASE WHEN c.comm = cur.comm
                                           THEN cur.s ELSE 0 END)) DESC,
                           c.comm ASC) AS rn
                FROM cand{lv}_{r} c
                JOIN sig{lv}_{r} sg USING (comm)
                JOIN {p} cur ON cur.node = c.n, tm{lv})
            WHERE rn = 1) p
        JOIN {p} cur2 ON cur2.node = p.node)"""
        if lv < levels:
            last = f"L{lv}r{rounds}"
            sql += f""",
    rel{lv} AS MATERIALIZED (
        SELECT a.n, a.m, a.w, la.comm AS ca, lb.comm AS cb
        FROM adj{lv} a
        JOIN {last} la ON la.node = a.n
        JOIN {last} lb ON lb.node = a.m),
    adj{lv + 1} AS MATERIALIZED (
        SELECT ca AS n, cb AS m, sum(w) AS w FROM rel{lv}
        WHERE ca <> cb GROUP BY 1, 2),
    sl{lv + 1} AS MATERIALIZED (
        SELECT n, sum(sl) AS sl FROM (
            SELECT ca AS n, sum(w) // 2 AS sl FROM rel{lv}
            WHERE ca = cb GROUP BY ca
            UNION ALL
            SELECT l.comm, s.sl FROM sl{lv} s
            JOIN {last} l ON l.node = s.n)
        GROUP BY n)"""
    sql += f"""
    SELECT m.node, coalesce(l2.comm, m.comm) AS community
    FROM L1r{rounds} m
    LEFT JOIN L{levels}r{rounds} l2 ON l2.node = m.comm"""
    return sql


@query(_louvain_levels_sql(3, 2))
def graph_louvain_l2(spark, sf):
    """Two-level Louvain hierarchy over the KG multigraph: the
    level-1 move pass, integer graph contraction (communities ->
    supernodes, intra-community weight -> self-loops counted twice in
    strength so 2m is level-invariant), and a weighted level-2 pass;
    every original node reports its top-level community (hard oracle:
    both levels + the contraction unrolled in DuckDB)."""
    from ..plans.graph import louvain_levels

    return louvain_levels(_kg_graph_edges(spark, sf), rounds=3,
                          levels=2)


def _wl_sql(rounds: int = 3, classes: bool = False,
            edges_cte: str | None = None) -> str:
    """wl_refinement's SQL twin: c0 = md5(degree); each round hashes
    the node's previous color with the sorted comma-joined multiset of
    neighbor colors — every color a deterministic md5 string, so the
    unrolled rounds are bit-exact cross-engine."""
    sql = f"""
    WITH {edges_cte or _KG_GRAPH_EDGES_CTE},
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    ),
    adj AS MATERIALIZED (
        SELECT a AS n, b AS m FROM und
        UNION ALL SELECT b, a FROM und
    ),
    c0 AS (SELECT n AS node, md5(CAST(count(*) AS VARCHAR)) AS wl_color
           FROM adj GROUP BY n)"""
    for r in range(1, rounds + 1):
        sql += f""",
    m{r} AS MATERIALIZED (
        SELECT a.n, string_agg(c.wl_color, ',' ORDER BY c.wl_color) AS ms
        FROM adj a JOIN c{r - 1} c ON c.node = a.m
        GROUP BY a.n),
    c{r} AS MATERIALIZED (
        SELECT c.node, md5(c.wl_color || '|' || m.ms) AS wl_color
        FROM c{r - 1} c JOIN m{r} m ON m.n = c.node)"""
    if classes:
        sql += f"""
    SELECT wl_color, count(*)::BIGINT AS n_nodes
    FROM c{rounds} GROUP BY wl_color"""
    else:
        sql += f"\n    SELECT node, wl_color FROM c{rounds}"
    return sql


@query(_wl_sql(3))
def graph_wl_colors(spark, sf):
    """1-WL (Weisfeiler-Leman) color refinement over the KG
    multigraph, 3 rounds — per-node structural-equivalence colors
    (hard oracle: every color is a deterministic md5 of the sorted
    neighbor-color multiset, so the rounds unroll to a bit-exact
    DuckDB twin — a hard oracle for a graph-kernel primitive)."""
    from ..plans.graph import wl_refinement

    return wl_refinement(_kg_graph_edges(spark, sf), rounds=3)


def _wl_motif_edges(spark, sf):
    """Deterministic motif forest over doc_ids < 498 (fixed at every
    sf — the documents table carries >= 500 ids everywhere): 83
    disjoint 6-node motifs (base = 6*(doc_id//6)), motif type =
    (doc_id//6)%3 — ring (C6), star (K1,5), path (P6). Copies of the
    same motif are structurally identical, so 1-WL must collapse the
    forest to the motifs' role classes: 1 ring color + 2 star colors
    + 3 path colors. Re-derivable in DuckDB from doc_id arithmetic
    alone."""
    d = F.col("doc_id")
    docs = (_t(spark, sf, "documents").select("doc_id").filter(d < 498)
            .select("doc_id", (d % 6).alias("p"),
                    ((d - d % 6) % 18).alias("t6")))
    base = F.col("doc_id") - F.col("p")

    def e(cond, dst):
        return (docs.filter(cond)
                .select(F.col("doc_id").alias("src"), dst.alias("dst")))

    return (
        # t6 = 0: ring — i -> base + (p+1)%6
        e(F.col("t6") == 0, base + (F.col("p") + 1) % 6)
        # t6 = 6: star — center (p=0) -> each leaf
        .unionByName(e((F.col("t6") == 6) & (F.col("p") > 0), base))
        # t6 = 12: path — i -> i+1 for p < 5
        .unionByName(e((F.col("t6") == 12) & (F.col("p") < 5),
                       F.col("doc_id") + 1)))


_WL_MOTIF_EDGES_CTE = """
    e0 AS (
        SELECT doc_id AS src,
               doc_id - (doc_id % 6) + (doc_id % 6 + 1) % 6 AS dst
        FROM documents
        WHERE doc_id < 498 AND (doc_id - doc_id % 6) % 18 = 0
        UNION ALL
        SELECT doc_id, doc_id - (doc_id % 6)
        FROM documents
        WHERE doc_id < 498 AND (doc_id - doc_id % 6) % 18 = 6
              AND doc_id % 6 > 0
        UNION ALL
        SELECT doc_id, doc_id + 1
        FROM documents
        WHERE doc_id < 498 AND (doc_id - doc_id % 6) % 18 = 12
              AND doc_id % 6 < 5
    )
"""


@query(_wl_sql(3, classes=True,
                                 edges_cte=_WL_MOTIF_EDGES_CTE))
def graph_wl_classes(spark, sf):
    """Structural-equivalence class histogram from the 3-round 1-WL
    refinement over the motif forest (83 copies of ring/star/path
    6-node motifs): (wl_color, n_nodes) — the WL-kernel feature
    vector. Copies of a motif are isomorphic, so the 498 nodes MUST
    collapse to exactly 6 role classes (ring 168, star centers 28 +
    leaves 140, path ends/mids/centers 54 each) — the invariant the
    KG multigraph (graph_wl_colors: 500 distinct colors, no
    symmetry) cannot show (hard oracle: same rollup over the
    unrolled rounds in DuckDB)."""
    from ..plans.graph import wl_refinement

    return (wl_refinement(_wl_motif_edges(spark, sf), rounds=3)
            .groupBy("wl_color")
            .agg(F.count("*").alias("n_nodes")))


def _trussness_sql(kmax: int = 4, rounds: int = 4) -> str:
    """trussness's SQL twin: for each k in 3..kmax run the unrolled
    ktruss peel (namespaced CTEs), then label every edge of the
    simple graph with the max k whose survivor set contains it,
    default 2 — provably the same labeling as the ascending peel
    (trussness(e) = max k with e in the k-truss; every edge is in
    the 2-truss)."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    s0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst
    )"""
    for k in range(3, kmax + 1):
        sql += f""",
    u{k}s0 AS MATERIALIZED (SELECT a, b FROM s0)"""
        for r in range(1, rounds + 1):
            sql += f""",
    u{k}t{r} AS MATERIALIZED (
        SELECT e1.a, e1.b, e2.b AS c
        FROM u{k}s{r - 1} e1
        JOIN u{k}s{r - 1} e2 ON e2.a = e1.b
        JOIN u{k}s{r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b),
    u{k}p{r} AS MATERIALIZED (
        SELECT a, b, count(*) AS s FROM (
            SELECT a, b FROM u{k}t{r}
            UNION ALL SELECT a, c AS b FROM u{k}t{r}
            UNION ALL SELECT b AS a, c AS b FROM u{k}t{r}) GROUP BY a, b),
    u{k}s{r} AS MATERIALIZED (
        SELECT e.a, e.b FROM u{k}s{r - 1} e
        JOIN u{k}p{r} p ON p.a = e.a AND p.b = e.b
        WHERE p.s >= {k - 2})"""
    member = "\n        UNION ALL ".join(
        f"SELECT a, b, {k} AS k FROM u{k}s{rounds}"
        for k in range(3, kmax + 1))
    sql += f"""
    SELECT s0.a, s0.b, coalesce(max(m.k), 2)::INT AS trussness
    FROM s0 LEFT JOIN (
        {member}) m ON m.a = s0.a AND m.b = s0.b
    GROUP BY s0.a, s0.b"""
    return sql


@query(_trussness_sql(4, rounds=4))
def graph_trussness(spark, sf):
    """Full truss decomposition over the KG multigraph: per-edge max
    trussness via ascending-threshold peeling (hard oracle: max-k
    membership over per-k unrolled ktruss peels in DuckDB, default 2
    — the edge-level analog of graph_coreness)."""
    from ..plans.graph import trussness

    return trussness(_kg_graph_edges(spark, sf))


def _bowtie_edges(spark, sf):
    """Deterministic bow-tie-shaped directed graph over doc_ids < 500
    (fixed at every sf): a 50-node ring+chord CORE (the unique
    non-trivial SCC), two 50-node IN layers (150+j -> 100+j -> j),
    two 50-node OUT layers (j -> 200+j -> 250+j), a 10-node TUBE
    (150+j -> 300+j -> 250+j, bypassing CORE), 10 forward TENDRILs
    off IN (150+j -> 350+j), 10 backward TENDRILs into OUT
    (400+j -> 250+j) and 10 disconnected pairs (450+j -> 460+j).
    Every class size is known by construction; re-derivable in DuckDB
    from doc_id arithmetic alone."""
    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 500)

    def e(lo, hi, dst, extra=None):
        cond = (d >= lo) & (d < hi)
        if extra is not None:
            cond = cond & extra
        return docs.filter(cond).select(d.alias("src"), dst.alias("dst"))

    return (
        e(0, 50, (d + 1) % 50)                      # core ring
        .unionByName(e(0, 50, (d + 13) % 50, d % 5 == 0))  # core chords
        .unionByName(e(100, 150, d - 100))          # IN1 -> core
        .unionByName(e(150, 200, d - 50))           # IN2 -> IN1
        .unionByName(e(0, 50, d + 200))             # core -> OUT1
        .unionByName(e(200, 250, d + 50))           # OUT1 -> OUT2
        .unionByName(e(150, 160, d + 150))          # IN2 -> TUBE
        .unionByName(e(300, 310, d - 50))           # TUBE -> OUT2
        .unionByName(e(150, 160, d + 200))          # IN2 -> TENDRIL(fwd)
        .unionByName(e(400, 410, d - 150))          # TENDRIL(bwd) -> OUT2
        .unionByName(e(450, 460, d + 10)))          # disconnected pairs


@query(f"""
        WITH {_KG_GRAPH_EDGES_CTE},
        d AS (
            SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                   max(CASE WHEN src < dst THEN 1 ELSE 0 END) AS f,
                   max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS r
            FROM e0 WHERE src <> dst GROUP BY 1, 2
        ),
        nn AS (
            SELECT count(*) AS n_nodes FROM (
                SELECT DISTINCT n FROM (
                    SELECT src AS n FROM e0 UNION ALL SELECT dst FROM e0))
        ),
        agg AS (
            SELECT sum(f * r)::BIGINT AS mutual,
                   sum(CASE WHEN f + r = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS asym
            FROM d
        )
        SELECT nn.n_nodes::BIGINT AS n_nodes, agg.mutual, agg.asym,
               (nn.n_nodes * (nn.n_nodes - 1) // 2
                - agg.mutual - agg.asym)::BIGINT AS nulls,
               round(agg.mutual::DOUBLE
                     / (agg.mutual + agg.asym)::DOUBLE, 6)
                   AS reciprocity
        FROM agg CROSS JOIN nn
    """)
def graph_dyad_census(spark, sf):
    """Holland-Leinhardt dyad census + reciprocity over the KG
    multigraph (hard oracle: mutual/asym from one pair-keyed
    direction-bit aggregate, nulls in closed form — exact BIGINTs,
    one 6-dp division)."""
    from ..plans.graph import dyad_census

    return dyad_census(_kg_graph_edges(spark, sf))


def _katz_sql(iterations: int = 4, decay_pow: int = 1) -> str:
    """katz's Horner recurrence unrolled: integer walk counts w{k}
    (multiplicity semantics — e0 directly), acc{k} = acc{k-1} * S +
    w{k} in HUGEINT, one final double division by S^K, rounded like
    katz to plans/graph._OUT_SCALE."""
    from ..plans.graph import _OUT_SCALE

    s = 10 ** decay_pow
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    nodes AS (SELECT src AS node_id FROM e0 UNION SELECT dst FROM e0),
    w0 AS (SELECT node_id, 1::HUGEINT AS w FROM nodes)"""
    for k in range(1, iterations + 1):
        sql += f""",
    w{k} AS MATERIALIZED (
        SELECT e0.dst AS node_id, sum(w.w)::HUGEINT AS w
        FROM e0 JOIN w{k - 1} w ON w.node_id = e0.src
        GROUP BY e0.dst),
    acc{k} AS MATERIALIZED ("""
        if k == 1:
            sql += "SELECT node_id, w AS acc FROM w1)"
        else:
            sql += f"""
        SELECT coalesce(a.node_id, w.node_id) AS node_id,
               coalesce(a.acc, 0) * {s} + coalesce(w.w, 0) AS acc
        FROM acc{k - 1} a FULL JOIN w{k} w ON w.node_id = a.node_id)"""
    sql += f"""
    SELECT n.node_id,
           round(coalesce(a.acc, 0)::DOUBLE / {float(s ** iterations)!r},
                 {_OUT_SCALE}) AS katz
    FROM nodes n LEFT JOIN acc{iterations} a ON a.node_id = n.node_id"""
    return sql


@query(_katz_sql(4, 1))
def graph_katz(spark, sf):
    """Truncated Katz centrality over the KG multigraph, 4 hops at
    beta = 0.1 (hard oracle: integer walk counts folded through the
    same Horner recurrence in DuckDB HUGEINTs, one final double
    division — bit-exact with no float protocol in the loop)."""
    from ..plans.graph import katz

    return katz(_kg_graph_edges(spark, sf), iterations=4, decay_pow=1)


def _ic_cascade_sql(rounds: int = 4, p_num: int = 1,
                    p_den: int = 2) -> str:
    """ic_cascade's rounds unrolled: a0 = seeds (node % 97 == 0) at
    round 0; n{r} = frontier out-neighbors whose md5 coin fires,
    minus already-active; a{r} accumulates (node, round)."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    e AS (SELECT DISTINCT src, dst FROM e0),
    a0 AS (
        SELECT DISTINCT src AS node_id, 0 AS round FROM e
        WHERE src % 97 = 0),
    f0 AS (SELECT node_id FROM a0)"""
    for r in range(1, rounds + 1):
        sql += f""",
    n{r} AS MATERIALIZED (
        SELECT DISTINCT e.dst AS node_id, {r} AS round
        FROM f{r - 1} f JOIN e ON e.src = f.node_id
        WHERE ('0x' || substr(md5('ic:{r}:' || e.src || ':' || e.dst),
                              1, 12))::UBIGINT % {p_den} < {p_num}
          AND e.dst NOT IN (SELECT node_id FROM a{r - 1})),
    a{r} AS MATERIALIZED (
        SELECT * FROM a{r - 1} UNION ALL SELECT * FROM n{r}),
    f{r} AS (SELECT node_id FROM n{r})"""
    sql += f"""
    SELECT node_id, round::INT AS round FROM a{rounds}"""
    return sql


@query(_ic_cascade_sql(4, 1, 2))
def graph_ic_cascade(spark, sf):
    """One deterministic Independent-Cascade sample over the KG
    multigraph: seeds = node ids divisible by 97, p = 1/2 via md5
    coins keyed (round, src, dst) — every edge tried exactly once
    when its source first activates (hard oracle: the rounds unrolled
    in DuckDB with the identical coin, bit-exact activation rounds —
    a hard oracle for a randomized diffusion process)."""
    from ..plans.graph import ic_cascade

    edges = _kg_graph_edges(spark, sf)
    seeds = (edges.select(F.col("src").alias("node_id"))
             .filter(F.col("node_id") % 97 == 0).distinct())
    return ic_cascade(edges, seeds, rounds=4, p_num=1, p_den=2)


@query("""
        WITH RECURSIVE bt AS (
            SELECT doc_id AS src, (doc_id + 1) % 50 AS dst
            FROM documents WHERE doc_id < 50
            UNION ALL
            SELECT doc_id, (doc_id + 13) % 50
            FROM documents WHERE doc_id < 50 AND doc_id % 5 = 0
            UNION ALL
            SELECT doc_id, doc_id - 100 FROM documents
            WHERE doc_id >= 100 AND doc_id < 150
            UNION ALL
            SELECT doc_id, doc_id - 50 FROM documents
            WHERE doc_id >= 150 AND doc_id < 200
            UNION ALL
            SELECT doc_id, doc_id + 200 FROM documents WHERE doc_id < 50
            UNION ALL
            SELECT doc_id, doc_id + 50 FROM documents
            WHERE doc_id >= 200 AND doc_id < 250
            UNION ALL
            SELECT doc_id, doc_id + 150 FROM documents
            WHERE doc_id >= 150 AND doc_id < 160
            UNION ALL
            SELECT doc_id, doc_id - 50 FROM documents
            WHERE doc_id >= 300 AND doc_id < 310
            UNION ALL
            SELECT doc_id, doc_id + 200 FROM documents
            WHERE doc_id >= 150 AND doc_id < 160
            UNION ALL
            SELECT doc_id, doc_id - 150 FROM documents
            WHERE doc_id >= 400 AND doc_id < 410
            UNION ALL
            SELECT doc_id, doc_id + 10 FROM documents
            WHERE doc_id >= 450 AND doc_id < 460
        ),
        nodes AS (
            SELECT DISTINCT n FROM (
                SELECT src AS n FROM bt UNION ALL SELECT dst FROM bt)
        ),
        f0(n) AS (
            SELECT 0
            UNION
            SELECT bt.dst FROM f0 JOIN bt ON bt.src = f0.n
        ),
        b0(n) AS (
            SELECT 0
            UNION
            SELECT bt.src FROM b0 JOIN bt ON bt.dst = b0.n
        ),
        -- setops are not allowed inside a WITH RECURSIVE chain in
        -- DuckDB, so intersect/except via joins; core is strongly
        -- connected and contains 0, so fwd(core) = f0, bwd(core) = b0
        core AS (SELECT f0.n FROM f0 JOIN b0 ON b0.n = f0.n),
        inn AS (SELECT b0.n FROM b0 LEFT JOIN core ON core.n = b0.n
                WHERE core.n IS NULL),
        outt AS (SELECT f0.n FROM f0 LEFT JOIN core ON core.n = f0.n
                 WHERE core.n IS NULL),
        fin(n) AS (
            SELECT n FROM inn
            UNION
            SELECT bt.dst FROM fin JOIN bt ON bt.src = fin.n
        ),
        bout(n) AS (
            SELECT n FROM outt
            UNION
            SELECT bt.src FROM bout JOIN bt ON bt.dst = bout.n
        )
        SELECT nodes.n AS node_id,
               CASE
                   WHEN nodes.n IN (SELECT n FROM core) THEN 'CORE'
                   WHEN nodes.n IN (SELECT n FROM inn) THEN 'IN'
                   WHEN nodes.n IN (SELECT n FROM outt) THEN 'OUT'
                   WHEN nodes.n IN (SELECT n FROM fin)
                        AND nodes.n IN (SELECT n FROM bout) THEN 'TUBE'
                   WHEN nodes.n IN (SELECT n FROM fin)
                        OR nodes.n IN (SELECT n FROM bout) THEN 'TENDRIL'
                   ELSE 'DISC'
               END AS component
        FROM nodes
    """)
def graph_bowtie(spark, sf):
    """Broder bow-tie census over the constructed bow-tie graph —
    CORE/IN/OUT/TUBE/TENDRIL/DISC per node (hard oracle: DuckDB
    derives the CORE as the mutual-reachability set of node 0 via
    recursive CTEs — the construction's unique largest SCC — then
    replays the four reachability sweeps and the same priority
    classification; class sizes 50/100/100/10/20/20)."""
    from ..plans.graph import bowtie

    return bowtie(_bowtie_edges(spark, sf))


@query(f"""
        WITH {_KG_GRAPH_EDGES_CTE},
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst
        ),
        deg AS (
            SELECT n, count(*) AS d
            FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
            GROUP BY n
        ),
        emin AS (
            SELECT least(da.d, db.d) AS md
            FROM und JOIN deg da ON da.n = und.a
                     JOIN deg db ON db.n = und.b
        ),
        dh AS (SELECT d, count(*) AS nd FROM deg GROUP BY d),
        eh AS (SELECT md AS d, count(*) AS ne FROM emin GROUP BY md),
        hist AS (
            SELECT coalesce(dh.d, eh.d) AS d,
                   coalesce(nd, 0) AS nd, coalesce(ne, 0) AS ne
            FROM dh FULL JOIN eh ON eh.d = dh.d
        ),
        curve AS (
            SELECT d AS k,
                   coalesce(sum(nd) OVER (
                       ORDER BY d DESC ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)::BIGINT AS n_k,
                   coalesce(sum(ne) OVER (
                       ORDER BY d DESC ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)::BIGINT AS e_k
            FROM hist
        )
        SELECT k, n_k, e_k,
               round(2.0 * e_k::DOUBLE
                     / (n_k::DOUBLE * (n_k::DOUBLE - 1)), 8) AS phi
        FROM curve WHERE n_k >= 2
    """)
def graph_rich_club(spark, sf):
    """Rich-club coefficient curve phi(k) over the KG multigraph —
    do the high-degree hubs link to each other more than chance
    (hard oracle: N_k / E_k are exact suffix-sum integers, phi one
    correctly-rounded 8-dp division — bit-exact in DuckDB)."""
    from ..plans.graph import rich_club

    return rich_club(_kg_graph_edges(spark, sf))


@query(f"""
        WITH {_KG_GRAPH_EDGES_CTE},
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst
        ),
        deg AS (
            SELECT n, count(*) AS d
            FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
            GROUP BY n
        ),
        tail AS (
            SELECT d, round(ln(d::DOUBLE / 1.5), 8) AS lt
            FROM deg WHERE d >= 2
        )
        SELECT 2::BIGINT AS d_min, count(*)::BIGINT AS n_tail,
               max(d)::BIGINT AS d_max,
               round(1.0 + count(*)::DOUBLE
                     / cast(sum(cast(lt AS DECIMAL(28,8))) AS DOUBLE),
                     6) AS alpha
        FROM tail
    """)
def graph_powerlaw(spark, sf):
    """Hill / CSN-MLE power-law exponent of the degree distribution
    (tail d >= 2) — the scale-free scorecard that decides whether a
    graph needs skew handling (hard oracle: 8-dp ln grid + decimal
    sum + one 6-dp division, replayed bit-exactly in DuckDB)."""
    from ..plans.graph import degree_powerlaw

    return degree_powerlaw(_kg_graph_edges(spark, sf), d_min=2)


@query(_graph_walks_sql())
def graph_walks(spark, sf):
    """Deterministic hash-seeded random walks over the KG multigraph:
    50 start nodes x 2 walks each, 8 steps (hard oracle: the steps
    unrolled in DuckDB with the identical md5 argmin — the walk corpus
    is bit-identical cross-engine, the reproducibility property a
    node-embedding training set needs)."""
    from ..plans.graph import random_walks

    d = F.col("doc_id")
    starts = (_t(spark, sf, "documents").select("doc_id")
              .filter((d < 500) & (d % 10 == 0))
              .select(d.alias("node_id")))
    return random_walks(_kg_graph_edges(spark, sf), starts,
                        length=8, walks_per_node=2)


@query("""
        WITH b AS (
            SELECT doc_id,
                   (('0x' || substr(sha256('split:' || doc_id), 1, 15))
                        ::UBIGINT % 100)::INT AS bucket
            FROM documents)
        SELECT doc_id,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               bucket
        FROM b
    """)
def sample_split(spark, sf):
    """Deterministic train/val/test split: membership is a pure
    function of doc_id (sha256-based so the oracle can replicate) —
    order-independent, resume-safe, stable under corpus growth."""
    from .sampling import stratified_split

    return stratified_split(
        _t(spark, sf, "documents").select("doc_id"),
        {"train": 80, "val": 10, "test": 10})


@query("""
        WITH t AS (
            SELECT doc_id,
                   (('0x' || substr(sha256('shard:' || doc_id), 1, 15))
                        ::UBIGINT % 8)::INT AS shard,
                   len(string_split_regex(trim(text), '\\s+'))::BIGINT
                       AS n_tokens
            FROM documents)
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cum_tokens,
               ((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING)
                 - n_tokens) // 2048)::BIGINT AS bin_id
        FROM t
    """)
def pack_tokens(spark, sf):
    """Token-budget sequence packing, sharded form: hash-shard then an
    ordered running-sum window per shard (no single-partition funnel)."""
    from .sampling import pack_sequences_sharded

    return pack_sequences_sharded(_t(spark, sf, "documents"),
                                  budget=2048, n_shards=8)


@query(_bpe_ctes() + """
    , t AS (
        SELECT d.doc_id,
               (('0x' || substr(sha256('shard:' || d.doc_id), 1, 15))
                    ::UBIGINT % 8)::INT AS shard,
               coalesce(p.n_bpe, 0)::BIGINT AS n_tokens
        FROM documents d LEFT JOIN per_doc p USING (doc_id))
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING)::BIGINT
               AS cum_tokens,
           ((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING)
             - n_tokens) // 2048)::BIGINT AS bin_id
    FROM t
    """)
def pack_tokens_bpe(spark, sf):
    """Sequence packing under the deterministic toy-BPE budget (subword
    counts instead of whitespace — the budget a trainer actually
    packs); hard oracle = the BPE recursive-CTE replay feeding the same
    shard running-sum window."""
    from .sampling import pack_sequences_sharded

    return pack_sequences_sharded(_t(spark, sf, "documents"),
                                  budget=2048, n_shards=8,
                                  token_mode="bpe")


@query("""
        WITH base AS (
            SELECT doc_id, lang, text,
                   length(text) AS n_chars,
                   regexp_extract_all(text, '[A-Za-z0-9]+') AS words,
                   length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                       AS n_punct
            FROM documents
        ), feat AS (
            SELECT doc_id, lang, text, n_chars, len(words) AS n_words,
                   CASE WHEN n_chars > 0
                        THEN cast(n_punct AS double) / n_chars ELSE 0.0 END
                       AS punct_ratio_raw,
                   CASE WHEN len(words) > 0
                        THEN cast(len(list_distinct(list_filter(words,
                             w -> list_contains(['the','and','of','to','in','is',
                                                 'that','for','with','on'], w))))
                             AS double) / len(words)
                        ELSE 0.0 END AS stop_ratio_raw
            FROM base
        ), scored AS (
            SELECT doc_id, lang, text,
                   round(least(n_words / 100.0, 1.0) * 0.5
                         + (1.0 - punct_ratio_raw) * 0.3
                         + least(stop_ratio_raw * 5, 1.0) * 0.2, 6)
                       AS quality_score
            FROM feat
        ), surv AS (
            SELECT sha256(text) AS text_sha, min(doc_id) AS survivor_id
            FROM documents GROUP BY 1
        ), kept AS (
            SELECT s.doc_id, s.lang, s.quality_score
            FROM scored s
            JOIN surv ON sha256(s.text) = surv.text_sha
                     AND s.doc_id = surv.survivor_id
            WHERE s.lang IN ('en', 'es') AND s.quality_score >= 0.5
        )
        SELECT doc_id, lang, quality_score,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT *,
                     (('0x' || substr(sha256('split:' || doc_id), 1, 15))
                          ::UBIGINT % 100)::INT AS b
              FROM kept)
    """)
def corpus_curation(spark, sf):
    """The full curation composition: lang filter + quality floor +
    exact-dedup survivors + deterministic split, one Catalyst plan."""
    from .curation import curate_corpus

    return curate_corpus(_t(spark, sf, "documents"))


@query("""
        WITH norms AS (
            SELECT label,
                   round(sqrt(list_sum(list_transform(embedding,
                       x -> cast(x AS double) * cast(x AS double)))), 6) AS norm
            FROM embeddings)
        SELECT label, count(*) AS n_vecs,
               round(cast(sum(cast(norm AS decimal(28,6))) AS double)
                     / count(*), 4) AS avg_norm
        FROM norms GROUP BY label
    """)
def emb_stats(spark, sf):
    emb = _t(spark, sf, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, v: a + v)
    norm = F.round(F.sqrt(sq), 6)
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vecs"),
             F.round(F.sum(F.col("norm").cast("decimal(28,6)")).cast("double") /
                     F.count("*"), 4).alias("avg_norm"))
    )


@query("""
        WITH toks AS (
            SELECT lang, unnest(regexp_extract_all(lower(text),
                                                   '[a-z0-9]+')) AS token
            FROM documents
        ),
        cnt AS (SELECT lang, token, count(*) AS c
                FROM toks GROUP BY 1, 2),
        vocab AS (SELECT lang, count(*) AS vocab_size,
                         sum(c) AS total_tokens
                  FROM cnt GROUP BY 1),
        ranked AS (
            SELECT lang, c, row_number() OVER (PARTITION BY lang
                ORDER BY c DESC, token) AS r
            FROM cnt QUALIFY r <= 64
        ),
        pts AS (
            SELECT lang,
                   round(ln(r::DOUBLE), 8)::DECIMAL(15,8) AS x,
                   round(ln(c::DOUBLE), 8)::DECIMAL(15,8) AS y
            FROM ranked
        ),
        mom AS (
            SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(x * y) AS sxy
            FROM pts GROUP BY 1
        )
        SELECT m.lang, v.vocab_size::BIGINT AS vocab_size,
               v.total_tokens::BIGINT AS total_tokens,
               n::BIGINT AS ranks_used,
               round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                     / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE),
                     6) AS zipf_slope,
               round((sy::DOUBLE
                      - round((n::DOUBLE * sxy::DOUBLE
                               - sx::DOUBLE * sy::DOUBLE)
                              / (n::DOUBLE * sxx::DOUBLE
                                 - sx::DOUBLE * sx::DOUBLE), 6)
                        * sx::DOUBLE) / n::DOUBLE, 6) AS zipf_intercept
        FROM mom m JOIN vocab v USING (lang)
    """)
def text_zipf_fit(spark, sf):
    """Zipf rank-frequency OLS fit per language (hard oracle: 8-dp
    ln grid points, exact decimal moment sums, correctly-rounded
    double divisions — the same stabilization discipline as
    graph_powerlaw's MLE). Natural text sits near slope -1;
    boilerplate flattens it — a one-row-per-language corpus-health
    gate before expensive processing."""
    from .text import zipf_fit

    return zipf_fit(_t(spark, sf, "documents"), top_ranks=64)


@query("""
        WITH toks AS (
            SELECT lang, doc_id AS doc,
                   unnest(regexp_extract_all(lower(text),
                                             '[a-z0-9]+')) AS token
            FROM documents
        ),
        per_doc AS (SELECT lang, doc, count(*) AS n_toks
                    FROM toks GROUP BY 1, 2),
        firsts AS (
            SELECT lang, doc, count(*) AS new_types FROM (
                SELECT lang, token, min(doc) AS doc
                FROM toks GROUP BY lang, token)
            GROUP BY 1, 2
        ),
        curve AS (
            SELECT p.lang, p.doc,
                   sum(p.n_toks) OVER (PARTITION BY p.lang
                                       ORDER BY p.doc) AS cum_tokens,
                   sum(coalesce(f.new_types, 0))
                       OVER (PARTITION BY p.lang
                             ORDER BY p.doc) AS cum_vocab,
                   row_number() OVER (PARTITION BY p.lang
                                      ORDER BY p.doc) AS doc_rank
            FROM per_doc p
            LEFT JOIN firsts f ON f.lang = p.lang AND f.doc = p.doc
        )
        SELECT lang, doc_rank, doc AS doc_id,
               cum_tokens::BIGINT AS cum_tokens,
               cum_vocab::BIGINT AS cum_vocab,
               CASE WHEN cum_tokens > 1 THEN
                   round(ln(cum_vocab::DOUBLE) / ln(cum_tokens::DOUBLE), 6)
               END AS heaps_beta
        FROM curve WHERE doc_rank % 16 = 0
    """)
def text_heaps_curve(spark, sf):
    """Heaps-law vocabulary-growth checkpoints per language (hard
    oracle: two exact integer window cumsums over the per-doc token
    counts and first-occurrence counts + one rounded ln ratio) —
    the "is new data still adding vocabulary" dedup-health curve a
    curation pipeline watches as the corpus grows."""
    from .text import heaps_curve

    return heaps_curve(_t(spark, sf, "documents"), every=16)


@query("""
        WITH ws AS (
            SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w
            FROM documents
        ),
        bg2 AS (
            SELECT bg[1] AS w1, bg[2] AS w2 FROM (
                SELECT unnest(list_transform(range(1, len(w)),
                              i -> [w[i], w[i + 1]])) AS bg
                FROM ws WHERE len(w) >= 2)
        ),
        c12 AS (SELECT w1, w2, count(*) AS c12
                FROM bg2 GROUP BY 1, 2),
        fwd AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p_fwd
                FROM c12 GROUP BY 1),
        bwd AS (SELECT w2, count(*) AS n1p_bwd FROM c12 GROUP BY 1),
        bt AS (SELECT count(*) AS b_types FROM c12)
        SELECT w1, w2, c12::BIGINT AS c12, c1::BIGINT AS c1,
               round(n1p_bwd::DOUBLE / b_types::DOUBLE, 8) AS p_cont,
               round(0.75 * n1p_fwd::DOUBLE / c1::DOUBLE, 8)
                   AS lambda_w1,
               round(round((c12::DOUBLE - 0.75) / c1::DOUBLE, 8)
                     + round(round(0.75 * n1p_fwd::DOUBLE / c1::DOUBLE,
                                   8)
                             * round(n1p_bwd::DOUBLE / b_types::DOUBLE,
                                     8), 8), 8) AS p_kn
        FROM c12 JOIN fwd USING (w1) JOIN bwd USING (w2) CROSS JOIN bt
        ORDER BY c12 DESC, w1, w2 LIMIT 100
    """)
def text_kn_bigram(spark, sf):
    """Interpolated Kneser-Ney bigram LM fit on exact corpus counts
    (hard oracle: integer counts, each ratio one correctly-rounded
    division on the 8-dp grid). Top-100 bigrams by count with
    continuation probability, backoff weight and the KN probability;
    the page is TakeOrderedAndProject, never a global sort."""
    from .text import kn_bigram_lm

    return kn_bigram_lm(_t(spark, sf, "documents"), discount=0.75,
                        top=100)


def _mmr_sql(k: int = 4, pool: int = 12, lam: float = 0.7,
             n_queries: int = 3) -> str:
    """Unrolled MMR greedy selection: k rounds of argmax CTEs over
    the materialized candidate + pairwise-sim tables. The score
    arithmetic mirrors the Spark side bit-exactly: lam and (1-lam)
    as exact 6-dp DECIMAL literals, rel/maxsim cast DECIMAL(9,6),
    exact decimal multiply-subtract, HALF_UP decimal round to 6 dp,
    cast DOUBLE — double round() here diverges on .5-ulp boundaries
    (Spark rounds the shortest decimal string, DuckDB the binary)."""
    lam_q = round(float(lam), 6)
    la = f"{format(lam_q, '.6f')}::DECIMAL(8,6)"
    om = f"{format(round(1.0 - lam_q, 6), '.6f')}::DECIMAL(8,6)"
    dot = ("list_sum(list_transform(range(1, 65), "
           "i -> cast({a}[i] AS double) * cast({b}[i] AS double)))")
    nrm = ("sqrt(list_sum(list_transform(range(1, 65), "
           "i -> cast({a}[i] AS double) * cast({a}[i] AS double))))")
    parts = [f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id < {n_queries}
        ),
        scored AS (
            SELECT q.query_id, e.vec_id AS item_id,
                   round({dot.format(a='e.embedding', b='q.qv')}
                         / ({nrm.format(a='e.embedding')}
                            * {nrm.format(a='q.qv')}), 6) AS rel
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        ),
        cand AS MATERIALIZED (
            SELECT query_id, item_id, rel FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, item_id) AS rn FROM scored)
            WHERE rn <= {pool}
        ),
        psim AS MATERIALIZED (
            SELECT a.query_id, a.item_id AS ia, b.item_id AS ib,
                   round({dot.format(a='ea.embedding', b='eb.embedding')}
                         / ({nrm.format(a='ea.embedding')}
                            * {nrm.format(a='eb.embedding')}), 6) AS sim
            FROM cand a
            JOIN cand b ON b.query_id = a.query_id
                       AND b.item_id <> a.item_id
            JOIN embeddings ea ON ea.vec_id = a.item_id
            JOIN embeddings eb ON eb.vec_id = b.item_id
        ),
        s1 AS MATERIALIZED (
            SELECT query_id, item_id, rel,
                   round({la} * rel::DECIMAL(9,6), 6)::DOUBLE AS score,
                   1 AS round
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY round({la} * rel::DECIMAL(9,6), 6) DESC,
                               item_id) AS rn
                  FROM cand)
            WHERE rn = 1
        ),
        sel1 AS MATERIALIZED (SELECT * FROM s1)"""]
    for r in range(2, k + 1):
        sc = (f"round({la} * c.rel::DECIMAL(9,6) - {om} * "
              f"coalesce(m.maxsim, 0.0)::DECIMAL(9,6), 6)::DOUBLE")
        parts.append(f""",
        m{r} AS (
            SELECT p.query_id, p.ia AS item_id, max(p.sim) AS maxsim
            FROM psim p
            JOIN sel{r - 1} s ON s.query_id = p.query_id
                             AND s.item_id = p.ib
            GROUP BY 1, 2
        ),
        s{r} AS MATERIALIZED (
            SELECT query_id, item_id, rel, score, {r} AS round FROM (
                SELECT c.query_id, c.item_id, c.rel, {sc} AS score,
                       row_number() OVER (PARTITION BY c.query_id
                           ORDER BY {sc} DESC, c.item_id) AS rn
                FROM cand c
                LEFT JOIN sel{r - 1} d ON d.query_id = c.query_id
                                      AND d.item_id = c.item_id
                LEFT JOIN m{r} m ON m.query_id = c.query_id
                                AND m.item_id = c.item_id
                WHERE d.item_id IS NULL)
            WHERE rn = 1
        ),
        sel{r} AS MATERIALIZED (
            SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM s{r}
        )""")
    parts.append(f"""
        SELECT query_id, round, item_id, rel, score FROM sel{k}""")
    return "".join(parts)


@query(_mmr_sql(4, 12, 0.7, 3))
def sim_mmr_diverse(spark, sf):
    """Maximal-Marginal-Relevance diversified top-k (hard oracle:
    the k greedy rounds unroll bit-exactly in DuckDB on the 6-dp
    cosine grid) — the diversity-aware selection step after ANN
    retrieval; corpus-sized work is exactly one cosine_topk pass,
    the greedy rounds run on the Q x pool candidate table."""
    from .similarity import mmr_select

    emb = _t(spark, sf, "embeddings")
    return mmr_select(emb, emb.filter(F.col("vec_id") < 3),
                      k=4, pool=12, lam=0.7)


@query("""
        WITH cnt AS (
            SELECT event_type AS et,
                   epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h,
                   count(*) AS n
            FROM events GROUP BY et, h
        ),
        span AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
        grid AS (
            SELECT t.et, gs.h, coalesce(cnt.n, 0) AS n
            FROM (SELECT DISTINCT et FROM cnt) t
            CROSS JOIN (SELECT unnest(generate_series(
                (SELECT h0 FROM span), (SELECT h1 FROM span))) AS h) gs
            LEFT JOIN cnt ON cnt.et = t.et AND cnt.h = gs.h
        ),
        stats AS (
            SELECT et, count(*) AS nh, sum(n) AS s, sum(n * n) AS ss
            FROM grid GROUP BY et
        ),
        kth AS (
            SELECT et,
                   round(s::DOUBLE / nh::DOUBLE, 6)::DECIMAL(18,6) AS k,
                   round(4.0 * sqrt(greatest(
                       ss::DOUBLE / nh::DOUBLE
                       - (s::DOUBLE / nh::DOUBLE)
                         * (s::DOUBLE / nh::DOUBLE), 0.0)), 6) AS hthr
            FROM stats
        ),
        pre AS (
            SELECT g.et, g.h, g.n, k.hthr,
                   sum(g.n::DECIMAL(18,6) - k.k)
                       OVER (PARTITION BY g.et ORDER BY g.h) AS p
            FROM grid g JOIN kth k ON k.et = g.et
        ),
        cus AS (
            SELECT et, h, n, hthr,
                   p - least(0::DECIMAL(38,6),
                             min(p) OVER (PARTITION BY et
                                          ORDER BY h)) AS cusum_d
            FROM pre
        )
        SELECT et AS event_type, h AS hour, n::BIGINT AS n,
               round(cusum_d::DOUBLE, 6) AS cusum,
               hthr AS threshold,
               (cusum_d::DOUBLE > hthr) AS alarm
        FROM (SELECT *, row_number() OVER (PARTITION BY et
                  ORDER BY cusum_d DESC, h) AS rn FROM cus)
        WHERE rn <= 5
    """)
def events_changepoint(spark, sf):
    """CUSUM changepoint scan per event type — the sustained-shift
    detector the z-score outlier scan (events_rate_outliers) cannot
    express: S_i = max(0, S_{i-1} + (x_i - k)) accumulates small
    persistent drifts that never individually cross 2-sigma. The
    recursion is window-expressible via the prefix-sum identity
    S_i = P_i - min(0, min_{j<=i} P_j) (P = running sum of x - k),
    so the whole scan is two window passes over the dense hour grid
    — no iteration, no UDF. Deterministic: k (the allowance) on the
    6-dp decimal grid makes every prefix sum EXACT decimal
    arithmetic; the threshold 4*sigma is one correctly-rounded
    sqrt (hard oracle: identical windows in DuckDB). Output: each
    type's top-5 CUSUM hours with the alarm flag."""
    ev = _t(spark, sf, "events")
    hr = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
          / 3600).cast("bigint")
    # the (type, hour) count feeds span/types/grid — checkpoint it so
    # the corpus scan runs once (the plan-diamond sweep; audited)
    cnt = (ev.select(F.col("event_type").alias("et"), hr.alias("h"))
           .groupBy("et", "h").agg(F.count("*").alias("n"))
           .localCheckpoint(eager=True))
    span = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (cnt.select("et").distinct()
            .crossJoin(F.broadcast(span))
            .select("et", F.explode(F.sequence("h0", "h1")).alias("h"))
            .join(cnt, ["et", "h"], "left")
            .select("et", "h", F.coalesce("n", F.lit(0)).alias("n")))
    stats = (grid.groupBy("et")
             .agg(F.count("*").alias("nh"), F.sum("n").alias("s"),
                  F.sum(F.col("n") * F.col("n")).alias("ss")))
    mean = F.col("s").cast("double") / F.col("nh").cast("double")
    var = (F.col("ss").cast("double") / F.col("nh").cast("double")
           - mean * mean)
    kth = stats.select(
        "et", F.round(mean, 6).cast("decimal(18,6)").alias("k"),
        F.round(F.lit(4.0) * F.sqrt(F.greatest(var, F.lit(0.0))),
                6).alias("hthr"))
    wseq = (Window.partitionBy("et").orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pre = (grid.join(kth, "et")
           .select("et", "h", "n", "hthr",
                   F.sum(F.col("n").cast("decimal(18,6)") - F.col("k"))
                   .over(wseq).alias("p")))
    cus = pre.select(
        "et", "h", "n", "hthr",
        (F.col("p") - F.least(F.lit(0).cast("decimal(28,6)"),
                              F.min("p").over(wseq))).alias("cusum_d"))
    wtop = Window.partitionBy("et").orderBy(F.desc("cusum_d"), F.asc("h"))
    return (cus.withColumn("rn", F.row_number().over(wtop))
            .filter(F.col("rn") <= 5)
            .select(F.col("et").alias("event_type"),
                    F.col("h").alias("hour"), "n",
                    F.round(F.col("cusum_d").cast("double"), 6)
                    .alias("cusum"),
                    F.col("hthr").alias("threshold"),
                    (F.col("cusum_d").cast("double") > F.col("hthr"))
                    .alias("alarm")))


@query("""
        WITH cnt AS (
            SELECT event_type AS et,
                   epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h,
                   count(*) AS n
            FROM events GROUP BY et, h
        ),
        span AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
        grid AS (
            SELECT t.et, gs.h, gs.h % 24 AS hod, coalesce(cnt.n, 0) AS n
            FROM (SELECT DISTINCT et FROM cnt) t
            CROSS JOIN (SELECT unnest(generate_series(
                (SELECT h0 FROM span), (SELECT h1 FROM span))) AS h) gs
            LEFT JOIN cnt ON cnt.et = t.et AND cnt.h = gs.h
        ),
        seas AS (
            SELECT et, hod,
                   round(sum(n)::DOUBLE / count(*), 6)::DECIMAL(16,6)
                       AS mu
            FROM grid GROUP BY et, hod
        ),
        dev AS (
            SELECT g.et, g.h, g.hod, g.n, s.mu,
                   g.n::DECIMAL(16,6) - s.mu AS r
            FROM grid g JOIN seas s ON s.et = g.et AND s.hod = g.hod
        ),
        thr AS (
            SELECT et, round(4.0 * sum(r * r)::DOUBLE / count(*), 6)
                       AS thr
            FROM dev GROUP BY et
        )
        SELECT d.et AS event_type, d.h AS hour, d.hod,
               d.n::BIGINT AS n, d.mu::DOUBLE AS seasonal_mean,
               d.r::DOUBLE AS resid, t.thr AS threshold
        FROM dev d JOIN thr t ON t.et = d.et
        WHERE (d.r * d.r)::DOUBLE > t.thr
    """)
def events_seasonality(spark, sf):
    """Seasonally-adjusted anomaly scan — the third leg of the
    anomaly triad: events_rate_outliers flags POINT outliers against
    a global mean (so a daily traffic peak false-positives every
    day), events_changepoint finds SUSTAINED shifts, and this one
    removes the hour-of-day seasonal profile first and flags hours
    whose RESIDUAL variance-tests out. Per type: dense epoch-hour
    grid (silent hours are zeros), seasonal mean per (type,
    hour-of-day) as ONE correctly-rounded division on the 6-dp
    decimal grid, residuals thereafter EXACT decimals, and the
    threshold resid^2 > 4*var(resid) compared sqrt-free like
    rate_outliers. Corpus-sized work is one (type, hour) count,
    eagerly localCheckpoint-ed: it feeds span/types/grid and the
    residual chain forks twice more, and without the checkpoint
    Catalyst replans the corpus scan per branch (audited: 12
    FileScans; with: 0 downstream). The seasonal/stat tables are
    type x 24 and type x 1."""
    ev = _t(spark, sf, "events")
    hr = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
          / 3600).cast("bigint")
    cnt = (ev.select(F.col("event_type").alias("et"), hr.alias("h"))
           .groupBy("et", "h").agg(F.count("*").alias("n"))
           .localCheckpoint(eager=True))
    span = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (cnt.select("et").distinct()
            .crossJoin(F.broadcast(span))
            .select("et", F.explode(F.sequence("h0", "h1")).alias("h"))
            .join(cnt, ["et", "h"], "left")
            .select("et", "h", (F.col("h") % 24).alias("hod"),
                    F.coalesce("n", F.lit(0)).alias("n")))
    seas = (grid.groupBy("et", "hod")
            .agg(F.round(F.sum("n").cast("double") / F.count("*"), 6)
                 .cast("decimal(16,6)").alias("mu")))
    resid = (F.col("n").cast("decimal(16,6)") - F.col("mu"))
    dev = (grid.join(F.broadcast(seas), ["et", "hod"])
           .select("et", "h", "hod", "n", "mu", resid.alias("r")))
    stats = (dev.groupBy("et")
             .agg(F.count("*").alias("nh"),
                  F.sum(F.col("r") * F.col("r")).alias("ssq")))
    thr = stats.select(
        "et", F.round(F.lit(4.0) * F.col("ssq").cast("double")
                      / F.col("nh").cast("double"), 6).alias("thr"))
    return (dev.join(F.broadcast(thr), "et")
            .filter((F.col("r") * F.col("r")).cast("double")
                    > F.col("thr"))
            .select(F.col("et").alias("event_type"),
                    F.col("h").alias("hour"), "hod", "n",
                    F.col("mu").cast("double").alias("seasonal_mean"),
                    F.col("r").cast("double").alias("resid"),
                    F.col("thr").alias("threshold")))


@query("""
        WITH gaps AS (
            -- date_trunc('second') before epoch(): Spark's
            -- unix_timestamp TRUNCATES sub-second fractions, DuckDB's
            -- bare epoch() ROUNDS them (the pinned rate_outliers trap)
            SELECT event_type,
                   epoch(date_trunc('second', ts))::BIGINT
                   - epoch(date_trunc('second',
                         lag(ts) OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts, event_id)))::BIGINT
                       AS g
            FROM events
        ),
        mom AS (
            SELECT event_type, count(*) AS n_gaps,
                   sum(g) AS s, sum(g * g) AS ss
            FROM gaps WHERE g IS NOT NULL GROUP BY 1
        )
        SELECT event_type, n_gaps::BIGINT AS n_gaps,
               round(s::DOUBLE / n_gaps::DOUBLE, 6) AS mean_gap_s,
               round(sqrt(greatest(
                   ss::DOUBLE / n_gaps::DOUBLE
                   - (s::DOUBLE / n_gaps::DOUBLE)
                     * (s::DOUBLE / n_gaps::DOUBLE), 0.0)), 6)
                   AS std_gap_s,
               round((sqrt(greatest(
                          ss::DOUBLE / n_gaps::DOUBLE
                          - (s::DOUBLE / n_gaps::DOUBLE)
                            * (s::DOUBLE / n_gaps::DOUBLE), 0.0))
                      - s::DOUBLE / n_gaps::DOUBLE)
                     / (sqrt(greatest(
                          ss::DOUBLE / n_gaps::DOUBLE
                          - (s::DOUBLE / n_gaps::DOUBLE)
                            * (s::DOUBLE / n_gaps::DOUBLE), 0.0))
                        + s::DOUBLE / n_gaps::DOUBLE), 6) AS burstiness
        FROM mom
    """)
def events_burstiness(spark, sf):
    """Goh-Barabasi burstiness B = (sigma - mu) / (sigma + mu) of
    inter-arrival times per event type (B -> -1 periodic, 0 Poisson,
    -> +1 bursty) — the point-process statistic that separates
    machine-regular from human-bursty traffic. Gaps are EXACT integer
    seconds between consecutive events WITHIN each user's per-type
    stream (window partitioned by (user, type) — millions of users
    means the lag pass parallelizes; a type-wide gap stream would be
    one task per type at corpus scale); the per-type moments are
    exact integer sums and mu / var / sigma / B are the identical
    IEEE expression tree in both engines (division, sqrt, +/- all
    correctly rounded on identical inputs — the rate_outliers
    discipline), with only B itself rounded to 6 dp."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    gaps = (ev.select("user_id", "event_type", "ts", "event_id")
            .withColumn("prev", F.lag("ts").over(w))
            .filter(F.col("prev").isNotNull())
            .select("event_type",
                    (F.unix_timestamp("ts")
                     - F.unix_timestamp("prev")).alias("g")))
    mom = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("g").alias("s"),
        F.sum(F.col("g") * F.col("g")).alias("ss"))
    n = F.col("n_gaps").cast("double")
    mu = F.col("s").cast("double") / n
    var = F.greatest(F.col("ss").cast("double") / n - mu * mu,
                     F.lit(0.0))
    sig = F.sqrt(var)
    return mom.select(
        "event_type", "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sig, 6).alias("std_gap_s"),
        F.round((sig - mu) / (sig + mu), 6).alias("burstiness"))


@query("""
        WITH d AS (
            SELECT doc_id, lang,
                   'https://pages.example.org/rdfa/' || doc_id
                       || '#rdfa0' AS s
            FROM documents WHERE doc_id < 200
        )
        SELECT s AS subj,
               'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
               'http://schema.org/Dataset' AS obj,
               false AS obj_is_literal
        FROM d
        UNION ALL
        SELECT s, 'http://schema.org/license',
               'https://example.org/license/' || (doc_id % 4), false
        FROM d
        UNION ALL
        SELECT s, 'http://schema.org/name',
               '"doc' || doc_id || '"', true
        FROM d
        UNION ALL
        SELECT s, 'http://schema.org/inLanguage',
               '"' || lang || '"', true
        FROM d
    """)
def kg_rdfa_triples(spark, sf):
    """End-to-end RDFa-lite extraction: deterministic RDFa pages are
    built from documents (one vocab/typeof scope with a name literal,
    a license href and an inLanguage literal, all pure functions of
    doc_id/lang), pushed through the REAL pages->triples pipeline
    (extract/html.py RDFa scope regexes -> generic JSON-LD kernel
    branch — the same code path jsonld/microdata ride), and the
    emitted triple set is re-derived bit-exactly from documents in
    DuckDB (hard oracle: 4 triples per doc). Completes the embedded
    structured-data family the north star names: JSON-LD, manifest
    blobs, microdata, RDFa."""
    from ..plans.kg import run_pipeline

    docs = _t(spark, sf, "documents").select("doc_id", "lang") \
        .filter(F.col("doc_id") < 200)
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><div vocab="http://schema.org/" '
              'typeof="Dataset"><span property="name">doc'), d,
        F.lit('</span><a property="license" '
              'href="https://example.org/license/'),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('">L</a><span property="inLanguage">'), F.col("lang"),
        F.lit('</span></div></body></html>')).cast("binary")
    pages = docs.select(
        F.concat(F.lit("https://pages.example.org/rdfa/"), d)
        .alias("url"),
        F.lit("2017-06-01").cast("timestamp").alias("warc_ts"),
        html.alias("html"), F.lit("").alias("text"), "lang")
    t = run_pipeline(pages, include_engines=False)["triples"]
    return t.select("subj", "pred", "obj", "obj_is_literal")


@query("""
        WITH act AS (
            SELECT DISTINCT user_id,
                   epoch(date_trunc('day', ts))::BIGINT // 86400 AS d
            FROM events
        ),
        span AS (SELECT min(d) AS d0, max(d) AS d1 FROM act),
        dau AS (SELECT d, count(*) AS dau FROM act GROUP BY d),
        wau AS (
            SELECT d, count(*) AS wau FROM (
                SELECT DISTINCT user_id,
                       unnest(generate_series(d, d + 6)) AS d
                FROM act)
            GROUP BY d
        ),
        grid AS (SELECT unnest(generate_series(
            (SELECT d0 FROM span), (SELECT d1 FROM span))) AS d)
        SELECT g.d AS day,
               coalesce(dau.dau, 0)::BIGINT AS dau,
               coalesce(wau.wau, 0)::BIGINT AS wau,
               CASE WHEN coalesce(wau.wau, 0) > 0 THEN
                   round(coalesce(dau.dau, 0)::DOUBLE
                         / wau.wau::DOUBLE, 6)
               END AS stickiness
        FROM grid g
        LEFT JOIN dau ON dau.d = g.d
        LEFT JOIN wau ON wau.d = g.d
    """)
def events_dau_wau(spark, sf):
    """DAU / WAU / stickiness per day — EXACT sliding-window distinct
    actives via the explode-into-windows identity: a (user, day)
    activity fact contributes to the 7 window-ends [day, day+6], so
    WAU(d) = count of distinct (user, window-end=d) pairs — one
    explode (bounded 7x row multiplier, stated cost) + one distinct
    aggregate, fully parallel, no sliding-state operator and no
    approximate sketch (the HLL path exists separately in
    sketch_hll for when 7x is too dear). DAU is the plain per-day
    distinct; stickiness = DAU/WAU one 6-dp division. Dense day grid
    so inactive days report zeros."""
    ev = _t(spark, sf, "events")
    day = (F.unix_timestamp(F.date_trunc("day", F.col("ts")))
           / 86400).cast("bigint")
    act = (ev.select("user_id", day.alias("d")).distinct())
    span = act.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    dau = act.groupBy("d").agg(F.count("*").alias("dau"))
    wau = (act.select("user_id",
                      F.explode(F.sequence(F.col("d"),
                                           F.col("d") + 6)).alias("d"))
           .distinct()
           .groupBy("d").agg(F.count("*").alias("wau")))
    grid = (span.select(F.explode(F.sequence("d0", "d1")).alias("d")))
    return (grid.join(dau, "d", "left").join(wau, "d", "left")
            .select(F.col("d").alias("day"),
                    F.coalesce("dau", F.lit(0)).alias("dau"),
                    F.coalesce("wau", F.lit(0)).alias("wau"),
                    F.when(F.coalesce("wau", F.lit(0)) > 0,
                           F.round(F.coalesce("dau", F.lit(0))
                                   .cast("double")
                                   / F.col("wau").cast("double"), 6))
                    .alias("stickiness")))


@query("""
        WITH tagged AS (
            -- epoch(date_trunc('second', .)) matches Spark's
            -- truncating unix_timestamp (the pinned rounding trap)
            SELECT user_id, ts, event_id, event_type,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS lt,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN epoch(date_trunc('second', ts))::BIGINT
                              END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS lt_ts
            FROM events
        ),
        conv AS (
            SELECT CASE WHEN lt IS NOT NULL
                         AND epoch(date_trunc('second', ts))::BIGINT
                             - lt_ts <= 604800
                   THEN lt ELSE 'direct' END AS touch_type
            FROM tagged WHERE event_type = 'purchase'
        ),
        cm AS (SELECT touch_type, count(*) AS n_conversions
               FROM conv GROUP BY 1),
        tot AS (SELECT sum(n_conversions) AS total FROM cm)
        SELECT touch_type, n_conversions::BIGINT AS n_conversions,
               round(n_conversions::DOUBLE / total::DOUBLE, 6) AS share
        FROM cm CROSS JOIN tot
    """)
def events_attribution(spark, sf):
    """Last-touch conversion attribution: each purchase event is
    credited to the most recent OTHER event type by the same user
    within 7 days (or 'direct' when none) — the
    funnel question events_funnel's fixed path can't answer. One
    user-partitioned window pass carries the last non-conversion
    (type, ts) forward via last(ignorenulls) over an exclusive-end
    frame (total order (ts, event_id), so the carry is
    deterministic); attribution shares are exact counts + one 6-dp
    division. Scale: the window partitions by user_id — millions of
    partitions; the rollup table is |types| rows."""
    ev = _t(spark, sf, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    is_conv = F.col("event_type") == "purchase"
    touch_t = F.when(~is_conv, F.col("event_type"))
    touch_ts = F.when(~is_conv, F.unix_timestamp("ts"))
    tagged = (ev.select("user_id", "ts", "event_id", "event_type",
                        F.last(touch_t, ignorenulls=True).over(w)
                        .alias("lt"),
                        F.last(touch_ts, ignorenulls=True).over(w)
                        .alias("lt_ts"))
              .filter(is_conv))
    credited = F.when(
        F.col("lt").isNotNull()
        & ((F.unix_timestamp("ts") - F.col("lt_ts")) <= 7 * 86400),
        F.col("lt")).otherwise(F.lit("direct"))
    cm = (tagged.select(credited.alias("touch_type"))
          .groupBy("touch_type").agg(F.count("*").alias("n_conversions")))
    tot = cm.agg(F.sum("n_conversions").alias("total"))
    return (cm.crossJoin(F.broadcast(tot))
            .select("touch_type", "n_conversions",
                    F.round(F.col("n_conversions").cast("double")
                            / F.col("total").cast("double"), 6)
                    .alias("share")))


@query("""
        WITH RECURSIVE base AS (
            SELECT user_id, event_type, ts, event_id,
                   epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h
            FROM events
        ),
        pu AS (
            SELECT user_id,
                   max(CASE WHEN rn = 1 THEN event_type END) AS cohort,
                   min(h) AS first_h,
                   min(CASE WHEN event_type = 'purchase' THEN h END)
                       AS conv_h
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM base)
            GROUP BY user_id
        ),
        cut AS (SELECT min(h) + 120 AS cut FROM base),
        obs AS (
            SELECT cohort,
                   CASE WHEN conv_h IS NOT NULL AND conv_h <= cut
                        THEN conv_h - first_h
                        ELSE cut - first_h END AS t,
                   CASE WHEN conv_h IS NOT NULL AND conv_h <= cut
                        THEN 1 ELSE 0 END AS is_death
            FROM pu CROSS JOIN cut
            WHERE first_h <= cut
        ),
        ex AS (
            SELECT cohort, t, count(*) AS exits, sum(is_death) AS d
            FROM obs GROUP BY cohort, t
        ),
        tot AS (SELECT cohort, count(*) AS tot FROM obs GROUP BY 1),
        -- ties at a death time keep the censored user at risk:
        -- exits are subtracted STRICTLY before t (1 PRECEDING)
        risk AS (
            SELECT e.cohort, e.t, e.d,
                   (tot.tot - coalesce(sum(e.exits) OVER (
                        PARTITION BY e.cohort ORDER BY e.t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0))::BIGINT AS n_risk
            FROM ex e JOIN tot ON tot.cohort = e.cohort
        ),
        steps AS (
            SELECT cohort, t, n_risk, d,
                   row_number() OVER (
                       PARTITION BY cohort ORDER BY t) AS rn
            FROM risk WHERE d > 0
        ),
        -- the IDENTICAL all-integer product-limit recurrence:
        -- s_k = (2*s_{k-1}*(n-d) + n) div (2*n), s_0 = 1e8
        km AS (
            SELECT cohort, rn, t, n_risk, d,
                   (2 * 100000000 * (n_risk - d) + n_risk)
                       // (2 * n_risk) AS s
            FROM steps WHERE rn = 1
            UNION ALL
            SELECT s2.cohort, s2.rn, s2.t, s2.n_risk, s2.d,
                   (2 * km.s * (s2.n_risk - s2.d) + s2.n_risk)
                       // (2 * s2.n_risk)
            FROM km JOIN steps s2
              ON s2.cohort = km.cohort AND s2.rn = km.rn + 1
        )
        SELECT cohort, t AS t_hours, n_risk,
               d::BIGINT AS deaths, s::BIGINT AS surv_e8,
               s::DOUBLE / 100000000.0 AS survival
        FROM km
    """)
def events_survival(spark, sf, horizon_h: int = 120):
    """Kaplan-Meier time-to-conversion survival curves per acquisition
    cohort (each user's FIRST event type): duration = hours from a
    user's first event to their first purchase event,
    administratively censored ``horizon_h`` hours after the corpus
    start — conversions past the cutoff (or never) are censored at
    cut - first_h, users entering after the cutoff are out of the
    study. The retention question the funnel/attribution scans cannot
    answer: WHEN does conversion happen, with censoring handled
    correctly instead of dropped. The product-limit estimator runs on
    the EXACT integer grid (the graph_betweenness / graph_katz
    discipline): S scaled by 10^8, each step
    S_k = round_half_up(S_{k-1} * (n_k - d_k) / n_k) as the
    all-integer expression (2*s*(n-d) + n) div (2*n) — no doubles in
    the recurrence, so the curve is bit-exact cross-engine (hard
    oracle: DuckDB recursive CTE carries the identical recurrence).
    Corpus-sized work is ONE user-keyed window pass + one user
    groupBy (millions of partitions — parallel); risk sets are a
    cumulative window over the tiny per-cohort step table and the
    sequential product folds per cohort via ONE aggregate()
    higher-order function (JVM-side, no UDF, state ∝ death times).
    Censoring convention: ties at a death time keep the censored
    user at risk (exits subtracted strictly before t). Overflow
    bound: 2 * 10^8 * n_risk must fit int64 — fine to ~4.6*10^10
    users per cohort."""
    ev = _t(spark, sf, "events")
    h = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
         / 3600).cast("bigint")
    base = ev.select("user_id", "event_type", "ts", "event_id",
                     h.alias("h"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pu = (base.withColumn("rn", F.row_number().over(w))
          .groupBy("user_id").agg(
              F.max(F.when(F.col("rn") == 1,
                           F.col("event_type"))).alias("cohort"),
              F.min("h").alias("first_h"),
              F.min(F.when(F.col("event_type") == "purchase",
                           F.col("h"))).alias("conv_h")))
    cut = base.agg((F.min("h") + horizon_h).alias("cut"))
    dead = (F.col("conv_h").isNotNull()
            & (F.col("conv_h") <= F.col("cut")))
    obs = (pu.crossJoin(F.broadcast(cut))
           .filter(F.col("first_h") <= F.col("cut"))
           .select("cohort",
                   F.when(dead, F.col("conv_h") - F.col("first_h"))
                   .otherwise(F.col("cut") - F.col("first_h"))
                   .alias("t"),
                   F.when(dead, 1).otherwise(0).alias("is_death")))
    # the exit grid is tiny (per-(cohort, death/censor time)) and
    # feeds BOTH the totals and the risk-set window; eagerly
    # localCheckpoint it and derive per-cohort totals from it (every
    # observation exits exactly once) so the corpus-sized user rollup
    # runs exactly once — without this Catalyst replans the heavy
    # window+groupBy per branch (the events_rfm lesson; audited:
    # 4 FileScans before, 0 downstream after)
    ex = obs.groupBy("cohort", "t").agg(
        F.count("*").alias("exits"),
        F.sum("is_death").alias("d")).localCheckpoint(eager=True)
    tot = ex.groupBy("cohort").agg(F.sum("exits").alias("tot"))
    wc = (Window.partitionBy("cohort").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, -1))
    risk = (ex.join(tot, "cohort")
            .select("cohort", "t", "d",
                    (F.col("tot")
                     - F.coalesce(F.sum("exits").over(wc), F.lit(0)))
                    .alias("n_risk"))
            .filter(F.col("d") > 0))
    steps = risk.groupBy("cohort").agg(
        F.array_sort(F.collect_list(F.struct("t", "n_risk", "d")))
        .alias("steps"))
    km = steps.select(
        "cohort",
        F.explode(F.expr(
            "aggregate(steps,"
            " struct(CAST(100000000 AS BIGINT) AS s,"
            "  CAST(array() AS"
            "   array<struct<t:bigint,n_risk:bigint,d:bigint,"
            "s_e8:bigint>>) AS rows),"
            " (acc, x) -> struct("
            "   (2*acc.s*(x.n_risk - x.d) + x.n_risk)"
            "     div (2*x.n_risk) AS s,"
            "   array_append(acc.rows, struct("
            "     x.t AS t, x.n_risk AS n_risk, x.d AS d,"
            "     (2*acc.s*(x.n_risk - x.d) + x.n_risk)"
            "       div (2*x.n_risk) AS s_e8)) AS rows),"
            " acc -> acc.rows)")).alias("r"))
    return km.select(
        "cohort", F.col("r.t").alias("t_hours"),
        F.col("r.n_risk").alias("n_risk"),
        F.col("r.d").alias("deaths"),
        F.col("r.s_e8").alias("surv_e8"),
        (F.col("r.s_e8").cast("double") / F.lit(1e8)).alias("survival"))


@query("""
        WITH cnt AS (
            SELECT event_type, user_id, count(*) AS x
            FROM events GROUP BY 1, 2
        ),
        hist AS (
            SELECT event_type, x AS v, count(*) AS h
            FROM cnt GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, v, h,
                   coalesce(sum(h) OVER (
                       PARTITION BY event_type ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cprev
            FROM hist
        ),
        agg AS (
            SELECT event_type,
                   sum(h)::HUGEINT AS n,
                   sum(v::HUGEINT * h::HUGEINT) AS s,
                   sum(v::HUGEINT * (2 * h::HUGEINT * cprev::HUGEINT
                       + h::HUGEINT * (h::HUGEINT + 1))) AS t2
            FROM cum GROUP BY 1
        )
        SELECT event_type, n::BIGINT AS n_users,
               s::BIGINT AS total_events,
               ((2 * (t2 - (n + 1) * s) * 100000000 + n * s)
                // (2 * n * s))::BIGINT AS gini_e8,
               ((2 * (t2 - (n + 1) * s) * 100000000 + n * s)
                // (2 * n * s))::DOUBLE / 100000000.0 AS gini
        FROM agg
    """)
def events_gini(spark, sf):
    """Gini concentration of per-user activity per event type — the
    "how top-heavy is engagement" inequality index (0 = uniform,
    -> 1 = one whale). With per-user counts x sorted ascending and
    1-based rank i, G = (2*sum(i*x_i) - (n+1)*S) / (n*S); sum(i*x_i)
    is invariant under permutations within equal counts, so G is
    well-defined without a tiebreak. Exact on the 1e-8 grid: all
    moments integer decimal(38,0), HALF_UP via
    (2*num*10^8 + den) div (2*den) — no doubles anywhere before the
    final exact /10^8 (hard oracle: DuckDB carries the identical
    HUGEINT expression).

    Scale shape: the rank sum is computed from the count HISTOGRAM,
    never a sort — users holding count v occupy the rank block
    (c_<v, c_<v + h_v], so 2*sum(i*x_i) = sum_v v*(2*h_v*c_<v +
    h_v*(h_v+1)) needs only a cumulative window over the tiny
    per-type histogram (|distinct counts| rows, thousands at any
    corpus size). Corpus-sized work is ONE combine-enabled groupBy
    to per-user counts + one histogram rollup; no per-type
    single-partition rank window (the classic Gini scale killer).
    Overflow bound: 2*10^8 * n * S must fit decimal(38,0) —
    n*S < 5*10^29, far past any corpus."""
    ev = _t(spark, sf, "events")
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("x"))
    hist = cnt.groupBy("event_type", F.col("x").alias("v")).agg(
        F.count("*").alias("h"))
    w = (Window.partitionBy("event_type").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = hist.withColumn(
        "cprev", F.coalesce(F.sum("h").over(w), F.lit(0)))
    g = cum.groupBy("event_type").agg(
        F.sum("h").alias("n"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0))"
                     " * CAST(h AS DECIMAL(38,0))")).alias("s"),
        F.sum(F.expr(
            "CAST(v AS DECIMAL(38,0)) *"
            " (2 * CAST(h AS DECIMAL(38,0))"
            "    * CAST(cprev AS DECIMAL(38,0))"
            "  + CAST(h AS DECIMAL(38,0))"
            "    * (CAST(h AS DECIMAL(38,0)) + 1))")).alias("t2"))
    gini_e8 = F.expr(
        "(2 * (t2 - (CAST(n AS DECIMAL(38,0)) + 1) * s) * 100000000"
        " + CAST(n AS DECIMAL(38,0)) * s)"
        " div (2 * CAST(n AS DECIMAL(38,0)) * s)")
    return g.select(
        "event_type", F.col("n").alias("n_users"),
        F.col("s").cast("bigint").alias("total_events"),
        gini_e8.alias("gini_e8"),
        (gini_e8.cast("double") / F.lit(1e8)).alias("gini"))


@query("""
        WITH base AS (
            SELECT user_id,
                   epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h
            FROM events
        ),
        pu AS (SELECT user_id, max(h) AS last_h, count(*) AS f
               FROM base GROUP BY 1),
        cut AS (SELECT max(last_h) AS cut FROM pu),
        hist2 AS (
            SELECT (cut - last_h) AS r, f, count(*) AS cnt
            FROM pu CROSS JOIN cut GROUP BY 1, 2
        ),
        nb AS (SELECT sum(cnt) AS n FROM hist2),
        fm AS (SELECT f AS v, sum(cnt) AS cnt FROM hist2 GROUP BY 1),
        rm AS (SELECT r AS v, sum(cnt) AS cnt FROM hist2 GROUP BY 1),
        qs AS (SELECT unnest(generate_series(1, 4)) AS q),
        tfq AS (
            SELECT q, min(v) AS t
            FROM (SELECT v, sum(cnt) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum FROM fm)
            CROSS JOIN nb CROSS JOIN qs
            WHERE 5 * cum >= q * n GROUP BY q
        ),
        trq AS (
            SELECT q, min(v) AS t
            FROM (SELECT v, sum(cnt) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum FROM rm)
            CROSS JOIN nb CROSS JOIN qs
            WHERE 5 * cum >= q * n GROUP BY q
        ),
        scored AS (
            SELECT (5 - (SELECT count(*) FROM trq
                         WHERE hist2.r > trq.t))::INT AS r_score,
                   (1 + (SELECT count(*) FROM tfq
                         WHERE hist2.f > tfq.t))::INT AS f_score,
                   cnt, f * cnt AS fmass
            FROM hist2
        )
        SELECT r_score, f_score, sum(cnt)::BIGINT AS n_users,
               sum(fmass)::BIGINT AS n_events
        FROM scored GROUP BY 1, 2
    """)
def events_rfm(spark, sf):
    """Recency-Frequency segment matrix over users — the classic RFM
    cut, made deterministic and shuffle-lean: per user, recency
    r = hours from their LAST event to the corpus end and frequency
    f = event count; each axis is binned into quintile scores 1..5
    using VALUE thresholds t_q = min{v : 5*cum(<=v) >= q*n} derived
    from the COUNT HISTOGRAM (the events_gini discipline), so users
    tied on a value always share a score — no ntile() tie ambiguity,
    no global sort, all comparisons integer (5*cum >= q*n instead of
    fractional quantiles). f_score counts thresholds strictly
    exceeded (higher = better); r_score mirrors it (lower recency =
    better = 5). Output: the 25-cell segment matrix with user and
    event mass per cell.

    Scale shape: the corpus is read exactly TWICE — a column-pruned
    max scan for the corpus-end hour (no shuffle beyond a 1-row
    partial-max merge) and ONE user groupBy for the (r,f) rollup; the
    2-D histogram is then eagerly localCheckpoint-ed (the
    kg_entity_linking precedent) because it feeds FOUR downstream
    branches (both marginals, the basket count, scoring) — without
    the checkpoint Catalyst replans the rollup per branch (measured:
    10 FileScans, 0 ReusedExchange). Everything past the checkpoint
    — marginals, the 4-threshold scans, scoring, the <=25-row matrix
    — runs on |distinct (r,f)| rows; the single-partition cumulative
    windows are over the tiny marginal histograms only."""
    ev = _t(spark, sf, "events")
    h = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
         / 3600).cast("bigint")
    cut = ev.select(h.alias("h")).agg(F.max("h").alias("cut"))
    pu = (ev.select("user_id", h.alias("h"))
          .groupBy("user_id").agg(F.max("h").alias("last_h"),
                                  F.count("*").alias("f")))
    hist2 = (pu.crossJoin(F.broadcast(cut))
             .select((F.col("cut") - F.col("last_h")).alias("r"), "f")
             .groupBy("r", "f").agg(F.count("*").alias("cnt"))
             .localCheckpoint(eager=True))
    nb = hist2.agg(F.sum("cnt").alias("n"))
    qs = spark.range(1, 5).select(F.col("id").alias("q"))

    def thresholds(marginal, out):
        wcum = (Window.orderBy("v")
                .rowsBetween(Window.unboundedPreceding, 0))
        cum = marginal.select("v", F.sum("cnt").over(wcum).alias("cum"))
        return (cum.crossJoin(F.broadcast(nb))
                .crossJoin(F.broadcast(qs))
                .filter(F.lit(5) * F.col("cum") >= F.col("q") * F.col("n"))
                .groupBy("q").agg(F.min("v").alias("t"))
                .groupBy().agg(F.collect_list(F.struct("q", "t"))
                               .alias("ts"))
                .select(F.expr(
                    "transform(array_sort(ts), x -> x.t)").alias(out)))

    fm = hist2.groupBy(F.col("f").alias("v")).agg(F.sum("cnt").alias("cnt"))
    rm = hist2.groupBy(F.col("r").alias("v")).agg(F.sum("cnt").alias("cnt"))
    tf, tr = thresholds(fm, "tf"), thresholds(rm, "tr")
    scored = (hist2.crossJoin(F.broadcast(tf)).crossJoin(F.broadcast(tr))
              .select(
                  "cnt", (F.col("f") * F.col("cnt")).alias("fmass"),
                  (F.lit(1) + F.expr(
                      "size(filter(tf, t -> f > t))")).alias("f_score"),
                  (F.lit(5) - F.expr(
                      "size(filter(tr, t -> r > t))")).alias("r_score")))
    return (scored.groupBy("r_score", "f_score")
            .agg(F.sum("cnt").alias("n_users"),
                 F.sum("fmass").alias("n_events")))


@query("""
        WITH base AS (
            SELECT event_type AS et,
                   epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h
            FROM events
        ),
        cnt AS (SELECT et, h, count(*) AS x FROM base GROUP BY 1, 2),
        span AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
        grid AS (
            SELECT et, g.h
            FROM (SELECT DISTINCT et FROM cnt),
                 (SELECT unnest(generate_series(
                      (SELECT h0 FROM span),
                      (SELECT h1 FROM span))) AS h) g
        ),
        dense AS (
            SELECT grid.et, grid.h, coalesce(cnt.x, 0) AS x
            FROM grid LEFT JOIN cnt
              ON cnt.et = grid.et AND cnt.h = grid.h
        ),
        tot AS (SELECT et, count(*) AS n, sum(x) AS s
                FROM dense GROUP BY 1),
        d AS (
            SELECT dense.et, h, tot.n,
                   (tot.n * dense.x - tot.s)::HUGEINT AS d
            FROM dense JOIN tot ON tot.et = dense.et
        ),
        lags AS (SELECT unnest(generate_series(1, 24)) AS lag),
        num AS (
            SELECT a.et, lags.lag, sum(a.d * b.d) AS num
            FROM d a
            CROSS JOIN lags
            JOIN d b ON b.et = a.et AND b.h = a.h + lags.lag
            GROUP BY 1, 2
        ),
        den AS (SELECT et, max(n) AS n, sum(d * d) AS den
                FROM d GROUP BY 1)
        SELECT num.et AS event_type, num.lag::INT AS lag,
               den.n::BIGINT AS n_hours,
               (CASE WHEN num.num < 0 THEN
                    -((2 * (-num.num) * 100000000 + den.den)
                      // (2 * den.den))
                ELSE (2 * num.num * 100000000 + den.den)
                      // (2 * den.den) END)::BIGINT AS r_e8,
               (CASE WHEN num.num < 0 THEN
                    -((2 * (-num.num) * 100000000 + den.den)
                      // (2 * den.den))
                ELSE (2 * num.num * 100000000 + den.den)
                      // (2 * den.den) END)::DOUBLE
                   / 100000000.0 AS r
        FROM num JOIN den ON den.et = num.et
        WHERE den.den > 0
    """)
def ts_autocorr(spark, sf):
    """Lag-1..24 autocorrelation (ACF) of the hourly event-count
    series per event type, on the zero-filled global hour grid — the
    periodicity diagnostic next to events_seasonality's factor table
    and ts_ewma's smoother. Exact on the 1e-8 grid: with the full-
    series mean S/n a rational, scale deviations by n so every term
    is integer — r_k = sum((n*x_t - S)(n*x_{t+k} - S)) /
    sum((n*x_t - S)^2) — then HALF_UP on |num| with the sign
    re-applied OUTSIDE the division (the cross-engine trap this
    family must dodge: Spark's `div` truncates toward zero, DuckDB's
    `//` floors toward -inf, so negatives round differently unless
    the quotient is kept nonnegative). Products in decimal(38,0):
    |n*x - S| <= n*max_count, so den sums to < n^3*max_count^2 —
    fine to ~1e5 hours x 1e9 events/hour. Lags with no overlapping
    pair (k >= grid length) are omitted on both engines.

    Scale shape: corpus-sized work is ONE (type, hour) groupBy whose
    result is eagerly localCheckpoint-ed — it feeds the span, the
    type list, and the grid join, and without the checkpoint Catalyst
    replans the corpus scan per branch (measured: 6 FileScans; with:
    1). The grid explode, the lead window, and the lag aggregation
    all run on the dense grid (|hours| rows per type — bounded by the
    time span, ~1e5 for a decade, never by event count). The per-type
    lead window serializes a single type's grid — 1e5 rows, trivial."""
    ev = _t(spark, sf, "events")
    h = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
         / 3600).cast("bigint")
    cnt = (ev.select(F.col("event_type").alias("et"), h.alias("h"))
           .groupBy("et", "h").agg(F.count("*").alias("x"))
           .localCheckpoint(eager=True))
    span = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (span.select(F.explode(F.sequence("h0", "h1")).alias("h"))
            .crossJoin(F.broadcast(cnt.select("et").distinct())))
    dense = (grid.join(cnt, ["et", "h"], "left")
             .select("et", "h", F.coalesce("x", F.lit(0)).alias("x")))
    tot = dense.groupBy("et").agg(F.count("*").alias("n"),
                                  F.sum("x").alias("s"))
    d = (dense.join(F.broadcast(tot), "et")
         .select("et", "h", "n",
                 (F.col("n") * F.col("x") - F.col("s")).alias("d")))
    w = Window.partitionBy("et").orderBy("h")
    lags = range(1, 25)
    led = d.select(
        "et", "n", "d",
        *[F.lead("d", k).over(w).alias(f"d{k}")
          for k in lags])
    a = led.groupBy("et").agg(
        F.max("n").alias("n"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0))"
                     " * CAST(d AS DECIMAL(38,0))")).alias("den"),
        *[F.sum(F.expr(f"CAST(d AS DECIMAL(38,0))"
                       f" * CAST(d{k} AS DECIMAL(38,0))"))
          .alias(f"num{k}") for k in lags])
    lagged = a.select(
        "et", "n", "den",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"), F.col(f"num{k}").alias("num"))
            for k in lags])).alias("p"))
    r_e8 = F.expr(
        "CASE WHEN p.num < 0 THEN"
        " -((2 * (-p.num) * 100000000 + den) div (2 * den))"
        " ELSE (2 * p.num * 100000000 + den) div (2 * den) END")
    return (lagged.filter(F.col("p.num").isNotNull()
                          & (F.col("den") > 0))
            .select(F.col("et").alias("event_type"),
                    F.col("p.lag").alias("lag"),
                    F.col("n").alias("n_hours"),
                    r_e8.alias("r_e8"),
                    (r_e8.cast("double") / F.lit(1e8)).alias("r")))


@query("""
        WITH grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, length(text)),
                       i -> substr(text, i, 2))) AS g
            FROM documents WHERE length(text) >= 2
        ),
        cnt AS (SELECT doc_id, g, count(*) AS c
                FROM grams GROUP BY 1, 2),
        agg AS (
            SELECT doc_id, sum(c) AS n, count(*) AS distinct_bigrams,
                   cast(sum(cast(round(c::DOUBLE
                                       * round(ln(c::DOUBLE), 8), 8)
                                 AS DECIMAL(28,8))) AS DOUBLE) AS s
            FROM cnt GROUP BY doc_id
        )
        SELECT doc_id, n::BIGINT AS n_bigrams,
               distinct_bigrams::BIGINT AS distinct_bigrams,
               round(round(ln(n::DOUBLE), 8) - s / n::DOUBLE, 6)
                   AS entropy
        FROM agg
    """)
def text_char_entropy(spark, sf):
    """Per-document character-bigram Shannon entropy — the
    information-theoretic quality axis (low entropy = repetitive /
    template / spam text; compressibility without a compressor, so it
    stays hard-oracle-able). H = ln(n) - (1/n) * sum c*ln(c) over the
    doc's bigram counts: ln values on the 8-dp grid, c*ln(c) terms
    re-rounded to 8 dp and summed as exact decimals (emitted at term
    scale — tie-free), the final combination one ln + one quotient +
    one subtraction on identical doubles. Corpus work is one narrow
    bigram explode + one (doc, gram) count; no window anywhere."""
    docs = _t(spark, sf, "documents")
    n_big = F.length("text") - 1
    grams = (docs.filter(F.length("text") >= 2)
             .select("doc_id",
                     F.explode(F.transform(
                         F.sequence(F.lit(1), n_big),
                         lambda i: F.col("text").substr(i, F.lit(2))))
                     .alias("g")))
    cnt = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    clnc = F.round(F.col("c").cast("double")
                   * F.round(F.log(F.col("c").cast("double")), 8), 8) \
        .cast("decimal(28,8)")
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("distinct_bigrams"),
        F.sum(clnc).cast("double").alias("s"))
    ent = F.round(
        F.round(F.log(F.col("n").cast("double")), 8)
        - F.col("s") / F.col("n").cast("double"), 6)
    return agg.select("doc_id", F.col("n").alias("n_bigrams"),
                      "distinct_bigrams", ent.alias("entropy"))


@query("""
        WITH toks AS (
            SELECT lang, unnest(regexp_extract_all(lower(text),
                                                   '[a-z0-9]+')) AS token
            FROM documents
        ),
        cnt AS (SELECT lang, token, count(*) AS c
                FROM toks GROUP BY 1, 2),
        fof AS (SELECT lang, c AS r, count(*) AS n_r
                FROM cnt GROUP BY 1, 2),
        tot AS (
            SELECT lang, sum(c) AS big_n,
                   sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1
            FROM cnt GROUP BY 1
        ),
        tail AS (
            SELECT lang, r, n_r FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                    ORDER BY r) AS rk FROM fof)
            WHERE rk <= 10
        )
        SELECT f.lang, f.r::BIGINT AS r, f.n_r::BIGINT AS n_r,
               CASE WHEN x.n_r IS NOT NULL THEN
                   round((f.r + 1)::DOUBLE * x.n_r::DOUBLE
                         / f.n_r::DOUBLE, 8)
               END AS r_star,
               round(t.n1::DOUBLE / t.big_n::DOUBLE, 8) AS unseen_mass
        FROM tail f
        LEFT JOIN fof x ON x.lang = f.lang AND x.r = f.r + 1
        JOIN tot t ON t.lang = f.lang
    """)
def text_good_turing(spark, sf):
    """Good-Turing frequency-of-frequencies per language (hard
    oracle: exact integer n_r table, r* and unseen mass each one
    correctly-rounded 8-dp division) — the unseen-probability-mass
    estimate a smoothing or OOV-budget decision reads."""
    from .text import good_turing

    return good_turing(_t(spark, sf, "documents"), max_freq=10)


@query("""
        WITH base AS (
            SELECT doc_id, text,
                   regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS words
            FROM documents
        ), feat AS (
            SELECT doc_id,
                   len(list_distinct(list_filter(words, w -> list_contains(
                       ['the','and','of','to','in','is','that','for','with','on'],
                       w)))) AS en_hits,
                   len(list_distinct(list_filter(words, w -> list_contains(
                       ['el','la','de','que','y','en','los','por','con','una'],
                       w)))) AS es_hits,
                   cast(length(regexp_replace(text, '[^一-鿿぀-ヿ]', '', 'g'))
                        AS double) / greatest(length(text), 1) AS cjk_raw
            FROM base
        ), pred AS (
            SELECT doc_id,
                   CASE WHEN cjk_raw > 0.2 THEN 'cjk'
                        WHEN en_hits > es_hits THEN 'en'
                        WHEN es_hits > en_hits THEN 'es'
                        ELSE 'und' END AS pred
            FROM feat
        ), cm AS (
            SELECT d.lang AS gold, p.pred, count(*) AS n
            FROM documents d JOIN pred p USING (doc_id)
            GROUP BY 1, 2
        )
        SELECT gold, pred, n::BIGINT AS n,
               round(n::DOUBLE /
                     (sum(n) OVER (PARTITION BY gold))::DOUBLE, 6)
                   AS recall_share,
               round(n::DOUBLE /
                     (sum(n) OVER (PARTITION BY pred))::DOUBLE, 6)
                   AS precision_share
        FROM cm
    """)
def text_langid_eval(spark, sf):
    """Classifier evaluation for the langid heuristic against the
    corpus's gold ``lang`` labels: the (gold, pred) confusion matrix
    with row-normalized (recall_share: of gold g, what fraction got
    pred p) and column-normalized (precision_share) rates — the
    quality gate a curation pipeline runs before trusting a cheap
    classifier to route 10^12 documents. Corpus-sized work is the
    lang_id projection + one (gold, pred) count; the shares are two
    window sums over the |gold| x |pred| matrix. Hard oracle: counts
    are exact integers, each share one correctly-rounded 6-dp
    division."""
    from .text import lang_id

    docs = _t(spark, sf, "documents")
    pred = lang_id(docs).select("doc_id", "lang_pred")
    cm = (docs.select("doc_id", F.col("lang").alias("gold"))
          .join(pred, "doc_id")
          .groupBy("gold", F.col("lang_pred").alias("pred"))
          .agg(F.count("*").alias("n")))
    wg = Window.partitionBy("gold")
    wp = Window.partitionBy("pred")
    return cm.select(
        "gold", "pred", "n",
        F.round(F.col("n").cast("double")
                / F.sum("n").over(wg).cast("double"), 6)
        .alias("recall_share"),
        F.round(F.col("n").cast("double")
                / F.sum("n").over(wp).cast("double"), 6)
        .alias("precision_share"))


def _simrank_sql(iterations: int = 3) -> str:
    """plans/graph.simrank unrolled: multiset in-neighbor pair joins
    over e0, HALF_UP integer updates (8*num + 5*ia*ib) // (10*ia*ib)
    in HUGEINT, diagonal pinned to 1e8, zero rows dropped per round —
    bit-exact with no float anywhere."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    nodes AS (SELECT src AS n FROM e0 UNION SELECT dst FROM e0),
    ind AS (SELECT dst, count(*) AS ind FROM e0 GROUP BY dst),
    s0 AS (SELECT n AS u, n AS v, 100000000::HUGEINT AS s FROM nodes)"""
    for k in range(1, iterations + 1):
        sql += f""",
    n{k} AS MATERIALIZED (
        SELECT ea.dst AS a, eb.dst AS b, sum(p.s) AS num
        FROM s{k - 1} p
        JOIN e0 ea ON ea.src = p.u
        JOIN e0 eb ON eb.src = p.v
        GROUP BY 1, 2),
    s{k} AS MATERIALIZED (
        SELECT n AS u, n AS v, 100000000::HUGEINT AS s FROM nodes
        UNION ALL
        SELECT u, v, s FROM (
            SELECT n{k}.a AS u, n{k}.b AS v,
                   (8 * num + 5 * ia.ind * ib.ind)
                       // (10 * ia.ind * ib.ind) AS s
            FROM n{k}
            JOIN ind ia ON ia.dst = n{k}.a
            JOIN ind ib ON ib.dst = n{k}.b
            WHERE n{k}.a <> n{k}.b)
        WHERE s > 0)"""
    sql += f"""
    SELECT u, v, s::BIGINT AS s_e8, s::BIGINT::DOUBLE / 1e8 AS simrank
    FROM s{iterations} WHERE u < v"""
    return sql


@query(_simrank_sql(3))
def graph_simrank(spark, sf):
    """3-iteration SimRank over the deterministic KG multigraph
    (plans/graph.simrank): all-integer 1e-8-grid HALF_UP updates, so
    the unrolled DuckDB twin (HUGEINT arithmetic, multiset in-
    neighbor joins) is bit-identical with no float protocol at all.
    Returns the u < v half of the symmetric nonzero pair frame."""
    from ..plans.graph import simrank

    return simrank(_kg_graph_edges(spark, sf), iterations=3)


@query("""
    WITH RECURSIVE m AS (
        SELECT 'ent:m' || lpad(doc_id::VARCHAR, 4, '0') AS ent,
               ('0x' || substr(sha256('ifpm:' || doc_id), 1, 15))::UBIGINT
                   % 97 AS vm,
               ('0x' || substr(sha256('ifph:' || doc_id), 1, 15))::UBIGINT
                   % 61 AS vh
        FROM documents WHERE doc_id < 500
    ),
    p AS (
        SELECT 'foaf:mbox' AS pred, vm::VARCHAR AS val, ent FROM m
        UNION ALL
        SELECT 'foaf:homepage', vh::VARCHAR, ent FROM m
    ),
    g AS (SELECT pred, val, min(ent) AS canon FROM p GROUP BY 1, 2),
    e0 AS (
        SELECT DISTINCT p.ent AS a, g.canon AS b
        FROM p JOIN g USING (pred, val) WHERE p.ent <> g.canon
    ),
    sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    r(id, t) AS (
        SELECT ent, ent FROM m
        UNION
        SELECT r.id, sym.b FROM r JOIN sym ON r.t = sym.a
    )
    SELECT id AS entity_iri, min(t) AS canonical_id FROM r GROUP BY id
""")
def kg_ifp_smush(spark, sf):
    """owl:InverseFunctionalProperty entity smushing
    (plans/linking.ifp_smush): 500 author mentions carry two IFP
    assertions each (a shared mailbox drawn from 97 values, a shared
    homepage from 61), and subjects sharing EITHER value must smush
    transitively into one canonical entity. Star edges to the
    per-(pred,value) min + pointer-doubling connected components;
    hard oracle: DuckDB re-derives both IFP values from the same
    sha256 recipe and closes the equivalence with a recursive CTE."""
    from ..plans.linking import ifp_smush

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 500)

    def smod(salt, n):
        return F.pmod(
            F.conv(F.substring(
                F.sha2(F.concat(F.lit(salt), d.cast("string")), 256),
                1, 15), 16, 10).cast("long"), F.lit(n))

    ent = F.concat(F.lit("ent:m"),
                   F.lpad(d.cast("string"), 4, "0")).alias("subj")
    mbox = docs.select(
        ent, F.lit("foaf:mbox").alias("pred"),
        F.concat(F.lit("mailto:dev"), smod("ifpm:", 97).cast("string"),
                 F.lit("@example.org")).alias("obj"))
    home = docs.select(
        ent, F.lit("foaf:homepage").alias("pred"),
        F.concat(F.lit("http://home.example.org/u/"),
                 smod("ifph:", 61).cast("string")).alias("obj"))
    triples = mbox.unionByName(home)
    return ifp_smush(triples, ["foaf:mbox", "foaf:homepage"])


_ENTAIL_ENT = "'ent:e' || lpad(doc_id::VARCHAR, 4, '0')"


_ENTAIL_ENT2 = "'ent:e' || lpad(((doc_id*7+1) % 500)::VARCHAR, 4, '0')"


@query(f"""
    WITH RECURSIVE d AS (
        SELECT {_ENTAIL_ENT} AS subj, 'rdf:type' AS pred,
               'c' || (doc_id % 4) AS obj
        FROM documents WHERE doc_id < 500
        UNION ALL
        SELECT {_ENTAIL_ENT}, 'p' || (doc_id % 3), {_ENTAIL_ENT2}
        FROM documents WHERE doc_id < 500
    ),
    sch(subj, pred, obj) AS (
        VALUES ('c0', 'rdfs:subClassOf', 'c1'),
               ('c1', 'rdfs:subClassOf', 'c2'),
               ('c3', 'rdfs:subClassOf', 'c2'),
               ('p0', 'rdfs:subPropertyOf', 'p1'),
               ('p1', 'rdfs:subPropertyOf', 'p2'),
               ('p0', 'rdfs:domain', 'c3'),
               ('p2', 'rdfs:range', 'c0')
    ),
    spc(sub, sup) AS (
        SELECT subj, obj FROM sch WHERE pred = 'rdfs:subPropertyOf'
        UNION
        SELECT spc.sub, s.obj FROM spc
        JOIN sch s ON s.subj = spc.sup
        WHERE s.pred = 'rdfs:subPropertyOf'
    ),
    scc(sub, sup) AS (
        SELECT subj, obj FROM sch WHERE pred = 'rdfs:subClassOf'
        UNION
        SELECT scc.sub, s.obj FROM scc
        JOIN sch s ON s.subj = scc.sup
        WHERE s.pred = 'rdfs:subClassOf'
    ),
    ext AS MATERIALIZED (
        SELECT subj, pred, obj FROM d
        UNION
        SELECT d.subj, spc.sup, d.obj FROM d JOIN spc ON d.pred = spc.sub
    ),
    ty0 AS MATERIALIZED (
        SELECT subj AS s, obj AS c FROM ext WHERE pred = 'rdf:type'
        UNION
        SELECT ext.subj, sch.obj FROM ext
        JOIN sch ON sch.subj = ext.pred AND sch.pred = 'rdfs:domain'
        UNION
        SELECT ext.obj, sch.obj FROM ext
        JOIN sch ON sch.subj = ext.pred AND sch.pred = 'rdfs:range'
    ),
    ty AS (
        SELECT s, c FROM ty0
        UNION
        SELECT ty0.s, scc.sup FROM ty0 JOIN scc ON ty0.c = scc.sub
    ),
    closure AS (
        SELECT subj, pred, obj FROM ext
        UNION
        SELECT s, 'rdf:type', c FROM ty
        UNION
        SELECT subj, pred, obj FROM sch
        UNION
        SELECT sub, 'rdfs:subPropertyOf', sup FROM spc
        UNION
        SELECT sub, 'rdfs:subClassOf', sup FROM scc
    ),
    given AS (SELECT subj, pred, obj FROM d
              UNION SELECT subj, pred, obj FROM sch)
    SELECT DISTINCT c.subj, c.pred, c.obj, (g.subj IS NULL) AS inferred
    FROM closure c
    LEFT JOIN given g ON g.subj = c.subj AND g.pred = c.pred
                     AND g.obj = c.obj
""")
def kg_rdfs_entail(spark, sf):
    """RDFS rho-df closure materialization (plans/entail.rdfs_closure)
    over a deterministic doc-derived ABox: 500 entities typed into a
    4-class hierarchy with a branch (c0<c1<c2, c3<c2), three
    properties in a subPropertyOf chain (p0<p1<p2) with a domain on
    p0 and a range on p2 — so one asserted (s p0 o) entails the p1/p2
    triples, types s into c3 (domain) then c2 (rdfs9), and types o
    into c0 (range, inherited through the chain) then c1, c2. Hard
    oracle: DuckDB closes both schema hierarchies with recursive CTEs
    and replays the rho-df stratification rule for rule."""
    from ..plans.entail import rdfs_closure

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 500)
    ent = F.concat(F.lit("ent:e"),
                   F.lpad(d.cast("string"), 4, "0"))
    ent2 = F.concat(F.lit("ent:e"),
                    F.lpad(((d * 7 + 1) % 500).cast("string"), 4, "0"))
    data = (docs.select(ent.alias("subj"),
                        F.lit("rdf:type").alias("pred"),
                        F.concat(F.lit("c"), (d % 4).cast("string"))
                        .alias("obj"))
            .unionByName(docs.select(
                ent.alias("subj"),
                F.concat(F.lit("p"), (d % 3).cast("string")).alias("pred"),
                ent2.alias("obj"))))
    schema = spark.createDataFrame(
        [("c0", "rdfs:subClassOf", "c1"), ("c1", "rdfs:subClassOf", "c2"),
         ("c3", "rdfs:subClassOf", "c2"),
         ("p0", "rdfs:subPropertyOf", "p1"),
         ("p1", "rdfs:subPropertyOf", "p2"),
         ("p0", "rdfs:domain", "c3"), ("p2", "rdfs:range", "c0")],
        "subj string, pred string, obj string")
    return rdfs_closure(data, schema)


@query("""
    WITH RECURSIVE ee AS (
        SELECT doc_id AS i, 'ent:e' || lpad(doc_id::VARCHAR, 4, '0') AS e
        FROM documents WHERE doc_id < 500
    ),
    d AS (
        SELECT a.e AS subj, 'partOf' AS pred, b.e AS obj
        FROM ee a JOIN ee b ON b.i = a.i + 1
        WHERE a.i % 16 <> 15 AND a.i < 499
        UNION ALL
        SELECT a.e, 'hasPart', b.e
        FROM ee a JOIN ee b ON b.i = (a.i + 250) % 500
        WHERE a.i % 50 = 0
        UNION ALL
        SELECT a.e, 'connectedTo', b.e
        FROM ee a JOIN ee b ON b.i = (a.i * 7 + 3) % 500
        WHERE a.i % 5 = 0
    ),
    sch(subj, pred, obj) AS (
        VALUES ('partOf', 'rdf:type', 'owl:TransitiveProperty'),
               ('hasPart', 'owl:inverseOf', 'partOf'),
               ('connectedTo', 'rdf:type', 'owl:SymmetricProperty')
    ),
    inv(p, q) AS (
        SELECT subj, obj FROM sch WHERE pred = 'owl:inverseOf'
        UNION
        SELECT obj, subj FROM sch WHERE pred = 'owl:inverseOf'
    ),
    sym(p) AS (SELECT subj FROM sch
               WHERE pred = 'rdf:type' AND obj = 'owl:SymmetricProperty'),
    tp(p) AS (SELECT subj FROM sch
              WHERE pred = 'rdf:type' AND obj = 'owl:TransitiveProperty'),
    si1 AS MATERIALIZED (
        SELECT subj, pred, obj FROM d
        UNION
        SELECT t.obj, t.pred, t.subj FROM d t JOIN sym ON sym.p = t.pred
        UNION
        SELECT t.obj, inv.q, t.subj FROM d t JOIN inv ON inv.p = t.pred
    ),
    si2 AS MATERIALIZED (
        SELECT subj, pred, obj FROM si1
        UNION
        SELECT t.obj, t.pred, t.subj FROM si1 t JOIN sym ON sym.p = t.pred
        UNION
        SELECT t.obj, inv.q, t.subj FROM si1 t JOIN inv ON inv.p = t.pred
    ),
    tc(p, s, o) AS (
        SELECT t.pred, t.subj, t.obj FROM si2 t JOIN tp ON tp.p = t.pred
        UNION
        SELECT tc.p, tc.s, t.obj
        FROM tc JOIN si2 t ON t.pred = tc.p AND t.subj = tc.o
    ),
    u1 AS MATERIALIZED (
        SELECT subj, pred, obj FROM si2
        UNION SELECT s, p, o FROM tc
    ),
    f1 AS MATERIALIZED (
        SELECT subj, pred, obj FROM u1
        UNION
        SELECT t.obj, t.pred, t.subj FROM u1 t JOIN sym ON sym.p = t.pred
        UNION
        SELECT t.obj, inv.q, t.subj FROM u1 t JOIN inv ON inv.p = t.pred
    ),
    f2 AS MATERIALIZED (
        SELECT subj, pred, obj FROM f1
        UNION
        SELECT t.obj, t.pred, t.subj FROM f1 t JOIN sym ON sym.p = t.pred
        UNION
        SELECT t.obj, inv.q, t.subj FROM f1 t JOIN inv ON inv.p = t.pred
    ),
    closure AS (
        SELECT subj, pred, obj FROM f2
        UNION SELECT subj, pred, obj FROM sch
    ),
    given AS (SELECT subj, pred, obj FROM d
              UNION SELECT subj, pred, obj FROM sch)
    SELECT DISTINCT c.subj, c.pred, c.obj, (g.subj IS NULL) AS inferred
    FROM closure c
    LEFT JOIN given g ON g.subj = c.subj AND g.pred = c.pred
                     AND g.obj = c.obj
""")
def kg_owl_entail(spark, sf):
    """OWL-Horst property-rule closure (plans/entail.owl_horst_closure)
    over a doc-derived ABox: partOf chains inside 16-blocks (declared
    owl:TransitiveProperty), hasPart cross-block edges (declared
    owl:inverseOf partOf — their inverses SPLICE chains together, so
    the transitive closure crosses blocks), and a symmetric
    connectedTo relation. The full closure — inverse images of the
    transitive closure included — must come back. Hard oracle:
    recursive-CTE reachability per transitive predicate plus fixed-
    depth symmetric/inverse strata (depth 2 covers this schema; the
    operator itself iterates to fixpoint)."""
    from ..plans.entail import owl_horst_closure

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id").filter(d < 500)

    def e(c):
        return F.concat(F.lit("ent:e"), F.lpad(c.cast("string"), 4, "0"))

    part = (docs.filter((d % 16 != 15) & (d < 499))
            .select(e(d).alias("subj"), F.lit("partOf").alias("pred"),
                    e(d + 1).alias("obj")))
    haspart = (docs.filter(d % 50 == 0)
               .select(e(d).alias("subj"), F.lit("hasPart").alias("pred"),
                       e((d + 250) % 500).alias("obj")))
    conn = (docs.filter(d % 5 == 0)
            .select(e(d).alias("subj"),
                    F.lit("connectedTo").alias("pred"),
                    e((d * 7 + 3) % 500).alias("obj")))
    data = part.unionByName(haspart).unionByName(conn)
    schema = spark.createDataFrame(
        [("partOf", "rdf:type", "owl:TransitiveProperty"),
         ("hasPart", "owl:inverseOf", "partOf"),
         ("connectedTo", "rdf:type", "owl:SymmetricProperty")],
        "subj string, pred string, obj string")
    return owl_horst_closure(data, schema)


@query("""
    WITH base AS (
        SELECT (doc_id % 2 = 1) AS is_new,
               list_distinct(regexp_extract_all(lower(text),
                                                '[a-z0-9]+')) AS toks
        FROM documents
    ),
    totals AS (
        SELECT max(CASE WHEN NOT is_new THEN n END) AS n_old,
               max(CASE WHEN is_new THEN n END) AS n_new
        FROM (SELECT is_new, count(*) AS n FROM base GROUP BY is_new)
    ),
    df AS (
        SELECT term,
               sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS df_old,
               sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS df_new
        FROM (SELECT is_new, unnest(toks) AS term FROM base)
        GROUP BY term
        HAVING df_old >= 2 AND df_new >= 2
    )
    SELECT term, df_old::BIGINT AS df_old, df_new::BIGINT AS df_new,
           round(ln(n_old::DOUBLE / df_old::DOUBLE), 8) AS idf_old,
           round(ln(n_new::DOUBLE / df_new::DOUBLE), 8) AS idf_new,
           round(round(ln(n_new::DOUBLE / df_new::DOUBLE), 8)
                 - round(ln(n_old::DOUBLE / df_old::DOUBLE), 8), 8)
               AS shift
    FROM df, totals
    ORDER BY abs(round(round(ln(n_new::DOUBLE / df_new::DOUBLE), 8)
                 - round(ln(n_old::DOUBLE / df_old::DOUBLE), 8), 8))
                 DESC, term
    LIMIT 50
""")
def text_idf_drift(spark, sf):
    """Cross-snapshot IDF drift — the vocabulary-shift monitor between
    two crawl snapshots (here the deterministic doc_id-parity split):
    terms whose inverse document frequency moved most between the
    halves, i.e. the topical drift a refreshed corpus introduces.
    idf = round(ln(n/df), 8) per split on identical integer inputs
    (bit-equal doubles cross-engine); shift = round(idf_new -
    idf_old, 8); page = top 50 by |shift| with the term tiebreak,
    planned as TakeOrderedAndProject. Diamond-free: the tokenized
    projection is checkpointed once and feeds both the per-split
    totals and the per-term document frequencies."""
    docs = _t(spark, sf, "documents")
    base = (docs.select((F.col("doc_id") % 2 == 1).alias("is_new"),
                        F.array_distinct(
                            F.regexp_extract_all(
                                F.lower(F.col("text")),
                                F.lit("[a-z0-9]+"), 0)).alias("toks"))
            .localCheckpoint(eager=False))
    totals = (base.groupBy("is_new").agg(F.count("*").alias("n"))
              .select(
                  F.max(F.when(~F.col("is_new"), F.col("n"))).alias("n_old"),
                  F.max(F.when(F.col("is_new"), F.col("n"))).alias("n_new")))
    df_ = (base.select("is_new", F.explode("toks").alias("term"))
           .groupBy("term").agg(
               F.sum((~F.col("is_new")).cast("long")).alias("df_old"),
               F.sum(F.col("is_new").cast("long")).alias("df_new"))
           .filter((F.col("df_old") >= 2) & (F.col("df_new") >= 2)))
    j = df_.crossJoin(F.broadcast(totals))
    idf_old = F.round(F.log(F.col("n_old").cast("double")
                            / F.col("df_old").cast("double")), 8)
    idf_new = F.round(F.log(F.col("n_new").cast("double")
                            / F.col("df_new").cast("double")), 8)
    shift = F.round(idf_new - idf_old, 8)
    out = j.select("term", "df_old", "df_new",
                   idf_old.alias("idf_old"), idf_new.alias("idf_new"),
                   shift.alias("shift"))
    return (out.orderBy(F.abs(F.col("shift")).desc(),
                        F.asc("term")).limit(50))


@query("""
    WITH tri AS (
        SELECT event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS path,
           count(*) AS n
    FROM tri WHERE t3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 25
""")
def events_paths(spark, sf):
    """Top user-journey paths of length 3: per user, events ordered by
    (ts, event_id), consecutive type trigrams counted corpus-wide —
    the path-analysis complement to events_markov's bigram matrix
    (a>b>c reveals detours a Markov chain factorizes away). One
    user-keyed window pass + one path count; page = top 25 by count
    with the path tiebreak (TakeOrderedAndProject)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (ev.select("user_id", "event_type",
                     F.lead("event_type", 1).over(w).alias("t2"),
                     F.lead("event_type", 2).over(w).alias("t3"))
           .filter(F.col("t3").isNotNull()))
    paths = (tri.select(F.concat_ws(">", "event_type", "t2", "t3")
                        .alias("path"))
             .groupBy("path").agg(F.count("*").alias("n")))
    return paths.orderBy(F.desc("n"), F.asc("path")).limit(25)


def _triad_census_sql() -> str:
    """Brute-force triad census twin: every a<b<c triple from the
    500-node universe, dyad codes via LEFT JOINs, the SAME generated
    64->16 CASE as the Spark operator (imported, not re-derived)."""
    from ..plans.graph import TRIAD_LABELS, triad_code_table

    tbl = triad_code_table()
    case = "CASE c12*16 + c13*4 + c23 " + " ".join(
        f"WHEN {k} THEN '{v}'" for k, v in sorted(tbl.items())) + " END"
    labels = ", ".join(f"('{x}')" for x in TRIAD_LABELS)
    return f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    ed AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
    dy AS (
        SELECT least(src, dst) AS a, greatest(src, dst) AS b,
               max(CASE WHEN src < dst THEN 1 ELSE 0 END)
               + 2 * max(CASE WHEN src > dst THEN 1 ELSE 0 END) AS code
        FROM ed GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS v FROM ed UNION SELECT dst FROM ed),
    tri AS (
        SELECT n1.v AS t1, n2.v AS t2, n3.v AS t3
        FROM nodes n1 JOIN nodes n2 ON n2.v > n1.v
                      JOIN nodes n3 ON n3.v > n2.v
    ),
    coded AS (
        SELECT coalesce(d12.code, 0) AS c12,
               coalesce(d13.code, 0) AS c13,
               coalesce(d23.code, 0) AS c23
        FROM tri
        LEFT JOIN dy d12 ON d12.a = tri.t1 AND d12.b = tri.t2
        LEFT JOIN dy d13 ON d13.a = tri.t1 AND d13.b = tri.t3
        LEFT JOIN dy d23 ON d23.a = tri.t2 AND d23.b = tri.t3
    ),
    census AS (SELECT {case} AS triad, count(*) AS n
               FROM coded GROUP BY 1),
    lbl(triad) AS (VALUES {labels})
    SELECT lbl.triad, coalesce(census.n, 0)::BIGINT AS n
    FROM lbl LEFT JOIN census USING (triad)"""


@query(_triad_census_sql())
def graph_triads(spark, sf):
    """Holland-Leinhardt 16-class directed triad census over the
    deterministic KG multigraph (plans/graph.triad_census): connected
    triads enumerated via wedge joins (Batagelj-Mrvar), disconnected
    classes closed-form. Hard oracle: DuckDB classifies ALL C(500,3)
    = 20.7M node triples BRUTE FORCE with the same generated 64->16
    code CASE — a fully independent enumeration (no wedge trick, no
    closed forms), so the decomposition identities themselves are
    cross-checked, not just replayed."""
    from ..plans.graph import triad_census

    return triad_census(_kg_graph_edges(spark, sf))


@query(_bpe_ctes() + """
    , wl AS (SELECT doc_id, sum(length(w)) AS wchars
             FROM words GROUP BY doc_id),
    per AS (
        SELECT d.lang, count(*) AS n_docs,
               sum(coalesce(p.n_words, 0)) AS n_words,
               sum(coalesce(p.n_bpe, 0)) AS n_bpe,
               sum(coalesce(wl.wchars, 0)) AS n_chars
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id)
        LEFT JOIN wl USING (doc_id)
        GROUP BY d.lang)
    SELECT lang, n_docs::BIGINT AS n_docs, n_words::BIGINT AS n_words,
           n_bpe::BIGINT AS n_bpe_tokens, n_chars::BIGINT AS n_word_chars,
           ((2 * n_bpe * 1000000 + n_words)
                // (2 * n_words))::BIGINT AS fertility_e6,
           ((2 * n_bpe * 1000000 + n_words)
                // (2 * n_words))::BIGINT::DOUBLE / 1e6 AS fertility,
           ((2 * n_chars * 1000000 + n_bpe)
                // (2 * n_bpe))::BIGINT AS chars_per_token_e6,
           ((2 * n_chars * 1000000 + n_bpe)
                // (2 * n_bpe))::BIGINT::DOUBLE / 1e6 AS chars_per_token
    FROM per
    """)
def text_fertility(spark, sf):
    """Per-language tokenizer fertility — tokens-per-word and
    chars-per-token under the frozen toy-BPE vocab, the budget stats
    a tokenizer owner watches per language (high fertility = the
    vocab under-serves that language and its docs cost more tokens
    than their text warrants). ONE mapInPandas pass carries lang and
    word-char sums through (no second corpus scan); the rollup is a
    |langs|-row groupBy; ratios are HALF_UP on the 1e6 integer grid.
    Hard oracle: the recursive-CTE greedy segmentation (the
    text_bpe_tokens twin) aggregated per language with identical
    integer arithmetic."""
    from .text import bpe_token_counts

    base = bpe_token_counts(_t(spark, sf, "documents"),
                            passthrough=["lang"], with_chars=True)
    g = base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        F.sum("n_word_chars").alias("n_word_chars"))
    fert = F.expr(
        "(2 * CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000"
        " + CAST(n_words AS DECIMAL(38,0)))"
        " div (2 * CAST(n_words AS DECIMAL(38,0)))").cast("long")
    cpt = F.expr(
        "(2 * CAST(n_word_chars AS DECIMAL(38,0)) * 1000000"
        " + CAST(n_bpe_tokens AS DECIMAL(38,0)))"
        " div (2 * CAST(n_bpe_tokens AS DECIMAL(38,0)))").cast("long")
    return g.select(
        "lang", "n_docs", "n_words", "n_bpe_tokens", "n_word_chars",
        fert.alias("fertility_e6"),
        (fert.cast("double") / F.lit(1e6)).alias("fertility"),
        cpt.alias("chars_per_token_e6"),
        (cpt.cast("double") / F.lit(1e6)).alias("chars_per_token"))


def _ppr_push_sql(rounds: int = 8) -> str:
    """plans/graph.ppr_push unrolled: per round, pushers (every node
    with r > 0 and an out-edge) move r*15//100 into p, spread
    (rem // deg) per out-edge, keep the integer dust — BIGINT
    arithmetic end to end."""
    sql = f"""
    WITH {_KG_GRAPH_EDGES_CTE},
    deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
    nodes AS (SELECT src AS node_id FROM e0 UNION SELECT dst FROM e0),
    ns AS (SELECT count(*) AS n FROM (
               SELECT DISTINCT node_id FROM nodes
               WHERE node_id % 50 = 0)),
    s0 AS (
        SELECT n.node_id, coalesce(d.deg, 0)::BIGINT AS deg,
               0::BIGINT AS p,
               CASE WHEN n.node_id % 50 = 0
                    THEN (1000000000000 // (SELECT n FROM ns))::BIGINT
                    ELSE 0::BIGINT END AS r
        FROM nodes n LEFT JOIN deg d ON d.src = n.node_id)"""
    for k in range(1, rounds + 1):
        sql += f""",
    t{k} AS MATERIALIZED (
        SELECT node_id, deg,
               CASE WHEN deg > 0 AND r > 0 * deg
                    THEN p + (r * 15) // 100
                    ELSE p END AS p,
               CASE WHEN deg > 0 AND r > 0 * deg
                    THEN (r - (r * 15) // 100)
                         - ((r - (r * 15) // 100)
                            // deg) * deg
                    ELSE r END AS keep,
               CASE WHEN deg > 0 AND r > 0 * deg
                    THEN (r - (r * 15) // 100) // deg
                    ELSE 0 END AS q
        FROM s{k - 1}),
    g{k} AS MATERIALIZED (
        SELECT e0.dst, sum(t.q) AS gain
        FROM t{k} t JOIN e0 ON e0.src = t.node_id
        WHERE t.q > 0 GROUP BY e0.dst),
    s{k} AS MATERIALIZED (
        SELECT t.node_id, t.deg, t.p,
               (t.keep + coalesce(g.gain, 0))::BIGINT AS r
        FROM t{k} t LEFT JOIN g{k} g ON g.dst = t.node_id)"""
    sql += f"""
    SELECT node_id, p::BIGINT AS p_e12, r::BIGINT AS r_e12
    FROM s{rounds} WHERE p > 0 OR r > 0"""
    return sql


@query(_ppr_push_sql(8))
def graph_ppr_push(spark, sf):
    """Batched ACL local-push PPR (plans/graph.ppr_push) from the 10
    node_id%50==0 seeds, 8 rounds, exact integer mass conservation on
    the 1e-12 grid (sum p + sum r == 10^12 every round). Hard oracle:
    8 unrolled rounds of the identical long arithmetic in DuckDB."""
    from ..plans.graph import ppr_push

    edges = _kg_graph_edges(spark, sf)
    seeds = (edges.select(F.col("src").alias("node_id"))
             .filter(F.col("node_id") % 50 == 0).distinct())
    return ppr_push(edges, seeds, rounds=8)


@query("""
    WITH pairs AS (
        SELECT event_type AS prev_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    cnt AS (SELECT prev_type, next_type, count(*) AS n
            FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT prev_type, sum(n) AS tot FROM cnt GROUP BY 1),
    h AS (
        SELECT c.prev_type, max(t.tot) AS n_from,
               -cast(sum(cast(round((c.n::DOUBLE / t.tot::DOUBLE)
                                    * round(ln(c.n::DOUBLE
                                               / t.tot::DOUBLE), 8), 8)
                              AS DECIMAL(28,8))) AS DOUBLE) AS h_cond
        FROM cnt c JOIN tot t USING (prev_type) GROUP BY c.prev_type
    ),
    bn AS (SELECT sum(n_from)::DOUBLE AS big_n FROM h),
    rate AS (
        SELECT cast(sum(cast(round((h.n_from::DOUBLE / bn.big_n)
                                   * h.h_cond, 8)
                             AS DECIMAL(28,8))) AS DOUBLE) AS rate
        FROM h, bn
    )
    SELECT h.prev_type, h.n_from::BIGINT AS n_from,
           round(h.n_from::DOUBLE / bn.big_n, 6) AS share,
           round(h.h_cond, 8) AS h_cond,
           round(rate.rate, 8) AS rate
    FROM h, bn, rate
""")
def events_entropy_rate(spark, sf):
    """Entropy rate of the user-journey Markov chain — the single
    predictability scalar over the transition matrix (low = rigid
    funnels, high = undirected wandering): per prev-type conditional
    entropy H_i = -sum_j p_ij * ln(p_ij) with p_ij the exact
    empirical ratio n_ij/n_i (IEEE division of exact integers), each
    term re-rounded to 8 dp and summed as exact decimals; the rate
    is sum_i pi_i * H_i with pi the prev-type share, terms on the
    same 8-dp grid. One user-keyed window pass + one matrix-sized
    aggregate (the events_markov budget); every float op is a fixed
    IEEE sequence on identical inputs, so the DuckDB twin is
    bit-exact."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select("event_type",
                       F.lead("event_type").over(w).alias("next_type"))
             .filter(F.col("next_type").isNotNull()))
    cnt = (pairs.groupBy(F.col("event_type").alias("prev_type"),
                         "next_type")
           .agg(F.count("*").alias("n")))
    tot = cnt.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    term = F.round(p * F.round(F.log(p), 8), 8).cast("decimal(28,8)")
    h = (cnt.join(tot, "prev_type")
         .groupBy("prev_type")
         .agg(F.max("tot").alias("n_from"),
              (-F.sum(term).cast("double")).alias("h_cond")))
    big_n = h.agg(F.sum("n_from").cast("double").alias("big_n"))
    hj = h.crossJoin(F.broadcast(big_n))
    share = F.col("n_from").cast("double") / F.col("big_n")
    contrib = F.round(share * F.col("h_cond"), 8).cast("decimal(28,8)")
    rate = hj.agg(F.sum(contrib).cast("double").alias("rate"))
    return (hj.crossJoin(F.broadcast(rate))
            .select("prev_type", "n_from",
                    F.round(share, 6).alias("share"),
                    F.round("h_cond", 8).alias("h_cond"),
                    F.round("rate", 8).alias("rate")))


def _mojibake_sql() -> str:
    """The text_mojibake oracle: the identical corruption chain and
    length-diff/translate detector, with every mojibake signature
    emitted as chr() concatenations so no raw C1 bytes live in this
    source file. HALF_UP ppm on the 1e6 grid via // (positive, so
    DuckDB floor == Spark truncation)."""
    from .text import CTRL_CHARS, MOJIBAKE_SIGNATURES

    def lit(s: str) -> str:
        return " || ".join(f"chr({ord(c)})" for c in s)

    moji_terms = " + ".join(
        f"(length(text) - length(replace(text, {lit(sig)}, ''))) // {len(sig)}"
        for sig in MOJIBAKE_SIGNATURES)
    ctrl = lit(CTRL_CHARS)
    sig_e = lit(MOJIBAKE_SIGNATURES[0])
    sig_q = lit(MOJIBAKE_SIGNATURES[5])
    return f"""
    WITH c1 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN replace(text, 'e', {sig_e}) ELSE text END AS t1
        FROM documents
    ),
    c2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0
                    THEN t1 || repeat(chr(65533), (1 + doc_id % 3)::INT)
                            || chr(7)
                    ELSE t1 END AS t2
        FROM c1
    ),
    c AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0
                    THEN replace(t2, 's', {sig_q}) ELSE t2 END AS text
        FROM c2
    ),
    det AS (
        SELECT doc_id, length(text) AS ln,
               {moji_terms} AS n_moji,
               length(text) - length(replace(text, chr(65533), ''))
                   AS n_repl,
               length(text) - length(translate(text, {ctrl}, ''))
                   AS n_ctrl
        FROM c
    )
    SELECT doc_id, n_moji::BIGINT AS n_moji, n_repl::BIGINT AS n_repl,
           n_ctrl::BIGINT AS n_ctrl,
           CASE WHEN ln > 0
                THEN ((2 * (n_moji + n_repl + n_ctrl) * 1000000 + ln)
                      // (2 * ln))::BIGINT
                ELSE 0 END AS noise_ppm,
           (n_moji + n_repl + n_ctrl) > 0 AS flag
    FROM det"""


@query(_mojibake_sql())
def text_mojibake(spark, sf):
    """Encoding-noise detection over an adversarially corrupted copy of
    the corpus: docs with doc_id%7==0 get 'e' double-decoded to the
    UTF-8-as-Latin-1 'e-acute' pair, %11==0 get trailing replacement
    characters plus a BEL control byte, %13==0 get mojibake right
    quotes — then operators/text.encoding_noise must flag exactly
    those and count every artifact. Detection is pure length-diff /
    translate string algebra (no regex), so the DuckDB twin carries
    the identical expressions built from the same signature table
    (hard oracle, counts + the HALF_UP ppm density bit-for-bit)."""
    from .text import MOJIBAKE_SIGNATURES, encoding_noise

    docs = _t(spark, sf, "documents")
    sig_e = MOJIBAKE_SIGNATURES[0]      # e-acute pair
    sig_q = MOJIBAKE_SIGNATURES[5]      # right-quote triple
    d = F.col("doc_id")
    t1 = F.when(d % 7 == 0,
                F.replace(F.col("text"), F.lit("e"), F.lit(sig_e))) \
        .otherwise(F.col("text"))
    t2 = F.when(d % 11 == 0,
                F.concat(t1,
                         F.repeat(F.lit("\ufffd"), (1 + d % 3).cast("int")),
                         F.lit("\u0007"))).otherwise(t1)
    t3 = F.when(d % 13 == 0,
                F.replace(t2, F.lit("s"), F.lit(sig_q))).otherwise(t2)
    return encoding_noise(docs.select("doc_id", t3.alias("text")))


def _rake_sql() -> str:
    """The text_rake oracle: sentinel phrase split + HALF_UP integer
    deg/freq word scores, replayed verbatim (stopword list inlined
    from the operator's RAKE_STOPWORDS)."""
    from .text import RAKE_STOPWORDS

    stops = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    return f"""
    WITH toks AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS l
        FROM documents
    ),
    marked AS (
        SELECT list_transform(
                   l, t -> CASE WHEN t IN ({stops})
                                THEN '|' ELSE t END) AS m
        FROM toks
    ),
    ph0 AS (
        SELECT trim(p) AS phrase
        FROM (SELECT unnest(string_split(array_to_string(m, ' '), '|'))
                     AS p
              FROM marked)
        WHERE trim(p) <> ''
    ),
    ph AS (
        SELECT phrase, len(string_split(phrase, ' ')) AS plen
        FROM ph0 WHERE len(string_split(phrase, ' ')) <= 4
    ),
    w AS (
        SELECT unnest(string_split(phrase, ' ')) AS word, plen FROM ph
    ),
    ws AS (
        SELECT word,
               (2 * sum(plen) * 100000000 + count(*))
                   // (2 * count(*)) AS w_e8
        FROM w GROUP BY word
    ),
    pc AS (SELECT phrase, count(*) AS n_occ FROM ph GROUP BY phrase),
    pw AS (
        SELECT phrase, n_occ,
               unnest(string_split(phrase, ' ')) AS word
        FROM pc
    ),
    psc AS (
        SELECT phrase, n_occ, sum(w_e8) AS score_e8,
               count(*) AS n_words
        FROM pw JOIN ws USING (word) GROUP BY 1, 2
    )
    SELECT phrase, n_words::BIGINT AS n_words, n_occ::BIGINT AS n_occ,
           score_e8::BIGINT AS score_e8,
           score_e8::BIGINT::DOUBLE / 1e8 AS score
    FROM psc
    ORDER BY score_e8 DESC, n_occ DESC, phrase
    LIMIT 50"""


@query(_rake_sql())
def text_rake(spark, sf):
    """RAKE keyword extraction (Rose et al. 2010) over the corpus —
    top-50 candidate phrases by summed word deg/freq scores on the
    1e-8 integer grid (operators/text.rake_keywords). Hard oracle:
    DuckDB replays the sentinel phrase split and the identical
    HALF_UP integer arithmetic."""
    from .text import rake_keywords

    return rake_keywords(_t(spark, sf, "documents"))


@query("""
    WITH base AS (
        SELECT doc_id, source,
               'NAV ' || source || ' | HOME | ABOUT' || chr(10) || text
               || CASE WHEN doc_id % 3 <> 2
                       THEN chr(10) || 'Cookie notice for ' || source
                            || ' - accept to continue' ELSE '' END
               || CASE WHEN doc_id % 17 = 0
                       THEN chr(10) || 'PROMO ' || source ELSE '' END
               || chr(10) || 'Copyright ' || source AS page
        FROM documents),
    lines AS (
        SELECT doc_id, source,
               unnest(string_split(page, chr(10))) AS line,
               unnest(generate_series(1, len(string_split(page, chr(10)))))
                   ::INT AS ord
        FROM base),
    dl AS (SELECT DISTINCT doc_id, source, line FROM lines),
    stat AS (SELECT source, line, count(*) AS nd FROM dl GROUP BY 1, 2),
    tot AS (SELECT source, count(*) AS total FROM base GROUP BY 1),
    boiler AS (
        SELECT s.source, s.line FROM stat s JOIN tot t USING (source)
        WHERE s.nd * 10 >= 3 * t.total AND t.total >= 5),
    kept AS (
        SELECT l.doc_id, l.line, l.ord FROM lines l
        ANTI JOIN boiler b ON b.source = l.source AND b.line = l.line),
    agg AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
    SELECT b.doc_id, b.source,
           coalesce(a.clean_text, '') AS clean_text,
           len(string_split(b.page, chr(10))) AS n_lines,
           len(string_split(b.page, chr(10))) - coalesce(a.n_kept, 0)
               AS n_removed
    FROM base b LEFT JOIN agg a USING (doc_id)
""")
def web_template_lines(spark, sf):
    """Per-site template/boilerplate line removal (the CCNet /
    RefinedWeb repeated-line discipline, operators/
    text.remove_template_lines) over a deterministically templated
    page corpus: every doc gets a NAV header + Copyright footer for
    its source site, ~2/3 get a cookie banner (all three above the
    30% site threshold -> removed), ~1/17 get a PROMO line (below ->
    kept), and the body line is the document's own unique text. The
    flagging rule is exact integer arithmetic (nd*10 >= 3*total), so
    the DuckDB twin — same injection, same threshold, anti-join
    removal — is bit-identical including the reassembled clean_text
    strings."""
    from .text import remove_template_lines

    docs = _t(spark, sf, "documents")
    d, s = F.col("doc_id"), F.col("source")
    page = F.concat(
        F.lit("NAV "), s, F.lit(" | HOME | ABOUT\n"),
        F.col("text"),
        F.when(d % 3 != 2,
               F.concat(F.lit("\nCookie notice for "), s,
                        F.lit(" - accept to continue")))
        .otherwise(F.lit("")),
        F.when(d % 17 == 0, F.concat(F.lit("\nPROMO "), s))
        .otherwise(F.lit("")),
        F.lit("\nCopyright "), s)
    return remove_template_lines(
        docs.select("doc_id", "source", page.alias("text")))


def _kcenter_sql(k: int = 8) -> str:
    """Gonzalez k-center unrolled: round r picks argmax-mind (ties by
    id) from MATERIALIZED state s{r}, then s{r+1} folds the new
    center's distance in with the identical least()/round(,6)."""
    def dot(a, b):
        return (f"list_sum(list_transform(range(1, 65), i -> "
                f"cast({a}[i] AS double) * cast({b}[i] AS double)))")

    sql = f"""
    WITH st AS MATERIALIZED (
        SELECT vec_id, embedding,
               sqrt({dot('embedding', 'embedding')}) AS nrm
        FROM embeddings),
    c0 AS (SELECT * FROM st WHERE vec_id = (SELECT min(vec_id) FROM st)),
    s1 AS MATERIALIZED (
        SELECT s.vec_id, s.embedding, s.nrm,
               round(1.0 - {dot('s.embedding', 'c.embedding')}
                     / (s.nrm * c.nrm), 6) AS mind
        FROM st s CROSS JOIN c0 c)"""
    for r in range(1, k):
        sql += f""",
    p{r} AS (SELECT vec_id, mind FROM s{r}
             ORDER BY mind DESC, vec_id LIMIT 1)"""
        if r < k - 1:
            sql += f""",
    c{r} AS (SELECT s.vec_id, s.embedding, s.nrm
             FROM s{r} s JOIN p{r} USING (vec_id)),
    s{r + 1} AS MATERIALIZED (
        SELECT s.vec_id, s.embedding, s.nrm,
               least(s.mind, round(1.0 - {dot('s.embedding', 'c.embedding')}
                                   / (s.nrm * c.nrm), 6)) AS mind
        FROM s{r} s CROSS JOIN c{r} c)"""
    picks = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS sel_round, vec_id, mind AS sel_dist FROM p{r}"
        for r in range(1, k))
    sql += f"""
    SELECT 0 AS sel_round, vec_id, NULL::DOUBLE AS sel_dist FROM c0
    UNION ALL
    {picks}"""
    return sql


@query(_kcenter_sql(8))
def sample_kcenter(spark, sf):
    """Gonzalez greedy k-center coreset selection over the embeddings
    table (operators/similarity.kcenter_select): 8 mutually-farthest
    exemplars under (1 - cosine) on the 6-dp grid, first center = min
    vec_id, ties by id. sel_dist is the covering radius of the
    previous center set (non-increasing — the k-center radius curve).
    Hard oracle: the 8 rounds unrolled as MATERIALIZED DuckDB CTEs
    carrying the identical least()/round() arithmetic."""
    from .similarity import kcenter_select

    return kcenter_select(_t(spark, sf, "embeddings"), k=8)


@query("""
    WITH base AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 5 = 0
                       THEN chr(10) || 'el la de que y en los por con una'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN chr(10) || 'the of to in is that' ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN chr(10) || '一二三四五'
                       ELSE '' END AS t
        FROM documents),
    segs AS (
        SELECT doc_id, unnest(string_split(t, chr(10))) AS seg FROM base),
    nz AS (SELECT doc_id, seg FROM segs WHERE length(seg) > 0),
    feat AS (
        SELECT doc_id,
               len(list_distinct(list_filter(
                   regexp_extract_all(lower(seg), '[a-z0-9]+'),
                   w -> list_contains(
                       ['the','and','of','to','in','is','that','for',
                        'with','on'], w)))) AS en_hits,
               len(list_distinct(list_filter(
                   regexp_extract_all(lower(seg), '[a-z0-9]+'),
                   w -> list_contains(
                       ['el','la','de','que','y','en','los','por','con',
                        'una'], w)))) AS es_hits,
               cast(length(regexp_replace(seg,
                    '[^一-鿿぀-ヿ]', '', 'g')) AS double)
                   / greatest(length(seg), 1) AS cjk
        FROM nz),
    lab AS (
        SELECT doc_id,
               CASE WHEN cjk > 0.2 THEN 'cjk'
                    WHEN en_hits > es_hits THEN 'en'
                    WHEN es_hits > en_hits THEN 'es'
                    ELSE 'und' END AS lang
        FROM feat),
    pl AS (SELECT doc_id, lang, count(*) AS n FROM lab GROUP BY 1, 2),
    roll AS (SELECT doc_id, sum(n) AS n_segments, count(*) AS n_langs
             FROM pl GROUP BY 1),
    top AS (
        SELECT doc_id, lang AS majority_lang, n AS n_majority FROM (
            SELECT doc_id, lang, n,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY n DESC, lang) AS rk
            FROM pl) WHERE rk = 1)
    SELECT r.doc_id, r.n_segments, r.n_langs, t.majority_lang,
           t.n_majority,
           (2 * (r.n_segments - t.n_majority) * 1000000 + r.n_segments)
               // (2 * r.n_segments) AS off_ppm,
           r.n_langs > 1 AS mixed
    FROM roll r JOIN top t USING (doc_id)
""")
def text_lang_mix(spark, sf):
    """Mixed-language / code-switching detection
    (operators/text.lang_mix) over a deterministically code-switched
    corpus: every doc keeps its base (en-ish) text as segment 1, 1/5
    gain a Spanish-marker segment, 1/7 a second English segment, 1/11
    a pure-CJK segment — the rollup must report the majority label,
    agreement count, and the exact HALF_UP off-majority ppm. Hard
    oracle: DuckDB replays the injection, the per-segment marker
    heuristic (the text_langid expressions), and the integer
    arithmetic bit-for-bit."""
    from .text import lang_mix

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(d % 5 == 0,
               F.lit("\nel la de que y en los por con una"))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("\nthe of to in is that"))
        .otherwise(F.lit("")),
        F.when(d % 11 == 0,
               F.lit("\n一二三四五"))
        .otherwise(F.lit("")))
    return lang_mix(docs.select("doc_id", t.alias("text")))


def _dm_table_sql(table: str, alias: str, pk: str, cols: list[str],
                  fk: tuple[str, str, str] | None) -> str:
    """One table's W3C Direct Mapping arms (type + pk/col literals +
    optional FK reference), mirroring warehouse.direct_mapping."""
    base = "http://example.org/db/"
    subj = f"'{base}{table}/{pk}=' || {pk}"

    def esc(c):
        return ("replace(replace(cast(" + c + " AS VARCHAR),"
                " '\\', '\\\\'), '\"', '\\\"')")

    arms = [f"""SELECT {subj} AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       '{base}{table}' AS obj FROM {alias}"""]
    for c in [pk] + cols:
        arms.append(f"""SELECT {subj}, '{base}{table}#{c}',
       '"' || {esc(c)} || '"' FROM {alias} WHERE {c} IS NOT NULL""")
    if fk:
        fkc, tgt, tpk = fk
        arms.append(f"""SELECT {subj}, '{base}{table}#ref-{fkc}',
       '{base}{tgt}/{tpk}=' || {fkc} FROM {alias}
       WHERE {fkc} IS NOT NULL""")
    return "\n    UNION ALL\n    ".join(arms)


@query("""
    """ + _dm_table_sql("region", "region", "r_regionkey",
                        ["r_name"], None)
    + "\n    UNION ALL\n    "
    + _dm_table_sql("nation", "nation", "n_nationkey",
                    ["n_name"],
                    ("n_regionkey", "region", "r_regionkey"))
    + "\n    UNION ALL\n    "
    + _dm_table_sql("supplier", "supplier", "s_suppkey",
                    ["s_name", "s_acctbal"],
                    ("s_nationkey", "nation", "n_nationkey")))
def kg_direct_mapping(spark, sf):
    """W3C Direct Mapping (RDB2RDF REC) of the relational side —
    region / nation / supplier mapped to RDF with row IRIs, per-column
    literal triples, rdf:type rows, and FK reference triples
    (supplier -> nation -> region), plans/warehouse.direct_mapping.
    The relational entrance into the same triple model the web
    pipeline emits. Hard oracle: every triple is a deterministic
    string function of the row, re-built verbatim in DuckDB."""
    from ..plans.warehouse import direct_mapping

    return (
        direct_mapping(_t(spark, sf, "region"), "region",
                       ["r_regionkey"], cols=["r_name"])
        .unionByName(direct_mapping(
            _t(spark, sf, "nation"), "nation", ["n_nationkey"],
            cols=["n_name"],
            fks=[(["n_regionkey"], "region", ["r_regionkey"])]))
        .unionByName(direct_mapping(
            _t(spark, sf, "supplier"), "supplier", ["s_suppkey"],
            cols=["s_name", "s_acctbal"],
            fks=[(["s_nationkey"], "nation", ["n_nationkey"])])))


@query(_ANN_VERIFIED_SQL)
def sim_sq8_verified(spark, sf):
    """SQ8 scalar-quantized ANN retrieves the exact nearest neighbor
    of every planted query (hard DuckDB oracle: exact argmax cosine —
    the verified contract shared with LSH/IVF/IVF-PQ): candidates are
    preselected by the asymmetric ADC score — each item reconstructed
    from its uint8 codes as lo + c/scale and dotted against the FLOAT
    query (4x less memory traffic than a float-vector scan,
    deterministic by construction) — the top-32 survivors get the
    exact re-rank, and the ~0.993-cosine source always survives
    preselection (its ADC dot is essentially maximal; quantization
    noise is shared across candidates).
    Completes the ANN compression ladder: brute / LSH / IVF / IVF-PQ
    / SQ8."""
    from .similarity import sq8_topk

    emb = _t(spark, sf, "embeddings")
    return sq8_topk(emb, _planted_ann_queries(emb), k=1, rerank=32)


@query(_ANN_VERIFIED_SQL)
def sim_mrl_verified(spark, sf):
    """Matryoshka (MRL) two-stage retrieval finds the exact nearest
    neighbor of every planted query (hard oracle: exact argmax cosine,
    the shared verified contract): prefix-16 cosine preselection (4x
    cheaper scan), exact 64-dim re-rank of the top-32. Sixth leg of
    the ANN ladder: brute / LSH / IVF / IVF-PQ / SQ8 / MRL."""
    from .similarity import matryoshka_topk

    emb = _t(spark, sf, "embeddings")
    return matryoshka_topk(emb, _planted_ann_queries(emb), k=1,
                           prefix_dim=16, rerank=32)


@query("""
    WITH RECURSIVE emb AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS item_id,
               round(
                   list_sum(list_transform(range(1, 65),
                       i -> cast(e.embedding[i] AS double)
                            * cast(q.embedding[i] AS double)))
                   / (sqrt(list_sum(list_transform(range(1, 65),
                          i -> cast(e.embedding[i] AS double)
                               * cast(e.embedding[i] AS double))))
                      * sqrt(list_sum(list_transform(range(1, 65),
                          i -> cast(q.embedding[i] AS double)
                               * cast(q.embedding[i] AS double))))), 6)
                   AS cosine
        FROM emb e CROSS JOIN emb q WHERE e.vec_id <> q.vec_id),
    ranked AS (
        SELECT query_id, item_id FROM (
            SELECT query_id, item_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, item_id)
                       AS rank
            FROM scored) WHERE rank <= 3),
    mutual AS (
        SELECT a.query_id AS x, a.item_id AS y
        FROM ranked a JOIN ranked b
          ON b.query_id = a.item_id AND b.item_id = a.query_id
        WHERE a.query_id < a.item_id),
    sym AS (SELECT x AS a, y AS b FROM mutual
            UNION SELECT y, x FROM mutual),
    r(id, t) AS (
        SELECT vec_id, vec_id FROM emb
        UNION
        SELECT r.id, sym.b FROM r JOIN sym ON r.t = sym.a)
    SELECT lpad(id::VARCHAR, 8, '0') AS node_id,
           lpad(min(t)::VARCHAR, 8, '0') AS component_id
    FROM r GROUP BY id
""")
def sim_knn_components(spark, sf):
    """Embedding clustering via the mutual-kNN graph: exact top-3
    cosine neighbors per vector (the fixed vec_id < 500 slice so the
    oracle is scale-free), an undirected edge where BOTH endpoints
    rank each other (mutual kNN — the standard robustification), and
    connected components over that graph give cluster ids — the
    similarity layer feeding the graph layer in one Catalyst plan
    (the SemDeDup-style semantic-cluster primitive). Hard oracle: the
    6-dp cosine ranking + mutuality + a recursive-CTE transitive
    closure in DuckDB. Scale path: swap the brute kNN for
    lsh_topk/ivf_topk (same interface) and the CC is the existing
    pointer-doubling machinery — both already probed at 2M rows."""
    from ..plans.linking import connected_components
    from .similarity import cosine_topk

    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    nn = cosine_topk(emb, emb, k=3)
    a, b = nn.alias("a"), nn.alias("b")
    mutual = (a.join(b, (F.col("a.query_id") == F.col("b.item_id"))
                     & (F.col("a.item_id") == F.col("b.query_id")))
              .filter(F.col("a.query_id") < F.col("a.item_id"))
              .select(F.col("a.query_id").alias("x"),
                      F.col("a.item_id").alias("y")))

    def nid(col):
        return F.lpad(col.cast("string"), 8, "0")

    vertices = emb.select(nid(F.col("vec_id")).alias("entity_iri"))
    edges = mutual.select(nid(F.col("x")).alias("src"),
                          nid(F.col("y")).alias("dst"))
    return (connected_components(vertices, edges)
            .select(F.col("entity_iri").alias("node_id"),
                    F.col("canonical_id").alias("component_id")))


def _theilsen_median_sql(src: str, name: str, out: str) -> str:
    """Exact per-type median of column v in CTE ``src``: the two
    middle ranks' (min+max), halved HALF_UP on the magnitude."""
    return f"""
    {name}_n AS (SELECT et, count(*) AS n FROM {src} GROUP BY et),
    {name}_rk AS (
        SELECT s.et, s.v,
               row_number() OVER (PARTITION BY s.et ORDER BY s.v) AS rn,
               n.n
        FROM {src} s JOIN {name}_n n USING (et)),
    {name} AS (
        SELECT et,
               (CASE WHEN m1 + m2 < 0 THEN -1 ELSE 1 END)
                   * ((abs(m1 + m2) + 1) // 2) AS {out}
        FROM (SELECT et, min(v) AS m1, max(v) AS m2
              FROM {name}_rk
              WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
              GROUP BY et))"""


@query("""
    WITH base AS (
        SELECT event_type AS et,
               epoch(date_trunc('hour', ts))::BIGINT // 3600 AS h
        FROM events
    ),
    cnt AS (SELECT et, h, count(*) AS x FROM base GROUP BY 1, 2),
    span AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
    grid AS (
        SELECT et, g.h, (SELECT h0 FROM span) AS h0
        FROM (SELECT DISTINCT et FROM cnt),
             (SELECT unnest(generate_series(
                  (SELECT h0 FROM span),
                  (SELECT h1 FROM span))) AS h) g),
    dense AS MATERIALIZED (
        SELECT g.et, g.h - g.h0 AS t,
               coalesce(c.x, 0)
               + (CASE WHEN g.et = 'error' THEN -2 ELSE 1 END)
                 * ((g.h - g.h0) // 24) AS x
        FROM grid g LEFT JOIN cnt c ON c.et = g.et AND c.h = g.h),
    pairs AS (
        SELECT a.et,
               (CASE WHEN (b.x - a.x) < 0 THEN -1 ELSE 1 END)
                   * ((2 * abs(b.x - a.x) * 100000000 + (b.t - a.t))
                      // (2 * (b.t - a.t))) AS v
        FROM dense a JOIN dense b ON b.et = a.et AND b.t > a.t),"""
    + _theilsen_median_sql("pairs", "smed", "slope_e8") + """,
    resid AS (
        SELECT d.et, d.x * 100000000 - s.slope_e8 * d.t AS v
        FROM dense d JOIN smed s USING (et)),"""
    + _theilsen_median_sql("resid", "imed", "intercept_e8") + """,
    nh AS (SELECT et, count(*) AS n_hours FROM dense GROUP BY et)
    SELECT nh.et AS event_type, nh.n_hours,
           smed.slope_e8 / 1e8 AS slope,
           imed.intercept_e8 / 1e8 AS intercept
    FROM nh JOIN smed USING (et) JOIN imed USING (et)
""")
def ts_theilsen(spark, sf):
    """Theil-Sen robust trend per event type over the zero-filled
    hourly count grid: slope = exact MEDIAN of all pairwise
    (dy/dt) slopes on the 1e-8 grid, intercept = median of the
    per-hour residuals against that slope — the outlier-robust rate
    trend the OLS/CUSUM family can't give (a single spike hour moves
    OLS, not the pairwise median). All arithmetic integer: slopes
    HALF_UP on |dy| with the sign applied OUTSIDE the division (the
    family's pinned div-vs-floor trap), medians as the (min+max) of
    the two middle ranks with a sign-aware HALF_UP halving. Corpus
    work is ONE (type, hour) groupBy (checkpointed — the plan-diamond
    rule); the pairwise expansion runs on the DENSE GRID only
    (|hours|^2 per type, bounded by the time span, never by event
    count)."""
    ev = _t(spark, sf, "events")
    h = (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
         / 3600).cast("bigint")
    cnt = (ev.select(F.col("event_type").alias("et"), h.alias("h"))
           .groupBy("et", "h").agg(F.count("*").alias("x"))
           .localCheckpoint(eager=True))
    span = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (span.select(F.col("h0"),
                        F.explode(F.sequence("h0", "h1")).alias("h"))
            .crossJoin(F.broadcast(cnt.select("et").distinct())))
    dense = (grid.join(cnt, ["et", "h"], "left")
             .select("et", (F.col("h") - F.col("h0")).alias("t"),
                     F.coalesce("x", F.lit(0)).alias("x0"))
             # deterministic planted drift (+1/day, error type -2/day)
             # so the suite series actually exercises the signed
             # median machinery — the raw corpus is stationary
             .select("et", "t", F.expr(
                 "x0 + (CASE WHEN et = 'error' THEN -2 ELSE 1 END)"
                 " * (t div 24)").alias("x"))
             .localCheckpoint(eager=False))

    pa, pb = dense.alias("pa"), dense.alias("pb")
    pairs = (pa.join(pb, (F.col("pa.et") == F.col("pb.et"))
                     & (F.col("pb.t") > F.col("pa.t")))
             .select(F.col("pa.et").alias("et"),
                     (F.col("pb.x") - F.col("pa.x")).alias("dy"),
                     (F.col("pb.t") - F.col("pa.t")).alias("dt"))
             .select("et", F.expr(
                 "CASE WHEN dy < 0 THEN -1 ELSE 1 END *"
                 " ((2 * abs(dy) * 100000000 + dt) div (2 * dt))")
                 .alias("v")))

    def _median(df, out):
        """Exact median of column v per et: (m1+m2) of the two middle
        ranks ((n+1) div 2 and (n+2) div 2), halved HALF_UP on the
        magnitude with the sign applied outside."""
        n = df.groupBy("et").agg(F.count("*").alias("n"))
        w = Window.partitionBy("et").orderBy("v")
        picked = (df.withColumn("rn", F.row_number().over(w))
                  .join(n, "et")
                  .filter(F.expr("rn = (n + 1) div 2"
                                 " OR rn = (n + 2) div 2")))
        return (picked.groupBy("et")
                .agg(F.min("v").alias("m1"), F.max("v").alias("m2"))
                .select("et", F.expr(
                    "CASE WHEN m1 + m2 < 0 THEN -1 ELSE 1 END *"
                    " ((abs(m1 + m2) + 1) div 2)").alias(out)))

    slope = _median(pairs, "slope_e8")
    resid = (dense.join(F.broadcast(slope), "et")
             .select("et", (F.col("x") * F.lit(100000000)
                            - F.col("slope_e8") * F.col("t")).alias("v")))
    inter = _median(resid, "intercept_e8")
    nh = dense.groupBy("et").agg(F.count("*").alias("n_hours"))
    return (nh.join(slope, "et").join(inter, "et")
            .select(F.col("et").alias("event_type"), "n_hours",
                    (F.col("slope_e8").cast("double") / 1e8).alias("slope"),
                    (F.col("intercept_e8").cast("double") / 1e8)
                    .alias("intercept")))


@query("""
    SELECT doc_id, lang, n_chars, 'added' AS op FROM documents
    WHERE doc_id >= 300 AND doc_id < 350
    UNION ALL
    SELECT doc_id, lang, n_chars, 'removed' FROM documents
    WHERE doc_id % 7 = 0 AND doc_id < 210
""")
def snap_branch_diff(spark, sf):
    """Row-level diff between DIVERGED refs (snapshots.diff_refs):
    main seeds doc_id<300, an 'audit' branch freezes there, then main
    diverges — appends [300,350) and equality-deletes doc_id%7==0
    under 210 — and diff_refs(main, audit) must report exactly those
    rows as added/removed (multiset exceptAll both ways). Hard
    oracle: both deltas re-derived from doc_id arithmetic. The
    changelog family covers chain-related anchors; this is the
    branch-audit comparison no changelog connects."""
    from ..sources.snapshots import (
        commit,
        create_branch,
        diff_refs,
        mor_delete,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    table = _scratch("snapdiff_")
    commit(docs.filter(d < 300), table, partitions=4)
    create_branch(table, "audit")
    commit(docs.filter((d >= 300) & (d < 350)), table)
    mor_delete(spark, table,
               docs.filter((d % 7 == 0) & (d < 210)).select("doc_id"),
               key="doc_id")
    return diff_refs(spark, table, None, "audit")


@query("""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    tot AS (
        SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS n_b
        FROM u),
    cu AS (SELECT DISTINCT event_type, user_id FROM events),
    conv AS (
        SELECT event_type,
               sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS conv_a,
               sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS conv_b
        FROM cu GROUP BY 1)
    SELECT event_type, n_a, conv_a, n_b, conv_b,
           (2 * conv_a::HUGEINT * 1000000 + n_a)
               // (2 * n_a::HUGEINT) AS rate_a_e6,
           (2 * conv_b::HUGEINT * 1000000 + n_b)
               // (2 * n_b::HUGEINT) AS rate_b_e6,
           (CASE WHEN conv_a + conv_b = 0
                      OR (n_a - conv_a) + (n_b - conv_b) = 0
                 THEN 0::HUGEINT
                 ELSE (2 * (n_a + n_b)::HUGEINT
                       * ((conv_a * (n_b - conv_b)
                           - (n_a - conv_a) * conv_b)::HUGEINT
                          * (conv_a * (n_b - conv_b)
                             - (n_a - conv_a) * conv_b)::HUGEINT)
                       * 100000000
                       + (n_a::HUGEINT * n_b * (conv_a + conv_b)
                          * ((n_a - conv_a) + (n_b - conv_b))))
                      // (2 * n_a::HUGEINT * n_b * (conv_a + conv_b)
                          * ((n_a - conv_a) + (n_b - conv_b)))
            END) / 1e8 AS chi2
    FROM conv, tot
""")
def events_ab_test(spark, sf):
    """Two-variant experiment scorecard: users split A/B by id parity,
    per goal event type the conversion contingency (exposed vs
    converted users per variant), exact 1e-6-grid conversion rates,
    and the chi-square statistic n(ad-bc)^2/((a+b)(c+d)(a+c)(b+d))
    computed entirely in decimal(38,0) with one HALF_UP landing on
    the 1e-8 grid — the experiment-analysis primitive, bit-exact in
    DuckDB HUGEINT. Corpus work: one distinct-users pass + one
    (type, user) distinct + two tiny aggregates."""
    ev = _t(spark, sf, "events")
    v = F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B"))
    users = ev.select("user_id").distinct().select(v.alias("v"))
    tot = users.groupBy().agg(
        F.sum(F.when(F.col("v") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("v") == "B", 1).otherwise(0)).alias("n_b"))
    conv = (ev.select("event_type", "user_id").distinct()
            .select("event_type", v.alias("v"))
            .groupBy("event_type")
            .agg(F.sum(F.when(F.col("v") == "A", 1).otherwise(0))
                 .alias("conv_a"),
                 F.sum(F.when(F.col("v") == "B", 1).otherwise(0))
                 .alias("conv_b")))
    out = conv.crossJoin(F.broadcast(tot))
    big = "cast({} as decimal(38,0))"
    expr = (
        "CASE WHEN conv_a + conv_b = 0 OR "
        "(n_a - conv_a) + (n_b - conv_b) = 0 THEN 0 ELSE "
        f"cast((2 * ({big.format('n_a + n_b')})"
        f" * ({big.format('conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b')})"
        f" * ({big.format('conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b')})"
        " * 100000000"
        f" + ({big.format('n_a')} * {big.format('n_b')}"
        f"    * {big.format('conv_a + conv_b')}"
        f"    * {big.format('(n_a - conv_a) + (n_b - conv_b)')})) div"
        f" (2 * {big.format('n_a')} * {big.format('n_b')}"
        f"    * {big.format('conv_a + conv_b')}"
        f"    * {big.format('(n_a - conv_a) + (n_b - conv_b)')})"
        " as bigint) END")
    rate = ("cast((2 * cast({c} as decimal(38,0)) * 1000000 + {n})"
            " div (2 * cast({n} as decimal(38,0))) as bigint)")
    return out.select(
        "event_type", "n_a", "conv_a", "n_b", "conv_b",
        F.expr(rate.format(c="conv_a", n="n_a")).alias("rate_a_e6"),
        F.expr(rate.format(c="conv_b", n="n_b")).alias("rate_b_e6"),
        (F.expr(expr).cast("double") / 1e8).alias("chi2"))



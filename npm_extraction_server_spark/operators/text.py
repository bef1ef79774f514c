"""Text-analysis operators for the training-data pipeline.

All hot paths are built-in column expressions (JVM-side, codegen'd) —
no Python in the row path. Each operator returns a DataFrame keyed by
``doc_id`` so it joins back to ``documents`` without a shuffle surprise
(same partitioning source).

Operators: token counting (whitespace + word-regex), quality scoring
(length/punct/stopword ratios), language-ID heuristic (marker-word +
script-class scoring), document fingerprinting (md5 whole-doc +
min-shingle winnowing fingerprint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny marker-word lists for the lang-id heuristic (en vs es markers)
EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"]
ES_STOPWORDS = ["el", "la", "de", "que", "y", "en", "los", "por", "con", "una"]

WORD_RE = r"[A-Za-z0-9]+"


def _tokens(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(WORD_RE), 0)


def token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + word-regex tokens + distinct words."""
    toks = _tokens(F.col(text_col))
    return documents.select(
        "doc_id",
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("ws_tokens"),
        F.size(toks).alias("word_tokens"),
        F.size(F.array_distinct(toks)).alias("distinct_words"),
    )


def quality_scores(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a
    composite score, all as built-in expressions."""
    text = F.col(text_col)
    n_chars = F.length(text)
    words = _tokens(text)
    n_words = F.size(words)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_stop = F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    avg_word_len = F.when(n_words > 0, (F.length(F.regexp_replace(text, r"[\s]", "")))
                          / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_words > 0, n_stop.cast("double") / n_words).otherwise(0.0)
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.5
        + (F.lit(1.0) - punct_ratio) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.2
    )
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word n-gram heuristic: en/es stopword hit-rates + CJK
    script fraction -> predicted label."""
    text = F.col(text_col)
    words = _tokens(F.lower(text))
    n_words = F.greatest(F.size(words), F.lit(1))
    en_hits = F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    es_hits = F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in ES_STOPWORDS])))
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿぀-ヿ]", ""))
    cjk_ratio = cjk.cast("double") / F.greatest(F.length(text), F.lit(1))
    pred = (
        F.when(cjk_ratio > 0.2, F.lit("cjk"))
        .when(en_hits > es_hits, F.lit("en"))
        .when(es_hits > en_hits, F.lit("es"))
        .otherwise(F.lit("und"))
    )
    return documents.select(
        "doc_id",
        F.round(en_hits.cast("double") / n_words, 6).alias("en_score"),
        F.round(es_hits.cast("double") / n_words, 6).alias("es_score"),
        F.round(cjk_ratio, 6).alias("cjk_ratio"),
        pred.alias("lang_pred"),
    )


# PII patterns — identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repeats, \b, non-capturing
# groups only. Applied email -> ip -> phone (no pattern overlaps).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+?\d[\d-]{7,}\d\b"


def scrub_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction: emails, IPv4 addresses, phone-shaped numbers
    replaced with typed placeholders; per-doc counts emitted. Pure
    column expressions — the scrub is a single narrow projection, no
    shuffle, trivially parallel at any corpus size."""
    text = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).cast("long")
    t1 = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(t1, F.lit(IPV4_RE), 0)).cast("long")
    t2 = F.regexp_replace(t1, IPV4_RE, "<IP>")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(PHONE_RE), 0)).cast("long")
    t3 = F.regexp_replace(t2, PHONE_RE, "<PHONE>")
    return documents.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        t3.alias("scrubbed_text"),
    )


def span_dedup(documents: DataFrame, chunk_words: int = 10,
               max_doc_freq: int = 1, text_col: str = "text") -> DataFrame:
    """C4-style global span dedup: the text is cut into fixed
    ``chunk_words``-word chunks; any chunk occurring in more than
    ``max_doc_freq`` DISTINCT documents is boilerplate and removed from
    every document; documents are reassembled in chunk order.

    Scale shape: chunk-explode -> distinct-doc count per chunk -> the
    hot-chunk set is SMALL and bounded (boilerplate repeats, that's
    what makes it boilerplate), so it broadcasts and the removal is a
    broadcast LEFT ANTI join — the same inversion as
    ngram_jaccard_pairs' stop-shingle cap. Reassembly is one groupBy
    per doc over its surviving chunks."""
    text = F.col(text_col)
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    words = F.split(norm, " ")
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunks = F.transform(
        idx, lambda i: F.array_join(
            F.slice(words, i * chunk_words + 1, chunk_words), " "))
    ex = documents.select(
        "doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    hot = (
        ex.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("chunk")
    )
    kept = ex.join(F.broadcast(hot), "chunk", "left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept_chunks"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"]),
                " ").alias("kept_text"),
        )
    )
    return (
        documents.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept_chunks", F.lit(0)).alias("n_kept_chunks"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


def repetition_scores(documents: DataFrame, k: int = 3,
                      text_col: str = "text") -> DataFrame:
    """Intra-document repetition metrics (the Gopher/RefinedWeb-style
    quality signals): duplicate word fraction, duplicate k-gram
    fraction, and top-word dominance — all pure column expressions
    over per-row arrays, zero shuffle."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    words = F.split(norm, " ")
    n = F.greatest(F.size(words), F.lit(1))
    dup_word_frac = F.round(
        (F.size(words) - F.size(F.array_distinct(words))) / n, 6)
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, k), " "))
    ng = F.greatest(F.size(grams), F.lit(1))
    dup_gram_frac = F.round(
        (F.size(grams) - F.size(F.array_distinct(grams))) / ng, 6)
    # top-word dominance: max occurrences of any single word / n
    top_count = F.array_max(F.transform(
        F.array_distinct(words),
        lambda w: F.size(F.filter(words, lambda x: x == w))))
    top_word_frac = F.round(top_count / n, 6)
    return documents.select(
        "doc_id",
        dup_word_frac.alias("dup_word_frac"),
        dup_gram_frac.alias("dup_gram_frac"),
        top_word_frac.alias("top_word_frac"),
    )


def decontaminate(documents: DataFrame, eval_docs: DataFrame,
                  k: int = 8, text_col: str = "text",
                  broadcast_max_shingles: int = 2_000_000,
                  approx_eval_shingles: int | None = None) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any
    word-``k``-gram with the eval set (the GPT-3-style 13-gram rule,
    scaled to this corpus's short docs). Returns
    (doc_id, n_hits, contaminated).

    Scale shape: the EVAL side is small by nature, so its distinct
    shingle set broadcasts and the corpus side is a broadcast
    left-semi-style join — the 100 TB training corpus is never
    shuffled; each doc's shingles check membership map-side.

    Fallback: a broadcast only works while the eval shingle set fits in
    executor memory. When the distinct eval shingle count exceeds
    ``broadcast_max_shingles`` (one count() job on the SMALL side —
    pass ``approx_eval_shingles`` to skip even that when the caller
    knows the size), the join degrades gracefully to an explicit
    shuffle-hash join on the shingle hash instead of OOMing every
    executor."""
    def shingles(df, id_alias):
        norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
        words = F.split(norm, " ")
        n = F.size(words)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        sh = F.transform(idx, lambda i: F.xxhash64(
            F.array_join(F.slice(words, i + 1, k), " ")))
        return df.select(F.col("doc_id").alias(id_alias),
                         F.explode(F.array_distinct(sh)).alias("sh"))

    eval_sh = shingles(eval_docs, "eval_id").select("sh").distinct()
    corpus_sh = shingles(documents, "doc_id")
    n_eval = (approx_eval_shingles if approx_eval_shingles is not None
              else eval_sh.count())
    if n_eval <= broadcast_max_shingles:
        joined = corpus_sh.join(F.broadcast(eval_sh), "sh")
    else:
        # oversized eval set: explicit shuffle-hash join (hint pins the
        # strategy so the planner cannot pick a broadcast that would OOM)
        joined = corpus_sh.join(eval_sh.hint("shuffle_hash"), "sh")
    hits = joined.groupBy("doc_id").agg(F.count("*").alias("n_hits"))
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select("doc_id",
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"))
    )


# Fixed toy-BPE vocabulary: the deterministic RESULT of a merge
# training run, frozen so both engines replay identically (real BPE
# inference works the same way — the merges file is a build artifact).
# Greedy longest-match wordpiece segmentation; single-char fallback.
BPE_PIECES = [
    "stream", "window", "filter", "column", "custom", "order", "value",
    "table", "batch", "query", "spark", "scan", "hash", "data", "line",
    "part", "slow", "fast", "small", "group", "merge", "vector", "join",
    "key", "row", "agg", "big", "sort", "the", "er", "ow", "an", "in",
    "ta", "le",
]


def bpe_token_counts(documents: DataFrame,
                     text_col: str = "text",
                     passthrough: list[str] | None = None,
                     with_chars: bool = False) -> DataFrame:
    """Deterministic subword token counts (doc_id, n_words,
    n_bpe_tokens): words = lowercase ``[a-z0-9]+`` runs; each word is
    segmented by greedy longest-match against the fixed ``BPE_PIECES``
    vocabulary (cursor always advances by the longest matching piece,
    one char when nothing matches — each fallback char is one token).
    Whitespace counting under-states real token budgets; this gives
    ``pack_tokens`` / curation a subword-realistic budget while staying
    exactly replayable cross-engine (the DuckDB oracle replays the same
    greedy segmentation with a recursive CTE).

    ``passthrough`` copies extra input columns (e.g. lang) into the
    output unchanged; ``with_chars=True`` adds ``n_word_chars`` (sum
    of word lengths — the numerator for chars-per-token fertility
    stats) so per-language rollups need no second scan of the corpus
    (plan-diamond rule).

    Scale shape: one Arrow-batched ``mapInPandas`` stage, zero shuffle;
    segmentation is memoized per distinct word within a batch (Zipf
    makes the memo hit rate ~1)."""
    import re
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    pieces = sorted(BPE_PIECES, key=len, reverse=True)
    word_re = re.compile(r"[a-z0-9]+")
    extra = list(passthrough or [])
    in_schema = {f.name: f.dataType for f in documents.schema.fields}
    fields = [T.StructField("doc_id", T.LongType(), False)]
    fields += [T.StructField(c, in_schema[c], True) for c in extra]
    fields += [T.StructField("n_words", T.LongType(), False),
               T.StructField("n_bpe_tokens", T.LongType(), False)]
    if with_chars:
        fields.append(T.StructField("n_word_chars", T.LongType(), False))
    out_schema = T.StructType(fields)

    def seg_len(word: str) -> int:
        pos, n, L = 0, 0, len(word)
        while pos < L:
            for p in pieces:
                if word.startswith(p, pos):
                    pos += len(p)
                    break
            else:
                pos += 1
            n += 1
        return n

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for pdf in batches:
            ids, nw, nb, nc = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                words = word_re.findall((text or "").lower())
                total = 0
                for w in words:
                    c = memo.get(w)
                    if c is None:
                        c = memo[w] = seg_len(w)
                    total += c
                ids.append(int(doc_id))
                nw.append(len(words))
                nb.append(total)
                if with_chars:
                    nc.append(sum(len(w) for w in words))
            out = {"doc_id": ids}
            for c in extra:
                out[c] = pdf[c].values
            out["n_words"] = nw
            out["n_bpe_tokens"] = nb
            if with_chars:
                out["n_word_chars"] = nc
            yield pd.DataFrame(out)

    from .dedup import spread_partitions

    cols = ["doc_id", *extra, text_col]
    return spread_partitions(
        documents.select(*cols)).mapInPandas(fn, out_schema)


def _re_quote(s: str) -> str:
    """Java-regex literal quoting (\\Q...\\E, with embedded \\E split)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def bpe_train(documents: DataFrame, n_merges: int = 50,
              text_col: str = "text", min_freq: int = 2,
              checkpoint_every: int = 8) -> DataFrame:
    """Learn a BPE merge table from the corpus (Sennrich et al. 2016,
    the public algorithm): start from characters, repeatedly merge the
    most frequent adjacent symbol pair. Ties break deterministically
    (count desc, then pair lexicographically asc), so the learned
    table is a pure function of the corpus.

    Returns (rank, left, right, merged, pair_count) — one row per
    learned merge, rank = merge order.

    Scale shape: the ONLY corpus-sized work is the initial word-count
    shuffle (explode + groupBy — partial aggregation collapses Zipf
    mass map-side). Every merge round then runs on the WORD-FREQUENCY
    table (bounded by vocabulary, millions of rows at web scale, not
    the 10^12-document corpus): one pair-count aggregate to find the
    argmax pair (a 1-row collect, same justification as the Lloyd
    centroid reads) and one regexp projection to apply it. Lineage is
    truncated every ``checkpoint_every`` rounds. Symbol sequences are
    space-joined strings; the merge is a lookaround regex
    ``(?<= )L R(?= )`` — lookarounds don't consume the separator, so
    one left-to-right pass merges every non-overlapping occurrence
    exactly like the reference algorithm's scan.
    """
    words = (
        documents.select(
            F.explode(F.split(F.lower(F.col(text_col)),
                              r"[^a-z0-9]+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("cnt"))
        .select(
            F.concat(F.lit(" "),
                     F.array_join(F.split(F.col("w"), ""), " "),
                     F.lit(" ")).alias("sym"),
            "cnt")
    ).localCheckpoint(eager=True)

    merges: list[tuple] = []
    for rank in range(n_merges):
        arr = F.split(F.trim(F.col("sym")), " ")
        pairs = (
            words.select(
                "cnt",
                F.explode(F.arrays_zip(
                    F.slice(arr, 1, F.size(arr) - 1).alias("l"),
                    F.slice(arr, 2, F.size(arr) - 1).alias("r"),
                )).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect())
        if not pairs or pairs[0]["n"] < min_freq:
            break
        left, right, n = pairs[0]["l"], pairs[0]["r"], int(pairs[0]["n"])
        merged = left + right
        pat = f"(?<= ){_re_quote(left)} {_re_quote(right)}(?= )"
        repl = merged.replace("\\", "\\\\").replace("$", "\\$")
        words = words.withColumn(
            "sym", F.regexp_replace("sym", pat, repl))
        if (rank + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
        merges.append((rank, left, right, merged, n))

    spark = documents.sparkSession
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, "
                "pair_count bigint")


def textrank_keywords(documents: DataFrame, iterations: int = 4,
                      text_col: str = "text") -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau, EMNLP 2004):
    PageRank over the corpus-level word co-occurrence graph. Adjacent
    lowercased word tokens form undirected edges weighted by their
    corpus co-occurrence count; ranks come from the engine's own
    ``plans/graph.pagerank`` with ``weight_col`` (rank splits w/sum_w
    on the 12-dp grid) and ``normalized=False`` (init 1, teleport
    0.15 — constants free of the data-dependent vocabulary size, the
    web_host_pagerank protocol), so the scores are bit-identical
    cross-engine. The symmetrized graph has no sinks by construction.

    Returns (word, rank) for every word that co-occurs at least once.

    Scale shape: tokenization + pair extraction are one whole-stage
    projection (slice/zip, no explode of full cross products); the
    co-occurrence groupBy is the only corpus-sized shuffle, and its
    output is vocabulary-sized — everything downstream iterates over
    the SMALL word graph, not the corpus. A composition proof: the
    text layer feeds the graph layer without leaving Catalyst.
    """
    from ..plans.graph import pagerank

    toks = _tokens(F.lower(F.col(text_col)))
    docs = documents.select(toks.alias("l")).filter(F.size("l") >= 2)
    pairs = docs.select(F.explode(F.arrays_zip(
        F.slice("l", 1, F.size("l") - 1).alias("w1"),
        F.slice("l", 2, F.size("l") - 1).alias("w2"))).alias("p"))
    co = (pairs.select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .filter(F.col("w1") != F.col("w2"))
          .select(F.least("w1", "w2").alias("a"),
                  F.greatest("w1", "w2").alias("b"))
          .groupBy("a", "b").agg(F.count(F.lit(1)).alias("w")))
    edges = (co.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
             .unionByName(co.select(F.col("b").alias("src"),
                                    F.col("a").alias("dst"), "w")))
    ranks = pagerank(edges, iterations=iterations, normalized=False,
                     weight_col="w")
    return ranks.select(F.col("node_id").alias("word"), "rank")


def fingerprints(documents: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text plus a
    winnowing-style min-k-gram fingerprint (min md5 over word
    k-shingles) — both portable to any SQL engine for the oracle."""
    text = F.col(text_col)
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    words = F.split(norm, " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingles = F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, k), " "))
    min_shingle_md5 = F.array_min(F.transform(shingles, F.md5))
    return documents.select(
        "doc_id",
        F.md5(norm).alias("doc_md5"),
        min_shingle_md5.alias("min_shingle_md5"),
    )


def tfidf_topk(documents: DataFrame, query_terms: list[str], k: int = 20,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keyword-search scoring: top-k documents by TF-IDF against a
    fixed query-term set (the lexical retrieval half of a corpus
    search/labeling pipeline; BM25's simpler ancestor).

    Shape at scale: one pass computes per-(doc, term) counts for the
    QUERY TERMS ONLY (the term filter runs inside the same projection
    as the tokenize — non-query tokens never leave the scan stage);
    document frequencies are a tiny aggregate BROADCAST back; scoring
    is tf * idf summed per doc, one groupBy(doc) shuffle of rows
    bounded by |terms| x |matching docs|. Global top-k via a single
    ordered window over the (small) scored set.

    Cross-engine determinism: idf = round(ln((N+1)/(df+1)), 8) — the
    1-ulp ln() divergence between libm implementations is absorbed by
    the 8-dp grid; tf is an exact integer, so tf*idf is exact at 8 dp
    and the per-doc sum uses the decimal protocol. Ties in the final
    ordering break on doc id.

    The whole query is ONE Catalyst plan: the corpus size N is a 1-row
    aggregate broadcast-cross-joined into the idf projection (no
    driver-side count action), and query terms enter via the column
    API (F.array of literals + F.filter) — a term containing a quote
    or backslash is data, never SQL."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = F.regexp_extract_all(F.lower(F.col(text_col)),
                                F.lit("[a-z0-9]+"), F.lit(0))
    words = (
        documents.select(
            F.col(id_col),
            F.explode(F.filter(toks, lambda w: F.array_contains(terms, w)))
            .alias("term"))
    )
    dt = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    stats = documents.agg(F.count("*").cast("double").alias("n_docs"))
    df_t = dt.groupBy("term").agg(F.count("*").alias("df"))
    idf = (
        df_t.crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(F.log((F.col("n_docs") + F.lit(1.0))
                          / (F.col("df").cast("double") + F.lit(1.0))), 8)
            .alias("idf")))
    scored = (
        dt.join(F.broadcast(idf), "term")
        .groupBy(id_col)
        .agg(F.round(
            F.sum((F.col("tf") * F.col("idf")).cast("decimal(28,8)")),
            6).cast("double").alias("score"))
    )
    # top-k via orderBy+limit = TakeOrderedAndProject (each partition
    # keeps its local k, the driver merges k*p rows) — NOT a global
    # row_number window, which would funnel the whole scored set
    # through one partition. The rank window then runs over <= k rows.
    top = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select(id_col, "score", "rank"))


# BM25's TF saturation (k1) and length normalization (b), shared with
# the DuckDB twin suite._bm25_oracle
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_topk(documents: DataFrame, query_terms: list[str], k: int = 20,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 top-k — TF saturation (k1) + document-length
    normalization (b) on top of :func:`tfidf_topk`'s plan shape: the
    only extra corpus-wide work is the per-doc token count (a size()
    over the same tokenize projection) and one scalar avgdl aggregate.

    Cross-engine determinism: every float CONSTANT (k1+1, b, 1-b) is
    computed once driver-side and injected verbatim into both engines'
    expressions (repr round-trips doubles exactly, so e.g. k1+1 can't
    differ by an ulp between a Python sum and a SQL literal). The
    corpus stats (N, avgdl) are NOT driver constants: both engines
    compute avgdl = sum(dl)::double / count(*)::double in-plan — an
    exact integer sum followed by one correctly-rounded IEEE division,
    identical in Spark and DuckDB — so the whole query is ONE Catalyst
    plan with the 1-row stats aggregate broadcast-cross-joined in (no
    driver .collect() action). Per-(doc,term) scores are rounded to
    the 8-dp grid and decimal-summed. Query terms enter via the column
    API (never interpolated into SQL text). See the mirrored SQL in
    `suite._bm25_oracle`."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = documents.select(
        F.col(id_col),
        F.regexp_extract_all(F.lower(F.col(text_col)),
                             F.lit("[a-z0-9]+"), F.lit(0)).alias("_toks"))
    docs = toks.select(
        id_col, F.size("_toks").alias("dl"),
        F.explode(F.filter(F.col("_toks"),
                           lambda w: F.array_contains(terms, w)))
        .alias("term"))
    lens = toks.select(id_col, F.size("_toks").alias("dl"))
    stats = lens.agg(
        (F.sum("dl").cast("double") / F.count("*").cast("double"))
        .alias("avgdl"),
        F.count("*").cast("double").alias("n_docs"))

    dt = docs.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
    df_t = dt.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = (
        df_t.crossJoin(F.broadcast(stats))
        .select(
            "term", "avgdl",
            F.round(F.log(
                F.lit(1.0) + (F.col("n_docs") - F.col("df").cast("double")
                              + F.lit(0.5)) / (F.col("df").cast("double")
                                               + F.lit(0.5))), 8)
            .alias("idf")))
    k1p1, one_m_b = _BM25_K1 + 1.0, 1.0 - _BM25_B
    num = F.col("tf").cast("double") * F.lit(k1p1)
    den = (F.col("tf").cast("double")
           + F.lit(_BM25_K1) * (F.lit(one_m_b)
                                + F.lit(_BM25_B) * F.col("dl").cast("double")
                                / F.col("avgdl")))
    scored = (
        dt.join(F.broadcast(idf), "term")
        .select(id_col, F.round(F.col("idf") * (num / den), 8)
                .cast("decimal(28,8)").alias("sc"))
        .groupBy(id_col)
        .agg(F.round(F.sum("sc"), 6).cast("double").alias("score"))
    )
    # top-k via orderBy+limit = TakeOrderedAndProject (each partition
    # keeps its local k, the driver merges k*p rows) — NOT a global
    # row_number window, which would funnel the whole scored set
    # through one partition. The rank window then runs over <= k rows.
    top = scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select(id_col, "score", "rank"))


def unigram_logprob_scores(documents: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           n_buckets: int = 3) -> DataFrame:
    """CCNet-style language-model quality scoring: a unigram LM is fit
    on the corpus itself (Laplace-smoothed word frequencies) and every
    document is scored by its mean token log-probability —
    low-probability-token documents (gibberish, boilerplate soup,
    wrong-language residue) sink to the tail. ``bucket`` splits the
    corpus into ``n_buckets`` quality tiers by score (CCNet's
    head/middle/tail), tie-broken on the id for determinism.

    Returns (id_col, n_tokens, avg_logprob, bucket) for documents with
    >= 1 token; bucket 1 = highest mean log-prob (the "head").

    Shape at 100 TB: tokenize+explode -> one word-count aggregation
    (the LM — vocabulary-sized, partial-aggregated map-side) -> join
    scores back on the word key (vocab skew is Zipfian, exactly what
    AQE skew-join handles; the head of the vocabulary dominates rows
    but each word row carries one float) -> one per-doc aggregation.
    No driver actions: corpus totals fold in as a broadcast 1-row
    aggregate, the same trick as bm25_topk.

    Cross-engine determinism: counts are exact integers; ln of the
    smoothed probability is 8-dp-grid-rounded; per-doc sums use the
    decimal protocol; the final mean is one correctly-rounded double
    division re-rounded to 6 dp. The DuckDB oracle replays the exact
    computation (suite 'text_unigram_ppl')."""
    toks = documents.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)))
        .alias("w"))
    counts = toks.groupBy("w").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").cast("double").alias("n_total"),
        F.count("*").cast("double").alias("v_size"))
    logp = (counts.crossJoin(F.broadcast(totals))
            .select("w", F.round(F.log(
                (F.col("c").cast("double") + F.lit(1.0))
                / (F.col("n_total") + F.col("v_size"))), 8)
                .alias("lp")))
    scored = (
        toks.join(logp, "w")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"),
             F.round(
                 F.sum(F.col("lp").cast("decimal(28,8)")).cast("double")
                 / F.count("*").cast("double"), 6).alias("avg_logprob")))
    w = Window.orderBy(F.col("avg_logprob").desc(), F.col(id_col))
    return scored.withColumn("bucket", F.ntile(n_buckets).over(w))


def inverted_index(documents: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_df: int = 1) -> DataFrame:
    """Positional inverted index — the retrieval-serving structure
    materialized as a table: one row per (term, document) posting
    with the term's document frequency, the in-document term
    frequency, and the ascending 0-based token positions
    (comma-joined, supporting phrase/proximity queries). ``min_df``
    drops hapax noise terms.

    Returns (term, df, doc_id, tf, positions). Tokenization is the
    repo-wide word regex (WORD_RE — same as token_counts/tfidf), so
    index and query side agree.

    Scale shape: posexplode -> one groupBy (term, doc_id) building
    each posting, then a window over ``term`` for df — two exchanges
    total, both keyed on the term; no driver-side state. At 10^12
    docs the natural layout is this table written partitioned/
    bucketed by term (warehouse.write_triples_by_pred's layout logic
    applied to terms), making every term lookup one partition scan.
    Head terms (stopwords) are the skew: min_df doesn't help there —
    cap or drop the head via sketch_heavy_hitters when serving, the
    same routing j12_auto_salted_join applies to hot join keys.
    """
    posted = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_tokens(F.col(text_col))).alias("pos", "term"))
    postings = (posted.groupBy("term", "doc_id")
                .agg(F.count("*").alias("tf"),
                     F.array_join(F.sort_array(F.collect_list("pos")), ",")
                     .alias("positions")))
    w = Window.partitionBy("term")
    out = postings.withColumn("df", F.count("*").over(w))
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out.select("term", "df", "doc_id", "tf", "positions")


def bigram_logprob_scores(documents: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          n_buckets: int = 3) -> DataFrame:
    """Bigram-LM quality scoring — the next rung above
    unigram_logprob_scores on the CCNet ladder: the corpus's own
    bigram model (Laplace-smoothed p(w2|w1) = (c(w1,w2)+1) /
    (c(w1)+V)) scores each document by its mean transition
    log-probability, so word-salad documents (every word common, the
    SEQUENCE improbable) sink where the unigram model cannot see
    them. Returns (id_col, n_bigrams, avg_logprob, bucket) for
    documents with >= 2 tokens; bucket 1 = head tier.

    Shape at 100 TB: tokenize+posexplode -> one per-doc window (lead)
    forming transitions -> bigram + unigram count aggregations (both
    partial-aggregated map-side; the bigram table is the LM) -> join
    scores back on the (w1, w2) key -> one per-doc aggregation.
    Vocabulary size folds in as a broadcast 1-row aggregate — no
    driver actions. Zipfian skew on the bigram head is AQE skew-join
    territory, same as the unigram scorer.

    Cross-engine determinism: identical protocol to the unigram
    scorer — exact integer counts, one correctly-rounded double
    division inside ln, 8-dp grid on per-transition lp, decimal sums,
    6-dp mean (suite 'text_bigram_ppl' oracle replays it)."""
    toks = documents.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)))
        .alias("pos", "w"))
    w = Window.partitionBy(id_col).orderBy("pos")
    bi = (toks.select(F.col(id_col), F.col("w").alias("w1"),
                      F.lead("w").over(w).alias("w2"))
          .filter(F.col("w2").isNotNull()))
    c1 = toks.groupBy("w").agg(F.count("*").alias("c1"))
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    vsize = c1.agg(F.count("*").cast("double").alias("v_size"))
    logp = (c2.join(c1.withColumnRenamed("w", "w1"), "w1")
            .crossJoin(F.broadcast(vsize))
            .select("w1", "w2", F.round(F.log(
                (F.col("c2").cast("double") + F.lit(1.0))
                / (F.col("c1").cast("double") + F.col("v_size"))), 8)
                .alias("lp")))
    scored = (
        bi.join(logp, ["w1", "w2"])
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bigrams"),
             F.round(
                 F.sum(F.col("lp").cast("decimal(28,8)")).cast("double")
                 / F.count("*").cast("double"), 6).alias("avg_logprob")))
    win = Window.orderBy(F.col("avg_logprob").desc(), F.col(id_col))
    return scored.withColumn("bucket", F.ntile(n_buckets).over(win))


def hashed_features(documents: DataFrame, n_bits: int = 12,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """The feature-hashing trick (fastText / Vowpal Wabbit): unigrams
    AND bigrams map to a fixed 2^n_bits feature space via
    idx = md5(term) % 2^n_bits, with the classic sign hash (one more
    md5 bit) so collisions cancel in expectation rather than
    accumulate. Returns the sparse matrix as rows
    (id_col, feat, val) with val = sum of +-1 per occurrence — the
    linear-classifier input that needs no vocabulary, no fitting, and
    no driver state.

    Deterministic end-to-end (md5, not hashCode), so the feature
    matrix is reproducible across runs/engines — the DuckDB oracle
    rebuilds it bit-exactly. Scale shape: tokenize + one per-doc
    window (bigrams) + one (doc, feat) aggregation; the feature space
    is fixed-size so downstream training state is bounded regardless
    of corpus vocabulary.
    """
    toks = documents.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)))
        .alias("pos", "w"))
    w = Window.partitionBy(id_col).orderBy("pos")
    grams = (toks.select(F.col(id_col), F.col("w").alias("term"))
             .unionByName(
                 toks.select(F.col(id_col),
                             F.concat_ws(" ", "w",
                                         F.lead("w").over(w)).alias("term"))
                 .filter(F.col("term").contains(" "))))
    hx = F.conv(F.substring(F.md5(F.col("term")), 1, 12), 16, 10) \
        .cast("bigint")
    feat = F.pmod(hx, F.lit(1 << n_bits))
    sign = F.when(F.pmod(F.floor(hx / F.lit(1 << n_bits)), F.lit(2)) == 0,
                  F.lit(1)).otherwise(F.lit(-1))
    return (grams.select(F.col(id_col), feat.alias("feat"),
                         sign.alias("s"))
            .groupBy(id_col, "feat")
            .agg(F.sum("s").cast("bigint").alias("val"))
            .filter(F.col("val") != 0))


def collocations(documents: DataFrame, lift_num: int = 3,
                 lift_den: int = 1, min_count: int = 5,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Corpus collocations by EXACT lift filtering: adjacent word
    pairs whose observed frequency beats independence by at least
    lift_num/lift_den — the association-mining primitive (PMI's
    monotone core) with no logarithm and no float:
    ``lift = c_ab * N / (c_a * c_b) >= num/den`` tested as
    ``den * c_ab * N >= num * c_a * c_b`` in BIGINT. Returns
    (w1, w2, c_ab, c_a, c_b, n_total); rank downstream by the exact
    rational (cross-multiply to compare).

    One tokenize + per-doc lead window (the bigram machinery), one
    bigram count, one unigram count joined twice, the corpus total as
    a broadcast 1-row aggregate — all map-side-combined.
    """
    if lift_num <= 0 or lift_den <= 0 or min_count < 1:
        raise ValueError("collocations: positive lift fraction and "
                         "min_count required")
    toks = documents.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)))
        .alias("pos", "w"))
    w = Window.partitionBy(id_col).orderBy("pos")
    bi = (toks.select(F.col(id_col), F.col("w").alias("w1"),
                      F.lead("w").over(w).alias("w2"))
          .filter(F.col("w2").isNotNull()))
    c_ab = (bi.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
            .filter(F.col("c_ab") >= min_count))
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    n_total = toks.agg(F.count("*").alias("n_total"))
    out = (c_ab
           .join(uni.select(F.col("w").alias("w1"),
                            F.col("c").alias("c_a")), "w1")
           .join(uni.select(F.col("w").alias("w2"),
                            F.col("c").alias("c_b")), "w2")
           .crossJoin(F.broadcast(n_total)))
    keep = (F.lit(lift_den) * F.col("c_ab") * F.col("n_total")
            >= F.lit(lift_num) * F.col("c_a") * F.col("c_b"))
    return out.filter(keep).select("w1", "w2", "c_ab", "c_a", "c_b",
                                   "n_total")


def gopher_rules(documents: DataFrame,
                 text_col: str = "text") -> DataFrame:
    """The Gopher/MassiveText document-quality rule set (Rae et al.
    2021, §A1.1 — the public thresholds reused by RefinedWeb/Dolma),
    as one whole-stage-codegen projection. Per document, each rule is
    a boolean column plus the conjunctive ``gopher_pass``:

    - ``r_word_count``: 50 <= words <= 100,000
    - ``r_mean_word_len``: 3 <= mean word length <= 10
    - ``r_symbol_ratio``: (# '#' + # '...' occurrences) / words <= 0.1
    - ``r_alpha_words``: >= 80% of words contain an alphabetic char
    - ``r_bullet_lines``: < 90% of lines start with a bullet mark
    - ``r_ellipsis_lines``: < 30% of lines end with '...'
    - ``r_stopwords``: >= 2 distinct words from the fixed 8-word list
      {the, be, to, of, and, that, have, with}

    Exactness contract: every count is integer and every ratio test is
    cross-multiplied to integer comparisons — no float appears, so a
    DuckDB oracle reproduces the booleans bit-for-bit (the
    text_gopher_rules hard oracle). Empty documents fail the count
    rule and short-circuit nothing (all rules still evaluate).

    Scale shape: one projection over the text column, no shuffle, no
    UDF — the filter a 10^12-page curation pass runs FIRST because it
    costs one scan."""
    text = F.col(text_col)
    words = _tokens(text)
    n_words = F.size(words)
    # words containing at least one ASCII letter
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    total_word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    n_ellipsis = F.size(F.split(text, r"\.\.\.", -1)) - 1
    lines = F.split(text, "\n", -1)
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"^\s*([-*•]|\d+[.)])\s")))
    n_ell_end = F.size(F.filter(lines, lambda ln: ln.rlike(r"\.\.\.\s*$")))
    gopher_stop = ["the", "be", "to", "of", "and", "that", "have", "with"]
    n_stop = F.size(F.array_intersect(
        F.array_distinct(words), F.array(*[F.lit(w) for w in gopher_stop])))

    r_word_count = (n_words >= 50) & (n_words <= 100000)
    # 3 <= total_chars/words <= 10, cross-multiplied
    r_mean_word_len = (n_words > 0) \
        & (total_word_chars >= 3 * n_words) \
        & (total_word_chars <= 10 * n_words)
    r_symbol_ratio = (n_words > 0) \
        & (10 * (n_hash + n_ellipsis) <= n_words)
    r_alpha_words = (n_words > 0) & (5 * n_alpha >= 4 * n_words)
    r_bullet_lines = 10 * n_bullet < 9 * n_lines
    r_ellipsis_lines = 10 * n_ell_end < 3 * n_lines
    r_stopwords = n_stop >= 2

    rules = {
        "r_word_count": r_word_count,
        "r_mean_word_len": r_mean_word_len,
        "r_symbol_ratio": r_symbol_ratio,
        "r_alpha_words": r_alpha_words,
        "r_bullet_lines": r_bullet_lines,
        "r_ellipsis_lines": r_ellipsis_lines,
        "r_stopwords": r_stopwords,
    }
    import functools

    gopher_pass = functools.reduce(lambda a, b: a & b, rules.values())
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        *[c.alias(name) for name, c in rules.items()],
        gopher_pass.alias("gopher_pass"))


def dsir_logweights(raw: DataFrame, target: DataFrame,
                    n_bits: int = 12,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): every raw-corpus
    document is scored by how target-like it is under two hashed
    n-gram bag models,

        log w(x) = sum over x's grams g of
                   [ ln p_target(b(g)) - ln p_raw(b(g)) ],

    where b(g) = md5(g) % 2^n_bits is the paper's hashed feature space
    (unigrams + bigrams, the same gram stream as hashed_features) and
    both bucket models are Laplace-smoothed multinomials fit on their
    corpus. Selection is then importance resampling: Gumbel top-k over
    logw (ride sampling.weighted_sample_k) or deterministic top-k
    (ORDER BY logw DESC — text_dsir_sample) for held-out-seeded
    pipelines that need reproducible picks.

    Returns (id_col, n_grams, logw) for raw documents with >= 1 token.

    Cross-engine determinism: bucket counts are exact integers; each
    bucket's log-ratio is ONE 8-dp-rounded double over exact-integer
    ratios; per-doc sums follow the decimal(28,8) protocol; the final
    logw is rounded to 6 dp (text_dsir_weights replays it in DuckDB
    bit-exactly — hard oracle).

    Shape at 100 TB: tokenize + ONE bucket-count aggregation per
    corpus (output fixed at 2^n_bits rows — map-side combined, always
    broadcastable, and eagerly localCheckpoint-ed since the count
    tables feed the totals AND the ratio join — audited: 5 FileScans
    / 4 tokenize passes without the checkpoints, exactly the paper's
    two-pass shape with them: one fit pass + one scoring pass over
    raw), the log-ratio table broadcast-joined back onto the raw gram
    stream, one per-doc aggregation. No vocabulary state, no driver
    loop; the target corpus is the small quality seed set
    (Wikipedia-like), so its pass is cheap; scoring cost is one scan
    of raw + one per-doc agg regardless of n_bits.
    """
    n_buckets = 1 << n_bits

    def grams(df: DataFrame) -> DataFrame:
        # bigrams via array zip_with, NOT a lead() window: the window
        # would force a doc-keyed Exchange over the full gram stream
        # (3x per scoring run); this keeps the whole gram derivation
        # inside one narrow projection — measured 4.3x end-to-end at
        # the 5M-doc probe (234.6 s -> 54.0 s; numbers in ROUND5.md)
        arr = "regexp_extract_all(lower({t}), '[a-z0-9]+', 0)".format(
            t=text_col)
        terms = df.select(
            F.col(id_col),
            F.explode(F.expr(
                f"concat({arr}, CASE WHEN size({arr}) >= 2 THEN "
                f"zip_with(slice({arr}, 1, size({arr}) - 1), "
                f"slice({arr}, 2, size({arr}) - 1), "
                f"(x, y) -> concat(x, ' ', y)) "
                f"ELSE array() END)")).alias("term"))
        hx = F.conv(F.substring(F.md5(F.col("term")), 1, 12), 16, 10) \
            .cast("bigint")
        return terms.select(F.col(id_col),
                            F.pmod(hx, F.lit(n_buckets)).alias("b"))

    raw_grams = grams(raw)
    raw_counts = (raw_grams.groupBy("b").agg(F.count("*").alias("cr"))
                  .localCheckpoint(eager=True))
    tgt_counts = (grams(target).groupBy("b").agg(F.count("*").alias("ct"))
                  .localCheckpoint(eager=True))
    raw_tot = raw_counts.agg(F.sum("cr").cast("double").alias("nr"))
    tgt_tot = tgt_counts.agg(F.sum("ct").cast("double").alias("nt"))
    # every scored gram's bucket exists in raw_counts (the stream IS the
    # raw corpus), so the ratio table is raw-keyed; target-only buckets
    # are unreachable and absent-target buckets smooth to ct = 0.
    ratios = (raw_counts.join(tgt_counts, "b", "left")
              .crossJoin(F.broadcast(raw_tot))
              .crossJoin(F.broadcast(tgt_tot))
              .select("b", F.round(
                  F.log((F.coalesce(F.col("ct"), F.lit(0)).cast("double")
                         + F.lit(1.0))
                        / (F.col("nt") + F.lit(float(n_buckets))))
                  - F.log((F.col("cr").cast("double") + F.lit(1.0))
                          / (F.col("nr") + F.lit(float(n_buckets)))),
                  8).alias("lr")))
    # round the EXACT decimal sum to 6 dp, then cast — round(double, 6)
    # here is the half-ulp trap (a scale-8 sum ending in ..50 rounds
    # differently from its binary double in the two engines; the sf0.1
    # head-50 dual-scale run caught exactly that on 2 of 5000 docs)
    return (raw_grams.join(F.broadcast(ratios), "b")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_grams"),
                 F.round(F.sum(F.col("lr").cast("decimal(28,8)")), 6)
                 .cast("double").alias("logw")))


def duplicate_spans(documents: DataFrame, k: int = 8,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate-substring detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr criterion, token-gram formulation): a position is
    duplicated if the k-token gram starting there occurs MORE THAN
    ONCE in the corpus (any doc, including its own); runs of
    duplicated positions merge into maximal spans. This is the dedup
    C4-style fixed-chunk hashing (span_dedup) cannot express — a
    repeated passage straddling chunk boundaries is invisible to
    chunk identity but lights up every overlapping k-gram here.

    Returns (id_col, start_tok, end_tok, n_grams): token positions
    are 0-based, ``end_tok`` inclusive and covering the trailing
    gram (end_tok = last duplicated position + k - 1), ``n_grams``
    the number of duplicated grams merged into the span.

    Everything is integer/md5-deterministic, so the DuckDB oracle
    (text_dup_spans) reproduces the spans bit-for-bit — the suffix
    array of the paper is an implementation device; the CRITERION is
    pure counting, and counting is what a shuffle engine does best.

    Scale shape: per-doc gram hashing is one narrow array projection
    (transform over slices — no window, no shuffle); ONE gram-keyed
    count aggregate (map-side combined; the gram table is the corpus
    x ~1 row per token, the same footprint the inverted index pays);
    one semi-join of positions against the duplicated grams; one
    doc-keyed window to merge runs (pos - row_number constancy).
    """
    arr = (f"regexp_extract_all(lower({text_col}), "
           f"'[a-z0-9]+', 0)")
    grams = documents.select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"CASE WHEN size({arr}) >= {k} THEN "
            f"transform(sequence(1, size({arr}) - {k} + 1), "
            f"i -> md5(concat_ws(' ', slice({arr}, i, {k})))) "
            f"ELSE array() END")).alias("pos", "gh"))
    dup = (grams.groupBy("gh").agg(F.count("*").alias("c"))
           .filter(F.col("c") > 1).select("gh"))
    hits = grams.join(dup, "gh", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = hits.withColumn(
        "grp", F.col("pos") - F.row_number().over(w))
    return (runs.groupBy(id_col, "grp")
            .agg(F.min("pos").alias("start_tok"),
                 (F.max("pos") + F.lit(k - 1)).alias("end_tok"),
                 F.count("*").alias("n_grams"))
            .drop("grp")
            .select(id_col, "start_tok", "end_tok", "n_grams"))


def domain_kl(documents: DataFrame, domain_col: str = "source",
              n_bits: int = 12, text_col: str = "text") -> DataFrame:
    """Pairwise KL divergence between per-domain hashed-unigram
    language models — the corpus-drift / domain-shift scorecard a
    mixing pipeline watches (which sources actually differ, which new
    crawl slice moved): for each ordered-free domain pair (a < b),

        KL(a || b) = sum over ALL 2^n_bits buckets of
                     p_a(t) * (ln p_a(t) - ln p_b(t)),

    with Laplace-smoothed bucket probabilities p(t) = (c_t + 1) /
    (N + B) — smoothing makes every bucket (observed or not)
    contribute, so the sum runs over the DENSIFIED domain x bucket
    grid (B = 2^n_bits rows per domain — tiny and fixed, which is
    the point of feature hashing).

    Returns (domain_a, domain_b, kl_ab, kl_ba) per unordered pair
    (KL is asymmetric; both directions come from the same joined
    grid row).

    Cross-engine: counts exact; each ln is 8-dp-grid rounded; each
    bucket term p_a * (la - lb) is one correctly-rounded double
    product re-rounded to 12 dp; sums decimal(38,12); output 6 dp —
    the DuckDB oracle (text_domain_kl) replays it bit-exactly.

    Scale shape: one tokenize + ONE (domain, bucket) count aggregate
    (map-side combined, output <= |domains| * 4096 rows); the grid
    densification, pair join, and KL fold all happen on that
    fixed-size table — corpus-sized work is one scan, full stop.
    """
    n_buckets = 1 << n_bits
    spark = documents.sparkSession
    hx = F.conv(F.substring(F.md5(F.col("w")), 1, 12), 16, 10) \
        .cast("bigint")
    toks = documents.select(
        F.col(domain_col).alias("dom"),
        F.explode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)))
        .alias("w")).select("dom", F.pmod(hx, F.lit(n_buckets)).alias("b"))
    cnt = toks.groupBy("dom", "b").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("dom").agg(F.sum("c").alias("n"))
    grid = (tot.crossJoin(spark.range(n_buckets)
                          .select(F.col("id").alias("b")))
            .join(cnt, ["dom", "b"], "left")
            .select("dom", "b",
                    F.coalesce("c", F.lit(0)).alias("c"), "n"))
    p = ((F.col("c").cast("double") + F.lit(1.0))
         / (F.col("n").cast("double") + F.lit(float(n_buckets))))
    lp = F.round(F.log(p), 8)
    g = grid.select("dom", "b", p.alias("p"), lp.alias("lp"))
    ga = g.select(F.col("dom").alias("domain_a"), "b",
                  F.col("p").alias("pa"), F.col("lp").alias("la"))
    gb = g.select(F.col("dom").alias("domain_b"), "b",
                  F.col("p").alias("pb"), F.col("lp").alias("lb"))
    joined = ga.join(gb, "b").filter(F.col("domain_a") < F.col("domain_b"))
    term_ab = F.round(F.col("pa") * (F.col("la") - F.col("lb")), 12)
    term_ba = F.round(F.col("pb") * (F.col("lb") - F.col("la")), 12)
    # round the exact decimal sums BEFORE the double cast (the DSIR
    # half-ulp class: a scale-12 sum ending ..50 at 6 dp rounds
    # engine-dependently once it is a double)
    return (joined.groupBy("domain_a", "domain_b")
            .agg(F.round(F.sum(term_ab.cast("decimal(38,12)")), 6)
                 .cast("double").alias("kl_ab"),
                 F.round(F.sum(term_ba.cast("decimal(38,12)")), 6)
                 .cast("double").alias("kl_ba")))


def readability_scores(documents: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade level — the
    classic readability gate (filter out legalese and word salad
    before expensive processing). Sentences = runs split on [.!?]+
    that contain a word; syllables = the standard vowel-group
    heuristic (count of [aeiouy]+ runs per word, minimum 1 — stated
    as the heuristic it is; exact syllabification needs a dictionary).

        ease  = 206.835 - 1.015 (words/sentences)
                        - 84.6 (syllables/words)
        grade = 0.39 (words/sentences) + 11.8 (syllables/words) - 15.59

    Counts are exact integers; each ratio is one correctly-rounded
    double division; the affine combinations are rounded to 4 dp —
    the DuckDB oracle (text_readability) is bit-exact. One narrow
    projection, no shuffle, no UDF."""
    text = F.lower(F.col(text_col))
    words = F.regexp_extract_all(text, F.lit("[a-z0-9]+"), F.lit(0))
    n_words = F.size(words)
    sents = F.filter(
        F.split(text, r"[.!?]+"),
        lambda s: s.rlike("[a-z0-9]"))
    n_sents = F.greatest(F.size(sents), F.lit(1))
    syl = F.aggregate(
        words, F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
            F.lit(1)).cast("bigint"))
    wps = n_words.cast("double") / n_sents.cast("double")
    spw = F.when(n_words > 0,
                 syl.cast("double") / n_words.cast("double")) \
        .otherwise(F.lit(0.0))
    return documents.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.size(sents).cast("bigint").alias("n_sentences"),
        syl.alias("n_syllables"),
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
                4).alias("flesch_ease"),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
                4).alias("fk_grade"))


def zipf_fit(documents: DataFrame, text_col: str = "text",
             lang_col: str = "lang", top_ranks: int = 64) -> DataFrame:
    """Zipf rank-frequency fit per language: OLS of ln(freq) on
    ln(rank) over the top ``top_ranks`` tokens — the corpus-health
    statistic (natural text sits near slope -1; boilerplate and
    spam flatten or steepen it). Deterministic cross-engine: x/y
    live on the 8-dp ln grid, the OLS moments are exact decimal
    sums of exact decimal(15,8)x(15,8) products, and the slope /
    intercept are single correctly-rounded double divisions
    (intercept uses the ROUNDED slope, stated in-contract).
    Corpus-sized work is one tokenize + one (lang, token) count;
    the fit runs on lang x top_ranks rows.

    Scale shape: the naive top-``top_ranks`` window partitions by
    lang alone — ONE task per language over the vocabulary-sized
    count table. Instead tokens are hash-sharded (each token lives
    in exactly one shard, so the union of per-shard top-k contains
    the global top-k exactly), the heavy window runs per
    (lang, shard) in parallel, and the global window sees only
    langs x shards x top_ranks rows."""
    toks = documents.select(
        F.col(lang_col).alias("lang"),
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)),
                                       F.lit("[a-z0-9]+"), F.lit(0)))
        .alias("token"))
    cnt = toks.groupBy("lang", "token").agg(F.count("*").alias("c"))
    vocab = cnt.groupBy("lang").agg(
        F.count("*").alias("vocab_size"),
        F.sum("c").alias("total_tokens"))
    shard = F.pmod(F.xxhash64("token"), F.lit(32))
    ws = Window.partitionBy("lang", "shard").orderBy(F.desc("c"),
                                                     F.asc("token"))
    pruned = (cnt.withColumn("shard", shard)
              .withColumn("sr", F.row_number().over(ws))
              .filter(F.col("sr") <= top_ranks))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("token"))
    ranked = (pruned.withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= top_ranks))
    x = F.round(F.log(F.col("r").cast("double")), 8).cast("decimal(15,8)")
    y = F.round(F.log(F.col("c").cast("double")), 8).cast("decimal(15,8)")
    pts = ranked.select("lang", x.alias("x"), y.alias("y"))
    mom = pts.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    intercept = F.round((sy - slope * sx) / n, 6)
    return (mom.join(vocab, "lang")
            .select("lang", "vocab_size", "total_tokens",
                    F.col("n").alias("ranks_used"),
                    slope.alias("zipf_slope"),
                    intercept.alias("zipf_intercept")))


def heaps_curve(documents: DataFrame, text_col: str = "text",
                lang_col: str = "lang", id_col: str = "doc_id",
                every: int = 16) -> DataFrame:
    """Heaps-law vocabulary-growth curve per language: walking the
    corpus in ``doc_id`` order, emit every ``every``-th document's
    cumulative token count N and cumulative vocabulary V plus the
    pointwise Heaps exponent ln(V)/ln(N) — the "is new data adding
    new vocabulary or repeating itself" dedup-health curve. All
    counts are exact integers from two window cumsums (token first
    occurrences come from one min(doc_id) aggregate); the exponent
    is one correctly-rounded double division on ln values.

    Scale shape: a prefix sum partitioned by lang alone is ONE task
    per language over the documents-sized table, so the cumsums run
    as a two-level distributed prefix sum — exclusive per-bucket
    offsets from a tiny (lang, bucket) table (the only lang-wide
    sequential pass), then intra-bucket windows partitioned by
    (lang, bucket) in parallel. ``bucket_span`` groups consecutive
    doc ids; results are bit-identical to the single window."""
    bucket_span = 4096
    toks = documents.select(
        F.col(lang_col).alias("lang"), F.col(id_col).alias("doc"),
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)),
                                       F.lit("[a-z0-9]+"), F.lit(0)))
        .alias("token"))
    per_doc = toks.groupBy("lang", "doc").agg(F.count("*").alias("n_toks"))
    firsts = (toks.groupBy("lang", "token")
              .agg(F.min("doc").alias("doc"))
              .groupBy("lang", "doc").agg(F.count("*").alias("new_types")))
    rows = (per_doc.join(firsts, ["lang", "doc"], "left")
            .select("lang", "doc",
                    (F.col("doc") / bucket_span).cast("long").alias("b"),
                    "n_toks",
                    F.coalesce("new_types", F.lit(0)).alias("new_types")))
    wb = (Window.partitionBy("lang").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (rows.groupBy("lang", "b")
               .agg(F.sum("n_toks").alias("bt"),
                    F.sum("new_types").alias("bv"),
                    F.count("*").alias("bn"))
               .select("lang", "b",
                       F.coalesce(F.sum("bt").over(wb), F.lit(0))
                       .alias("off_toks"),
                       F.coalesce(F.sum("bv").over(wb), F.lit(0))
                       .alias("off_vocab"),
                       F.coalesce(F.sum("bn").over(wb), F.lit(0))
                       .alias("off_rows")))
    wi = (Window.partitionBy("lang", "b").orderBy("doc")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ri = Window.partitionBy("lang", "b").orderBy("doc")
    curve = (rows.join(offsets, ["lang", "b"])
             .select("lang", "doc",
                     (F.col("off_toks") + F.sum("n_toks").over(wi))
                     .alias("cum_tokens"),
                     (F.col("off_vocab") + F.sum("new_types").over(wi))
                     .alias("cum_vocab"),
                     (F.col("off_rows") + F.row_number().over(ri))
                     .alias("doc_rank")))
    beta = F.when(
        F.col("cum_tokens") > 1,
        F.round(F.log(F.col("cum_vocab").cast("double"))
                / F.log(F.col("cum_tokens").cast("double")), 6)) \
        .otherwise(F.lit(None).cast("double"))
    return (curve.filter(F.col("doc_rank") % every == 0)
            .select("lang", "doc_rank", F.col("doc").alias("doc_id"),
                    "cum_tokens", "cum_vocab", beta.alias("heaps_beta")))


def good_turing(documents: DataFrame, text_col: str = "text",
                lang_col: str = "lang", max_freq: int = 10) -> DataFrame:
    """Simple Turing frequency-of-frequencies table per language:
    n_r = number of token types observed exactly r times, the Turing
    adjusted count r* = (r+1) * n_{r+1} / n_r over the ``max_freq``
    SMALLEST observed frequencies per language (the rare tail,
    wherever it sits — an absolute r cutoff returns nothing when the
    corpus has no singletons), and the Good-Turing unseen-mass
    estimate P0 = n_1 / N repeated per row (Good 1953; P0 = 0 when
    no singletons exist) — the "how much probability mass belongs to
    words we have not seen yet" corpus statistic a smoothing or
    OOV-budget decision reads. Everything is exact integers from one
    (lang, token) count + one (lang, r) count; r* and P0 are each
    ONE correctly-rounded 8-dp double division. Corpus-sized work is
    the token count; the fof table is lang x |distinct r| rows."""
    toks = documents.select(
        F.col(lang_col).alias("lang"),
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)),
                                       F.lit("[a-z0-9]+"), F.lit(0)))
        .alias("token"))
    cnt = toks.groupBy("lang", "token").agg(F.count("*").alias("c"))
    fof = cnt.groupBy("lang", F.col("c").alias("r")) \
        .agg(F.count("*").alias("n_r"))
    tot = cnt.groupBy("lang").agg(
        F.sum("c").alias("big_n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n1"))
    nxt = fof.select("lang", (F.col("r") - 1).alias("r"),
                     F.col("n_r").alias("n_r1"))
    rstar = F.when(
        F.col("n_r1").isNotNull(),
        F.round((F.col("r") + 1).cast("double")
                * F.col("n_r1").cast("double")
                / F.col("n_r").cast("double"), 8)) \
        .otherwise(F.lit(None).cast("double"))
    wr = Window.partitionBy("lang").orderBy("r")
    tail = (fof.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= max_freq).drop("rk"))
    return (tail
            .join(nxt, ["lang", "r"], "left")
            .join(F.broadcast(tot), "lang")
            .select("lang", "r", "n_r", rstar.alias("r_star"),
                    F.round(F.col("n1").cast("double")
                            / F.col("big_n").cast("double"), 8)
                    .alias("unseen_mass")))


def kn_bigram_lm(documents: DataFrame, text_col: str = "text",
                 discount: float = 0.75, top: int = 100) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney
    1995; Chen & Goodman 1999 interpolated form) — THE n-gram LM
    smoothing, fit on exact corpus counts:

        P(w2|w1) = max(c(w1 w2) - D, 0) / c(w1 .)
                   + lam(w1) * Pcont(w2)
        lam(w1)  = D * N1+(w1, .) / c(w1 .)
        Pcont(w2)= N1+(. , w2) / N1+(. , .)

    with fixed D = ``discount``. Every count is an exact integer;
    each ratio is one correctly-rounded double division rounded to
    the 8-dp grid before combining, so the DuckDB oracle is
    bit-exact. Bigrams come from array slices zip'd per document —
    NO per-doc window (the DSIR lesson: a lead() window forces a
    doc-keyed Exchange over the gram stream; slices are narrow).
    Output: the ``top`` bigrams by count with their KN probability.
    Corpus-sized work is one tokenize + one (w1, w2) count; the
    model table is vocabulary-sized."""
    words = F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), F.lit(0))
    sz = F.size(words)
    docs = documents.select(words.alias("ws"), sz.alias("sz")) \
        .filter(F.col("sz") >= 2)
    pairs = docs.select(F.explode(F.arrays_zip(
        F.slice("ws", 1, F.col("sz") - 1).alias("w1"),
        F.slice("ws", 2, F.col("sz") - 1).alias("w2"))).alias("bg")) \
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    fwd = c12.groupBy("w1").agg(F.sum("c12").alias("c1"),
                                F.count("*").alias("n1p_fwd"))
    bwd = c12.groupBy("w2").agg(F.count("*").alias("n1p_bwd"))
    btypes = c12.agg(F.count("*").alias("b_types"))
    d = float(discount)
    j = (c12.join(fwd, "w1").join(bwd, "w2")
         .crossJoin(F.broadcast(btypes)))
    pcont = F.round(F.col("n1p_bwd").cast("double")
                    / F.col("b_types").cast("double"), 8)
    lam = F.round(F.lit(d) * F.col("n1p_fwd").cast("double")
                  / F.col("c1").cast("double"), 8)
    r1 = F.round((F.col("c12").cast("double") - F.lit(d))
                 / F.col("c1").cast("double"), 8)
    p_kn = F.round(r1 + F.round(lam * pcont, 8), 8)
    # orderBy().limit() plans as TakeOrderedAndProject — a distributed
    # per-partition top-N + driver merge, never a global sort (a
    # row_number() window here would single-partition the whole
    # vocabulary-sized model table)
    return (j.select("w1", "w2", "c12", F.col("c1").alias("c1"),
                     pcont.alias("p_cont"), lam.alias("lambda_w1"),
                     p_kn.alias("p_kn"))
            .orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
            .limit(top))


# Classic UTF-8-decoded-as-Latin-1 byte sequences plus the Unicode
# replacement character: the signatures ftfy-style fixers key on.
# Kept as plain literals (counted via length-difference, no regex) so
# the DuckDB oracle can carry the identical expressions. The C1
# continuation characters are written as escapes (they are real
# codepoints U+0080-U+009F in the signature strings).
MOJIBAKE_SIGNATURES = [
    "\u00c3\u00a9",        # 'e-acute' double-decoded
    "\u00c3\u00a8",        # 'e-grave'
    "\u00c3\u00a4",        # 'a-umlaut'
    "\u00c3\u00bc",        # 'u-umlaut'
    "\u00c3\u00b1",        # 'n-tilde'
    "\u00e2\u0080\u0099",  # right single quote double-decoded
    "\u00e2\u0080\u009c",  # left double quote double-decoded
    "\u00c2\u00a0",        # NBSP double-decoded
]

# Control characters the detector counts (outside \t \n \r): the C0
# set a binary-in-text accident leaves behind.
CTRL_CHARS = "".join(chr(c) for c in range(1, 32) if chr(c) not in "\t\n\r")


def encoding_noise(documents: DataFrame, text_col: str = "text",
                   signatures: list[str] | None = None,
                   ctrl_chars: str | None = None,
                   id_col: str = "doc_id") -> DataFrame:
    """Encoding-noise / mojibake detector — the crawl-QA gate that
    catches double-decoded UTF-8, replacement characters, and stray
    control bytes before they poison a training corpus.

    Every signature count is a substring-occurrence computed by the
    length difference ``(len(s) - len(replace(s, sig, ''))) / len(sig)``
    and control chars by a ``translate`` delete — pure whole-stage-
    codegen string ops, ZERO regex, so the detector is portable
    verbatim to any SQL engine and immune to regex-dialect drift.
    Noise density is reported per 10^6 characters on the exact
    integer grid via HALF_UP ``(2*noise*10^6 + len) div (2*len)``
    (the events_gini discipline).

    Columns: n_moji (sum over the signature table), n_repl (U+FFFD
    count), n_ctrl (C0 controls outside whitespace), noise_ppm, flag.
    Scale shape: ONE projection over the corpus — no shuffle, no UDF;
    the signature table is a compile-time constant folded into the
    plan.
    """
    sigs = MOJIBAKE_SIGNATURES if signatures is None else signatures
    ctrl = CTRL_CHARS if ctrl_chars is None else ctrl_chars
    text = F.col(text_col)

    def occ(sig: str) -> Column:
        return ((F.length(text)
                 - F.length(F.replace(text, F.lit(sig), F.lit(""))))
                / F.lit(len(sig))).cast("long")

    n_moji = sum((occ(s) for s in sigs), F.lit(0).cast("long"))
    n_repl = occ("\ufffd")
    n_ctrl = (F.length(text)
              - F.length(F.translate(text, ctrl, ""))).cast("long")
    base = documents.select(
        id_col, F.length(text).cast("long").alias("ln"),
        n_moji.alias("n_moji"), n_repl.alias("n_repl"),
        n_ctrl.alias("n_ctrl"),
        (n_moji + n_repl + n_ctrl).alias("t"))
    ppm = F.when(F.col("ln") > 0, F.expr(
        "(2 * CAST(t AS DECIMAL(38,0)) * 1000000"
        " + CAST(ln AS DECIMAL(38,0)))"
        " div (2 * CAST(ln AS DECIMAL(38,0)))").cast("long")) \
        .otherwise(F.lit(0).cast("long"))
    return base.select(
        id_col, "n_moji", "n_repl", "n_ctrl",
        ppm.alias("noise_ppm"),
        (F.col("t") > 0).alias("flag"))


RAKE_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "that",
                  "for", "with", "on"]


def rake_keywords(documents: DataFrame, text_col: str = "text",
                  stopwords: list[str] | None = None,
                  max_phrase_len: int = 4, top: int = 50) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs; a word's
    score is deg(w)/freq(w) where freq counts its phrase occurrences
    and deg sums the lengths of the phrases containing it; a phrase
    scores the sum of its member words' scores. The degree/frequency
    formulation needs no graph iteration — the statistical complement
    to textrank_keywords.

    Exactness: word scores live on the 1e-8 integer grid via HALF_UP
    ``(2*deg*10^8 + freq) div (2*freq)``; phrase scores are exact
    integer sums of those — no doubles before the final display
    division, so the DuckDB twin is bit-identical.

    Phrase splitting never leaves Catalyst and never shuffles the
    token stream: stopwords map to a ``|`` sentinel INSIDE the token
    array, the array is re-joined and split on the sentinel — one
    whole-stage projection (contrast the classic posexplode+cumsum
    formulation, which exchanges the corpus-sized token stream by
    doc).

    Scale shape: ONE corpus-sized explode of phrases; the phrase
    frame is lazily localCheckpoint-ed because it feeds both the
    word-statistics branch and the phrase-count branch (the plan-
    diamond rule — without it Catalyst replays the documents scan
    per branch). Word stats are vocabulary-sized, distinct phrases
    bounded by vocabulary^(phrase length) in theory and corpus size
    in fact, and the final page is a TakeOrderedAndProject
    top-``top`` — never a global sort.
    """
    stops = RAKE_STOPWORDS if stopwords is None else stopwords
    toks = _tokens(F.lower(F.col(text_col)))
    stop_arr = F.array(*[F.lit(s) for s in stops])
    marked = F.transform(
        toks, lambda t: F.when(F.array_contains(stop_arr, t), F.lit("|"))
        .otherwise(t))
    raw = F.split(F.array_join(marked, " "), r"\|")
    phrases = F.filter(F.transform(raw, lambda p: F.trim(p)),
                       lambda p: p != F.lit(""))
    ph = (documents
          .select(F.explode(phrases).alias("phrase"))
          .withColumn("plen", F.size(F.split("phrase", " ")))
          .filter(F.col("plen") <= max_phrase_len)
          .localCheckpoint(eager=False))

    words = ph.select(F.explode(F.split("phrase", " ")).alias("word"),
                      "plen")
    ws = words.groupBy("word").agg(
        F.sum("plen").alias("deg"), F.count("*").alias("freq"))
    score_e8 = F.expr(
        "(2 * CAST(deg AS DECIMAL(38,0)) * 100000000"
        " + CAST(freq AS DECIMAL(38,0)))"
        " div (2 * CAST(freq AS DECIMAL(38,0)))")
    ws = ws.select("word", score_e8.cast("long").alias("w_e8"))

    pc = ph.groupBy("phrase").agg(F.count("*").alias("n_occ"))
    pw = pc.select("phrase", "n_occ",
                   F.explode(F.split("phrase", " ")).alias("word"))
    psc = (pw.join(ws, "word")
           .groupBy("phrase", "n_occ")
           .agg(F.sum("w_e8").alias("score_e8"),
                F.count("*").alias("n_words")))
    return (psc.select("phrase", "n_words", "n_occ", "score_e8",
                       (F.col("score_e8").cast("double") / F.lit(1e8))
                       .alias("score"))
            .orderBy(F.desc("score_e8"), F.desc("n_occ"), F.asc("phrase"))
            .limit(top))


def remove_template_lines(documents: DataFrame,
                          id_col: str = "doc_id",
                          group_col: str = "source",
                          text_col: str = "text",
                          min_docs: int = 5,
                          frac_num: int = 3,
                          frac_den: int = 10) -> DataFrame:
    """Per-site template/boilerplate line removal (the CCNet / RefinedWeb
    discipline): a line is boilerplate for a site iff it appears in at
    least ``frac_num/frac_den`` of the site's documents (and the site has
    >= ``min_docs`` docs) — nav bars, cookie banners, copyright footers
    repeat across a host's pages while real content does not. Removal
    drops EVERY occurrence of a flagged line from the site's docs,
    preserving the order of surviving lines.

    All decisions are exact integer comparisons (nd * frac_den >=
    frac_num * total), so the DuckDB twin is bit-identical
    (suite ``web_template_lines``).

    Scale shape: corpus-sized work is ONE (site, line)-keyed count
    aggregate with map-side combine (a line string occurring in f docs
    collapses to one row before the shuffle) plus one site-keyed count;
    the per-site boilerplate line SET joins back site-keyed and the
    cleanup itself is a single whole-stage-codegen array projection
    (split -> array filter -> join) — documents are never re-exploded
    and never shuffled. Contract at 10^12 pages: the per-site template
    set is assumed template-sized (nav/footer/banner lines — the join
    value is one array per site); a host whose pages are >30% shared
    lines is itself near-duplicate spam and belongs to the dedup
    family, not this operator.
    """
    g, i, t = F.col(group_col), F.col(id_col), F.col(text_col)
    base = documents.select(i.alias("_id"), g.alias("_grp"), t.alias("_text"))
    lines = base.select(
        "_id", "_grp", F.explode(F.array_distinct(F.split("_text", "\n")))
        .alias("_line"))
    stat = lines.groupBy("_grp", "_line").agg(F.count("*").alias("nd"))
    tot = base.groupBy("_grp").agg(F.count("*").alias("total"))
    boiler = (stat.join(tot, "_grp")
              .filter((F.col("nd") * F.lit(frac_den)
                       >= F.lit(frac_num) * F.col("total"))
                      & (F.col("total") >= F.lit(min_docs)))
              .groupBy("_grp")
              .agg(F.array_sort(F.collect_list("_line")).alias("_bl")))
    arr = F.split("_text", "\n")
    kept = F.filter(arr, lambda x: ~F.array_contains(
        F.coalesce(F.col("_bl"), F.array().cast("array<string>")), x))
    return (base.join(boiler, "_grp", "left")
            .select(F.col("_id").alias(id_col),
                    F.col("_grp").alias(group_col),
                    F.array_join(kept, "\n").alias("clean_text"),
                    F.size(arr).alias("n_lines"),
                    (F.size(arr) - F.size(kept)).alias("n_removed")))


def lang_mix(documents: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", seg_sep: str = "\n") -> DataFrame:
    """Mixed-language / code-switching detection: the document is cut
    into segments (paragraphs by default), each segment gets the same
    marker-word + CJK-script language heuristic ``lang_id`` uses, and
    the per-document rollup reports the majority language, how many
    segments agree with it, and the off-majority share — the
    corpus-quality gate that catches documents whose DOC-level label
    is right while half the content is another language (boilerplate
    translations, embedded quotes, spam keyword blocks), which a
    whole-document classifier averages away.

    All counts are integers and the ppm share is exact HALF_UP integer
    division, majority ties break on the lexicographically smallest
    label — the DuckDB twin (suite ``text_lang_mix``) is bit-exact.

    Scale shape: one narrow explode of the segment array, one
    (doc, lang) count with map-side combine, one doc-keyed window for
    the majority pick, one doc rollup — everything whole-stage
    codegen, work proportional to total text size.
    """
    i, t = F.col(id_col), F.col(text_col)
    segs = (documents
            .select(i.alias("_id"),
                    F.explode(F.split(t, seg_sep)).alias("_seg"))
            .filter(F.length("_seg") > 0))
    words = _tokens(F.lower(F.col("_seg")))
    en_hits = F.size(F.array_intersect(
        words, F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    es_hits = F.size(F.array_intersect(
        words, F.array(*[F.lit(w) for w in ES_STOPWORDS])))
    cjk = F.length(F.regexp_replace(F.col("_seg"),
                                    r"[^一-鿿぀-ヿ]", ""))
    cjk_ratio = cjk.cast("double") / F.greatest(F.length("_seg"), F.lit(1))
    seg_lang = (F.when(cjk_ratio > 0.2, F.lit("cjk"))
                .when(en_hits > es_hits, F.lit("en"))
                .when(es_hits > en_hits, F.lit("es"))
                .otherwise(F.lit("und")))
    per_lang = (segs.select("_id", seg_lang.alias("_lang"))
                .groupBy("_id", "_lang").agg(F.count("*").alias("n")))
    w = Window.partitionBy("_id").orderBy(F.desc("n"), F.asc("_lang"))
    ranked = per_lang.withColumn("_rk", F.row_number().over(w))
    roll = (per_lang.groupBy("_id")
            .agg(F.sum("n").alias("n_segments"),
                 F.count("*").alias("n_langs")))
    top = (ranked.filter(F.col("_rk") == 1)
           .select("_id", F.col("_lang").alias("majority_lang"),
                   F.col("n").alias("n_majority")))
    off_ppm = F.expr(
        "(2 * (n_segments - n_majority) * 1000000 + n_segments)"
        " div (2 * n_segments)")
    return (roll.join(top, "_id")
            .select(F.col("_id").alias(id_col), "n_segments", "n_langs",
                    "majority_lang", "n_majority",
                    off_ppm.cast("long").alias("off_ppm"),
                    (F.col("n_langs") > 1).alias("mixed")))

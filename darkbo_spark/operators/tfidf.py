"""A2/J4 — sparse retrieval: explicit TF-IDF postings + inverted-index join.

The reference delegates this to an embedded text-index library (behavior:
index build api/index_versioning.py:435-485, query ai_worker.py:202-229).
Spark restatement: postings ARE a DataFrame — `explode(split(...))` →
`groupBy(term, doc)` for tf, `groupBy(term)` over distinct docs for df,
idf = ln((N+1)/(df+1)) + 1 (smoothed), score(q, d) = Σ tf·idf over shared
terms (a shuffle hash join on term + sum agg).

Scale notes: postings build is one shuffle; scoring joins the (small) query
term set → broadcast. Map-side partial aggregation applies to both groupBys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokenize(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token) bag — lowercase whitespace tokenization (matches the SQL
    oracle exactly; the byte-identical path uses the UDF tokenizer)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " +")).alias("token"),
    ).filter(F.col("token") != "")


def _corpus_n(docs: DataFrame) -> DataFrame:
    """Single-row (n_docs) frame, folded into downstream plans via broadcast
    crossJoin — N travels INSIDE the plan instead of a separate docs.count()
    action (which would be an extra full corpus scan per postings build)."""
    return docs.agg(F.count(F.lit(1)).alias("n_docs"))


def _term_freq(
    docs: DataFrame, text_col: str, id_col: str, persist: bool = True
) -> DataFrame:
    """(doc_id, token, tf), persisted: tf feeds several downstream rollups
    (df, dl, the scoring join) and Catalyst's column pruning rewrites each
    branch differently, defeating ReuseExchange — without persistence the
    corpus is scanned+exploded once PER BRANCH (observed 4× in the executed
    plan). In production the postings are materialized once as the sparse
    index table (S13, SnapshotTable) and queries read that; the persist is
    the in-plan analog for self-contained queries (MEMORY_AND_DISK,
    LRU-evicted under pressure). Spark's CacheManager dedups by canonical
    plan, so repeated builds over the SAME corpus share one cache entry;
    callers creating many distinct throwaway corpora (tests) pass
    persist=False."""
    from pyspark import StorageLevel

    toks = tokenize(docs, text_col, id_col)
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    return tf.persist(StorageLevel.MEMORY_AND_DISK) if persist else tf


def build_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(token, doc_id, tf, idf, tf_idf) — ONE job: the corpus count is a
    broadcast single-row aggregate inside the plan, not a separate action."""
    tf = _term_freq(docs, text_col, id_col)
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = df_t.crossJoin(F.broadcast(_corpus_n(docs))).withColumn(
        "idf", F.log((F.col("n_docs").cast("double") + 1.0) / (F.col("df") + 1.0)) + 1.0
    ).drop("n_docs")
    return tf.join(idf, "token").withColumn("tf_idf", F.col("tf") * F.col("idf"))


# Whoosh's BM25F defaults (the oracles in queries/retrieval.py and
# retrieval/oracle_twin.py inline the same literals)
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_stats(docs: DataFrame, dl: DataFrame) -> DataFrame:
    """Broadcast single-row (n_docs, avgdl): N from the input docs frame
    (_corpus_n), avgdl = Σdl / N."""
    return F.broadcast(
        dl.crossJoin(F.broadcast(_corpus_n(docs))).agg(
            F.first("n_docs").alias("n_docs"),
            (F.sum("dl").cast("double") / F.first("n_docs").cast("double")).alias("avgdl"),
        )
    )


def _bm25_w() -> Column:
    """w = round(idf · tf_norm, 6) over the columns tf, dl, df, n_docs and
    avgdl — the one BM25 weight expression, so every postings form rounds
    the same IEEE doubles."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return F.round(idf * tf_norm, 6).alias("w")


def build_bm25_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist: bool = True,
    tf: DataFrame | None = None,
) -> DataFrame:
    """(token, doc_id, w) BM25 postings — the true sparse channel of the
    reference (Whoosh BM25F scoring, behavior /root/reference/ai_worker.py:208-226;
    Whoosh default k1=1.2, b=0.75).

        idf      = ln(1 + (N - df + 0.5) / (df + 0.5))
        tf_norm  = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
        w        = round(idf · tf_norm, 6)   (6dp → cross-engine exact sums)

    N = total corpus docs, dl = doc token count, avgdl = Σdl/N. All three
    travel inside the plan (broadcast single-row agg) — no separate count
    action. Scoring is one shuffle (tf groupBy); the df and dl aggregates
    are map-side-combined."""
    # dl and df both derive FROM the persisted tf — the expensive
    # explode+shuffle over the raw tokens runs once; the rollups are
    # map-side-combinable aggregates over the (much smaller) term table.
    # Callers that publish ONCE and then want the cache gone pass their
    # own persisted `tf` and unpersist it after the write (the stored-
    # index path) instead of leaving an LRU entry behind.
    if tf is None:
        tf = _term_freq(docs, text_col, id_col, persist=persist)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    return (
        tf.join(dl, "doc_id")
        .join(df_t, "token")
        .crossJoin(_bm25_stats(docs, dl))
        .select("token", "doc_id", _bm25_w())
    )


def tfidf_postings_for_query(docs: DataFrame, tokens) -> DataFrame:
    """(token, doc_id, tf, idf, tf_idf) restricted to `tokens` — identical
    arithmetic to build_postings (df for a token counts that token's rows,
    which survive the token filter intact), but the full-vocabulary df
    shuffle and the corpus-wide weight join collapse to the query's token
    rows. The serve shape: query cost scales with the query's postings,
    not the corpus vocabulary (guide §2.3 — don't compute what you throw
    away)."""
    tf = _term_freq(docs, "text", "doc_id")
    # literal isin, not a tiny-frame join: pushes to the scan when tf is a
    # stored table and costs no broadcast/createDataFrame round-trip
    sub = tf.filter(F.col("token").isin(sorted(set(tokens))))
    df_t = sub.groupBy("token").agg(F.count("*").alias("df"))
    idf = df_t.crossJoin(F.broadcast(_corpus_n(docs))).withColumn(
        "idf", F.log((F.col("n_docs").cast("double") + 1.0) / (F.col("df") + 1.0)) + 1.0
    ).drop("n_docs")
    return sub.join(F.broadcast(idf), "token").withColumn(
        "tf_idf", F.col("tf") * F.col("idf")
    )


def bm25_postings_for_query(
    docs: DataFrame, tokens, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(token, doc_id, w) restricted to `tokens` — the query-time twin of
    build_bm25_postings with IDENTICAL arithmetic (same integer sufficient
    statistics → same IEEE doubles → same 6dp rounding; the equivalence
    class bm25_weights_for_terms already hash-proves), but df and the
    weight join run only over the query's token rows. dl and the corpus
    stats still aggregate the full tf (a doc's length spans all its
    tokens), which is one map-side-combinable pass; everything else
    scales with the query."""
    from pyspark import StorageLevel

    tf = _term_freq(docs, text_col, id_col)
    # doc-count-sized and shared by every BM25 query over the same corpus
    # (one cache entry by canonical plan) — each query otherwise
    # re-aggregates the full tf for the same lengths
    dl = (
        tf.groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # literal isin, not a tiny-frame join (scan pushdown, no broadcast)
    sub = tf.filter(F.col("token").isin(sorted(set(tokens))))
    df_t = sub.groupBy("token").agg(F.count("*").alias("df"))
    return (
        sub.join(dl, "doc_id")
        .join(F.broadcast(df_t), "token")
        .crossJoin(_bm25_stats(docs, dl))
        .select("token", "doc_id", _bm25_w())
    )


def bm25_score_query(
    bm25_postings: DataFrame, query_terms: list[str], top_k: int = 10
) -> DataFrame:
    """Top-k docs by Σ BM25 weight over the query terms (OR semantics —
    Whoosh union scoring). Decimal accumulation of the 6dp-rounded per-term
    weights keeps Spark and DuckDB bit-identical."""
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        return bm25_postings.select(
            "doc_id", F.lit(0.0).alias("score")
        ).limit(0)
    scored = (
        bm25_postings.filter(F.col("token").isin(terms))
        .groupBy("doc_id")
        .agg(F.sum(F.col("w").cast("decimal(18,6)")).cast("double").alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def score_query(postings: DataFrame, query_terms: list[str], top_k: int = 10) -> DataFrame:
    """Top-k docs by Σ tf·idf over the query's terms. Query side is a tiny
    literal table → broadcast join; deterministic tie-break on doc_id."""
    scored = (
        postings.filter(
            F.col("token").isin(sorted({t.lower() for t in query_terms}))
        )
        .groupBy("doc_id")
        # per-term 6dp round → DECIMAL sum → double: a raw-double SUM
        # accumulates in partial-aggregation order, so a score straddling a
        # rounding boundary could flip run-to-run (the repo's standard float
        # discipline, same as bm25_score_query)
        .agg(
            F.sum(F.round(F.col("tf_idf"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("score")
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def build_tf_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The INCREMENTAL form of the sparse index: instead of final BM25
    weights (which depend on global df/avgdl and would all change when one
    document lands), store the RAW sufficient statistics —

        tf_index(token, doc_id, tf, dl)   +   stats(n_docs, sum_dl)

    Ingesting a delta is then an upsert of the delta's rows plus two
    integer additions to stats (`merge_tf_delta`); nothing global is
    recomputed. Weights are derived AT QUERY TIME for just the query's
    terms (`bm25_weights_for_terms`) — df for a term is a count over that
    term's rows only, so serving stays a term-bucket-sized job while the
    index updates incrementally. Exact parity with the full rebuild
    (build_bm25_postings) is by construction: same integer statistics →
    the same IEEE arithmetic → the same 6dp-rounded weights (driver
    hash-verified by parsed_search_incremental_x).

    n_docs comes from the INPUT docs frame (_corpus_n), exactly like
    build_bm25_postings — an empty/whitespace-only document contributes no
    tf rows but still counts toward n_docs and avgdl's denominator.
    Such docs are carried in the index as one null-token sentinel row
    (tf=0, dl=0): the index is then a complete doc roster, so
    merge_tf_delta can account a replacement of an empty doc exactly, and
    query-time term joins never see the sentinel (no term equals NULL)."""
    tf = _term_freq(docs, "text", "doc_id", persist=False)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    empty = (
        docs.select(F.col("doc_id").alias("doc_id"))
        .distinct()
        .join(dl, "doc_id", "left_anti")
        .select(
            F.lit(None).cast("string").alias("token"),
            "doc_id",
            F.lit(0).cast("bigint").alias("tf"),
            F.lit(0).cast("bigint").alias("dl"),
        )
    )
    tf_index = (
        tf.join(dl, "doc_id").select("token", "doc_id", "tf", "dl").unionByName(empty)
    )
    stats = (
        dl.agg(F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"))
        .crossJoin(F.broadcast(_corpus_n(docs)))
        .select("n_docs", "sum_dl")
    )
    return tf_index, stats


def merge_tf_delta(
    tf_index: DataFrame,
    stats: DataFrame,
    delta_docs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Upsert a document delta into the raw-statistics index: replaced
    doc_ids drop their old rows (anti join), the delta's rows append, and
    stats adjust by exact integer deltas. No global recompute — the cost
    scales with the DELTA, not the corpus."""
    d_tf, d_stats = build_tf_index(delta_docs)
    delta_ids = delta_docs.select(F.col("doc_id").alias("doc_id")).distinct()
    removed = tf_index.join(delta_ids, "doc_id", "left_semi")
    removed_stats = removed.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("rm_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("rm_dl"),
    )
    kept = tf_index.join(delta_ids, "doc_id", "left_anti")
    merged = kept.unionByName(d_tf).select("token", "doc_id", "tf", "dl")
    new_stats = (
        stats.crossJoin(d_stats.withColumnsRenamed({"n_docs": "d_docs", "sum_dl": "d_dl"}))
        .crossJoin(removed_stats)
        .select(
            (F.col("n_docs") - F.col("rm_docs") + F.col("d_docs")).alias("n_docs"),
            (F.col("sum_dl") - F.col("rm_dl") + F.col("d_dl")).cast("bigint").alias("sum_dl"),
        )
    )
    return merged, new_stats


def bm25_weights_for_terms(
    tf_index: DataFrame,
    stats: DataFrame,
    terms: list[str],
) -> DataFrame:
    """(token, doc_id, w) BM25 weights derived at QUERY TIME from the raw
    tf/dl statistics, for exactly the given terms — identical arithmetic
    (and 6dp rounding) to build_bm25_postings, so serving from the
    incremental index is bit-equal to serving from a full rebuild."""
    sub = tf_index.filter(F.col("token").isin(sorted(set(terms))))
    df_t = sub.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    st = F.broadcast(
        stats.select(
            "n_docs",
            (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias(
                "avgdl"
            ),
        )
    )
    return (
        sub.join(F.broadcast(df_t), "token")
        .crossJoin(st)
        .select("token", "doc_id", _bm25_w())
    )

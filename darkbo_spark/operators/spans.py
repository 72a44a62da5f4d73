"""Cross-document duplicate-SPAN dedup — substring-level deduplication,
the training-data operator that removes repeated token RANGES (license
headers, boilerplate navigation, templated paragraphs) that document-level
dedup (exact/MinHash/SimHash, operators/dedup.py) cannot see: two pages
with different bodies but an identical 40-token header are not document
near-dups, yet the header should appear in the corpus once, not 10^8 times.

Algorithm (the scalable shape of Lee et al.'s "Deduplicating Training Data
Makes Language Models Better" substring dedup, re-expressed relationally):

1. `window_fingerprints` — every n-token window of every document as
   (doc_id, pos, fp), fp = hash of the window's token string. The hash is
   the dedup family's shared primitive (`operators.dedup._token_hash`):
   xxhash64 in production, md5-60 in portable mode so DuckDB replays the
   pipeline bit-for-bit. Hashing the window STRING keeps the full 60/64-bit
   space (a Rabin-Karp fold mod 2^31 — functions/text_analysis.py:90 —
   would birthday-collide at corpus scale: 10^12 windows over a 2^31 space);
   the fold stays the right tool for streaming/incremental fingerprint
   maintenance, this operator needs the wide keyspace.
2. `duplicate_spans` — group windows BY FINGERPRINT across documents (one
   shuffle of (doc_id, pos, fp) on fp — never an all-pairs join); a window
   is duplicate when its fingerprint occurs in >= min_docs distinct docs.
   Fingerprints in more than `max_docs_per_fp` docs can be dropped — the
   degenerate-key guard of `_capped_bucket_pairs`: a pathological window
   ("aaaaaaaa…" filler in half the corpus) would otherwise concentrate one
   reduce key; note the CAP drops it from marking, the tradeoff the MinHash
   path makes too. With keep_first=True the globally-first occurrence
   (lexicographic min (doc_id, pos) — an order-free MIN-of-struct aggregate,
   no window function over the skewed fp key) is exempt, so exactly one
   copy of every duplicated window survives a trim. Adjacent/overlapping
   duplicate windows then merge into MAXIMAL spans per document (window
   partitioned by doc_id — per-doc state only).
3. `trim_duplicate_spans` — remove every token covered by a span and
   rejoin; with keep_first=True spans this is "keep one copy corpus-wide".

Scale notes: stage 2's fingerprint groupBy is map-side-combinable and the
only corpus-wide shuffle; span merge shuffles (doc_id, pos) pairs of
DUPLICATE windows only (tiny vs the corpus); trim is a per-doc join on
doc_id. No step is quadratic in anything.

Two trim fidelities:

* `trim_duplicate_spans` — the dedup family's normalized form: lowercased
  space-split token stream, single-space rejoin (cheap, matches the
  family's fingerprints, but untouched documents come back
  space-normalized).
* `trim_spans_exact` (tokenizer="ws" spans) — BYTE-FAITHFUL: documents no
  span touches are returned byte-identical, and a trim is an exact byte
  excision of each span. Rather than carrying byte offsets through a UDF,
  it exploits the unique decomposition text = lead_ws · tok_0 · sep_0 ·
  tok_1 · … (maximal \\S+ / \\s+ runs): excising the bytes of a merged
  span [a, b) removes exactly tokens a..b-1 and the separators STRICTLY
  BETWEEN them (sep_{a-1} before and sep_{b-1} after survive; merged
  spans are maximal, so two covered neighbors always share a span), so
  rebuilding lead_ws + Σ(kept tok_i + kept sep_i) IS the byte excision —
  zero UDF, pure codegen expressions, and DuckDB replays it exactly
  (pinned byte-for-byte against a Python offset-slicing reference on
  multibyte UTF-8 in tests/test_spans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from darkbo_spark.operators.dedup import _token_hash


def _toks(text_col: str) -> F.Column:
    # the dedup family's shared tokenization: lowercase, split on space
    # runs, boundary empties removed (matches every SQL twin's list_filter)
    return F.array_remove(F.split(F.lower(F.col(text_col)), " +"), "")


def _ws_toks(text_col: str) -> F.Column:
    # byte-faithful family: maximal \S+ runs of the ORIGINAL text (tabs
    # and newlines separate too); lowercasing happens only inside the
    # fingerprint hash, never on the reconstruction path
    return F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)


def _tokens_for(text_col: str, tokenizer: str) -> F.Column:
    if tokenizer == "space":
        return _toks(text_col)
    if tokenizer == "ws":
        return F.transform(_ws_toks(text_col), lambda x: F.lower(x))
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def window_fingerprints(
    df: DataFrame,
    n: int = 8,
    hash_mode: str = "fast",
    tokenizer: str = "space",
) -> DataFrame:
    """(doc_id, pos, fp): the hash of every n-token window of `text`, with its
    0-based token position. Documents shorter than n tokens have no
    windows. Native slide (transform + slice + concat_ws) → posexplode;
    the shuffle payload downstream is the 8-byte fp, not the string."""
    base = df.select(
        F.col("doc_id").alias("doc_id"), _tokens_for("text", tokenizer).alias("_t")
    ).filter(F.size("_t") >= n)
    fps = F.transform(
        F.sequence(F.lit(0), F.size("_t") - n),
        lambda i: _token_hash(F.concat_ws(" ", F.slice("_t", i + 1, n)), hash_mode),
    )
    return base.select("doc_id", F.posexplode(fps).alias("pos", "fp"))


def duplicate_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    max_docs_per_fp: int | None = None,
    keep_first: bool = False,
    hash_mode: str = "fast",
    tokenizer: str = "space",
) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows): maximal duplicate token
    ranges [span_start, span_end) per document — every merged run of
    n-token windows whose fingerprint appears in >= min_docs distinct
    documents. keep_first=True exempts the corpus-wide first occurrence of
    each fingerprint (min (doc_id, pos)), the retention rule a trim needs
    to keep exactly one copy of duplicated content. tokenizer="ws" uses
    the byte-faithful family's \\S+ token positions (feed those spans to
    trim_spans_exact).

    The fingerprint frame feeds TWO branches (the per-fp family aggregate
    and the marked join), so it is persisted — unpersisted,
    tokenize + slide + hash runs twice (the _capped_bucket_pairs
    ReuseExchange-defeat). MEMORY_AND_DISK: (doc_id, pos, fp) rows are
    token-count-sized, spill-safe. The groupBy+join form itself is kept
    over a window-function one-pass deliberately: size(collect_set) over
    a fp-partitioned window would replicate a hot fingerprint's doc set
    per row — the aggregate does partial map-side work and never does."""
    from pyspark import StorageLevel

    wf = window_fingerprints(
        df, n=n, hash_mode=hash_mode, tokenizer=tokenizer
    ).persist(StorageLevel.MEMORY_AND_DISK)
    fam = wf.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("_nd"),
        F.min(F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))).alias(
            "_first"
        ),
    )
    cond = F.col("_nd") >= min_docs
    if max_docs_per_fp is not None:
        cond = cond & (F.col("_nd") <= max_docs_per_fp)
    marked = wf.join(fam.filter(cond), "fp")
    if keep_first:
        marked = marked.filter(
            ~((F.col("doc_id") == F.col("_first.d")) & (F.col("pos") == F.col("_first.p")))
        )
    # merge overlapping/adjacent windows: two duplicate windows at p < q
    # cover a contiguous token range iff q <= p + n
    w = Window.partitionBy("doc_id").orderBy("pos")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        marked.select("doc_id", "pos")
        # NULL lag (first row) compares NULL → otherwise-branch opens a span
        .withColumn(
            "_new", F.when(F.col("pos") - F.lag("pos").over(w) <= n, 0).otherwise(1)
        )
        .withColumn("_grp", F.sum("_new").over(wc))
        .groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def trim_duplicate_spans(df: DataFrame, spans: DataFrame) -> DataFrame:
    """(doc_id, text): each document's token stream with every span-covered
    token removed, rejoined with single spaces (documents without spans
    pass through space-normalized). With keep_first=True spans, duplicated
    content survives in exactly its first-occurrence document."""
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    base = df.select(F.col("doc_id").alias("doc_id"), _toks("text").alias("_t")).join(
        sp, "doc_id", "left"
    )
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    kept = F.filter(
        F.col("_t"),
        lambda t, i: ~F.exists(
            spans_arr, lambda s: (i >= s["span_start"]) & (i < s["span_end"])
        ),
    )
    return base.select("doc_id", F.array_join(kept, " ").alias("text"))


def trim_spans_exact(df: DataFrame, spans: DataFrame) -> DataFrame:
    """(doc_id, text): BYTE-FAITHFUL span excision. Documents no span
    touches return byte-identical; a span [a, b) is removed as the exact
    byte range [start of tok_a, end of tok_{b-1}) — surrounding
    whitespace survives untouched. Expects spans from
    duplicate_spans(tokenizer="ws") (positions index \\S+ runs of the
    ORIGINAL text). See the module doc for why the lead/tok/sep
    reconstruction equals byte-offset slicing. Zero UDF: the rebuild is
    transform + get + concat inside codegen; per-row cost is linear in
    token count, per-token span probe is over that DOC's few merged
    spans only."""
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    base = df.select(F.col("doc_id").alias("doc_id"), F.col("text").alias("_txt")).join(
        sp, "doc_id", "left"
    )
    toks = _ws_toks("_txt")
    seps = F.regexp_extract_all(F.col("_txt"), F.lit(r"\s+"), 0)
    lead = F.regexp_extract(F.col("_txt"), r"^\s*", 0)
    # seps[0] is the leading run when the text starts with whitespace —
    # the separator AFTER tok_i is seps[i + lead_shift] (0-based F.get:
    # NULL past the end, i.e. no trailing separator → '')
    lead_shift = (F.length(lead) > 0).cast("int")
    m = F.size(toks)
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )

    def covered(i: F.Column) -> F.Column:
        return F.exists(
            spans_arr, lambda s: (i >= s["span_start"]) & (i < s["span_end"])
        )

    def part(i: F.Column) -> F.Column:
        tok = F.when(~covered(i), F.get(toks, i)).otherwise(F.lit(""))
        # sep_i sits between tok_i and tok_{i+1}: excised only when both
        # neighbors fall in the (same, maximal) span
        sep = F.when(
            ~(covered(i) & covered(i + 1)),
            F.coalesce(F.get(seps, i + lead_shift), F.lit("")),
        ).otherwise(F.lit(""))
        return F.concat(tok, sep)

    # sequence(0, -1) would generate a DESCENDING range — guard empty docs
    rebuilt = F.concat(
        lead,
        F.when(
            m > 0,
            F.array_join(F.transform(F.sequence(F.lit(0), m - 1), part), ""),
        ).otherwise(F.lit("")),
    )
    return base.select("doc_id", rebuilt.alias("text"))

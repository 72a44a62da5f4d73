"""Line-level boilerplate dedup — the RefinedWeb/CCNet filter that removes
LINES repeated across many documents (nav bars, cookie banners, license
headers rendered per-page) while keeping each document's unique prose.

Sits between document-level dedup (operators/dedup.py — whole docs) and
span-level dedup (operators/spans.py — arbitrary substrings): lines are
the natural unit for web boilerplate because templating engines emit them
verbatim, and the operator needs NO pair join at all — one aggregate over
the exploded line set classifies boilerplate, one anti-join removes it.

Scale shape (100 TB): explode is a narrow map; the stats aggregate
shuffles the line corpus once on the line value (partial map-side
aggregation applies — duplicated lines collapse before the exchange,
which is exactly the skewed-key case: the MORE duplicated a line is, the
cheaper its shuffle); the removal anti-join co-shuffles on the same key;
the order-preserving rebuild is one shuffle on doc_id. No all-pairs
stage anywhere, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, line_no, line) — 0-based positions, `text` split by \\n.
    Empty lines are kept positionally (they matter for faithful rebuild)
    but are never classified as boilerplate."""
    return docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line"),
    )


def line_stats(docs: DataFrame) -> DataFrame:
    """(line, n_docs, n_occ) for every non-empty distinct line: the
    corpus-wide duplication profile. n_docs is an exact COUNT(DISTINCT) —
    at the 100 TB tier swap in approx_count_distinct at identical plan
    shape if ±2% is acceptable."""
    lines = split_lines(docs)
    return (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("line")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
    )


def dedup_lines(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Remove every line that appears in >= min_docs distinct documents;
    rebuild each document's text from its surviving lines in original
    order. Returns (doc_id, text, n_lines_kept, n_lines_removed) — documents
    whose every line was boilerplate survive with empty text (the caller
    decides whether to drop them; silently vanishing rows would corrupt
    downstream counts).

    The exploded line frame feeds THREE branches (boilerplate aggregate,
    the anti-join side, per-doc totals), so it is persisted —
    unpersisted, the full-text split+posexplode runs three times (the
    same ReuseExchange-defeat as spans.duplicate_spans). MEMORY_AND_DISK:
    line rows are corpus-sized, spill-safe."""
    from pyspark import StorageLevel

    lines = split_lines(docs).persist(StorageLevel.MEMORY_AND_DISK)
    boiler = (
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("line")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line")
    )
    kept = lines.join(boiler, "line", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count("*").alias("n_lines_kept"),
    )
    totals = lines.groupBy("doc_id").agg(F.count("*").alias("_n_total"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("bigint").alias("n_lines_kept"),
            (F.col("_n_total") - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_lines_removed"),
        )
    )

"""Anchor-text entity evidence — the classic web-KG linking signal
(Wikipedia-anchor priors, SEO-era link text): the text INSIDE a link is a
human-written surface form for the TARGET, so anchors pointing at a host
vote for which canonical entities that host is about. This enriches the
KG construction pipeline (kg/link.py links mentions inside a page's own
text; this links across the link graph) and is the standard way a
Common-Crawl-scale pipeline bootstraps an alias→entity prior.

Reference parity note: the reference (muneebakhter/DARKBO) links surface
forms from its own document text only (ai_worker.py retrieval + kb
aliasing); anchor evidence is a beyond-reference operator required by the
web-scale KG tier.

Scale shape (the 100 TB story): anchor extraction is a narrow map over
pages — decode → regexp_extract_all → explode, zero UDF, whole-stage
codegen, exactly like operators/linkgraph.py. The entity dictionary is
broadcast (bounded — same assumption as the link stage, with the same
salted fallback available upstream). The only shuffle is the final
(dst_host, eid) rollup with map-side partial aggregation; anchor text
repeats enormously on the web ("home", brand names), so the partial agg
collapses the heavy head before the exchange. Distinct-source counting
uses a two-level exact aggregate (pre-distinct then count), not
count(distinct) over the raw explode, so the exchange carries
(dst_host, eid, src_host) groups — already collapsed — rather than one
row per anchor occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from darkbo_spark.kg.link import _norm
from darkbo_spark.operators.domains import host_of

# full <a> fragments first (regexp_extract_all returns ONE group per
# call), then href/text per fragment — same two-step RE2 shape both
# engines replay
_A_FRAGMENT_RE = '<a href="[^"]*"[^>]*>[^<]*</a>'
_HREF_RE = 'href="([^"]+)"'
_TEXT_RE = ">([^<]*)</a>"


def extract_anchor_texts(pages: DataFrame) -> DataFrame:
    """(src_host, dst_host, anchor_text) over pages (url, html as UTF-8
    bytes) — one row per absolute http(s) anchor occurrence with
    non-empty (trimmed) link text. Multiplicity is kept: repeated
    anchors are repeated votes. Relative links, other
    schemes (mailto:, javascript:) and empty/whitespace anchor texts
    carry no cross-site entity evidence and are dropped."""
    html_str = F.decode(F.col("html"), "UTF-8")
    frags = F.regexp_extract_all(html_str, F.lit(_A_FRAGMENT_RE), F.lit(0))
    return (
        pages.select(
            host_of(F.col("url")).alias("src_host"),
            F.explode(frags).alias("frag"),
        )
        .select(
            "src_host",
            F.regexp_extract(F.col("frag"), _HREF_RE, 1).alias("href"),
            F.trim(F.regexp_extract(F.col("frag"), _TEXT_RE, 1)).alias(
                "anchor_text"
            ),
        )
        .filter(F.col("href").rlike("^(?i)https?://") & (F.col("anchor_text") != ""))
        .select(
            "src_host",
            host_of(F.col("href")).alias("dst_host"),
            "anchor_text",
        )
        .filter((F.col("dst_host") != "") & (F.col("src_host") != ""))
    )


def anchor_entity_evidence(
    anchors: DataFrame, entity_dict: DataFrame
) -> DataFrame:
    """(dst_host, eid, n_mentions, n_src_hosts) — anchor occurrences whose
    normalized text is a dictionary surface form, rolled up per target
    host and entity. Normalization is EXACTLY kg.link._norm (lower, trim,
    leading-'the ' strip) so an anchor matches iff the in-text link stage
    would match the same surface form; on duplicate alias_norm the
    lexicographically smallest eid wins (same tie rule as _prep_dict).
    n_src_hosts (how many DISTINCT sites say it) is the vote-diversity
    signal that separates consensus from one site shouting."""
    dict_norm = (
        entity_dict.select(_norm(F.col("alias")).alias("anchor_norm"), "eid")
        .groupBy("anchor_norm")
        .agg(F.min("eid").alias("eid"))
    )
    matched = anchors.select(
        "src_host", "dst_host", _norm(F.col("anchor_text")).alias("anchor_norm")
    ).join(F.broadcast(dict_norm), "anchor_norm")
    # two-level exact rollup: collapse to (dst_host, eid, src_host) with
    # per-source counts first, then aggregate — no count(distinct) expand
    # over raw occurrences
    per_src = matched.groupBy("dst_host", "eid", "src_host").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_src.groupBy("dst_host", "eid").agg(
        F.sum("n").cast("bigint").alias("n_mentions"),
        F.count(F.lit(1)).cast("bigint").alias("n_src_hosts"),
    )

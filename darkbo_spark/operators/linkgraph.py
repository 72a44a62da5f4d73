"""Hyperlink graph extraction from crawled pages — the web-graph sibling
of the KG's entity graph: href targets pulled from the html payload,
resolved to hosts, aggregated into a host→host link graph that feeds
PageRank/centrality (the crawl-prioritization and spam-weighting signal
every web-corpus pipeline computes).

All native column expressions (decode → regexp_extract_all → explode →
the urlnorm host chain) — zero UDFs, whole-stage codegen end to end.
Scale shape: link extraction is a narrow map over pages; the host-edge
rollup is one shuffle on (src_host, dst_host) with map-side partial
aggregation (the web graph's heavy head — everyone links to the same few
hosts — collapses before the exchange); PageRank then runs on the edge
set, which is orders of magnitude smaller than the page corpus.

Absolute http(s) links only: relative links stay within the source host
(no new edge information at host granularity) and other schemes
(mailto:, javascript:) are not links in the graph sense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from darkbo_spark.operators.domains import host_of

_HREF_RE = 'href="([^"]+)"'


def extract_links(pages: DataFrame) -> DataFrame:
    """(src_host, dst_host) over pages (url, html as UTF-8 bytes) — one
    row per absolute http(s) href occurrence (NOT deduplicated:
    multiplicity is signal for the weighted rollup)."""
    html_str = F.decode(F.col("html"), "UTF-8")
    hrefs = F.regexp_extract_all(html_str, F.lit(_HREF_RE), F.lit(1))
    return (
        pages.select(
            host_of(F.col("url")).alias("src_host"),
            F.explode(hrefs).alias("href"),
        )
        .filter(F.col("href").rlike("^(?i)https?://"))
        .select("src_host", host_of(F.col("href")).alias("dst_host"))
        .filter((F.col("dst_host") != "") & (F.col("src_host") != ""))
    )


def host_edges(links: DataFrame, drop_self: bool = True) -> DataFrame:
    """(src_host, dst_host, n_links) — the weighted host graph. Self
    edges (intra-site navigation) are dropped by default: they dominate
    raw link counts while carrying no cross-site authority signal."""
    e = links
    if drop_self:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links")
    )

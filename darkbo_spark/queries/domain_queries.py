"""Per-domain corpus shaping twins (operators/domains.py), driver-oracled:
registered-domain rollup stats and the top-k-per-domain cap, over messy
URLs constructed dialect-neutrally from the documents table (hosts span
plain and multi-part public suffixes so the last-2/last-3 rule is
exercised on both branches).

Part of the driver-contract query corpus (see darkbo_spark/entry_queries.py
for the registry, driver-window ordering, and the shared float discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.operators.domains import (
    host_of,
    sql_host_of,
    sql_registered_domain,
    with_registered_domain,
)
from darkbo_spark.queries.common import _q, _t

_CAP_K = 5

# www.site{0..22} across four suffixes (two multi-part), some with ports
# and paths so host extraction earns its keep
_DOC_URL_SQL = (
    "'https://www.site' || CAST(doc_id % 23 AS STRING)"
    " || (CASE doc_id % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'"
    " WHEN 2 THEN '.org' ELSE '.com.au' END)"
    " || (CASE WHEN doc_id % 6 = 0 THEN ':8443' ELSE '' END)"
    " || '/p/' || CAST(doc_id AS STRING)"
)

_SQL_DOMAIN = sql_registered_domain(sql_host_of(_DOC_URL_SQL))

_DOMAIN_STATS_ORACLE = f"""
SELECT {_SQL_DOMAIN} AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""


@_q("domain_stats_x", _DOMAIN_STATS_ORACLE)
def domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain rollup (docs + chars per domain) — the skew
    profile a crawl-shaping pass reads first; the registered-domain rule
    (last-2 vs multi-part-suffix last-3) is hash-verified on both
    branches."""
    d = _t(spark, sf_dir, "documents")
    # broadcast-probe join form: K flat hash probes at PSL-sized rule sets
    # (measured vs the inline-literal expr form: BENCH/BASELINE.md,
    # "Round 7: domains-family A/B")
    docs = with_registered_domain(d, host_of(F.expr(_DOC_URL_SQL)), "domain")
    return docs.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


_DOMAIN_CAPS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, n_chars, {_SQL_DOMAIN} AS domain FROM documents
),
r AS (
  SELECT doc_id, domain,
         ROW_NUMBER() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rk
  FROM d
)
SELECT doc_id, domain, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {_CAP_K}
"""


@_q("domain_caps_x", _DOMAIN_CAPS_ORACLE)
def domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} docs per registered domain (C4/Gopher site cap) under the
    total order (n_chars DESC, doc_id): the Spark side runs the SKEW-SAFE
    two-phase rank (salted partial top-k, then a k·salt-bounded final
    rank); DuckDB replays the textbook single window — the driver hash
    proves the two-phase form is selection-exact."""
    from darkbo_spark.operators.domains import cap_per_domain

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    docs = with_registered_domain(d, host_of(F.expr(_DOC_URL_SQL)), "domain")
    return cap_per_domain(
        docs, k=_CAP_K, order_by=[F.col("n_chars").desc()]
    ).select("doc_id", "domain", F.col("rk").cast("bigint").alias("rk"))

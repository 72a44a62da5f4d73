"""The COMPOSED training-data pipeline under ONE driver hash: language
gate → quality gate → exact dedup (first wins) → per-domain cap →
deterministic sample → token-budget shard packing. Each stage is already
individually oracled (training_data_filter, exact_dedup_docs,
domain_caps_x, training_mix_sample_x, shard_pack_x); this twin proves the
stages COMPOSE without semantic drift — the hash covers every filter
decision, the cap's total order, the sampler's member set, and the global
prefix sum, end to end.

Spark side: training/pipeline.training_stages — the stage list the
resumable runner publishes stage by stage — folded into one plan (no
materialization between stages — Catalyst fuses the gates into the scan,
the only shuffles are the dedup window, the cap's two bounded windows,
and the pack's range partition). DuckDB: the staged CTE replay, rendered
from the runner's constants.

Part of the driver-contract query corpus (see darkbo_spark/entry_queries.py
for the registry, driver-window ordering, and the shared float discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.functions import text_analysis as ta
from darkbo_spark.queries.common import _q, _t
from darkbo_spark.queries.domain_queries import _DOC_URL_SQL, _SQL_DOMAIN
from darkbo_spark.training.pipeline import (
    CAP_K,
    QUALITY_MIN,
    SAMPLE_FRACTION,
    SAMPLE_SALT,
    SHARD_BUDGET,
    training_stages,
)

_PIPELINE_ORACLE = f"""
WITH gated AS (
  SELECT doc_id, text, lang, n_chars FROM documents
  WHERE {ta.sql_lang_id('text')} = 'en_like' AND {ta.sql_quality_score('text')} >= {QUALITY_MIN}
),
dedup_keys AS (
  SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)
),
dd AS (SELECT g.* FROM gated g JOIN dedup_keys USING (doc_id)),
capped AS (
  SELECT doc_id, domain FROM (
    SELECT doc_id, {_SQL_DOMAIN} AS domain,
           ROW_NUMBER() OVER (PARTITION BY {_SQL_DOMAIN}
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM dd
  ) WHERE rk <= {CAP_K}
),
sampled AS (
  SELECT doc_id, domain FROM capped
  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS STRING) || ':{SAMPLE_SALT}'), 1, 15)) AS BIGINT)
        % 1000000 < {round(SAMPLE_FRACTION * 1000000)}
),
toks AS (
  SELECT s.doc_id, s.domain, CAST({ta.sql_token_count('d.text')} AS BIGINT) AS n_tokens
  FROM sampled s JOIN documents d USING (doc_id)
),
packed AS (
  SELECT doc_id, domain, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
  FROM toks
)
SELECT doc_id, domain, n_tokens, cum_tokens,
       CAST(((cum_tokens - n_tokens) - (cum_tokens - n_tokens) % {SHARD_BUDGET})
            / {SHARD_BUDGET} AS BIGINT) AS shard_id
FROM packed
ORDER BY doc_id
"""


@_q("training_pipeline_x", _PIPELINE_ORACLE)
def training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    for _name, _params, build in training_stages(
        F.expr(_DOC_URL_SQL), _DOC_URL_SQL, SAMPLE_FRACTION
    ):
        df = build(df)
    return df.select("doc_id", "domain", "n_tokens", "cum_tokens", "shard_id")

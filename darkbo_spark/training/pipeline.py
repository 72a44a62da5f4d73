"""The training-data pipeline, written once: gate → exact dedup →
per-domain cap → deterministic sample → token-budget shard pack.
`training_stages` is its one stage list, the constants below its one set
of settings, and two compositions run it:

* `run_training_pipeline` publishes each stage as a versioned table
  through storage/stages.stage_run (the KG pipeline's runner) under
  `.training_pipeline.lock`. Fingerprints chain (parent_fp, stage,
  params, CODE_VERSION), so a rerun recomputes only stages whose input,
  parameters or code changed, and a killed run resumes downstream-only;
  each stage reads its input back from the previous published table.
* queries/pipeline_queries.training_pipeline folds the list into one
  plan, hash-checked against DuckDB (`training_pipeline_x`, whose oracle
  renders from these constants) — the hash checks the runner's stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.functions import text_analysis as ta
from darkbo_spark.storage.stages import WAIT_S, StageResult, stage_run

CODE_VERSION = "tp1"
# the stage settings; they render into the stage params (and the twin's
# oracle SQL), so changing one invalidates its stage
QUALITY_MIN = 0.7
CAP_K = 5
SAMPLE_FRACTION = 0.8
SAMPLE_SALT = "pipe1"
SHARD_BUDGET = 2000


def training_stages(url: Column, url_desc: str, sample_fraction: float) -> list:
    """The stages in order, as (name, params, build(df) → df). The cap
    groups on the registered domain of `url`, a Column over (doc_id,
    text, lang, n_chars); `url_desc` is its string form for the params."""
    from darkbo_spark.operators.dedup import exact_dedup
    from darkbo_spark.operators.domains import (
        cap_per_domain,
        host_of,
        with_registered_domain,
    )
    from darkbo_spark.operators.sampling import deterministic_sample
    from darkbo_spark.operators.sharding import pack_shards

    cols = ("doc_id", "text", "lang", "n_chars")
    return [
        ("gated", f"q{QUALITY_MIN}", lambda df: df.filter(
            (ta.lang_id_heuristic(F.col("text")) == "en_like")
            & (ta.quality_score(F.col("text")) >= QUALITY_MIN)
        ).select(*cols)),
        ("deduped", "md5-first",
         lambda df: exact_dedup(df, "text", "doc_id").select(*cols)),
        ("capped", f"k{CAP_K}|url:{url_desc}", lambda df: cap_per_domain(
            with_registered_domain(df, host_of(url)),
            k=CAP_K, order_by=[F.col("n_chars").desc()],
        ).select("doc_id", "domain", "text", "n_chars")),
        ("sampled", f"f{sample_fraction}:{SAMPLE_SALT}",
         lambda df: deterministic_sample(df, sample_fraction, salt=SAMPLE_SALT)),
        ("packed", f"b{SHARD_BUDGET}", lambda df: pack_shards(
            df.select("doc_id", "domain",
                      ta.token_count(F.col("text")).cast("bigint").alias("n_tokens")),
            budget=SHARD_BUDGET,
        )),
    ]


def run_training_pipeline(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    input_fingerprint: str,
    url: Column,
    url_desc: str,
    sample_fraction: float = SAMPLE_FRACTION,
) -> StageResult:
    """Publish each of training_stages over `docs` (doc_id, text, lang,
    n_chars); the caller owns where URLs come from (`url`, `url_desc`),
    the runner owns the staged flow."""
    with stage_run(
        spark, out_dir, "training_pipeline", CODE_VERSION, wait_s=WAIT_S
    ) as run:
        src = (docs, input_fingerprint)
        for name, params, build in training_stages(url, url_desc, sample_fraction):
            src = run.start(name, [src], params, build)
    return run.result

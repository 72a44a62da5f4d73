"""Resumable staged runner for the training-data pipeline — the KG
spine's checkpoint-resume discipline (kg/pipeline.py) applied to the
corpus-shaping flow: gate → exact dedup → per-domain cap → deterministic
sample → token-budget shard pack.

Each stage runs through storage/stages.stage_run — the same runner as
the KG pipeline, under `.training_pipeline.lock` (a second run waits for
the first). It publishes a versioned table (storage factory —
Iceberg-ready) whose fingerprint chains (parent_fp, stage, params,
CODE_VERSION), so a rerun recomputes ONLY stages whose input, parameters,
or code changed; a kill between stages resumes downstream-only; per-file
metrics rows (stage, fingerprint, rows, wall) are published to `_metrics`
and every table keeps its last 3 versions. Stage inputs
are read BACK from the published tables — each stage's cost is paid once
per fingerprint, which is what makes a multi-day 100 TB pipeline
restartable instead of all-or-nothing.

The stage SEMANTICS are the same operators the one-job composed twin
uses (queries/pipeline_queries.training_pipeline, driver-hash-proven vs
DuckDB); equality of staged vs one-job output is pinned in
tests/test_training_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.functions import text_analysis as ta
from darkbo_spark.storage.stages import WAIT_S, StageResult, stage_run

CODE_VERSION = "tp1"
# the stage settings of the composed twin (queries/pipeline_queries.py);
# they render into the stage params, so changing one invalidates its stage
QUALITY_MIN = 0.7
CAP_K = 5
SAMPLE_SALT = "pipe1"
SHARD_BUDGET = 2000


def run_training_pipeline(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    input_fingerprint: str,
    domain_col,
    domain_desc: str,
    sample_fraction: float = 0.8,
) -> StageResult:
    """docs must carry (doc_id, text, lang, n_chars); `domain_col` is a
    Column over those columns yielding the registered domain (a URL
    column in production — the caller owns where domains come from, the
    runner owns the staged flow) and `domain_desc` is its stable string
    form for the stage fingerprint."""
    from darkbo_spark.operators.dedup import exact_dedup
    from darkbo_spark.operators.domains import cap_per_domain
    from darkbo_spark.operators.sampling import deterministic_sample
    from darkbo_spark.operators.sharding import pack_shards

    with stage_run(
        spark, out_dir, "training_pipeline", CODE_VERSION, wait_s=WAIT_S
    ) as run:
        stage = run.stage
        gated_tbl, fp1 = stage(
            "gated", input_fingerprint, f"q{QUALITY_MIN}",
            lambda: docs.filter(
                (ta.lang_id_heuristic(F.col("text")) == "en_like")
                & (ta.quality_score(F.col("text")) >= QUALITY_MIN)
            ).select("doc_id", "text", "lang", "n_chars"),
        )
        dd_tbl, fp2 = stage(
            "deduped", fp1, "md5-first",
            lambda: exact_dedup(gated_tbl.read(spark), "text", "doc_id")
            .select("doc_id", "text", "lang", "n_chars"),
        )
        cap_tbl, fp3 = stage(
            "capped", fp2, f"k{CAP_K}|{domain_desc}",
            lambda: cap_per_domain(
                dd_tbl.read(spark).withColumn("domain", domain_col),
                k=CAP_K,
                order_by=[F.col("n_chars").desc()],
            ).select("doc_id", "domain", "text", "n_chars"),
        )
        samp_tbl, fp4 = stage(
            "sampled", fp3, f"f{sample_fraction}:{SAMPLE_SALT}",
            lambda: deterministic_sample(
                cap_tbl.read(spark), sample_fraction, salt=SAMPLE_SALT
            ),
        )
        stage(
            "packed", fp4, f"b{SHARD_BUDGET}",
            lambda: pack_shards(
                samp_tbl.read(spark).select(
                    "doc_id", "domain",
                    ta.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
                ),
                budget=SHARD_BUDGET,
            ),
        )
    return run.result

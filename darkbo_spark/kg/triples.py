"""Stages S + T — sentence segmentation and rule-based triple extraction.

docs(url, warc_ts, lang, text)
  → raw_triples(url, sent_idx, subj, pred, obj, triple_id)

English documents only. One vectorized UDF per document segments and
extracts in a single Arrow batch (functions/textnorm.doc_triples_udf),
then one explode; no shuffle. `sent_idx` is the sentence's position in
the document. The triple id is the deterministic uuid5 of (url, sent_idx,
subj, pred, obj), computed NATIVELY on the JVM (functions/ids.py) so the
id path never enters Python.

This is the only S+T chain: run_pipeline, the incremental and streaming
paths and every KG registry twin run it. The UDF shares
`reference_impl.split_sentences` / `extract_triples` with the pytest
oracle, making the P/R-vs-golden comparison exact by construction
(BASELINE.json: P/R ≥ 0.95; engineered to 1.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from darkbo_spark.functions.ids import uuid5_col
from darkbo_spark.functions.textnorm import doc_triples_udf


def extract_doc_triples_df(docs: DataFrame) -> DataFrame:
    """docs → raw_triples over the English documents."""
    exploded = docs.filter(F.col("lang") == "en").select(
        "url", F.explode(doc_triples_udf(F.col("text"))).alias("t")
    ).select(
        "url",
        F.col("t.sent_idx").alias("sent_idx"),
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
    )
    return exploded.withColumn(
        "triple_id",
        uuid5_col(
            "triple", "url", F.col("sent_idx").cast("string"), "subj", "pred", "obj"
        ),
    )

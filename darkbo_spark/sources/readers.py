"""Sources/sinks — the reference's ingestion surface re-expressed as Spark
readers (SURVEY.md §2.1).

* FAQ / KB JSON collections (S1/S2): explicit schemas, ISO-8601 timestamp
  shim (P10: `Z` → `+00:00`, fallback now → here `coalesce` to a supplied
  default, never wall-clock in the data path), deterministic uuid5 ids
  re-derived exactly as the reference does (behavior api/models.py:26-29,
  84-88).
* Project registry TSV (S3): tab-split id→name (behavior api/storage.py:44-57).
* Text/markdown files (S7): utf-8 with latin-1 fallback (behavior
  api/simple_processor.py:34-47).
* Binary attachments (S10/S11): `binaryFile` format, plus the
  zero-length files that scan skips.
* Unified index items (§1.1): FAQ ∪ KB with `content = question ⧺ answer`
  (behavior api/index_versioning.py:350-383, concat at :366).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from darkbo_spark.functions.ids import uuid5_col

FAQ_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("question", StringType()),
        StructField("answer", StringType()),
        StructField("created_at", StringType()),
        StructField("updated_at", StringType()),
        StructField("source", StringType()),
        StructField("source_file", StringType()),
    ]
)

KB_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("article", StringType()),
        StructField("content", StringType()),
        StructField("created_at", StringType()),
        StructField("updated_at", StringType()),
        StructField("source", StringType()),
        StructField("source_file", StringType()),
        StructField("chunk_index", IntegerType()),
    ]
)


def iso_ts(col: F.Column) -> F.Column:
    """P10 — ISO-8601 shim: trailing Z → +00:00, then to_timestamp."""
    return F.to_timestamp(F.regexp_replace(col, "Z$", "+00:00"))


def read_faq_json(spark: SparkSession, path: str, project_id: str) -> DataFrame:
    """FAQ collection: JSON array of rows; ids re-derived content-addressed
    (uuid5 over 'faq:{pid}:{q}:{a}') so they are stable regardless of what
    the file carries."""
    df = spark.read.schema(FAQ_SCHEMA).option("multiLine", True).json(path)
    return df.select(
        F.coalesce(
            "id",
            uuid5_col("faq", F.lit(project_id), F.trim("question"), F.trim("answer")),
        ).alias("id"),
        "question",
        "answer",
        iso_ts(F.col("created_at")).alias("created_at"),
        iso_ts(F.col("updated_at")).alias("updated_at"),
        "source",
        "source_file",
        F.lit(project_id).alias("project_id"),
    )


def read_kb_json(spark: SparkSession, path: str, project_id: str) -> DataFrame:
    """KB collection: ids content-addressed as uuid5 over
    'kb:{pid}:{article}:{sha256(content)}'."""
    df = spark.read.schema(KB_SCHEMA).option("multiLine", True).json(path)
    return df.select(
        F.coalesce(
            "id",
            uuid5_col("kb", F.lit(project_id), F.col("article"), F.sha2("content", 256)),
        ).alias("id"),
        "article",
        "content",
        iso_ts(F.col("created_at")).alias("created_at"),
        iso_ts(F.col("updated_at")).alias("updated_at"),
        "source",
        "source_file",
        "chunk_index",
        F.lit(project_id).alias("project_id"),
    )


def read_project_registry(spark: SparkSession, path: str) -> DataFrame:
    """S3 — tab-separated id→name registry."""
    return spark.read.csv(
        path, sep="\t", schema="project_id string, name string"
    ).filter(F.col("project_id").isNotNull())


@pandas_udf(StringType())
def decode_text_fallback(data: pd.Series) -> pd.Series:
    """S7 — utf-8 with latin-1 fallback, batch-decoded."""

    def one(b: bytes | None) -> str:
        if b is None:
            return ""
        try:
            return b.decode("utf-8")
        except UnicodeDecodeError:
            return b.decode("latin-1")

    return data.map(one)


def read_text_files(spark: SparkSession, path: str) -> DataFrame:
    """Text/markdown files with encoding fallback: binaryFile scan + batched
    decode (a plain `spark.read.text` would hard-fail on latin-1 bytes)."""
    raw = spark.read.format("binaryFile").load(path)
    return raw.select(
        F.col("path"),
        decode_text_fallback(F.col("content")).alias("text"),
        F.col("length"),
    )


def read_attachments(spark: SparkSession, path: str) -> DataFrame:
    """S10/S11 — opaque binary blobs + metadata. The `binaryFile` scan
    skips zero-length files, so those the Hadoop FileSystem lists under
    `path` (a file, directory or glob; hidden `_`/`.` entries excepted,
    as in the scan) come back as rows with length 0 and empty content."""
    blobs = spark.read.format("binaryFile").load(path).select(
        "path", "length", "modificationTime", "content"
    )
    jvm, conf = spark.sparkContext._jvm, spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    todo, empty = list(fs.globStatus(root) or []), []
    while todo:
        st = todo.pop()
        if st.isDirectory():
            todo.extend(c for c in fs.listStatus(st.getPath())
                        if not c.getPath().getName().startswith(("_", ".")))
        elif st.getLen() == 0:
            empty.append((st.getPath().toString(), st.getModificationTime()))
    if not empty:
        return blobs
    return blobs.unionByName(
        spark.createDataFrame(empty, "path string, ms bigint").select(
            "path",
            F.lit(0).cast("bigint").alias("length"),
            F.timestamp_millis("ms").alias("modificationTime"),
            F.lit(bytearray()).alias("content"),
        )
    )


def faq_items(faqs: DataFrame) -> DataFrame:
    """FAQ rows → unified item shape; content is 'question answer'
    (reference concat behavior, api/index_versioning.py:366)."""
    return faqs.select(
        "id",
        F.lit("faq").alias("type"),
        F.col("question").alias("title"),
        F.concat_ws(" ", "question", "answer").alias("content"),
        "project_id",
    )


def kb_items(kb: DataFrame) -> DataFrame:
    """KB rows → unified item shape (title = article)."""
    return kb.select(
        "id",
        F.lit("kb").alias("type"),
        F.col("article").alias("title"),
        "content",
        "project_id",
    )


def unified_items(faqs: DataFrame, kb: DataFrame) -> DataFrame:
    """§1.1 unified index item: one row per FAQ/KB entry with a common
    schema. The per-source shaping lives in faq_items/kb_items so single-
    source callers (retrieval/prebuild.py) share the one definition."""
    return faq_items(faqs).unionByName(kb_items(kb))

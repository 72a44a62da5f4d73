"""S4 — project auto-discovery + content-sniff name inference.

The reference scans its data directory for project subdirs carrying
``{id}.faq.json`` / ``{id}.kb.json`` and infers a human project name by
sniffing the first few FAQ rows for known org markers (behavior:
/root/reference/prebuild_kb.py:61-106 — existence predicate, then
``'ACLU' in content`` style checks over the first 3 FAQs, defaulting to
the directory id).

Spark restatement: the directory scan is driver-side metadata work (the
analog of an Iceberg catalog/partition listing — never a cluster job),
while name inference is a DataFrame plan over the FAQ rows: window-limit
to the first SNIFF_ROWS per project, one `contains` chain per known
marker, first match wins, `coalesce` to the project id. One broadcast-size
aggregate regardless of corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# marker → inferred name, checked in order (reference list, prebuild_kb.py:92-99)
NAME_MARKERS: list[tuple[str, list[str]]] = [
    ("ACLU", ["ACLU", "AMERICAN CIVIL LIBERTIES"]),
    ("ASPCA", ["ASPCA", "PREVENTION OF CRUELTY TO ANIMALS"]),
]


def discover_project_dirs(data_dir: str) -> dict[str, dict[str, str | None]]:
    """Driver-side scan: subdirs with {id}.faq.json or {id}.kb.json →
    {project_id: {"faq": path|None, "kb": path|None}}."""
    out: dict[str, dict[str, str | None]] = {}
    if not os.path.isdir(data_dir):
        return out
    for item in sorted(os.listdir(data_dir)):
        d = os.path.join(data_dir, item)
        if not os.path.isdir(d):
            continue
        faq = os.path.join(d, f"{item}.faq.json")
        kb = os.path.join(d, f"{item}.kb.json")
        has_faq, has_kb = os.path.exists(faq), os.path.exists(kb)
        if has_faq or has_kb:
            out[item] = {"faq": faq if has_faq else None, "kb": kb if has_kb else None}
    return out


def infer_name_col(content: F.Column, default: F.Column) -> F.Column:
    """First marker whose any-substring matches the UPPERCASED content."""
    expr = default
    for name, markers in reversed(NAME_MARKERS):
        hit = None
        for m in markers:
            c = F.upper(content).contains(F.lit(m))
            hit = c if hit is None else (hit | c)
        expr = F.when(hit, F.lit(name)).otherwise(expr)
    return expr


# the reference sniffs the first 3 FAQs of a project, in file order
SNIFF_ROWS = 3


def discover_projects(spark: SparkSession, data_dir: str) -> DataFrame:
    """→ (project_id, name): discovered projects with content-sniffed names.

    Matches the reference loop exactly: only the first SNIFF_ROWS FAQs per
    project are sniffed (in file order), answer+question concatenated, first
    marker hit wins, else the id. Projects with only a KB file keep their id
    as the name (the reference sniffs FAQ data only)."""
    import pandas as pd

    projects = discover_project_dirs(data_dir)
    if not projects:
        return spark.createDataFrame([], schema="project_id string, name string")
    base = spark.createDataFrame(
        pd.DataFrame({"project_id": sorted(projects)})
    )
    # The ordinal must be the IN-FILE row position (the reference sniffs the
    # first 3 FAQs in file order). monotonically_increasing_id() only matches
    # file order while the read is single-partition — its high bits carry the
    # partition id — so instead read each FAQ file whole and posexplode the
    # JSON array: `pos` IS the file ordinal, independent of partitioning.
    faq_parts = []
    for pid, paths in sorted(projects.items()):
        if paths["faq"]:
            arr = F.from_json(
                F.col("value"), "array<struct<question:string,answer:string>>"
            )
            faq_parts.append(
                spark.read.text(paths["faq"], wholetext=True)
                .select(F.posexplode(arr).alias("_ord", "_row"))
                .select(
                    F.lit(pid).alias("project_id"),
                    F.col("_row.question").alias("question"),
                    F.col("_row.answer").alias("answer"),
                    "_ord",
                )
            )
    if not faq_parts:
        return base.select("project_id", F.col("project_id").alias("name"))
    faqs = faq_parts[0]
    for p in faq_parts[1:]:
        faqs = faqs.unionByName(p)
    w = Window.partitionBy("project_id").orderBy(F.asc("_ord"))
    # reference loop semantics: per FAQ (in order), first FAQ matching ANY
    # marker decides the name (ACLU checked before ASPCA within a FAQ)
    sniff = (
        faqs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= SNIFF_ROWS)
        .select(
            "project_id",
            "_ord",
            infer_name_col(
                # reference sniff string is answer.upper() + ' ' + question.upper()
                F.concat_ws(
                    " ",
                    F.coalesce("answer", F.lit("")),
                    F.coalesce("question", F.lit("")),
                ),
                F.lit(None).cast("string"),
            ).alias("marker"),
        )
        .filter(F.col("marker").isNotNull())
        .withColumn("_first", F.row_number().over(w))
        .filter(F.col("_first") == 1)
        .select("project_id", F.col("marker").alias("name"))
    )
    return (
        base.join(sniff, "project_id", "left")
        .select("project_id", F.coalesce("name", "project_id").alias("name"))
        .orderBy("project_id")
    )

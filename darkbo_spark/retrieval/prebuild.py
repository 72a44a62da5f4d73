"""End-to-end per-project retrieval index prebuild + stored-index serving.

This is the reference's MAIN entry flow restated for Spark (behavior:
prebuild_kb.py:61-199 — auto-discover projects, checksum-gated per-project
IndexBuilder.build_new_version; api/index_versioning.py:277-485 — FAQ rows
become items with content "question answer", KB rows items with
title=article, then a dense vector index and a sparse text index are built
per version; queries run dense/sparse/basic channels and hybrid-merge,
ai_worker.py:172-261):

* `prebuild_all` / `prebuild_project` — discover → read FAQ/KB → item
  corpus → publish THREE SnapshotTable versions per project (items,
  dense_index, sparse_postings) under out_dir/{project_id}/, all gated by
  ONE data-file checksum fingerprint (unchanged inputs → zero work, the
  reference's needs_rebuild semantics), under the project's BuildLock,
  keep-last-3 retention. `_publish_indexes` is that lock-and-publish body,
  shared with the driver-oracled twin (retrieval/oracle_twin.py); its
  lock wait is storage/stages.locked.
* `query_project` — serve a raw query string entirely from the STORED
  tables: dense (embed the query, exact cosine vs the stored vectors),
  sparse (QueryParser semantics over the stored BM25 postings), basic
  (lexical relevance over stored items), hybrid-merged with dense-first
  precedence — the reference's search path shape, ai_worker.py:233-261.

Scale notes: each project's build is a handful of narrow passes (one Arrow
embed pass, one postings shuffle); projects are independent — a real
deployment fans them out as concurrent Spark jobs or one job over a
project-partitioned corpus. Serving reads only the published version
directories (immutable, atomically swapped), so queries never observe a
half-built index.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.functions.embed import embed_udf
from darkbo_spark.operators.hybrid import hybrid_merge
from darkbo_spark.operators.queryparse import search_text
from darkbo_spark.operators.scoring import relevance_score_col
from darkbo_spark.operators.similarity import brute_force_topk
from darkbo_spark.operators.tfidf import build_bm25_postings
from darkbo_spark.sources.discovery import discover_project_dirs
from darkbo_spark.sources.readers import read_faq_json, read_kb_json
from darkbo_spark.storage.snapshots import SnapshotTable
from darkbo_spark.storage.stages import locked


def project_items(
    spark: SparkSession, project_id: str, paths: dict[str, str | None]
) -> DataFrame:
    """(id, type, title, content) — the reference's item corpus, delegated
    to the one item-shape definition in sources/readers.py (faq_items /
    kb_items): FAQ content is 'question answer' (title=question), KB
    content is the chunk body (title=article)."""
    from darkbo_spark.sources.readers import faq_items, kb_items

    parts = []
    if paths.get("faq"):
        parts.append(faq_items(read_faq_json(spark, paths["faq"], project_id)))
    if paths.get("kb"):
        parts.append(kb_items(read_kb_json(spark, paths["kb"], project_id)))
    if not parts:
        raise ValueError(f"project {project_id} has no FAQ or KB data")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.drop("project_id")


def _data_fingerprint(paths: dict[str, str | None]) -> str:
    """Checksum over the project's data FILES (the reference's
    needs_rebuild input checksums) — identical bytes → identical
    fingerprint → publish() skips."""
    h = hashlib.sha256()
    for kind in ("faq", "kb"):
        p = paths.get(kind)
        h.update(kind.encode())
        if p and os.path.exists(p):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


_INDEX_TABLES = ("items", "dense_index", "sparse_postings")


def _publish_indexes(
    spark: SparkSession, base: str, fp: str, items_fn, wait_s: float
) -> tuple[bool, dict]:
    """The one prebuild lock-and-publish body: under `base`'s prebuild
    BuildLock (waiting up to `wait_s`), publish the item corpus
    `items_fn()`, its dense embeddings and its BM25 postings as three
    versions sharing fingerprint `fp` — or skip if all three already
    carry it — then keep the last 3 versions of each. Returns
    (skipped, {table: current version})."""
    tables = {name: SnapshotTable(base, name) for name in _INDEX_TABLES}
    with locked(base, "prebuild", wait_s):
        skipped = all(t.current_fingerprint() == fp for t in tables.values())
        if not skipped:
            items = items_fn()
            # one Arrow pass: embeddings ride along with the items scan
            dense = items.select("id", embed_udf(F.col("content")).alias("embedding"))
            postings = build_bm25_postings(
                items, text_col="content", id_col="id", persist=False
            )
            for name, df in zip(_INDEX_TABLES, (items, dense, postings)):
                tables[name].publish(df, fp)
                tables[name].expire(retain_last=3)
        versions = {name: t.current()["version"] for name, t in tables.items()}
    return skipped, versions


def prebuild_project(
    spark: SparkSession,
    project_id: str,
    paths: dict[str, str | None],
    out_dir: str,
) -> dict:
    """Build (or skip) one project's retrieval indexes; refuses at once if
    another builder holds the project's lock. Returns
    {"project_id", "fingerprint", "skipped": bool, "versions": {...}}."""
    fp = _data_fingerprint(paths)
    skipped, versions = _publish_indexes(
        spark, os.path.join(out_dir, project_id), fp,
        lambda: project_items(spark, project_id, paths), wait_s=0.0,
    )
    return {
        "project_id": project_id,
        "fingerprint": fp,
        "skipped": skipped,
        "versions": versions,
    }


def prebuild_all(spark: SparkSession, data_dir: str, out_dir: str) -> dict:
    """The prebuild_kb.py main loop: discover every project under data_dir
    and build each one's indexes (checksum-skip per project)."""
    projects = discover_project_dirs(data_dir)
    results = {}
    for pid, paths in sorted(projects.items()):
        results[pid] = prebuild_project(spark, pid, paths, out_dir)
    return results


def query_project(
    spark: SparkSession,
    out_dir: str,
    project_id: str,
    query: str,
    top_k: int = 5,
) -> DataFrame:
    """Serve a raw query from the STORED indexes: dense ∪ sparse ∪ basic
    with dense-first precedence dedup and top-k — (id, score, search_type).
    Mirrors ai_worker's hybrid search over the versioned indexes."""
    base = os.path.join(out_dir, project_id)
    items = SnapshotTable(base, "items").read(spark)
    dense_idx = SnapshotTable(base, "dense_index").read(spark)
    postings = SnapshotTable(base, "sparse_postings").read(spark)

    import pandas as pd

    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "qtext": [query]})).select(
        "qid",
        F.transform(embed_udf(F.col("qtext")), lambda x: x.cast("double")).alias("qvec"),
    )
    corpus = dense_idx.select(
        F.col("id").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dense = brute_force_topk(corpus, qdf, k=top_k).select(
        F.col("doc_id").alias("id"), "score"
    )
    sparse = search_text(
        items, query, text_col="content", id_col="id", top_k=top_k, postings=postings
    ).select(F.col("doc_id").alias("id"), "score")
    basic = (
        items.select(
            "id",
            relevance_score_col(
                query.lower(), F.lower("content"), F.lower("title")
            ).alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(top_k)
    )
    return hybrid_merge(
        {"dense": dense, "sparse": sparse, "basic": basic}, top_k=top_k
    )

"""Incremental KG maintenance — the delta path that makes the pipeline
viable at crawl cadence: when a batch of pages is refetched, only those
pages re-run the pipeline's extract → S+T → link chain, and the
materialized triple table is upserted by url (delete-and-insert), instead
of recomputing the corpus.

This is the KG sibling of the sparse index's build_tf_index/merge_tf_delta
(operators/tfidf.py): cost scales with the DELTA, not the corpus. Triples
need no global statistics, so the merge is pure — an anti-join plus a
union, one broadcast of the (small) delta url set, zero shuffle of the
kept triples.

CORRECTNESS TRAP the API shape guards against: the deleted-url set must
come from the delta PAGES, not from the freshly extracted triples — a
refetched page whose new content yields ZERO triples still has to retire
its stale triples. `upsert_triples_by_url` therefore takes `delta_urls`
as a required argument (derive it from the pages frame), and the
zero-triple retirement case is pinned in tests/test_kg_incremental.py.

`refresh` is the crawl cycle, composed once as one stage_run: upsert the
live triples, merge the cycle's envelopes into the stored state
(kg/temporal), resolve the facts. Envelopes accumulate mentions, so a
re-run merge double-counts: only the fingerprint skip makes a replay safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.storage import make_table
from darkbo_spark.storage.stages import WAIT_S, StageResult, stage_run

CODE_VERSION = "1"
# the tables `refresh` maintains, in publish order
REFRESH_TABLES = ("live_triples", "fact_envelopes", "facts")


def extract_and_link(
    pages: DataFrame, dictionary: DataFrame, strategy: str = "broadcast"
) -> DataFrame:
    """The pipeline's E→(S+T)→L chain over a pages frame, projected to the
    canonical linked-triple columns (url, sent_idx, subj, pred, obj,
    subj_eid, obj_eid)."""
    from darkbo_spark.kg.extract import extract_docs
    from darkbo_spark.kg.link import link_entities
    from darkbo_spark.kg.triples import extract_doc_triples_df

    linked = link_entities(
        extract_doc_triples_df(extract_docs(pages)), dictionary, strategy=strategy
    )
    return linked.select(
        "url",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "subj",
        "pred",
        "obj",
        "subj_eid",
        "obj_eid",
    )


def upsert_triples_by_url(
    stale: DataFrame, fresh: DataFrame, delta_urls: DataFrame
) -> DataFrame:
    """Delete-and-insert by url: every stale triple whose url is in
    `delta_urls` is retired, then the fresh triples are appended. The
    result is row-identical to a full rebuild over (unchanged ∪ refetched)
    pages — driver-hash-proven by kg_incremental_x against the full-corpus
    oracle. `delta_urls` is one column `url`, broadcast (a refetch batch
    is small relative to the corpus by construction)."""
    kept = stale.join(F.broadcast(delta_urls.select("url")), "url", "left_anti")
    return kept.unionByName(fresh.select(*stale.columns))


def refresh(
    spark: SparkSession,
    out_dir: str,
    pages: DataFrame,
    dictionary: DataFrame,
    cycle_fp: str,
) -> StageResult:
    """One crawl cycle over `out_dir`'s REFRESH_TABLES: the refetched
    `pages` (url, warc_ts, lang, text) re-run extract_and_link against
    `dictionary`, then live_triples is upserted by the pages' urls,
    fact_envelopes merges the fresh mentions dated by warc_ts, and facts
    is resolved from it. Stage fingerprints chain from `cycle_fp` (the
    identity of pages + dictionary): a replayed cycle skips every stage,
    and one that crashed between publishes rebuilds only what did not
    commit. A table with no version yet reads as empty."""
    from darkbo_spark.kg.temporal import (
        fact_envelopes,
        merge_fact_envelopes,
        resolve_from_envelopes,
    )

    def current(name: str, like: DataFrame) -> DataFrame:
        tbl = make_table(out_dir, name)
        return tbl.read(spark) if tbl.current_fingerprint() else like.limit(0)

    live, env, facts = REFRESH_TABLES
    # lazy: computed once, by the first stage that rebuilds
    fresh = extract_and_link(pages, dictionary).persist()
    try:
        with stage_run(spark, out_dir, "kg_refresh", CODE_VERSION, WAIT_S) as run:
            urls = pages.select("url")
            upserted = run.start(live, [(fresh, cycle_fp)], "url-upsert", lambda f: (
                upsert_triples_by_url(current(live, f), f, urls)))

            def merged(_live: DataFrame) -> DataFrame:
                dated = fresh.join(pages.select("url", "warc_ts"), "url")
                delta = fact_envelopes(dated)
                return merge_fact_envelopes(current(env, delta), delta)

            envs = run.start(env, [upserted], "merge", merged)
            run.start(facts, [envs], "latest-wins", resolve_from_envelopes)
    finally:
        fresh.unpersist()
    return run.result

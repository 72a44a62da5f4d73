"""End-to-end KG construction pipeline with per-stage checkpoint-resume.

    dictionary ─C→ eid_map ─→ kg_entities
                      └───────────────┐
    pages ─E→ docs ─S+T→ raw_triples ─L+M→ kg_triples ─→ kg_nil_candidates
               │                              │
               └─ warc_ts ─→ fact envelope ←──┘  (one persisted aggregate)
                               └─→ kg_facts, kg_conflicts, kg_entity_types,
                                   kg_fact_history, kg_entity_profiles

Every stage runs through storage/stages.stage_run: its output is a
SnapshotTable version whose fingerprint is
sha256(parent_fingerprint : stage name : params : CODE_VERSION). A rerun
(or a resumed run after a kill) recomputes nothing whose fingerprint
already matches the table's current version — the scaled-out restatement of
the reference's checksum-gated rebuild (behavior:
api/index_versioning.py:68-156). The runner records per-partition
lineage/metrics rows into the `_metrics` table and applies keep-last-3
retention to every table the run touched.

Stage boundaries are REAL materialization points on purpose: at 100 TB you
do not want a single 6-stage lineage — a lost executor would recompute the
world, and the UDF stages (E/S/T) should run exactly once. S and T are one
UDF pass over the persisted docs (kg/triples.extract_doc_triples_df, the
same chain kg/incremental.extract_and_link runs); there is no sentences
table. L/C/M read persisted triples.

One dictionary-size decision per run (kg/canonicalize
.dictionary_fits_driver, made lazily by the first stage that builds)
picks every plan that collects the dictionary to the driver: union-find
vs distributed CC, driver vs distributed entity table, single-file vs
bucketed fusion tables (and a one-partition vs shuffle-partitioned fusion
envelope). Rows and fingerprints do not depend on it. The link always
broadcasts the dictionary.

The five fusion tables (`facts_asof=`) are derivations of ONE persisted
envelope aggregate of kg_triples ⋈ docs on the (subj_eid, pred, obj)
fact key (kg/temporal.fusion_envelopes), so the mention stream is joined
and shuffled once for all five. The first fusion stage that builds fills
the envelope (persist + count); the others read the cache.

Each stage is declared with the stages it reads (storage/stages
`run.start`) and runs in its own thread once they have published:
eid_map runs beside the page stages, kg_entities starts the moment
eid_map publishes, kg_triples waits for raw_triples and eid_map only,
and kg_nil_candidates runs beside the five fusion stages. A failed stage
fails only the stages that read it, and the run raises the first failure
once every stage has settled. The kg_triples write salt is
kg/materialize.WRITE_SALT and NIL mining keeps surfaces seen at least
twice; both are in the stage params.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from darkbo_spark.kg.canonicalize import (
    build_entity_table,
    build_entity_table_driver,
    canonicalize_entities,
    dictionary_fits_driver,
)
from darkbo_spark.kg.extract import extract_docs
from darkbo_spark.kg.link import link_entities
from darkbo_spark.kg.materialize import DEFAULT_BUCKETS, WRITE_SALT, bucketize_triples
from darkbo_spark.kg.pages import entity_dictionary_df, synth_pages
from darkbo_spark.kg.triples import extract_doc_triples_df
from darkbo_spark.storage import make_table
from darkbo_spark.storage.stages import (
    WAIT_S,
    StageResult,
    fingerprint,
    locked,
    stage_run,
)

CODE_VERSION = "1"


def run_pipeline(
    spark: SparkSession,
    out_dir: str,
    pages: DataFrame | None = None,
    n_pages: int = 1000,
    seed: int = 42,
    n_buckets: int = DEFAULT_BUCKETS,
    input_fingerprint: str | None = None,
    fuzzy_fallback: str | None = None,
    facts_asof: str | None = None,
    mine_nil: bool = False,
    dictionary: DataFrame | None = None,
    dictionary_fingerprint: str = "builtin_v1",
) -> StageResult:
    """Run (or resume) the full pipeline; every stage is fingerprint-gated.

    `mine_nil`: adds the `kg_nil_candidates` stage (recurring UNLINKED
    subject surfaces from the published kg_triples — kg/temporal
    .nil_candidates) as a fingerprint-gated table. The crawl-cadence
    growth loop: run N mines, `grown_dictionary(spark, out_dir, dict)`
    builds run N+1's dictionary, and run N+1 links the surfaces run N
    missed (round trip pytest-measured as a link-rate lift).

    `dictionary` / `dictionary_fingerprint`: the canonical entity
    dictionary (default: kg/pages.entity_dictionary_df). A custom
    dictionary MUST carry its own fingerprint — it feeds the eid_map /
    kg_entities / kg_triples stage fingerprints, so a grown dictionary
    correctly republishes the link output while an unchanged one skips.

    `fuzzy_fallback`: None (exact alias linking only, the default),
    "jaccard" or "embed" — second-chance linking for surfaces that miss
    the exact join (kg/link.apply_fuzzy_fallback). Part of the kg_triples
    stage fingerprint, so toggling it republishes.

    `facts_asof`: optional 'YYYY-MM-DD' cutoff — adds the temporal fusion
    stages (kg/temporal.py): `kg_facts` (functional-slot-aware fact state
    as of the cutoff: functional slots latest-wins, multi-valued slots
    full value sets with envelopes) plus the cutoff-independent fusion
    tables `kg_conflicts`
    (functional-violation inventory), `kg_entity_types` (modal is_a),
    `kg_fact_history` (validity envelopes) and `kg_entity_profiles` (the
    entity page). Only kg_facts carries the cutoff in its fingerprint, so
    moving it recomputes ONE dictionary-bounded stage — the crawl-scale
    path for "give me yesterday's fact state" without re-extracting
    anything.

    The whole run holds the single-writer `.pipeline.lock` (I2) and
    refuses at once if another run holds it: concurrent publishers would
    otherwise race on the same v{seq} dir and expire() could GC an
    in-flight version."""
    if pages is None:
        # html is omitted: the extract stage reads `text` only, and a real
        # Iceberg pages scan would prune the binary column anyway (the
        # generator emulates that pruning — mapInPandas can't be pruned)
        pages = synth_pages(
            spark,
            n_pages,
            seed=seed,
            columns=["page_id", "url", "warc_ts", "text", "lang"],
        )
        input_fingerprint = input_fingerprint or fingerprint(
            "synth_pages", str(n_pages), str(seed)
        )
    assert input_fingerprint, "provide input_fingerprint for external pages input"

    entity_dict = (
        dictionary if dictionary is not None else entity_dictionary_df(spark)
    )
    # the dictionary is a pipeline INPUT like pages: its fingerprint feeds
    # every dictionary-derived stage, so a grown dictionary republishes
    # eid_map/kg_entities/kg_triples while an unchanged one skips
    dict_parent = fingerprint(input_fingerprint, "dict", dictionary_fingerprint)
    # the run's one dictionary-size decision: driver-side plans while the
    # dictionary's estimated collected bytes fit the broadcast budget,
    # distributed ones beyond it. Made at most once, by the first stage
    # that builds (the lock keeps concurrent builders from racing it), so
    # a rerun where every stage skips runs no estimate job. Both sides
    # publish the same rows, so the params strings (content identity)
    # leave the choice out.
    fits_driver = _Once(lambda: dictionary_fits_driver(entity_dict))
    envelope = None
    try:
        with stage_run(spark, out_dir, "pipeline", CODE_VERSION) as run:
            start = run.start
            # ---- C: canonicalize — reads ONLY the dictionary, so it runs
            # beside the page stages (Spark schedules jobs from separate
            # threads onto free task slots; the dictionary jobs are
            # single-task and fill the gaps between the big stages' tasks)
            eid_map = start(
                "eid_map", [(entity_dict, dict_parent)], "cc_v2_auto",
                lambda d: canonicalize_entities(
                    d, mode="driver" if fits_driver() else "distributed"
                ).coalesce(1),
            )
            start(
                "kg_entities", [eid_map], "entities_v1",
                lambda m: (
                    build_entity_table_driver if fits_driver() else build_entity_table
                )(entity_dict, m).coalesce(1),
            )
            # ---- E: extract (the expensive byte-exact UDF runs exactly ONCE)
            docs = start("docs", [(pages, input_fingerprint)], "clean_v1", extract_docs)
            # ---- fused S→T over persisted docs (ONE UDF pass, one explode)
            raw = start("raw_triples", [docs], "en_only", extract_doc_triples_df)

            # ---- fused L+M: link → bucketize in ONE pass ------------------
            # The link dictionary is pre-resolved to CANONICAL ids (dict ⋈
            # eid_map, both dictionary-sized, folded on the small side), so
            # linking attaches canonical entity ids directly — two
            # broadcast joins total instead of link + remap (four).
            # Materializing an intermediate `linked` table would only add a
            # full write+read of every triple; resume granularity stays
            # per-stage (a crash here re-reads persisted raw_triples, never
            # re-extracts). The output is written flat, clustered
            # one-file-per (bucket, salt) by the repartition — with Iceberg
            # this is hidden partitioning `bucket(N, subj_eid)`; file-level
            # min/max stats on subj_bucket give the same pruning locally
            # without the dynamic partitionBy writer's per-task sort.
            def build_kg(triples: DataFrame, eid_map: DataFrame) -> DataFrame:
                resolved_dict = entity_dict.join(eid_map, "eid").select(
                    "alias", F.col("canon_eid").alias("eid")
                )
                linked = link_entities(triples, resolved_dict)
                if fuzzy_fallback:
                    from darkbo_spark.kg.link import apply_fuzzy_fallback

                    linked = apply_fuzzy_fallback(
                        linked, resolved_dict, method=fuzzy_fallback
                    )
                return bucketize_triples(linked, n_buckets=n_buckets)

            kg = start(
                "kg_triples", [raw, eid_map],
                f"linkc_broadcast_buckets_{n_buckets}_salt_{WRITE_SALT}"
                f"_fb_{fuzzy_fallback or 'none'}",
                build_kg,
            )

            # ---- optional NIL mining: the dictionary-growth worklist ------
            # Reads only kg_triples (unlinked surfaces are right there in
            # the published link output), so it runs beside the fusion
            # stages. Recurring-surface-bounded — far smaller than the
            # mention stream — so the worklist writes single-file; the NEXT
            # run consumes it via grown_dictionary().
            if mine_nil:
                from darkbo_spark.kg.temporal import nil_candidates

                start(
                    "kg_nil_candidates", [kg], "nil_min2_v1",
                    lambda k: nil_candidates(k, min_mentions=2).coalesce(1),
                )

            # ---- optional temporal fusion: facts as-of + conflict inventory
            # Reads kg_triples AND docs (the per-page crawl date joins back
            # on the page key — at crawl scale a co-keyed join, never a
            # product). Write shape: the fusion tables are entity-bounded,
            # but the entity universe GROWS (nil_candidates exists to grow
            # the dictionary; a real KG's is 10^8–10^9), so `coalesce(1)` is
            # only safe while the dictionary is provably small: single file
            # while the run's dictionary decision says driver-sized, else
            # the kg_triples convention, bucketed on pmod(xxhash64(entity
            # key), N) so no single task funnels the fact state and
            # per-entity reads prune to one bucket. Every row carries
            # `fact_bucket` in BOTH shapes (schema and content are
            # shape-invariant; only physical layout changes, so the
            # fingerprint — content identity — excludes the shape).
            if facts_asof:
                from pyspark import StorageLevel

                from darkbo_spark.kg import temporal

                def _fusion_shape(df: DataFrame, key_col: str) -> DataFrame:
                    out = df.withColumn(
                        "fact_bucket",
                        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int"),
                    )
                    if fits_driver():
                        return out.coalesce(1)
                    return out.repartition(n_buckets, F.col("fact_bucket"))

                def _envelope(kg_df: DataFrame, docs_df: DataFrame) -> DataFrame:
                    # ONE envelope aggregate of kg_triples ⋈ docs on the fact
                    # key, persisted and filled under the _Once lock: the
                    # five fusion tables are derivations of it, so the
                    # mention stream is joined and shuffled once and the
                    # stages queued behind the fill read the cache. One
                    # partition while the tables are written single-file,
                    # so no derivation shuffles. MEMORY_AND_DISK: spills
                    # instead of OOM at scale.
                    env = temporal.fusion_envelopes(
                        kg_df.join(docs_df.select("url", "warc_ts"), "url"),
                        as_of=facts_asof,
                    )
                    if fits_driver():
                        env = env.coalesce(1)
                    env = env.persist(StorageLevel.MEMORY_AND_DISK)
                    try:
                        env.count()
                    except BaseException:
                        env.unpersist()
                        raise
                    return env

                # made by the first fusion stage that builds, like the
                # dictionary decision, so a rerun that skips them runs no
                # job. Only kg_facts carries facts_asof in its fingerprint.
                # The five are in flight at once: the next stage's tasks
                # back-fill the tail of the previous one (guide §2.6;
                # OPTIMIZATION_r08.md §9).
                envelope = _Once(_envelope)
                for name, params, derive, key in (
                    ("kg_fact_history", "history_v2",
                     temporal.history_from_envelopes, "subj_eid"),
                    ("kg_facts", f"asof_{facts_asof}_v2",
                     temporal.facts_from_envelopes, "subj_eid"),
                    ("kg_conflicts", "conflicts_v2",
                     temporal.conflicts_from_envelopes, "subj_eid"),
                    ("kg_entity_types", "types_v2",
                     temporal.types_from_envelopes, "subj_eid"),
                    ("kg_entity_profiles", "profiles_v2",
                     temporal.profiles_from_envelopes, "eid"),
                ):
                    start(
                        name, [kg, docs], params,
                        lambda k, d, derive=derive, key=key: _fusion_shape(
                            derive(envelope(k, d)), key
                        ),
                    )
    finally:
        if envelope is not None and envelope.value is not None:
            envelope.value.unpersist()
    return run.result


class _Once:
    """A value built by the first call (from that call's arguments), under
    a lock, so the stages of one run that race for it share one build;
    `value` is None until then."""

    def __init__(self, build):
        self._build = build
        self._lock = threading.Lock()
        self.value = None

    def __call__(self, *args):
        with self._lock:
            if self.value is None:
                self.value = self._build(*args)
            return self.value


def maintain_pipeline(
    spark: SparkSession, out_dir: str, retain_last: int = 3,
    lock_wait_s: float = WAIT_S,
) -> list[dict]:
    """Opt-in maintenance pass over every stage table of a pipeline
    output dir: compact-then-expire per table (storage.snapshots.maintain
    — Iceberg's rewrite_data_files + expire_snapshots pairing), metrics
    rows (files/bytes before and after, versions expired) published to a
    `_maintenance` SnapshotTable alongside the run metrics. Idempotent:
    a second pass right after finds every layout tight and only expires.
    Crawl-cadence operation: ingest deltas fragment the bucketed tables
    over time; this is the scheduled job that heals them. SnapshotTable
    backend only — the Iceberg backend delegates to the catalog's own
    rewrite_data_files/expire_snapshots maintenance.

    Holds the PIPELINE BuildLock for `out_dir` in addition to the
    per-table locks maintain() takes: run_pipeline's stage publishes are
    guarded only by the pipeline-named lock, so without taking it here a
    compact/expire could race a concurrent pipeline publish on the same
    table and re-point current.json at the pre-publish fingerprint."""
    import pandas as pd

    from darkbo_spark.storage.snapshots import SnapshotTable, maintain

    with locked(out_dir, "pipeline", lock_wait_s):
        names = sorted(
            d
            for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))
            and os.path.exists(os.path.join(out_dir, d, "current.json"))
            and d != "_maintenance"
        )
        rows = [
            maintain(spark, SnapshotTable(out_dir, n), retain_last=retain_last)
            for n in names
        ]
    if rows:
        tbl = make_table(out_dir, "_maintenance")
        tbl.publish(
            spark.createDataFrame(pd.DataFrame(rows)).coalesce(1),
            fingerprint(
                "maintenance", *(f"{r['table']}:{r['files_after']}" for r in rows),
                str(time.time()),
            ),
        )
        tbl.expire(retain_last=retain_last)
    return rows


def grown_dictionary(
    spark: SparkSession, out_dir: str, entity_dict: DataFrame
) -> DataFrame:
    """The next crawl cycle's dictionary: `entity_dict` ∪ the NIL surfaces
    a previous `run_pipeline(..., mine_nil=True)` published to
    `kg_nil_candidates` under `out_dir` (kg/link.augment_dictionary —
    namespaced 'nil:' eids). Pair with a fresh `dictionary_fingerprint`
    (e.g. the nil table's current fingerprint) so the relink republishes."""
    from darkbo_spark.kg.link import augment_dictionary

    nil_tbl = make_table(out_dir, "kg_nil_candidates")
    return augment_dictionary(entity_dict, nil_tbl.read(spark))

"""Temporal fact resolution + conflict detection over the linked KG —
the fusion layer of KG construction: a web corpus asserts the same
(entity, predicate) many times across pages crawled at different times
with different values, and the KG must publish ONE current fact per
functional slot plus an inventory of what disagreed.

Reference parity: the reference KB holds one value per FAQ/KB key and
last-write-wins on rebuild (muneebakhter/DARKBO ai_worker.py KB load —
dict insertion order); this generalizes that to crawl-timestamped triple
streams, the standard "fact fusion by recency" step (cf. Dong et al.,
Knowledge Vault) re-expressed as one window/aggregate.

Each fusion rule has one implementation: the envelope aggregate
(fact_envelopes — resolve_facts and fact_history build on it) and
latest-wins (_latest_wins — resolve_from_envelopes and fact_changes pick
their winners with it). The crawl timestamp column is always `warc_ts`
and the functional slots are always FUNCTIONAL_PREDS.

Scale shape (100 TB): both operators shuffle the triple stream ONCE on
the (subj_eid, pred) fact key — a fine-grained key (entities × predicates),
so no reducer sees more than one entity-slot's mentions; there is no
self-join, no product, and the window never funnels through a single
partition. Head entities are bounded by mentions-per-slot, the same skew
envelope as the link stage's salted join upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# predicates expected to hold ONE value per subject (the functional slots
# worth resolving / flagging); multi-valued predicates (acquired,
# partnered_with, launched, works_at...) are excluded by default.
FUNCTIONAL_PREDS = ("founded_in", "founded_by", "based_in", "is_a")


def _latest_wins(ts: Column) -> Column:
    """Latest-wins over a COLLAPSED fact table (one row per (subj_eid,
    pred, obj)): true on every row of a multi-valued slot and, in a
    functional slot, on the row holding max (ts, obj) — ties at the
    winning timestamp break to the max obj. An UNORDERED window aggregate
    instead of a row_number over a fully ordered window: the exec sorts
    only on the partition keys, never on (ts, obj). struct max compares
    (ts, obj) lexicographically with null ts lowest; obj is the group
    key, so the max is unique and exactly one row matches."""
    key = F.struct(ts, F.col("obj"))
    return (~F.col("pred").isin(*FUNCTIONAL_PREDS)) | (
        key == F.max(key).over(Window.partitionBy("subj_eid", "pred"))
    )


def resolve_facts(linked: DataFrame, as_of: str) -> DataFrame:
    """Functional-slot-aware fact resolution as of a cutoff date.

    * FUNCTIONAL slots (`pred` in FUNCTIONAL_PREDS) collapse to ONE
      value — the obj asserted by the most recent page with ts on or
      before `as_of`, ties at the winning timestamp breaking to the max
      obj (deterministic, layout-invariant).
    * MULTI-VALUED slots (acquired, launched, works_at, …) publish their
      FULL value set: one row per distinct obj asserted on or before the
      cutoff. Reference analog: the KB's dict-insertion-order
      last-write-wins applies per unique KEY — the functional case only;
      collapsing `acquired` to its latest object would silently drop
      facts.

    The cutoff is DAY-INCLUSIVE for timestamp inputs: `as_of='2024-01-05'`
    keeps a page crawled 2024-01-05 10:00 (`to_date(ts) <= as_of`, not a
    midnight-upcast `ts <= as_of`).

    Every published value carries its validity envelope: `fact_date` =
    most recent assertion date (the envelope end — the winning date for
    functional slots), `first_seen` = earliest assertion date,
    `n_mentions` = assertion count, all within the cutoff.

    Scale shape: one map-side-combinable aggregate on the fine-grained
    (subj_eid, pred, obj) fact key collapses the mention stream; the
    latest-wins window then moves only the ALREADY-COLLAPSED fact table
    (one row per distinct value), never the mentions — same envelope as
    fact_support. Returns (subj_eid, pred, obj, fact_date, first_seen,
    n_mentions)."""
    scoped = linked.filter(F.to_date("warc_ts") <= F.lit(as_of).cast("date"))
    return resolve_from_envelopes(fact_envelopes(scoped))


def fact_envelopes(linked: DataFrame) -> DataFrame:
    """MERGEABLE sufficient statistics of the fact state: one row per
    (subj_eid, pred, obj) with (first_ts, last_ts, n_mentions). This is
    the table an INCREMENTAL fact state persists — max/min/count are
    associative and commutative, so a crawl cycle's delta merges into
    the stored state with one aggregate and NO re-read of historical
    mentions (merge_fact_envelopes); winner selection is a separate,
    cheap pass over the dictionary-bounded state (resolve_from_envelopes).
    Mentions only ever ACCUMULATE (a crawl never retracts an assertion),
    which is exactly why the envelope algebra is sufficient."""
    return (
        linked.filter(F.col("subj_eid").isNotNull())
        .groupBy("subj_eid", "pred", "obj")
        .agg(
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
            F.count("*").cast("bigint").alias("n_mentions"),
        )
    )


def merge_fact_envelopes(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental fact-state maintenance: fold a new crawl cycle's
    envelope delta into the stored state — one map-side-combinable
    aggregate on the fact key over the union (min/max/sum are the
    envelope algebra). Commutative and associative: any merge order
    yields the same state, so cycles can land out of order."""
    both = state.select(
        "subj_eid", "pred", "obj", "first_ts", "last_ts", "n_mentions"
    ).unionByName(
        delta.select(
            "subj_eid", "pred", "obj", "first_ts", "last_ts", "n_mentions"
        )
    )
    return both.groupBy("subj_eid", "pred", "obj").agg(
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.sum("n_mentions").cast("bigint").alias("n_mentions"),
    )


def resolve_from_envelopes(env: DataFrame) -> DataFrame:
    """Winner selection over an envelope state (fact_envelopes /
    merge_fact_envelopes output): functional slots latest-wins on
    (last_ts, obj), multi-valued slots pass through — the second phase
    of resolve_facts, shared verbatim so the incremental path can never
    drift from the oracled as-of semantics. The window moves only the
    COLLAPSED state, never mentions."""
    return (
        env.withColumn("_win", _latest_wins(F.col("last_ts")))
        .filter("_win")
        .select(
            "subj_eid",
            "pred",
            "obj",
            F.date_format("last_ts", "yyyy-MM-dd").alias("fact_date"),
            F.date_format("first_ts", "yyyy-MM-dd").alias("first_seen"),
            "n_mentions",
        )
    )


def entity_types(linked: DataFrame) -> DataFrame:
    """Majority-vote type assignment: each entity's `is_a` assertions
    across the corpus are tallied and the modal type wins (ties break to
    the lexicographically smallest type, so the published type table is
    deterministic). The ontology layer of KG construction — one count
    aggregate + one window over the entity key.
    Returns (subj_eid, entity_type, n_mentions)."""
    counts = (
        linked.filter(F.col("subj_eid").isNotNull() & (F.col("pred") == "is_a"))
        .groupBy("subj_eid", F.col("obj").alias("entity_type"))
        .agg(F.count("*").cast("bigint").alias("n_mentions"))
    )
    w = Window.partitionBy("subj_eid").orderBy(
        F.col("n_mentions").desc(), F.col("entity_type").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("subj_eid", "entity_type", "n_mentions")
    )


def fact_support(linked: DataFrame) -> DataFrame:
    """Per-fact provenance strength: support = distinct pages asserting
    (subj_eid, pred, obj); confidence = that value's share of the slot's
    total page-assertions (a page asserting two values counts toward
    each value it asserts — the per-value evidence mass, not a page
    partition). One aggregate on the fact key, then one unordered window
    sum over the slot key — the window's exchange moves only the
    ALREADY-COLLAPSED fact table (one row per distinct value), never the
    mention stream. Returns (subj_eid, pred, obj, support, confidence)."""
    per_fact = (
        linked.filter(F.col("subj_eid").isNotNull())
        .groupBy("subj_eid", "pred", "obj")
        .agg(F.countDistinct("url").cast("bigint").alias("support"))
    )
    w = Window.partitionBy("subj_eid", "pred")
    return per_fact.select(
        "subj_eid",
        "pred",
        "obj",
        "support",
        F.round(
            F.col("support").cast("double") / F.sum("support").over(w).cast("double"),
            6,
        ).alias("confidence"),
    )


def fact_history(linked: DataFrame) -> DataFrame:
    """Temporal scoping: the validity envelope of every asserted (slot,
    value) — first/last crawl date it was seen and its mention count.
    The fact-history table a temporal KG serves intervals from (and the
    input recency-fusion reads its cutoffs against): fact_envelopes with
    its timestamps formatted as dates.
    Returns (subj_eid, pred, obj, first_seen, last_seen, n_mentions)."""
    return fact_envelopes(linked).select(
        "subj_eid",
        "pred",
        "obj",
        F.date_format("first_ts", "yyyy-MM-dd").alias("first_seen"),
        F.date_format("last_ts", "yyyy-MM-dd").alias("last_seen"),
        "n_mentions",
    )


# predicates whose OBJECT position holds an entity mention (vs literals:
# years for founded_in, type strings for is_a, place names handled by the
# city dictionary) — the object-side NIL mining universe
ENTITY_OBJ_PREDS = (
    "founded_by",
    "ceo_of",
    "works_at",
    "acquired",
    "subsidiary_of",
    "partnered_with",
    "launched",
)


def nil_candidates(
    linked: DataFrame,
    min_mentions: int = 2,
    side: str = "subj",
) -> DataFrame:
    """Dictionary growth (NIL mining): surfaces the link stage could NOT
    resolve, grouped by the SAME normalization the linker matches with
    (lower/trim/leading-'the ' strip — kg/link._norm), kept when they
    recur. Recurring unlinked surfaces are exactly the entities the
    dictionary is missing; the output feeds the next dictionary build.

    `side`: "subj" (default — every subject is an entity mention), "obj"
    (objects of ENTITY_OBJ_PREDS only: object slots of literal-valued
    predicates like founded_in/is_a are years and type strings, which
    must never pollute the growth worklist), or "both" (union of the two
    streams before the rollup, so a surface recurring once per position
    still clears the threshold).

    One aggregate on the normalized-surface key (map-side combined —
    frequent candidates are the cheap case).
    Returns (surface_norm, n_mentions, n_docs, example_surface)."""
    from darkbo_spark.kg.link import _norm

    def _side(surface_col: str, eid_col: str) -> DataFrame:
        out = linked.filter(F.col(eid_col).isNull())
        if surface_col == "obj":
            out = out.filter(F.col("pred").isin(*ENTITY_OBJ_PREDS))
        return out.select(
            _norm(F.col(surface_col)).alias("surface_norm"),
            F.col(surface_col).alias("surface"),
            "url",
        )

    if side == "subj":
        surfaces = _side("subj", "subj_eid")
    elif side == "obj":
        surfaces = _side("obj", "obj_eid")
    elif side == "both":
        surfaces = _side("subj", "subj_eid").unionByName(_side("obj", "obj_eid"))
    else:
        raise ValueError(f"side must be subj/obj/both, got {side!r}")
    return (
        surfaces.groupBy("surface_norm")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions"),
            F.countDistinct("url").cast("bigint").alias("n_docs"),
            F.min("surface").alias("example_surface"),
        )
        .filter(F.col("n_mentions") >= min_mentions)
    )


def entity_profiles(linked: DataFrame) -> DataFrame:
    """The entity page a constructed KG serves: one row per entity with
    its modal type (null when never typed), distinct asserted fact count,
    and in/out degree over the fully-resolved edge set. Universe =
    entities in the edge set ∪ entities asserting any fact (a full-outer
    join of two aggregates — every join here keys on the entity id, so
    the composition adds no shape a 100 TB corpus hasn't already paid
    for in the parts). Returns (eid, entity_type, n_facts, out_deg,
    in_deg)."""
    from darkbo_spark.operators.graph import degree_centrality

    edges = linked.filter(
        F.col("subj_eid").isNotNull() & F.col("obj_eid").isNotNull()
    ).select(F.col("subj_eid").alias("src"), F.col("obj_eid").alias("dst"))
    deg = degree_centrality(edges).select(
        F.col("node").alias("eid"), "out_deg", "in_deg"
    )
    ty = entity_types(linked).select(
        F.col("subj_eid").alias("eid"), "entity_type"
    )
    # fact identity = (pred, value) joined on a non-text separator — obj
    # is free text and must not merge with pred under a printable glue
    fc = (
        linked.filter(F.col("subj_eid").isNotNull())
        .groupBy(F.col("subj_eid").alias("eid"))
        .agg(
            F.countDistinct(F.concat_ws("\x1f", "pred", "obj"))
            .cast("bigint")
            .alias("n_facts")
        )
    )
    return (
        deg.join(fc, "eid", "full_outer")
        .join(ty, "eid", "left")
        .select(
            "eid",
            "entity_type",
            F.coalesce("n_facts", F.lit(0)).cast("bigint").alias("n_facts"),
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("bigint").alias("in_deg"),
        )
    )


def detect_conflicts(linked: DataFrame) -> DataFrame:
    """Functional-dependency violations: (subj_eid, pred) slots asserting
    >1 distinct value anywhere in the corpus — the curation worklist that
    precedes resolution. One map-side-combinable aggregate; value extremes
    (not an array) summarize the disagreement cross-engine-stably.
    Returns (subj_eid, pred, n_values, n_mentions, first_obj, last_obj)."""
    return (
        linked.filter(F.col("subj_eid").isNotNull())
        .filter(F.col("pred").isin(*FUNCTIONAL_PREDS))
        .groupBy("subj_eid", "pred")
        .agg(
            F.countDistinct("obj").cast("bigint").alias("n_values"),
            F.count("*").cast("bigint").alias("n_mentions"),
            F.min("obj").alias("first_obj"),
            F.max("obj").alias("last_obj"),
        )
        .filter(F.col("n_values") > 1)
    )


def fact_changes(linked: DataFrame, as_of_old: str, as_of_new: str) -> DataFrame:
    """What changed between two as-of fact states — the crawl-cadence
    diff ("what did this week's crawl change?"): rows (subj_eid, pred,
    obj, change) where change='added' (published at `as_of_new` but not
    at `as_of_old`) or 'removed' (the reverse; a functional slot's value
    swap appears as one added + one removed row).

    ONE pass over the mention stream instead of two resolve_facts
    invocations: a single envelope aggregate on the fact key computes
    each value's max assertion timestamp at BOTH cutoffs (the old one as
    a conditional max), then _latest_wins — the rule resolve_facts uses —
    picks the functional winners of each state over the COLLAPSED fact
    table (two unordered window maxes over one partitioning). Output is
    pytest-pinned equal to the compositional diff of two resolve_facts
    states, and the driver oracle replays the compositional form — two
    independent formulations under one hash. Day-inclusive cutoffs like
    resolve_facts."""
    d = F.to_date("warc_ts")
    env = (
        linked.filter(F.col("subj_eid").isNotNull())
        .filter(d <= F.lit(as_of_new).cast("date"))
        .groupBy("subj_eid", "pred", "obj")
        .agg(
            F.max("warc_ts").alias("_ts_new"),
            F.max(
                F.when(d <= F.lit(as_of_old).cast("date"), F.col("warc_ts"))
            ).alias("_ts_old"),
        )
        .withColumn("_in_new", _latest_wins(F.col("_ts_new")))
        .withColumn(
            "_in_old",
            F.col("_ts_old").isNotNull() & _latest_wins(F.col("_ts_old")),
        )
    )
    in_new, in_old = F.col("_in_new"), F.col("_in_old")
    return (
        env.withColumn(
            "change",
            F.when(in_new & ~in_old, F.lit("added")).when(
                in_old & ~in_new, F.lit("removed")
            ),
        )
        .filter(F.col("change").isNotNull())
        .select("subj_eid", "pred", "obj", "change")
    )

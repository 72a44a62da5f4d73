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

Each fusion rule has one implementation. The envelope aggregate
(fusion_envelopes) collapses the mention stream to one row per
(subj_eid, pred, obj) fact key; fact_envelopes, the crawl's mergeable
state, is its projection. The five fusion tables are derivations of that
collapsed frame (*_from_envelopes), and the public resolve_facts /
detect_conflicts / entity_types / fact_history / entity_profiles are
"envelope, then derivation" — the code kg/pipeline.py runs over its one
persisted envelope. Latest-wins (_latest_wins) picks the winners of
resolve_from_envelopes and fact_changes; the modal-type vote (_type_vote)
types kg_entity_types and kg_entity_profiles. The crawl timestamp column
is always `warc_ts` and the functional slots are always FUNCTIONAL_PREDS.

Scale shape (100 TB): the envelope shuffles the triple stream ONCE on
the (subj_eid, pred, obj) fact key — a fine-grained key, map-side
combined, so no reducer sees more than one fact's mentions; every
derivation then moves only the COLLAPSED fact table. There is no
self-join, no product, and no window funnels through a single
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


# the crawl's envelope state schema (fact_envelopes, merge_fact_envelopes)
_ENVELOPE_COLS = ("subj_eid", "pred", "obj", "first_ts", "last_ts", "n_mentions")


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


def fusion_envelopes(linked: DataFrame, as_of: str | None = None) -> DataFrame:
    """The collapsed fact frame every fusion table derives from: ONE
    map-side-combinable aggregate on the fact key over the linked
    subjects, carrying per key

    * first_ts / last_ts / n_mentions — the envelope over all mentions
      (null timestamps count as mentions, and min/max skip them);
    * given `as_of`, asof_first_ts / asof_last_ts / asof_n — the same
      three counted only over mentions dated on or before the cutoff
      (day-inclusive; a null timestamp is never inside it). asof_n = 0
      marks a value first asserted after the cutoff.

    obj_eid is a group key, not an aggregate: inside one link run it is a
    function of obj (both sides link the same normalized surface), so the
    key adds no rows, and a string key (unlike a string max) keeps the
    aggregate hash-based. A frame without obj_eid (no linked objects)
    groups on the fact key alone and carries a null obj_eid.

    Returns (subj_eid, pred, obj, obj_eid, first_ts, last_ts, n_mentions
    [, asof_first_ts, asof_last_ts, asof_n]), obj_eid last when added."""
    has_obj_eid = "obj_eid" in linked.columns
    ts = F.col("warc_ts")
    aggs = [
        F.min(ts).alias("first_ts"),
        F.max(ts).alias("last_ts"),
        F.count("*").cast("bigint").alias("n_mentions"),
    ]
    if as_of is not None:
        in_cut = F.to_date(ts) <= F.lit(as_of).cast("date")
        aggs += [
            F.min(F.when(in_cut, ts)).alias("asof_first_ts"),
            F.max(F.when(in_cut, ts)).alias("asof_last_ts"),
            F.count(F.when(in_cut, 1)).cast("bigint").alias("asof_n"),
        ]
    env = (
        linked.filter(F.col("subj_eid").isNotNull())
        .groupBy("subj_eid", "pred", "obj", *(["obj_eid"] if has_obj_eid else []))
        .agg(*aggs)
    )
    return env if has_obj_eid else env.withColumn("obj_eid", F.lit(None).cast("string"))


def fact_envelopes(linked: DataFrame) -> DataFrame:
    """MERGEABLE sufficient statistics of the fact state: one row per
    (subj_eid, pred, obj) with (first_ts, last_ts, n_mentions) — the
    fusion_envelopes aggregate on the fact key alone, which an
    INCREMENTAL fact state persists. max/min/count are associative and
    commutative, so a crawl cycle's delta merges into the stored state
    with one aggregate and NO re-read of historical mentions
    (merge_fact_envelopes); winner selection is a separate, cheap pass
    over the dictionary-bounded state (resolve_from_envelopes). Mentions
    only ever ACCUMULATE (a crawl never retracts an assertion), which is
    exactly why the envelope algebra is sufficient."""
    return fusion_envelopes(linked.drop("obj_eid")).select(*_ENVELOPE_COLS)


def merge_fact_envelopes(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental fact-state maintenance: fold a new crawl cycle's
    envelope delta into the stored state — one map-side-combinable
    aggregate on the fact key over the union (min/max/sum are the
    envelope algebra). Commutative and associative: any merge order
    yields the same state, so cycles can land out of order."""
    both = state.select(*_ENVELOPE_COLS).unionByName(
        delta.select(*_ENVELOPE_COLS)
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


def facts_from_envelopes(env: DataFrame) -> DataFrame:
    """kg_facts from a fusion_envelopes frame built with a cutoff: the
    in-cutoff statistics as an envelope state, then resolve_from_envelopes."""
    return resolve_from_envelopes(
        env.filter(F.col("asof_n") > 0).select(
            "subj_eid",
            "pred",
            "obj",
            F.col("asof_first_ts").alias("first_ts"),
            F.col("asof_last_ts").alias("last_ts"),
            F.col("asof_n").alias("n_mentions"),
        )
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

    Scale shape: the envelope aggregate collapses the mention stream;
    the latest-wins window then moves only the ALREADY-COLLAPSED fact
    table (one row per distinct value), never the mentions. Returns
    (subj_eid, pred, obj, fact_date, first_seen, n_mentions)."""
    return facts_from_envelopes(fusion_envelopes(linked, as_of))


def history_from_envelopes(env: DataFrame) -> DataFrame:
    """kg_fact_history from a fusion_envelopes frame: a projection."""
    return env.select(
        "subj_eid",
        "pred",
        "obj",
        F.date_format("first_ts", "yyyy-MM-dd").alias("first_seen"),
        F.date_format("last_ts", "yyyy-MM-dd").alias("last_seen"),
        "n_mentions",
    )


def fact_history(linked: DataFrame) -> DataFrame:
    """Temporal scoping: the validity envelope of every asserted (slot,
    value) — first/last crawl date it was seen and its mention count.
    The fact-history table a temporal KG serves intervals from (and the
    input recency-fusion reads its cutoffs against).
    Returns (subj_eid, pred, obj, first_seen, last_seen, n_mentions)."""
    return history_from_envelopes(fusion_envelopes(linked))


def conflicts_from_envelopes(env: DataFrame) -> DataFrame:
    """kg_conflicts from a fusion_envelopes frame: one aggregate on the
    slot key. obj is an envelope key, so counting the slot's non-null
    objs counts its distinct values — no distinct aggregate, no Expand."""
    return (
        env.filter(F.col("pred").isin(*FUNCTIONAL_PREDS))
        .groupBy("subj_eid", "pred")
        .agg(
            F.count("obj").cast("bigint").alias("n_values"),
            F.sum("n_mentions").cast("bigint").alias("n_mentions"),
            F.min("obj").alias("first_obj"),
            F.max("obj").alias("last_obj"),
        )
        .filter(F.col("n_values") > 1)
    )


def detect_conflicts(linked: DataFrame) -> DataFrame:
    """Functional-dependency violations: (subj_eid, pred) slots asserting
    >1 distinct value anywhere in the corpus — the curation worklist that
    precedes resolution. Value extremes (not an array) summarize the
    disagreement cross-engine-stably.
    Returns (subj_eid, pred, n_values, n_mentions, first_obj, last_obj)."""
    return conflicts_from_envelopes(fusion_envelopes(linked))


def _type_vote() -> Column:
    """An envelope row's vote for its obj as the subject's type: the min
    over an entity's is_a rows is its modal type, ties to the smallest
    type (struct order: -n_mentions, then obj)."""
    return F.struct(
        (-F.col("n_mentions")).alias("neg_n"), F.col("obj").alias("entity_type")
    )


def types_from_envelopes(env: DataFrame) -> DataFrame:
    """kg_entity_types from a fusion_envelopes frame: one aggregate, the
    min _type_vote over each entity's is_a rows."""
    return (
        env.filter(F.col("pred") == "is_a")
        .groupBy("subj_eid")
        .agg(F.min(_type_vote()).alias("_v"))
        .select(
            "subj_eid",
            F.col("_v.entity_type").alias("entity_type"),
            (-F.col("_v.neg_n")).alias("n_mentions"),
        )
    )


def entity_types(linked: DataFrame) -> DataFrame:
    """Majority-vote type assignment: each entity's `is_a` assertions
    across the corpus are tallied and the modal type wins (ties break to
    the lexicographically smallest type, so the published type table is
    deterministic). The ontology layer of KG construction.
    Returns (subj_eid, entity_type, n_mentions)."""
    return types_from_envelopes(fusion_envelopes(linked))


def profiles_from_envelopes(env: DataFrame) -> DataFrame:
    """kg_entity_profiles from a fusion_envelopes frame: one aggregate by
    eid over the union of every row's subject role (a distinct fact, an
    out-neighbour when its object linked, a type vote when it is is_a)
    and, when its object linked, its object role (an in-neighbour).
    Degrees count DISTINCT neighbours, so each entity's neighbour set is
    held in its aggregation buffer — entity-bounded, like the table."""
    subj = env.select(
        F.col("subj_eid").alias("eid"),
        F.lit(True).alias("_fact"),
        F.col("obj_eid").alias("_out"),
        F.when(F.col("pred") == "is_a", _type_vote()).alias("_vote"),
    )
    obj = env.filter(F.col("obj_eid").isNotNull()).select(
        F.col("obj_eid").alias("eid"), F.col("subj_eid").alias("_in")
    )
    return (
        subj.unionByName(obj, allowMissingColumns=True)
        .groupBy("eid")
        .agg(
            F.min("_vote").getField("entity_type").alias("entity_type"),
            F.count("_fact").cast("bigint").alias("n_facts"),
            F.size(F.collect_set("_out")).cast("bigint").alias("out_deg"),
            F.size(F.collect_set("_in")).cast("bigint").alias("in_deg"),
        )
    )


def entity_profiles(linked: DataFrame) -> DataFrame:
    """The entity page a constructed KG serves: one row per entity with
    its modal type (null when never typed), distinct asserted fact count,
    and in/out degree over the distinct resolved (subj_eid, obj_eid) edge
    set. Universe = entities in the edge set ∪ entities asserting any
    fact. Returns (eid, entity_type, n_facts, out_deg, in_deg)."""
    return profiles_from_envelopes(fusion_envelopes(linked))


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

"""Temporal fact resolution + conflict detection (kg/temporal.py):
as-of filtering, latest-wins with deterministic ties, functional-slot
violation inventory, partitioning invariance."""

from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from darkbo_spark.kg.temporal import detect_conflicts, resolve_facts


def _linked(spark, rows):
    """rows: (url, sent_idx, pred, obj, subj_eid, date_str)."""
    df = pd.DataFrame(
        rows, columns=["url", "sent_idx", "pred", "obj", "subj_eid", "d"]
    )
    sdf = spark.createDataFrame(df)
    return sdf.select(
        "url",
        F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "pred",
        "obj",
        "subj_eid",
        F.to_date("d").alias("warc_ts"),
    )


def test_latest_wins_and_asof_cutoff(spark):
    linked = _linked(
        spark,
        [
            ("u/1", 0, "based_in", "Berlin", "e1", "2024-01-02"),
            ("u/2", 0, "based_in", "Madrid", "e1", "2024-01-04"),
            ("u/3", 0, "based_in", "Lisbon", "e1", "2024-01-09"),  # after cutoff
            ("u/1", 1, "founded_in", "1990", "e1", "2024-01-02"),
        ],
    )
    got = {
        (r.subj_eid, r.pred): (r.obj, r.fact_date)
        for r in resolve_facts(linked, as_of="2024-01-05").collect()
    }
    assert got == {
        ("e1", "based_in"): ("Madrid", "2024-01-04"),
        ("e1", "founded_in"): ("1990", "2024-01-02"),
    }


def test_tie_at_winning_ts_is_deterministic(spark):
    rows = [
        ("u/2", 0, "based_in", "Athens", "e1", "2024-01-03"),
        ("u/9", 0, "based_in", "Zagreb", "e1", "2024-01-03"),
        ("u/5", 0, "based_in", "Athens", "e1", "2024-01-03"),
    ]
    linked = _linked(spark, rows)
    # obj DESC wins first: Zagreb > Athens
    [r] = resolve_facts(linked, as_of="2024-01-05").collect()
    assert (r.obj, r.fact_date) == ("Zagreb", "2024-01-03")
    # invariant under physical layout
    [r2] = resolve_facts(linked.repartition(7), as_of="2024-01-05").collect()
    assert (r2.obj, r2.fact_date) == ("Zagreb", "2024-01-03")


def test_null_subj_and_future_only_slots_dropped(spark):
    linked = _linked(
        spark,
        [
            ("u/1", 0, "based_in", "Berlin", None, "2024-01-02"),
            ("u/2", 0, "founded_in", "2001", "e2", "2024-02-01"),
        ],
    )
    assert resolve_facts(linked, as_of="2024-01-05").count() == 0


def test_detect_conflicts_functional_only(spark):
    linked = _linked(
        spark,
        [
            # e1 based_in: 2 distinct values over 3 mentions -> flagged
            ("u/1", 0, "based_in", "Berlin", "e1", "2024-01-01"),
            ("u/2", 0, "based_in", "Madrid", "e1", "2024-01-02"),
            ("u/3", 0, "based_in", "Berlin", "e1", "2024-01-03"),
            # consistent slot -> not flagged
            ("u/1", 1, "founded_in", "1990", "e1", "2024-01-01"),
            ("u/4", 0, "founded_in", "1990", "e1", "2024-01-04"),
            # multi-valued predicate: never flagged even with 2 values
            ("u/1", 2, "acquired", "Acme", "e1", "2024-01-01"),
            ("u/2", 2, "acquired", "Zeta", "e1", "2024-01-02"),
        ],
    )
    rows = detect_conflicts(linked).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.subj_eid, r.pred, r.n_values, r.n_mentions) == ("e1", "based_in", 2, 3)
    assert (r.first_obj, r.last_obj) == ("Berlin", "Madrid")


def test_pipeline_facts_stages(spark, tmp_path):
    """facts_asof adds the fingerprint-gated fusion stages: published
    once, skipped on rerun, recomputed alone when the cutoff moves, and
    equal to resolve_facts/detect_conflicts applied directly."""
    from darkbo_spark.kg.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    res = run_pipeline(spark, out, n_pages=200, seed=7, facts_asof="2024-01-02")
    for s in ("kg_facts", "kg_conflicts", "kg_entity_types",
              "kg_fact_history", "kg_entity_profiles"):
        assert s in res.stages_run, s

    linked = res.tables["kg_triples"].read(spark).join(
        res.tables["docs"].read(spark).select("url", "warc_ts"), "url"
    )
    want_facts = {
        tuple(r) for r in resolve_facts(linked, as_of="2024-01-02").collect()
    }
    got_facts = {
        tuple(r)
        for r in res.tables["kg_facts"].read(spark).drop("fact_bucket").collect()
    }
    assert got_facts == want_facts and got_facts
    want_conf = {tuple(r) for r in detect_conflicts(linked).collect()}
    got_conf = {
        tuple(r)
        for r in res.tables["kg_conflicts"].read(spark).drop("fact_bucket").collect()
    }
    assert got_conf == want_conf

    res2 = run_pipeline(spark, out, n_pages=200, seed=7, facts_asof="2024-01-02")
    assert not res2.stages_run  # everything (incl. fusion stages) skipped

    # moving the cutoff recomputes ONLY the cutoff-dependent stage
    # (kg_conflicts doesn't read as_of — its fingerprint is unchanged)
    res3 = run_pipeline(spark, out, n_pages=200, seed=7, facts_asof="2023-12-31")
    assert set(res3.stages_run) == {"kg_facts"}
    assert res3.tables["kg_facts"].read(spark).count() == 0  # all pages after cutoff


def test_entity_types_majority_and_tie(spark):
    from darkbo_spark.kg.temporal import entity_types

    linked = _linked(
        spark,
        [
            ("u/1", 0, "is_a", "startup", "e1", "2024-01-01"),
            ("u/2", 0, "is_a", "startup", "e1", "2024-01-02"),
            ("u/3", 0, "is_a", "firm", "e1", "2024-01-03"),
            # e2: 1-1 tie -> lexicographically smallest type wins
            ("u/1", 1, "is_a", "university", "e2", "2024-01-01"),
            ("u/2", 1, "is_a", "agency", "e2", "2024-01-02"),
            # non-is_a assertions never type
            ("u/4", 0, "based_in", "Berlin", "e3", "2024-01-01"),
        ],
    )
    got = {
        r.subj_eid: (r.entity_type, r.n_mentions)
        for r in entity_types(linked).collect()
    }
    assert got == {"e1": ("startup", 2), "e2": ("agency", 1)}


def test_fact_support_confidence(spark):
    from darkbo_spark.kg.temporal import fact_support

    linked = _linked(
        spark,
        [
            # Berlin asserted by 2 distinct pages (u/1 twice: distinct-url),
            # Madrid by 1 -> confidence 2/3 and 1/3
            ("u/1", 0, "based_in", "Berlin", "e1", "2024-01-01"),
            ("u/1", 1, "based_in", "Berlin", "e1", "2024-01-01"),
            ("u/2", 0, "based_in", "Berlin", "e1", "2024-01-02"),
            ("u/3", 0, "based_in", "Madrid", "e1", "2024-01-03"),
        ],
    )
    got = {
        r.obj: (r.support, r.confidence) for r in fact_support(linked).collect()
    }
    assert got == {"Berlin": (2, 0.666667), "Madrid": (1, 0.333333)}


def test_entity_profiles_union_universe(spark):
    from darkbo_spark.kg.temporal import entity_profiles

    linked_rows = [
        # e1 -> e2 edge; e1 typed + asserts 2 distinct facts
        ("u/1", 0, "acquired", "Zeta Corp", "e1", "2024-01-01"),
        ("u/2", 0, "is_a", "firm", "e1", "2024-01-02"),
        # e3 asserts a fact but never resolves an object -> no edges
        ("u/3", 0, "founded_in", "1990", "e3", "2024-01-03"),
    ]
    df = pd.DataFrame(
        linked_rows, columns=["url", "sent_idx", "pred", "obj", "subj_eid", "d"]
    )
    df["obj_eid"] = [ "e2", None, None ]
    sdf = spark.createDataFrame(df).select(
        "url", F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "pred", "obj", "subj_eid", "obj_eid", F.to_date("d").alias("warc_ts"),
    )
    got = {r.eid: (r.entity_type, r.n_facts, r.out_deg, r.in_deg)
           for r in entity_profiles(sdf).collect()}
    assert got == {
        "e1": ("firm", 2, 1, 0),
        "e2": (None, 0, 0, 1),   # edge target only: in the universe, untyped
        "e3": (None, 1, 0, 0),   # fact-asserting but edge-less: still present
    }


def test_fact_history_envelope(spark):
    from darkbo_spark.kg.temporal import fact_history

    linked = _linked(
        spark,
        [
            ("u/1", 0, "based_in", "Berlin", "e1", "2024-01-02"),
            ("u/2", 0, "based_in", "Berlin", "e1", "2024-01-05"),
            ("u/3", 0, "based_in", "Berlin", "e1", "2024-01-03"),
            ("u/4", 0, "based_in", "Madrid", "e1", "2024-01-04"),
        ],
    )
    got = {
        r.obj: (r.first_seen, r.last_seen, r.n_mentions)
        for r in fact_history(linked).collect()
    }
    assert got == {
        "Berlin": ("2024-01-02", "2024-01-05", 3),
        "Madrid": ("2024-01-04", "2024-01-04", 1),
    }


def test_nil_candidates_threshold_and_norm(spark):
    from darkbo_spark.kg.temporal import nil_candidates

    rows = [
        # 'The Acme Corp' and 'acme corp' normalize together -> 2 mentions
        ("u/1", 0, "based_in", "Berlin", None, "2024-01-01"),
        ("u/2", 0, "based_in", "Berlin", None, "2024-01-01"),
        # singleton miss stays below the threshold
        ("u/3", 0, "based_in", "Lisbon", None, "2024-01-01"),
        # linked mention never mined
        ("u/4", 0, "based_in", "Madrid", "e1", "2024-01-01"),
    ]
    df = pd.DataFrame(
        rows, columns=["url", "sent_idx", "pred", "obj", "subj_eid", "d"]
    )
    df["subj"] = ["The Acme Corp", "acme corp", "Lone Startup", "Known Co"]
    sdf = spark.createDataFrame(df).select(
        "url", F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "subj", "pred", "obj", "subj_eid", F.to_date("d").alias("warc_ts"),
    )
    got = {r.surface_norm: (r.n_mentions, r.n_docs, r.example_surface)
           for r in nil_candidates(sdf, min_mentions=2).collect()}
    assert got == {"acme corp": (2, 2, "The Acme Corp")}


def test_multivalued_slot_never_collapses(spark):
    """r6 ask #3: `acquired` (multi-valued) keeps ALL its objects with
    validity envelopes; functional slots still collapse to latest-wins."""
    linked = _linked(
        spark,
        [
            ("u/1", 0, "acquired", "Acme", "e1", "2024-01-01"),
            ("u/2", 0, "acquired", "Zeta", "e1", "2024-01-03"),
            ("u/3", 0, "acquired", "Acme", "e1", "2024-01-04"),
            ("u/4", 0, "based_in", "Berlin", "e1", "2024-01-01"),
            ("u/5", 0, "based_in", "Madrid", "e1", "2024-01-02"),
            # post-cutoff acquisition excluded, pre-cutoff values survive
            ("u/6", 0, "acquired", "Omega", "e1", "2024-01-09"),
        ],
    )
    got = {
        (r.pred, r.obj): (r.fact_date, r.first_seen, r.n_mentions)
        for r in resolve_facts(linked, as_of="2024-01-05").collect()
    }
    assert got == {
        ("acquired", "Acme"): ("2024-01-04", "2024-01-01", 2),
        ("acquired", "Zeta"): ("2024-01-03", "2024-01-03", 1),
        ("based_in", "Madrid"): ("2024-01-02", "2024-01-02", 1),
    }


def test_asof_cutoff_is_day_inclusive_for_timestamps(spark):
    """ADVICE r6: a TIMESTAMP crawled ON the as_of day after midnight must
    not be silently excluded by a midnight-upcast comparison."""
    df = pd.DataFrame(
        [
            ("u/1", 0, "based_in", "Berlin", "e1", "2024-01-05 10:00:00"),
            ("u/2", 0, "based_in", "Madrid", "e1", "2024-01-06 00:30:00"),
        ],
        columns=["url", "sent_idx", "pred", "obj", "subj_eid", "t"],
    )
    linked = spark.createDataFrame(df).select(
        "url", F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "pred", "obj", "subj_eid", F.to_timestamp("t").alias("warc_ts"),
    )
    [r] = resolve_facts(linked, as_of="2024-01-05").collect()
    assert (r.obj, r.fact_date) == ("Berlin", "2024-01-05")


def test_fusion_write_shapes_identical_content(spark, tmp_path):
    """r6 ask #2: the fusion tables publish identical content under the
    driver (coalesce(1)) and distributed (fact_bucket-bucketed) write
    shapes — only the physical layout differs. The bucketed shape spreads
    rows over many files so no single task funnels the fact state once
    the dictionary outgrows the driver assumption."""
    from darkbo_spark.kg.pipeline import run_pipeline

    def run(name):
        return run_pipeline(
            spark, str(tmp_path / name), n_pages=200, seed=7,
            facts_asof="2024-01-02",
        )

    # a 1-byte broadcast budget makes the dictionary too big for the driver
    conf = "spark.sql.autoBroadcastJoinThreshold"
    res = {"driver": run("driver")}
    orig = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        res["distributed"] = run("distributed")
    finally:
        spark.conf.set(conf, orig)
    for name in ("kg_facts", "kg_conflicts", "kg_entity_types",
                 "kg_fact_history", "kg_entity_profiles"):
        a = {tuple(r) for r in res["driver"].tables[name].read(spark).collect()}
        b = {tuple(r) for r in res["distributed"].tables[name].read(spark).collect()}
        assert a == b, name
        assert a, name
    assert len(res["driver"].tables["kg_fact_history"].data_files()) == 1
    assert len(res["distributed"].tables["kg_fact_history"].data_files()) > 1
    # bucket values are the pruning key: pmod(xxhash64(subj_eid), 32)
    hist = res["distributed"].tables["kg_fact_history"].read(spark)
    bad = hist.filter(
        F.col("fact_bucket")
        != F.pmod(F.xxhash64(F.col("subj_eid")), F.lit(32)).cast("int")
    ).count()
    assert bad == 0


def test_nil_candidates_obj_side_excludes_literal_slots(spark):
    """Object-side mining only considers entity-valued predicates: a
    recurring unlinked YEAR (founded_in) or type string (is_a) never
    enters the worklist; a recurring unlinked acquisition target does.
    side='both' unions positions before the threshold."""
    from darkbo_spark.kg.temporal import nil_candidates

    rows = [
        # obj entity surface recurs as acquisition target -> mined (side=obj)
        ("u/1", 0, "acquired", "Zeta Corp", "e1", "2024-01-01"),
        ("u/2", 0, "acquired", "Zeta Corp", "e1", "2024-01-01"),
        # literal slots recur but must never be mined
        ("u/1", 1, "founded_in", "1999", "e1", "2024-01-01"),
        ("u/2", 1, "founded_in", "1999", "e1", "2024-01-01"),
        ("u/1", 2, "is_a", "startup", "e1", "2024-01-01"),
        ("u/2", 2, "is_a", "startup", "e1", "2024-01-01"),
        # surface appearing once as subj and once as obj: only 'both'
        # clears the threshold
        ("u/3", 0, "works_at", "Mixed Co", None, "2024-01-01"),
        ("u/4", 0, "acquired", "Mixed Co", "e1", "2024-01-01"),
    ]
    df = pd.DataFrame(
        rows, columns=["url", "sent_idx", "pred", "obj", "subj_eid", "d"]
    )
    df["subj"] = ["A", "A", "A", "A", "A", "A", "Mixed Co", "A"]
    df["obj_eid"] = [None, None, None, None, None, None, "e9", None]
    linked = spark.createDataFrame(df).select(
        "url", F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "subj", "pred", "obj", "subj_eid", "obj_eid",
        F.to_date("d").alias("warc_ts"),
    )
    got_obj = {
        r.surface_norm: r.n_mentions
        for r in nil_candidates(linked, min_mentions=2, side="obj").collect()
    }
    assert got_obj == {"zeta corp": 2}
    got_both = {
        r.surface_norm: r.n_mentions
        for r in nil_candidates(linked, min_mentions=2, side="both").collect()
    }
    assert got_both == {"zeta corp": 2, "mixed co": 2}


def test_fact_changes_one_pass_equals_compositional(spark):
    """fact_changes (one conditional-envelope pass) equals the diff of
    two resolve_facts states — functional swaps as added+removed pairs,
    multi-valued accretion as pure adds, repartition-invariant."""
    from darkbo_spark.kg.temporal import fact_changes

    linked = _linked(
        spark,
        [
            # functional swap between cutoffs: Berlin -> Madrid
            ("u/1", 0, "based_in", "Berlin", "e1", "2024-01-02"),
            ("u/2", 0, "based_in", "Madrid", "e1", "2024-01-05"),
            # multi-valued accretion: Zeta added after the old cutoff
            ("u/3", 0, "acquired", "Acme", "e1", "2024-01-01"),
            ("u/4", 0, "acquired", "Zeta", "e1", "2024-01-06"),
            # unchanged slot -> no rows
            ("u/5", 0, "founded_in", "1990", "e1", "2024-01-01"),
            # post-new-cutoff mention invisible to both states
            ("u/6", 0, "acquired", "Omega", "e1", "2024-01-09"),
        ],
    )
    got = {
        tuple(r)
        for r in fact_changes(linked, "2024-01-03", "2024-01-07").collect()
    }
    assert got == {
        ("e1", "based_in", "Madrid", "added"),
        ("e1", "based_in", "Berlin", "removed"),
        ("e1", "acquired", "Zeta", "added"),
    }
    got2 = {
        tuple(r)
        for r in fact_changes(
            linked.repartition(7), "2024-01-03", "2024-01-07"
        ).collect()
    }
    assert got2 == got

    from darkbo_spark.kg.temporal import resolve_facts

    old = resolve_facts(linked, "2024-01-03").select("subj_eid", "pred", "obj")
    new = resolve_facts(linked, "2024-01-07").select("subj_eid", "pred", "obj")
    comp = {
        tuple(r) + ("added",)
        for r in new.join(old, ["subj_eid", "pred", "obj"], "left_anti").collect()
    } | {
        tuple(r) + ("removed",)
        for r in old.join(new, ["subj_eid", "pred", "obj"], "left_anti").collect()
    }
    assert got == comp


def test_envelope_merge_algebra(spark):
    """The envelope algebra is commutative/associative and the merged
    resolution equals direct resolution on the concatenated mentions —
    cycles can land in any order and in any number of merges."""
    from darkbo_spark.kg.temporal import (
        fact_envelopes,
        merge_fact_envelopes,
        resolve_facts,
        resolve_from_envelopes,
    )

    cycles = [
        _linked(spark, [
            ("u/1", 0, "based_in", "Berlin", "e1", "2024-01-01"),
            ("u/2", 0, "acquired", "Acme", "e1", "2024-01-02"),
        ]),
        _linked(spark, [
            ("u/3", 0, "based_in", "Madrid", "e1", "2024-01-04"),
            ("u/4", 0, "acquired", "Acme", "e1", "2024-01-05"),
        ]),
        _linked(spark, [
            ("u/5", 0, "acquired", "Zeta", "e1", "2024-01-06"),
        ]),
    ]
    envs = [fact_envelopes(c) for c in cycles]
    fwd = merge_fact_envelopes(merge_fact_envelopes(envs[0], envs[1]), envs[2])
    rev = merge_fact_envelopes(envs[2], merge_fact_envelopes(envs[1], envs[0]))
    a = {tuple(r) for r in resolve_from_envelopes(fwd).collect()}
    b = {tuple(r) for r in resolve_from_envelopes(rev).collect()}
    assert a == b

    allm = cycles[0].unionByName(cycles[1]).unionByName(cycles[2])
    direct = {tuple(r) for r in resolve_facts(allm, as_of="2024-01-07").collect()}
    assert a == direct
    # envelopes really accumulated: Acme seen in two cycles -> 2 mentions
    got = {(r.pred, r.obj): (r.first_seen, r.fact_date, r.n_mentions)
           for r in resolve_from_envelopes(fwd).collect()}
    assert got[("acquired", "Acme")] == ("2024-01-02", "2024-01-05", 2)
    assert got[("based_in", "Madrid")] == ("2024-01-04", "2024-01-04", 1)


def test_fusion_pool_failure_leaves_no_pointer_and_resumes(spark, tmp_path, monkeypatch):
    """A failure inside the fusion pool fails the run without publishing
    the failed tables; the rerun builds only those. `_type_vote` feeds
    two stages — kg_entity_types and kg_entity_profiles (which derives
    each entity's type from it) — so both fail and the other three
    fusion stages publish."""
    import os

    import pytest

    import darkbo_spark.kg.temporal as kt
    from darkbo_spark.kg.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    failing = {"kg_entity_types", "kg_entity_profiles"}

    def _raise(*_a, **_k):
        raise ValueError("entity_types exploded")

    monkeypatch.setattr(kt, "_type_vote", _raise)
    with pytest.raises(ValueError, match="entity_types exploded"):
        run_pipeline(spark, out, n_pages=60, seed=3, facts_asof="2024-01-02")
    for name in failing:
        assert not os.path.exists(os.path.join(out, name, "current.json")), name
    assert not os.path.exists(os.path.join(out, ".pipeline.lock"))

    monkeypatch.undo()
    res = run_pipeline(spark, out, n_pages=60, seed=3, facts_asof="2024-01-02")
    assert set(res.stages_run) == failing
    assert {"kg_facts", "kg_conflicts", "kg_fact_history"} <= set(res.stages_skipped)


# ---------------------------------------------------------------------------
# The fusion tables against their pre-envelope formulations: each of the
# five is written below as it was before the tables became derivations of
# one fact-envelope aggregate (a filter, a group and a window per table
# over the mention stream), and the pipeline's tables must match them row
# for row.
# ---------------------------------------------------------------------------


def _ref_envelopes(linked):
    return (
        linked.filter(F.col("subj_eid").isNotNull())
        .groupBy("subj_eid", "pred", "obj")
        .agg(
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
            F.count("*").cast("bigint").alias("n_mentions"),
        )
    )


def _ref_resolve_facts(linked, as_of):
    from darkbo_spark.kg.temporal import resolve_from_envelopes

    scoped = linked.filter(F.to_date("warc_ts") <= F.lit(as_of).cast("date"))
    return resolve_from_envelopes(_ref_envelopes(scoped))


def _ref_detect_conflicts(linked):
    from darkbo_spark.kg.temporal import FUNCTIONAL_PREDS

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


def _ref_entity_types(linked):
    from pyspark.sql.window import Window

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


def _ref_fact_history(linked):
    return _ref_envelopes(linked).select(
        "subj_eid",
        "pred",
        "obj",
        F.date_format("first_ts", "yyyy-MM-dd").alias("first_seen"),
        F.date_format("last_ts", "yyyy-MM-dd").alias("last_seen"),
        "n_mentions",
    )


def _ref_entity_profiles(linked):
    from darkbo_spark.operators.graph import degree_centrality

    edges = linked.filter(
        F.col("subj_eid").isNotNull() & F.col("obj_eid").isNotNull()
    ).select(F.col("subj_eid").alias("src"), F.col("obj_eid").alias("dst"))
    deg = degree_centrality(edges).select(
        F.col("node").alias("eid"), "out_deg", "in_deg"
    )
    ty = _ref_entity_types(linked).select(
        F.col("subj_eid").alias("eid"), "entity_type"
    )
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


def test_fusion_tables_match_pre_envelope_formulations(spark, tmp_path):
    """The pipeline's five fusion tables equal the pre-envelope
    formulations over kg_triples ⋈ docs. The crawl dates are spread over
    four days with every 11th page undated, so the corpus holds a slot
    asserted on both sides of the cutoff, mentions with a null warc_ts,
    unlinked objects (null obj_eid) and an is_a tie."""
    from darkbo_spark.kg.pages import synth_pages
    from darkbo_spark.kg.pipeline import run_pipeline

    asof = "2024-01-02"
    day = F.col("page_id") % 4
    pages = synth_pages(
        spark, 160, seed=5, columns=["page_id", "url", "warc_ts", "text", "lang"]
    ).withColumn(
        "warc_ts",
        F.when(F.col("page_id") % 11 == 0, F.lit(None).cast("timestamp")).otherwise(
            F.col("warc_ts") + F.make_interval(days=day.cast("int"))
        ),
    )
    res = run_pipeline(
        spark, str(tmp_path / "kg"), pages=pages, input_fingerprint="fusion-ref",
        facts_asof=asof,
    )
    linked = (
        res.tables["kg_triples"].read(spark)
        .join(res.tables["docs"].read(spark).select("url", "warc_ts"), "url")
        .cache()
    )

    subj = linked.filter(F.col("subj_eid").isNotNull())
    d = F.to_date("warc_ts")
    cut = F.lit(asof).cast("date")
    assert subj.groupBy("subj_eid", "pred").agg(
        F.max(F.when(d <= cut, 1)).alias("before"), F.max(F.when(d > cut, 1)).alias("after")
    ).filter("before = 1 AND after = 1").count() > 0
    assert subj.filter(F.col("warc_ts").isNull()).count() > 0
    assert subj.filter(F.col("obj_eid").isNull()).count() > 0
    votes = subj.filter(F.col("pred") == "is_a").groupBy("subj_eid", "obj").count()
    top = votes.groupBy("subj_eid").agg(F.max("count").alias("count"))
    tied = votes.join(top, ["subj_eid", "count"]).groupBy("subj_eid").count()
    assert tied.filter(F.col("count") > 1).count() > 0

    want = {
        "kg_facts": _ref_resolve_facts(linked, asof),
        "kg_conflicts": _ref_detect_conflicts(linked),
        "kg_entity_types": _ref_entity_types(linked),
        "kg_fact_history": _ref_fact_history(linked),
        "kg_entity_profiles": _ref_entity_profiles(linked),
    }
    for name, ref in want.items():
        got = res.tables[name].read(spark).drop("fact_bucket")
        assert got.columns == ref.columns, name
        got_rows = Counter(tuple(r) for r in got.collect())
        assert got_rows == Counter(tuple(r) for r in ref.collect()), name
        assert got_rows, name
    linked.unpersist()

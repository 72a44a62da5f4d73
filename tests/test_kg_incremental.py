"""Incremental KG maintenance (kg/incremental.py): delta upsert ≡ full
rebuild, including the zero-triple retirement trap; the `refresh` crawl
cycle ≡ its steps composed by hand, and its resume after a crash."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from darkbo_spark.kg.incremental import (
    REFRESH_TABLES,
    extract_and_link,
    refresh,
    upsert_triples_by_url,
)
from darkbo_spark.kg.oracle_twin import twin_entity_dict
from darkbo_spark.kg.temporal import (
    fact_envelopes,
    merge_fact_envelopes,
    resolve_from_envelopes,
)
from darkbo_spark.storage import make_table


def _pages(spark, rows):
    df = pd.DataFrame(rows, columns=["url", "text"])
    df["warc_ts"] = pd.Timestamp("2024-01-01")
    df["lang"] = "en"
    return spark.createDataFrame(df[["url", "warc_ts", "lang", "text"]])


def _key_set(df):
    return {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj, r.subj_eid, r.obj_eid)
        for r in df.collect()
    }


def test_upsert_equals_full_rebuild(spark):
    dictionary = twin_entity_dict(spark)
    true_rows = [
        ("u/0", "Acme Systems was founded in 1990. Alice Walker is the CEO of Acme Systems."),
        ("u/1", "Quantum Labs is based in Berlin."),
        ("u/2", "Maria Garcia works at Stellar Dynamics."),
    ]
    stale_rows = [
        ("u/0", "Nimbus Holdings acquired Orion Labs."),  # wrong content
        ("u/1", "Quantum Labs is based in Berlin."),
        ("u/2", "Maria Garcia works at Stellar Dynamics."),
    ]
    stale_kg = extract_and_link(_pages(spark, stale_rows), dictionary)
    delta = _pages(spark, [true_rows[0]])
    fresh = extract_and_link(delta, dictionary)
    merged = upsert_triples_by_url(stale_kg, fresh, delta.select("url"))
    rebuilt = extract_and_link(_pages(spark, true_rows), dictionary)
    assert _key_set(merged) == _key_set(rebuilt)
    # the stale wrong triples are actually gone
    assert merged.filter(F.col("subj") == "Nimbus Holdings").count() == 0


def test_zero_triple_refetch_retires_stale_rows(spark):
    """A refetched page whose new content yields NO triples must still
    retire its stale triples — the trap of deriving deleted urls from the
    fresh triple set instead of the delta pages."""
    dictionary = twin_entity_dict(spark)
    stale_kg = extract_and_link(
        _pages(spark, [("u/9", "Acme Systems was founded in 1990.")]), dictionary
    )
    assert stale_kg.count() > 0
    delta = _pages(spark, [("u/9", "nothing extractable in this refetch at all")])
    fresh = extract_and_link(delta, dictionary)
    assert fresh.count() == 0
    merged = upsert_triples_by_url(stale_kg, fresh, delta.select("url"))
    assert merged.count() == 0  # stale rows retired even with zero fresh


def test_untouched_urls_pass_through(spark):
    dictionary = twin_entity_dict(spark)
    stale_kg = extract_and_link(
        _pages(spark, [("u/0", "Quantum Labs is based in Tokyo."),
                       ("u/1", "Wei Chen works at Vertex Holdings.")]),
        dictionary,
    )
    delta = _pages(spark, [("u/1", "Wei Chen works for Nimbus Labs.")])
    merged = upsert_triples_by_url(
        stale_kg, extract_and_link(delta, dictionary), delta.select("url")
    )
    u0 = {t for t in _key_set(merged) if t[0] == "u/0"}
    assert u0 == {t for t in _key_set(stale_kg) if t[0] == "u/0"}


# ---------------------------------------------------------------------------
# refresh: the crawl cycle over a live KG seeded from a run_pipeline build
# ---------------------------------------------------------------------------

SEED_PAGES = 60
ZERO_TRIPLE_TEXT = "nothing extractable in this refetch at all"


@pytest.fixture(scope="module")
def live_kg(spark, tmp_path_factory):
    """A small run_pipeline KG: (its seed pages, its tables, the resolved
    alias → canonical eid dictionary)."""
    from darkbo_spark.kg.pages import entity_dictionary_df, synth_pages
    from darkbo_spark.kg.pipeline import run_pipeline

    pages = synth_pages(
        spark, SEED_PAGES, seed=7, columns=["page_id", "url", "warc_ts", "text", "lang"]
    ).localCheckpoint(eager=True)
    res = run_pipeline(
        spark, str(tmp_path_factory.mktemp("kg")), pages=pages,
        input_fingerprint="pages-7",
    )
    dictionary = (
        entity_dictionary_df(spark).join(res.tables["eid_map"].read(spark), "eid")
        .selectExpr("alias", "canon_eid AS eid")
        .localCheckpoint(eager=True)
    )
    return pages, res.tables, dictionary


def _seed(spark, out, live_kg):
    """Publish the live tables a crawl cycle maintains from the KG: its
    linked triples, their envelopes dated by page, the resolved facts."""
    pages, kg, _d = live_kg
    live = kg["kg_triples"].read(spark).select(
        "url", F.col("sent_idx").cast("bigint").alias("sent_idx"),
        "subj", "pred", "obj", "subj_eid", "obj_eid",
    )
    env = fact_envelopes(live.join(pages.select("url", "warc_ts"), "url"))
    for name, df in zip(REFRESH_TABLES, (live, env, resolve_from_envelopes(env))):
        make_table(out, name).publish(df, "base")


def _delta(spark, cycle, ids, zero_triple_url=None):
    """Refetched pages for `ids`: regenerated content, crawled `cycle + 1`
    days after the seed; `zero_triple_url`'s page now yields no triple."""
    from darkbo_spark.kg.pages import _gen_page

    rows = [_gen_page(100 + cycle, i, False, with_html=False) for i in ids]
    for r in rows:
        r["warc_ts"] += dt.timedelta(days=cycle + 1)
        if r["url"] == zero_triple_url:
            r["text"] = ZERO_TRIPLE_TEXT
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "lang", "text"])
    )


def _hand_cycle(spark, out, delta, dictionary, fp):
    """The crawl cycle written out by hand, one publish per table: the
    sequence the kg_crawl benchmark workload runs."""
    live, env, facts = (make_table(out, n) for n in REFRESH_TABLES)
    fresh = extract_and_link(delta, dictionary).persist()
    try:
        live.publish(upsert_triples_by_url(live.read(spark), fresh, delta.select("url")), fp)
        env.publish(
            merge_fact_envelopes(
                env.read(spark),
                fact_envelopes(fresh.join(delta.select("url", "warc_ts"), "url")),
            ),
            fp,
        )
        facts.publish(resolve_from_envelopes(env.read(spark)), fp)
    finally:
        fresh.unpersist()


def _tables(spark, out):
    from collections import Counter

    return {
        n: Counter(tuple(r) for r in make_table(out, n).read(spark).collect())
        for n in REFRESH_TABLES
    }


def test_refresh_equals_hand_composition(spark, tmp_path, live_kg):
    """Three cycles of `refresh` publish, table by table, what the hand
    composition publishes — including a refetch whose page now yields zero
    triples; a replayed cycle skips every stage."""
    _pages_df, kg, dictionary = live_kg
    by_url = kg["kg_triples"].read(spark).groupBy("url").count()
    gone = by_url.orderBy(F.desc("count"), "url").first().url
    gone_id = int(gone.rsplit("/", 1)[1])
    cycles = [
        sorted({1, 2, 3, 40, gone_id}), [5, 6, 7, 8, 9], sorted({gone_id, 11, 50})
    ]
    via_refresh, by_hand = str(tmp_path / "refresh"), str(tmp_path / "hand")
    _seed(spark, via_refresh, live_kg)
    _seed(spark, by_hand, live_kg)
    for c, ids in enumerate(cycles):
        delta = _delta(spark, c, ids, zero_triple_url=gone if c == 0 else None)
        res = refresh(spark, via_refresh, delta, dictionary, f"cycle-{c}")
        assert res.stages_run == list(REFRESH_TABLES)
        _hand_cycle(spark, by_hand, delta, dictionary, f"cycle-{c}")
        if c == 0:  # the zero-triple page retired its stale triples
            live = make_table(via_refresh, "live_triples").read(spark)
            assert live.filter(F.col("url") == gone).count() == 0
    got = _tables(spark, via_refresh)
    assert got == _tables(spark, by_hand)
    assert all(got[n] for n in REFRESH_TABLES)

    res = refresh(spark, via_refresh, delta, dictionary, "cycle-2")
    assert res.stages_run == [] and res.stages_skipped == list(REFRESH_TABLES)
    assert _tables(spark, via_refresh) == got


def test_refresh_resumes_after_a_crash_between_publishes(
    spark, tmp_path, live_kg, monkeypatch
):
    """A cycle that crashes after live_triples published rebuilds only the
    two unpublished tables on rerun and ends equal to an uninterrupted
    cycle: the fresh mentions are merged into the envelopes once."""
    from darkbo_spark.kg import temporal

    _pages_df, _kg, dictionary = live_kg
    delta = _delta(spark, 0, [4, 12, 30, 41])
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    _seed(spark, crashed, live_kg)
    _seed(spark, clean, live_kg)
    base_mentions = make_table(crashed, "fact_envelopes").read(spark).agg(
        F.sum("n_mentions")
    ).first()[0]

    real = temporal.merge_fact_envelopes
    raised = []

    def crash_once(state, delta_env):
        if not raised:
            raised.append(True)
            raise RuntimeError("crash between publishes")
        return real(state, delta_env)

    monkeypatch.setattr(temporal, "merge_fact_envelopes", crash_once)
    with pytest.raises(RuntimeError, match="between publishes"):
        refresh(spark, crashed, delta, dictionary, "cycle-0")
    fps = {n: make_table(crashed, n).current_fingerprint() for n in REFRESH_TABLES}
    assert fps["live_triples"] != "base"
    assert fps["fact_envelopes"] == fps["facts"] == "base"

    res = refresh(spark, crashed, delta, dictionary, "cycle-0")
    assert res.stages_skipped == ["live_triples"]
    assert res.stages_run == ["fact_envelopes", "facts"]
    refresh(spark, clean, delta, dictionary, "cycle-0")
    got = _tables(spark, crashed)
    assert got == _tables(spark, clean)

    fresh = extract_and_link(delta, dictionary).filter(F.col("subj_eid").isNotNull())
    assert sum(r[-1] * k for r, k in got["fact_envelopes"].items()) == (
        base_mentions + fresh.count()
    )

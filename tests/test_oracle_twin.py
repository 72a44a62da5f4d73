"""The KG oracle twin (kg/oracle_twin.py) — proof that the DuckDB replay,
the dialect-neutral text construction, and the real Spark pipeline all
agree. The driver's hash gate covers Spark↔DuckDB; these tests pin the
third corner (Python reference_impl) and the pattern coverage, so a future
edit that breaks one engine's replay fails HERE with a readable diff
instead of as an opaque driver hash mismatch.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from darkbo_spark.kg.oracle_twin import (
    ADJ,
    CITY,
    FIRST,
    KIND,
    LAST,
    NOUN,
    clean_sql,
    est_oracle_sql,
    raw_text_sql,
    sentences_sql,
    twin_entity_dict,
    twin_pages,
)
from darkbo_spark.reference_impl import (
    clean_text,
    extract_triples,
    split_sentences,
    uuid5_id,
)


def _raw_text_py(i: int) -> str:
    """Independent plain-Python rendering of raw_text_sql's template."""
    comp = f"{ADJ[i % 6]} {NOUN[i % 4]}"
    comp2 = f"{ADJ[(i + 3) % 6]} {NOUN[(i + 1) % 4]}"
    person = f"{FIRST[i % 5]} {LAST[i % 4]}"
    year = f"19{80 + i % 20}"
    s1 = f"{comp}   was  founded by {person} ."
    s2 = f"{comp} was founded in {year}!!"
    s3 = f"{comp}{' is based in ' if i % 2 == 0 else ' is headquartered in '}{CITY[i % 5]}."
    s4 = f"{person} is the CEO of {comp} ....."
    s5 = "The committee @#$% will reconvene after the *** recess ."
    s6 = f"{comp} acquired {comp2}. " if i % 3 == 0 else ""
    s7 = f"{person}{' works at ' if i % 2 == 0 else ' works for '}{comp2}."
    s8 = f"{comp} is a {KIND[i % 3]} ----- est {year}."
    return f"  {s1}  {s2} {s3}\t{s4} {s5} {s6}{s7} {s8}"


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def test_raw_text_sql_matches_python(duck):
    rows = duck.execute(
        f"SELECT i, {raw_text_sql('i')} FROM range(0, 120) t(i)"
    ).fetchall()
    for i, raw in rows:
        assert raw == _raw_text_py(i)


def test_duckdb_replay_equals_reference_impl(duck):
    """clean → segment → extract replayed in RE2 SQL must equal the Python
    `re` reference byte-for-byte on the twin domain (the ASCII domain where
    RE2 and Python `re` agree — the module docstring's ground rules)."""
    q = f"""
WITH raw AS (SELECT i, {raw_text_sql('i')} AS t FROM range(0, 120) r(i))
SELECT i, {clean_sql('t')}, {sentences_sql(clean_sql('t'))} FROM raw
"""
    for i, cleaned, sents in duck.execute(q).fetchall():
        py_clean = clean_text(_raw_text_py(i))
        assert cleaned == py_clean, f"clean mismatch at id {i}"
        assert sents == split_sentences(py_clean), f"segment mismatch at id {i}"


def test_oracle_triples_equal_reference_impl(duck):
    duck.execute(
        "CREATE OR REPLACE VIEW documents AS "
        "SELECT i AS doc_id FROM range(0, 240) t(i)"
    )
    got = duck.execute(est_oracle_sql(240)).fetchall()
    want = []
    for i in range(240):
        url = f"https://twin.test/p/{i}"
        for si, sent in enumerate(split_sentences(clean_text(_raw_text_py(i)))):
            for s, pred, o in extract_triples(sent):
                want.append((url, si, s, pred, o))
    assert sorted(r[:5] for r in got) == sorted(want)
    # every constructed pattern family fires (8 of the 12 rules)
    preds = {r[3] for r in got}
    assert preds == {
        "founded_by",
        "founded_in",
        "based_in",
        "ceo_of",
        "works_at",
        "acquired",
        "is_a",
    } | ({"located_in"} & preds)  # located_in shares surface with based_in


def test_spark_twin_pages_match_python(spark):
    docs = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    for r in twin_pages(docs, id_limit=50).select("url", "text").collect():
        i = int(r.url.rsplit("/", 1)[1])
        assert r.text == _raw_text_py(i)


def test_twin_dict_eids_are_content_addressed(spark):
    rows = twin_entity_dict(spark).collect()
    # eid must be shared across alias forms of one canonical, distinct across
    # canonicals, and companies carry exactly 3 alias rows
    by_eid = {}
    for r in rows:
        by_eid.setdefault(r.eid, []).append(r.alias)
    sizes = sorted(len(v) for v in by_eid.values())
    assert sizes.count(3) == len(ADJ) * len(NOUN)
    assert sizes.count(1) == len(FIRST) * len(LAST) + len(CITY)
    # 'The … Company' alias normalizes onto the same eid via the link norm
    some = next(v for v in by_eid.values() if len(v) == 3)
    assert any(a.startswith("The ") for a in some)
    # uuid5 ids are NOT cross-engine; sha256 eids are 32 hex chars
    assert all(len(e) == 32 and e != uuid5_id("entity", "x") for e in by_eid)


def test_clean_and_segment_replay_property(duck):
    """Property check beyond the constructed corpus: for arbitrary messy
    ASCII text, the RE2 SQL replay of clean_text + split_sentences equals
    the Python reference byte-for-byte. Excluded by design: \\x0b (Python
    \\s includes vertical tab, RE2's does not — the documented ASCII-domain
    ground rule) and non-ASCII (Python \\w is unicode)."""
    from hypothesis import given, settings, strategies as st

    alphabet = st.sampled_from(
        list("abcXYZ019 .!?,;:-()[]\"'/@#$%*\t\n") + ["...", "----", " .", "!?", ".  "]
    )
    texts = st.lists(alphabet, min_size=0, max_size=60).map("".join)

    @settings(max_examples=80, deadline=None)
    @given(texts)
    def check(text):
        lit = "'" + text.replace("'", "''") + "'"
        cleaned, sents = duck.execute(
            f"SELECT {clean_sql(lit)}, {sentences_sql(clean_sql(lit))}"
        ).fetchone()
        py_clean = clean_text(text)
        assert cleaned == py_clean, repr(text)
        assert sents == split_sentences(py_clean), repr(text)

    check()


def test_enc_cte_degenerate_inputs_match_encoder(duck):
    """Review-caught gap: the SQL encoder replay must emit the 64-dim ZERO
    vector for token-free texts (the _HashEncoder `norm or 1.0` guard),
    not drop the key or divide 0/0 to NULL."""
    from darkbo_spark.functions.embed import _HashEncoder
    from darkbo_spark.kg.oracle_twin import enc_cte

    duck.execute("CREATE OR REPLACE TABLE enc_probe(k BIGINT, txt VARCHAR)")
    cases = ["", "   ", "\t\n", "hello world", "a"]
    for i, s in enumerate(cases):
        duck.execute("INSERT INTO enc_probe VALUES (?, ?)", [i, s])
    q = (
        "WITH " + enc_cte("enc_probe", "k", "txt").strip()
        + "\nSELECT key, list(val ORDER BY dim) AS v FROM enc_cell"
        " GROUP BY key ORDER BY key"
    )
    enc = _HashEncoder()
    rows = duck.execute(q).fetchall()
    assert len(rows) == len(cases)
    for (_, v), s in zip(rows, cases):
        assert [round(x, 6) for x in v] == enc.encode([s])[0]


def test_clear_session_memo_unpersists_twin_chain(spark, sf_dir):
    """The memoized, persisted KG twin chain stays cached across registry
    queries until clear_session_memo, which unpersists it and empties the
    session's memo."""
    from pyspark import StorageLevel

    from darkbo_spark.queries.common import (
        QUERIES,
        clear_session_memo,
        session_plan_memo,
    )
    from darkbo_spark.queries.kg_queries import _kg_linked_twin

    assert QUERIES["kg_entity_degrees_x"](spark, sf_dir).count() > 0
    chain = _kg_linked_twin(spark, sf_dir, "broadcast")
    assert chain.storageLevel != StorageLevel.NONE
    clear_session_memo(spark)
    assert chain.storageLevel == StorageLevel.NONE
    assert session_plan_memo(spark) == {}


def test_t_memo_serves_rewritten_table(spark, tmp_path):
    """_t memoizes the scan per session, keyed by the table's corpus
    fingerprint: a documents.parquet rewritten mid-session is listed
    afresh, so the next _t returns the new rows, not a plan over the
    files the rewrite removed."""
    from darkbo_spark.queries.common import _t

    sf = str(tmp_path)
    path = f"{sf}/documents.parquet"
    spark.range(5).withColumnRenamed("id", "doc_id").write.parquet(path)
    assert sorted(r.doc_id for r in _t(spark, sf, "documents").collect()) == list(
        range(5)
    )
    spark.range(100, 107).withColumnRenamed("id", "doc_id").write.mode(
        "overwrite"
    ).parquet(path)
    assert sorted(r.doc_id for r in _t(spark, sf, "documents").collect()) == list(
        range(100, 107)
    )


def _write_documents(src_sf_dir: str, sf: str, n_docs: int) -> None:
    """documents.parquet with doc_id < n_docs, written by pyarrow as another
    process would: a Spark write would itself refresh the session's cached
    plans over the path."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{src_sf_dir}/documents.parquet")
    pq.write_table(
        docs.filter(pc.less(docs["doc_id"], n_docs)), f"{sf}/documents.parquet"
    )


def test_linked_twin_chain_serves_rewritten_documents(spark, sf_dir, tmp_path):
    """The persisted linked twin chain is memoized under the documents'
    corpus fingerprint: after documents.parquet is rewritten outside the
    session with pages 0-59 only, kg_linked_x links those pages, not the
    persisted rows of the 240-page corpus, and the superseded chain is
    dropped from the memo and unpersisted."""
    from darkbo_spark.queries.common import _corpus_fp, session_plan_memo
    from darkbo_spark.queries.kg_queries import _kg_linked_twin, kg_linked_twin

    def page_ids():
        rows = kg_linked_twin(spark, sf).select("url").distinct().collect()
        return {int(r.url.rsplit("/", 1)[1]) for r in rows}

    sf = str(tmp_path)
    _write_documents(sf_dir, sf, 240)
    assert max(page_ids()) >= 60
    old_fp, old_chain = _corpus_fp(sf, "documents"), _kg_linked_twin(spark, sf)
    assert old_chain.is_cached
    _write_documents(sf_dir, sf, 60)
    ids = page_ids()
    assert ids and max(ids) < 60
    assert not any(old_fp in k for k in session_plan_memo(spark))
    assert not old_chain.is_cached


def test_neardup_clusters_serve_rewritten_documents(spark, sf_dir, tmp_path):
    """The memoized near-dup clusters frame follows a rewritten
    documents.parquet too: with documents 0-59 only, every clustered id
    is one of those docs or its planted duplicate (id + 100000), and the
    superseded frame leaves the memo."""
    from darkbo_spark.queries.common import _corpus_fp, session_plan_memo
    from darkbo_spark.queries.dedup_queries import (
        _neardup_clusters_shared,
        neardup_clusters_portable,
    )

    def doc_ids():
        rows = neardup_clusters_portable(spark, sf).collect()
        return {i % 100000 for r in rows for i in (r.doc_id, r.rep_id)}

    sf = str(tmp_path)
    _write_documents(sf_dir, sf, 240)
    assert max(doc_ids()) >= 60
    old_fp = _corpus_fp(sf, "documents")
    old_frame = _neardup_clusters_shared(spark, sf)
    _write_documents(sf_dir, sf, 60)
    ids = doc_ids()
    assert ids and max(ids) < 60
    assert not any(old_fp in k for k in session_plan_memo(spark))
    assert not any(v is old_frame for v in session_plan_memo(spark).values())
    assert not old_frame.is_cached


def test_neardup_clusters_leave_no_cache_after_clear(spark, sf_dir):
    """Everything neardup_clusters_x persists is released by
    clear_session_memo: the memoized clusters frame, and the banded
    MinHash frame, which neardup_clusters unpersists once connected
    components has checkpointed the pairs."""
    from darkbo_spark.queries.common import clear_session_memo
    from darkbo_spark.queries.dedup_queries import neardup_clusters_portable

    spark.catalog.clearCache()
    clear_session_memo(spark)
    assert neardup_clusters_portable(spark, sf_dir).count() > 0
    clear_session_memo(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_banded_lsh_queries_leave_no_cache_after_clear(spark, sf_dir):
    """The banded frames the four LSH pair queries persist are session
    memo entries, so clear_session_memo releases every one of them."""
    from darkbo_spark.queries.common import clear_session_memo
    from darkbo_spark.queries.dedup_queries import (
        minhash_pairs,
        minhash_pairs_portable,
        simhash_pairs,
        simhash_pairs_portable,
    )

    spark.catalog.clearCache()
    clear_session_memo(spark)
    for query in (minhash_pairs_portable, simhash_pairs_portable,
                  minhash_pairs, simhash_pairs):
        query(spark, sf_dir).count()
    clear_session_memo(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_one_persisted_chain_per_dictionary(spark, sf_dir):
    """kg_linked_x and the crawl-dated fact queries read ONE persisted
    chain for the default dictionary, and the NIL-mining queries, which
    each build the holey dictionary afresh, share one more."""
    from darkbo_spark.queries.common import clear_session_memo, session_plan_memo
    from darkbo_spark.queries.kg_queries import (
        kg_facts_asof,
        kg_linked_twin,
        kg_nil_candidates,
        kg_nil_candidates_both,
    )

    def persisted():
        return sum(df.is_cached for df in session_plan_memo(spark).values())

    clear_session_memo(spark)
    kg_linked_twin(spark, sf_dir).count()
    kg_facts_asof(spark, sf_dir).count()
    assert persisted() == 1
    kg_nil_candidates(spark, sf_dir).count()
    kg_nil_candidates_both(spark, sf_dir).count()
    assert persisted() == 2

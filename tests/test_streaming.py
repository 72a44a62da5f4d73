"""Structured Streaming: file-source ingest through the SAME batch
transforms, watermark windowing plan, and the stateful sessionize operator —
each checked against its batch twin."""

import datetime as dt
import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from darkbo_spark import reference_impl as ref
from darkbo_spark.kg.extract import extract_docs
from darkbo_spark.kg.pages import synth_pages
from darkbo_spark.kg.triples import extract_doc_triples_df
from darkbo_spark.streaming.ingest import (
    sessionize_stream,
    stream_pages_to_triples,
    windowed_event_counts,
)


def test_stream_ingest_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "pages_in")
    outp = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")
    # two landing files = two micro-batch groups
    synth_pages(spark, 40, seed=21).write.parquet(inp)
    q = stream_pages_to_triples(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    got = {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj)
        for r in spark.read.parquet(outp).collect()
    }
    batch = {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj)
        for r in extract_doc_triples_df(
            extract_docs(synth_pages(spark, 40, seed=21))
        ).collect()
    }
    assert got == batch

    # restart with no new files → checkpoint prevents re-processing
    q2 = stream_pages_to_triples(spark, inp, outp, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(outp).count() == len(batch)


def test_windowed_counts_batch_twin(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=m), "click") for m in [0, 1, 6, 7, 13]
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["user_id", "ts", "event_type"]))
    out = {
        (r.win.start.minute, r.n)
        for r in windowed_event_counts(df, "5 minutes").collect()
    }
    assert out == {(0, 2), (5, 2), (10, 1)}


def test_sessionize_stream_matches_batch_sessions(spark, tmp_path):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in (1, 2):
        # two sessions per user: 3 events, a 90-minute gap, then 2 events
        for m in (0, 5, 10, 100, 105):
            rows.append((u, 1000 * u + m, base + dt.timedelta(minutes=m)))
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
    src = str(tmp_path / "events_in")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .parquet(src)
    )
    # the query's session copies the conf at start(): without it the
    # timeout state keeps scheduling no-data batches (see sessionize_stream)
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    orig = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        q = (
            sessionize_stream(stream, gap_minutes=30)
            .writeStream.format("memory")
            .queryName("sessions_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(conf, orig)
    try:
        assert q.awaitTermination(120) is True
    finally:
        q.stop()
    done = spark.sql("select * from sessions_out").collect()
    # the first (closed) session per user is emitted; the open one stays in
    # state awaiting timeout
    got = {(r.user_id, r.n_events) for r in done}
    assert got == {(1, 3), (2, 3)}


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Streaming exact-dedup twin: duplicate event_ids inside the watermark
    horizon are dropped; state stays bounded by the horizon."""
    from darkbo_spark.streaming.ingest import dedup_stream

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 10, base),
        (1, 10, base + dt.timedelta(minutes=1)),   # dup within horizon
        (1, 11, base + dt.timedelta(minutes=2)),
        (2, 10, base + dt.timedelta(minutes=3)),   # same event_id? no — keys
        (2, 12, base + dt.timedelta(minutes=4)),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
    src = str(tmp_path / "dedup_in")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .parquet(src)
    )
    q = (
        dedup_stream(stream, keys=["user_id", "event_id"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.user_id, r.event_id) for r in spark.sql("select * from dedup_out").collect()}
    assert got == {(1, 10), (1, 11), (2, 10), (2, 12)}
    # batch twin: plain dropDuplicates on the same keys
    batch = dedup_stream(spark.createDataFrame(pdf), keys=["user_id", "event_id"])
    assert {(r.user_id, r.event_id) for r in batch.collect()} == got


def test_dedup_stream_batch_tiebreak_deterministic(spark):
    pdf = pd.DataFrame(
        {"user_id": [1, 1, 1], "event_id": [9, 3, 5],
         "ts": [dt.datetime(2024, 1, 1)] * 3, "k": ["same"] * 3}
    )
    from darkbo_spark.streaming.ingest import dedup_stream

    got = dedup_stream(
        spark.createDataFrame(pdf), keys=["k"], tiebreak=["event_id"]
    ).collect()
    assert len(got) == 1 and got[0].event_id == 3  # min tiebreak wins


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the session function."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        pass


def _run_batch(fn, state, minutes):
    pdf = pd.DataFrame(
        {"ts": [pd.Timestamp(dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)) for m in minutes]}
    )
    return list(fn((7,), iter([pdf]), state))


def test_session_fn_late_event_cross_batch():
    """A late event older than the open session must NOT be silently
    absorbed: within-gap extends the session backwards, far-before becomes
    its own closed session — matching the batch twin's gap rule."""
    from darkbo_spark.streaming.ingest import _session_fn

    fn = _session_fn(30 * 60)  # 30-minute gap

    # case 1: within-gap late event extends the open session backwards
    st = _FakeState()
    assert _run_batch(fn, st, [120]) == []          # open session at 2:00
    assert _run_batch(fn, st, [100]) == []          # 1:40, within 30min gap
    s, e, n = st.get
    assert (pd.Timestamp(s, unit="us").minute, n) == (40, 2)  # start moved back

    # case 2: far-before late event becomes its own closed session
    st2 = _FakeState()
    _run_batch(fn, st2, [120])                      # open at 2:00
    out = _run_batch(fn, st2, [0])                  # 0:00 — 2h earlier
    assert len(out) == 1 and out[0].n_events.tolist() == [1]
    assert out[0].session_start.dt.minute.tolist() == [0]
    s, e, n = st2.get
    assert n == 1  # the 2:00 session stays open, uncorrupted


def test_session_fn_merges_late_far_and_bridging_events():
    """One micro-batch carrying a late event inside the gap before the
    open session, one far back and one that bridges the open session to a
    later event: the far one closes as its own session, the rest merge
    into one open session — the batch twin's gap rule over all events."""
    from darkbo_spark.streaming.ingest import _session_fn

    fn = _session_fn(30 * 60)  # 30-minute gap
    st = _FakeState()
    assert _run_batch(fn, st, [120, 130]) == []   # open session 2:00-2:10
    # 1:40 (late, within gap), 0:00 (far back), 2:35 bridges 2:10 → 3:00
    out = _run_batch(fn, st, [180, 0, 100, 155])
    assert len(out) == 1
    assert out[0].session_start.dt.minute.tolist() == [0]
    assert out[0].session_end.dt.minute.tolist() == [0]
    assert out[0].n_events.tolist() == [1]
    s, e, n = st.get
    start, end = pd.Timestamp(s, unit="us"), pd.Timestamp(e, unit="us")
    assert (start.hour, start.minute, end.hour, end.minute, n) == (1, 40, 3, 0, 5)


def test_stream_asof_join_restart(spark, tmp_path):
    """Watermarked stream-stream interval join + as-of reduction equals the
    batch as_of_join, across a kill-restart in the middle of the input
    (stage-2 events arrive only after the first query terminated; the
    restarted query resumes from the checkpoint with no loss and no dups)."""
    from darkbo_spark.operators.asof import as_of_join
    from darkbo_spark.streaming.ingest import asof_reduce, stream_asof_candidates

    base = dt.datetime(2024, 1, 15)
    ev_rows = [
        (100 * u + d, u, base + dt.timedelta(days=d))
        for d in (7, 12)
        for u in (1, 2, 3)
    ]
    od_rows = [
        (u, base + dt.timedelta(days=d), 10 * u + d)
        for u in (1, 2, 3)
        for d in (0, 5, 10)
    ]
    ev_pdf = pd.DataFrame(ev_rows, columns=["event_id", "user_id", "ts"])
    od_pdf = pd.DataFrame(od_rows, columns=["user_id", "o_orderdate", "o_orderkey"])
    ev_dir = str(tmp_path / "asof_ev")
    od_dir = str(tmp_path / "asof_od")
    outp = str(tmp_path / "asof_pairs")
    ckpt = str(tmp_path / "asof_ckpt")

    # stage 1: all orders + the day-7 events only
    spark.createDataFrame(od_pdf).coalesce(1).write.mode("append").parquet(od_dir)
    spark.createDataFrame(ev_pdf.iloc[:3]).coalesce(1).write.mode("append").parquet(ev_dir)
    q = stream_asof_candidates(spark, ev_dir, od_dir, outp, ckpt, horizon="30 days")
    q.awaitTermination(120)
    n1 = spark.read.parquet(outp).count()
    assert n1 > 0  # stage-1 matches emitted before the "kill"

    # the query is dead; stage-2 (later event-time) files land; restart from
    # the SAME checkpoint — only the new files are processed
    spark.createDataFrame(ev_pdf.iloc[3:]).coalesce(1).write.mode("append").parquet(ev_dir)
    q2 = stream_asof_candidates(spark, ev_dir, od_dir, outp, ckpt, horizon="30 days")
    q2.awaitTermination(120)

    pairs = spark.read.parquet(outp)
    # exactly-once across the restart: no duplicated (event, order) pairs
    assert pairs.count() == pairs.dropDuplicates(["event_id", "o_orderkey"]).count()

    got = {
        (r.event_id, r.user_id, r.asof_o_orderkey)
        for r in asof_reduce(pairs).collect()
    }
    # batch twin (all orders are within the horizon, so the unbounded batch
    # as_of_join and the horizon-bounded streaming form agree exactly)
    ev_b = spark.createDataFrame(ev_pdf)
    od_b = spark.createDataFrame(od_pdf)
    exp = {
        (r.event_id, r.user_id, r.asof_o_orderkey)
        for r in as_of_join(
            ev_b, od_b, key="user_id", left_ts="ts", right_ts="o_orderdate",
            right_payload="o_orderkey", how="inner",
        ).select("event_id", "user_id", "asof_o_orderkey").collect()
    }
    assert got == exp and len(got) == 6


def _drop_newest_commit(spark, query, ckpt_dir):
    """Simulate a crash between a micro-batch's sink write and its offset
    commit: stop `query` and delete the newest commit marker of its
    checkpoint, so the next start replays that batch. The prior query is
    drained fully first: Spark refuses a checkpoint that a
    not-yet-deregistered query still claims ("concurrently using")."""
    import time as _time

    query.stop()
    for _ in range(100):
        if not any(x.isActive for x in spark.streams.active):
            break
        _time.sleep(0.1)
    commits = sorted(
        p for p in (ckpt_dir / "commits").iterdir() if not p.name.startswith(".")
    )
    commits[-1].unlink()
    # the Hadoop local FS keeps a .N.crc sidecar; leaving it behind makes
    # the replayed commit write look like a concurrent query's tampering
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()


def test_stream_linked_triples_equals_batch(spark, tmp_path):
    """Streaming extract→triples→LINK twin: the appended linked triples
    equal the batch path's output on the same pages, including eids; a
    restart with no new files reprocesses nothing."""
    from darkbo_spark.kg.extract import extract_docs as _ed
    from darkbo_spark.kg.link import link_entities
    from darkbo_spark.kg.pages import entity_dictionary_df
    from darkbo_spark.streaming.ingest import stream_pages_to_linked_triples

    inp = str(tmp_path / "pages_in")
    outp = str(tmp_path / "linked_out")
    ckpt = str(tmp_path / "ckpt_link")
    synth_pages(spark, 40, seed=33).write.parquet(inp)
    d = entity_dictionary_df(spark).select("alias", "eid")
    q = stream_pages_to_linked_triples(spark, inp, outp, ckpt, d)
    q.awaitTermination(120)

    got = {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj, r.subj_eid, r.obj_eid)
        for r in spark.read.parquet(outp).collect()
    }
    batch = {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj, r.subj_eid, r.obj_eid)
        for r in link_entities(
            extract_doc_triples_df(_ed(synth_pages(spark, 40, seed=33))), d
        ).collect()
    }
    assert got == batch and len(got) > 0
    # some triples actually linked (non-null eids) — the join did real work
    assert any(t[5] is not None for t in got)

    q2 = stream_pages_to_linked_triples(spark, inp, outp, ckpt, d)
    q2.awaitTermination(120)
    assert spark.read.parquet(outp).count() == len(batch)

    # crash INSIDE the at-least-once window: the sink write committed but
    # the offset didn't. The restart replays that batch; the idempotent
    # per-batch-partition overwrite must leave the output byte-identical —
    # no duplicates.
    _drop_newest_commit(spark, q2, tmp_path / "ckpt_link")
    q3 = stream_pages_to_linked_triples(spark, inp, outp, ckpt, d)
    q3.awaitTermination(120)
    replayed = {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj, r.subj_eid, r.obj_eid)
        for r in spark.read.parquet(outp).collect()
    }
    assert replayed == batch
    assert spark.read.parquet(outp).count() == len(batch)


@pytest.mark.parametrize("stream", ["triples", "kg"])
def test_stream_refuses_output_without_checkpoint(spark, tmp_path, stream):
    """An output and its checkpoint share one lifetime: a populated output
    with a missing checkpoint would restart batch_id at 0 and replay into
    it (stale batch partitions stranded beside the triples; envelope
    mentions counted twice in the KG) — refused up front."""
    import shutil

    from darkbo_spark.kg.pages import entity_dictionary_df
    from darkbo_spark.storage.snapshots import SnapshotTable
    from darkbo_spark.streaming.ingest import stream_pages_to_kg_upsert

    inp = str(tmp_path / "pages_in2")
    outp = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    synth_pages(spark, 10, seed=5).write.parquet(inp)
    if stream == "kg":
        d = entity_dictionary_df(spark).select("alias", "eid")

        def start(ck):
            return stream_pages_to_kg_upsert(spark, inp, outp, ck, d)

        def rows():
            return SnapshotTable(outp, "live_triples").read(spark).count()
    else:
        def start(ck):
            return stream_pages_to_triples(spark, inp, outp, ck)

        def rows():
            return spark.read.parquet(outp).count()

    start(ckpt).awaitTermination(120)
    assert rows() > 0

    shutil.rmtree(ckpt)
    with pytest.raises(ValueError, match="checkpoint"):
        start(str(tmp_path / "ckpt2_new"))
    assert not spark.streams.active


def test_stream_incremental_tf_index_equals_batch_build(spark, tmp_path):
    """Streaming incremental sparse-index maintenance: after streaming all
    document files (including a wave that REPLACES earlier doc_ids), the
    stored tf index + stats must equal a batch build over the final
    corpus; a restart with no new files publishes nothing new."""
    from darkbo_spark.operators.tfidf import build_tf_index
    from darkbo_spark.storage.snapshots import SnapshotTable
    from darkbo_spark.streaming.ingest import (
        read_tf_index,
        stream_docs_to_tf_index,
    )

    inp = str(tmp_path / "docs_in")
    idx = str(tmp_path / "tf_idx")
    ckpt = str(tmp_path / "tf_ckpt")

    def docs_df(rows):
        return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    wave1 = [(i, f"alpha beta tok{i % 4} filler{i}") for i in range(30)]
    docs_df(wave1).coalesce(2).write.mode("append").parquet(inp)
    q = stream_docs_to_tf_index(spark, inp, idx, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    # wave 2: replace every 5th doc + add new ones
    wave2 = [(i, f"REPLACED gamma tok{i % 3}") for i in range(0, 30, 5)]
    wave2 += [(i, f"alpha delta filler{i}") for i in range(30, 40)]
    docs_df(wave2).coalesce(1).write.mode("append").parquet(inp)
    q2 = stream_docs_to_tf_index(spark, inp, idx, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)

    final = {r[0]: r[1] for r in wave1}
    final.update({r[0]: r[1] for r in wave2})
    full_tf, full_stats = build_tf_index(
        docs_df(sorted(final.items()))
    )
    got_tf, got_stats = read_tf_index(spark, idx)
    assert {tuple(r) for r in got_tf.collect()} == {
        tuple(r) for r in full_tf.collect()
    }
    assert got_stats.collect() == full_stats.collect()

    # restart with nothing new → no new version
    seq_before = SnapshotTable(idx, "tf_index").current()["seq"]
    q3 = stream_docs_to_tf_index(spark, inp, idx, ckpt, max_files_per_trigger=1)
    q3.awaitTermination(120)
    assert SnapshotTable(idx, "tf_index").current()["seq"] == seq_before


def test_stream_kg_upsert_equals_batch_rebuild(spark, tmp_path):
    """Streaming KG maintenance: after a wave of new pages and a wave of
    REFETCHES (changed content + a page that loses all its triples), the
    live triples equal a batch E→S→T→L over the final corpus and the
    envelope state holds every mention of both waves; a crash-replayed
    batch whose cycle committed leaves all three tables unchanged."""
    from darkbo_spark.kg.incremental import REFRESH_TABLES, extract_and_link
    from darkbo_spark.kg.oracle_twin import twin_entity_dict
    from darkbo_spark.kg.temporal import fact_envelopes, resolve_from_envelopes
    from darkbo_spark.storage.snapshots import SnapshotTable
    from darkbo_spark.streaming.ingest import stream_pages_to_kg_upsert

    inp = str(tmp_path / "pages_in")
    kg = str(tmp_path / "kg_tbl")
    ckpt = tmp_path / "kg_ckpt"
    dictionary = twin_entity_dict(spark)

    def pages_df(rows):
        df = pd.DataFrame(rows, columns=["url", "text"])
        df["warc_ts"] = pd.Timestamp("2024-01-01")
        df["lang"] = "en"
        df["html"] = None
        df["page_id"] = range(len(df))
        return spark.createDataFrame(
            df[["page_id", "url", "warc_ts", "html", "text"]]
        ).select("page_id", "url", "warc_ts",
                 F.col("html").cast("binary").alias("html"), "text",
                 F.lit("en").alias("lang"))

    def start():
        return stream_pages_to_kg_upsert(
            spark, inp, kg, str(ckpt), dictionary, max_files_per_trigger=1
        )

    wave1 = [
        ("u/0", "Acme Systems was founded in 1990."),
        ("u/1", "Quantum Labs is based in Berlin."),
        ("u/2", "Maria Garcia works at Stellar Dynamics."),
    ]
    pages_df(wave1).coalesce(1).write.mode("append").parquet(inp)
    start().awaitTermination(120)

    wave2 = [
        ("u/0", "Acme Systems acquired Vertex Holdings."),  # changed triples
        ("u/2", "no facts remain on this page"),             # loses ALL triples
        ("u/3", "Wei Chen is the CEO of Nimbus Labs."),      # new page
    ]
    pages_df(wave2).coalesce(1).write.mode("append").parquet(inp)
    q2 = start()
    q2.awaitTermination(120)

    def keys(df):
        return {tuple(r) for r in df.collect()}

    def tables():
        return {n: keys(SnapshotTable(kg, n).read(spark)) for n in REFRESH_TABLES}

    final = dict(wave1)
    final.update(dict(wave2))
    want = extract_and_link(pages_df(sorted(final.items())), dictionary)
    got = tables()
    assert got["live_triples"] == keys(want)
    assert not any(t[0] == "u/2" for t in got["live_triples"])  # retired page
    # envelopes accumulate: the retired wave-1 mentions still count
    mentions = extract_and_link(pages_df(wave1), dictionary).unionByName(
        extract_and_link(pages_df(wave2), dictionary)
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    env = fact_envelopes(mentions)
    assert got["fact_envelopes"] == keys(env)
    assert got["facts"] == keys(resolve_from_envelopes(env))

    # crash between the last cycle's publishes and its offset commit: the
    # replayed batch carries the committed cycle fingerprint, so every
    # stage skips and no mention is counted twice
    versions = {n: SnapshotTable(kg, n).current()["version"] for n in REFRESH_TABLES}
    _drop_newest_commit(spark, q2, ckpt)
    start().awaitTermination(120)
    assert tables() == got
    assert {n: SnapshotTable(kg, n).current()["version"] for n in REFRESH_TABLES} == versions


def test_streaming_fetch_dedup_on_canonical_url_key(spark, tmp_path):
    """Streaming crawl-ingest dedup on the CANONICAL url key: raw url
    variants (mixed-case host + default port + fragment vs plain) of the
    same page arriving within the watermark horizon collapse to one
    fetch, while a genuinely different page survives — the streaming
    face of sources/warc.dedup_fetches' canonical key (first-arrival
    semantics per horizon here; latest-wins across cycles is the batch
    operator)."""
    from darkbo_spark.functions.urlnorm import canonical_url
    from darkbo_spark.streaming.ingest import dedup_stream
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("HTTPS://Host.com:443/a/?b=2&a=1#x", base),
        ("https://host.com/a?a=1&b=2", base + dt.timedelta(minutes=1)),
        ("https://other.com/b", base + dt.timedelta(minutes=2)),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "ts"])
    src = str(tmp_path / "fetch_in")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = (
        spark.readStream.schema("url string, ts timestamp").parquet(src)
        .withColumn("canon_url", canonical_url(F.col("url")))
    )
    q = (
        dedup_stream(stream, keys=["canon_url"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("fetch_dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.canon_url
        for r in spark.sql("select * from fetch_dedup_out").collect()
    }
    assert got == {"https://host.com/a?a=1&b=2", "https://other.com/b"}
    assert spark.sql("select * from fetch_dedup_out").count() == 2


def test_linked_stream_refuses_output_without_checkpoint(spark, tmp_path):
    """The linked stream writes through the same batch_id-keyed sink as the
    triples stream, so it refuses the same way: a fresh checkpoint over an
    output that already holds batch_id partitions would restart batch_id
    at 0 and strand the stale partitions."""
    from darkbo_spark.kg.pages import entity_dictionary_df
    from darkbo_spark.streaming.ingest import stream_pages_to_linked_triples

    inp = str(tmp_path / "pages_in")
    outp = str(tmp_path / "linked_out")
    synth_pages(spark, 10, seed=5).write.parquet(inp)
    spark.range(3).withColumn("batch_id", F.lit(0)).write.partitionBy(
        "batch_id"
    ).parquet(outp)
    d = entity_dictionary_df(spark).select("alias", "eid")
    with pytest.raises(ValueError, match="checkpoint"):
        stream_pages_to_linked_triples(
            spark, inp, outp, str(tmp_path / "ckpt_fresh"), d
        )
    assert not spark.streams.active

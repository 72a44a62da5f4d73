"""Structured Streaming twins of the batch pipeline.

The reference ingests documents via an upload endpoint and triggers an
incremental rebuild (behavior: ai_worker.py:970-1055 → prebuild); the
streaming restatement is `readStream` over the landing path with
`foreachBatch` running exactly the batch stage transforms per micro-batch —
one code path for batch and stream.

* Page streams (an output and its checkpoint share one lifetime):
  `stream_pages_to_triples` (extract + S+T), `stream_pages_to_linked_triples`
  (+ entity link) and `stream_pages_to_kg_upsert` (one crawl cycle,
  kg/incremental.refresh, per micro-batch).
* `stream_docs_to_tf_index` / `read_tf_index` — incremental sparse-index
  maintenance over a SnapshotTable, and its reader.
* `stream_asof_candidates` / `asof_reduce` — the watermarked stream-stream
  interval join of the as-of twin, and the per-event reduction over it.
* `windowed_event_counts` (tumbling windows with a late-data watermark),
  `dedup_stream` (exact dedup within a watermark) and `sessionize_stream`
  (gap-based sessions via applyInPandasWithState, the streaming twin of
  operators/events.sessionize).
"""

from __future__ import annotations

import os
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from darkbo_spark.kg.extract import extract_docs
from darkbo_spark.kg.pages import PAGES_SCHEMA
from darkbo_spark.kg.triples import extract_doc_triples_df


def _refuse_output_without_checkpoint(
    output_path: str, checkpoint_path: str, markers: tuple[str, ...]
) -> None:
    """Every page stream's lifetime rule: an output and its checkpoint
    live and die together. Without the checkpoint batch_id restarts at 0
    and replays into the output, so an output that is populated (an entry
    starting with one of `markers`) is refused up front (ValueError)."""
    entries = os.listdir(output_path) if os.path.isdir(output_path) else []
    if not os.path.exists(checkpoint_path) and any(
        e.startswith(markers) for e in entries
    ):
        raise ValueError(
            f"output {output_path!r} is populated but checkpoint_path "
            f"{checkpoint_path!r} does not exist; clear the output or restore "
            "its checkpoint"
        )


def _batch_id_sink(output_path: str, checkpoint_path: str):
    """The idempotent foreachBatch sink both triple streams write through:
    each micro-batch overwrites its own `batch_id=<id>` directory, so a
    replayed batch (foreachBatch is at-least-once: a crash between the
    sink write and the offset commit replays it) rewrites its partition
    instead of appending duplicates. Returns `write(df, batch_id)`."""
    _refuse_output_without_checkpoint(output_path, checkpoint_path, ("batch_id=",))

    def write(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            f"{output_path.rstrip('/')}/batch_id={batch_id}"
        )

    return write


def _micro_batches(
    spark: SparkSession,
    schema,
    input_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int,
    process_batch,
):
    """The file-source micro-batch runner every parquet-landing stream
    shares: new files under `input_path` (read with `schema`) become
    micro-batches of at most `max_files_per_trigger` files, each handed
    to `process_batch(batch_df, batch_id)`; the checkpoint records the
    committed offsets, and `availableNow` stops the query once the landed
    files are consumed. Micro-batch size is the latency/throughput knob:
    small batches cut landed-to-output latency, big batches amortize
    per-batch fixed costs toward batch-job throughput (measured sweep:
    BENCH/BASELINE.md "Streaming ingest vs batch"). Returns the
    StreamingQuery (caller awaits / stops)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_pages_to_triples(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
):
    """File-source streaming ingest: each new parquet file of pages becomes
    a micro-batch run through the SAME batch transforms, written through
    the idempotent batch_id sink (_batch_id_sink). Returns the
    StreamingQuery (caller awaits / stops)."""
    write = _batch_id_sink(output_path, checkpoint_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write(extract_doc_triples_df(extract_docs(batch_df)), batch_id)

    return _micro_batches(
        spark, PAGES_SCHEMA, input_path, checkpoint_path, 4, process_batch
    )


def windowed_event_counts(events: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Tumbling-window counts with a 10-minute late-data watermark
    (streaming DF in → streaming DF out; also works on a batch DF for
    testing the plan)."""
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    return src.groupBy(
        F.window("ts", window).alias("win"), F.col("event_type")
    ).agg(F.count("*").alias("n"))


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Streaming exact dedup — the streaming twin of A5/exact_dedup:
    `dropDuplicatesWithinWatermark` on `ts` keeps per-key state only for the
    watermark horizon, so state size is bounded by the duplicate-arrival
    window instead of the full stream history (the correct 100 TB/day
    shape; an unbounded dropDuplicates would OOM the state store).

    Streaming keeps the FIRST-ARRIVING row per key (inherent to the
    operator). The batch fallback keeps a deterministic row only when
    `tiebreak` is given (row_number over keys ordered by tiebreak);
    without it, plain dropDuplicates keeps an arbitrary row — only the key
    columns are deterministic."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            keys
        )
    if tiebreak:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in tiebreak])
        return (
            events.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
    return events.dropDuplicates(keys)


def stream_pages_to_linked_triples(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    entity_dict: DataFrame,
):
    """Streaming twin of the FULL KG pipeline's per-page path: each
    micro-batch of landed pages runs extract → S+T → broadcast entity LINK
    (the batch transforms) and writes linked triples. The dictionary is
    batch-side (slowly-changing dimension joined per micro-batch — the
    standard stream-static join);
    canonicalization stays a batch concern because alias clusters are
    corpus-global. Written through the idempotent batch_id sink
    (_batch_id_sink): a crash-replayed batch rewrites its own partition —
    exactly-once EFFECT, no duplicates, no drops — and a populated output
    without its checkpoint is refused."""
    from darkbo_spark.kg.link import link_entities

    write = _batch_id_sink(output_path, checkpoint_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write(
            link_entities(extract_doc_triples_df(extract_docs(batch_df)), entity_dict),
            batch_id,
        )

    return _micro_batches(
        spark, PAGES_SCHEMA, input_path, checkpoint_path, 4, process_batch
    )


def stream_asof_candidates(
    spark: SparkSession,
    events_path: str,
    orders_path: str,
    out_path: str,
    checkpoint_path: str,
    horizon: str = "30 days",
):
    """Watermarked (1 hour) STREAM-STREAM interval join — the streaming
    leg of the as-of twin (batch form: operators/asof.as_of_join,
    driver-oracled as asof_events_orders).

    Structured Streaming cannot express "latest right row ≤ ts" in one
    operator, but the canonical decomposition is:

      1. stream-stream inner join on the key with the time-range predicate
         o_ts ∈ [ts - horizon, ts] — HERE. Watermarks on BOTH sides bound
         the join state: each side's rows are dropped from state once the
         other side's watermark passes ts + horizon, so state is
         O(arrival-rate × (watermark + horizon)), never the full history.
      2. the as-of reduction (argmax o_ts per event, same tie-break as
         as_of_join: latest date, then largest key) over the appended sink
         — `asof_reduce`, a per-event-id aggregate any batch reader runs.

    The parquet sink + checkpoint give exactly-once per micro-batch, so a
    kill-restart mid-input appends no duplicates (asserted in
    test_streaming.py)."""
    ev = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
        .withWatermark("ts", "1 hour")
        .alias("e")
    )
    od = (
        spark.readStream.schema(
            "user_id long, o_orderdate timestamp, o_orderkey long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(orders_path)
        .withWatermark("o_orderdate", "1 hour")
        .alias("o")
    )
    cond = F.expr(
        "e.user_id = o.user_id"
        " AND o.o_orderdate <= e.ts"
        f" AND o.o_orderdate >= e.ts - INTERVAL {horizon}"
    )
    pairs = ev.join(od, cond, "inner").select(
        F.col("e.event_id").alias("event_id"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.ts").alias("ts"),
        F.col("o.o_orderdate").alias("o_orderdate"),
        F.col("o.o_orderkey").alias("o_orderkey"),
    )
    return (
        pairs.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def asof_reduce(pairs: DataFrame) -> DataFrame:
    """(event_id → latest order at or before ts): argmax (o_orderdate,
    o_orderkey) per event — the identical tie-break to as_of_join."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("event_id", "user_id", F.col("o_orderkey").alias("asof_o_orderkey"))
    )


_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _session_fn(gap_seconds: int):
    def fn(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        # [start_us, end_us, n]: one point per new event, plus the open
        # session from state
        points = [
            [us, us, 1]
            for pdf in pdfs
            for us in (int(t.value // 1000) for t in pdf["ts"])
        ]
        if state.exists:
            points.append(list(state.get))
        points.sort()
        gap_us = gap_seconds * 1_000_000
        # interval-merge semantics so LATE (out-of-order, cross-batch)
        # events behave like the batch twin: an event within `gap` BEFORE
        # the open session extends it backwards; one further back becomes
        # its own (immediately closed) session instead of being silently
        # absorbed. Residual divergence vs batch: a session already emitted
        # can't be reopened by even-later arrivals — inherent to streaming
        # without watermark buffering.
        intervals: list[list[int]] = []
        for iv in points:
            if intervals and iv[0] - intervals[-1][1] <= gap_us:
                intervals[-1][1] = max(intervals[-1][1], iv[1])
                intervals[-1][2] += iv[2]
            else:
                intervals.append(iv)
        *closed_iv, open_iv = intervals
        closed = [tuple(iv) for iv in closed_iv]
        state.update((open_iv[0], open_iv[1], open_iv[2]))
        state.setTimeoutDuration(gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return fn


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessions per user via
    applyInPandasWithState (per-user state = open session; a session closes
    when a later event exceeds the gap, or on processing-time timeout).

    Bounded runs (`trigger(availableNow=True)`) must start the query with
    `spark.sql.streaming.noDataMicroBatches.enabled=false`: while any state
    carries a processing-time timeout, Spark keeps scheduling no-data
    micro-batches to fire it, so the query never reaches the end of its
    input. With the conf off it stops after the data batches; open
    sessions stay in state, unemitted."""
    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_minutes * 60),
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


DOCS_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

_TF_SCHEMA = "token string, doc_id bigint, tf bigint, dl bigint"


def read_tf_index(spark: SparkSession, index_dir: str):
    """(tf_index DF, stats DF) from the streamed index: rows from the
    current SnapshotTable version, (n_docs, sum_dl) from its version
    metadata — the two scalars commit ATOMICALLY with the rows they
    describe (meta.json is the version's commit marker)."""
    import pandas as pd

    from darkbo_spark.storage.snapshots import SnapshotTable

    tbl = SnapshotTable(index_dir, "tf_index")
    cur = tbl.current()
    if cur is None:
        tf, meta = spark.createDataFrame([], _TF_SCHEMA), {"n_docs": 0, "sum_dl": 0}
    else:
        tf = tbl.read(spark)
        meta = next(m for m in tbl.versions() if m["version"] == cur["version"])
    stats = spark.createDataFrame(
        pd.DataFrame({"n_docs": [meta["n_docs"]], "sum_dl": [meta["sum_dl"]]})
    ).select(F.col("n_docs").cast("long"), F.col("sum_dl").cast("long"))
    return tf, stats


def stream_docs_to_tf_index(
    spark: SparkSession,
    input_path: str,
    index_dir: str,
    checkpoint_path: str,
    max_files_per_trigger: int = 4,
):
    """Streaming INCREMENTAL sparse-index maintenance: each micro-batch of
    landed documents upserts into the stored raw-statistics index
    (operators/tfidf.merge_tf_delta over a SnapshotTable), so the sparse
    index stays fresh as documents stream in — the production shape of
    'build once, serve many' when the corpus never stops growing.

    Exactly-once EFFECT under at-least-once foreachBatch:
    * the per-batch fingerprint is the batch_id, so replaying a batch
      whose publish committed hits the fingerprint skip;
    * tf rows and the (n_docs, sum_dl) stats commit ATOMICALLY — stats
      travel in the version's meta.json (the commit marker), never as a
      second table that could tear from its rows on a crash between
      publishes;
    * within the window where a replayed merge actually re-runs (crash
      before the meta commit), the current index cannot yet contain the
      batch, so the incremental stat deltas are exact.

    Batches are upserts: a doc_id re-landing REPLACES its old rows (the
    merge_tf_delta contract). Callers must not put two versions of one
    doc_id in a single file batch (last-writer is undefined there)."""
    from darkbo_spark.operators.tfidf import merge_tf_delta
    from darkbo_spark.storage.snapshots import SnapshotTable

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tbl = SnapshotTable(index_dir, "tf_index")
        fp = f"batch{batch_id}"
        if tbl.current_fingerprint() == fp:
            return  # committed replay
        tf, stats = read_tf_index(spark, index_dir)
        merged, new_stats = merge_tf_delta(tf, stats, batch_df)
        # localCheckpoint: the merged plan references the CURRENT version's
        # files; materialize before publish so expire() of old versions can
        # never race the write that reads them
        merged = merged.localCheckpoint(eager=True)
        ns = new_stats.collect()[0]
        tbl.publish(
            merged,
            fp,
            extra_meta={"n_docs": int(ns.n_docs), "sum_dl": int(ns.sum_dl)},
        )
        tbl.expire(retain_last=3)

    return _micro_batches(
        spark, DOCS_SCHEMA, input_path, checkpoint_path,
        max_files_per_trigger, process_batch,
    )


def stream_pages_to_kg_upsert(
    spark: SparkSession,
    input_path: str,
    kg_dir: str,
    checkpoint_path: str,
    entity_dict: DataFrame,
    max_files_per_trigger: int = 4,
):
    """Streaming KG MAINTENANCE: each micro-batch of (re)fetched pages is
    one crawl cycle, kg/incremental.refresh(..., f"batch{batch_id}"), over
    the live tables in `kg_dir`. A replayed batch whose cycle committed
    skips every stage; one that crashed between publishes rebuilds only
    what did not commit. Replaying committed batches under a NEW
    checkpoint would count their envelope mentions twice, so a populated
    `kg_dir` without its checkpoint is refused (ValueError). Two versions
    of one url inside a SINGLE file batch have undefined last-writer
    order — refetches land in separate batches in a crawl frontier."""
    from darkbo_spark.kg.incremental import REFRESH_TABLES, refresh

    _refuse_output_without_checkpoint(kg_dir, checkpoint_path, REFRESH_TABLES)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        refresh(spark, kg_dir, batch_df, entity_dict, f"batch{batch_id}")

    return _micro_batches(
        spark, PAGES_SCHEMA, input_path, checkpoint_path,
        max_files_per_trigger, process_batch,
    )

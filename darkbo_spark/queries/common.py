"""Shared registry + helpers for the driver-contract query corpus.

`_q(name, oracle)` registers a (Spark query, DuckDB oracle SQL) pair into
QUERIES / ORACLE_SQL; family modules (star, retrieval, textops,
dedup_queries, events_queries, media_embed, kg_queries) register at import
time and darkbo_spark/entry_queries.py fixes the final ORDER — the driver
samples the first 50 registered entries, so ordering is an interface, not
an accident of import sequence.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# CONTENT tables below this size are spread across the cores with one
# cheap round-robin exchange: a small parquet file is typically ONE row
# group, so its scan — and every narrow op chained on it (tokenize,
# shingle, regex, vector math) — otherwise runs as a single task
# regardless of cluster size (a row group is unsplittable). Large tables
# split naturally at row-group boundaries and are never shuffled by this.
# Only the per-row-compute-heavy tables are spread: for the relational
# tables (dims/facts) the first real operator is a join or aggregate
# whose exchange provides the parallelism anyway, and an extra
# round-robin ahead of a BroadcastExchange is pure overhead (measured:
# q3/q5 +0.5 s each with an unconditional spread).
_SMALL_TABLE_BYTES = 256 << 20
_SPREAD_TABLES = frozenset({"documents", "embeddings"})


def _table_bytes(path: str) -> int:
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )
    return _SMALL_TABLE_BYTES  # unknown layout: leave the scan alone


# Per-session memo of UNEXECUTED table plans. Every `spark.read.parquet`
# costs ~100-250 ms of py4j round-trips + footer/schema analysis on the
# driver, and a bench/oracle session references the same dozen tables a
# few hundred times across the corpus — pure driver-side fixed cost the
# executors never see. The memo stores the lazy DataFrame HANDLE (a plan,
# no data) and dies with the process. It lives ON the session object: its
# values are DataFrames that reference their session, so a memo keyed on
# the session (even weakly) would keep every session alive; an attribute
# is collected with the session, and a stopped-and-recreated session
# starts empty. A few entries (the KG twin chains, the near-dup clusters
# frame) are persisted; clear_session_memo releases them, and so does a
# rewrite of the table whose fingerprint their key carries (_t). Every
# entry goes through session_plan.
_MEMO_ATTR = "_darkbo_plan_memo"


def session_plan_memo(spark: SparkSession) -> dict:
    """The session's plan memo (created on first use); read it through
    session_plan."""
    memo = getattr(spark, _MEMO_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _MEMO_ATTR, memo)
    return memo


def session_plan(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The session memo's entry for `key`: `build()` on first use, the same
    handle after. A key names everything its plan reads — an entry over
    parquet carries that table's _corpus_fp, so a rewritten table gets a
    fresh entry instead of the old plan (or its persisted rows)."""
    memo = session_plan_memo(spark)
    if key not in memo:
        memo[key] = build()
    return memo[key]


def _drop_entries(memo: dict, keys: list) -> None:
    """Remove `keys` from the memo, unpersisting the persisted entries
    (the memoized KG twin chains) so their cached blocks are given back."""
    for k in keys:
        df = memo.pop(k)
        if df.is_cached:
            df.unpersist()


def clear_session_memo(spark: SparkSession) -> None:
    """Empty the session's plan memo, releasing its persisted entries."""
    memo = session_plan_memo(spark)
    _drop_entries(memo, list(memo))


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = True) -> DataFrame:
    """The lazy scan of `{sf_dir}/{name}.parquet`, memoized per session.
    The key carries the table's corpus fingerprint (file names, sizes and
    mtimes), so a table rewritten mid-session gets a fresh listing instead
    of a plan over files that are gone, and every entry keyed by an older
    fingerprint of the table is dropped (and unpersisted)."""
    fp = _corpus_fp(sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"

    def build() -> DataFrame:
        memo = session_plan_memo(spark)
        stale = {k[4] for k in memo if k[:3] == ("_t", sf_dir, name) and k[4] != fp}
        if stale:
            # rewritten since this session last read it: the entries over
            # the old files are superseded for good
            _drop_entries(memo, [k for k in memo if stale.intersection(k)])
            # and a writer other than this session (whose own writes
            # refresh the cache) leaves every other cached plan over the
            # path serving the old rows, to the new plan too: a file index
            # compares by root path
            spark.catalog.refreshByPath(path)
        df = spark.read.parquet(path)
        try:
            small = (
                spread
                and name in _SPREAD_TABLES
                and _table_bytes(path) < _SMALL_TABLE_BYTES
            )
        except OSError:
            small = False
        if small:
            # deterministic round-robin (sort-before-repartition is on by
            # default, so retries reproduce the same layout); every query in
            # the corpus is partition-layout-invariant (driver-hash gated)
            df = df.repartition(spark.sparkContext.defaultParallelism)
        return df

    return session_plan(spark, ("_t", sf_dir, name, bool(spread), fp), build)


def _corpus_fp(sf_dir: str, table: str) -> str:
    """Corpus fingerprint for stored-index skip: sf_dir identity + each
    parquet file's (name, size, mtime) — a corpus replaced with preserved
    mtimes (cp -p, archive extract) still changes names or sizes, so a
    stale stored index can't be silently served across processes."""
    import hashlib
    import os

    def _stat(p: str) -> str:
        st = os.stat(p)
        return f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime}"

    path = f"{sf_dir}/{table}.parquet"
    parts = ""
    if os.path.isdir(path):
        parts = ",".join(
            _stat(os.path.join(path, f)) for f in sorted(os.listdir(path))
        )
    elif os.path.exists(path):
        parts = _stat(path)
    return hashlib.md5(f"{sf_dir}|{table}|{parts}".encode()).hexdigest()


def _stored_base() -> str:
    """Per-user stored-index base (no cross-user /tmp collisions)."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"darkbo_spark_indexes_u{os.getuid()}"
    )


def drop_stored_table(name: str) -> None:
    """Remove a published stored index and its lock — the bench harness
    uses this to time a provably COLD build separately from warm serves."""
    import os
    import shutil

    base = _stored_base()
    shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    try:
        os.remove(os.path.join(base, f".{name}.lock"))
    except FileNotFoundError:
        pass


def _stored_table(
    sf_dir: str, name: str, source_table: str, build, partition_by=None, tag: str = ""
):
    """Publish-once plumbing for the stored-index queries: per-user tmp
    base (no cross-user collisions) and the publish held under the
    table's BuildLock, fingerprint checked under the lock — concurrent
    driver / bench / pytest processes must never race two writers into
    the same v{seq} dir (the exact hazard SnapshotTable's own docs call
    out). A loser WAITS for the winner and then finds the fingerprint
    fresh."""
    from darkbo_spark.storage.snapshots import SnapshotTable
    from darkbo_spark.storage.stages import WAIT_S, locked

    base = _stored_base()
    table = SnapshotTable(base, name)
    # `tag` versions the STORED LAYOUT (schema/partitioning changes): a
    # layout change must republish even over an unchanged corpus, or a
    # stale pre-change version would be served to new readers
    fp = _corpus_fp(sf_dir, source_table) + (f"|{tag}" if tag else "")
    with locked(base, name, WAIT_S):
        if table.current_fingerprint() != fp:
            table.publish(build(), fp, partition_by=partition_by)
            table.expire(retain_last=3)
    return table

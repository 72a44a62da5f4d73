"""The one BuildLock wait loop and the one fingerprint-gated stage runner
behind every versioned publish — the reference's IndexBuilder lifecycle
(behavior: api/index_versioning.py:68-212: checksum check → lock →
publish → pointer swap → unlock → keep-last-N retention).

* `locked(base_dir, name, wait_s)` holds `BuildLock(base_dir, name)` for a
  with-block. It polls every POLL_S until `wait_s` has passed (`wait_s=0`
  is a single try), then raises RuntimeError naming the holder. A crashed
  same-host holder is taken over inside the wait (BuildLock.acquire).
* `stage_run(spark, out_dir, lock_name, code_version, wait_s)` holds one
  lock for a whole pipeline run. `run.start(name, inputs, params, build)`
  runs a stage in its own thread once its inputs have published; its
  parent fingerprint is theirs joined in order. When the stage is stale
  it heartbeats, publishes `build(*frames)` and records wall and row
  count (parquet footers, no Spark job). The run waits for every started
  stage; a run that completes publishes its per-file rows to `_metrics`
  and expires every table it touched, one that raises only releases the
  lock.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
import uuid
from concurrent.futures import Future
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from darkbo_spark.storage import make_table
from darkbo_spark.storage.snapshots import BuildLock, partition_metrics

POLL_S = 0.25
# how long a caller that queues behind a live holder waits before failing
WAIT_S = 120.0


def fingerprint(*parts: str) -> str:
    """sha256 over ':'-joined parts; a stage's fingerprint is
    fingerprint(parent_fp, stage name, params, code version)."""
    return hashlib.sha256(":".join(parts).encode()).hexdigest()


@contextmanager
def locked(
    base_dir: str, name: str, wait_s: float = 0.0, what: str | None = None
) -> Iterator[Callable[[], None]]:
    """Hold `BuildLock(base_dir, name)` for the with-block; yields the
    heartbeat that keeps a long holder from looking stale. `what` names
    the lock in the busy error (default: `name`)."""
    os.makedirs(base_dir, exist_ok=True)  # the lock file needs the dir
    lock = BuildLock(base_dir, name)
    owner = f"{name}-{os.getpid()}-{uuid.uuid4().hex[:12]}"
    deadline = time.monotonic() + wait_s
    while not lock.acquire(owner):
        if time.monotonic() >= deadline:
            raise RuntimeError(
                f"{what or name} lock busy for {base_dir}: held by {lock.owner()}"
            )
        time.sleep(POLL_S)
    try:
        yield lambda: lock.heartbeat(owner)
    finally:
        lock.release(owner)


@dataclass
class StageResult:
    tables: dict = field(default_factory=dict)  # name -> VersionedTable
    stages_run: list = field(default_factory=list)
    stages_skipped: list = field(default_factory=list)
    rows: dict = field(default_factory=dict)  # name -> rows, from footers
    # name -> wall seconds of build + publish, in the stage's own thread;
    # stages run concurrently, so every wall includes task-slot wait
    timings: dict = field(default_factory=dict)


class StageRun:
    """The stages of one locked run, each started in its own thread: the
    bookkeeping they share is guarded by one mutex."""

    def __init__(self, spark: SparkSession, out_dir: str, code_version: str,
                 heartbeat: Callable[[], None]):
        self.spark = spark
        self.out_dir = out_dir
        self.code_version = code_version
        self.heartbeat = heartbeat
        self.result = StageResult()
        self._t0 = time.time()
        self._metrics_rows: list[dict] = []
        self._mu = threading.Lock()
        self._started: list[Future] = []

    def start(self, name: str, inputs: Sequence, params: str,
              build: Callable[..., DataFrame]) -> Future:
        """Future of stage `name`'s (table, fingerprint). Each input is an
        earlier `start`'s Future or an external (DataFrame, fingerprint)
        pair; a published input is read only if the stage builds, and a
        failed one fails the stage, unbuilt, with the same exception."""
        done: Future = Future()

        def body():
            try:
                got = [i.result() if isinstance(i, Future) else i for i in inputs]

                def built():
                    return build(*(
                        src.read(self.spark) if isinstance(i, Future) else src
                        for i, (src, _fp) in zip(inputs, got)
                    ))

                parent = "".join(fp for _src, fp in got)
                done.set_result(self._stage(name, parent, params, built))
            except BaseException as e:  # settled through the future
                done.set_exception(e)

        self._started.append(done)
        threading.Thread(target=body, name=f"stage-{name}").start()
        return done

    def _stage(self, name: str, parent_fp: str, params: str,
               build: Callable[[], DataFrame]):
        """Publish `build()` as table `name` unless its current version
        already carries this stage's fingerprint. Returns (table, fp)."""
        res = self.result
        fp = fingerprint(parent_fp, name, params, self.code_version)
        tbl = make_table(self.out_dir, name)
        with self._mu:
            res.tables[name] = tbl
        if tbl.current_fingerprint() == fp:
            with self._mu:
                res.stages_skipped.append(name)
            return tbl, fp
        self.heartbeat()  # long builds must not look stale to contenders
        t0 = time.time()
        tbl.publish(build(), fp)
        wall = round(time.time() - t0, 3)
        files = partition_metrics(tbl.data_path())
        with self._mu:
            res.stages_run.append(name)
            res.timings[name] = wall
            res.rows[name] = sum(f["rows"] for f in files)
            self._metrics_rows.extend(
                {"stage": name, "run_fingerprint": fp, **f, "wall_s": wall}
                for f in files
            )
        return tbl, fp

    def finish(self) -> None:
        """Publish this run's `_metrics` rows (if any stage ran) and expire
        every table the run touched to keep-last-3."""
        touched = list(self.result.tables.values())
        if self._metrics_rows:
            import pandas as pd

            metrics = make_table(self.out_dir, "_metrics")
            # pandas → Arrow path (a plain list takes the slow RDD-pickle path)
            mdf = self.spark.createDataFrame(pd.DataFrame(self._metrics_rows))
            metrics.publish(mdf.coalesce(1), fingerprint("metrics", str(self._t0)))
            touched.append(metrics)
        for t in touched:
            t.expire(retain_last=3)


@contextmanager
def stage_run(spark: SparkSession, out_dir: str, lock_name: str,
              code_version: str, wait_s: float = 0.0) -> Iterator[StageRun]:
    """One pipeline run under `out_dir`'s `lock_name` BuildLock; the run's
    result is `run.result` after the with-block. Every started stage
    settles before the lock is released, also when the with-body raises;
    then the first stage failure in start order is raised."""
    with locked(out_dir, lock_name, wait_s) as heartbeat:
        run = StageRun(spark, out_dir, code_version, heartbeat)
        try:
            yield run
        finally:
            for f in run._started:
                f.exception()  # wait; raising is left to the loop below
        for f in run._started:
            f.result()
        run.finish()

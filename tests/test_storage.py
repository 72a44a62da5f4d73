"""Snapshot storage: atomic publish, fingerprint skip, retention, lock."""

import os

import pandas as pd

from darkbo_spark.storage.snapshots import BuildLock, SnapshotTable


def _df(spark, n):
    return spark.createDataFrame(pd.DataFrame({"x": range(n)}))


def test_publish_skip_and_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t1")
    v1 = t.publish(_df(spark, 5), "fp_a")
    assert t.read(spark).count() == 5
    # same fingerprint → no new version
    assert t.publish(_df(spark, 99), "fp_a") == v1
    assert t.read(spark).count() == 5
    # new fingerprint → new version, pointer moves
    v2 = t.publish(_df(spark, 7), "fp_b")
    assert v2 != v1
    assert t.read(spark).count() == 7
    assert t.current_fingerprint() == "fp_b"


def test_retention_keeps_last_three(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t2")
    for i in range(5):
        t.publish(_df(spark, i + 1), f"fp_{i}")
    doomed = t.expire(retain_last=3)
    versions = [d for d in os.listdir(t.dir) if d.startswith("v")]
    assert len(versions) == 3
    assert len(doomed) == 2
    assert t.read(spark).count() == 5  # current untouched


def test_uncommitted_version_invisible_and_cleaned(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t3")
    t.publish(_df(spark, 3), "fp_x")
    # simulate a crash mid-publish: version dir without meta.json
    os.makedirs(os.path.join(t.dir, "v99999_deadbeef", "data"), exist_ok=True)
    assert t.read(spark).count() == 3  # pointer still at committed version
    # a FRESH uncommitted dir may be a concurrent publisher's in-flight
    # write — default expire must NOT touch it
    t.expire(retain_last=3)
    assert os.path.exists(os.path.join(t.dir, "v99999_deadbeef"))
    # once stale (negative threshold here), it is garbage and gets collected
    t.expire(retain_last=3, uncommitted_stale_s=-1.0)
    assert not os.path.exists(os.path.join(t.dir, "v99999_deadbeef"))


def test_build_lock(tmp_path):
    lock = BuildLock(str(tmp_path), "tbl")
    assert lock.acquire("run_a")
    assert not lock.acquire("run_b")  # held
    assert lock.owner() == "run_a"
    lock.release("run_b")  # non-owner release is a no-op
    assert lock.owner() == "run_a"
    lock.release("run_a")
    assert lock.acquire("run_b")
    lock.release("run_b")


def test_stale_lock_takeover(tmp_path):
    lock = BuildLock(str(tmp_path), "tbl2", stale_after_s=0.0)
    assert lock.acquire("dead_run")
    assert lock.acquire("new_run")  # stale → takeover
    assert lock.owner() == "new_run"


def test_time_travel_read_version(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "tt")
    t.publish(_df(spark, 3), "fp_a")
    t.publish(_df(spark, 5), "fp_b")
    t.publish(_df(spark, 7), "fp_c")
    metas = t.versions()
    assert [m["seq"] for m in metas] == [1, 2, 3]
    assert t.read_version(spark, 1).count() == 3
    assert t.read_version(spark, 2).count() == 5
    assert t.read(spark).count() == 7  # current = latest
    import pytest

    with pytest.raises(FileNotFoundError):
        t.read_version(spark, 9)


def test_dead_holder_takeover(tmp_path):
    """A publisher killed mid-build (lock file present, mtime FRESH, pid
    dead) must not strand waiters until the mtime timeout: same-host
    pid-liveness takes the lock over immediately."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from darkbo_spark.storage.snapshots import BuildLock\n"
        "lock = BuildLock(%r, 'crash')\n"
        "assert lock.acquire('doomed-publisher')\n"
        "import os; os._exit(0)  # dies without release\n"
    ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))), str(tmp_path))
    subprocess.run([sys.executable, "-c", code], check=True)
    lock = BuildLock(str(tmp_path), "crash")  # default 3600 s mtime staleness
    assert os.path.exists(lock.path)  # crash left the lock behind
    assert lock.acquire("waiter")  # recovered via pid-liveness, not mtime
    assert lock.owner() == "waiter"
    lock.release("waiter")


def test_live_holder_not_stolen(tmp_path):
    """pid-liveness must not steal from a HEALTHY same-process holder."""
    lock = BuildLock(str(tmp_path), "alive")
    assert lock.acquire("holder")
    assert not lock.acquire("thief")  # holder pid (this process) is alive
    assert lock.owner() == "holder"
    lock.release("holder")


def test_lock_wait_zero_refuses_at_once(tmp_path):
    import time as _time

    import pytest

    from darkbo_spark.storage.stages import locked

    lock = BuildLock(str(tmp_path), "w0")
    assert lock.acquire("holder")
    t0 = _time.monotonic()
    with pytest.raises(RuntimeError, match="w0 lock busy.*holder"):
        with locked(str(tmp_path), "w0", wait_s=0):
            pass
    assert _time.monotonic() - t0 < 0.2  # one try, no poll
    assert lock.owner() == "holder"
    lock.release("holder")


def test_lock_wait_acquires_after_mid_wait_release(tmp_path):
    import threading
    import time as _time

    from darkbo_spark.storage.stages import locked

    lock = BuildLock(str(tmp_path), "w1")
    assert lock.acquire("holder")
    releaser = threading.Timer(0.6, lock.release, args=("holder",))
    releaser.start()
    t0 = _time.monotonic()
    with locked(str(tmp_path), "w1", wait_s=10):
        waited = _time.monotonic() - t0
        assert lock.owner() not in (None, "holder")
    releaser.join()
    assert 0.5 < waited < 5.0
    assert lock.owner() is None  # released on exit


def test_lock_wait_timeout_names_holder(tmp_path):
    import time as _time

    import pytest

    from darkbo_spark.storage.stages import locked

    lock = BuildLock(str(tmp_path), "w2")
    assert lock.acquire("slow-holder")
    t0 = _time.monotonic()
    with pytest.raises(RuntimeError, match="held by slow-holder"):
        with locked(str(tmp_path), "w2", wait_s=0.6):
            pass
    assert _time.monotonic() - t0 >= 0.6
    lock.release("slow-holder")


def test_lock_wait_takes_over_dead_holder(tmp_path):
    """A same-host holder whose pid is gone is taken over inside the
    wait, long before its fresh mtime would go stale."""
    import json as _json
    import socket
    import subprocess
    import sys
    import time as _time

    from darkbo_spark.storage.stages import locked

    dead_pid = int(subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout)
    lock = BuildLock(str(tmp_path), "w3")
    with open(lock.path, "w") as f:
        _json.dump({"owner": "crashed", "ts": _time.time(), "pid": dead_pid,
                    "host": socket.gethostname()}, f)
    with locked(str(tmp_path), "w3", wait_s=5):
        assert lock.owner() not in (None, "crashed")
    assert not os.path.exists(lock.path)


def test_stage_run_records_every_concurrent_stage(spark, tmp_path):
    """Twelve independent stages started at once each publish from their
    own thread: no stage's bookkeeping or metrics rows may be lost."""
    import sys
    from collections import Counter

    from darkbo_spark.storage.stages import stage_run

    want = {f"s{i}": i + 1 for i in range(12)}  # more threads than cores
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with stage_run(spark, str(tmp_path), "stress", "t1") as run:
            root = (_df(spark, 1), "root")
            for name, n in want.items():
                run.start(name, [root], "p", lambda _root, n=n: _df(spark, n))
    finally:
        sys.setswitchinterval(old)
    res = run.result
    assert sorted(res.stages_run) == sorted(want) and not res.stages_skipped
    assert res.rows == want and set(res.timings) == set(want)
    metrics = Counter()
    for r in SnapshotTable(str(tmp_path), "_metrics").read(spark).collect():
        metrics[r.stage] += r.rows
    assert dict(metrics) == want


def test_start_parent_is_inputs_joined_in_order(spark, tmp_path):
    """A diamond a → (b, c) → d: d's parent is b's then c's fingerprint,
    and every stage builds from its inputs' published frames."""
    from darkbo_spark.storage.stages import fingerprint, stage_run

    with stage_run(spark, str(tmp_path), "diamond", "t1") as run:
        a = run.start("a", [(_df(spark, 4), "ext")], "p", lambda df: df)
        b = run.start("b", [a], "pb", lambda df: df.filter("x < 3"))
        c = run.start("c", [a], "pc", lambda df: df.filter("x >= 2"))
        d = run.start("d", [c, b], "pd", lambda cf, bf: cf.unionByName(bf))
    fa = fingerprint("ext", "a", "p", "t1")
    fb = fingerprint(fa, "b", "pb", "t1")
    fc = fingerprint(fa, "c", "pc", "t1")
    tbl, fd = d.result()
    assert fd == fingerprint(fc + fb, "d", "pd", "t1")
    assert tbl.current_fingerprint() == fd
    assert sorted(r.x for r in tbl.read(spark).collect()) == [0, 1, 2, 2, 3]
    assert run.result.rows == {"a": 4, "b": 3, "c": 2, "d": 5}


def test_failed_input_fails_dependents_unbuilt(spark, tmp_path):
    """One input fails: its dependent re-raises that exception without
    building or publishing, an independent sibling still publishes, the
    run raises the first failure in start order as the same object, and
    the lock is released."""
    import pytest

    from darkbo_spark.storage.stages import stage_run

    out = str(tmp_path)
    first, later = RuntimeError("first"), ValueError("later")
    built = []

    def _raise(exc):
        def build(*_frames):
            raise exc
        return build

    def _dependent(df):
        built.append("dep")
        return df

    with pytest.raises(RuntimeError) as ei:
        with stage_run(spark, out, "faults", "t1") as run:
            root = (_df(spark, 2), "root")
            bad = run.start("bad", [root], "p", _raise(first))
            dep = run.start("dep", [bad], "p", _dependent)
            run.start("sibling", [root], "p", lambda df: df)
            run.start("bad2", [root], "p", _raise(later))
    assert ei.value is first
    assert dep.exception() is first and not built
    for name in ("bad", "dep", "bad2"):
        assert not os.path.exists(os.path.join(out, name, "current.json")), name
    assert os.path.exists(os.path.join(out, "sibling", "current.json"))
    assert run.result.stages_run == ["sibling"]
    assert not os.path.exists(os.path.join(out, ".faults.lock"))


def test_run_settles_started_stages_when_the_body_raises(spark, tmp_path):
    """A with-body that raises after starting a stage still waits for it
    before the lock is released, and its own exception is the one
    raised."""
    import threading

    import pytest

    from darkbo_spark.storage.stages import stage_run

    out = str(tmp_path)
    release = threading.Event()

    def slow(df):
        release.wait(30)
        return df

    with pytest.raises(KeyError):
        with stage_run(spark, out, "body", "t1") as run:
            started = run.start("slow", [(_df(spark, 1), "root")], "p", slow)
            threading.Timer(0.5, release.set).start()
            raise KeyError("body")
    assert started.done() and run.result.stages_run == ["slow"]
    assert not os.path.exists(os.path.join(out, ".body.lock"))


def test_stored_table_recovers_from_crashed_publisher(spark, tmp_path, monkeypatch):
    """_stored_table's wait loop recovers promptly when the lock holder is
    a dead process — no 120 s timeout path for a crashed publisher."""
    import json as _json
    import socket
    import subprocess
    import sys
    import time as _time

    from darkbo_spark.queries.common import _stored_table

    # corpus parquet the fingerprint hashes
    sf_dir = str(tmp_path / "sf")
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]})
    )
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    # point the per-user index base at the test tmpdir
    import tempfile as _tf

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path / "idx"))
    base = os.path.join(str(tmp_path / "idx"), f"darkbo_spark_indexes_u{os.getuid()}")
    os.makedirs(base, exist_ok=True)
    # a real (now-dead) pid holds the lock with a fresh mtime
    child = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    )
    dead_pid = int(child.stdout.strip())
    with open(os.path.join(base, ".crashtbl.lock"), "w") as f:
        _json.dump({"owner": "crashed", "ts": _time.time(), "pid": dead_pid,
                    "host": socket.gethostname()}, f)
    t0 = _time.time()
    table = _stored_table(sf_dir, "crashtbl", "documents", lambda: docs)
    wall = _time.time() - t0
    assert table.read(spark).count() == 2  # waiter took over and published
    assert wall < 30.0, f"crashed-publisher recovery took {wall:.1f}s"


def test_compact_unpartitioned(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "cmp1")
    df = spark.createDataFrame(pd.DataFrame({"x": range(100)})).repartition(8)
    t.publish(df, "fp_c")
    assert len(t.data_files()) > 1
    v2 = t.compact(spark, target_files=1)
    assert len(t.data_files()) == 1          # physical layout fixed
    assert t.current_fingerprint() == "fp_c"  # content identity unchanged
    assert sorted(r.x for r in t.read(spark).collect()) == list(range(100))
    metas = t.versions()
    assert [m["fingerprint"] for m in metas] == ["fp_c", "fp_c"]
    assert metas[-1]["compacted_from"] == metas[0]["version"]
    assert t.read_version(spark, 1).count() == 100  # old version time-travels
    # a fingerprint-matching publish after compaction still skips
    assert t.publish(df, "fp_c") == v2


def test_compact_partitioned_one_file_per_dir(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "cmp2")
    df = spark.createDataFrame(
        pd.DataFrame({"k": [i % 3 for i in range(90)], "x": range(90)})
    ).repartition(8)
    t.publish(df, "fp_p", partition_by=["k"])
    assert len(t.data_files()) > 3  # slivers: many files across 3 dirs
    t.compact(spark)
    files = t.data_files()
    assert len(files) == 3  # exactly one per partition dir
    assert {f.split("k=")[1][0] for f in files} == {"0", "1", "2"}
    assert t.read(spark).count() == 90


def test_maintain_compacts_expires_and_is_idempotent(spark, tmp_path):
    from darkbo_spark.storage.snapshots import maintain

    t = SnapshotTable(str(tmp_path), "mnt1")
    for i in range(4):  # 4 versions, current one fragmented into 8 files
        t.publish(_df(spark, 50 + i).repartition(8), f"fp_{i}")
    assert len(t.data_files()) == 8

    row = maintain(spark, t, retain_last=2)
    assert row["table"] == "mnt1"
    assert row["compacted"] is True
    assert row["files_before"] == 8
    assert row["files_after"] == 1
    assert row["bytes_after"] <= row["bytes_before"]
    # retention ran in the same pass: old fragmented versions reaped
    assert row["versions_expired"] > 0
    assert len(t.versions()) <= 2
    assert t.read(spark).count() == 53  # current content unchanged

    # second pass right after: layout already tight -> expire-only no-op
    row2 = maintain(spark, t, retain_last=2)
    assert row2["compacted"] is False
    assert row2["files_before"] == row2["files_after"] == 1
    assert row2["versions_expired"] == 0


def test_maintain_partitioned_threshold_is_one_file_per_dir(spark, tmp_path):
    from darkbo_spark.storage.snapshots import maintain

    t = SnapshotTable(str(tmp_path), "mnt2")
    df = spark.createDataFrame(
        pd.DataFrame({"k": [i % 3 for i in range(90)], "x": range(90)})
    ).repartition(8)
    t.publish(df, "fp_p", partition_by=["k"])
    assert len(t.data_files()) > 3

    row = maintain(spark, t)
    assert row["compacted"] is True
    assert row["files_after"] == 3  # one per partition dir
    # already at the partitioned target -> second pass skips compaction
    assert maintain(spark, t)["compacted"] is False
    assert t.read(spark).count() == 90


def test_maintain_refuses_to_race_a_live_publisher(spark, tmp_path):
    import pytest

    from darkbo_spark.storage.snapshots import maintain

    t = SnapshotTable(str(tmp_path), "mnt3")
    t.publish(_df(spark, 10).repartition(4), "fp_a")
    lock = BuildLock(str(tmp_path), "mnt3")
    assert lock.acquire("publisher-1")
    try:
        with pytest.raises(RuntimeError, match="maintenance lock busy"):
            maintain(spark, t, lock_wait_s=0.6)
    finally:
        lock.release("publisher-1")
    # publisher done -> maintenance proceeds
    assert maintain(spark, t)["compacted"] is True


def test_maintain_pipeline_sweeps_all_tables_and_publishes_metrics(spark, tmp_path):
    from darkbo_spark.kg.pipeline import maintain_pipeline
    from darkbo_spark.storage.snapshots import maintain  # noqa: F401

    base = str(tmp_path)
    for name in ("kg_triples", "kg_entities"):
        t = SnapshotTable(base, name)
        t.publish(_df(spark, 40).repartition(8), f"fp_{name}")
    rows = maintain_pipeline(spark, base, retain_last=3)
    assert {r["table"] for r in rows} == {"kg_entities", "kg_triples"}
    assert all(r["compacted"] and r["files_after"] == 1 for r in rows)

    # metrics rows were published alongside the run, and the _maintenance
    # table itself is excluded from the sweep (no self-maintenance loop)
    m = SnapshotTable(base, "_maintenance")
    got = {r.table for r in m.read(spark).collect()}
    assert got == {"kg_entities", "kg_triples"}
    rows2 = maintain_pipeline(spark, base, retain_last=3)
    assert {r["table"] for r in rows2} == {"kg_entities", "kg_triples"}
    assert not any(r["compacted"] for r in rows2)


def test_maintain_pipeline_excluded_by_pipeline_lock(spark, tmp_path):
    """ADVICE r6: a maintenance sweep must not race a concurrent pipeline
    run — maintain_pipeline takes the SAME 'pipeline'-named BuildLock the
    stage publishes hold, so while a run is live the sweep refuses."""
    from darkbo_spark.kg.pipeline import maintain_pipeline
    from darkbo_spark.storage.snapshots import BuildLock

    base = str(tmp_path)
    t = SnapshotTable(base, "kg_triples")
    t.publish(_df(spark, 20).repartition(4), "fp0")
    plock = BuildLock(base, "pipeline")
    assert plock.acquire("live-run")
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="pipeline lock busy"):
            maintain_pipeline(spark, base, lock_wait_s=0.6)
    finally:
        plock.release("live-run")
    # lock released → the sweep proceeds and compacts
    rows = maintain_pipeline(spark, base, retain_last=3)
    assert [r["table"] for r in rows] == ["kg_triples"]
    assert rows[0]["compacted"] is True


def _jobs_in(spark, fn):
    """(fn's result, number of Spark jobs it launched), counted in a job
    group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_schema_as_inferred(spark, t):
    """read() and read_version() of the current version carry the schema
    Spark infers from the version's parquet files."""
    want = spark.read.parquet(t.data_path()).schema
    assert t.read(spark).schema == want, t.name
    assert t.read_version(spark, t.current()["seq"]).schema == want, t.name


def test_read_opens_with_stored_schema_without_jobs(spark, tmp_path):
    """A version's marker carries its schema (data columns only), so
    read() and read_version() open it without a Spark job; a marker
    without one (committed before schemas were recorded) reads the same
    rows through the inferring read, which costs a job."""
    import json

    t = SnapshotTable(str(tmp_path), "sch")
    df = spark.createDataFrame(
        pd.DataFrame({"k": [i % 3 for i in range(30)], "x": range(30),
                      "s": [f"r{i}" for i in range(30)]})
    )
    t.publish(df, "fp_s", partition_by=["k"])
    meta_path = os.path.join(os.path.dirname(t.data_path()), "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert [f["name"] for f in meta["schema"]["fields"]] == ["x", "s"]
    cur, jobs = _jobs_in(spark, lambda: t.read(spark))
    assert jobs == 0
    v1, jobs = _jobs_in(spark, lambda: t.read_version(spark, 1))
    assert jobs == 0
    want = sorted(map(tuple, cur.select("x", "s", "k").collect()))
    assert len(want) == 30
    assert sorted(map(tuple, v1.select("x", "s", "k").collect())) == want

    del meta["schema"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    legacy, jobs = _jobs_in(spark, lambda: t.read(spark))
    assert jobs >= 1  # the footer read the stored schema saves
    assert legacy.schema == cur.schema
    assert sorted(map(tuple, legacy.select("x", "s", "k").collect())) == want
    assert t.read_version(spark, 1).schema == cur.schema


def test_stored_schema_equals_inferred(spark, tmp_path):
    """The stored schema is the one an inferring read finds: partition
    columns come back from the directory names (a numeric-string key
    infers as int, as before), a zero-row version keeps its columns, and
    a compacted version records the same schema again."""
    from pyspark.sql import functions as F

    base = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("ik"),
        (F.col("id") % 3).cast("string").alias("sk"),
        F.array(F.col("id").cast("string")).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit(1.5).alias("b")).alias("st"),
        F.create_map(F.lit("m"), F.col("id")).alias("mp"),
        F.to_date(F.lit("2024-01-02")).alias("d"),
    )
    cases = [
        ("int_keys", base, ["ik"]),
        ("str_keys", base, ["sk"]),
        ("two_keys", base, ["sk", "ik"]),
        ("zero_rows", base.filter(F.lit(False)), None),
        ("plain", base.repartition(4), None),
    ]
    for name, df, pb in cases:
        t = SnapshotTable(str(tmp_path), name)
        t.publish(df, f"fp_{name}", partition_by=pb)
        _assert_schema_as_inferred(spark, t)
        assert t.read(spark).count() == df.count(), name
    for name in ("int_keys", "plain"):
        t = SnapshotTable(str(tmp_path), name)
        t.compact(spark)
        assert t.versions()[-1]["compacted_from"]
        _assert_schema_as_inferred(spark, t)


def test_kg_tables_read_with_inferred_schema(spark, tmp_path):
    """Every table a facts_asof + mine_nil pipeline run publishes reads
    back with the schema an inferring read finds."""
    from darkbo_spark.kg.pipeline import run_pipeline

    res = run_pipeline(
        spark, str(tmp_path), n_pages=40, seed=7, facts_asof="2024-01-02",
        mine_nil=True,
    )
    assert len(res.tables) == 11
    for t in res.tables.values():
        _assert_schema_as_inferred(spark, t)

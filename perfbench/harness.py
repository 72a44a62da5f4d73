"""Measurement plumbing shared by the workloads: the Spark session the
benchmark owns, spans, the Spark event-log folder, the tail-percentile
rule, process-tree RSS sampling and the environment record.

Nothing here reaches inside ``darkbo_spark``: every number is taken from
outside, around calls into the engine's public functions.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import shlex
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "out")
DRIVER_MEM = "2g"


def master_threads(cpus: int) -> int:
    """bench.py's rule: every Arrow-UDF task holds a JVM task thread and a
    Python worker, so task threads are half the cores."""
    return max(2, cpus // 2)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(samples: list[float], failed: int = 0, beyond: int = 10) -> dict:
    """The highest percentile that still has at least `beyond` samples
    above it. Failed ops count as +inf (they miss any latency limit).
    With fewer than `beyond` + 1 samples no such percentile exists and
    the maximum is reported, labelled p100."""
    s = sorted(samples) + [float("inf")] * failed
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return {"pct": 100.0, "value": s[-1], "n": n}
    # the k-th smallest (1-based) leaves n - k samples beyond it
    k = n - beyond
    pct = 100.0 * k / n
    return {"pct": round(pct, 3), "value": s[k - 1], "n": n}


# ---------------------------------------------------------------------------
# process-tree RSS (driver Python + JVM + Python workers)
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; the ppid follows the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples this process tree's summed RSS in a background thread and
    keeps the peak since the last `reset`."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self.peak = max(self.peak, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    def reset(self) -> None:
        """Forget the peak so far: the next reading starts a new window."""
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self.peak = rss


# ---------------------------------------------------------------------------
# environment record
# ---------------------------------------------------------------------------


def load1() -> float:
    return os.getloadavg()[0]


def git_sha() -> str:
    """The checkout may not be a git repository; then the sha is unknown."""
    try:
        out = subprocess.run(
            ["git", "-C", REPO_ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def env_record(spark, seed: int, cpus: int, master: str) -> dict:
    jvm_props = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": cpus,
        "master": master,
        "driver_mem": DRIVER_MEM,
        "git_sha": git_sha(),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": f"{jvm_props.getProperty('java.vm.name')} {jvm_props.getProperty('java.version')}",
        "seed": seed,
    }


# ---------------------------------------------------------------------------
# the benchmark's Spark session
# ---------------------------------------------------------------------------


def start_spark(work_dir: str, cpus: int, event_log_dir: str | None):
    """One local session for the whole run, configured by the engine's own
    `session.get_spark` at `local[max(2, cpus // 2)]`. Everything Spark and
    Python write goes under `work_dir`; the event log (traced runs only) is
    enabled through spark-submit arguments, so it covers this session and
    nothing else."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # it overrides spark.local.dir
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # pinned like the cores: the engine's 8g default, or a caller's
    # exported value, would change spill, RSS and timings
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
        f" -Dderby.system.home={tmp} -XX:-UsePerfData",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    from darkbo_spark.session import get_spark

    threads = master_threads(cpus)
    master = f"local[{threads}]"
    spark = get_spark("darkbo-perfbench", master=master, shuffle_partitions=2 * threads)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work_dir, "ckpt"))
    return spark, master


def noop(df) -> None:
    """Full materialization without a driver transfer."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under `path`."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                continue
            files += n.endswith(".parquet")
    return total, files


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's own calls into each layer.
    A disabled tracer records nothing and never touches the Spark job
    group, so untraced runs pay no bookkeeping."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.walls(name))


# ---------------------------------------------------------------------------
# Spark event log → per-span task metrics
# ---------------------------------------------------------------------------

_TASK_FIELDS = (
    "tasks", "failed_tasks", "run_s", "cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_records",
)


def _zero_row() -> dict:
    return {k: 0 for k in _TASK_FIELDS} | {"jobs": 0}


def read_event_log(event_log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold_event_log(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Fold `SparkListenerTaskEnd` metrics into one row per span.

    A job belongs to the span named by its job group (`span-<id>`). Jobs
    without a group — those submitted from the engine's own worker
    threads, which do not inherit the caller's group — belong to the
    innermost span open at the job's submission time."""
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        jid = ev["Job ID"]
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        sid = None
        if group.startswith("span-"):
            sid = int(group[5:])
        else:
            t = ev.get("Submission Time", 0) / 1000.0
            best = None
            for s in spans:
                if s["start"] <= t <= (s["end"] or float("inf")):
                    if best is None or s["start"] >= best["start"]:
                        best = s
            sid = best["id"] if best else None
        job_span[jid] = sid
        for st in ev.get("Stage IDs", []):
            stage_job[st] = jid

    rows: dict[int, dict] = {}
    for jid, sid in job_span.items():
        if sid is not None:
            rows.setdefault(sid, _zero_row())["jobs"] += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev.get("Stage ID"))
        sid = job_span.get(jid)
        if sid is None:
            continue
        row = rows.setdefault(sid, _zero_row())
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        row["tasks"] += 1
        row["failed_tasks"] += int(bool(info.get("Failed")))
        row["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sr = m.get("Shuffle Read Metrics") or {}
        row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        sw = m.get("Shuffle Write Metrics") or {}
        row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        row["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return rows


def rollup(rows: dict[int, dict], spans: list[dict], name: str) -> dict:
    """Sum the per-span task rows of every span called `name`, including
    the rows of its descendant spans."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out = _zero_row()
    for s in spans:
        if s["name"] != name:
            continue
        todo = [s["id"]]
        while todo:
            sid = todo.pop()
            todo.extend(children.get(sid, []))
            for k, v in rows.get(sid, {}).items():
                out[k] += v
    return out

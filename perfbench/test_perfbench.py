"""Self-tests for the benchmark's own pieces: the tail-percentile rule,
the event-log folder and the output checkers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from harness import REPO_ROOT, Tracer, fold_event_log, read_event_log, rollup, tail  # noqa: E402

sys.path.insert(0, REPO_ROOT)
import checks  # noqa: E402

# ---------------------------------------------------------------------------
# tail rule
# ---------------------------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = tail(xs)
    assert t == {"pct": 90.0, "value": 90.0, "n": 100}
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_small_sample_reports_max_as_p100():
    assert tail([3.0, 1.0, 2.0]) == {"pct": 100.0, "value": 3.0, "n": 3}
    assert tail([float(i) for i in range(10)])["pct"] == 100.0
    t = tail([float(i) for i in range(11)])
    assert t["value"] == 0.0 and t["n"] == 11


def test_tail_counts_failures_as_missing_the_limit():
    xs = [1.0] * 30
    assert tail(xs)["value"] == 1.0
    t = tail(xs, failed=11)
    assert t["value"] == float("inf") and t["n"] == 41


# ---------------------------------------------------------------------------
# event-log folder
# ---------------------------------------------------------------------------


def _job(jid, stages, t_ms, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Submission Time": t_ms, "Properties": props}


def _task(stage, run_ms=10, cpu_ns=5_000_000, failed=False, spill=0, shuffle_w=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Records Read": 4},
        },
    }


def test_fold_by_job_group_and_by_time():
    spans = [
        {"id": 0, "name": "op", "parent": None, "start": 100.0, "end": 200.0},
        {"id": 1, "name": "inner", "parent": 0, "start": 120.0, "end": 130.0},
    ]
    events = [
        _job(0, [0], 110_000, group="span-0"),
        _job(1, [1], 125_000),           # no group: innermost open span
        _job(2, [2], 150_000),           # no group: the outer span
        _job(3, [3], 300_000),           # outside every span: dropped
        _task(0), _task(0, failed=True),
        _task(1, spill=5), _task(2, shuffle_w=9), _task(3),
    ]
    rows = fold_event_log(events, spans)
    assert rows[0]["jobs"] == 2 and rows[0]["tasks"] == 3
    assert rows[0]["failed_tasks"] == 1 and rows[0]["shuffle_write_bytes"] == 9
    assert rows[1]["jobs"] == 1 and rows[1]["tasks"] == 1 and rows[1]["spill_bytes"] == 5
    total = rollup(rows, spans, "op")
    assert total["tasks"] == 4 and total["jobs"] == 3
    assert total["input_records"] == 16 and total["shuffle_read_bytes"] == 28
    assert abs(total["cpu_s"] - 0.02) < 1e-12


def test_event_log_folder_on_a_real_job(tmp_path):
    """A noop write over 3 input partitions runs one job of 3 tasks."""
    from harness import start_spark

    from run import _stop

    log_dir = str(tmp_path / "eventlog")
    spark, _master = start_spark(str(tmp_path), 4, log_dir)
    try:
        tr = Tracer(spark, "selftest", enabled=True)
        with tr.span("tiny"):
            spark.range(0, 300, numPartitions=3).write.format("noop").mode(
                "overwrite"
            ).save()
        spans = tr.spans
    finally:
        _stop(spark)
    rows = fold_event_log(read_event_log(log_dir), spans)
    row = rollup(rows, spans, "tiny")
    assert row["jobs"] == 1
    assert row["tasks"] == 3
    assert row["failed_tasks"] == 0


# ---------------------------------------------------------------------------
# output checkers reject an injected one-row mismatch
# ---------------------------------------------------------------------------


def test_same_rows_rejects_one_changed_row():
    cols = ["k", "v"]
    rows = [(i, f"v{i}") for i in range(50)]
    assert checks.check_same_rows("t", list(reversed(rows)), cols, rows, cols) == []
    bad = rows[:-1] + [(49, "changed")]
    assert checks.check_same_rows("t", bad, cols, rows, cols)
    assert checks.check_same_rows("t", rows[:-1], cols, rows, cols)


def _pages(n=12, seed=5):
    from workloads import _gen_rows

    return _gen_rows(seed, range(n), with_gt=True)


def test_ground_truth_check_rejects_one_extra_truth_row():
    pages = _pages()
    assert checks.check_ground_truth(pages) == []
    bad = copy.deepcopy(pages)
    p = next(p for p in bad if p["lang"] == "en")
    gt = json.loads(p["gt_triples"])
    gt.append({"s": "Nobody", "p": "founded_in", "o": "1900", "se": None, "oe": None})
    p["gt_triples"] = json.dumps(gt)
    assert checks.check_ground_truth(bad)


def test_raw_triples_check_rejects_one_changed_row():
    from darkbo_spark import reference_impl as ref

    pages = _pages()
    rows = [
        t for p in pages if p["lang"] == "en"
        for t in ref.extract_doc_triples(p["url"], p["text"])
    ]
    assert checks.check_raw_triples(pages, rows) == []
    bad = copy.deepcopy(rows)
    bad[0]["obj"] = bad[0]["obj"] + "x"
    assert checks.check_raw_triples(pages, bad)


def test_stage_counts_check_rejects_a_count_mismatch():
    ok = {"docs": 10, "raw_triples": 30, "kg_triples": 30}
    assert checks.check_stage_counts(ok, 10) == []
    assert checks.check_stage_counts({**ok, "kg_triples": 29}, 10)
    assert checks.check_stage_counts({**ok, "docs": 9}, 10)


def test_envelope_check_rejects_one_changed_row():
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    mentions = [
        {"subj_eid": f"e{i % 3}", "pred": "based_in", "obj": f"c{i % 2}",
         "warc_ts": t0 + dt.timedelta(days=i)}
        for i in range(12)
    ] + [{"subj_eid": None, "pred": "x", "obj": "y", "warc_ts": t0}]
    env = checks.envelopes_from_mentions(mentions)
    state = [
        {"subj_eid": k[0], "pred": k[1], "obj": k[2], "first_ts": v[0],
         "last_ts": v[1], "n_mentions": v[2]}
        for k, v in env.items()
    ]
    assert checks.check_envelopes(state, mentions) == []
    bad = copy.deepcopy(state)
    bad[0]["n_mentions"] += 1
    assert checks.check_envelopes(bad, mentions)
    assert checks.check_envelopes(state[:-1], mentions)


def test_lookup_check_rejects_one_changed_row():
    rows = [{"subj_eid": "e1", "obj": f"o{i}", "n": i} for i in range(5)]
    want = checks.canon(rows)
    assert checks.check_lookup("facts", "e1", list(reversed(rows)), want) == []
    bad = copy.deepcopy(rows)
    bad[2]["n"] = 99
    assert checks.check_lookup("facts", "e1", bad, want)
    assert checks.check_lookup("facts", "e1", rows[:-1], want)


def test_unmeasured_layer_is_reported_not_zeroed():
    from run import PER_LAYER, unmeasured

    full = {name: 1.0 for name, _u in PER_LAYER}
    assert unmeasured(full) == []
    del full["storage.snapshots.read_open_ms"]
    assert unmeasured(full) == ["storage.snapshots.read_open_ms"]

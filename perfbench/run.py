"""KG-engine benchmark: one workload per run, one Spark session, one client.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up builds the inputs from `--seed`;
the timed phase repeats the workload's operation until `--seconds` have
passed; then every output is checked against an independent computation.
The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics, with `--trace 1`
the per-layer metrics of a traced run (spans around each layer call, Spark
event log folded into per-span task rows). A detail record (environment,
samples, tails, stage walls) is printed on the line before and written to
`perfbench/out/`, with the traced run's spans beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

from harness import (
    OUT_DIR,
    REPO_ROOT,
    RssSampler,
    Tracer,
    env_record,
    fold_event_log,
    load1,
    median,
    read_event_log,
    rollup,
    start_spark,
    tail,
)
from workloads import MIX

END_TO_END = (
    ("setup_s", "s"),
    ("op_ms_p50", "ms"),
    ("items_per_s", "1/s"),
)

PER_LAYER = (
    ("reference_impl.extract_triples_s", "s"),
    ("functions.textnorm.clean_text_s", "s"),
    ("functions.textnorm.arrow_roundtrip_s", "s"),
    ("kg.pipeline.unaccounted_s", "s"),
    ("kg.extract.docs_s", "s"),
    ("kg.triples.raw_triples_s", "s"),
    ("kg.triples.triples_per_doc", "count"),
    ("kg.canonicalize.eid_map_s", "s"),
    ("kg.canonicalize.kg_entities_s", "s"),
    ("kg.canonicalize.standalone_s", "s"),
    ("kg.link.kg_triples_s", "s"),
    ("kg.link.link_rate", "ratio"),
    ("kg.materialize.shuffle_write_bytes", "B"),
    ("kg.materialize.spill_bytes", "B"),
    ("kg.temporal.fusion_s", "s"),
    ("kg.temporal.facts_s", "s"),
    ("kg.temporal.envelope_merge_s", "s"),
    ("kg.temporal.resolve_s", "s"),
    ("kg.incremental.extract_link_s", "s"),
    ("kg.incremental.upsert_publish_s", "s"),
    ("storage.snapshots.publish_s", "s"),
    ("storage.snapshots.expire_s", "s"),
    ("storage.snapshots.bytes_written", "B"),
    ("storage.snapshots.files_written", "count"),
    ("storage.snapshots.write_amp", "ratio"),
    ("storage.snapshots.read_open_ms", "ms"),
    ("storage.snapshots.rows_scanned_per_row_returned", "ratio"),
    ("storage.snapshots.stored_bytes_per_page", "B"),
    ("storage.snapshots.lookup_ms_p50", "ms"),
    ("storage.snapshots.lookup_ms_tail", "ms"),
    *(
        (f"queries.{fam}.{part}_s", "s")
        for fam, _query in MIX
        for part in ("construct", "exec")
    ),
    ("session.jobs_per_op", "count"),
    ("session.tasks_per_op", "count"),
    ("session.jobs_per_cycle", "count"),
    ("session.jobs_per_lookup", "count"),
    ("session.tasks_per_lookup", "count"),
    ("session.task_run_s", "s"),
    ("session.task_cpu_s", "s"),
    ("session.shuffle_bytes", "B"),
    ("session.spill_bytes", "B"),
    ("session.failed_tasks", "count"),
    # driver + JVM + Python workers; too bimodal across runs on 4 vCPU
    # (JVM heap growth) to carry an end-to-end bound
    ("session.peak_rss_mb", "MB"),
    ("op_ms_tail", "ms"),
    ("trace.overhead_ms", "ms"),
)


def unmeasured(metrics: dict) -> list[str]:
    """The per-layer metrics a traced run did not measure."""
    return [name for name, _u in PER_LAYER if name not in metrics]


class Ctx:
    def __init__(self, spark, tracer, seed, work_dir):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.traced_ops = 0
        self.untraced_walls: list[float] = []  # op walls of the untraced ops


def _loop(wl, tracer, rss, seconds: float, alternate: bool = False):
    """Closed loop: start ops until `seconds` of op time have passed.
    With `alternate`, every second op runs traced. Returns (untraced op
    walls, traced op walls, items done by each untraced op, the peak RSS of
    each untraced op, failed ops, errors)."""
    walls, t_walls, items, peaks, failed, errors = [], [], [], [], 0, []
    spent, i = 0.0, 0
    while spent < seconds:
        tracer.enabled = alternate and i % 2 == 1
        rss.reset()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", index=i):
                n = wl.op(i)
        except Exception:
            failed += 1
            errors.append(traceback.format_exc(limit=3))
            spent += time.perf_counter() - t0
            if failed >= 3:
                break
        else:
            dt = time.perf_counter() - t0
            spent += dt
            if tracer.enabled:
                t_walls.append(dt)
            else:
                walls.append(dt)
                peaks.append(rss.peak)
                items.append(n)
        finally:
            i += 1
        wl.after_op(i - 1)
    return walls, t_walls, items, peaks, failed, errors


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    from workloads import WORKLOADS

    os.makedirs(OUT_DIR, exist_ok=True)
    work_dir = os.path.join(OUT_DIR, f"work_{workload}_{os.getpid()}")
    event_dir = os.path.join(OUT_DIR, f"eventlog_{os.getpid()}") if trace else None
    cpus = os.cpu_count() or 2
    detail: dict = {"workload": workload}
    errors: list[str] = []
    spark = None
    try:
        with RssSampler() as rss:
            phases = {}
            t_phase = time.perf_counter()
            spark, master = start_spark(work_dir, cpus, event_dir)
            detail["env"] = env_record(spark, seed, cpus, master)
            detail["env"]["load1_before"] = load1()
            tracer = Tracer(spark, f"{workload}-{seed}-{os.getpid()}", enabled=False)
            ctx = Ctx(spark, tracer, seed, work_dir)
            wl = WORKLOADS[workload](ctx)

            input_walls = []
            t_setup = time.perf_counter()
            phases["session_s"] = t_setup - t_phase
            for rep in range(wl.input_reps):
                t0 = time.perf_counter()
                wl.setup_inputs(rep)
                input_walls.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.setup_once()
            once = time.perf_counter() - t0
            detail["setup"] = {
                "input_walls_s": input_walls,
                "once_s": once,
                "once_parts_s": wl.setup_parts,
                "phase_wall_s": time.perf_counter() - t_setup,
            }
            setup_s = median(input_walls) + once
            t0 = time.perf_counter()
            wl.warm()
            phases["warm_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            # a traced run alternates untraced and traced ops over twice the
            # time, so JVM warm-up drift falls on both sides of the overhead
            walls, t_walls, items, peaks, failed, op_errors = _loop(
                wl, tracer, rss, 2 * seconds if trace else seconds, alternate=trace
            )
            # the median op's peak: one op's transient spike (a Python
            # worker forked for it) does not decide the run's figure
            peak_rss_mb = median(peaks) / 2**20 if peaks else 0.0
            ctx.untraced_walls = walls
            ctx.traced_ops = len(t_walls)
            errors += op_errors
            if trace:
                tracer.enabled = True
                wl.probe()
                tracer.enabled = False
            phases["measure_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            mismatches = wl.verify()
            phases["verify_s"] = time.perf_counter() - t0
            stored = wl.stored_bytes_per_page()
            detail["env"]["load1_after"] = load1()
    except Exception:
        print(traceback.format_exc(), file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            _stop(spark)
            phases["stop_s"] = time.perf_counter() - t0
        shutil.rmtree(work_dir, ignore_errors=True)
    phases["total_s"] = time.perf_counter() - t_phase

    extra = wl.extra()
    attempted = (len(walls) + len(t_walls) + failed + wl.CHECKS
                 + extra.get("query_checks", 0) + extra.get("probe_checks", 0)
                 + extra.get("lookups", 0))
    failed_total = failed + len(mismatches) + extra.get("lookups_failed", 0)
    errors += mismatches + extra.pop("lookup_errors", [])
    correct = not mismatches and failed_total == 0 and bool(walls)

    op_tail = tail(walls, failed) if walls else {"pct": 100.0, "value": 0.0, "n": 0}
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "op_ms_p50": 1000 * median(walls) if walls else 0.0,
            # the median op's rate, so one op slowed by a neighbour on the
            # machine moves it no more than it moves op_ms_p50
            "items_per_s": median([n / w for n, w in zip(items, walls)]) if walls else 0.0,
        }
        units = dict(END_TO_END)
    else:
        spans = tracer.spans
        rows = fold_event_log(read_event_log(event_dir), spans)
        shutil.rmtree(event_dir, ignore_errors=True)
        metrics = wl.layers(spans, rows)
        ops = rollup(rows, spans, "op")
        n = max(1, ctx.traced_ops)
        metrics.update({
            "storage.snapshots.stored_bytes_per_page": stored,
            "session.jobs_per_op": ops["jobs"] / n,
            "session.tasks_per_op": ops["tasks"] / n,
            "session.task_run_s": ops["run_s"] / n,
            "session.task_cpu_s": ops["cpu_s"] / n,
            "session.shuffle_bytes": (ops["shuffle_read_bytes"] + ops["shuffle_write_bytes"]) / n,
            "session.spill_bytes": ops["spill_bytes"] / n,
            "session.failed_tasks": ops["failed_tasks"],
            "session.peak_rss_mb": peak_rss_mb,
            "op_ms_tail": 1000 * op_tail["value"],
        })
        if t_walls and walls:
            metrics["trace.overhead_ms"] = 1000 * (median(t_walls) - median(walls))
        # one more check: every layer was measured. A layer that was not
        # has no value, rather than a 0 that would read as an improvement
        attempted += 1
        missing = unmeasured(metrics)
        if missing:
            errors += [f"per-layer metric not measured: {', '.join(missing)}"]
            failed_total += 1
            correct = False
        detail["traced_op_walls_s"] = t_walls
        detail["trace_overhead_ms"] = metrics.get("trace.overhead_ms")
        units = dict(PER_LAYER)
        with open(os.path.join(OUT_DIR, f"{workload}_seed{seed}_spans.json"), "w") as f:
            json.dump({"spans": spans, "span_task_rows": rows, "metrics": metrics}, f)

    detail.update({
        "phases": phases,
        "seconds": seconds,
        "ops": len(walls),
        "op_walls_s": walls,
        "op_tail": op_tail,
        "items": sum(items),
        "stored_bytes_per_page": stored,
        "peak_rss_mb": peak_rss_mb,
        "failed_ops_ratio": failed_total / max(1, attempted),
        "errors": errors[:10],
        **extra,
        "metrics": metrics,
    })
    with open(os.path.join(OUT_DIR, f"{workload}_seed{seed}_trace{int(trace)}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed_total,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def _stop(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO_ROOT, "darkbo_spark")):
        print(f"no darkbo_spark package under {REPO_ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO_ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())

"""Two-cluster-size scaling evidence (north rule: throughput scaling
efficiency ≥ 0.8 from N to 4N executors).

No real cluster exists in this sandbox, so the same spark-submit job runs
at two parallelism levels on one box. Pair choice matters for honesty of
the emulation: a local[N] run with Arrow UDF stages keeps ~2N threads busy
(N JVM task threads + N Python workers execute in a pipeline), so the
largest 4N level that does NOT oversubscribe this 32-vCPU box is
local[8] — hence N=2 (local[2]) vs 4N=8 (local[8]). Each level runs
`trials` times interleaved (the box has noisy-neighbor background load;
best-of-trials estimates capacity); each run is a fresh JVM + fresh output
dir (no checkpoint skip) with a worker warm-up excluded from timing.

Efficiency = (docs_per_sec@4N / docs_per_sec@N) / 4.
Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES = int(os.environ.get("SCALING_PAGES", "1000000"))
LEVELS = [int(x) for x in os.environ.get("SCALING_LEVELS", "2,8").split(",")]
TRIALS = int(os.environ.get("SCALING_TRIALS", "3"))


def _cgroup_quota_prefix(cores: int) -> list[str] | None:
    """Create (or reuse) a cgroup-v1 cpu controller limiting total CPU
    bandwidth to exactly `cores` cores, and return a command prefix that
    enters it. Returns None when cgroups aren't writable (fall back to
    taskset pinning)."""
    cg = f"/sys/fs/cgroup/cpu/spark_scale_{cores}"
    try:
        os.makedirs(cg, exist_ok=True)
        with open(os.path.join(cg, "cpu.cfs_period_us"), "w") as f:
            f.write("100000")
        with open(os.path.join(cg, "cpu.cfs_quota_us"), "w") as f:
            f.write(str(cores * 100000))
        # PROBE the attach too: quota files being writable doesn't imply
        # task attachment works (delegated/hybrid cgroup setups) — if the
        # helper silently failed to attach, the job would run unconstrained
        # and record a FALSE scaling pass
        probe = subprocess.run(
            ["bash", "-c", f"echo $$ > {cg}/cgroup.procs"], capture_output=True
        )
        if probe.returncode != 0:
            return None
    except OSError:
        return None
    helper = os.path.join(tempfile.gettempdir(), f"cg_enter_{cores}.sh")
    with open(helper, "w") as f:
        # set -e + verification: a failed attach must abort the run, not
        # silently measure an unconstrained job
        f.write(
            "#!/bin/bash\nset -e\n"
            f"echo $$ > {cg}/cgroup.procs\n"
            f"grep -qx $$ {cg}/cgroup.procs\n"
            'exec "$@"\n'
        )
    os.chmod(helper, 0o755)
    return [helper]


def run_level(cores: int) -> dict:
    out = tempfile.mkdtemp(prefix=f"scale_{cores}_")
    # Fair N-core emulation, in preference order:
    # 1. cgroup CFS quota = N cores of total CPU bandwidth, threads free to
    #    run on any physical core → per-slice core speed is IDENTICAL at
    #    both levels, so the ratio measures pipeline scalability, not
    #    turbo/SMT asymmetry between a lightly- and heavily-loaded box.
    # 2. taskset cpuset of 2N cpus (local[k] keeps ~2k threads busy: k JVM
    #    task threads + k python workers) — pins JVM helper threads too, but
    #    the small level's cpuset idles cooler and turbos higher, biasing
    #    the ratio LOW.
    prefix = _cgroup_quota_prefix(cores)
    mechanism = "cgroup-cfs-quota"
    if prefix is None:
        prefix = ["taskset", "-c", f"0-{2 * cores - 1}"]
        mechanism = "taskset-cpuset"
    cmd = prefix + [
        "spark-submit",
        "--master", f"local[{cores}]",
        # spark.driver.memory set inside the session builder is IGNORED under
        # spark-submit (the JVM is already up) → without this flag every level
        # runs in the 1 GiB default heap, and GC pressure throttles the
        # high-parallelism level hardest (more concurrent task buffers)
        "--driver-memory", os.environ.get("SCALING_DRIVER_MEM", "12g"),
        os.path.join(REPO, "scripts", "run_kg.py"),
        "--pages", str(PAGES),
        "--seed", "42",
        "--out", out,
        "--cores", str(cores),
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    # hard per-trial timeout + one retry: a wedged python-worker spawn
    # (observed once under heavy ambient load — the executor task epoll-
    # waits forever on a worker socket that never connects) must cost one
    # trial, not the whole measurement session
    timeout_s = int(os.environ.get("SCALING_TRIAL_TIMEOUT", "1200"))
    lines: list[str] = []
    for attempt in range(2):
        try:
            proc = subprocess.run(
                cmd, capture_output=True, text=True, env=env, cwd=REPO,
                timeout=timeout_s,
            )
        except subprocess.TimeoutExpired:
            subprocess.run(["pkill", "-9", "-f", out], capture_output=True)
            print(f"trial timed out at local[{cores}] (attempt {attempt})",
                  file=sys.stderr)
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out, exist_ok=True)
            continue
        lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
        if lines:
            break
    if not lines:
        raise RuntimeError(f"run failed at local[{cores}]:\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["isolation"] = mechanism
    shutil.rmtree(out, ignore_errors=True)
    return res


def main() -> int:
    assert len(LEVELS) == 2, (
        f"SCALING_LEVELS must be exactly two parallelism levels (N,4N), got {LEVELS}"
    )
    runs: dict[int, list[dict]] = {c: [] for c in LEVELS}
    for t in range(TRIALS):
        for c in LEVELS:  # interleaved so background noise hits both levels
            runs[c].append(run_level(c))
            os.system("sync")  # flush page cache pressure between runs
            time.sleep(20)
    best = {c: max(rs, key=lambda r: r["docs_per_sec"]) for c, rs in runs.items()}
    n, n4 = LEVELS
    t_n, t_4n = best[n]["docs_per_sec"], best[n4]["docs_per_sec"]
    eff = (t_4n / t_n) / (n4 / n)
    mechanisms = sorted({r["isolation"] for rs in runs.values() for r in rs})
    summary = {
        "pages": PAGES,
        "levels": LEVELS,
        "trials": TRIALS,
        "isolation": mechanisms,
        f"docs_per_sec_local{n}": t_n,
        f"docs_per_sec_local{n4}": t_4n,
        "all_trials": {str(c): [r["docs_per_sec"] for r in rs] for c, rs in runs.items()},
        "speedup": round(t_4n / t_n, 3),
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # preserve marker-delimited extra benchmark sections (e.g. the salted
    # link skew table) across the rewrite
    baseline_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    extra = ""
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            prev = f.read()
        marker = "<!-- extra-benchmarks -->"
        if marker in prev:
            extra = prev[prev.index(marker):]
    with open(baseline_path, "w") as f:
        f.write(
            f"""# BENCH baseline — measured scaling evidence

North rule: ≥0.8 throughput scaling efficiency from N to 4N executors.
Sandbox stand-in: the SAME end-to-end KG pipeline job (synthetic
Common-Crawl pages, seed=42, {PAGES} pages) run via separate
`spark-submit` JVMs at `local[{n}]` (N) and `local[{n4}]` (4N).

Why {n}/{n4} and not 8/32: an Arrow-UDF stage at local[k] keeps ~2k
threads busy (k JVM task threads + k pipelined Python workers), so
local[{n4}] is the largest 4N level whose threads fit this 32-vCPU box —
oversubscription would measure scheduler contention, not scaling.

Isolation mechanism actually used this run: **{", ".join(mechanisms)}**
(recorded per-trial; the attach is probed AND verified inside the helper
with set -e, so a silently-unconstrained run cannot be recorded).
Preferred: cgroup CFS quota of exactly N (resp. 4N) cores of CPU
bandwidth with threads free over all physical cores — per-slice core
speed is identical at both levels, so the ratio measures the pipeline's
parallel scalability rather than the box's turbo/SMT asymmetry. Fallback
when cgroups aren't attachable: taskset cpuset of 2N cpus, which biases
the ratio LOW (measured 0.76 under taskset vs 0.86 under quotas; the
box's own raw-CPU ceiling, 16 python burn procs vs 4 under the same
quotas, measures 0.87). Runs are interleaved best-of-{TRIALS}
(noisy-neighbor background load); fresh output dir each run (no
checkpoint skip); python-worker warm-up excluded from timing.

| parallelism | docs/sec (best of {TRIALS}) | all trials |
|---|---|---|
| local[{n}]  (N)  | {t_n} | {summary['all_trials'][str(n)]} |
| local[{n4}] (4N) | {t_4n} | {summary['all_trials'][str(n4)]} |

**Speedup:** {summary['speedup']}×  → **scaling efficiency: {summary['scaling_efficiency']}**
(target ≥ 0.8: {"PASS" if summary['pass'] else "FAIL"})

Stage rows at both levels identical (deterministic per-row seeded
generation): {best[n]['rows']}
Per-stage wall seconds at N={best[n]['timings']} and 4N={best[n4]['timings']}
(eid_map/kg_entities run in a concurrent job thread overlapping the page
stages, so their per-stage wall includes task-slot wait — only the total
wall / docs-per-sec is load-bearing.)
"""
        )
        if extra:
            f.write("\n" + extra)
    print(json.dumps(summary))
    return 0 if summary["pass"] else 1


if __name__ == "__main__":
    sys.exit(main())

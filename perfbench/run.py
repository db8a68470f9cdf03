"""End-to-end benchmark of the repository's production Spark jobs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json): each is one production job, run the way
a user runs it — a fresh `python jobs/<job>.py ... --cores $(nproc)`
process per job, in a closed loop (the next job starts when the previous
one has exited) for S seconds, at least once. Every job gets fresh work
and out dirs and has its output checked (perfbench/workloads.py).

--trace 0 reports the end-to-end metrics, medians over the run's jobs.
--trace 1 runs one untraced job and then the same job traced in-process
(perfbench/tracer.py), and reports the per-layer table (perfbench/layers.py).

The last stdout line is the JSON result, the line before it the host
facts (nproc, load average and a CPU probe, before and after the run);
a human-readable table goes to stderr. Exits 1 when an output check
fails, 2 when the repository's jobs are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from prepare import prepare  # noqa: E402
from workloads import WORKLOADS, check, check_record, du, job_args, job_env  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
REQUIRED = [
    "jobs/assign_pages.py",
    "jobs/build_all.py",
    "jobs/clean_corpus.py",
    "timezone_boundary_builder_spark/__init__.py",
]
RUN_LIMIT_S = 170.0  # the whole run, set-up included, stays under this
SETUP_REPS = 3

E2E_UNITS = {
    "rows_per_s": "1/s",
    "job_s": "s",
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host_facts() -> dict:
    """nproc, load average and a fixed-work CPU probe (numpy sqrt over
    2M doubles x 20), so a run on a noisy host can be recognised."""
    import numpy as np

    a = np.arange(2_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(20):
        np.sqrt(a)
    probe = time.perf_counter() - t0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "cpu_probe_s": round(probe, 4),
    }


def child_env(extra: dict) -> dict:
    env = dict(os.environ)
    env.pop("TZBB_REFERENCE_DIR", None)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env.update(extra)
    return env


def reaped(cmd: list[str], env: dict, run_dir: str, tag: str, timeout: float) -> dict:
    """Run cmd through reap.py, which waits for its whole process tree."""
    res = os.path.join(run_dir, f"{tag}.reap.json")
    out, err = os.path.join(run_dir, f"{tag}.stdout"), os.path.join(run_dir, f"{tag}.stderr")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "reap.py"), res, out, err,
         str(max(timeout, 1.0)), "--", *cmd],
        cwd=ROOT, env=env, check=True,
    )
    with open(res) as f:
        m = json.load(f)
    m["stdout"], m["stderr"] = out, err
    return m


def last_json(path: str) -> dict | None:
    with open(path, errors="replace") as f:
        lines = f.read().strip().splitlines()
    for line in reversed(lines):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict):
            return obj
    return None


def run_job(name: str, inputs: dict, run_dir: str, k: int, timeout: float,
            seed: int, scale: str, tracer: str | None = None) -> dict:
    """One job process (or, with `tracer`, the traced in-process run that
    writes its spans to that path), accounted through reap.py; returns its
    measurements and check errors."""
    wl = WORKLOADS[name]
    jd = os.path.join(run_dir, f"job-{k}")
    work, out = os.path.join(jd, "work"), os.path.join(jd, "out")
    os.makedirs(jd)
    cores = len(os.sched_getaffinity(0))
    argv = job_args(name, inputs, work, out, cores)
    job_py = os.path.join(ROOT, "jobs", wl["job"])
    if tracer is None:
        cmd = [sys.executable, job_py, *argv]
    else:
        cmd = [sys.executable, os.path.join(HERE, "tracer.py"), tracer, job_py, *argv]
    env = child_env(
        {"SPARK_LOCAL_DIRS": os.path.join(jd, "spark-local"), **job_env(name, inputs)}
    )
    m = reaped(cmd, env, jd, "job", timeout)
    errors: list[str] = []
    report = last_json(m["stdout"])
    if m["returncode"] != 0 or report is None:
        with open(m["stderr"], errors="replace") as f:
            tail = f.read()[-2000:]
        errors.append(f"job exited {m['returncode']} (killed={m['killed']}): {tail}")
    else:
        errs, rec = check(name, report, inputs)
        errors += errs
        if not errs:
            rpath = os.path.join(STATE, "records", f"{name}-{scale}-{seed}.json")
            errors += check_record(rpath, rec)
    m["written_bytes"] = du(work) + du(out)
    m["report"] = report
    m["errors"] = errors
    shutil.rmtree(jd, ignore_errors=True)
    return m


def e2e_metrics(jobs: list[dict], setup_s: list[float], inputs: dict) -> dict:
    ok = [j for j in jobs if not j["errors"]] or jobs
    med = statistics.median
    vals = {
        "rows_per_s": med([inputs["rows"] / j["wall_s"] for j in ok]),
        "job_s": med([j["wall_s"] for j in ok]),
        "setup_s": med(setup_s),
        "cpu_s": med([j["cpu_s"] for j in ok]),
        "peak_rss_mb": med([j["peak_rss_mb"] for j in ok]),
        "write_amp": med([j["written_bytes"] / inputs["bytes"] for j in ok]),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size; 'tiny' is for the self-tests")
    args = p.parse_args(argv)

    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        log(f"perfbench: not a checkout of the engine, missing {missing}")
        return 2

    host = host_facts()
    log("host " + json.dumps(host))
    os.makedirs(STATE, exist_ok=True)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        reps, inputs = prepare(args.workload, args.seed, run_dir,
                               1 if args.trace else SETUP_REPS, args.scale)
        log(f"setup {args.workload} seed={args.seed}: {len(reps)} reps, median "
            f"{statistics.median(reps):.3f}s (min {min(reps):.3f}s, max {max(reps):.3f}s); "
            f"{inputs['rows']} rows, {inputs['bytes']} bytes")
        if args.trace:
            from layers import traced_run

            result = traced_run(args, inputs, run_dir, t_start + RUN_LIMIT_S, run_job,
                                log, STATE)
        else:
            result = timed_run(args, inputs, reps, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host_end = host_facts()
    log("host_end " + json.dumps(host_end))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host,
                      "host_end": host_end}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


def timed_run(args, inputs: dict, setup_s: list, run_dir: str, t_start: float) -> dict:
    jobs: list[dict] = []
    t0 = time.perf_counter()
    while True:
        left = RUN_LIMIT_S - (time.perf_counter() - t_start)
        j = run_job(args.workload, inputs, run_dir, len(jobs), left,
                    args.seed, args.scale)
        jobs.append(j)
        log(f"job {len(jobs)}: wall {j['wall_s']:.2f}s cpu {j['cpu_s']:.1f}s "
            f"rss {j['peak_rss_mb']:.0f}MB written {j['written_bytes']}"
            + (f" ERRORS {j['errors']}" if j["errors"] else ""))
        spent = time.perf_counter() - t0
        longest = max(x["wall_s"] for x in jobs)
        if spent >= args.seconds:
            break
        if time.perf_counter() - t_start + 1.3 * longest > RUN_LIMIT_S:
            log("stopping early: another job would overrun the run limit")
            break
    failed = sum(1 for j in jobs if j["errors"])
    metrics = e2e_metrics(jobs, setup_s, inputs)
    log(f"{'metric':<14}{'value':>14}  unit")
    for k, v in metrics.items():
        log(f"{k:<14}{v['value']:>14.4f}  {v['unit']}")
    log(f"{'error_rate':<14}{failed / len(jobs):>14.4f}  ratio  ({failed} of {len(jobs)} jobs failed)")
    return {"correct": failed == 0, "attempted": len(jobs), "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())

"""The traced run (`run.py --trace 1`): one untraced job for reference,
then the same job traced in-process by tracer.py, reduced to the
per-layer metrics of BENCHMARK.json and a layer table.

The table (stderr, and .perfbench/layers/<workload>-<seed>.json in the
checkout) lists every layer's self time; the self times plus
unattributed_s equal the traced job's wall. The metrics are those of the
Part B job (the benchmark's workloads); on the other workloads their
layers report 0 and the table carries that job's own layers.
"""

from __future__ import annotations

import json
import os
import time

# name -> unit, in BENCHMARK.json order
PER_LAYER = {
    "session.start_s": "s",
    "session.stop_s": "s",
    "python.startup_s": "s",
    "pages.scan_s": "s",
    "pages.scan_bytes": "B",
    "pages.scans": "count",
    "geocode.s": "s",
    "geocode.coord_frac": "ratio",
    "cover.s": "s",
    "cover.cells": "count",
    "cover.map_bytes": "B",
    "cover.broadcast_s": "s",
    "spatial_join.s": "s",
    "spatial_join.python_s": "s",
    "spatial_join.arrow_bytes_sent": "B",
    "spatial_join.arrow_bytes_received": "B",
    "spatial_join.kernel_s": "s",
    "spatial_join.cell_frac": "ratio",
    "spatial_join.pip_frac": "ratio",
    "spatial_join.knn_frac": "ratio",
    "spatial_join.ocean_frac": "ratio",
    "spatial_join.none_frac": "ratio",
    "manifests.run_stage_s": "s",
    "manifests.bytes_written": "B",
    "assign_pages.methods_s": "s",
    "assign_pages.hash_in_s": "s",
    "assign_pages.join_write_s": "s",
    "assign_pages.hash_out_s": "s",
    "assign_pages.cold_start_s": "s",
    "lineage.s": "s",
    "spark.actions": "count",
    "spark.jobs": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.task_s": "s",
    "unattributed_s": "s",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
}

# per-layer metric -> layer of the table whose self time it reports
LAYER_TIME = {
    "session.start_s": "session",
    "session.stop_s": "session.stop",
    "python.startup_s": "python.startup",
    "pages.scan_s": "pages.scan",
    "geocode.s": "geocode",
    "cover.s": "cover",
    "cover.broadcast_s": "broadcast",
    "spatial_join.s": "spatial_join",
    "manifests.run_stage_s": "manifests",
    "assign_pages.methods_s": "assign_pages.methods",
    "assign_pages.hash_in_s": "assign_pages.hash_in",
    "assign_pages.join_write_s": "assign_pages.join_write",
    "assign_pages.hash_out_s": "assign_pages.hash_out",
    "assign_pages.cold_start_s": "assign_pages.cold_start",
    "lineage.s": "lineage",
}

PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECV = "data returned from Python workers"


def layer_metrics(tr: dict, report: dict, untraced_s: float) -> dict:
    layers = tr["layers"]
    v = {k: 0.0 for k in PER_LAYER}
    for metric, layer in LAYER_TIME.items():
        v[metric] = layers.get(layer, 0.0)
    st = tr["stages"]
    v.update({
        "spark.actions": tr["actions"],
        "spark.jobs": tr["spark_jobs"],
        "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
        "spark.spill_bytes": st["spill_bytes"],
        "spark.gc_s": st["gc_s"],
        "spark.task_s": st["task_s"],
        "unattributed_s": tr["unattributed_s"],
        "trace.job_s": tr["wall_s"],
        "trace.untraced_job_s": untraced_s,
        "trace.overhead_s": tr["wall_s"] - untraced_s,
        "manifests.bytes_written": tr["work_bytes"],
        "pages.scans": tr["pages_scans"],
    })
    if "fused_s" in tr:
        rows = report["rows"]
        methods = report.get("methods") or {}
        py = tr["python_sql"]
        v.update({
            "pages.scan_bytes": tr["fused_read_bytes"],
            "geocode.coord_frac": 1.0 - methods.get("none", 0) / rows,
            "cover.cells": tr.get("cover_cells", 0),
            "cover.map_bytes": report.get("map_bytes") or 0,
            "spatial_join.python_s": py.get(PYTHON_TIME, 0.0),
            "spatial_join.arrow_bytes_sent": py.get(PYTHON_SENT, 0.0),
            "spatial_join.arrow_bytes_received": py.get(PYTHON_RECV, 0.0),
            "spatial_join.kernel_s": tr.get("kernel_s", 0.0),
        })
        for m in ("cell", "pip", "knn", "ocean", "none"):
            v[f"spatial_join.{m}_frac"] = methods.get(m, 0) / rows
    return {k: {"value": float(val), "unit": PER_LAYER[k]} for k, val in v.items()}


def traced_run(args, inputs: dict, run_dir: str, deadline: float, run_job, log,
               state_dir: str) -> dict:
    left = lambda: deadline - time.perf_counter()  # noqa: E731
    untraced = run_job(args.workload, inputs, run_dir, 0, left(), args.seed, args.scale)
    log(f"untraced job: wall {untraced['wall_s']:.2f}s" + (
        f" ERRORS {untraced['errors']}" if untraced["errors"] else ""))
    result_path = os.path.join(run_dir, "trace.json")
    traced = run_job(args.workload, inputs, run_dir, 1, left(), args.seed, args.scale,
                     tracer=result_path)
    log(f"traced job: wall {traced['wall_s']:.2f}s (process, incl. prefix timings)" + (
        f" ERRORS {traced['errors']}" if traced["errors"] else ""))
    jobs = [untraced, traced]
    failed = sum(1 for j in jobs if j["errors"])
    if traced["errors"] or not os.path.exists(result_path):
        return {"correct": False, "attempted": 2, "failed": max(failed, 1),
                "metrics": {k: {"value": 0.0, "unit": u} for k, u in PER_LAYER.items()}}
    with open(result_path) as f:
        tr = json.load(f)
    metrics = layer_metrics(tr, traced["report"], untraced["wall_s"])

    layers = dict(sorted(tr["layers"].items(), key=lambda kv: -kv[1]))
    total = sum(layers.values()) + tr["unattributed_s"]
    log(f"\nlayer table: {args.workload} seed={args.seed} run={tr['run_id']}")
    log(f"{'layer':<28}{'self s':>10}{'share':>8}{'task s':>10}")
    for k, s in layers.items():
        task = tr["layer_stages"].get(k, {}).get("task_s")
        log(f"{k:<28}{s:>10.3f}{s / tr['wall_s']:>8.1%}"
            + (f"{task:>10.3f}" if task is not None else ""))
    log(f"{'unattributed':<28}{tr['unattributed_s']:>10.3f}{tr['unattributed_s'] / tr['wall_s']:>8.1%}")
    log(f"{'= sum':<28}{total:>10.3f}   traced job wall {tr['wall_s']:.3f}s, "
        f"untraced {untraced['wall_s']:.3f}s, overhead {tr['wall_s'] - untraced['wall_s']:+.3f}s")
    for k, m in metrics.items():
        log(f"  {k:<36}{m['value']:>18.4f} {m['unit']}")
    os.makedirs(os.path.join(state_dir, "layers"), exist_ok=True)
    with open(os.path.join(state_dir, "layers", f"{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "layers": tr["layers"],
                   "unattributed_s": tr["unattributed_s"], "wall_s": tr["wall_s"],
                   "untraced_job_s": untraced["wall_s"], "metrics": metrics,
                   "prefix_s": tr.get("prefix_s"), "layer_stages": tr["layer_stages"],
                   "spans": tr["spans"]}, f, indent=1)
    return {"correct": failed == 0, "attempted": 2, "failed": failed, "metrics": metrics}


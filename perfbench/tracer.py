"""Traced in-process run of one production job:

    python3 perfbench/tracer.py RESULT.json JOB.py JOB_ARGS...

Calls the job's `main(argv)` in this fresh interpreter with spans
recorded around
  - every public function of the engine package the job calls directly,
    and StageManifest.run_stage,
  - every Spark action (collect, count, toPandas, take, checkpoints and
    DataFrameWriter saves), wherever it is called from,
  - the session start (Builder.getOrCreate) and stop.
Each span holds its name, layer, start, end, parent and the run id. Each
outermost action runs under its own Spark job group, so the stage
metrics of the status store (task time, GC, shuffle, spill, input) are
attributed to spans exactly; they are read once, just before the job
stops its session. The engine code is not modified: wrappers replace
module attributes for the duration of the process only, and keep the
wrapped function's module and qualified name, so UDF closures still
pickle by reference and run unwrapped on the Python workers.

After main returns, the Part B workloads time noop-sink prefixes of the
same snapshot (scan; + geocode; + assignment) to split the fused
scan->geocode->assign action, and time the assignment kernel alone on
numpy arrays of the generated coordinates. The layer table and the
per-layer metrics are written to RESULT.json.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import ast  # noqa: E402
import functools  # noqa: E402
import importlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pkgutil  # noqa: E402
import re  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402

from workloads import du  # noqa: E402


PKG = "timezone_boundary_builder_spark"

# module (last dotted component) -> layer, where the two differ
MODULE_LAYER = {
    "pages": "pages.scan",
    "fixtures": "cover",
    "spatial_join_sharded": "cover",
    "real_config": "real_config",
    "progress": "progress",
}
# functions whose layer is not their module's
FUNCTION_LAYER = {
    "local_cellmap": "cover",
    "local_zones": "cover",
    "cellmap_from_zones_pdf": "cover",
    "auto_cover_res": "cover",
    "choose_stage2": "cover",
    "lineage_table": "lineage",
}
# the assign stage's write runs scan -> geocode -> assign as one fused
# action; main() splits it into those layers with prefix timings
FUSED = "assign_pages.fused"
# run_stage(stage=...) -> layer of the stage's checkpoint write, per job
STAGE_LAYER = {
    "assign_pages": {"assign": FUSED},
    "build_all": {
        "assemble": "ring_assembly",
        "zones": "zone_build",
        "oceans": "oceans",
        "real_groups": "tz_fingerprint",
        "derived_1970": "derived",
        "derived_now": "derived",
        "derived_1970_oceans": "derived",
        "derived_now_oceans": "derived",
    },
    "clean_corpus": {
        "quality": "text.quality",
        "exact": "dedup.exact",
        "neardup": "dedup.verify",
        "decon": "dedup.decon",
        "mix": "sampling.mix",
        "pack": "sampling.pack",
    },
}
# top-level actions in the job's own code: first matching statement
# pattern names the layer
STATEMENT_LAYER = {
    "assign_pages": [
        (r"zones_parquet|\bzdf\b", "cover"),
        (r'groupBy\("method"\)', "assign_pages.methods"),
        (r"\bh_in\s*=", "assign_pages.hash_in"),
        (r"\bjoined\.write", "assign_pages.join_write"),
        (r"lineage_table\(|n_lineage", "lineage"),
        (r"\bh_out\s*=|\bwritten\s*=", "assign_pages.hash_out"),
    ],
    "build_all": [
        (r"lint_config\(", "lint"),
        (r"sources_assembled", "ring_assembly"),
        (r"zones\.count\(\)", "zone_build"),
        (r"oceans\.count\(\)", "oceans"),
        (r"groups_df_cached", "tz_fingerprint"),
        (r"\bdf\.count\(\)", "derived"),
        (r"release_diff|changes", "release_diff"),
    ],
    "clean_corpus": [
        (r"n_in\s*=|red\.agg", "input"),
        (r"quality\.count", "text.quality"),
        (r"exact\.count", "dedup.exact"),
        (r"neardup\.count", "dedup.verify"),
        (r"current\.count", "sampling.mix"),
        (r"packed", "sampling.pack"),
        (r"lineage", "lineage"),
    ],
}
# dedup layers by the neardup-stage function that runs them
DEDUP_FUNCTION_LAYER = {
    "minhash_signatures": "dedup.minhash",
    "minhash_lsh_pairs": "dedup.lsh",
    "ngram_jaccard_pairs": "dedup.verify",
    "connected_components": "dedup.cc",
}

MAIN_THREAD = threading.main_thread()
PID = os.getpid()


class Tracer:
    def __init__(self, job_file: str, job: str):
        self.job_file = job_file
        self.job = job
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.active = True
        self.spark = None
        self.returns: dict = {}
        self.stage_rows: list[dict] = []
        self.python_sql: dict = {}
        self.pages_scans = 0
        self.sql_seen = 0
        self.n_jobs = 0
        self.harvested = False
        self._stmts = _statements(job_file)

    def in_job_thread(self) -> bool:
        return self.active and os.getpid() == PID and threading.current_thread() is MAIN_THREAD

    def open(self, name: str, kind: str, layer: str | None, **extra) -> int:
        idx = len(self.spans)
        self.spans.append(
            {
                "id": idx,
                "run": self.run_id,
                "name": name,
                "kind": kind,
                "layer": layer,
                "parent": self.stack[-1] if self.stack else None,
                "start": time.perf_counter() - T_START,
                "end": None,
                **extra,
            }
        )
        self.stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter() - T_START
        while self.stack and self.stack[-1] != idx:
            self.stack.pop()
        if self.stack:
            self.stack.pop()

    def statement(self) -> str:
        """Source of the job-file statement executing the current call."""
        f = sys._getframe(2)
        while f is not None and f.f_code.co_filename != self.job_file:
            f = f.f_back
        if f is None:
            return ""
        best = ""
        best_span = None
        for lo, hi, text in self._stmts:
            if lo <= f.f_lineno <= hi and (best_span is None or hi - lo < best_span):
                best, best_span = text, hi - lo
        return best

    def jvm_rchar(self) -> int:
        """Bytes the session's JVM has read through read(2) so far (its
        input scans; the status store's inputBytes under-counts local
        parquet reads)."""
        try:
            pid = self.spark.sparkContext._gateway.proc.pid
            with open(f"/proc/{pid}/io") as f:
                return int(next(x for x in f if x.startswith("rchar:")).split()[1])
        except (AttributeError, OSError, StopIteration):
            return 0

    def in_action(self) -> bool:
        return any(self.spans[i]["kind"] == "action" for i in self.stack)


def _statements(path: str) -> list[tuple[int, int, str]]:
    with open(path) as f:
        src = f.read()
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.stmt) and not isinstance(
            node, (ast.FunctionDef, ast.If, ast.For, ast.While, ast.With, ast.Try)
        ):
            out.append((node.lineno, node.end_lineno, ast.get_source_segment(src, node) or ""))
    return out


TR: Tracer | None = None


# ------------------------------------------------------------- wrappers


def _fn_wrapper(fn, layer: str, name: str):
    @functools.wraps(fn)
    def traced(*a, **k):
        tr = TR
        if tr is None or not tr.in_job_thread() or sys._getframe(1).f_code.co_filename != tr.job_file:
            return fn(*a, **k)
        idx = tr.open(name, "fn", layer)
        try:
            r = fn(*a, **k)
        finally:
            tr.close(idx)
        tr.returns[name.rsplit(".", 1)[-1]] = r
        return r

    return traced


def _run_stage_wrapper(fn):
    @functools.wraps(fn)
    def traced(self, spark, stage, *a, **k):
        tr = TR
        if tr is None or not tr.in_job_thread():
            return fn(self, spark, stage, *a, **k)
        idx = tr.open(f"manifests.run_stage[{stage}]", "fn", "manifests", stage=stage)
        try:
            return fn(self, spark, stage, *a, **k)
        finally:
            tr.close(idx)

    return traced


def _action_wrapper(fn, name: str):
    @functools.wraps(fn)
    def traced(*a, **k):
        tr = TR
        if tr is None or not tr.in_job_thread():
            return fn(*a, **k)
        nested = tr.in_action()
        stmt = "" if tr.stack else tr.statement()
        idx = tr.open(name, "action", None, stmt=stmt, nested=nested, read0=tr.jvm_rchar())
        sc = tr.spark.sparkContext if tr.spark is not None else None
        prev = None
        if sc is not None and not nested:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{idx}")
        try:
            return fn(*a, **k)
        finally:
            if sc is not None and not nested:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                poll_sql(tr, tr.spark)
            tr.spans[idx]["read_bytes"] = tr.jvm_rchar() - tr.spans[idx]["read0"]
            tr.close(idx)

    return traced


def _session_wrapper(fn, name: str, layer: str, before=None, after=None):
    @functools.wraps(fn)
    def traced(*a, **k):
        tr = TR
        if tr is None or not tr.in_job_thread() or sys._getframe(1).f_code.co_filename != tr.job_file:
            return fn(*a, **k)
        if before is not None:
            before(tr, *a)
        idx = tr.open(name, "session", layer)
        try:
            r = fn(*a, **k)
        finally:
            tr.close(idx)
        if after is not None:
            after(tr, r)
        return r

    return traced


def install(tr: Tracer) -> None:
    import pyspark.sql.readwriter as rw
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older pyspark layout
        from pyspark.sql import DataFrame

    pkg = importlib.import_module(PKG)
    modules = [pkg] + [
        importlib.import_module(m.name)
        for m in pkgutil.walk_packages(pkg.__path__, PKG + ".")
    ]
    originals: dict[int, object] = {}
    for mod in modules:
        short = mod.__name__.rsplit(".", 1)[-1]
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or isinstance(obj, type) or not callable(obj):
                continue
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            layer = FUNCTION_LAYER.get(attr) or DEDUP_FUNCTION_LAYER.get(attr) or MODULE_LAYER.get(short, short)
            originals[id(obj)] = _fn_wrapper(obj, layer, f"{short}.{attr}")
    # rebind every module's reference (including `from x import f` copies)
    for mod in modules:
        for attr, obj in list(vars(mod).items()):
            w = originals.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)

    from timezone_boundary_builder_spark.plans.manifests import StageManifest

    StageManifest.run_stage = _run_stage_wrapper(StageManifest.run_stage)

    for meth in ("collect", "count", "toPandas", "take", "first", "head",
                 "checkpoint", "localCheckpoint", "toLocalIterator"):
        if hasattr(DataFrame, meth):
            setattr(DataFrame, meth, _action_wrapper(getattr(DataFrame, meth), f"spark.{meth}"))
    for meth in ("save", "parquet", "json", "csv", "text", "orc", "saveAsTable", "insertInto"):
        if hasattr(rw.DataFrameWriter, meth):
            setattr(rw.DataFrameWriter, meth,
                    _action_wrapper(getattr(rw.DataFrameWriter, meth), f"spark.write.{meth}"))
    # reads list files and read footers (sometimes as a Spark job), and
    # a broadcast pickles and ships its value: both are work the job's
    # own process does while it waits
    rw.DataFrameReader.parquet = _action_wrapper(rw.DataFrameReader.parquet, "spark.read.parquet")
    SparkContext.broadcast = _session_wrapper(SparkContext.broadcast, "spark.broadcast", "broadcast")

    def _got_session(t, spark):
        t.spark = spark

    SparkSession.Builder.getOrCreate = _session_wrapper(
        SparkSession.Builder.getOrCreate, "session.start", "session", after=_got_session
    )
    SparkSession.stop = _session_wrapper(
        SparkSession.stop, "session.stop", "session.stop", before=lambda t, s: harvest(t, s)
    )


# ------------------------------------------------------------ status store


def _jlist(sc):
    return sc._jvm.java.util.ArrayList()


def _opt(o):
    return o.get() if o.isDefined() else None


def poll_sql(tr: Tracer, spark) -> None:
    """Python-UDF SQL metrics (ArrowEvalPython) and pages-table scans of
    the SQL executions finished since the last poll. Read while the plans
    are alive, from the session's accumulators, so the values are exact."""
    sql = spark._jsparkSession.sharedState().statusStore()
    n = int(sql.executionsCount())
    if n <= tr.sql_seen:
        return
    acc_ctx = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
    it = sql.executionsList(tr.sql_seen, n - tr.sql_seen).iterator()
    tr.sql_seen = n
    while it.hasNext():
        e = it.next()
        desc = e.physicalPlanDescription() or ""
        tr.pages_scans += sum(
            1 for line in desc.splitlines()
            if line.strip().startswith("Location:") and "/pages/data/" in line
        )
        if "ArrowEvalPython" not in desc:
            continue
        nodes = sql.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if "ArrowEvalPython" not in node.name():
                continue
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                acc = acc_ctx.get(m.accumulatorId())
                if not acc.isDefined():
                    continue
                v = float(acc.get().value())
                if m.metricType() == "timing":
                    v /= 1e3
                elif m.metricType() == "nsTiming":
                    v /= 1e9
                tr.python_sql[m.name()] = tr.python_sql.get(m.name(), 0.0) + v


def harvest(tr: Tracer, spark) -> None:
    """Read stage, job and SQL metrics from the status stores once, before
    the job stops its session."""
    if tr.harvested or spark is None:
        return
    tr.harvested = True
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    from py4j.protocol import Py4JError

    try:
        jsc.listenerBus().waitUntilEmpty(10000)
    except Py4JError:  # not reachable through the gateway: let it drain
        time.sleep(1.0)
    store = jsc.statusStore()
    empty = _jlist(sc)
    jobs = store.jobsList(empty).iterator()
    stage_group: dict[int, str] = {}
    while jobs.hasNext():
        j = jobs.next()
        tr.n_jobs += 1
        group = _opt(j.jobGroup())
        it = j.stageIds().iterator()
        while it.hasNext():
            stage_group[int(it.next())] = group
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    it = store.stageList(empty, False, False, no_q, empty).iterator()
    while it.hasNext():
        s = it.next()
        sid = int(s.stageId())
        tr.stage_rows.append(
            {
                "stage": sid,
                "group": stage_group.get(sid),
                "task_s": s.executorRunTime() / 1e3,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": int(s.inputBytes()),
                "output_bytes": int(s.outputBytes()),
                "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                "spill_bytes": int(s.memoryBytesSpilled() + s.diskBytesSpilled()),
            }
        )
    poll_sql(tr, spark)


# --------------------------------------------------------------- layers


def span_layers(tr: Tracer) -> None:
    """Resolve the layer of every action span."""
    spans = tr.spans
    rules = STATEMENT_LAYER.get(tr.job, [])
    for s in spans:
        if s["layer"] is not None:
            continue
        parent = spans[s["parent"]] if s["parent"] is not None else None
        if parent is not None and parent["kind"] == "action":
            s["layer"] = parent["layer"]  # resolved already: parents come first
        elif parent is None:
            s["layer"] = next(
                (lay for pat, lay in rules if re.search(pat, s.get("stmt", ""))),
                f"{tr.job}.actions",
            )
        elif parent["name"].startswith("manifests.run_stage"):
            # the stage's checkpoint write runs the stage's plan; its
            # re-read of the checkpoint is the manifest's own work
            lay = "manifests"
            if s["name"].startswith("spark.write"):
                lay = STAGE_LAYER.get(tr.job, {}).get(parent["stage"])
                if lay is None:
                    kids = [c for c in spans if c["parent"] == parent["id"] and c["kind"] == "fn"]
                    lay = kids[-1]["layer"] if kids else "manifests"
            s["layer"] = lay
        else:
            s["layer"] = parent["layer"]


def self_times(tr: Tracer, wall_end: float) -> tuple[dict, float]:
    """Per-layer self time and the unattributed remainder of the wall."""
    spans = tr.spans
    child_sum = [0.0] * len(spans)
    for s in spans:
        if s["end"] is None:
            s["end"] = wall_end
        if s["parent"] is not None:
            child_sum[s["parent"]] += s["end"] - s["start"]
    layers: dict[str, float] = {}
    for s in spans:
        self_s = (s["end"] - s["start"]) - child_sum[s["id"]]
        s["self"] = self_s
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + self_s
    top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    return layers, top


STAGE_KEYS = ("task_s", "gc_s", "input_bytes", "output_bytes", "shuffle_write_bytes", "spill_bytes")


def stage_totals(rows: list[dict]) -> dict:
    return {k: sum(r[k] for r in rows) for k in STAGE_KEYS}


def layer_stage_totals(tr: Tracer) -> dict:
    """Status-store counters per layer: each stage belongs to the span
    whose job group ran it (stages outside any action go to 'unspanned')."""
    by_group: dict = {}
    for r in tr.stage_rows:
        by_group.setdefault(r["group"], []).append(r)
    out: dict = {}
    for group, rows in by_group.items():
        sid = group.split("-", 1)[1] if group and group.startswith("perfbench-") else None
        layer = tr.spans[int(sid)]["layer"] if sid is not None else "unspanned"
        acc = out.setdefault(layer, dict.fromkeys(STAGE_KEYS, 0))
        for k, v in stage_totals(rows).items():
            acc[k] += v
    return out


# ------------------------------------------------- Part B prefix timings


def _arg(argv: list[str], flag: str):
    return argv[argv.index(flag) + 1] if flag in argv else None


def prefix_times(argv: list[str], cm) -> dict:
    """Warm timings of the fused action's prefixes over the same snapshot
    (noop sinks: scan; + geocode; + assignment; then the same query
    written to parquet as the checkpoint is), each the faster of two
    passes on a session configured as the job configures its own."""
    from pyspark.sql import SparkSession

    from timezone_boundary_builder_spark.operators.geocode import with_coordinates
    from timezone_boundary_builder_spark.operators.spatial_join import (
        assign_tzid_udf_packed,
        pack_coords_col,
    )
    from timezone_boundary_builder_spark.sources import pages as pages_table
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS

    cores = int(_arg(argv, "--cores") or 8)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench-prefixes")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        root = _arg(argv, "--pages-root")
        sid = pages_table.current_snapshot_id(root)
        bands = OCEAN_BANDS
        if _arg(argv, "--ocean-bands") == "real":
            from timezone_boundary_builder_spark.sources.real_config import real_ocean_bands_pdf

            bands = real_ocean_bands_pdf().to_dict("records")
        bc = spark.sparkContext.broadcast(cm)

        def scan():
            return pages_table.scan(spark, root, snapshot_id=sid)

        def q_scan():
            return scan().select("url", "warc_ts", "text")

        def q_geo():
            return with_coordinates(scan()).select("url", "warc_ts", pack_coords_col())

        def q_assign():
            return assign_tzid_udf_packed(q_geo(), bc, bands)

        sink = os.path.join(os.path.dirname(os.path.abspath(_arg(argv, "--work-dir"))), "prefix")
        times: dict[str, list] = {"scan": [], "geocode": [], "assign": [], "write": []}
        for _ in range(2):
            for name, q in (("scan", q_scan), ("geocode", q_geo), ("assign", q_assign),
                            ("write", q_assign)):
                w = q().write.mode("overwrite")
                t0 = time.perf_counter()
                if name == "write":
                    w.parquet(sink)
                else:
                    w.format("noop").save()
                times[name].append(time.perf_counter() - t0)
        return {k: min(v) for k, v in times.items()}
    finally:
        spark.stop()


def kernel_time(cm, coords_path: str) -> float:
    """assign_codes over the generated coordinates, numpy only; median of 3."""
    import numpy as np

    from timezone_boundary_builder_spark.operators.spatial_join import (
        KNN_MAX_METERS,
        assign_codes,
    )
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS

    arr = np.load(coords_path)
    lon, lat = arr[0], arr[1]
    edges = np.array([b["left"] for b in OCEAN_BANDS] + [OCEAN_BANDS[-1]["right"]])
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        assign_codes(cm, edges, len(OCEAN_BANDS), lon, lat, KNN_MAX_METERS)
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


# ------------------------------------------------------------------ main


def _process_age() -> float:
    """Seconds since this process was spawned (interpreter start-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def main() -> int:
    global TR
    startup = max(_process_age() - (time.perf_counter() - T_START), 0.0)
    result_path, job_py = sys.argv[1:3]
    argv = sys.argv[3:]
    job_py = os.path.abspath(job_py)
    job = os.path.splitext(os.path.basename(job_py))[0]
    spec = importlib.util.spec_from_file_location(f"perfbench_job_{job}", job_py)
    job_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job_mod)
    tr = Tracer(job_py, job)
    install(tr)
    TR = tr
    t_main = time.perf_counter() - T_START
    rc = job_mod.main(argv)
    t_end = time.perf_counter() - T_START
    if not tr.harvested and tr.spark is not None:
        harvest(tr, tr.spark)
    tr.active = False

    span_layers(tr)
    layers, top = self_times(tr, t_end)
    layers["python.startup"] = startup + t_main
    wall = startup + t_end
    extra: dict = {}
    fused = [s for s in tr.spans if s["layer"] == FUSED]
    if fused:
        cm = tr.returns.get("local_cellmap") or tr.returns.get("cellmap_from_zones_pdf")
        a = layers.pop(FUSED)
        pre = prefix_times(argv, cm)
        # warm increments of each prefix; whatever the job's (cold, first)
        # fused action took beyond the warm full query is its cold start
        parts = {
            "pages.scan": pre["scan"],
            "geocode": max(pre["geocode"] - pre["scan"], 0.0),
            "spatial_join": max(pre["assign"] - pre["geocode"], 0.0),
            "manifests": max(pre["write"] - pre["assign"], 0.0),
        }
        warm = sum(parts.values())
        scale = min(1.0, a / warm) if warm > 0 else 0.0
        parts = {k: v * scale for k, v in parts.items()}
        parts["assign_pages.cold_start"] = a - sum(parts.values())
        for k, v in parts.items():
            layers[k] = layers.get(k, 0.0) + v
        extra["prefix_s"] = pre
        extra["fused_s"] = a
        extra["fused_read_bytes"] = sum(s.get("read_bytes", 0) for s in fused)
        coords = os.path.join(os.path.dirname(os.path.abspath(_arg(argv, "--pages-root"))), "coords.npy")
        if cm is not None and os.path.exists(coords):
            extra["kernel_s"] = kernel_time(cm, coords)
        if cm is not None:
            extra["cover_cells"] = int(len(cm.full_cells) + len(cm.bnd_cells))
    extra["unattributed_s"] = wall - layers["python.startup"] - top
    out = {
        "returncode": rc,
        "run_id": tr.run_id,
        "wall_s": wall,
        "layers": layers,
        "spans": [
            {k: s.get(k) for k in ("id", "run", "name", "layer", "start", "end", "parent", "self")}
            for s in tr.spans
        ],
        "stages": stage_totals(tr.stage_rows),
        "layer_stages": layer_stage_totals(tr),
        "python_sql": tr.python_sql,
        "pages_scans": tr.pages_scans,
        "actions": sum(1 for s in tr.spans if s["kind"] == "action" and not s["nested"]),
        "spark_jobs": tr.n_jobs,
        "work_bytes": du(_arg(argv, "--work-dir")),
        **extra,
    }
    with open(result_path, "w") as f:
        json.dump(out, f)
    return rc or 0


if __name__ == "__main__":
    sys.exit(main())

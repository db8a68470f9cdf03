"""Self-tests of the benchmark (not part of the repository's tier-1 suite):

    python3 -m pytest perfbench -q

Generators are deterministic per seed, every metric name is well formed
and declared in BENCHMARK.json, and a tiny-size run of each workload
(timed, plus one traced run) passes its output checks.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from run import E2E_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same(a, b) -> bool:
    if isinstance(a, pd.DataFrame):
        return a.equals(b)
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b, equal_nan=a.dtype.kind == "f")
    if isinstance(a, (tuple, list)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.pages_frame(500, s, "wide"),
        lambda s: gen.pages_frame(500, s, "slim", gen.ring_heavy_world(8, 8, 64, s)),
        lambda s: gen.ring_heavy_world(8, 8, 64, s),
        lambda s: gen.corpus_frame(800, s),
    ],
    ids=["pages_wide", "pages_slim", "ring_world", "corpus"],
)
def test_generator_deterministic_per_seed(make):
    assert _same(make(5), make(5))
    assert not _same(make(5), make(6))


def test_config_dir_deterministic_per_seed(tmp_path):
    def files(seed, d):
        gen.config_dir(str(d), seed)
        return {n: (d / n).read_text() for n in sorted(os.listdir(d))}

    a, b, c = files(5, tmp_path / "a"), files(5, tmp_path / "b"), files(6, tmp_path / "c")
    assert a == b and a != c
    assert len(json.loads(a["timezones.json"])) == gen.N_TZIDS


def test_metric_names_well_formed_and_declared():
    bench = _bench()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == E2E_UNITS
    assert per == PER_LAYER
    names = [w["name"] for w in bench["workloads"]] + list(e2e) + list(per)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(w["name"] in WORKLOADS for w in bench["workloads"])


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_passes_output_checks(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(E2E_UNITS)
    assert all(NAME.match(k) and v["value"] > 0 for k, v in res["metrics"].items())


def test_tiny_traced_run_layers_add_up():
    proc = _run("assign_wide", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and set(res["metrics"]) == set(PER_LAYER)
    with open(os.path.join(ROOT, ".perfbench", "layers", "assign_wide-3.json")) as f:
        table = json.load(f)
    total = sum(table["layers"].values()) + table["unattributed_s"]
    assert total == pytest.approx(table["wall_s"], rel=1e-9)
    assert res["metrics"]["spatial_join.kernel_s"]["value"] > 0
    assert res["metrics"]["spatial_join.arrow_bytes_sent"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run(_bench()["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_pages_table_matches_commit_append(tmp_path):
    """The benchmark's pyarrow writer yields the same table, read through
    the engine's snapshot scan, as the engine's own commit_append."""
    from pyspark.sql import SparkSession

    from timezone_boundary_builder_spark.sources import pages

    frame = gen.pages_frame(300, 9, "wide")[0]
    mine, theirs = str(tmp_path / "mine"), str(tmp_path / "theirs")
    gen.write_pages_table(mine, frame)
    spark = (SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    try:
        pages.commit_append(theirs, spark.createDataFrame(frame, pages.PAGES_SCHEMA))

        def rows(root):
            return sorted(tuple(r) for r in pages.scan(spark, root).collect())

        def days(root):
            return sorted((e["ts_day"], e["rows"]) for e in pages.read_snapshot(root)["manifest"])

        assert rows(mine) == rows(theirs)
        assert days(mine) == days(theirs)
    finally:
        spark.stop()

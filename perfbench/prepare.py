"""Benchmark set-up: generate a workload's inputs from the seed.

`prepare` generates the inputs `reps` times (more while under three seconds
has been spent), each into a fresh <base>/setup-<i> of which only the
last is kept, and times each repetition (generation and table commit);
setup_s is their median. It also records what the job's output is
checked against (perfbench/workloads.py).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen
from workloads import WORKLOADS, du

MIN_SETUP_S, MAX_REPS = 3.0, 60


def _method_counts(methods: np.ndarray) -> dict:
    from timezone_boundary_builder_spark.operators.spatial_join import METHOD_NAMES

    counts = np.bincount(methods.astype(np.int64), minlength=len(METHOD_NAMES))
    return {m: int(c) for m, c in zip(METHOD_NAMES, counts) if c}


def _expect_fixture_methods(lon_u, lat_u, has) -> dict:
    """The method mix the assignment kernel gives the generated
    coordinates on the fixture world: what the Spark pipeline must
    reproduce once geocoding, the packed codec and the Arrow crossing
    have had their say."""
    from timezone_boundary_builder_spark.operators.spatial_join import (
        KNN_MAX_METERS,
        assign_codes,
    )
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS, local_cellmap

    edges = np.array([b["left"] for b in OCEAN_BANDS] + [OCEAN_BANDS[-1]["right"]])
    lon, lat = gen.decoded_lonlat(lon_u, lat_u, has)
    _, method = assign_codes(local_cellmap(), edges, len(OCEAN_BANDS), lon, lat, KNN_MAX_METERS)
    return _method_counts(method)


def _prepare_once(name: str, seed: int, out: str, size: dict) -> dict:
    os.makedirs(out)
    if name == "assign_wide":
        frame, lon_u, lat_u, has, _ = gen.pages_frame(size["rows"], seed, "wide")
        gen.write_pages_table(os.path.join(out, "pages"), frame)
        return {"rows": len(frame), "coords": (lon_u, lat_u, has)}
    if name == "assign_dense":
        world = gen.ring_heavy_world(size["gx"], size["gy"], size["edges"], seed)
        gen.write_zone_parquet(os.path.join(out, "zones.parquet"), world["table"])
        frame, lon_u, lat_u, has, expect = gen.pages_frame(size["rows"], seed, "slim", world)
        gen.write_pages_table(os.path.join(out, "pages"), frame)
        return {"rows": len(frame), "coords": (lon_u, lat_u, has), "expect": expect}
    if name == "build_zones":
        facts = gen.config_dir(os.path.join(out, "config"), seed, size["tzids"])
        return {"rows": facts["zones"], "facts": facts}
    if name == "corpus_clean":
        frame, facts = gen.corpus_frame(size["rows"], seed)
        gen.write_corpus(os.path.join(out, "docs.parquet"), frame)
        return {"rows": len(frame), "facts": facts}
    raise ValueError(name)


def prepare(name: str, seed: int, base: str, reps: int, scale: str) -> tuple[list, dict]:
    """(setup seconds per repetition, inputs record)."""
    wl = WORKLOADS[name]
    size = wl["sizes"][scale]
    times: list[float] = []
    last = None
    # cheap set-ups repeat until MIN_SETUP_S is spent, so their median
    # is not a single filesystem hiccup
    while len(times) < reps or (sum(times) < MIN_SETUP_S and len(times) < MAX_REPS):
        out = os.path.join(base, f"setup-{len(times)}")
        t0 = time.perf_counter()
        made = _prepare_once(name, seed, out, size)
        times.append(time.perf_counter() - t0)
        if last is not None:
            shutil.rmtree(last)
        last = out
    # keep the write-back of the inputs out of the timed jobs
    os.sync()

    inputs = {"dir": last, "rows": made["rows"]}
    if "coords" in made:
        # the decoded coordinates, for the traced run's kernel-only timing
        lon, lat = gen.decoded_lonlat(*made["coords"])
        np.save(os.path.join(last, "coords.npy"), np.stack([lon, lat]))
    if name == "assign_wide":
        inputs["methods"] = _expect_fixture_methods(*made["coords"])
    elif name == "assign_dense":
        e = made["expect"]
        inputs["land"] = int((e == 0).sum())
        inputs["methods"] = {
            k: int((e == c).sum()) for k, c in (("knn", 2), ("ocean", 3), ("none", 4))
        }
    else:
        inputs["facts"] = made["facts"]
    inputs["bytes"] = sum(du(os.path.join(last, p)) for p in wl["input_paths"])
    return times, inputs

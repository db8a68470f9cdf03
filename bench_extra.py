"""Round-7 optimization measurement harness (bench.py is FROZEN for the
driver, so per-query isolation work lives here — guide §1.4).

Usage:
  python bench_extra.py time  [sf_dir] [q1 q2 ...]   # per-query wall (2 passes,
                                                     # .count() like bench.py)
  python bench_extra.py noop  [sf_dir] [q1 q2 ...]   # noop-sink isolation
  python bench_extra.py plans [before|after] [q1 ..] # .explain(formatted) ->
                                                     # plans/r07/<q>_<tag>.txt
  python bench_extra.py cover [reps]                 # driver-side cover build,
                                                     # no Spark
  python bench_extra.py kernel [points] [reps]       # stage-2 PIP/kNN kernel,
                                                     # no Spark

Prints one JSON line per mode; diagnostics to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_QUERIES = [
    "geo_pip_assign",
    "geo_knn_assign",
    "geo_zone_build",
    "geo_validate_overlaps",
    "geo_ocean_zones",
    "dedup_exact",
    "dedup_minhash",
    "dedup_lsh_pairs",
    "dedup_clusters",
    "pipeline_clean",
    "events_sessions",
    "text_quality",
    "text_langid",
    "text_repetition",
    "pipeline_gopher",
    "geo_tiles_skew",
    "multimodal_decode",
    "ann_recall",
    "decontaminate",
    "pii_redact",
    "mix_sources",
    "ann_cosine_topk",
    "rel_pricing_summary",
    "rel_top_customer_per_nation",
    "rel_customer_order_stats",
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def make_spark(cores: int | None = None):
    from bench import make_spark as bench_make_spark

    return bench_make_spark(cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32")))


def ring_heavy_world(grid: int, edges: int, seed: int = 23):
    """Ring-heavy frontier world (round-6 verdict item 4): grid x grid
    wavy polygons with `edges` vertices each — real worlds are
    geometry-payload-dominated, and both prior frontier worlds were
    4-edge quads. Each zone is a star-wavy ring inscribed in its grid
    cell (disjoint by construction, gaps are ocean), snapped to the 1e-6
    grid the packed codec uses. Returns the (tzid, geometry, bbox)
    pandas frame collect_cell_map consumes."""
    import json as _json

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    dx, dy = 360.0 / grid, 180.0 / grid
    th = 2.0 * np.pi * np.arange(edges) / edges
    rows = []
    for j in range(grid):
        for i in range(grid):
            cx = -180.0 + (i + 0.5) * dx
            cy = -90.0 + (j + 0.5) * dy
            phase = float(rng.uniform(0, 2 * np.pi))
            wob = 1.0 + 0.25 * np.sin(5 * th + phase)
            xs = np.round((cx + 0.45 * dx * wob / 1.25 * np.cos(th)) * 1e6) / 1e6
            ys = np.round((cy + 0.45 * dy * wob / 1.25 * np.sin(th)) * 1e6) / 1e6
            ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
            ring.append(ring[0])
            rows.append(
                {
                    "tzid": f"W/{j:03d}/{i:03d}",
                    "geometry": _json.dumps(
                        {"type": "Polygon", "coordinates": [ring]}
                    ),
                    "min_x": float(xs.min()),
                    "min_y": float(ys.min()),
                    "max_x": float(xs.max()),
                    "max_y": float(ys.max()),
                }
            )
    return pd.DataFrame(rows)


def frontier_leg(grid: int, edges: int, points: int) -> dict:
    """Broadcast vs sharded stage-2 on a ring-heavy world, same-run —
    the round-6 verdict item 4 datapoint (edges/zone >> 4 moves the map
    payload toward geometry, which is exactly what the sharded path
    refuses to broadcast). Mirrors bench.py's xl-leg protocol: packed
    broadcast kernel vs plain-point sharded join, warm best-of-2."""
    import pickle
    import time as _t

    from pyspark.sql import functions as F

    import bench
    from timezone_boundary_builder_spark.operators.cover import (
        auto_cover_res,
        build_cell_covers,
        collect_cell_map,
    )
    from timezone_boundary_builder_spark.operators.spatial_join_sharded import (
        assign_tzid_sharded,
        choose_stage2,
        estimate_map_bytes,
        zone_edges_frame,
    )
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS

    spark = make_spark()
    try:
        t0 = _t.perf_counter()
        world = ring_heavy_world(grid, edges)
        res = auto_cover_res(world)
        zones_df = spark.createDataFrame(world)
        cm = collect_cell_map(build_cell_covers(zones_df, max_res=res), zones_df)
        build_s = _t.perf_counter() - t0
        full_pickle = len(pickle.dumps(cm, protocol=pickle.HIGHEST_PROTOCOL))
        mode, est = choose_stage2(cm)
        rec = {
            "frontier_zones": len(cm.tzids),
            "frontier_edges_per_zone": edges,
            "frontier_cover_res": int(res),
            "frontier_cover_cells": int(len(cm.full_cells) + len(cm.bnd_cells)),
            "frontier_cover_build_sec": round(build_s, 2),
            "frontier_full_map_pickle_bytes": full_pickle,
            "frontier_full_map_est_bytes": est,
            "frontier_auto_stage2": mode,
        }
        log(f"frontier world: {rec}")
        # broadcast path (packed kernel, the bench run_assignment shape)
        bench.run_assignment(spark, 500_000, cellmap=cm)  # warmup
        dt_b = min(bench.run_assignment(spark, points, cellmap=cm) for _ in range(2))
        rec["frontier_pages_per_sec_broadcast"] = round(points / dt_b)
        log(f"  broadcast: {dt_b:.2f}s -> {rec['frontier_pages_per_sec_broadcast']:,} pages/s")
        # sharded path
        slim = cm.slim()
        rec["frontier_slim_bytes"] = len(
            pickle.dumps(slim, protocol=pickle.HIGHEST_PROTOCOL)
        )
        slim_bc = spark.sparkContext.broadcast(slim)
        tz_bc = spark.sparkContext.broadcast(list(cm.tzids))
        edges_df = zone_edges_frame(
            spark.createDataFrame(world[["tzid", "geometry"]]), tz_bc, n_shards=256
        ).persist()
        edges_df.count()

        def one_sharded() -> float:
            pts = bench.synthetic_points(spark, points)
            t0 = _t.perf_counter()
            out = assign_tzid_sharded(pts, slim_bc, edges_df, OCEAN_BANDS, n_shards=256)
            assert out.agg(F.count("tzid")).collect()[0][0] > 0
            dt = _t.perf_counter() - t0
            out.sharded_release()
            return dt

        one_sharded()  # warmup
        dt_s = min(one_sharded() for _ in range(2))
        rec["frontier_pages_per_sec_sharded"] = round(points / dt_s)
        rec["frontier_points"] = points
        log(f"  sharded: {dt_s:.2f}s -> {rec['frontier_pages_per_sec_sharded']:,} pages/s")
        return rec
    finally:
        spark.stop()


def cover_leg(reps: int = 3) -> dict:
    """Driver-side cover build, no Spark: best-of-`reps` seconds of
    `cover_polygons` alone and of the whole `cellmap_from_zones_pdf` on
    the benchmark's 512-zone ring world (perfbench `assign_dense`:
    32 x 16 zones of 64 edges, seed 1) and on a 64 x 64 (4,096-zone)
    world of the same shape, each at its `auto_cover_res`. Records the
    host probe of perfbench/run.py next to the numbers."""
    import time as _t

    from perfbench.gen import ring_heavy_world as gen_world
    from perfbench.run import host_facts
    from timezone_boundary_builder_spark.geom.cellindex import cover_polygons
    from timezone_boundary_builder_spark.geom.codec import from_geojson
    from timezone_boundary_builder_spark.operators.cover import (
        auto_cover_res,
        cellmap_from_zones_pdf,
    )

    def best(fn) -> float:
        times = []
        for _ in range(reps):
            t0 = _t.perf_counter()
            fn()
            times.append(_t.perf_counter() - t0)
        return round(min(times), 3)

    rec: dict[str, object] = {"cover_reps": reps, "host": host_facts()}
    for gx, gy in ((32, 16), (64, 64)):
        world = gen_world(gx, gy, 64, 1)["table"]
        res = auto_cover_res(world)
        geoms = [from_geojson(g) for g in world["geometry"]]
        key = f"cover_{gx * gy}"
        rec[f"{key}_res"] = res
        rec[f"{key}_cells"] = int(len(cover_polygons(geoms, res)[1]))
        rec[f"{key}_cover_sec"] = best(lambda: cover_polygons(geoms, res))
        rec[f"{key}_cellmap_sec"] = best(lambda: cellmap_from_zones_pdf(world, res))
        log(f"cover {gx}x{gy} at res {res}: {rec[f'{key}_cover_sec']} s cover, "
            f"{rec[f'{key}_cellmap_sec']} s cellmap")
    rec["host_after"] = host_facts()
    return rec


def kernel_worlds():
    """(name, CellMap) of the kernel leg: the 8-zone fixture, the
    419-box reference world, perfbench's ring worlds (512 and 4,096 zones
    of 64 edges, 32 of 2,000 and 8 of 20,000 edges) at their
    `auto_cover_res`, and the 10,000-quad dense world at res 9, whole
    and with every 9th quad removed (its holes are the kNN half)."""
    import bench
    from perfbench.gen import ring_heavy_world as gen_world
    from timezone_boundary_builder_spark.operators.cover import (
        auto_cover_res,
        cellmap_from_zones_pdf,
    )
    from timezone_boundary_builder_spark.sources.fixtures import (
        dense_zone_world,
        local_cellmap,
    )

    yield "fixture_8", local_cellmap()
    yield "reference_419", bench.reference_world_cellmap(max_res=9)
    for gx, gy, edges in ((32, 16, 64), (64, 64, 64), (8, 4, 2000), (4, 2, 20_000)):
        world = gen_world(gx, gy, edges, 1)["table"]
        yield f"ring_{gx * gy}x{edges}", cellmap_from_zones_pdf(world, auto_cover_res(world))
    quads = dense_zone_world(100, 100)
    yield "quads_10000", cellmap_from_zones_pdf(quads, 9)
    holey = quads.iloc[[i for i in range(len(quads)) if i % 9]].reset_index(drop=True)
    yield "quads_holey", cellmap_from_zones_pdf(holey, 9)


def kernel_leg(points: int = 200_000, reps: int = 3) -> dict:
    """Stage-2 kernel time, driver only (no Spark): best-of-`reps`
    seconds of `assign_codes` over `points` uniform random points (seed
    1) on each kernel_worlds() world, split by the path a point takes:
    `pip_sec` runs the points that land on a zone (method cell or pip),
    `knn_sec` the points that miss every zone (knn, ocean or none).
    The kNN half of the 20,000-edge world is skipped to keep the leg
    short. Records the host probe of perfbench/run.py next to the
    numbers."""
    import time as _t

    import numpy as np

    from perfbench.run import host_facts
    from timezone_boundary_builder_spark.operators.spatial_join import (
        M_CELL,
        M_PIP,
        METHOD_NAMES,
        assign_codes,
    )

    rng = np.random.default_rng(1)
    lon, lat = rng.uniform(-180, 180, points), rng.uniform(-90, 90, points)
    none = np.zeros(0)
    rec: dict[str, object] = {"kernel_points": points, "kernel_reps": reps,
                              "host": host_facts()}
    for name, cm in kernel_worlds():
        _, method = assign_codes(cm, none, 0, lon, lat, 1852.0)
        land = (method == M_CELL) | (method == M_PIP)
        rec[f"{name}_res"] = int(cm.finest)
        rec[f"{name}_methods"] = {
            METHOD_NAMES[m]: int(c) for m, c in zip(*np.unique(method, return_counts=True))
        }
        halves = [("pip", land)] + ([] if name.endswith("x20000") else [("knn", ~land)])
        for half, sel in halves:
            x, y = lon[sel], lat[sel]
            times = []
            for _ in range(reps):
                t0 = _t.perf_counter()
                assign_codes(cm, none, 0, x, y, 1852.0)
                times.append(_t.perf_counter() - t0)
            rec[f"{name}_{half}_sec"] = round(min(times), 4)
        log(f"kernel {name}: " + ", ".join(
            f"{h} {rec.get(f'{name}_{h}_sec')} s" for h in ("pip", "knn")))
    rec["host_after"] = host_facts()
    return rec


def sharded_scaling_leg(points: int = 8_000_000) -> dict:
    """local[1] vs local[4] scaling of the SHARDED stage-2 path at the
    419-zone reference world (round-6 verdict item 5: the >=0.8
    efficiency rule was only evidenced on the broadcast path; the
    sharded join shuffles residue pairs, winner aggs and verdict joins
    and could scale differently)."""
    import pickle
    import time as _t

    from pyspark.sql import functions as F

    import bench
    from timezone_boundary_builder_spark.operators.spatial_join_sharded import (
        assign_tzid_sharded,
        zone_edges_frame,
    )
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS

    cm = bench.reference_world_cellmap()
    world_pdf = None  # edges need (tzid, geometry)
    import pandas as pd

    world_pdf = pd.DataFrame(
        {"tzid": cm.tzids, "geometry": cm.geojson}
    )
    thr = {}
    for cores in (1, 4):
        spark = make_spark(cores)
        try:
            slim_bc = spark.sparkContext.broadcast(cm.slim())
            tz_bc = spark.sparkContext.broadcast(list(cm.tzids))
            edges_df = zone_edges_frame(
                spark.createDataFrame(world_pdf), tz_bc, n_shards=64
            ).persist()
            edges_df.count()

            def one() -> float:
                pts = bench.synthetic_points(spark, points)
                t0 = _t.perf_counter()
                out = assign_tzid_sharded(
                    pts, slim_bc, edges_df, OCEAN_BANDS, n_shards=64
                )
                assert out.agg(F.count("tzid")).collect()[0][0] == points
                dt = _t.perf_counter() - t0
                out.sharded_release()
                return dt

            one()  # warmup
            dt = min(one() for _ in range(2))
            thr[cores] = points / dt
            log(f"  sharded local[{cores}]: {dt:.2f}s -> {thr[cores]:,.0f} pages/s")
        finally:
            spark.stop()
    return {
        "sharded_points": points,
        "sharded_pages_per_sec_local1": round(thr[1]),
        "sharded_pages_per_sec_local4": round(thr[4]),
        "sharded_scaling_efficiency_1_to_4": round((thr[4] / thr[1]) / 4.0, 3),
    }


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    rest = sys.argv[2:]
    if mode == "frontier":
        grid = int(rest[0]) if rest else 100
        edges = int(rest[1]) if len(rest) > 1 else 64
        points = int(rest[2]) if len(rest) > 2 else 2_000_000
        print(json.dumps(frontier_leg(grid, edges, points), separators=(",", ":")))
        return
    if mode == "cover":
        reps = int(rest[0]) if rest else 3
        print(json.dumps(cover_leg(reps), separators=(",", ":")))
        return
    if mode == "kernel":
        points = int(rest[0]) if rest else 200_000
        reps = int(rest[1]) if len(rest) > 1 else 3
        print(json.dumps(kernel_leg(points, reps), separators=(",", ":")))
        return
    if mode == "sharded-scaling":
        points = int(rest[0]) if rest else 8_000_000
        print(json.dumps(sharded_scaling_leg(points), separators=(",", ":")))
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    tag = "before"
    if mode == "plans" and rest and rest[0] in ("before", "after"):
        tag = rest[0]
        rest = rest[1:]
    dirs = [a for a in rest if os.path.isdir(a)]
    if dirs:
        sf_dir = dirs[0]
    rest = [a for a in rest if not os.path.isdir(a)]
    names = rest or BENCH_QUERIES

    import __spark_entry__ as entry

    qs = entry.queries()
    spark = make_spark()
    out: dict[str, object] = {"mode": mode, "sf": sf_dir}
    try:
        if mode in ("time", "noop"):
            samples: dict[str, list[float]] = {n: [] for n in names}
            for pass_i in (1, 2):
                for name in names:
                    spark.sparkContext.setJobDescription(f"{name} (pass {pass_i})")
                    t0 = time.perf_counter()
                    df = qs[name](spark, sf_dir)
                    if mode == "noop":
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        df.count()
                    dt = round(time.perf_counter() - t0, 3)
                    samples[name].append(dt)
                    log(f"  {name} (pass {pass_i}): {dt}s")
            out["queries"] = {n: min(s) for n, s in samples.items()}
            out["queries_samples"] = samples
            out["total_best"] = round(sum(min(s) for s in samples.values()), 3)
            out["total_pass1"] = round(sum(s[0] for s in samples.values()), 3)
        elif mode == "plans":
            os.makedirs("plans/r07", exist_ok=True)
            for name in names:
                df = qs[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                path = f"plans/r07/{name}_{tag}.txt"
                with open(path, "w") as f:
                    f.write(plan)
                log(f"  wrote {path} ({len(plan.splitlines())} lines)")
            out["written"] = names
        else:
            raise SystemExit(f"unknown mode {mode}")
    finally:
        spark.stop()
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()

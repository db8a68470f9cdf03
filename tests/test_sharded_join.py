"""Sharded stage-2 parity: the no-geometry-broadcast join path
(spatial_join_sharded) must return ROW-IDENTICAL assignments to the
broadcast assignment surface (assign_tzid_udf_packed) and to the numpy
assign_codes kernel, all three on the coordinates pack_coords_col
resolves, on worlds that exercise every outcome — full-cell hits,
boundary PIP (with the overlap tie-break), kNN within 1852 m, ocean
bands, none, and NaN coordinates.

Identity is exact (not approximate): both paths share the probe, the
pair-expansion ray-cast arithmetic, the distance kernel, and the winner
rules, so any row diff is a bug, not float noise."""

import pickle

import numpy as np
import pandas as pd
import pytest

from timezone_boundary_builder_spark.operators.cover import cellmap_from_zones_pdf
from tests._kernel_ref import kernel_assign, zone_edges
from timezone_boundary_builder_spark.operators.spatial_join import (
    assign_tzid_udf_packed,
    pack_coords_col,
    unpack_coords_cols,
)
from timezone_boundary_builder_spark.operators.spatial_join_sharded import (
    assign_tzid_sharded,
    zone_edges_frame,
)
from timezone_boundary_builder_spark.sources.fixtures import (
    OCEAN_BANDS,
    dense_zone_world,
    local_zones,
)


def _points_pdf(n: int, seed: int, with_nan: bool = True) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    if with_nan:
        lon[:: n // 20] = np.nan
    return pd.DataFrame(
        {"url": [f"https://example.org/p{i}" for i in range(n)], "lon": lon, "lat": lat}
    )


def _run_both(
    spark, zones_pdf, points_pdf, bands, max_res=8, n_shards=16, stage1_path=None
):
    cm = cellmap_from_zones_pdf(zones_pdf, max_res=max_res)
    slim = cm.slim()
    # the slim index is strictly smaller and carries no ring data
    assert slim.geojson is None
    assert len(pickle.dumps(slim, protocol=4)) < len(pickle.dumps(cm, protocol=4))
    bc_full = spark.sparkContext.broadcast(cm)
    bc_slim = spark.sparkContext.broadcast(slim)
    tz_bc = spark.sparkContext.broadcast(list(cm.tzids))
    zones_df = spark.createDataFrame(zones_pdf[["tzid", "geometry"]])
    edges = zone_edges_frame(zones_df, tz_bc, n_shards=n_shards)
    pts = spark.createDataFrame(points_pdf).select("url", pack_coords_col())
    ref = assign_tzid_udf_packed(pts, bc_full, bands).toPandas()
    got = assign_tzid_sharded(
        pts.select("url", *unpack_coords_cols()),
        bc_slim,
        edges,
        bands,
        n_shards=n_shards,
        stage1_path=stage1_path,
    ).toPandas()
    kernel = kernel_assign(cm, bands, pts.toPandas())
    for bc in (bc_full, bc_slim, tz_bc):
        bc.destroy()
    key = ["url"]
    ref = ref.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)[ref.columns]
    _assert_identical(kernel, ref)
    return ref, got


def _assert_identical(ref, got):
    assert len(ref) == len(got)
    pd.testing.assert_series_equal(ref["url"], got["url"])
    assert ref["tzid"].fillna("~").tolist() == got["tzid"].fillna("~").tolist()
    assert ref["method"].tolist() == got["method"].tolist()


def test_sharded_matches_broadcast_on_fixture_world_with_oceans(spark):
    """8-zone fixture world + real ocean-band config: cell/pip/knn/ocean
    and NaN->none all present, and every row agrees."""
    ref, got = _run_both(spark, local_zones(), _points_pdf(8000, 3), OCEAN_BANDS)
    _assert_identical(ref, got)
    methods = set(ref["method"].unique())
    assert {"cell", "ocean", "none"} <= methods, methods


def test_sharded_matches_broadcast_on_holey_dense_world(spark):
    """10k-quad tiling with every 9th quad punched out, no ocean table:
    the dense regime — thousands of candidate zones, kNN fallback at
    hole edges, honest none deeper in. Methods must cover all four land
    outcomes and every row must agree."""
    world = dense_zone_world(30, 30)
    kept = world.iloc[[i for i in range(len(world)) if i % 9 != 0]].reset_index(
        drop=True
    )
    ref, got = _run_both(
        spark, kept, _points_pdf(20000, 5, with_nan=False), [], n_shards=32
    )
    _assert_identical(ref, got)
    counts = ref["method"].value_counts().to_dict()
    assert counts.get("knn", 0) > 20, counts
    assert counts.get("none", 0) > 200, counts
    assert counts.get("pip", 0) > 100, counts


def test_sharded_stage1_staging_write_matches_persist(spark, tmp_path):
    """stage1_path mode (the petabyte-scale durable staging write instead
    of an executor persist) is a physical-strategy switch only: identical
    rows, and the staging parquet actually lands on disk with the full
    payload+verdict schema."""
    staging = str(tmp_path / "s1")
    ref, got = _run_both(
        spark, local_zones(), _points_pdf(4000, 7), OCEAN_BANDS, stage1_path=staging
    )
    _assert_identical(ref, got)
    s1 = spark.read.parquet(staging)
    assert {"url", "lon", "lat", "pt_id", "kind", "code"} <= set(s1.columns)
    # one stage-1 row per input row: the staging table IS the resumable
    # full-size materialization
    assert s1.count() == len(ref)


@pytest.mark.parametrize("world", ["fixture", "ring_512x64"])
def test_zone_edges_frame_equals_per_zone_reference(spark, world):
    """zone_edges_frame builds a batch's edges with one edge soup and
    splits it per zone; every zone's (x1, y1, x2, y2) must equal the
    per-ring reference array for array. The fixture world has holed zones
    (Test/Charlie, Test/Echo) and multipolygons (Test/Bravo,
    Test/Foxtrot); the ring world is the benchmark's dense one."""
    from perfbench.gen import ring_heavy_world

    zones_pdf = local_zones() if world == "fixture" else ring_heavy_world(32, 16, 64, 1)["table"]
    cm = cellmap_from_zones_pdf(zones_pdf, max_res=6)
    tz_bc = spark.sparkContext.broadcast(list(cm.tzids))
    # two partitions, so each Arrow batch carries many zones
    zones_df = spark.createDataFrame(zones_pdf[["tzid", "geometry"]]).coalesce(2)
    got = zone_edges_frame(zones_df, tz_bc, n_shards=16).toPandas()
    tz_bc.destroy()
    ref = zone_edges(cm)
    assert sorted(got["zone_id"]) == list(range(len(ref)))
    for r in got.itertuples():
        assert r.shard == r.zone_id % 16
        for col, want in zip(("x1", "y1", "x2", "y2"), ref[r.zone_id]):
            np.testing.assert_array_equal(np.asarray(getattr(r, col)), want)


def test_sharded_overlap_tiebreak_smallest_tzid(spark):
    """Two deliberately overlapping zones: the lexicographically smallest
    tzid wins on both paths (the expectedZoneOverlaps rule)."""
    import json

    def quad(x0, y0, x1, y1):
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        return json.dumps({"type": "Polygon", "coordinates": [ring]})

    zones = pd.DataFrame(
        {
            "tzid": ["B/Late", "A/Early"],
            "geometry": [quad(0, 0, 10, 10), quad(5, 0, 15, 10)],
        }
    )
    pts = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3"],
            "lon": [2.0, 7.0, 12.0],  # only-B, overlap, only-A
            "lat": [5.0, 5.0, 5.0],
        }
    )
    ref, got = _run_both(spark, zones, pts, [], max_res=6, n_shards=4)
    _assert_identical(ref, got)
    by_url = dict(zip(got["url"], got["tzid"]))
    assert by_url["u2"] == "A/Early"
    assert by_url["u1"] == "B/Late" and by_url["u3"] == "A/Early"


def test_choose_stage2_budget_rule():
    """The auto selector picks from the ESTIMATED map size (round 7:
    component-array .nbytes sum — no driver-side pickle of a possibly
    multi-hundred-MB map just to measure it): under the budget ->
    broadcast (the measured winner while the map fits), over it ->
    sharded. The estimate must sit within 10% of the real pickled size
    so the decision tracks the true payload."""
    from timezone_boundary_builder_spark.operators.spatial_join_sharded import (
        DEFAULT_BROADCAST_BUDGET_MB,
        choose_stage2,
        estimate_map_bytes,
    )

    cm = cellmap_from_zones_pdf(local_zones(), max_res=6)
    exact = len(pickle.dumps(cm, protocol=pickle.HIGHEST_PROTOCOL))
    est = estimate_map_bytes(cm)
    assert abs(est - exact) <= 0.10 * exact, (est, exact)
    mode, nbytes = choose_stage2(cm)
    assert (mode, nbytes) == ("broadcast", est)
    assert nbytes < DEFAULT_BROADCAST_BUDGET_MB * 1e6
    # a budget below the map flips the choice; the measurement is stable
    assert choose_stage2(cm, budget_mb=nbytes / 1e6 / 2) == ("sharded", est)
    # boundary: exactly at budget stays broadcast (<=, not <)
    assert choose_stage2(cm, budget_mb=nbytes / 1e6)[0] == "broadcast"


def test_estimate_map_bytes_tracks_pickle_on_dense_world():
    """Second world for the 10% accuracy pin (round-6 verdict item 7):
    a 400-zone dense grid — array-dominated, different mix of string vs
    array payload than the fixture world."""
    from timezone_boundary_builder_spark.operators.spatial_join_sharded import (
        estimate_map_bytes,
    )
    from timezone_boundary_builder_spark.sources.fixtures import dense_zone_world

    from timezone_boundary_builder_spark.operators.cover import (
        cellmap_from_zones_pdf,
    )

    cm = cellmap_from_zones_pdf(dense_zone_world(20, 20), max_res=7)
    exact = len(pickle.dumps(cm, protocol=pickle.HIGHEST_PROTOCOL))
    est = estimate_map_bytes(cm)
    assert abs(est - exact) <= 0.10 * exact, (est, exact)

"""Dense-zone-world stress for the cover / CellMap / assignment path
(round-4 verdict item 7).

The real reference world is 419 zones; BENCH.md's open question was how
the broadcast cover grows at 10^4-10^5 zones (cover size is proportional
to total perimeter, not zone count). `dense_zone_world` tiles the globe
with 10,000 jittered convex quads — a PERFECT tiling (shared lattice
corners, no gaps/overlaps), so every sample point has a
known-by-construction expected zone, independent of the engine's PIP.

Asserts, in one Spark pass over the real operators
(build_cell_covers -> collect_cell_map -> broadcast ->
assign_tzid_udf_packed):
- the broadcast CellMap stays under a stated byte bound (the 100 TB
  design constraint: the map must fit comfortably in every executor),
- a 20k-point deterministic sample assigns to exactly the expected zone
  for every point (oracle = the tiling construction itself).
"""

import json
import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests._kernel_ref import _boundary_segments, assign_codes_ref, zone_edges
from timezone_boundary_builder_spark.geom import kernels
from timezone_boundary_builder_spark.geom.codec import from_geojson
from timezone_boundary_builder_spark.operators.cover import (
    build_cell_covers,
    cellmap_from_zones_pdf,
    collect_cell_map,
)
from timezone_boundary_builder_spark.operators.spatial_join import (
    assign_tzid_udf_packed,
    pack_coords_col,
)
from timezone_boundary_builder_spark.sources.fixtures import dense_zone_world

NX, NY = 100, 100  # 10,000 zones
COVER_RES = 8  # 256x256 world grid: ~1.4 x 0.7 deg cells
# stated bound: ~131k cover cells x ~13 B packed + 10k quad GeoJSON
# strings (~1.6 MB) + bboxes; measured ~4.3 MB pickled. 16 MB leaves 3x
# headroom and is far inside Spark broadcast comfort (executors hold one
# copy per process, not per core).
BROADCAST_BOUND_BYTES = 16 * 1024 * 1024


def dense_world_points(
    world: pd.DataFrame, nx: int, ny: int, n: int, seed: int = 13
) -> pd.DataFrame:
    """Deterministic sample points strictly interior to known zones of a
    dense_zone_world: point k lives in lattice cell (i,j) at bilinear
    coordinates (u,v) in [0.25,0.75]^2 of the cell's four corners — for a
    convex quad the bilinear patch IS the quad, so the expected tzid is
    known by construction (no PIP needed to label the sample).

    Columns: url (synthetic key), lon, lat, expect_tzid.
    """
    rng = np.random.default_rng(seed)
    ii = rng.integers(0, nx, size=n)
    jj = rng.integers(0, ny, size=n)
    u = 0.25 + 0.5 * rng.random(n)
    v = 0.25 + 0.5 * rng.random(n)
    # corner coordinates come from each quad's own ring (row-major order
    # j * nx + i), so the sample stays valid even if the frame is re-sorted
    geo = world["geometry"].to_numpy()
    lon = np.empty(n)
    lat = np.empty(n)
    for k in range(n):
        ring = json.loads(geo[jj[k] * nx + ii[k]])["coordinates"][0]
        (x0, y0), (x1, y1), (x2, y2), (x3, y3) = ring[0], ring[1], ring[2], ring[3]
        uu, vv = u[k], v[k]
        lon[k] = (1 - uu) * (1 - vv) * x0 + uu * (1 - vv) * x1 + uu * vv * x2 + (1 - uu) * vv * x3
        lat[k] = (1 - uu) * (1 - vv) * y0 + uu * (1 - vv) * y1 + uu * vv * y2 + (1 - uu) * vv * y3
    # snap to the engine's 1e-6 coordinate grid (packed codec)
    lon = np.round(lon * 1e6) / 1e6
    lat = np.round(lat * 1e6) / 1e6
    expect = world["tzid"].to_numpy()[jj * nx + ii]
    return pd.DataFrame(
        {
            "url": [f"https://dense.example/{k}" for k in range(n)],
            "lon": lon,
            "lat": lat,
            "expect_tzid": expect,
        }
    )


@pytest.fixture(scope="module")
def dense_cellmap(spark):
    world = dense_zone_world(NX, NY)
    zones = spark.createDataFrame(world)
    covers = build_cell_covers(zones, max_res=COVER_RES)
    cm = collect_cell_map(covers, zones)
    return world, cm


def test_dense_world_broadcast_size_bounded(spark, dense_cellmap):
    world, cm = dense_cellmap
    assert len(cm.tzids) == NX * NY
    blob = pickle.dumps(cm, protocol=pickle.HIGHEST_PROTOCOL)
    n_cells = len(cm.full_cells) + len(cm.bnd_cells)
    # cover growth sanity: compact cover stays O(perimeter) — well under
    # a flat res-8 rasterization of the globe (256*128 cells/zone world)
    assert n_cells < 40 * NX * NY, n_cells
    assert len(blob) < BROADCAST_BOUND_BYTES, f"{len(blob)} bytes"


def _assert_equals_reference(cm, lon, lat, monkeypatch, bands=()):
    """assign_codes == the per-zone loops of tests/_kernel_ref.py, code
    and method for every point, with the pair budget so small that every
    kernel call splits into many passes."""
    from timezone_boundary_builder_spark.operators import spatial_join as sj

    be = sj._band_edges(list(bands))
    want = assign_codes_ref(cm, be, len(bands), lon, lat, 1852.0, zone_edges(cm))
    monkeypatch.setattr(kernels, "PAIR_BUDGET", 997)
    got = sj.assign_codes(cm, be, len(bands), lon, lat, 1852.0)
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])
    return got[1]


def test_pair_pip_path_equals_per_zone_path(dense_cellmap, monkeypatch):
    """The row-bucketed PIP and the per-zone reference PIP agree
    bit-for-bit on the 10,000-quad world — including uniform random
    points that land arbitrarily close to zone edges (same strict
    inequalities, same even-odd arithmetic, elementwise)."""
    _, cm = dense_cellmap
    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 50_000)
    lat = rng.uniform(-90, 90, 50_000)
    _assert_equals_reference(cm, lon, lat, monkeypatch)


def _holey_world():
    """The dense quad tiling with every 9th quad punched out: ~11% of
    uniform points miss every zone and fall through to kNN."""
    world = dense_zone_world(NX, NY)
    return world.iloc[[i for i in range(len(world)) if i % 9 != 0]].reset_index(drop=True)


def test_knn_pair_path_equals_per_zone_path_on_holey_world(monkeypatch):
    """kNN fallback on the holey quad world: the row-bucketed distance
    kernel and the per-zone reference agree on every assignment and
    method (knn within 1852 m of a hole edge, none deeper in)."""
    from timezone_boundary_builder_spark.operators import spatial_join as sj

    cm = cellmap_from_zones_pdf(_holey_world(), max_res=8)
    rng = np.random.default_rng(17)
    lon = rng.uniform(-180, 180, 60_000)
    lat = rng.uniform(-90, 90, 60_000)
    m = _assert_equals_reference(cm, lon, lat, monkeypatch)
    counts = dict(zip(*np.unique(m, return_counts=True)))
    # all four land outcomes actually exercised: cell, pip, knn, none
    assert counts.get(sj.M_KNN, 0) > 200, counts
    assert counts.get(sj.M_NONE, 0) > 1000, counts


def adversarial_points(cm, n_vertices: int = 2_000, seed: int = 0):
    """Points where an exact kernel is easiest to get wrong: on vertices
    and edge midpoints (horizontal edges included), on every row
    boundary -90 + j*h of the map's finest resolution, at lat +-90, 1852
    m north or south of a vertex with a row boundary in between, and on
    or next to the antimeridian."""
    rng = np.random.default_rng(seed)
    gs = [from_geojson(g) for g in cm.geojson]
    a = np.concatenate([_boundary_segments(g)[0] for g in gs])
    b = np.concatenate([_boundary_segments(g)[1] for g in gs])
    pick = rng.choice(len(a), min(n_vertices, len(a)), replace=False)
    flat = np.flatnonzero(a[:, 1] == b[:, 1])[:n_vertices]
    pts = [a[pick], (a[pick] + b[pick]) / 2.0, (a[flat] + b[flat]) / 2.0,
           a[flat] + 0.25 * (b[flat] - a[flat])]
    h = 180.0 / (1 << cm.finest)
    rows = -90.0 + np.arange((1 << cm.finest) + 1) * h
    pts.append(np.c_[rng.uniform(-180, 180, len(rows)), rows])
    pts.append(np.c_[rng.uniform(-180, 180, 200), np.repeat([-90.0, 90.0], 100)])
    r = np.degrees(1852.0 / kernels.EARTH_RADIUS_M)
    x, y = a[:, 0], a[:, 1]
    yb = -90.0 + np.round((y + 90.0) / h) * h  # nearest row boundary
    near = np.flatnonzero((np.abs(yb - y) < r) & (yb != y))[:n_vertices]
    f = np.array([0.99, 0.999, 1.0, 1.001, 1.01])
    step = np.sign(yb - y)[near][:, None] * r * f
    pts.append(np.c_[np.repeat(x[near], len(f)), (y[near][:, None] + step).ravel()])
    seam = np.array([-180.0, -179.99999, -179.999, -179.99, 179.99, 179.999, 179.99999, 180.0])
    pts.append(np.c_[np.repeat(seam, 100), np.tile(rng.uniform(-90, 90, 100), len(seam))])
    p = np.concatenate(pts)
    return p[:, 0], p[:, 1]


def _world(name):
    import bench
    from perfbench.gen import ring_heavy_world
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS, local_cellmap

    if name == "fixture":
        return local_cellmap(), OCEAN_BANDS
    if name == "reference_419":
        return bench.reference_world_cellmap(max_res=9), ()
    if name.startswith("ring"):
        gx, gy, edges, res = {"ring_512x64": (32, 16, 64, 8), "ring_4096x64": (64, 64, 64, 9),
                              "ring_32x2000": (8, 4, 2000, 6)}[name]
        return cellmap_from_zones_pdf(ring_heavy_world(gx, gy, edges, 1)["table"], res), ()
    world = _holey_world() if name == "quads_holey" else dense_zone_world(NX, NY)
    return cellmap_from_zones_pdf(world, 9), ()


@pytest.mark.parametrize("name", [
    "fixture", "ring_512x64", "quads_holey",
    "reference_419", "ring_4096x64", "ring_32x2000", "quads_10000",
])
def test_adversarial_points_equal_per_zone_reference(name, monkeypatch):
    """assign_codes equals the per-zone reference on uniform points plus
    the adversarial set, on worlds from 8 to 10,000 zones and from 4 to
    2,000 edges per zone; the fixture world runs with its ocean bands."""
    cm, bands = _world(name)
    rng = np.random.default_rng(23)
    ax, ay = adversarial_points(cm)
    lon = np.r_[rng.uniform(-180, 180, 20_000), ax]
    lat = np.r_[rng.uniform(-90, 90, 20_000), ay]
    m = _assert_equals_reference(cm, lon, lat, monkeypatch, bands)
    assert len(np.unique(m)) >= 3, np.unique(m)


def test_dense_world_assignment_matches_construction(spark, dense_cellmap):
    world, cm = dense_cellmap
    pts = dense_world_points(world, NX, NY, n=20_000)
    bc = spark.sparkContext.broadcast(cm)
    df = spark.createDataFrame(pts)
    # the sample is already on the 1e-6 grid, so packing moves no point
    packed = df.select("url", pack_coords_col())
    out = assign_tzid_udf_packed(packed, bc, ocean_bands=[]).join(
        df.select("url", "expect_tzid"), "url"
    )
    mism = out.where(F.col("tzid") != F.col("expect_tzid"))
    bad = mism.limit(5).collect()
    assert not bad, bad
    # interior points resolve via the index: full-cell hits answer with
    # ZERO exact PIP work; the rest go through the boundary-cell PIP path
    methods = dict(
        out.groupBy("method").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert set(methods) <= {"cell", "pip"}, methods
    assert methods.get("cell", 0) > 0, methods
    bc.destroy()


def test_cover_growth_model_fits_measured_cells(spark):
    """The zone-count curve as an ASSERTED MODEL (round-5 verdict item 6,
    complementing the measured 10^5-zone bench datapoint): the
    perimeter-proxy estimator auto_cover_res uses for its broadcast
    budget — est = 2*(sum_w/cell_w + sum_h/cell_h) over zone bboxes —
    must track the MEASURED compact-cover cell count within a constant
    factor across a 16x zone-count sweep, at each world's auto-picked
    resolution (the production path). Measured anchors on the bench
    frontier: 10^4 zones -> 331k cells vs est 227k (1.46x) at res 9;
    10^5 zones -> 1.84M cells vs est 3.64M (0.51x) at res 10 (interval
    compaction pulls large worlds UNDER the proxy). With the fitted
    band, the budget guard (coarsen while est > 2M) bounds any world's
    cover at ~2*2M cells, and at the measured ~42 B/cell the broadcast
    stays under ~200 MB no matter how many zones a user throws at the
    serving path — the 100 TB design constraint, asserted, not prose."""
    import pickle

    from timezone_boundary_builder_spark.operators.cover import auto_cover_res

    for n in (25, 50, 100):
        world = dense_zone_world(n, n)
        res = auto_cover_res(world)
        zones = spark.createDataFrame(world)
        cm = collect_cell_map(build_cell_covers(zones, max_res=res), zones)
        cells = len(cm.full_cells) + len(cm.bnd_cells)
        w = (world.max_x - world.min_x).to_numpy()
        h = (world.max_y - world.min_y).to_numpy()
        est = 2.0 * (
            w.sum() / (360.0 / (1 << res)) + h.sum() / (180.0 / (1 << res))
        )
        ratio = cells / est
        assert 0.3 <= ratio <= 2.0, (n, res, cells, est, ratio)
        # bytes/cell constant: the pickled map is cells*O(1) + the zone
        # geometries themselves (n^2 * ~160 B) + fixed overhead — no
        # superlinear term hiding in the codec
        blob = len(pickle.dumps(cm, protocol=pickle.HIGHEST_PROTOCOL))
        assert blob <= 64 * cells + 250 * n * n + 1_500_000, (n, blob, cells)


def test_auto_cover_res_tracks_zone_density():
    """auto_cover_res adapts the cover resolution to the zone-size
    distribution: coarse for the 8-zone fixture world (~30-40 deg
    zones), fine for the 10k dense world (~3.6x1.8 deg quads), clamped
    at both ends, and DEFAULT on degenerate inputs. Resolution only
    moves work between the cell and pip stages (assignments invariant),
    so the heuristic is a pure performance knob."""
    import pandas as pd

    from timezone_boundary_builder_spark.operators.cover import (
        DEFAULT_COVER_RES,
        auto_cover_res,
    )
    from timezone_boundary_builder_spark.sources.fixtures import local_zones

    dense = dense_zone_world(NX, NY)
    # jitter widens the median quad bbox past the 3.6x1.8 lattice pitch;
    # the 5-cells/axis target (measured: res 9 is ~12% faster than res 8
    # on this world — see auto_cover_res docstring) must land on 9
    assert auto_cover_res(dense) == 9
    fixture = local_zones()
    assert 5 <= auto_cover_res(fixture) <= 7
    # clamps: planet-sized zones floor at min_res, micro-zones cap at 11
    import json as _json

    def one_zone(w, h):
        ring = [[0, 0], [w, 0], [w, h], [0, h], [0, 0]]
        return pd.DataFrame(
            {
                "tzid": ["Z"],
                "geometry": [_json.dumps({"type": "Polygon", "coordinates": [ring]})],
            }
        )

    assert auto_cover_res(one_zone(360, 180)) == 4
    assert auto_cover_res(one_zone(0.001, 0.001)) == 11
    # bimodal guard: micro-zone MEDIAN wants the cap, but the total
    # (perimeter-driven) cover estimate coarsens it — the budget wins
    bimodal = pd.concat(
        [dense_zone_world(100, 100), one_zone(340, 170)], ignore_index=True
    )
    fine = auto_cover_res(bimodal)
    assert auto_cover_res(bimodal, max_cells=2_000) < fine
    # a PARTIAL bbox column set must re-derive, not KeyError
    partial = dense_zone_world(10, 10).drop(columns=["max_x", "max_y"])
    assert auto_cover_res(partial) == auto_cover_res(
        dense_zone_world(10, 10).drop(
            columns=["min_x", "min_y", "max_x", "max_y"]
        )
    )
    # degenerate: empty frame -> library default
    empty = pd.DataFrame({"tzid": [], "geometry": []})
    assert auto_cover_res(empty) == DEFAULT_COVER_RES

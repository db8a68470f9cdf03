"""The level-synchronous batched cover (`cellindex.cover_polygons`) and the
vectorized CellMap build against the per-cell references in
tests/_cover_ref.py: identical per-zone (cells, full), identical CellMap
arrays, and identical output whatever the pair budget splits."""

import json

import numpy as np
import pandas as pd
import pytest

import bench_extra
from _cover_ref import cover_polygon as ref_cover
from _cover_ref import interval_arrays, knn_grid_arrays
from perfbench.gen import ring_heavy_world as bench_world
from timezone_boundary_builder_spark.geom import kernels
from timezone_boundary_builder_spark.geom.cellindex import cover_polygons
from timezone_boundary_builder_spark.geom.codec import EMPTY, from_geojson, from_rings
from timezone_boundary_builder_spark.geom.kernels import make_box
from timezone_boundary_builder_spark.operators.cover import (
    CellMap,
    auto_cover_res,
    cellmap_from_zones_pdf,
)
from timezone_boundary_builder_spark.sources.fixtures import (
    dense_zone_world,
    local_zones,
)

CELLMAP_ARRAYS = (
    "full_cells",
    "full_tz",
    "bnd_cells",
    "bnd_tz",
    "ivl_pos",
    "ivl_full_tz",
    "ivl_cand_off",
    "ivl_cand_tz",
    "knn_boxes",
    "knn_box_zone",
    "knn_grid_off",
    "knn_grid_tz",
)


def _assert_same_covers(geoms, max_res):
    zone, cells, full = cover_polygons(geoms, max_res)
    assert (np.diff(zone) >= 0).all()
    for i, g in enumerate(geoms):
        rc, rf = ref_cover(g, max_res)
        o = np.argsort(rc)
        m = zone == i
        np.testing.assert_array_equal(cells[m], rc[o], err_msg=f"zone {i}")
        np.testing.assert_array_equal(full[m], rf[o], err_msg=f"zone {i}")


def _with_bbox(zp, cm):
    return zp.assign(
        min_x=cm.zone_bbox[:, 0],
        min_y=cm.zone_bbox[:, 1],
        max_x=cm.zone_bbox[:, 2],
        max_y=cm.zone_bbox[:, 3],
    )


def _assert_same_cellmap(zones_pdf, max_res):
    """cellmap_from_zones_pdf == a CellMap built from the reference covers,
    and its interval / kNN-grid arrays == the per-cell loop builds."""
    cm = cellmap_from_zones_pdf(zones_pdf, max_res=max_res)
    zp = zones_pdf.sort_values("tzid").reset_index(drop=True)
    covers = []
    for r in zp.itertuples():
        cells, full = ref_cover(from_geojson(r.geometry), max_res)
        covers.append(
            pd.DataFrame({"tzid": r.tzid, "cell_id": cells.astype(np.int64), "full": full})
        )
    ref = CellMap(pd.concat(covers, ignore_index=True), _with_bbox(zp, cm))
    assert cm.levels == ref.levels and cm.finest == ref.finest
    for name in CELLMAP_ARRAYS:
        a, b = getattr(cm, name), getattr(ref, name)
        assert a.dtype == b.dtype, name
        np.testing.assert_array_equal(a, b, err_msg=name)
    for got, want in zip(
        (cm.ivl_pos, cm.ivl_full_tz, cm.ivl_cand_off, cm.ivl_cand_tz, cm.knn_grid_off, cm.knn_grid_tz),
        (*interval_arrays(cm), *knn_grid_arrays(cm)),
    ):
        assert got.dtype == want.dtype
        np.testing.assert_array_equal(got, want)
    return cm


def _gj(g):
    return json.dumps(
        {
            "type": "MultiPolygon",
            "coordinates": [
                [np.vstack([ring, ring[:1]]).tolist() for ring in g.poly_rings(j)]
                for j in range(g.n_polys)
            ],
        }
    )


def _zones(geoms):
    return pd.DataFrame(
        {"tzid": [f"T/{i:02d}" for i in range(len(geoms))], "geometry": [_gj(g) for g in geoms]}
    )


def _ring(cx, cy, rx, ry, n):
    th = 2.0 * np.pi * np.arange(n) / n
    wob = 1.0 + 0.2 * np.sin(37 * th) + 0.05 * np.sin(301 * th)
    return np.column_stack(
        [
            np.round((cx + rx * wob * np.cos(th)) * 1e6) / 1e6,
            np.round((cy + ry * wob * np.sin(th)) * 1e6) / 1e6,
        ]
    )


SHAPES = {
    # cell edges lie on polygon edges: the closed-box semantics decide
    "grid_aligned_box": make_box(0, 0, 45, 45),
    "grid_aligned_fine_box": make_box(-22.5, -11.25, 33.75, 22.5),
    "hole": from_rings(
        [[[[-40, -30], [40, -30], [40, 30], [-40, 30]], [[-10, -5], [10, -5], [10, 5], [-10, 5]]]]
    ),
    "multipolygon": from_rings(
        [[[[-100, 10], [-60, 10], [-80, 40]]], [[[20, -50], [70, -50], [70, -20], [20, -20]]]]
    ),
    # smaller than one res-1 cell and than one max-res cell
    "tiny": from_rings([[[[12.3, 4.5], [12.3004, 4.5], [12.3002, 4.5003]]]]),
    "east_seam_north_pole": make_box(170, 80, 180, 90),
    "west_seam_south_pole": make_box(-180, -90, -170, -80),
    "whole_world": make_box(-180, -90, 180, 90),
    "seam_to_seam_band": from_rings([[[[-180, -5], [180, -5], [180, 7.5], [-180, 7.5]]]]),
}


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_shapes_match_reference(name):
    _assert_same_covers([SHAPES[name]], 7)


def test_all_shapes_in_one_batch_with_an_empty_geometry():
    geoms = [SHAPES[n] for n in sorted(SHAPES)]
    geoms.insert(3, EMPTY)
    _assert_same_covers(geoms, 6)
    zone, _, _ = cover_polygons(geoms, 6)
    assert 3 not in zone
    zone, cells, full = cover_polygons([EMPTY], 6)
    assert len(zone) == len(cells) == len(full) == 0
    assert cells.dtype == np.uint64 and full.dtype == bool


def test_max_res_one_and_below():
    for max_res in (0, 1, 2):
        _assert_same_covers([SHAPES["hole"], SHAPES["tiny"]], max_res)


def test_fixture_world_res7():
    zp = local_zones()
    _assert_same_covers([from_geojson(g) for g in zp["geometry"]], 7)
    _assert_same_cellmap(zp, 7)


def test_shapes_cellmap():
    _assert_same_cellmap(_zones([SHAPES[n] for n in sorted(SHAPES)] + [EMPTY]), 6)


def test_dense_tiling_shared_edges():
    _assert_same_cellmap(dense_zone_world(20, 20), 7)


def test_bench_extra_ring_world_grid23_at_auto_res():
    world = bench_extra.ring_heavy_world(23, 64)
    res = auto_cover_res(world)
    assert res == 8
    _assert_same_cellmap(world, res)


def test_bench_extra_ring_world_grid64():
    _assert_same_cellmap(bench_extra.ring_heavy_world(64, 64), 6)


def test_benchmark_world_at_auto_res():
    world = bench_world(32, 16, 64, 1)["table"]
    _assert_same_cellmap(world, auto_cover_res(world))


def test_reference_world_419_boxes():
    import bench

    cm = bench.reference_world_cellmap(max_res=9)
    _assert_same_cellmap(pd.DataFrame({"tzid": cm.tzids, "geometry": cm.geojson}), 9)


def test_pair_budget_split_gives_identical_output(monkeypatch):
    ring_world = [from_geojson(g) for g in bench_world(8, 8, 64, 3)["table"]["geometry"]]
    big = from_rings([[_ring(10, 5, 40, 30, 20_000)]])
    want = [cover_polygons(ring_world, 7), cover_polygons([big], 6)]
    calls = []
    csr_pairs = kernels.csr_pairs

    def counting(start, count, budget=None):
        pieces = list(csr_pairs(start, count, budget))
        calls.append((budget, len(pieces)))
        assert all(len(owner) <= (budget or len(owner)) for owner, _ in pieces)
        return iter(pieces)

    monkeypatch.setattr(kernels, "PAIR_BUDGET", 300)
    monkeypatch.setattr(kernels, "csr_pairs", counting)
    got = [cover_polygons(ring_world, 7), cover_polygons([big], 6)]
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            np.testing.assert_array_equal(a, b)
    split = [n for b, n in calls if b == 300]
    assert sum(n > 1 for n in split) >= 10 and max(split) > 100
    _assert_same_covers([big], 6)

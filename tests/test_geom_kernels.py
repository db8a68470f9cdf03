"""Unit tests for the numpy geometry kernels (SURVEY.md §5: kernels vs
brute-force / known-value oracles)."""

import json
import math

import numpy as np
import pytest

from tests._kernel_ref import min_distance_to_boundary_m, points_in_packed
from timezone_boundary_builder_spark.geom import from_geojson, to_geojson
from timezone_boundary_builder_spark.geom.boolean import (
    difference,
    dissolve,
    intersection,
    union,
)
from timezone_boundary_builder_spark.geom.codec import from_rings
from timezone_boundary_builder_spark.geom.kernels import (
    EARTH_RADIUS_M,
    bbox,
    geodesic_area_m2,
    geom_hash,
    make_box,
    planar_area,
    ring_interior_point,
)


def box(x0, y0, x1, y1):
    return make_box(x0, y0, x1, y1)


def test_codec_roundtrip_polygon():
    gj = {
        "type": "Polygon",
        "coordinates": [
            [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
            [[2, 2], [2, 4], [4, 4], [4, 2], [2, 2]],
        ],
    }
    g = from_geojson(gj)
    assert g.n_polys == 1 and g.n_rings == 2
    back = to_geojson(g)
    assert back["type"] == "Polygon"
    # closing vertex restored
    assert back["coordinates"][0][0] == back["coordinates"][0][-1]
    assert from_geojson(json.dumps(back)).n_rings == 2


def test_codec_multipolygon_and_empty():
    gj = {
        "type": "MultiPolygon",
        "coordinates": [
            [[[0, 0], [1, 0], [1, 1], [0, 0]]],
            [[[5, 5], [6, 5], [6, 6], [5, 0], [5, 5]]],
        ],
    }
    g = from_geojson(gj)
    assert g.n_polys == 2
    assert from_geojson({"type": "MultiPolygon", "coordinates": []}).is_empty()


def test_bbox():
    g = box(-3, -2, 7, 8)
    assert bbox(g.coords) == (-3, -2, 7, 8)


def test_planar_area_square_with_hole():
    g = from_rings(
        [[[[0, 0], [10, 0], [10, 10], [0, 10]], [[2, 2], [2, 4], [4, 4], [4, 2]]]]
    )
    assert planar_area(g) == pytest.approx(100 - 4)


def test_geodesic_area_equator_square():
    # 1 deg x 1 deg at the equator ~ (R*pi/180)^2 * cos(0.5deg)-ish
    g = box(0, 0, 1, 1)
    a = geodesic_area_m2(g)
    deg = EARTH_RADIUS_M * math.pi / 180.0
    expected = deg * deg * math.cos(math.radians(0.5))
    assert a == pytest.approx(expected, rel=1e-4)


def test_pip_square_and_hole():
    g = from_rings(
        [[[[0, 0], [10, 0], [10, 10], [0, 10]], [[2, 2], [2, 4], [4, 4], [4, 2]]]]
    )
    pts = np.array([[5, 5], [3, 3], [-1, 5], [11, 5], [5, -1], [2.5, 3.9]])
    got = points_in_packed(pts, g)
    assert got.tolist() == [True, False, False, False, False, False]


def test_pip_multipolygon_disjoint():
    g = from_geojson(
        {
            "type": "MultiPolygon",
            "coordinates": [
                [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                [[[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]]],
            ],
        }
    )
    pts = np.array([[0.5, 0.5], [5.5, 5.5], [3, 3]])
    assert points_in_packed(pts, g).tolist() == [True, True, False]


def test_pip_triangle_slanted():
    g = from_rings([[[[100, 10], [130, 10], [115, 35]]]])
    # right edge at y=10.5 is x = 130 - 15*(0.5/25) = 129.7 -> (129, 10.5) inside
    pts = np.array([[115, 20], [101, 10.1], [100, 35], [115, 34.9], [129.8, 10.5]])
    assert points_in_packed(pts, g).tolist() == [True, True, False, True, False]


def test_distance_to_boundary():
    g = box(0, 0, 10, 10)
    # point 0.01 deg west of the x=0 edge at lat 5
    pts = np.array([[-0.01, 5.0]])
    d = min_distance_to_boundary_m(pts, g)
    expected = 0.01 * math.pi / 180 * EARTH_RADIUS_M * math.cos(math.radians(5))
    assert d[0] == pytest.approx(expected, rel=1e-3)


def test_ring_interior_point():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    p = ring_interior_point(ring)
    assert 0 < p[0] < 10 and 0 < p[1] < 10


# ------------------------------------------------------------- boolean ops


def test_union_disjoint():
    g = union(box(0, 0, 1, 1), box(5, 5, 6, 6))
    assert g.n_polys == 2
    assert planar_area(g) == pytest.approx(2.0)


def test_union_overlapping():
    g = union(box(0, 0, 10, 10), box(5, 5, 15, 15))
    assert planar_area(g) == pytest.approx(100 + 100 - 25)
    pts = np.array([[12, 12], [2, 2], [7, 7], [12, 2]])
    assert points_in_packed(pts, g).tolist() == [True, True, True, False]


def test_union_shared_edge():
    g = union(box(0, 0, 10, 10), box(10, 0, 20, 10))
    assert planar_area(g) == pytest.approx(200)
    pts = np.array([[5, 5], [15, 5], [10, 5], [21, 5]])
    got = points_in_packed(pts, g)
    assert got[0] and got[1] and not got[3]


def test_intersection_partial():
    g = intersection(box(0, 0, 10, 10), box(5, 5, 15, 15))
    assert planar_area(g) == pytest.approx(25)
    assert bbox(g.coords) == (5, 5, 10, 10)


def test_intersection_disjoint_empty():
    assert intersection(box(0, 0, 1, 1), box(5, 5, 6, 6)).is_empty()


def test_difference_hole():
    g = difference(box(0, 0, 10, 10), box(2, 2, 4, 4))
    assert planar_area(g) == pytest.approx(100 - 4)
    pts = np.array([[3, 3], [1, 1], [5, 5]])
    assert points_in_packed(pts, g).tolist() == [False, True, True]
    # hole must be encoded as a second ring of the same polygon (or an
    # even-odd-equivalent decomposition) — area + PIP are the contract
    back = to_geojson(g)
    assert back["type"] in ("Polygon", "MultiPolygon")


def test_difference_edge_cut():
    g = difference(box(0, 0, 10, 10), box(8, -1, 12, 11))
    assert planar_area(g) == pytest.approx(80)
    assert bbox(g.coords) == (0, 0, 8, 10)


def test_difference_total():
    assert difference(box(2, 2, 4, 4), box(0, 0, 10, 10)).is_empty()


def test_triangle_boolean():
    tri = from_rings([[[[0, 0], [10, 0], [5, 10]]]])
    sq = box(0, 0, 10, 4)
    inter = intersection(tri, sq)
    # trapezoid: y from 0..4, width at y: 10 - 2*y*(5/10)=10-y... shoelace check
    # left edge x=y/2 at height y (slope 10/5), right edge x=10-y/2
    # width(y) = 10 - y; area = int_0^4 (10 - y) dy = 40 - 8 = 32
    assert planar_area(inter) == pytest.approx(32, rel=1e-9)
    uni = union(tri, sq)
    assert planar_area(uni) == pytest.approx(50 + 40 - 32, rel=1e-9)
    dif = difference(tri, sq)
    assert planar_area(dif) == pytest.approx(50 - 32, rel=1e-9)


def test_dissolve_grid():
    parts = [box(i, j, i + 1, j + 1) for i in range(3) for j in range(3)]
    g = dissolve(parts)
    assert planar_area(g) == pytest.approx(9)
    pts = np.array([[1.5, 1.5], [2.9, 0.1], [3.1, 1]])
    got = points_in_packed(pts, g)
    assert got[0] and got[1] and not got[2]


def test_union_idempotent_hash():
    a = box(0, 0, 10, 10)
    assert geom_hash(union(a, a)) == geom_hash(a) or planar_area(union(a, a)) == pytest.approx(100)


def test_nested_difference_then_union():
    # zone with hole, then union a patch inside the hole
    holed = difference(box(0, 0, 10, 10), box(2, 2, 8, 8))
    patched = union(holed, box(4, 4, 6, 6))
    assert planar_area(patched) == pytest.approx(100 - 36 + 4)
    pts = np.array([[5, 5], [3, 3], [1, 1]])
    assert points_in_packed(pts, patched).tolist() == [True, False, True]

"""Cell index unit tests: encode/decode roundtrip, parent/child algebra,
covering invariants (SURVEY.md §5: cover-then-PIP == direct PIP)."""

import numpy as np
import pytest

from _cover_ref import cell_children, cell_parent
from tests._kernel_ref import points_in_packed
from timezone_boundary_builder_spark.geom.cellindex import (
    cell_bounds,
    cell_res,
    cover_polygon,
    edge_soup,
    encode_points,
)
from timezone_boundary_builder_spark.geom.codec import EMPTY, from_rings
from timezone_boundary_builder_spark.geom.kernels import make_box


def test_encode_bounds_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    for res in (1, 4, 9, 14):
        cells = encode_points(lon, lat, res)
        assert (cell_res(cells) == res).all()
        for i in range(0, 500, 97):
            b = cell_bounds(int(cells[i]))
            assert b[0] <= lon[i] <= b[2] + 1e-12
            assert b[1] <= lat[i] <= b[3] + 1e-12


def test_parent_child():
    c = encode_points(np.array([10.3]), np.array([47.2]), 8)[0]
    p = cell_parent(np.array([c]))[0]
    assert cell_res(p) == 7
    kids = cell_children(int(p))
    assert c in kids
    pb = cell_bounds(int(p))
    for k in kids:
        kb = cell_bounds(int(k))
        assert kb[0] >= pb[0] - 1e-12 and kb[2] <= pb[2] + 1e-12
        assert kb[1] >= pb[1] - 1e-12 and kb[3] <= pb[3] + 1e-12
    # ancestor at res 3 contains point too
    a = cell_parent(np.array([c]), 5)[0]
    ab = cell_bounds(int(a))
    assert ab[0] <= 10.3 <= ab[2] and ab[1] <= 47.2 <= ab[3]
    # and equals direct encode at res 3
    assert a == encode_points(np.array([10.3]), np.array([47.2]), 3)[0]


def test_cover_box_exact():
    g = make_box(0, 0, 45, 45)  # aligned with res-3 grid
    cells, full = cover_polygon(g, max_res=6)
    assert len(cells) > 0
    # every full cell's bounds inside the box
    for c, f in zip(cells, full):
        b = cell_bounds(int(c))
        if f:
            assert b[0] >= -1e-9 and b[1] >= -1e-9 and b[2] <= 45 + 1e-9 and b[3] <= 45 + 1e-9
    # the cover's edge soup: zone z's edges are voff[z] : voff[z + 1]
    ed = edge_soup([g, EMPTY, g])
    assert ed.voff.tolist() == [0, 4, 4, 8] and ed.zone.tolist() == [0] * 4 + [2] * 4
    assert all(np.array_equal(a[:4], a[4:]) for a in ed[:4])
    none = edge_soup([])
    assert none.voff.tolist() == [0] and all(len(a) == 0 for a in none[:-1])


def test_cover_then_pip_equals_direct_pip():
    tri = from_rings([[[[-20, -10], [40, 5], [10, 42]]]])
    cells, full = cover_polygon(tri, max_res=7)
    full_set = set(int(c) for c, f in zip(cells, full) if f)
    bnd_set = set(int(c) for c, f in zip(cells, full) if not f)
    levels = sorted({int(c) >> 58 for c in cells})
    rng = np.random.default_rng(7)
    pts = np.column_stack([rng.uniform(-40, 60, 3000), rng.uniform(-30, 55, 3000)])
    direct = points_in_packed(pts, tri)
    got = np.zeros(len(pts), dtype=bool)
    unresolved = np.zeros(len(pts), dtype=bool)
    for i, (lon, lat) in enumerate(pts):
        hit_full = hit_bnd = False
        for lv in levels:
            c = int(encode_points(np.array([lon]), np.array([lat]), lv)[0])
            if c in full_set:
                hit_full = True
            if c in bnd_set:
                hit_bnd = True
        if hit_full:
            got[i] = True
        elif hit_bnd:
            unresolved[i] = True  # boundary cell -> needs exact PIP
            got[i] = direct[i]
    np.testing.assert_array_equal(got, direct)
    # the coarse index must prune: most points should NOT need exact PIP
    assert unresolved.mean() < 0.35


def test_cover_full_cells_never_at_max_res_only():
    # a big polygon should produce full cells coarser than max_res (compactness)
    g = make_box(-90, -45, 90, 45)
    cells, full = cover_polygon(g, max_res=8)
    res = np.array([int(c) >> 58 for c in cells])
    assert (res[full] < 8).any()

"""Property-based tests (hypothesis, seeded/deterministic) for the boolean
geometry kernels — SURVEY.md §5 'property-based' bullet:

- inclusion–exclusion: area(A) + area(B) == area(A|B) + area(A&B)
- difference partition: area(A-B) == area(A) - area(A&B)
- PIP consistency: for sample points, membership in the boolean result
  equals the boolean combination of memberships in the operands.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from timezone_boundary_builder_spark.geom.boolean import (
    difference,
    intersection,
    union,
)
from timezone_boundary_builder_spark.geom.codec import from_rings
from tests._kernel_ref import points_in_packed
from timezone_boundary_builder_spark.geom.kernels import make_box, planar_area

coord = st.integers(min_value=-60, max_value=60)


def boxes(draw):
    x0, y0 = draw(coord), draw(coord)
    w, h = draw(st.integers(1, 40)), draw(st.integers(1, 40))
    return make_box(x0, y0, x0 + w, y0 + h)


@st.composite
def box_pair(draw):
    return boxes(draw), boxes(draw)


def _non_degenerate(pts):
    (ax, ay), (bx, by), (cx, cy) = pts
    return abs((bx - ax) * (cy - ay) - (by - ay) * (cx - ax)) > 2


@st.composite
def tri_and_box(draw):
    pts = draw(
        st.tuples(
            st.tuples(coord, coord), st.tuples(coord, coord), st.tuples(coord, coord)
        ).filter(_non_degenerate)
    )
    tri = from_rings([[np.array(pts, dtype=float)]])
    return tri, boxes(draw)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(box_pair())
def test_inclusion_exclusion_boxes(ab):
    a, b = ab
    ua = planar_area(union(a, b))
    ia = planar_area(intersection(a, b))
    assert ua + ia == pytest.approx(planar_area(a) + planar_area(b), abs=1e-6)
    da = planar_area(difference(a, b))
    assert da == pytest.approx(planar_area(a) - ia, abs=1e-6)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(tri_and_box())
def test_inclusion_exclusion_triangle(tb):
    t, b = tb
    ua = planar_area(union(t, b))
    ia = planar_area(intersection(t, b))
    assert ua + ia == pytest.approx(planar_area(t) + planar_area(b), abs=1e-6)
    da = planar_area(difference(t, b))
    assert da == pytest.approx(planar_area(t) - ia, abs=1e-6)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(box_pair(), st.integers(0, 10_000))
def test_pip_boolean_consistency(ab, seed):
    a, b = ab
    rng = np.random.default_rng(seed)
    pts = rng.uniform(-65, 65, size=(200, 2))
    # keep points away from boundaries (grid integers) to dodge edge ties
    pts = pts[np.abs(pts - np.round(pts)).min(axis=1) > 1e-3]
    in_a = points_in_packed(pts, a)
    in_b = points_in_packed(pts, b)
    u = union(a, b)
    i = intersection(a, b)
    d = difference(a, b)
    np.testing.assert_array_equal(points_in_packed(pts, u), in_a | in_b)
    np.testing.assert_array_equal(points_in_packed(pts, i), in_a & in_b)
    np.testing.assert_array_equal(points_in_packed(pts, d), in_a & ~in_b)


@st.composite
def simple_star_and_box(draw):
    """Random SIMPLE star polygon (angular gaps < ~160 deg keep the center
    interior, which guarantees simplicity) with 2-decimal coords + a box."""
    n = draw(st.integers(4, 9))
    seed = draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    for _ in range(50):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        gaps = np.diff(np.concatenate([ang, [ang[0] + 2 * np.pi]]))
        if np.min(gaps) >= 0.05 and np.max(gaps) <= 2.8:
            break
    else:
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rad = rng.uniform(2, 30, n)
    ring = np.round(np.column_stack([rad * np.cos(ang), rad * np.sin(ang)]), 2)
    x0, y0 = rng.uniform(-20, 10, 2).round(2)
    box = make_box(x0, y0, x0 + rng.uniform(5, 30), y0 + rng.uniform(5, 25))
    return from_rings([[ring]]), box, seed


@settings(max_examples=60, deadline=None, derandomize=True)
@given(simple_star_and_box())
def test_fractional_star_polygon_boolean_consistency(abx):
    """Fractional (2-decimal) coordinates: inclusion-exclusion to snap-grid
    tolerance AND pointwise PIP consistency away from boundaries."""
    from tests._kernel_ref import min_distance_to_boundary_m

    a, b, seed = abx
    u, i, d = union(a, b), intersection(a, b), difference(a, b)
    aa, ab_ = planar_area(a), planar_area(b)
    assert abs(aa + ab_ - planar_area(u) - planar_area(i)) < 0.01
    assert abs(planar_area(d) - (aa - planar_area(i))) < 0.01
    rng = np.random.default_rng(seed ^ 0x5EED)
    pts = rng.uniform(-35, 35, size=(128, 2))
    ina = points_in_packed(pts, a)
    inb = points_in_packed(pts, b)
    safe = (min_distance_to_boundary_m(pts, a) > 5000) & (
        min_distance_to_boundary_m(pts, b) > 5000
    )
    assert np.array_equal(points_in_packed(pts, u)[safe], (ina | inb)[safe])
    assert np.array_equal(points_in_packed(pts, i)[safe], (ina & inb)[safe])
    assert np.array_equal(points_in_packed(pts, d)[safe], (ina & ~inb)[safe])


@st.composite
def full_precision_star_and_box(draw):
    """Star with FULL 6-decimal (snap-grid-resolution) coordinates — the
    precision the production pipeline actually carries."""
    n = draw(st.integers(3, 9))
    seed = draw(st.integers(0, 2**31))
    rng = np.random.default_rng(seed)
    cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
    r_out = rng.uniform(1, 8)
    r_in = r_out * rng.uniform(0.2, 0.9)
    ang = np.linspace(0, 2 * np.pi, 2 * n, endpoint=False) + rng.uniform(0, 6.28)
    rad = np.where(np.arange(2 * n) % 2 == 0, r_out, r_in)
    ring = np.round(
        np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)]), 6
    )
    bx0 = cx - rng.uniform(0, 6)
    by0 = cy - rng.uniform(0, 6)
    box = make_box(bx0, by0, cx + rng.uniform(0.5, 6), cy + rng.uniform(0.5, 6))
    return from_rings([[ring]]), box


@settings(max_examples=60, deadline=None, derandomize=True)
@given(full_precision_star_and_box())
def test_full_precision_star_conservation(ab):
    """Inclusion-exclusion at 6-decimal coords: the 1e-6 snap shifts areas
    by at most ~perimeter x 1e-6 (~2e-4 deg^2 here) — a 4000-case soak of
    this generator measured max error ~1e-5, never above 5e-4."""
    a, b = ab
    aa, ab_ = planar_area(a), planar_area(b)
    ai = planar_area(intersection(a, b))
    assert abs(aa + ab_ - planar_area(union(a, b)) - ai) < 5e-4
    assert abs(aa - planar_area(difference(a, b)) - ai) < 5e-4
    assert abs(ab_ - planar_area(difference(b, a)) - ai) < 5e-4

"""S2 (way->ring assembly) + S3 (per-source boundary union) tests.

The reference gets S2 from the `osmtogeojson` dependency (index.js:504)
and S3 from `saveSingleMultiPolygon` (index.js:530-586); goldens here are
hand-computed areas of the fixture shapes, independent of the kernels.
"""

import json

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests._kernel_ref import points_in_packed
from timezone_boundary_builder_spark.geom.codec import from_geojson
from timezone_boundary_builder_spark.geom.kernels import planar_area
from timezone_boundary_builder_spark.operators.ring_assembly import (
    assemble_multipolygon,
    assemble_relations,
    chain_ways,
)
from timezone_boundary_builder_spark.operators.source_union import source_union
from timezone_boundary_builder_spark.sources.fixtures import (
    RELATION_GOLDEN,
    SOURCE_UNION_GOLDEN,
    osm_features_pdf,
    relation_ways_pdf,
)


# ------------------------------------------------------------- unit level


def test_chain_reversed_and_shuffled_ways_close_ring():
    ring = [[0, 0], [10, 0], [10, 10], [0, 10]]
    pts = ring + [ring[0]]
    w1 = np.array(pts[0:3], float)
    w2 = np.array(pts[2:4], float)[::-1]  # reversed
    w3 = np.array(pts[3:5], float)
    rings, dropped = chain_ways([w3, w2, w1])  # shuffled
    assert dropped == 0
    assert len(rings) == 1
    assert len(rings[0]) == 4


def test_unclosed_way_is_dropped_not_fatal():
    rings, dropped = chain_ways([np.array([[0, 0], [1, 0], [2, 0]], float)])
    assert rings == [] and dropped == 1


def test_hole_classified_inner_and_depth2_island():
    def closed(pts):
        return np.array(pts + pts[:1], float)

    shell = closed([[0, 0], [40, 0], [40, 40], [0, 40]])
    hole = closed([[10, 10], [30, 10], [30, 30], [10, 30]])
    island = closed([[15, 15], [25, 15], [25, 25], [15, 25]])
    geom, dropped = assemble_multipolygon([shell, hole, island])
    assert dropped == 0
    assert geom.n_polys == 2 and geom.n_rings == 3
    assert planar_area(geom) == pytest.approx(1600 - 400 + 100)
    inside = points_in_packed(
        np.array([[5.0, 5.0], [12.0, 12.0], [20.0, 20.0]]), geom
    )
    assert list(inside) == [True, False, True]


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_property_random_star_polygon_reassembles(data):
    """Random star-shaped polygon, split into random ways at random
    rotation with random reversals -> assembly preserves area and PIP."""
    n = data.draw(st.integers(min_value=4, max_value=14))
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    ang = np.sort(rng.uniform(0, 2 * np.pi, size=n))
    if np.min(np.diff(ang)) < 1e-3:
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rad = rng.uniform(1.0, 10.0, size=n)
    ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
    ring = np.round(ring, 6)
    # rotate start, split into k ways, reverse some
    k = data.draw(st.integers(min_value=1, max_value=5))
    start = data.draw(st.integers(min_value=0, max_value=n - 1))
    ring = np.roll(ring, start, axis=0)
    pts = np.vstack([ring, ring[:1]])
    cuts = sorted({0, n, *rng.integers(1, n, size=k - 1).tolist()})
    ways = []
    for a, b in zip(cuts, cuts[1:]):
        seg = pts[a : b + 1]
        if rng.random() < 0.5:
            seg = seg[::-1]
        ways.append(seg)
    ways = [ways[i] for i in rng.permutation(len(ways))]
    geom, dropped = assemble_multipolygon(ways)
    assert dropped == 0 and geom.n_polys == 1
    from timezone_boundary_builder_spark.geom.kernels import ring_signed_area_planar

    assert planar_area(geom) == pytest.approx(abs(ring_signed_area_planar(ring)))
    probes = rng.uniform(-12, 12, size=(64, 2))
    offs = np.array([0, n], dtype=np.int64)
    from timezone_boundary_builder_spark.geom.kernels import points_in_rings

    expect = points_in_rings(probes, ring, offs)
    assert np.array_equal(points_in_packed(probes, geom), expect)


# ------------------------------------------------------------ Spark level


def test_assemble_relations_matches_goldens(spark):
    pdf = relation_ways_pdf()
    df = spark.createDataFrame(pdf)
    out = {r["relation_id"]: r for r in assemble_relations(df).collect()}
    assert set(out) == set(RELATION_GOLDEN)
    for rel, (n_polys, n_rings, area) in RELATION_GOLDEN.items():
        r = out[rel]
        assert r["n_dropped_ways"] == 0, rel
        assert (r["n_polys"], r["n_rings"]) == (n_polys, n_rings), rel
        assert r["area_deg2"] == pytest.approx(area), rel
        json.loads(r["geometry"])  # valid GeoJSON


def test_assembled_foxtrot_matches_fixture_geometry(spark):
    from timezone_boundary_builder_spark.sources.fixtures import FOXTROT_GJ

    df = spark.createDataFrame(relation_ways_pdf())
    row = assemble_relations(df).filter("relation_id = 'rel_foxtrot'").collect()[0]
    got = from_geojson(row["geometry"])
    want = from_geojson(FOXTROT_GJ)
    pts = np.array([[175.0, 50.0], [-175.0, 50.0], [0.0, 0.0], [179.9, 41.0]])
    assert np.array_equal(points_in_packed(pts, got), points_in_packed(pts, want))


def test_source_union_filters_and_unions(spark):
    df = spark.createDataFrame(osm_features_pdf())
    out = {r["source_id"]: r for r in source_union(df).collect()}
    assert set(out) == set(SOURCE_UNION_GOLDEN)
    for sid, (n_kept, area) in SOURCE_UNION_GOLDEN.items():
        assert out[sid]["n_features"] == n_kept, sid
        assert out[sid]["area_deg2"] == pytest.approx(area), sid
    # bravo's two disjoint boxes stay a 2-poly multipolygon
    assert from_geojson(out["bravo"]["geometry"]).n_polys == 2

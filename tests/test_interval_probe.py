"""Regressions for the flattened Morton-interval probe (the hot-path
lookup): structural invariants, equivalence with the legacy per-level
sorted-array lookup, and a many-zones brute-force world where overlapping
boundary cells stress the CSR candidate table."""

import json

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from tests._cover_ref import lookup
from tests._kernel_ref import points_in_packed
from timezone_boundary_builder_spark.geom.cellindex import cover_polygon
from timezone_boundary_builder_spark.geom.codec import from_geojson
from timezone_boundary_builder_spark.operators.cover import CellMap
from timezone_boundary_builder_spark.operators.spatial_join import assign_codes

BIG = np.iinfo(np.int32).max


def _fixture_cm():
    return entry._local_cellmap()


def test_intervals_partition_domain():
    cm = _fixture_cm()
    pos = cm.ivl_pos
    assert pos[0] == 0
    assert int(pos[-1]) == 1 << (2 * cm.finest)
    assert (np.diff(pos.astype(np.uint64)) > 0).all()
    assert len(cm.ivl_full_tz) == len(pos) - 1
    assert len(cm.ivl_cand_off) == len(pos)
    assert int(cm.ivl_cand_off[-1]) == len(cm.ivl_cand_tz)


def test_probe_equals_legacy_lookup_random_points():
    cm = _fixture_cm()
    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, size=20000)
    lat = rng.uniform(-90, 90, size=20000)
    legacy_assigned, legacy_cand = lookup(cm, lon, lat)
    full_tz, seg = cm.probe(lon, lat)
    probe_assigned = np.where(full_tz == BIG, -1, full_tz)
    assert np.array_equal(probe_assigned, legacy_assigned.astype(np.int64))
    off = cm.ivl_cand_off
    for i in range(len(lon)):
        want = (
            set(np.unique(legacy_cand[i]).tolist())
            if legacy_cand[i] is not None
            else set()
        )
        got = set(cm.ivl_cand_tz[off[seg[i]] : off[seg[i] + 1]].tolist())
        assert got == want, i


def _box_gj(x0, y0, x1, y1):
    return json.dumps(
        {
            "type": "Polygon",
            "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
        }
    )


@pytest.fixture(scope="module")
def many_zone_cm():
    """A 10x10 lattice of 100 zones over [0,100]^2 with deliberate pairwise
    overlaps (each zone extends 0.3 deg past its east/north lattice line),
    so boundary cells carry MANY candidate tzids."""
    rows = []
    for i in range(10):
        for j in range(10):
            tzid = f"Grid/Z{i:02d}{j:02d}"
            gj = _box_gj(i * 10, j * 10, i * 10 + 10.3, j * 10 + 10.3)
            g = from_geojson(gj)
            rows.append(
                {
                    "tzid": tzid,
                    "geometry": gj,
                    "min_x": i * 10.0,
                    "min_y": j * 10.0,
                    "max_x": i * 10 + 10.3,
                    "max_y": j * 10 + 10.3,
                }
            )
    zones_pdf = pd.DataFrame(rows)
    covers = []
    for r in zones_pdf.itertuples():
        cells, full = cover_polygon(from_geojson(r.geometry), max_res=7)
        covers.append(
            pd.DataFrame(
                {"tzid": r.tzid, "cell_id": cells.astype(np.int64), "full": full}
            )
        )
    return CellMap(pd.concat(covers, ignore_index=True), zones_pdf), zones_pdf


def test_many_zones_assignment_matches_brute_force(many_zone_cm):
    cm, zones_pdf = many_zone_cm
    rng = np.random.default_rng(5)
    n = 30000
    lon = rng.uniform(-5, 105, size=n)
    lat = rng.uniform(-5, 105, size=n)
    lat = np.clip(lat, -89.9, 89.9)
    bands = [
        {"tzid": "Etc/GMT+9", "left": -180.0, "right": -90.0},
        {"tzid": "Etc/GMT+3", "left": -90.0, "right": 0.0},
        {"tzid": "Etc/GMT-3", "left": 0.0, "right": 90.0},
        {"tzid": "Etc/GMT-9", "left": 90.0, "right": 180.0},
    ]
    band_edges = np.array([b["left"] for b in bands] + [bands[-1]["right"]])
    code, method = assign_codes(cm, band_edges, 4, lon, lat, knn_max_m=-1.0)
    # brute force: PIP against every zone, min tzid wins; else ocean band
    pts = np.column_stack([lon, lat])
    inside = np.zeros((len(zones_pdf), n), dtype=bool)
    geoms = [from_geojson(g) for g in zones_pdf["geometry"]]
    order = np.argsort(zones_pdf["tzid"].to_numpy())
    for rank, zi in enumerate(order):
        inside[rank] = points_in_packed(pts, geoms[zi])
    any_in = inside.any(axis=0)
    first = inside.argmax(axis=0)  # first True = smallest tzid (rank order)
    tz_sorted = zones_pdf["tzid"].to_numpy()[order]
    n_zones = len(cm.tzids)
    got_land = code[any_in]
    want_land = np.array([cm.tzids.index(tz_sorted[f]) for f in first[any_in]])
    assert np.array_equal(got_land, want_land)
    # ocean rows: correct band by longitude
    band_idx = np.clip(
        np.searchsorted(band_edges, lon[~any_in], side="right") - 1, 0, 3
    )
    assert np.array_equal(code[~any_in], n_zones + band_idx)
    # overlap strips actually exercised: some points must carry >1 candidate
    full_tz, seg = cm.probe(lon, lat)
    cnt = cm.ivl_cand_off[seg + 1] - cm.ivl_cand_off[seg]
    assert int(cnt.max()) >= 2


def test_many_zones_knn_matches_brute_force(many_zone_cm):
    """Grid-CSR kNN prefilter at 100 zones: offshore points within/beyond
    1852 m of the lattice's west edge must match a brute-force min-distance
    oracle over ALL zones."""
    from tests._kernel_ref import min_distance_to_boundary_m

    cm, zones_pdf = many_zone_cm
    rng = np.random.default_rng(17)
    n = 2000
    lon = -rng.uniform(0.0005, 0.04, size=n)  # west of x=0, straddles 1852 m
    lat = rng.uniform(0.5, 99.5, size=n)
    bands = [
        {"tzid": "Etc/GMT+9", "left": -180.0, "right": -90.0},
        {"tzid": "Etc/GMT+3", "left": -90.0, "right": 0.0},
        {"tzid": "Etc/GMT-3", "left": 0.0, "right": 90.0},
        {"tzid": "Etc/GMT-9", "left": 90.0, "right": 180.0},
    ]
    band_edges = np.array([b["left"] for b in bands] + [180.0])
    code, method = assign_codes(cm, band_edges, 4, lon, lat, knn_max_m=1852.0)
    pts = np.column_stack([lon, lat])
    geoms = [from_geojson(g) for g in zones_pdf["geometry"]]
    order = np.argsort(zones_pdf["tzid"].to_numpy())
    tz_sorted = zones_pdf["tzid"].to_numpy()[order]
    dist = np.stack(
        [min_distance_to_boundary_m(pts, geoms[zi]) for zi in order], axis=0
    )
    dmin = dist.min(axis=0)
    # winner = smallest tzid within 1e-9 m of the min
    winner = (dist <= dmin[None, :] + 1e-9).argmax(axis=0)
    knn = dmin <= 1852.0
    assert knn.any() and (~knn).any()  # both sides exercised
    got_knn = np.array([cm.tzids[c] if c < len(cm.tzids) else None for c in code])
    for i in range(n):
        if knn[i]:
            assert method[i] == 2, i  # M_KNN
            assert got_knn[i] == tz_sorted[winner[i]], i
        else:
            assert method[i] == 3, i  # M_OCEAN


def test_knn_wraps_across_antimeridian():
    """A point 100 m WEST of the seam with land 100 m EAST of it is inside
    territorial waters and must take the land tzid: both the grid
    prefilter and the distance kernel wrap longitude at +-180 (without
    the wrap, the land reads as ~360 deg away and the point falls to the
    Etc/GMT+9 ocean band)."""
    gj = _box_gj(179.5, 0.0, 180.0, 10.0)  # land on the EAST side only
    zones_pdf = pd.DataFrame(
        [
            {
                "tzid": "Test/Seam",
                "geometry": gj,
                "min_x": 179.5,
                "min_y": 0.0,
                "max_x": 180.0,
                "max_y": 10.0,
            }
        ]
    )
    cells, full = cover_polygon(from_geojson(gj), max_res=7)
    cm = CellMap(
        pd.DataFrame({"tzid": "Test/Seam", "cell_id": cells.astype(np.int64), "full": full}),
        zones_pdf,
    )
    bands = [
        {"tzid": "Etc/GMT+9", "left": -180.0, "right": -90.0},
        {"tzid": "Etc/GMT+3", "left": -90.0, "right": 0.0},
        {"tzid": "Etc/GMT-3", "left": 0.0, "right": 90.0},
        {"tzid": "Etc/GMT-9", "left": 90.0, "right": 180.0},
    ]
    band_edges = np.array([b["left"] for b in bands] + [180.0])
    # ~100 m and ~5 km west of the seam at lat 5; plus a control point on
    # the east side just off the land's west edge (no wrap involved)
    lon = np.array([-179.9991, -179.955, 179.4991])
    lat = np.array([5.0, 5.0, 5.0])
    code, method = assign_codes(cm, band_edges, 4, lon, lat, knn_max_m=1852.0)
    assert code[0] == 0 and method[0] == 2  # wrapped kNN hit
    assert code[1] == 1 and method[1] == 3  # beyond 1852 m -> GMT+9 band
    assert code[2] == 0 and method[2] == 2  # same-side control


def _mk_cellmap(rows):
    zones_pdf = pd.DataFrame(rows)
    covers = []
    for r in zones_pdf.itertuples():
        cells, full = cover_polygon(from_geojson(r.geometry), max_res=7)
        covers.append(
            pd.DataFrame(
                {"tzid": r.tzid, "cell_id": cells.astype(np.int64), "full": full}
            )
        )
    return CellMap(pd.concat(covers, ignore_index=True), zones_pdf), zones_pdf


def _box_row(tzid, x0, y0, x1, y1):
    return {
        "tzid": tzid,
        "geometry": _box_gj(x0, y0, x1, y1),
        "min_x": float(x0),
        "min_y": float(y0),
        "max_x": float(x1),
        "max_y": float(y1),
    }


_POLAR_BANDS = [
    {"tzid": "Etc/GMT+9", "left": -180.0, "right": -90.0},
    {"tzid": "Etc/GMT+3", "left": -90.0, "right": 0.0},
    {"tzid": "Etc/GMT-3", "left": 0.0, "right": 90.0},
    {"tzid": "Etc/GMT-9", "left": 90.0, "right": 180.0},
]
_POLAR_EDGES = np.array([b["left"] for b in _POLAR_BANDS] + [180.0])


def test_knn_pad_covers_high_latitude():
    """At 86 deg latitude 1852 m of longitude is ~0.18 deg — more than the
    base 0.1 deg grid pad. A point 0.1505 deg east of a polar zone
    (~1169 m under the kernel metric) must still see the zone as a kNN
    candidate: the grid's lon pad scales by 1/cos(lat)."""
    cm, _ = _mk_cellmap([_box_row("Polar/A", 10.0, 85.5, 10.85, 86.5)])
    lon = np.array([11.0005, 11.30, 10.4])
    lat = np.array([86.0, 86.0, 86.0])
    code, method = assign_codes(cm, _POLAR_EDGES, 4, lon, lat, knn_max_m=1852.0)
    assert code[0] == 0 and method[0] == 2  # 1169 m east -> kNN hit
    assert method[1] == 3  # 3494 m east -> ocean band
    assert code[2] == 0 and method[2] in (0, 1)  # interior control


def test_knn_seam_mask_is_metric_at_high_latitude():
    """A point 1.8 deg of lon from cross-seam land at lat 89.5 is only
    ~1749 m away (cos shrinks the degree): the wrap pass must fire even
    though |lon| < 179, i.e. the seam mask is metric, not a fixed degree
    threshold."""
    cm, _ = _mk_cellmap([_box_row("Polar/Seam", -180.0, 89.0, -179.0, 89.8)])
    lon = np.array([178.2, 170.0])
    lat = np.array([89.5, 89.5])
    code, method = assign_codes(cm, _POLAR_EDGES, 4, lon, lat, knn_max_m=1852.0)
    assert code[0] == 0 and method[0] == 2  # wrapped kNN hit at |lon|<179
    assert method[1] == 3  # 10686 m across the seam -> ocean


def test_polar_band_soak_matches_brute_force():
    """Exactness soak at |lat| >= 79: random points against a ring of polar
    zones (including seam-adjacent ones, both hemispheres) must match a
    brute-force oracle over ALL zones with explicit lon+-360 wrap —
    interior, kNN-within-1852 m, and ocean rows alike."""
    from tests._kernel_ref import min_distance_to_boundary_m

    rows = []
    for k in range(12):
        x0 = -180.0 + k * 30.0 + 3.0
        rows.append(_box_row(f"Polar/N{k:02d}", x0, 80.0 + (k % 4), x0 + 9.0, 84.0 + (k % 4)))
    rows.append(_box_row("Polar/SeamW", -180.0, 86.0, -176.5, 88.5))
    rows.append(_box_row("Polar/SeamE", 177.0, 85.0, 180.0, 87.0))
    rows.append(_box_row("Polar/South", -40.0, -88.0, -20.0, -81.0))
    cm, zones_pdf = _mk_cellmap(rows)

    rng = np.random.default_rng(23)
    n = 20000
    lon = rng.uniform(-180.0, 180.0, size=n)
    lat = np.where(
        rng.random(n) < 0.85,
        rng.uniform(79.0, 89.9, size=n),
        -rng.uniform(79.0, 89.9, size=n),
    )
    code, method = assign_codes(cm, _POLAR_EDGES, 4, lon, lat, knn_max_m=1852.0)

    pts = np.column_stack([lon, lat])
    order = np.argsort(zones_pdf["tzid"].to_numpy())
    tz_sorted = zones_pdf["tzid"].to_numpy()[order]
    geoms = [from_geojson(zones_pdf["geometry"].iloc[zi]) for zi in order]
    inside = np.stack([points_in_packed(pts, g) for g in geoms], axis=0)
    dist = np.full((len(geoms), n), np.inf)
    for r, g in enumerate(geoms):
        for shift in (0.0, -360.0, 360.0):
            sp = np.column_stack([lon + shift, lat])
            dist[r] = np.minimum(dist[r], min_distance_to_boundary_m(sp, g))
    n_zones = len(cm.tzids)

    any_in = inside.any(axis=0)
    first = inside.argmax(axis=0)
    # land rows: smallest containing tzid
    want_land = np.array(
        [cm.tzids.index(tz_sorted[f]) for f in first[any_in]], dtype=np.int64
    )
    assert np.array_equal(code[any_in], want_land)
    # offshore rows: same strictly-better / ascending-tzid rule as the kernel
    off_idx = np.nonzero(~any_in)[0]
    dmin = np.full(len(off_idx), np.inf)
    dwin = np.full(len(off_idx), -1, dtype=np.int64)
    for r in range(len(geoms)):
        better = dist[r, off_idx] < dmin - 1e-9
        dmin[better] = dist[r, off_idx[better]]
        dwin[better] = r
    knn = dmin <= 1852.0
    assert knn.sum() > 50  # the polar shell is actually exercised
    got = code[off_idx]
    for i in np.nonzero(knn)[0]:
        assert method[off_idx[i]] == 2, (lon[off_idx[i]], lat[off_idx[i]])
        assert cm.tzids[got[i]] == tz_sorted[dwin[i]], (
            lon[off_idx[i]],
            lat[off_idx[i]],
        )
    band_idx = np.clip(
        np.searchsorted(_POLAR_EDGES, lon[off_idx[~knn]], side="right") - 1, 0, 3
    )
    assert np.array_equal(got[~knn], n_zones + band_idx)
    assert (method[off_idx[~knn]] == 3).all()

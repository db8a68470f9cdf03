"""Deterministic synthetic test world (FIXTURES.md §§1-6).

Mirrors the reference's config/data model — timezones.json op lists,
osmBoundarySources.json source geometries, expectedZoneOverlaps.json
tolerance bboxes, the hard-coded ocean band table (reference
index.js:107-133) — on an 8-zone synthetic planet that exercises every op
kind: plain init, union exclave, difference hole, intersect clip, a
4-op chain, an antimeridian multipolygon, a non-axis-aligned triangle,
and a shared 'disputed' source that makes two zones legitimately overlap
(like the China-Bhutan disputed area, osmBoundarySources.json:910).

The reference downloads sources from Overpass (index.js:465-587); the
engine has no network, so source geometries are inline constants here.
"""

from __future__ import annotations

import functools as _functools
import hashlib
import json

import numpy as np
import pandas as pd


def _box_gj(x0, y0, x1, y1) -> str:
    return json.dumps(
        {
            "type": "Polygon",
            "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
        },
        separators=(",", ":"),
    )


TRIANGLE_GJ = json.dumps(
    {"type": "Polygon", "coordinates": [[[100, 10], [130, 10], [115, 35], [100, 10]]]},
    separators=(",", ":"),
)

FOXTROT_GJ = json.dumps(
    {
        "type": "MultiPolygon",
        "coordinates": [
            [[[170, 40], [180, 40], [180, 60], [170, 60], [170, 40]]],
            [[[-180, 40], [-170, 40], [-170, 60], [-180, 60], [-180, 40]]],
        ],
    },
    separators=(",", ":"),
)

# source_id -> (query_kind, geojson)  [mirror of osmBoundarySources.json]
SOURCES = {
    "alpha": ("timezone", _box_gj(0, 0, 30, 30)),
    "hotel": ("timezone", _box_gj(0, 30, 30, 50)),
    # shared by two zones; right edge exactly touches Test/Bravo (zero-area
    # contact, below the 1e-4 deg2 significance threshold)
    "disputed": ("boundary", _box_gj(20, 25, 30, 35)),
    "bravo": ("timezone", _box_gj(30, 0, 60, 30)),
    "charlie": ("timezone", _box_gj(0, -40, 40, -10)),
    "delta": ("timezone", _box_gj(-60, 0, -20, 40)),
    "echo": ("timezone", _box_gj(-60, -50, -20, -20)),
}

# tzid -> ordered op list [mirror of timezones.json; ops per index.js:829-854]
ZONES = {
    "Test/Alpha": [
        {"op": "init", "source": "overpass", "source_id": "alpha"},
        {"op": "union", "source": "overpass", "source_id": "disputed"},
    ],
    "Test/Hotel": [
        {"op": "init", "source": "overpass", "source_id": "hotel"},
        {"op": "union", "source": "overpass", "source_id": "disputed"},
    ],
    "Test/Bravo": [
        {"op": "init", "source": "overpass", "source_id": "bravo"},
        {
            "op": "union",
            "source": "manual-polygon",
            "geometry": _box_gj(70, 5, 75, 10),
            "description": "exclave east of bravo",
        },
    ],
    "Test/Charlie": [
        {"op": "init", "source": "overpass", "source_id": "charlie"},
        {
            "op": "difference",
            "source": "manual-polygon",
            "geometry": _box_gj(10, -30, 20, -20),
            "description": "enclave hole",
        },
    ],
    "Test/Delta": [
        {"op": "init", "source": "overpass", "source_id": "delta"},
        {
            "op": "intersect",
            "source": "manual-polygon",
            "geometry": _box_gj(-50, -10, -30, 30),
            "description": "clip to western half",
        },
    ],
    "Test/Echo": [
        {"op": "init", "source": "overpass", "source_id": "echo"},
        {
            "op": "union",
            "source": "manual-polygon",
            "geometry": _box_gj(-20, -50, -10, -20),
            "description": "adjacent extension",
        },
        {
            "op": "difference",
            "source": "manual-polygon",
            "geometry": _box_gj(-15, -45, -12, -25),
            "description": "carved hole",
        },
        {
            "op": "intersect",
            "source": "manual-polygon",
            "geometry": _box_gj(-60, -50, -11, -20),
            "description": "clip eastern sliver",
        },
    ],
    "Test/Foxtrot": [
        {
            "op": "init",
            "source": "manual-multipolygon",
            "geometry": FOXTROT_GJ,
            "description": "antimeridian zone",
        },
    ],
    "Test/Golf": [
        {
            "op": "init",
            "source": "manual-polygon",
            "geometry": TRIANGLE_GJ,
            "description": "triangle zone",
        },
    ],
}

# allowed overlap bboxes [mirror of expectedZoneOverlaps.json]
EXPECTED_OVERLAPS = [
    {
        "tz_a": "Test/Alpha",
        "tz_b": "Test/Hotel",
        "min_x": 20.0,
        "min_y": 25.0,
        "max_x": 30.0,
        "max_y": 35.0,
        "description": "shared disputed source",
    },
]

# 4 x 90-degree bands [mirror of the reference's 25 x 15-degree table,
# index.js:107-133: tzid Etc/GMT+N west of Greenwich, -N east]
OCEAN_BANDS = [
    {"tzid": "Etc/GMT+9", "left": -180.0, "right": -90.0},
    {"tzid": "Etc/GMT+3", "left": -90.0, "right": 0.0},
    {"tzid": "Etc/GMT-3", "left": 0.0, "right": 90.0},
    {"tzid": "Etc/GMT-9", "left": 90.0, "right": 180.0},
]

# derived-zone grouping config (FIXTURES.md §6; mirror of
# getZoneCfgSinceTime output, reference index.js:169-245): Alpha+Hotel keep
# the same clocks since 1970 with Alpha the more populous representative.
ZONE_GROUPS = [
    {"strategy": "1970", "rep_tzid": "Test/Alpha", "member_tzid": "Test/Alpha", "population": 1000000},
    {"strategy": "1970", "rep_tzid": "Test/Alpha", "member_tzid": "Test/Hotel", "population": 20000},
    {"strategy": "1970", "rep_tzid": "Test/Bravo", "member_tzid": "Test/Bravo", "population": 500000},
    {"strategy": "now", "rep_tzid": "Test/Alpha", "member_tzid": "Test/Alpha", "population": 1000000},
    {"strategy": "now", "rep_tzid": "Test/Alpha", "member_tzid": "Test/Hotel", "population": 20000},
    {"strategy": "now", "rep_tzid": "Test/Alpha", "member_tzid": "Test/Charlie", "population": 90000},
    # a group with an ocean-band member: Foxtrot keeps GMT+9 clocks "now",
    # so the Etc/GMT+9 ocean merges INTO the Foxtrot rep for the
    # now-with-oceans product and is skipped as a standalone feature
    # (reference hasAlikeInNow, index.js:1206-1216, 1367-1374; the real
    # config does this for e.g. America/Adak vs Etc/GMT+10)
    {"strategy": "now", "rep_tzid": "Test/Foxtrot", "member_tzid": "Test/Foxtrot", "population": 50000},
    {"strategy": "now", "rep_tzid": "Test/Foxtrot", "member_tzid": "Etc/GMT+9", "population": 0},
]


def zones_config_pdf(include_invalid_overlap: bool = False) -> pd.DataFrame:
    rows = []
    zones = dict(ZONES)
    if include_invalid_overlap:
        # an overlap with Bravo that is NOT in EXPECTED_OVERLAPS -> the
        # validation stage must flag it (reference index.js:1159-1171)
        zones = {
            **zones,
            "Test/Juliett": [
                {
                    "op": "init",
                    "source": "manual-polygon",
                    "geometry": _box_gj(55, 5, 65, 15),
                    "description": "illegally overlaps bravo",
                }
            ],
        }
    for tzid, ops in zones.items():
        for i, op in enumerate(ops):
            rows.append(
                {
                    "tzid": tzid,
                    "op_seq": i,
                    "op": op["op"],
                    "source": op["source"],
                    "source_id": op.get("source_id"),
                    "geometry": op.get("geometry"),
                    "description": op.get("description"),
                }
            )
    return pd.DataFrame(rows)


def sources_pdf() -> pd.DataFrame:
    rows = []
    for sid, (kind, gj) in SOURCES.items():
        rows.append(
            {
                "source_id": sid,
                "query_kind": kind,
                "geometry": gj,
                "content_hash": hashlib.md5(gj.encode()).hexdigest(),
            }
        )
    return pd.DataFrame(rows)


def expected_overlaps_pdf() -> pd.DataFrame:
    return pd.DataFrame(EXPECTED_OVERLAPS)


def zone_groups_pdf() -> pd.DataFrame:
    return pd.DataFrame(ZONE_GROUPS)


def osm_tz_boundaries_pdf() -> pd.DataFrame:
    """Raw per-tz OSM `timezone=tzid` boundary table — the S6 downloads
    (downloadOsmTimezoneBoundary, index.js:602-666) that feed the
    combined-osm-zones output (combineAndWriteOSMZones, index.js:1391-1405).
    Stand-in: each zone's init geometry; Test/Golf simulates a failed
    download and carries the 0.2-degree null-island placeholder square
    (index.js:643-660)."""
    from ..operators.ring_assembly import NULL_ISLAND_GJ

    rows = []
    for tzid, ops in ZONES.items():
        if tzid == "Test/Golf":
            rows.append(
                {"tzid": tzid, "geometry": NULL_ISLAND_GJ, "placeholder": True}
            )
            continue
        init = ops[0]
        gj = init.get("geometry") or SOURCES[init["source_id"]][1]
        rows.append({"tzid": tzid, "geometry": gj, "placeholder": False})
    return pd.DataFrame(rows)


# ----------------------------------------------- OSM relation-ways table
# Raw relation members as OSM delivers them (SURVEY S2): open polylines in
# arbitrary order and direction. Deterministic decomposition of known
# rings so assembly goldens are hand-computable.


def _ring_to_ways(ring: list, n_ways: int, rel: str, base_way: int, rng) -> list:
    """Split a closed ring (open list of [lon,lat]) into n_ways polylines
    with shared endpoints, shuffled and randomly reversed."""
    pts = ring + [ring[0]]
    cuts = sorted({0, len(pts) - 1, *(int(c) for c in rng.choice(
        np.arange(1, len(pts) - 1), size=min(n_ways - 1, len(pts) - 2), replace=False
    ))})
    ways = []
    for a, b in zip(cuts, cuts[1:]):
        seg = pts[a : b + 1]
        if rng.random() < 0.5:
            seg = seg[::-1]
        ways.append(seg)
    ways = [ways[i] for i in rng.permutation(len(ways))]
    return [
        {
            "relation_id": rel,
            "way_id": base_way + i,
            "seq": i,
            "coords": [[float(x), float(y)] for x, y in w],
        }
        for i, w in enumerate(ways)
    ]


def _box_ring(x0, y0, x1, y1) -> list:
    xm, ym = (x0 + x1) / 2.0, (y0 + y1) / 2.0
    return [
        [x0, y0], [xm, y0], [x1, y0], [x1, ym], [x1, y1],
        [xm, y1], [x0, y1], [x0, ym],
    ]


# relation -> list of rings (role inferred by nesting, as osmtogeojson does
# when roles are missing/wrong). Areas are hand-computable goldens.
RELATIONS = {
    # plain ring: 30x30 = 900 deg2
    "rel_alpha": [_box_ring(0, 0, 30, 30)],
    # shell + hole: 40x30 - 10x10 = 1100 deg2
    "rel_charlie_hole": [_box_ring(0, -40, 40, -10), _box_ring(10, -30, 20, -20)],
    # two disjoint outers (antimeridian pair): 2 x 10x20 = 400 deg2
    "rel_foxtrot": [_box_ring(170, 40, 180, 60), _box_ring(-180, 40, -170, 60)],
    # non-axis-aligned triangle: 0.5*30*25 = 375 deg2
    "rel_golf": [[[100, 10], [115, 10], [130, 10], [122.5, 22.5], [115, 35], [107.5, 22.5]]],
    # depth-2 nesting (island in a lake): 1600 - 400 + 100 = 1300 deg2
    "rel_nested": [
        _box_ring(100, -40, 140, 0),
        _box_ring(110, -30, 130, -10),
        _box_ring(115, -25, 125, -15),
    ],
}

RELATION_GOLDEN = {
    # relation_id -> (n_polys, n_rings, area_deg2)
    "rel_alpha": (1, 1, 900.0),
    "rel_charlie_hole": (1, 2, 1100.0),
    "rel_foxtrot": (2, 2, 400.0),
    "rel_golf": (1, 1, 375.0),
    "rel_nested": (2, 3, 1300.0),
}


def source_relation_ways_pdf(seed: int = 13) -> pd.DataFrame:
    """The canonical SOURCES table decomposed into raw OSM relation ways
    (one relation per source id) — the ingest form the reference downloads
    from Overpass (index.js:465-587). Rings are split at existing vertices
    only, so assembly reproduces the source geometries exactly (up to ring
    rotation/direction, which the engine normalizes)."""
    rng = np.random.default_rng(seed)
    rows = []
    way_id = 5000
    for sid, (_kind, gj) in SOURCES.items():
        obj = json.loads(gj)
        polys = (
            [obj["coordinates"]]
            if obj["type"] == "Polygon"
            else obj["coordinates"]
        )
        for rings in polys:
            for ring in rings:
                open_ring = ring[:-1] if ring[0] == ring[-1] else list(ring)
                rows.extend(
                    _ring_to_ways(
                        [list(p) for p in open_ring], 3, sid, way_id, rng
                    )
                )
                way_id += 100
    pdf = pd.DataFrame(rows)
    pdf["seq"] = pdf.groupby("relation_id").cumcount()
    return pdf


def relation_ways_pdf(seed: int = 7) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    way_id = 1000
    for rel, rings in RELATIONS.items():
        for ring in rings:
            rows.extend(_ring_to_ways(ring, 3, rel, way_id, rng))
            way_id += 100
    # re-number seq within relation (chaining must not rely on order)
    pdf = pd.DataFrame(rows)
    pdf["seq"] = pdf.groupby("relation_id").cumcount()
    return pdf


# --------------------------------------------- raw OSM feature table (S3)
# Overpass results as feature rows BEFORE per-source union: some features
# are admin enclaves (feature_type != 'boundary') or non-areal members —
# the reference filters those out before unioning (index.js:538-541).

OSM_FEATURES = [
    # alpha: two overlapping boundary boxes -> union is the 30x30 = 900 box
    ("alpha", "Polygon", "boundary", _box_gj(0, 0, 20, 30)),
    ("alpha", "Polygon", "boundary", _box_gj(10, 0, 30, 30)),
    # filtered: enclave + line member
    ("alpha", "Polygon", "administrative", _box_gj(50, 50, 60, 60)),
    ("alpha", "LineString", "boundary", '{"type":"LineString","coordinates":[[0,0],[1,1]]}'),
    # bravo: two disjoint boundary boxes -> 2-poly multipolygon, 600 deg2
    ("bravo", "Polygon", "boundary", _box_gj(30, 0, 40, 30)),
    ("bravo", "Polygon", "boundary", _box_gj(50, 0, 60, 30)),
    # golf: triangle, 375 deg2
    ("golf", "Polygon", "boundary", TRIANGLE_GJ),
]

SOURCE_UNION_GOLDEN = {
    # source_id -> (n_features_kept, area_deg2)
    "alpha": (2, 900.0),
    "bravo": (2, 600.0),
    "golf": (1, 375.0),
}


def osm_features_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        OSM_FEATURES, columns=["source_id", "geom_type", "feature_type", "geometry"]
    )


# ------------------------------------------------------------ pages table


_WORDS = (
    "the quick brown fox jumps over a lazy dog near the old harbor "
    "where ships anchor and merchants trade spices wool and tea"
).split()

# land sampling targets: (tzid, sampler) — rectangles sample uniformly,
# the triangle via barycentric coords, charlie rejects its hole
_LAND_RECTS = [
    ("Test/Alpha", (0, 0, 30, 30)),
    ("Test/Hotel", (0, 30, 30, 50)),
    ("Test/Bravo", (30, 0, 60, 30)),
    ("Test/Charlie", (0, -40, 40, -10)),
    ("Test/Delta", (-50, 0, -30, 30)),
    ("Test/Echo", (-60, -50, -20, -20)),
    ("Test/Foxtrot", (170, 40, 180, 60)),
    ("Test/Foxtrot", (-180, 40, -170, 60)),
]

URBAN_CENTER = (10.0, 10.0)  # dense 'urban' hotspot inside Test/Alpha


def synthetic_pages(n: int = 2000, seed: int = 42) -> pd.DataFrame:
    """Deterministic Common-Crawl-style pages table (FIXTURES.md §1):
    url, warc_ts, html(binary), text, lang — ~80% land coords of which
    >=30% in the urban hotspot (skew), ~5% offshore within 1852 m of
    Test/Alpha's west edge, ~5% deep ocean, ~10% no coordinate.
    """
    rng = np.random.default_rng(seed)
    urls, tss, htmls, texts, langs = [], [], [], [], []
    kinds = []
    for i in range(n):
        u = rng.random()
        lat = lon = None
        if u < 0.50:  # land, uniform zone
            tz, (x0, y0, x1, y1) = _LAND_RECTS[int(rng.integers(len(_LAND_RECTS)))]
            lon = rng.uniform(x0 + 0.05, x1 - 0.05)
            lat = rng.uniform(y0 + 0.05, y1 - 0.05)
            if tz == "Test/Charlie":  # stay out of the hole
                while 10 < lon < 20 and -30 < lat < -20:
                    lon = rng.uniform(x0 + 0.05, x1 - 0.05)
                    lat = rng.uniform(y0 + 0.05, y1 - 0.05)
            kind = "land"
        elif u < 0.80:  # urban hotspot (skewed cell)
            lon = URBAN_CENTER[0] + rng.uniform(-0.5, 0.5)
            lat = URBAN_CENTER[1] + rng.uniform(-0.5, 0.5)
            kind = "urban"
        elif u < 0.85:  # offshore < 1852 m west of Test/Alpha's x=0 edge
            lon = -rng.uniform(0.002, 0.015)
            lat = rng.uniform(5.0, 25.0)
            kind = "offshore"
        elif u < 0.90:  # deep ocean -> Etc/GMT+9 band
            lon = rng.uniform(-170.0, -100.0)
            lat = rng.uniform(-80.0, -60.0)
            kind = "deep_ocean"
        else:
            kind = "none"
        words = " ".join(rng.choice(_WORDS, size=int(rng.integers(8, 24))))
        if lat is not None:
            lat = round(float(lat), 6)
            lon = round(float(lon), 6)
            if rng.random() < 0.5:
                coord = f"geo:{lat},{lon}"
            else:
                coord = f"@({lat}, {lon})"
            pos = int(rng.integers(0, 3))
            parts = words.split(" ")
            parts.insert(min(pos * 5, len(parts)), coord)
            text = " ".join(parts)
        else:
            text = words
        url = f"https://example.org/{seed}/{i:07d}"
        urls.append(url)
        tss.append(pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=int(rng.integers(0, 10_000_000))))
        htmls.append(f"<html><body>{text}</body></html>".encode())
        texts.append(text)
        langs.append(str(rng.choice(["en", "de", "fr", "es", "zh"])))
        kinds.append(kind)
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": tss,
            "html": htmls,
            "text": texts,
            "lang": langs,
            "kind": kinds,  # generator ground-truth hint (tests only; dropped in pipelines)
        }
    )


@_functools.lru_cache(maxsize=1)
def local_zones() -> pd.DataFrame:
    """The synthetic zone world folded locally (pure numpy, no Spark) —
    feeds the broadcast cell map, the production jobs' fixture path, and
    the SQL oracles' edge tables. Lives in the package (not the repo-root
    driver harness) so spark-submit --py-files engine.zip runs can build
    it without the repo checkout on sys.path."""
    from ..operators.zone_build import fold_zone_ops, post_process, zone_row

    cfg = zones_config_pdf()
    src = sources_pdf().set_index("source_id")["geometry"].to_dict()
    rows = []
    for tzid, grp in cfg.groupby("tzid"):
        ops = []
        for r in grp.sort_values("op_seq").itertuples():
            gj = r.geometry if isinstance(r.geometry, str) and r.geometry else src[r.source_id]
            ops.append({"op_seq": r.op_seq, "op": r.op, "geometry": gj})
        rows.append(zone_row(tzid, post_process(fold_zone_ops(ops))))
    return pd.DataFrame(rows).sort_values("tzid").reset_index(drop=True)


@_functools.lru_cache(maxsize=1)
def local_cellmap(max_res: int = 7):
    from ..operators.cover import cellmap_from_zones_pdf

    return cellmap_from_zones_pdf(local_zones(), max_res=max_res)


def dense_zone_world(nx: int = 100, ny: int = 100, seed: int = 11) -> pd.DataFrame:
    """A synthetic dense zone world: nx*ny quadrilateral zones tiling
    [-180,180]x[-90,90] as a jittered lattice (shared corners => a
    PERFECT tiling, no gaps or overlaps by construction). Deterministic
    (seeded), pure numpy, convexity-asserted — the 10^4+-zone stress
    input for the cover/CellMap scale path (the real reference world is
    419 zones; BENCH.md's open question was cover growth at 10^5-ish
    perimeter, which this world emulates with ~40x the zone count and
    ~25x the total perimeter).

    Columns: tzid, geometry (GeoJSON Polygon string), min_x/min_y/
    max_x/max_y — the exact shape collect_cell_map consumes.
    """
    rng = np.random.default_rng(seed)
    dx, dy = 360.0 / nx, 180.0 / ny
    # lattice points with jitter < 0.25*spacing; world border pinned so
    # the tiling exactly covers the rectangle
    gx = -180.0 + dx * np.arange(nx + 1)[None, :] * np.ones((ny + 1, 1))
    gy = -90.0 + dy * np.arange(ny + 1)[:, None] * np.ones((1, nx + 1))
    jx = (rng.random((ny + 1, nx + 1)) - 0.5) * (0.5 * dx)
    jy = (rng.random((ny + 1, nx + 1)) - 0.5) * (0.5 * dy)
    jx[:, 0] = jx[:, -1] = 0.0
    jy[0, :] = jy[-1, :] = 0.0
    # snap to the 1e-6 grid the engine's packed coordinate codec uses, so
    # corner coordinates round-trip bit-exactly through GeoJSON
    px = np.round((gx + jx) * 1e6) / 1e6
    py = np.round((gy + jy) * 1e6) / 1e6
    rows = []
    for j in range(ny):
        for i in range(nx):
            xs = np.array([px[j, i], px[j, i + 1], px[j + 1, i + 1], px[j + 1, i]])
            ys = np.array([py[j, i], py[j, i + 1], py[j + 1, i + 1], py[j + 1, i]])
            # convexity: all corner cross products strictly one sign (the
            # jitter bound guarantees it; assert so a future bound change
            # fails loudly instead of silently breaking the test oracle)
            ex, ey = np.roll(xs, -1) - xs, np.roll(ys, -1) - ys
            cr = ex * np.roll(ey, -1) - ey * np.roll(ex, -1)
            assert (cr > 0).all() or (cr < 0).all(), (i, j)
            ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
            ring.append(ring[0])
            rows.append(
                {
                    "tzid": f"Dense/Z{j:03d}_{i:03d}",
                    "geometry": json.dumps(
                        {"type": "Polygon", "coordinates": [ring]}
                    ),
                    "min_x": float(xs.min()),
                    "min_y": float(ys.min()),
                    "max_x": float(xs.max()),
                    "max_y": float(ys.max()),
                }
            )
    return pd.DataFrame(rows)

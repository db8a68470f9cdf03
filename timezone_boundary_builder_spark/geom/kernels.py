"""Vectorized geometry kernels (pure numpy).

These are the engine's equivalents of the reference's jsts/turf calls
(reference index.js:325-445, 733-784, 1035-1043) plus the point-in-polygon
and distance kernels the serving layer needs (the reference delegates
lookup to downstream libraries, README.md:125-156). Everything operates on
flat numpy arrays so a single call processes an entire Arrow batch.
"""

from __future__ import annotations

import numpy as np

from .codec import PackedGeometry, from_rings

# mapbox/geojson-area uses the WGS84 semi-major axis as a sphere radius
# (reference consumes it at index.js:747,760,1139 for m2 thresholds).
EARTH_RADIUS_M = 6378137.0
# Reference precision model: 1e6 fixed grid == 6 decimal places
# (reference index.js:327-328).
PRECISION_DECIMALS = 6

__all__ = [
    "snap",
    "bbox",
    "ring_signed_area_planar",
    "planar_area",
    "ring_area_sq_meters",
    "geodesic_area_m2",
    "points_in_rings",
    "ray_crosses",
    "pair_edge_d2",
    "csr_pairs",
    "RowEdges",
    "ring_interior_point",
    "geom_hash",
]


def snap(coords: np.ndarray, decimals: int = PRECISION_DECIMALS) -> np.ndarray:
    """Precision reduction: snap coordinates to the 1e-6 degree grid — the
    engine's GeometryPrecisionReducer (reference index.js:327-328, 356-359)."""
    return np.round(coords, decimals)


def bbox(coords: np.ndarray) -> tuple[float, float, float, float]:
    """(min_x, min_y, max_x, max_y) over a vertex array."""
    if len(coords) == 0:
        return (np.nan, np.nan, np.nan, np.nan)
    mn = coords.min(axis=0)
    mx = coords.max(axis=0)
    return (float(mn[0]), float(mn[1]), float(mx[0]), float(mx[1]))


# ---------------------------------------------------------------- areas


def ring_signed_area_planar(ring: np.ndarray) -> float:
    """Shoelace signed area in square DEGREES on raw lon-lat (CCW positive).

    The reference keeps two area units alive: planar deg2 from
    jsts getArea() for significance thresholds (index.js:1090-1092) and
    geodesic m2 for size filters (index.js:747,760). This is the deg2 one.
    """
    if len(ring) < 3:
        return 0.0
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def planar_area(geom: PackedGeometry) -> float:
    """Total planar area in deg2: sum |shell| - sum |holes| per polygon."""
    total = 0.0
    for j in range(geom.n_polys):
        rings = geom.poly_rings(j)
        total += abs(ring_signed_area_planar(rings[0]))
        for h in rings[1:]:
            total -= abs(ring_signed_area_planar(h))
    return total


def ring_area_sq_meters(ring: np.ndarray) -> float:
    """Unsigned spherical ring area in m2 (Chamberlain & Duquette 2007,
    'Some algorithms for polygons on a sphere' — the same formula the
    reference consumes through @mapbox/geojson-area)."""
    if len(ring) < 3:
        return 0.0
    lam = np.radians(ring[:, 0])
    phi = np.radians(ring[:, 1])
    lam2 = np.roll(lam, -1)
    phi2 = np.roll(phi, -1)
    s = np.sum((lam2 - lam) * (2.0 + np.sin(phi) + np.sin(phi2)))
    return abs(s * EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0)


def geodesic_area_m2(geom: PackedGeometry) -> float:
    """Total spherical area in m2: shell minus holes per polygon."""
    total = 0.0
    for j in range(geom.n_polys):
        rings = geom.poly_rings(j)
        total += ring_area_sq_meters(rings[0])
        for h in rings[1:]:
            total -= ring_area_sq_meters(h)
    return total


# ------------------------------------------------- point-in-polygon (PIP)

# Cap the edges x points broadcast at ~8M float64 (64 MB) per chunk.
_PIP_CHUNK_BUDGET = 8_000_000


def ray_crosses(px, py, x1, y1, x2, y2) -> np.ndarray:
    """The even-odd crossing test, elementwise (broadcast-compatible): the
    +x ray from (px, py) crosses edge (x1, y1)-(x2, y2) when the edge
    straddles py and meets that height strictly right of px. Every PIP
    of the engine counts these."""
    straddle = (y1 > py) != (y2 > py)
    # x of edge at height py (safe where straddle; garbage elsewhere, masked)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return straddle & (px < xint)


def _crossings(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Ray-casting crossing counts for points (px,py) against edge set,
    vectorized points x edges."""
    return ray_crosses(px[:, None], py[:, None], x1, y1, x2, y2).sum(axis=1)


def points_in_rings(points: np.ndarray, coords: np.ndarray, ring_offsets: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon over a ring soup.

    Global even-odd parity across ALL edges of ALL rings: for a valid
    (multi)polygon whose polygons are disjoint and whose holes nest inside
    shells, a point is inside iff its total crossing parity is odd — holes
    flip parity, sibling polygons contribute even counts. One vectorized
    pass over the whole edge soup.
    """
    m = len(points)
    if m == 0:
        return np.zeros(0, dtype=bool)
    n_rings = len(ring_offsets) - 1
    if n_rings == 0 or len(coords) == 0:
        return np.zeros(m, dtype=bool)
    # Build edge arrays once: for each ring, edges (i -> i+1, wrap last -> first).
    starts = coords
    ends = np.empty_like(coords)
    for i in range(n_rings):
        a, b = ring_offsets[i], ring_offsets[i + 1]
        ends[a : b - 1] = coords[a + 1 : b]
        ends[b - 1] = coords[a]
    x1, y1 = starts[:, 0], starts[:, 1]
    x2, y2 = ends[:, 0], ends[:, 1]
    px, py = points[:, 0], points[:, 1]
    n_edges = len(x1)
    chunk = max(1, _PIP_CHUNK_BUDGET // max(n_edges, 1))
    parity = np.empty(m, dtype=np.int64)
    for s in range(0, m, chunk):
        e = min(m, s + chunk)
        parity[s:e] = _crossings(px[s:e], py[s:e], x1, y1, x2, y2)
    return (parity & 1).astype(bool)


def pair_edge_d2(pxe, pye, ax, ay, bx, by):
    """Squared point-to-segment distance in radians, elementwise
    (broadcast-compatible), in a local equirectangular projection
    centred on the point."""
    plam = np.radians(pxe)
    pphi = np.radians(pye)
    cosphi = np.cos(pphi)
    axp = (np.radians(ax) - plam) * cosphi
    ayp = np.radians(ay) - pphi
    bxp = (np.radians(bx) - plam) * cosphi
    byp = np.radians(by) - pphi
    dx = bxp - axp
    dy = byp - ayp
    seg_len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = -(axp * dx + ayp * dy) / seg_len2
    t = np.clip(np.nan_to_num(t, nan=0.0), 0.0, 1.0)
    cx = axp + t * dx
    cy = ayp + t * dy
    return cx * cx + cy * cy


# ------------------------------------------------ row-bucketed pair kernel

# Cap on the pairs one numpy pass of a pair kernel holds ((cell, edge)
# pairs of the cover, (point, edge) pairs of stage 2): a pair costs
# ~100 B of temporaries, so a pass stays near 6 MB however many edges a
# zone has (and small passes stay in cache: 2^16 was faster than 2^18 or
# 10^6 on the 512- and 4,096-zone ring worlds).
PAIR_BUDGET = 1 << 16


def csr_pairs(start: np.ndarray, count: np.ndarray, budget: int | None = None):
    """Flat expansion of the CSR ranges [start[i], start[i] + count[i]):
    yields (owner i, position) arrays of at most `budget` pairs each (one
    piece when None; a single empty piece when there are no pairs).
    Owners ascend within and across pieces."""
    count = np.asarray(count, dtype=np.int64)
    end = np.cumsum(count)
    total = int(end[-1]) if len(end) else 0
    step = budget or max(total, 1)
    for lo in range(0, max(total, 1), step):
        hi = min(total, lo + step)
        # owners o0.. hold positions [lo, hi); c of them fall in the piece
        o0, o1 = np.searchsorted(end, lo, side="right"), np.searchsorted(end, hi) + 1
        c = np.minimum(end[o0:o1], hi) - np.maximum(end[o0:o1] - count[o0:o1], lo)
        owner = np.repeat(np.arange(o0, o0 + len(c)), c)
        yield owner, start[owner] + np.arange(lo, hi) - (end[owner] - count[owner])


class RowEdges:
    """A (zone, row) index over a zone-tagged edge soup (Raptor's row-wise
    edge filter): each edge is listed under every latitude row of
    resolution r that its y-range, widened by `pad` degrees, touches.
    row(y) = floor((y + 90) / h), h = 180 / 2^r, is monotone in y, so
    every edge that straddles a point's latitude, or comes within `pad`
    degrees of it, is in the point's own (zone, row) bucket: a test over
    that bucket gives the same answer, bit for bit, as a test over every
    edge of the zone.

    Zone z owns one bucket per row of its edges' row span [first[z],
    first[z] + span): bucket base[z] + row - first[z] holds edges
    off[b] : off[b + 1], so a lookup is gathers only, and the table
    grows with the zones' heights in rows, not with zones x rows."""

    def __init__(self, x1, y1, x2, y2, zone, n_zones: int, r: int, pad: float = 0.0):
        self.r = r
        zone = np.asarray(zone, dtype=np.int64)
        j0 = self.row(np.minimum(y1, y2) - pad)
        j1 = self.row(np.maximum(y1, y2) + pad)
        self.first = np.full(n_zones, 1 << r, dtype=np.int64)
        last = np.full(n_zones, -1, dtype=np.int64)
        np.minimum.at(self.first, zone, j0)
        np.maximum.at(last, zone, j1)
        self.base = np.concatenate([[0], np.cumsum(np.maximum(last - self.first + 1, 0))])
        e, j = next(csr_pairs(j0, j1 - j0 + 1))
        b = self.base[zone[e]] + j - self.first[zone[e]]
        self.off = np.concatenate([[0], np.cumsum(np.bincount(b, minlength=self.base[-1]))])
        e = e[np.argsort(b, kind="stable")]
        self.x1, self.y1, self.x2, self.y2 = x1[e], y1[e], x2[e], y2[e]

    def row(self, y) -> np.ndarray:
        top = (1 << self.r) - 1
        return np.clip(np.floor((y + 90.0) / (180.0 / (1 << self.r))), 0, top).astype(np.int64)

    def _pairs(self, zone, py):
        """(pair, bucket edge) pieces of the (point, zone) pairs."""
        k = self.row(py) - self.first[zone]
        ok = (k >= 0) & (k < self.base[zone + 1] - self.base[zone])
        b = np.where(ok, self.base[zone] + k, 0)
        lo = self.off[b]
        for c, e in csr_pairs(lo, self.off[b + ok] - lo, PAIR_BUDGET):
            if len(c):
                yield c, e

    def inside(self, zone, px, py) -> np.ndarray:
        """Even-odd test of each (point, zone) pair: bool per pair."""
        odd = np.zeros(len(px), dtype=bool)
        for c, e in self._pairs(zone, py):
            hit = ray_crosses(px[c], py[c], self.x1[e], self.y1[e], self.x2[e], self.y2[e])
            a, b = c[0], c[-1] + 1
            odd[a:b] ^= (np.bincount(c[hit] - a, minlength=b - a) & 1).astype(bool)
        return odd

    def min_dist_m(self, zone, px, py, seam) -> np.ndarray:
        """Least distance in meters from each (point, zone) pair's point
        to the zone's bucket edges, also from the lon -+ 360 image of the
        pairs flagged `seam` (the distance does not wrap the
        antimeridian); inf for an empty bucket. Exact for every distance
        the index's pad covers."""
        d2 = np.full(len(px), np.inf)
        for c, e in self._pairs(zone, py):
            pxc, pyc = px[c], py[c]
            ex1, ey1, ex2, ey2 = self.x1[e], self.y1[e], self.x2[e], self.y2[e]
            d = pair_edge_d2(pxc, pyc, ex1, ey1, ex2, ey2)
            sw = seam[c]
            if sw.any():
                pxw = pxc[sw]
                d[sw] = np.minimum(d[sw], pair_edge_d2(
                    pxw - np.sign(pxw) * 360.0, pyc[sw], ex1[sw], ey1[sw], ex2[sw], ey2[sw]))
            first = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
            own = c[first]
            d2[own] = np.minimum(d2[own], np.minimum.reduceat(d, first))
        return np.sqrt(d2) * EARTH_RADIUS_M


# ----------------------------------------------------------- ring utils


def ring_interior_point(ring: np.ndarray) -> np.ndarray:
    """A point strictly inside a simple ring: cast a horizontal line at the
    mid-height of the ring, take the midpoint of the two leftmost crossings."""
    ys = ring[:, 1]
    ymid = (ys.min() + ys.max()) / 2.0
    # avoid passing exactly through a vertex
    if np.any(ys == ymid):
        uniq = np.unique(ys)
        above = uniq[uniq > ymid]
        ymid = (ymid + (above[0] if len(above) else ys.max())) / 2.0
        if np.any(ys == ymid):  # pathological; nudge by epsilon
            ymid += (ys.max() - ys.min()) * 1e-9 + 1e-12
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    straddle = (y1 > ymid) != (y2 > ymid)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (ymid - y1) * (x2 - x1) / (y2 - y1)
    xs = np.sort(xint[straddle])
    if len(xs) < 2:
        # degenerate ring; fall back to centroid
        return ring.mean(axis=0)
    return np.array([(xs[0] + xs[1]) / 2.0, ymid])


def geom_hash(geom: PackedGeometry) -> str:
    """Canonical content hash of a geometry: md5 over snapped, canonically
    ordered ring bytes (engine analog of the reference's memoized zone-geom
    hash, index.js:1035-1043, and equality guard, index.js:1592)."""
    import hashlib

    h = hashlib.md5()
    rings = []
    for i in range(geom.n_rings):
        r = snap(geom.ring(i))
        # rotate ring to start at lexicographically smallest vertex
        if len(r):
            k = np.lexsort((r[:, 1], r[:, 0]))[0]
            r = np.roll(r, -k, axis=0)
        rings.append(r.tobytes())
    for b in sorted(rings):
        h.update(b)
    return h.hexdigest()


def make_box(min_x: float, min_y: float, max_x: float, max_y: float) -> PackedGeometry:
    """Rectangle constructor (engine analog of the reference's ocean band
    rectangles, index.js:1241-1247). CCW shell."""
    ring = np.array(
        [[min_x, min_y], [max_x, min_y], [max_x, max_y], [min_x, max_y]], dtype=np.float64
    )
    return from_rings([[ring]])

"""Uint64 quadkey cell index (H3/S2-style, pure numpy).

The sandbox has no h3/s2 bindings, so the engine defines its own
hierarchical cell grid over WGS84 lon-lat:

- resolution r splits the world into 2^r x 2^r cells (equirectangular);
- cell id = (r << 58) | morton_interleave(cx, cy) — ids at different
  resolutions never collide, and the id of a point's cell at any coarser
  resolution is derivable with bit ops only;
- polygon covering (north_star: "batched H3/S2 covering ... compact cell
  covers") classifies cells as FULL (entirely inside) or BOUNDARY
  (intersecting the outline). It is level-synchronous over all zones:
  one numpy pass per resolution classifies every zone's active cells
  and recurses on the boundary ones, which yields a compacted cover
  directly. A cell no edge crosses is FULL when its centre passes the
  even-odd test of kernels.RowEdges at the cell's resolution — the same
  row-bucketed kernel stage 2 of the spatial join runs on points;
- the cover is served as a broadcast sorted-array map: lookup is one
  np.searchsorted over its flattened Morton intervals — no join, no
  shuffle.

Antimeridian: callers split geometries at +-180 (GeoJSON convention, which
the reference's config data already follows); the grid itself has an exact
cell boundary at lon 0 wrapping x index mod 2^r.
"""

from __future__ import annotations

from collections import namedtuple

import numpy as np

from . import kernels
from .codec import PackedGeometry

MAX_RES = 26  # 2 bits per level, 26*2 = 52 bits + 5 res bits < 64

__all__ = [
    "encode_points",
    "cell_res",
    "cell_bounds",
    "edge_soup",
    "cover_polygons",
    "cover_polygon",
]


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 into the even bit positions
    (constant 5-step magic-mask sequence — O(1) array passes independent of
    resolution, vs one pass per bit)."""
    v = v & np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _interleave_bits(x: np.ndarray, y: np.ndarray, r: int) -> np.ndarray:
    """Morton-interleave r-bit ints x (even bits) and y (odd bits)."""
    return _spread_bits(x.astype(np.uint64)) | (
        _spread_bits(y.astype(np.uint64)) << np.uint64(1)
    )


def encode_points(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Cell ids (uint64) of points at a resolution. Vectorized."""
    n = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    x = np.clip(x, 0, n - 1)
    y = np.clip(y, 0, n - 1)
    code = _interleave_bits(x, y, res)
    return code | (np.uint64(res) << np.uint64(58))


def cell_res(cell: np.ndarray | int):
    return (np.asarray(cell, dtype=np.uint64) >> np.uint64(58)).astype(np.int64)


def _deinterleave(code: int, r: int) -> tuple[int, int]:
    x = y = 0
    for i in range(r):
        x |= ((code >> (2 * i)) & 1) << i
        y |= ((code >> (2 * i + 1)) & 1) << i
    return x, y


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of a cell."""
    c = int(cell)
    r = c >> 58
    code = c & ((1 << 58) - 1)
    x, y = _deinterleave(code, r)
    n = 1 << r
    w = 360.0 / n
    h = 180.0 / n
    return (-180.0 + x * w, -90.0 + y * h, -180.0 + (x + 1) * w, -90.0 + (y + 1) * h)




# ------------------------------------------------------------- covering

# One edge soup over many zones: edge i runs from vertex i to the next
# vertex of its ring; `zone` is its zone, lo_*/hi_* its bbox. Zone z's
# edges are voff[z] : voff[z + 1].
_Edges = namedtuple("_Edges", "x1 y1 x2 y2 zone lo_x hi_x lo_y hi_y voff")


def edge_soup(gs: list[PackedGeometry]) -> _Edges:
    voff = np.cumsum([0] + [len(g.coords) for g in gs])
    # the leading one-offset piece adds no ring; it lets a soup of no zones concatenate
    ro = [np.zeros(1, np.int64)] + [g.ring_offsets + o for g, o in zip(gs, voff)]
    nxt = np.arange(1, voff[-1] + 1)
    nxt[np.concatenate([r[1:] for r in ro]) - 1] = np.concatenate([r[:-1] for r in ro])
    xy = np.concatenate([np.zeros((0, 2))] + [g.coords for g in gs])
    x1, y1, x2, y2 = xy[:, 0], xy[:, 1], xy[nxt, 0], xy[nxt, 1]
    zone = np.repeat(np.arange(len(gs)), np.diff(voff))
    return _Edges(x1, y1, x2, y2, zone, np.minimum(x1, x2), np.maximum(x1, x2),
                  np.minimum(y1, y2), np.maximum(y1, y2), voff)


def _cells_crossed(ed: _Edges, box, start, count, src):
    """Edge test of cells box = (x0, y0, x1, y1) against their candidate
    edges src[start[i] : start[i] + count[i]]: the closed edge-bbox quick
    reject, then the side test (an edge misses the cell when all four
    corners lie strictly on one side of its line). Returns (crossed
    bool[], cell[], edge[]) with the (cell, edge) pairs that passed the
    quick reject, grouped by cell."""
    bx0, by0, bx1, by1 = box
    crossed = np.zeros(len(bx0), dtype=np.int64)
    kept_c, kept_e = [], []
    for c, pos in kernels.csr_pairs(start, count, kernels.PAIR_BUDGET):
        e = src[pos]
        q = ~((ed.hi_x[e] < bx0[c]) | (ed.lo_x[e] > bx1[c])
              | (ed.hi_y[e] < by0[c]) | (ed.lo_y[e] > by1[c]))
        c, e = c[q], e[q]
        kept_c.append(c)
        kept_e.append(e)
        ex1, ey1 = ed.x1[e], ed.y1[e]
        dx, dy = ed.x2[e] - ex1, ed.y2[e] - ey1
        above = below = np.ones(len(e), dtype=bool)
        for cx, cy in ((bx0, by0), (bx1, by0), (bx1, by1), (bx0, by1)):
            s = dx * (cy[c] - ey1) - dy * (cx[c] - ex1)
            above, below = above & (s > 0), below & (s < 0)
        crossed += np.bincount(c[~(above | below)], minlength=len(bx0))
    return crossed > 0, np.concatenate(kept_c), np.concatenate(kept_e)


def cover_polygons(
    geoms: list[PackedGeometry], max_res: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Compact cell covers of many (multi)polygons, one numpy pass per
    resolution over all of them.

    Returns (zone int64[], cells uint64[], full bool[]) sorted by zone,
    then cell; `zone` indexes `geoms`. FULL cells lie entirely inside
    their polygon and are emitted at the coarsest resolution where that
    holds, so each cover is compact by construction; BOUNDARY cells are
    max_res cells that the outline crosses (or that hold the whole
    polygon). An empty geometry has no cells.

    Level-synchronous: starting from the four res-1 cells of every zone,
    each resolution takes all active (zone, cell) pairs through
    - the zone-bbox reject;
    - the edge test (_cells_crossed). A cell tries only the edges that
      passed its parent's quick reject: cell bounds are exact dyadic
      numbers, so a child lies inside its parent and no other edge can
      pass its own quick reject;
    - for the cells no edge crosses, the even-odd test of the cell
      centre against its zone's edges (kernels.RowEdges at resolution r,
      the stage-2 kernel; inside -> FULL);
    - the four children of the cells that stay boundary.
    Pair passes hold at most kernels.PAIR_BUDGET pairs at a time.
    """
    kept = np.array([i for i, g in enumerate(geoms) if not g.is_empty()], dtype=np.int64)
    out = [(np.zeros(0, np.int64), np.zeros(0, np.uint64), np.zeros(0, bool))]
    if len(kept):
        gs = [geoms[i] for i in kept]
        ed = edge_soup(gs)
        voff, nv = ed.voff, np.diff(ed.voff)
        zbox = [f.reduceat(a, voff[:-1]) for f, a in ((np.minimum, ed.x1), (np.minimum, ed.y1),
                                                       (np.maximum, ed.x1), (np.maximum, ed.y1))]
        # the four res-1 cells of every zone, each with all its zone's edges
        z = np.repeat(np.arange(len(gs)), 4)
        x, y = np.tile([0, 1, 0, 1], len(gs)), np.tile([0, 0, 1, 1], len(gs))
        start, count, src = voff[z], nv[z], np.arange(voff[-1])
        for r in range(1, max(max_res, 1) + 1):
            w, h = 360.0 / (1 << r), 180.0 / (1 << r)
            box = (-180.0 + x * w, -90.0 + y * h, -180.0 + (x + 1) * w, -90.0 + (y + 1) * h)
            zb = [b[z] for b in zbox]
            ok = ~((box[2] < zb[0]) | (zb[2] < box[0]) | (box[3] < zb[1]) | (zb[3] < box[1]))
            z, x, y, start, count = z[ok], x[ok], y[ok], start[ok], count[ok]
            box, zb = [b[ok] for b in box], [b[ok] for b in zb]
            crosses, cand_c, cand_e = _cells_crossed(ed, box, start, count, src)
            poly_in_cell = ((zb[0] >= box[0]) & (zb[1] >= box[1])
                            & (zb[2] <= box[2]) & (zb[3] <= box[3]))
            t = np.flatnonzero(~crosses & ~poly_in_cell)
            has = np.zeros(len(gs), dtype=bool)
            has[z[t]] = True
            live = has[ed.zone]
            rows = kernels.RowEdges(*(a[live] for a in ed[:5]), len(gs), r)
            inside = rows.inside(z[t], (box[0][t] + box[2][t]) / 2.0, (box[1][t] + box[3][t]) / 2.0)
            deeper = crosses | poly_in_cell
            emit = [(t[inside], True)]
            if r >= max_res:
                emit.append((np.flatnonzero(deeper), False))
            for sel, is_full in emit:
                cells = _interleave_bits(x[sel], y[sel], r) | np.uint64(r << 58)
                out.append((kept[z[sel]], cells, np.full(len(sel), is_full)))
            if r >= max_res or not deeper.any():
                break
            # children of the boundary cells inherit their parent's candidate edges
            inherit = deeper[cand_c]
            cnt = np.bincount(cand_c[inherit], minlength=len(z))[deeper]
            src = cand_e[inherit]
            start, count = np.repeat(np.cumsum(cnt) - cnt, 4), np.repeat(cnt, 4)
            z = np.repeat(z[deeper], 4)
            x = 2 * np.repeat(x[deeper], 4) + np.tile([0, 1, 0, 1], len(cnt))
            y = 2 * np.repeat(y[deeper], 4) + np.tile([0, 0, 1, 1], len(cnt))
    zone, cells, full = (np.concatenate(a) for a in zip(*out))
    o = np.lexsort((cells, zone))
    return zone[o], cells[o], full[o]


def cover_polygon(geom: PackedGeometry, max_res: int) -> tuple[np.ndarray, np.ndarray]:
    """Compact cell cover of one polygon: (cells uint64[], full bool[])
    sorted by cell; see cover_polygons."""
    _, cells, full = cover_polygons([geom], max_res)
    return cells, full

"""Reference for the cell cover and the CellMap index build: the per-cell
quadtree descent the batched `cellindex.cover_polygons` replaced, and the
per-cell loops `CellMap._build_intervals` / `_build_knn_grid` replaced.
The batched code must give exactly what these give. `lookup` is the
per-level probe that the CellMap's Morton-interval probe replaced."""

import numpy as np

from timezone_boundary_builder_spark.geom.cellindex import cell_bounds, cell_res, encode_points
from timezone_boundary_builder_spark.geom.codec import PackedGeometry
from tests._kernel_ref import points_in_packed


def cell_parent(cell: np.ndarray | int, steps: int = 1):
    c = np.asarray(cell, dtype=np.uint64)
    r = cell_res(c)
    code = c & np.uint64((1 << 58) - 1)
    code = code >> (np.uint64(2) * np.asarray(steps, dtype=np.uint64))
    return code | ((r - steps).astype(np.uint64) << np.uint64(58))


def cell_children(cell: int) -> np.ndarray:
    c = np.uint64(cell)
    r = int(cell_res(c))
    code = int(c & np.uint64((1 << 58) - 1)) << 2
    base = np.uint64((r + 1) << 58)
    return np.array([base | np.uint64(code | k) for k in range(4)], dtype=np.uint64)


def _bbox_disjoint(b1, b2) -> bool:
    return b1[2] < b2[0] or b2[2] < b1[0] or b1[3] < b2[1] or b2[3] < b1[1]


def _edge_intersects_box(geom_edges, box) -> bool:
    """Any polygon edge intersects the box rectangle (separating-axis on
    segment vs axis-aligned box, vectorized)."""
    x1, y1, x2, y2 = geom_edges
    bx0, by0, bx1, by1 = box
    # quick reject: edge bbox vs box
    emn_x = np.minimum(x1, x2)
    emx_x = np.maximum(x1, x2)
    emn_y = np.minimum(y1, y2)
    emx_y = np.maximum(y1, y2)
    cand = ~((emx_x < bx0) | (emn_x > bx1) | (emx_y < by0) | (emn_y > by1))
    if not cand.any():
        return False
    x1, y1, x2, y2 = x1[cand], y1[cand], x2[cand], y2[cand]
    # line side test: all 4 box corners strictly same side -> no intersection
    dx = x2 - x1
    dy = y2 - y1
    corners = np.array([[bx0, by0], [bx1, by0], [bx1, by1], [bx0, by1]])
    s = np.stack([dx * (cy - y1) - dy * (cx - x1) for cx, cy in corners], axis=0)
    same_side = (s > 0).all(axis=0) | (s < 0).all(axis=0)
    return bool((~same_side).any())


def cover_polygon(
    geom: PackedGeometry, max_res: int, min_res: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Compact cell cover of a polygon.

    Returns (cells uint64[], full bool[]): FULL cells are entirely inside
    the polygon (emitted at the coarsest resolution where that holds — the
    cover is compact by construction); BOUNDARY cells are max_res cells
    that intersect the polygon outline (or contain part of it).
    """
    if geom.is_empty():
        return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=bool)
    # edge soup once
    coords = geom.coords
    ro = geom.ring_offsets
    ends = np.empty_like(coords)
    for i in range(geom.n_rings):
        a, b = ro[i], ro[i + 1]
        ends[a : b - 1] = coords[a + 1 : b]
        ends[b - 1] = coords[a]
    edges = (coords[:, 0], coords[:, 1], ends[:, 0], ends[:, 1])
    gb = (
        float(coords[:, 0].min()),
        float(coords[:, 1].min()),
        float(coords[:, 0].max()),
        float(coords[:, 1].max()),
    )

    cells_out = []
    full_out = []
    stack = [int(c) for c in encode_points(np.array([-90.0, 90.0, -90.0, 90.0]),
                                           np.array([-45.0, -45.0, 45.0, 45.0]), 1)]
    seen = set(stack)
    while stack:
        cell = stack.pop()
        cb = cell_bounds(cell)
        if _bbox_disjoint(cb, gb):
            continue
        r = cell >> 58
        crosses = _edge_intersects_box(edges, cb)
        if not crosses:
            # either fully inside, fully outside, or polygon strictly inside cell
            center = np.array([[(cb[0] + cb[2]) / 2.0, (cb[1] + cb[3]) / 2.0]])
            inside = bool(points_in_packed(center, geom)[0])
            poly_inside_cell = (
                gb[0] >= cb[0] and gb[1] >= cb[1] and gb[2] <= cb[2] and gb[3] <= cb[3]
            )
            if inside and not poly_inside_cell and r >= min_res:
                cells_out.append(cell)
                full_out.append(True)
                continue
            if not inside and not poly_inside_cell:
                continue
            # polygon nested inside this cell -> must recurse
        if r >= max_res:
            cells_out.append(cell)
            full_out.append(False)
            continue
        for ch in cell_children(cell):
            ich = int(ch)
            if ich not in seen:
                seen.add(ich)
                stack.append(ich)
    return np.array(cells_out, dtype=np.uint64), np.array(full_out, dtype=bool)


def interval_arrays(cm):
    """(ivl_pos, ivl_full_tz, ivl_cand_off, ivl_cand_tz) of a built CellMap,
    recomputed with the per-cell loops of the old `_build_intervals`."""
    BIG = cm._BIG
    if not cm.levels:
        return (
            np.array([0, 1], dtype=np.uint64),
            np.array([BIG], dtype=np.int32),
            np.array([0, 0], dtype=np.int64),
            np.zeros(0, dtype=np.int32),
        )
    R = cm.levels[-1]
    mask = np.uint64((1 << 58) - 1)

    def spans(cells):
        r = (cells >> np.uint64(58)).astype(np.int64)
        code = cells & mask
        shift = (2 * (R - r)).astype(np.uint64)
        return code << shift, (code + np.uint64(1)) << shift

    fs, fe = spans(cm.full_cells)
    bs, be = spans(cm.bnd_cells)
    domain = np.array([0, 1 << (2 * R)], dtype=np.uint64)
    pos = np.unique(np.concatenate([fs, fe, bs, be, domain]))
    nseg = len(pos) - 1
    full_min = np.full(nseg, BIG, dtype=np.int32)
    for s, e, t in zip(fs, fe, cm.full_tz):
        i0 = int(np.searchsorted(pos, s))
        i1 = int(np.searchsorted(pos, e))
        np.minimum(full_min[i0:i1], t, out=full_min[i0:i1])
    cand_lists = [[] for _ in range(nseg)]
    for s, e, t in zip(bs, be, cm.bnd_tz):
        i0 = int(np.searchsorted(pos, s))
        i1 = int(np.searchsorted(pos, e))
        for k in range(i0, i1):
            cand_lists[k].append(int(t))
    counts = np.zeros(nseg, dtype=np.int64)
    flat = []
    for k, lst in enumerate(cand_lists):
        u = sorted(set(lst))
        counts[k] = len(u)
        flat.extend(u)
    off = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(counts)])
    return pos, full_min, off, np.asarray(flat, dtype=np.int32)


def knn_grid_arrays(cm):
    """(knn_grid_off, knn_grid_tz) of a built CellMap, recomputed with the
    per-box, per-grid-cell loops of the old `_build_knn_grid`."""
    pad = cm.KNN_GRID_PAD_DEG
    ncell = 360 * 180
    lists = {}
    for (x0, y0, x1, y1), zi in zip(cm.knn_boxes, cm.knn_box_zone):
        max_abs_lat = min(max(abs(y0), abs(y1)) + pad, 90.0)
        cos_lat = np.cos(np.radians(max_abs_lat))
        lon_pad = pad / cos_lat if cos_lat > 1e-6 else 360.0
        if lon_pad >= 180.0 or (x1 - x0) + 2 * lon_pad >= 360.0:
            gx0, gx1 = 0, 359
        else:
            gx0 = int(np.floor(x0 - lon_pad)) + 180
            gx1 = int(np.floor(x1 + lon_pad)) + 180
        gy0 = max(int(np.floor(y0 - pad)) + 90, 0)
        gy1 = min(int(np.floor(y1 + pad)) + 90, 179)
        for gx in range(gx0, gx1 + 1):
            base = (gx % 360) * 180
            for gy in range(gy0, gy1 + 1):
                lists.setdefault(base + gy, []).append(int(zi))
    off = np.zeros(ncell + 1, dtype=np.int64)
    flat = []
    for c in range(ncell):
        zs = lists.get(c)
        if zs:
            flat.extend(sorted(set(zs)))
        off[c + 1] = len(flat)
    return off, np.asarray(flat, dtype=np.int32)


def lookup(cm, lon: np.ndarray, lat: np.ndarray):
    """The per-level sorted-array probe of a CellMap that its interval
    probe replaced. Returns:
    assigned int32[] — zone index from a FULL cell hit, -1 otherwise
    cand_lists       — list (per point) of candidate zone-index arrays
                       from BOUNDARY cell hits (empty list -> no hit)
    """
    n = len(lon)
    big = np.iinfo(np.int32).max
    assigned = np.full(n, big, dtype=np.int32)
    cand: list = [None] * n
    if not cm.levels:
        assigned[:] = -1
        return assigned, cand
    # encode once at the finest level; coarser ids are bit-shifts
    # (cheap int ops instead of re-projecting floats per level)
    finest = cm.levels[-1]
    finest_ids = encode_points(lon, lat, finest)
    for lv in cm.levels:
        ids = finest_ids if lv == finest else cell_parent(finest_ids, finest - lv)
        # full-cell matches: take the MIN zone index across all levels
        # (overlapping zones can both claim a point via nested full
        # cells; min = smallest tzid rule)
        if len(cm.full_cells):
            lo = np.searchsorted(cm.full_cells, ids, side="left")
            hi = np.searchsorted(cm.full_cells, ids, side="right")
            multi = hi > lo
            one = multi & (hi - lo == 1)
            assigned[one] = np.minimum(assigned[one], cm.full_tz[lo[one]])
            for i in np.nonzero(multi & ~one)[0]:
                assigned[i] = min(assigned[i], int(cm.full_tz[lo[i] : hi[i]].min()))
        # boundary-cell matches (may be several tzids per cell)
        if len(cm.bnd_cells):
            lo = np.searchsorted(cm.bnd_cells, ids, side="left")
            hi = np.searchsorted(cm.bnd_cells, ids, side="right")
            multi = hi > lo
            for i in np.nonzero(multi)[0]:
                ext = cm.bnd_tz[lo[i] : hi[i]]
                cand[i] = ext if cand[i] is None else np.concatenate([cand[i], ext])
    assigned[assigned == big] = -1
    return assigned, cand

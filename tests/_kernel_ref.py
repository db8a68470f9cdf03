"""Numpy reference for the assignment surface: the assign_codes kernel on
the coordinates pack_coords_col resolves, as (url, tzid, method) rows —
what assign_tzid_udf_packed must return for the same packed frame."""

import numpy as np
import pandas as pd

from timezone_boundary_builder_spark.geom.kernels import points_in_rings
from timezone_boundary_builder_spark.operators.spatial_join import (
    KNN_MAX_METERS,
    METHOD_NAMES,
    _band_edges,
    assign_codes,
    unpack_xy,
)


def points_in_packed(points: np.ndarray, geom) -> np.ndarray:
    """Even-odd test of (n, 2) points against one packed (multi)polygon:
    every ring's edges, no index."""
    return points_in_rings(points, geom.coords, geom.ring_offsets)


def kernel_codes(cm, bands, lon, lat, knn_max_m=KNN_MAX_METERS):
    """(tzid, method) object arrays for float lon/lat (NaN = no coord)."""
    code, m = assign_codes(cm, _band_edges(bands), len(bands), lon, lat, knn_max_m)
    names = np.asarray(
        list(cm.tzids) + [b["tzid"] for b in bands] + [None], dtype=object
    )
    return names[code], np.asarray(METHOD_NAMES, dtype=object)[m]


def kernel_assign(cm, bands, packed: pd.DataFrame, knn_max_m=KNN_MAX_METERS):
    """packed(url, xy) -> (url, tzid, method), sorted by url."""
    lon, lat = unpack_xy(packed["xy"].to_numpy(dtype=np.int64))
    tz, method = kernel_codes(cm, bands, lon, lat, knn_max_m)
    out = pd.DataFrame({"url": packed["url"].to_numpy(), "tzid": tz, "method": method})
    return out.sort_values("url").reset_index(drop=True)


# ------------------------------------------------ per-zone stage-2 reference
# The per-zone loops that the row-bucketed kernel (kernels.RowEdges)
# replaced: stage 2 grouped the (point, candidate zone) pairs by zone and
# ran one points-x-edges broadcast per zone against ALL of its edges.
# assign_codes must give exactly what assign_codes_ref gives.

_PIP_CHUNK_BUDGET = 8_000_000


def points_in_edges(px, py, x1, y1, x2, y2) -> np.ndarray:
    """Even-odd PIP against a prebuilt edge soup."""
    from timezone_boundary_builder_spark.geom.kernels import _crossings

    m = len(px)
    if m == 0 or len(x1) == 0:
        return np.zeros(m, dtype=bool)
    chunk = max(1, _PIP_CHUNK_BUDGET // max(len(x1), 1))
    parity = np.empty(m, dtype=np.int64)
    for s in range(0, m, chunk):
        e = min(m, s + chunk)
        parity[s:e] = _crossings(px[s:e], py[s:e], x1, y1, x2, y2)
    return (parity & 1).astype(bool)


def min_distance_edges_m(px, py, ax, ay, bx, by) -> np.ndarray:
    """Least distance in meters from each point to a prebuilt edge soup."""
    from timezone_boundary_builder_spark.geom.kernels import EARTH_RADIUS_M

    m = len(px)
    if m == 0:
        return np.zeros(0)
    n = len(ax)
    if n == 0:
        return np.full(m, np.inf)
    plam = np.radians(px)[:, None]
    pphi = np.radians(py)[:, None]
    cosphi = np.cos(pphi)
    out = np.empty(m)
    chunk = max(1, _PIP_CHUNK_BUDGET // n)
    alam = np.radians(ax)[None, :]
    aphi = np.radians(ay)[None, :]
    blam = np.radians(bx)[None, :]
    bphi = np.radians(by)[None, :]
    for s in range(0, m, chunk):
        e = min(m, s + chunk)
        axp = (alam - plam[s:e]) * cosphi[s:e]
        ayp = aphi - pphi[s:e]
        bxp = (blam - plam[s:e]) * cosphi[s:e]
        byp = bphi - pphi[s:e]
        dx = bxp - axp
        dy = byp - ayp
        seg_len2 = dx * dx + dy * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            t = -(axp * dx + ayp * dy) / seg_len2
        t = np.clip(np.nan_to_num(t, nan=0.0), 0.0, 1.0)
        cx = axp + t * dx
        cy = ayp + t * dy
        out[s:e] = np.sqrt((cx * cx + cy * cy).min(axis=1))
    return out * EARTH_RADIUS_M


def _boundary_segments(geom):
    """(starts, ends) vertex arrays of every boundary edge of a
    PackedGeometry, one ring at a time: edge i runs from vertex i to the
    next vertex of its ring, the last one back to the ring's first."""
    coords = geom.coords
    ends = np.empty_like(coords)
    ro = geom.ring_offsets
    for i in range(geom.n_rings):
        a, b = ro[i], ro[i + 1]
        ends[a : b - 1] = coords[a + 1 : b]
        ends[b - 1] = coords[a]
    return coords, ends


def min_distance_to_boundary_m(points: np.ndarray, geom) -> np.ndarray:
    """Distance in meters from each (lon, lat) point to the polygon
    boundary (0 is not special-cased for interior points)."""
    a, b = _boundary_segments(geom)
    return min_distance_edges_m(points[:, 0], points[:, 1], a[:, 0], a[:, 1], b[:, 0], b[:, 1])


def zone_edges(cm) -> list:
    """Per-zone (x1, y1, x2, y2) edge arrays of a CellMap."""
    from timezone_boundary_builder_spark.geom.codec import from_geojson

    out = []
    for gj in cm.geojson:
        a, b = _boundary_segments(from_geojson(gj))
        out.append((a[:, 0].copy(), a[:, 1].copy(), b[:, 0].copy(), b[:, 1].copy()))
    return out


def assign_codes_ref(cm, band_edges, n_bands, lon, lat, knn_max_m, edges=None):
    """assign_codes through the per-zone PIP and kNN loops; `edges` is
    zone_edges(cm), computed when not given."""
    from timezone_boundary_builder_spark.operators.spatial_join import (
        M_CELL,
        M_KNN,
        M_NONE,
        M_OCEAN,
        M_PIP,
        _fold_knn_winners,
        band_of,
        seam_mask,
    )

    edges = zone_edges(cm) if edges is None else edges
    n = len(lon)
    n_zones = len(cm.tzids)
    code = np.full(n, -1, dtype=np.int32)
    method = np.full(n, M_NONE, dtype=np.int8)
    has = ~(np.isnan(lon) | np.isnan(lat))
    if not has.any():
        return code, method
    BIG = np.iinfo(np.int32).max
    hl, ha = lon[has], lat[has]
    full_tz, seg = cm.probe(hl, ha)
    assigned = np.where(full_tz == BIG, -1, full_tz).astype(np.int32)
    sub_method = np.where(assigned >= 0, M_CELL, M_NONE).astype(np.int8)
    off = cm.ivl_cand_off
    czs = cm.ivl_cand_tz
    cnt = off[seg + 1] - off[seg]
    p_idx = np.nonzero(cnt > 0)[0]
    pip_best = np.full(len(hl), BIG, dtype=np.int64)
    if len(p_idx):
        p_cnt = cnt[p_idx]
        total = int(p_cnt.sum())
        pair_pt = np.repeat(p_idx, p_cnt)
        intra = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(p_cnt) - p_cnt, p_cnt)
        pair_z = czs[np.repeat(off[seg[p_idx]], p_cnt) + intra]
        a_pt = assigned[pair_pt]
        keep = (a_pt < 0) | (pair_z < a_pt)
        pair_pt = pair_pt[keep]
        pair_z = pair_z[keep]
        o = np.argsort(pair_z, kind="stable")
        pair_pt = pair_pt[o]
        pair_z = pair_z[o]
        zvals, zstarts = np.unique(pair_z, return_index=True)
        zends = np.append(zstarts[1:], len(pair_z))
        for z, s0, s1 in zip(zvals, zstarts, zends):
            idxs = pair_pt[s0:s1]
            x1, y1, x2, y2 = edges[int(z)]
            inside = points_in_edges(hl[idxs], ha[idxs], x1, y1, x2, y2)
            win = idxs[inside]
            pip_best[win] = np.minimum(pip_best[win], z)
    pip_hit = pip_best < BIG
    use_pip = pip_hit & (pip_best < np.where(assigned < 0, BIG, assigned))
    final = np.where(use_pip, pip_best, assigned).astype(np.int64)
    sub_method = np.where(use_pip, M_PIP, sub_method).astype(np.int8)
    miss = final < 0
    if miss.any():
        ml, ma = hl[miss], ha[miss]
        best_d = np.full(len(ml), np.inf)
        best_z = np.full(len(ml), -1, dtype=np.int64)
        k0, k1 = cm.knn_candidates(ml, ma)
        kcnt = k1 - k0
        kp = np.nonzero(kcnt > 0)[0]
        if len(kp):
            p_cnt = kcnt[kp]
            total = int(p_cnt.sum())
            pair_pt = np.repeat(kp, p_cnt)
            intra = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(p_cnt) - p_cnt, p_cnt)
            pair_z = cm.knn_grid_tz[np.repeat(k0[kp], p_cnt) + intra]
            o = np.argsort(pair_z, kind="stable")
            pair_pt = pair_pt[o]
            pair_z = pair_z[o]
            zvals, zstarts = np.unique(pair_z, return_index=True)
            zends = np.append(zstarts[1:], len(pair_z))
            seam = seam_mask(ml, ma, knn_max_m)
            d_pair = np.empty(len(pair_pt))
            for z, s0, s1 in zip(zvals, zstarts, zends):
                sel = pair_pt[s0:s1]
                x1, y1, x2, y2 = edges[int(z)]
                d = min_distance_edges_m(ml[sel], ma[sel], x1, y1, x2, y2)
                sw = seam[sel]
                if sw.any():
                    mlw = ml[sel][sw]
                    dw = min_distance_edges_m(
                        mlw - np.sign(mlw) * 360.0, ma[sel][sw], x1, y1, x2, y2
                    )
                    d[sw] = np.minimum(d[sw], dw)
                d_pair[s0:s1] = d
            _fold_knn_winners(pair_pt, pair_z, d_pair, best_d, best_z)
        knn_ok = best_d <= knn_max_m
        miss_idx = np.nonzero(miss)[0]
        final[miss_idx[knn_ok]] = best_z[knn_ok]
        sub_method[miss_idx[knn_ok]] = M_KNN
        ocean_idx = miss_idx[~knn_ok]
        if n_bands:
            sub_method[ocean_idx] = M_OCEAN
            final[ocean_idx] = n_zones + band_of(hl[ocean_idx], band_edges, n_bands)
        else:
            sub_method[ocean_idx] = M_NONE
            final[ocean_idx] = -1
    code[has] = final.astype(np.int32)
    method[has] = sub_method
    return code, method

"""Two-stage spatial join: broadcast cell-cover probe + exact vectorized
ray-casting PIP, with kNN / ocean-band fallback (north_star hot path).

One scalar pandas UDF over the packed coordinates of the pages table
(assign_tzid_udf_packed):

  stage 1  point -> cell ids (bit ops) -> np.searchsorted into the
           broadcast CellMap; FULL hit assigns immediately
  stage 2  BOUNDARY hits -> exact PIP against only the candidate zones,
           points grouped per candidate zone so each PIP call is one
           vectorized batch
  fallback no hit -> kNN: distance to the boundaries of bbox-nearby zones;
           <= 1852 m (one nautical mile — territorial waters, reference
           README.md:234 semantics) -> nearest land tzid, else the
           Etc/GMT+-N ocean band by longitude (reference index.js:107-133,
           1241-1247)

No shuffle: the pages scan is embarrassingly parallel; the polygon side is
broadcast. This is what makes the join viable at 10^12 rows — per-partition
work is O(rows x log cells) + PIP only on boundary-cell residue.

Overlap rule: where zones legitimately overlap (expectedZoneOverlaps), the
lexicographically smallest tzid wins (deterministic; mirrored by the test
oracle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..geom.kernels import min_distance_edges_m, pair_edge_d2, points_in_edges

KNN_MAX_METERS = 1852.0  # 1 nautical mile

# method codes (the UDF returns them; names materialize JVM-side)
M_CELL, M_PIP, M_KNN, M_OCEAN, M_NONE = 0, 1, 2, 3, 4
METHOD_NAMES = ["cell", "pip", "knn", "ocean", "none"]


# internal chunk: keeps the ~10 live temporaries of one chunk inside L2/L3
# (65536 x 8 B = 512 KB each) so only the Arrow I/O and the two output
# arrays touch DRAM — measured +45% single-core and, more importantly,
# a higher multi-core ceiling (the VM's memory bandwidth is the shared
# resource that caps scaling)
ASSIGN_CHUNK = 65536

# pair-vectorized PIP regime bounds (stage 2 of _assign_codes_block):
# above PAIR_PIP_MIN_ZONES distinct candidate zones per chunk the
# one-numpy-call-per-zone loop is overhead-bound; the pair path only
# wins while zones are edge-light (quads/boxes — real-config zones with
# hundreds of edges keep the contiguous per-zone batch)
PAIR_PIP_MIN_ZONES = 256
PAIR_PIP_MAX_EDGES = 64
# (pair, edge) expansion rows per slice: bounds the temporaries of one
# slice to ~256 MB regardless of how many candidates a chunk carries
PAIR_PIP_EDGE_CHUNK = 4_000_000


def _iter_pair_slices(eoff, pz, pec):
    """Slice a (pair, edge) CSR expansion into <=PAIR_PIP_EDGE_CHUNK-row
    pieces; yields (sl, sec, sstart, eidx) per slice. Shared by the
    pair-vectorized PIP and kNN paths — the cuts/bounds/offset arithmetic
    is subtle enough that two copies WOULD drift."""
    cum = np.cumsum(pec)
    cuts = np.searchsorted(
        cum, np.arange(PAIR_PIP_EDGE_CHUNK, int(cum[-1]), PAIR_PIP_EDGE_CHUNK)
    )
    bounds = [0, *[int(c) + 1 for c in cuts], len(pec)]
    for a, b in zip(bounds[:-1], bounds[1:]):
        if a >= b:
            continue
        sec = pec[a:b]
        tot = int(sec.sum())
        sstart = np.cumsum(sec) - sec
        eidx = np.repeat(eoff[pz[a:b]], sec) + (
            np.arange(tot, dtype=np.int64) - np.repeat(sstart, sec)
        )
        yield slice(a, b), sec, sstart, eidx


def pair_pip_inside(px, py, pz, eoff, ex1, ey1, ex2, ey2) -> np.ndarray:
    """Per-(point, zone) even-odd ray-cast over a CSR edge soup: px/py are
    PER-PAIR coordinates, pz the per-pair zone index into eoff; returns a
    bool per pair. ONE home for the pair-vectorized crossing arithmetic —
    the broadcast stage-2 and the sharded cogroup eval both call this, so
    the two stage-2 modes cannot drift (the same lesson _iter_pair_slices
    encodes for the slice arithmetic). Identical elementwise math to
    points_in_edges (pytest-gated bit-identical)."""
    pec = eoff[pz + 1] - eoff[pz]
    inside_all = np.zeros(len(pz), dtype=bool)
    if not len(pz):
        return inside_all
    for sl, sec, sstart, eidx in _iter_pair_slices(eoff, pz, pec):
        pxe = np.repeat(px[sl], sec)
        pye = np.repeat(py[sl], sec)
        y1g, y2g = ey1[eidx], ey2[eidx]
        straddle = (y1g > pye) != (y2g > pye)
        x1g = ex1[eidx]
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1g + (pye - y1g) * (ex2[eidx] - x1g) / (y2g - y1g)
        hit = straddle & (pxe < xint)
        cross = np.add.reduceat(hit.astype(np.int64), sstart)
        inside_all[sl] = (cross & 1).astype(bool)
    return inside_all


def pair_min_dist_m(px, py, seam, pz, eoff, ex1, ey1, ex2, ey2) -> np.ndarray:
    """Per-(point, zone) min boundary distance in meters over a CSR edge
    soup, with the antimeridian lon±360 second pass on seam pairs —
    px/py/seam PER-PAIR, pz per-pair zone index into eoff. Shared by the
    broadcast kNN pair path and the sharded cogroup eval (same
    single-home rationale as pair_pip_inside)."""
    from ..geom.kernels import EARTH_RADIUS_M

    pec = eoff[pz + 1] - eoff[pz]
    d_pair = np.empty(len(pz))
    if not len(pz):
        return d_pair
    for sl, sec, sstart, eidx in _iter_pair_slices(eoff, pz, pec):
        pxe = np.repeat(px[sl], sec)
        pye = np.repeat(py[sl], sec)
        d2 = pair_edge_d2(pxe, pye, ex1[eidx], ey1[eidx], ex2[eidx], ey2[eidx])
        d = np.sqrt(np.minimum.reduceat(d2, sstart)) * EARTH_RADIUS_M
        sw = seam[sl]
        if sw.any():
            swe = np.repeat(sw, sec)
            pxw = pxe[swe]
            d2w = pair_edge_d2(
                pxw - np.sign(pxw) * 360.0,
                pye[swe],
                ex1[eidx[swe]],
                ey1[eidx[swe]],
                ex2[eidx[swe]],
                ey2[eidx[swe]],
            )
            sec_w = sec[sw]
            dw = (
                np.sqrt(np.minimum.reduceat(d2w, np.cumsum(sec_w) - sec_w))
                * EARTH_RADIUS_M
            )
            d[sw] = np.minimum(d[sw], dw)
        d_pair[sl] = d
    return d_pair


def seam_mask(lon: np.ndarray, lat: np.ndarray, knn_max_m: float) -> np.ndarray:
    """Points metrically close enough to the antimeridian that cross-seam
    land could be within knn_max_m: lon-gap-to-seam x cos(lat), measured
    in METERS under the distance kernel's own equirectangular metric (a
    fixed |lon|>179 test misses in-range land near the poles). One home
    for the constant and formula — both stage-2 modes call this."""
    m_per_deg = np.radians(1.0) * 6378137.0
    return (180.0 - np.abs(lon)) * np.cos(np.radians(lat)) * m_per_deg <= (
        knn_max_m * 1.05
    )


def band_of(lon: np.ndarray, band_edges: np.ndarray, n_bands: int) -> np.ndarray:
    """Ocean band index by longitude (reference index.js:107-133
    semantics); callers must guard n_bands > 0."""
    return np.clip(
        np.searchsorted(band_edges, lon, side="right") - 1, 0, n_bands - 1
    )


def _fold_knn_winners(pair_pt, pair_z, d_pair, best_d, best_z):
    """ONE winner rule for both kNN candidate paths: the assigned zone is
    the smallest zone index within 1e-9 m of the global minimum distance
    — exactly the geo_knn_assign SQL oracle and test_interval_probe rule.
    The per-zone loop used to keep a running-min chain ("first zone not
    beaten by >1e-9"), which can pick a DIFFERENT zone than this rule
    when several zones tie within chained sub-nanometer gaps (round-5
    ADVICE) — so whether a chunk crossed PAIR_PIP_MIN_ZONES could flip
    the answer. Both regimes now fold through here; mutates
    best_d / best_z in place."""
    np.minimum.at(best_d, pair_pt, d_pair)
    big = np.iinfo(np.int64).max
    cand_z = np.full(len(best_d), big, dtype=np.int64)
    win = d_pair <= best_d[pair_pt] + 1e-9
    np.minimum.at(cand_z, pair_pt[win], pair_z[win])
    got = cand_z < big
    best_z[got] = cand_z[got]


def _knn_pairs_vectorized(cm, ml, ma, pair_pt, pair_z, seam, knn_best_d, knn_best_z):
    """Pair-vectorized kNN fallback (dense regime, mirrors the PIP pair
    path): (point, zone) candidates expand to (pair, edge) rows against
    the flat CSR edge soup, one distance expression, reduceat-min per
    pair — replacing one numpy call per candidate zone, which at 10^4
    edge-light zones capped the miss path at ~0.09M pts/s single-core.

    Winner rule: _fold_knn_winners (shared with the per-zone loop).
    Mutates knn_best_d / knn_best_z in place.
    """
    ex1, ey1, ex2, ey2, eoff = cm.edge_csr()
    pecnt = eoff[pair_z + 1] - eoff[pair_z]
    nzm = pecnt > 0
    ppt, pz = pair_pt[nzm], pair_z[nzm]
    if not len(ppt):
        return
    d_pair = pair_min_dist_m(
        ml[ppt], ma[ppt], seam[ppt], pz, eoff, ex1, ey1, ex2, ey2
    )
    _fold_knn_winners(ppt, pz, d_pair, knn_best_d, knn_best_z)


def assign_codes(
    cm,
    band_edges: np.ndarray,
    n_bands: int,
    lon: np.ndarray,
    lat: np.ndarray,
    knn_max_m: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Core vectorized assignment: (lon, lat) float64 arrays -> (code,
    method_code) int32/int8 arrays. code indexes cm.tzids for land hits and
    len(cm.tzids)+band for ocean bands; -1 for rows with no coordinate.
    This keeps the Arrow return path at 5 bytes/row — the tzid strings are
    materialized JVM-side (assign_tzid_udf_packed) or by the caller.

    Rows are processed in cache-resident chunks (per-point independent, so
    chunking is semantics-free). The chunk grows with the zone count: the
    per-zone PIP/kNN loops have a fixed numpy-call cost per chunk, so at
    the reference's 419-zone scale small chunks multiply that overhead by
    the chunk count (measured 2.6x slower); per-zone edge caches
    (CellMap.zone_edges) cut the per-call cost itself."""
    n = len(lon)
    n_zones = len(cm.tzids)
    # >64 zones: per-zone loop overhead beats cache residency — use one
    # block per Arrow batch (65536 * 8 = the 512k production batch size)
    chunk = ASSIGN_CHUNK if n_zones <= 64 else ASSIGN_CHUNK * 8
    if n > chunk:
        code = np.empty(n, dtype=np.int32)
        method = np.empty(n, dtype=np.int8)
        for s in range(0, n, chunk):
            e = min(n, s + chunk)
            code[s:e], method[s:e] = _assign_codes_block(
                cm, band_edges, n_bands, lon[s:e], lat[s:e], knn_max_m
            )
        return code, method
    return _assign_codes_block(cm, band_edges, n_bands, lon, lat, knn_max_m)


def _assign_codes_block(
    cm,
    band_edges: np.ndarray,
    n_bands: int,
    lon: np.ndarray,
    lat: np.ndarray,
    knn_max_m: float,
) -> tuple[np.ndarray, np.ndarray]:
    n = len(lon)
    edges = cm.zone_edges()
    n_zones = len(cm.tzids)
    code = np.full(n, -1, dtype=np.int32)
    method = np.full(n, M_NONE, dtype=np.int8)
    has = ~(np.isnan(lon) | np.isnan(lat))
    if has.any():
        BIG = np.iinfo(np.int32).max
        hl, ha = lon[has], lat[has]
        # stage 1: one interval probe (full hit + CSR candidate range)
        full_tz, seg = cm.probe(hl, ha)
        assigned = np.where(full_tz == BIG, -1, full_tz).astype(np.int32)
        sub_method = np.where(assigned >= 0, M_CELL, M_NONE).astype(np.int8)
        # stage 2: exact PIP on boundary candidates — expand (point, zone)
        # pairs from the CSR with repeat/cumsum (no per-point Python), keep
        # only candidates that could beat the full hit (smaller tzid wins in
        # legitimately-overlapping regions), then batch PIP per zone
        off = cm.ivl_cand_off
        czs = cm.ivl_cand_tz
        cnt = off[seg + 1] - off[seg]
        p_idx = np.nonzero(cnt > 0)[0]
        pip_best = np.full(len(hl), BIG, dtype=np.int64)
        if len(p_idx):
            p_cnt = cnt[p_idx]
            total = int(p_cnt.sum())
            pair_pt = np.repeat(p_idx, p_cnt)
            intra = np.arange(total, dtype=np.int64) - np.repeat(
                np.cumsum(p_cnt) - p_cnt, p_cnt
            )
            pair_z = czs[np.repeat(off[seg[p_idx]], p_cnt) + intra]
            a_pt = assigned[pair_pt]
            keep = (a_pt < 0) | (pair_z < a_pt)
            pair_pt = pair_pt[keep]
            pair_z = pair_z[keep]
            o = np.argsort(pair_z, kind="stable")
            pair_pt = pair_pt[o]
            pair_z = pair_z[o]
            zvals, zstarts = np.unique(pair_z, return_index=True)
            ecounts = cm.zone_edge_counts()
            avg_edges = float(ecounts[zvals].mean()) if len(zvals) else 0.0
            if len(zvals) > PAIR_PIP_MIN_ZONES and avg_edges <= PAIR_PIP_MAX_EDGES:
                # pair-vectorized PIP (dense-world regime): with 10^4+
                # candidate zones per chunk and only a handful of points
                # per zone, one points_in_edges call per zone is pure
                # numpy-call overhead (measured 0.5M pts/s at 10k zones
                # vs 14M at 419). Expand (point, zone) pairs to (point,
                # edge) rows against the flat CSR edge soup and ray-cast
                # every pair in ONE expression — identical even-odd
                # arithmetic to _crossings, elementwise, so results are
                # bit-identical. Zones with big edge arrays (the real
                # 419-zone world) keep the per-zone batch path: its
                # contiguous edge reuse beats the gather.
                ex1, ey1, ex2, ey2, eoff = cm.edge_csr()
                ecnt_all = eoff[pair_z + 1] - eoff[pair_z]
                nzm = ecnt_all > 0
                ppt, pz = pair_pt[nzm], pair_z[nzm]
                if len(ppt):
                    inside = pair_pip_inside(
                        hl[ppt], ha[ppt], pz, eoff, ex1, ey1, ex2, ey2
                    )
                    np.minimum.at(pip_best, ppt[inside], pz[inside])
            else:
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
        # fallback: kNN within 1852 m, else ocean band
        miss = final < 0
        if miss.any():
            ml, ma = hl[miss], ha[miss]
            best_d = np.full(len(ml), np.inf)
            best_z = np.full(len(ml), -1, dtype=np.int64)
            # grid-CSR candidate probe (O(points), not O(zones x points) —
            # a per-zone bbox loop collapsed 12x at 419 zones); candidates
            # expand to (point, zone) pairs exactly like the PIP stage
            k0, k1 = cm.knn_candidates(ml, ma)
            kcnt = k1 - k0
            kp = np.nonzero(kcnt > 0)[0]
            if len(kp):
                p_cnt = kcnt[kp]
                total = int(p_cnt.sum())
                pair_pt = np.repeat(kp, p_cnt)
                intra = np.arange(total, dtype=np.int64) - np.repeat(
                    np.cumsum(p_cnt) - p_cnt, p_cnt
                )
                pair_z = cm.knn_grid_tz[np.repeat(k0[kp], p_cnt) + intra]
                o = np.argsort(pair_z, kind="stable")
                pair_pt = pair_pt[o]
                pair_z = pair_z[o]
                zvals, zstarts = np.unique(pair_z, return_index=True)
                zends = np.append(zstarts[1:], len(pair_z))
                # winner = smallest zone index within 1e-9 m of the global
                # min distance (_fold_knn_winners — one rule, both paths).
                # Points metrically close to the antimeridian also get a
                # lon+-360-shifted distance pass: the planar distance kernel
                # does not wrap, so land just across the seam would
                # otherwise read as ~360 deg away (seam_mask has the
                # formula's rationale)
                seam = seam_mask(ml, ma, knn_max_m)
                ecounts = cm.zone_edge_counts()
                avg_e = float(ecounts[zvals].mean()) if len(zvals) else 0.0
                if len(zvals) > PAIR_PIP_MIN_ZONES and avg_e <= PAIR_PIP_MAX_EDGES:
                    # dense regime: same overhead wall as stage-2 PIP
                    # (measured 0.09M pts/s single-core at 10^4 zones
                    # through the per-zone loop below) — pair-vectorize
                    _knn_pairs_vectorized(
                        cm, ml, ma, pair_pt, pair_z, seam, best_d, best_z
                    )
                else:
                    # per-zone distance kernel, but the WINNER is picked
                    # by the shared _fold_knn_winners rule afterwards —
                    # the old running-min chain ("strictly better by
                    # >1e-9 wins") could disagree with the pair path on
                    # chained sub-nanometer ties (round-5 ADVICE)
                    d_pair = np.empty(len(pair_pt))
                    for z, s0, s1 in zip(zvals, zstarts, zends):
                        sel = pair_pt[s0:s1]
                        x1, y1, x2, y2 = edges[int(z)]
                        d = min_distance_edges_m(ml[sel], ma[sel], x1, y1, x2, y2)
                        sw = seam[sel]
                        if sw.any():
                            mlw = ml[sel][sw]
                            dw = min_distance_edges_m(
                                mlw - np.sign(mlw) * 360.0,
                                ma[sel][sw],
                                x1,
                                y1,
                                x2,
                                y2,
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
                # ocean rows: code = n_zones + band index (by longitude)
                final[ocean_idx] = n_zones + band_of(
                    hl[ocean_idx], band_edges, n_bands
                )
            else:
                # no ocean table configured (pure-land worlds): a miss is
                # an honest no-assignment, never a clip into the last zone
                sub_method[ocean_idx] = M_NONE
                final[ocean_idx] = -1
        code[has] = final.astype(np.int32)
        method[has] = sub_method
    return code, method


def _band_edges(ocean_bands: list[dict]) -> np.ndarray:
    """Longitude band edges for the ocean table; empty table -> empty
    edges (a legal configuration for pure-land worlds)."""
    if not ocean_bands:
        return np.zeros(0, dtype=np.float64)
    return np.array([b["left"] for b in ocean_bands] + [ocean_bands[-1]["right"]])


def pack_coords_col():
    """The ONE coordinate decision of the assignment surface, made
    JVM-side: lon/lat snapped to the 1e-6-degree grid (exactly the
    reference's fixed precision model, index.js:327-328) and packed
    ((lon+180)*1e6) << 32 | ((lat+90)*1e6) into one int64 `xy`; a row
    with no coordinate (null or NaN) packs to -1. 8 B/row down the Arrow
    pipe instead of two f64, and never a null: a nullable int64 column
    arrives in pandas as float64, and at ~1.5e18 (> 2^53) that rounds
    the latitude by up to 128 micro-degrees (~14 m) — enough to move a
    point across a zone edge or the kNN radius."""
    import pyspark.sql.functions as F

    lon, lat = F.col("lon"), F.col("lat")
    lon_u = F.round((lon + F.lit(180.0)) * F.lit(1_000_000.0)).cast("long")
    lat_u = F.round((lat + F.lit(90.0)) * F.lit(1_000_000.0)).cast("long")
    packed = F.when(~(F.isnan(lon) | F.isnan(lat)), F.shiftleft(lon_u, 32) + lat_u)
    return F.coalesce(packed, F.lit(-1).cast("long")).alias("xy")


def unpack_xy(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode packed `xy` (pack_coords_col) to float64 lon/lat, NaN where
    v < 0. x/1e6 - offset: grid-aligned coordinates round-trip exactly."""
    lon = (v >> np.int64(32)) / 1e6 - 180.0
    lat = (v & np.int64(0xFFFFFFFF)) / 1e6 - 90.0
    bad = v < 0
    if bad.any():
        lon[bad] = np.nan
        lat[bad] = np.nan
    return lon, lat


def unpack_coords_cols():
    """unpack_xy as JVM columns (lon, lat; null where xy < 0) — the same
    int64 -> double arithmetic, so a plan that needs doubles (the sharded
    stage-2 gear) sees exactly the coordinates the UDF assigns."""
    import pyspark.sql.functions as F

    xy = F.col("xy")
    ok = xy >= 0
    lon = F.when(ok, F.shiftright(xy, 32) / F.lit(1e6) - F.lit(180.0))
    lat = F.when(ok, xy.bitwiseAND(F.lit(0xFFFFFFFF)) / F.lit(1e6) - F.lit(90.0))
    return lon.alias("lon"), lat.alias("lat")


def _string_array_expr(vals: list[str]):
    """A literal string array as ONE F.expr — per-element F.lit chains
    cost a py4j round trip each at plan-build time (measured ~10 s of
    pure driver latency for a 10,000-tzid world, dwarfing the job)."""
    import pyspark.sql.functions as F

    quoted = ",".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in vals
    )
    return F.expr(f"array({quoted})")


def assign_tzid_udf_packed(
    pages_with_xy: DataFrame,
    cellmap_bc,
    ocean_bands: list[dict],
    knn_max_m: float = KNN_MAX_METERS,
) -> DataFrame:
    """pages(..., xy) -> all input columns except xy + (tzid, method): the
    one tzid-assignment surface. Callers build `xy` with
    df.select(<passthrough cols>, pack_coords_col()).

    method: cell (full-cell hit) | pip (boundary cell + exact test) |
    knn (offshore <= 1852 m) | ocean (Etc band) | none (no coordinate).

    Physical shape: a scalar pandas UDF in which only the 8-byte `xy`
    crosses the JVM->Python Arrow boundary and only (code int32, method
    int8) come back; page columns never leave the JVM, and the
    code->tzid string materialization is a codegen'd element_at over a
    literal array. Callers that need a composite row identity (e.g.
    assign_pages joining back on (url, warc_ts) where urls recur across
    crawls) carry it alongside url."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    band_edges = _band_edges(ocean_bands)
    band_tzids = [b["tzid"] for b in ocean_bands]
    n_bands = len(band_tzids)

    @pandas_udf("code int, m tinyint")
    def _codes(xy: pd.Series) -> pd.DataFrame:
        cm = cellmap_bc.value
        lon, lat = unpack_xy(xy.to_numpy(dtype=np.int64, na_value=-1))
        code, method = assign_codes(cm, band_edges, n_bands, lon, lat, knn_max_m)
        return pd.DataFrame({"code": code, "m": method})

    tz_lits = _string_array_expr(list(cellmap_bc.value.tzids) + band_tzids)
    m_lits = F.array(*[F.lit(m) for m in METHOD_NAMES])
    out = pages_with_xy.withColumn("__a", _codes(F.col("xy")))
    passthrough = [c for c in pages_with_xy.columns if c != "xy"]
    return out.select(
        *passthrough,
        F.when(
            F.col("__a.code") >= 0, F.element_at(tz_lits, F.col("__a.code") + 1)
        ).alias("tzid"),
        F.element_at(m_lits, F.col("__a.m") + 1).alias("method"),
    )

"""Cell covers + the broadcast sorted-array map (north_star: "batched H3/S2
covering of every timezone polygon (compact cell covers as the coarse
index, stored as a broadcast sorted-array map)").

Stage 1 of the two-stage spatial join. The reference has no lookup layer
(README.md:125-156) — this is the engine's scale path:

- `build_cell_covers`: zones DataFrame -> (tzid, cell_id, full) rows, one
  mapInPandas over zones with one batched `cover_polygons` call per Arrow
  batch; `cellmap_from_zones_pdf` makes the same call driver-side.
- `CellMap`: the collected cover as sorted uint64 arrays + the zone
  polygon set, broadcast once; per-point lookup is np.searchsorted — the
  10^12-row pages join becomes map-side only, no shuffle.

FULL cells resolve a point immediately; BOUNDARY cells carry candidate
tzids that stage 2 (exact PIP) disambiguates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..geom.cellindex import cell_res, cover_polygons, edge_soup, encode_points
from ..geom.codec import from_geojson
from ..geom.kernels import RowEdges, csr_pairs

COVER_SCHEMA = "tzid string, cell_id long, full boolean, res int"

DEFAULT_COVER_RES = 7  # ~2.8 deg cells at res 7 on the synthetic world


def make_cover_fn(max_res: int = DEFAULT_COVER_RES):
    def _cover(pdf: pd.DataFrame) -> pd.DataFrame:
        zone, cells, full = cover_polygons(
            [from_geojson(g) for g in pdf["geometry"]], max_res
        )
        return pd.DataFrame(
            {
                "tzid": pdf["tzid"].to_numpy()[zone],
                "cell_id": cells.astype(np.int64),  # spark long
                "full": full,
                "res": (cells >> np.uint64(58)).astype(np.int32),
            }
        )

    return _cover


def build_cell_covers(zones: DataFrame, max_res: int = DEFAULT_COVER_RES) -> DataFrame:
    """zones(tzid, geometry, ...) -> covers(tzid, cell_id, full, res).

    Map-only: each zone row covers independently (zone tables are one row
    per tzid), so mapInPandas over a spread of the (tiny) zone table, with
    one batched `cover_polygons` call per Arrow batch.
    The earlier groupBy(tzid).applyInPandas shape paid per-GROUP pandas
    overhead — measured ~100 s for a 10,000-zone world at local[32] vs
    ~15 s map-only — and its shuffle bought nothing the repartition here
    doesn't (both move only the small zone side, never points)."""
    src = zones.select("tzid", "geometry")
    n = src.sparkSession.sparkContext.defaultParallelism
    fn = make_cover_fn(max_res)

    def _cover_batches(batches):
        for pdf in batches:
            if len(pdf):
                yield fn(pdf)

    return src.repartition(n).mapInPandas(_cover_batches, COVER_SCHEMA)


def auto_cover_res(
    zones_pdf: pd.DataFrame,
    cells_per_axis: float = 5.0,
    min_res: int = 4,
    max_res: int = 11,
    max_cells: float = 2_000_000,
) -> int:
    """Pick the cover resolution from the zone-size distribution.

    A fixed max_res is wrong at scale: the synthetic 8-zone world wants
    res ~6-7, the 419-zone world res ~8-9, and a 10^4-zone dense world
    res 9+ — with cells much bigger than a typical zone, almost every
    point lands in a boundary cell and stage 2 (exact PIP) does the
    work the index should. Rule: the MEDIAN zone bbox should span
    ~`cells_per_axis` cells on each axis, so typical interiors compact
    into FULL cells (immediate index hits). The default target is
    MEASURED, not guessed: on the 10k-zone dense world the 3-cells/axis
    target picked res 8 (9.26M pages/s, all-quiet probes) where pinned
    res 9 holds 10.36-10.55M — the extra full-cell hit rate at ~5
    cells/axis is worth ~12% throughput, and the max_cells budget guard
    below still bounds the broadcast on huge worlds (the 10^5-zone
    world's median wants res 11 but lands at 10). Clamped: finer than res 11
    inflates the broadcast (cover cells grow with perimeter/cell_size)
    for no hit-rate gain, and coarser than 4 degenerates to a global
    scan. Assignments are resolution-INVARIANT (resolution only moves
    work between the cell and pip stages), so this is purely a
    performance knob — mechanically safe to auto-pick.
    """
    if all(c in zones_pdf.columns for c in ("min_x", "min_y", "max_x", "max_y")):
        w = (zones_pdf["max_x"] - zones_pdf["min_x"]).to_numpy(dtype=np.float64)
        h = (zones_pdf["max_y"] - zones_pdf["min_y"]).to_numpy(dtype=np.float64)
    else:
        ws, hs = [], []
        for gj in zones_pdf["geometry"]:
            g = from_geojson(gj)
            if len(g.coords) == 0:
                continue
            xs, ys = g.coords[:, 0], g.coords[:, 1]
            ws.append(float(xs.max() - xs.min()))
            hs.append(float(ys.max() - ys.min()))
        w, h = np.array(ws), np.array(hs)
    ok = np.isfinite(w) & np.isfinite(h) & (w > 0) & (h > 0)
    if not ok.any():
        return DEFAULT_COVER_RES
    med_w = float(np.median(w[ok]))
    med_h = float(np.median(h[ok]))
    r_w = int(np.ceil(np.log2(360.0 * cells_per_axis / med_w)))
    r_h = int(np.ceil(np.log2(180.0 * cells_per_axis / med_h)))
    res = int(np.clip(max(r_w, r_h), min_res, max_res))
    # total-size guard for bimodal worlds: the median alone can drive res
    # to the cap while a few continental zones dominate the TOTAL
    # perimeter — boundary cells grow as perimeter/cell_size, so coarsen
    # until the estimated cover (bbox-perimeter proxy) fits the
    # broadcast budget instead of ballooning the driver-side build
    # per-axis cell sizes (round-5 ADVICE): a cell is 360/2^res wide but
    # only 180/2^res tall, so horizontal edge length divides by the cell
    # WIDTH and vertical edge length by the cell HEIGHT — folding both
    # through the width undercounted lat-dominated perimeters up to 2x
    sum_w = float(w[ok].sum())
    sum_h = float(h[ok].sum())

    def _est_cells(r: int) -> float:
        return 2.0 * (sum_w / (360.0 / (1 << r)) + sum_h / (180.0 / (1 << r)))

    while res > min_res and _est_cells(res) > max_cells:
        res -= 1
    return res


def cellmap_from_zones_pdf(
    zones_pdf: pd.DataFrame, max_res: int = DEFAULT_COVER_RES
) -> "CellMap":
    """(tzid, geometry[, bbox...]) pandas table -> broadcastable CellMap.
    Bboxes are derived from the geometry when absent, so any published
    zone artifact (a build_all product parquet, a prior release) can feed
    the serving layer directly."""
    zp = zones_pdf.sort_values("tzid").reset_index(drop=True)
    geoms = [from_geojson(g) for g in zp["geometry"]]
    quartet = ["min_x", "min_y", "max_x", "max_y"]
    if not all(c in zp.columns for c in quartet):
        # the full quartet or re-derive: a PARTIAL bbox column set
        # (e.g. an artifact carrying min_* only) would KeyError inside
        # CellMap otherwise. Empty op-fold results are writable artifacts
        # (zone_row stores NaN bounds for them) — mirror that, don't crash
        boxes = [
            np.r_[g.coords.min(0), g.coords.max(0)] if len(g.coords) else [np.nan] * 4
            for g in geoms
        ]
        zp = zp.drop(columns=[c for c in quartet if c in zp.columns]).assign(
            **dict(zip(quartet, np.reshape(boxes, (-1, 4)).T))
        )
    zone, cells, full = cover_polygons(geoms, max_res)
    covers = pd.DataFrame(
        {"tzid": zp["tzid"].to_numpy()[zone], "cell_id": cells.astype(np.int64), "full": full}
    )
    return CellMap(covers, zp, geoms)


class CellMap:
    """Broadcastable compact cover: sorted arrays per kind.

    full_cells   : uint64[] sorted       -> full_tz int32[] (zone index)
    bnd_cells    : uint64[] sorted (dup cell ids allowed, grouped)
    bnd_tz       : int32[] parallel to bnd_cells
    levels       : sorted list of resolutions present (for ancestor probes)
    tzids        : zone name list; geoms: GeoJSON strings (decoded lazily
                   on each executor, cached per process)
    """

    def __init__(self, covers_pdf: pd.DataFrame, zones_pdf: pd.DataFrame, geoms=None):
        # sort zones by tzid: in legitimately-overlapping regions (expected
        # overlaps, reference expectedZoneOverlaps.json) the smallest tzid
        # wins deterministically — engine and oracle share this rule.
        # `geoms`, the decoded geometries in zones_pdf's row order, ride
        # through the sort as a column
        if geoms is None:
            geoms = [from_geojson(g) for g in zones_pdf["geometry"]]
        zones_pdf = zones_pdf.assign(_geom=geoms).sort_values("tzid").reset_index(drop=True)
        self.tzids = list(zones_pdf["tzid"])
        self._tz_index = {t: i for i, t in enumerate(self.tzids)}
        self.geojson = list(zones_pdf["geometry"])
        self.zone_bbox = zones_pdf[["min_x", "min_y", "max_x", "max_y"]].to_numpy(
            dtype=np.float64
        )

        cells = covers_pdf["cell_id"].to_numpy().astype(np.uint64)
        tz = covers_pdf["tzid"].map(self._tz_index).to_numpy(dtype=np.int32)
        full = covers_pdf["full"].to_numpy(dtype=bool)

        fc = cells[full]
        ft = tz[full]
        o = np.argsort(fc, kind="stable")
        self.full_cells = fc[o]
        self.full_tz = ft[o]

        bc = cells[~full]
        bt = tz[~full]
        o = np.argsort(bc, kind="stable")
        self.bnd_cells = bc[o]
        self.bnd_tz = bt[o]

        self.levels = np.unique(cell_res(cells)).tolist()
        self._geom_cache = None
        self._build_intervals()
        self._build_knn_boxes(list(zones_pdf["_geom"]))

    def _build_knn_boxes(self, geoms) -> None:
        """Per-POLYGON bboxes for the kNN prefilter. A whole-zone bbox is
        useless for antimeridian multipolygons (it spans the world, so every
        offshore point pays a distance computation); per-polygon boxes stay
        tight. The grid registration pads these boxes with a lat-dependent
        lon pad (see _build_knn_grid), so they are valid at all latitudes."""
        boxes = []
        zone_of = []
        for zi, g in enumerate(geoms):
            for j in range(g.n_polys):
                shell = g.ring(int(g.poly_offsets[j]))
                boxes.append(
                    [
                        shell[:, 0].min(),
                        shell[:, 1].min(),
                        shell[:, 0].max(),
                        shell[:, 1].max(),
                    ]
                )
                zone_of.append(zi)
        self.knn_boxes = (
            np.asarray(boxes, dtype=np.float64)
            if boxes
            else np.zeros((0, 4), dtype=np.float64)
        )
        self.knn_box_zone = np.asarray(zone_of, dtype=np.int32)
        self._build_knn_grid()

    KNN_GRID_PAD_DEG = 0.1  # ~6x the 1852 m lat pad; lon pad scales by 1/cos

    def _build_knn_grid(self) -> None:
        """1-degree lat-lon grid -> candidate-zone CSR for the kNN
        prefilter. A per-zone bbox loop is O(zones x offshore points) —
        it collapsed kernel throughput 12x at the reference's 419-zone
        scale — whereas the grid probe is O(points) + a gather: cell =
        (floor(lon)+180)*180 + floor(lat)+90, candidates =
        knn_grid_tz[off[cell]:off[cell+1]]. The grid cells COVER each
        padded polygon box, so the candidate set is a superset of the
        padded-bbox set: any zone within 1852 m of a point is always a
        candidate; extra candidates only cost a distance computation.

        The LATITUDE pad is a constant 0.1 deg (11 km — 6x the 1852 m
        rule everywhere on the sphere). The LONGITUDE pad must grow as
        1/cos(lat): a degree of longitude shrinks toward the poles, so a
        fixed 0.1 deg stops covering 1852 m beyond ~|lat| 80 (1852 m at
        84 deg is already 0.16 deg of lon). Each box gets
        pad/cos(max |lat| of the padded box), keeping the same 6x safety
        margin at every latitude; boxes whose pad reaches the pole (or
        spans the globe) register every lon column — near the pole all
        longitudes really are within 1852 m of each other."""
        pad = self.KNN_GRID_PAD_DEG
        ncell = 360 * 180
        x0, y0, x1, y1 = self.knn_boxes.T
        # lon columns WRAP at the antimeridian: a box touching +-180
        # must also register candidates on the far side, else a point
        # 100 m west of the seam never sees land 100 m east of it
        # (GeoJSON geometries are split at +-180, so only the pad —
        # never the box itself — crosses)
        max_abs_lat = np.minimum(np.maximum(np.abs(y0), np.abs(y1)) + pad, 90.0)
        cos_lat = np.cos(np.radians(max_abs_lat))
        with np.errstate(divide="ignore"):
            lon_pad = np.where(cos_lat > 1e-6, pad / cos_lat, 360.0)
        every_lon = (lon_pad >= 180.0) | ((x1 - x0) + 2 * lon_pad >= 360.0)
        gx0 = np.where(every_lon, 0, np.floor(x0 - lon_pad) + 180).astype(np.int64)
        gx1 = np.where(every_lon, 359, np.floor(x1 + lon_pad) + 180).astype(np.int64)
        gy0 = np.maximum(np.floor(y0 - pad) + 90, 0).astype(np.int64)
        ny = np.maximum(np.minimum(np.floor(y1 + pad) + 90, 179).astype(np.int64) - gy0 + 1, 0)
        # every (grid cell, zone) pair of every box, then unique per cell
        nxy = np.maximum(gx1 - gx0 + 1, 0) * ny
        b, k = next(csr_pairs(np.zeros(len(ny), dtype=np.int64), nxy))
        cell = ((gx0[b] + k // ny[b]) % 360) * 180 + gy0[b] + k % ny[b]
        key = np.unique((cell << 32) + self.knn_box_zone[b])
        self.knn_grid_off = np.concatenate(
            [[0], np.cumsum(np.bincount(key >> 32, minlength=ncell))]
        ).astype(np.int64)
        self.knn_grid_tz = (key & 0xFFFFFFFF).astype(np.int32)

    def knn_candidates(self, lon: np.ndarray, lat: np.ndarray):
        """Grid probe: returns (cand_start, cand_end) CSR ranges into
        knn_grid_tz for each point."""
        gx = np.clip(np.floor(lon).astype(np.int64) + 180, 0, 359)
        gy = np.clip(np.floor(lat).astype(np.int64) + 90, 0, 179)
        cell = gx * 180 + gy
        return self.knn_grid_off[cell], self.knn_grid_off[cell + 1]

    _BIG = np.iinfo(np.int32).max

    def _build_intervals(self) -> None:
        """Flatten the multi-resolution cover into DISJOINT Morton intervals
        at the finest resolution. A cell (res r, code c) covers the finest-
        level Morton range [c << 2(R-r), (c+1) << 2(R-r)) — children are
        contiguous in Morton order — so the whole cover becomes one sorted
        boundary array + per-interval payloads:

          ivl_pos      uint64[nseg+1]  elementary boundaries (0 .. 4^R)
          ivl_full_tz  int32[nseg]     min full-cell zone covering it (BIG=none)
          ivl_cand_*   CSR int32       unique boundary-candidate zones

        Probe cost per point: ONE searchsorted + two gathers, replacing a
        (2 searches x 2 tables x n_levels) probe and a per-point Python
        candidate list. Built once driver-side; broadcast with the map.
        """
        BIG = self._BIG
        if not self.levels:
            self.finest = 0
            self.ivl_pos = np.array([0, 1], dtype=np.uint64)
            self.ivl_full_tz = np.array([BIG], dtype=np.int32)
            self.ivl_cand_off = np.array([0, 0], dtype=np.int64)
            self.ivl_cand_tz = np.zeros(0, dtype=np.int32)
            return
        R = self.levels[-1]
        self.finest = R
        mask = np.uint64((1 << 58) - 1)

        def spans(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
            r = (cells >> np.uint64(58)).astype(np.int64)
            code = cells & mask
            shift = (2 * (R - r)).astype(np.uint64)
            return code << shift, (code + np.uint64(1)) << shift

        fs, fe = spans(self.full_cells)
        bs, be = spans(self.bnd_cells)
        domain = np.array([0, 1 << (2 * R)], dtype=np.uint64)
        pos = np.unique(np.concatenate([fs, fe, bs, be, domain]))
        nseg = len(pos) - 1

        def seg_pairs(s, e, tz):
            # every (segment, zone) pair of cells spanning pos[i0]..pos[i1]
            i0 = np.searchsorted(pos, s)
            k, seg = next(csr_pairs(i0, np.searchsorted(pos, e) - i0))
            return seg, tz[k]

        seg, tz = seg_pairs(fs, fe, self.full_tz)
        full_min = np.full(nseg, BIG, dtype=np.int32)
        np.minimum.at(full_min, seg, tz)
        seg, tz = seg_pairs(bs, be, self.bnd_tz)
        key = np.unique((seg << 32) + tz)
        self.ivl_pos = pos
        self.ivl_full_tz = full_min
        self.ivl_cand_off = np.concatenate(
            [[0], np.cumsum(np.bincount(key >> 32, minlength=nseg))]
        ).astype(np.int64)
        self.ivl_cand_tz = (key & 0xFFFFFFFF).astype(np.int32)

    def slim(self):
        """Index-only copy for the sharded stage-2 path
        (spatial_join_sharded): keeps the interval probe, kNN grid,
        per-polygon boxes, bboxes and tzids; drops the zone geometries
        and every lazy edge cache. On synthetic quad worlds the saving
        is modest (geometry is 4 edges/zone), but for real-world zones
        the geometry payload IS the broadcast — the real 419-zone
        config is dominated by ring coordinates, not index arrays —
        and its absence is what removes the zone-count ceiling: the
        slim index grows only with the budget-capped cover and the
        per-polygon box grid, never with ring complexity."""
        import copy

        s = copy.copy(self)  # through __getstate__: no per-process cache
        s.geojson = None
        # derivable in one reduceat per process — keep it out of the
        # shipped bytes
        if hasattr(s, "_seg_min_cache"):
            s._seg_min_cache = None
        return s

    def __getstate__(self):
        """Pickle (broadcast, copy) without the per-process caches: the
        decoded geometries and the row-edge indexes are rebuilt on first
        use wherever the map lands."""
        state = dict(self.__dict__)
        state["_geom_cache"] = None
        state.pop("_row_edges", None)
        return state

    def seg_min_candidates(self) -> np.ndarray:
        """Per-interval-segment MIN candidate zone index (BIG for empty
        segments), lazily built and cached per process. Lets the sharded
        stage-1 decide `any candidate < full-hit zone` with one gather
        instead of materializing the pair expansion twice (once to flag
        residue, once to emit pairs)."""
        if getattr(self, "_seg_min_cache", None) is None:
            off = self.ivl_cand_off
            seg_min = np.full(len(off) - 1, self._BIG, dtype=np.int64)
            nonempty = off[1:] > off[:-1]
            if nonempty.any():
                seg_min[nonempty] = np.minimum.reduceat(
                    self.ivl_cand_tz, off[:-1][nonempty]
                )
            self._seg_min_cache = seg_min
        return self._seg_min_cache

    def probe(self, lon: np.ndarray, lat: np.ndarray):
        """Interval probe: returns (full_tz int32 [BIG = no full hit],
        seg int64) per point. Candidates for point i live at
        ivl_cand_tz[ivl_cand_off[seg[i]] : ivl_cand_off[seg[i]+1]]."""
        code = encode_points(lon, lat, self.finest) & np.uint64((1 << 58) - 1)
        seg = np.searchsorted(self.ivl_pos, code, side="right") - 1
        return self.ivl_full_tz[seg], seg

    # -- executor-side ---------------------------------------------------
    def geoms(self):
        if self._geom_cache is None:
            self._geom_cache = [from_geojson(g) for g in self.geojson]
        return self._geom_cache

    def row_edges(self, pad: float = 0.0) -> RowEdges:
        """Every zone's edges as a (zone, row) index at the finest cover
        resolution, widened by `pad` degrees — the stage-2 PIP (pad 0)
        and kNN kernel. Built once per process and pad."""
        cache = self.__dict__.setdefault("_row_edges", {})
        if pad not in cache:
            gs = self.geoms()
            cache[pad] = RowEdges(*edge_soup(gs)[:5], len(gs), self.finest, pad)
        return cache[pad]


def collect_cell_map(covers: DataFrame, zones: DataFrame) -> CellMap:
    """Driver-side: collect the (small) cover + zone tables and build the
    CellMap for sc.broadcast(). The cover is compact — O(zones x boundary
    cells), never O(pages)."""
    covers_pdf = covers.toPandas()
    zones_pdf = zones.select(
        "tzid", "geometry", "min_x", "min_y", "max_x", "max_y"
    ).toPandas()
    return CellMap(covers_pdf, zones_pdf)

"""Two-stage spatial join: broadcast cell-cover probe + exact vectorized
ray-casting PIP, with kNN / ocean-band fallback (north_star hot path).

One scalar pandas UDF over the packed coordinates of the pages table
(assign_tzid_udf_packed):

  stage 1  point -> cell ids (bit ops) -> np.searchsorted into the
           broadcast CellMap; FULL hit assigns immediately
  stage 2  BOUNDARY hits -> exact PIP of every (point, candidate zone)
           pair in one call, each pair tested only against its zone's
           edges in the point's latitude row (kernels.RowEdges)
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

from ..geom.kernels import EARTH_RADIUS_M, csr_pairs

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


def knn_pad_deg(knn_max_m: float) -> float:
    """The kNN row index's pad: knn_max_m as degrees of latitude plus a
    1% margin for rounding. The distance kernel's y offset never exceeds
    the distance, so every edge within knn_max_m of a point lies in the
    point's padded row bucket."""
    return float(np.degrees(knn_max_m / EARTH_RADIUS_M)) * 1.01


def seam_mask(lon: np.ndarray, lat: np.ndarray, knn_max_m: float) -> np.ndarray:
    """Points metrically close enough to the antimeridian that cross-seam
    land could be within knn_max_m: lon-gap-to-seam x cos(lat), measured
    in METERS under the distance kernel's own equirectangular metric (a
    fixed |lon|>179 test misses in-range land near the poles). One home
    for the constant and formula — both stage-2 modes call this."""
    m_per_deg = np.radians(1.0) * EARTH_RADIUS_M
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
    """ONE winner rule for the kNN candidates of both stage-2 plans: the
    assigned zone is the smallest zone index within 1e-9 m of the global
    minimum distance — exactly the geo_knn_assign SQL oracle and
    test_interval_probe rule (a running-min chain, "first zone not beaten
    by >1e-9", can pick a different zone when several zones tie within
    chained sub-nanometer gaps). Mutates best_d / best_z in place."""
    np.minimum.at(best_d, pair_pt, d_pair)
    big = np.iinfo(np.int64).max
    cand_z = np.full(len(best_d), big, dtype=np.int64)
    win = d_pair <= best_d[pair_pt] + 1e-9
    np.minimum.at(cand_z, pair_pt[win], pair_z[win])
    got = cand_z < big
    best_z[got] = cand_z[got]


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

    Rows are processed in cache-resident ASSIGN_CHUNK blocks (per-point
    independent, so chunking is semantics-free)."""
    n = len(lon)
    code = np.empty(n, dtype=np.int32)
    method = np.empty(n, dtype=np.int8)
    for s in range(0, n, ASSIGN_CHUNK):
        e = min(n, s + ASSIGN_CHUNK)
        code[s:e], method[s:e] = _assign_codes_block(
            cm, band_edges, n_bands, lon[s:e], lat[s:e], knn_max_m
        )
    return code, method


def probe_pairs(cm, lon: np.ndarray, lat: np.ndarray):
    """Stage 1 of both stage-2 plans: one interval probe, then every
    (point, boundary candidate zone) pair that could beat the point's
    full hit (the smaller tzid wins in legitimately-overlapping
    regions). Returns (full-hit zone per point, -1 for none; pair point;
    pair zone)."""
    full_tz, seg = cm.probe(lon, lat)
    assigned = np.where(full_tz == np.iinfo(np.int32).max, -1, full_tz).astype(np.int64)
    off = cm.ivl_cand_off
    pt, pos = next(csr_pairs(off[seg], off[seg + 1] - off[seg]))
    z = cm.ivl_cand_tz[pos].astype(np.int64)
    keep = (assigned[pt] < 0) | (z < assigned[pt])
    return assigned, pt[keep], z[keep]


def _assign_codes_block(
    cm,
    band_edges: np.ndarray,
    n_bands: int,
    lon: np.ndarray,
    lat: np.ndarray,
    knn_max_m: float,
) -> tuple[np.ndarray, np.ndarray]:
    n = len(lon)
    n_zones = len(cm.tzids)
    code = np.full(n, -1, dtype=np.int32)
    method = np.full(n, M_NONE, dtype=np.int8)
    has = ~(np.isnan(lon) | np.isnan(lat))
    if not has.any():
        return code, method
    BIG = np.iinfo(np.int32).max
    hl, ha = lon[has], lat[has]
    assigned, pt, z = probe_pairs(cm, hl, ha)
    # stage 2: one even-odd test of every pair, against the edges of the
    # candidate zone in the point's row only
    inside = cm.row_edges().inside(z, hl[pt], ha[pt])
    pip_best = np.full(len(hl), BIG, dtype=np.int64)
    np.minimum.at(pip_best, pt[inside], z[inside])
    use_pip = pip_best < BIG
    final = np.where(use_pip, pip_best, assigned)
    sub_method = np.where(use_pip, M_PIP, np.where(assigned >= 0, M_CELL, M_NONE)).astype(np.int8)
    # fallback: kNN within knn_max_m, else ocean band
    miss = final < 0
    if miss.any():
        ml, ma = hl[miss], ha[miss]
        best_d = np.full(len(ml), np.inf)
        best_z = np.full(len(ml), -1, dtype=np.int64)
        # grid-CSR candidate probe (O(points), not O(zones x points)),
        # then one distance call over every (point, candidate) pair.
        # Points metrically close to the antimeridian also get a
        # lon+-360-shifted pass: the planar distance kernel does not
        # wrap, so land just across the seam would otherwise read as
        # ~360 deg away (seam_mask has the formula's rationale)
        k0, k1 = cm.knn_candidates(ml, ma)
        pt, pos = next(csr_pairs(k0, k1 - k0))
        z = cm.knn_grid_tz[pos].astype(np.int64)
        seam = seam_mask(ml, ma, knn_max_m)
        d = cm.row_edges(knn_pad_deg(knn_max_m)).min_dist_m(z, ml[pt], ma[pt], seam[pt])
        _fold_knn_winners(pt, z, d, best_d, best_z)
        knn_ok = best_d <= knn_max_m
        miss_idx = np.nonzero(miss)[0]
        final[miss_idx[knn_ok]] = best_z[knn_ok]
        sub_method[miss_idx[knn_ok]] = M_KNN
        ocean_idx = miss_idx[~knn_ok]
        if n_bands:
            sub_method[ocean_idx] = M_OCEAN
            # ocean rows: code = n_zones + band index (by longitude)
            final[ocean_idx] = n_zones + band_of(hl[ocean_idx], band_edges, n_bands)
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

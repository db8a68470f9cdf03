"""Raster <-> vector tile materialization at fixed cell resolutions
(north_star: "raster<->vector tile materialization at fixed H3
resolutions"). No reference counterpart (the reference only builds the
polygon set); semantics defined by the spec:

- raster tiles: for every cell at resolution R intersecting a zone, one
  row (cell_id, res, tzid, coverage) where coverage is 'full' (cell
  entirely inside the zone) or 'partial' (boundary cell). A cell can carry
  several partial rows (one per overlapping zone); exact assignment within
  the cell is stage-2 PIP territory by design.
- vector tiles: the zone geometry clipped to the cell rect (G2 kernel) —
  the per-tile payload a map renderer would fetch.

Spark shape: zones -> applyInPandas(cover at res R) for the raster set;
vector tiles clip per (zone, cell) pair. The output is partitioned /
range-partitioned by cell prefix so tile servers prune by key range, and
because cell ids are Morton codes, range partitioning is spatial locality
(B8: skewed dense-urban cells split by salting the aggregation key).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geom.boolean import clip_to_box
from ..geom.cellindex import cell_bounds, cell_res, cover_polygon, cover_polygons, edge_soup
from ..geom.codec import from_geojson, to_geojson
from ..geom.kernels import RowEdges, csr_pairs, make_box, planar_area
from .spatial_join import _band_edges, band_of

RASTER_SCHEMA = "cell_id long, res int, tzid string, coverage string"
VECTOR_SCHEMA = "cell_id long, res int, tzid string, geometry string"


def _raster_rows(zone, cells, full, res: int):
    """Uniform-resolution raster expansion of compact covers: a coarse
    full cell expands to its res-R descendants, whose Morton codes are
    one contiguous range. Returns (zone, cell_id int64[], coverage[])."""
    steps = (2 * (res - cell_res(cells))).astype(np.uint64)
    k, d = next(csr_pairs(np.zeros(len(cells), dtype=np.int64), np.left_shift(1, steps)))
    base = (cells & np.uint64((1 << 58) - 1)) << steps
    ids = (base[k] + d.astype(np.uint64)) | np.uint64(res << 58)
    return zone[k], ids.astype(np.int64), np.where(full[k], "full", "partial")


def raster_rows_for_geom(geom, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Raster rows (cell_id, coverage) of one zone — the local
    golden-oracle builder's view of the Spark stage's expansion."""
    cells, full = cover_polygon(geom, max_res=res)
    _, ids, coverage = _raster_rows(np.zeros(len(cells), dtype=np.int64), cells, full, res)
    return ids, coverage


def _raster_fn(res: int):
    def _tiles(pdf: pd.DataFrame) -> pd.DataFrame:
        zone, ids, coverage = _raster_rows(
            *cover_polygons([from_geojson(g) for g in pdf["geometry"]], res), res
        )
        return pd.DataFrame(
            {
                "cell_id": ids,
                "res": np.full(len(ids), res, dtype=np.int32),
                "tzid": pdf["tzid"].to_numpy()[zone],
                "coverage": coverage,
            }
        )

    return _tiles


def raster_tiles(zones: DataFrame, res: int) -> DataFrame:
    """zones -> uniform-resolution raster tile memberships."""
    return zones.select("tzid", "geometry").groupBy("tzid").applyInPandas(
        _raster_fn(res), RASTER_SCHEMA
    )


def _vector_fn(res: int):
    def _tiles(pdf: pd.DataFrame) -> pd.DataFrame:
        geoms = [from_geojson(g) for g in pdf["geometry"]]
        tzids = pdf["tzid"].to_numpy()
        recs = []
        for zi, c, f in zip(*cover_polygons(geoms, res)):
            b = cell_bounds(int(c))
            if f:
                # full cells (any res): the payload IS the cell rect —
                # no clipping needed, interior tiles are pure rectangles
                clipped_gj = to_geojson(make_box(*b), as_string=True)
            else:
                clipped = clip_to_box(geoms[zi], *b)
                if clipped.is_empty():
                    continue
                clipped_gj = to_geojson(clipped, as_string=True)
            recs.append((int(c), int(c) >> 58, tzids[zi], clipped_gj))
        return pd.DataFrame(recs, columns=["cell_id", "res", "tzid", "geometry"])

    return _tiles


def vector_tiles(zones: DataFrame, res: int) -> DataFrame:
    """zones -> per-cell geometry payloads at max resolution ``res``.

    Full cells (including compacted coarse interior cells — their res is
    recorded in the ``res`` column and in the cell_id's header bits) carry
    the cell rect; boundary cells carry the zone clipped to the cell rect.
    The payloads of one zone PARTITION the zone exactly: sum(planar area)
    over its tiles equals the zone's area (tested; the conservation oracle
    in __spark_entry__ checks it against the zone-area goldens)."""
    return zones.select("tzid", "geometry").groupBy("tzid").applyInPandas(
        _vector_fn(res), VECTOR_SCHEMA
    )


def vector_tile_areas(tiles: DataFrame) -> DataFrame:
    """Per-zone planar-area sum over vector-tile payloads. Because a zone's
    tiles partition it exactly, this must reproduce the zone-area goldens —
    the conservation oracle for the whole cover->clip path."""

    def _areas(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "tzid": pdf["tzid"],
                    "tile_area": [
                        planar_area(from_geojson(g)) for g in pdf["geometry"]
                    ],
                }
            )

    per_tile = tiles.mapInPandas(_areas, "tzid string, tile_area double")
    return per_tile.groupBy("tzid").agg(
        F.round(F.sum("tile_area"), 6).alias("area_deg2_r")
    )


SERVE_SCHEMA = "url string, tzid string"


def serve_points_from_tiles(
    points: DataFrame,
    tiles: DataFrame,
    zones_pdf: pd.DataFrame,
    ocean_bands: list[dict],
    res: int,
) -> DataFrame:
    """Tile-serving join: assign tzid to points FROM a materialized
    uniform-resolution raster-tile table (the alternative hot path to the
    broadcast CellMap of spatial_join.assign_tzid_udf_packed — here the
    coarse index is a *table*, so the probe is a JVM broadcast hash
    equi-join on cell_id, the shape a tile server / Iceberg-backed lookup
    uses).

    Stage 1: encode each point's cell id (JVM bit arithmetic,
    _cell_encode_col) and broadcast-join the per-cell candidate tzid
    lists (tiny agg of the tiles table; the points side never shuffles).
    Stage 2: the one even-odd kernel (kernels.RowEdges.inside) over every
    (point, candidate zone) pair of an Arrow batch; zone index = rank of
    the tzid, so the smallest passing index is the smallest passing
    tzid; no hit -> Etc/GMT ocean band by longitude (spatial_join.band_of,
    reference index.js:107-133 semantics). Exact PIP runs for
    full-coverage candidates too so edge-of-cell points agree row-for-row
    with the pure-PIP oracle.
    """
    spark = points.sparkSession
    cands_by_cell = tiles.groupBy("cell_id").agg(
        F.sort_array(F.collect_set("tzid")).alias("cand_tzids")
    )
    pts = points.select(
        "url", "lon", "lat", _cell_encode_col(res, F.col("lon"), F.col("lat")).alias("cell_id")
    )
    # candidate-list length computed JVM-side so the resolver's pair
    # expansion is pure numpy (no per-row len() walk in Python)
    joined = pts.join(F.broadcast(cands_by_cell), "cell_id", "left").withColumn(
        "n_cands", F.coalesce(F.size("cand_tzids"), F.lit(0))
    )

    zones = zones_pdf.sort_values("tzid")
    tzids = zones["tzid"].to_numpy(dtype=object)
    bc_geojson = spark.sparkContext.broadcast(list(zones["geometry"]))
    band_edges = _band_edges(ocean_bands)
    band_tzids = np.array([b["tzid"] for b in ocean_bands], dtype=object)

    def _resolve(batches):
        gs = [from_geojson(g) for g in bc_geojson.value]
        rows = RowEdges(*edge_soup(gs)[:5], len(gs), res)
        for pdf in batches:
            lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
            # size(null) is -1, not null, when ANSI mode is off
            lens = np.maximum(pdf["n_cands"].to_numpy().astype(np.int64), 0)
            pt = np.repeat(np.arange(len(pdf)), lens)
            cand = np.concatenate([np.zeros(0, dtype=object), *pdf["cand_tzids"][lens > 0]])
            z = np.searchsorted(tzids, cand)
            if len(cand) and not np.array_equal(tzids[np.minimum(z, len(tzids) - 1)], cand):
                raise KeyError("a tile's tzid is not among zones_pdf's tzids")
            inside = rows.inside(z, lon[pt], lat[pt])
            best = np.full(len(pdf), len(tzids))
            np.minimum.at(best, pt[inside], z[inside])
            hit = best < len(tzids)
            out = np.empty(len(pdf), dtype=object)
            out[hit] = tzids[best[hit]]
            out[~hit] = band_tzids[band_of(lon[~hit], band_edges, len(band_tzids))]
            yield pd.DataFrame({"url": pdf["url"], "tzid": out})

    return joined.mapInPandas(_resolve, SERVE_SCHEMA)


def raster_tile_summary(tiles: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Aggregation over tiles grouped by cell — the shuffle-bearing stage
    where dense-urban cell skew shows up (north_rule B8).

    salt_buckets > 0 enables two-phase salted aggregation: partial
    aggregate on (cell_id, salt) — spreading a hot cell over N reducers —
    then final combine on cell_id. With salt_buckets == 0 Catalyst's
    partial aggregation + AQE skew splitting already handle moderate skew;
    the explicit salt is for pathological keys.
    """
    if salt_buckets <= 0:
        return tiles.groupBy("cell_id", "res").agg(
            F.count(F.lit(1)).alias("n_zones"),
            F.sum(F.when(F.col("coverage") == "full", 1).otherwise(0)).alias("n_full"),
            F.min("tzid").alias("first_tzid"),
        )
    salted = tiles.withColumn(
        "salt", F.pmod(F.hash("tzid"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("cell_id", "res", "salt").agg(
        F.count(F.lit(1)).alias("pc"),
        F.sum(F.when(F.col("coverage") == "full", 1).otherwise(0)).alias("pf"),
        F.min("tzid").alias("pt"),
    )
    return partial.groupBy("cell_id", "res").agg(
        F.sum("pc").alias("n_zones"),
        F.sum("pf").alias("n_full"),
        F.min("pt").alias("first_tzid"),
    )


def page_tile_counts(points: DataFrame, res: int) -> DataFrame:
    """Page-density rollup: assigned points (lon, lat, tzid) ->
    (cell_id, res, tzid, n_pages) at a fixed cell resolution. The cell
    encode is pure JVM bit arithmetic (round 7 — no Arrow boundary);
    the count aggregates map-side first, so the shuffle carries one row
    per live (cell, tzid), never per page — the 10^12-row-safe shape."""
    return (
        points.where(F.col("lon").isNotNull() & F.col("lat").isNotNull())
        .withColumn("cell_id", _cell_encode_col(res, F.col("lon"), F.col("lat")))
        .groupBy("cell_id", "tzid")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select("cell_id", F.lit(res).cast("int").alias("res"), "tzid", "n_pages")
    )


def page_topk_per_cell(
    points: DataFrame, res: int, k: int = 3, salt_buckets: int = 0
) -> DataFrame:
    """Deterministic k-page sample per tile cell (the preview pages a
    tile server shows): rank pages inside each cell by md5(url) — a
    deterministic, tie-free shuffle order — and keep the first k.

    This is the B8 skew shape that partial aggregation can NOT fix by
    itself: a window over cell_id needs every row of the cell in one
    task, and a dense-urban cell holding 30% of a 10^12-row corpus is a
    straggler (or an OOM) on any cluster size. Two defenses, both here:

    - salt_buckets == 0: a bare row_number window. Spark >= 3.5 inserts
      a PARTIAL WindowGroupLimit before the exchange, so each map task
      forwards at most k rows per cell — the hot cell ships
      #map_tasks x k rows, not its full population. The plan gate
      (tests/test_plan_quality.py) asserts the partial node exists so a
      regression (e.g. switching to rank with ties or an agg that
      defeats the pushdown) is caught.
    - salt_buckets > 0: explicit two-phase top-k for engines/operators
      without the pushdown and as the driver-verified path: partial
      top-k per (cell_id, salt) — the hot cell spreads over N reducers,
      each emitting <= k candidates — then final top-k per cell over
      <= N x k rows. Selection is distributive (global top-k is inside
      the union of per-salt top-ks), so the result is exactly equal;
      tests/test_tiles_skew.py asserts the bound arithmetically on a
      zipf-hot input.
    """
    from pyspark.sql import Window as W

    from ..plans.spread import spread_small_scan

    # spread (round 7): on a single-row-group test scan the cell encode,
    # md5 sort keys and the PARTIAL window stage would all run in one
    # task; no-op on real multi-split inputs
    pts = spread_small_scan(
        points.where(F.col("lon").isNotNull() & F.col("lat").isNotNull()),
        "url",
    ).withColumn("cell_id", _cell_encode_col(res, F.col("lon"), F.col("lat")))
    order = [F.md5(F.col("url")).asc(), F.col("url").asc()]
    if salt_buckets > 0:
        wp = W.partitionBy("cell_id", "__salt").orderBy(*order)
        pts = (
            pts.withColumn(
                "__salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
            )
            .withColumn("__pr", F.row_number().over(wp))
            .where(F.col("__pr") <= k)
            .drop("__salt", "__pr")
        )
    wf = W.partitionBy("cell_id").orderBy(*order)
    return (
        pts.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select("cell_id", "rank", "url")
    )


def _cell_encode_col(res: int, lon, lat):
    """(lon, lat) -> Morton cell id at `res` as PURE JVM bit arithmetic
    (round 7, guide §4.1): the identical scale/floor/clamp/interleave
    formula cellindex.encode_points runs in numpy (and the SQL oracle
    mirrors), previously evaluated through a scalar pandas UDF — an
    Arrow round trip per point for three multiplies and some shifts.
    Same IEEE doubles: (coord + off) / span * n evaluated left-to-right,
    floor, clamp to [0, n-1], bit-interleave, res header."""
    n = 1 << res
    x = F.least(
        F.greatest(F.floor((lon + 180.0) / 360.0 * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    y = F.least(
        F.greatest(F.floor((lat + 90.0) / 180.0 * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    code = F.lit(res << 58).cast("long")
    for b in range(res):
        code = (
            code
            + F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return code

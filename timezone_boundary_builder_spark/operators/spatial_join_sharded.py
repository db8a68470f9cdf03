"""Sharded two-stage spatial join: the next gear past the broadcast
CellMap, for worlds whose GEOMETRY no longer fits a broadcast.

The broadcast path (spatial_join.py) ships every zone's ring coordinates
to every executor inside the CellMap. That design has a measured
ceiling: at the 10^5-zone frontier the map is 77 MB and the shuffle-free
kernel still wins; at 10^6 zones the map is 306 MB and the kernel
collapses (BENCH.md round-6 — the budget guard coarsens the cover until
nearly every point is boundary residue gathering over the whole edge
soup). This module removes the ceiling by splitting the map:

  broadcast   CellMap.slim() — interval probe + kNN grid + tzids ONLY.
              Grows with the budget-capped cover (auto_cover_res holds
              it ~<200 MB for ANY world), never with ring complexity.
  DataFrame   zone_edges_frame — one row per zone (shard, zone_id,
              x1[], y1[], x2[], y2[]); the shard key is re-derived as
              zone_id % n_shards inside assign_tzid_sharded, so the
              pairing cannot drift from a mismatched parameter.

  stage 1     ONE mapInPandas pass over the full rows (payload rides
              through Arrow): FULL-cell and no-coord points come back
              RESOLVED — the ~87% majority never shuffles and never
              joins; boundary residue comes back flagged with its
              full-hit fallback. One output row per input row.
  stage 2     the residue (only) re-probes for its candidate pairs in a
              narrow pass, then pairs cogroup zone-edges by SHARD (a
              few hundred groups, never per-zone pandas groups): each
              group indexes its local edge soup by (zone, row) at the
              map's finest resolution and calls the SAME RowEdges
              inside / min_dist_m kernel as the broadcast path — one
              home, bit-identical results.
  winners     plain DataFrame aggregation — PIP: min containing zone
              (pre-filtered to z < full-hit zone, the overlap rule);
              kNN: smallest zone within 1e-9 m of the per-point min
              distance (the _fold_knn_winners rule), then the 1852 m
              gate and the map-side ocean-band fallback.

Cost model at 100 TB: resolved rows take one map-side pass (no shuffle,
no join); what shuffles is the residue — its pair rows, its winner
aggregation, and one residue-sized verdict join — plus each zone's
edges once. The one full-size materialization is the stage-1 frame
(persisted because three branches consume it; a production pipeline at
petabyte scale would write it to a staging table instead — swap the
persist for a write at the marked line). Call .release() on the
returned DataFrame's `sharded_release` attribute after consuming it to
drop the caches in long-lived sessions.

Semantics parity (pytest-gated, tests/test_sharded_join.py + the
assign_pages job-surface test): identical winner rules, shared kernels,
same overlap tie-break, same ocean/none fallbacks — the two paths
return row-identical assignments.

Reference semantics: same as spatial_join.py (reference index.js
1241-1247 ocean bands; README.md:234 1852 m rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, StructField, StructType

from ..geom.cellindex import edge_soup
from ..geom.codec import from_geojson
from ..geom.kernels import RowEdges, csr_pairs
from .spatial_join import (
    KNN_MAX_METERS,
    M_CELL,
    M_KNN,
    M_NONE,
    M_OCEAN,
    M_PIP,
    METHOD_NAMES,
    _band_edges,
    band_of,
    knn_pad_deg,
    probe_pairs,
    seam_mask,
)

# residue-pass row kinds (narrow Arrow schemas)
K_FINAL, K_POINT, K_PAIR = 0, 1, 2

PAIR_SCHEMA = "pt_id long, lon double, lat double, code int"
KNN_SCHEMA = "pt_id long, kind tinyint, lon double, lat double, code int, method tinyint, seam boolean"
PIP_EVAL_SCHEMA = "pt_id long, zone_id int"
KNN_EVAL_SCHEMA = "pt_id long, zone_id int, dist double"

DEFAULT_SHARDS = 64
BIG = np.iinfo(np.int32).max
_RESERVED = ("pt_id", "kind", "code", "method", "tzid", "mname", "shard")

# Default full-map broadcast budget for choose_stage2, calibrated from
# the measured decade pairs (BENCH.md round-6): at 77 MB (10^5 zones)
# the broadcast kernel and the sharded join are within co-residency
# noise of each other (same-run pairs read 0.82x and 1.12x across
# windows), while at 306 MB (10^6 zones) broadcast collapses 4-10x.
# 128 MB sits between the measured decades on the broadcast-favored
# side: below it the shuffle-free kernel is never the loser, above it
# the sharded join is never worse and soon decisively better.
DEFAULT_BROADCAST_BUDGET_MB = 128.0


def choose_stage2(
    cm, budget_mb: float = DEFAULT_BROADCAST_BUDGET_MB
) -> tuple[str, int]:
    """Pick the stage-2 physical plan from the MEASURED payload, the way
    AQE picks a join strategy from measured sizes at runtime.

    Both plans need the full CellMap built (the sharded path broadcasts
    ``cm.slim()``, which derives from it), so by decision time the exact
    broadcast payload is known. Round 7 (round-6 verdict item 7): the
    size comes from ``estimate_map_bytes`` — a sum of the component
    arrays' ``.nbytes`` plus per-object pickle overheads — instead of a
    driver-side ``pickle.dumps`` of the whole map, which at 10^6 zones
    serialized ~306 MB purely to measure it, right before the broadcast
    serialized it again (pinned within 10% of the pickled size by
    tests/test_sharded_join.py on two worlds). Returns
    ``(mode, est_map_bytes)`` where mode is "broadcast" (map fits:
    shuffle-free kernel, the measured winner below the budget) or
    "sharded" (geometry stays in a DataFrame; only the slim index
    ships). The two plans are row-identical (pytest-gated), so the
    choice is physical only.
    """
    nbytes = estimate_map_bytes(cm)
    mode = "broadcast" if nbytes <= budget_mb * 1e6 else "sharded"
    return mode, nbytes


def estimate_map_bytes(obj) -> int:
    """Pickled-size estimate of a CellMap-shaped object WITHOUT
    serializing it: numpy arrays dominate (``.nbytes`` + ~150 B of
    pickle framing each); string lists (tzids, geojson) count their
    UTF-8 bytes + per-object overhead; the tzid->index dict counts keys
    and boxed ints. Accuracy is asserted within 10% of the real pickle
    on the fixture and a dense world (test_sharded_join.py)."""
    import numpy as np

    total = 200  # object + class framing
    for v in vars(obj).values():
        if isinstance(v, np.ndarray):
            total += int(v.nbytes) + 150
        elif isinstance(v, (list, tuple)):
            total += 60
            for x in v:
                if isinstance(x, str):
                    total += len(x.encode("utf-8")) + 50
                else:
                    total += 30
        elif isinstance(v, dict):
            total += 60
            for k2, v2 in v.items():
                total += (len(k2.encode("utf-8")) + 50 if isinstance(k2, str) else 30)
                total += 30 if not isinstance(v2, str) else len(v2.encode()) + 50
        elif isinstance(v, str):
            total += len(v.encode("utf-8")) + 50
        else:
            total += 30
    return total


def zone_edges_frame(zones: DataFrame, tzids_bc, n_shards: int = DEFAULT_SHARDS) -> DataFrame:
    """zones(tzid, geometry) -> (shard, zone_id, x1[], y1[], x2[], y2[]),
    one row per zone with >0 edges, built map-only (the geometry never
    touches the driver). zone_id = rank of tzid in the sorted tzid list
    (tzids_bc — the same ordering CellMap uses, so indices agree with
    the slim index's candidate arrays). The shard column is a storage/
    partitioning hint; assign_tzid_sharded re-derives it from zone_id,
    so a stale or differently-sharded frame cannot silently mispair."""

    def _edges(batches):
        idx = None
        for pdf in batches:
            if idx is None:
                idx = {t: i for i, t in enumerate(tzids_bc.value)}
            zs = [(idx[t], from_geojson(gj))
                  for t, gj in zip(pdf["tzid"], pdf["geometry"]) if t in idx]
            zs = [(zi, g) for zi, g in zs if len(g.coords)]
            if not zs:
                continue
            # the broadcast index's edge builder over the batch's zones,
            # split back per zone
            zone_id = np.array([zi for zi, _ in zs], dtype=np.int32)
            ed = edge_soup([g for _, g in zs])
            rows = {c: np.split(getattr(ed, c), ed.voff[1:-1]) for c in ("x1", "y1", "x2", "y2")}
            yield pd.DataFrame({"shard": zone_id % n_shards, "zone_id": zone_id, **rows})

    schema = (
        "shard int, zone_id int, x1 array<double>, y1 array<double>, "
        "x2 array<double>, y2 array<double>"
    )
    return zones.select("tzid", "geometry").mapInPandas(_edges, schema)


def _local_edges(edges_pdf: pd.DataFrame, res: int, pad: float):
    """One shard's edge rows -> (sorted zone ids, RowEdges over the
    local zone numbers at resolution res, widened by pad degrees)."""
    order = np.argsort(edges_pdf["zone_id"].to_numpy())
    zvals = edges_pdf["zone_id"].to_numpy()[order]
    cols = [edges_pdf[c].to_numpy()[order] for c in ("x1", "y1", "x2", "y2")]
    zone = np.repeat(np.arange(len(zvals)), [len(a) for a in cols[0]])
    soup = [np.concatenate(c).astype(np.float64) for c in cols]
    return zvals, RowEdges(*soup, zone, len(zvals), res, pad)


def _local_pairs(pairs_pdf: pd.DataFrame, zvals: np.ndarray):
    """Pair rows on a shard's local zone numbering. Keeps the pairs whose
    zone has edge rows (zero-edge zones have none); returns (keep mask,
    global zone, local zone, pt_id, lon, lat) of the kept pairs."""
    pz = pairs_pdf["code"].to_numpy(dtype=np.int64)
    li = np.searchsorted(zvals, pz)
    ok = (li < len(zvals)) & (zvals[np.minimum(li, len(zvals) - 1)] == pz)
    pid = pairs_pdf["pt_id"].to_numpy(dtype=np.int64)[ok]
    px = pairs_pdf["lon"].to_numpy(dtype=np.float64)[ok]
    py = pairs_pdf["lat"].to_numpy(dtype=np.float64)[ok]
    return ok, pz[ok], li[ok], pid, px, py


def _make_pip_eval(res: int):
    """(point, zone) pairs x one shard's edges -> rows for pairs whose
    point lies INSIDE the zone: RowEdges.inside, the broadcast stage-2
    kernel, so results are bit-identical by construction."""

    def _pip_eval(pairs_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pairs_pdf) or not len(edges_pdf):
            return pd.DataFrame(
                {"pt_id": pd.Series(dtype="int64"), "zone_id": pd.Series(dtype="int32")}
            )
        zvals, rows = _local_edges(edges_pdf, res, 0.0)
        _, pz, li, pid, px, py = _local_pairs(pairs_pdf, zvals)
        inside = rows.inside(li, px, py)
        return pd.DataFrame({"pt_id": pid[inside], "zone_id": pz[inside].astype(np.int32)})

    return _pip_eval


def _make_knn_eval(res: int, knn_max_m: float):
    """(point, zone) kNN pairs x one shard's edges -> per-pair boundary
    distance in meters: RowEdges.min_dist_m with the broadcast kNN's pad,
    antimeridian wrap included."""

    def _knn_eval(pairs_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pairs_pdf) or not len(edges_pdf):
            return pd.DataFrame(
                {
                    "pt_id": pd.Series(dtype="int64"),
                    "zone_id": pd.Series(dtype="int32"),
                    "dist": pd.Series(dtype="float64"),
                }
            )
        zvals, rows = _local_edges(edges_pdf, res, knn_pad_deg(knn_max_m))
        ok, pz, li, pid, px, py = _local_pairs(pairs_pdf, zvals)
        seam = pairs_pdf["seam"].to_numpy(dtype=bool)[ok]
        d = rows.min_dist_m(li, px, py, seam)
        return pd.DataFrame({"pt_id": pid, "zone_id": pz.astype(np.int32), "dist": d})

    return _knn_eval


def _make_stage1_fn(slim_bc):
    """Payload stage 1: ONE output row per input row, all input columns
    riding through Arrow. kind 0 = RESOLVED map-side (code >= 0 is a
    full-cell hit, -1 is a no-coord row); kind 1 = boundary residue
    (code carries the full-hit fallback, -1 if none)."""

    def _fn(batches):
        cm = slim_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf["lon"].to_numpy(dtype=np.float64, na_value=np.nan)
            lat = pdf["lat"].to_numpy(dtype=np.float64, na_value=np.nan)
            has = ~(np.isnan(lon) | np.isnan(lat))
            code = np.full(len(pdf), -1, dtype=np.int32)
            kind = np.zeros(len(pdf), dtype=np.int8)
            if has.any():
                hl, ha = lon[has], lat[has]
                full_tz, seg = cm.probe(hl, ha)
                apt = np.where(full_tz == BIG, -1, full_tz).astype(np.int64)
                # residue test WITHOUT the pair expansion (the pairs pass
                # re-probes the residue and expands there): a point is
                # residue iff it has no full hit, or some boundary
                # candidate could beat the full hit — i.e. the segment's
                # MIN candidate zone is smaller (the overlap rule's
                # pre-filter, collapsed to one gather)
                seg_min = cm.seg_min_candidates()[seg]
                unresolved = (apt < 0) | (seg_min < apt)
                code[has] = apt.astype(np.int32)
                kind[has] = np.where(unresolved, K_POINT, K_FINAL).astype(np.int8)
            yield pdf.assign(kind=kind, code=code)

    return _fn


def _make_pip_pairs_fn(slim_bc):
    """Narrow residue pass: re-probe ONLY the residue points and emit
    their surviving (point, candidate-zone) pair rows. The probe is a
    searchsorted — re-running it on the small residue beats shipping
    every pair through the payload pass or joining the full input."""

    def _fn(batches):
        cm = slim_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf["lon"].to_numpy(dtype=np.float64)
            lat = pdf["lat"].to_numpy(dtype=np.float64)
            pid = pdf["pt_id"].to_numpy(dtype=np.int64)
            _, pair_pt, pair_z = probe_pairs(cm, lon, lat)
            yield pd.DataFrame(
                {
                    "pt_id": pid[pair_pt],
                    "lon": lon[pair_pt],
                    "lat": lat[pair_pt],
                    "code": pair_z.astype(np.int32),
                }
            )

    return _fn


def _make_knn_probe_fn(slim_bc, band_edges: np.ndarray, n_bands: int, knn_max_m: float):
    """kNN probe over PIP-missed points: emits the candidate pairs plus,
    per point, the precomputed ocean/none fallback (band by longitude —
    map-side, no join needed) and the antimeridian seam flag."""

    def _fn(batches):
        cm = slim_bc.value
        n_zones = len(cm.tzids)
        for pdf in batches:
            if not len(pdf):
                continue
            pid = pdf["pt_id"].to_numpy(dtype=np.int64)
            lon = pdf["lon"].to_numpy(dtype=np.float64)
            lat = pdf["lat"].to_numpy(dtype=np.float64)
            if n_bands:
                ocean_code = (n_zones + band_of(lon, band_edges, n_bands)).astype(
                    np.int64
                )
                ocean_m = np.full(len(pid), M_OCEAN, dtype=np.int8)
            else:
                ocean_code = np.full(len(pid), -1, dtype=np.int64)
                ocean_m = np.full(len(pid), M_NONE, dtype=np.int8)
            seam = seam_mask(lon, lat, knn_max_m)
            k0, k1 = cm.knn_candidates(lon, lat)
            kcnt = k1 - k0
            kp = np.nonzero(kcnt > 0)[0]
            cols = {
                "pt_id": [],
                "kind": [],
                "lon": [],
                "lat": [],
                "code": [],
                "method": [],
                "seam": [],
            }

            def emit(p, k, lo, la, c, m, s):
                cols["pt_id"].append(p)
                cols["kind"].append(np.full(len(p), k, dtype=np.int8))
                cols["lon"].append(lo)
                cols["lat"].append(la)
                cols["code"].append(c.astype(np.int32))
                cols["method"].append(m)
                cols["seam"].append(s)

            nocand = np.ones(len(pid), dtype=bool)
            nocand[kp] = False
            if nocand.any():
                emit(
                    pid[nocand],
                    K_FINAL,
                    lon[nocand],
                    lat[nocand],
                    ocean_code[nocand],
                    ocean_m[nocand],
                    seam[nocand],
                )
            if len(kp):
                emit(
                    pid[kp],
                    K_POINT,
                    lon[kp],
                    lat[kp],
                    ocean_code[kp],
                    ocean_m[kp],
                    seam[kp],
                )
                pair_pt, pos = next(csr_pairs(k0, kcnt))
                pair_z = cm.knn_grid_tz[pos].astype(np.int64)
                emit(
                    pid[pair_pt],
                    K_PAIR,
                    lon[pair_pt],
                    lat[pair_pt],
                    pair_z,
                    np.full(len(pair_pt), -1, dtype=np.int8),
                    seam[pair_pt],
                )
            yield pd.DataFrame({k: np.concatenate(v) for k, v in cols.items()})

    return _fn


def assign_tzid_sharded(
    pages_with_coords: DataFrame,
    slim_bc,
    edges_df: DataFrame,
    ocean_bands: list[dict],
    knn_max_m: float = KNN_MAX_METERS,
    n_shards: int = DEFAULT_SHARDS,
    stage1_path: str | None = None,
) -> DataFrame:
    """pages(..., lon, lat) -> all input columns + (tzid, method), with
    NO geometry broadcast. Row-identical to assign_tzid_udf_packed on
    the same coordinates (pytest-gated): feed it the packed grid value
    decoded by spatial_join.unpack_coords_cols, as assign_pages does.
    slim_bc = sc.broadcast(cellmap.slim()), edges_df =
    zone_edges_frame(...). Extra input columns ride through the payload
    stage-1 pass untouched; only the boundary residue is keyed and
    joined. The returned DataFrame carries a `sharded_release()`
    attribute — call it after consuming the result to drop the
    operator's caches in a long-lived session.

    stage1_path: when set, the full-size stage-1 frame is WRITTEN to
    this parquet path and the three consumers read it back — the
    petabyte-scale mode, where a MEMORY_AND_DISK persist of the whole
    input would thrash executor storage and a lost executor would
    recompute the map pass. The write is eager (happens inside this
    call); the path is the caller's to clean or keep for resume."""
    from pyspark import StorageLevel

    spark = pages_with_coords.sparkSession
    clash = [c for c in pages_with_coords.columns if c in _RESERVED]
    if clash:
        raise ValueError(f"input columns collide with operator columns: {clash}")
    band_edges = _band_edges(ocean_bands)
    band_tzids = [b["tzid"] for b in ocean_bands]
    cm = slim_bc.value
    n_zones = len(cm.tzids)
    # shard key derived HERE from zone_id for both sides of the cogroup:
    # trusting a caller-supplied pairing of (edges frame, n_shards) would
    # silently drop every mispaired boundary pair
    edges = edges_df.withColumn(
        "shard", (F.col("zone_id") % F.lit(n_shards)).cast("int")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    pts = pages_with_coords.withColumn("pt_id", F.monotonically_increasing_id())
    s1_schema = StructType(
        pts.schema.fields
        + [StructField("kind", ByteType(), True), StructField("code", IntegerType(), True)]
    )
    # the ONE full-size materialization (three consumers): a persist by
    # default, a durable staging write when the caller says the input is
    # too big to cache (stage1_path)
    s1_raw = pts.mapInPandas(_make_stage1_fn(slim_bc), s1_schema)
    if stage1_path is not None:
        s1_raw.write.mode("overwrite").parquet(stage1_path)
        s1 = spark.read.parquet(stage1_path)
    else:
        s1 = s1_raw.persist(StorageLevel.MEMORY_AND_DISK)

    resolved = s1.filter(F.col("kind") == K_FINAL)
    residue = s1.filter(F.col("kind") == K_POINT)
    rp = residue.select("pt_id", "lon", "lat", "code")

    pip_pairs = rp.select("pt_id", "lon", "lat").mapInPandas(
        _make_pip_pairs_fn(slim_bc), PAIR_SCHEMA
    ).withColumn("shard", (F.col("code") % F.lit(n_shards)).cast("int"))
    pip_win = (
        pip_pairs.groupby("shard")
        .cogroup(edges.groupby("shard"))
        .applyInPandas(_make_pip_eval(cm.finest), PIP_EVAL_SCHEMA)
        .groupBy("pt_id")
        .agg(F.min("zone_id").alias("zwin"))
    )
    r2 = (
        rp.join(pip_win, "pt_id", "left")
        .select(
            "pt_id",
            "lon",
            "lat",
            F.coalesce("zwin", F.when(F.col("code") >= 0, F.col("code"))).alias("code"),
            F.when(F.col("zwin").isNotNull(), F.lit(M_PIP))
            .when(F.col("code") >= 0, F.lit(M_CELL))
            .alias("method"),
        )
        # residue-sized; two consumers (PIP finals + the kNN branch).
        # Without the persist the rp-pip_win sort-merge join re-executes
        # per consumer: exchange reuse shares the SHUFFLES, but every
        # operator between exchanges runs once per duplicated subtree —
        # measured 2x wall on the 10^5-zone frontier world
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    finals2 = r2.filter(F.col("code").isNotNull()).select("pt_id", "code", "method")
    missed = r2.filter(F.col("code").isNull()).select("pt_id", "lon", "lat")

    knn1 = missed.mapInPandas(
        _make_knn_probe_fn(slim_bc, band_edges, len(band_tzids), knn_max_m),
        KNN_SCHEMA,
        # three consumers (ocean finals, kNN points, kNN pairs) — same
        # duplicated-subtree rule as r2
    ).persist(StorageLevel.MEMORY_AND_DISK)
    finals3 = knn1.filter(F.col("kind") == K_FINAL).select("pt_id", "code", "method")
    knn_pts = knn1.filter(F.col("kind") == K_POINT)
    knn_pairs = knn1.filter(F.col("kind") == K_PAIR).withColumn(
        "shard", (F.col("code") % F.lit(n_shards)).cast("int")
    )

    from pyspark.sql import Window

    ev = (
        knn_pairs.groupby("shard")
        .cogroup(edges.groupby("shard"))
        .applyInPandas(_make_knn_eval(cm.finest, knn_max_m), KNN_EVAL_SCHEMA)
        .withColumn("dmin", F.min("dist").over(Window.partitionBy("pt_id")))
    )
    knn_win = (
        # winner rule shared with _fold_knn_winners: smallest zone within
        # 1e-9 m of the per-point minimum distance
        ev.filter(F.col("dist") <= F.col("dmin") + F.lit(1e-9))
        .groupBy("pt_id")
        .agg(F.min("zone_id").alias("kz"), F.first("dmin").alias("dmin"))
    )
    finals4 = knn_pts.join(knn_win, "pt_id", "left").select(
        "pt_id",
        F.when(F.col("dmin") <= F.lit(knn_max_m), F.col("kz"))
        .otherwise(F.when(F.col("code") >= 0, F.col("code")))
        .alias("code"),
        F.when(F.col("dmin") <= F.lit(knn_max_m), F.lit(M_KNN))
        .otherwise(F.col("method"))
        .alias("method"),
    )

    def _norm(df):
        return df.select(
            "pt_id",
            F.col("code").cast("int").alias("code"),
            F.col("method").cast("int").alias("method"),
        )

    # residue verdicts: RESIDUE-sized (never the full input)
    residue_codes = (
        _norm(finals2).unionByName(_norm(finals3)).unionByName(_norm(finals4))
    )

    # Arrow-path createDataFrame: at 10^6 zones a row-tuple upload would
    # be a driver wall of its own; a pandas frame ships in one batch.
    # broadcast() because at 10^6 zones the id table crosses the
    # auto-broadcast threshold and a sort-merge join here would shuffle
    # the full input
    ids = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "code": np.arange(n_zones + len(band_tzids), dtype=np.int32),
                    "tzid": list(cm.tzids) + band_tzids,
                }
            ),
            "code int, tzid string",
        )
    )
    methods = F.broadcast(
        spark.createDataFrame(
            [(i, m) for i, m in enumerate(METHOD_NAMES)], "method int, mname string"
        )
    )
    in_cols = list(pages_with_coords.columns)
    # resolved rows never shuffle: method derives from the code sign
    # (full-cell hit vs no-coord), tzid from the broadcast id table
    out_resolved = (
        resolved.withColumn(
            "method",
            F.when(F.col("code") >= 0, F.lit(METHOD_NAMES[M_CELL])).otherwise(
                F.lit(METHOD_NAMES[M_NONE])
            ),
        )
        .join(ids, "code", "left")
        .select(*in_cols, "tzid", "method")
    )
    out_residue = (
        residue.drop("kind", "code")
        .join(residue_codes, "pt_id")
        .join(methods, "method", "left")
        .join(ids, "code", "left")
        .select(*in_cols, "tzid", F.col("mname").alias("method"))
    )
    out = out_resolved.unionByName(out_residue)

    def _release():
        for df in (s1, edges, r2, knn1):
            try:
                df.unpersist()
            except Exception:
                pass

    out.sharded_release = _release
    return out

"""The assignment surface (pack_coords_col -> assign_tzid_udf_packed, 8 B/row
down the Arrow pipe) must return exactly what the numpy assign_codes
kernel returns on the coordinates the packing resolves — on the bench
grid, and in a batch that also holds a row with no coordinate."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tests._kernel_ref import kernel_assign, kernel_codes
from timezone_boundary_builder_spark.operators.spatial_join import (
    assign_tzid_udf_packed,
    pack_coords_col,
    unpack_xy,
)
from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS


def test_packed_path_row_equal_to_double_path(spark):
    """The double path is the float64 assign_codes kernel on the decoded
    grid coordinates."""
    import bench

    n = 1_000_000
    cm = entry._local_cellmap()
    bc = spark.sparkContext.broadcast(cm)
    pts = bench.synthetic_points(spark, n).select("url", pack_coords_col())
    # the JVM codec and the bench's pure-integer packing agree on the grid
    ints = bench.synthetic_points_packed(spark, n).withColumnRenamed("xy", "xy_i")
    assert pts.join(ints, "url").where(F.col("xy") != F.col("xy_i")).count() == 0
    got = (
        assign_tzid_udf_packed(pts, bc, OCEAN_BANDS)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    ref = kernel_assign(cm, OCEAN_BANDS, pts.toPandas())
    pd.testing.assert_frame_equal(got, ref)
    # every method appears in the sample (land full-cell, boundary PIP,
    # offshore kNN, deep ocean)
    assert {"cell", "pip", "knn", "ocean"} <= set(got["method"].unique())
    bc.unpersist()


def _widening_flip_xy(cm) -> int:
    """A grid point north of Test/Hotel's lat-50 edge, at the 1852 m kNN
    radius, whose packed xy decodes to a different (tzid, method) once
    rounded through float64 — what a nullable int64 Arrow column becomes
    in pandas (~1e18 > 2^53: the low bits, i.e. the latitude, round)."""
    lon_u = np.int64(195_000_000)  # lon 15.0
    lat_u = np.arange(140_010_000, 140_025_000, dtype=np.int64)  # 50.010..50.025
    v = (lon_u << np.int64(32)) + lat_u
    widened = v.astype(np.float64).astype(np.int64)
    tz, m = kernel_codes(cm, OCEAN_BANDS, *unpack_xy(v))
    tz_w, m_w = kernel_codes(cm, OCEAN_BANDS, *unpack_xy(widened))
    flips = np.nonzero((tz != tz_w) | (m != m_w))[0]
    assert len(flips), "no float64-sensitive grid point in the scan range"
    return int(v[flips[0]])


def test_null_in_batch_keeps_grid_precision(spark):
    """A page without a coordinate in the same Arrow batch as a grid
    point ~1 m from the kNN radius: the point gets the same tzid and
    method as in a null-free batch and as the kernel on its decoded
    floats, and the null row is 'none'."""
    cm = entry._local_cellmap()
    bc = spark.sparkContext.broadcast(cm)
    xy = _widening_flip_xy(cm)
    lon, lat = unpack_xy(np.array([xy], dtype=np.int64))
    rows = [("p", float(lon[0]), float(lat[0])), ("n", None, None)]
    df = spark.createDataFrame(rows, "url string, lon double, lat double")

    def run(frame):
        # coalesce(1): one task, so both rows share one Arrow batch
        pts = frame.coalesce(1).select("url", pack_coords_col())
        out = assign_tzid_udf_packed(pts, bc, OCEAN_BANDS).collect()
        return {r["url"]: (r["tzid"], r["method"]) for r in out}

    mixed = run(df)
    alone = run(df.where(F.col("url") == "p"))
    tz, m = kernel_codes(cm, OCEAN_BANDS, lon, lat)
    assert mixed["p"] == alone["p"] == (tz[0], m[0])
    assert mixed["n"] == (None, "none")
    # the point really is on the grid: packing its doubles gives xy back
    packed = df.select("url", pack_coords_col()).collect()
    assert {r["url"]: r["xy"] for r in packed} == {"p": xy, "n": -1}
    bc.unpersist()

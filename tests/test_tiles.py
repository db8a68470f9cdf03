"""Tile materialization tests (SURVEY.md §2.4 B7/B8)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from timezone_boundary_builder_spark.geom.cellindex import cell_bounds, encode_points
from timezone_boundary_builder_spark.geom.codec import from_geojson
from timezone_boundary_builder_spark.geom.kernels import planar_area
from timezone_boundary_builder_spark.operators.tiles import (
    raster_tile_summary,
    raster_tiles,
    vector_tiles,
)
from timezone_boundary_builder_spark.operators.zone_build import build_zones
from timezone_boundary_builder_spark.sources.fixtures import sources_pdf, zones_config_pdf

RES = 5


@pytest.fixture(scope="module")
def zones_df(spark):
    zc = spark.createDataFrame(zones_config_pdf())
    src = spark.createDataFrame(sources_pdf())
    return build_zones(spark, zc, src).cache()


def test_raster_tiles_uniform_res_and_membership(spark, zones_df):
    tiles = raster_tiles(zones_df, RES).toPandas()
    assert (tiles.res == RES).all()
    assert (np.array([int(c) >> 58 for c in tiles.cell_id]) == RES).all()
    # membership check: a full tile's center must be inside its zone
    zones = {r.tzid: from_geojson(r.geometry) for r in zones_df.toPandas().itertuples()}
    from tests._kernel_ref import points_in_packed

    full = tiles[tiles.coverage == "full"]
    sample = full.sample(n=min(len(full), 200), random_state=1)
    for r in sample.itertuples():
        b = cell_bounds(int(r.cell_id))
        center = np.array([[(b[0] + b[2]) / 2, (b[1] + b[3]) / 2]])
        assert points_in_packed(center, zones[r.tzid])[0], (r.tzid, b)


def test_raster_tiles_cover_known_point(spark, zones_df):
    tiles = raster_tiles(zones_df, RES).toPandas()
    # (10, 10) is deep inside Test/Alpha
    c = int(encode_points(np.array([10.0]), np.array([10.0]), RES)[0])
    mine = tiles[(tiles.cell_id == c)]
    assert ("Test/Alpha" == mine.tzid).any()


def test_vector_tiles_clip_area_conserves(spark, zones_df):
    vt = vector_tiles(zones_df.where(F.col("tzid") == "Test/Golf"), RES).toPandas()
    # sum of clipped piece areas == zone area (tiles partition the zone)
    total = sum(planar_area(from_geojson(g)) for g in vt.geometry)
    zone_area = zones_df.where(F.col("tzid") == "Test/Golf").first().area_deg2
    assert total == pytest.approx(zone_area, rel=1e-6)


def test_raster_summary_salted_equals_unsalted(spark, zones_df):
    tiles = raster_tiles(zones_df, RES)
    plain = raster_tile_summary(tiles).toPandas().sort_values("cell_id").reset_index(drop=True)
    salted = (
        raster_tile_summary(tiles, salt_buckets=8)
        .toPandas()
        .sort_values("cell_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        plain[["cell_id", "res", "n_zones", "n_full", "first_tzid"]],
        salted[["cell_id", "res", "n_zones", "n_full", "first_tzid"]],
        check_dtype=False,
    )


def test_vector_tiles_conserve_all_zones(spark, zones_df):
    """Every zone's tiles partition it exactly — including zones whose
    cover compacts to coarse full cells (Test/Echo), which must be emitted
    as rect payloads."""
    vt = vector_tiles(zones_df, RES).toPandas()
    got = vt.assign(area=[planar_area(from_geojson(g)) for g in vt.geometry])
    sums = got.groupby("tzid")["area"].sum()
    for r in zones_df.select("tzid", "area_deg2").toPandas().itertuples():
        assert sums[r.tzid] == pytest.approx(r.area_deg2, rel=1e-9), r.tzid


def test_vector_tiles_res_column_matches_cell_header(spark, zones_df):
    vt = vector_tiles(zones_df, RES).toPandas()
    assert (vt.res == np.array([int(c) >> 58 for c in vt.cell_id])).all()
    assert (vt.res <= RES).all()


def test_serve_from_tiles_equals_cellmap_join(spark, zones_df):
    """The tile-table serving join and the broadcast-CellMap join are two
    physical strategies for the same logical query — identical output."""
    import __spark_entry__ as entry
    from timezone_boundary_builder_spark.operators.tiles import serve_points_from_tiles
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS

    sf = "/root/testdata/sf0.001"
    tiles = raster_tiles(zones_df, RES)
    served = (
        serve_points_from_tiles(
            entry._points(spark, sf), tiles, entry._local_zones(), OCEAN_BANDS, res=RES
        )
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    direct = (
        entry._q_geo_pip_assign(spark, sf)
        .select("url", "tzid")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(served, direct)

"""Partitioning-independence: every operator must produce IDENTICAL
results regardless of how the input is split across tasks. This is the
distributed-correctness property that lets the same job run on local[8]
here and 1000 executors in production — an order-dependent kernel (e.g. a
dissolve whose output wobbled with the arrival order of group rows, or an
assignment that depended on Arrow batch boundaries) would pass single-run
goldens and still diverge run-to-run at scale."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from timezone_boundary_builder_spark.operators.oceans import build_ocean_zones
from timezone_boundary_builder_spark.operators.tiles import (
    raster_tile_summary,
    raster_tiles,
)
from timezone_boundary_builder_spark.operators.zone_build import build_zones
from timezone_boundary_builder_spark.sources.fixtures import (
    OCEAN_BANDS,
    sources_pdf,
    zones_config_pdf,
)


def _zones(spark, nparts):
    zc = spark.createDataFrame(zones_config_pdf()).repartition(nparts)
    src = spark.createDataFrame(sources_pdf()).repartition(nparts)
    return build_zones(spark, zc, src)


def test_zone_build_independent_of_partitioning(spark):
    a = _zones(spark, 1).select("tzid", "geom_hash").toPandas()
    b = _zones(spark, 7).select("tzid", "geom_hash").toPandas()
    got_a = dict(zip(a.tzid, a.geom_hash))
    got_b = dict(zip(b.tzid, b.geom_hash))
    assert got_a == got_b


def test_ocean_and_tiles_independent_of_partitioning(spark):
    bands = spark.createDataFrame(pd.DataFrame(OCEAN_BANDS))
    hashes = []
    summaries = []
    for nparts in (1, 5):
        zones = _zones(spark, nparts)
        oc = build_ocean_zones(spark, bands, zones).select("tzid", "geom_hash")
        hashes.append({r.tzid: r.geom_hash for r in oc.collect()})
        summ = (
            raster_tile_summary(raster_tiles(zones, res=4), salt_buckets=4)
            .orderBy("cell_id")
            .toPandas()
        )
        summaries.append(summ)
    assert hashes[0] == hashes[1]
    pd.testing.assert_frame_equal(summaries[0], summaries[1])


def test_assignment_independent_of_batch_boundaries(spark):
    """Same points through 2 vs 16 input partitions (different Arrow
    batch shapes) -> identical (url, tzid, method) rows."""
    import __spark_entry__ as entry
    from timezone_boundary_builder_spark.operators.spatial_join import (
        assign_tzid_udf_packed,
        pack_coords_col,
    )

    bc = spark.sparkContext.broadcast(entry._local_cellmap())
    pts = spark.range(20000).select(
        F.col("id").cast("string").alias("url"),
        ((F.col("id") * 37 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("id") * 53 % 17000) / 100.0 - 85.0).alias("lat"),
    )
    outs = []
    for nparts in (2, 16):
        out = (
            assign_tzid_udf_packed(
                pts.repartition(nparts).select("url", pack_coords_col()),
                bc,
                OCEAN_BANDS,
            )
            .select("url", "tzid", "method")
            .orderBy(F.col("url").cast("long"))
            .toPandas()
        )
        outs.append(out.reset_index(drop=True))
    bc.unpersist()
    pd.testing.assert_frame_equal(outs[0], outs[1])

"""Part A pipeline tests: ocean gap-fill, validation (incl. the failure
path), derived zones, release diff, combined outputs."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests._kernel_ref import points_in_packed
from timezone_boundary_builder_spark.geom.codec import from_geojson
from timezone_boundary_builder_spark.operators.derived import build_derived_zones
from timezone_boundary_builder_spark.operators.oceans import build_ocean_zones
from timezone_boundary_builder_spark.operators.outputs import (
    combine_and_write,
    write_zone_lookup,
)
from timezone_boundary_builder_spark.operators.release_diff import release_diff
from timezone_boundary_builder_spark.operators.validate import (
    assert_valid,
    validate_overlaps,
)
from timezone_boundary_builder_spark.operators.zone_build import build_zones
from timezone_boundary_builder_spark.sources.fixtures import (
    OCEAN_BANDS,
    expected_overlaps_pdf,
    sources_pdf,
    zone_groups_pdf,
    zones_config_pdf,
)


@pytest.fixture(scope="module")
def zones_df(spark):
    zc = spark.createDataFrame(zones_config_pdf())
    src = spark.createDataFrame(sources_pdf())
    return build_zones(spark, zc, src).cache()


def test_ocean_zones_no_land_overlap(spark, zones_df):
    bands = spark.createDataFrame(pd.DataFrame(OCEAN_BANDS))
    oceans = build_ocean_zones(spark, bands, zones_df).toPandas()
    assert set(oceans.tzid) == {b["tzid"] for b in OCEAN_BANDS}
    zones = {r.tzid: from_geojson(r.geometry) for r in zones_df.toPandas().itertuples()}
    rng = np.random.default_rng(4)
    for r in oceans.itertuples():
        g = from_geojson(r.geometry)
        # sample points inside the ocean zone: none may be on land
        b = (g.coords[:, 0].min(), g.coords[:, 1].min(), g.coords[:, 0].max(), g.coords[:, 1].max())
        pts = np.column_stack(
            [rng.uniform(b[0], b[2], 400), rng.uniform(b[1], b[3], 400)]
        )
        inside = pts[points_in_packed(pts, g)]
        for tz, zg in zones.items():
            on_land = points_in_packed(inside, zg)
            assert not on_land.any(), (r.tzid, tz, inside[on_land][:3])


def test_validation_passes_on_valid_world(spark, zones_df):
    expected = spark.createDataFrame(expected_overlaps_pdf())
    assert_valid(spark, zones_df, expected)  # must not raise


def test_validation_fails_on_unlisted_overlap(spark):
    zc = spark.createDataFrame(zones_config_pdf(include_invalid_overlap=True))
    src = spark.createDataFrame(sources_pdf())
    zones = build_zones(spark, zc, src)
    expected = spark.createDataFrame(expected_overlaps_pdf())
    out = validate_overlaps(spark, zones, expected).toPandas()
    bad = out[~out.allowed]
    assert len(bad) == 1
    assert {bad.iloc[0].tz_a, bad.iloc[0].tz_b} == {"Test/Bravo", "Test/Juliett"}
    with pytest.raises(ValueError, match="Zone validation unsuccessful"):
        assert_valid(spark, zones, expected)


def test_validation_writes_debug_artifacts(spark, tmp_path):
    """Reference index.js:1159-1171: each failing pair's disallowed
    overlap polygons land in a {tzA}-{tzB}-overlap.json FeatureCollection
    for human review; the overlap here is Bravo x Juliett's 5x10 strip."""
    from timezone_boundary_builder_spark.geom.kernels import planar_area

    zc = spark.createDataFrame(zones_config_pdf(include_invalid_overlap=True))
    zones = build_zones(spark, zc, spark.createDataFrame(sources_pdf()))
    expected = spark.createDataFrame(expected_overlaps_pdf())
    dbg = str(tmp_path / "vdbg")
    with pytest.raises(ValueError, match="Zone validation unsuccessful"):
        assert_valid(spark, zones, expected, debug_dir=dbg)
    files = os.listdir(dbg)
    assert files == ["Test-Bravo-Test-Juliett-overlap.json"]
    fc = json.load(open(os.path.join(dbg, files[0])))
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 1
    g = from_geojson(json.dumps(fc["features"][0]["geometry"]))
    assert planar_area(g) == pytest.approx(50.0)  # 5 x 10 strip


def test_difference_reverse_order_op(spark):
    """The one op kind unused by the current reference config but
    implemented by its interpreter (index.js:840-841): new-source MINUS
    accumulated geometry. Driven through the full Spark build path."""
    from timezone_boundary_builder_spark.sources.fixtures import _box_gj

    cfg = pd.DataFrame(
        [
            {
                "tzid": "Test/Rev", "op_seq": 0, "op": "init",
                "source": "manual-polygon", "source_id": None,
                "geometry": _box_gj(0, 0, 10, 10), "description": "inner",
            },
            {
                "tzid": "Test/Rev", "op_seq": 1,
                "op": "difference-reverse-order",
                "source": "manual-polygon", "source_id": None,
                "geometry": _box_gj(-10, -10, 20, 20),
                "description": "outer minus accumulated",
            },
        ]
    )
    src = spark.createDataFrame(sources_pdf())
    z = build_zones(spark, spark.createDataFrame(cfg), src).toPandas()
    assert len(z) == 1
    assert z.iloc[0].area_deg2 == pytest.approx(900 - 100)
    g = from_geojson(z.iloc[0].geometry)
    assert not points_in_packed(np.array([[5.0, 5.0]]), g).any()  # hole
    assert points_in_packed(np.array([[-5.0, -5.0]]), g).any()


def test_derived_zones(spark, zones_df):
    groups = spark.createDataFrame(zone_groups_pdf())
    z70 = build_derived_zones(spark, zones_df, groups, "1970").toPandas()
    # Alpha absorbs Hotel; Hotel disappears as its own zone
    assert "Test/Hotel" not in set(z70.tzid)
    by = z70.set_index("tzid")
    # merged area = alpha + hotel - shared disputed overlap (they share it)
    assert by.loc["Test/Alpha"].area_deg2 == pytest.approx(950 + 650 - 100)
    # ungrouped zones pass through
    assert "Test/Golf" in set(z70.tzid)


def test_release_diff(spark, zones_df):
    # simulate last release: drop Golf, remove Bravo's exclave
    cfg = zones_config_pdf()
    cfg = cfg[~((cfg.tzid == "Test/Golf"))]
    cfg = cfg[~((cfg.tzid == "Test/Bravo") & (cfg.op == "union"))]
    last = build_zones(
        spark, spark.createDataFrame(cfg), spark.createDataFrame(sources_pdf())
    )
    diff = release_diff(spark, zones_df, last).toPandas()
    d = {(r.tzid, r.change): r.area_deg2 for r in diff.itertuples()}
    assert d[("Test/Golf", "addition")] == pytest.approx(375.0)
    assert d[("Test/Bravo", "addition")] == pytest.approx(25.0)
    assert not [k for k in d if k[1] == "removal"]
    # identical inputs -> empty diff (hash short-circuit)
    assert release_diff(spark, zones_df, zones_df).count() == 0


def test_combined_outputs(spark, zones_df, tmp_path):
    groups = spark.createDataFrame(zone_groups_pdf())
    bands = spark.createDataFrame(pd.DataFrame(OCEAN_BANDS))
    oceans = build_ocean_zones(spark, bands, zones_df)
    products = {
        "comprehensive": zones_df,
        "1970": build_derived_zones(spark, zones_df, groups, "1970"),
        "now": build_derived_zones(spark, zones_df, groups, "now"),
    }
    out = str(tmp_path / "dist")
    counts = combine_and_write(products, oceans, out)
    assert counts["comprehensive.geojson"] == 8
    assert counts["comprehensive-with-oceans.geojson"] == 12
    assert counts["1970.geojson"] == 7  # hotel merged away
    fc = json.load(open(os.path.join(out, "comprehensive.geojson")))
    assert fc["type"] == "FeatureCollection"
    f0 = fc["features"][0]
    assert set(f0.keys()) == {"type", "properties", "geometry"}
    assert set(f0["properties"].keys()) == {"tzid"}
    # reference name-list semantics (writeBaseNames, index.js:1708-1724):
    # the base file has NO oceans; the with-oceans file appends them
    names = json.load(open(os.path.join(out, "timezone-names.json")))
    assert "Test/Alpha" in names
    assert not any(n.startswith("Etc/GMT") for n in names)
    with_oc = json.load(open(os.path.join(out, "timezone-names-with-oceans.json")))
    assert with_oc[: len(names)] == names and "Etc/GMT+9" in with_oc
    write_zone_lookup(groups, "1970", os.path.join(out, "lookup-1970.json"))
    lookup = json.load(open(os.path.join(out, "lookup-1970.json")))
    assert lookup["Test/Hotel"] == "Test/Alpha"


def test_feature_emission_order(spark, zones_df, tmp_path):
    """Reference combineAndWriteZones (index.js:1319-1376) streams land
    zones in Object.keys(zoneCfg) order and APPENDS ocean features after
    them — never interleaved, even though Etc/* sorts before Test/*."""
    groups = spark.createDataFrame(zone_groups_pdf())
    bands = spark.createDataFrame(pd.DataFrame(OCEAN_BANDS))
    oceans = build_ocean_zones(spark, bands, zones_df)
    products = {"comprehensive": zones_df}
    # deliberately non-sorted config order, with one tzid (Golf) omitted
    # to exercise the sorted-tail fallback for unranked tzids
    cfg_order = [
        "Test/Hotel", "Test/Alpha", "Test/Echo", "Test/Bravo",
        "Test/Charlie", "Test/Delta", "Test/Foxtrot",
    ]
    ocean_order = [b["tzid"] for b in OCEAN_BANDS]
    out = str(tmp_path / "dist-order")
    combine_and_write(
        products, oceans, out,
        base_name_order=cfg_order, ocean_name_order=ocean_order,
    )
    fc = json.load(open(os.path.join(out, "comprehensive.geojson")))
    land = [f["properties"]["tzid"] for f in fc["features"]]
    assert land == cfg_order + ["Test/Golf"]  # unranked appends sorted
    fc = json.load(open(os.path.join(out, "comprehensive-with-oceans.geojson")))
    combined = [f["properties"]["tzid"] for f in fc["features"]]
    # ranked land in config order, oceans after, unranked (Golf) in the
    # sorted tail — every real build ranks all land tzids, so the only
    # reference-semantics assertion that matters is land-ordered +
    # oceans-appended for the ranked set
    assert [t for t in combined if t in cfg_order] == cfg_order
    assert [t for t in combined if t in ocean_order] == ocean_order
    assert combined.index(ocean_order[0]) > combined.index(cfg_order[-1])


def test_derived_with_oceans_absorbs_member_band(spark, zones_df, tmp_path):
    """Reference makeDerivedTimezoneBoundariesWithOceans + hasAlikeInNow
    (index.js:941-1009, 1206-1216, 1367-1374): the Etc/GMT+9 ocean is a
    member of Foxtrot's 'now' group, so the now-with-oceans product unions
    its computed ocean boundary into the Foxtrot rep and drops the
    standalone Etc/GMT+9 feature."""
    from timezone_boundary_builder_spark.geom.kernels import planar_area
    from timezone_boundary_builder_spark.operators.derived import (
        build_derived_zones_with_oceans,
        ocean_member_tzids,
    )

    groups = spark.createDataFrame(zone_groups_pdf())
    bands = spark.createDataFrame(pd.DataFrame(OCEAN_BANDS))
    oceans = build_ocean_zones(spark, bands, zones_df)
    products = {
        "comprehensive": zones_df,
        "1970": build_derived_zones(spark, zones_df, groups, "1970"),
        "now": build_derived_zones(spark, zones_df, groups, "now"),
    }
    with_oceans = {
        s: build_derived_zones_with_oceans(spark, products[s], oceans, groups, s)
        for s in ("1970", "now")
    }
    skip = {s: ocean_member_tzids(groups, s) for s in ("1970", "now")}

    # closed form: Foxtrot (2 x 10x20 = 400 deg2, antimeridian pair) union
    # the GMT+9 ocean (90x180 band minus Foxtrot-west = 16000 deg2); the
    # east half (170..180) lies outside the band -> 16400 exactly
    now_oc = {r.tzid: r.geometry for r in with_oceans["now"].collect()}
    fox = planar_area(from_geojson(now_oc["Test/Foxtrot"]))
    assert fox == pytest.approx(16400.0)
    # reps without ocean members pass through untouched
    assert planar_area(from_geojson(now_oc["Test/Golf"])) == pytest.approx(375.0)
    # 1970 has no ocean members: with-oceans base equals the derived set
    assert with_oceans["1970"].count() == products["1970"].count()

    out = str(tmp_path / "dist-oc")
    counts = combine_and_write(
        products, oceans, out,
        with_oceans_products=with_oceans, ocean_skip=skip,
    )
    assert counts["now-with-oceans.geojson"] == 6 + 3  # GMT+9 skipped
    assert counts["1970-with-oceans.geojson"] == 7 + 4
    assert counts["comprehensive-with-oceans.geojson"] == 8 + 4
    fc = json.load(open(os.path.join(out, "now-with-oceans.geojson")))
    tzids = {f["properties"]["tzid"] for f in fc["features"]}
    assert "Etc/GMT+9" not in tzids and "Etc/GMT+3" in tzids
    fc70 = json.load(open(os.path.join(out, "1970-with-oceans.geojson")))
    assert "Etc/GMT+9" in {f["properties"]["tzid"] for f in fc70["features"]}

    # reference-shaped lookup maps (writeCombinedZoneLookup,
    # index.js:1726-1743): rep -> members; no-oceans variant drops Etc/GMT
    from timezone_boundary_builder_spark.operators.outputs import (
        write_combined_zone_lookup,
    )

    write_combined_zone_lookup(groups, "now", out)
    full = json.load(open(os.path.join(out, "timezone-names-with-oceans-now.json")))
    assert full["Test/Foxtrot"] == ["Etc/GMT+9", "Test/Foxtrot"]
    no_oc = json.load(open(os.path.join(out, "timezone-names-now.json")))
    assert no_oc["Test/Foxtrot"] == ["Test/Foxtrot"]

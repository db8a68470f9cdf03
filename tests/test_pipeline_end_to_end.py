"""End-to-end slice (SURVEY.md §7 step 3): synthetic world -> build zones
(op fold) -> cell cover -> broadcast map -> geocode pages -> two-stage
spatial join -> tzid per url; assignments must equal the brute-force
all-polygons PIP oracle row-for-row, `text` bytes preserved per url."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from tests._kernel_ref import min_distance_to_boundary_m, points_in_packed
from timezone_boundary_builder_spark.geom.codec import from_geojson
from timezone_boundary_builder_spark.geom.kernels import planar_area
from timezone_boundary_builder_spark.operators.cover import (
    build_cell_covers,
    collect_cell_map,
)
from timezone_boundary_builder_spark.operators.geocode import with_coordinates
from timezone_boundary_builder_spark.operators.spatial_join import (
    KNN_MAX_METERS,
    assign_tzid_udf_packed,
    pack_coords_col,
    unpack_xy,
)
from timezone_boundary_builder_spark.operators.zone_build import build_zones
from timezone_boundary_builder_spark.sources.fixtures import (
    OCEAN_BANDS,
    sources_pdf,
    synthetic_pages,
    zones_config_pdf,
)


@pytest.fixture(scope="module")
def zones_df(spark):
    zc = spark.createDataFrame(zones_config_pdf())
    src = spark.createDataFrame(sources_pdf())
    return build_zones(spark, zc, src).cache()


@pytest.fixture(scope="module")
def zones_pdf(zones_df):
    return zones_df.toPandas().sort_values("tzid").reset_index(drop=True)


def test_zone_build_areas(zones_pdf):
    by = {r.tzid: r for r in zones_pdf.itertuples()}
    assert by["Test/Alpha"].area_deg2 == pytest.approx(900 + 100 - 50)  # union overlap part
    assert by["Test/Hotel"].area_deg2 == pytest.approx(600 + 100 - 50)
    assert by["Test/Bravo"].area_deg2 == pytest.approx(900 + 25)
    assert by["Test/Charlie"].area_deg2 == pytest.approx(40 * 30 - 100)
    assert by["Test/Delta"].area_deg2 == pytest.approx(20 * 30)
    # echo: (40x30 + 10x30) - hole(3x20) then clip x<=-11 removes 1x30 strip
    assert by["Test/Echo"].area_deg2 == pytest.approx(1200 + 300 - 60 - 30)
    assert by["Test/Foxtrot"].area_deg2 == pytest.approx(2 * 10 * 20)
    assert by["Test/Golf"].area_deg2 == pytest.approx(0.5 * 30 * 25)


def _brute_force_oracle(pages: pd.DataFrame, zones_pdf: pd.DataFrame):
    """Reference-free oracle: exact PIP against every zone (smallest tzid
    wins), kNN <= 1852 m, else ocean band by longitude."""
    geoms = {r.tzid: from_geojson(r.geometry) for r in zones_pdf.itertuples()}
    out = []
    for r in pages.itertuples():
        if pd.isna(r.lat) or pd.isna(r.lon):
            out.append(None)
            continue
        pt = np.array([[r.lon, r.lat]])
        tz = None
        for tzid in sorted(geoms):
            if points_in_packed(pt, geoms[tzid])[0]:
                tz = tzid
                break
        if tz is None:
            best_d, best_tz = np.inf, None
            for tzid in sorted(geoms):
                d = min_distance_to_boundary_m(pt, geoms[tzid])[0]
                if d < best_d - 1e-9:
                    best_d, best_tz = d, tzid
            if best_d <= KNN_MAX_METERS:
                tz = best_tz
            else:
                for b in OCEAN_BANDS:
                    if b["left"] <= r.lon <= b["right"]:
                        tz = b["tzid"]
                        break
        out.append(tz)
    return out


def test_two_stage_join_matches_brute_force(spark, zones_df, zones_pdf):
    pages_pdf = synthetic_pages(n=1500, seed=42)
    pages = spark.createDataFrame(pages_pdf.drop(columns=["kind"]))
    covers = build_cell_covers(zones_df, max_res=7)
    cm = collect_cell_map(covers, zones_df)
    bc = spark.sparkContext.broadcast(cm)

    pts = with_coordinates(pages).select("url", pack_coords_col())
    got = (
        assign_tzid_udf_packed(pts, bc, OCEAN_BANDS)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )

    # the oracle gets the coordinates the surface resolves: the packed
    # 1e-6 grid value, decoded
    packed = pts.toPandas().sort_values("url").reset_index(drop=True)
    lon, lat = unpack_xy(packed["xy"].to_numpy())
    got["lon"], got["lat"] = lon, lat
    assert (packed["url"] == got["url"]).all()
    expect = _brute_force_oracle(got[["url", "lon", "lat"]], zones_pdf)
    mismatches = [
        (got.url[i], got.lon[i], got.lat[i], got.tzid[i], expect[i], got.method[i])
        for i in range(len(got))
        if got.tzid[i] != expect[i]
    ]
    assert not mismatches, f"{len(mismatches)} mismatches, first 10: {mismatches[:10]}"

    # methods behave: some of each kind must occur on this distribution
    counts = got.method.value_counts().to_dict()
    assert counts.get("cell", 0) > 0, counts
    assert counts.get("pip", 0) > 0, counts
    assert counts.get("knn", 0) > 0, counts
    assert counts.get("ocean", 0) > 0, counts
    assert counts.get("none", 0) > 0, counts


def test_text_bytes_preserved(spark):
    """Per-row invariant (BASELINE.json input_hint): byte-identical `text`
    per url through the geocode stage."""
    pages_pdf = synthetic_pages(n=300, seed=7)
    pages = spark.createDataFrame(pages_pdf.drop(columns=["kind"]))
    out = with_coordinates(pages).select("url", "text").toPandas()
    before = {r.url: hashlib.sha256(r.text.encode()).hexdigest() for r in pages_pdf.itertuples()}
    after = {r.url: hashlib.sha256(r.text.encode()).hexdigest() for r in out.itertuples()}
    assert before == after


def test_urban_skew_present():
    """The generator must produce the skewed hotspot that the salting path
    is designed for (FIXTURES.md §1)."""
    pages = synthetic_pages(n=2000, seed=42)
    assert (pages.kind == "urban").mean() >= 0.25


def test_packed_surface_equals_assign_codes(spark, zones_df):
    """The assignment surface (codes over the Arrow pipe, strings
    materialized JVM-side) must match the numpy assign_codes kernel on
    the decoded grid coordinates row-for-row — including nulls (method
    'none'), kNN and ocean fallbacks."""
    from tests._kernel_ref import kernel_assign

    pages_pdf = synthetic_pages(n=1500, seed=42)
    pages = spark.createDataFrame(pages_pdf.drop(columns=["kind"]))
    covers = build_cell_covers(zones_df, max_res=7)
    cm = collect_cell_map(covers, zones_df)
    bc = spark.sparkContext.broadcast(cm)
    pts = with_coordinates(pages).select("url", pack_coords_col())
    got = (
        assign_tzid_udf_packed(pts, bc, OCEAN_BANDS)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    ref = kernel_assign(cm, OCEAN_BANDS, pts.toPandas())
    pd.testing.assert_frame_equal(got, ref)
    assert {"cell", "knn", "ocean", "none"} <= set(got["method"])


def test_geocode_separator_strictness(spark):
    """Each format pairs its own separator/terminator (ADVICE round 1):
    'geo:' takes ',' only, '@(' requires the closing ')', meta tags take
    [;,] and require the closing quote. Cross-format separators and
    unterminated forms must NOT parse."""
    cases = [
        # (text, expect_lat, expect_lon) — None means "must not parse"
        ("x geo:12.5,-34.1 y", 12.5, -34.1),
        ("x @(12, 34) y", 12.0, 34.0),
        ('<meta name="geo.position" content="12;34"> b', 12.0, 34.0),
        ('<META name="ICBM" content="12, 34"> b', 12.0, 34.0),
        ("x geo:12;34 y", None, None),        # geo: with ';' — rejected
        ("x @(12;34 y", None, None),          # '@(' with ';' — rejected
        ("x @(12, 34 y", None, None),         # unterminated '@(' — rejected
        ('<meta name="geo.position" content="12;34 b', None, None),  # no closing quote
        ("no coordinates here", None, None),
    ]
    pages = spark.createDataFrame(
        [(str(i), t) for i, (t, _, _) in enumerate(cases)], ["url", "text"]
    )
    got = {
        r["url"]: (r["lat"], r["lon"])
        for r in with_coordinates(pages).collect()
    }
    for i, (t, lat, lon) in enumerate(cases):
        assert got[str(i)] == (lat, lon), (t, got[str(i)], (lat, lon))


def test_sample_hash_fraction_edges(spark):
    """frac >= 1 keeps every row, frac <= 0 keeps none (the lexicographic
    hex-threshold compare is only valid strictly inside (0, 1))."""
    from timezone_boundary_builder_spark.operators.sampling import sample_hash_fraction

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    assert sample_hash_fraction(df, "doc_id", 1.0).count() == 500
    assert sample_hash_fraction(df, "doc_id", 1.5).count() == 500
    assert sample_hash_fraction(df, "doc_id", 0.0).count() == 0
    mid = sample_hash_fraction(df, "doc_id", 0.5).count()
    assert 175 <= mid <= 325, mid

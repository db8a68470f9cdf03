"""The REAL reference configs driving Part A (round-2 gate; VERDICT.md
"What's missing" #1): real timezones.json op lists, real 411-source
table, real 34 allowed-overlap bboxes, deterministic synthetic
geometries (sources/real_config.py placement rules)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from timezone_boundary_builder_spark.sources.real_config import (
    REF_DIR,
    _intersects,
    real_expected_overlaps_pdf,
    real_ocean_bands_pdf,
    real_sources_pdf,
    real_zones_config_pdf,
    split_pair_key,
)


def test_config_counts_match_raw_json():
    zc = real_zones_config_pdf()
    real = zc[~zc.planted]
    assert real.op.value_counts().to_dict() == {
        "init": 419,
        "union": 12,
        "difference": 9,
        "intersect": 1,
    }
    assert zc.tzid.nunique() == 419
    assert len(real_sources_pdf()) == 411
    assert len(real_expected_overlaps_pdf()) == 34
    assert zc.planted.sum() == 50  # 25 pairs x 2 zones


def test_placements_collision_free():
    """Gridded source boxes must be pairwise disjoint and clear of every
    real-coordinate reserved bbox (manual polygons + allowed bounds),
    EXCEPT the engineered containments (diff-children inside parents,
    shared union sources inside their pair's bounds, init boxes around
    their later manual ops)."""
    src = real_sources_pdf()
    boxes = {}
    for r in src.itertuples():
        coords = json.loads(r.geometry)["coordinates"][0]
        xs = [p[0] for p in coords]
        ys = [p[1] for p in coords]
        boxes[r.source_id] = (min(xs), min(ys), max(xs), max(ys))

    tz = json.load(open(f"{REF_DIR}/timezones.json"))
    # engineered relationships: child nested in parent; everything else
    # with overlapping boxes is a bug
    nested = set()
    special = set()
    for z, ops in tz.items():
        if ops[0]["source"] != "overpass":
            continue
        for o in ops[1:]:
            if o["source"] == "overpass" and o["op"] == "difference":
                nested.add((ops[0]["id"], o["id"]))
            if o["source"] == "manual-polygon" and o["op"] in (
                "difference",
                "intersect",
            ):
                special.add(ops[0]["id"])
    union_users = {}
    for z, ops in tz.items():
        for o in ops[1:]:
            if o["source"] == "overpass" and o["op"] == "union":
                union_users.setdefault(o["id"], []).append(z)
    shared = {sid for sid, u in union_users.items() if len(u) >= 2}
    exempt = special | shared | {c for _, c in nested} | {p for p, _ in nested}

    ids = sorted(boxes)
    clashes = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _intersects(boxes[a], boxes[b])
        and not ({a, b} & exempt)
    ]
    assert not clashes, clashes[:5]

    # nested children really are inside their parents
    for parent, child in nested:
        p, c = boxes[parent], boxes[child]
        assert p[0] < c[0] and p[1] < c[1] and c[2] < p[2] and c[3] < p[3], (
            parent,
            child,
        )


@pytest.fixture(scope="module")
def real_zones(spark):
    from timezone_boundary_builder_spark.operators.zone_build import build_zones

    zc = spark.createDataFrame(real_zones_config_pdf()).drop("planted")
    src = spark.createDataFrame(real_sources_pdf())
    z = build_zones(spark, zc, src).cache()
    z.count()
    yield z
    z.unpersist()


def test_real_build_zone_semantics(spark, real_zones):
    rows = {r.tzid: r for r in real_zones.collect()}
    assert len(rows) == 419
    assert all(r.area_deg2 > 0 for r in rows.values())
    # the intersect op: Macquarie is exactly the manual triangle
    mq = rows["Antarctica/Macquarie"]
    assert mq.area_deg2 == pytest.approx(9.0)
    assert (mq.min_x, mq.min_y, mq.max_x, mq.max_y) == (156.0, -56.0, 162.0, -53.0)
    # the global southern-cap difference: Auckland is cut at 59S exactly
    assert rows["Pacific/Auckland"].min_y == pytest.approx(-59.0)
    # difference-by-source: Moscow is disjoint from all three subtracted
    # zones (checked via their boxes falling inside Moscow's hole)
    from timezone_boundary_builder_spark.geom.boolean import intersection
    from timezone_boundary_builder_spark.geom.codec import from_geojson
    from timezone_boundary_builder_spark.geom.kernels import planar_area
    from timezone_boundary_builder_spark.operators.validate import (
        MIN_SIGNIFICANT_DEG2,
    )

    # disjoint up to the validation significance threshold — the 1e-6
    # snap grid leaves O(1e-8 deg2) slivers along shared borders, which
    # the reference ignores the same way (index.js:1092)
    moscow = from_geojson(rows["Europe/Moscow"].geometry)
    for sub in ("Europe/Simferopol", "Europe/Kirov", "Europe/Volgograd"):
        inter = intersection(moscow, from_geojson(rows[sub].geometry))
        assert planar_area(inter) < MIN_SIGNIFICANT_DEG2, sub
    # the Phenix-City patch: subtracted from Chicago, unioned into NY
    chig = from_geojson(rows["America/Chicago"].geometry)
    ny = from_geojson(rows["America/New_York"].geometry)
    inter = intersection(chig, ny)
    assert planar_area(inter) < MIN_SIGNIFICANT_DEG2


def test_real_validation_pairs_exact(spark, real_zones):
    from timezone_boundary_builder_spark.operators.validate import validate_overlaps

    exp_pdf = real_expected_overlaps_pdf()
    v = validate_overlaps(
        spark, real_zones, spark.createDataFrame(exp_pdf)
    ).collect()
    got = {(r.tz_a, r.tz_b) for r in v}
    want = {
        tuple(sorted((a, b)))
        for a, b in exp_pdf[["tz_a", "tz_b"]].drop_duplicates().itertuples(index=False)
    }
    assert got == want
    assert all(r.allowed for r in v)


def test_pair_key_split_handles_hyphenated_zones():
    zone_ids = {"Africa/Ouagadougou", "Africa/Porto-Novo"}
    assert split_pair_key("Africa/Ouagadougou-Africa/Porto-Novo", zone_ids) == (
        "Africa/Ouagadougou",
        "Africa/Porto-Novo",
    )


def test_missing_reference_file_names_the_setting(tmp_path):
    """Without the reference data the loader fails with one clear error:
    which file is missing, where it looked and which setting points it
    elsewhere."""
    with pytest.raises(FileNotFoundError) as e:
        real_sources_pdf(str(tmp_path))
    msg = str(e.value)
    assert "TZBB_REFERENCE_DIR" in msg
    assert str(tmp_path / "timezones.json") in msg


def test_real_ocean_bands_match_reference_table():
    """Content-equal to the reference's hard-coded table
    (index.js:107-133): 25 bands, 15 degrees each except the two
    half-width dateline bands, covering [-180, 180] exactly."""
    b = real_ocean_bands_pdf().sort_values("left").reset_index(drop=True)
    assert len(b) == 25
    assert b.left.iloc[0] == -180.0 and b.right.iloc[24] == 180.0
    assert (b.right.values[:-1] == b.left.values[1:]).all()
    assert b.tzid.iloc[0] == "Etc/GMT+12" and b.tzid.iloc[24] == "Etc/GMT-12"
    assert list(b[b.tzid == "Etc/GMT"][["left", "right"]].iloc[0]) == [-7.5, 7.5]
    widths = (b.right - b.left).round(6)
    assert (widths.iloc[1:-1] == 15.0).all() and widths.iloc[0] == 7.5

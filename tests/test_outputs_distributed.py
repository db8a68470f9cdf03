"""FeatureCollection sink and name-list byte parity with the reference
writer, and JS number formatting of -0 coordinates."""

import json

from timezone_boundary_builder_spark.operators.outputs import write_feature_collection


GOLDEN = "tests/goldens/fixture_world.feature_collection.geojson"


def _golden_bytes():
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, GOLDEN), "rb") as f:
        return f.read()


def test_negative_zero_coordinate_sinks_agree(spark, tmp_path):
    """-0.0 coordinates: JSON.stringify(-0) is "0"; the sink must emit
    "0", not Python's "-0"."""
    import pandas as pd

    gj = json.dumps(
        {
            "type": "Polygon",
            "coordinates": [[[-0.0, 0.0], [1.0, 0.0], [1.0, 1.5], [-0.0, 1.5], [-0.0, 0.0]]],
        }
    )
    zones = spark.createDataFrame(pd.DataFrame([{"tzid": "Z/NegZero", "geometry": gj}]))
    out = tmp_path / "fc.geojson"
    write_feature_collection(zones, str(out))
    collected = out.read_text()
    assert "-0" not in collected and "[0,0]" in collected


def test_name_lists_byte_parity_with_reference(tmp_path):
    """Goldens generated in node from the reference's OWN inputs and
    writer semantics (writeBaseNames, index.js:1708-1724):
    JSON.stringify(Object.keys(timezones.json)) for timezone-names.json,
    plus the oceanZones declaration-order tzids (index.js:107-133) for
    the with-oceans variant. write_name_lists must hit those bytes."""
    import os

    from timezone_boundary_builder_spark.operators.outputs import write_name_lists
    from timezone_boundary_builder_spark.sources.real_config import (
        real_ocean_declared_tzids,
        real_zones_config_pdf,
    )

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = list(dict.fromkeys(real_zones_config_pdf()["tzid"]))
    write_name_lists(str(tmp_path), base, real_ocean_declared_tzids())
    for fname, golden in (
        ("timezone-names.json", "real_timezone-names.json"),
        ("timezone-names-with-oceans.json", "real_timezone-names-with-oceans.json"),
    ):
        got = (tmp_path / fname).read_bytes()
        want = open(os.path.join(here, "tests", "goldens", golden), "rb").read()
        assert got == want, fname


def test_feature_collection_byte_parity_with_reference_writer(spark, tmp_path):
    """VERDICT r2 #7: byte-equality golden for the framed product output.
    The golden was generated by running the REFERENCE's own stream writer
    (util/featureWriterStream.js:3-25, loaded verbatim in node) with
    JSON.stringify'd features over the fixture zone table; the sink
    must reproduce its bytes exactly — framing chars, feature schema,
    key order, and JS number formatting (integral coords without '.0')."""
    import __spark_entry__ as entry

    golden = _golden_bytes()
    zones = spark.createDataFrame(entry._local_zones()[["tzid", "geometry"]])

    out = tmp_path / "fc.geojson"
    n = write_feature_collection(zones, str(out))
    assert n == 8
    assert out.read_bytes() == golden

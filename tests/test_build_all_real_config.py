"""Full Part A DAG at the REAL reference shape: `build_all --real-config`
runs lint -> build -> validate -> oceans -> tzdb-computed 1970/now
groupings -> derived products -> combined outputs -> shapefiles on the
actual timezones.json / osmBoundarySources.json / expectedZoneOverlaps
tables (deterministic synthetic geometries). Expected feature counts are
config-derived invariants, independently computable from the raw JSONs
plus the TZif transition tables:

  - 419 zones, 25 ocean bands;
  - 1970 product = 301 zones (the 419 collapse into 301 groups since
    epoch), now product = 82 (82 groups since 2020);
  - with-oceans products add only the bands NOT absorbed into a land
    group (22 of 25 bands are timekeeping-alike some land group since
    1970, 24 of 25 since 2020): 444 / 304 / 83 features.
"""

import json
import os
import zipfile

from tests._jobrunner import run_job

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(work, out, *extra):
    proc = run_job(
        "build_all.py",
        ["--work-dir", work, "--out-dir", out, "--cores", "8",
         "--real-config", *extra],
        timeout=560,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_real_config_full_dag(tmp_path):
    work = str(tmp_path / "work")
    out = str(tmp_path / "dist")
    r = _run(work, out, "--skip-zip")

    assert r["stages"]["lint"] == {"errors": 0}
    assert r["stages"]["assemble"] == {"skipped": True, "rows": 411}
    assert r["stages"]["zones"]["rows"] == 419
    assert r["stages"]["validate"] == {"ok": True}
    assert r["stages"]["oceans"]["rows"] == 25
    # groupings: one member row per (strategy, tzid-in-a-kept-group);
    # 1970 keeps 419 land + 22 absorbed bands, now keeps 419 + 24
    assert r["stages"]["real_groups"]["rows"] == (419 + 22) + (419 + 24)
    assert r["stages"]["derived_1970"]["rows"] == 301
    assert r["stages"]["derived_now"]["rows"] == 82
    assert r["stages"]["derived_1970_oceans"]["rows"] == 301
    assert r["stages"]["derived_now_oceans"]["rows"] == 82

    outs = r["stages"]["outputs"]
    assert outs["comprehensive.geojson"] == 419
    assert outs["comprehensive-with-oceans.geojson"] == 444
    assert outs["1970.geojson"] == 301
    assert outs["1970-with-oceans.geojson"] == 304
    assert outs["now.geojson"] == 82
    assert outs["now-with-oceans.geojson"] == 83
    assert "combined-osm-zones.geojson" not in outs  # no raw downloads

    shp = r["stages"]["shapefiles"]
    assert shp["timezones.shapefile.zip"] == 419
    assert shp["timezones-with-oceans.shapefile.zip"] == 444
    assert shp["timezones-now.shapefile.zip"] == 82

    # spot-check artifacts: every real tzid present exactly once in the
    # comprehensive collection; known real groupings visible in lookups
    fc = json.load(open(os.path.join(out, "comprehensive.geojson")))
    tzids = [f["properties"]["tzid"] for f in fc["features"]]
    assert len(tzids) == len(set(tzids)) == 419
    assert "America/New_York" in tzids and "Etc/UTC" in tzids

    lookup = json.load(open(os.path.join(out, "lookup-now.json")))  # member -> rep
    # Cancun's group absorbed Etc/GMT+5 after it dropped DST in 2015
    # (real tzdb), and the representative is land, never a band
    assert lookup["Etc/GMT+5"] == lookup["America/Cancun"]
    assert not lookup["Etc/GMT+5"].startswith("Etc/")
    # London/Dublin/Lisbon share timekeeping under current rules
    assert (
        lookup["Europe/London"]
        == lookup["Europe/Dublin"]
        == lookup["Europe/Lisbon"]
    )

    with zipfile.ZipFile(os.path.join(out, "timezones.shapefile.zip")) as zf:
        dbf = zf.read("combined-shapefile.dbf")
    assert b"America/New_York" in dbf

    # Part B serving leg: the published comprehensive.parquet artifact
    # feeds assign_pages directly (--zones-parquet + real ocean bands) —
    # the full reference workflow wired into the 10^12-row hot path
    import duckdb

    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages
    from timezone_boundary_builder_spark.sources.real_config import (
        real_ocean_bands_pdf,
        real_zones_config_pdf,
    )
    from timezone_boundary_builder_spark.session import get_spark

    spark = get_spark(
        app_name="tzbb-realcfg-pages",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    pages_root = str(tmp_path / "pages_tbl")
    pdf = synthetic_pages(n=400, seed=11).drop(columns=["kind"])
    pt.commit_append(pages_root, spark.createDataFrame(pdf))

    ar = run_job(
        "assign_pages.py",
        ["--pages-root", pages_root,
         "--work-dir", str(tmp_path / "aw"),
         "--out-dir", str(tmp_path / "ao"),
         "--cores", "8",
         "--zones-parquet", os.path.join(out, "comprehensive.parquet"),
         "--ocean-bands", "real",
         "--cover-res", "8"],
        timeout=560,
    )
    assert ar.returncode == 0, ar.stderr[-3000:]
    res = json.loads(ar.stdout.strip().splitlines()[-1])
    assert res["rows"] == 400 and res["text_invariant_ok"] is True
    # every assignment is a real tzid or a real ocean band
    valid = set(real_zones_config_pdf().tzid.unique()) | set(
        real_ocean_bands_pdf().tzid
    )
    got = duckdb.sql(
        f"SELECT DISTINCT tzid FROM '{tmp_path}/ao/assigned_pages/*.parquet' "
        "WHERE tzid IS NOT NULL"
    ).df()["tzid"]
    assert set(got) <= valid and len(got) > 5, sorted(got)[:10]
    assert "ocean" in res["methods"] and (
        "cell" in res["methods"] or "pip" in res["methods"]
    )

    # resume: a second run must hit every checkpointed stage
    r2 = _run(work, out, "--skip-zip")
    for stage in (
        "zones",
        "oceans",
        "real_groups",
        "derived_1970",
        "derived_now",
        "derived_1970_oceans",
        "derived_now_oceans",
    ):
        assert r2["stages"][stage]["cached"] is True, (stage, r2["stages"][stage])

"""Full Part A pipeline job — the engine's `node index.js` equivalent
(reference autoScript DAG, index.js:1745-1937), checkpoint-resumable.

Launch (production shape per the north_rule):

    cd /root/repo && zip -qr /tmp/engine.zip timezone_boundary_builder_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/build_all.py --work-dir /tmp/tzb-work --out-dir /tmp/tzb-dist

Stage DAG (each stage = content-fingerprinted parquet checkpoint; rerun
skips stages whose fingerprint matches and whose output hash re-verifies —
the reference's FileLookupCache contract, util/cache.js:74-128):

    assemble (S2 way->ring ingest) -> build_zones -> validate -> oceans
      -> derived_1970/now -> outputs
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--work-dir", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--cores", type=int, default=8)
    # R13: CLI zone pruning (reference --included_zones / --excluded_zones,
    # index.js:264-323); comma-separated tzids
    p.add_argument("--included-zones", default="")
    p.add_argument("--excluded-zones", default="")
    # reference CLI parity (index.js:36-96): --skip_1970_zones,
    # --skip_now_zones, --skip_validation, --skip_zip
    p.add_argument("--skip-1970-zones", action="store_true")
    p.add_argument("--skip-now-zones", action="store_true")
    p.add_argument("--skip-validation", action="store_true")
    p.add_argument("--skip-zip", action="store_true")
    p.add_argument("--skip-shapefiles", action="store_true")
    # run the DAG on the REAL reference configs (timezones.json /
    # osmBoundarySources.json / expectedZoneOverlaps.json, deterministic
    # synthetic geometries) with tzdb-computed 1970/now groupings
    p.add_argument("--real-config", action="store_true")
    # analyzeChangesFromLastRelease (index.js:1541-1657): path to a prior
    # run's out-dir; additions/removals beyond the significance threshold
    # land in release-changes.json
    p.add_argument("--last-release-dir", default="")
    args = p.parse_args(argv)
    included = [z for z in args.included_zones.split(",") if z]
    excluded = [z for z in args.excluded_zones.split(",") if z]

    import pandas as pd

    from timezone_boundary_builder_spark.operators.derived import (
        build_derived_zones,
        build_derived_zones_with_oceans,
        ocean_member_tzids,
    )
    from timezone_boundary_builder_spark.operators.oceans import build_ocean_zones
    from timezone_boundary_builder_spark.operators.outputs import (
        combine_and_write,
        write_combined_zone_lookup,
        write_zone_lookup,
    )
    from timezone_boundary_builder_spark.operators.validate import assert_valid
    from timezone_boundary_builder_spark.operators.zone_build import build_zones
    from timezone_boundary_builder_spark.plans.manifests import (
        StageManifest,
        fingerprint,
    )
    from timezone_boundary_builder_spark.sources.fixtures import (
        OCEAN_BANDS,
        expected_overlaps_pdf,
        sources_pdf,
        zone_groups_pdf,
        zones_config_pdf,
    )

    from timezone_boundary_builder_spark.session import get_spark

    spark = get_spark("tzbb-build-all", cores=args.cores)

    t0 = time.time()
    manifest = StageManifest(args.work_dir)
    if args.real_config:
        # run the whole DAG at the REAL reference shape: the actual
        # timezones.json op lists (planted overlap patches included so all
        # 25 expectedZoneOverlaps pairs are observed), 411 sources, real
        # 25-band ocean table, and tzdb-computed zone groupings
        from timezone_boundary_builder_spark.sources.real_config import (
            real_expected_overlaps_pdf,
            real_ocean_bands_pdf,
            real_sources_pdf,
            real_zones_config_pdf,
        )

        cfg_pdf = real_zones_config_pdf().drop(columns=["planted"])
        src_pdf = real_sources_pdf()
        exp_pdf = real_expected_overlaps_pdf()
        ocean_bands = real_ocean_bands_pdf().to_dict("records")
        from timezone_boundary_builder_spark.sources.real_config import (
            real_ocean_declared_tzids,
        )

        ocean_name_order = real_ocean_declared_tzids()
    else:
        cfg_pdf = zones_config_pdf()
        src_pdf = sources_pdf()
        exp_pdf = expected_overlaps_pdf()
        ocean_bands = OCEAN_BANDS
        ocean_name_order = [b["tzid"] for b in ocean_bands]
    # content fingerprints: config + source geometry hashes, no wall-clock
    # (reference keys zone builds the same way, index.js:806-826)
    cfg_fp = fingerprint("zones_config", cfg_pdf.to_json(orient="records"))
    src_fp = fingerprint("sources", src_pdf.to_json(orient="records"))

    stages = {}

    # progress/ETA tracker (reference util/progressStats.js) — stage-level
    # on Spark: rows are executor business, tracked by lineage accumulators
    from timezone_boundary_builder_spark.plans.progress import ProgressStats

    n_strategies = 2 - int(args.skip_1970_zones) - int(args.skip_now_zones)
    progress = ProgressStats("build-all", 7 + 2 * n_strategies)
    progress.begin_task("lint config")

    # config lint gate — the reference's `npm test` (lint-json.js): abort
    # before any compute when the config tables are inconsistent
    from timezone_boundary_builder_spark.operators.lint import lint_config

    lint_errors = lint_config(
        spark.createDataFrame(cfg_pdf),
        spark.createDataFrame(src_pdf),
        spark.createDataFrame(exp_pdf),
    ).collect()
    if lint_errors:
        for r in lint_errors:
            print(f"lint: {r.kind}: {r.detail}", file=sys.stderr)
        raise SystemExit(f"{len(lint_errors)} config lint errors found")
    stages["lint"] = {"errors": 0}

    # S2 ingest: raw OSM relation ways -> assembled source geometries (the
    # reference gets this from osmtogeojson on Overpass downloads,
    # index.js:504; here the ways are the fixture's decomposed sources)
    from pyspark.sql import functions as F

    from timezone_boundary_builder_spark.operators.ring_assembly import (
        assemble_relations,
    )
    from timezone_boundary_builder_spark.sources.fixtures import (
        source_relation_ways_pdf,
    )

    progress.begin_task("assemble sources", log_time_left=True)
    if args.real_config:
        # real sources are already assembled geometries (the reference
        # would have downloaded them; the fixture decomposition into raw
        # relation ways only exists for the synthetic world)
        sources_assembled = spark.createDataFrame(src_pdf[["source_id", "geometry"]])
        ways_fp = src_fp
        stages["assemble"] = {"skipped": True, "rows": len(src_pdf)}
    else:
        ways_pdf = source_relation_ways_pdf()
        ways_fp = fingerprint("ways", ways_pdf.to_json(orient="records"))
        sources_assembled, cached = manifest.run_stage(
            spark,
            "assemble",
            fingerprint("assemble", ways_fp),
            lambda: assemble_relations(
                spark.createDataFrame(
                    ways_pdf,
                    "relation_id string, way_id long, seq long, coords array<array<double>>",
                )
            ).select(F.col("relation_id").alias("source_id"), "geometry", "area_deg2"),
        )
        stages["assemble"] = {"cached": cached, "rows": sources_assembled.count()}
        # ingest sanity: assembled areas must match the canonical source table
        import numpy as np

        from timezone_boundary_builder_spark.geom.codec import from_geojson as _fg
        from timezone_boundary_builder_spark.geom.kernels import planar_area as _pa

        want = {r.source_id: _pa(_fg(r.geometry)) for r in src_pdf.itertuples()}
        got = {r["source_id"]: r["area_deg2"] for r in sources_assembled.collect()}
        # explicit raise, not assert: this gate must survive python -O /
        # PYTHONOPTIMIZE — a ring-assembly regression flowing silently
        # into zone build produces wrong geometries instead of an abort
        if set(got) != set(want) or not all(
            np.isclose(got[s], want[s]) for s in want
        ):
            raise SystemExit("assembled sources diverge from canonical source table")

    from timezone_boundary_builder_spark.operators.zone_build import (
        apply_zone_filters,
        prune_sources,
    )

    progress.begin_task("build zones", log_time_left=True)
    cfg_df = apply_zone_filters(spark.createDataFrame(cfg_pdf), included, excluded)
    src_df = prune_sources(
        sources_assembled.select("source_id", "geometry"), cfg_df
    )
    zones, cached = manifest.run_stage(
        spark,
        "zones",
        fingerprint(
            "build",
            cfg_fp,
            fingerprint("assembled_src", ways_fp),
            ",".join(included),
            ",".join(excluded),
        ),
        lambda: build_zones(spark, cfg_df, src_df),
    )
    stages["zones"] = {"cached": cached, "rows": zones.count()}

    # validation gate (raises on disallowed overlaps, reference
    # index.js:1192-1199) — cheap enough to run every time
    progress.begin_task("validate overlaps", log_time_left=True)
    if args.skip_validation:
        stages["validate"] = {"skipped": True}
    else:
        assert_valid(
            spark,
            zones,
            spark.createDataFrame(exp_pdf),
            debug_dir=os.path.join(args.work_dir, "validation-debug"),
        )
        stages["validate"] = {"ok": True}

    progress.begin_task("ocean zones", log_time_left=True)
    zones_fp = manifest._data["zones"]["output_hash"]
    oceans, cached = manifest.run_stage(
        spark,
        "oceans",
        fingerprint("oceans", zones_fp, json.dumps(ocean_bands)),
        lambda: build_ocean_zones(
            spark, spark.createDataFrame(pd.DataFrame(ocean_bands)), zones
        ),
    )
    stages["oceans"] = {"cached": cached, "rows": oceans.count()}

    strategies = [
        s
        for s, skip in (("1970", args.skip_1970_zones), ("now", args.skip_now_zones))
        if not skip
    ]
    if args.real_config:
        # tzdb-computed groupings over the 419 real zones + 25 ocean band
        # tzids (the reference's getZoneCfgSinceTime, index.js:169-245).
        # Land zones get population 1 vs bands' 0 so the representative is
        # always land when a band merges into a land group (the reference
        # picks by real population; with flat populations the tie-break is
        # the lexicographic min, which Etc/* would win over Pacific/*).
        # Cutoffs: epoch and 2020-01-01; horizon 2036-01-01 (inside every
        # TZif file's explicit-transition range) — identical to the
        # geo_tz_real_groups gate, whose TZif-parse oracle pins the result.
        from timezone_boundary_builder_spark.operators.tz_fingerprint import (
            derive_zone_groups,
        )

        # cutoffs per strategy; only the strategies the flags left
        # enabled are derived (computing a grouping nothing consumes
        # would waste the job's heaviest real-config stage)
        cutoffs = {"1970": 0, "now": 1577836800}

        def _real_groups():
            zones_tz = sorted(cfg_pdf.tzid.unique())
            band_tz = [b["tzid"] for b in ocean_bands]
            ztab = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "tzid": zones_tz + band_tz,
                        "population": [1] * len(zones_tz) + [0] * len(band_tz),
                    }
                )
            )
            parts = [
                derive_zone_groups(spark, ztab, s, cutoffs[s], 2082758400)
                for s in strategies
            ]
            if not parts:
                # both derived products skipped: an empty grouping (the
                # downstream derived stages are skipped too, but the
                # stage itself must still produce a frame for the
                # manifest and the stage-rows accounting)
                return spark.createDataFrame(
                    [],
                    "strategy string, rep_tzid string, "
                    "member_tzid string, population long",
                )
            out = parts[0]
            for pt in parts[1:]:
                out = out.unionByName(pt)
            return out

        # the stage's logical inputs are the zone list, the band table,
        # the cutoffs, AND the tzdb itself — hash the TZif bytes of every
        # involved tzid so a tzdata update invalidates cached groupings
        # (a stale-resume here would silently mislabel derived products)
        import hashlib as _hl
        import zoneinfo as _zi

        tz_h = _hl.md5()
        # first EXISTING tzpath root, not blindly TZPATH[0]: on hosts
        # where zoneinfo lives in a later entry, hashing a non-existent
        # dir yields a constant key and a tzdata update would silently
        # resume stale groupings; a missing TZif still marks the hash so
        # presence changes invalidate too
        zdir = next(
            (d for d in _zi.TZPATH if os.path.isdir(d)), "/usr/share/zoneinfo"
        )
        for _tz in sorted(cfg_pdf.tzid.unique()) + [b["tzid"] for b in ocean_bands]:
            _p = os.path.join(zdir, _tz)
            if os.path.exists(_p):
                with open(_p, "rb") as _f:
                    tz_h.update(_f.read())
            else:
                tz_h.update(f"missing:{_tz}".encode())
        groups_df_cached, cached = manifest.run_stage(
            spark,
            "real_groups",
            fingerprint(
                "real_groups",
                cfg_fp,
                json.dumps(ocean_bands),
                tz_h.hexdigest(),
                json.dumps({s: cutoffs[s] for s in strategies}),
                "horizon:2082758400",
            ),
            _real_groups,
        )
        groups_pdf = groups_df_cached.toPandas()
        stages["real_groups"] = {"cached": cached, "rows": len(groups_pdf)}
    else:
        groups_pdf = zone_groups_pdf()
    groups_fp = fingerprint("groups", groups_pdf.to_json(orient="records"))
    products = {"comprehensive": zones}
    for strategy in strategies:
        progress.begin_task(f"derived {strategy} zones", log_time_left=True)
        df, cached = manifest.run_stage(
            spark,
            f"derived_{strategy}",
            fingerprint("derived", strategy, zones_fp, groups_fp),
            lambda s=strategy: build_derived_zones(
                spark, zones, spark.createDataFrame(groups_pdf), s
            ),
        )
        products[strategy] = df
        stages[f"derived_{strategy}"] = {"cached": cached, "rows": df.count()}

    # with-oceans variants: group reps absorb member ocean bands
    # (index.js:941-1009); those oceans are then skipped as standalone
    # features (hasAlikeIn1970/Now, index.js:1367-1374)
    # explicit schema when the grouping is empty (both derived products
    # skipped): createDataFrame cannot infer types from an empty pandas
    # frame; all downstream uses loop over `strategies`, so the empty
    # frame is only ever a placeholder
    groups_df = (
        spark.createDataFrame(groups_pdf)
        if len(groups_pdf)
        else spark.createDataFrame(
            [],
            "strategy string, rep_tzid string, member_tzid string, "
            "population long",
        )
    )
    oceans_fp = manifest._data["oceans"]["output_hash"]
    with_oceans_products = {}
    ocean_skip = {}
    for strategy in strategies:
        progress.begin_task(f"derived {strategy} with oceans", log_time_left=True)
        df, cached = manifest.run_stage(
            spark,
            f"derived_{strategy}_oceans",
            fingerprint("derived_oceans", strategy, zones_fp, oceans_fp, groups_fp),
            lambda s=strategy: build_derived_zones_with_oceans(
                spark, products[s], oceans, groups_df, s
            ),
        )
        with_oceans_products[strategy] = df
        ocean_skip[strategy] = ocean_member_tzids(groups_df, strategy)
        stages[f"derived_{strategy}_oceans"] = {"cached": cached, "rows": df.count()}

    progress.begin_task("combined outputs", log_time_left=True)
    counts = combine_and_write(
        products,
        oceans,
        args.out_dir,
        with_oceans_products=with_oceans_products,
        ocean_skip=ocean_skip,
        # reference name-list order: Object.keys(zoneCfg) + the ocean
        # declaration order (writeBaseNames, index.js:1708-1724)
        base_name_order=list(dict.fromkeys(cfg_pdf["tzid"])),
        ocean_name_order=ocean_name_order,
    )
    # combined-osm-zones: raw per-tz OSM boundaries as one collection
    # (combineAndWriteOSMZones, index.js:1391-1405). Fixture-world only:
    # in --real-config mode there are no raw per-tz downloads (the
    # network-free sandbox has no Overpass), so the artifact is skipped —
    # the real per-zone INIT geometries already flow through the build.
    if not args.real_config:
        from timezone_boundary_builder_spark.operators.outputs import (
            write_feature_collection,
        )
        from timezone_boundary_builder_spark.sources.fixtures import (
            osm_tz_boundaries_pdf,
        )

        counts["combined-osm-zones.geojson"] = write_feature_collection(
            spark.createDataFrame(osm_tz_boundaries_pdf()),
            f"{args.out_dir}/combined-osm-zones.geojson",
        )

    # release-change analysis (analyzeChangesFromLastRelease,
    # index.js:1541-1657): buffered two-way diff vs a prior run's
    # comprehensive product; significant additions/removals only
    if args.last_release_dir:
        from timezone_boundary_builder_spark.operators.release_diff import (
            release_diff,
        )
        from timezone_boundary_builder_spark.operators.zone_build import (
            with_zone_columns,
        )

        last = with_zone_columns(
            spark.read.parquet(
                os.path.join(args.last_release_dir, "comprehensive.parquet")
            )
        )
        changes = release_diff(spark, zones, last).collect()
        with open(os.path.join(args.out_dir, "release-changes.json"), "w") as f:
            json.dump(
                [
                    {"tzid": r.tzid, "change": r.change, "area_deg2": r.area_deg2}
                    for r in sorted(changes, key=lambda r: (r.tzid, r.change))
                ],
                f,
                indent=1,
            )
        stages["analyze_changes"] = {"rows": len(changes)}

    progress.begin_task("zips + shapefiles + archives", log_time_left=True)
    # S9 zip sink (reference zipGeoJsonFiles, index.js:1459-1477: `zip -j`
    # per combined JSON) and S13 input-data archive (assembleAndZipInputData,
    # index.js:1659-1706: configs + cache manifests for reproducibility)
    import zipfile

    if not args.skip_zip:
        # reference dist zip names + inner arcnames (zipGeoJsonFiles,
        # index.js:1459-1477: `zip -j <dist>/timezones*.geojson.zip
        # <working>/combined*.json`), driven by THIS run's products
        from timezone_boundary_builder_spark.operators.outputs import GEOJSON_ZIPS

        for json_name, zip_name, arcname in GEOJSON_ZIPS:
            src = os.path.join(args.out_dir, json_name)
            if json_name not in counts or not os.path.exists(src):
                continue
            with zipfile.ZipFile(
                os.path.join(args.out_dir, zip_name),
                "w",
                compression=zipfile.ZIP_DEFLATED,
            ) as zf:
                zf.write(src, arcname=arcname)
        # combined-osm-zones stays unzipped, as in the reference (it is
        # written to the working dir there and never shipped as a zip)

    # S10 shapefile sink (makeShapefiles, index.js:1479-1539): every
    # combined product GeoJSON -> .shp/.shx/.dbf/.prj/.cpg + flat zip,
    # written by the pure-Python ESRI writer (no GDAL in the sandbox)
    if not args.skip_shapefiles:
        from timezone_boundary_builder_spark.operators.shapefile import (
            write_product_shapefiles,
        )

        stages["shapefiles"] = write_product_shapefiles(
            args.out_dir, args.work_dir, include=set(counts)
        )
    with zipfile.ZipFile(
        f"{args.out_dir}/input-data.zip", "w", compression=zipfile.ZIP_DEFLATED
    ) as zf:
        zf.writestr("zones_config.json", cfg_pdf.to_json(orient="records"))
        zf.writestr("sources.json", src_pdf.to_json(orient="records"))
        zf.writestr("zone_groups.json", groups_pdf.to_json(orient="records"))
        zf.writestr("ocean_bands.json", json.dumps(ocean_bands))
        zf.writestr("expected_overlaps.json", exp_pdf.to_json(orient="records"))
        manifest_path = os.path.join(args.work_dir, "_manifest.json")
        if os.path.exists(manifest_path):
            zf.write(manifest_path, arcname="stage-manifest.json")
    for strategy in strategies:
        write_zone_lookup(
            groups_df,
            strategy,
            f"{args.out_dir}/lookup-{strategy}.json",
        )
        write_combined_zone_lookup(groups_df, strategy, args.out_dir)
    stages["outputs"] = counts

    print(json.dumps({"stages": stages, "wall_sec": round(time.time() - t0, 2)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Part B production job — the serving-side spark-submit surface
(north_rule: "run via spark-submit --py-files on a multi-executor
cluster ... resumable from checkpoint with per-partition lineage +
metrics").

    cd /root/repo && zip -qr /tmp/engine.zip timezone_boundary_builder_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/assign_pages.py --pages-root /tmp/pages --work-dir /tmp/aw \
        --out-dir /tmp/assigned

Pipeline (one pass over the pages, zero shuffles on the pages side):

    Iceberg-lite snapshot scan (manifest partition pruning by --ts-day-*)
      -> JVM-side geocode (regexp, codegen)
      -> packed micro-degree codec -> broadcast two-stage spatial join
         (scalar pandas UDF: 8 B/row down, 5 B/row back; every page
         column stays in the JVM and passes through)
      -> ONE staged parquet write of the full output rows (the scan's
         columns, then tzid, method) under --work-dir
      -> ONE aggregate over the written files: rows, the text hash, the
         method mix and the per-partition lineage rows
      -> promote: the staged rows are renamed to <out>/assigned_pages and
         the lineage table is written next to them from the driver

Resume: the staged output is the stage checkpoint, keyed by the stage
fingerprint (snapshot id, ts range, zone-set hash, ...). The manifest
follows it through the promote, so re-running against an unchanged
snapshot into the same --out-dir is a manifest hit on the published rows:
the job re-verifies and re-publishes (lineage, publish marker) without
rewriting any page bytes (reference FileLookupCache contract,
util/cache.js:74-128). A run into another --out-dir recomputes, leaving
the earlier publish where it is.

Incremental (--incremental): the same pipeline over the append delta
since the cursor in <work>/incremental.json (pages.added_paths_since:
the chain-walked manifest entries, compaction rewrites skipped). The
stage is `increment`, keyed by the full run's fingerprint plus the
cursor snapshot; its rows (same schema as assigned_pages) are published
at <out>/increments/snap-<sid> and its lineage at
<out>/increments_lineage/snap-<sid>. The cursor advances only after the
publish, so a re-run after a lost cursor advance is a manifest hit on
the published increment. An empty delta advances the cursor and writes
nothing.

Invariant (north_star): byte-identical `text` per url through every stage —
proven here by comparing an order-insensitive bit_xor(xxhash64) aggregate of
(url, text) between an independent scan of the input (snapshot or delta)
and the written output rows, before anything is promoted.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--pages-root", required=True, help="Iceberg-lite pages table root")
    p.add_argument("--work-dir", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--cores", type=int, default=8)
    p.add_argument("--snapshot", default=None)
    p.add_argument("--ts-day-min", default=None)
    p.add_argument("--ts-day-max", default=None)
    p.add_argument(
        "--incremental",
        action="store_true",
        help="process only the manifest DELTA since the last processed "
        "snapshot (Iceberg-style incremental append consumption: at crawl "
        "scale the corpus is never reprocessed)",
    )
    # serve an arbitrary published zone artifact instead of the fixture
    # world: e.g. --zones-parquet <build_all out-dir>/comprehensive.parquet
    # --ocean-bands real wires a --real-config Part A build straight into
    # the Part B hot path
    p.add_argument("--zones-parquet", default=None)
    p.add_argument("--ocean-bands", choices=["fixture", "real"], default="fixture")
    p.add_argument("--cover-res", type=int, default=None)
    p.add_argument(
        "--stage2",
        choices=["auto", "broadcast", "sharded"],
        default="auto",
        help="boundary-residue resolution: 'broadcast' ships zone "
        "geometry inside the CellMap (shuffle-free hot path — the "
        "winner while the map fits executors); 'sharded' broadcasts "
        "only the slim index and resolves boundary/offshore points "
        "through a shard-cogrouped edge join (value-identical, "
        "pytest-gated; removes the zone-count/ring-complexity ceiling); "
        "'auto' (default) measures the built map and picks — the "
        "AQE-style choice, threshold set by --broadcast-budget-mb",
    )
    p.add_argument(
        "--broadcast-budget-mb",
        type=float,
        default=None,
        help="with --stage2 auto: serialized full-CellMap size above "
        "which the sharded plan is chosen (default 128 MB — between the "
        "measured 10^5-zone 77 MB world where broadcast still ties and "
        "the 10^6-zone 306 MB world where it collapses; see BENCH.md)",
    )
    p.add_argument(
        "--sharded-stage1",
        choices=["persist", "staging"],
        default="persist",
        help="with --stage2 sharded: keep the full-size stage-1 frame "
        "as an executor-memory persist (default) or write it to a "
        "durable staging parquet under --work-dir (the petabyte-scale "
        "mode: executor storage never holds the input, and a lost "
        "executor re-reads instead of recomputing the map pass). "
        "Physical strategy only — results are identical, so the choice "
        "is not part of the stage fingerprint",
    )
    args = p.parse_args(argv)
    if args.broadcast_budget_mb is not None and args.stage2 != "auto":
        # an explicit mode ignores the budget; silently accepting the
        # flag would misreport how the physical plan was chosen
        p.error("--broadcast-budget-mb only applies with --stage2 auto")
    if args.incremental and (args.ts_day_min is not None or args.ts_day_max is not None):
        # the cursor advances past the whole delta: a range filter would
        # move it past rows the run never assigned
        p.error("--ts-day-min/--ts-day-max are not supported with "
                "--incremental (deltas are whole manifest entries)")

    from pyspark.sql import functions as F

    from timezone_boundary_builder_spark.session import get_spark

    spark = get_spark("tzbb-assign-pages", cores=args.cores)

    from timezone_boundary_builder_spark.operators.geocode import with_coordinates
    from timezone_boundary_builder_spark.operators.spatial_join import (
        assign_tzid_udf_packed,
        pack_coords_col,
        unpack_coords_cols,
    )
    from timezone_boundary_builder_spark.plans.manifests import (
        StageManifest,
        fingerprint,
        publish,
    )
    from timezone_boundary_builder_spark.sources import pages as pages_table

    t0 = time.time()
    sid = args.snapshot or pages_table.current_snapshot_id(args.pages_root)
    report = {"snapshot": sid, "incremental": args.incremental, "delta_files": None}

    # --incremental chooses only the input (the append delta since the
    # cursor) and where it is published; the pipeline is the full run's
    stage, entries, delta_from = "assign", None, ()
    pages_dest = os.path.join(args.out_dir, "assigned_pages")
    lineage_dest = os.path.join(args.out_dir, "lineage")
    if args.incremental:
        cursor_path = os.path.join(args.work_dir, "incremental.json")
        state = {"last_snapshot": None, "increments": []}
        if os.path.exists(cursor_path):
            with open(cursor_path) as f:
                state = json.load(f)
        # chain-walked append delta (NOT a raw path diff): rewrite snapshots
        # from compact_data_files carry no new logical rows and are skipped;
        # an expired cursor fails loudly instead of reprocessing the world
        try:
            entries = pages_table.added_paths_since(
                args.pages_root, sid, state["last_snapshot"]
            )
        except (ValueError, FileNotFoundError) as e:
            raise SystemExit(
                f"incremental cursor {state['last_snapshot']} is no longer on "
                f"the snapshot chain (expired by expire_snapshots?). Delete "
                f"{cursor_path} to re-baseline. ({e})"
            )
        report["delta_files"] = len(entries)
        if not entries:
            _advance_cursor(cursor_path, state, sid)
            return _finish(spark, {**report, "rows": 0, "methods": {}}, t0)
        stage, delta_from = "increment", (str(state["last_snapshot"]),)
        pages_dest = os.path.join(args.out_dir, "increments", f"snap-{sid}")
        lineage_dest = os.path.join(args.out_dir, "increments_lineage", f"snap-{sid}")

    cm, cover_res, zones_pdf = _load_cellmap(spark, args)
    if args.stage2 == "auto":
        from timezone_boundary_builder_spark.operators.spatial_join_sharded import (
            DEFAULT_BROADCAST_BUDGET_MB,
            choose_stage2,
        )

        stage2, map_bytes = choose_stage2(
            cm, args.broadcast_budget_mb or DEFAULT_BROADCAST_BUDGET_MB
        )
    else:
        stage2, map_bytes = args.stage2, None
    if args.sharded_stage1 == "staging" and stage2 != "sharded":
        # round-6 ADVICE: a user requesting durable staging must not
        # silently get an executor-persist broadcast run — same
        # misreports-the-plan rationale as --broadcast-budget-mb above
        p.error(
            "--sharded-stage1 staging requires the sharded stage-2 plan "
            f"(resolved stage2: {stage2})"
        )
    zones_fp = fingerprint("zones", *cm.tzids, *[g for g in cm.geojson])
    # every input that changes the OUTPUT is in the key: the band table
    # decides ocean tzids and the cover resolution decides the
    # cell-vs-pip method mix — omitting either would replay a stale
    # cached stage after a flag change
    # "v4": the format marker keeps an older cached stage from replaying
    # — v2 added warc_ts (composite row identity for tables where urls
    # recur across crawls); v3 assigns both stage-2 modes on the
    # null-safe packed 1e-6 grid value (older stages could differ there);
    # v4 stages the full output rows, not (url, warc_ts, tzid, method)
    stage_fp = fingerprint(
        "assign-v4",
        str(sid),
        str(args.ts_day_min),
        str(args.ts_day_max),
        zones_fp,
        json.dumps(_ocean_bands(args)),
        str(cover_res),
        # the two stage-2 modes are value-identical (pytest-gated), but
        # the physical mode is still in the key: a cached stage must
        # never mask a parity break behind a replay. The RESOLVED mode
        # is fingerprinted, not the flag — auto resolving to broadcast
        # is the same stage as an explicit --stage2 broadcast
        stage2,
        # an increment is also keyed by the cursor it starts from
        *delta_from,
    )

    manifest = StageManifest(args.work_dir)
    bc = spark.sparkContext.broadcast(cm.slim() if stage2 == "sharded" else cm)
    # handle to the operator's pre-select DataFrame so its caches (stage-1
    # persist, edge/residue frames) can be released once the output is
    # published (round-6 ADVICE: the sharded branch never called
    # sharded_release, pinning the full-input persist for the session)
    sharded_handle: dict = {}
    scan = pages_table.scan(
        spark,
        args.pages_root,
        snapshot_id=sid,
        ts_day_min=args.ts_day_min,
        ts_day_max=args.ts_day_max,
        entries=entries,
    )

    def compute():
        # the stage IS the output: every scan column, then (tzid, method)
        if stage2 == "sharded":
            from timezone_boundary_builder_spark.operators.spatial_join_sharded import (
                assign_tzid_sharded,
                zone_edges_frame,
            )

            tz_bc = spark.sparkContext.broadcast(list(cm.tzids))
            edges = zone_edges_frame(
                spark.createDataFrame(zones_pdf[["tzid", "geometry"]]),
                tz_bc,
                n_shards=max(16, args.cores),
            )
            # the sharded gear takes doubles: decode them from the same
            # packed grid value the broadcast UDF assigns, so the two
            # modes see one coordinate model
            pts = with_coordinates(scan).select(
                "url", "warc_ts", pack_coords_col()
            ).select("url", "warc_ts", *unpack_coords_cols())
            # staging path is derived from the stage fingerprint
            # (round-6 ADVICE): two runs sharing a work dir (a retry
            # racing a stuck run, different snapshots) must not clobber
            # each other's stage-1 parquet mid-read; stale fingerprints'
            # staging dirs belong to the work-dir owner's cleanup, like
            # the manifest outputs themselves
            staging = (
                os.path.join(args.work_dir, f"sharded_stage1_{stage_fp[:16]}")
                if args.sharded_stage1 == "staging"
                else None
            )
            out = assign_tzid_sharded(
                pts,
                bc,
                edges,
                _ocean_bands(args),
                n_shards=max(16, args.cores),
                stage1_path=staging,
            )
            sharded_handle["df"] = out
            # the gear carries only the row identity: join the page
            # columns back on the COMPOSITE (url, warc_ts), null-safe on
            # warc_ts — a recrawled url (same url, two warc_ts rows) is
            # routine input and a url-only join would fan out. (Exact
            # duplicate (url, warc_ts) rows still fan out and fail the
            # row count — that IS table corruption: a double-published
            # commit.)
            a = out.select(
                F.col("url").alias("a_url"), F.col("warc_ts").alias("a_ts"), "tzid", "method"
            )
            return scan.join(
                a,
                (scan["url"] == a["a_url"]) & scan["warc_ts"].eqNullSafe(a["a_ts"]),
                "inner",
            ).drop("a_url", "a_ts")
        pts = with_coordinates(scan).select(*scan.columns, pack_coords_col())
        return assign_tzid_udf_packed(pts, bc, _ocean_bands(args))

    # the one write of the page rows: staged under --work-dir, it is also
    # the resume checkpoint, and publish() renames it into place. A stage
    # another run published to a different --out-dir is not this run's:
    # run_stage recomputes it rather than moving it out of that publish
    assigned, cached = manifest.run_stage(
        spark, stage, stage_fp, compute, publish_to=pages_dest
    )
    # byte-identical text invariant: an order-insensitive hash aggregate
    # of (url, text) over an independent read of the input, compared
    # with the same aggregate over the written rows
    h_in = scan.agg(
        F.bit_xor(F.xxhash64("url", "text")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    summary = publish(
        manifest, stage, assigned, h_in, pages_dest, lineage_dest, sid,
        "url", "method", ("url", "text"),
    )
    if args.incremental:
        # the cursor moves only past a published increment
        _advance_cursor(
            cursor_path, state, sid, {"snapshot": sid, "rows": summary.rows, "path": pages_dest}
        )

    # output is published and every consumer above has executed — drop
    # the sharded operator's caches (stage-1 persist, edges, residue)
    # instead of pinning them for the rest of the session (round-6
    # ADVICE; no-op when the stage replayed from the manifest cache)
    if sharded_handle.get("df") is not None:
        sharded_handle["df"].sharded_release()

    report.update(
        cached=cached,
        cover_res=cover_res,
        # resolved physical plan (+ the measured full-map bytes that
        # drove an auto choice) — the run report must say which plan
        # actually served, not which flag was passed
        stage2=stage2,
        # resolved staging mode (round-6 ADVICE): null unless the sharded
        # plan served, so the report never implies a durable stage-1
        # write that did not happen
        sharded_stage1=args.sharded_stage1 if stage2 == "sharded" else None,
        map_bytes=map_bytes,
        rows=summary.rows,
        methods=summary.counts,
        # publish() raises before promoting anything otherwise
        text_invariant_ok=True,
        lineage_partitions=len(summary.lineage),
    )
    return _finish(spark, report, t0)


def _finish(spark, report: dict, t0: float) -> int:
    """Print the run's one JSON report line and stop the session."""
    print(json.dumps({**report, "wall_sec": round(time.time() - t0, 2)}))
    spark.stop()
    return 0


def _advance_cursor(path: str, state: dict, sid: str, increment: dict | None = None) -> None:
    """Atomically move the incremental cursor to `sid`, recording the
    increment published for it, if any."""
    if increment is not None:
        state["increments"].append(increment)
    state["last_snapshot"] = sid
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.rename(tmp, path)


def _ocean_bands(args) -> list[dict]:
    if args.ocean_bands == "real":
        from timezone_boundary_builder_spark.sources.real_config import (
            real_ocean_bands_pdf,
        )

        return real_ocean_bands_pdf().to_dict("records")
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS

    return OCEAN_BANDS


def _load_cellmap(spark, args):
    """Fixture world by default; with --zones-parquet, any published zone
    artifact (tzid, geometry) — bboxes re-derived, cover built driver-side
    (zones are config-sized; the pages side is where scale lives). The
    fixture world comes from the PACKAGE (sources.fixtures), never from
    the repo-root driver harness — under the documented
    `spark-submit --py-files engine.zip` invocation only the package is
    on sys.path."""
    from timezone_boundary_builder_spark.operators.cover import (
        DEFAULT_COVER_RES,
        auto_cover_res,
        cellmap_from_zones_pdf,
    )
    from timezone_boundary_builder_spark.sources.fixtures import (
        local_cellmap,
        local_zones,
    )

    if not args.zones_parquet:
        if args.cover_res is None:
            return local_cellmap(), DEFAULT_COVER_RES, local_zones()
        # honor --cover-res on the fixture world too: the flag is in the
        # stage fingerprint, so it must also change the artifact (the
        # cell-vs-pip method mix), not just bust the cache
        return (
            cellmap_from_zones_pdf(local_zones(), max_res=args.cover_res),
            args.cover_res,
            local_zones(),
        )
    zdf = spark.read.parquet(args.zones_parquet)
    # bboxes are for auto_cover_res + CellMap zone_bbox; require the full
    # quartet or none (a partial set would KeyError downstream), deriving
    # from geometry when absent
    quartet = ("min_x", "min_y", "max_x", "max_y")
    bbox_cols = list(quartet) if all(c in zdf.columns for c in quartet) else []
    zp = zdf.select("tzid", "geometry", *bbox_cols).toPandas()
    # served zone artifacts have unknown zone-size distributions ahead of
    # time, so the cover resolution adapts to them (auto_cover_res: the
    # median zone bbox spans ~3 cells/axis); an explicit --cover-res pins
    # it. The EFFECTIVE res is returned so the stage fingerprint and the
    # run report carry what actually built the cover — auto's pick
    # depends on artifact columns outside the tzid+geometry fingerprint,
    # so fingerprinting the flag alone would replay a stale cached stage
    # when the artifact's bbox columns change.
    res = args.cover_res or auto_cover_res(zp)
    return cellmap_from_zones_pdf(zp, max_res=res), res, zp


if __name__ == "__main__":
    sys.exit(main())

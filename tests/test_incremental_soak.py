"""End-to-end incremental maintenance soak (VERDICT r2 #8): the full
production loop — assign_pages --incremental per append snapshot, tile
rollup maintenance via merge_tile_counts, table compaction and snapshot
expiry via jobs/maintain_pages.py — driven over several snapshots with a
simulated crash in the worst-case window (increment output written, the
atomic cursor advance lost), asserting the maintained artifacts equal a
from-scratch recompute exactly."""

import json
import os

from tests._jobrunner import run_job

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job(script, *args):
    proc = run_job(script, list(args), timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _batch(n, seed, domain):
    from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages

    pdf = synthetic_pages(n=n, seed=seed).drop(columns=["kind"])
    pdf["url"] = pdf["url"].str.replace("example.org", domain)
    return pdf


def test_incremental_loop_crash_resume_counts_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from timezone_boundary_builder_spark.operators.geocode import with_coordinates
    from timezone_boundary_builder_spark.operators.spatial_join import (
        assign_tzid_udf_packed,
        pack_coords_col,
    )
    from timezone_boundary_builder_spark.operators.tiles import (
        merge_tile_counts,
        page_tile_counts,
    )
    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import OCEAN_BANDS

    root = str(tmp_path / "tbl")
    work = str(tmp_path / "work")
    out = str(tmp_path / "out")
    cursor_path = os.path.join(work, "incremental.json")
    tiles_dir = str(tmp_path / "tiles")
    res = 5

    def run_increment():
        return _job(
            "assign_pages.py",
            "--pages-root", root, "--work-dir", work, "--out-dir", out,
            "--cores", "8", "--incremental",
        )

    def maintain_tiles(version):
        """Fold every increment written for snapshots not yet folded into
        the maintained tile table (versioned dirs: read old, write new —
        never read+overwrite the same path)."""
        state = json.load(open(cursor_path))
        folded_path = os.path.join(tiles_dir, "folded.json")
        folded = json.load(open(folded_path)) if os.path.exists(folded_path) else []
        existing = None
        cur = os.path.join(tiles_dir, "current")
        if os.path.exists(cur):
            existing = spark.read.parquet(os.path.realpath(cur))
        # each increment dir appears once even if the cursor advance was
        # lost and the increment re-ran (same snapshot -> same path)
        pending = sorted(
            {i["path"] for i in state["increments"]} - set(folded)
        )
        merged = existing
        for path in pending:
            inc = spark.read.parquet(path).select("url", "tzid")
            coords = with_coordinates(pt.scan(spark, root)).select("url", "lon", "lat")
            delta = page_tile_counts(inc.join(coords, "url"), res=res)
            merged = merge_tile_counts(merged, delta)
        vdir = os.path.join(tiles_dir, f"v{version}")
        if merged is not None:
            merged.write.mode("overwrite").parquet(vdir)
            tmp_link = cur + ".tmp"
            if os.path.lexists(tmp_link):
                os.remove(tmp_link)
            os.symlink(vdir, tmp_link)
            os.replace(tmp_link, cur)  # atomic publish
        json.dump(folded + pending, open(folded_path, "w"))

    os.makedirs(tiles_dir, exist_ok=True)

    # ---- snapshot 1: append 200 pages, increment, fold tiles
    pt.commit_append(root, spark.createDataFrame(_batch(200, 21, "alpha.net")))
    r1 = run_increment()
    assert r1["rows"] == 200
    maintain_tiles(1)

    # ---- snapshot 2 with a CRASH in the worst-case window: the job
    # writes its increment output, then dies before the atomic cursor
    # advance (simulated by restoring the pre-run cursor file)
    pt.commit_append(root, spark.createDataFrame(_batch(200, 22, "bravo.net")))
    pre_crash_cursor = open(cursor_path).read()
    r2a = run_increment()
    assert r2a["rows"] == 200
    with open(cursor_path, "w") as f:  # crash: cursor advance lost
        f.write(pre_crash_cursor)
    r2b = run_increment()  # resume: reprocesses the same delta idempotently
    assert r2b["rows"] == 200
    maintain_tiles(2)

    # ---- compaction: a rewrite snapshot must contribute NO delta
    m1 = _job(
        "maintain_pages.py",
        "--pages-root", root, "--compact", "--expire",
        "--keep-last", "2", "--orphan-ttl-sec", "0",
    )
    assert "compacted_snapshot" in m1 and m1["rows"] == 400
    r3 = run_increment()
    assert r3["rows"] == 0 and r3["delta_files"] == 0
    maintain_tiles(3)

    # ---- snapshot 3 after the rewrite, then expiry of the pre-compaction
    # snapshots; the consumer's cursor stays on the retained chain
    pt.commit_append(root, spark.createDataFrame(_batch(200, 23, "charlie.net")))
    r4 = run_increment()
    assert r4["rows"] == 200
    m2 = _job(
        "maintain_pages.py",
        "--pages-root", root, "--expire", "--keep-last", "2",
        "--orphan-ttl-sec", "0",
    )
    assert m2["expire"]["expired"]
    maintain_tiles(4)
    r5 = run_increment()  # expiry must not disturb an up-to-date consumer
    assert r5["rows"] == 0

    # ---- exactness: despite crash + rerun, every url assigned exactly once
    inc_all = spark.read.parquet(f"{out}/increments/*")
    assert inc_all.count() == 600
    assert inc_all.select("url").distinct().count() == 600

    # ---- maintained tiles equal the from-scratch recompute, value-exact
    bc = spark.sparkContext.broadcast(entry._local_cellmap())
    full_pages = with_coordinates(pt.scan(spark, root))
    assert full_pages.count() == 600  # expiry kept the full logical table
    scratch = page_tile_counts(
        assign_tzid_udf_packed(
            full_pages.select("url", "lon", "lat", pack_coords_col()),
            bc,
            OCEAN_BANDS,
        ),
        res=res,
    )
    maintained = spark.read.parquet(os.path.realpath(os.path.join(tiles_dir, "current")))

    def rows(df):
        return sorted(
            (r.cell_id, r.res, r.tzid, r.n_pages)
            for r in df.select("cell_id", "res", "tzid", "n_pages").collect()
        )

    assert rows(maintained) == rows(scratch)

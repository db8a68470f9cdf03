"""Part B production job surface: jobs/assign_pages.py — snapshot-pinned
assignment with manifest resume, lineage, and the text-passthrough
invariant."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from tests._jobrunner import run_code, run_job

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(pages_root, work, out, extra=()):
    proc = run_job(
        "assign_pages.py",
        ["--pages-root", pages_root, "--work-dir", work, "--out-dir", out,
         "--cores", "8", *extra],
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def pages_root(spark, tmp_path_factory):
    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages

    root = str(tmp_path_factory.mktemp("pages_tbl"))
    pdf = synthetic_pages(n=600, seed=9).drop(columns=["kind"])
    pt.commit_append(root, spark.createDataFrame(pdf))
    return root


def test_assign_job_runs_and_resumes(spark, pages_root, tmp_path):
    from pyspark.sql import types as T

    from timezone_boundary_builder_spark.plans.lineage import lineage_table
    from timezone_boundary_builder_spark.sources import pages as pt

    work = str(tmp_path / "w")
    out = str(tmp_path / "o")
    r1 = _run(pages_root, work, out)
    assert r1["rows"] == 600
    assert r1["text_invariant_ok"] is True
    assert r1["cached"] is False
    # default --stage2 auto: the fixture map is far under the budget, so
    # the AQE-style selector resolves to the broadcast kernel and the
    # report carries the resolved plan + the measured map bytes
    assert r1["stage2"] == "broadcast"
    assert 0 < r1["map_bytes"] < 128e6
    # the synthetic mix covers every method incl. offshore knn
    assert set(r1["methods"]) >= {"cell", "knn", "ocean", "none"}
    assert r1["lineage_partitions"] >= 1
    # torn-publish detectability: output and lineage carry the SAME
    # publish marker (a crash between the two promote renames would
    # leave mismatched ids for consumers to detect)
    pub = [
        json.load(open(os.path.join(out, d, "_publish.json")))
        for d in ("assigned_pages", "lineage")
    ]
    assert pub[0]["publish_id"] == pub[1]["publish_id"]
    assert pub[0]["snapshot"] == r1["snapshot"]
    # the assign stage wrote the published rows: the scan's columns in
    # order, then (tzid, method), moved (not copied) out of the work dir
    published = spark.read.parquet(os.path.join(out, "assigned_pages"))
    shape = [(f.name, f.dataType) for f in published.schema]
    assert shape == [(f.name, f.dataType) for f in pt.scan(spark, pages_root).schema] + [
        ("tzid", T.StringType()),
        ("method", T.StringType()),
    ]
    assert not os.path.exists(os.path.join(work, "assign"))
    # the lineage written from the one verifying aggregate is exactly
    # lineage_table over the published rows
    lineage = spark.read.parquet(os.path.join(out, "lineage")).collect()
    assert set(lineage) == set(lineage_table(published, "url").collect())
    assert sum(row["n_rows"] for row in lineage) == r1["rows"]
    assert r1["lineage_partitions"] == len(lineage)
    r2 = _run(pages_root, work, out)
    assert r2["cached"] is True
    assert r2["methods"] == r1["methods"]


def test_assign_job_partition_pruning(pages_root, tmp_path):
    r = _run(
        pages_root,
        str(tmp_path / "w2"),
        str(tmp_path / "o2"),
        extra=("--ts-day-min", "2026-01-01", "--ts-day-max", "2026-01-31"),
    )
    assert 0 < r["rows"] <= 600
    assert r["text_invariant_ok"] is True


def test_assign_job_incremental(spark, pages_root, tmp_path):
    """Incremental mode processes only the manifest delta per snapshot and
    is a no-op when no new snapshot was committed."""
    import shutil

    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages

    root = str(tmp_path / "tbl")
    shutil.copytree(pages_root, root)  # snapshot 1 already committed (600)
    work = str(tmp_path / "w3")
    out = str(tmp_path / "o3")
    r1 = _run(root, work, out, extra=("--incremental",))
    assert r1["incremental"] is True and r1["rows"] == 600

    # no new snapshot -> no-op
    r2 = _run(root, work, out, extra=("--incremental",))
    assert r2["rows"] == 0 and r2["delta_files"] == 0

    # new append -> only the new 150 rows are processed
    pdf = synthetic_pages(n=150, seed=77).drop(columns=["kind"])
    pdf["url"] = pdf["url"].str.replace("example.org", "example.net")
    pt.commit_append(root, spark.createDataFrame(pdf))
    r3 = _run(root, work, out, extra=("--incremental",))
    assert r3["rows"] == 150 and r3["delta_files"] >= 1

    # the union of increments covers every row exactly once
    inc = spark.read.parquet(f"{out}/increments/*")
    assert inc.count() == 750
    assert inc.select("url").distinct().count() == 750


def test_assign_job_handles_recrawled_urls(spark, tmp_path):
    """Round-4 review regression: urls recrawled at a later warc_ts (the
    reason warc_ts exists) must not fan out the invariant join — the job
    keys row identity on (url, warc_ts) and assigns every version."""
    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages

    root = str(tmp_path / "tbl")
    pdf = synthetic_pages(n=200, seed=21).drop(columns=["kind"])
    recrawl = pdf.head(60).copy()
    recrawl["warc_ts"] = recrawl["warc_ts"] + __import__("pandas").Timedelta(days=30)
    recrawl["text"] = recrawl["text"] + " updated on recrawl"
    pt.commit_append(root, spark.createDataFrame(pdf))
    pt.commit_append(root, spark.createDataFrame(recrawl))

    r = _run(root, str(tmp_path / "w"), str(tmp_path / "o"))
    assert r["rows"] == 260 and r["text_invariant_ok"] is True
    outp = spark.read.parquet(str(tmp_path / "o" / "assigned_pages"))
    assert outp.count() == 260
    assert outp.select("url").distinct().count() == 200  # 60 urls twice
    assert outp.select("url", "warc_ts").distinct().count() == 260


def test_assign_job_runs_with_package_only_syspath(spark, tmp_path):
    """spark-submit contract: with ONLY the package on sys.path (what
    --py-files engine.zip provides — no repo checkout, no repo-root
    driver harness), the job must still run its fixture path."""
    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages

    pkg_only = tmp_path / "pkg_only"
    pkg_only.mkdir()
    os.symlink(
        os.path.join(REPO, "timezone_boundary_builder_spark"),
        pkg_only / "timezone_boundary_builder_spark",
    )
    root = str(tmp_path / "tbl")
    pdf = synthetic_pages(n=120, seed=5).drop(columns=["kind"])
    pt.commit_append(root, spark.createDataFrame(pdf))

    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "assign_pages.py"),
            "--pages-root", root,
            "--work-dir", str(tmp_path / "w"),
            "--out-dir", str(tmp_path / "o"),
            "--cores", "4",
        ],
        cwd=str(pkg_only),
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "PYTHONPATH": str(pkg_only)},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    r = json.loads(proc.stdout.strip().splitlines()[-1])
    assert r["rows"] == 120 and r["text_invariant_ok"] is True


def test_assign_job_stage2_sharded_matches_broadcast(pages_root, tmp_path):
    """--stage2 sharded (slim-index broadcast + shard-cogrouped edge
    join) must publish EXACTLY the rows the broadcast path publishes —
    same methods mix, same (url, warc_ts, tzid, method) set — on the
    fixture world whose synthetic mix exercises cell/pip/knn/ocean/none.
    The stage fingerprint carries the mode, so switching does not
    replay the other mode's cached stage."""
    import duckdb

    wb, ob = str(tmp_path / "wb"), str(tmp_path / "ob")
    ws, os_ = str(tmp_path / "ws"), str(tmp_path / "os")
    rb = _run(pages_root, wb, ob)
    # staging mode: stage-1 goes to a durable parquet under work-dir
    # instead of an executor persist — same rows, plus the staging
    # artifact must exist (the petabyte-scale resumable path)
    rs = _run(
        pages_root,
        ws,
        os_,
        extra=("--stage2", "sharded", "--sharded-stage1", "staging"),
    )
    assert rs["rows"] == rb["rows"] == 600
    assert rs["methods"] == rb["methods"]
    assert rs["text_invariant_ok"] is True
    import glob

    # round 7: the staging dir is keyed by the stage fingerprint so
    # concurrent/differently-parameterized runs cannot clobber each other
    assert glob.glob(f"{ws}/sharded_stage1_*/*.parquet")
    only = duckdb.sql(
        f"""SELECT count(*) FROM (
          SELECT url, warc_ts, tzid, method FROM '{ob}/assigned_pages/*.parquet'
          EXCEPT
          SELECT url, warc_ts, tzid, method FROM '{os_}/assigned_pages/*.parquet')"""
    ).fetchone()[0]
    assert only == 0
    # --stage2 auto with a budget below the map must resolve to the
    # SAME stage as the explicit sharded run: the fingerprint carries
    # the resolved mode, so this is a cache hit, not a recompute
    ra = _run(
        pages_root,
        ws,
        os_,
        extra=("--stage2", "auto", "--broadcast-budget-mb", "0.0001"),
    )
    assert ra["stage2"] == "sharded"
    assert ra["map_bytes"] > 0.0001 * 1e6
    assert ra["cached"] is True
    assert ra["methods"] == rs["methods"]


def test_assign_job_stage2_modes_agree_off_grid(spark, tmp_path):
    """Both --stage2 plans assign the one packed 1e-6 grid value. A
    geocoded coordinate with more decimals than the grid, whose raw
    double and grid value fall on opposite sides of the 1852 m kNN
    radius, gets the same tzid and method from the broadcast and the
    sharded plan: the kernel's answer for the grid value."""
    import numpy as np

    from tests._kernel_ref import kernel_codes
    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import (
        OCEAN_BANDS,
        local_cellmap,
        synthetic_pages,
    )

    cm = local_cellmap()

    def answer(lat):
        tz, m = kernel_codes(cm, OCEAN_BANDS, np.array([15.0]), np.array([lat]))
        return tz[0], m[0]

    def grid(lat):
        return np.round((lat + 90.0) * 1e6) / 1e6 - 90.0

    # bisect the kNN radius north of Test/Hotel's lat-50 edge at lon 15,
    # then take a 9-decimal latitude within 0.4 micro-degrees of it that
    # rounds across it on the grid
    lo, hi = 50.01, 50.03
    assert answer(lo)[1] == "knn" and answer(hi)[1] == "ocean"
    while (mid := (lo + hi) / 2) not in (lo, hi):
        lo, hi = (mid, hi) if answer(mid)[1] == "knn" else (lo, mid)
    lat_s = next(
        s
        for s in ("%.9f" % (lo + d * 1e-8) for d in range(-40, 41))
        if answer(float(s)) != answer(grid(float(s)))
    )
    expect = answer(grid(float(lat_s)))

    pdf = synthetic_pages(n=40, seed=17).drop(columns=["kind"])
    text = f"harbour office geo:{lat_s},15.0000000 open daily"
    pdf.loc[0, ["url", "text"]] = ["https://example.org/off-grid", text]
    pdf.at[0, "html"] = f"<html><body>{text}</body></html>".encode()
    root = str(tmp_path / "tbl")
    pt.commit_append(root, spark.createDataFrame(pdf))

    got = {}
    for mode in ("broadcast", "sharded"):
        out = str(tmp_path / f"o_{mode}")
        r = _run(root, str(tmp_path / f"w_{mode}"), out, extra=("--stage2", mode))
        assert r["stage2"] == mode and r["rows"] == 40
        row = (
            spark.read.parquet(os.path.join(out, "assigned_pages"))
            .where("url = 'https://example.org/off-grid'")
            .select("tzid", "method")
            .collect()
        )
        got[mode] = (row[0]["tzid"], row[0]["method"])
    assert got["broadcast"] == got["sharded"] == expect, (lat_s, got, expect)


def _publish_id(out, d):
    return json.load(open(os.path.join(out, d, "_publish.json")))["publish_id"]


def _page_files(path):
    """(name, inode) of every data file: a rename keeps the inode, a
    rewrite or a copy does not."""
    return sorted(
        (f, os.stat(os.path.join(path, f)).st_ino)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def test_assign_publish_refuses_a_text_hash_mismatch(spark, pages_root, tmp_path):
    """A written stage whose (url, text) hash differs from the input's
    fails the run: AssertionError, the published output and lineage stay
    as they were, the staged rows are deleted and the stage's manifest
    record is dropped, so the next run recomputes instead of replaying a
    bad stage as cached."""
    from timezone_boundary_builder_spark.plans.manifests import StageManifest, publish

    work, out = str(tmp_path / "w"), str(tmp_path / "o")
    r = _run(pages_root, work, out)
    before = {d: _publish_id(out, d) for d in ("assigned_pages", "lineage")}
    pages_before = _page_files(os.path.join(out, "assigned_pages"))

    manifest = StageManifest(work)
    staged, cached = manifest.run_stage(
        spark, "assign", "forced", lambda: spark.read.parquet(os.path.join(out, "assigned_pages"))
    )
    assert cached is False and os.path.exists(os.path.join(work, "assign"))
    with pytest.raises(AssertionError, match="invariant"):
        publish(
            manifest,
            "assign",
            staged,
            {"h": 12345, "n": r["rows"]},
            os.path.join(out, "assigned_pages"),
            os.path.join(out, "lineage"),
            r["snapshot"],
            "url",
            "method",
            ("url", "text"),
        )

    assert {d: _publish_id(out, d) for d in ("assigned_pages", "lineage")} == before
    assert _page_files(os.path.join(out, "assigned_pages")) == pages_before
    assert not os.path.exists(os.path.join(work, "assign"))
    assert not os.path.exists(os.path.join(out, "lineage.__staging__"))
    assert "assign" not in json.load(open(os.path.join(work, "_manifest.json")))
    r2 = _run(pages_root, work, out)
    assert r2["cached"] is False and r2["rows"] == r["rows"]


def test_assign_job_heals_torn_publish_and_promotes_a_staged_run(pages_root, tmp_path):
    """Resume after a crash. Between the two promotes (lineage lost): the
    re-run is a manifest hit that restores lineage under the same publish
    id as the pages, without rewriting the pages. Before the promote
    (stage written under --work-dir, nothing published): the re-run
    promotes the stage without recomputing it."""
    work, out = str(tmp_path / "w"), str(tmp_path / "o")
    r1 = _run(pages_root, work, out)
    pages = os.path.join(out, "assigned_pages")
    files = _page_files(pages)

    shutil.rmtree(os.path.join(out, "lineage"))
    r2 = _run(pages_root, work, out)
    assert r2["cached"] is True and r2["rows"] == r1["rows"]
    assert r2["methods"] == r1["methods"]
    assert _publish_id(out, "assigned_pages") == _publish_id(out, "lineage")
    assert _page_files(pages) == files

    # rewind to a crash right after the stage write
    staged = os.path.join(work, "assign")
    os.rename(pages, staged)
    shutil.rmtree(os.path.join(out, "lineage"))
    mpath = os.path.join(work, "_manifest.json")
    m = json.load(open(mpath))
    m["assign"]["output_path"] = staged
    json.dump(m, open(mpath, "w"))

    r3 = _run(pages_root, work, out)
    assert r3["cached"] is True and r3["rows"] == r1["rows"]
    assert not os.path.exists(staged)
    assert _page_files(pages) == files
    assert _publish_id(out, "assigned_pages") == _publish_id(out, "lineage")


def test_assign_job_out_dir_aliases_and_a_second_out_dir(pages_root, tmp_path):
    """The published stage is found again however --out-dir is spelled,
    and a run publishing to another --out-dir from the same --work-dir
    recomputes instead of moving the first publish away."""
    work, out, out2 = str(tmp_path / "w"), str(tmp_path / "o"), str(tmp_path / "o2")
    r1 = _run(pages_root, work, out)
    pages = os.path.join(out, "assigned_pages")
    files = _page_files(pages)

    r2 = _run(pages_root, work, out + "/.")
    assert r2["cached"] is True and r2["rows"] == r1["rows"]
    assert _page_files(pages) == files
    assert _publish_id(out, "assigned_pages") == _publish_id(out, "lineage")

    published = {d: _publish_id(out, d) for d in ("assigned_pages", "lineage")}
    r3 = _run(pages_root, work, out2)
    assert r3["cached"] is False and r3["rows"] == r1["rows"]
    assert r3["methods"] == r1["methods"]
    assert _page_files(pages) == files
    assert {d: _publish_id(out, d) for d in ("assigned_pages", "lineage")} == published
    assert _publish_id(out2, "assigned_pages") == _publish_id(out2, "lineage")


def _commit_batch(spark, root, n, seed, domain):
    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages

    pdf = synthetic_pages(n=n, seed=seed).drop(columns=["kind"])
    pdf["url"] = pdf["url"].str.replace("example.org", domain)
    pt.commit_append(root, spark.createDataFrame(pdf))


def test_incremental_is_the_full_run_over_the_delta(spark, tmp_path):
    """An increment runs the full run's pipeline over the snapshot delta:
    any --stage2 plan serves it (auto honours the budget), each increment
    is text-verified and published with its lineage, and the union of
    increments/* equals a full run's assigned_pages at the same snapshot,
    every column, both ways. A re-run after a lost cursor advance is a
    manifest hit on the published increment: no page file is rewritten
    and the snapshot is listed once."""
    root, work, out = str(tmp_path / "tbl"), str(tmp_path / "w"), str(tmp_path / "o")
    cursor = os.path.join(work, "incremental.json")
    plans = [
        ((), "broadcast"),
        (("--stage2", "sharded"), "sharded"),
        (("--stage2", "auto", "--broadcast-budget-mb", "0.0001"), "sharded"),
    ]
    for k, (extra, stage2) in enumerate(plans):
        _commit_batch(spark, root, 200, 31 + k, f"site{k}.net")
        pre_run_cursor = open(cursor).read() if k else None
        r = _run(root, work, out, extra=("--incremental", *extra))
        assert r["incremental"] is True and r["delta_files"] >= 1
        assert r["rows"] == 200 and r["text_invariant_ok"] is True
        assert r["cached"] is False and r["stage2"] == stage2
        inc = os.path.join("increments", f"snap-{r['snapshot']}")
        assert _publish_id(out, inc) == _publish_id(
            out, os.path.join("increments_lineage", f"snap-{r['snapshot']}")
        )

    # crash between the publish and the cursor advance: the re-run replays
    files = _page_files(os.path.join(out, inc))
    with open(cursor, "w") as f:
        f.write(pre_run_cursor)
    r2 = _run(root, work, out, extra=("--incremental", *plans[-1][0]))
    assert r2["cached"] is True and r2["rows"] == 200
    assert r2["methods"] == r["methods"]
    assert _page_files(os.path.join(out, inc)) == files
    paths = [i["path"] for i in json.load(open(cursor))["increments"]]
    assert len(paths) == len(set(paths)) == len(os.listdir(os.path.join(out, "increments"))) == 3

    full_out = str(tmp_path / "full")
    rf = _run(root, str(tmp_path / "wf"), full_out)
    assert rf["snapshot"] == r["snapshot"] and rf["rows"] == 600
    incs = spark.read.parquet(os.path.join(out, "increments", "*"))
    full = spark.read.parquet(os.path.join(full_out, "assigned_pages"))
    assert incs.schema == full.schema
    assert incs.count() == 600
    assert incs.exceptAll(full).count() == 0 and full.exceptAll(incs).count() == 0


# runs jobs/assign_pages.py (argv[1]) with argv[2:] while the written
# stage's (url, text) hash reads one bit off
_SKEWED_HASH_RUN = """
import dataclasses, importlib.util, sys
from timezone_boundary_builder_spark.plans import lineage

real = lineage.summarize

def skewed(*a, **k):
    s = real(*a, **k)
    return dataclasses.replace(s, h=s.h ^ 1)

spec = importlib.util.spec_from_file_location("assign_pages_skewed", sys.argv[1])
job = importlib.util.module_from_spec(spec)
spec.loader.exec_module(job)
lineage.summarize = skewed
try:
    job.main(sys.argv[2:])
finally:
    lineage.summarize = real
"""


def test_incremental_refuses_a_text_hash_mismatch(spark, tmp_path):
    """An increment whose written (url, text) hash differs from the
    delta's publishes nothing, leaves the cursor where it was and drops
    the `increment` stage, so the next run recomputes it."""
    root, work, out = str(tmp_path / "tbl"), str(tmp_path / "w"), str(tmp_path / "o")
    argv = ["--pages-root", root, "--work-dir", work, "--out-dir", out,
            "--cores", "8", "--incremental"]
    cursor = os.path.join(work, "incremental.json")
    _commit_batch(spark, root, 120, 41, "one.net")
    r1 = _run(root, work, out, extra=("--incremental",))
    before = open(cursor).read()

    _commit_batch(spark, root, 80, 42, "two.net")
    proc = run_code(_SKEWED_HASH_RUN, [os.path.join(REPO, "jobs", "assign_pages.py"), *argv])
    assert proc.returncode == 1 and "invariant" in proc.stderr, proc.stderr[-3000:]
    assert open(cursor).read() == before
    assert os.listdir(os.path.join(out, "increments")) == [f"snap-{r1['snapshot']}"]
    assert os.listdir(os.path.join(out, "increments_lineage")) == [f"snap-{r1['snapshot']}"]
    assert not os.path.exists(os.path.join(work, "increment"))
    assert "increment" not in json.load(open(os.path.join(work, "_manifest.json")))

    r2 = _run(root, work, out, extra=("--incremental",))
    assert r2["cached"] is False and r2["rows"] == 80
    assert json.load(open(cursor))["last_snapshot"] == r2["snapshot"]

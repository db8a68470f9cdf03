"""End-to-end incremental maintenance soak (VERDICT r2 #8): the full
production loop — assign_pages --incremental per append snapshot, table
compaction and snapshot expiry via jobs/maintain_pages.py — driven over
several snapshots with a simulated crash in the worst-case window
(increment output written, the atomic cursor advance lost), asserting
every url is assigned exactly once and expiry keeps the full table."""

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
    from timezone_boundary_builder_spark.sources import pages as pt

    root = str(tmp_path / "tbl")
    work = str(tmp_path / "work")
    out = str(tmp_path / "out")
    cursor_path = os.path.join(work, "incremental.json")

    def run_increment():
        return _job(
            "assign_pages.py",
            "--pages-root", root, "--work-dir", work, "--out-dir", out,
            "--cores", "8", "--incremental",
        )

    # ---- snapshot 1: append 200 pages, increment
    pt.commit_append(root, spark.createDataFrame(_batch(200, 21, "alpha.net")))
    r1 = run_increment()
    assert r1["rows"] == 200

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

    # ---- compaction: a rewrite snapshot must contribute NO delta
    m1 = _job(
        "maintain_pages.py",
        "--pages-root", root, "--compact", "--expire",
        "--keep-last", "2", "--orphan-ttl-sec", "0",
    )
    assert "compacted_snapshot" in m1 and m1["rows"] == 400
    r3 = run_increment()
    assert r3["rows"] == 0 and r3["delta_files"] == 0

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
    r5 = run_increment()  # expiry must not disturb an up-to-date consumer
    assert r5["rows"] == 0

    # ---- exactness: despite crash + rerun, every url assigned exactly once
    inc_all = spark.read.parquet(f"{out}/increments/*")
    assert inc_all.count() == 600
    assert inc_all.select("url").distinct().count() == 600

    # ---- expiry kept the full logical table
    assert pt.scan(spark, root).count() == 600

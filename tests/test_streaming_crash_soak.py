"""Streaming crash/restart soak (round-4 verdict item 5), mirroring the
batch incremental soak (tests/test_incremental_soak.py): kill the
streaming assign and the stateful-dedup query MID-TRANCHE — after at
least one micro-batch has committed but before the tranche drains —
then restart from the same checkpoint with overlapping input and assert
exactly-once output equality vs the batch twin.

The parquet file sink's _spark_metadata commit log is what makes the
kill safe: parts written by an uncommitted micro-batch are invisible to
batch reads of the sink, and the restarted query re-runs that batch.
For the stateful dedup the state store in the checkpoint must carry the
already-emitted fingerprints across the crash so the overlapping rows
in the next tranche are suppressed.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
from timezone_boundary_builder_spark.sources.fixtures import (
    OCEAN_BANDS,
    synthetic_pages,
)


def _kill_mid_tranche(q, timeout_s: float = 120.0) -> int:
    """Stop the query as soon as one micro-batch has committed rows.
    Returns the number of input rows observed committed at the moment of
    the stop decision — the caller uses it to decide whether the kill
    really landed mid-tranche (a fast drain can commit everything
    between the poll and the stop; exactly-once must hold either way,
    but the strict partial-sink assertion only applies to a real
    mid-tranche kill). Returns -1 if the query self-terminated first
    (availableNow drains and stops on its own when done)."""
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if not q.isActive:
            return -1  # drained before we could kill it
        if sum(p["numInputRows"] for p in q.recentProgress) > 0:
            q.stop()
            q.awaitTermination(60)
            # count AFTER the stop settled: batches that raced to commit
            # between the poll and the stop must count, or the caller's
            # partial-sink assertion would mis-fire on a full drain
            return sum(p["numInputRows"] for p in q.recentProgress)
        time.sleep(0.05)
    raise AssertionError("no micro-batch committed within timeout")


def test_stream_assign_crash_restart_exactly_once(spark, tmp_path):
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    # 6 appends x 8 part files = 48 source files -> 6 micro-batches at
    # maxFilesPerTrigger=8: a wide crash window after batch 1 commits
    total = 0
    for seed in range(6):
        pdf = synthetic_pages(n=120, seed=seed).drop(columns=["kind"])
        pdf["url"] = f"s{seed}-" + pdf["url"].astype(str)
        total += len(pdf)
        spark.createDataFrame(pdf).repartition(8).write.mode("append").parquet(src)

    from timezone_boundary_builder_spark.streaming.assign_stream import stream_assign

    bc = spark.sparkContext.broadcast(entry._local_cellmap())
    q = stream_assign(spark, src, sink, ckpt, bc, OCEAN_BANDS)
    seen = _kill_mid_tranche(q)

    if 0 <= seen < total:
        # the crash left the tranche partially processed (committed
        # batches only — uncommitted parts are invisible via the sink
        # log); when all batches raced to completion before the stop
        # landed, only the exactly-once assertions below apply
        n_after_crash = spark.read.parquet(sink).count()
        assert n_after_crash < total

    # overlapping-input window: a new tranche lands while the query is down
    t2 = synthetic_pages(n=100, seed=99).drop(columns=["kind"])
    t2["url"] = "t2-" + t2["url"].astype(str)
    total += len(t2)
    spark.createDataFrame(t2).repartition(4).write.mode("append").parquet(src)

    # restart from the same checkpoint; availableNow drains everything
    q2 = stream_assign(spark, src, sink, ckpt, bc, OCEAN_BANDS)
    q2.awaitTermination(300)

    got = spark.read.parquet(sink).toPandas().sort_values("url").reset_index(drop=True)
    assert len(got) == total and got.url.nunique() == total  # exactly once

    from timezone_boundary_builder_spark.operators.geocode import with_coordinates
    from timezone_boundary_builder_spark.operators.spatial_join import (
        assign_tzid_udf_packed,
        pack_coords_col,
    )

    batch = (
        assign_tzid_udf_packed(
            with_coordinates(spark.read.parquet(src)).select(
                "url", pack_coords_col()
            ),
            bc,
            OCEAN_BANDS,
        )
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["url", "tzid", "method"]], batch[["url", "tzid", "method"]]
    )
    bc.unpersist()


def test_stream_dedup_crash_restart_exactly_once(spark, tmp_path):
    from timezone_boundary_builder_spark.streaming.assign_stream import (
        stream_dedup_first_seen,
    )

    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    def write_pages(rows, parts):
        pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "text"]).assign(
            html=lambda d: d.text.str.encode("utf8"),
            lang="en",
            warc_ts=lambda d: pd.to_datetime(d.warc_ts),
        )
        spark.createDataFrame(
            pdf[["url", "warc_ts", "html", "text", "lang"]]
        ).repartition(parts).write.mode("append").parquet(src)

    # tranche A: 120 distinct fingerprints, each duplicated twice within
    # the tranche (uA-i earliest, dA-i the later dup), across 24 files
    # -> 3 micro-batches
    for blk in range(3):
        rows = []
        for i in range(blk * 40, blk * 40 + 40):
            rows.append((f"uA-{i:03d}", "2026-01-01 10:00", f"doc number {i}"))
            rows.append((f"dA-{i:03d}", "2026-01-02 10:00", f"DOC   NUMBER {i}"))
        write_pages(rows, parts=8)

    q = stream_dedup_first_seen(spark, src, sink, ckpt)
    seen = _kill_mid_tranche(q)
    if 0 <= seen < 240:  # 240 input rows feed the 120 fingerprints
        assert spark.read.parquet(sink).count() < 120

    # tranche B lands during the outage and OVERLAPS tranche A: every
    # fingerprint in [80, 120) recurs (must be suppressed by checkpoint
    # state even though the crash happened mid-tranche), plus 30 new
    rows = [
        (f"dB-{i:03d}", "2026-01-03 10:00", f"doc  number {i}") for i in range(80, 120)
    ] + [
        (f"uB-{i:03d}", "2026-01-03 11:00", f"fresh doc {i}") for i in range(30)
    ]
    write_pages(rows, parts=6)

    q2 = stream_dedup_first_seen(spark, src, sink, ckpt)
    q2.awaitTermination(300)

    got = spark.read.parquet(sink).toPandas()
    # exactly-once: one row per fingerprint, 120 from A + 30 new from B
    assert got.fingerprint.nunique() == len(got) == 150
    batch_fps = (
        spark.read.parquet(src)
        .select(
            F.md5(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
            ).alias("fp")
        )
        .distinct()
    )
    assert set(got.fingerprint) == {r.fp for r in batch_fps.collect()}
    # within-tranche ordering survived the crash: for every tranche-A
    # fingerprint the earliest (warc_ts, url) row — the uA url — won
    a_rows = got[got.keep_url.str.startswith(("uA-", "dA-"))]
    assert len(a_rows) == 120 and a_rows.keep_url.str.startswith("uA-").all()
    b_rows = got[got.keep_url.str.startswith("uB-")]
    assert len(b_rows) == 30

"""Structured Streaming entry points.

The reference is strictly batch (SURVEY.md §2.3: "no streaming"); these
exist because the serving layer's input is a continuously-crawled pages
table. Same operators, streaming plan:

- `stream_assign`: readStream over the pages directory -> JVM-side
  geocode (with_coordinates) -> the batch job's assignment surface
  (pack_coords_col + assign_tzid_udf_packed: same 1e-6 coordinate grid,
  same Arrow shape, same kernel call) -> parquet sink with
  checkpointLocation. Restart-safe: the sink's checkpoint + the
  append-only source give exactly-once file output.
- `stream_event_counts`: watermarked sliding-window aggregation over the
  events table (the canonical late-data pattern).
- `stream_dedup_first_seen`: custom stateful operator via
  applyInPandasWithState — exactly-once crawl-time dedup whose per-key
  state survives micro-batches and query restarts.

All are testable offline with trigger(availableNow=True).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.geocode import with_coordinates
from ..operators.spatial_join import assign_tzid_udf_packed, pack_coords_col
from ..sources.pages import PAGES_SCHEMA


def stream_assign(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    cellmap_bc,
    ocean_bands: list[dict],
):
    """Streaming two-stage spatial join. Returns the StreamingQuery
    (caller awaits termination; availableNow drains existing files)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    pts = with_coordinates(pages).select("url", "lon", "lat", pack_coords_col())
    assigned = assign_tzid_udf_packed(pts, cellmap_bc, ocean_bands)
    return (
        assigned.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_event_counts(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation over a streamed events table
    (event_id, ts, user_id, event_type, value). Returns the streaming
    DataFrame; callers attach a sink (tests use a memory sink +
    availableNow)."""
    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(source_dir)
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(w, F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sessions(
    spark: SparkSession,
    source_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows over a streamed events table via the
    native session_window (merging windows; state closes once the
    watermark passes a session's end). Batch twin: the same
    session_window groupBy on a static read — tests assert the streaming
    availableNow result equals it row-for-row."""
    ev = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(source_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            "n_events",
        )
    )


def stream_dedup_first_seen(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    state_ttl_minutes: float | None = None,
):
    """Custom stateful streaming operator: crawl-time exact dedup.

    groupBy(fingerprint).applyInPandasWithState — state is one boolean per
    fingerprint ("already emitted"); within a micro-batch the earliest
    (warc_ts, url) row wins, across micro-batches AND query restarts the
    state store in the checkpoint guarantees a fingerprint is emitted
    exactly once. This is the streaming twin of dedup_exact: the batch op
    groupBy+min can't run incrementally because a later micro-batch must
    not re-emit a fingerprint the stream already kept.

    state_ttl_minutes bounds the state store on unbounded crawls
    (processing-time timeout evicts a fingerprint after the TTL, after
    which a recurrence is treated as new — the standard state-size /
    dedup-window trade every streaming dedup at crawl scale makes).

    Scale: state is ~40 bytes per distinct fingerprint, hash-partitioned
    by the shuffle on fingerprint — the same key the batch dedup shuffles
    on, so skew behaviour is identical (fingerprints are md5s: uniform).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.text import norm_text_col

    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    # the ONE shared dedup normalization (operators.text.norm_text_col):
    # streaming fingerprints must never drift from the batch twin's
    fp = pages.withColumn("fingerprint", F.md5(norm_text_col())).select(
        "fingerprint", "url", "warc_ts"
    )

    def _dedup(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: PLC0415 (worker-side import)

        if state.hasTimedOut:
            state.remove()  # TTL eviction: forget the fingerprint
            return iter(())
        best = None
        for pdf in pdfs:
            pdf = pdf.sort_values(["warc_ts", "url"], kind="stable")
            cand = pdf.iloc[0]
            if best is None or (cand["warc_ts"], cand["url"]) < (
                best["warc_ts"],
                best["url"],
            ):
                best = cand
        if state.exists or best is None:
            if state.exists and state_ttl_minutes:
                state.setTimeoutDuration(int(state_ttl_minutes * 60_000))
            return iter(())
        state.update((True,))
        if state_ttl_minutes:
            state.setTimeoutDuration(int(state_ttl_minutes * 60_000))
        return iter(
            [
                pd.DataFrame(
                    {
                        "fingerprint": [key[0]],
                        "keep_url": [best["url"]],
                        "first_ts": [best["warc_ts"]],
                    }
                )
            ]
        )

    deduped = fp.groupBy("fingerprint").applyInPandasWithState(
        _dedup,
        outputStructType="fingerprint string, keep_url string, first_ts timestamp",
        stateStructType="emitted boolean",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_minutes
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

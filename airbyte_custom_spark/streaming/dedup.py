"""In-stream deduplication for at-least-once upstream sources.

The reference has no event-time windowing; its "late data" is out-of-order
LSNs handled by cursor-ordered dedup (SURVEY.md §2.6 note).  When the
upstream transport itself can replay events (e.g. a Kafka topic written
at-least-once by a Debezium connector), duplicates share the same lsn —
this helper drops them inside the stream with bounded state:

  withWatermark(ts, horizon) + dropDuplicatesWithinWatermark(keys)

State is evicted once the watermark passes an event's ts, so memory is
bounded by (event rate × horizon), independent of total stream length.
NOTE: the merge path is already idempotent for same-lsn replays (the
latest-per-key top-1 keeps one copy of the winning row), so this stage is an
optimization that shrinks shuffle volume, not a correctness requirement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dedup_within_watermark(
    stream_df: DataFrame,
    keys: tuple[str, ...] = ("lsn",),
    ts_col: str = "_ab_cdc_updated_at",
    horizon: str = "10 minutes",
) -> DataFrame:
    """Drop exact replays (same ``keys``) arriving within ``horizon`` of
    each other, with watermark-bounded state."""
    out = stream_df.withWatermark(ts_col, horizon)
    if hasattr(out, "dropDuplicatesWithinWatermark"):
        return out.dropDuplicatesWithinWatermark(list(keys))
    return out.dropDuplicates(list(keys))


def event_time_stats(
    stream_df: DataFrame,
    ts_col: str = "_ab_cdc_updated_at",
    window: str = "1 minute",
    horizon: str = "10 minutes",
    by_op: bool = False,
):
    """Tumbling-window event counts with late-data tolerance — the
    watermarked streaming aggregation (monitoring side-channel, not part
    of the replication path).  Rows later than ``horizon`` behind the
    watermark are DROPPED from their window (bounded state: live windows
    only — at 100 TB the state store holds rate × horizon, not history).

    Works on a batch DataFrame too (withWatermark is a no-op there),
    where it equals plain GROUP BY time-bucket SQL — which is exactly
    what the driver-contract oracle checks the streaming run against.

    Epoch-aligned tumbling windows: ``window(ts, w).start`` matches
    DuckDB's ``time_bucket(INTERVAL w, ts)``."""
    # group on the window() struct itself — that is what marks this as an
    # EVENT-TIME aggregation (watermark-evicted state, late-row drops);
    # the start timestamp is projected after the agg
    keys = [F.window(F.col(ts_col), window)]
    out_keys = [F.col("window.start").alias("ws")]
    if by_op:
        keys.append(F.col("op"))
        out_keys.append(F.col("op"))
    agg = (
        stream_df.withWatermark(ts_col, horizon)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
    )
    return agg.select(*out_keys, "events", "min_lsn", "max_lsn")


def session_stats(
    stream_df: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "_ab_cdc_updated_at",
    gap: str = "1 day",
    horizon: str = "7 days",
):
    """Per-key session-window aggregation over event time — Spark's
    native merging session windows (`F.session_window`): a key's events
    chain into one session while each consecutive gap stays under
    ``gap``; windows merge across micro-batches, watermark evicts closed
    sessions (bounded state: live sessions only).

    Works on a batch DataFrame too (withWatermark is a no-op there),
    where the result equals the lag/cumulative-flag-sum SQL derivation —
    which is exactly what the driver-contract oracle value-checks the
    streaming run against.  Merge rule (and the oracle's): a new session
    starts when ts - prev_ts >= gap (session windows are half-open
    [ts, ts+gap) — touching windows do NOT merge).

    Session end is Spark's convention: last event + gap."""
    agg = (
        stream_df.withWatermark(ts_col, horizon)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
    )
    return agg.select(
        F.col(key_col),
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "events",
        "min_lsn",
        "max_lsn",
    )

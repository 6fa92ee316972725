"""Raw/final two-table model + T4 dedupRawTable (SURVEY.md §2.4).

The reference lands every record in an append-only RAW table
(`_airbyte_raw_*`: raw_id, extracted_at, loaded_at, data — `JavaBaseConstants
.java:29-43`), types+dedups into the FINAL table, then T4 deletes raw rows
that have been superseded AND typed (`BigQuerySqlGenerator.java` dedup of
the raw table keeps one raw row per pk).

The engine's primary path doesn't need a raw table (snapshot manifests +
tombstones already give replay, audit, and out-of-order safety — see
lake/table.py), but the raw/final shape is part of the reference's surface,
so it is available here as a composition:

  * RAW   = a LakeTable used in append mode over the CDC event envelope
            (every event version retained, `_lsn` = the event's position);
  * FINAL = the usual merged table;
  * T4    = ``dedup_raw_table``: rewrite RAW keeping only the latest raw
            row per pk at-or-below the final table's applied watermark —
            superseded, already-typed history is dropped; anything newer
            than the watermark is retained untouched (it may not be typed
            yet).

Scale shape: the dedup is the same WindowGroupLimit latest-per-key reduce
the merge uses (map-side collapse, hash-prefixed keys), applied only to
raw rows ≤ the watermark; the rewrite is one bucketed overwrite of the
affected buckets.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.operators.dedupe import latest_per_key


def dedup_raw_table(raw: LakeTable, applied_lsn_watermark: int | None = None) -> int:
    """T4: drop superseded raw history.

    Keeps, per primary key: the single latest raw row with
    ``_lsn <= watermark`` (the typed state's source-of-truth row), plus
    EVERY row above the watermark (not yet typed — must be preserved
    verbatim).  ``applied_lsn_watermark`` defaults to the raw table's own
    cumulative applied watermark when recorded; with no watermark at all,
    the whole table dedups to latest-per-key (the reference's plain raw
    dedup)."""
    wm = applied_lsn_watermark
    if wm is None:
        wm = raw.applied_lsn_high_watermark()

    rows = raw.read(include_deleted=True, include_meta=True)
    if wm is None:
        keep = latest_per_key(rows, raw.primary_key, order_col="_lsn",
                              delete_col="_deleted")
    else:
        typed = rows.filter(F.col("_lsn") <= F.lit(wm))
        pending = rows.filter(F.col("_lsn") > F.lit(wm))
        keep = latest_per_key(
            typed, raw.primary_key, order_col="_lsn", delete_col="_deleted"
        ).unionByName(pending)

    # the raw rows already carry their meta columns — write them back
    # verbatim under a new snapshot (overwrite semantics, one commit)
    snap = raw._next_snapshot("dedup-raw")
    snap["manifests"] = [raw._write_data(keep, snap)]
    raw._commit(snap)
    return snap["version"]


def retype_from_raw(
    raw: LakeTable,
    final_path: str,
    payload_schema=None,
    primary_key: tuple[str, ...] = ("conv_id", "turn_idx"),
    num_buckets: int = 16,
) -> LakeTable:
    """Rebuild a typed FINAL table from retained raw JSON envelopes — the
    reference's re-type-from-raw guarantee (`typing-deduping.md:5-70`:
    `_airbyte_data` keeps every payload byte, so any typing decision can
    be revisited by re-running T+D).  ``raw`` is the append-only envelope
    table a `JsonCdcIngestJob(raw_table_path=…)` maintains.

    With ``payload_schema`` None, the final table starts with an empty
    payload and all history runs through the ingest's own JSON typing
    stage at once (`streaming/pipeline.py::infer_evolve_extract`): exact
    key discovery, the same P7 naming and collision rule, types from the
    bounded sample — so raw keys land in the columns the live ingest gave
    them, and a type that stabilized late applies to every row.  Columns
    come in discovery order.  With a ``payload_schema``, the rows are
    typed under it as given.  One merge call = one WindowGroupLimit
    reduce over the full history; delete events tombstone their keys
    exactly as live ingest would."""
    from airbyte_custom_spark.operators.typed import extract_payload
    from airbyte_custom_spark.schema import PAYLOAD_COL
    from airbyte_custom_spark.streaming.pipeline import infer_evolve_extract

    rows = raw.read(include_deleted=True, include_meta=True)
    env_cols = [
        c
        for c in ("op", "_ab_cdc_updated_at", "_ab_cdc_deleted_at", "source_partition")
        if c in rows.columns
    ]
    events = rows.select(
        F.col("_lsn").alias("lsn"), F.col(PAYLOAD_COL), *[F.col(c) for c in env_cols]
    )
    final = LakeTable.create(
        raw.spark,
        final_path,
        payload_schema or T.StructType([]),
        primary_key=primary_key,
        num_buckets=num_buckets,
    )
    if payload_schema is None:
        typed = infer_evolve_extract(events, final)
    else:
        typed = extract_payload(events, payload_schema)
    final.merge(typed, batch_id=0, query_id="retype-from-raw")
    return final

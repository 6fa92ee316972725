"""Stream / job configuration — the ConfiguredAirbyteStream analog.

Mirrors the reference's ConfiguredAirbyteStream fields
(`docs/understanding-airbyte/airbyte-protocol.md:357-420`):
sync_mode (full_refresh | incremental), destination_sync_mode
(append | overwrite | append_dedup), cursor_field, primary_key.
Cursor resolution precedence: source-defined > configured > default
(`airbyte-protocol.md:422-429`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class SyncMode(str, Enum):
    FULL_REFRESH = "full_refresh"
    INCREMENTAL = "incremental"


class DestinationSyncMode(str, Enum):
    APPEND = "append"
    OVERWRITE = "overwrite"
    APPEND_DEDUP = "append_dedup"


@dataclass(frozen=True)
class StreamConfig:
    name: str = "transcripts"
    namespace: str = "default"
    sync_mode: SyncMode = SyncMode.INCREMENTAL
    destination_sync_mode: DestinationSyncMode = DestinationSyncMode.APPEND_DEDUP
    # pk per BASELINE.json input_hint; cursor = lsn (≅ _ab_cdc_cursor,
    # SURVEY.md §2 T10: our ordering key is the LSN total order).
    primary_key: tuple[str, ...] = ("conv_id", "turn_idx")
    cursor_field: str = "lsn"
    source_defined_cursor: bool = True
    default_cursor_field: str = "lsn"

    def resolved_cursor(self, configured: str | None = None) -> str:
        """source-defined > configured > default (`airbyte-protocol.md:422-429`)."""
        if self.source_defined_cursor:
            return self.cursor_field
        return configured or self.default_cursor_field


@dataclass
class IngestConfig:
    """Knobs for the streaming ingest job (streaming/pipeline.py)."""

    stream: StreamConfig = field(default_factory=StreamConfig)
    query_id: str = "cdc-ingest"
    # checkpoint cadence analog (`DebeziumIteratorConstants.java:11-16`):
    # Structured Streaming checkpoints per micro-batch; max_files_per_trigger
    # bounds batch size like the reference's 10k-record queue bound
    # (`AirbyteDebeziumHandler.java:41-45`).
    max_files_per_trigger: int | None = None
    # fail the batch if any pk column is null (`BigQuerySqlGenerator.java:391-416`)
    validate_pk: bool = True
    # what to do with pk-violating rows when validate_pk is on:
    #   "fail"   — reference T1 behavior: abort the sync;
    #   "ignore" — reference A3 behavior: drop them, count them per batch
    #              (`BufferedStreamConsumer.java:200-202,290-291`)
    pk_violations: str = "fail"
    # capture per-partition lineage rows into the commit snapshot
    record_lineage: bool = True
    # GLOBAL-state jobs only: overlap this many per-stream typed-slice +
    # merge pipelines via driver threads (each stream targets its OWN
    # table, so the merges are independent Spark jobs; overlapping them
    # fills executor slots that one small stream's stages would leave
    # idle).  1 = sequential (reference behavior: one buffered consumer
    # drains streams in turn, `BufferedStreamConsumer.java:200-291`).
    stream_parallelism: int = 1
    # merge-on-read C8 cadence valve: after a committed batch, if the
    # target table carries more outstanding delta manifests than this,
    # fold them into the base (LakeTable.compact_deltas) before the next
    # trigger — bounding read amplification the same way the reference's
    # T+D-every-N-batches valve bounds raw-table growth
    # (`DefaultTyperDeduper` cadence).  The check reads snapshot rollups
    # only (zero I/O).  None = never auto-fold (maintenance job folds).
    mor_delta_budget: int | None = None

    def __post_init__(self):
        if self.pk_violations not in ("fail", "ignore"):
            raise ValueError(
                f"pk_violations must be 'fail' or 'ignore', got {self.pk_violations!r}"
            )

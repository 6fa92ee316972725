"""Per-partition lineage + throughput metrics (SURVEY.md §2.5 / north rule).

Reference analog: record/byte counters logged periodically
(`AbstractDbSource.java:415-424`), per-run records/sec + MB/s
(`connectors-performance/source-harness/.../PerformanceTest.java:64-68,
98-108`).  Here each micro-batch records:

  * lineage: per source partition — event count, min/max lsn — persisted
    into the commit snapshot (so every table version says exactly which
    offsets of which source partitions it contains);
  * throughput: events, wall seconds, events/sec per batch, appended as
    JSON lines to a metrics log the bench and the scaling report read.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class BatchMetrics:
    batch_id: int
    events: int
    seconds: float
    skipped: bool = False
    version: int | None = None
    touched_buckets: int = 0
    # A3 ignored-record count (pk_violations="ignore" policy,
    # `BufferedStreamConsumer.java:200-202,290-291` analog)
    ignored: int = 0

    @property
    def events_per_sec(self) -> float:
        return self.events / self.seconds if self.seconds > 0 else 0.0


@dataclass
class BatchMetricsLog:
    """Accumulates per-batch metrics; optionally appends JSON lines to a
    file (survives the job for the scaling report)."""

    path: str | None = None
    batches: list[BatchMetrics] = field(default_factory=list)

    def record(self, m: BatchMetrics) -> None:
        self.batches.append(m)
        if self.path:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            with open(self.path, "a") as f:
                f.write(
                    json.dumps(
                        {
                            "batch_id": m.batch_id,
                            "events": m.events,
                            "seconds": round(m.seconds, 4),
                            "events_per_sec": round(m.events_per_sec, 2),
                            "skipped": m.skipped,
                            "version": m.version,
                            "touched_buckets": m.touched_buckets,
                            "ignored": m.ignored,
                            "wall_clock": time.time(),
                        }
                    )
                    + "\n"
                )

    @property
    def total_events(self) -> int:
        return sum(b.events for b in self.batches if not b.skipped)

    @property
    def total_seconds(self) -> float:
        return sum(b.seconds for b in self.batches if not b.skipped)

    @property
    def overall_events_per_sec(self) -> float:
        s = self.total_seconds
        return self.total_events / s if s > 0 else 0.0

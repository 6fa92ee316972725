"""The streaming CDC ingest job: binlog-segment tail → validate → reduce →
MERGE, checkpointed and exactly-once (SURVEY.md §3 "Our Spark lifecycle").

Replaces three reference layers at once:
  * source read loop + STATE checkpoints (`AbstractDbSource.java:349-464`,
    `DebeziumStateDecoratingIterator.java:126-172`) → Structured Streaming
    checkpoint (offsets/ + commits/ under checkpoint_dir);
  * destination buffered/async consumer (`BufferedStreamConsumer.java:
    185-328`, `AsyncStreamConsumer.java:104-155`) → foreachBatch;
  * typing+dedup transaction (`DefaultTyperDeduper.java:100-286`) →
    LakeTable.merge per micro-batch.

Exactly-once: Structured Streaming replays the last uncommitted batch_id
after a crash; LakeTable's per-query batch manifest turns the replay into a
no-op (the pending→flushed→committed watermark of
`GlobalAsyncStateManager.java:34-160`, collapsed into one atomic commit).

Bounded runs use ``availableNow`` — the analog of the reference's
target-position stop (`MySqlCdcTargetPosition.java:72-104`): capture what
exists at start, drain it, stop.  An explicit ``target_lsn`` additionally
filters events beyond a fixed LSN (`DebeziumRecordIterator.java:112-141`).
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from airbyte_custom_spark.config import IngestConfig
from airbyte_custom_spark.lake.table import LakeTable, MergeResult, read_parquet
from airbyte_custom_spark.operators.dedupe import NullPrimaryKeyError
from airbyte_custom_spark.schema import CDC_EVENT_SCHEMA, JSON_CDC_EVENT_SCHEMA
from airbyte_custom_spark.streaming.metrics import BatchMetrics, BatchMetricsLog


class StaleOffsetError(RuntimeError):
    """Saved offset is no longer covered by source retention (C7)."""


class CdcIngestJob:
    """Tail a directory of binlog-segment parquet files into a LakeTable.

    In production the source would be `spark.readStream.format("kafka")`
    over a Debezium topic; the file tail has identical semantics (ordered
    segments, offset tracking, replay on restart) and is what the sandbox
    can exercise.  Only the ``_source_stream`` method would change.
    """

    # schema of the source's events; the JSON jobs read the raw envelope
    _event_schema = CDC_EVENT_SCHEMA

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        source_dir: str,
        checkpoint_dir: str,
        config: IngestConfig | None = None,
        target_lsn: int | None = None,
    ):
        self.spark = spark
        self.table_path = table_path
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.config = config or IngestConfig()
        self.target_lsn = target_lsn
        self.metrics = BatchMetricsLog(
            path=os.path.join(checkpoint_dir, "metrics", "batches.jsonl")
        )
        # test hook: raise after N batches to simulate a crash
        self.fail_after_batches: int | None = None
        self._batches_run = 0
        self._stream_id: str | None = None

    # ------------------------------------------------------------ source

    def _source_stream(self) -> DataFrame:
        # subclass schema hook (JsonCdcIngestJob carries a raw `payload`
        # column) — the stream MUST open with the same schema _resolve_batch
        # re-reads with, so the fallback path (no file-source log, e.g. a
        # non-local checkpoint store) still hands _transform_batch a frame
        # with the right columns
        reader = self.spark.readStream.schema(self._stream_schema())
        if self.config.max_files_per_trigger:
            # micro-batch size bound — the reference's 10k-event queue cap
            # (`AirbyteDebeziumHandler.java:41-45`) analog
            reader = reader.option(
                "maxFilesPerTrigger", str(self.config.max_files_per_trigger)
            )
        return reader.parquet(self.source_dir)

    def _manifest_query_id(self) -> str:
        """Manifest key = config.query_id scoped by the streaming query's
        PERSISTENT id (stored in <checkpoint>/metadata).

        Batch ids are only monotonic within one checkpoint lineage: a fresh
        checkpoint restarts at batch 0 and may pack different files per
        batch, so an unscoped manifest would silently SKIP unapplied events.
        Scoping by the checkpoint's query id makes a fresh checkpoint replay
        everything instead — safe, because the merge is idempotent for
        re-applied events (same lsn ⇒ same winner)."""
        if self._stream_id is None:
            meta = os.path.join(self.checkpoint_dir, "metadata")
            try:
                with open(meta) as f:
                    self._stream_id = json.load(f)["id"]
            except (OSError, KeyError, ValueError):
                self._stream_id = "direct"
        return f"{self.config.query_id}@{self._stream_id}"

    # ------------------------------------------------------- batch apply

    def _stream_schema(self):
        return self._event_schema

    def _targets(self, qid: str) -> list[tuple[str | None, str, str]]:
        """(stream, table path, manifest query id) for each table the
        batch feeds.  A single-table job is the one-stream case: stream
        None, whose slice is the whole batch."""
        return [(None, self.table_path, qid)]

    def _slice(self, events: DataFrame, stream: str | None) -> DataFrame:
        """The rows of the batch that ``stream``'s table applies."""
        return events

    def _resolve_batch(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Swap the foreachBatch DataFrame for a REAL parquet scan of the
        same files whenever the file-source checkpoint log can name them.

        The DataFrame Spark hands to foreachBatch over a file source is
        backed by `Scan ExistingRDD` — a row-at-a-time bridge with NO
        column pruning and no parquet split planning, re-executed in full
        by EVERY downstream job (measured 2.7× slower for the pruned
        stats pass at 16M rows).  The source's own log
        (`<ckpt>/sources/0/<batchId>`, the replay source of truth) lists
        the batch's exact files; re-reading them via ``read_parquet``
        restores pushdown, pruning, and vectorized decode for the stats
        pass AND the merge input, with no listing job however many files
        the trigger took.  Falls back to ``batch_df``
        untouched when the log is absent (non-file sources)."""
        log_dir = os.path.join(self.checkpoint_dir, "sources", "0")
        lines: list[str] = []
        for name in (str(batch_id), f"{batch_id}.compact"):
            try:
                with open(os.path.join(log_dir, name)) as f:
                    lines = f.read().splitlines()
                break
            except OSError:
                continue
        files = []
        for ln in lines[1:]:  # first line is the log version header
            try:
                e = json.loads(ln)
            except ValueError:
                continue
            if e.get("batchId") == batch_id and e.get("path"):
                files.append(e["path"])
        if not files:
            return batch_df
        return read_parquet(self.spark, self._stream_schema(), files)

    def _transform_batch(
        self, events: DataFrame, table: LakeTable, batch_id: int
    ) -> DataFrame:
        """Per-batch transform hook, applied before validation/stats/merge.
        The base job ingests already-typed events; the JSON jobs
        (`_JsonPayload`) override this with the schema-inference +
        evolution + typed-cast stage (`JsonCdcIngestJob` adds, when
        configured, the raw-envelope append keyed by ``batch_id``).  A
        transform that attaches a hidden ``_acs_keys`` column gets it
        folded into the stats aggregation and fed back through
        ``_post_discovery``."""
        return events

    def _post_discovery(
        self, raw_events: DataFrame, table: LakeTable, tags: list[str]
    ) -> DataFrame | None:
        """Fused-discovery callback: receives the exact tag set the stats
        agg collected; may evolve the table and return a REBUILT transform
        of ``raw_events`` (None = keep the already-built one)."""
        return None

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Apply one micro-batch to every target table that has not
        committed it yet, then record one ``BatchMetrics``.  Driver-side
        manifest reads pick those tables BEFORE the data is touched, so a
        fully-applied replay is free.  When more than one slice reads the
        batch it persists once (DISK_ONLY — memory-deserialized caching
        measured slower than recompute on this class of batch), so N
        streams cost one source scan, not N."""
        start = time.monotonic()
        self._batches_run += 1
        if self.fail_after_batches is not None and self._batches_run > self.fail_after_batches:
            raise RuntimeError(f"injected failure before batch {batch_id}")

        # reload: each batch merges against the latest committed snapshot
        pending = []
        for stream, path, qid in self._targets(self._manifest_query_id()):
            table = LakeTable.load(self.spark, path)
            if batch_id > table.last_committed_batch(qid):
                pending.append((stream, table, qid))
        if not pending:
            self.metrics.record(
                BatchMetrics(batch_id=batch_id, events=0, seconds=0.0, skipped=True)
            )
            return

        events = self._resolve_batch(batch_df, batch_id)
        if self.target_lsn is not None:
            events = events.filter(F.col("lsn") <= F.lit(self.target_lsn))
        persisted = None
        if len(pending) > 1:
            persisted = events = events.persist(StorageLevel.DISK_ONLY)
        par = min(self.config.stream_parallelism, len(pending))

        def apply(target):
            stream, table, qid = target
            return self._apply_table(
                table, qid, self._slice(events, stream), batch_id, par > 1
            )

        try:
            if par > 1:
                # overlap independent per-stream pipelines: each targets
                # its OWN table, so the merges are disjoint Spark jobs —
                # concurrent driver threads keep the executor slots full
                # while any one stream's small stages ramp up/down.
                # Failure semantics match a sequential crash: already-
                # committed streams skip on replay via their manifests.
                with ThreadPoolExecutor(max_workers=par) as pool:
                    # list() re-raises the first pk-fail / merge error
                    applied = list(pool.map(apply, pending))
            else:
                applied = [apply(target) for target in pending]
        finally:
            if persisted is not None:
                persisted.unpersist()
        # C8 valve for merge-on-read tables: fold outstanding deltas once
        # they exceed the configured budget — stats() is a snapshot-rollup
        # read (zero file I/O), so the check costs nothing per batch.  It
        # runs here, on the driver thread, because compact_deltas pins
        # the session's shuffle confs
        budget = self.config.mor_delta_budget
        results = [result for result, _, _ in applied]
        for (_, table, _), result in zip(pending, results):
            if (
                budget is not None
                and not result.skipped
                and table.stats().get("delta_files", 0) > budget
            ):
                table.compact_deltas()
        self.metrics.record(
            BatchMetrics(
                batch_id=batch_id,
                events=sum(n for _, n, _ in applied),
                seconds=time.monotonic() - start,
                skipped=all(r.skipped for r in results),
                version=results[0].version if len(results) == 1 else None,
                touched_buckets=sum(len(r.touched_buckets) for r in results),
                ignored=sum(ignored for _, _, ignored in applied),
            )
        )

    def _apply_table(
        self,
        table: LakeTable,
        qid: str,
        events: DataFrame,
        batch_id: int,
        concurrent: bool,
    ) -> tuple[MergeResult, int, int]:
        """One table's slice of the batch: transform → fused stats → pk
        policy → lineage → merge.  Returns (merge result, events applied,
        rows ignored).  ``concurrent`` is set on pool threads, whose merge
        must leave the session confs alone."""
        raw_events = events  # pre-transform, for fused-discovery rebuilds
        events = self._transform_batch(events, table, batch_id)
        discover = "_acs_keys" in events.columns

        # ONE metadata aggregation replaces three separate jobs (validate /
        # lineage / touched-buckets): group by (source_partition, bucket) —
        # ≤ partitions × num_buckets rows — then fan the answers out on the
        # driver.  Map-side combine makes this a single cheap pass.
        pk_null = F.lit(False)
        for k in table.primary_key:
            pk_null = pk_null | F.col(k).isNull()
        aggs = [
            F.count(F.lit(1)).alias("events"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
            F.sum(pk_null.cast("int")).alias("null_pk"),
        ]
        if discover:
            # fused exact key discovery (attach_discovery): fold the tag
            # arrays into THIS aggregation — per-group key-combo sets
            # collapse map-side; no separate discovery job ever runs
            aggs.append(_folded_tags().alias("_keys"))
        stats = (
            events.groupBy(
                F.col("source_partition").alias("sp"),
                table.bucket_expr(events).alias("b"),
            )
            .agg(*aggs)
            .collect()
        )
        if discover:
            tags = sorted({t for r in stats for t in (r["_keys"] or [])})
            events = events.drop("_acs_keys")
            rebuilt = self._post_discovery(raw_events, table, tags)
            if rebuilt is not None:
                events = rebuilt
        ignored = 0
        if self.config.validate_pk:
            n_bad = sum(r["null_pk"] for r in stats)
            if n_bad > 0 and self.config.pk_violations == "fail":
                raise NullPrimaryKeyError(
                    f"batch {batch_id} contains rows with NULL primary key "
                    f"column(s) {table.primary_key} for table {table.path}"
                )
            if n_bad > 0:
                # A3 ignore policy: drop the violating rows, count them
                ignored = n_bad
                events = events.filter(~pk_null)
        touched = sorted({r["b"] for r in stats})
        lineage = None
        if self.config.record_lineage:
            per_part: dict = {}
            for r in stats:
                p = per_part.setdefault(
                    r["sp"], {"source_partition": r["sp"], "events": 0,
                              "min_lsn": r["min_lsn"], "max_lsn": r["max_lsn"]}
                )
                p["events"] += r["events"]
                p["min_lsn"] = min(p["min_lsn"], r["min_lsn"])
                p["max_lsn"] = max(p["max_lsn"], r["max_lsn"])
            lineage = sorted(
                per_part.values(),
                key=lambda d: (d["source_partition"] is None, d["source_partition"]),
            )

        # no pre-reduce: merge's union + latest_per_key IS the
        # latest-per-key reduction, with a map-side top-1 per key — a
        # separate reduce would just add a full extra shuffle of the batch
        result = table.merge(
            events,
            batch_id=batch_id,
            query_id=qid,
            lineage=lineage,
            validate_pk=False,  # validated via the stats aggregation above
            touched_buckets=touched,
            # the pinned single-exchange plan sets session shuffle confs,
            # which concurrent merges would clobber; the unpinned plan
            # costs one extra exchange of already-reduced rows only
            pin_exchange=not concurrent,
        )
        if result.skipped:
            return result, 0, 0
        return result, sum(r["events"] for r in stats) - ignored, ignored

    # ----------------------------------------------------- offset validity

    def check_source_continuity(self) -> None:
        """C7 offset-validity check (`MySqlDebeziumStateUtil.java:60-102`):
        before resuming, verify the source still contains the events right
        after what the table already applied.  If the retained segments
        start beyond the applied high-watermark + 1 (binlog purged past our
        offset), replication would silently skip events — fail loudly and
        demand a re-backfill instead."""
        table = LakeTable.load(self.spark, self.table_path)
        applied = table.applied_lsn_high_watermark()
        if applied is None:
            return
        src_min = (
            self.spark.read.schema(CDC_EVENT_SCHEMA)
            .parquet(self.source_dir)
            .agg(F.min("lsn"))
            .first()[0]
        )
        if src_min is not None and src_min > applied + 1:
            raise StaleOffsetError(
                f"source retention starts at lsn {src_min} but the table has "
                f"only applied through {applied} — events "
                f"[{applied + 1}, {src_min}) are gone; re-backfill required "
                "(reference behavior: re-snapshot on invalid saved offset)"
            )

    # --------------------------------------------------------------- runs

    def _check_target_marker(self) -> None:
        """A checkpoint that ran a target-position bounded run is TERMINAL
        at that target: the straddling source file is consumed with its
        post-target events filtered out (`_apply_batch`), so resuming the
        SAME checkpoint past the target would silently skip those events.
        Debezium stops reading AT the target position so nothing beyond it
        is ever consumed (`DebeziumRecordIterator` target-position stop);
        a file source consumes whole files — this marker turns that
        granularity gap from silent loss into a loud error.  Recovery: a
        fresh checkpoint — full replay is safe, the merge is idempotent
        by (key, lsn)."""
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        marker = os.path.join(self.checkpoint_dir, "target_lsn.json")
        if os.path.exists(marker):
            with open(marker) as f:
                bound = json.load(f)["target_lsn"]
            if self.target_lsn is None or self.target_lsn > bound:
                raise ValueError(
                    f"checkpoint {self.checkpoint_dir!r} ran a bounded tail "
                    f"with target_lsn={bound}; events beyond it in already-"
                    "consumed files were filtered out, so resuming past the "
                    "target would silently skip them — start a fresh "
                    "checkpoint (replay is safe: the merge is idempotent "
                    "by key and lsn)"
                )
        elif self.target_lsn is not None:
            with open(marker, "w") as f:
                json.dump({"target_lsn": self.target_lsn}, f)

    def run_available_now(self, timeout_sec: int = 600) -> BatchMetricsLog:
        """Bounded tail: drain everything present at start, then stop —
        the target-position bounded run (S7/C3)."""
        self._check_target_marker()
        q = (
            self._source_stream()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_sec)
        if q.isActive:
            # a bounded run still active at timeout means PARTIAL ingestion —
            # never report it as success (the checkpoint makes a re-run safe)
            q.stop()
            raise TimeoutError(
                f"bounded run still active after {timeout_sec}s — ingestion "
                "incomplete; re-run resumes from the checkpoint"
            )
        # surface foreachBatch exceptions (awaitTermination(timeout) swallows)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return self.metrics

    def start(self, processing_time: str = "1 second"):
        """Continuous tail (unbounded); caller manages the query handle."""
        self._check_target_marker()
        return (
            self._source_stream()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )

    def run_continuous(
        self,
        timeout_sec: float = 600,
        processing_time: str = "1 second",
        max_empty_polls: int = 10,
        stall_after_sec: float | None = None,
    ) -> BatchMetricsLog:
        """Continuous tail with C10 liveness monitoring: a dead/silent
        source (``max_empty_polls`` consecutive no-data triggers, or no
        data for ``stall_after_sec``) stops the query and raises
        StalledStreamError instead of idling forever — the reference's
        empty-poll shutdown (`DebeziumRecordIterator.java:93-110`)."""
        from airbyte_custom_spark.streaming.liveness import (
            LivenessWatchdog,
            await_with_liveness,
        )

        watchdog = LivenessWatchdog(max_empty_polls, stall_after_sec)
        self.spark.streams.addListener(watchdog)
        try:
            q = self.start(processing_time)
        except Exception:
            self.spark.streams.removeListener(watchdog)
            raise
        await_with_liveness(self.spark, q, watchdog, timeout_sec)
        return self.metrics


class _JsonPayload:
    """The decode hook pair of both JSON jobs: typed extraction under the
    table's CURRENT schema with the batch's exact payload key set folded
    into the stats aggregation (`attach_discovery`), then evolution and a
    rebuilt extraction only when the batch carried something new
    (`evolve_from_tags`) — two payload parses per batch (stats, merge)
    instead of three."""

    _event_schema = JSON_CDC_EVENT_SCHEMA

    def _transform_batch(
        self, events: DataFrame, table: LakeTable, batch_id: int
    ) -> DataFrame:
        return attach_discovery(events, table)

    def _post_discovery(
        self, raw_events: DataFrame, table: LakeTable, tags: list[str]
    ) -> DataFrame | None:
        return evolve_from_tags(raw_events, table, tags)


class JsonCdcIngestJob(_JsonPayload, CdcIngestJob):
    """Raw-JSON-envelope CDC ingest: the source emits the CDC envelope
    (lsn/op/_ab_cdc_*/source_partition) plus ONE opaque ``payload`` JSON
    string — the reference's raw-table `_airbyte_data` column
    (`JavaBaseConstants.java:29-39`, `typing-deduping.md:5-70`).  Per
    micro-batch, before the normal validate→reduce→merge path:

      1. **Exact key discovery + Arrow-vectorized type inference**: the
         batch's payload key set is tagged per row and folded into the
         stats aggregation (`attach_discovery` — exact, so a
         late-appearing column can never lose values), while each new
         key's TYPE is inferred from a bounded Arrow-batched driver
         sample (`infer_payload_schema` — the north star's "vectorized
         Arrow-based schema-diff stage"); keys outside the sample fall
         back to lossless StringType.  Nested objects/arrays infer to
         typed StructType/ArrayType (Union → string fallback, SURVEY
         §1.3/§1.6);
      2. **diff + in-place evolution** against the table: NEW payload
         columns evolve the table schema mid-stream (E1).  For columns the
         table already has, the table's type stays authoritative — JSON
         inference sees only lexical types (ISO timestamps are strings,
         every int is a long), and the reference likewise does not
         auto-propagate retypes in CDC mode (`cdc.md:27`); widening /
         soft_reset remain explicit table operations (E2/T8);
      3. **typed extraction**: payload fields parsed as strings (nested
         values as raw JSON text) and applied to the (possibly
         just-evolved) table schema — scalars via `try_cast`, complex
         fields via typed per-field `from_json` — with per-row cast-error
         capture into ``_meta.errors`` (P3/P4 — `typing-deduping.md:
         14-33`: bad values never fail the sync).

    A crash between the evolution commit and the merge commit replays
    safely: re-inference produces a no-change diff and the merge skips or
    applies idempotently.
    """

    # bucket count of the raw envelope table
    RAW_NUM_BUCKETS = 8

    def __init__(self, *args, raw_table_path: str | None = None, **kwargs):
        super().__init__(*args, **kwargs)
        # optional raw-table retention (reference raw/final two-table
        # layout, `JavaBaseConstants.java:29-39`): every envelope row —
        # including the opaque payload text — is appended to an
        # append-only LakeTable before typing, so NO typing decision can
        # ever lose payload bytes and the final table can be rebuilt with
        # different types at any time (`lake/raw.py::retype_from_raw`)
        self.raw_table_path = raw_table_path

    def _raw_table(self) -> LakeTable:
        if LakeTable.exists(self.raw_table_path):
            return LakeTable.load(self.spark, self.raw_table_path)
        # payload columns = the full envelope minus lsn (lsn → _lsn meta);
        # bucketed by source_partition — appends land partition-aligned,
        # matching the per-partition offset/lineage story
        env = T.StructType(
            [f for f in self._stream_schema().fields if f.name != "lsn"]
        )
        return LakeTable.create(
            self.spark,
            self.raw_table_path,
            env,
            primary_key=("source_partition",),
            num_buckets=self.RAW_NUM_BUCKETS,
            # engine-owned envelope table: stores the CDC 'op' verbatim as
            # a payload column (append-only — never merged/delete_where'd,
            # so the reserved-name hazards don't apply)
            allow_reserved=("op",),
        )

    def _transform_batch(
        self, events: DataFrame, table: LakeTable, batch_id: int
    ) -> DataFrame:
        if self.raw_table_path is not None:
            # raw FIRST, typed second (reference write order,
            # `typing-deduping.md:5-70`): a crash in between replays the
            # batch — the raw append skips via its manifest, the merge
            # applies; exactly-once on both tables from one checkpoint
            self._raw_table().append(
                events,
                batch_id=batch_id,
                query_id=f"{self._manifest_query_id()}/raw",
            )
        return super()._transform_batch(events, table, batch_id)


def infer_evolve_extract(events: DataFrame, table: LakeTable) -> DataFrame:
    """The ingest's JSON typing stage as ONE call, for a frame that is not
    a micro-batch (`lake/raw.py::retype_from_raw`): `attach_discovery`,
    one aggregation of the tag column, then `evolve_from_tags` — the same
    exact discovery, P7 naming and in-place evolution every batch of the
    JSON jobs runs, so a table typed here matches one the stream typed.
    The jobs fold the tags into their stats aggregation instead."""
    tagged = attach_discovery(events, table)
    tags = tagged.agg(_folded_tags()).first()[0]
    rebuilt = evolve_from_tags(events, table, tags or [])
    return tagged.drop("_acs_keys") if rebuilt is None else rebuilt


def _folded_tags() -> F.Column:
    """The batch's distinct discovery tags, folded from ``_acs_keys``."""
    return F.array_distinct(F.flatten(F.collect_set("_acs_keys")))


def _struct_cols(table: LakeTable) -> list[str]:
    return sorted(
        f.name
        for f in table.schema().fields
        if f.name in set(table.payload_columns)
        and isinstance(f.dataType, T.StructType)
    )


def _payload_target(table: LakeTable):
    return T.StructType(
        [f for f in table.schema().fields if f.name in set(table.payload_columns)]
    )


def attach_discovery(events: DataFrame, table: LakeTable) -> DataFrame:
    """Typed extraction under the table's CURRENT schema plus a hidden
    ``_acs_keys`` tag column — the batch's exact key set then folds into
    the stats aggregation for free (`tagged_key_expr`), and
    `evolve_from_tags` rebuilds the extraction only when something new
    actually appeared.  Two payload parses per batch total (stats+keys,
    merge) instead of three."""
    from airbyte_custom_spark.operators.schema_evo import (
        tagged_key_expr,
        widen_probes_for,
    )
    from airbyte_custom_spark.operators.typed import extract_payload

    key_map = table.payload_key_map
    raw_of = {col: raw for raw, col in key_map.items()}
    with_tags = events.withColumn(
        "_acs_keys",
        tagged_key_expr(
            [raw_of.get(c, c) for c in _struct_cols(table)],
            widen_probes_for(_payload_target(table), raw_of),
        ),
    )
    # extract_payload passes non-target columns through — _acs_keys rides
    return extract_payload(with_tags, _payload_target(table), key_map=key_map)


def evolve_from_tags(
    raw_events: DataFrame, table: LakeTable, tags: list[str]
) -> DataFrame | None:
    """Post-stats half of the fused discovery: decode the tag set the
    stats agg collected, run normalization + evolution, and return a
    REBUILT extraction of ``raw_events`` when the schema (or key map)
    changed — None when the batch carried nothing new (the already-built
    extraction is correct)."""
    from airbyte_custom_spark.operators.schema_evo import decode_discovery_tags
    from airbyte_custom_spark.operators.typed import extract_payload

    keys, nested_keys_raw, widen = decode_discovery_tags(tags)
    v0 = table.version
    full_map = _resolve_and_evolve(
        table, keys, nested_keys_raw, raw_events, widen=widen
    )
    if table.version == v0:
        return None
    return extract_payload(raw_events, _payload_target(table), key_map=full_map)


def _resolve_and_evolve(
    table: LakeTable,
    keys: list[str],
    nested_keys_raw: dict[str, list[str]],
    events: DataFrame,
    widen: dict[str, str] | None = None,
) -> dict[str, str]:
    """Normalization + nested-aware inference + in-place evolution, given
    an already-discovered EXACT key set.  Returns the full raw→column
    map.  The driver sample runs ONLY when something new appeared
    (round-3 fix lineage: the key SET is exact — a column or nested
    subkey first appearing past any sample can never lose values).

    ``widen`` carries the batch's EXACT value-driven widen demands
    ({path_key → "long"|"double"}, from ``widen_probe_expr``; path_key is
    a column name or ``col<SEP>sub`` for a struct subfield): a committed
    integer/long column — top-level or nested — whose incoming values
    outgrow it widens in place BEFORE extraction (E1/E2), so a
    mid-stream long→double value change never nulls a value into a cast
    error — detected on every row, not sampled."""
    from airbyte_custom_spark.operators.schema_evo import (
        evolve_table_for,
        infer_payload_schema,
    )
    from airbyte_custom_spark.operators.typed import normalize_name
    from airbyte_custom_spark.schema import is_widening, merge_nested

    if widen:
        from airbyte_custom_spark.operators.schema_evo import TAG_SEP

        _WIDE = {"long": T.LongType(), "double": T.DoubleType()}
        tops: dict[str, T.DataType] = {}
        subs: dict[str, dict[str, T.DataType]] = {}
        for path, tgt in widen.items():
            if TAG_SEP in path:
                c, s = path.split(TAG_SEP, 1)
                subs.setdefault(c, {})[s] = _WIDE[tgt]
            else:
                tops[path] = _WIDE[tgt]

        def _widen_field(f: T.StructField) -> T.StructField:
            if f.name in tops and is_widening(f.dataType, tops[f.name]):
                return T.StructField(f.name, tops[f.name], f.nullable)
            if f.name in subs and isinstance(f.dataType, T.StructType):
                w = subs[f.name]
                inner = T.StructType(
                    [
                        T.StructField(g.name, w[g.name], g.nullable)
                        if g.name in w and is_widening(g.dataType, w[g.name])
                        else g
                        for g in f.dataType.fields
                    ]
                )
                return T.StructField(f.name, inner, f.nullable)
            return f

        cur = _payload_target(table)
        widened = T.StructType([_widen_field(f) for f in cur.fields])
        if widened != cur:
            evolve_table_for(table, widened)

    existing = set(table.payload_columns)
    cur_fields = {
        f.name: f for f in table.schema().fields if f.name in existing
    }
    key_map = table.payload_key_map  # raw source field → column (P7)
    raw_of = {col: raw for raw, col in key_map.items()}
    struct_cols = _struct_cols(table)
    # P7 name normalization with STABLE collision suffixing
    # (`CatalogParser.java:98-131`): a raw key that exactly matches a
    # column feeds it (identity, implicit); any other new raw key
    # normalizes, suffixing past names already taken by columns or prior
    # mappings.  The mapping persists in the table snapshot, so suffix
    # assignment never depends on batch arrival order after the first.
    from airbyte_custom_spark.schema import RESERVED_COLUMNS

    new_map_entries: dict[str, str] = {}
    claimed = set(key_map.values())  # columns owned by a mapped raw key
    # reserved names: every engine-owned column (meta columns plus the
    # physical "bucket"/"_wsalt" layout columns — a payload key literally
    # named "bucket" would be clobbered by the bucketed write) AND the
    # CDC envelope columns of this batch ("lsn"/"op"/"source_partition"/…
    # would duplicate a column name inside the extraction select —
    # AnalysisException crash-loop).  All suffix like any collision.
    taken = existing | claimed | set(RESERVED_COLUMNS) | set(events.columns)
    pending = sorted(k for k in keys if k not in key_map)
    rest: list[str] = []
    # pass 1 — identity claims: a raw key exactly matching an UNCLAIMED
    # column feeds it; a normalization-stable raw whose name is free
    # becomes its own column.  (A raw matching a column another raw
    # already claimed — e.g. raw "a_b" after "a.b"→a_b — must NOT steal
    # it: stability of the persisted mapping wins, it suffixes below.)
    for raw in pending:
        if raw in existing and raw not in claimed:
            continue
        if normalize_name(raw) == raw and raw not in taken:
            taken.add(raw)
            continue
        rest.append(raw)
    # pass 2 — normalize + deterministic suffixing past taken names
    for raw in rest:
        base = normalize_name(raw)
        cand, i = base, 0
        while cand in taken:
            i += 1
            cand = f"{base}_{i}"
        taken.add(cand)
        new_map_entries[raw] = cand
    full_map = {**key_map, **new_map_entries}

    def col_of(raw: str) -> str:
        return full_map.get(raw, raw)

    mapped_cols = [col_of(k) for k in keys]
    new_keys = [c for c in mapped_cols if c not in existing]
    # nested subkeys come back keyed by RAW struct key — re-key by column
    raw_to_struct_col = {raw_of.get(c, c): c for c in struct_cols}
    nested_keys = {
        raw_to_struct_col[rk]: ks for rk, ks in nested_keys_raw.items()
    }
    nested_new = {
        c: [
            k
            for k in ks
            if k not in {g.name for g in cur_fields[c].dataType.fields}
        ]
        for c, ks in nested_keys.items()
    }
    nested_new = {c: ks for c, ks in nested_new.items() if ks}

    def _holds_struct(dt) -> bool:
        if isinstance(dt, T.StructType):
            return True
        if isinstance(dt, T.ArrayType):
            return _holds_struct(dt.elementType)
        return False

    # arrays-of-structs can gain subfields too, but only the sample
    # can see inside them — re-infer whenever one exists
    nested_arrays = any(
        isinstance(f.dataType, T.ArrayType) and _holds_struct(f.dataType)
        for f in cur_fields.values()
    )
    if new_keys or nested_new or nested_arrays:
        from airbyte_custom_spark.operators.schema_evo import prune_untyped

        # the raw inference distinguishes a sampled-but-all-null
        # (sub)key (NullType sentinel — DEFER it) from one the sample
        # never saw (string fallback); pruning happens below, after that
        # decision
        inferred = infer_payload_schema(events, keys)
        # inference is keyed by RAW field name — re-key by column
        inf = {col_of(f.name): f.dataType for f in inferred.fields}
        merged_fields: list[T.StructField] = []
        changed = False
        for name, f in cur_fields.items():
            m = merge_nested(f.dataType, inf.get(name, f.dataType))
            # exact-discovered subkeys the sample NEVER SAW → lossless
            # string subfields (same late-key policy as the top level);
            # sampled-all-null subkeys are present as NullType here and
            # therefore skipped — the prune below defers them
            if isinstance(m, T.StructType):
                have = {g.name for g in m.fields}
                m = T.StructType(
                    list(m.fields)
                    + [
                        T.StructField(k, T.StringType(), True)
                        for k in nested_new.get(name, [])
                        if k not in have
                    ]
                )
            m = prune_untyped(m) or f.dataType
            if m != f.dataType:
                changed = True
            merged_fields.append(T.StructField(name, m, True))
        new_fields = []
        for f in inferred.fields:
            if col_of(f.name) in existing:
                continue
            dt = prune_untyped(f.dataType)
            if dt is not None:  # all-null new key: defer
                new_fields.append(T.StructField(col_of(f.name), dt, True))
        if changed or new_fields:
            evolve_table_for(
                table,
                T.StructType(merged_fields + new_fields),
                payload_key_map=full_map if new_map_entries else None,
            )
    return full_map


class GlobalStateIngestJob(CdcIngestJob):
    """GLOBAL-state CDC: ONE binlog/WAL position fans out to MULTIPLE
    stream tables (`airbyte-protocol.md:485-506` — a GLOBAL-state source
    shares a single replication slot across streams and cannot be
    parallelized per stream).

    Spark mapping: one Structured-Streaming checkpoint (= the global
    offset) drives one foreachBatch that splits each micro-batch by the
    stream discriminator column and runs the single-table apply
    (`_apply_table`) on each slice against its own LakeTable under the
    SAME batch_id.  A crash between per-stream merges replays the batch:
    streams already committed skip via their manifest, the rest apply —
    exactly-once per stream from one global offset.
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, str],
        source_dir: str,
        checkpoint_dir: str,
        config: IngestConfig | None = None,
        stream_col: str = "stream",
    ):
        # table_path is unused in the multi-stream apply; pass the first
        # for the base class plumbing (metrics/checkpoint live per job)
        first = next(iter(tables.values()))
        super().__init__(spark, first, source_dir, checkpoint_dir, config)
        self.tables = tables
        self.stream_col = stream_col

    def _stream_schema(self):
        # the event schema plus the stream discriminator (the Debezium
        # topic/table name analog)
        return T.StructType(
            list(self._event_schema.fields)
            + [T.StructField(self.stream_col, T.StringType(), True)]
        )

    def _targets(self, qid: str) -> list[tuple[str | None, str, str]]:
        # one manifest query id per stream, so each commits exactly once
        return [(s, p, f"{qid}/{s}") for s, p in sorted(self.tables.items())]

    def _slice(self, events: DataFrame, stream: str | None) -> DataFrame:
        return events.filter(F.col(self.stream_col) == stream).drop(
            self.stream_col
        )


class JsonGlobalStateIngestJob(_JsonPayload, GlobalStateIngestJob):
    """GLOBAL-state CDC over raw-JSON envelopes: ONE WAL position carries
    MULTIPLE streams' records, each record's fields opaque in a
    ``payload`` JSON string (the realistic Debezium-server/CDC-topic
    shape: one replication slot, many tables, schemaless JSON values —
    `airbyte-protocol.md:485-506` + `typing-deduping.md:5-70`).

    Each pending stream's slice runs the JSON typing stage (fused key
    discovery → nested-aware inference → in-place evolution → typed
    extraction) against ITS OWN table — streams evolve independently, a
    new column in one stream never touches another's schema — then
    merges under the same global batch_id; exactly-once per stream via
    per-stream manifests, exactly like the typed parent."""


def backfill(
    spark: SparkSession,
    table: LakeTable,
    snapshot_df: DataFrame,
    lsn: int = 0,
    mode: str = "overwrite",
) -> int:
    """Phase 1 of snapshot→tail composition (S8,
    `MySqlInitialReadUtil.java:87-169`): load the initial table state as
    synthetic insert events at a base LSN, so the subsequent CDC tail
    (all lsn > base) wins any overlap.  ``snapshot_df`` carries payload
    columns only."""
    events = (
        snapshot_df.withColumn("lsn", F.lit(lsn).cast("long"))
        .withColumn("op", F.lit("c"))
    )
    if mode == "overwrite":
        return table.overwrite(events)
    return table.merge(events).version

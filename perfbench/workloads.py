"""The benchmark's workloads.  They drive the engine only through its public
API: the generator and segment writer, the ingest jobs, and ``LakeTable``.

Event counts are the planned ones scaled down by one uniform factor, and
the tail commits 8 times instead of 16, so that a run fits its time budget
on a 4-core host (README.md gives the arithmetic).  Segments, buckets and
key skew are as planned.

After set-up, a run goes in rounds.  A round feeds the ingest its next
segments and runs it (in the rounds that have an ingest call), then times
one lookup, one scan and (in the rounds that have one) one export.  The
first rounds are the warm-up; the rest are the measured phase.  Every
timing metric is a median of samples spread over the whole measured
phase, so a few seconds of load on the shared host slow a few samples of
each metric rather than every sample of one.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field
from typing import Any

from perfbench.stats import percentile, reportable_percentile

# One factor for every event count below (1M / 250k / 48k at 1.0).
SCALE = 0.125
BUCKETS = 16
INGEST_TIMEOUT_S = 150


def spread(k: int, n: int, rounds: int) -> int:
    """The round of the ``k``-th of ``n`` events spread evenly over
    ``rounds`` rounds, the first in round 0."""
    return -(-k * rounds // n)


@dataclass(frozen=True)
class Sizes:
    events: int  # events the ingest applies
    base: int  # events merged into the table during set-up (0 = empty)
    segments: int
    ingest_rounds: int  # run_available_now calls, each over its share of the segments
    files_per_trigger: int
    rounds: int  # rounds of one lookup and one scan, the warm-up rounds included
    warm_rounds: int  # the first rounds: part of set-up, in no metric
    export_rounds: int  # measured rounds that also time an export (warm-up rounds all do)
    compactions: int  # compact_deltas calls after the rounds (MoR only)

    def ingest_round(self, k: int) -> int:
        """The round that makes ingest call ``k``."""
        return spread(k, self.ingest_rounds, self.rounds)

    def exports(self, r: int) -> bool:
        m = r - self.warm_rounds
        return m < 0 or any(spread(k, self.export_rounds, self.rounds - self.warm_rounds) == m
                              for k in range(self.export_rounds))

    def fed(self, r: int) -> range:
        """Segments the ingest of round ``r`` adds (empty in a round without one)."""
        per = self.segments // self.ingest_rounds
        for k in range(self.ingest_rounds):
            if self.ingest_round(k) == r:
                return range(k * per, (k + 1) * per)
        return range(0)

    def last_fed(self, r: int) -> int:
        """The last segment fed by the end of round ``r``."""
        calls = sum(1 for k in range(self.ingest_rounds) if self.ingest_round(k) <= r)
        return calls * (self.segments // self.ingest_rounds) - 1


@dataclass(frozen=True)
class Workload:
    name: str
    json: bool  # JsonCdcIngestJob over the JSON envelope, else CdcIngestJob
    write_mode: str  # the table's merge mode for the ingest
    hot_fraction: float
    sizes: Sizes


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            # 4 ingest calls of 4 segments (one bulk commit each) among 10
            # rounds, the first of them the warm-up round
            "backfill", json=False, write_mode="cow", hot_fraction=0.10,
            sizes=Sizes(events=int(1_000_000 * SCALE), base=0, segments=16, ingest_rounds=4,
                        files_per_trigger=4, rounds=10, warm_rounds=1, export_rounds=9,
                        compactions=0),
        ),
        Workload(
            # 8 ingest calls of 2 segments (one commit each), each followed by
            # reads; the first two rounds warm up.  An export over the deltas
            # costs ~1.3 s, so only every other measured round has one.
            "tail_mor_json", json=True, write_mode="mor", hot_fraction=0.0,
            sizes=Sizes(events=int(48_000 * SCALE), base=int(250_000 * SCALE), segments=16,
                        ingest_rounds=8, files_per_trigger=2, rounds=8, warm_rounds=2,
                        export_rounds=3, compactions=1),
        ),
    )
}


@dataclass
class Ops:
    """Attempted/failed operation counts: batches, lookups, scans,
    compaction and export."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def run(self, fn, *a, **kw):
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:  # counted, reported, and the run goes on
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}")
            return None


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def table_files(path: str) -> dict[str, int]:
    """Every file the table holds (data, manifests, snapshots), no checksums."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def checked_columns() -> list:
    """The payload columns the oracle compares, ``ts`` as epoch microseconds."""
    from pyspark.sql import functions as F

    return ["conv_id", "turn_idx", "role", "text", "tool", F.unix_micros("ts").alias("ts_us")]


@dataclass
class Prepared:
    source: str  # every segment, written during set-up
    feed: str  # the directory the ingest tails; rounds copy segments into it
    json: bool  # the segments hold the JSON envelope
    base: str | None  # typed events merged during set-up
    table: str
    checkpoint: str

    @property
    def oracle_sources(self) -> list[tuple[str, bool]]:
        return ([(self.base, False)] if self.base else []) + [(self.source, self.json)]


# A payload key the table lacks, carried from the tail's second segment on:
# the first batch (in a warm-up round) infers its type and evolves the
# table, so the schema-evolution operators run once per run.
NEW_KEY = "model"


def with_new_key(tail, sizes: Sizes):
    """Upserts past the first segment gain ``NEW_KEY``; ``json_envelope``
    omits it where it is NULL, so earlier events and deletes lack it."""
    from pyspark.sql import functions as F

    first = sizes.base + sizes.events // sizes.segments
    return tail.withColumn(
        NEW_KEY,
        F.when((F.col("lsn") > first) & (F.col("op") != "d"),
               F.concat(F.lit("m"), (F.col("turn_idx") % 4).cast("string"))),
    )


def setup(spark, w: Workload, root: str, seed: int, tracer) -> Prepared:
    """Generate the segments and build the base table."""
    from airbyte_custom_spark.lake.table import LakeTable
    from airbyte_custom_spark.schema import CDC_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from airbyte_custom_spark.sources.generator import (
        change_events,
        json_envelope,
        write_event_chunks,
    )

    sizes = w.sizes
    p = Prepared(
        source=os.path.join(root, "segments"),
        feed=os.path.join(root, "feed"),
        json=w.json,
        base=os.path.join(root, "base") if sizes.base else None,
        table=os.path.join(root, "table"),
        checkpoint=os.path.join(root, "checkpoint"),
    )
    with tracer.span("sources.gen"):
        ev = change_events(
            spark,
            sizes.base + sizes.events,
            n_convs=max((sizes.base or sizes.events) // 15, 10),
            max_turns=24,
            seed=seed,
            hot_fraction=w.hot_fraction,
            p_delete=0.05,
        )
        tail = ev.filter(f"lsn > {sizes.base}")
        if w.json:
            tail = json_envelope(with_new_key(tail, sizes))
        write_event_chunks(tail, p.source, n_chunks=sizes.segments)
        if p.base:
            ev.filter(f"lsn <= {sizes.base}").write.parquet(p.base)
    with tracer.span("setup.base"):
        t = LakeTable.create(
            spark, p.table, TRANSCRIPT_SCHEMA, num_buckets=BUCKETS, write_mode=w.write_mode
        )
        if p.base:
            t.merge(
                spark.read.schema(CDC_EVENT_SCHEMA).parquet(p.base),
                batch_id=0,
                mode="cow",
            )
    return p


@dataclass(frozen=True)
class Lookup:
    key: tuple[str, int]
    expected: list[tuple]  # the oracle's rows for the key at that point


def measure(spark, w: Workload, p: Prepared, lookups: list[Lookup],
            final_lookups: list[Lookup], tracer, ops: Ops,
            min_seconds: float) -> dict[str, Any]:
    """The rounds: each [feeds and runs the ingest,] times lookup
    ``lookups[r]`` and a scan [and an export]; then [compaction].  The
    warm-up rounds run like the others, but their samples enter no metric.
    The timed operations are the same on every run, however fast they go;
    while the measured phase (after the warm-up rounds) is shorter than
    ``min_seconds``, untimed lookups of ``final_lookups`` (still checked)
    fill it.  Returns raw measurements; the caller makes the metrics."""
    from airbyte_custom_spark.config import IngestConfig
    from airbyte_custom_spark.functions.corpus import assemble_corpus
    from airbyte_custom_spark.lake.table import LakeTable
    from airbyte_custom_spark.streaming.pipeline import CdcIngestJob, JsonCdcIngestJob

    sizes = w.sizes
    # every ingest call and batch is kept (the per-layer accounting covers
    # them all); "measured" marks the calls of measured rounds
    out: dict[str, Any] = {k: [] for k in ("calls", "batch_seconds", "touched_buckets",
                                           "lookup_s", "scan_s", "export_s")}
    t_start = tracer.now()
    before = table_files(p.table)
    job_cls = JsonCdcIngestJob if w.json else CdcIngestJob
    job = job_cls(spark, p.table, p.feed, p.checkpoint,
                  IngestConfig(max_files_per_trigger=sizes.files_per_trigger))
    out["metrics_log"] = job.metrics.path
    cols = checked_columns()

    def ingest(segments: range, measured: bool) -> None:
        for i in segments:
            # copy2 keeps mtimes, which order the file source's batches
            shutil.copytree(os.path.join(p.source, f"chunk={i}"),
                            os.path.join(p.feed, f"chunk={i}"))
        seen = len(job.metrics.batches)
        with tracer.span("streaming.ingest") as s:
            t0 = tracer.now()
            job.run_available_now(timeout_sec=INGEST_TIMEOUT_S)
            wall = tracer.now() - t0
        batches = [b for b in job.metrics.batches[seen:] if not b.skipped]
        ops.attempted += len(batches)
        s["batches"] = len(batches)
        out["calls"].append({"events": sum(b.events for b in batches), "wall_s": wall,
                             "batch_seconds": [b.seconds for b in batches],
                             "measured": measured})
        out["batch_seconds"] += [b.seconds for b in batches]
        out["touched_buckets"] += [b.touched_buckets for b in batches]

    def timed(name: str, action, *args) -> float:
        with tracer.span(name):
            t0 = tracer.now()
            action(*args)
            return tracer.now() - t0

    def lookup(table, lk: Lookup) -> None:
        rows = table.lookup([lk.key]).select(*cols).collect()
        if sorted(tuple(r) for r in rows) != lk.expected:
            raise AssertionError(f"lookup {lk.key}: engine {rows} != oracle {lk.expected}")

    def scan(table) -> None:
        # every payload column decoded: on a CoW table count() would read
        # parquet footers only and time little but job scheduling
        table.read().write.mode("overwrite").format("noop").save()

    def export(table) -> None:
        assemble_corpus(table.read()).write.mode("overwrite").format("noop").save()

    def sample(measured: bool, key: str, name: str, action, *args) -> None:
        d = ops.run(timed, name if measured else "untimed." + name, action, *args)
        if measured and d is not None:
            out[key].append(d)

    last_ingest = sizes.ingest_round(sizes.ingest_rounds - 1)
    for r in range(sizes.rounds):
        measured = r >= sizes.warm_rounds
        if r == sizes.warm_rounds:
            out["warm_s"] = tracer.now() - t_start
        if sizes.fed(r):
            ingest(sizes.fed(r), measured)
            if r == last_ingest:
                after = table_files(p.table)
                new = {k: v for k, v in after.items() if k not in before}
                out["bytes_written"] = sum(new.values())
                out["files_written"] = sum(1 for k in new if k.endswith(".parquet"))
                out["data_bytes_written"] = sum(v for k, v in new.items()
                                                if k.endswith(".parquet"))
        table = LakeTable.load(spark, p.table)
        sample(measured, "lookup_s", "lake.lookup", lookup, table, lookups[r])
        sample(measured, "scan_s", "lake.scan", scan, table)
        if sizes.exports(r):
            sample(measured, "export_s", "functions.export", export, table)
    out["events"] = sum(c["events"] for c in out["calls"])
    out["ingest_wall_s"] = sum(c["wall_s"] for c in out["calls"])
    out["input_bytes"] = parquet_bytes(p.feed)
    out["delta_files"] = LakeTable.load(spark, p.table).stats()["delta_files"]
    for _ in range(sizes.compactions):
        out["compact_s"] = ops.run(timed, "lake.compact",
                                   LakeTable.load(spark, p.table).compact_deltas)
    table = LakeTable.load(spark, p.table)
    i = 0
    while tracer.now() - t_start - out["warm_s"] < min_seconds:
        ops.run(timed, "untimed.lake.lookup", lookup, table,
                final_lookups[i % len(final_lookups)])
        i += 1
    return out


def final_state(spark, p: Prepared):
    """(payload rows as pandas, live bytes, column names) of the table
    after the run."""
    from airbyte_custom_spark.lake.table import LakeTable

    table = LakeTable.load(spark, p.table)
    df = table.read()
    return df.select(*checked_columns()).toPandas(), table.stats()["bytes"], df.columns


def end_to_end(m: dict[str, Any], rows: int, table_bytes: int, setup_s: float,
               peak_rss_mb: float) -> dict[str, float]:
    """The end-to-end metrics (name → value) from one measured phase."""
    calls = [c for c in m["calls"] if c["measured"]]
    out = {
        "events_per_s": statistics.median(c["events"] / c["wall_s"] for c in calls),
        "batch_p50_s": statistics.median(b for c in calls for b in c["batch_seconds"]),
    }
    p = reportable_percentile(len(m["lookup_s"])) or 50
    for q in sorted({50, p}):
        out[f"lookup_p{q:g}_ms"] = percentile(m["lookup_s"], q) * 1000
    out.update({
        "scan_s": statistics.median(m["scan_s"]),
        "export_s": statistics.median(m["export_s"]),
        "write_amp": m["bytes_written"] / m["input_bytes"],
        "table_bytes_per_row": table_bytes / rows if rows else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
    })
    return out

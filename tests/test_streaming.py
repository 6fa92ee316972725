"""Structured-Streaming ingest: bounded tail, checkpoint resume,
exactly-once replay, backfill→tail composition, lineage metrics.

Reference analogs: state-watermark protocol (`airbyte-protocol.md:467-479`),
resume tests (FIXTURES.md `resume_from_checkpoint`), snapshot→tail ordering
(S8 `MySqlInitialReadUtil.java:87-169`), per-partition lineage (A1).
"""

import pytest

from pyspark.sql import functions as F

from airbyte_custom_spark.config import IngestConfig
from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
from airbyte_custom_spark.sources.generator import change_events, write_event_chunks
from airbyte_custom_spark.streaming.pipeline import CdcIngestJob, backfill

from tests.util import assert_matches_replay


@pytest.fixture()
def env(spark, tmp_path):
    events = change_events(spark, 6000, n_convs=80, max_turns=10, p_delete=0.1)
    src = str(tmp_path / "segments")
    write_event_chunks(events, src, n_chunks=6)
    table = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=8)
    return events, src, table, str(tmp_path / "ckpt")


def test_bounded_tail_matches_replay(spark, env):
    events, src, table, ckpt = env
    job = CdcIngestJob(
        spark, table.path, src, ckpt,
        IngestConfig(max_files_per_trigger=2),
    )
    metrics = job.run_available_now()
    t = LakeTable.load(spark, table.path)
    assert_matches_replay(t.read(), events)
    assert metrics.total_events == 6000
    assert len([b for b in metrics.batches if not b.skipped]) == 3  # 6 files / 2


def test_pk_violations_ignore_policy(spark, tmp_path):
    """A3: with pk_violations="ignore", null-pk rows are dropped and
    counted per batch instead of failing the sync (T1 "fail" remains the
    default, tested elsewhere)."""
    from pyspark.sql import functions as F

    events = change_events(spark, 1000, n_convs=20, max_turns=6)
    # poison ~1% of rows with a NULL pk
    poisoned = events.withColumn(
        "conv_id", F.when(F.col("lsn") % 97 == 0, None).otherwise(F.col("conv_id"))
    )
    src = str(tmp_path / "seg")
    write_event_chunks(poisoned, src, n_chunks=2)
    table = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4)
    job = CdcIngestJob(
        spark, table.path, src, str(tmp_path / "ckpt"),
        IngestConfig(pk_violations="ignore"),
    )
    metrics = job.run_available_now()
    n_bad = poisoned.filter("conv_id IS NULL").count()
    assert n_bad > 0
    assert sum(b.ignored for b in metrics.batches) == n_bad
    assert metrics.total_events == 1000 - n_bad
    t = LakeTable.load(spark, table.path)
    assert t.read().filter("conv_id IS NULL").count() == 0
    assert_matches_replay(t.read(), poisoned.filter("conv_id IS NOT NULL"))


def test_pk_violations_rejects_unknown_policy():
    """A misspelled policy must fail when the config is built, not drop
    NULL-pk rows as if it were "ignore"."""
    with pytest.raises(ValueError, match="pk_violations"):
        IngestConfig(pk_violations="fial")
    assert IngestConfig().pk_violations == "fail"


def test_resume_from_checkpoint_no_loss_no_dup(spark, env):
    """Kill between micro-batches, restart from checkpoint: final state
    identical to an uninterrupted run."""
    events, src, table, ckpt = env
    job = CdcIngestJob(spark, table.path, src, ckpt, IngestConfig(max_files_per_trigger=1))
    job.fail_after_batches = 3
    with pytest.raises(Exception, match="injected failure"):
        job.run_available_now()

    job2 = CdcIngestJob(spark, table.path, src, ckpt, IngestConfig(max_files_per_trigger=1))
    job2.run_available_now()
    t = LakeTable.load(spark, table.path)
    assert_matches_replay(t.read(), events)
    # total applied events across both runs == exactly the stream (no dup)
    applied = job.metrics.total_events + job2.metrics.total_events
    assert applied == 6000


def test_replayed_batch_is_skipped(spark, env):
    """Crash AFTER merge commit but BEFORE the streaming checkpoint commit:
    the restart replays the batch_id and the manifest skips it."""
    events, src, table, ckpt = env
    job = CdcIngestJob(spark, table.path, src, ckpt, IngestConfig(max_files_per_trigger=2))
    job.run_available_now()
    v = LakeTable.load(spark, table.path).version

    # simulate the replay directly: same batch_id again
    job._apply_batch(spark.read.schema(events.schema).parquet(src), batch_id=0)
    t = LakeTable.load(spark, table.path)
    assert t.version == v  # nothing committed
    assert job.metrics.batches[-1].skipped


def test_lineage_recorded_in_snapshot(spark, env):
    events, src, table, ckpt = env
    job = CdcIngestJob(spark, table.path, src, ckpt, IngestConfig())
    job.run_available_now()
    t = LakeTable.load(spark, table.path)
    lineage = t.snapshot["lineage"]
    assert lineage, "lineage missing from commit snapshot"
    assert sum(p["events"] for p in lineage) == 6000
    parts = {p["source_partition"] for p in lineage}
    assert len(parts) == 32  # generator default n_source_partitions
    for p in lineage:
        assert p["min_lsn"] <= p["max_lsn"]


def test_target_lsn_bounds_the_run(spark, env):
    events, src, table, ckpt = env
    job = CdcIngestJob(spark, table.path, src, ckpt, IngestConfig(), target_lsn=3000)
    job.run_available_now()
    t = LakeTable.load(spark, table.path)
    assert_matches_replay(t.read(), events.filter("lsn <= 3000"))


def test_backfill_then_tail(spark, tmp_path):
    """S8: initial snapshot load first, CDC tail after — tail events
    (higher lsn) override the backfill where keys overlap."""
    table = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4)
    snapshot = spark.createDataFrame(
        [("a", 0, "user", "old-0", None, None), ("a", 1, "user", "old-1", None, None)],
        TRANSCRIPT_SCHEMA,
    )
    backfill(spark, table, snapshot, lsn=0)
    assert table.read().count() == 2

    tail = change_events(spark, 100, n_convs=5, max_turns=4).withColumn(
        "conv_id", F.lit("a")
    ).withColumn("turn_idx", F.lit(0)).filter("op <> 'd'").limit(1)
    src = str(tmp_path / "segments")
    write_event_chunks(tail, src, n_chunks=1)
    job = CdcIngestJob(spark, table.path, src, str(tmp_path / "ckpt"), IngestConfig())
    job.run_available_now()
    t = LakeTable.load(spark, table.path)
    rows = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()}
    assert rows[("a", 1)] == "old-1"
    assert rows[("a", 0)] != "old-0"  # tail won


def test_batch_resolves_to_pruned_parquet_scan(spark, env, monkeypatch):
    """Round-3 scaling fix: foreachBatch's RDD-backed DataFrame (Scan
    ExistingRDD — full-width rows, no pruning, re-executed per downstream
    job) is swapped for a real parquet scan of the same files via the
    file-source checkpoint log, restoring column pruning for the stats
    pass and vectorized decode for the merge input."""
    events, src, table, ckpt = env
    job = CdcIngestJob(spark, table.path, src, ckpt, IngestConfig())
    captured = []
    orig = CdcIngestJob._resolve_batch

    def spy(self, batch_df, batch_id):
        out = orig(self, batch_df, batch_id)
        pruned = out.select("lsn", "conv_id")
        captured.append(pruned._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(CdcIngestJob, "_resolve_batch", spy)
    job.run_available_now()
    assert captured
    for plan in captured:
        assert "Scan ExistingRDD" not in plan, plan
        assert "FileScan parquet" in plan, plan
        # pruning reaches the scan: the 2-col projection reads 2 columns
        assert "ReadSchema: struct<lsn:bigint,conv_id:string>" in plan, plan
    assert_matches_replay(LakeTable.load(spark, table.path).read(), events)


def test_batch_reread_survives_compacted_source_log(spark, tmp_path):
    """The file-source checkpoint log compacts every 10th batch (the entry
    lives in `<id>.compact`, not `<id>`); the pruned re-read must resolve
    those batches too — 12 single-file batches cross the compact boundary
    and the final state must still match the replay."""
    events = change_events(spark, 6000, n_convs=80, max_turns=10, p_delete=0.1)
    src = str(tmp_path / "segments")
    write_event_chunks(events, src, n_chunks=12)
    table = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=8)
    job = CdcIngestJob(
        spark, table.path, src, str(tmp_path / "ckpt"),
        IngestConfig(max_files_per_trigger=1),
    )
    resolved_plans = []
    orig = CdcIngestJob._resolve_batch

    def spy(self, batch_df, batch_id):
        out = orig(self, batch_df, batch_id)
        resolved_plans.append(
            (batch_id, out._jdf.queryExecution().executedPlan().toString())
        )
        return out

    CdcIngestJob._resolve_batch = spy
    try:
        job.run_available_now()
    finally:
        CdcIngestJob._resolve_batch = orig
    assert len(resolved_plans) >= 11  # crossed the compact interval
    for bid, plan in resolved_plans:
        assert "FileScan parquet" in plan, (bid, plan[:300])
        assert "Scan ExistingRDD" not in plan, bid
    assert_matches_replay(LakeTable.load(spark, table.path).read(), events)


def test_target_lsn_checkpoint_is_terminal(spark, tmp_path):
    """A checkpoint used for a bounded run refuses to resume PAST the
    target: the straddling file was consumed with post-target events
    filtered, so an unbounded resume would silently skip them.  Same
    target resumes fine; a fresh checkpoint recovers the full state."""
    import pytest

    events = change_events(spark, 6000, n_convs=60, max_turns=5)
    src = str(tmp_path / "seg")
    write_event_chunks(events, src, n_chunks=3)
    table = LakeTable.create(
        spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    ckpt = str(tmp_path / "ckpt")
    CdcIngestJob(
        spark, table.path, src, ckpt, IngestConfig(), target_lsn=3000
    ).run_available_now()
    assert_matches_replay(
        LakeTable.load(spark, table.path).read(), events.filter("lsn <= 3000")
    )
    # resume same checkpoint without (or past) the target → loud error
    with pytest.raises(ValueError, match="bounded tail"):
        CdcIngestJob(spark, table.path, src, ckpt, IngestConfig()).run_available_now()
    with pytest.raises(ValueError, match="bounded tail"):
        CdcIngestJob(
            spark, table.path, src, ckpt, IngestConfig(), target_lsn=5000
        ).run_available_now()
    # same target: safe no-op resume
    CdcIngestJob(
        spark, table.path, src, ckpt, IngestConfig(), target_lsn=3000
    ).run_available_now()
    # recovery: fresh checkpoint replays everything — idempotent merge
    CdcIngestJob(
        spark, table.path, src, str(tmp_path / "ckpt2"), IngestConfig()
    ).run_available_now()
    assert_matches_replay(LakeTable.load(spark, table.path).read(), events)


def test_single_table_apply_job_counts(spark, tmp_path, count_jobs):
    """Job-count guard for the single-table micro-batch apply: one batch
    launches 4 Spark jobs on a typed copy-on-write table and 5 on a JSON
    merge-on-read table whose batch adds a column (the counts measured
    before single-table ingest became the one-stream case of the shared
    apply)."""
    from pyspark.sql import types as T

    from airbyte_custom_spark.schema import CDC_EVENT_SCHEMA, JSON_CDC_EVENT_SCHEMA
    from airbyte_custom_spark.sources.generator import json_envelope
    from airbyte_custom_spark.streaming.pipeline import JsonCdcIngestJob

    events = change_events(spark, 2000, n_convs=40, max_turns=8, p_delete=0.1)
    typed_src = str(tmp_path / "typed")
    events.write.parquet(typed_src)
    cow = LakeTable.create(spark, str(tmp_path / "cow"), TRANSCRIPT_SCHEMA, num_buckets=4)
    job = CdcIngestJob(spark, cow.path, typed_src, str(tmp_path / "ck_cow"))
    frame = spark.read.schema(CDC_EVENT_SCHEMA).parquet(typed_src)
    assert count_jobs(lambda: job._apply_batch(frame, 0)) == 4
    assert_matches_replay(LakeTable.load(spark, cow.path).read(), events)

    json_src = str(tmp_path / "json")
    json_envelope(events).write.parquet(json_src)
    narrow = T.StructType([f for f in TRANSCRIPT_SCHEMA.fields if f.name != "text"])
    mor = LakeTable.create(
        spark, str(tmp_path / "mor"), narrow, num_buckets=4, write_mode="mor"
    )
    jjob = JsonCdcIngestJob(spark, mor.path, json_src, str(tmp_path / "ck_mor"))
    jframe = spark.read.schema(JSON_CDC_EVENT_SCHEMA).parquet(json_src)
    assert count_jobs(lambda: jjob._apply_batch(jframe, 0)) == 5
    t = LakeTable.load(spark, mor.path)
    assert "text" in t.payload_columns
    assert_matches_replay(t.read(), events)

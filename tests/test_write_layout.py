"""Write geometry of the pinned merge exchange (`LakeTable._pinned_layout`).

The contract under test: a pinned CoW merge, merge-on-read delta append
and ``compact_deltas`` run their parquet write as ONE task per core, each
task holding whole buckets (P reducers, P the smallest divisor of
num_buckets ≥ the session's default parallelism), still write exactly one
file per touched bucket, shuffle once, and leave the session's shuffle
confs as they were.  A ``files_per_bucket`` > 1 table keeps
num_buckets × files_per_bucket reducers."""

import glob
import os
from collections import Counter

import pytest

from airbyte_custom_spark.lake.table import LakeTable, pinned_reducers
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
from airbyte_custom_spark.sources.generator import change_events

SHUFFLE = "spark.sql.shuffle.partitions"
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _files_per_bucket(table: LakeTable, version: int) -> Counter:
    files = glob.glob(
        os.path.join(table.path, "data", f"v{version}", "bucket=*", "*.parquet")
    )
    return Counter(int(os.path.basename(os.path.dirname(f))[7:]) for f in files)


def _batch(spark, table, seed):
    ev = change_events(spark, 600, n_convs=200, seed=seed)
    touched = sorted(r[0] for r in ev.select(table.bucket_expr(ev)).distinct().collect())
    return ev, touched


def _check_write(spark, stage_tasks, action, write_tasks=4):
    confs = (spark.conf.get(SHUFFLE), spark.conf.get(COALESCE))
    out = []
    tasks = stage_tasks(lambda: out.append(action()))
    # one exchange: its map stage, then the write stage
    assert len(tasks) == 2, tasks
    assert tasks[-1] == write_tasks, tasks
    assert (spark.conf.get(SHUFFLE), spark.conf.get(COALESCE)) == confs
    return out[0]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_pinned_merge_writes_one_task_per_core(spark, stage_tasks, tmp_path, mode):
    assert spark.sparkContext.defaultParallelism == 4
    t = LakeTable.create(
        spark, str(tmp_path / mode), TRANSCRIPT_SCHEMA, num_buckets=16, write_mode=mode
    )
    t.merge(change_events(spark, 3000, n_convs=200), batch_id=0)
    ev, touched = _batch(spark, t, seed=7)
    r = _check_write(
        spark,
        stage_tasks,
        lambda: t.merge(ev, batch_id=1, touched_buckets=touched, validate_pk=False),
    )
    assert sorted(r.touched_buckets) == touched
    assert _files_per_bucket(t, r.version) == Counter({b: 1 for b in touched})


def test_compact_deltas_writes_one_task_per_core(spark, stage_tasks, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=16, write_mode="mor"
    )
    t.merge(change_events(spark, 3000, n_convs=200), batch_id=0, mode="cow")
    for bid, seed in ((1, 7), (2, 8)):
        t.merge(change_events(spark, 300, n_convs=200, seed=seed), batch_id=bid)
    touched = {b for ref in t.delta_refs for b in ref["live_buckets"]}
    v = _check_write(spark, stage_tasks, t.compact_deltas)
    assert not t.delta_refs
    assert _files_per_bucket(t, v) == Counter({b: 1 for b in touched})


def test_files_per_bucket_keeps_one_reducer_per_file(spark, stage_tasks, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=16, files_per_bucket=2
    )
    t.merge(change_events(spark, 3000, n_convs=200), batch_id=0)
    ev, touched = _batch(spark, t, seed=7)
    r = _check_write(
        spark,
        stage_tasks,
        lambda: t.merge(ev, batch_id=1, touched_buckets=touched, validate_pk=False),
        write_tasks=32,
    )
    assert _files_per_bucket(t, r.version) == Counter({b: 2 for b in touched})


@pytest.mark.parametrize(
    "num_buckets,cores,want",
    [(16, 1, 1), (16, 4, 4), (16, 6, 8), (16, 16, 16), (16, 32, 16), (7, 4, 7)],
)
def test_pinned_reducers_is_smallest_divisor_at_least_cores(num_buckets, cores, want):
    assert pinned_reducers(num_buckets, cores) == want

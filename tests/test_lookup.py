"""Point lookup (`LakeTable.lookup`): bucket-pruned serving reads.

The scale claim under test: a lookup lists/reads ONLY the files of the
buckets the key literals hash into (Iceberg bucket-transform predicate
pushdown), on both the CoW base and MoR delta manifests — O(touched
buckets), never O(table)."""

import os

import pytest
from pyspark.sql import functions as F

from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
from airbyte_custom_spark.sources.generator import change_events


def _mk(spark, tmp_path, **kw):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8, **kw
    )
    ev = change_events(spark, 4000, n_convs=60, seed=7)
    t.merge(ev, batch_id=0)
    return t


def _basenames(paths):
    return {os.path.basename(p) for p in paths}


def test_lookup_by_conv_prunes_to_hashed_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path, bucket_keys=("conv_id",))
    ids = [
        r[0]
        for r in t.read().select("conv_id").distinct().orderBy("conv_id").limit(2).collect()
    ]
    got = t.lookup(ids)
    # value parity vs the unpruned read
    want = t.read().filter(F.col("conv_id").isin(ids))
    assert sorted(got.collect()) == sorted(want.collect())
    # pruning: the scan's actual input files are a strict subset — exactly
    # the files of the buckets the two keys hash into
    keys_df = spark.createDataFrame([(i,) for i in ids], "conv_id string")
    buckets = {r[0] for r in keys_df.select(t.bucket_expr(keys_df).alias("b")).collect()}
    allowed = _basenames(
        os.path.join(t.path, e["path"]) for e in t.live_files(buckets)
    )
    scanned = _basenames(got.inputFiles())
    assert scanned, "lookup scanned no files"
    assert scanned <= allowed
    assert len(scanned) < len(t.live_files(None)), "lookup did not prune"


def test_lookup_composite_pk_single_row(spark, tmp_path):
    t = _mk(spark, tmp_path)  # bucket_keys = pk = (conv_id, turn_idx)
    row = t.read().orderBy("conv_id", "turn_idx").first()
    got = t.lookup([(row["conv_id"], row["turn_idx"])]).collect()
    assert len(got) == 1
    assert got[0]["conv_id"] == row["conv_id"]
    assert got[0]["turn_idx"] == row["turn_idx"]
    assert got[0]["text"] == row["text"]


def test_lookup_folds_mor_deltas_in_pruned_buckets(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        TRANSCRIPT_SCHEMA,
        num_buckets=8,
        bucket_keys=("conv_id",),
        write_mode="mor",
    )
    ev = change_events(spark, 4000, n_convs=60, seed=7)
    hi = ev.agg(F.max("lsn")).first()[0]
    t.merge(ev.filter(F.col("lsn") <= hi // 2), batch_id=0, mode="cow")
    t.merge(ev.filter(F.col("lsn") > hi // 2), batch_id=1, mode="mor")
    assert t.delta_refs, "expected an outstanding MoR delta"
    ids = [
        r[0]
        for r in t.read().select("conv_id").distinct().orderBy("conv_id").limit(3).collect()
    ]
    got = t.lookup(ids)
    want = t.read().filter(F.col("conv_id").isin(ids))
    assert sorted(got.collect()) == sorted(want.collect())


def test_lookup_many_keys_semi_join_path(spark, tmp_path):
    t = _mk(spark, tmp_path)  # composite keys -> broadcast semi-join branch
    rows = t.read().select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").limit(40).collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    got = t.lookup(keys)
    assert got.count() == len(keys)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_lookup_requires_bucket_key_coverage(spark, tmp_path):
    t = _mk(spark, tmp_path)  # bucket_keys = (conv_id, turn_idx)
    with pytest.raises(ValueError, match="do not cover bucket keys"):
        t.lookup(["conv-x"], columns=("conv_id",))


def test_lookup_empty_keys_and_missing_keys(spark, tmp_path):
    t = _mk(spark, tmp_path, bucket_keys=("conv_id",))
    assert t.lookup([]).count() == 0
    assert t.lookup(["no-such-conversation"]).count() == 0


def test_lookup_prunes_files_by_key_range_across_commits(spark, tmp_path):
    """Per-file key min/max (Iceberg lower/upper-bounds analog): under
    merge-on-read, commits touching DISJOINT conv_id ranges accumulate
    one delta file per bucket per commit; a lookup of a conversation from
    one range must skip the other commits' delta files entirely —
    file-level pruning inside the bucket, before Spark lists anything.
    (Copy-on-write rewrites a touched bucket to one file, so the
    multi-file-per-bucket case at scale IS the MoR/pre-compaction one.)"""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        TRANSCRIPT_SCHEMA,
        num_buckets=2,
        bucket_keys=("conv_id",),
        sort_within_buckets=True,
        write_mode="mor",
    )
    ev = change_events(spark, 6000, n_convs=90, seed=5)
    # lexicographically disjoint conv slices -> disjoint key ranges per commit
    slices = [
        ev.filter(F.col("conv_id") < "conv-3"),
        ev.filter((F.col("conv_id") >= "conv-3") & (F.col("conv_id") < "conv-6")),
        ev.filter(F.col("conv_id") >= "conv-6"),
    ]
    for i, s in enumerate(slices):
        t.merge(s, batch_id=i)
    files = t.live_files(None) + t.live_delta_files(None)
    assert all(
        e["key_min"] is not None and e["key_max"] is not None for e in files
    ), "key stats missing from the manifest"
    target = slices[1].select("conv_id").orderBy("conv_id").first()["conv_id"]
    got = t.lookup([target])
    want = t.read().filter(F.col("conv_id") == target)
    assert sorted(got.collect()) == sorted(want.collect())
    scanned = _basenames(got.inputFiles())
    keys_df = spark.createDataFrame([(target,)], "conv_id string")
    bucket = keys_df.select(t.bucket_expr(keys_df).alias("b")).first()["b"]
    in_bucket = t.live_files({bucket}) + t.live_delta_files({bucket})
    assert len(in_bucket) >= 3, "expected one delta per commit in the bucket"
    qualifying = {
        os.path.basename(e["path"])
        for e in in_bucket
        if e["key_min"] <= target <= e["key_max"]
    }
    assert scanned <= qualifying
    assert len(scanned) < len(in_bucket), "key-range pruning did not bite"


def test_compacted_files_stay_sorted_with_key_stats(spark, tmp_path):
    """compact_deltas rewrites buckets through the same write path, so a
    sort_within_buckets table keeps tight per-file key ranges (and rows
    physically sorted) after compaction — lookups stay pruned for the
    table's whole life, not just between compactions."""
    import pyarrow.parquet as pq

    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        TRANSCRIPT_SCHEMA,
        num_buckets=2,
        bucket_keys=("conv_id",),
        sort_within_buckets=True,
        write_mode="mor",
    )
    ev = change_events(spark, 3000, n_convs=40, seed=9)
    hi = ev.agg(F.max("lsn")).first()[0]
    t.merge(ev.filter(F.col("lsn") <= hi // 2), batch_id=0)
    t.merge(ev.filter(F.col("lsn") > hi // 2), batch_id=1)
    assert t.compact_deltas() is not None
    files = t.live_files(None)
    assert not t.live_delta_files(None)
    assert all(e["key_min"] is not None for e in files)
    # rows inside each compacted file are physically sorted by the key
    for e in files:
        col = pq.read_table(
            str(tmp_path / "t" / e["path"]), columns=["conv_id"]
        )["conv_id"].to_pylist()
        assert col == sorted(col), f"{e['path']} not sorted"


# --------------------------------------------------------------------------
# The lookup plan: a local key relation and a pushed leading-key predicate


def _mk_mode(spark, tmp_path, mode, n=4000, n_convs=60, p_delete=0.05):
    """Default-layout table (bucket_keys = pk = (conv_id, turn_idx)); under
    ``"mor"`` the second half of the events sits in outstanding deltas."""
    t = LakeTable.create(
        spark, str(tmp_path / mode), TRANSCRIPT_SCHEMA, num_buckets=8,
        write_mode=mode,
    )
    ev = change_events(spark, n, n_convs=n_convs, seed=7, p_delete=p_delete)
    hi = ev.agg(F.max("lsn")).first()[0]
    t.merge(ev.filter(F.col("lsn") <= hi // 2), batch_id=0, mode="cow")
    t.merge(ev.filter(F.col("lsn") > hi // 2), batch_id=1)
    assert bool(t.delta_refs) == (mode == "mor")
    return t


@pytest.mark.parametrize("mode,max_jobs", [("cow", 2), ("mor", 3)])
def test_lookup_plan_is_jvm_only_and_pushed(spark, tmp_path, count_jobs, mode, max_jobs):
    """One composite-key lookup runs no Python RDD: the key side is a
    LocalTableScan (the bucket ids come from it with no job), the
    leading-key predicate reaches every parquet scan, base and delta, and
    the whole lookup launches at most ``max_jobs`` jobs (broadcast build +
    result, plus the latest-per-key shuffle stage under MoR)."""
    t = _mk_mode(spark, tmp_path, mode)
    row = t.read().orderBy("conv_id", "turn_idx").first()
    key = (row["conv_id"], row["turn_idx"])
    out = {}

    def run():
        df = t.lookup([key])
        out["rows"] = df.collect()
        out["plan"] = df._jdf.queryExecution().executedPlan().toString()

    jobs = count_jobs(run)
    assert [(r["conv_id"], r["turn_idx"]) for r in out["rows"]] == [key]
    plan = out["plan"]
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan and "LeftSemi" in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) >= (2 if mode == "mor" else 1)
    for ln in scans:
        pushed = ln.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert f"EqualTo(conv_id,{key[0]})" in pushed, pushed
    assert jobs <= max_jobs, f"{jobs} jobs for one {mode} lookup"


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("n_absent", [3, 1100])
def test_lookup_matches_semi_join_of_read(spark, tmp_path, mode, n_absent):
    """``lookup`` == ``read()`` left-semi-joined with the keys, for
    duplicate, absent and tombstoned keys; 1100 absent keys (one
    conversation each) take the key set past the 1024-value IN-list."""
    t = _mk_mode(spark, tmp_path, mode, p_delete=0.2)
    live = [
        (r["conv_id"], r["turn_idx"])
        for r in t.read().select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx").limit(30).collect()
    ]
    dead = [
        (r["conv_id"], r["turn_idx"])
        for r in t.read(include_deleted=True, include_meta=True)
        .filter("_deleted").select("conv_id", "turn_idx").limit(10).collect()
    ]
    assert dead, "fixture produced no tombstones"
    absent = [(f"conv-absent-{i}", i) for i in range(n_absent)]
    keys = live + live[:5] + dead + absent
    keys_df = spark.createDataFrame(keys, "conv_id string, turn_idx int")
    want = t.read().join(keys_df, on=["conv_id", "turn_idx"], how="left_semi")
    got = t.lookup(keys).collect()
    assert sorted(got) == sorted(want.collect())
    assert len(got) == len(live)


@pytest.mark.parametrize(
    "key,err",
    [
        (("c", None), "FIELD_NOT_NULLABLE"),
        (("c", "3"), "FIELD_DATA_TYPE_UNACCEPTABLE"),
        (("c", 3.0), "FIELD_DATA_TYPE_UNACCEPTABLE"),
    ],
)
def test_lookup_validates_key_values(spark, tmp_path, key, err):
    from pyspark.errors import PySparkTypeError, PySparkValueError

    t = _mk(spark, tmp_path)  # bucket_keys = (conv_id, turn_idx)
    with pytest.raises((PySparkTypeError, PySparkValueError), match=err):
        t.lookup([key])


def test_empty_reads_run_no_job(spark, tmp_path, count_jobs):
    """An empty file set (a new table, ``lookup([])``) reads as a local
    relation: collecting it launches no job and no Python task."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=8
    )
    assert count_jobs(lambda: t.read().collect()) == 0
    t = _mk(spark, tmp_path / "full")
    got = t.lookup([])
    assert got.columns == t.read().columns
    assert count_jobs(got.collect) == 0

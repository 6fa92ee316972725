"""Merge-on-read write mode (Iceberg v2 ``write.merge.mode`` analog).

The contract under test: a table ingested with mode="mor" is READ-
EQUIVALENT to the same event stream ingested copy-on-write — identical
final state, identical delete-wins tie semantics, identical exactly-once
replay skips — while each MOR commit appends only a delta manifest
(no base-bucket rewrite), and compact_deltas() folds deltas into the
base without changing what readers see.  Reference semantics anchor:
final replayed table state per BaseTypingDedupingTest; sink-side MOR
trade-off per Iceberg v2 (the reference's IcebergConsumer.java:140-224
writes CoW — this is the alternative strategy at high update rates).
"""

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import AnalysisException

from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
from airbyte_custom_spark.sources.generator import change_events

from tests.util import assert_matches_replay, ev, mk_events, table_state


def mor_table(spark, tmp_path, name="mor", **kw):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        TRANSCRIPT_SCHEMA,
        num_buckets=kw.pop("num_buckets", 4),
        write_mode=kw.pop("write_mode", "mor"),
        **kw,
    )


def _batches(events, n):
    """Split an event list into n LSN-ordered contiguous batches."""
    ordered = sorted(events, key=lambda e: e[0])
    step = (len(ordered) + n - 1) // n
    return [ordered[i : i + step] for i in range(0, len(ordered), step)]


def test_mor_equivalent_to_cow(spark, tmp_path):
    """Same stream, both modes, batch by batch → identical final state."""
    events = [ev(i, "c" if i <= 20 else ("d" if i % 7 == 0 else "u"),
                 f"conv-{i % 5}", (i % 4)) for i in range(1, 61)]
    cow = mor_table(spark, tmp_path, "cow", write_mode="cow")
    mor = mor_table(spark, tmp_path, "mor")
    for bid, batch in enumerate(_batches(events, 4)):
        df = mk_events(spark, batch)
        cow.merge(df, batch_id=bid)
        r = mor.merge(df, batch_id=bid)
        assert not r.skipped and r.version is not None
    assert mor.delta_refs, "MOR merges must accumulate delta manifests"
    assert not cow.delta_refs
    assert table_state(mor.read()) == table_state(cow.read())
    assert_matches_replay(mor.read(), mk_events(spark, events))


def test_mor_no_base_rewrite(spark, tmp_path):
    """A MOR merge never rewrites base manifests — base refs are carried
    byte-identically; only the delta list grows."""
    t = mor_table(spark, tmp_path)
    t.merge(mk_events(spark, [ev(i, "c", f"conv-{i}", 0) for i in range(1, 9)]),
            batch_id=0, mode="cow")  # seed a base
    base_before = t.snapshot["manifests"]
    t.merge(mk_events(spark, [ev(10, "u", "conv-1", 0, text="upd")]), batch_id=1)
    assert t.snapshot["manifests"] == base_before
    assert len(t.delta_refs) == 1
    assert table_state(t.read())[("conv-1", 0)][1] == "upd"


def test_mor_replay_skipped(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    df = mk_events(spark, [ev(1, "c", "a", 0)])
    assert not t.merge(df, batch_id=0).skipped
    assert t.merge(df, batch_id=0).skipped
    assert len(t.delta_refs) == 1
    assert t.read().count() == 1


def test_mor_delete_wins_across_deltas(spark, tmp_path):
    """Tombstone in a later delta kills an upsert in an earlier delta AND
    a base row; equal-LSN delete/upsert in ONE batch resolves to delete
    (same tie rule as CoW)."""
    t = mor_table(spark, tmp_path)
    t.merge(mk_events(spark, [ev(1, "c", "a", 0), ev(2, "c", "b", 0)]), batch_id=0,
            mode="cow")
    t.merge(mk_events(spark, [ev(3, "u", "a", 0, text="v3")]), batch_id=1)
    t.merge(mk_events(spark, [ev(4, "d", "a", 0)]), batch_id=2)
    # equal-lsn tie inside one MOR batch: delete wins regardless of order
    t.merge(mk_events(spark, [ev(5, "u", "b", 0, text="v5"), ev(5, "d", "b", 0)]),
            batch_id=3)
    assert t.read().count() == 0
    tomb = t.read(include_deleted=True, include_meta=True)
    assert tomb.filter("_deleted").count() == 2


def test_mor_stale_update_after_delete_stays_deleted(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    t.merge(mk_events(spark, [ev(9, "d", "a", 0)]), batch_id=0)
    t.merge(mk_events(spark, [ev(5, "u", "a", 0, text="stale")]), batch_id=1)
    assert t.read().count() == 0


def test_compact_deltas_preserves_state_and_clears(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    events = [ev(i, "c" if i <= 10 else "u", f"conv-{i % 3}", i % 2)
              for i in range(1, 31)]
    for bid, batch in enumerate(_batches(events, 3)):
        t.merge(mk_events(spark, batch), batch_id=bid)
    before = table_state(t.read())
    v = t.compact_deltas()
    assert v == t.version and not t.delta_refs
    assert table_state(t.read()) == before
    assert t.compact_deltas() is None  # nothing left to fold
    # post-compact reads are plain scans again: replay oracle still holds
    assert_matches_replay(t.read(), mk_events(spark, events))


def test_compact_deltas_carries_untouched_buckets(spark, tmp_path):
    """Compaction rewrites only delta-touched buckets; base files in
    untouched buckets are carried by reference (same file paths)."""
    t = mor_table(spark, tmp_path, num_buckets=8)
    t.merge(mk_events(spark, [ev(i, "c", f"conv-{i}", 0) for i in range(1, 30)]),
            batch_id=0, mode="cow")
    files_before = {e["path"]: e["bucket"] for e in t.live_files()}
    r = t.merge(mk_events(spark, [ev(40, "u", "conv-1", 0, text="x")]), batch_id=1)
    touched = set(r.touched_buckets)
    assert len(touched) < 8
    t.compact_deltas()
    files_after = {e["path"]: e["bucket"] for e in t.live_files()}
    carried = {p for p, b in files_before.items() if b not in touched}
    assert carried <= set(files_after), "untouched-bucket files must be carried"
    assert all(b in touched for p, b in files_after.items()
               if p not in files_before), "only touched buckets rewritten"


def test_mor_time_travel_folds_deltas(spark, tmp_path):
    """load(version=v) must reproduce the state as of v, including the
    delta fold — and a pre-compaction version stays readable after
    compact_deltas (snapshot isolation)."""
    t = mor_table(spark, tmp_path)
    t.merge(mk_events(spark, [ev(1, "c", "a", 0, text="v1")]), batch_id=0)
    v1 = t.version
    t.merge(mk_events(spark, [ev(2, "u", "a", 0, text="v2")]), batch_id=1)
    v2 = t.version
    t.compact_deltas()
    assert table_state(LakeTable.load(spark, t.path, version=v1).read())[("a", 0)][1] == "v1"
    assert table_state(LakeTable.load(spark, t.path, version=v2).read())[("a", 0)][1] == "v2"
    assert table_state(t.read())[("a", 0)][1] == "v2"


def test_mor_stats_and_history(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    t.merge(mk_events(spark, [ev(1, "c", "a", 0), ev(2, "c", "b", 0)]), batch_id=0)
    s = t.stats()
    assert s["delta_files"] >= 1 and s["delta_rows"] == 2
    assert s["files"] == s["delta_files"]  # no base yet
    ops = [h["operation"] for h in t.history()]
    assert "merge-mor" in ops
    t.compact_deltas()
    s2 = t.stats()
    assert s2["delta_files"] == 0 and s2["rows"] == 2


def test_mor_gc_tombstones_requires_compaction(spark, tmp_path):
    t = mor_table(spark, tmp_path)
    t.merge(mk_events(spark, [ev(1, "c", "a", 0)]), batch_id=0)
    t.merge(mk_events(spark, [ev(2, "d", "a", 0)]), batch_id=1)
    with pytest.raises(ValueError, match="compact_deltas"):
        t.gc_tombstones(lsn_watermark=100)
    t.compact_deltas()
    t.gc_tombstones(lsn_watermark=100)
    assert t.read(include_deleted=True).count() == 0


def test_mor_expire_snapshots_keeps_live_delta_files(spark, tmp_path):
    """Snapshot expiry must treat delta manifests as live references —
    current-state reads survive an aggressive expire + orphan sweep."""
    t = mor_table(spark, tmp_path)
    for bid in range(4):
        t.merge(mk_events(spark, [ev(10 + bid, "c" if bid == 0 else "u",
                                     "a", 0, text=f"v{bid}")]), batch_id=bid)
    before = table_state(t.read())
    res = t.expire_snapshots(retain_last=1, remove_orphans=True,
                             orphan_min_age_sec=0.0)
    assert res["expired_snapshots"] >= 1
    assert table_state(LakeTable.load(spark, t.path).read()) == before


def test_mor_schema_evolution_across_deltas(spark, tmp_path):
    """Deltas written under an older schema id still align at read after
    an in-place ADD-column evolution (per-file schema_id grouping)."""
    import pyspark.sql.types as T

    t = mor_table(spark, tmp_path)
    t.merge(mk_events(spark, [ev(1, "c", "a", 0)]), batch_id=0)
    new_payload = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("score", T.DoubleType())]
    )
    t.evolve_schema(new_payload)
    df = t.read()
    assert "score" in df.columns
    assert df.filter("score IS NULL").count() == 1


def test_mor_generator_scale_parity(spark, tmp_path):
    """Synthetic 6k-event stream in 3 batches: MOR ≡ CoW on the exact
    final frame (sorted collect over all payload columns)."""
    ev_df = change_events(spark, 6000, n_convs=150, seed=11).cache()
    import pyspark.sql.functions as F

    bounds = ev_df.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).first()
    step = (bounds["hi"] - bounds["lo"]) // 3 + 1
    cow = mor_table(spark, tmp_path, "cow2", write_mode="cow")
    mor = mor_table(spark, tmp_path, "mor2")
    for i in range(3):
        b = ev_df.filter(
            (F.col("lsn") >= bounds["lo"] + i * step)
            & (F.col("lsn") < bounds["lo"] + (i + 1) * step)
        )
        cow.merge(b, batch_id=i)
        mor.merge(b, batch_id=i)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    a = sorted(map(tuple, cow.read().select(cols).collect()))
    b = sorted(map(tuple, mor.read().select(cols).collect()))
    assert a == b
    ev_df.unpersist()


def test_mor_streaming_delta_budget(spark, tmp_path):
    """C8 valve in the streaming tail: with mor_delta_budget set, the job
    folds outstanding deltas whenever they exceed the budget, so the table
    never accumulates unbounded read amplification — and the final state
    is still the exact replay."""
    from airbyte_custom_spark.config import IngestConfig
    from airbyte_custom_spark.sources.generator import (
        change_events,
        write_event_chunks,
    )
    from airbyte_custom_spark.streaming.pipeline import CdcIngestJob

    events = change_events(spark, 3000, n_convs=40, max_turns=6)
    src = str(tmp_path / "seg")
    write_event_chunks(events, src, n_chunks=6)
    t = mor_table(spark, tmp_path, "tbl")
    job = CdcIngestJob(
        spark, t.path, src, str(tmp_path / "ckpt"),
        IngestConfig(max_files_per_trigger=1, mor_delta_budget=1),
    )
    job.run_available_now()
    t = LakeTable.load(spark, t.path)
    # 6 MoR merges with budget 1: deltas were folded along the way
    assert t.stats()["delta_files"] <= 2
    assert any(
        s["operation"] == "compact-deltas" for s in t.history()
    )
    assert_matches_replay(t.read(), events)


LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@pytest.fixture(scope="module")
def many_deltas(spark, tmp_path_factory):
    """A MoR table of 3 delta commits into 16 buckets: 48 delta files, past
    the session's listing threshold of 32 paths."""
    import pyspark.sql.functions as F

    ev_df = change_events(spark, 3000, n_convs=200, seed=5).cache()
    lo, hi = ev_df.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 3 + 1
    t = mor_table(spark, tmp_path_factory.mktemp("many"), num_buckets=16)
    for i in range(3):
        t.merge(
            ev_df.filter(
                (F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step)
            ),
            batch_id=i,
        )
    ev_df.unpersist()
    assert len(t.delta_refs) == 3 and len(t.live_delta_files()) > 32
    return t


def test_mor_frame_build_launches_no_listing_job(many_deltas, count_jobs):
    """Building a frame over more files than the listing threshold runs
    no Spark job: the manifest names every file, so none is listed by a
    job of one task per path."""
    assert count_jobs(lambda: many_deltas.read()) == 0
    assert count_jobs(lambda: many_deltas.read_since(0)) == 0


def test_mor_read_restores_listing_threshold(spark, tmp_path, many_deltas):
    """The session's listing threshold is as before after a read, after
    8 concurrent reads from driver threads (more than the 4 local cores),
    and after a read that raises."""
    shutil.copytree(many_deltas.path, str(tmp_path / "copy"))
    t = LakeTable.load(spark, str(tmp_path / "copy"))

    def setting():
        return spark.conf.get(LISTING_THRESHOLD), LISTING_THRESHOLD in spark.conf.getAll

    # two frame sizes past the threshold, so unlocked threads would
    # restore each other's raised values
    part = list(range(12))
    assert 32 < len(t.live_delta_files(set(part))) < len(t.live_delta_files())

    def reads(i):
        return [t.read(buckets=part if i % 2 else None) for _ in range(5)]

    before = setting()
    expected = [t.read().count(), t.read(buckets=part).count()]
    assert setting() == before
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            frames = list(pool.map(reads, range(8), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert [f[-1].count() for f in frames] == expected * 4
    assert setting() == before
    spark.conf.set(LISTING_THRESHOLD, "33")
    try:
        t.read()
        assert setting() == ("33", True)
    finally:
        spark.conf.unset(LISTING_THRESHOLD)
    os.remove(os.path.join(t.path, t.live_delta_files()[0]["path"]))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        t.read()
    assert setting() == before


def test_mor_evolved_base_with_current_deltas_matches_compacted(spark, tmp_path):
    """Base files at an old schema id fold with deltas at the current one
    (read as written, no projection) to the same rows a compacted copy
    of the table holds."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    t = mor_table(spark, tmp_path)
    base = [ev(i, "c", f"conv-{i % 5}", i % 3) for i in range(1, 16)]
    t.merge(mk_events(spark, base), batch_id=0, mode="cow")
    t.evolve_schema(
        T.StructType(
            list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("model", T.StringType())]
        )
    )
    for bid, batch in enumerate(
        [
            [ev(20, "u", "conv-1", 1, text="new"), ev(21, "c", "conv-9", 0)],
            [ev(22, "d", "conv-2", 2), ev(23, "u", "conv-9", 0, text="again")],
        ],
        start=1,
    ):
        t.merge(
            mk_events(spark, batch).withColumn("model", F.lit(f"m{bid}")),
            batch_id=bid,
        )
    cur = t.snapshot["current_schema_id"]
    assert cur != 0
    assert {e.get("schema_id", 0) for e in t.live_files()} == {0}
    assert {e.get("schema_id", 0) for e in t.live_delta_files()} == {cur}

    shutil.copytree(t.path, str(tmp_path / "compacted"))
    c = LakeTable.load(spark, str(tmp_path / "compacted"))
    c.compact_deltas()
    assert not c.delta_refs
    for df_t, df_c in [
        (t.read(), c.read()),
        (t.read_since(0), c.read_since(0)),
    ]:
        assert df_t.columns == df_c.columns
        assert sorted(map(tuple, df_t.collect())) == sorted(map(tuple, df_c.collect()))
    got = {(r["conv_id"], r["turn_idx"]): r["model"] for r in t.read().collect()}
    assert got[("conv-1", 1)] == "m1" and got[("conv-9", 0)] == "m2"
    assert got[("conv-0", 0)] is None and ("conv-2", 2) not in got

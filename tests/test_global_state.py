"""GLOBAL-state CDC (`airbyte-protocol.md:485-506`): one WAL position /
one checkpoint feeding multiple stream tables, exactly-once per stream
even when a crash lands between per-stream merges of one batch."""

import pytest
from pyspark.sql import functions as F

from airbyte_custom_spark.config import IngestConfig
from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
from airbyte_custom_spark.sources.generator import change_events, write_event_chunks
from airbyte_custom_spark.streaming.pipeline import GlobalStateIngestJob

from tests.util import assert_matches_replay


@pytest.fixture()
def multi_env(spark, tmp_path):
    # one "binlog" carrying two tables' changes, discriminated by `stream`
    ev = change_events(spark, 4000, n_convs=60, max_turns=8, p_delete=0.1)
    tagged = ev.withColumn(
        "stream", F.when(F.col("lsn") % 2 == 0, "chats").otherwise("emails")
    )
    src = str(tmp_path / "wal")
    write_event_chunks(tagged, src, n_chunks=4)
    paths = {}
    for s in ("chats", "emails"):
        p = str(tmp_path / f"tbl_{s}")
        LakeTable.create(spark, p, TRANSCRIPT_SCHEMA, num_buckets=4)
        paths[s] = p
    return tagged, src, paths, str(tmp_path / "ckpt")


def test_two_streams_one_checkpoint(spark, multi_env):
    tagged, src, paths, ckpt = multi_env
    job = GlobalStateIngestJob(
        spark, paths, src, ckpt, IngestConfig(max_files_per_trigger=2)
    )
    job.run_available_now()
    for s, p in paths.items():
        expect = tagged.filter(F.col("stream") == s).drop("stream")
        assert_matches_replay(LakeTable.load(spark, p).read(), expect)


def test_global_apply_is_single_pass_and_counts_rows(spark, multi_env, monkeypatch):
    """Round-3 fix: N streams must NOT mean N scans of the micro-batch —
    the batch persists once (DISK_ONLY) and every per-stream slice reads
    the cached copy; BatchMetrics.events counts ROWS merged, not streams
    (the round-2 metric bug)."""
    from airbyte_custom_spark.plans.inspect import explain_str

    tagged, src, paths, ckpt = multi_env
    job = GlobalStateIngestJob(spark, paths, src, ckpt, IngestConfig())
    slice_plans = []
    orig = LakeTable.merge

    def spy(self, df, *a, **kw):
        slice_plans.append(explain_str(df, "simple"))
        return orig(self, df, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge", spy)
    job.run_available_now()
    assert len(slice_plans) == 2
    for plan in slice_plans:
        assert "InMemoryTableScan" in plan, plan
    assert job.metrics.total_events == tagged.count()


def test_crash_between_stream_merges_is_exactly_once(spark, multi_env):
    tagged, src, paths, ckpt = multi_env
    job = GlobalStateIngestJob(
        spark, paths, src, ckpt, IngestConfig(max_files_per_trigger=1)
    )
    job.fail_after_batches = 2
    with pytest.raises(Exception, match="injected failure"):
        job.run_available_now()
    # restart from the same global checkpoint: replayed batches skip on the
    # streams that already committed, apply on the rest
    job2 = GlobalStateIngestJob(
        spark, paths, src, ckpt, IngestConfig(max_files_per_trigger=1)
    )
    job2.run_available_now()
    for s, p in paths.items():
        expect = tagged.filter(F.col("stream") == s).drop("stream")
        assert_matches_replay(LakeTable.load(spark, p).read(), expect)


def test_many_streams_single_source_scan_metrics_probe(tmp_path):
    """round-3 VERDICT item 6: at 12 streams, the whole micro-batch must
    cost ONE scan of the source — evidenced by runtime METRICS, not plan
    strings.  A UI-enabled subprocess session runs the job, then the SQL
    REST API sums `number of output rows` over every executed
    `Scan parquet` node: all 12 target tables start empty, so every
    parquet row read in the app comes from the WAL — a per-stream rescan
    design would read ≥ 12×.  Wall-clock sanity is asserted alongside."""
    import json as _json
    import os
    import subprocess
    import sys

    out = str(tmp_path / "probe.json")
    script = str(tmp_path / "probe.py")
    with open(script, "w") as f:
        f.write(
            r"""
import json, sys, time, urllib.request
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from airbyte_custom_spark.config import IngestConfig
from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
from airbyte_custom_spark.session import get_spark
from airbyte_custom_spark.sources.generator import change_events, write_event_chunks
from airbyte_custom_spark.streaming.pipeline import GlobalStateIngestJob

PORT = 40417
spark = get_spark(app_name="probe-global", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(PORT)})
N_EVENTS, N_STREAMS = 24000, 12
ev = change_events(spark, N_EVENTS, n_convs=400, max_turns=8, p_delete=0.1)
tagged = ev.withColumn("stream", F.concat(F.lit("s"), (F.col("lsn") %% N_STREAMS).cast("string")))
src = %(tmp)r + "/wal"
write_event_chunks(tagged, src, n_chunks=4)
paths = {}
for i in range(N_STREAMS):
    p = "%(tmp)s/tbl_s" + str(i)
    LakeTable.create(spark, p, TRANSCRIPT_SCHEMA, num_buckets=4)
    paths["s" + str(i)] = p
job = GlobalStateIngestJob(spark, paths, src, %(tmp)r + "/ckpt", IngestConfig())
t0 = time.monotonic()
job.run_available_now()
elapsed = time.monotonic() - t0

def rest(path):
    with urllib.request.urlopen("http://localhost:%%d/api/v1%%s" %% (PORT, path)) as r:
        return json.loads(r.read())

app = rest("/applications")[0]["id"]
sqls = rest("/applications/%%s/sql?details=true&length=1000" %% app)
scan_rows = imem_rows = 0
for ex in sqls:
    for node in ex.get("nodes", []):
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                v = int(str(m.get("value", "0")).split()[0].replace(",", "").replace(".", ""))
                if name.startswith("Scan parquet"):
                    scan_rows += v
                if "InMemoryTableScan" in name:
                    imem_rows += v
rows_per_table = {s: LakeTable.load(spark, p).read().count() for s, p in paths.items()}
json.dump({"scan_rows": scan_rows, "imem_rows": imem_rows, "elapsed": elapsed,
           "n_events": N_EVENTS, "total_metric_events": job.metrics.total_events,
           "rows_per_table": rows_per_table}, open(%(out)r, "w"))
spark.stop()
"""
            % {"repo": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
               "tmp": str(tmp_path), "out": out}
        )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run([sys.executable, script], env=env, capture_output=True,
                       text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    probe = _json.load(open(out))
    n = probe["n_events"]
    # THE assertion: one source scan for 12 streams.  Every executed
    # parquet-scan row in the app is a WAL row (targets start empty); a
    # per-stream design would read ~12n.
    assert n <= probe["scan_rows"] < 2 * n, probe
    # the per-stream slices really were served from the cache
    assert probe["imem_rows"] >= 10 * n, probe
    assert probe["total_metric_events"] == n
    assert all(v > 0 for v in probe["rows_per_table"].values())
    assert probe["elapsed"] < 180, probe


def test_json_global_state_streams_type_independently(spark, tmp_path):
    """round-4 JsonGlobalStateIngestJob: one WAL of raw-JSON envelopes
    carrying TWO streams with different payload shapes — each stream's
    slice infers/evolves/extracts against its own table (a column in one
    stream never appears in the other), final states match per-stream
    replay, and a crash between per-stream merges stays exactly-once."""
    import json as _json

    from airbyte_custom_spark.streaming.pipeline import JsonGlobalStateIngestJob

    rows = []
    for i in range(400):
        lsn = i + 1
        if i % 2 == 0:
            payload = {"conv_id": f"c{i % 40}", "turn_idx": i % 7,
                       "role": "user", "text": f"t@{lsn}"}
            stream = "chats"
        else:
            payload = {"conv_id": f"m{i % 40}", "turn_idx": i % 7,
                       "score": i / 10.0, "tags": [f"g{i % 3}"]}
            stream = "metrics"
        rows.append((lsn, "c", _json.dumps(payload), stream))
    env = spark.createDataFrame(
        rows, "lsn long, op string, payload string, stream string"
    ).select(
        "lsn", "op", "payload",
        F.lit(None).cast("timestamp").alias("_ab_cdc_updated_at"),
        F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
        (F.col("lsn") % 4).cast("int").alias("source_partition"),
        "stream",
    )
    src = str(tmp_path / "wal")
    write_event_chunks(env, src, n_chunks=4)
    chats_schema = TRANSCRIPT_SCHEMA
    from pyspark.sql import types as T

    metrics_schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ])
    paths = {}
    for name, schema in (("chats", chats_schema), ("metrics", metrics_schema)):
        p = str(tmp_path / f"tbl_{name}")
        LakeTable.create(spark, p, schema, num_buckets=2)
        paths[name] = p

    job = JsonGlobalStateIngestJob(
        spark, paths, src, str(tmp_path / "ckpt"),
        IngestConfig(max_files_per_trigger=1),
    )
    job.fail_after_batches = 2
    with pytest.raises(Exception, match="injected failure"):
        job.run_available_now()
    job2 = JsonGlobalStateIngestJob(
        spark, paths, src, str(tmp_path / "ckpt"),
        IngestConfig(max_files_per_trigger=1),
    )
    job2.run_available_now()

    chats = LakeTable.load(spark, paths["chats"])
    metrics = LakeTable.load(spark, paths["metrics"])
    # independent evolution: metrics gained score(double)+tags(array),
    # chats did NOT
    mcols = dict((f.name, f.dataType) for f in metrics.read().schema.fields)
    assert isinstance(mcols["score"], T.DoubleType)
    assert isinstance(mcols["tags"], T.ArrayType)
    assert "score" not in chats.payload_columns
    assert "text" not in metrics.payload_columns
    # exactly-once per stream: latest-per-key row counts match replay
    assert chats.read().count() == 140  # (j%20, j%7) over j=0..199 → lcm(20,7) keys
    got = metrics.read().filter("conv_id = 'm1' and turn_idx = 1").first()
    assert got is not None and got["tags"][0].startswith("g")
    # values are the LATEST per key in lsn order
    latest_text = chats.read().filter("conv_id = 'c0' and turn_idx = 0").first()["text"]
    assert latest_text == "t@281"  # max even lsn with i%40==0 and i%7==0: i=280


def test_stream_parallelism_matches_sequential_and_keeps_confs(spark, tmp_path):
    """round-4: `stream_parallelism` overlaps per-stream merges via driver
    threads.  Parallel and sequential runs of the SAME 8-stream WAL must
    produce identical final tables, and — because the threaded path opts
    out of the session-conf-pinning merge plan (`pin_exchange=False`) —
    the session confs must be byte-identical before and after (no clobber,
    no leak from concurrent merges)."""
    ev = change_events(spark, 6000, n_convs=120, max_turns=8, p_delete=0.1)
    tagged = ev.withColumn(
        "stream", F.concat(F.lit("s"), (F.col("lsn") % 8).cast("string"))
    )
    src = str(tmp_path / "wal")
    write_event_chunks(tagged, src, n_chunks=3)

    def run(tag, parallelism):
        paths = {}
        for i in range(8):
            p = str(tmp_path / f"tbl_{tag}_s{i}")
            LakeTable.create(spark, p, TRANSCRIPT_SCHEMA, num_buckets=4)
            paths[f"s{i}"] = p
        job = GlobalStateIngestJob(
            spark, paths, src, str(tmp_path / f"ckpt_{tag}"),
            IngestConfig(stream_parallelism=parallelism),
        )
        job.run_available_now()
        return paths, job

    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    seq_paths, _ = run("seq", 1)
    par_paths, par_job = run("par", 4)
    after = {k: spark.conf.get(k) for k in before}
    assert after == before
    for s in seq_paths:
        a = LakeTable.load(spark, seq_paths[s]).read()
        b = LakeTable.load(spark, par_paths[s]).read()
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert par_job.metrics.total_events == tagged.count()


def test_stream_parallelism_propagates_pk_failure(spark, tmp_path):
    """A NULL-pk slice under pk_violations='fail' must abort the batch even
    when merges run on pool threads (future.result re-raises)."""
    from airbyte_custom_spark.operators.dedupe import NullPrimaryKeyError

    ev = change_events(spark, 500, n_convs=20, max_turns=5, p_delete=0.0)
    tagged = ev.withColumn(
        "stream", F.concat(F.lit("s"), (F.col("lsn") % 4).cast("string"))
    ).withColumn(
        "conv_id",
        F.when(F.col("lsn") % 97 == 0, F.lit(None)).otherwise(F.col("conv_id")),
    )
    src = str(tmp_path / "wal")
    write_event_chunks(tagged, src, n_chunks=1)
    paths = {}
    for i in range(4):
        p = str(tmp_path / f"tbl_s{i}")
        LakeTable.create(spark, p, TRANSCRIPT_SCHEMA, num_buckets=2)
        paths[f"s{i}"] = p
    job = GlobalStateIngestJob(
        spark, paths, src, str(tmp_path / "ckpt"),
        IngestConfig(stream_parallelism=4, pk_violations="fail"),
    )
    with pytest.raises(Exception, match="NULL primary key|injected|StreamingQueryException"):
        job.run_available_now()


def test_json_global_state_with_stream_parallelism(spark, tmp_path):
    """The JSON variant's per-stream inference+evolution+extraction also
    runs safely on pool threads (each stream evolves its OWN table):
    results match the sequential run, including independently evolved
    schemas."""
    import json as _json

    from pyspark.sql import types as T

    from airbyte_custom_spark.streaming.pipeline import JsonGlobalStateIngestJob

    rows = []
    for i in range(600):
        lsn = i + 1
        sidx = i % 6
        payload = {"conv_id": f"c{i % 30}", "turn_idx": i % 5,
                   f"extra_{sidx}": i if sidx % 2 == 0 else f"v{i}"}
        rows.append((lsn, "c", _json.dumps(payload), f"s{sidx}"))
    env = spark.createDataFrame(
        rows, "lsn long, op string, payload string, stream string"
    ).select(
        "lsn", "op", "payload",
        F.lit(None).cast("timestamp").alias("_ab_cdc_updated_at"),
        F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
        (F.col("lsn") % 3).cast("int").alias("source_partition"),
        "stream",
    )
    src = str(tmp_path / "wal")
    write_event_chunks(env, src, n_chunks=2)
    base = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ])

    def run(tag, par):
        paths = {}
        for i in range(6):
            p = str(tmp_path / f"tbl_{tag}_s{i}")
            LakeTable.create(spark, p, base, num_buckets=2)
            paths[f"s{i}"] = p
        JsonGlobalStateIngestJob(
            spark, paths, src, str(tmp_path / f"ck_{tag}"),
            IngestConfig(stream_parallelism=par),
        ).run_available_now()
        return paths

    seq = run("jseq", 1)
    par = run("jpar", 3)
    for i in range(6):
        s = f"s{i}"
        a = LakeTable.load(spark, seq[s])
        b = LakeTable.load(spark, par[s])
        assert a.payload_columns == b.payload_columns, s
        assert f"extra_{i}" in b.payload_columns, s
        ra = sorted(map(tuple, a.read().collect()))
        rb = sorted(map(tuple, b.read().collect()))
        assert ra == rb, s


def test_crash_inside_thread_pool_is_exactly_once(spark, tmp_path, monkeypatch):
    """A merge failure on ONE pool thread mid-batch aborts the batch
    after sibling streams may have committed; the restart replays the
    batch — committed streams skip via their manifests, the failed one
    applies — and every table ends exactly-once."""
    ev = change_events(spark, 3000, n_convs=60, max_turns=8, p_delete=0.1)
    tagged = ev.withColumn(
        "stream", F.concat(F.lit("s"), (F.col("lsn") % 4).cast("string"))
    )
    src = str(tmp_path / "wal")
    write_event_chunks(tagged, src, n_chunks=2)
    paths = {}
    for i in range(4):
        p = str(tmp_path / f"tbl_s{i}")
        LakeTable.create(spark, p, TRANSCRIPT_SCHEMA, num_buckets=4)
        paths[f"s{i}"] = p

    orig = LakeTable.merge
    poisoned = {"armed": True}

    def flaky(self, df, *a, **kw):
        if poisoned["armed"] and self.path == paths["s2"]:
            poisoned["armed"] = False
            raise RuntimeError("injected pool-thread failure")
        return orig(self, df, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge", flaky)
    job = GlobalStateIngestJob(
        spark, paths, src, str(tmp_path / "ck"),
        IngestConfig(stream_parallelism=4, max_files_per_trigger=1),
    )
    with pytest.raises(Exception, match="injected pool-thread failure"):
        job.run_available_now()
    # restart from the same checkpoint (merge un-poisoned)
    job2 = GlobalStateIngestJob(
        spark, paths, src, str(tmp_path / "ck"),
        IngestConfig(stream_parallelism=4, max_files_per_trigger=1),
    )
    job2.run_available_now()
    for s, p in paths.items():
        expect = tagged.filter(F.col("stream") == s).drop("stream")
        assert_matches_replay(LakeTable.load(spark, p).read(), expect)


def test_json_global_discovery_is_fused_no_per_stream_jobs(spark, tmp_path, monkeypatch):
    """The JSON variant's payload-key discovery rides each slice's stats
    aggregation: the one-call typing stage, with its own discovery
    aggregation, must never run on the streaming path."""
    import json as _json

    import airbyte_custom_spark.streaming.pipeline as pipeline
    from airbyte_custom_spark.streaming.pipeline import JsonGlobalStateIngestJob
    from pyspark.sql import types as T

    def boom(*a, **kw):
        raise AssertionError("per-slice infer_evolve_extract ran")

    monkeypatch.setattr(pipeline, "infer_evolve_extract", boom)

    rows = []
    for i in range(200):
        payload = {"conv_id": f"c{i % 10}", "turn_idx": i % 4,
                   f"x_{i % 2}": i}
        rows.append((i + 1, "c", _json.dumps(payload), f"s{i % 2}"))
    env = spark.createDataFrame(
        rows, "lsn long, op string, payload string, stream string"
    ).select(
        "lsn", "op", "payload",
        F.lit(None).cast("timestamp").alias("_ab_cdc_updated_at"),
        F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
        (F.col("lsn") % 2).cast("int").alias("source_partition"),
        "stream",
    )
    src = str(tmp_path / "wal")
    write_event_chunks(env, src, n_chunks=2)
    base = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ])
    paths = {}
    for i in range(2):
        p = str(tmp_path / f"tbl_s{i}")
        LakeTable.create(spark, p, base, num_buckets=2)
        paths[f"s{i}"] = p
    JsonGlobalStateIngestJob(
        spark, paths, src, str(tmp_path / "ck"), IngestConfig()
    ).run_available_now()
    for i in range(2):
        t = LakeTable.load(spark, paths[f"s{i}"])
        assert f"x_{i}" in t.payload_columns
        assert f"x_{1-i}" not in t.payload_columns
        n_vals = t.read().filter(F.col(f"x_{i}").isNotNull()).count()
        assert n_vals > 0


def test_typed_global_state_reads_custom_stream_col(spark, tmp_path):
    """The typed job reads its source as the event schema plus
    ``stream_col``, whatever that column is called."""
    ev = change_events(spark, 2000, n_convs=40, max_turns=8, p_delete=0.1)
    tagged = ev.withColumn(
        "topic", F.when(F.col("lsn") % 2 == 0, "chats").otherwise("emails")
    )
    src = str(tmp_path / "wal")
    write_event_chunks(tagged, src, n_chunks=2)
    paths = {}
    for s in ("chats", "emails"):
        paths[s] = str(tmp_path / f"tbl_{s}")
        LakeTable.create(spark, paths[s], TRANSCRIPT_SCHEMA, num_buckets=4)
    job = GlobalStateIngestJob(
        spark, paths, src, str(tmp_path / "ckpt"), IngestConfig(),
        stream_col="topic",
    )
    job.run_available_now()
    for s, p in paths.items():
        expect = tagged.filter(F.col("topic") == s).drop("topic")
        assert_matches_replay(LakeTable.load(spark, p).read(), expect)
    assert job.metrics.total_events == tagged.count()


@pytest.mark.parametrize("parallelism", [1, 2])
def test_global_state_honours_mor_delta_budget(spark, tmp_path, parallelism):
    """The C8 valve runs per stream table on the global path too: with a
    budget of one delta, no merge-on-read stream table ends with more
    than one outstanding delta, the fold keeps the replay state, and the
    valve (which pins shuffle confs) leaves the session confs as they
    were, also when the merges run on pool threads."""
    ev = change_events(spark, 3000, n_convs=60, max_turns=8, p_delete=0.1)
    tagged = ev.withColumn(
        "stream", F.when(F.col("lsn") % 2 == 0, "chats").otherwise("emails")
    )
    src = str(tmp_path / "wal")
    write_event_chunks(tagged, src, n_chunks=4)
    paths = {}
    for s in ("chats", "emails"):
        paths[s] = str(tmp_path / f"tbl_{s}")
        LakeTable.create(
            spark, paths[s], TRANSCRIPT_SCHEMA, num_buckets=4, write_mode="mor"
        )
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    GlobalStateIngestJob(
        spark, paths, src, str(tmp_path / "ckpt"),
        IngestConfig(
            mor_delta_budget=1,
            max_files_per_trigger=1,
            stream_parallelism=parallelism,
        ),
    ).run_available_now()
    assert {k: spark.conf.get(k) for k in keys} == before
    for s, p in paths.items():
        t = LakeTable.load(spark, p)
        assert t.stats()["delta_files"] <= 1, s
        assert any(h["operation"] == "compact-deltas" for h in t.history()), s
        expect = tagged.filter(F.col("stream") == s).drop("stream")
        assert_matches_replay(t.read(), expect)

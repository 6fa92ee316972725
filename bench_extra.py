#!/usr/bin/env python
"""Round-6 optimization harness — NOT the artifact-of-record bench.

Isolates each bench.py query (guide §1.4: noop-sink timing where the
query is a pure transformation; the real sink where the write IS the
measured work) and sub-phases of the composite ones, so before/after
deltas can be attributed to a specific operator.  Prints one JSON line.

Usage:
  python bench_extra.py [--events N] [--phases a,b,c]
Phases: gen, e2e, latest, json, morcow, lookup, corpus
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
SHM = "/dev/shm/acs-bench-extra" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
N_CHUNKS = 32


def log(*a):
    print(*a, file=sys.stderr, flush=True)


class Timer:
    def __init__(self, spark):
        self.spark = spark
        self.t: dict[str, float] = {}

    def run(self, name: str, fn):
        self.spark.sparkContext.setJobDescription(name)
        t0 = time.monotonic()
        out = fn()
        self.t[name] = round(time.monotonic() - t0, 3)
        self.spark.sparkContext.setJobDescription(None)
        log(f"  {name}: {self.t[name]}s")
        return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=10_000_000)
    ap.add_argument("--phases", default="gen,e2e,latest,json,morcow,lookup,corpus")
    args = ap.parse_args()
    phases = set(args.phases.split(","))
    n_events = args.events

    from airbyte_custom_spark.config import IngestConfig
    from airbyte_custom_spark.lake.table import LakeTable
    from airbyte_custom_spark.operators.dedupe import latest_per_key
    from airbyte_custom_spark.schema import CDC_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from airbyte_custom_spark.session import get_spark
    from airbyte_custom_spark.sources.generator import (
        change_events,
        json_envelope,
        write_event_chunks,
    )
    from airbyte_custom_spark.streaming.pipeline import CdcIngestJob, JsonCdcIngestJob
    from pyspark.sql import functions as F

    os.makedirs(SHM, exist_ok=True)
    spark = get_spark(app_name="bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    tm = Timer(spark)

    def mk_events():
        return change_events(
            spark, n_events,
            n_convs=max(int(n_events / 15), 100),
            max_turns=24, hot_fraction=0.10, p_delete=0.05,
            num_partitions=max(CPUS, 2 * N_CHUNKS),
        )

    seg_dir = os.path.join(SHM, "seg")
    shutil.rmtree(seg_dir, ignore_errors=True)

    # ---- gen: split into compute-only (noop) and the chunked write
    if "gen" in phases:
        tm.run("gen_compute_noop", lambda: noop(mk_events()))
        tm.run("gen_write_chunks", lambda: write_event_chunks(
            mk_events(), seg_dir, n_chunks=N_CHUNKS))
        tm.t["gen_segments"] = round(
            tm.t["gen_write_chunks"], 3)  # the bench phase = write incl. compute
    else:
        write_event_chunks(mk_events(), seg_dir, n_chunks=N_CHUNKS)

    # prime codegen/JIT like bench.py does
    d = tempfile.mkdtemp(prefix="prime-", dir=SHM)
    shutil.rmtree(d, ignore_errors=True)
    t = LakeTable.create(spark, d, TRANSCRIPT_SCHEMA, num_buckets=8)
    t.merge(change_events(spark, 5_000, n_convs=100), batch_id=0, validate_pk=False)
    shutil.rmtree(d, ignore_errors=True)

    head_tbl = None
    if "e2e" in phases or "lookup" in phases or "corpus" in phases:
        tbl_dir = tempfile.mkdtemp(prefix="bx-tbl-", dir=SHM)
        ckpt_dir = tempfile.mkdtemp(prefix="bx-ckpt-", dir=SHM)
        shutil.rmtree(tbl_dir, ignore_errors=True)
        LakeTable.create(spark, tbl_dir, TRANSCRIPT_SCHEMA,
                         num_buckets=32, files_per_bucket=2)
        job = CdcIngestJob(
            spark, tbl_dir, seg_dir, ckpt_dir,
            IngestConfig(max_files_per_trigger=N_CHUNKS // 2, validate_pk=False),
        )
        tm.run("e2e_apply", lambda: job.run_available_now(timeout_sec=3600))
        tm.t["e2e_batches"] = [round(b.seconds, 2) for b in job.metrics.batches]
        head_tbl = tbl_dir

    events = spark.read.schema(CDC_EVENT_SCHEMA).parquet(seg_dir)

    if "latest" in phases:
        tm.run("latest_per_key_ref", lambda: noop(
            latest_per_key(events, ("conv_id", "turn_idx"))))

    if "json" in phases:
        jn = max(n_events // 5, 100_000)
        jdir = tempfile.mkdtemp(prefix="bx-jwal-", dir=SHM)
        shutil.rmtree(jdir, ignore_errors=True)
        write_event_chunks(
            json_envelope(events.filter(f"lsn <= {jn}")), jdir,
            n_chunks=max(CPUS // 4, 4))
        jtbl = tempfile.mkdtemp(prefix="bx-jtbl-", dir=SHM)
        jckpt = tempfile.mkdtemp(prefix="bx-jckpt-", dir=SHM)
        shutil.rmtree(jtbl, ignore_errors=True)
        LakeTable.create(spark, jtbl, TRANSCRIPT_SCHEMA, num_buckets=32)
        jjob = JsonCdcIngestJob(spark, jtbl, jdir, jckpt,
                                IngestConfig(validate_pk=False))
        tm.run("json_e2e_apply", lambda: jjob.run_available_now(timeout_sec=3600))
        for dd in (jdir, jtbl, jckpt):
            shutil.rmtree(dd, ignore_errors=True)

    if "morcow" in phases:
        m_n = max(n_events // 5, 100_000)
        m_ev = events.filter(f"lsn <= {m_n}")
        cut = int(m_n * 0.9)
        cow_tbl = tempfile.mkdtemp(prefix="bx-cow-", dir=SHM)
        shutil.rmtree(cow_tbl, ignore_errors=True)
        base = LakeTable.create(spark, cow_tbl, TRANSCRIPT_SCHEMA, num_buckets=32)
        base.merge(m_ev.filter(f"lsn <= {cut}"), batch_id=0, validate_pk=False)
        mor_tbl = tempfile.mkdtemp(prefix="bx-mor-", dir=SHM)
        shutil.rmtree(mor_tbl, ignore_errors=True)
        shutil.copytree(cow_tbl, mor_tbl)
        step = (m_n - cut) // 8
        slices = [(cut + i * step, cut + (i + 1) * step) for i in range(8)]
        for mode, path in (("cow", cow_tbl), ("mor", mor_tbl)):
            t_ = LakeTable.load(spark, path)

            def run_batches(t_=t_, mode=mode):
                for i, (lo, hi) in enumerate(slices, start=1):
                    t_.merge(m_ev.filter(f"lsn > {lo} AND lsn <= {hi}"),
                             batch_id=i, mode=mode, validate_pk=False)

            tm.run(f"{mode}_hot_batches", run_batches)
            if mode == "mor":
                tm.run("mor_compact", t_.compact_deltas)
        for dd in (cow_tbl, mor_tbl):
            shutil.rmtree(dd, ignore_errors=True)

    if head_tbl is not None and ("lookup" in phases or "corpus" in phases):
        serve = LakeTable.load(spark, head_tbl)
        if "lookup" in phases:
            pk_keys = [
                (r["conv_id"], r["turn_idx"])
                for r in serve.read().select("conv_id", "turn_idx")
                .orderBy("conv_id", "turn_idx").limit(3).collect()
            ]
            tm.run("lookup_pruned", lambda: serve.lookup(pk_keys).count())
            tm.run("lookup_fullscan", lambda: serve.read().join(
                spark.createDataFrame(pk_keys, "conv_id string, turn_idx int"),
                on=["conv_id", "turn_idx"], how="left_semi").count())
        if "corpus" in phases:
            from airbyte_custom_spark.functions.text import redact_pii

            def corpus():
                turns = F.array_sort(
                    F.collect_list(F.struct("turn_idx", "role", "text")))
                noop(
                    serve.read()
                    .withColumn("text", redact_pii(
                        F.coalesce(F.col("text"), F.lit(""))))
                    .groupBy("conv_id")
                    .agg(
                        F.count(F.lit(1)).alias("n_turns"),
                        F.array_join(
                            F.transform(turns, lambda s: F.concat_ws(
                                ": ", s["role"], s["text"])),
                            "\n",
                        ).alias("document"),
                    )
                )

            tm.run("corpus_assembly", corpus)

    if head_tbl is not None:
        shutil.rmtree(head_tbl, ignore_errors=True)
    shutil.rmtree(seg_dir, ignore_errors=True)
    spark.stop()
    print(json.dumps({"events": n_events, "queries": tm.t}))


if __name__ == "__main__":
    main()

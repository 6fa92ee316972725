#!/usr/bin/env python
"""Round-6 same-window alternated A/B micro-harness.

Runs named variant pairs back-to-back, alternating, N reps each, in ONE
Spark session — the only comparison that survives this host's co-tenant
weather (BENCH.md: identical code swings 2x between windows).

Usage: python scripts/ab_r06.py <experiment> [--events N] [--reps K]
Experiments: genwrite, zstdlevel
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
SHM = "/dev/shm/acs-ab" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("experiment")
    ap.add_argument("--events", type=int, default=10_000_000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from airbyte_custom_spark.session import get_spark
    from airbyte_custom_spark.sources.generator import (
        _identity_probes,
        change_events,
        write_event_chunks,
    )

    os.makedirs(SHM, exist_ok=True)
    spark = get_spark(app_name=f"ab-{args.experiment}",
                      master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    n = args.events

    def mk_events():
        return change_events(
            spark, n, n_convs=max(int(n / 15), 100), max_turns=24,
            hot_fraction=0.10, p_delete=0.05, num_partitions=max(CPUS, 64),
        )

    results: dict[str, list[float]] = {}

    def rep(name, fn):
        spark.sparkContext.setJobDescription(name)
        t0 = time.monotonic()
        fn()
        dt = round(time.monotonic() - t0, 3)
        results.setdefault(name, []).append(dt)
        log(f"  {name}: {dt}s")
        spark.sparkContext.setJobDescription(None)

    if args.experiment == "genwrite":
        # old: hash-partition on chunk; new: identity-probe partition
        def write_old():
            d = os.path.join(SHM, "seg-old")
            shutil.rmtree(d, ignore_errors=True)
            df = mk_events()
            bounds = df.selectExpr("min(lsn) lo", "max(lsn) hi").first()
            lo, hi = bounds["lo"], bounds["hi"]
            span = max(int(hi) - int(lo) + 1, 1)
            chunk = F.least(
                F.lit(31), ((F.col("lsn") - F.lit(int(lo))) * 32 / span).cast("int")
            )
            (df.withColumn("chunk", chunk)
               .repartition(32, "chunk")
               .sortWithinPartitions("lsn")
               .write.mode("overwrite").partitionBy("chunk").parquet(d))

        def write_new():
            d = os.path.join(SHM, "seg-new")
            shutil.rmtree(d, ignore_errors=True)
            write_event_chunks(mk_events(), d, n_chunks=32)

        _identity_probes(spark, 32)  # warm the memo outside the timing
        write_new()  # warm codegen once
        for _ in range(args.reps):
            rep("old_hash_chunk", write_old)
            rep("new_probe_chunk", write_new)

    elif args.experiment == "zstdlevel":
        from airbyte_custom_spark.lake.table import LakeTable
        from airbyte_custom_spark.schema import CDC_EVENT_SCHEMA, TRANSCRIPT_SCHEMA

        seg = os.path.join(SHM, "seg-m")
        if not os.path.isdir(seg):
            write_event_chunks(mk_events(), seg, n_chunks=32)
        events = spark.read.schema(CDC_EVENT_SCHEMA).parquet(seg)
        m_n = max(n // 5, 100_000)
        m_ev = events.filter(f"lsn <= {m_n}")
        cut = int(m_n * 0.9)
        step = (m_n - cut) // 8
        slices = [(cut + i * step, cut + (i + 1) * step) for i in range(8)]

        def run_micro(tag, extra_conf=None):
            prev = {}
            for k, v in (extra_conf or {}).items():
                prev[k] = spark.conf.get(k, None)
                spark.conf.set(k, v)
            d = tempfile.mkdtemp(prefix=f"ab-{tag}-", dir=SHM)
            shutil.rmtree(d, ignore_errors=True)
            t = LakeTable.create(spark, d, TRANSCRIPT_SCHEMA, num_buckets=32)
            t.merge(m_ev.filter(f"lsn <= {cut}"), batch_id=0, validate_pk=False)
            t0 = time.monotonic()
            for i, (lo, hi) in enumerate(slices, start=1):
                t.merge(m_ev.filter(f"lsn > {lo} AND lsn <= {hi}"),
                        batch_id=i, validate_pk=False)
            dt = round(time.monotonic() - t0, 3)
            shutil.rmtree(d, ignore_errors=True)
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            results.setdefault(tag, []).append(dt)
            log(f"  {tag}: {dt}s")

        run_micro("warm")
        results.pop("warm")
        for _ in range(args.reps):
            run_micro("zstd_default")
            run_micro("zstd_l1", {
                "spark.hadoop.parquet.compression.codec.zstd.level": "1"})

    spark.stop()
    print(json.dumps(results))


if __name__ == "__main__":
    main()

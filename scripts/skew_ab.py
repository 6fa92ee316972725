"""Hot-conversation skew A/B for SCALE.md §4: the same e2e apply job
(stream-tail → merge → commit, bench.py's `_apply_job` shape) over WALs
whose hot conversation holds 0% / 30% / 50% of all events.

The defense being measured is the map-side `WindowGroupLimit(Partial)`
top-1 (operators/dedupe.py): a hot key's multiplicity collapses BEFORE
the pk-hash exchange, so one reducer never serializes the batch.

Usage:  python scripts/skew_ab.py [n_events] [cores]

``cores`` defaults to $SPARK_GRAFT_CPUS, else the CPUs this process may
run on (nproc).
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHM = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def run_one(spark, n_events: int, hot: float) -> dict:
    from airbyte_custom_spark.config import IngestConfig
    from airbyte_custom_spark.lake.table import LakeTable
    from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
    from airbyte_custom_spark.sources.generator import (
        change_events,
        write_event_chunks,
    )
    from airbyte_custom_spark.streaming.pipeline import CdcIngestJob

    dirs = [tempfile.mkdtemp(prefix=f"skew{tag}-", dir=SHM) for tag in "wtc"]
    seg, tbl, ckpt = dirs
    try:
        ev = change_events(
            spark,
            n_events,
            n_convs=max(int(n_events / 15), 100),
            max_turns=24,
            hot_fraction=hot,
            p_delete=0.05,
            num_partitions=32,
        )
        write_event_chunks(ev, seg, n_chunks=4)
        shutil.rmtree(tbl, ignore_errors=True)
        LakeTable.create(
            spark, tbl, TRANSCRIPT_SCHEMA, num_buckets=32, files_per_bucket=2
        )
        job = CdcIngestJob(
            spark, tbl, seg, ckpt, IngestConfig(validate_pk=False)
        )
        t0 = time.monotonic()
        job.run_available_now(timeout_sec=3600)
        secs = time.monotonic() - t0
        rows = LakeTable.load(spark, tbl).read().count()
        return {"hot": hot, "seconds": secs, "ev_per_sec": n_events / secs, "rows": rows}
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    cores = int(
        sys.argv[2] if len(sys.argv) > 2
        else os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    from airbyte_custom_spark.session import get_spark

    spark = get_spark(app_name="skew-ab", master=f"local[{cores}]")
    run_one(spark, 200_000, 0.0)  # warm codegen/JIT
    out = []
    # interleave repetitions so window drift hits every config equally
    for _rep in range(2):
        for hot in (0.0, 0.3, 0.5):
            r = run_one(spark, n, hot)
            out.append(r)
            print(
                f"hot={r['hot']:.1f}  {r['seconds']:6.2f}s  "
                f"{r['ev_per_sec']:>10,.0f} ev/s  rows={r['rows']:,}",
                flush=True,
            )
    best = {h: max(r["ev_per_sec"] for r in out if r["hot"] == h) for h in (0.0, 0.3, 0.5)}
    print({k: round(v) for k, v in best.items()})
    print(f"hot0.5 / hot0.0 throughput ratio: {best[0.5] / best[0.0]:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""CDC benchmark: one workload per run, from the root of a checkout.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Set-up (session start, event generation, base build and the warm-up
rounds) is timed as ``setup_s``; then the measured rounds run the
workload's fixed operations, at least ``--seconds`` long (untimed lookups
after the timed operations fill any time left).  The final table and
every lookup are checked against a DuckDB replay of the generated events.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "airbyte_custom_spark"
RUN_LIMIT_S = 170  # a run must exit within 180 s


def host_record(cores: int, ram_mb: int, heap_mb: int) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, check=False)
        commit = r.stdout.strip() or None
    return {
        "cores": cores,
        "ram_mb": ram_mb,
        "driver_heap_mb": heap_mb,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": None,  # filled from the JVM once it runs
        "git_commit": commit,
        "machine": platform.machine(),
    }


def declared_metrics() -> dict[str, dict[str, str]]:
    """BENCHMARK.json's metrics, name → unit, per section: the one place
    units are defined."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {sec: {m["name"]: m["unit"] for m in spec[sec]}
            for sec in ("end_to_end", "per_layer")}


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_for(ram: int) -> int:
    """An eighth of RAM, within [1, 4] GB: the workloads hold well under a
    GB of data, and the host's memory is shared."""
    return min(4096, max(1024, ram // 8))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_session(work: str, cores: int, heap_mb: int, event_log: str | None):
    from airbyte_custom_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work, "local"),
        # the heap is committed up front (-Xms = -Xmx): with G1 resizing it
        # on the fly, peak RSS varied by 30% between runs
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw, getattr(gw, "proc", None)


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw, proc = jvm_process()
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def on_alarm(signum, frame):
    _, proc = jvm_process()
    if proc is not None:
        proc.kill()
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)

    from perfbench import workloads as wl
    from perfbench.layers import layer_metrics
    from perfbench.oracle import Oracle
    from perfbench.tracing import Tracer, batch_spans, find_event_log, parse_event_log

    w = wl.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a launcher JVM, which the session conf misses
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)

    cores = len(os.sched_getaffinity(0))
    ram = ram_mb()
    host = host_record(cores, ram, heap_for(ram))
    tracer = Tracer()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    ops = wl.Ops()

    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(work, cores, host["driver_heap_mb"], event_log)
    try:
        host["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        prep = wl.setup(spark, w, os.path.join(work, "data"), args.seed, tracer)
        with tracer.span("oracle.build"):  # not set-up: kept out of setup_s
            t_oracle = time.perf_counter()
            oracle = Oracle(prep.oracle_sources)
            keys = oracle.sample_keys(prep.source, prep.json, w.sizes.rounds, args.seed)
            last_lsn = oracle.segment_last_lsn(prep.source)
            # round r's lookup sees the events fed by the end of round r
            lookups = [wl.Lookup(k, oracle.expected([k], last_lsn[w.sizes.last_fed(r)])[k])
                       for r, k in enumerate(keys)]
            final_lookups = [wl.Lookup(k, rows) for k, rows in oracle.expected(keys).items()]
            t_oracle = time.perf_counter() - t_oracle

        patches = []
        if args.trace:
            from airbyte_custom_spark.lake.table import LakeTable
            from airbyte_custom_spark.operators import schema_evo

            patches = [
                (LakeTable, "merge", "lake.merge"),
                (LakeTable, "load", "lake.load"),
                (LakeTable, "evolve_schema", "lake.evolve_schema"),
                (schema_evo, "infer_payload_schema", "operators.infer"),
                (schema_evo, "evolve_table_for", "operators.evolve"),
            ]
        t_rounds = time.perf_counter()
        with tracer.patched(patches):
            m = wl.measure(spark, w, prep, lookups, final_lookups, tracer, ops,
                           min_seconds=args.seconds)
        # the warm-up rounds are set-up
        setup_s = t_rounds - t_setup - t_oracle + m["warm_s"]
        measured_s = time.perf_counter() - t_rounds - m["warm_s"]
        engine_rows, table_bytes, columns = wl.final_state(spark, prep)
        peak_rss = vm_hwm_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss += vm_hwm_mb("self")
    finally:
        stop_session(spark)
    signal.alarm(0)

    missing, extra = oracle.mismatches(engine_rows)
    gate_ok = oracle.gate_detects_corruption(engine_rows)
    oracle_rows = oracle.rows()
    oracle.close()
    # the JSON tail's new payload key must have become a column
    evolved = not w.json or wl.NEW_KEY in columns
    correct = missing == 0 and extra == 0 and gate_ok and evolved and ops.failed == 0
    e2e = wl.end_to_end(m, len(engine_rows), table_bytes, setup_s, peak_rss)

    tracer.spans += batch_spans(m["metrics_log"])
    tracer.finish()
    layers = {}
    if args.trace:
        jobs, stages = parse_event_log(find_event_log(event_log))
        layers = layer_metrics(tracer.spans, jobs, stages, cores, m)
    tracer.write(os.path.join(work, "spans.json"))

    report = {
        "workload": w.name, "seed": args.seed, "trace": args.trace, "host": host,
        "end_to_end": e2e,
        "per_layer": layers,
        "printed_only": {
            "compact_s": m.get("compact_s"),
            "correct": int(correct),
            "failed_ops_share": ops.failed / max(ops.attempted, 1),
        },
        "check": {"oracle_rows": oracle_rows, "engine_rows": len(engine_rows),
                  "missing": missing, "extra": extra, "gate_detects_corruption": gate_ok,
                  "schema_evolved": evolved,
                  "lookups": len(m["lookup_s"]), "errors": ops.errors},
        "measured_s": measured_s,
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(report, f, indent=1)
    for d in ("data", "local", "tmp", "eventlog", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    declared = declared_metrics()
    print("host " + json.dumps(host))
    for name, unit in declared["end_to_end"].items():
        print(f"{name:24s} {e2e[name]:14.4f} {unit}")
    for name, value in report["printed_only"].items():
        if value is not None:
            print(f"{name:24s} {value:14.4f}")
    values, units = (layers, declared["per_layer"]) if args.trace else (e2e, declared["end_to_end"])
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    print(json.dumps({"correct": correct, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Per-layer metrics of a traced run, named ``<module>.<metric>`` after the
engine's modules: session, sources, streaming, operators, lake, functions.
Every workload reports every name; a layer a workload does not exercise
reads 0 (no compaction on ``backfill``, no schema change on typed input).
"""

from __future__ import annotations

import statistics
from typing import Any

from perfbench.tracing import (
    Span,
    covered,
    innermost,
    reduce_stage_skew,
    self_time,
    stages_by_span,
    task_totals,
)

# spans whose Spark stages are attributed; "streaming.batch" keeps what a
# batch runs outside its merge, which is the pre-merge work
ATTRIBUTED = {"streaming.batch", "lake.merge", "lake.lookup", "lake.scan",
              "lake.compact", "functions.export"}
GROUPS = {
    "streaming.pre_merge": "streaming.batch",
    "lake.merge": "lake.merge",
    "lake.lookup": "lake.lookup",
    "lake.scan": "lake.scan",
    "lake.compact": "lake.compact",
    "functions.export": "functions.export",
}


def _walls(spans: list[Span], name: str) -> float:
    return sum(s.wall for s in spans if s.name == name)


def layer_metrics(spans: list[Span], jobs: dict, stages: dict, cores: int,
                  m: dict[str, Any]) -> dict[str, float]:
    """``spans`` must already carry parents (``Tracer.finish``)."""
    by_span = stages_by_span(spans, stages, ATTRIBUTED)
    idx_of = {name: [i for i, s in enumerate(spans) if s.name == name]
              for name in ATTRIBUTED | {"lake.load"}}
    group_stages = {
        g: [st for i in idx_of[n] for st in by_span.get(i, [])]
        for g, n in GROUPS.items()
    }
    batches = [spans[i] for i in idx_of["streaming.batch"]]
    ingests = [s for s in spans if s.name == "streaming.ingest"]
    merges = [spans[i] for i in idx_of["lake.merge"]]
    batch_s = sum(m["batch_seconds"])  # the engine's own clock, not the span
    merge_s = sum(s.wall for s in merges)
    events = max(m["events"], 1)

    job_iv = [(j.start, j.end) for j in jobs.values() if j.end is not None]
    batch_jobs = sum(
        1 for j in jobs.values()
        if innermost(batches, j.start) is not None
    )
    skews = [
        sk for i in idx_of["lake.merge"]
        if (sk := reduce_stage_skew(by_span.get(i, []))) is not None
    ]
    merge_tot = task_totals(group_stages["lake.merge"])
    export_stages = group_stages["functions.export"]

    out: dict[str, float] = {
        "session.start_s": _walls(spans, "session.start"),
        "sources.gen_s": _walls(spans, "sources.gen"),
        "sources.input_bytes": m["input_bytes"],
        "streaming.pre_merge_s": batch_s - merge_s,
        "streaming.trigger_overhead_s": m["ingest_wall_s"] - batch_s,
        "streaming.batch_self_s": sum(self_time(spans, i) for i in idx_of["streaming.batch"]),
        "streaming.jobs_per_batch": batch_jobs / max(len(batches), 1),
        # loads inside the ingest; the benchmark's own loads before its reads are not
        "lake.load_s": sum(s.wall for s in spans if s.name == "lake.load"
                           and innermost(ingests, s.start) is not None),
        "lake.merge_s": merge_s,
        "lake.merge_driver_s": sum(s.wall - covered(s.start, s.end, job_iv) for s in merges),
        "lake.shuffle_write_bytes": merge_tot["shuffle_write_bytes"],
        "lake.spill_bytes": merge_tot["spill_bytes"],
        "lake.reduce_skew": statistics.median(skews) if skews else 1.0,
        "lake.touched_buckets": statistics.mean(m["touched_buckets"] or [0]),
        "lake.files_written": m["files_written"],
        "lake.bytes_written": m["data_bytes_written"],
        "lake.rows_written_per_event": merge_tot["output_rows"] / events,
        "lake.lookup_input_rows": task_totals(group_stages["lake.lookup"])["input_rows"]
        / max(len(m["lookup_s"]), 1),
        "lake.delta_files": m["delta_files"],
        "lake.scan_input_rows": task_totals(group_stages["lake.scan"])["input_rows"]
        / max(len(m["scan_s"]), 1),
        "lake.compact_s": m.get("compact_s") or 0.0,
        "lake.compact_bytes_written": task_totals(group_stages["lake.compact"])["output_bytes"],
        "operators.infer_s": _walls(spans, "operators.infer"),
        "operators.evolve_s": _walls(spans, "operators.evolve"),
        "operators.schema_changes": sum(1 for s in spans if s.name == "lake.evolve_schema"),
        "functions.export_shuffle_bytes": task_totals(export_stages)["shuffle_write_bytes"],
        "functions.export_skew": reduce_stage_skew(export_stages) or 1.0,
        "streaming.ingest_wall_s": m["ingest_wall_s"],
    }
    for g, name in GROUPS.items():
        tot = task_totals(group_stages[g])
        wall = out["streaming.pre_merge_s"] if g == "streaming.pre_merge" else _walls(spans, name)
        out[f"{g}.tasks"] = tot["tasks"]
        out[f"{g}.cpu_s"] = tot["cpu_s"]
        out[f"{g}.gc_s"] = tot["gc_s"]
        out[f"{g}.busy_share"] = tot["run_s"] / (cores * wall) if wall > 0 else 0.0
    return out


"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The segment test starts a small local Spark session; the others are pure
Python and DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.oracle import Oracle  # noqa: E402
from perfbench.stats import percentile, reportable_percentile, samples_beyond  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Span,
    assign_parents,
    covered,
    parse_event_log,
    reduce_stage_skew,
    self_time,
    stages_by_span,
    task_totals,
)
from perfbench.workloads import WORKLOADS, Sizes  # noqa: E402

# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
     (100, 90), (199, 90), (200, 95), (1000, 99), (10000, 99.9)],
)
def test_reportable_percentile_needs_ten_samples_beyond(n, expected):
    assert reportable_percentile(n) == expected
    if expected is not None:
        assert samples_beyond(n, expected) >= 10


def test_percentile_nearest_rank_and_median():
    v = [float(i) for i in range(1, 41)]  # 1..40
    assert percentile(v, 75) == 30.0
    assert percentile(v, 50) == 20.5  # mean of the middle pair
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


# -------------------------------------------------------------- self time


def test_self_time_subtracts_union_of_direct_children():
    spans = [
        Span("a", 0.0, 10.0),
        Span("b", 1.0, 4.0),
        Span("c", 3.0, 6.0),  # overlaps b: counted once
        Span("d", 8.0, 9.0),
        Span("e", 1.5, 2.0),  # grandchild, inside b only
    ]
    assign_parents(spans)
    assert [s.parent for s in spans] == [None, 0, 0, 0, 1]
    assert self_time(spans, 0) == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 0.5)
    assert self_time(spans, 4) == pytest.approx(0.5)


def test_covered_clips_to_window():
    assert covered(2.0, 5.0, [(0.0, 3.0), (4.0, 9.0)]) == pytest.approx(2.0)
    assert covered(2.0, 5.0, []) == 0.0


# ---------------------------------------------------------- event log


def _task(stage, launch_ms, dur_ms, **metrics):
    m = {"Executor Run Time": dur_ms, "Executor CPU Time": dur_ms * 500_000,
         "JVM GC Time": 1, "Disk Bytes Spilled": 0,
         "Input Metrics": {"Bytes Read": 1, "Records Read": metrics.get("input", 0)},
         "Output Metrics": {"Bytes Written": metrics.get("output", 0),
                            "Records Written": metrics.get("rows", 0)},
         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                  "Local Bytes Read": metrics.get("sread", 0)},
         "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("swrite", 0)}}
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": launch_ms + dur_ms},
            "Task Metrics": m}


FIXED_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_000,
     "Stage IDs": [0, 1]},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 0, "Submission Time": 1_000_010}},
    _task(0, 1_000_020, 100, input=400, swrite=50),
    _task(0, 1_000_020, 300, input=600, swrite=70),
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 1, "Submission Time": 1_000_500}},
    _task(1, 1_000_510, 100, sread=60, output=900, rows=3),
    _task(1, 1_000_510, 100, sread=60, output=100, rows=1),
    _task(1, 1_000_510, 400, sread=0, output=0, rows=0),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_001_000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_005_000,
     "Stage IDs": [2]},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 2, "Submission Time": 1_005_001}},
    _task(2, 1_005_002, 50, input=10),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_005_100},
]


def test_event_log_parser_totals_skew_and_attribution(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in FIXED_LOG) + "\n")
    jobs, stages = parse_event_log(str(path))

    assert sorted(jobs) == [0, 1]
    assert (jobs[0].start, jobs[0].end) == (1000.0, 1001.0)
    assert sorted(stages) == [0, 1, 2]
    assert stages[1].submit == pytest.approx(1000.5)

    tot = task_totals([stages[0], stages[1]])
    assert tot["tasks"] == 5
    assert tot["input_rows"] == 1000
    assert tot["shuffle_write_bytes"] == 120
    assert tot["shuffle_read_bytes"] == 120
    assert tot["output_bytes"] == 1000 and tot["output_rows"] == 4
    assert tot["run_s"] == pytest.approx(1.0)
    assert tot["cpu_s"] == pytest.approx(0.5)
    assert tot["gc_s"] == pytest.approx(0.005)

    # the reduce stage is the one reading shuffle: 400 ms max / 100 ms median
    assert reduce_stage_skew([stages[0], stages[1]]) == pytest.approx(4.0)
    assert reduce_stage_skew([stages[2]]) is None

    spans = [Span("lake.merge", 999.9, 1001.5), Span("lake.scan", 1004.9, 1005.2),
             Span("streaming.batch", 999.0, 1002.0)]
    by = stages_by_span(spans, stages, {"lake.merge", "lake.scan", "streaming.batch"})
    assert sorted(st.stage_id for st in by[0]) == [0, 1]  # innermost wins
    assert [st.stage_id for st in by[1]] == [2]
    assert 2 not in by


# ------------------------------------------------------------------ oracle


def _events_parquet(tmp_path) -> str:
    seg = tmp_path / "seg" / "chunk=0"
    seg.mkdir(parents=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT * FROM (VALUES
          (1, 'c', 'conv-1', 0, 'user', 'a', NULL, TIMESTAMP '2024-01-01 00:00:01'),
          (2, 'u', 'conv-1', 0, 'user', 'b', NULL, TIMESTAMP '2024-01-01 00:00:02'),
          (3, 'c', 'conv-2', 1, 'tool', 'c', 'tool_1', TIMESTAMP '2024-01-01 00:00:03'),
          (4, 'd', 'conv-2', 1, NULL, NULL, NULL, NULL),
          (5, 'c', 'conv-3', 2, 'assistant', 'd', NULL, TIMESTAMP '2024-01-01 00:00:05')
        ) AS t(lsn, op, conv_id, turn_idx, role, text, tool, ts))
        TO '{seg}/part-0.parquet' (FORMAT parquet)""")
    con.close()
    return str(tmp_path / "seg")


def test_oracle_replay_and_gate_self_check(tmp_path):
    oracle = Oracle([(_events_parquet(tmp_path), False)])
    us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    engine = pd.DataFrame(
        [("conv-1", 0, "user", "b", None, us + 2_000_000),
         ("conv-3", 2, "assistant", "d", None, us + 5_000_000)],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts_us"],
    )
    assert oracle.rows() == 2
    assert oracle.mismatches(engine) == (0, 0)
    assert oracle.gate_detects_corruption(engine)

    altered = engine.copy()
    altered.loc[1, "role"] = "user"
    assert oracle.mismatches(altered) == (1, 1)
    assert oracle.mismatches(engine.iloc[:1]) == (1, 0)  # a lost row

    exp = oracle.expected([("conv-1", 0), ("conv-2", 1)])
    assert exp[("conv-1", 0)] == [("conv-1", 0, "user", "b", None, us + 2_000_000)]
    assert exp[("conv-2", 1)] == []  # replay ends in a delete

    # as of lsn 3, conv-2's delete is not applied yet and conv-3 does not exist
    exp = oracle.expected([("conv-2", 1), ("conv-3", 2)], upto_lsn=3)
    assert exp[("conv-2", 1)] == [("conv-2", 1, "tool", "c", "tool_1", us + 3_000_000)]
    assert exp[("conv-3", 2)] == []
    assert oracle.segment_last_lsn(str(tmp_path / "seg")) == {0: 5}

    keys = oracle.sample_keys(str(tmp_path / "seg"), False, 2, seed=7)
    assert keys == oracle.sample_keys(str(tmp_path / "seg"), False, 2, seed=7)
    assert len(set(keys)) == 2
    oracle.close()


def _json_segments(tmp_path, typed: str, name: str, lsn_offset: int = 0,
                   conv_prefix: str = "") -> str:
    """The generator's envelope of ``typed``: NULL fields omitted,
    microsecond UTC stamps."""
    seg = tmp_path / name / "chunk=0"
    seg.mkdir(parents=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT lsn + {lsn_offset} AS lsn, op, CASE WHEN op = 'd'
                THEN json_object('conv_id', '{conv_prefix}' || conv_id, 'turn_idx', turn_idx)
                ELSE json_object('conv_id', '{conv_prefix}' || conv_id, 'turn_idx', turn_idx,
                                 'role', role, 'text', text, 'tool', tool,
                                 'ts', strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ'))
                END::VARCHAR AS payload
              FROM read_parquet('{typed}/**/*.parquet'))
        TO '{seg}/part-0.parquet' (FORMAT parquet)""")
    con.close()
    return str(tmp_path / name)


def test_oracle_decodes_the_json_envelope_like_typed_events(tmp_path):
    typed = _events_parquet(tmp_path)
    a, b = Oracle([(typed, False)]), Oracle([(_json_segments(tmp_path, typed, "jseg"), True)])
    rows = a.con.execute("SELECT * FROM oracle ORDER BY ALL").fetchdf()
    assert b.mismatches(rows) == (0, 0) and b.rows() == 2
    a.close()
    b.close()


def test_oracle_times_do_not_depend_on_the_host_zone(tmp_path):
    """A typed base (naive parquet timestamps) beside a JSON tail (offset
    stamps) must give the same instants on a host outside UTC.  DuckDB
    takes its default zone from the process environment, hence the
    subprocess."""
    typed = _events_parquet(tmp_path)
    tail = _json_segments(tmp_path, typed, "jseg", lsn_offset=10, conv_prefix="j")
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from perfbench.oracle import Oracle;"
        "o = Oracle([(sys.argv[2], False), (sys.argv[3], True)]);"
        "print(sorted(r[0] for r in o.con.execute('SELECT ts_us FROM oracle').fetchall()))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, ROOT, typed, tail], capture_output=True, text=True,
        check=True, env={**os.environ, "TZ": "America/New_York"},
    ).stdout
    us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    assert json.loads(out) == sorted([us + 2_000_000, us + 5_000_000] * 2)


# ----------------------------------------------------------------- rounds


def test_rounds_feed_every_segment_once_in_order():
    for sizes in [w.sizes for w in WORKLOADS.values()]:
        fed = [i for r in range(sizes.rounds) for i in sizes.fed(r)]
        assert fed == list(range(sizes.segments))
        assert sizes.ingest_round(0) == 0  # the first reads see data
        assert sizes.last_fed(sizes.rounds - 1) == sizes.segments - 1
        exports = [r for r in range(sizes.warm_rounds, sizes.rounds) if sizes.exports(r)]
        assert len(exports) == sizes.export_rounds


def test_ingest_calls_spread_evenly_over_the_rounds():
    s = Sizes(events=0, base=0, segments=16, ingest_rounds=4, files_per_trigger=4,
              rounds=9, warm_rounds=1, export_rounds=3, compactions=0)
    assert [s.ingest_round(k) for k in range(4)] == [0, 3, 5, 7]
    assert list(s.fed(3)) == [4, 5, 6, 7] and not s.fed(4)
    assert [s.last_fed(r) for r in range(9)] == [3, 3, 3, 7, 7, 11, 11, 15, 15]
    # the warm-up round exports; the 3 measured exports spread over the 8 measured rounds
    assert [r for r in range(9) if s.exports(r)] == [0, 1, 4, 7]


# ------------------------------------------------------- seeded segments


def _digests(seg_dir: str) -> dict[str, list[str]]:
    out = {}
    for chunk in sorted(os.listdir(seg_dir)):
        d = os.path.join(seg_dir, chunk)
        if os.path.isdir(d):
            out[chunk] = sorted(
                hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
                for f in os.listdir(d) if f.endswith(".parquet")
            )
    return out


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from airbyte_custom_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.local.dir": str(local), "spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_one_seed_gives_byte_identical_segments(spark, tmp_path):
    from airbyte_custom_spark.sources.generator import change_events, write_event_chunks

    def segments(seed: int, name: str) -> dict[str, list[str]]:
        ev = change_events(spark, 3_000, n_convs=200, seed=seed, hot_fraction=0.1)
        write_event_chunks(ev, str(tmp_path / name), n_chunks=4)
        return _digests(str(tmp_path / name))

    first = segments(5, "a")
    assert len(first) == 4 and all(first.values())
    assert segments(5, "b") == first
    assert segments(6, "c") != first

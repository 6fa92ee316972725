"""Property-based replay equivalence (hypothesis): for ANY event sequence
and ANY batch partitioning of it, the merged table equals the
latest-lsn-wins / delete-wins replay computed independently in Python.

This is the engine's core invariant (north rule: "matching the reference's
final table state after replay under exactly-once rules") checked against
randomized inputs instead of fixtures: duplicate lsns across ops, multiple
updates per key, deletes-then-reinserts, batches cut at arbitrary points.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA

from tests.util import ev, mk_events


# events: each is (op, conv, turn); lsn = position+1 (unique, total order)
_events = st.lists(
    st.tuples(
        st.sampled_from(["c", "u", "d"]),
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=2),
    ),
    min_size=1,
    max_size=24,
)
_cuts = st.lists(st.integers(min_value=1, max_value=23), max_size=2, unique=True)


def _python_replay(rows):
    """Independent oracle: latest lsn wins; delete-wins on (impossible
    here) ties; deleted keys absent."""
    state = {}
    for lsn, op, conv, turn, text in rows:
        state[(conv, turn)] = (lsn, op, text)
    return {
        k: v[2] for k, v in state.items() if v[1] != "d"
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(events=_events, cuts=_cuts)
def test_any_batching_matches_python_replay(spark, tmp_path_factory, events, cuts):
    rows = [
        (i + 1, op, conv, turn, f"t{i + 1}" if op != "d" else None)
        for i, (op, conv, turn) in enumerate(events)
    ]
    expected = _python_replay(rows)

    d = tmp_path_factory.mktemp("prop")
    t = LakeTable.create(spark, str(d / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    bounds = sorted({c for c in cuts if c < len(rows)} | {len(rows)})
    lo = 0
    for batch_id, hi in enumerate(bounds):
        batch = [
            ev(lsn, op, conv, turn, text=text)
            for lsn, op, conv, turn, text in rows[lo:hi]
        ]
        if batch:
            t.merge(mk_events(spark, batch), batch_id=batch_id)
        lo = hi

    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read().select("conv_id", "turn_idx", "text").collect()
    }
    assert got == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(events=_events)
def test_json_envelope_roundtrip_matches_python_replay(
    spark, tmp_path_factory, events
):
    """For ANY event sequence, packing the payload into the raw JSON
    envelope and running it through JsonCdcIngestJob's inference +
    extraction + merge stage yields the same final state as the Python
    replay — the typed and raw paths are interchangeable."""
    from airbyte_custom_spark.sources.generator import json_envelope
    from airbyte_custom_spark.streaming.pipeline import JsonCdcIngestJob

    rows = [
        (i + 1, op, conv, turn, f"t{i + 1}" if op != "d" else None)
        for i, (op, conv, turn) in enumerate(events)
    ]
    expected = _python_replay(rows)

    d = tmp_path_factory.mktemp("jprop")
    t = LakeTable.create(spark, str(d / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    job = JsonCdcIngestJob(spark, t.path, str(d / "src"), str(d / "ckpt"))
    enveloped = json_envelope(
        mk_events(spark, [ev(l, op, c, tn, text=tx) for l, op, c, tn, tx in rows])
    )
    t.merge(job._transform_batch(enveloped, t, batch_id=0), batch_id=0)

    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read().select("conv_id", "turn_idx", "text").collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# round-4: JSON-envelope ingest property (inference + evolution +
# normalization + extraction under randomized payload shapes)
# ---------------------------------------------------------------------------

import json as _json

from airbyte_custom_spark.streaming.pipeline import infer_evolve_extract

_EXTRA_KEYS = ["k", "K", "k.x", "k x", "select", "日", "", "lsn", "_lsn", "op"]
_VALUES = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-10**9, max_value=10**9),
    st.sampled_from([0.5, 1.5, -2.5]),
    st.text(alphabet="abcé ", max_size=6),
    st.lists(st.integers(min_value=0, max_value=99), max_size=3),
    st.fixed_dictionaries({}, optional={"m": st.text(alphabet="xy", max_size=3),
                                        "n": st.integers(0, 99)}),
)
_json_events = st.lists(
    st.tuples(
        st.sampled_from(["c", "u", "d"]),
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=1),
        st.dictionaries(st.sampled_from(_EXTRA_KEYS), _VALUES, max_size=3),
    ),
    min_size=1,
    max_size=14,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(events=_json_events, cuts=st.lists(st.integers(1, 13), max_size=2, unique=True))
def test_json_ingest_any_payload_shape_matches_replay(
    spark, tmp_path_factory, events, cuts
):
    """For ANY payload shapes (mixed/nested/unicode/unsafe keys, any batch
    split): ingest never fails; the final pk set equals the replay; every
    discovered key owns a column; and for keys whose values are
    TYPE-STABLE across all events, the winning event's value survives
    exactly (full-row replace semantics)."""
    rows = []
    for i, (op, conv, turn, extra) in enumerate(events):
        lsn = i + 1
        if op == "d":
            payload = {"conv_id": conv, "turn_idx": turn}
        else:
            payload = {"conv_id": conv, "turn_idx": turn, "role": "user",
                       "text": f"t{lsn}", **extra}
        rows.append((lsn, op, _json.dumps(payload, ensure_ascii=False)))

    # python replay: latest lsn wins, deletes drop the key
    state = {}
    for i, (op, conv, turn, extra) in enumerate(events):
        state[(conv, turn)] = (i + 1, op, extra)
    winners = {k: v for k, v in state.items() if v[1] != "d"}

    # per-key global type set (None excluded) — value assertions only for
    # singleton-type keys (mixed types legitimately degrade to
    # string/null per the Union + authoritative-type rules)
    types_by_key: dict[str, set] = {}
    for _op, _c, _t, extra in events:
        if _op == "d":
            continue
        for k, v in extra.items():
            if v is not None:
                types_by_key.setdefault(k, set()).add(
                    bool if isinstance(v, bool) else type(v)
                )

    d = tmp_path_factory.mktemp("jprop")
    from pyspark.sql import functions as F

    env = spark.createDataFrame(rows, "lsn long, op string, payload string").select(
        "lsn", "op", "payload",
        F.lit(None).cast("timestamp").alias("_ab_cdc_updated_at"),
        F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
        F.lit(0).alias("source_partition"),
    )
    t = LakeTable.create(spark, str(d / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    bounds = sorted({c for c in cuts if c < len(rows)} | {len(rows)})
    lo = 0
    for bi, hi in enumerate(bounds):
        chunk = env.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        typed = infer_evolve_extract(chunk, t)
        t.merge(typed, batch_id=bi)
        lo = hi

    final = {(r["conv_id"], r["turn_idx"]): r for r in t.read().collect()}
    assert set(final) == set(winners)
    key_map = t.payload_key_map
    cols = set(t.payload_columns)
    for raw in types_by_key:
        assert key_map.get(raw, raw) in cols, (raw, key_map, sorted(cols))
    for pk, (lsn, _op, extra) in winners.items():
        row = final[pk]
        assert row["text"] == f"t{lsn}"
        for raw, tps in types_by_key.items():
            if len(tps) != 1 or next(iter(tps)) is dict:
                continue
            col = key_map.get(raw, raw)
            got = row[col]
            want = extra.get(raw)
            if want is None:
                assert got is None, (raw, col, got)
            elif isinstance(want, list):
                # element-type fallback: a column created while only
                # []/null evidence existed is array<string> (lossless);
                # later elements surface as their string forms
                assert (
                    got == want
                    or (got is None and not want)
                    or list(got) == want
                    or [str(x) for x in got] == [str(w) for w in want]
                ), (raw, got, want)
            else:
                assert got == want, (raw, col, got, want)

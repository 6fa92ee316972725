"""Test helpers: event builders and the naive replay oracle.

The oracle applies events one at a time, in LSN order, to a python dict —
the simplest possible statement of the reference's replay semantics
(latest-per-key, delete removes, delete-then-stale-update stays deleted).
The engine must match it exactly (per-turn text equality under stable
(conv_id, turn_idx) ordering — BASELINE.json input_hint invariant).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from airbyte_custom_spark.schema import CDC_EVENT_SCHEMA


def ts(i: int) -> datetime:
    return datetime.fromtimestamp(1_700_000_000 + i, tz=timezone.utc)


def ev(lsn, op, conv, turn, text=None, role="user", tool=None):
    """One CDC event tuple in CDC_EVENT_SCHEMA order."""
    if op == "d":
        return (lsn, "d", conv, turn, None, None, None, None, ts(lsn), ts(lsn), 0)
    return (
        lsn,
        op,
        conv,
        turn,
        role,
        text if text is not None else f"text-{conv}-{turn}@{lsn}",
        tool,
        ts(lsn),
        ts(lsn),
        None,
        0,
    )


def mk_events(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, CDC_EVENT_SCHEMA)


def naive_replay(events: list) -> dict:
    """Apply events in LSN order to a dict: key → (role, text, tool, ts)."""
    state: dict = {}
    for r in sorted(events, key=lambda r: r["lsn"]):
        k = (r["conv_id"], r["turn_idx"])
        if r["op"] == "d":
            state[k] = None
        else:
            state[k] = (r["role"], r["text"], r["tool"], r["ts"])
    return {k: v for k, v in state.items() if v is not None}


def table_state(df: DataFrame) -> dict:
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in df.collect()
    }


def assert_matches_replay(final_df: DataFrame, events_df: DataFrame) -> None:
    expected = naive_replay([r.asDict() for r in events_df.collect()])
    got = table_state(final_df)
    assert got == expected, (
        f"mismatch: {len(got)} rows vs {len(expected)} expected; "
        f"extra={set(got) - set(expected)} missing={set(expected) - set(got)}"
    )


def discover_keys(df: DataFrame, struct_cols=None, widen_probes=None):
    """The JSON jobs' payload-key discovery over a frame with a ``payload``
    column: per-row tags (``tagged_key_expr``) folded in one aggregation,
    then decoded — (top-level keys, {struct col → subkeys}, widen tags)."""
    from pyspark.sql import functions as F

    from airbyte_custom_spark.operators.schema_evo import (
        decode_discovery_tags,
        tagged_key_expr,
    )

    tags = df.agg(
        F.array_distinct(
            F.flatten(F.collect_set(tagged_key_expr(struct_cols, widen_probes)))
        )
    ).first()[0]
    return decode_discovery_tags(tags or [])

"""Schema evolution E1-E4 (FIXTURES.md schema_* scenarios) + cast-error
capture (P4)."""

import pytest

from pyspark.sql import functions as F, types as T

from airbyte_custom_spark.lake.table import LakeTable, SchemaEvolutionError
from airbyte_custom_spark.operators.schema_evo import (
    diff_schemas,
    evolve_table_for,
    evolved_payload,
    infer_payload_schema,
)
from airbyte_custom_spark.operators.typed import project_and_cast
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA

from tests.util import ev, mk_events, table_state


def payload_plus_model() -> T.StructType:
    return T.StructType(list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("model", T.StringType(), True)])


def test_diff_added_and_widened():
    cur = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    inc = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    d = diff_schemas(cur, inc)
    assert [f.name for f in d.added] == ["c"]
    assert d.widened == [("a", T.IntegerType(), T.LongType())]
    assert d.removed == ["b"]
    assert d.compatible
    out = evolved_payload(cur, d)
    assert out["a"].dataType == T.LongType()
    assert "b" in out.fieldNames() and "c" in out.fieldNames()  # E3: keep removed


def test_diff_incompatible():
    cur = T.StructType([T.StructField("a", T.LongType())])
    inc = T.StructType([T.StructField("a", T.BooleanType())])
    d = diff_schemas(cur, inc)
    assert d.incompatible and not d.compatible


def test_evolve_incompatible_only_raises(spark, tmp_path):
    """A pure retype with no added/widened columns must raise (caller needs
    to know a soft_reset is required), not return silently — regression for
    the round-1 early-return-before-compat-check bug."""
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=2)
    retyped = T.StructType(
        [
            T.StructField(f.name, T.BooleanType() if f.name == "text" else f.dataType)
            for f in TRANSCRIPT_SCHEMA.fields
        ]
    )
    with pytest.raises(ValueError, match="incompatible"):
        evolve_table_for(t, retyped)


def test_diff_narrowing_is_noop():
    cur = T.StructType([T.StructField("a", T.LongType())])
    inc = T.StructType([T.StructField("a", T.IntegerType())])
    d = diff_schemas(cur, inc)
    assert d.no_change or (not d.widened and not d.incompatible)


def test_add_column_mid_table(spark, tmp_path):
    """schema_add_column: old rows read as NULL model, new rows carry it,
    both schemas' files coexist in one snapshot."""
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=2)
    t.merge(mk_events(spark, [ev(1, "c", "a", 0)]), batch_id=0)
    evolve_table_for(t, payload_plus_model())
    assert "model" in t.payload_columns

    new_events = mk_events(spark, [ev(2, "c", "b", 0)]).withColumn(
        "model", F.lit("gpt-x")
    )
    t.merge(new_events, batch_id=1)
    rows = {(r["conv_id"], r["turn_idx"]): r["model"] for r in t.read().collect()}
    assert rows[("a", 0)] is None and rows[("b", 0)] == "gpt-x"


def test_widen_turn_idx_int_to_long(spark, tmp_path):
    """schema_widen_type: int32 → int64 without rewriting old files."""
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=2)
    t.merge(mk_events(spark, [ev(1, "c", "a", 0)]), batch_id=0)
    files_before = sorted(f["path"] for f in t.live_files())
    widened = T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name == "turn_idx" else f.dataType, True)
            for f in TRANSCRIPT_SCHEMA.fields
        ]
    )
    evolve_table_for(t, widened)
    assert t.schema()["turn_idx"].dataType == T.LongType()
    assert sorted(f["path"] for f in t.live_files()) == files_before  # no rewrite
    big = mk_events(spark, [ev(2, "c", "a", 1)]).withColumn(
        "turn_idx", F.lit(2_147_483_657)  # > int32 max → long literal
    )
    t.merge(big, batch_id=1)
    vals = {r["turn_idx"] for r in t.read().collect()}
    assert 0 in vals and 2_147_483_657 in vals


def test_drop_column_rejected_rename_via_soft_reset(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, num_buckets=2)
    t.merge(mk_events(spark, [ev(1, "c", "a", 0, tool="hammer", role="tool")]), batch_id=0)
    dropped = T.StructType([f for f in TRANSCRIPT_SCHEMA.fields if f.name != "tool"])
    with pytest.raises(SchemaEvolutionError):
        t.evolve_schema(dropped)

    # schema_rename_column: tool → tool_name, data preserved via rename_map
    renamed = T.StructType(
        [
            T.StructField("tool_name" if f.name == "tool" else f.name, f.dataType, True)
            for f in TRANSCRIPT_SCHEMA.fields
        ]
    )
    t.soft_reset(renamed, rename_map={"tool": "tool_name"})
    rows = t.read().collect()
    assert rows[0]["tool_name"] == "hammer"
    assert "tool" not in t.payload_columns


def test_cast_error_meta(spark):
    """cast_error_meta: malformed value lands as NULL with _meta.errors
    populated; the sync continues (`typing-deduping.md:14-33`)."""
    raw = spark.createDataFrame(
        [("a", "0", "2024-01-01 00:00:00"), ("b", "oops", "not-a-ts")],
        "conv_id string, turn_idx string, ts string",
    )
    target = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    out = project_and_cast(raw, target).orderBy("conv_id").collect()
    assert out[0]["_meta"]["errors"] == []
    assert out[1]["turn_idx"] is None and out[1]["ts"] is None
    assert set(out[1]["_meta"]["errors"]) == {"Problem with `turn_idx`", "Problem with `ts`"}


def test_infer_payload_schema(spark):
    df = spark.createDataFrame(
        [
            ('{"conv_id": "a", "turn_idx": 1, "score": 0.5, "flag": true, "tags": ["x"]}',),
            ('{"conv_id": "b", "turn_idx": 2, "score": 1.5, "flag": false, "extra": "y"}',),
        ],
        "payload string",
    )
    st = infer_payload_schema(
        df, ["conv_id", "turn_idx", "score", "flag", "tags", "extra"]
    )
    assert st["conv_id"].dataType == T.StringType()
    assert st["turn_idx"].dataType == T.LongType()
    assert st["score"].dataType == T.DoubleType()
    assert st["flag"].dataType == T.BooleanType()
    assert st["tags"].dataType == T.ArrayType(T.StringType())
    assert "extra" in st.fieldNames()


def test_nested_incompatible_retype_detected_and_soft_reset_works(spark, tmp_path):
    """round-4 nested rules: a struct SUBFIELD retype (string→long) is an
    incompatible change — diff flags it, in-place evolution raises — and
    soft_reset rebuilds under the new nested schema with per-value
    try_cast semantics (unparseable values → NULL, never a failure)."""
    meta_v1 = T.StructType([T.StructField("model", T.StringType())])
    meta_v2 = T.StructType([T.StructField("model", T.LongType())])
    payload_v1 = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("meta", meta_v1, True)]
    )
    payload_v2 = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("meta", meta_v2, True)]
    )
    d = diff_schemas(payload_v1, payload_v2)
    assert [n for n, *_ in d.incompatible] == ["meta"]

    t = LakeTable.create(spark, str(tmp_path / "t"), payload_v1, num_buckets=2)
    rows = spark.createDataFrame(
        [(1, "c", "a", 0, "user", "x", None, None, ("7",)),
         (2, "c", "a", 1, "user", "y", None, None, ("not-a-number",))],
        T.StructType([
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *payload_v1.fields[:6],
            T.StructField("meta", meta_v1, True),
        ]),
    )
    t.merge(rows, batch_id=0)
    with pytest.raises(SchemaEvolutionError):
        t.evolve_schema(payload_v2)
    t.soft_reset(payload_v2)
    got = {r["turn_idx"]: r for r in t.read().collect()}
    assert got[0]["meta"]["model"] == 7          # parseable → typed
    assert got[1]["meta"]["model"] is None       # unparseable → NULL, kept


def test_nested_struct_add_is_inplace_evolution(spark, tmp_path):
    """Struct subfield ADD evolves in place (no rewrite): version bumps by
    exactly one metadata-only commit and OLD files read back with NULL for
    the new subfield."""
    meta_v1 = T.StructType([T.StructField("model", T.StringType())])
    meta_v2 = T.StructType(
        [T.StructField("model", T.StringType()), T.StructField("tokens", T.LongType())]
    )
    payload_v1 = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("meta", meta_v1, True)]
    )
    payload_v2 = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("meta", meta_v2, True)]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), payload_v1, num_buckets=2)
    rows = spark.createDataFrame(
        [(1, "c", "a", 0, "user", "x", None, None, ("m1",))],
        T.StructType([
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            *payload_v1.fields[:6],
            T.StructField("meta", meta_v1, True),
        ]),
    )
    t.merge(rows, batch_id=0)
    v_before = t.version
    t.evolve_schema(payload_v2)
    assert t.version == v_before + 1  # one metadata commit, no rewrite
    row = t.read().first()
    assert row["meta"]["model"] == "m1" and row["meta"]["tokens"] is None

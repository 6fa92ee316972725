"""Airbyte JSON-Schema → Spark type mapping (SURVEY.md §1.3) and name
normalization (P7)."""

from pyspark.sql import types as T

from airbyte_custom_spark.operators.typed import normalize_name
from airbyte_custom_spark.schema import airbyte_to_spark, catalog_to_struct


def test_scalars():
    assert airbyte_to_spark({"type": "string"}) == T.StringType()
    assert airbyte_to_spark({"type": "boolean"}) == T.BooleanType()
    assert airbyte_to_spark({"type": "integer"}) == T.LongType()
    assert airbyte_to_spark({"type": "number"}) == T.DoubleType()
    assert airbyte_to_spark({"type": "number", "airbyte_type": "integer"}) == T.LongType()


def test_temporal():
    assert airbyte_to_spark({"type": "string", "format": "date"}) == T.DateType()
    assert (
        airbyte_to_spark({"type": "string", "format": "date-time"}) == T.TimestampType()
    )
    assert (
        airbyte_to_spark(
            {"type": "string", "format": "date-time", "airbyte_type": "timestamp_without_timezone"}
        )
        == T.TimestampNTZType()
    )


def test_nullable_type_array():
    assert airbyte_to_spark({"type": ["null", "integer"]}) == T.LongType()


def test_union_precedence():
    # Array > Struct > scalar (`Union.java:50-64`)
    got = airbyte_to_spark(
        {"oneOf": [{"type": "integer"}, {"type": "array", "items": {"type": "string"}}]}
    )
    assert got == T.ArrayType(T.StringType())
    assert airbyte_to_spark({"type": ["integer", "number"]}) == T.DoubleType()
    assert airbyte_to_spark({"type": ["boolean", "string"]}) == T.StringType()


def test_object_and_catalog():
    schema = {
        "type": "object",
        "properties": {
            "conv_id": {"type": "string"},
            "turn_idx": {"type": "integer"},
            "ts": {"type": "string", "format": "date-time"},
            "tags": {"type": "array", "items": {"type": "string"}},
            "free": {"type": "object"},
        },
    }
    st = catalog_to_struct(schema)
    assert st["conv_id"].dataType == T.StringType()
    assert st["turn_idx"].dataType == T.LongType()
    assert st["ts"].dataType == T.TimestampType()
    assert st["tags"].dataType == T.ArrayType(T.StringType())
    assert st["free"].dataType == T.StringType()  # free object → JSON string


def test_normalize_name():
    assert normalize_name("Hello World!") == "hello_world_"
    assert normalize_name("1col") == "_1col"
    assert normalize_name("ok_name") == "ok_name"


def test_normalize_collisions(spark, tmp_path):
    """Three raw keys normalizing to one name, typed on an empty table by
    the JSON typing stage: the normalization-stable raw keeps the name,
    the others suffix in sorted order."""
    import json

    from airbyte_custom_spark.lake.table import LakeTable
    from airbyte_custom_spark.streaming.pipeline import infer_evolve_extract

    payload = json.dumps({"id": 1, "Col A": "x", "col_a": "y", "col a": "z"})
    events = spark.createDataFrame(
        [(1, "c", payload)], "lsn long, op string, payload string"
    )
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), T.StructType([]), primary_key=("id",),
        num_buckets=1,
    )
    row = infer_evolve_extract(events, t).first()
    assert t.payload_key_map == {"Col A": "col_a_1", "col a": "col_a_2"}
    assert (row["col_a"], row["col_a_1"], row["col_a_2"]) == ("y", "x", "z")

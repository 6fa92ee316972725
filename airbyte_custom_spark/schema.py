"""Schemas and the Airbyte-type → Spark-type mapping.

The reference's data model (SURVEY.md §1):
  - records are schemaless-at-runtime JSON with a JSON-Schema declared in the
    catalog (`docs/understanding-airbyte/airbyte-protocol.md:344-351`);
  - the destination-side typed model is AirbyteType
    (`airbyte-integrations/bases/base-typing-deduping/.../AirbyteType.java:16`,
    scalars in `AirbyteProtocolType.java:1-78`);
  - CDC events are flattened Debezium envelopes with `_ab_cdc_*` metadata
    (`bases/debezium/.../DebeziumEventUtils.java:44-64`).

Here the payload is the transcript turn (BASELINE.json input_hint):
  (conv_id:string, turn_idx:int, role:string, text:string, tool:string,
   ts:timestamp), primary key (conv_id, turn_idx), total order = lsn.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Transcript payload (the final-table user columns)
# ---------------------------------------------------------------------------

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

PRIMARY_KEY = ("conv_id", "turn_idx")

# ---------------------------------------------------------------------------
# CDC change-event envelope (flattened Debezium shape, SURVEY.md §1.5)
# ---------------------------------------------------------------------------
# lsn        — strictly increasing log sequence number; the synthetic total
#              order, ≅ `_ab_cdc_cursor` (`MySqlCdcConnectorMetadataInjector
#              .java:26-31,70-72`).
# op         — c (insert) / u (update) / d (delete).  Updates look like
#              inserts (`docs/understanding-airbyte/cdc.md:13`); deletes
#              carry only the primary key + metadata (`cdc.md:29`).
# source_partition — generator shard for per-partition offsets/lineage.

CDC_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("_ab_cdc_updated_at", T.TimestampType(), True),
        T.StructField("_ab_cdc_deleted_at", T.TimestampType(), True),
        T.StructField("source_partition", T.IntegerType(), True),
    ]
)

# Raw-JSON CDC envelope: the CDC ordering/metadata columns plus ONE opaque
# JSON string column holding the record fields — the reference's raw-table
# `_airbyte_data STRING(JSON)` shape (`JavaBaseConstants.java:29-39`,
# `docs/understanding-airbyte/typing-deduping.md:5-70`).  Consumed by
# `streaming.pipeline.JsonCdcIngestJob`, which runs the Arrow-vectorized
# schema-inference + diff + in-place evolution + typed-cast stage per batch.
# ``PAYLOAD_COL`` names that column for every JSON function and job.

PAYLOAD_COL = "payload"

JSON_CDC_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField(PAYLOAD_COL, T.StringType(), True),
        T.StructField("_ab_cdc_updated_at", T.TimestampType(), True),
        T.StructField("_ab_cdc_deleted_at", T.TimestampType(), True),
        T.StructField("source_partition", T.IntegerType(), True),
    ]
)

# Engine metadata columns stored in the lake table, mirroring the reference's
# final-table meta `_airbyte_raw_id, _airbyte_extracted_at, _airbyte_meta`
# (`bases/base-java/.../JavaBaseConstants.java:40-43`) plus the row version
# and tombstone flag our streaming merge needs (see lake/table.py).
META_COLUMNS = ("_lsn", "_deleted", "_raw_id", "_extracted_at", "_meta")

# Scratch columns the merge/dedupe/changelog operators inject mid-plan
# (latest-per-key row_number, reduce group-key hash prefix / salt /
# max_by struct, changes_since liveness flag) plus the CDC envelope
# columns every merge source carries ("lsn"/"op" — delete_where also
# OVERWRITES "op" with lit('d')).  A payload column with any of these
# names would be silently replaced or make the post-join references
# ambiguous, so they are reserved alongside the physical layout names.
OPERATOR_COLUMNS = (
    "lsn", "op", "_rn", "_acs_gk", "_salt", "_row", "_ord", "_was_live",
)

# Every column name the lake-table machinery owns: the logical meta columns
# plus the physical layout columns the write path injects ("bucket" is the
# partition column — a payload column of that name would be overwritten,
# stripped by partitionBy, and read back as NULLs; "_wsalt" is the write
# salt, dropped before writing) plus the operator scratch/envelope names
# above.  Schema declaration rejects these case-insensitively
# (lake/table.py::_check_payload_names — Spark resolution is
# case-insensitive by default, so "Bucket" collides with "bucket"); the
# P7 normalizers suffix past them like any collision, so JSON-discovered
# source fields named e.g. "bucket" land as "bucket_1" instead of
# crashing or corrupting.
RESERVED_COLUMNS = ("bucket", "_wsalt", *META_COLUMNS, *OPERATOR_COLUMNS)

META_STRUCT = T.StructType([T.StructField("errors", T.ArrayType(T.StringType()), True)])


def with_meta_columns(payload: T.StructType) -> T.StructType:
    """Physical lake-table schema = payload + engine metadata columns."""
    fields = list(payload.fields)
    fields += [
        T.StructField("_lsn", T.LongType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
        T.StructField("_raw_id", T.StringType(), True),
        T.StructField("_extracted_at", T.TimestampType(), True),
        T.StructField("_meta", META_STRUCT, True),
    ]
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Airbyte JSON-Schema → Spark type mapping (SURVEY.md §1.3 / §1.6)
# ---------------------------------------------------------------------------
# Scalar mapping follows `AirbyteProtocolType.java:1-78` and
# `docs/understanding-airbyte/supported-data-types.md:13-26`:
#   string→String, boolean→Boolean, integer→Long, number→Double
#   (unbounded Number documented overflow policy: double; use
#   DecimalType(38,9) when airbyte_type == "integer"-exact is required),
#   date→Date, timestamp_with_timezone→Timestamp (UTC-normalized),
#   timestamp_without_timezone→TimestampNTZ, time_*→String (RFC-3339),
#   array→ArrayType, object→StructType, union→widest member else String.

_SCALARS: dict[tuple[str, str | None], T.DataType] = {
    ("string", None): T.StringType(),
    ("boolean", None): T.BooleanType(),
    ("integer", None): T.LongType(),
    ("number", None): T.DoubleType(),
    ("number", "integer"): T.LongType(),
    ("string", "date"): T.DateType(),
    ("string", "timestamp_with_timezone"): T.TimestampType(),
    ("string", "timestamp_without_timezone"): T.TimestampNTZType(),
    ("string", "time_with_timezone"): T.StringType(),
    ("string", "time_without_timezone"): T.StringType(),
}

# Union precedence for physical typing: Array > Struct > scalars in enum
# order (`base-typing-deduping/.../Union.java:50-64`; enum order is
# STRING, DATE, TIME_*, TIMESTAMP_*, NUMBER, INTEGER, BOOLEAN —
# `AirbyteProtocolType.java:1-78` — so STRING wins any union it appears in).
_SCALAR_PRECEDENCE = [
    T.StringType(),
    T.DateType(),
    T.TimestampNTZType(),
    T.TimestampType(),
    T.DoubleType(),
    T.LongType(),
    T.BooleanType(),
]


def airbyte_to_spark(json_schema: dict) -> T.DataType:
    """Convert one Airbyte JSON-Schema node to a Spark DataType.

    Parsing mirrors `AirbyteType.java:27-55` (incl. ``{type:[...]}``-style
    unions at 86-110).  Unknown / unsupported shapes degrade to StringType
    (raw JSON) — schema mismatch must never fail replication
    (`airbyte-protocol.md:431-442`).
    """
    if not isinstance(json_schema, dict):
        return T.StringType()
    if "oneOf" in json_schema or "anyOf" in json_schema:
        options = json_schema.get("oneOf") or json_schema.get("anyOf")
        return _union([airbyte_to_spark(o) for o in options])

    jtype = json_schema.get("type")
    if isinstance(jtype, list):
        non_null = [t for t in jtype if t != "null"]
        if len(non_null) == 1:
            jtype = non_null[0]
        elif not non_null:
            return T.StringType()
        else:
            return _union(
                [airbyte_to_spark({**json_schema, "type": t}) for t in non_null]
            )

    fmt = json_schema.get("format")
    airbyte_type = json_schema.get("airbyte_type")
    if jtype == "string" and fmt == "date-time":
        airbyte_type = airbyte_type or "timestamp_with_timezone"
    if jtype == "string" and fmt == "date":
        airbyte_type = "date"

    if jtype == "array":
        item = json_schema.get("items", {})
        return T.ArrayType(airbyte_to_spark(item))
    if jtype == "object":
        props = json_schema.get("properties")
        if not props:
            # free-form object → JSON string (MapType loses value types)
            return T.StringType()
        return T.StructType(
            [T.StructField(k, airbyte_to_spark(v), True) for k, v in props.items()]
        )
    return _SCALARS.get((jtype, airbyte_type), _SCALARS.get((jtype, None), T.StringType()))


def _union(types: list[T.DataType]) -> T.DataType:
    """Pick the physical type for a union: Array > Struct > scalar precedence
    (`Union.java:50-64`); mixed incompatible scalars → String."""
    arrays = [t for t in types if isinstance(t, T.ArrayType)]
    if arrays:
        return arrays[0]
    structs = [t for t in types if isinstance(t, T.StructType)]
    if structs:
        return structs[0]
    for candidate in _SCALAR_PRECEDENCE:
        if any(t == candidate for t in types):
            return candidate
    return T.StringType()


def catalog_to_struct(stream_json_schema: dict) -> T.StructType:
    """AirbyteStream.json_schema (top-level object) → StructType."""
    dt = airbyte_to_spark(stream_json_schema)
    if isinstance(dt, T.StructType):
        return dt
    return T.StructType([T.StructField("value", dt, True)])


# ---------------------------------------------------------------------------
# Widening rules (E2) — shared by LakeTable.evolve_schema, IcebergTable, and
# the schema-diff stage.  Recursive (round 4): a struct that GAINS subfields
# (existing subfields equal-or-widened) and an array whose element type
# widens are both compatible in-place evolutions — Spark's parquet reader
# fills missing nested subfields with NULL and upcasts scalars on read, and
# Iceberg's id-based columns support nested ADD COLUMN the same way.  A
# struct that DROPS a subfield is a narrowing (soft_reset territory),
# mirroring the top-level column rule (`AlterTableReport.java:1-25`).
# ---------------------------------------------------------------------------

SCALAR_WIDENINGS: set[tuple[str, str]] = {
    ("integer", "long"),
    ("integer", "double"),
    ("long", "double"),
    ("float", "double"),
    ("date", "timestamp"),
}


def is_widening(src: T.DataType, dst: T.DataType) -> bool:
    """True when ``src → dst`` is equal or a lossless widening, applied
    recursively through arrays and structs."""
    if src == dst:
        return True
    if (src.typeName(), dst.typeName()) in SCALAR_WIDENINGS:
        return True
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return is_widening(src.elementType, dst.elementType)
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        dstf = {f.name: f for f in dst.fields}
        for f in src.fields:
            if f.name not in dstf:
                return False  # nested drop = narrowing
            if not is_widening(f.dataType, dstf[f.name].dataType):
                return False
        return True
    return False


def merge_nested(current: T.DataType, incoming: T.DataType) -> T.DataType:
    """CDC-mode nested type merge: committed types stay AUTHORITATIVE
    (lexical JSON inference must never retype an existing column — every
    JSON int looks like a long, every ISO timestamp like a string,
    `cdc.md:27`), but structs GAIN incoming-only subfields, recursively;
    array element types merge the same way.  Kind mismatch → current.
    The result is by construction equal-or-widening of ``current``
    (additions only), so ``evolve_schema`` always accepts it."""
    if isinstance(current, T.StructType) and isinstance(incoming, T.StructType):
        inc = {f.name: f.dataType for f in incoming.fields}
        cur_names = {f.name for f in current.fields}
        out = [
            T.StructField(
                f.name, merge_nested(f.dataType, inc.get(f.name, f.dataType)), True
            )
            for f in current.fields
        ]
        out += [
            T.StructField(f.name, f.dataType, True)
            for f in incoming.fields
            if f.name not in cur_names
        ]
        return T.StructType(out)
    if isinstance(current, T.ArrayType) and isinstance(incoming, T.ArrayType):
        return T.ArrayType(merge_nested(current.elementType, incoming.elementType))
    return current

"""Typing stage: projection, safe casts with per-row error capture, CDC
metadata injection, identifier normalization (SURVEY.md §2.3).

Reference semantics:
  P3 extractAndCast — per-column JSON extract + SAFE_CAST; cast failures
     yield NULL instead of failing (`BigQuerySqlGenerator.java:109-160`).
     Spark's non-ANSI ``cast`` already returns NULL on failure.
  P4 per-row cast-error capture — a value that was present raw but became
     NULL after cast records ``"Problem with `col`"`` in ``_meta.errors``;
     the sync continues (`BigQuerySqlGenerator.java:423-438,479`;
     `docs/understanding-airbyte/typing-deduping.md:14-33`).
  P5 CDC metadata injection (`DebeziumEventUtils.java:44-64`).
  P7 StandardNameTransformer (`bases/base-java/.../StandardNameTransformer
     .java`); the collision suffixing (`CatalogParser.java:98-131`) is
     applied by the JSON typing stage (`streaming/pipeline.py::
     _resolve_and_evolve`).

Everything is built-in column expressions — stays inside whole-stage
codegen; no Python in the row path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F, types as T

from airbyte_custom_spark.schema import PAYLOAD_COL


def project_and_cast(
    df: DataFrame,
    target: T.StructType,
    capture_errors: bool = True,
    meta_col: str = "_meta",
) -> DataFrame:
    """Project ``df`` onto ``target``'s columns with safe casts.

    Missing columns become NULL; present columns are cast (NULL on cast
    failure).  With ``capture_errors``, rows where a raw value existed but
    the cast produced NULL get an error entry in ``_meta.errors`` — the
    P3+P4 pipeline in one select.

    A COMPLEX target field (array/struct/map) fed from a StringType input
    column is parsed with a typed ``from_json`` instead of ``try_cast``
    (string→array is an unsupported cast — AnalysisException, not NULL):
    the JSON text of the nested value becomes the typed value, malformed
    text becomes NULL and is captured like any other cast failure — the
    reference's JSON_QUERY nested extraction
    (`BigQuerySqlGenerator.java:109-160`)."""
    existing = {f.name: f.dataType for f in df.schema.fields}
    out_cols: list[F.Column] = []
    err_entries: list[F.Column] = []
    for field in target.fields:
        name = field.name
        if name not in existing:
            out_cols.append(F.lit(None).cast(field.dataType).alias(name))
            continue
        raw = F.col(name)
        if isinstance(
            field.dataType, (T.ArrayType, T.StructType, T.MapType)
        ) and isinstance(existing[name], T.StringType):
            typed = F.from_json(raw, field.dataType)
        else:
            # try_cast = SAFE_CAST: NULL on failure even under ANSI mode
            # (Spark 4 default), matching BigQuery SAFE_CAST in the reference
            typed = raw.try_cast(field.dataType)
        out_cols.append(typed.alias(name))
        if capture_errors:
            err_entries.append(
                F.when(
                    raw.isNotNull() & typed.isNull(),
                    F.lit(f"Problem with `{name}`"),
                )
            )
    passthrough = [c for c in df.columns if c not in {f.name for f in target.fields}]
    select_list = [*out_cols, *[F.col(c) for c in passthrough]]
    if capture_errors:
        # must be computed in the SAME select — after projection, the raw
        # (pre-cast) values are gone
        errors = (
            F.array_compact(F.array(*err_entries))
            if err_entries
            else F.array().cast(T.ArrayType(T.StringType()))
        )
        select_list.append(F.struct(errors.alias("errors")).alias(meta_col))
    return df.select(*select_list)


def extract_payload(
    events: DataFrame,
    target: T.StructType,
    key_map: dict[str, str] | None = None,
) -> DataFrame:
    """Raw-JSON envelope → typed rows: parse ``PAYLOAD_COL`` once to a
    string map (nested values arrive as raw JSON text), project every
    target field out of it, then apply ``project_and_cast`` (scalars via
    try_cast, complex fields via typed per-field from_json, per-row error
    capture).  ``key_map`` maps raw source-field names → column names
    (P7 normalization); a column absent from its values is fed by the
    raw key of the same name.  Shared by the streaming JSON ingest and
    the retype-from-raw rebuild (`lake/raw.py::retype_from_raw`)."""
    raw_of = {col: raw for raw, col in (key_map or {}).items()}
    pmap = F.from_json(
        F.col(PAYLOAD_COL), T.MapType(T.StringType(), T.StringType())
    )
    raw = events.select(
        *[F.col(c) for c in events.columns if c != PAYLOAD_COL],
        *[
            pmap.getItem(raw_of.get(f.name, f.name)).alias(f.name)
            for f in target.fields
        ],
    )
    return project_and_cast(raw, target)


def inject_cdc_metadata(
    df: DataFrame,
    lsn_col: str = "lsn",
    op_col: str = "op",
    updated_at_col: str = "_ab_cdc_updated_at",
) -> DataFrame:
    """Add the flattened-Debezium metadata columns if absent
    (`DebeziumEventUtils.java:44-64`): `_ab_cdc_updated_at` from the event
    ts, `_ab_cdc_deleted_at` non-null iff op='d', `_ab_cdc_cursor` = lsn."""
    out = df
    if updated_at_col not in df.columns:
        out = out.withColumn(updated_at_col, F.col("ts"))
    if "_ab_cdc_deleted_at" not in out.columns:
        out = out.withColumn(
            "_ab_cdc_deleted_at",
            F.when(F.col(op_col) == "d", F.col(updated_at_col)),
        )
    if "_ab_cdc_cursor" not in out.columns:
        out = out.withColumn("_ab_cdc_cursor", F.col(lsn_col))
    return out


# ---------------------------------------------------------------------------
# Identifier normalization (P7)
# ---------------------------------------------------------------------------

_NON_ALNUM = re.compile(r"[^A-Za-z0-9_]")


def normalize_name(name: str) -> str:
    """StandardNameTransformer analog: lowercase, non-alphanumeric → '_',
    prefix '_' if it starts with a digit."""
    s = _NON_ALNUM.sub("_", name).lower()
    if s and s[0].isdigit():
        s = "_" + s
    return s or "_"

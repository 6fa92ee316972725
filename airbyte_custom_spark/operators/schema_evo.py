"""Schema diff + evolution (SURVEY.md §2.7, E1-E4).

Reference behavior reproduced:
  E1 detect added / removed / retyped columns vs the existing final table
     (`BigQuerySqlGenerator.java:229-306`, `AlterTableReport.java:1-25`);
  E2 compatible changes evolve in place (LakeTable.evolve_schema — the
     Iceberg ALTER TABLE analog); incompatible changes soft-reset
     (LakeTable.soft_reset, `BigQuerySqlGenerator.java:322-335`);
  E3 dropped column: final keeps history, new writes stop populating it
     (modeled as evolution-with-null — the column stays, new rows are null);
  CDC-mode rule: the reference applies schema changes at sync boundaries
     (`docs/understanding-airbyte/cdc.md:27`).  A running StreamingQuery
     keeps a fixed SOURCE schema, but the JSON jobs evolve the TABLE
     mid-stream: each micro-batch's new keys and widenings commit before
     that batch's merge (`streaming/pipeline.py::evolve_from_tags`).

The payload-inference stage is Arrow-vectorized: a bounded sample of JSON
payloads is pulled to the driver in one Arrow batch (``toPandas`` with
Arrow enabled) and inferred with pandas — no per-row Python inside Spark
tasks (north-rule constraint); inference cost is O(sample), independent of
stream size.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F, types as T

from airbyte_custom_spark.schema import PAYLOAD_COL, is_widening


@dataclass
class SchemaDiff:
    """AlterTableReport analog (`AlterTableReport.java:1-25`)."""

    added: list[T.StructField] = field(default_factory=list)
    removed: list[str] = field(default_factory=list)
    widened: list[tuple[str, T.DataType, T.DataType]] = field(default_factory=list)
    incompatible: list[tuple[str, T.DataType, T.DataType]] = field(default_factory=list)

    @property
    def no_change(self) -> bool:
        return not (self.added or self.removed or self.widened or self.incompatible)

    @property
    def compatible(self) -> bool:
        """Evolvable in place (add / widen).  Removed columns are compatible
        too: the column stays in the table, new rows leave it null (E3)."""
        return not self.incompatible


def diff_schemas(current: T.StructType, incoming: T.StructType) -> SchemaDiff:
    cur = {f.name: f for f in current.fields}
    inc = {f.name: f for f in incoming.fields}
    d = SchemaDiff()
    for name, f in inc.items():
        if name not in cur:
            d.added.append(T.StructField(name, f.dataType, True))
        elif f.dataType != cur[name].dataType:
            # recursive rule: scalar widenings, array element widenings,
            # and struct subfield ADDS are all in-place evolutions
            if is_widening(cur[name].dataType, f.dataType):
                d.widened.append((name, cur[name].dataType, f.dataType))
            elif is_widening(f.dataType, cur[name].dataType):
                # incoming is NARROWER — current already covers it; no-op
                pass
            else:
                d.incompatible.append((name, cur[name].dataType, f.dataType))
    for name in cur:
        if name not in inc:
            d.removed.append(name)
    return d


def evolved_payload(current: T.StructType, diff: SchemaDiff) -> T.StructType:
    """Apply a compatible diff: keep every current column (removed columns
    stay, per E3), widen in place, append added columns."""
    widen = {name: dst for name, _src, dst in diff.widened}
    fields = [
        T.StructField(f.name, widen.get(f.name, f.dataType), True)
        for f in current.fields
    ]
    fields += diff.added
    return T.StructType(fields)


def evolve_table_for(
    table,
    incoming_payload: T.StructType,
    payload_key_map: dict[str, str] | None = None,
) -> SchemaDiff:
    """Diff the table's payload schema against an incoming batch schema and
    evolve the table in place when compatible; raise when not (caller
    decides whether to soft_reset).  Returns the diff for logging.
    ``payload_key_map`` (raw source field → column, P7) rides the same
    evolution commit."""
    current = T.StructType(
        [f for f in table.schema().fields if f.name in set(table.payload_columns)]
    )
    diff = diff_schemas(current, incoming_payload)
    # incompatible check FIRST: an incompatible-only diff (pure retype, no
    # adds/widens) must raise, not silently return — the caller needs to
    # know a soft_reset is required
    if not diff.compatible:
        raise ValueError(
            f"incompatible schema change {diff.incompatible} — use soft_reset"
        )
    if diff.no_change or (not diff.added and not diff.widened):
        return diff
    table.evolve_schema(
        evolved_payload(current, diff), payload_key_map=payload_key_map
    )
    return diff


# ---------------------------------------------------------------------------
# Arrow-vectorized JSON payload schema inference
# ---------------------------------------------------------------------------

TAG_SEP = "\x1f"

# widen-tag namespace: "\x00" can never be a struct column name (normalized
# names are [a-z0-9_]), so decode can route these unambiguously
WIDEN_PREFIX = "\x00widen"


def widen_probes_for(payload: T.StructType, raw_of: dict[str, str]) -> list[tuple]:
    """(raw_key, subkey|None, path_key, current_typeName) probe list for
    every payload column whose committed type can widen from observed
    VALUES — integer (→long/→double) and long (→double).  Covers
    top-level numeric columns (subkey None, path_key = column) AND
    numeric subfields of struct-typed columns (subkey = the raw subfield
    name inside the nested JSON object, path_key = column<SEP>subkey) —
    the same depth-2 contract as exact key discovery."""
    probes = []
    for f in payload.fields:
        raw = raw_of.get(f.name, f.name)
        if f.dataType.typeName() in ("integer", "long"):
            probes.append((raw, None, f.name, f.dataType.typeName()))
        elif isinstance(f.dataType, T.StructType):
            for sub in f.dataType.fields:
                if sub.dataType.typeName() in ("integer", "long"):
                    probes.append(
                        (
                            raw,
                            sub.name,
                            f.name + TAG_SEP + sub.name,
                            sub.dataType.typeName(),
                        )
                    )
    return probes


def widen_probe_expr(probes: list[tuple]) -> F.Column | None:
    """Per-row array of EXACT widen tags — rides the same aggregation as
    ``tagged_key_expr`` (round-4: the widen analog of exact key discovery).
    For each committed integer/long payload column — top-level OR a
    struct subfield (path_key carries ``col<SEP>sub``) — a row whose raw
    value fails the committed type's ``try_cast`` but parses as a wider
    numeric emits ``"\\x00widen<SEP><path_key><SEP><wider>"`` — so a
    mid-stream long→double value change is DETECTED on every row, not
    sampled, and the column widens in place (E1/E2, is_widening) before
    extraction would have nulled the value into a cast error.  Values
    that parse as NOTHING numeric stay per-row cast errors (P4): garbage
    must not erode a committed numeric type into string.

    Cost: a handful of try_casts per numeric column inside the already-
    running stats pass — pure JVM, no extra job, empty array on the
    (overwhelmingly common) rows that fit their committed type."""
    if not probes:
        return None
    _map = T.MapType(T.StringType(), T.StringType())
    pmap = F.from_json(F.col(PAYLOAD_COL), _map)
    tags = []
    for raw, sub, path, tname in probes:
        if sub is None:
            v = pmap.getItem(raw)
        else:
            # nested values arrive as raw JSON text in the string map —
            # one more map-parse reaches the subfield value
            v = F.from_json(pmap.getItem(raw), _map).getItem(sub)
        as_long = v.try_cast("long")
        as_double = v.try_cast("double")
        if tname == "integer":
            tags.append(
                F.when(
                    v.isNotNull() & v.try_cast("int").isNull() & as_long.isNotNull(),
                    F.lit(path + TAG_SEP + "long"),
                )
            )
        tags.append(
            F.when(
                v.isNotNull() & as_long.isNull() & as_double.isNotNull(),
                F.lit(path + TAG_SEP + "double"),
            )
        )
    return F.filter(F.array(*tags), lambda x: x.isNotNull())


def tagged_key_expr(
    struct_cols: list[str] | None = None,
    widen_probes: list[tuple] | None = None,
) -> F.Column:
    """Per-row array of discovery tags — the one payload-key discovery,
    designed to ride an existing aggregation: top-level payload keys as
    ``"\\x1f<key>"``, second-level keys of the named struct columns as
    ``"<col>\\x1f<key>"``, plus exact widen tags (``widen_probe_expr``)
    for committed numeric columns.  Attach as a column, fold with
    ``array_distinct(flatten(collect_set(...)))`` inside the stats agg,
    and the batch's exact key set costs ZERO extra jobs (partial
    aggregation folds per-group key-set combos map-side);
    ``decode_discovery_tags`` reads the folded set back.

    Depth covered exactly: 2 (top-level always, subkeys of known struct
    columns; nested values arrive as raw JSON text in the string map, so
    they re-parse as a map one level down).  Deeper levels type/extend
    via the bounded driver sample — a depth-3 key outside the sample
    lands inside its parent's typed value only if the parent type
    already carries it (the first batch of a brand-new struct column is
    likewise sample-typed, exact from its second batch on)."""
    _map = T.MapType(T.StringType(), T.StringType())
    empty = F.array().cast("array<string>")
    pmap = F.from_json(F.col(PAYLOAD_COL), _map)

    def _tagger(prefix: str):
        return lambda k: F.concat(F.lit(prefix + TAG_SEP), k)

    parts = [
        F.coalesce(F.transform(F.map_keys(pmap), _tagger("")), empty)
    ]
    for c in struct_cols or []:
        sub = F.map_keys(F.from_json(pmap.getItem(c), _map))
        parts.append(F.coalesce(F.transform(sub, _tagger(c)), empty))
    w = widen_probe_expr(widen_probes or [])
    if w is not None:
        parts.append(F.coalesce(F.transform(w, _tagger(WIDEN_PREFIX)), empty))
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def decode_discovery_tags(
    tags: list[str],
) -> tuple[list[str], dict[str, list[str]], dict[str, str]]:
    """Inverse of ``tagged_key_expr``: tag list → (top-level keys,
    {struct col → subkeys}, {path_key → widest observed widen target}).
    A widen path_key is the column name, or ``col<SEP>sub`` for a struct
    subfield."""
    top: list[str] = []
    nested: dict[str, list[str]] = {}
    widen: dict[str, str] = {}
    for t in tags:
        c, k = t.split(TAG_SEP, 1)
        if c == WIDEN_PREFIX:
            path, target = k.rsplit(TAG_SEP, 1)
            # double subsumes long when a batch carries both
            if widen.get(path) != "double":
                widen[path] = target
        elif c == "":
            top.append(k)
        else:
            nested.setdefault(c, []).append(k)
    return sorted(set(top)), {c: sorted(set(ks)) for c, ks in nested.items()}, widen


def _infer_value_type(values: list) -> T.DataType:
    """Recursive Airbyte-style JSON type inference (SURVEY.md §1.3/§1.6,
    `AirbyteType.java:27-55`): scalars map bool→Boolean, int→Long,
    int|float→Double, str→String; homogeneous lists → ArrayType(element
    inference over all sampled elements); homogeneous objects → StructType
    over the union of keys (`Struct.java:1-14`); mixed/unknown (Union) →
    StringType — the raw-JSON-string fallback, matching the reference's
    UnsupportedOneOf handling."""
    vals = [v for v in values if v is not None]
    if not vals:
        # no evidence yet: NullType sentinel — the caller DEFERS the
        # column (prune_untyped) instead of locking in StringType, so a
        # key whose first appearances are all NULL still gets its real
        # type when values arrive (nothing is lost: the deferred rows'
        # values were null).  Locking string here was a measured bug —
        # a later all-int key read back as "0" instead of 0.
        return T.NullType()
    if all(isinstance(v, bool) for v in vals):
        return T.BooleanType()
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        return T.LongType()
    if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals):
        return T.DoubleType()
    if all(isinstance(v, str) for v in vals):
        return T.StringType()
    if all(isinstance(v, list) for v in vals):
        return T.ArrayType(_infer_value_type([e for v in vals for e in v]))
    if all(isinstance(v, dict) for v in vals):
        keys: list[str] = []
        for v in vals:
            for k in v:
                if k not in keys:
                    keys.append(k)
        if not keys:
            # free-form object with no observed properties → JSON string
            # (schema.py policy; an EMPTY StructType is unwritable in
            # parquet and would crash-loop the batch)
            return T.StringType()
        return T.StructType(
            [
                T.StructField(
                    k, _infer_value_type([v[k] for v in vals if k in v]), True
                )
                for k in keys
            ]
        )
    return T.StringType()


def prune_untyped(dt: T.DataType) -> T.DataType | None:
    """Resolve the NullType no-evidence sentinel in an inferred type.

    - scalar NullType → None: DEFER the column; every value behind it was
      null, so waiting for real evidence is lossless and avoids locking
      a type the data later contradicts;
    - array whose elements had no evidence (only []/null seen) →
      array<string>: the ARRAY itself was observed, so the column must
      exist now; elements fall back to lossless strings (the same
      Union-fallback rule as mixed types);
    - struct whose observed subfields were all null → StringType: the
      raw-JSON-text column, matching the empty-struct policy above (an
      empty StructType is unwritable in parquet)."""
    if isinstance(dt, T.NullType):
        return None
    if isinstance(dt, T.ArrayType):
        el = prune_untyped(dt.elementType)
        return T.ArrayType(T.StringType() if el is None else el)
    if isinstance(dt, T.StructType):
        kept = []
        for f in dt.fields:
            sub = prune_untyped(f.dataType)
            if sub is not None:
                kept.append(T.StructField(f.name, sub, True))
        return T.StructType(kept) if kept else T.StringType()
    return dt


def infer_payload_schema(
    df: DataFrame, keys: list[str], sample_rows: int = 2048
) -> T.StructType:
    """Infer a StructType from the JSON object strings of ``PAYLOAD_COL``.

    Pulls ≤ ``sample_rows`` payloads to the driver in one Arrow batch and
    infers with pandas — the 'vectorized Arrow-based schema-diff stage' of
    the north star.  Bounded, metadata-only; never runs per row over the
    full stream.

    ``keys`` (the exact discovered key set, ``decode_discovery_tags``)
    makes the FIELD SET exact: the driver sample decides only each key's
    TYPE; a key absent from the sample falls back to StringType
    (lossless — the raw JSON text is preserved and can be retyped by a
    later evolution/soft_reset), so rare late columns keep their values
    instead of being dropped.

    The NullType no-evidence sentinel is returned as inferred, so the
    caller can tell a sampled-but-all-null (sub)key apart from one the
    sample never saw; it resolves them with ``prune_untyped``."""
    payload = F.col(PAYLOAD_COL)
    sample = df.select(payload).filter(payload.isNotNull()).limit(sample_rows).toPandas()
    parsed: list[dict] = [json.loads(s) for s in sample[PAYLOAD_COL]] if not sample.empty else []
    names: list[str] = []
    for p in parsed:
        for k in p:
            if k not in names:
                names.append(k)
    fields = [
        T.StructField(
            name, _infer_value_type([p[name] for p in parsed if name in p]), True
        )
        for name in names
    ]
    # the string fallback is only for keys the sample never saw at all
    # (their raw JSON text survives as string); a sampled all-null key
    # keeps its NullType sentinel so the caller DEFERS it
    sampled = set(names)
    fields += [T.StructField(k, T.StringType(), True) for k in keys if k not in sampled]
    return T.StructType(fields)

"""Raw-JSON envelope ingest (`JsonCdcIngestJob`): Arrow-based per-batch
schema inference, mid-stream ADD-column evolution, typed extraction with
per-row cast-error capture — the reference's raw `_airbyte_data` →
typed+deduped flow (`typing-deduping.md:5-70`) as one streaming job."""

import pytest
from pyspark.sql import functions as F

from airbyte_custom_spark.config import IngestConfig
from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
from airbyte_custom_spark.sources.generator import (
    change_events,
    json_envelope,
    write_event_chunks,
)
from airbyte_custom_spark.streaming.pipeline import JsonCdcIngestJob

from tests.util import assert_matches_replay, discover_keys


def test_json_ingest_matches_typed_replay(spark, tmp_path):
    """The JSON roundtrip (typed → to_json → infer/extract/cast → merge)
    produces the exact final state the typed pipeline produces."""
    events = change_events(spark, 4000, n_convs=60, max_turns=8, p_delete=0.1)
    src = str(tmp_path / "wal")
    write_event_chunks(json_envelope(events), src, n_chunks=4)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4)
    job = JsonCdcIngestJob(
        spark, t.path, src, str(tmp_path / "ckpt"), IngestConfig(max_files_per_trigger=2)
    )
    job.run_available_now()
    assert_matches_replay(LakeTable.load(spark, t.path).read(), events)


def test_json_ingest_evolves_new_column_mid_stream(spark, tmp_path):
    """A column that first appears in a later batch evolves the table in
    place (E1): earlier rows read NULL for it, later rows carry values —
    no restart, no manual DDL."""
    base = change_events(spark, 1500, n_convs=100, max_turns=10, p_delete=0.0)
    first = base.filter("lsn <= 700")
    second = base.filter("lsn > 700").withColumn(
        "sentiment", F.concat(F.lit("s"), (F.col("lsn") % 3).cast("string"))
    )
    src1, src2 = str(tmp_path / "wal1"), str(tmp_path / "wal2")
    write_event_chunks(json_envelope(first), src1, n_chunks=2)
    write_event_chunks(json_envelope(second), src2, n_chunks=2)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4)
    for i, src in enumerate((src1, src2)):
        job = JsonCdcIngestJob(
            spark, t.path, src, str(tmp_path / f"ckpt{i}"), IngestConfig()
        )
        job.run_available_now()
    final = LakeTable.load(spark, t.path)
    assert "sentiment" in final.payload_columns
    rows = final.read().collect()
    old = [r for r in rows if r["sentiment"] is None]
    new = [r for r in rows if r["sentiment"] is not None]
    assert old and new
    for r in new:
        assert r["sentiment"].startswith("s")


def test_json_ingest_captures_cast_errors_per_row(spark, tmp_path):
    """A payload value that fails its cast lands as NULL with an entry in
    _meta.errors — the row is kept, the sync never fails (P3/P4,
    `typing-deduping.md:14-33`)."""
    rows = [
        (1, "c", '{"conv_id": "a", "turn_idx": 0, "role": "user", "text": "hi", "ts": "2024-01-01T00:00:00Z"}'),
        (2, "c", '{"conv_id": "a", "turn_idx": 1, "role": "user", "text": "bad ts", "ts": "not-a-date"}'),
    ]
    ev = spark.createDataFrame(rows, "lsn long, op string, payload string").select(
        "lsn", "op",
        F.lit(None).cast("timestamp").alias("_ab_cdc_updated_at"),
        F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
        F.lit(0).alias("source_partition"),
        "payload",
    )
    src = str(tmp_path / "wal")
    ev.coalesce(1).write.parquet(src)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    job = JsonCdcIngestJob(spark, t.path, src, str(tmp_path / "ckpt"), IngestConfig())
    job.run_available_now()
    got = {
        r["turn_idx"]: r
        for r in LakeTable.load(spark, t.path)
        .read(include_meta=True)
        .collect()
    }
    assert got[0]["ts"] is not None and not (got[0]["_meta"]["errors"] or [])
    assert got[1]["ts"] is None
    assert any("ts" in e for e in got[1]["_meta"]["errors"])


def _envelope(spark, rows):
    """rows: (lsn, op, payload_json) triples → JSON_CDC_EVENT_SCHEMA frame."""
    return spark.createDataFrame(
        rows, "lsn long, op string, payload string"
    ).select(
        "lsn", "op", "payload",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("lsn")).alias("_ab_cdc_updated_at"),
        F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
        F.lit(0).alias("source_partition"),
    )


def test_json_ingest_late_column_past_sample_survives(spark, tmp_path):
    """round-3 VERDICT item 1: a column whose FIRST occurrence is beyond
    the 2,048-row inference sample must still land with its values — key
    discovery is an exact distributed aggregate, only TYPES come from the
    sample (late keys fall back to lossless string)."""
    import json as _json

    n = 3000
    rows = []
    for i in range(n):
        p = {"conv_id": f"c{i}", "turn_idx": 0, "role": "user", "text": f"t{i}"}
        if i >= 2900:  # first occurrence far past any sample window
            p["late_col"] = f"late-{i}"
        rows.append((i + 1, "c", _json.dumps(p)))
    src = str(tmp_path / "wal")
    # ONE file → one micro-batch → the whole point: discovery must see
    # past the sample within a single batch
    _envelope(spark, rows).coalesce(1).write.parquet(src)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    JsonCdcIngestJob(
        spark, t.path, src, str(tmp_path / "ckpt"), IngestConfig()
    ).run_available_now()
    final = LakeTable.load(spark, t.path)
    assert "late_col" in final.payload_columns
    got = final.read().filter("late_col is not null")
    assert got.count() == 100
    assert got.filter("late_col = 'late-2950'").count() == 1


def test_json_ingest_nested_array_and_struct_typed(spark, tmp_path):
    """ADVICE round-3: array-valued payload fields previously crash-looped
    (string→array is an unsupported cast).  Now: arrays and objects infer
    to typed ArrayType/StructType columns and extract via typed from_json;
    heterogeneous values fall back to JSON string (Union policy)."""
    import json as _json

    rows = [
        (1, "c", _json.dumps({"conv_id": "a", "turn_idx": 0, "role": "user",
                              "text": "hi", "tags": ["x", "y"],
                              "meta": {"model": "m1", "tokens": 7},
                              "mixed": [1, 2]})),
        (2, "c", _json.dumps({"conv_id": "a", "turn_idx": 1, "role": "user",
                              "text": "yo", "tags": [],
                              "meta": {"model": "m2"},
                              "mixed": "str-now"})),
    ]
    src = str(tmp_path / "wal")
    _envelope(spark, rows).coalesce(1).write.parquet(src)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    JsonCdcIngestJob(
        spark, t.path, src, str(tmp_path / "ckpt"), IngestConfig()
    ).run_available_now()
    final = LakeTable.load(spark, t.path)
    sch = {f.name: f.dataType for f in final.read().schema.fields}
    from pyspark.sql import types as T

    assert isinstance(sch["tags"], T.ArrayType)
    assert isinstance(sch["meta"], T.StructType)
    assert isinstance(sch["mixed"], T.StringType)  # Union → JSON-string fallback
    got = {r["turn_idx"]: r for r in final.read().collect()}
    assert got[0]["tags"] == ["x", "y"] and got[1]["tags"] == []
    assert got[0]["meta"]["model"] == "m1" and got[0]["meta"]["tokens"] == 7
    assert got[1]["meta"]["model"] == "m2" and got[1]["meta"]["tokens"] is None
    assert got[0]["mixed"] == "[1,2]" and got[1]["mixed"] == "str-now"


def test_json_ingest_malformed_nested_captured_per_row(spark, tmp_path):
    """A value that does not parse as the established nested type lands
    NULL with a _meta.errors entry — the sync continues (P3/P4 applied to
    nested columns; previously AnalysisException crash-loop)."""
    import json as _json

    rows = [
        (1, "c", _json.dumps({"conv_id": "a", "turn_idx": 0, "role": "user",
                              "text": "ok", "tags": ["x"]})),
        (2, "c", _json.dumps({"conv_id": "a", "turn_idx": 1, "role": "user",
                              "text": "bad", "tags": "not-an-array"})),
    ]
    src1, src2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    _envelope(spark, rows[:1]).coalesce(1).write.parquet(src1)
    _envelope(spark, rows[1:]).coalesce(1).write.parquet(src2)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    # batch 1 establishes tags: array<string>; batch 2's scalar value must
    # not crash the (typed) extraction — it nulls + records the error
    for i, src in enumerate((src1, src2)):
        JsonCdcIngestJob(
            spark, t.path, src, str(tmp_path / f"ck{i}"), IngestConfig()
        ).run_available_now()
    got = {
        r["turn_idx"]: r
        for r in LakeTable.load(spark, t.path).read(include_meta=True).collect()
    }
    assert got[0]["tags"] == ["x"] and not (got[0]["_meta"]["errors"] or [])
    assert got[1]["tags"] is None
    assert any("tags" in e for e in got[1]["_meta"]["errors"])


def test_discovery_tags_exact_and_nested_inference_units(spark):
    """Unit coverage: key discovery sees keys with null values and nested
    payloads; _infer_value_type recurses arrays-of-structs and applies the
    Union → string fallback."""
    from pyspark.sql import types as T

    from airbyte_custom_spark.operators.schema_evo import (
        _infer_value_type,
        infer_payload_schema,
    )

    df = spark.createDataFrame(
        [('{"a": 1, "b": null, "c": {"x": [1]}}',), ('{"a": 2, "d": [true]}',)],
        "payload string",
    )
    assert discover_keys(df)[0] == ["a", "b", "c", "d"]
    t = _infer_value_type([[{"u": 1}], [{"u": 2, "v": "s"}]])
    assert t == T.ArrayType(
        T.StructType(
            [T.StructField("u", T.LongType()), T.StructField("v", T.StringType())]
        )
    )
    assert _infer_value_type([1, "x"]) == T.StringType()
    assert _infer_value_type([1, 2.5]) == T.DoubleType()
    assert _infer_value_type([True, False]) == T.BooleanType()
    # keys= makes the field SET exact even when the sample misses a key
    sch = infer_payload_schema(df, ["a", "b", "c", "d", "zz"])
    assert [f.name for f in sch.fields if f.name == "zz"] == ["zz"]
    assert dict((f.name, f.dataType) for f in sch.fields)["zz"] == T.StringType()


def test_json_ingest_struct_gains_subfield_mid_stream(spark, tmp_path):
    """round-4: a payload struct that GAINS a subfield in a later batch
    widens the table struct in place (nested E1/E2): earlier rows read
    NULL for the new subfield, later rows carry typed values — no
    restart, no soft reset."""
    import json as _json

    b1 = [(1, "c", _json.dumps({"conv_id": "a", "turn_idx": 0, "role": "user",
                                "text": "t0", "meta": {"model": "m1"}}))]
    b2 = [(2, "c", _json.dumps({"conv_id": "a", "turn_idx": 1, "role": "user",
                                "text": "t1", "meta": {"model": "m2", "tokens": 9}}))]
    src1, src2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    _envelope(spark, b1).coalesce(1).write.parquet(src1)
    _envelope(spark, b2).coalesce(1).write.parquet(src2)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    for i, src in enumerate((src1, src2)):
        JsonCdcIngestJob(
            spark, t.path, src, str(tmp_path / f"ck{i}"), IngestConfig()
        ).run_available_now()
    final = LakeTable.load(spark, t.path)
    from pyspark.sql import types as T

    meta_t = dict((f.name, f.dataType) for f in final.read().schema.fields)["meta"]
    assert isinstance(meta_t, T.StructType)
    assert {f.name for f in meta_t.fields} == {"model", "tokens"}
    got = {r["turn_idx"]: r for r in final.read().collect()}
    assert got[0]["meta"]["model"] == "m1" and got[0]["meta"]["tokens"] is None
    assert got[1]["meta"]["model"] == "m2" and got[1]["meta"]["tokens"] == 9


def test_json_ingest_late_nested_subkey_past_sample_survives(spark, tmp_path):
    """round-4: the exact-discovery guarantee extends one level down — a
    struct SUBFIELD whose first occurrence is beyond the 2,048-row sample
    still lands (as a lossless string subfield) because second-level keys
    of known struct columns come from the fused distributed aggregate."""
    import json as _json

    # batch 1 establishes `meta` as a struct column
    b1 = [(1, "c", _json.dumps({"conv_id": "z", "turn_idx": 0, "role": "user",
                                "text": "t", "meta": {"model": "m0"}}))]
    rows = []
    for i in range(3000):
        m = {"model": f"m{i}"}
        if i >= 2900:
            m["late_sub"] = f"ls-{i}"
        rows.append((i + 2, "c", _json.dumps(
            {"conv_id": f"c{i}", "turn_idx": 0, "role": "user",
             "text": f"t{i}", "meta": m})))
    src1, src2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    _envelope(spark, b1).coalesce(1).write.parquet(src1)
    _envelope(spark, rows).coalesce(1).write.parquet(src2)  # ONE batch
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    for i, src in enumerate((src1, src2)):
        JsonCdcIngestJob(
            spark, t.path, src, str(tmp_path / f"ck{i}"), IngestConfig()
        ).run_available_now()
    final = LakeTable.load(spark, t.path)
    got = final.read().filter("meta.late_sub is not null")
    assert got.count() == 100
    assert got.filter("meta.late_sub = 'ls-2950'").count() == 1


def test_recursive_widening_and_merge_units():
    from pyspark.sql import types as T

    from airbyte_custom_spark.schema import is_widening, merge_nested

    S, L, Str = T.StructField, T.LongType(), T.StringType()
    s_a = T.StructType([S("a", Str)])
    s_ab = T.StructType([S("a", Str), S("b", L)])
    # struct ADD is widening; DROP is not; subfield widen recurses
    assert is_widening(s_a, s_ab) and not is_widening(s_ab, s_a)
    assert is_widening(T.StructType([S("a", T.IntegerType())]),
                       T.StructType([S("a", L)]))
    assert not is_widening(T.StructType([S("a", L)]),
                           T.StructType([S("a", T.IntegerType())]))
    # array element widening, incl. array-of-struct subfield adds
    assert is_widening(T.ArrayType(T.IntegerType()), T.ArrayType(L))
    assert is_widening(T.ArrayType(s_a), T.ArrayType(s_ab))
    assert not is_widening(T.ArrayType(Str), T.ArrayType(L))
    # scalars unchanged
    assert is_widening(T.IntegerType(), L) and not is_widening(L, Str)
    # merge: current authoritative for overlaps, gains incoming-only
    m = merge_nested(s_a, T.StructType([S("a", L), S("b", L)]))
    assert m == T.StructType([S("a", Str), S("b", L)])  # a stays string
    m2 = merge_nested(T.ArrayType(s_a), T.ArrayType(s_ab))
    assert m2 == T.ArrayType(T.StructType([S("a", Str), S("b", L)]))
    # kind mismatch → current wins
    assert merge_nested(Str, s_ab) == Str
    assert merge_nested(s_a, Str) == s_a


def test_discovery_tags_fused(spark):
    df = spark.createDataFrame(
        [('{"a": 1, "m": {"x": 1}}',), ('{"b": 2, "m": {"y": [1]}, "n": {"z": 0}}',)],
        "payload string",
    )
    top, nested, widen = discover_keys(df, ["m", "n"])
    assert top == ["a", "b", "m", "n"]
    assert nested == {"m": ["x", "y"], "n": ["z"]}
    assert widen == {}
    # struct column absent from a row / non-object value: no phantom keys
    top2, nested2, _ = discover_keys(df, ["a"])
    assert nested2 == {}
    # exact widen demands ride the same tags: a long-committed column
    # seeing a decimal value demands double; int seeing past-int32 demands
    # long; garbage demands NOTHING (stays a per-row cast error)
    df2 = spark.createDataFrame(
        [('{"a": 1.5, "b": 4000000000, "c": "zzz"}',), ('{"a": 2}',)],
        "payload string",
    )
    probes = [
        ("a", None, "a", "long"),
        ("b", None, "b", "integer"),
        ("c", None, "c", "long"),
    ]
    _, _, widen2 = discover_keys(df2, widen_probes=probes)
    assert widen2 == {"a": "double", "b": "long"}
    # nested probes reach one level into struct-typed columns: path_key
    # is col<SEP>sub, value parsed out of the nested JSON text
    from airbyte_custom_spark.operators.schema_evo import TAG_SEP

    df3 = spark.createDataFrame(
        [('{"m": {"x": 2.5, "y": "junk"}}',), ('{"m": {"x": 1}}',)],
        "payload string",
    )
    nprobes = [
        ("m", "x", "m" + TAG_SEP + "x", "long"),
        ("m", "y", "m" + TAG_SEP + "y", "long"),
    ]
    _, _, widen3 = discover_keys(df3, widen_probes=nprobes)
    assert widen3 == {"m" + TAG_SEP + "x": "double"}


def test_json_ingest_raw_retention_crash_replay_and_retype(spark, tmp_path, monkeypatch):
    """round-4: with raw_table_path set, every envelope row (payload text
    verbatim) lands in an append-only raw table BEFORE typing — and a
    crash between the raw append and the merge replays exactly-once on
    both tables (raw skips via its manifest, merge applies).  From the
    retained raw, retype_from_raw rebuilds a final table equal to the
    live one (`typing-deduping.md:5-70` re-type guarantee)."""
    from airbyte_custom_spark.lake.raw import retype_from_raw
    from airbyte_custom_spark.sources.generator import json_envelope

    events = change_events(spark, 3000, n_convs=80, max_turns=8, p_delete=0.1)
    src = str(tmp_path / "wal")
    write_event_chunks(json_envelope(events), src, n_chunks=4)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4)
    raw_path = str(tmp_path / "raw")

    # crash INJECTED between raw append and merge of the second batch
    calls = {"n": 0}
    orig = LakeTable.merge

    def crashing(self, *a, **kw):
        if self.path != raw_path:
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected crash after raw append")
        return orig(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge", crashing)
    job = JsonCdcIngestJob(
        spark, t.path, src, str(tmp_path / "ckpt"),
        IngestConfig(max_files_per_trigger=2), raw_table_path=raw_path,
    )
    with pytest.raises(Exception, match="injected crash"):
        job.run_available_now()
    monkeypatch.setattr(LakeTable, "merge", orig)
    job2 = JsonCdcIngestJob(
        spark, t.path, src, str(tmp_path / "ckpt"),
        IngestConfig(max_files_per_trigger=2), raw_table_path=raw_path,
    )
    job2.run_available_now()

    raw = LakeTable.load(spark, raw_path)
    raw_rows = raw.read(include_deleted=True, include_meta=True)
    # exactly-once raw: every event exactly once despite the replay
    assert raw_rows.count() == events.count()
    assert raw_rows.select("_lsn").distinct().count() == events.count()
    # payload text preserved verbatim (spot check via roundtrip of one row)
    one = raw_rows.filter("_lsn = 10").first()
    assert one["payload"].startswith("{")
    # final table correct
    assert_matches_replay(LakeTable.load(spark, t.path).read(), events)
    # re-typing from raw under an EXPLICIT schema (the revisited typing
    # decision) reproduces the live final state exactly, types included
    rebuilt = retype_from_raw(
        raw, str(tmp_path / "rebuilt"), payload_schema=TRANSCRIPT_SCHEMA,
        num_buckets=4,
    )
    live = LakeTable.load(spark, t.path).read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    again = rebuilt.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    assert live.exceptAll(again).count() == 0 and again.exceptAll(live).count() == 0


def test_json_ingest_normalizes_unsafe_payload_keys_stably(spark, tmp_path):
    """round-4 P7-on-ingest: payload keys that are not valid/undisputed
    column names — dots, spaces, case collisions — normalize with stable
    collision suffixing (`CatalogParser.java:98-131`).  The raw→column
    mapping persists in the table snapshot, so a later batch presenting
    the keys in a DIFFERENT order maps identically, and values keep
    landing in their columns."""
    import json as _json

    def payload(i, extra):
        p = {"conv_id": f"c{i}", "turn_idx": 0, "role": "user", "text": f"t{i}"}
        p.update(extra)
        return _json.dumps(p)

    # batch 1 introduces "a.b" only; batch 2 adds "a_b" (collides with
    # a.b's normalized name), "User Name", and re-sends "a.b"
    b1 = [(1, "c", payload(1, {"a.b": "dot-1"}))]
    b2 = [
        (2, "c", payload(2, {"a.b": "dot-2", "a_b": "plain-2", "User Name": "u2"})),
    ]
    src1, src2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    _envelope(spark, b1).coalesce(1).write.parquet(src1)
    _envelope(spark, b2).coalesce(1).write.parquet(src2)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    for i, src in enumerate((src1, src2)):
        JsonCdcIngestJob(
            spark, t.path, src, str(tmp_path / f"ck{i}"), IngestConfig()
        ).run_available_now()
    final = LakeTable.load(spark, t.path)
    # "a.b" claimed a_b in batch 1; raw "a_b" arrives later, finds a_b
    # taken, gets a_b_1; "User Name" → user_name
    assert final.payload_key_map["a.b"] == "a_b"
    assert final.payload_key_map["a_b"] == "a_b_1"
    assert final.payload_key_map["User Name"] == "user_name"
    got = {r["conv_id"]: r for r in final.read().collect()}
    assert got["c1"]["a_b"] == "dot-1" and got["c1"]["a_b_1"] is None
    assert got["c2"]["a_b"] == "dot-2" and got["c2"]["a_b_1"] == "plain-2"
    assert got["c2"]["user_name"] == "u2"


def test_retype_from_raw_normalizes_keys(spark, tmp_path):
    """retype_from_raw re-derives the schema over full history through the
    live ingest's own typing stage, so for a single-batch history the
    rebuilt key map and rows equal the live table's: raw "a_b" keeps its
    own name and "a.b" suffixes past it, in both tables."""
    import json as _json

    from airbyte_custom_spark.lake.raw import retype_from_raw

    rows = [
        (1, "c", _json.dumps({"conv_id": "a", "turn_idx": 0, "role": "user",
                              "text": "x", "a.b": "v1", "a_b": "v2"})),
    ]
    src = str(tmp_path / "wal")
    _envelope(spark, rows).coalesce(1).write.parquet(src)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    raw_path = str(tmp_path / "raw")
    JsonCdcIngestJob(
        spark, t.path, src, str(tmp_path / "ck"), IngestConfig(),
        raw_table_path=raw_path,
    ).run_available_now()
    rebuilt = retype_from_raw(
        LakeTable.load(spark, raw_path), str(tmp_path / "rb"), num_buckets=2
    )
    live = LakeTable.load(spark, t.path)
    assert live.payload_key_map == {"a.b": "a_b_1"}
    assert rebuilt.payload_key_map == live.payload_key_map
    cols = rebuilt.payload_columns
    assert set(cols) <= set(live.payload_columns)

    def rows(table):
        return sorted(tuple(r[c] for c in cols) for r in table.read().collect())

    assert rows(rebuilt) == rows(live)
    row = rebuilt.read().first()
    assert row["a_b"] == "v2" and row["a_b_1"] == "v1"


def test_json_ingest_meta_column_name_collision_is_suffixed(spark, tmp_path):
    """A payload key literally named like an engine meta column (_lsn,
    _meta, …) must not shadow the physical column — it suffixes like any
    collision, the real _lsn stays the merge cursor."""
    import json as _json

    rows = [
        (7, "c", _json.dumps({"conv_id": "a", "turn_idx": 0, "role": "user",
                              "text": "x", "_lsn": "payload-lsn", "_meta": "m"})),
    ]
    src = str(tmp_path / "wal")
    _envelope(spark, rows).coalesce(1).write.parquet(src)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    JsonCdcIngestJob(
        spark, t.path, src, str(tmp_path / "ck"), IngestConfig()
    ).run_available_now()
    final = LakeTable.load(spark, t.path)
    assert final.payload_key_map["_lsn"] == "_lsn_1"
    assert final.payload_key_map["_meta"] == "_meta_1"
    row = final.read(include_meta=True).first()
    assert row["_lsn"] == 7                      # the engine cursor, intact
    assert row["_lsn_1"] == "payload-lsn"        # the payload's field
    assert row["_meta_1"] == "m"
    # physical schema has no duplicate names
    names = [f.name for f in final.read(include_meta=True).schema.fields]
    assert len(names) == len(set(names))


def test_json_ingest_envelope_column_name_collision_is_suffixed(spark, tmp_path):
    """Payload keys named like CDC envelope columns (lsn/op/
    source_partition) must not duplicate a column inside the extraction
    select — they suffix; the envelope's own values stay authoritative."""
    import json as _json

    rows = [
        (3, "c", _json.dumps({"conv_id": "a", "turn_idx": 0, "role": "user",
                              "text": "x", "lsn": 999999, "op": "weird"})),
    ]
    src = str(tmp_path / "wal")
    _envelope(spark, rows).coalesce(1).write.parquet(src)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2)
    JsonCdcIngestJob(
        spark, t.path, src, str(tmp_path / "ck"), IngestConfig()
    ).run_available_now()
    final = LakeTable.load(spark, t.path)
    assert final.payload_key_map["lsn"] == "lsn_1"
    assert final.payload_key_map["op"] == "op_1"
    row = final.read(include_meta=True).first()
    assert row["_lsn"] == 3            # the ENVELOPE lsn drove the merge
    assert row["lsn_1"] == 999999      # the payload's field, preserved
    assert row["op_1"] == "weird"


def test_all_null_new_key_defers_type_until_evidence(spark, tmp_path):
    """round-4 fix (hypothesis-found): a new payload key whose first
    batch carries ONLY nulls must NOT lock the column to string — the
    column is deferred (its values were null; nothing is lost) and gets
    its real type when evidence arrives.  An empty-list key, by contrast,
    creates array<string> immediately (the array was observed; elements
    fall back to lossless strings)."""
    from pyspark.sql import types as T

    from airbyte_custom_spark.streaming.pipeline import infer_evolve_extract

    def env(rows):
        return spark.createDataFrame(
            rows, "lsn long, op string, payload string"
        ).select(
            "lsn", "op", "payload",
            F.lit(None).cast("timestamp").alias("_ab_cdc_updated_at"),
            F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
            F.lit(0).alias("source_partition"),
        )

    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2
    )
    import json as _json

    b1 = env([
        (1, "c", _json.dumps({"conv_id": "a", "turn_idx": 0, "role": "user",
                              "text": "x", "k": None, "e": []})),
    ])
    t.merge(infer_evolve_extract(b1, t), batch_id=0)
    assert "k" not in t.payload_columns  # deferred: no evidence yet
    assert dict(t.read().dtypes)["e"] == "array<string>"

    b2 = env([
        (2, "u", _json.dumps({"conv_id": "a", "turn_idx": 1, "role": "user",
                              "text": "y", "k": 7})),
    ])
    t.merge(infer_evolve_extract(b2, t), batch_id=1)
    fields = {f.name: f.dataType for f in t.schema().fields}
    assert isinstance(fields["k"], T.LongType)  # typed from real evidence
    vals = {r["turn_idx"]: r["k"] for r in t.read().collect()}
    assert vals == {0: None, 1: 7}


def test_all_null_nested_subkey_defers_until_evidence(spark, tmp_path):
    """The deferral rule applies one level down: a struct SUBFIELD whose
    first batch carries only nulls is deferred (not string-locked) and
    gets its real type when evidence arrives."""
    import json as _json

    from pyspark.sql import types as T

    from airbyte_custom_spark.streaming.pipeline import infer_evolve_extract

    def env(rows):
        return spark.createDataFrame(
            rows, "lsn long, op string, payload string"
        ).select(
            "lsn", "op", "payload",
            F.lit(None).cast("timestamp").alias("_ab_cdc_updated_at"),
            F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
            F.lit(0).alias("source_partition"),
        )

    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=2
    )

    def payload(i, meta):
        return _json.dumps({"conv_id": "a", "turn_idx": i, "role": "user",
                            "text": f"t{i}", "meta": meta})

    t.merge(infer_evolve_extract(env([(1, "c", payload(0, {"a": 1}))]), t),
            batch_id=0)
    t.merge(infer_evolve_extract(env([(2, "c", payload(1, {"a": 2, "b": None}))]),
                                 t), batch_id=1)

    def meta_fields():
        (mf,) = [f for f in t.schema().fields if f.name == "meta"]
        return {g.name: g.dataType for g in mf.dataType.fields}

    assert set(meta_fields()) == {"a"}  # b deferred: all-null so far

    t.merge(infer_evolve_extract(env([(3, "c", payload(2, {"b": 5}))]), t),
            batch_id=2)
    fields = meta_fields()
    assert isinstance(fields["b"], T.LongType), fields  # typed from evidence
    vals = {r["turn_idx"]: (r["meta"]["a"] if r["meta"] else None,
                            r["meta"]["b"] if r["meta"] else None)
            for r in t.read().collect()}
    assert vals == {0: (1, None), 1: (2, None), 2: (None, 5)}, vals


def test_json_ingest_widens_numeric_mid_stream(spark, tmp_path):
    """Exact value-driven widening (round 4): a payload column committed
    as LONG from batch 1's integer values later receives decimals — with
    NO new key in that batch to trigger re-inference.  The widen probes
    (fused into the stats agg) must detect it on every row, widen the
    column to DOUBLE in place (E1/E2), and land the decimal values —
    previously the try_cast to long silently nulled them into cast
    errors.  Early integer rows read back as exact doubles."""
    base = change_events(spark, 1200, n_convs=80, max_turns=10, p_delete=0.0)
    first = base.filter("lsn <= 600").withColumn(
        "score", (F.col("lsn") % 50).cast("long")
    )
    second = base.filter("lsn > 600").withColumn(
        "score", (F.col("lsn") % 50).cast("double") + 0.25
    )
    src1, src2 = str(tmp_path / "wal1"), str(tmp_path / "wal2")
    write_event_chunks(json_envelope(first), src1, n_chunks=2)
    write_event_chunks(json_envelope(second), src2, n_chunks=2)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4)
    for i, src in enumerate((src1, src2)):
        JsonCdcIngestJob(
            spark, t.path, src, str(tmp_path / f"ckpt{i}"), IngestConfig()
        ).run_available_now()

    final = LakeTable.load(spark, t.path)
    schema = {f.name: f.dataType.typeName() for f in final.schema().fields}
    assert schema["score"] == "double"
    rows = final.read(include_meta=True).collect()
    # every surviving row has a score; phase-2 rows carry the exact .25
    assert all(r["score"] is not None for r in rows)
    late = [r for r in rows if r["score"] != int(r["score"])]
    assert late, "no decimal score survived — widening lost the values"
    # NOTHING was captured as a cast error on score
    for r in rows:
        errs = r["_meta"]["errors"] if r["_meta"] is not None else None
        assert not errs, f"cast errors leaked through widening: {errs}"


def test_json_ingest_widens_nested_struct_subfield_mid_stream(spark, tmp_path):
    """Nested analog of exact widening: a struct column's LONG subfield
    later receives decimals (no new key anywhere to trigger re-inference).
    The depth-2 widen probes must detect it, widen the SUBFIELD to double
    in place, and land every decimal — sibling subfields untouched."""
    base = change_events(spark, 1000, n_convs=60, max_turns=8, p_delete=0.0)
    first = base.filter("lsn <= 500").withColumn(
        "meta",
        F.struct(
            (F.col("lsn") % 11).cast("long").alias("score"),
            F.lit("a").alias("tag"),
        ),
    )
    second = base.filter("lsn > 500").withColumn(
        "meta",
        F.struct(
            ((F.col("lsn") % 11).cast("double") + 0.25).alias("score"),
            F.lit("b").alias("tag"),
        ),
    )
    src1, src2 = str(tmp_path / "wal1"), str(tmp_path / "wal2")
    write_event_chunks(json_envelope(first), src1, n_chunks=2)
    write_event_chunks(json_envelope(second), src2, n_chunks=2)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4)
    for i, src in enumerate((src1, src2)):
        JsonCdcIngestJob(
            spark, t.path, src, str(tmp_path / f"ck{i}"), IngestConfig()
        ).run_available_now()

    final = LakeTable.load(spark, t.path)
    meta_t = {
        f.name: f.dataType for f in final.schema().fields if f.name == "meta"
    }["meta"]
    sub = {g.name: g.dataType.typeName() for g in meta_t.fields}
    assert sub["score"] == "double", sub
    assert sub["tag"] == "string", sub
    rows = final.read(include_meta=True).collect()
    assert all(r["meta"] is not None and r["meta"]["score"] is not None for r in rows)
    assert any(r["meta"]["score"] != int(r["meta"]["score"]) for r in rows)
    assert all(r["meta"]["tag"] in ("a", "b") for r in rows)
    for r in rows:
        errs = r["_meta"]["errors"] if r["_meta"] is not None else None
        assert not errs, f"cast errors leaked through nested widening: {errs}"


def test_json_ingest_garbage_does_not_erode_numeric_type(spark, tmp_path):
    """The flip side of exact widening: a NON-numeric garbage value in a
    committed long column must NOT widen anything — it stays a per-row
    cast error (P4) and the column keeps its type."""
    base = change_events(spark, 400, n_convs=30, max_turns=6, p_delete=0.0)
    first = base.withColumn("score", (F.col("lsn") % 9).cast("long"))
    src1 = str(tmp_path / "wal1")
    write_event_chunks(json_envelope(first), src1, n_chunks=1)
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA, num_buckets=4)
    JsonCdcIngestJob(
        spark, t.path, src1, str(tmp_path / "ck1"), IngestConfig()
    ).run_available_now()

    bad = (
        base.filter("lsn <= 5")
        .withColumn("lsn", F.col("lsn") + 1_000_000)
        .withColumn("score", F.lit("not-a-number"))
    )
    src2 = str(tmp_path / "wal2")
    write_event_chunks(json_envelope(bad), src2, n_chunks=1)
    JsonCdcIngestJob(
        spark, t.path, src2, str(tmp_path / "ck2"), IngestConfig()
    ).run_available_now()

    final = LakeTable.load(spark, t.path)
    schema = {f.name: f.dataType.typeName() for f in final.schema().fields}
    assert schema["score"] == "long"  # garbage never erodes the type
    errd = [
        r
        for r in final.read(include_meta=True).collect()
        if r["_meta"] is not None and r["_meta"]["errors"]
    ]
    assert errd, "garbage value should surface as a captured cast error"

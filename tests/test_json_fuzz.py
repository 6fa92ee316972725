"""Seeded randomized robustness for the JSON payload path: for ANY corpus
of payload shapes (drifting types, nested objects, arrays, malformed
scalars, late-appearing keys beyond the type-inference sample), discovery
+ inference + typed extraction must (1) keep the field set exact, (2)
keep the row count, and (3) never lose a value silently — every non-null
input is either typed out or captured in `_meta.errors` (the P3/P4
'bad values never fail the sync, and nothing disappears' contract)."""

import json
import random

from pyspark.sql import functions as F, types as T

from airbyte_custom_spark.operators.schema_evo import (
    infer_payload_schema,
    prune_untyped,
)
from airbyte_custom_spark.operators.typed import extract_payload

from tests.util import discover_keys

KEY_POOL = [f"k{i}" for i in range(8)]
SAMPLE_ROWS = 16  # tiny on purpose: rows beyond it exercise the
# exact-key-discovery fallback (type from sample, SET from the key tags)


def _value(rng: random.Random, kind: str, allow_null: bool):
    if allow_null and rng.random() < 0.1:
        return None
    if kind == "int":
        # ~10% garbage: a non-numeric string in an int-typed key → must be
        # captured as a cast error, not dropped silently
        return rng.randint(-10**6, 10**6) if rng.random() > 0.1 else "xx"
    if kind == "float":
        return round(rng.uniform(-1e6, 1e6), 4)
    if kind == "bool":
        return rng.random() < 0.5
    if kind == "str":
        return "s" + str(rng.randint(0, 999))
    if kind == "obj":
        return {"a": rng.randint(0, 99), "b": "t" + str(rng.randint(0, 9))}
    if kind == "list":
        return [rng.randint(0, 99) for _ in range(rng.randint(0, 3))]
    raise AssertionError(kind)


def _corpus(seed: int, n: int = 120):
    rng = random.Random(seed)
    kinds = {k: rng.choice(["int", "float", "bool", "str", "obj", "list"])
             for k in KEY_POOL}
    late_key = "late_" + str(seed)
    rows = []
    for i in range(n):
        p = {}
        for k in KEY_POOL:
            if rng.random() < 0.8:
                # no nulls inside the sample window: sampled-all-null keys
                # DEFER by design (covered by dedicated inference tests)
                p[k] = _value(rng, kinds[k], allow_null=i >= SAMPLE_ROWS)
        if i >= 100:  # first appearance far beyond the sample
            p[late_key] = "late-value-" + str(i)
        rows.append((i, json.dumps(p)))
    return rows


def test_fuzzed_payloads_lose_nothing(spark):
    for seed in range(6):
        rows = _corpus(seed)
        df = spark.createDataFrame(rows, "id long, payload string")
        keys = discover_keys(df)[0]
        inferred = infer_payload_schema(df, keys, sample_rows=SAMPLE_ROWS)
        # resolve the no-evidence sentinel the way the typing stage does
        # (an array seen only empty → array<string>)
        schema = T.StructType(
            [T.StructField(f.name, prune_untyped(f.dataType), True)
             for f in inferred.fields]
        )
        # (1) exact field set: every key ever present, nothing else
        seen = set()
        for _, s in rows:
            seen.update(json.loads(s).keys())
        assert {f.name for f in schema.fields} == seen, f"seed {seed}"

        out = extract_payload(df, schema).collect()
        # (2) row count preserved
        assert len(out) == len(rows), f"seed {seed}"

        # (3) nothing silently lost
        by_id = {r["id"]: r for r in out}
        for i, s in rows:
            payload, row = json.loads(s), by_id[i]
            for k, v in payload.items():
                if v is None:
                    continue
                got = row[k]
                errs = row["_meta"]["errors"] or []
                assert got is not None or f"Problem with `{k}`" in errs, (
                    f"seed {seed} row {i} key {k}: input {v!r} vanished "
                    f"(errors: {errs})"
                )

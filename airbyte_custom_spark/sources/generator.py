"""Deterministic synthetic CDC change-event sources.

Two generators:

1. ``change_events`` — the scale generator: binlog-shaped insert/update/
   delete events over transcript turns, built entirely from ``spark.range``
   + JVM-side hash arithmetic (xxhash64).  Seeded, reproducible at any
   parallelism, zero Python in the row path — this is what the bench and the
   golden tests feed through the engine (FIXTURES.md §2/§4).

2. ``events_from_table`` — a *SQL-expressible* derivation of the same event
   shape from the driver-provided ``events.parquet`` table, defined by one
   SQL string (``DERIVATION_SQL``) that runs verbatim on both Spark and
   DuckDB.  This is what powers the driver's oracle comparison: the Spark
   pipeline's output is checked against plain-window-SQL replay semantics.

The event shape mirrors the flattened Debezium envelope the reference emits
(`bases/debezium/.../DebeziumEventUtils.java:44-64`): updates look like
inserts (`docs/understanding-airbyte/cdc.md:13`), deletes carry only the
primary key + metadata (`cdc.md:29`), and ``lsn`` is the synthetic total
order ≅ `_ab_cdc_cursor` (`MySqlCdcConnectorMetadataInjector.java:26-31`).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from airbyte_custom_spark.schema import PAYLOAD_COL

# ---------------------------------------------------------------------------
# 1. Scale generator (hash-arithmetic, JVM-side)
# ---------------------------------------------------------------------------


def change_events(
    spark: SparkSession,
    n_events: int,
    n_convs: int = 1_000,
    max_turns: int = 24,
    seed: int = 42,
    hot_fraction: float = 0.0,
    p_delete: float = 0.05,
    p_insert: float = 0.25,
    n_source_partitions: int = 32,
    base_epoch: int = 1_700_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic CDC event stream of ``n_events`` rows, ordered by lsn.

    ``hot_fraction`` routes that fraction of all events to a single hot
    conversation (``conv-0``) — the skew knob for the salting tests
    (FIXTURES.md `hot_key_skew`).  Identical output for any parallelism:
    every column is a pure function of the row id.
    """
    df = spark.range(0, n_events, numPartitions=num_partitions)

    def h(salt: int) -> Column:
        return F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)))

    u = (h(1) % 1_000_000) / F.lit(1_000_000.0)
    if hot_fraction > 0:
        conv_num = F.when(u < hot_fraction, F.lit(0)).otherwise(
            (h(2) % max(n_convs - 1, 1)) + 1
        )
    else:
        conv_num = h(2) % n_convs
    turn_idx = (h(3) % max_turns).cast("int")
    r = (h(4) % 1_000) / F.lit(1_000.0)
    op = (
        F.when(r < p_delete, F.lit("d"))
        .when(r < p_delete + p_insert, F.lit("c"))
        .otherwise(F.lit("u"))
    )
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (h(5) % 4).cast("int") + 1,
    )
    lsn = F.col("id") + 1
    conv_id = F.concat(F.lit("conv-"), conv_num.cast("string"))
    text = F.concat(
        F.lit("turn-"),
        conv_id,
        F.lit(":"),
        turn_idx.cast("string"),
        F.lit("@rev"),
        lsn.cast("string"),
    )
    tool = F.when(role == "tool", F.concat(F.lit("tool_"), (h(6) % 7).cast("string")))
    ts = F.timestamp_seconds(F.lit(base_epoch) + F.col("id"))
    is_del = op == "d"

    out = df.select(
        lsn.alias("lsn"),
        op.alias("op"),
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        F.when(~is_del, role).alias("role"),
        F.when(~is_del, text).alias("text"),
        F.when(~is_del, tool).alias("tool"),
        F.when(~is_del, ts).alias("ts"),
        ts.alias("_ab_cdc_updated_at"),
        F.when(is_del, ts).alias("_ab_cdc_deleted_at"),
        (h(7) % n_source_partitions).cast("int").alias("source_partition"),
    )
    return out


def json_envelope(events_df: DataFrame) -> DataFrame:
    """Typed CDC events → the raw-JSON envelope (`JSON_CDC_EVENT_SCHEMA`):
    every non-envelope column is packed into ONE ``payload`` JSON string —
    the reference's `_airbyte_data` raw column.  ``to_json`` omits NULL
    fields, so a delete's payload carries only the primary key, exactly
    like Debezium delete records (`cdc.md:29`)."""
    env = ["lsn", "op", "_ab_cdc_updated_at", "_ab_cdc_deleted_at", "source_partition"]
    payload_cols = [c for c in events_df.columns if c not in env]
    return events_df.select(
        *[F.col(c) for c in env if c in events_df.columns],
        F.to_json(
            F.struct(*[F.col(c) for c in payload_cols]),
            # microsecond precision for BOTH timestamp flavors: the
            # defaults truncate to millis, silently losing cursor/ts
            # precision (parquet-sourced columns arrive as TIMESTAMP_NTZ,
            # which to_json formats via timestampNTZFormat)
            {
                "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
                "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
            },
        ).alias(PAYLOAD_COL),
    )


_IDENTITY_PROBES: dict[int, list[int]] = {}


def _identity_probes(spark: SparkSession, n: int) -> list[int]:
    """Per target partition p ∈ [0, n): a small int probe with
    ``pmod(hash(probe), n) == p`` under Spark's own Murmur3 (seed 42).

    ``repartition(n, key)`` hash-partitions, and murmur3 over a handful of
    distinct key values collides: measured, 32 chunk ids land on only 18
    of 32 reducers (max 3 chunks on one task) — a 3× straggler tail on
    the write stage with 14 idle cores (guide §2.5: synthetic partition
    keys with too few distinct values).  Routing each chunk through its
    probe makes the hash partitioner an IDENTITY map — one chunk per
    task, no skew.  Probes come from a tiny Spark job (so Python never
    re-implements Murmur3) and are memoized per process — the hash is
    seed-fixed, so the mapping is a constant."""
    if n in _IDENTITY_PROBES:
        return _IDENTITY_PROBES[n]
    probes: dict[int, int] = {}
    base = 0
    while len(probes) < n:
        rows = spark.range(base, base + 64 * n).select(
            F.col("id").cast("int").alias("i"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("p"),
        ).collect()
        for r in rows:
            probes.setdefault(r["p"], r["i"])
        base += 64 * n
    out = [probes[p] for p in range(n)]
    _IDENTITY_PROBES[n] = out
    return out


def write_event_chunks(
    df: DataFrame, path: str, n_chunks: int, lsn_col: str = "lsn"
) -> list[str]:
    """Materialize an event DataFrame as ``n_chunks`` contiguous-LSN parquet
    segments under ``path`` — the on-disk analog of binlog segments, and the
    input the Structured-Streaming file tail (sources/binlog.py) consumes.

    One pass: partition on the chunk id into n_chunks, write once with a
    chunk directory column (no per-chunk job).  The chunk→reducer map is
    made an IDENTITY via murmur3 probes (see ``_identity_probes`` — a bare
    ``repartition(n, "chunk")`` leaves ~45% of reducers empty and stacks
    up to 3 chunks on one straggler task).  Returns chunk dirs in order.
    """
    bounds = df.selectExpr(f"min({lsn_col}) lo", f"max({lsn_col}) hi").first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = max(int(hi) - int(lo) + 1, 1)
    chunk = F.least(
        F.lit(n_chunks - 1),
        ((F.col(lsn_col) - F.lit(int(lo))) * n_chunks / span).cast("int"),
    )
    probes = _identity_probes(df.sparkSession, n_chunks)
    probe = F.element_at(
        F.array(*[F.lit(p).cast("int") for p in probes]), chunk + 1
    )
    # NB: partition dir must not start with "_" — Hadoop listing hides those.
    (
        df.withColumn("chunk", chunk)
        .withColumn("_probe", probe)
        .repartition(n_chunks, "_probe")
        .drop("_probe")
        .sortWithinPartitions(lsn_col)
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(path)
    )
    # Binlog segments arrive in LSN order; the file-stream source orders
    # batches by modification time, and the parallel write above finishes
    # chunks in arbitrary task order.  Re-stamp mtimes so chunk i sorts
    # strictly before chunk i+1 — without this, a multi-trigger tail can
    # deliver segment 2 before segment 1 (merge is order-insensitive, but
    # order-SENSITIVE consumers like streaming/stateful.py would see an
    # arrival order no real binlog produces).
    base = time.time()
    for i in range(n_chunks):
        cdir = os.path.join(path, f"chunk={i}")
        if not os.path.isdir(cdir):
            continue
        for f in os.listdir(cdir):
            os.utime(os.path.join(cdir, f), (base + i, base + i))
    return [os.path.join(path, f"chunk={i}") for i in range(n_chunks)]


# ---------------------------------------------------------------------------
# 2. SQL-expressible derivation from the driver's events table (oracle path)
# ---------------------------------------------------------------------------
# The same text runs on Spark (view `events`) and DuckDB (view `events`).
# Portable subset only: %, ||, CASE, CAST(AS STRING/INT), row_number().

DERIVATION_SQL = """
WITH base AS (
  SELECT event_id AS lsn,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type = 'signup' THEN 'c'
              ELSE 'u' END AS op,
         'conv-' || CAST((CASE WHEN event_id % 5 = 0 THEN 0
                               ELSE (event_id % 97) + 97 * (user_id % 11)
                          END) AS STRING) AS conv_id,
         CAST(event_id % 37 AS INT) AS turn_idx,
         CASE CAST(event_id % 4 AS INT)
              WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'system' ELSE 'tool' END AS role0,
         ts, event_id, user_id
  FROM events
)
SELECT lsn, op, conv_id, turn_idx,
       CASE WHEN op = 'd' THEN NULL ELSE role0 END AS role,
       CASE WHEN op = 'd' THEN NULL
            ELSE 'turn-' || conv_id || ':' || CAST(turn_idx AS STRING)
                 || '@rev' || CAST(lsn AS STRING) END AS text,
       CASE WHEN op = 'd' OR role0 <> 'tool' THEN NULL
            ELSE 'tool_' || CAST(event_id % 7 AS STRING) END AS tool,
       CASE WHEN op = 'd' THEN NULL ELSE ts END AS ts,
       ts AS _ab_cdc_updated_at,
       CASE WHEN op = 'd' THEN ts ELSE NULL END AS _ab_cdc_deleted_at,
       CAST(user_id % 8 AS INT) AS source_partition
FROM base
"""

# Reference replay semantics in one SQL statement (T3 window dedup
# `BigQuerySqlGenerator.java:486-511` + T5 delete-wins `:514-548`):
# latest event per (conv_id, turn_idx) by lsn; if it is a delete the key is
# absent from the final table.
FINAL_STATE_SQL = f"""
WITH ev AS ({DERIVATION_SQL}),
ranked AS (
  SELECT ev.*, row_number() OVER (
           PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
  FROM ev
)
SELECT conv_id, turn_idx, role, text, tool, ts
FROM ranked WHERE rn = 1 AND op <> 'd'
"""


def events_from_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC events derived from ``{sf_dir}/events.parquet`` via DERIVATION_SQL
    (exactly what the DuckDB oracle derives)."""
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView(
        "events"
    )
    return spark.sql(DERIVATION_SQL)

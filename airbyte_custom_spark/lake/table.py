"""LakeTable — a minimal snapshot-based lake table on parquet.

The sandbox image ships no Iceberg runtime jar, so this module implements
the table contract the reference's Iceberg destination relies on
(`destination-iceberg/.../IcebergConsumer.java:140-224`): atomic versioned
commits, append/overwrite/upsert(+CDC delete) writes, schema evolution,
time travel, and compaction — behind a small API so a real Iceberg catalog
can be swapped in on a cluster.

Layout (all relative to the table root):

    _meta/VERSION            current version (int) — atomically replaced
    _meta/snap-v<N>.json     immutable snapshot descriptors (manifest REFS
                             + per-bucket stat rollups, never file lists)
    _meta/manifest-v<N>-<id>.json   immutable per-commit file manifests
    data/v<N>/bucket=<b>/*.parquet   data files written by commit N

Snapshots reference manifests Iceberg-manifest-list style: each commit
writes ONE immutable manifest shard listing its files (with row/byte
counts recorded at write time), and the snapshot holds {path,
live_buckets, by-bucket rollups} refs.  A merge "deletes" a bucket from an
old commit by dropping the bucket from that ref's live set — the manifest
shard itself is never rewritten.  Consequences at 100 TB: commit metadata
work is O(touched buckets + 1 shard), not O(table files); `stats()` and
bucket pruning read rollups only; the full file listing is only
materialized for the buckets a read actually touches.

Design points mirroring Iceberg, chosen for 100-TB behavior:

* **Bucketed layout + copy-on-write MERGE with bucket pruning.**  Rows are
  hash-bucketed on the bucket keys (default: the primary key — the analog
  of Iceberg `PARTITIONED BY (bucket(B, conv_id, turn_idx))`; the reference
  clusters its final tables by pk, `BigQuerySqlGenerator.java:204-221`).
  A merge only rewrites the buckets its source batch touches; untouched
  buckets' files carry over into the new snapshot by reference.  A batch
  touching 1% of keys rewrites ~1% of the table (bounded below by bucket
  granularity — size ``num_buckets`` so that table_size/num_buckets ≈ a
  few GB).

* **Merge = union + map-side top-1 reduce, ONE shuffle total.**  The
  source batch is unioned with the touched target rows and reduced to the
  greatest (lsn, is_delete) per pk by ``latest_per_key`` — a
  row_number window whose WindowGroupLimit keeps the top row per key on
  the map side, so there are no MERGE-cardinality failures and hot keys
  collapse before the exchange (SURVEY.md §4 "dedup before merge").  The
  reduce exchange IS the file-layout exchange: bucket =
  pmod(murmur3(pk), num_buckets) uses the exact hash HashPartitioning
  uses (seed 42), and the merge pins the exchange to P reducers, P the
  smallest divisor of num_buckets that is ≥ the session's default
  parallelism (num_buckets × files_per_bucket when files_per_bucket > 1).
  Since P divides num_buckets, reducer p holds exactly the whole buckets
  b ≡ p (mod P) — the reduce output is already bucket-clustered and no
  post-reduce repartition is needed, and a small batch runs one write
  task per core instead of one per bucket.
  (Round-1 shape shuffled the merged table a second time purely for
  layout; the alignment removes that entire exchange.)

* **Tombstones.**  Deletes are retained as `_deleted = true` rows, so a
  stale update (lower lsn) arriving in a LATER batch cannot resurrect a
  deleted key — the reference gets this by sourcing deletes from the raw
  table (T5, `BigQuerySqlGenerator.java:514-548`); we get it by keeping the
  tombstone's lsn in the final table.  `gc_tombstones()` drops tombstones
  older than an LSN watermark (all sources past it ⇒ no staler update can
  arrive).

* **Exactly-once.**  Every snapshot carries `applied: {query_id: batch_id}`.
  A replayed foreachBatch (same batch_id after restart) is detected and
  skipped, upgrading Structured Streaming's at-least-once delivery into
  effective exactly-once — the analog of the reference's
  pending→flushed→committed state watermark
  (`GlobalAsyncStateManager.java:34-160`, `airbyte-protocol.md:467-479`).

* **Schema evolution.**  Snapshots store every historical schema; each data
  file records the schema id it was written with.  Reads group files by
  schema id, read each group with its own schema, cast, and unionByName —
  so add-column and int→long/float→double widening never rewrite old files
  (Iceberg semantics; reference analog E1-E4,
  `BigQuerySqlGenerator.java:229-335`).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from airbyte_custom_spark.operators.dedupe import (
    latest_per_key,
    validate_primary_keys,
)
# is_widening: recursive equal-or-widening rule, shared with the
# schema-diff stage and the Iceberg branch (round 4: struct subfield adds /
# array element widens evolve in place — see schema.py::is_widening)
from airbyte_custom_spark.schema import META_COLUMNS, RESERVED_COLUMNS
from airbyte_custom_spark.schema import is_widening as _is_widening
from airbyte_custom_spark.schema import with_meta_columns

_META_DIR = "_meta"
_DATA_DIR = "data"

_VERSION_FILE = "VERSION"
_TAGS_FILE = "TAGS.json"

# Reserved payload names (schema.RESERVED_COLUMNS): the physical layout
# columns, the engine metadata columns, the operator scratch columns, and
# the CDC envelope names.  A payload column with one of these names would
# be silently destroyed mid-plan (withColumn overwrites it, partitionBy
# strips it from the files, the leaf-path read yields NULLs) or make
# post-join references ambiguous — reject at schema-declaration time
# instead.  (The JSON-ingest P7 normalizers suffix past these same names,
# so discovered schemas never hit this.)  Comparison is CASE-INSENSITIVE:
# Spark column resolution is case-insensitive by default, so a payload
# column "Bucket" collides with the injected "bucket" just the same.
_RESERVED_CASEFOLD = frozenset(c.casefold() for c in RESERVED_COLUMNS)


def _check_payload_names(
    payload: T.StructType, allow: frozenset[str] | set[str] = frozenset()
) -> None:
    """``allow`` grandfathers names already present in the CURRENT payload:
    evolve_schema must keep accepting a legacy table's pre-existing column
    (dropping it raises SchemaEvolutionError, so rejecting it here would
    wedge automated streaming evolution in a crash-loop) while still
    rejecting NEWLY-ADDED reserved names."""
    allowed = {n.casefold() for n in allow}
    bad = sorted(
        f.name
        for f in payload.fields
        if f.name.casefold() in _RESERVED_CASEFOLD
        and f.name.casefold() not in allowed
    )
    if bad:
        raise ValueError(
            f"payload column name(s) {bad} are reserved by the engine "
            f"(reserved, case-insensitive: {sorted(RESERVED_COLUMNS)}) — "
            "rename at the source or via payload_key_map normalization"
        )


class ConcurrentCommitError(RuntimeError):
    """Another writer committed since this snapshot was loaded."""


class SchemaEvolutionError(ValueError):
    """Incompatible schema change (drop / narrow) without soft reset."""


@dataclass
class MergeResult:
    version: int | None
    skipped: bool = False
    touched_buckets: list[int] = field(default_factory=list)
    carried_files: int = 0
    written_files: int = 0
    published: bool = True  # False = staged (write-audit-publish)




def _align_expr(col: F.Column, src_t: T.DataType, dst_t: T.DataType) -> F.Column:
    """Align one column from its stored type to the current table type.

    Scalars use try_cast (= SAFE_CAST under ANSI mode: schema mismatch
    must never fail replication, `airbyte-protocol.md:431-442`).  Complex
    types align STRUCTURALLY — try_cast cannot add struct subfields, so a
    struct widened by evolution (round 4: nested subfield adds) rebuilds
    the value with NULLs for subfields the old files lack, preserving
    NULL structs, and arrays align element-wise via transform."""
    if src_t == dst_t:
        return col
    if isinstance(src_t, T.StructType) and isinstance(dst_t, T.StructType):
        srcf = {f.name: f.dataType for f in src_t.fields}
        inner = [
            _align_expr(col.getField(f.name), srcf[f.name], f.dataType).alias(f.name)
            if f.name in srcf
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in dst_t.fields
        ]
        return F.when(col.isNotNull(), F.struct(*inner)).otherwise(
            F.lit(None).cast(dst_t)
        )
    if isinstance(src_t, T.ArrayType) and isinstance(dst_t, T.ArrayType):
        se, de = src_t.elementType, dst_t.elementType
        return F.transform(col, lambda x: _align_expr(x, se, de))
    return col.try_cast(dst_t)


# Largest key set a lookup expresses as an IN-list predicate.
_MAX_IN_LIST = 1024

# Above this many paths, building a file-source relation lists them with a
# Spark job of one task per path.  Held by ``read_parquet`` while it raises
# the session value for one read.
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()


def read_parquet(
    spark: SparkSession, schema: T.StructType, paths: list[str]
) -> DataFrame:
    """The parquet files ``paths`` read with ``schema``, listed on the
    driver.

    ``spark.read.parquet`` lists its paths when the frame is built.  Past
    the session's listing threshold (default 32) it schedules a job of one
    task per path to do so, although a path naming a file needs nothing
    but one ``stat``.  So the read runs with the threshold raised to the
    path count, under a module lock, and the session is put back as it
    was afterwards (the prior value, or unset), also when the read
    raises."""
    reader = spark.read.schema(schema)
    with _LISTING_LOCK:
        prior = spark.conf.get(_LISTING_THRESHOLD)
        if len(paths) <= int(prior):
            return reader.parquet(*paths)
        was_set = _LISTING_THRESHOLD in spark.conf.getAll
        spark.conf.set(_LISTING_THRESHOLD, str(len(paths)))
        try:
            return reader.parquet(*paths)
        finally:
            if was_set:
                spark.conf.set(_LISTING_THRESHOLD, prior)
            else:
                spark.conf.unset(_LISTING_THRESHOLD)


def pinned_reducers(num_buckets: int, cores: int) -> int:
    """Reducer count of the pinned merge exchange of a table with one
    file per bucket: the smallest divisor of ``num_buckets`` that is at
    least ``cores`` (``num_buckets`` itself when there are at least as
    many cores).

    Because the count divides ``num_buckets`` and the bucket is the
    exchange's own hash, reducer p holds exactly the whole buckets
    b ≡ p (mod count): the bucketed write still writes one file per
    touched bucket, with no repartition, in as few write tasks as keep
    every core busy."""
    return next(
        d for d in range(min(cores, num_buckets), num_buckets + 1)
        if num_buckets % d == 0
    )


def local_frame(
    spark: SparkSession, rows: list[tuple[Any, ...]], schema: T.StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a local relation.

    Built from an Arrow table, the frame plans as a ``LocalTableScan``:
    collecting from it runs on the driver with no job, and broadcasting it
    starts no Python worker.  ``createDataFrame(list)`` instead
    parallelises a Python RDD (``Scan ExistingRDD``) and every job over it
    launches Python tasks.  The Arrow conversion accepts ``None`` in a
    non-nullable field and a float for an int, so rows are checked with
    PySpark's own type verifier first (same errors as the list path)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    verify = T._make_type_verifier(schema)
    for r in rows:
        verify(r)
    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def match_keys(
    df: DataFrame, keys_df: DataFrame, lead: str, lead_vals: list[Any]
) -> DataFrame:
    """Rows of ``df`` whose key (the columns of ``keys_df``, a small local
    relation) is one of ``keys_df``'s rows; ``lead_vals`` are the distinct
    values of its ``lead`` column.

    ``lead IN (lead_vals)`` reaches every parquet scan's PushedFilters
    (row-group min/max pruning), also under a merge-on-read latest-per-key
    window, which partitions by the key.  It alone is exact for a single
    key column; composite keys, and more than ``_MAX_IN_LIST`` lead values
    (no IN-list then), are made exact by a broadcast left-semi join
    against ``keys_df``."""
    small = len(lead_vals) <= _MAX_IN_LIST
    if small:
        df = df.filter(F.col(lead).isin(lead_vals))
        if keys_df.columns == [lead]:
            return df
    return df.join(F.broadcast(keys_df), on=keys_df.columns, how="left_semi")


class LakeTable:
    # ---------------------------------------------------------------- setup

    def __init__(self, spark: SparkSession, path: str, snapshot: dict[str, Any]):
        self.spark = spark
        self.path = path
        self.snapshot = snapshot

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        payload_schema: T.StructType,
        primary_key: tuple[str, ...] = ("conv_id", "turn_idx"),
        bucket_keys: tuple[str, ...] | None = None,
        num_buckets: int = 16,
        files_per_bucket: int = 1,
        payload_key_map: dict[str, str] | None = None,
        write_mode: str = "cow",
        sort_within_buckets: bool = False,
        allow_reserved: tuple[str, ...] = (),
    ) -> "LakeTable":
        """Create an empty table. Physical schema = payload + meta columns.

        ``write_mode`` picks the default merge strategy (overridable
        per-merge): ``"cow"`` (copy-on-write — rewrite touched buckets,
        read is a plain scan) or ``"mor"`` (merge-on-read — each merge
        appends a bucket-aligned DELTA manifest, O(batch) write I/O;
        reads reduce base+deltas per key until ``compact_deltas`` folds
        them — Iceberg v2 ``write.merge.mode`` semantics).

        ``bucket_keys`` defaults to the primary key: with bucket =
        pmod(murmur3(pk), num_buckets), the merge's per-pk reduce exchange is
        ALSO the layout exchange (see module docstring) — one shuffle per
        merge.  Pass an explicit prefix (e.g. ("conv_id",)) to co-locate
        conversations instead; merges then pay one extra layout exchange.

        ``files_per_bucket`` > 1 spreads each bucket's commit output across
        that many reducer partitions (aligned case) or via a pk-hash write
        salt (explicit-repartition case): smooths the write stage when a
        hot bucket would otherwise straggle one task.  Read path is
        unaffected (the manifest lists every file per bucket).

        ``sort_within_buckets`` (Iceberg sort-order analog) sorts each
        writer task's rows by the bucket keys before writing: per-file
        key min/max ranges become tight, so ``lookup`` prunes FILES inside
        a bucket (not just buckets) and parquet row-group stats prune
        inside files.  Costs one in-memory sort per write task on the
        write path — off by default.

        ``allow_reserved`` exempts the named columns from the reserved-name
        guard — for ENGINE-OWNED append-only envelope tables (the raw
        table stores the CDC ``op`` verbatim); user tables should never
        pass it."""
        _check_payload_names(payload_schema, allow=set(allow_reserved))
        os.makedirs(os.path.join(path, _META_DIR), exist_ok=False)
        physical = with_meta_columns(payload_schema)
        snapshot = {
            "version": 0,
            "parent": None,
            "operation": "create",
            "schemas": {"0": json.loads(physical.json())},
            "current_schema_id": 0,
            "payload_columns": [f.name for f in payload_schema.fields],
            "num_buckets": num_buckets,
            "files_per_bucket": max(1, files_per_bucket),
            "bucket_keys": list(bucket_keys or primary_key),
            "primary_key": list(primary_key),
            "write_mode": write_mode,
            "sort_within_buckets": bool(sort_within_buckets),
            "manifests": [],
            "deltas": [],
            "applied": {},
            "applied_lsn_high": None,
            "lineage": [],
            "payload_key_map": dict(payload_key_map or {}),
        }
        t = LakeTable(spark, path, snapshot)
        t._write_snapshot(snapshot)
        return t

    @staticmethod
    def load(
        spark: SparkSession,
        path: str,
        version: int | None = None,
        tag: str | None = None,
    ) -> "LakeTable":
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            tags = LakeTable._read_tags(path)
            if tag not in tags:
                raise ValueError(
                    f"unknown tag {tag!r} on table {path!r} "
                    f"(have: {sorted(tags)})"
                )
            version = tags[tag]
            if not os.path.exists(
                os.path.join(path, _META_DIR, f"snap-v{version}.json")
            ):
                # dangling tag (descriptor removed by an older build's
                # abandon_staged ordering) — name the tag, don't surface a
                # bare FileNotFoundError; expire_snapshots self-heals these
                raise ValueError(
                    f"tag {tag!r} points at version {version}, whose "
                    "snapshot descriptor no longer exists (dangling tag — "
                    "drop_tag() it or run expire_snapshots())"
                )
        if version is None:
            with open(os.path.join(path, _META_DIR, _VERSION_FILE)) as f:
                version = int(f.read().strip())
        with open(os.path.join(path, _META_DIR, f"snap-v{version}.json")) as f:
            snap = json.load(f)
        if "manifests" not in snap:
            # pre-manifest snapshot layout (flat "files" list): unsupported —
            # fail loudly at load instead of KeyError on first read/write
            raise ValueError(
                f"table at {path!r} uses the legacy flat-'files' snapshot "
                "layout (pre-manifest format); re-create it or re-ingest — "
                "this engine reads only sharded-manifest snapshots"
            )
        return LakeTable(spark, path, snap)

    # ------------------------------------------------------------------ tags

    @staticmethod
    def _read_tags(path: str) -> dict[str, int]:
        p = os.path.join(path, _META_DIR, _TAGS_FILE)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def tags(self) -> dict[str, int]:
        """Named snapshot pins (Iceberg tag analog): tag → version."""
        return self._read_tags(self.path)

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: the loaded one) under ``name``.  A
        tagged snapshot is RETAINED by ``expire_snapshots`` regardless of
        ``retain_last`` — the Iceberg tag semantic: audits, training-set
        releases, and rollback points survive routine expiry.  Re-tagging
        an existing name moves it (last write wins; atomic replace)."""
        v = self.version if version is None else int(version)
        snap_file = os.path.join(self.path, _META_DIR, f"snap-v{v}.json")
        if not os.path.exists(snap_file):
            raise ValueError(f"cannot tag: version {v} does not exist")
        tags = self._read_tags(self.path)
        tags[name] = v
        self._write_tags(tags)
        return v

    def drop_tag(self, name: str) -> None:
        tags = self._read_tags(self.path)
        if name in tags:
            del tags[name]
            self._write_tags(tags)

    def rollback(self, version: int | None = None, tag: str | None = None) -> int:
        """Restore the table's CURRENT state to an earlier snapshot by
        committing a NEW head that is a metadata-only copy of the target
        (no data I/O — files are carried by reference, exactly like a
        merge's untouched-file carryover).  Iceberg ``rollback_to_snapshot``
        semantics (`IcebergConsumer.java:210-224` maintenance family) with
        LINEAR history: the rolled-past versions stay readable for audit /
        time travel until expired, and the optimistic-commit protocol is
        untouched because no version number is ever reused.

        State semantics: the new head carries the target's applied-batch
        manifest and ``applied_lsn_high``, so batches that landed AFTER the
        target are no longer marked applied — replaying them (the normal
        recovery move after a rollback) is accepted, not skipped.

        Returns the new head version."""
        if (version is None) == (tag is None):
            raise ValueError("pass exactly one of version / tag")
        if tag is not None:
            tags = self._read_tags(self.path)
            if tag not in tags:
                raise ValueError(
                    f"unknown tag {tag!r} on table {self.path!r} "
                    f"(have: {sorted(tags)})"
                )
            version = tags[tag]
        version = int(version)
        if version == self.version:
            return self.version
        if version > self.version:
            raise ValueError(
                f"cannot roll back FORWARD: target v{version} is newer "
                f"than the loaded head v{self.version}"
            )
        snap_file = os.path.join(self.path, _META_DIR, f"snap-v{version}.json")
        if not os.path.exists(snap_file):
            raise ValueError(
                f"cannot roll back: version {version} does not exist "
                "(already expired?)"
            )
        with open(snap_file) as f:
            target = json.load(f)
        # reuse _next_snapshot's optimistic fail-fast, then graft the
        # target's full content onto the new head
        head = self._next_snapshot("rollback")
        snap = json.loads(json.dumps(target))
        snap["parent"] = head["parent"]
        snap["version"] = head["version"]
        snap["operation"] = "rollback"
        snap["rollback_of"] = version
        snap["lineage"] = []
        # lsn_high_ever is MONOTONIC across the whole table lifetime, not
        # part of the restored state: the rolled-past commits' LSNs were
        # already emitted to read_since/changes_since consumers, so a
        # post-rollback delete_where must never mint them again.  Grafting
        # the target's (older, lower) watermark verbatim would regress it.
        prev = self.snapshot.get("lsn_high_ever")
        if prev is not None:
            tgt = snap.get("lsn_high_ever")
            snap["lsn_high_ever"] = prev if tgt is None else max(prev, tgt)
        self._commit(snap)
        return snap["version"]

    # ------------------------------------------------------- write-audit-publish

    def publish(self, version: int) -> int:
        """Swing the table pointer to a STAGED snapshot (written by
        ``merge(..., publish=False)``) — the commit half of the Iceberg
        write-audit-publish pattern (``spark.wap.id`` + cherrypick): data
        and snapshot metadata are already durable, so publish is one
        atomic pointer replace, after the audit has read the staged
        version via ``load(version=...)`` / ``audit()``.

        Refuses if the table moved since the stage was cut (the staged
        snapshot's parent is no longer current) — same optimistic rule as
        every commit."""
        snap_file = os.path.join(self.path, _META_DIR, f"snap-v{version}.json")
        if not os.path.exists(snap_file):
            raise ValueError(f"no staged snapshot v{version}")
        with open(snap_file) as f:
            snap = json.load(f)
        with open(os.path.join(self.path, _META_DIR, _VERSION_FILE)) as f:
            current = int(f.read().strip())
        if version <= current:
            raise ValueError(f"v{version} is already published (head v{current})")
        if snap["parent"] != current:
            raise ConcurrentCommitError(
                f"staged v{version} was cut against v{snap['parent']} but the "
                f"table is at v{current} — abandon and re-stage"
            )
        self._swing_pointer(version)
        self.snapshot = snap
        return version

    def abandon_staged(self, version: int) -> dict[str, int]:
        """Delete a staged snapshot that failed its audit: remove the data
        files and manifest shards THIS stage wrote (anything not referenced
        by its parent), then its snapshot descriptor.  The published chain
        is untouched."""
        meta = os.path.join(self.path, _META_DIR)
        snap_file = os.path.join(meta, f"snap-v{version}.json")
        if not os.path.exists(snap_file):
            raise ValueError(f"no staged snapshot v{version}")
        with open(snap_file) as f:
            snap = json.load(f)
        with open(os.path.join(meta, _VERSION_FILE)) as f:
            current = int(f.read().strip())
        if version <= current:
            raise ValueError(
                f"v{version} is published (head v{current}) — use rollback, "
                "not abandon"
            )
        parent_file = os.path.join(meta, f"snap-v{snap['parent']}.json")
        with open(parent_file) as f:
            parent = json.load(f)
        keep_manifests = {
            r["path"] for r in parent.get("manifests", []) + parent.get("deltas", [])
        }
        keep_files: set[str] = set()
        for ref in parent.get("manifests", []) + parent.get("deltas", []):
            keep_files.update(e["path"] for e in self._load_manifest(ref))
        removed_files = removed_manifests = 0
        for ref in snap.get("manifests", []) + snap.get("deltas", []):
            if ref["path"] in keep_manifests:
                continue
            for e in self._load_manifest(ref):
                if e["path"] not in keep_files:
                    full = os.path.join(self.path, e["path"])
                    if os.path.exists(full):
                        os.remove(full)
                        removed_files += 1
            full = os.path.join(self.path, ref["path"])
            if os.path.exists(full):
                os.remove(full)
                removed_manifests += 1
        # a stage's entire output lives under its own data/v<N> commit dir
        # (parent files are carried by reference from OTHER version dirs) —
        # drop the tree so re-staging the corrected batch can reuse the
        # version number without a PATH_ALREADY_EXISTS collision
        commit_dir = os.path.join(self.path, _DATA_DIR, f"v{version}")
        shutil.rmtree(commit_dir, ignore_errors=True)
        # drop any tag pinned to the abandoned version BEFORE removing the
        # descriptor: a dangling tag would make expire_snapshots (which
        # retains tagged versions and then opens their descriptors) and
        # load(tag=...) fail forever after.  Ordering matters — a crash
        # between the two steps must leave a tag-less descriptor (harmless,
        # re-abandonable), never a descriptor-less tag (expire_snapshots
        # additionally self-heals any tag left dangling by older builds).
        tags = self._read_tags(self.path)
        dangling = [n for n, v in tags.items() if v == version]
        if dangling:
            for n in dangling:
                del tags[n]
            self._write_tags(tags)
        os.remove(snap_file)
        self._manifest_cache = {}
        return {"removed_files": removed_files, "removed_manifests": removed_manifests}

    def audit(self, version: int | None = None) -> dict[str, Any]:
        """Audit a (typically staged) version: visible row count,
        primary-key duplicate count, NULL-pk rows, and the visible-row
        delta vs the snapshot's parent.  The read half of
        write-audit-publish — one aggregation over the audited version
        plus one count over its parent."""
        from functools import reduce

        t = LakeTable.load(self.spark, self.path, version=version)
        pk = [F.col(k) for k in t.primary_key]
        row = (
            t.read()
            .agg(
                F.count(F.lit(1)).alias("rows"),
                (F.count(F.lit(1)) - F.count_distinct(*pk)).alias("pk_dups"),
                F.sum(
                    F.when(
                        reduce(lambda a, b: a | b, [p.isNull() for p in pk]),
                        1,
                    ).otherwise(0)
                ).alias("null_pk_rows"),
            )
            .first()
        )
        parent_v = t.snapshot.get("parent")
        parent_rows = None
        if parent_v is not None:
            pfile = os.path.join(self.path, _META_DIR, f"snap-v{parent_v}.json")
            if os.path.exists(pfile):
                parent_rows = (
                    LakeTable.load(self.spark, self.path, version=parent_v)
                    .read()
                    .count()
                )
        return {
            "version": t.version,
            "rows": row["rows"],
            "pk_dups": row["pk_dups"],
            "null_pk_rows": int(row["null_pk_rows"] or 0),
            "parent_rows": parent_rows,
            "row_delta": None if parent_rows is None else row["rows"] - parent_rows,
        }

    def _write_tags(self, tags: dict[str, int]) -> None:
        meta = os.path.join(self.path, _META_DIR)
        tmp = os.path.join(meta, f".TAGS.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(tags, f, indent=1)
        os.replace(tmp, os.path.join(meta, _TAGS_FILE))

    # ---------------------------------------------------- manifest resolution

    def _load_manifest(self, ref: dict[str, Any]) -> list[dict[str, Any]]:
        cache = getattr(self, "_manifest_cache", None)
        if cache is None:
            cache = self._manifest_cache = {}
        if ref["path"] not in cache:
            with open(os.path.join(self.path, ref["path"])) as f:
                cache[ref["path"]] = json.load(f)
        return cache[ref["path"]]

    def live_files(self, buckets: set[int] | None = None) -> list[dict[str, Any]]:
        """File entries live in this snapshot, optionally restricted to
        ``buckets``.  Loads only the manifest shards whose live-bucket set
        intersects the request (manifest-level pruning)."""
        out: list[dict[str, Any]] = []
        for ref in self.snapshot["manifests"]:
            live = set(ref["live_buckets"])
            want = live if buckets is None else (live & set(buckets))
            if not want:
                continue
            out += [e for e in self._load_manifest(ref) if e["bucket"] in want]
        return out

    def live_delta_files(self, buckets: set[int] | None = None) -> list[dict[str, Any]]:
        """Delta-manifest file entries (merge-on-read commits not yet folded
        into the base by ``compact_deltas``), same pruning as live_files."""
        out: list[dict[str, Any]] = []
        for ref in self.delta_refs:
            live = set(ref["live_buckets"])
            want = live if buckets is None else (live & set(buckets))
            if not want:
                continue
            out += [e for e in self._load_manifest(ref) if e["bucket"] in want]
        return out

    def _write_manifest(
        self, entries: list[dict[str, Any]], version: int
    ) -> dict[str, Any]:
        """Write one immutable manifest shard + return its snapshot ref
        (live buckets + per-bucket [files, rows, bytes] rollups)."""
        name = f"manifest-v{version}-{uuid.uuid4().hex[:8]}.json"
        rel = os.path.join(_META_DIR, name)
        with open(os.path.join(self.path, rel), "w") as f:
            json.dump(entries, f)
        by_bucket: dict[str, list[int]] = {}
        for e in entries:
            s = by_bucket.setdefault(str(e["bucket"]), [0, 0, 0])
            s[0] += 1
            s[1] += int(e.get("rows", 0))
            s[2] += int(e.get("bytes", 0))
        return {
            "path": rel,
            "live_buckets": sorted({e["bucket"] for e in entries}),
            "by_bucket": by_bucket,
        }

    @staticmethod
    def _drop_buckets(ref: dict[str, Any], dead: set[int]) -> dict[str, Any] | None:
        """Ref minus buckets (manifest shard untouched); None if empty."""
        live = [b for b in ref["live_buckets"] if b not in dead]
        if not live:
            return None
        return {
            "path": ref["path"],
            "live_buckets": live,
            "by_bucket": {str(b): ref["by_bucket"][str(b)] for b in live},
        }

    def _ref_files(self, refs: list[dict[str, Any]]) -> int:
        return sum(s[0] for r in refs for s in r["by_bucket"].values())

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, _META_DIR, _VERSION_FILE))

    # ------------------------------------------------------------ properties

    @property
    def version(self) -> int:
        return self.snapshot["version"]

    @property
    def num_buckets(self) -> int:
        return self.snapshot["num_buckets"]

    @property
    def primary_key(self) -> list[str]:
        return self.snapshot["primary_key"]

    @property
    def payload_columns(self) -> list[str]:
        return self.snapshot["payload_columns"]

    @property
    def write_mode(self) -> str:
        return self.snapshot.get("write_mode", "cow")

    @property
    def delta_refs(self) -> list[dict[str, Any]]:
        return self.snapshot.get("deltas", [])

    def schema(self, schema_id: int | None = None) -> T.StructType:
        sid = self.snapshot["current_schema_id"] if schema_id is None else schema_id
        return T.StructType.fromJson(self.snapshot["schemas"][str(sid)])

    def last_committed_batch(self, query_id: str) -> int:
        return int(self.snapshot["applied"].get(query_id, -1))

    def stats(self) -> dict[str, Any]:
        """Table-size estimate from snapshot rollups alone — no Spark job,
        no file opens, no manifest-shard reads (row/byte counts are
        recorded at write time).  The pre-sync size estimate the reference
        computes via `pg_relation_size` (A2, `AbstractDbSource.java:
        248-262`)."""
        rows = 0
        bytes_ = 0
        files = 0
        by_bucket: dict[int, int] = {}
        for ref in self.snapshot["manifests"]:
            for b, (n, r, sz) in ref["by_bucket"].items():
                files += n
                rows += r
                bytes_ += sz
                by_bucket[int(b)] = by_bucket.get(int(b), 0) + n
        # merge-on-read deltas roll up separately: delta rows UPPER-BOUND
        # the logical rows they'll net to (superseded/tombstoned rows fold
        # away at compact_deltas) — same estimate semantics as Iceberg's
        # total-records with outstanding equality deletes.  delta_files is
        # what a C8 cadence valve should watch to trigger compaction.
        d_files = d_rows = d_bytes = 0
        for ref in self.delta_refs:
            for _b, (n, r, sz) in ref["by_bucket"].items():
                d_files += n
                d_rows += r
                d_bytes += sz
        return {
            "version": self.version,
            "files": files + d_files,
            "rows": rows + d_rows,
            "bytes": bytes_ + d_bytes,
            "buckets": len(by_bucket),
            "max_files_per_bucket": max(by_bucket.values(), default=0),
            "delta_files": d_files,
            "delta_rows": d_rows,
            "delta_bytes": d_bytes,
        }

    def _max_live_lsn(self) -> int:
        """Max ``_lsn`` across live rows (base + deltas), from manifest
        file stats when every entry carries them (zero I/O), else one
        column-pruned scan (pre-stats manifests).  Shared by
        ``changes_since`` (the old-version cursor) and ``delete_where``
        (the tombstone LSN base) so the stats-fold-else-scan logic cannot
        fork."""
        highs = [
            e.get("lsn_max")
            for e in self.live_files() + self.live_delta_files()
        ]
        if highs and all(h is not None for h in highs):
            return int(max(highs))
        return int(
            self.read(include_deleted=True, include_meta=True)
            .agg(F.max("_lsn"))
            .first()[0]
            or 0
        )

    def applied_lsn_high_watermark(self) -> int | None:
        """Highest lsn ever applied, persisted cumulatively in the snapshot
        (carried forward by every commit — a compact/evolve/gc commit in
        between no longer blinds the C7 stale-offset guard, which it did
        when this was derived from the last commit's lineage only)."""
        return self.snapshot.get("applied_lsn_high")

    def history(self) -> list[dict[str, Any]]:
        out = []
        for name in sorted(os.listdir(os.path.join(self.path, _META_DIR))):
            if name.startswith("snap-v") and name.endswith(".json"):
                with open(os.path.join(self.path, _META_DIR, name)) as f:
                    s = json.load(f)
                out.append(
                    {
                        "version": s["version"],
                        "operation": s["operation"],
                        "files": sum(
                            st[0]
                            for ref in s.get("manifests", [])
                            for st in ref["by_bucket"].values()
                        ),
                        "delta_files": sum(
                            st[0]
                            for ref in s.get("deltas", [])
                            for st in ref["by_bucket"].values()
                        ),
                        "applied": s.get("applied", {}),
                        # A1: per-source-partition lineage of THIS commit
                        # (merge commits only; empty for compact/evolve/gc)
                        "lineage": s.get("lineage", []),
                    }
                )
        return sorted(out, key=lambda s: s["version"])

    # ---------------------------------------------------------------- read

    def bucket_expr(self, df: DataFrame, num_buckets: int | None = None) -> F.Column:
        """Deterministic bucket of the bucket keys — a pure function of the
        key, so it never needs storing and readers can recompute it.

        Uses ``F.hash`` (Murmur3, seed 42) — the SAME hash Spark's
        HashPartitioning uses — over exactly the columns the merge reduce
        partitions by (xxhash64 sort-prefix first, then the keys; see
        operators/dedupe.py): when bucket_keys == the primary key and
        shuffle partitions P divides num_buckets, reducer partition p
        contains exactly the whole buckets b ≡ p (mod P) (when P is a
        multiple of num_buckets, exactly bucket p % num_buckets) and the
        merge's reduce exchange doubles as the file-layout exchange.

        ``num_buckets`` overrides the committed layout — used by
        ``rebucket`` to hash into the NEW layout while the table still
        reads the old one."""
        keys = [F.col(k) for k in self.snapshot["bucket_keys"]]
        n = self.num_buckets if num_buckets is None else num_buckets
        return F.pmod(F.hash(F.xxhash64(*keys), *keys), F.lit(n)).cast("int")

    def _align(self, df: DataFrame, target: T.StructType) -> DataFrame:
        src = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for fld in target.fields:
            if fld.name in src:
                cols.append(
                    _align_expr(F.col(fld.name), src[fld.name], fld.dataType).alias(
                        fld.name
                    )
                )
            else:
                cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
        return df.select(*cols)

    def _read_files(self, files: list[dict[str, Any]]) -> DataFrame:
        """Read a file set, grouping by schema id (schema evolution).

        The manifest names every file, and the table lives on the local
        filesystem (``_write_data`` creates and walks its directories with
        ``os``), so ``read_parquet`` checks each file with one driver-side
        ``stat`` and no listing job runs, however many files a merge-on-read
        fold names.  Files at the current schema are returned as read;
        only older schema ids are projected onto it."""
        target = self.schema()
        if not files:
            return local_frame(self.spark, [], target)
        cur = int(self.snapshot["current_schema_id"])
        by_schema: dict[int, list[str]] = {}
        for fl in files:
            by_schema.setdefault(int(fl.get("schema_id", 0)), []).append(
                os.path.join(self.path, fl["path"])
            )
        parts: list[DataFrame] = []
        for sid, paths in by_schema.items():
            raw = read_parquet(self.spark, self.schema(sid), paths)
            parts.append(raw if sid == cur else self._align(raw, target))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self,
        include_deleted: bool = False,
        include_meta: bool = False,
        buckets: list[int] | None = None,
        file_filter: Callable[[dict[str, Any]], bool] | None = None,
    ) -> DataFrame:
        """Current snapshot as a DataFrame.  ``buckets`` prunes manifest
        shards AND data files before Spark ever lists them (the
        manifest-level pruning Iceberg does with partition stats).
        ``file_filter`` additionally drops individual manifest entries
        (lookup's key-range pruning) — callers must only prune files that
        provably contain no qualifying KEY, so the per-key latest fold
        over base ∪ deltas stays exact.

        With outstanding merge-on-read deltas the scan is followed by ONE
        latest-per-key reduce over base ∪ deltas (greatest (_lsn,
        _deleted) wins — identical tie rule to the CoW merge, so the two
        write modes are read-equivalent by construction).  With no deltas
        (all-CoW, or post-``compact_deltas``) the plan is the plain scan
        it always was — zero read amplification."""
        want = None if buckets is None else set(buckets)
        base_files = self.live_files(want)
        delta_files = self.live_delta_files(want)
        if file_filter is not None:
            base_files = [e for e in base_files if file_filter(e)]
            delta_files = [e for e in delta_files if file_filter(e)]
        df = self._read_files(base_files)
        if delta_files:
            df = latest_per_key(
                df.unionByName(self._read_files(delta_files)),
                self.primary_key,
                order_col="_lsn",
                delete_col="_deleted",
            )
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        if not include_meta:
            df = df.select(*self.payload_columns)
        return df

    def read_since(self, cursor: int, include_meta: bool = False) -> DataFrame:
        """Incremental export: every key whose CURRENT winning version has
        ``_lsn > cursor`` — upserts AND tombstones (``_deleted`` tells the
        consumer which), the feed a downstream incremental sync consumes
        (reference cursor-read semantics, `source-relational-db` S2, turned
        outward at the sink).

        Files are SKIPPED by the per-file ``_lsn`` min/max recorded in the
        manifests at write time (Iceberg lower/upper-bounds pruning): a
        file whose lsn_max ≤ cursor cannot contain a qualifying winner —
        any row in it is either an old version of a key that was re-written
        later (the winner lives in a kept file, since winners carry the
        key's MAX lsn) or the winner of a key that didn't change (filtered
        by the post-scan predicate anyway).  The same argument makes the
        fold-over-pruned-subset correct with outstanding merge-on-read
        deltas: pruned rows all have lsn ≤ cursor and can never beat a
        qualifying winner.  At a 100-TB table with a daily export cursor,
        this reads only the buckets' recent commits — O(changed data), not
        O(table).

        Output columns: payload + ``_lsn`` + ``_deleted`` (everything with
        ``include_meta=True``)."""

        def keep(e: dict[str, Any]) -> bool:
            mx = e.get("lsn_max")
            return mx is None or mx > cursor

        files = [e for e in self.live_files() if keep(e)]
        df = self._read_files(files)
        deltas = [e for e in self.live_delta_files() if keep(e)]
        if deltas:
            df = df.unionByName(self._read_files(deltas))
        if self.delta_refs:
            df = latest_per_key(
                df, self.primary_key, order_col="_lsn", delete_col="_deleted"
            )
        out = df.filter(F.col("_lsn") > F.lit(int(cursor)))
        if include_meta:
            return out
        return out.select(
            *self.payload_columns,
            F.col("_lsn"),
            F.coalesce(F.col("_deleted"), F.lit(False)).alias("_deleted"),
        )

    def lookup(
        self,
        keys: list[Any],
        columns: tuple[str, ...] | None = None,
        include_meta: bool = False,
    ) -> DataFrame:
        """Point lookup: current state of specific keys — the CDC serving
        query ("fetch conversation X now"), the read the reference serves
        from the warehouse final table after T+D.  Prunes the manifest to
        the O(|keys|) buckets the keys hash into BEFORE Spark lists a
        single file (the Iceberg bucket-transform predicate-pushdown
        analog): the keys become a local relation (``local_frame``) and
        their bucket ids are computed from it with the SAME pure
        expression the layout uses (``bucket_expr``, so Python never
        re-implements Murmur3) — evaluated on the driver, no job.  The
        pruned scan is then key-filtered by ``match_keys``: a
        leading-key IN-list pushed to every parquet scan, plus a broadcast
        semi-join against the local relation for composite or large key
        sets.  No Python worker runs.  Cost is O(touched buckets), never
        O(table) — at a 100-TB table a single-conversation fetch reads one
        bucket (~1/num_buckets of the data), and a bucket layout keyed on
        ``("conv_id",)`` makes it one conversation-co-located slice.

        ``columns`` names what each entry of ``keys`` holds (scalars for
        one column, tuples for several); defaults to the table's
        bucket_keys.  It must cover every bucket key — otherwise the
        bucket is not computable and the caller should read()+filter.
        Key values are checked against the column types (PySpark's type
        verifier: no ``None``, no float for an int).  MoR deltas fold
        exactly as in ``read()``: pruning happens on both base and delta
        manifests, the per-key reduce only sees the pruned buckets."""
        cols = list(columns or self.snapshot["bucket_keys"])
        missing = [k for k in self.snapshot["bucket_keys"] if k not in cols]
        if missing:
            raise ValueError(
                f"lookup columns {cols} do not cover bucket keys "
                f"{self.snapshot['bucket_keys']} (missing {missing}) — "
                "bucket pruning impossible; use read() with a filter"
            )
        if not keys:
            return self.read(include_meta=include_meta, buckets=[])
        rows = [tuple(k) if isinstance(k, (tuple, list)) else (k,) for k in keys]
        if any(len(r) != len(cols) for r in rows):
            raise ValueError(f"every key must have {len(cols)} values: {cols}")
        by_name = {f.name: f.dataType for f in self.schema().fields}
        key_schema = T.StructType(
            [T.StructField(c, by_name[c], False) for c in cols]
        )
        keys_df = local_frame(self.spark, rows, key_schema)
        # dedupe driver-side (|keys| is driver-bounded by construction),
        # never .distinct() a literal frame
        buckets = sorted(
            {
                r[0]
                for r in keys_df.select(
                    self.bucket_expr(keys_df).alias("b")
                ).collect()
            }
        )
        # in-bucket FILE pruning by the manifests' per-file key min/max
        # (recorded at write time; tight ranges under sort_within_buckets):
        # a file whose [key_min, key_max] covers none of the looked-up
        # leading-key values provably holds no row for them
        lead = self.snapshot["bucket_keys"][0]
        lead_vals = sorted({r[cols.index(lead)] for r in rows})

        def file_filter(e: dict[str, Any]) -> bool:
            lo, hi = e.get("key_min"), e.get("key_max")
            if lo is None or hi is None:
                return True  # no stats recorded — never prune blind
            return any(lo <= v <= hi for v in lead_vals)

        df = self.read(include_meta=True, buckets=buckets, file_filter=file_filter)
        df = match_keys(df, keys_df, lead, lead_vals)
        if not include_meta:
            df = df.select(*self.payload_columns)
        return df

    def changes_since(
        self, version: int, broadcast_threshold_rows: int = 10_000_000
    ) -> DataFrame:
        """CDC turned outward: the NET changes between snapshot ``version``
        and this table's loaded version, classified ``change_op`` ∈
        {'i','u','d'} — the Iceberg changelog-scan analog, what a
        downstream replica applies to catch up (reference semantics: the
        same insert/update/delete stream the engine consumes, re-emitted
        from the sink).

        Key present now but not live at ``version`` → 'i'; live at both →
        'u' (a newer winning version exists — value equality is not
        checked, matching CDC semantics); tombstoned now but live then →
        'd'.  A key created AND deleted between the two versions nets to
        nothing and is not emitted.

        Scale shape: the cursor is the old version's high `_lsn`, read
        from manifest rollups when available (zero I/O); candidates come
        from ``read_since`` (file-skipped, O(changed data)) and are
        persisted once so the two consumers below don't rescan.  The
        changed-row count is BOUNDED FIRST from the same manifest rollups
        (sum of rows over files with lsn_max > cursor — zero I/O): under
        ``broadcast_threshold_rows`` the changed-key set broadcasts and
        the big sides never cross an exchange (the frequent-sync path);
        above it — a replica catching up across a wide version gap, where
        a forced broadcast would OOM the driver — both joins fall back to
        shuffled pk-joins, which is the right plan when "changed" is
        itself big data.  Either way the old-version liveness scan is
        pruned to the BUCKETS the kept files touch (same derivation as
        ``lookup``) whenever the two versions share a bucket layout."""
        old = LakeTable.load(self.spark, self.path, version=version)
        cursor = old._max_live_lsn()
        pk = self.primary_key

        # manifest-only upper bound on |changed| + the buckets it lives in
        kept = [
            e
            for e in self.live_files() + self.live_delta_files()
            if e.get("lsn_max") is None or e["lsn_max"] > cursor
        ]
        stats_known = all(
            e.get("lsn_max") is not None and e.get("rows") is not None
            for e in kept
        )
        est_changed = sum(int(e.get("rows") or 0) for e in kept)
        small = stats_known and est_changed <= broadcast_threshold_rows
        same_layout = old.snapshot["num_buckets"] == self.snapshot[
            "num_buckets"
        ] and list(old.snapshot["bucket_keys"]) == list(
            self.snapshot["bucket_keys"]
        )
        touched = (
            sorted({e["bucket"] for e in kept})
            if same_layout and all(e.get("bucket") is not None for e in kept)
            else None
        )

        # persist once (two consumers below); the handle is kept on the
        # instance and the PREVIOUS call's cache is released here, so a
        # long-running sync driver calling changes_since per cycle holds at
        # most one cached changed-set at a time instead of leaking one per
        # call until spark.stop()
        prev = getattr(self, "_changes_cache", None)
        if prev is not None:
            prev.unpersist()
        changed = self.read_since(cursor).persist(StorageLevel.MEMORY_AND_DISK)
        self._changes_cache = changed
        old_pk = old.read(buckets=touched).select(*pk)
        if small:
            was_live = (
                old_pk.join(
                    F.broadcast(changed.select(*pk)), on=pk, how="leftsemi"
                ).withColumn("_was_live", F.lit(True))
            )
            out = changed.join(F.broadcast(was_live), on=pk, how="left")
        else:
            # sort-merge hints: arbitrary-size inputs with spill, never a
            # planner-estimated broadcast of a set we KNOW is big (AQE may
            # still downgrade to broadcast at runtime from ACTUAL sizes,
            # which is safe — it respects the autoBroadcast threshold)
            was_live = old_pk.join(
                changed.select(*pk).hint("merge"), on=pk, how="leftsemi"
            ).withColumn("_was_live", F.lit(True))
            out = changed.join(was_live.hint("merge"), on=pk, how="left")
        live_before = F.coalesce(F.col("_was_live"), F.lit(False))
        return (
            out.withColumn(
                "change_op",
                F.when(F.col("_deleted") & live_before, F.lit("d"))
                .when(~F.col("_deleted") & live_before, F.lit("u"))
                .when(~F.col("_deleted") & ~live_before, F.lit("i")),
            )
            # created-then-deleted between versions: no net change
            .filter(F.col("change_op").isNotNull())
            .drop("_was_live", "_deleted")
        )

    def apply_changes(
        self,
        feed: DataFrame,
        batch_id: int | None = None,
        query_id: str = "replica",
    ) -> MergeResult:
        """The replica half of the changelog: apply a ``changes_since``
        feed (payload + ``_lsn`` + ``change_op``) as a CDC batch.
        ``change_op`` 'i'/'u' upsert and 'd' deletes; the primary's
        winning ``_lsn`` rides along as the event lsn, so replication is
        idempotent and order-independent exactly like the primary's own
        merges (re-applying a feed, or applying two overlapping feeds,
        converges to the same state).  Chain `primary.changes_since(v)` →
        `replica.apply_changes(...)` to keep a downstream copy in sync
        reading only O(changed data) — never the primary's full table."""
        ev = feed.withColumnsRenamed({"change_op": "op", "_lsn": "lsn"})
        return self.merge(ev, batch_id=batch_id, query_id=query_id)

    def delete_where(
        self,
        condition: str | F.Column,
        batch_id: int | None = None,
        query_id: str = "default",
        extracted_at: datetime | None = None,
    ) -> MergeResult:
        """Predicate delete (retention sweep / GDPR purge; the Iceberg
        ``DELETE FROM`` analog) expressed AS CDC: every CURRENT live row
        matching ``condition`` becomes a tombstone event one LSN above the
        table's high watermark, merged through the normal path.  That
        framing buys everything the merge already guarantees: idempotent
        replay (batch manifest), delete-wins against any in-flight stale
        update at or below the watermark, bucket-pruned rewrite of only
        the touched buckets, and downstream propagation — replicas see
        the purge through ``changes_since``/``read_since`` like any other
        delete.  NULL-predicate rows don't match (SQL semantics) and stay
        live."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        high = self._max_live_lsn()
        # floor at the cumulative ever-written watermark: gc_tombstones can
        # physically drop the highest-LSN tombstones, and deriving the new
        # LSN from surviving FILE stats alone would then re-issue
        # already-consumed LSNs — read_since/changes_since consumers whose
        # cursor passed that LSN would silently miss the new deletes.
        # (applied_lsn_high is also folded in: it can exceed file highs
        # when a merge's winners were later purged and GC'd.)
        high = max(
            int(high),
            int(self.snapshot.get("lsn_high_ever") or 0),
            int(self.applied_lsn_high_watermark() or 0),
        )
        ev = (
            self.read()
            .filter(cond)
            .select(*self.payload_columns)
            .withColumn("lsn", F.lit(int(high) + 1))
            .withColumn("op", F.lit("d"))
        )
        return self.merge(
            ev, batch_id=batch_id, query_id=query_id, extracted_at=extracted_at
        )

    # ---------------------------------------------------------------- write

    def _commit(self, snapshot: dict[str, Any]) -> None:
        """Atomic commit: write the immutable snapshot file, then atomically
        swing the VERSION pointer (os.replace).  Optimistic concurrency:
        refuse if VERSION moved since this snapshot was loaded (single-writer
        per stream, like the reference's per-stream T+D lock,
        `DefaultTyperDeduper.java:59-69`)."""
        vfile = os.path.join(self.path, _META_DIR, _VERSION_FILE)
        if os.path.exists(vfile):
            with open(vfile) as f:
                current = int(f.read().strip())
            if current != snapshot["parent"]:
                raise ConcurrentCommitError(
                    f"table at v{current}, expected v{snapshot['parent']}"
                )
        self._write_snapshot(snapshot)
        self.snapshot = snapshot

    def _write_snapshot(self, snapshot: dict[str, Any]) -> None:
        self._write_snapshot_file(snapshot)
        self._swing_pointer(snapshot["version"])

    def _write_snapshot_file(self, snapshot: dict[str, Any]) -> None:
        # exclusive create: the descriptor write IS the commit lock for
        # metadata-only commits (rollback, WAP stage) that claim no
        # data/v<N> dir — two writers racing the same version slot cannot
        # both win, mirroring _write_data's os.makedirs claim.  Version
        # numbers are never reused (abandon_staged deletes the file before
        # the slot can be re-staged), so a collision is always a race.
        meta = os.path.join(self.path, _META_DIR)
        path = os.path.join(meta, f"snap-v{snapshot['version']}.json")
        try:
            with open(path, "x") as f:
                json.dump(snapshot, f, indent=1)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot descriptor snap-v{snapshot['version']}.json already "
                "exists — another writer claimed this version slot; reload "
                "and retry"
            ) from None

    def _swing_pointer(self, version: int) -> None:
        meta = os.path.join(self.path, _META_DIR)
        tmp = os.path.join(meta, f".VERSION.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(meta, _VERSION_FILE))

    def _write_data(
        self,
        df: DataFrame,
        snap: dict[str, Any],
        layout_partitioned: bool = False,
    ) -> dict[str, Any]:
        """Write rows (must carry all physical columns) bucketed under
        data/v<version>/, write the commit's manifest shard, and return
        its snapshot ref.

        ``layout_partitioned``: the caller guarantees ``df`` is already
        bucket-clustered (merge's hash-aligned aggregation) — skip the
        layout exchange entirely.  Writes against ``snap`` (not
        self.snapshot) so a failed write never leaves the in-memory table
        on an uncommitted version."""
        version = snap["version"]
        commit_dir = os.path.join(self.path, _DATA_DIR, f"v{version}")
        # layout parameters come from the snapshot being WRITTEN, not the
        # committed one — identical everywhere except rebucket, where snap
        # carries the new layout while self.snapshot still reads the old
        n_buckets = int(snap.get("num_buckets", self.num_buckets))
        out = df.withColumn("bucket", self.bucket_expr(df, n_buckets))
        fpb = int(snap.get("files_per_bucket", 1))
        if not layout_partitioned:
            if fpb > 1:
                # pk-hash write salt: (bucket, salt) spreads a bucket across
                # fpb writer tasks → fpb files per bucket, no straggler on
                # hash collisions or hot buckets
                salt = F.pmod(
                    F.xxhash64(*[F.col(k) for k in self.primary_key]), F.lit(fpb)
                )
                out = (
                    out.withColumn("_wsalt", salt)
                    .repartition(n_buckets * fpb, "bucket", "_wsalt")
                    .drop("_wsalt")
                )
            else:
                # co-locate each bucket into one task → one file per bucket
                out = out.repartition(n_buckets, "bucket")
        if snap.get("sort_within_buckets"):
            # Iceberg sort-order analog: cluster each write task's rows by
            # the bucket keys so per-file (and per-row-group) key ranges
            # are tight — lookup() then prunes files inside a bucket
            out = out.sortWithinPartitions(
                "bucket", *self.snapshot["bucket_keys"]
            )
        # claim the version slot ATOMICALLY before Spark writes: two racing
        # writers can both pass a write-time existence check (the check and
        # the write are not one atomic step), interleave files into the same
        # dir, and the winner's manifest walk would then pick up the loser's
        # files — duplicate keys inside one committed version.  os.mkdir is
        # atomic: exactly one writer owns data/v<N>, the loser gets a
        # ConcurrentCommitError and (via merge_with_retry) re-merges against
        # the new head.  A dir left by a CRASHED attempt also lands here —
        # loudly, never silently appended into.
        try:
            os.makedirs(commit_dir, exist_ok=False)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version slot v{version} already claimed (data dir exists) — "
                "another writer won the slot, or a crashed attempt left it; "
                "reload and retry, or remove the orphaned dir"
            ) from None
        out.write.mode("append").partitionBy("bucket").parquet(commit_dir)
        entries = self._manifest_entries(commit_dir, snap["current_schema_id"])
        # fold the commit's file-level lsn highs into the cumulative
        # ever-written watermark (zero extra I/O — the footer stats were
        # just read).  DISTINCT from applied_lsn_high (which is the C7
        # stale-offset guard and moves ONLY on merge lineage): lsn_high_ever
        # survives every data commit — delete_where, compact, gc_tombstones,
        # rebucket — so LSNs assigned from max(file_high, lsn_high_ever)
        # are never reused even after gc physically drops the highest-LSN
        # tombstones.
        highs = [e["lsn_max"] for e in entries if e.get("lsn_max") is not None]
        if highs:
            prev = snap.get("lsn_high_ever")
            snap["lsn_high_ever"] = max(
                [*highs, prev] if prev is not None else highs
            )
        return self._write_manifest(entries, version)

    def _manifest_entries(self, commit_dir: str, sid: int) -> list[dict[str, Any]]:
        """Enumerate one commit's freshly-written files (bounded by this
        commit's size, not the table's) and record row counts/bytes at write
        time so ``stats()`` never opens a footer.  Footer reads are
        parallelized across a thread pool."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        paths: list[tuple[str, int]] = []
        for root, _dirs, names in os.walk(commit_dir):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                bucket = int(os.path.basename(root).split("=", 1)[1])
                paths.append((os.path.join(root, name), bucket))

        key_col = self.snapshot["bucket_keys"][0]

        def col_range(md, col: str):
            """Fold a column's min/max across row groups (None if any group
            lacks stats) — the Iceberg manifest lower_bounds/upper_bounds
            analog, read once at write time from THIS commit's footers."""
            if not md.num_row_groups:
                return None, None
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.row_group(0).column(i).path_in_schema == col
                ),
                None,
            )
            if idx is None:
                return None, None
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None, None
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                    except UnicodeDecodeError:
                        return None, None
                if not isinstance(mn, (str, int, float)):
                    return None, None  # keep the manifest JSON-serializable
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            return lo, hi

        def entry(item: tuple[str, int]) -> dict[str, Any]:
            full, bucket = item
            md = pq.ParquetFile(full).metadata
            # per-file min/max: _lsn drives read_since()'s file skipping,
            # the leading bucket key drives lookup()'s in-bucket file
            # pruning (tight ranges when sort_within_buckets is on)
            lsn_lo, lsn_hi = col_range(md, "_lsn")
            key_lo, key_hi = col_range(md, key_col)
            return {
                "path": os.path.relpath(full, self.path),
                "bucket": bucket,
                "schema_id": sid,
                "rows": md.num_rows,
                "bytes": os.path.getsize(full),
                "lsn_min": lsn_lo,
                "lsn_max": lsn_hi,
                "key_min": key_lo,
                "key_max": key_hi,
            }

        if len(paths) <= 1:
            return [entry(p) for p in paths]
        with ThreadPoolExecutor(max_workers=min(32, len(paths))) as ex:
            return list(ex.map(entry, paths))

    def _next_snapshot(self, operation: str, **overrides: Any) -> dict[str, Any]:
        # fail fast before any data is written if another writer committed
        # since this snapshot was loaded (the data-dir collision would also
        # stop us, but with a much less useful error)
        vfile = os.path.join(self.path, _META_DIR, _VERSION_FILE)
        if os.path.exists(vfile):
            with open(vfile) as f:
                current = int(f.read().strip())
            if current != self.snapshot["version"]:
                raise ConcurrentCommitError(
                    f"table moved to v{current} since v{self.snapshot['version']} "
                    "was loaded — reload and retry"
                )
        snap = json.loads(json.dumps(self.snapshot))  # deep copy
        snap["parent"] = self.snapshot["version"]
        snap["version"] = self.snapshot["version"] + 1
        snap["operation"] = operation
        snap["lineage"] = []
        snap.update(overrides)
        return snap

    def _finalize_rows(
        self,
        df: DataFrame,
        extracted_at: datetime | None,
        defer_ids: bool = False,
    ) -> DataFrame:
        """CDC-event rows (payload + lsn + op) → physical rows (payload +
        _lsn/_deleted/_raw_id/_extracted_at/_meta).

        ``defer_ids`` leaves _raw_id/_extracted_at NULL so the 64-byte hash
        string isn't shuffled for every event — merge computes them after
        the reduce, only for surviving rows (see ``_fill_ids``)."""
        out = df.withColumn("_lsn", F.col("lsn").cast("long")).withColumn(
            "_deleted",
            (F.col("op") == "d") | F.col("_ab_cdc_deleted_at").isNotNull()
            if "_ab_cdc_deleted_at" in df.columns
            else (F.col("op") == "d"),
        )
        if not defer_ids:
            out = self._fill_ids_cols(out, extracted_at)
        if "_meta" not in out.columns:
            out = out.withColumn(
                "_meta",
                F.struct(F.lit(None).cast(T.ArrayType(T.StringType())).alias("errors")),
            )
        return self._align(out, self.schema())

    def _fill_ids_cols(self, df: DataFrame, extracted_at: datetime | None) -> DataFrame:
        """Compute _raw_id (sha256 of pk + lsn — deterministic, replay-
        stable, `JavaBaseConstants.java:29-39` analog) and _extracted_at,
        preserving already-populated values (rows read back from the
        table keep their original extraction metadata)."""
        ex = extracted_at or datetime.now(timezone.utc)
        rid = F.sha2(
            F.concat_ws(
                "\x1f",
                *[F.col(k).cast("string") for k in self.primary_key],
                F.col("_lsn").cast("string"),
            ),
            256,
        )
        out = df
        if "_raw_id" in df.columns:
            out = out.withColumn("_raw_id", F.coalesce(F.col("_raw_id"), rid))
        else:
            out = out.withColumn("_raw_id", rid)
        if "_extracted_at" in df.columns:
            out = out.withColumn(
                "_extracted_at", F.coalesce(F.col("_extracted_at"), F.lit(ex))
            )
        else:
            out = out.withColumn("_extracted_at", F.lit(ex))
        return out

    # -- append / overwrite (destination_sync_mode append | overwrite) ------

    def append(
        self,
        events_df: DataFrame,
        extracted_at: datetime | None = None,
        batch_id: int | None = None,
        query_id: str = "default",
    ) -> int | None:
        """Raw append — no dedup (destination mode `append`).

        With ``batch_id``, the append is exactly-once per (query_id,
        batch_id) via the same applied-manifest skip the merge uses —
        an append-only RAW table fed from a replayable stream must not
        double-append on batch replay (the merge is naturally idempotent,
        an append is not).  Returns None on a replay skip."""
        if batch_id is not None and batch_id <= self.last_committed_batch(query_id):
            return None
        rows = self._finalize_rows(events_df, extracted_at)
        snap = self._next_snapshot("append")
        ref = self._write_data(rows, snap)
        snap["manifests"] = self.snapshot["manifests"] + [ref]
        if batch_id is not None:
            snap["applied"] = {**self.snapshot["applied"], query_id: batch_id}
        self._commit(snap)
        return snap["version"]

    def overwrite(self, events_df: DataFrame, extracted_at: datetime | None = None) -> int:
        """Full replace — the reference's tmp-table + swap (T7,
        `BigQuerySqlGenerator.java:580-589`) collapses to one atomic snapshot
        commit here."""
        rows = self._finalize_rows(events_df, extracted_at)
        snap = self._next_snapshot("overwrite")
        snap["manifests"] = [self._write_data(rows, snap)]
        snap["deltas"] = []
        self._commit(snap)
        return snap["version"]

    # -- merge (destination mode append_dedup: upsert + CDC delete) ---------

    @contextmanager
    def _pinned_layout(self, enabled: bool):
        """Pin the next aggregation's exchange to the bucket layout, AQE
        coalescing off — the partition count is a layout CONTRACT, not a
        sizing hint (AQE re-merging it was observed collapsing 64 → 22
        tasks and with it the reducer↔bucket alignment).

        With one file per bucket the exchange gets
        ``pinned_reducers(num_buckets, defaultParallelism)`` reducers, so
        reducer p holds the whole buckets ≡ p (mod that count) and a small
        batch runs one write task per core, not one per bucket.  With
        ``files_per_bucket`` > 1 it gets num_buckets × files_per_bucket, so
        each bucket spreads over that many reducers and files.  No-op when
        ``enabled`` is False."""
        if not enabled:
            yield
            return
        conf = self.spark.conf
        fpb = int(self.snapshot.get("files_per_bucket", 1))
        reducers = (
            self.num_buckets * fpb
            if fpb > 1
            else pinned_reducers(
                self.num_buckets, self.spark.sparkContext.defaultParallelism
            )
        )
        prev_shuffle = conf.get("spark.sql.shuffle.partitions")
        prev_coalesce = conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        conf.set("spark.sql.shuffle.partitions", str(reducers))
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            yield
        finally:
            conf.set("spark.sql.shuffle.partitions", prev_shuffle)
            conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce)

    def _apply_lineage(self, snap: dict[str, Any], lineage: list[dict[str, Any]]) -> None:
        """Record a merge commit's per-partition lineage (A1) and fold its
        max LSNs into the cumulative applied_lsn_high watermark (C7)."""
        snap["lineage"] = lineage
        highs = [p["max_lsn"] for p in lineage if p.get("max_lsn") is not None]
        if highs:
            # fold, never overwrite: _write_data may already have folded
            # this commit's file-level highs into snap
            prevs = [
                v
                for v in (
                    self.snapshot.get("applied_lsn_high"),
                    snap.get("applied_lsn_high"),
                )
                if v is not None
            ]
            snap["applied_lsn_high"] = max([*highs, *prevs])

    def merge(
        self,
        events_df: DataFrame,
        batch_id: int | None = None,
        query_id: str = "default",
        extracted_at: datetime | None = None,
        lineage: list[dict[str, Any]] | None = None,
        validate_pk: bool = True,
        touched_buckets: list[int] | None = None,
        pin_exchange: bool = True,
        mode: str | None = None,
        publish: bool = True,
    ) -> MergeResult:
        """Apply a batch of CDC events (payload + lsn + op [+ _ab_cdc_*]).

        Pipeline: validate pk → prune to touched buckets → union with
        touched target rows → ONE latest-per-key reduce over (lsn,
        is_delete) (delete wins ties — T5; the reduce happens AFTER
        _finalize_rows computes _deleted, so an equal-lsn delete/upsert
        pair in the same batch resolves to the delete regardless of
        arrival order) → rewrite touched buckets → atomic commit (carrying
        over untouched files + recording batch_id for exactly-once replay
        skip).

        There is no separate pre-reduce: the merge's own reduce
        (``_merged_frame``: WindowGroupLimit top-1 per key on the map
        side, so hot keys collapse before the exchange) IS the
        latest-per-key reduction, and when bucket_keys == the
        primary key its exchange is hash-aligned with the file layout —
        each reducer holds whole buckets (see module docstring and
        ``_pinned_layout``) — so the whole merge shuffles exactly once.

        ``pin_exchange=False`` opts out of the aligned single-exchange
        plan: the reduce runs at the session's shuffle-partition count
        (map-side WindowGroupLimit partial intact) and the write adds an
        explicit layout repartition of the already-reduced rows — two
        exchanges, but ZERO session-conf mutation, so concurrent merges
        into different tables from driver threads cannot clobber each
        other's pinned partition count (GlobalStateIngestJob's
        stream_parallelism path uses this).

        ``mode`` overrides the table's ``write_mode`` for this merge:
        ``"cow"`` is the path described above; ``"mor"`` dispatches to
        the merge-on-read path (``_merge_mor`` — append a bucket-aligned
        delta, no target read).  Modes may be mixed on one table: read()
        folds whatever deltas exist regardless of how base files were
        written."""
        resolved = mode or self.write_mode
        if resolved not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {resolved!r} (cow|mor)")
        if resolved == "mor":
            return self._merge_mor(
                events_df,
                batch_id=batch_id,
                query_id=query_id,
                extracted_at=extracted_at,
                lineage=lineage,
                validate_pk=validate_pk,
                pin_exchange=pin_exchange,
                publish=publish,
            )
        if batch_id is not None and batch_id <= self.last_committed_batch(query_id):
            return MergeResult(version=None, skipped=True)
        if validate_pk:
            validate_primary_keys(events_df, self.primary_key)

        rows = self._finalize_rows(events_df, extracted_at, defer_ids=True)

        if touched_buckets is not None:
            # caller computed them from an already-cached batch (pipeline
            # does) — avoids materializing the reduce twice
            touched = list(touched_buckets)
            cached = None
        else:
            # DISK_ONLY: the deserialized in-memory row cache reads SLOWER
            # than recomputing the plan and serializes under many cores;
            # serialized disk blocks read back in sub-second (measured)
            cached = rows.persist(StorageLevel.DISK_ONLY)
            rows = cached
            touched = [
                r["b"]
                for r in rows.select(self.bucket_expr(rows).alias("b"))
                .distinct()
                .collect()
            ]
        touched_set = set(touched)
        carried = [
            r
            for r in (
                self._drop_buckets(ref, touched_set)
                for ref in self.snapshot["manifests"]
            )
            if r is not None
        ]
        tgt = self._read_files(self.live_files(touched_set))

        pk = self.primary_key
        # ids deferred past the reduce: only surviving rows get the sha256
        # raw id / extraction timestamp (target winners keep their stored
        # values via coalesce) — keeps 64-byte hash strings out of the
        # groupBy shuffle entirely
        merged = self._fill_ids_cols(self._merged_frame(rows, tgt), extracted_at)

        snap = self._next_snapshot("merge")
        # layout alignment (see module docstring): when the bucket keys are
        # exactly the reduce keys, pin the reduce exchange to P reducers
        # (_pinned_layout) — reducer p then holds the whole buckets
        # ≡ p (mod P), so the write needs NO repartition
        aligned = pin_exchange and list(self.snapshot["bucket_keys"]) == list(pk)
        try:
            with self._pinned_layout(aligned):
                new_ref = self._write_data(merged, snap, layout_partitioned=aligned)
        finally:
            if cached is not None:
                cached.unpersist()
        snap["manifests"] = carried + [new_ref]
        if batch_id is not None:
            snap["applied"] = {**self.snapshot["applied"], query_id: batch_id}
        if lineage is not None:
            self._apply_lineage(snap, lineage)
        if publish:
            self._commit(snap)
        else:
            # write-audit-publish: durable snapshot, pointer unmoved —
            # readers keep seeing the parent until publish(version)
            self._write_snapshot_file(snap)
        return MergeResult(
            version=snap["version"],
            touched_buckets=sorted(touched),
            carried_files=self._ref_files(carried),
            written_files=self._ref_files([new_ref]),
            published=publish,
        )

    def merge_with_retry(
        self,
        events_df: DataFrame,
        batch_id: int | None = None,
        query_id: str = "default",
        retries: int = 3,
        **kwargs: Any,
    ) -> MergeResult:
        """``merge`` under multi-writer optimistic concurrency — the
        Iceberg commit-retry loop (`commit.retry.num-retries`) the
        reference approximates with its per-stream T+D lock
        (`DefaultTyperDeduper.java:59-69`).

        Conflicts surface as ``ConcurrentCommitError``, always BEFORE this
        writer's commit becomes visible: the fast pre-check
        (``_next_snapshot``) or the pointer-swing check saw the head move
        (a racing merge, rollback, evolve, or publish); the version-slot
        data-directory claim — ``_write_data`` takes ``data/v<N>`` with an
        atomic ``os.makedirs(exist_ok=False)`` BEFORE Spark writes, so at
        most ONE writer ever owns a version's data dir (the loser's
        ``FileExistsError`` is re-raised as ``ConcurrentCommitError``); and
        the snapshot-descriptor claim — metadata-only commits create
        ``snap-v<N>.json`` with exclusive ``open(..., 'x')``, same rule.
        Recovery is the same everywhere: reload the head snapshot and
        RE-RUN the merge against it — a clean recompute, never a repair,
        because the lsn-max reduce makes merge application
        order-independent (the same property the replay tests assert).
        The reloaded head's
        applied-batch manifest is honored first, so if the racing writer
        already applied THIS (query_id, batch_id) the retry returns
        ``skipped`` instead of double-applying.

        Concurrent callers from driver threads should pass
        ``pin_exchange=False`` (see ``merge``): the pinned-exchange plan
        mutates the session's shuffle-partition conf, which is process
        global.  And because the applied manifest is a per-query MONOTONIC
        watermark (streaming epoch semantics), independent concurrent
        writers must use distinct ``query_id``s — racing writers sharing
        one query_id with out-of-order batch ids would mark the lower ids
        applied when a higher id lands first."""
        last: Exception | None = None
        for attempt in range(retries + 1):
            if attempt:
                time.sleep(0.05 * attempt)
                fresh = LakeTable.load(self.spark, self.path)
                self.snapshot = fresh.snapshot
                self._manifest_cache = {}
            try:
                return self.merge(
                    events_df, batch_id=batch_id, query_id=query_id, **kwargs
                )
            except ConcurrentCommitError as e:
                # the ONLY retryable signal: every commit race is funneled
                # through ConcurrentCommitError by the mkdir/descriptor
                # claims above — a generic "already exists" AnalysisException
                # is a caller-owned-path problem and must propagate
                last = e
        raise ConcurrentCommitError(
            f"gave up after {retries} retries: {last}"
        ) from last

    def _merged_frame(self, rows: DataFrame, tgt: DataFrame) -> DataFrame:
        """union(batch, touched target) → one row per pk = greatest
        (lsn, is_delete) — THE merge reduce: latest_per_key's
        WindowGroupLimit formulation (map-side top-1 per key before the
        exchange, hash-prefixed sort keys; 2× a max_by SortAggregate at
        16M rows), exactly one shuffle in its plan, output partitioning =
        hash(_gk, pk) which IS the bucket layout (asserted by
        tests/test_plans.py)."""
        return latest_per_key(
            tgt.unionByName(rows),
            self.primary_key,
            order_col="_lsn",
            delete_col="_deleted",
        )

    def _merge_mor(
        self,
        events_df: DataFrame,
        batch_id: int | None,
        query_id: str,
        extracted_at: datetime | None,
        lineage: list[dict[str, Any]] | None,
        validate_pk: bool,
        pin_exchange: bool,
        publish: bool = True,
    ) -> MergeResult:
        """Merge-on-read apply: reduce the BATCH to one row per key (same
        greatest-(lsn, is_delete) delete-wins rule as the CoW merge) and
        append it as a DELTA manifest — no target read, no bucket rewrite.
        Commit I/O is O(batch), not O(touched buckets × files): at a
        10^10-event table with small hot batches this is the difference
        between rewriting multi-GB buckets per micro-batch and appending
        a few MB.  Readers fold base ∪ deltas per key (read()); the C8
        cadence valve folds them physically via compact_deltas().  The
        Iceberg v2 ``write.merge.mode=merge-on-read`` analog (data +
        equality-delete files per commit, `IcebergConsumer.java:140-224`
        is the CoW-equivalent reference sink this trades read work
        against).  Delta files use the SAME bucket layout as the base —
        the batch reduce's pinned exchange (whole buckets per reducer, see
        ``_pinned_layout``) doubles as the layout exchange (one shuffle
        per merge, like CoW), and compaction's fold prunes
        to delta-touched buckets only."""
        if batch_id is not None and batch_id <= self.last_committed_batch(query_id):
            return MergeResult(version=None, skipped=True)
        if validate_pk:
            validate_primary_keys(events_df, self.primary_key)
        rows = self._finalize_rows(events_df, extracted_at, defer_ids=True)
        pk = self.primary_key
        aligned = pin_exchange and list(self.snapshot["bucket_keys"]) == list(pk)
        snap = self._next_snapshot("merge-mor")
        with self._pinned_layout(aligned):
            reduced = latest_per_key(
                rows, pk, order_col="_lsn", delete_col="_deleted"
            )
            # ids only for rows that survive the batch reduce (same
            # deferral as CoW: the 64-byte hash never crosses the shuffle)
            new_ref = self._write_data(
                self._fill_ids_cols(reduced, extracted_at),
                snap,
                layout_partitioned=aligned,
            )
        snap["deltas"] = self.delta_refs + [new_ref]
        if batch_id is not None:
            snap["applied"] = {**self.snapshot["applied"], query_id: batch_id}
        if lineage is not None:
            self._apply_lineage(snap, lineage)
        carried = self._ref_files(self.snapshot["manifests"])
        if publish:
            self._commit(snap)
        else:
            self._write_snapshot_file(snap)
        return MergeResult(
            version=snap["version"],
            touched_buckets=list(new_ref["live_buckets"]),
            carried_files=carried,
            written_files=self._ref_files([new_ref]),
            published=publish,
        )

    def compact_deltas(self) -> int | None:
        """Fold outstanding merge-on-read deltas into the base: rewrite
        ONLY the buckets the deltas touch (untouched base files are
        carried by reference), ONE latest-per-key reduce over base ∪
        deltas, clear the delta list.  Tombstone winners stay physical in
        the base — exactly the CoW merge's behavior — so gc_tombstones
        retains its watermark contract afterwards.  Returns the new
        version, or None when there is nothing to fold.  The Iceberg
        `rewrite_data_files` + `rewrite_position_delete_files`
        maintenance pair collapsed into one snapshot commit."""
        if not self.delta_refs:
            return None
        touched = {b for ref in self.delta_refs for b in ref["live_buckets"]}
        keep = [
            r
            for r in (
                self._drop_buckets(ref, touched)
                for ref in self.snapshot["manifests"]
            )
            if r is not None
        ]
        union = self._read_files(self.live_files(touched)).unionByName(
            self._read_files(self.live_delta_files())
        )
        aligned = list(self.snapshot["bucket_keys"]) == list(self.primary_key)
        snap = self._next_snapshot("compact-deltas")
        with self._pinned_layout(aligned):
            rows = latest_per_key(
                union, self.primary_key, order_col="_lsn", delete_col="_deleted"
            )
            new_ref = self._write_data(rows, snap, layout_partitioned=aligned)
        snap["manifests"] = keep + [new_ref]
        snap["deltas"] = []
        self._commit(snap)
        return snap["version"]

    # ------------------------------------------------------- schema evolve

    @property
    def payload_key_map(self) -> dict[str, str]:
        """Raw source-field name → column name, for source fields whose
        names are not valid/undisputed column names (P7 normalization with
        collision suffixing, `CatalogParser.java:98-131`).  Identity
        mappings are implicit — a raw key absent from the map feeds the
        column of the same name.  Persisted in the snapshot so suffix
        assignment is stable across batches and restarts."""
        return dict(self.snapshot.get("payload_key_map", {}))

    def evolve_schema(
        self,
        new_payload: T.StructType,
        payload_key_map: dict[str, str] | None = None,
    ) -> int:
        """Add columns / widen types (E1-E2).  Drops and narrowings raise
        SchemaEvolutionError — handle those via soft_reset (T8).
        ``payload_key_map`` rides the same commit when the JSON ingest
        discovered new normalized source fields."""
        # grandfather names already in the CURRENT payload: a legacy table
        # created before a name became reserved must keep evolving (the
        # drop check below forces the column to stay in new_payload, so
        # rejecting it here would crash-loop the streaming evolve path);
        # only NEWLY-ADDED reserved names are rejected
        _check_payload_names(
            new_payload, allow=set(self.snapshot.get("payload_columns", ()))
        )
        current = self.schema()
        cur_fields = {f.name: f for f in current.fields}
        new_physical = with_meta_columns(new_payload)
        for name, fld in cur_fields.items():
            # skip only the ENGINE's meta columns — a payload column may
            # legitimately start with "_" (Mongo `_id`, digit-led names
            # normalized to `_<digit>...`), and exempting those from the
            # drop/narrow checks would let incompatible changes commit
            # silently
            if name in META_COLUMNS:
                continue
            newf = next((f for f in new_physical.fields if f.name == name), None)
            if newf is None:
                raise SchemaEvolutionError(f"column `{name}` dropped — use soft_reset")
            if newf.dataType != fld.dataType and not _is_widening(
                fld.dataType, newf.dataType
            ):
                raise SchemaEvolutionError(
                    f"column `{name}`: {fld.dataType.simpleString()} → "
                    f"{newf.dataType.simpleString()} is not a widening — use soft_reset"
                )
        sid = max(int(k) for k in self.snapshot["schemas"]) + 1
        snap = self._next_snapshot("evolve-schema")
        snap["schemas"][str(sid)] = json.loads(new_physical.json())
        snap["current_schema_id"] = sid
        snap["payload_columns"] = [f.name for f in new_payload.fields]
        if payload_key_map is not None:
            snap["payload_key_map"] = dict(payload_key_map)
        self._commit(snap)
        return snap["version"]

    def soft_reset(self, new_payload: T.StructType, rename_map: dict[str, str] | None = None) -> int:
        """Incompatible change: rebuild the table under the new schema from
        current rows (incl. tombstones) — the T8 soft-reset analog
        (`BigQuerySqlGenerator.java:322-335`)."""
        # grandfather names already in the CURRENT payload, same rule as
        # evolve_schema: soft_reset is the documented recovery path, so a
        # legacy table carrying a now-reserved name (or an allow_reserved
        # envelope table) must be able to rebuild KEEPING that column —
        # only newly-added reserved names are rejected
        _check_payload_names(
            new_payload, allow=set(self.snapshot["payload_columns"])
        )
        rows = self.read(include_deleted=True, include_meta=True)
        for old, new in (rename_map or {}).items():
            rows = rows.withColumnRenamed(old, new)
        sid = max(int(k) for k in self.snapshot["schemas"]) + 1
        new_physical = with_meta_columns(new_payload)
        snap = self._next_snapshot("soft-reset")
        snap["schemas"][str(sid)] = json.loads(new_physical.json())
        snap["current_schema_id"] = sid
        snap["payload_columns"] = [f.name for f in new_payload.fields]
        # NB: self.snapshot is NOT touched until _commit succeeds — a failed
        # write leaves the in-memory table on the committed version
        aligned = self._align(rows, new_physical)
        snap["manifests"] = [self._write_data(aligned, snap)]
        snap["deltas"] = []  # rows already folded deltas via read()
        self._commit(snap)
        return snap["version"]

    # ---------------------------------------------------------- maintenance

    def compact(self, min_files_per_bucket: int = 2) -> int | None:
        """Rewrite buckets fragmented across > min_files_per_bucket files —
        the `rewriteDataFiles` analog (`IcebergConsumer.java:210-224`).
        Fragmentation is read from snapshot rollups (no manifest loads);
        compaction also re-collapses manifest refs for those buckets."""
        by_bucket: dict[int, int] = {}
        for ref in self.snapshot["manifests"]:
            for b, (n, _r, _s) in ref["by_bucket"].items():
                by_bucket[int(b)] = by_bucket.get(int(b), 0) + n
        # convergence: a rewrite lands files_per_bucket files per bucket,
        # so the trigger must sit ABOVE fpb — otherwise a table created
        # with files_per_bucket > min_files_per_bucket re-selects every
        # bucket on every maintenance cycle and pays a full-table rewrite
        # forever without reducing fragmentation
        threshold = max(
            min_files_per_bucket, int(self.snapshot.get("files_per_bucket", 1))
        )
        to_rewrite = {b for b, n in by_bucket.items() if n > threshold}
        if not to_rewrite:
            return None
        keep = [
            r
            for r in (
                self._drop_buckets(ref, to_rewrite)
                for ref in self.snapshot["manifests"]
            )
            if r is not None
        ]
        rows = self._read_files(self.live_files(to_rewrite))
        snap = self._next_snapshot("compact")
        snap["manifests"] = keep + [self._write_data(rows, snap)]
        self._commit(snap)
        return snap["version"]

    def rebucket(
        self, num_buckets: int, files_per_bucket: int | None = None
    ) -> int:
        """Change the bucket layout in one atomic commit — partition
        evolution (Iceberg's ``ALTER TABLE ... WRITE DISTRIBUTED BY``
        analog).  A layout sized at create time stops fitting as the table
        grows: at 100 TB a 64-bucket table has ~1.5 TB buckets, far past
        the one-task-per-bucket sweet spot, so the bucket count must be
        able to grow WITH the table (ideally in multiples, e.g. 64 → 256,
        though any count works — the bucket is a pure function of the key,
        never stored, so readers recompute it per version).  Rewrites the
        whole table ONCE (one exchange into the new layout), folds any
        outstanding merge-on-read deltas in the same pass, and keeps
        tombstones physical (gc_tombstones semantics unchanged).  Old
        versions time-travel correctly: each snapshot carries its own
        ``num_buckets``, and ``LakeTable.load(path, version=N)`` reads the
        layout that version was written with.  Subsequent merges
        pin their reduce exchange to the NEW layout automatically."""
        if num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
        fpb = max(
            1,
            int(self.snapshot.get("files_per_bucket", 1))
            if files_per_bucket is None
            else files_per_bucket,
        )
        if num_buckets == self.num_buckets and fpb == int(
            self.snapshot.get("files_per_bucket", 1)
        ):
            return self.version
        # read() folds outstanding MoR deltas with the delete-wins rule;
        # keep tombstones so the gc watermark contract survives the rewrite
        rows = self.read(include_deleted=True, include_meta=True)
        snap = self._next_snapshot(
            "rebucket",
            num_buckets=num_buckets,
            files_per_bucket=fpb,
            deltas=[],
        )
        snap["manifests"] = [self._write_data(rows, snap)]
        self._commit(snap)
        return snap["version"]

    def expire_snapshots(
        self,
        retain_last: int = 2,
        remove_orphans: bool = False,
        orphan_min_age_sec: float = 3 * 24 * 3600,
    ) -> dict[str, int]:
        """Drop snapshot metadata older than the newest ``retain_last``
        versions and physically delete data files + manifest shards no
        retained snapshot references — the Iceberg expireSnapshots /
        removeOrphanFiles maintenance pair (`IcebergConsumer.java:210-224`
        table-maintenance analog).  Time travel keeps working across the
        retained window.

        ``remove_orphans`` additionally sweeps data/ for files referenced
        by NO retained snapshot at all — this is what reclaims the output
        of a commit that wrote data and then failed before its snapshot
        landed (the copy-on-write failure mode).  Files younger than
        ``orphan_min_age_sec`` are NEVER swept: an in-flight concurrent
        writer stages data files BEFORE its snapshot commits, so an
        age-blind sweep would delete a live commit's fresh output and
        silently lose data — the same guard as Iceberg removeOrphanFiles'
        ``older_than`` (default 3 days)."""
        meta = os.path.join(self.path, _META_DIR)
        versions = sorted(
            int(n[len("snap-v"):-len(".json")])
            for n in os.listdir(meta)
            if n.startswith("snap-v") and n.endswith(".json")
        )
        # retain_last=0 means "keep only the live pointer (+ tags)" — a
        # plain versions[-0:] slice would silently retain EVERYTHING
        retained = set(versions[-retain_last:]) if retain_last > 0 else set()
        retained.add(self.version)  # never expire the current pointer
        # versions ABOVE the head are staged write-audit-publish snapshots
        # awaiting publish(): expiring one mid-audit would delete the
        # staged batch's fresh data files out from under the auditor —
        # staged snapshots are only ever removed via abandon_staged()
        retained.update(v for v in versions if v > self.version)
        # tagged snapshots are pinned (Iceberg tag semantic): a release
        # or audit tag survives routine expiry until the tag is dropped.
        # Self-heal tags left dangling by older builds (descriptor already
        # gone): retaining one would crash the _snapshot() open below on
        # every future expiry run, so prune it from TAGS.json instead.
        # "dangling" is judged against the DESCRIPTOR ON DISK at this
        # moment, never against the `versions` listing taken at function
        # start — a concurrent commit+tag landing after that listing would
        # otherwise be misjudged dangling and silently unpinned (and later
        # physically expired).  The prune also RE-READS TAGS.json just
        # before writing and removes only the still-dangling names, so a
        # tag() written since the first read is never clobbered by a
        # stale map.
        def _desc_exists(v: int) -> bool:
            return os.path.exists(os.path.join(meta, f"snap-v{v}.json"))

        tags = self._read_tags(self.path)
        dangling = {n for n, v in tags.items() if not _desc_exists(v)}
        if dangling:
            tags = self._read_tags(self.path)
            tags = {
                n: v
                for n, v in tags.items()
                if n not in dangling or _desc_exists(v)
            }
            self._write_tags(tags)
        retained.update(tags.values())
        expired = [v for v in versions if v not in retained]

        def _snapshot(v: int) -> dict[str, Any]:
            with open(os.path.join(meta, f"snap-v{v}.json")) as f:
                return json.load(f)

        live_files: set[str] = set()
        live_manifests: set[str] = set()
        for v in retained:
            snap = _snapshot(v)
            for ref in snap.get("manifests", []) + snap.get("deltas", []):
                live_manifests.add(ref["path"])
                live = set(ref["live_buckets"])
                for e in self._load_manifest(ref):
                    if e["bucket"] in live:
                        live_files.add(e["path"])

        removed_files = removed_manifests = 0
        for v in expired:
            snap = _snapshot(v)
            for ref in snap.get("manifests", []) + snap.get("deltas", []):
                for e in self._load_manifest(ref):
                    if e["path"] not in live_files:
                        full = os.path.join(self.path, e["path"])
                        if os.path.exists(full):
                            os.remove(full)
                            removed_files += 1
                if ref["path"] not in live_manifests:
                    full = os.path.join(self.path, ref["path"])
                    if os.path.exists(full):
                        os.remove(full)
                        removed_manifests += 1
            os.remove(os.path.join(meta, f"snap-v{v}.json"))

        orphans = 0
        if remove_orphans:
            data_root = os.path.join(self.path, _DATA_DIR)
            sweep_before = time.time() - orphan_min_age_sec
            for root, _dirs, names in os.walk(data_root, topdown=False):
                for name in names:
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, self.path)
                    if (
                        name.endswith(".parquet")
                        and rel not in live_files
                        and os.path.getmtime(full) <= sweep_before
                    ):
                        os.remove(full)
                        orphans += 1
                if not os.listdir(root):
                    os.rmdir(root)
        # shard cache may now hold entries for deleted manifests
        self._manifest_cache = {}
        return {
            "expired_snapshots": len(expired),
            "removed_files": removed_files,
            "removed_manifests": removed_manifests,
            "removed_orphans": orphans,
        }

    def gc_tombstones(self, lsn_watermark: int) -> int:
        """Physically drop tombstones with _lsn < watermark (safe once every
        source partition has passed the watermark — no staler update can
        arrive).  Rewrites only buckets that contain old tombstones.

        CONSUMER CONTRACT: the watermark must also trail every DOWNSTREAM
        cursor — a ``read_since``/``changes_since`` replica whose cursor
        has not passed a tombstone's LSN never sees that delete once the
        tombstone is physically gone (the replica keeps the key live
        forever).  Safe watermark = min(source-partition low watermark,
        min over replica cursors).  The engine cannot know external
        cursors, so this is the operator's precondition, same as Iceberg's
        ``expire_snapshots`` vs incremental consumers.

        Discovery cost: candidate files are pruned by manifest ``lsn_min``
        stats first (a row with _lsn < watermark can only live in a file
        whose lsn_min < watermark), so finding the affected buckets reads
        O(files with old rows), not O(table)."""
        if self.delta_refs:
            # a base tombstone below the watermark may be the only thing
            # shadowing an even-older delta upsert for the same key —
            # dropping it would RESURRECT the deleted row at read time.
            # Fold first; compact_deltas preserves tombstone winners.
            raise ValueError(
                "gc_tombstones with outstanding merge-on-read deltas could "
                "resurrect deleted rows — run compact_deltas() first"
            )
        candidates = [
            e
            for e in self.live_files()
            if e.get("lsn_min") is None or e["lsn_min"] < lsn_watermark
        ]
        if not candidates:
            return self.version
        cand_rows = self._read_files(candidates)
        affected = (
            cand_rows.filter(
                F.col("_deleted") & (F.col("_lsn") < F.lit(lsn_watermark))
            )
            .select(self.bucket_expr(cand_rows).alias("b"))
            .distinct()
            .collect()
        )
        buckets = {r["b"] for r in affected}
        if not buckets:
            return self.version
        keep = [
            r
            for r in (
                self._drop_buckets(ref, buckets) for ref in self.snapshot["manifests"]
            )
            if r is not None
        ]
        rows = self._read_files(self.live_files(buckets)).filter(
            ~(F.col("_deleted") & (F.col("_lsn") < F.lit(lsn_watermark)))
        )
        snap = self._next_snapshot("gc-tombstones")
        snap["manifests"] = keep + [self._write_data(rows, snap)]
        self._commit(snap)
        return snap["version"]

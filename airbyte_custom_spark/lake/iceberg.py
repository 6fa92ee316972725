"""Real-Iceberg sink path, selected when the Iceberg runtime is present
(K1; reference sink: `destination-iceberg/.../IcebergConsumer.java:140-224`,
`build.gradle` iceberg-spark-runtime dependency).

The sandbox image has no `iceberg-spark-runtime` jar, so the from-scratch
parquet-snapshot `LakeTable` carries the semantics here; on a cluster with
the jar + catalog configured (`spark.sql.extensions` containing
IcebergSparkSessionExtensions and a `spark.sql.catalog.<name>`), the
factory below returns an `IcebergTable` instead — same call surface, zero
code changes in the pipeline.

Semantics mapping:
  * upsert + CDC delete → one atomic `MERGE INTO` per micro-batch, ordered
    by (lsn, is_delete) with delete-wins ties (T5); tombstones are kept as
    `_deleted = true` rows exactly like LakeTable, so stale cross-batch
    updates cannot resurrect deleted keys.
  * exactly-once → the merge is idempotent by construction (max-lsn wins:
    re-applying an already-applied batch changes nothing), plus a
    best-effort batch ledger in table properties for fast replay skip.
    Iceberg's own snapshot commit is atomic, mirroring LakeTable._commit.
  * layout → PARTITIONED BY (bucket(N, <first pk col>)) — Iceberg's bucket
    transform is single-column; the merge-on-read/copy-on-write choice and
    file sizing move to Iceberg table properties instead of our manifest.
  * maintenance → compact = rewrite_data_files, expire_snapshots =
    expire_snapshots + remove_orphan_files (age-guarded), tombstone GC =
    a positional DELETE of old `_deleted` rows past the LSN watermark
    (`IcebergConsumer.java:210-224` table-maintenance analog).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from airbyte_custom_spark.lake.table import local_frame, match_keys
from airbyte_custom_spark.operators.dedupe import latest_per_key

_META_COLS = ("_lsn", "_deleted")


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    """True when the session can execute Iceberg DDL/MERGE: the extension
    is registered AND the catalog is an Iceberg one."""
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    if "IcebergSparkSessionExtensions" not in ext:
        return False
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return impl is not None


def open_table(spark: SparkSession, path: str, ident: str | None = None, **create_kw):
    """Factory: real Iceberg when the runtime is present, the parquet-
    snapshot LakeTable otherwise.  ``ident`` is the Iceberg table identifier
    (catalog.db.table); ``path`` is the LakeTable root used in the
    fallback.  ``create_kw`` (primary_key, num_buckets, payload_schema, …)
    applies to WHICHEVER branch is taken — in particular a non-default
    ``primary_key`` reaches the Iceberg MERGE ON clause (round-2 bug: the
    Iceberg branch silently kept the hardcoded default pk)."""
    from airbyte_custom_spark.lake.table import LakeTable

    if ident is not None and iceberg_available(spark, ident.split(".", 1)[0]):
        t = IcebergTable(
            spark,
            ident,
            primary_key=tuple(create_kw.get("primary_key", ("conv_id", "turn_idx"))),
        )
        if "payload_schema" in create_kw:
            t.create(
                create_kw["payload_schema"],
                num_buckets=create_kw.get("num_buckets", 16),
            )
        return t
    if LakeTable.exists(path):
        return LakeTable.load(spark, path)
    return LakeTable.create(spark, path, **create_kw)


class IcebergTable:
    """LakeTable-compatible surface over a real Iceberg table — same method
    set the pipeline calls on LakeTable (merge / read / compact /
    evolve_schema / soft_reset / gc_tombstones / expire_snapshots /
    last_committed_batch), so `open_table` dispatch needs no call-site
    changes.  Constructed only when ``iceberg_available`` — every method
    body is plain Spark SQL against the Iceberg catalog."""

    def __init__(
        self,
        spark: SparkSession,
        ident: str,
        primary_key: tuple[str, ...] = ("conv_id", "turn_idx"),
    ):
        self.spark = spark
        self.ident = ident
        self.primary_key = list(primary_key)

    # ---------------------------------------------------------------- setup

    def create(self, payload_schema: T.StructType, num_buckets: int = 16) -> None:
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in payload_schema.fields
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ident} "
            f"({cols}, _lsn bigint, _deleted boolean) USING iceberg "
            f"PARTITIONED BY (bucket({num_buckets}, {self.primary_key[0]})) "
            # merge-on-read keeps merge commits small; compaction is
            # rewrite_data_files (the IcebergConsumer.java:210-224 analog)
            "TBLPROPERTIES ('write.merge.mode'='merge-on-read', "
            "'write.distribution-mode'='hash', "
            f"'acs.num_buckets'='{num_buckets}')"
        )

    # ----------------------------------------------------------- properties

    def _props(self) -> dict[str, str]:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.ident}").collect()
        return {r["key"]: r["value"] for r in rows}

    def schema(self) -> T.StructType:
        return self.spark.table(self.ident).schema

    @property
    def payload_columns(self) -> list[str]:
        return [f.name for f in self.schema().fields if f.name not in _META_COLS]

    @property
    def num_buckets(self) -> int:
        return int(self._props().get("acs.num_buckets", 16))

    def last_committed_batch(self, query_id: str) -> int:
        return int(self._props().get(f"acs.applied.{query_id}", -1))

    # ---------------------------------------------------------------- merge

    def merge_source(self, events_df: DataFrame) -> DataFrame:
        """The MERGE's source frame: latest-per-key reduce (delete-wins
        ties, T5) projected onto (payload…, _lsn, _deleted).

        Uses ``latest_per_key`` — the WindowGroupLimit top-1 the LakeTable
        merge also runs, which guarantees one row per key pre-MERGE.
        Split out from ``merge`` so the plan is assertable without the
        Iceberg jar (tests/test_iceberg_dispatch.py)."""
        src = events_df.withColumn(
            "_del",
            (F.col("op") == "d")
            | (
                F.col("_ab_cdc_deleted_at").isNotNull()
                if "_ab_cdc_deleted_at" in events_df.columns
                else F.lit(False)
            ),
        )
        src = latest_per_key(src, self.primary_key, order_col="lsn", delete_col="_del")
        payload = [c for c in src.columns if c not in ("lsn", "op", "_del")
                   and not c.startswith("_ab_cdc")]
        return src.select(
            *payload,
            F.col("lsn").alias("_lsn"),
            F.col("_del").alias("_deleted"),
        )

    def merge(
        self,
        events_df: DataFrame,
        batch_id: int | None = None,
        query_id: str = "default",
        **_ignored,
    ):
        """One atomic MERGE INTO: latest-per-key reduce (map-side top-1,
        delete-wins ties) then upsert; tombstones written as rows.  Returns
        a ``MergeResult`` like LakeTable (``version`` stays None — Iceberg
        owns its snapshot ids), so pipeline call sites checking
        ``result.skipped`` work unchanged under dispatch."""
        from airbyte_custom_spark.lake.table import MergeResult

        if batch_id is not None and batch_id <= self.last_committed_batch(query_id):
            return MergeResult(version=None, skipped=True)
        src = self.merge_source(events_df)
        # per-call unique view name: concurrent merges in one session (e.g.
        # GlobalStateIngestJob streams) must not clobber each other's source
        view = f"_acs_merge_src_{uuid.uuid4().hex[:12]}"
        src.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.{k} = s.{k}" for k in self.primary_key)
            self.spark.sql(
                f"MERGE INTO {self.ident} t USING {view} s ON {on} "
                "WHEN MATCHED AND (s._lsn > t._lsn OR (s._lsn = t._lsn AND s._deleted)) "
                "THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)
        if batch_id is not None:
            # best-effort fast replay skip; correctness does not depend on
            # it — re-applying a batch is a state no-op (max-lsn wins)
            self.spark.sql(
                f"ALTER TABLE {self.ident} SET TBLPROPERTIES "
                f"('acs.applied.{query_id}'='{batch_id}')"
            )
        return MergeResult(version=None, skipped=False)

    def read(self, include_deleted: bool = False, include_meta: bool = False) -> DataFrame:
        df = self.spark.table(self.ident)
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        if not include_meta:
            df = df.drop(*_META_COLS)
        return df

    def lookup(
        self,
        keys: list,
        columns: tuple[str, ...] | None = None,
        include_meta: bool = False,
    ) -> DataFrame:
        """LakeTable.lookup dispatch twin.  Iceberg performs its own
        bucket-transform predicate pushdown (the layout is
        ``bucket(N, pk[0])``), so the key predicate alone prunes manifests
        server-side — this method only has to EXPRESS it, with the same
        ``match_keys`` as LakeTable: an IN-list on the first key column
        (reaches Iceberg's partition + file stats pruning), plus a
        broadcast left-semi join against the local key relation for
        composite or large key sets."""
        cols = list(columns or self.primary_key[:1])
        rows = [tuple(k) if isinstance(k, (tuple, list)) else (k,) for k in keys]
        df = self.read(include_meta=include_meta)
        if not rows:
            return df.limit(0)
        by_name = {f.name: f.dataType for f in self.schema().fields}
        key_schema = T.StructType(
            [T.StructField(c, by_name[c], False) for c in cols]
        )
        keys_df = local_frame(self.spark, rows, key_schema)
        return match_keys(df, keys_df, cols[0], sorted({r[0] for r in rows}))

    # --------------------------------------------------- snapshot lifecycle

    def _current_snapshot_id(self) -> int:
        # the CURRENT snapshot is the main branch ref, NOT the newest
        # committed_at row: after rollback_to_snapshot the pointer is
        # OLDER than the newest snapshot (rolled-past snapshots stay in
        # .snapshots until expiry), so ordering by committed_at would pin
        # the rolled-past head on a rollback-then-tag sequence
        row = (
            self.spark.sql(
                f"SELECT snapshot_id FROM {self.ident}.refs "
                "WHERE name = 'main'"
            ).first()
        )
        if row is None:
            raise ValueError(f"{self.ident} has no snapshots")
        return int(row["snapshot_id"])

    def tag(self, name: str, version: int | None = None) -> int:
        """Named snapshot pin — Iceberg's own branching/tagging DDL
        (`ALTER TABLE ... CREATE OR REPLACE TAG`).  ``version`` is an
        Iceberg snapshot id here (LakeTable: a lake version int); both
        default to the current snapshot and both survive expiry until
        dropped."""
        sid = int(version) if version is not None else self._current_snapshot_id()
        self.spark.sql(
            f"ALTER TABLE {self.ident} CREATE OR REPLACE TAG `{name}` "
            f"AS OF VERSION {sid}"
        )
        return sid

    def tags(self) -> dict[str, int]:
        rows = self.spark.sql(
            f"SELECT name, snapshot_id FROM {self.ident}.refs WHERE type = 'TAG'"
        ).collect()
        return {r["name"]: int(r["snapshot_id"]) for r in rows}

    def drop_tag(self, name: str) -> None:
        self.spark.sql(f"ALTER TABLE {self.ident} DROP TAG `{name}`")

    def rollback(self, version: int | None = None, tag: str | None = None) -> int:
        """Restore to an earlier snapshot — Iceberg's
        ``rollback_to_snapshot`` procedure (same recovery verb as
        LakeTable.rollback; Iceberg moves the current pointer back, the
        rolled-past snapshots stay until expiry, matching the auditable
        semantics).  Exactly one of ``version`` (snapshot id) / ``tag``."""
        if (version is None) == (tag is None):
            raise ValueError("pass exactly one of version / tag")
        if tag is not None:
            known = self.tags()
            if tag not in known:
                raise ValueError(f"unknown tag {tag!r} (have {sorted(known)})")
            version = known[tag]
        catalog = self.ident.split(".", 1)[0]
        self.spark.sql(
            f"CALL {catalog}.system.rollback_to_snapshot("
            f"table => '{self.ident}', snapshot_id => {int(version)})"
        )
        return int(version)

    def merge_with_retry(
        self,
        events_df: DataFrame,
        batch_id: int | None = None,
        query_id: str = "default",
        retries: int = 3,
        **kwargs,
    ) -> "MergeResult":
        """Commit-retry twin of LakeTable.merge_with_retry.  Iceberg's own
        optimistic machinery retries data-conflict-free commits internally
        (`commit.retry.num-retries`); this loop only re-drives the cases
        that surface to the client as CommitFailedException /
        concurrent-modification errors, re-reading the applied-batch
        property first so a raced duplicate skips."""
        import time as _time

        last: Exception | None = None
        for attempt in range(retries + 1):
            if attempt:
                _time.sleep(0.05 * attempt)
            try:
                return self.merge(
                    events_df, batch_id=batch_id, query_id=query_id, **kwargs
                )
            except Exception as e:  # noqa: BLE001 - classified below
                msg = str(e)
                if not any(
                    s in msg
                    for s in (
                        "CommitFailedException",
                        "CommitStateUnknownException",
                        "ValidationException",
                        "concurrent",
                    )
                ):
                    raise
                last = e
        raise RuntimeError(f"gave up after {retries} retries: {last}") from last

    # ------------------------------------------------------- schema evolve

    def evolve_schema(self, new_payload: T.StructType, **_ignored) -> None:
        """E1-E2 in-place evolution with LakeTable's rules: ADD COLUMN for
        new fields, ALTER COLUMN TYPE for widenings (Iceberg id-based
        columns make both metadata-only); drops and narrowings raise — use
        ``soft_reset`` (T8), matching `operators/schema_evo.py` policy."""
        from airbyte_custom_spark.lake.table import SchemaEvolutionError, _is_widening

        cur = {f.name: f for f in self.schema().fields if f.name not in _META_COLS}
        inc = {f.name: f for f in new_payload.fields}
        for name in cur:
            if name not in inc:
                raise SchemaEvolutionError(f"column `{name}` dropped — use soft_reset")
        stmts = []
        for name, f in inc.items():
            if name not in cur:
                stmts.append(
                    f"ALTER TABLE {self.ident} ADD COLUMN "
                    f"{name} {f.dataType.simpleString()}"
                )
            elif f.dataType != cur[name].dataType:
                if not _is_widening(cur[name].dataType, f.dataType):
                    raise SchemaEvolutionError(
                        f"column `{name}`: {cur[name].dataType.simpleString()} → "
                        f"{f.dataType.simpleString()} is not a widening — use soft_reset"
                    )
                stmts.append(
                    f"ALTER TABLE {self.ident} ALTER COLUMN "
                    f"{name} TYPE {f.dataType.simpleString()}"
                )
        for s in stmts:
            self.spark.sql(s)

    def soft_reset(
        self, new_payload: T.StructType, rename_map: dict[str, str] | None = None
    ) -> None:
        """T8: rebuild under an incompatible schema from current rows
        (tombstones included, so delete semantics survive the reset) —
        `BigQuerySqlGenerator.java:322-335` analog via REPLACE TABLE AS
        SELECT, which is a single atomic Iceberg commit."""
        rows = self.read(include_deleted=True, include_meta=True)
        for old, new in (rename_map or {}).items():
            rows = rows.withColumnRenamed(old, new)
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in rows.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in new_payload.fields
        ] + [F.col("_lsn"), F.col("_deleted")]
        aligned = rows.select(*cols)
        view = f"_acs_soft_reset_{uuid.uuid4().hex[:12]}"
        aligned.createOrReplaceTempView(view)
        nb = self.num_buckets
        try:
            self.spark.sql(
                f"REPLACE TABLE {self.ident} USING iceberg "
                f"PARTITIONED BY (bucket({nb}, {self.primary_key[0]})) "
                "TBLPROPERTIES ('write.merge.mode'='merge-on-read', "
                "'write.distribution-mode'='hash', "
                f"'acs.num_buckets'='{nb}') "
                f"AS SELECT * FROM {view}"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    # ---------------------------------------------------------- maintenance

    def compact(self, **_ignored) -> int | None:
        """LakeTable.compact returns the new version (or None); Iceberg's
        rewrite_data_files reports rewritten-file counts — return the
        rewritten count as the json-printable result (None ⇒ no-op)."""
        catalog = self.ident.split(".", 1)[0]
        row = self.spark.sql(
            f"CALL {catalog}.system.rewrite_data_files(table => '{self.ident}')"
        ).first()
        n = row["rewritten_data_files_count"] if row is not None else 0
        return int(n) if n else None

    def gc_tombstones(self, lsn_watermark: int) -> int:
        """Physically drop tombstones with _lsn < watermark (safe once every
        source partition has passed it — no staler update can arrive);
        merge-on-read makes this a delete-file commit, not a rewrite.
        Returns the tombstone count removed (LakeTable returns a version;
        both json-serialize at the CLI)."""
        n = (
            self.spark.table(self.ident)
            .filter(F.col("_deleted") & (F.col("_lsn") < int(lsn_watermark)))
            .count()
        )
        self.spark.sql(
            f"DELETE FROM {self.ident} "
            f"WHERE _deleted AND _lsn < {int(lsn_watermark)}"
        )
        return n

    def expire_snapshots(
        self, retain_last: int = 2, remove_orphans: bool = False, **_ignored
    ) -> dict:
        """Iceberg's own expireSnapshots / removeOrphanFiles pair; orphan
        removal keeps Iceberg's default 3-day older_than guard (same reason
        as LakeTable.expire_snapshots's orphan_min_age_sec).  Returns a
        stats dict shaped like LakeTable.expire_snapshots's."""
        catalog = self.ident.split(".", 1)[0]
        row = self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots("
            f"table => '{self.ident}', retain_last => {int(retain_last)})"
        ).first()
        stats = {
            "expired_data_files": int(row["deleted_data_files_count"]) if row else 0,
            "orphans_removed": 0,
        }
        if remove_orphans:
            orphans = self.spark.sql(
                f"CALL {catalog}.system.remove_orphan_files(table => '{self.ident}')"
            ).collect()
            stats["orphans_removed"] = len(orphans)
        return stats

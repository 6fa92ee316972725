"""Latest-per-key reduction and primary-key validation — the upsert core
(SURVEY.md §2.4).

Reference semantics reproduced here:
  T1 validatePrimaryKeys — fail the sync if any new row has a NULL pk part
     (`BigQuerySqlGenerator.java:391-416`).
  T3 dedupFinalTable — keep row_number() OVER (PARTITION BY pk ORDER BY
     cursor DESC NULLS LAST, extracted_at DESC) == 1
     (`BigQuerySqlGenerator.java:486-511`).
  T5 cdcDeletes — a delete whose cursor is the max for its key removes the
     key; ties between a delete and a non-delete resolve to the delete
     (delete-wins, `BigQuerySqlGenerator.java:514-548`).

``latest_per_key`` is the one operator for T3 + T5; every reader and writer
(LakeTable merge/read/lookup, the Iceberg merge source, the queries) runs it.
It orders rows by the struct (cursor, is_delete) descending: a NULL cursor
sorts below any value (oldest, E4) and a delete beats an upsert at an equal
cursor.  Exact ties otherwise keep one arbitrary row.

Scale notes (100 TB / 1000 executors):
  * The row_number()==1 filter plans as WindowGroupLimit(Partial) BEFORE
    the exchange: each map task emits at most ONE row per key, so a hot
    key with 10^7 updates ships ~num_tasks rows, not 10^7 (the "reduce
    input to 1 row/key before MERGE" pattern, SURVEY.md §4), and one
    post-shuffle pass runs instead of the two sorts a max_by(struct)
    SortAggregate costs (measured 2.1× faster at 16M rows).  Plan-asserted
    in tests/test_plans.py.
  * Skew needs no salting: that map-side partial already collapses a hot
    key before the exchange.  A two-stage salted reduce (salt, reduce,
    reduce again) plans 2 exchanges and no WindowGroupLimit, and measured
    1.8× slower on 4M events with a 10% or 50% hot key (SCALE.md §4).
  * All group/sort keys are PREFIXED with xxhash64(pk) (`_gk`): string pks
    like conv_id share long common prefixes ("conv-…"), so sort/compare
    falls through the 8-byte prefix on almost every comparison; a leading
    64-bit hash resolves virtually all comparisons on the first long
    (measured 1.4-1.6×).  The prefix is an internal column — outputs are
    unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

_GK = "_acs_gk"  # internal hash-prefix column name


def _gk_col(keys: Sequence[str]) -> Column:
    return F.xxhash64(*[F.col(k) for k in keys])


class NullPrimaryKeyError(ValueError):
    """Raised when a batch contains rows with NULL primary-key parts (T1)."""


def validate_primary_keys(df: DataFrame, keys: Sequence[str]) -> None:
    """Fail fast if any row has a NULL in any pk column
    (`BigQuerySqlGenerator.java:391-416`).  Uses limit(1) so the scan stops
    at the first offending row instead of counting all of them."""
    cond = None
    for k in keys:
        c = F.col(k).isNull()
        cond = c if cond is None else (cond | c)
    bad = df.filter(cond).select(*keys).limit(1).collect()
    if bad:
        raise NullPrimaryKeyError(
            f"null value in primary key column(s) {list(keys)}: {bad[0].asDict()}"
        )


def _order_struct(order_col: str, delete_col: str | None) -> F.Column:
    """Ordering key: (cursor, is_delete) — delete wins ties at equal cursor,
    matching T5 (deletes sourced from raw beat same-cursor upserts)."""
    if delete_col is None:
        return F.struct(F.col(order_col).alias("o"), F.lit(0).alias("d"))
    return F.struct(
        F.col(order_col).alias("o"),
        F.coalesce(F.col(delete_col).cast("int"), F.lit(0)).alias("d"),
    )


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str = "lsn",
    delete_col: str | None = None,
) -> DataFrame:
    """One row per key = the row with the greatest (order_col, is_delete) —
    the merge hot path (see module docstring: WindowGroupLimit map-side
    top-1 + hash-prefixed keys).  Output columns identical to input.

    Output partitioning is hash(_gk, keys...) — LakeTable.merge relies on
    that for its layout-aligned write (bucket_expr uses the same prefix)."""
    cols = df.columns
    order = _order_struct(order_col, delete_col)
    w = Window.partitionBy(_GK, *keys).orderBy(F.desc(order))
    return (
        df.withColumn(_GK, _gk_col(keys))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*cols)
    )

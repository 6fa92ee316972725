"""spark-submit entrypoint: backfill phase then tail phase (S8 ordering,
`MySqlInitialReadUtil.java:87-169` — initial load strictly before CDC tail).

Usage (local or cluster; package shipped via --py-files):

  spark-submit --py-files acs.zip -m airbyte_custom_spark.job ...   # or:
  spark-submit --py-files acs.zip job_main.py gen --out /data/seg --events 1000000
  ... job_main.py init --table /data/tbl [--buckets 64]
  ... job_main.py backfill --table /data/tbl --snapshot /data/snap.parquet
  ... job_main.py tail --table /data/tbl --source /data/seg --checkpoint /data/ckpt
        [--follow] [--target-lsn N] [--max-files N]
  ... job_main.py tail ... --json-payload [--raw-table /data/raw]
                                          # raw _airbyte_data JSON source
  ... job_main.py retype --raw-table /data/raw --out-table /data/tbl2 \
        [--schema-json '<StructType json>']   # rebuild typed from raw
  ... job_main.py snapshot --table /data/tbl --source /data/snap.parquet \
        --state /data/snapstate --pk-col row_id [--chunk-size N]   # resumable
  ... job_main.py monitor --source /data/seg --checkpoint /data/mck \
        --out /data/mon [--idle-timeout-ms N]   # stateful sequence monitor
  ... job_main.py show --table /data/tbl [--limit 20]
  ... job_main.py history --table /data/tbl
  ... job_main.py compact --table /data/tbl
  ... job_main.py compact-deltas --table /data/tbl   # fold MoR deltas
  ... job_main.py rebucket --table /data/tbl --buckets 256   # layout evolution
  ... job_main.py changes --table /data/tbl --since-version N [--out /data/feed]
  ... job_main.py expire --table /data/tbl [--remove-orphans]
  ... job_main.py gc-tombstones --table /data/tbl --watermark N
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from airbyte_custom_spark.config import IngestConfig
from airbyte_custom_spark.lake.table import LakeTable
from airbyte_custom_spark.schema import TRANSCRIPT_SCHEMA
from airbyte_custom_spark.session import get_spark
from airbyte_custom_spark.sources.generator import change_events, write_event_chunks
from airbyte_custom_spark.streaming.pipeline import CdcIngestJob, backfill


def _write_corpus(docs, out: str, shuffle_shards: int | None,
                  *, packed: bool) -> None:
    """Corpus write for `corpus-export` / `refresh-corpus`: flat parquet,
    or — with shuffle_shards — the deterministic shard=K layout
    (`functions/shuffle.py`: shard/order are pure functions of the example
    id, so a refresh lands each example exactly where a full re-export
    would).  Packed exports key examples by (conv_id, window_id)."""
    if shuffle_shards:
        from airbyte_custom_spark.functions.shuffle import shuffled_shards

        id_cols = ["conv_id", "window_id"] if packed else ["conv_id"]
        (
            shuffled_shards(docs, id_cols, shuffle_shards)
            .repartition(shuffle_shards, "shard")
            # id tiebreak after shuffle_key: the corpus_shards certificate
            # and its DuckDB oracle order by (shuffle_key, id) — without
            # it an md5 collision would leave the written file order
            # nondeterministic vs the certified permutation
            .sortWithinPartitions("shard", "shuffle_key", *id_cols)
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(out)
        )
    else:
        docs.write.mode("overwrite").parquet(out)


def main(argv: list[str] | None = None, stop_session: bool = True) -> int:
    ap = argparse.ArgumentParser(prog="airbyte_custom_spark.job")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="write synthetic binlog segments")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=1_000_000)
    g.add_argument("--convs", type=int, default=None)
    g.add_argument("--chunks", type=int, default=16)
    g.add_argument("--hot-fraction", type=float, default=0.0)
    g.add_argument("--seed", type=int, default=42)

    i = sub.add_parser("init", help="create an empty transcripts lake table")
    i.add_argument("--table", required=True)
    i.add_argument("--buckets", type=int, default=64)
    i.add_argument("--files-per-bucket", type=int, default=1)
    i.add_argument(
        "--write-mode", choices=("cow", "mor"), default="cow",
        help="merge strategy: copy-on-write (rewrite touched buckets) or "
             "merge-on-read (append delta manifests; fold with compact-deltas)",
    )

    b = sub.add_parser("backfill", help="phase 1: initial snapshot load")
    b.add_argument("--table", required=True)
    b.add_argument("--snapshot", required=True, help="parquet of payload rows")
    b.add_argument("--lsn", type=int, default=0)

    t = sub.add_parser("tail", help="phase 2: checkpointed CDC tail → merge")
    t.add_argument("--table", required=True)
    t.add_argument("--source", required=True)
    t.add_argument("--checkpoint", required=True)
    t.add_argument("--query-id", default="cdc-ingest")
    t.add_argument("--follow", action="store_true", help="continuous; else availableNow")
    t.add_argument("--target-lsn", type=int, default=None)
    t.add_argument("--max-files", type=int, default=None)
    t.add_argument(
        "--json-payload", action="store_true",
        help="source events carry a raw JSON `payload` column "
             "(_airbyte_data shape): per-batch schema inference + "
             "ADD-column evolution + typed extraction",
    )
    t.add_argument(
        "--raw-table", default=None,
        help="with --json-payload: ALSO append every envelope row to this "
             "append-only raw LakeTable before typing (reference raw/final "
             "two-table layout; payload bytes never lost, re-typeable via "
             "lake.raw.retype_from_raw)",
    )
    t.add_argument(
        "--mor-delta-budget", type=int, default=None,
        help="merge-on-read tables: fold outstanding delta manifests "
             "whenever they exceed this count (C8 valve; default never)",
    )
    t.add_argument(
        "--max-empty-polls", type=int, default=0,
        help="with --follow: stop + fail after N consecutive no-data "
             "triggers (C10 liveness; 0 = run forever)",
    )

    sn = sub.add_parser(
        "snapshot", help="resumable chunked initial load from a parquet source"
    )
    sn.add_argument("--table", required=True)
    sn.add_argument("--source", required=True, help="parquet of payload rows")
    sn.add_argument("--state", required=True, help="chunk-state dir (resume)")
    sn.add_argument("--pk-col", required=True, help="numeric column to chunk on")
    sn.add_argument("--chunk-size", type=int, default=1_000_000)
    sn.add_argument("--base-lsn", type=int, default=0)

    rt = sub.add_parser(
        "retype",
        help="rebuild a final table from a retained raw envelope table "
             "(reference re-type-from-raw guarantee)",
    )
    rt.add_argument("--raw-table", required=True)
    rt.add_argument("--out-table", required=True, help="fresh final table path")
    rt.add_argument(
        "--schema-json", default=None,
        help="optional Spark StructType JSON for the new typing decision; "
             "omitted = re-derive (exact keys + sampled types)",
    )
    rt.add_argument("--buckets", type=int, default=16)

    s = sub.add_parser("show", help="print final table rows")
    s.add_argument("--table", required=True)
    s.add_argument("--limit", type=int, default=20)
    s.add_argument("--tag", default=None, help="read the tagged snapshot")

    h = sub.add_parser("history", help="print snapshot history")
    h.add_argument("--table", required=True)

    dw = sub.add_parser(
        "delete-where", help="predicate delete as CDC tombstones (purge)"
    )
    dw.add_argument("--table", required=True)
    dw.add_argument("--where", required=True, help="SQL predicate over payload columns")
    dw.add_argument("--batch-id", type=int, default=None,
                    help="idempotency id: replaying the same id skips")

    sy = sub.add_parser(
        "sync", help="catch a replica table up from a primary's changelog"
    )
    sy.add_argument("--table", required=True, help="replica table path")
    sy.add_argument("--from", dest="source", required=True, help="primary table path")
    sy.add_argument("--since-version", type=int, required=True)
    sy.add_argument("--batch-id", type=int, default=None)

    lk = sub.add_parser(
        "lookup", help="bucket-pruned point lookup of specific keys"
    )
    lk.add_argument("--table", required=True)
    lk.add_argument(
        "--keys", required=True,
        help="comma-separated key values; composite keys use ':' "
        "(e.g. conv-1:3,conv-2:0)",
    )
    lk.add_argument(
        "--columns", default=None,
        help="comma-separated columns the key values bind to "
        "(default: the table's bucket keys)",
    )

    tg = sub.add_parser(
        "tag", help="named snapshot pins: tagged versions survive expire"
    )
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", default=None, help="tag to create/move")
    tg.add_argument("--version", type=int, default=None,
                    help="version to pin (default: current)")
    tg.add_argument("--drop", default=None, help="tag to remove")
    tg.add_argument("--list", action="store_true", help="print all tags")

    rbk = sub.add_parser(
        "rollback",
        help="restore table state to an earlier version/tag as a NEW "
             "head commit (metadata-only; history stays linear)",
    )
    rbk.add_argument("--table", required=True)
    rbk.add_argument("--version", type=int, default=None)
    rbk.add_argument("--tag", default=None)

    au = sub.add_parser(
        "audit",
        help="audit a (staged) version: rows, pk dups, null pks, row "
             "delta vs parent (write-audit-publish read half)",
    )
    au.add_argument("--table", required=True)
    au.add_argument("--version", type=int, default=None)

    pb = sub.add_parser(
        "publish",
        help="atomically publish a staged snapshot (write-audit-publish)",
    )
    pb.add_argument("--table", required=True)
    pb.add_argument("--version", type=int, required=True)

    ab = sub.add_parser(
        "abandon", help="delete a staged snapshot that failed its audit"
    )
    ab.add_argument("--table", required=True)
    ab.add_argument("--version", type=int, required=True)

    c = sub.add_parser("compact", help="rewrite fragmented buckets")
    c.add_argument("--table", required=True)
    c.add_argument("--min-files", type=int, default=2)

    cd = sub.add_parser(
        "compact-deltas",
        help="fold outstanding merge-on-read deltas into the base "
             "(rewrites only delta-touched buckets)",
    )
    cd.add_argument("--table", required=True)

    rb = sub.add_parser(
        "rebucket",
        help="change the bucket layout (partition evolution): one atomic "
             "full rewrite into --buckets x --files-per-bucket",
    )
    rb.add_argument("--table", required=True)
    rb.add_argument("--buckets", type=int, required=True)
    rb.add_argument("--files-per-bucket", type=int, default=None)

    cg = sub.add_parser(
        "changes",
        help="changelog scan: net i/u/d rows between --since-version and "
             "the current version (downstream replica catch-up feed)",
    )
    cg.add_argument("--table", required=True)
    cg.add_argument("--since-version", type=int, required=True)
    cg.add_argument("--out", default=None, help="parquet dir (else print)")
    cg.add_argument("--limit", type=int, default=20)

    e = sub.add_parser(
        "expire", help="drop old snapshots; optionally sweep orphan files"
    )
    e.add_argument("--table", required=True)
    e.add_argument("--retain-last", type=int, default=2)
    e.add_argument("--remove-orphans", action="store_true")
    e.add_argument(
        "--orphan-min-age-sec", type=float, default=3 * 24 * 3600,
        help="never sweep files younger than this (in-flight-writer guard)",
    )

    mon = sub.add_parser(
        "monitor",
        help="stateful per-conversation sequence monitor over a WAL "
             "(applyInPandasWithState; gaps/regressions/deletes per key)",
    )
    mon.add_argument("--source", required=True)
    mon.add_argument("--checkpoint", required=True)
    mon.add_argument("--out", required=True, help="parquet dir for update rows")
    mon.add_argument("--max-files", type=int, default=None)
    mon.add_argument(
        "--idle-timeout-ms", type=int, default=None,
        help="evict conversations idle this long (expired=true final row)",
    )

    gct = sub.add_parser("gc-tombstones", help="drop tombstones below an LSN")
    gct.add_argument("--table", required=True)
    gct.add_argument("--watermark", type=int, required=True)

    ce = sub.add_parser(
        "corpus-export",
        help="training-corpus export: final state → PII scrub → assembled "
             "documents → quality gate → parquet (the oracle-checked "
             "corpus_export semantics, operable)",
    )
    ce.add_argument("--table", required=True)
    ce.add_argument("--out", required=True, help="parquet dir for documents")
    ce.add_argument("--no-redact", action="store_true")
    ce.add_argument("--min-turns", type=int, default=2)
    ce.add_argument("--max-turns", type=int, default=30)
    ce.add_argument("--min-tokens", type=int, default=5)
    ce.add_argument(
        "--decontaminate", metavar="PARQUET",
        help="parquet of held-out benchmark docs; drop exported documents "
             "sharing any word n-gram with them (broadcast gram set)",
    )
    ce.add_argument("--bench-text-col", default="text")
    ce.add_argument("--decon-k", type=int, default=3)
    ce.add_argument(
        "--sample-rate", type=float, default=None,
        help="keep this fraction of conversations by the deterministic "
             "md5 hash threshold (the sampled set is a pure function of "
             "conv_id — stable across reruns and refreshes)",
    )
    ce.add_argument(
        "--pack-max-tokens", type=int, default=None,
        help="export context windows of at most this many whitespace "
             "tokens instead of whole conversations (adds a window_id "
             "column; gating stays conversation-level)",
    )
    ce.add_argument(
        "--dedup-threshold", type=float, default=None,
        help="drop near-duplicate conversations (word n-gram Jaccard at "
             "or above this threshold; pairs → connected components → "
             "keep one per cluster).  Runs on whole-conversation "
             "documents even when --pack-max-tokens is set.  Full-export "
             "stage: the incremental refresh covers cross-batch dups via "
             "the persisted LSH index instead",
    )
    ce.add_argument(
        "--shuffle-shards", type=int, default=None,
        help="write the corpus as this many deterministically shuffled "
             "shards (shard=h31(id)%%N dirs, rows ordered by md5(id) "
             "within each — trainers read shard files sequentially and "
             "the read order is a reproducible global shuffle; size N at "
             "or above the cluster's core count)",
    )

    rc = sub.add_parser(
        "refresh-corpus",
        help="incremental corpus refresh: re-assemble ONLY conversations "
             "with a winner after --cursor (read_since-fed; O(touched "
             "convs), never O(table))",
    )
    rc.add_argument("--table", required=True)
    rc.add_argument("--out", required=True, help="parquet dir for documents")
    rc.add_argument("--cursor", type=int, required=True)
    # same scrub/gate knobs as corpus-export: refresh output must union
    # cleanly with (and be gated identically to) the base export
    rc.add_argument("--no-redact", action="store_true")
    rc.add_argument("--min-turns", type=int, default=2)
    rc.add_argument("--max-turns", type=int, default=30)
    rc.add_argument("--min-tokens", type=int, default=5)
    rc.add_argument("--decontaminate", metavar="PARQUET")
    rc.add_argument("--bench-text-col", default="text")
    rc.add_argument("--decon-k", type=int, default=3)
    rc.add_argument("--sample-rate", type=float, default=None)
    rc.add_argument("--pack-max-tokens", type=int, default=None)
    rc.add_argument(
        "--shuffle-shards", type=int, default=None,
        help="annotate + lay out the refreshed documents in the same "
             "deterministic shard/order scheme as the base export (the "
             "assignment is a pure function of the example id, so each "
             "refreshed example lands in exactly the shard and position "
             "a full re-export would give it)",
    )

    ms = sub.add_parser(
        "merge-shards",
        help="fold a sharded refresh-corpus delta into an existing "
             "sharded corpus IN PLACE: rewrites only the shard=K dirs "
             "holding touched conversations (O(touched shards), never "
             "O(corpus)); after the merge the base equals a full "
             "re-export at the table's current version",
    )
    ms.add_argument("--base", required=True,
                    help="existing corpus-export --shuffle-shards dir")
    ms.add_argument("--delta", required=True,
                    help="refresh-corpus --shuffle-shards output")
    ms.add_argument("--table", required=True)
    ms.add_argument(
        "--cursor", type=int, required=True,
        help="the LSN cursor the delta was refreshed from — the merge "
             "derives the touched-conversation set from read_since at "
             "this cursor, so conversations that dropped below the "
             "quality gate are REMOVED, not just upserted",
    )

    args = ap.parse_args(argv)
    spark = get_spark(app_name=f"acs-{args.cmd}")

    if args.cmd == "gen":
        ev = change_events(
            spark,
            args.events,
            n_convs=args.convs or max(args.events // 15, 100),
            hot_fraction=args.hot_fraction,
            seed=args.seed,
        )
        chunks = write_event_chunks(ev, args.out, n_chunks=args.chunks)
        print(json.dumps({"segments": len(chunks), "events": args.events}))
    elif args.cmd == "init":
        t_ = LakeTable.create(
            spark,
            args.table,
            TRANSCRIPT_SCHEMA,
            num_buckets=args.buckets,
            files_per_bucket=args.files_per_bucket,
            write_mode=args.write_mode,
        )
        print(json.dumps({"table": args.table, "version": t_.version}))
    elif args.cmd == "backfill":
        t_ = LakeTable.load(spark, args.table)
        snap = spark.read.parquet(args.snapshot)
        v = backfill(spark, t_, snap, lsn=args.lsn)
        print(json.dumps({"version": v, "rows": t_.read().count()}))
    elif args.cmd == "tail":
        from airbyte_custom_spark.streaming.pipeline import JsonCdcIngestJob

        cfg = IngestConfig(
            query_id=args.query_id,
            max_files_per_trigger=args.max_files,
            mor_delta_budget=args.mor_delta_budget,
        )
        job_cls = JsonCdcIngestJob if args.json_payload else CdcIngestJob
        extra = {}
        if args.json_payload and args.raw_table:
            extra["raw_table_path"] = args.raw_table
        elif args.raw_table:
            ap.error("--raw-table requires --json-payload")
        job = job_cls(
            spark, args.table, args.source, args.checkpoint, cfg,
            target_lsn=args.target_lsn, **extra,
        )
        if args.follow and args.max_empty_polls > 0:
            job.run_continuous(
                timeout_sec=float("inf"),
                max_empty_polls=args.max_empty_polls,
            )
        elif args.follow:
            q = job.start()
            q.awaitTermination()
        else:
            m = job.run_available_now()
            print(
                json.dumps(
                    {
                        "events": m.total_events,
                        "seconds": round(m.total_seconds, 3),
                        "events_per_sec": round(m.overall_events_per_sec, 1),
                        "batches": len(m.batches),
                    }
                )
            )
    elif args.cmd == "retype":
        from pyspark.sql import types as T_

        from airbyte_custom_spark.lake.raw import retype_from_raw

        schema = None
        if args.schema_json:
            schema = T_.StructType.fromJson(json.loads(args.schema_json))
        raw_t = LakeTable.load(spark, args.raw_table)
        final = retype_from_raw(
            raw_t, args.out_table, payload_schema=schema, num_buckets=args.buckets
        )
        print(
            json.dumps(
                {
                    "out_table": args.out_table,
                    "rows": final.read().count(),
                    "columns": final.payload_columns,
                }
            )
        )
    elif args.cmd == "monitor":
        import time as _time

        from airbyte_custom_spark.schema import CDC_EVENT_SCHEMA
        from airbyte_custom_spark.streaming.stateful import sequence_monitor

        reader = spark.readStream.schema(CDC_EVENT_SCHEMA)
        if args.max_files:
            reader = reader.option("maxFilesPerTrigger", str(args.max_files))
        stream = reader.parquet(args.source)
        q = (
            sequence_monitor(stream, idle_timeout_ms=args.idle_timeout_ms)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(args.out)
            )
            .outputMode("update")
            .option("checkpointLocation", args.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if args.idle_timeout_ms:
            # armed timers keep availableNow alive with empty batches
            # (see streaming/stateful.py) — stop once the data drained
            deadline = _time.time() + 3600
            while _time.time() < deadline:
                pr = q.recentProgress
                if pr and all(p["numInputRows"] == 0 for p in pr[-3:]) and any(
                    p["numInputRows"] > 0 for p in pr
                ):
                    break
                _time.sleep(1.0)
            q.stop()
        q.awaitTermination(3600)
        rows = spark.read.parquet(args.out)
        print(
            json.dumps(
                {
                    "update_rows": rows.count(),
                    "conversations": rows.select("conv_id").distinct().count(),
                    "out": args.out,
                }
            )
        )
    elif args.cmd == "show":
        t_ = LakeTable.load(spark, args.table, tag=args.tag)
        t_.read().orderBy("conv_id", "turn_idx").show(args.limit, truncate=False)
    elif args.cmd == "delete-where":
        t_ = LakeTable.load(spark, args.table)
        before = t_.read().count()
        r = t_.delete_where(args.where, batch_id=args.batch_id)
        print(json.dumps({
            "version": r.version,
            "skipped": r.skipped,
            "deleted_rows": None if r.skipped else before - t_.read().count(),
        }))
    elif args.cmd == "sync":
        primary = LakeTable.load(spark, args.source)
        replica = LakeTable.load(spark, args.table)
        feed = primary.changes_since(args.since_version)
        r = replica.apply_changes(feed, batch_id=args.batch_id)
        print(json.dumps({
            "replica_version": r.version,
            "skipped": r.skipped,
            "primary_version": primary.version,
        }))
    elif args.cmd == "lookup":
        t_ = LakeTable.load(spark, args.table)
        cols = tuple(
            args.columns.split(",") if args.columns
            else t_.snapshot["bucket_keys"]
        )
        by_name = {f.name: f.dataType for f in t_.schema().fields}

        def coerce(col: str, v: str):
            tn = by_name[col].typeName()
            if tn in ("integer", "long", "short"):
                return int(v)
            if tn in ("double", "float"):
                return float(v)
            return v

        keys = [
            tuple(coerce(c, v) for c, v in zip(cols, raw.split(":")))
            for raw in args.keys.split(",")
        ]
        t_.lookup(keys, columns=cols).orderBy(*t_.primary_key).show(
            1000, truncate=False
        )
    elif args.cmd == "tag":
        t_ = LakeTable.load(spark, args.table)
        if args.drop:
            t_.drop_tag(args.drop)
            print(json.dumps({"dropped": args.drop, "tags": t_.tags()}))
        elif args.name:
            v = t_.tag(args.name, version=args.version)
            print(json.dumps({"tag": args.name, "version": v}))
        else:
            print(json.dumps({"tags": t_.tags()}))
    elif args.cmd == "rollback":
        t_ = LakeTable.load(spark, args.table)
        v = t_.rollback(version=args.version, tag=args.tag)
        print(json.dumps({
            "rolled_back_to": t_.snapshot.get("rollback_of", v),
            "new_head": v,
        }))
    elif args.cmd == "audit":
        t_ = LakeTable.load(spark, args.table)
        print(json.dumps(t_.audit(version=args.version), default=str))
    elif args.cmd == "publish":
        t_ = LakeTable.load(spark, args.table)
        print(json.dumps({"published": t_.publish(args.version)}))
    elif args.cmd == "abandon":
        t_ = LakeTable.load(spark, args.table)
        print(json.dumps(t_.abandon_staged(args.version)))
    elif args.cmd == "history":
        t_ = LakeTable.load(spark, args.table)
        print(json.dumps(t_.history(), indent=1, default=str))
    elif args.cmd == "snapshot":
        from airbyte_custom_spark.sources.jdbc import chunk_predicates
        from airbyte_custom_spark.sources.snapshot import ChunkedSnapshotJob

        t_ = LakeTable.load(spark, args.table)
        src = spark.read.parquet(args.source)
        pk_field = next((f for f in src.schema.fields if f.name == args.pk_col), None)
        if pk_field is None:
            ap.error(f"--pk-col {args.pk_col!r} not found in {args.source}")
        if pk_field.dataType.typeName() not in ("integer", "long", "short", "byte"):
            ap.error(
                f"--pk-col {args.pk_col!r} is {pk_field.dataType.simpleString()} — "
                "chunked snapshot requires an integral chunking column"
            )
        bounds = src.selectExpr(
            f"min({args.pk_col}) lo", f"max({args.pk_col}) hi"
        ).first()
        if bounds["lo"] is None or bounds["hi"] is None:
            # empty source: nothing to snapshot — succeed with zero chunks
            # instead of an opaque int(None) TypeError
            print(
                json.dumps(
                    {
                        "chunks_total": 0,
                        "chunks_applied_this_run": 0,
                        "chunks_completed": 0,
                    }
                )
            )
            if stop_session:
                spark.stop()
            return 0
        preds = chunk_predicates(
            args.pk_col, int(bounds["lo"]), int(bounds["hi"]), args.chunk_size
        )
        sjob = ChunkedSnapshotJob(
            t_,
            lambda p: src.filter(p).drop(args.pk_col)
            if args.pk_col not in t_.payload_columns
            else src.filter(p),
            preds,
            args.state,
            base_lsn=args.base_lsn,
        )
        print(json.dumps(sjob.run()))
    elif args.cmd == "compact":
        t_ = LakeTable.load(spark, args.table)
        v = t_.compact(min_files_per_bucket=args.min_files)
        print(json.dumps({"compacted_to_version": v}))
    elif args.cmd == "compact-deltas":
        t_ = LakeTable.load(spark, args.table)
        v = t_.compact_deltas()
        print(json.dumps({"compacted_to_version": v, "stats": t_.stats()}))
    elif args.cmd == "rebucket":
        t_ = LakeTable.load(spark, args.table)
        v = t_.rebucket(args.buckets, files_per_bucket=args.files_per_bucket)
        print(json.dumps({"rebucketed_to_version": v, "stats": t_.stats()}))
    elif args.cmd == "changes":
        t_ = LakeTable.load(spark, args.table)
        ch = t_.changes_since(args.since_version)
        if args.out:
            ch.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                              "out": args.out}))
        else:
            ch.show(args.limit, truncate=False)
    elif args.cmd == "expire":
        t_ = LakeTable.load(spark, args.table)
        stats = t_.expire_snapshots(
            retain_last=args.retain_last,
            remove_orphans=args.remove_orphans,
            orphan_min_age_sec=args.orphan_min_age_sec,
        )
        print(json.dumps(stats))
    elif args.cmd == "gc-tombstones":
        t_ = LakeTable.load(spark, args.table)
        v = t_.gc_tombstones(lsn_watermark=args.watermark)
        print(json.dumps({"version": v}))
    elif args.cmd == "corpus-export":
        from airbyte_custom_spark.functions.corpus import assemble_corpus

        t_ = LakeTable.load(spark, args.table)
        docs = assemble_corpus(
            t_.read(),
            redact=not args.no_redact,
            min_turns=args.min_turns,
            max_turns=args.max_turns,
            min_tokens=args.min_tokens,
            sample_rate=args.sample_rate,
            pack_max_tokens=args.pack_max_tokens,
        )
        deduped = 0
        if args.dedup_threshold:
            from airbyte_custom_spark.functions.corpus import corpus_dup_ids

            # dedup decides on WHOLE-conversation documents; when the
            # export itself is packed, the drop set comes from a second
            # unpacked assembly and anti-joins the packed output
            whole = (
                docs
                if args.pack_max_tokens is None
                else assemble_corpus(
                    t_.read(),
                    redact=not args.no_redact,
                    min_turns=args.min_turns,
                    max_turns=args.max_turns,
                    min_tokens=args.min_tokens,
                    sample_rate=args.sample_rate,
                )
            )
            drop = corpus_dup_ids(
                whole, threshold=args.dedup_threshold
            ).persist()
            deduped = drop.count()  # conversations dropped as near-dups
            # same guard as functions.corpus.dedup_corpus: the drop set
            # is O(dup rate × corpus) — broadcast only when measured
            # small, else a key-only shuffled anti join
            right = F.broadcast(drop) if deduped <= 10_000_000 else drop
            docs = docs.join(right, "conv_id", "left_anti")
        dropped = 0
        gated = None
        if args.decontaminate:
            from airbyte_custom_spark.functions.corpus import (
                decontaminate_corpus,
            )

            bench = spark.read.parquet(args.decontaminate)
            gated = docs.persist()
            before = gated.count()
            docs = decontaminate_corpus(
                gated, bench,
                bench_text_col=args.bench_text_col, k=args.decon_k,
            )
            dropped = before - docs.count()
        _write_corpus(docs, args.out, args.shuffle_shards,
                      packed=args.pack_max_tokens is not None)
        if gated is not None:
            gated.unpersist()
        out = spark.read.parquet(args.out)
        print(json.dumps({
            "out": args.out,
            "documents": out.count(),
            "total_tokens": out.agg(F.sum("total_tokens")).first()[0],
            "deduped": deduped,
            "decontaminated": dropped,
            "shards": args.shuffle_shards or 0,
            "table_version": t_.version,
        }))
    elif args.cmd == "refresh-corpus":
        from airbyte_custom_spark.functions.corpus import refresh_corpus

        t_ = LakeTable.load(spark, args.table)
        docs = refresh_corpus(
            t_,
            args.cursor,
            redact=not args.no_redact,
            min_turns=args.min_turns,
            max_turns=args.max_turns,
            min_tokens=args.min_tokens,
            sample_rate=args.sample_rate,
            pack_max_tokens=args.pack_max_tokens,
        )
        if args.decontaminate:
            from airbyte_custom_spark.functions.corpus import (
                decontaminate_corpus,
            )

            docs = decontaminate_corpus(
                docs, spark.read.parquet(args.decontaminate),
                bench_text_col=args.bench_text_col, k=args.decon_k,
            )
        _write_corpus(docs, args.out, args.shuffle_shards,
                      packed=args.pack_max_tokens is not None)
        print(json.dumps({
            "out": args.out,
            "documents": spark.read.parquet(args.out).count(),
            "cursor": args.cursor,
            "shards": args.shuffle_shards or 0,
            "table_version": t_.version,
        }))
    elif args.cmd == "merge-shards":
        import os
        import shutil
        from urllib.parse import urlparse

        # the in-place swap below uses os/shutil renames, which only see
        # the LOCAL filesystem: on s3a://, hdfs://, ... os.path.isdir()
        # is always False, so the loop would silently do nothing while
        # still printing a success JSON — reject loudly instead (use a
        # Hadoop-FileSystem-rename port of the swap for object stores)
        if urlparse(args.base).scheme not in ("", "file"):
            raise ValueError(
                f"merge-shards swaps shard dirs with local renames; base "
                f"{args.base!r} is not a local path — refusing (the base "
                "corpus would be left stale while the command reports "
                "success)"
            )
        # recover an interrupted previous swap BEFORE reading the base:
        # shard=K.old is the pre-swap data (the swap renames aside first,
        # moves the staged dir in second, deletes asides last) — if the
        # staged dir never landed, restore the aside; if it did, the
        # aside is a leftover, drop it.  After recovery the base is a
        # consistent corpus and a re-run converges.
        for e in sorted(os.listdir(args.base)):
            if e.startswith("shard=") and e.endswith(".old"):
                aside = os.path.join(args.base, e)
                target = os.path.join(args.base, e[: -len(".old")])
                if os.path.isdir(target):
                    shutil.rmtree(aside)
                else:
                    os.rename(aside, target)

        t_ = LakeTable.load(spark, args.table)
        base = spark.read.parquet(args.base)
        try:
            delta = spark.read.parquet(args.delta)
            delta.schema  # force analysis
        except Exception as e:
            # a delete-only refresh writes an EMPTY partitioned dir
            # (just _SUCCESS) — schema inference fails, but the removal
            # path below must still run so gate-dropped conversations
            # leave the corpus; substitute an empty delta.  ONLY that
            # case: any other read failure (mistyped path, permissions,
            # corrupt files) must abort loudly — swallowing it would
            # silently delete every touched conversation from the base
            # while reporting success.
            if "UNABLE_TO_INFER_SCHEMA" not in str(e):
                raise
            delta = spark.createDataFrame([], base.schema)
        # touched convs come from the TABLE, not the delta: a conversation
        # that fell below the quality gate after the refresh has no delta
        # row but must still leave the corpus
        touched = t_.read_since(args.cursor).select("conv_id").distinct()
        # shards to rewrite = shards currently holding touched convs
        # (column-pruned conv_id+shard scan of the base — the only base
        # read outside the rewrite set) ∪ shards the delta lands in;
        # bounded by n_shards, so the collect is metadata-sized
        shards = sorted(
            r[0]
            for r in base.join(touched, "conv_id", "leftsemi")
            .select("shard")
            .union(delta.select("shard"))
            .distinct()
            .collect()
        )
        keep = base.filter(F.col("shard").isin(shards)).join(
            touched, "conv_id", "left_anti"
        )
        merged = keep.unionByName(delta)
        staging = args.base.rstrip("/") + ".staging"
        id_cols = ["conv_id"] + (
            ["window_id"] if "window_id" in merged.columns else []
        )
        (
            merged.repartition(max(len(shards), 1), "shard")
            # same (shuffle_key, id) tiebreak as _write_corpus, so the
            # merged base stays byte-order-identical to a full re-export
            # even on an md5 collision
            .sortWithinPartitions("shard", "shuffle_key", *id_cols)
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(staging)
        )
        # swap ONLY the rewritten shard dirs — untouched shards keep
        # their files byte-identical (a dir move, not a data rewrite).
        # Crash-safe ordering: rename every old dir ASIDE first (atomic
        # dir rename — pre-swap data is never deleted before its
        # replacement is in place), then move the staged dirs in, and
        # delete the asides only after every move landed; the recovery
        # pass at command start makes a re-run after a crash at any point
        # converge.  A shard in the rewrite set with NO staged dir is a
        # legitimately emptied shard (every conv dropped), not an error —
        # the staging write itself is local (guarded above) and complete
        # (mode=overwrite finished).
        asides: list[str] = []
        for k in shards:
            old = os.path.join(args.base, f"shard={k}")
            if os.path.isdir(old):
                os.rename(old, old + ".old")
                asides.append(old + ".old")
        for k in shards:
            old = os.path.join(args.base, f"shard={k}")
            new = os.path.join(staging, f"shard={k}")
            if os.path.isdir(new):
                shutil.move(new, old)
        for a in asides:
            shutil.rmtree(a)
        shutil.rmtree(staging, ignore_errors=True)
        print(json.dumps({
            "base": args.base,
            "rewritten_shards": len(shards),
            "delta_documents": delta.count(),
            "cursor": args.cursor,
            "table_version": t_.version,
        }))
    if stop_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

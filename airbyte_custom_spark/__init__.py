"""airbyte_custom_spark — a from-scratch PySpark-native CDC / incremental
ingest engine with the replication semantics of the reference Airbyte fork
(``dinhphuc-dan/airbyte-custom``, Airbyte OSS 0.50.29), re-expressed
Spark-first.

What the reference computes (see SURVEY.md):
  snapshot + log-tail a source, emit ordered change events, checkpoint
  offsets, and apply events to a destination table with append / overwrite /
  append-dedup (upsert + CDC delete) semantics, schema evolution, and
  effective exactly-once delivery.

What this package provides:
  - ``sources``    : deterministic synthetic binlog-shaped change-event
                     generators (bounded + streaming file tail), chunked
                     snapshot scans, cursor scans.
  - ``operators``  : typed casting with per-row error capture, CDC metadata
                     injection, latest-per-key reduction (one window top-1
                     with a map-side partial), primary-key validation,
                     name normalization, schema diff/evolution.
  - ``lake``       : a minimal snapshot-based lake table ("LakeTable") on
                     parquet — atomic versioned commits, bucketed
                     copy-on-write MERGE with bucket pruning, idempotent
                     batch manifests, schema evolution, time travel,
                     compaction.  (The sandbox has no Iceberg runtime jar;
                     LakeTable reproduces the Iceberg-sink semantics the
                     reference relies on — `destination-iceberg/.../
                     IcebergConsumer.java:140-224` — with the same atomic
                     commit + merge contract, behind a small API so a real
                     Iceberg catalog can be swapped in.)
  - ``streaming``  : Structured-Streaming ingest job (foreachBatch →
                     validate → cast → reduce → merge), checkpoint resume,
                     per-partition lineage + throughput metrics.
  - ``functions``  : training-data pipeline ops over document / embedding
                     tables — exact & near dedup (MinHash-LSH, SimHash,
                     n-gram Jaccard, embedding cosine), ANN similarity
                     search, text quality/language/token analysis,
                     multimodal binary-column plumbing.
"""

__version__ = "0.1.0"

from airbyte_custom_spark.session import get_spark  # noqa: F401

"""endor_blockchain_data_pipeline_spark — a from-scratch PySpark-native CDC /
incremental-ingest engine.

Re-expresses the capabilities of the reference repo
(StandardLaw/endor-blockchain-data-pipeline, a Scala/Spark-2.3 batch CDC
pipeline: watermarked change-feed tail -> decode -> enrich -> parquet lake
append with idempotent re-runs) as an idiomatic PySpark 4.x engine over
conversation-transcript mutations:

- WAL/binlog-style change feed ``(lsn, op, conv_id, turn_idx, payload, ts)``
  (analog of the reference ``summaries(data, id, blockNumber)`` table,
  ``pipeline/src/test/resources/com/endor/blockchain/ethereum/db/001_init.sql``)
- high-watermark ranged scans (``BlockSummaryPipeline.scala:61-84``)
- vectorized change-record decode (``BlockSummaryPipeline.scala:90-94`` done
  as JVM ``from_json`` instead of per-row objects)
- LWW key-partitioned merge-on-read append into a manifest-based bucketed
  Parquet lake, compacted per bucket (replaces delete-inbox-then-append,
  ``FileSystemDatasetStore.scala:12-28``)
- exactly-once apply via atomic per-batch commit manifests + checkpointed
  offsets; additive schema evolution; per-partition lineage metrics.

Everything is DataFrame/Catalyst-first: no RDDs, no per-row Python.
"""

from endor_blockchain_data_pipeline_spark.session import get_spark, stop_spark

__all__ = ["get_spark", "stop_spark"]
__version__ = "0.1.0"

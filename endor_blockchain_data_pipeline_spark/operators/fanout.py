"""E2 multi-sink fan-out: one decoded batch feeds several tables.

Reference parity: the reference parses the raw block feed ONCE, caches the
parse, and writes three datasets off it — blocks, transactions and the
stats rollup (``blocksummaries/BlockSummaryPipeline.scala:90-97,121-134``,
the ``parsed.cache()`` + three ``store.store(...)`` calls). The engine
analog: decode the batch's LWW winners once, ``persist()`` the decoded
frame, and commit three outputs under the SAME batch id:

- **state**   — the transcript-turn LWW table (the main CDC sink);
- **tool**    — side table of turns that invoked a tool (the reference's
  "transactions" extraction: a filtered projection of the same parse);
- **stats**   — per-(conv, batch) change aggregates (the reference's
  ElasticsearchDataStatsReporter rollup, landed as a table).

Exactly-once composes per sink: each ManifestTable keeps its own committed
batch-id registry, so a crash between commits re-runs ONLY the missing
sinks on replay (the already-committed ones skip). All three sinks are MoR
appends — mutually independent — so the fan-out stays pipelinable exactly
like single-sink batches.

Scale: the persist is MEMORY_AND_DISK of the *winner* rows only (post
within-batch dedup — the decode fan-in already collapsed update-heavy
feeds), and every downstream sink reads the InMemoryTableScan instead of
re-running feed scan + JSON decode + normalization: N sinks cost one decode
pass + N cheap projections, not N decode passes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.operators.merge import (
    changes_to_state,
    commit_staged_batch,
    lww_winner_rows,
)
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable, bucket_expr


def tool_calls_view(decoded: DataFrame) -> DataFrame:
    """The tool side-output: winner turns that carry a tool invocation.

    Delete winners never carry a payload, so the non-null filter drops them
    by construction."""
    return decoded.where(F.col("tool").isNotNull())


def conv_stats_view(decoded: DataFrame, batch_id: str) -> DataFrame:
    """Per-(conv, batch) change aggregates off the decoded winners.

    One row per conversation touched by the batch — an append-only fact
    keyed (conv_id, batch_id), so generations never collide on read."""
    return decoded.groupBy("conv_id").agg(
        F.count("*").alias("n_turns_changed"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
        F.max("lsn").alias("max_lsn"),
        F.max("_mts").alias("max_mts"),
    ).withColumn("batch_id", F.lit(batch_id))


def _stats_to_state(stats: DataFrame, batch_id: str) -> DataFrame:
    """Internal-column dressing for the stats fact table: _lsn = the conv's
    max lsn in this batch (unique per (conv, batch) key), no tombstones."""
    return stats.select(
        "conv_id",
        "batch_id",
        "n_turns_changed",
        "n_deletes",
        F.col("max_lsn").alias("_lsn"),
        F.col("max_mts").alias("_mts"),
        F.lit(False).alias("_deleted"),
        F.lit(batch_id).alias("_batch"),
    )


def fanout_batch(
    raw: DataFrame,
    batch_id: str,
    lsn_lo: int,
    lsn_hi: int,
    state_table: ManifestTable,
    tool_table: ManifestTable,
    stats_table: ManifestTable,
    lineage=None,
    est_rows: int | None = None,
) -> dict:
    """Apply one raw WAL batch to three sinks off a single decode.

    Returns {"state": manifest|None, "tool": ..., "stats": ...} — None for
    sinks that had already committed this batch (idempotent replay skip).
    ``est_rows`` bounds the batch's rows, so it bounds every sink's rows
    too (each is a filter or per-conv aggregate of the winners).
    """
    pending = {
        name: t
        for name, t in (
            ("state", state_table), ("tool", tool_table), ("stats", stats_table)
        )
        if batch_id not in t.committed_batches()
    }
    results: dict[str, dict | None] = {"state": None, "tool": None, "stats": None}
    if not pending:
        return results

    winners = lww_winner_rows(raw, est_rows=est_rows)
    decoded = decode_changes(winners).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if "state" in pending:
            new_state = changes_to_state(decoded, batch_id).withColumn(
                "_bucket", bucket_expr(state_table.bucket_key, state_table.n_buckets)
            )
            staged = state_table.stage(new_state, batch_id, est_rows=est_rows)
            results["state"] = commit_staged_batch(
                state_table, staged, batch_id, lsn_lo, lsn_hi, lineage=lineage
            )
        if "tool" in pending:
            tool_state = changes_to_state(tool_calls_view(decoded), batch_id).withColumn(
                "_bucket", bucket_expr(tool_table.bucket_key, tool_table.n_buckets)
            )
            staged = tool_table.stage(tool_state, batch_id, est_rows=est_rows)
            results["tool"] = commit_staged_batch(
                tool_table, staged, batch_id, lsn_lo, lsn_hi
            )
        if "stats" in pending:
            stats_state = _stats_to_state(
                conv_stats_view(decoded, batch_id), batch_id
            ).withColumn(
                "_bucket", bucket_expr(stats_table.bucket_key, stats_table.n_buckets)
            )
            staged = stats_table.stage(stats_state, batch_id, est_rows=est_rows)
            results["stats"] = commit_staged_batch(
                stats_table, staged, batch_id, lsn_lo, lsn_hi
            )
    finally:
        decoded.unpersist()
    return results

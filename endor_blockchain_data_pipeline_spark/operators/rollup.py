"""Continuous time-bucketed aggregate (the "hypertable rollup").

A TimescaleDB-style continuous aggregate on the ManifestTable substrate:
each ingested WAL slice contributes ONE partial-aggregate generation —
``(time_bucket, dims...) -> (count, decimal sums)`` — appended under its
batch id; reads fold the additive partials with a SUM (never LWW), and
periodic compaction replaces many generations with their fold. The rollup
is therefore maintained at O(batch) cost per ingest and answers
aggregate queries without touching the raw events — exactly the
hypertable-rollup contract.

Why partials are sound here: COUNT and decimal-exact SUM are commutative
monoids, so ``fold(partials per batch) == aggregate(all raw rows)``
whatever the batch split (tested). Exactly-once composes from the table's
batch registry: a replayed slice is skipped, so no partial can be counted
twice. Decimal (not float) sums keep the fold order-independent — the same
trick the driver's pricing queries use for cross-engine hashes.

Scale shape: the per-batch partial agg is a map-side-combining
HashAggregate over the slice; the appended generation holds ONE row per
(bucket, dims) touched by the batch, so the rollup table grows with
DISTINCT buckets x batches (bounded by compaction), not with events. Reads
shuffle only the rollup rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable


class ContinuousAggregate:
    """Incrementally-maintained (time_bucket, dims) rollup over a WAL.

    ``value_col`` aggregates as count + decimal(18,2)-exact sum; extend the
    measure list where needed (any commutative monoid folds the same way).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_width: str = "1 hour",
        dims: tuple[str, ...] = ("event_type",),
        ts_col: str = "ts",
        value_col: str = "value",
        n_buckets: int = 8,
    ) -> None:
        self.spark = spark
        self.bucket_width = bucket_width
        self.dims = tuple(dims)
        self.ts_col = ts_col
        self.value_col = value_col
        # semantics="additive": the table itself knows its rows are partial
        # aggregates — ANY reader's default merge is "none" (fold, don't
        # LWW) and the generic LWW compaction paths refuse it outright.
        self.table = ManifestTable(
            path,
            n_buckets=n_buckets,
            key_cols=("bucket_start", *self.dims),
            bucket_key="bucket_start",
            semantics="additive",
        )

    def _partial(self, events: DataFrame) -> DataFrame:
        bucket = F.window(F.col(self.ts_col), self.bucket_width)
        return (
            events.groupBy(bucket.alias("_w"), *[F.col(d) for d in self.dims])
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col(self.value_col).cast("decimal(18,2)")).alias("sum_val"),
            )
            .select(
                F.col("_w.start").alias("bucket_start"),
                *self.dims,
                "n",
                F.col("sum_val").cast("decimal(28,2)").alias("sum_val"),
            )
        )

    def apply_batch(self, events: DataFrame, batch_id: str) -> dict | None:
        """Fold one WAL slice into the rollup (skip if already applied)."""
        if batch_id in self.table.committed_batches():
            return None
        seq = self.table.watermark() + 1
        partial = self._partial(events).select(
            "*",
            F.lit(seq).cast("long").alias("_lsn"),
            F.timestamp_seconds(F.lit(seq)).alias("_mts"),
            F.lit(False).alias("_deleted"),
            F.lit(batch_id).alias("_batch"),
        )
        staged = self.table.stage(partial, batch_id)
        return self.table.commit_staged(staged, batch_id, seq, seq, None, mode="append")

    def read(self) -> DataFrame:
        """The rollup's current answer: partials of every generation folded
        by SUM (merge_strategy="none" — additive, not last-writer-wins)."""
        if self.table.manifest() is None:
            raise FileNotFoundError(f"no committed rollup at {self.table.path}")
        parts = self.table.read(self.spark, merge_strategy="none")
        return (
            parts.groupBy("bucket_start", *self.dims)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_val").cast("decimal(28,2)").alias("sum_val"),
            )
        )

    def compact(self) -> dict | None:
        """Replace all generations with their fold (one row per key).

        Idempotent per watermark, like the CLI's full compaction; reads are
        unchanged before/after (the fold is associative)."""
        batch_id = f"rollup-compact-wm{self.table.watermark()}"
        if batch_id in self.table.committed_batches():
            return None
        seq = self.table.watermark()  # compaction adds no new data
        folded = self.read().select(
            "*",
            F.lit(seq).cast("long").alias("_lsn"),
            F.timestamp_seconds(F.lit(seq)).alias("_mts"),
            F.lit(False).alias("_deleted"),
            F.lit(batch_id).alias("_batch"),
        )
        m = self.table.manifest()
        return self.table.commit(
            folded, batch_id, m["lsn_lo"], self.table.watermark(),
            replaced_buckets=None, stats={"rollup_compaction": True},
        )

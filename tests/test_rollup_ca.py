"""Continuous aggregate (hypertable rollup): incremental == full recompute,
idempotent replay, compaction preserves answers."""

from __future__ import annotations

import pyspark.sql.functions as F

from endor_blockchain_data_pipeline_spark.operators.rollup import ContinuousAggregate

from tests.conftest import assert_df_equal


def _events(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "event_type", "value", "ts")
    )


def _oracle(ev):
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_start"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("sum_val"),
        )
    )


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    ev = _events(spark)
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"))
    for i in range(4):  # four uneven slices
        ca.apply_batch(ev.where(F.col("event_id") % 4 == i), f"s{i}")
    assert_df_equal(ca.read(), _oracle(ev))

    # replay of an already-applied slice is skipped: nothing double-counts
    assert ca.apply_batch(ev.where(F.col("event_id") % 4 == 2), "s2") is None
    assert_df_equal(ca.read(), _oracle(ev))


def test_rollup_compaction_folds_generations(spark, tmp_path):
    ev = _events(spark)
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"))
    for i in range(5):
        ca.apply_batch(ev.where(F.col("event_id") % 5 == i), f"s{i}")
    before = sorted(tuple(r) for r in ca.read().collect())
    assert len(ca.table.multi_gen_buckets(2)) > 0

    ca.compact()
    assert ca.table.multi_gen_buckets(2) == []  # single generation
    after = sorted(tuple(r) for r in ca.read().collect())
    assert after == before
    assert ca.compact() is None  # idempotent per watermark

    # rollup keeps ingesting after compaction; recompute still matches
    more = ev.where(F.col("event_id") % 5 == 0).withColumn(
        "event_id", F.col("event_id") + 1_000_000
    )
    ca.apply_batch(more, "s5")
    assert_df_equal(ca.read(), _oracle(ev.unionByName(more)))


def test_additive_semantics_are_pinned_to_the_table(spark, tmp_path):
    """The rollup table carries semantics='additive' in its manifest: a bare
    reopen auto-folds (never LWW-merges) multi-generation reads, explicit
    LWW strategies are refused, and the generic LWW compaction paths refuse
    the table outright — pointing the CLI's --compact at a rollup can no
    longer silently discard partials."""
    import pytest as _pytest

    from endor_blockchain_data_pipeline_spark.operators.merge import (
        compact,
        compact_buckets,
    )
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    ev = _events(spark)
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"))
    ca.apply_batch(ev.where(F.col("event_id") % 2 == 0), "s0")
    ca.apply_batch(ev.where(F.col("event_id") % 2 == 1), "s1")

    t = ManifestTable(str(tmp_path / "ca"))  # bare reopen adopts semantics
    assert t.semantics == "additive"
    # default (auto) read returns EVERY generation's rows: folding them
    # reproduces the rollup's answer — proof no LWW merge dropped partials
    parts = t.read(spark)
    folded = parts.groupBy("bucket_start", "event_type").agg(
        F.sum("n").alias("n"),
        F.sum("sum_val").cast("decimal(28,2)").alias("sum_val"),
    )
    assert_df_equal(folded, _oracle(ev))
    with _pytest.raises(ValueError, match="ADDITIVE"):
        t.read(spark, merge_strategy="window").collect()
    with _pytest.raises(ValueError, match="semantics"):
        compact_buckets(t, spark, "c1", t.multi_gen_buckets(2))
    with _pytest.raises(ValueError, match="semantics"):
        compact(t, spark, "c2")


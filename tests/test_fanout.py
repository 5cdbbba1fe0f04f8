"""E2 multi-sink fan-out: one decode feeds state + tool + stats tables."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.job import CDCJob, brute_force_state
from endor_blockchain_data_pipeline_spark.operators.fanout import (
    conv_stats_view,
    fanout_batch,
    tool_calls_view,
)
from endor_blockchain_data_pipeline_spark.operators.merge import lww_winner_rows
from endor_blockchain_data_pipeline_spark.plans.explain import physical_plan
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal, ranged_scan
from tests.conftest import assert_df_equal

N = 2000


@pytest.fixture(scope="module")
def wal(spark):
    # tool_from_lsn=0: every upsert payload carries the tool field
    return generate_wal(spark, N, n_convs=32, max_turns=6, seed=7, tool_from_lsn=0).cache()


def _tables(root):
    return (
        ManifestTable(str(root / "state"), n_buckets=4),
        ManifestTable(str(root / "tool"), n_buckets=4),
        ManifestTable(
            str(root / "stats"), n_buckets=4,
            key_cols=("conv_id", "batch_id"), bucket_key="conv_id",
        ),
    )


@pytest.fixture()
def tables(tmp_path):
    return _tables(tmp_path)


def _run_fanout(wal, tables, lo, hi):
    raw = ranged_scan(wal, lo, hi)
    return fanout_batch(
        raw, f"lsn-{lo}-{hi}", lo, hi, *tables, est_rows=hi - lo
    )


def test_fanout_outputs_equal_independent_recomputes(spark, wal, tables):
    state_t, tool_t, stats_t = tables
    for lo, hi in [(-1, 999), (999, N - 1)]:
        res = _run_fanout(wal, tables, lo, hi)
        assert all(res[k] is not None for k in ("state", "tool", "stats"))

    # independent recompute of each sink, straight off the feed (no persist)
    for lo, hi in [(-1, 999), (999, N - 1)]:
        batch_id = f"lsn-{lo}-{hi}"
        decoded = decode_changes(lww_winner_rows(ranged_scan(wal, lo, hi)))
        # state: per-batch winners, as this batch's appended generation
        got_state = state_t.read(spark, with_internal=True, batch_ids=[batch_id])
        exp_state = decoded.select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
            F.col("lsn").alias("_lsn"), "_mts",
            (F.col("op") == "delete").alias("_deleted"),
            F.lit(batch_id).alias("_batch"),
        )
        assert_df_equal(got_state, exp_state)
        # tool side table: only tool-bearing winners
        got_tool = tool_t.read(spark, batch_ids=[batch_id], with_internal=True).drop(
            "_lsn", "_mts", "_deleted", "_batch"
        )
        exp_tool = tool_calls_view(decoded).select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        )
        assert_df_equal(got_tool, exp_tool)
        # stats fact table: per-(conv, batch) aggregates
        got_stats = stats_t.read(spark, batch_ids=[batch_id], with_internal=True).select(
            "conv_id", "batch_id", "n_turns_changed", "n_deletes"
        )
        exp_stats = conv_stats_view(decoded, batch_id).select(
            "conv_id", "batch_id", "n_turns_changed", "n_deletes"
        )
        assert_df_equal(got_stats, exp_stats)


def test_fanout_decode_runs_once(spark, wal, tables):
    """The side-sink projections read the persisted decode (InMemoryTableScan),
    not a fresh feed scan + JSON parse."""
    raw = ranged_scan(wal, -1, 999)
    decoded = decode_changes(lww_winner_rows(raw)).persist()
    try:
        decoded.count()  # materialize the cache like fanout_batch's first sink
        for view in (tool_calls_view(decoded), conv_stats_view(decoded, "b")):
            plan = physical_plan(view)
            assert "InMemoryTableScan" in plan
            # the decode (from_json) must NOT appear above the cache boundary
            assert "from_json" not in plan.split("InMemoryTableScan")[0]
    finally:
        decoded.unpersist()


def test_fanout_partial_replay_fills_only_missing_sinks(spark, wal, tables):
    """Crash-between-commits sim: if only the state sink committed, a replay
    commits tool+stats and SKIPS state (per-sink exactly-once)."""
    state_t, tool_t, stats_t = tables
    res1 = _run_fanout(wal, tables, -1, 999)
    v_state = state_t.current_version()
    # replay the same batch: everything already committed -> all None
    res2 = _run_fanout(wal, tables, -1, 999)
    assert res2 == {"state": None, "tool": None, "stats": None}
    assert state_t.current_version() == v_state

    # next batch: pre-commit only the state sink, then fan out
    raw = ranged_scan(wal, 999, N - 1)
    batch_id = f"lsn-999-{N - 1}"
    from endor_blockchain_data_pipeline_spark.operators.merge import (
        changes_to_state,
        lww_winner_rows as _winners,
    )
    from endor_blockchain_data_pipeline_spark.sources.lake import bucket_expr

    pre = changes_to_state(decode_changes(_winners(raw)), batch_id).withColumn(
        "_bucket", bucket_expr(state_t.bucket_key, state_t.n_buckets)
    )
    state_t.commit(pre, batch_id, 999, N - 1, replaced_buckets=None, mode="append")
    res3 = _run_fanout(wal, tables, 999, N - 1)
    assert res3["state"] is None  # skipped: already committed
    assert res3["tool"] is not None and res3["stats"] is not None


def test_winner_broadcast_guard_switches_to_shuffle_hash(spark, wal):
    """est_rows above WINNER_BROADCAST_ROW_LIMIT must take the shuffle-hash
    join-back (no broadcast, no sort of the feed) with identical winners."""
    from endor_blockchain_data_pipeline_spark.operators import merge as merge_mod

    raw = ranged_scan(wal, -1, 999)
    fast = lww_winner_rows(raw)
    guarded = lww_winner_rows(raw, est_rows=merge_mod.WINNER_BROADCAST_ROW_LIMIT + 1)
    assert "BroadcastHashJoin" in physical_plan(fast)
    gplan = physical_plan(guarded)
    assert "ShuffledHashJoin" in gplan
    assert "BroadcastHashJoin" not in gplan and "SortMergeJoin" not in gplan
    assert_df_equal(fast, guarded)


def test_fanout_loop_compacts_every_sink(spark, wal, tmp_path):
    """The fan-out loop runs the CDC loop's after-commit compaction on every
    sink: at threshold 2, four batches leave no sink with a two-generation
    bucket, the state equals the replay oracle, and the tool and stats reads
    equal those of an uncompacted run."""
    reads = {}
    for threshold in (2, 100):
        state_t, tool_t, stats_t = _tables(tmp_path / f"t{threshold}")
        job = CDCJob(spark, state_t, wal, compact_threshold=threshold)
        res = job.run_fanout_to_watermark(tool_t, stats_t, batch_size=N // 4)
        assert len(res) == 4
        gens = [t.multi_gen_buckets(2) for t in (state_t, tool_t, stats_t)]
        if threshold == 2:
            assert gens == [[], [], []]
            assert_df_equal(
                state_t.read(spark), brute_force_state(decode_changes(wal))
            )
        else:
            assert all(gens), gens  # the uncompacted run does pile up
        reads[threshold] = (tool_t.read(spark), stats_t.read(spark))
    for compacted, uncompacted in zip(reads[2], reads[100]):
        assert_df_equal(compacted, uncompacted)

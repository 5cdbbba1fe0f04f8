"""Plan-shape assertions: scan pushdown and pruning, the winner reduce's
HashAggregate, broadcast dimension joins, whole-stage codegen, top-k."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.operators.merge import lww_winner_rows
from endor_blockchain_data_pipeline_spark.plans.explain import (
    codegen_stage_count,
    has_pushed_filter,
    scan_read_schema,
    uses_broadcast_join,
    uses_hash_aggregate,
    uses_sort_merge_join,
)
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal, ranged_scan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def wal_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("walpq") / "wal")
    generate_wal(spark, 20000, n_convs=64, seed=5).write.parquet(p)
    return spark.read.parquet(p)


def test_ranged_scan_pushdown(spark, wal_parquet):
    """Watermark bounds must reach the parquet scan (S1 at scale)."""
    df = ranged_scan(wal_parquet, 5000, 6000)
    assert has_pushed_filter(df, "lsn")


def test_decode_column_pruning(spark, wal_parquet):
    """A key/op/lsn projection over the decoded feed must NOT read payload —
    Catalyst prunes the JSON decode and the scan reads 3 columns."""
    narrow = decode_changes(wal_parquet).select("conv_id", "op", "lsn")
    schema = scan_read_schema(narrow)
    assert "payload" not in schema, schema


def test_winner_selection_is_hash_aggregate(spark, wal_parquet):
    """The narrow LWW reduce must stay a HashAggregate (no sort fallback) and
    the join-back must be a broadcast join, never a feed-sorting SMJ."""
    winners = lww_winner_rows(ranged_scan(wal_parquet, 0, 10000))
    assert uses_hash_aggregate(winners)
    assert uses_broadcast_join(winners)
    assert not uses_sort_merge_join(winners)


def test_query_plans_broadcast_dims(spark):
    """Dimension joins in the driver queries broadcast their small side."""
    import __spark_entry__ as entry

    q = entry.queries()["multi_join_regional"](spark, SF)
    assert uses_broadcast_join(q)


def test_decode_stays_in_codegen(spark, wal_parquet):
    """decode+normalize must fuse into whole-stage codegen (>= 1 stage)."""
    assert codegen_stage_count(decode_changes(wal_parquet)) >= 1


def test_topk_plans_take_ordered(spark):
    """Top-k must plan as TakeOrderedAndProject (per-partition heap), never
    an unpartitioned Window sorting the full scored input in one task."""
    from endor_blockchain_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        srp_topk,
    )
    from endor_blockchain_data_pipeline_spark.plans.explain import (
        global_window_over_full_input,
        uses_take_ordered,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    for df in (brute_force_topk(emb, q, k=10), srp_topk(emb, q, k=10, n_bits=8)):
        assert uses_take_ordered(df)
        assert not global_window_over_full_input(df)

"""Driver-side small-commit staging: parity with the distributed writer.

``ManifestTable(small_commit_rows>0)`` stages a commit via one Arrow
collect + local per-bucket parquet writes instead of a shuffle+write Spark
job. These tests pin the contract: byte-for-value identical reads, same
manifest stats and file layout, graceful fallback to the distributed path
when the collect fails, and end-to-end live-curation equality between the
two modes.
"""

import os

import pyspark.sql.functions as F
import pytest

from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable


def _frame(spark, n=500, batch="b1"):
    # long, string, bool, array<long>, nullable long, timestamp + internals
    return spark.range(0, n).select(
        F.col("id").alias("conv_id"),
        F.concat(F.lit("doc-"), F.col("id")).alias("text"),
        (F.col("id") % 3 == 0).alias("flag"),
        F.array(F.col("id"), F.col("id") * 2).alias("sig"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") * 10).alias("maybe"),
        F.col("id").alias("_lsn"),
        F.timestamp_seconds(F.col("id")).alias("_mts"),
        F.lit(False).alias("_deleted"),
        F.lit(batch).alias("_batch"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def tables(spark, tmp_path):
    fast = ManifestTable(
        str(tmp_path / "fast"),
        n_buckets=16,
        key_cols=("conv_id",),
        bucket_key="conv_id",
        small_commit_rows=100_000,
    )
    slow = ManifestTable(
        str(tmp_path / "slow"),
        n_buckets=16,
        key_cols=("conv_id",),
        bucket_key="conv_id",
    )
    return fast, slow


def test_driver_stage_read_parity(spark, tables):
    fast, slow = tables
    df = _frame(spark)
    fast.commit(df, "b1", 1, 500, None, mode="append")
    slow.commit(df, "b1", 1, 500, None, mode="append")

    da = fast.read(spark, with_internal=True)
    db = slow.read(spark, with_internal=True)
    assert da.schema == db.schema
    assert _rows(da) == _rows(db)

    ma, mb = fast.manifest(), slow.manifest()
    assert ma["bucket_rows"] == mb["bucket_rows"]
    assert ma["schema"] == mb["schema"]
    assert set(ma["buckets"]) == set(mb["buckets"])
    # same file layout: one file per non-empty bucket, under _bucket=<b>/
    for b, files in ma["buckets"].items():
        assert len(files) == 1
        assert f"_bucket={b}" in files[0]


def test_driver_stage_multi_generation_merge(spark, tables):
    fast, slow = tables
    df = _frame(spark)
    df2 = df.withColumn("_lsn", F.col("_lsn") + 1000).withColumn(
        "text", F.concat(F.col("text"), F.lit("-v2"))
    )
    for t in tables:
        t.commit(df, "b1", 1, 500, None, mode="append")
        t.commit(df2, "b2", 1001, 1500, None, mode="append")
    merged_fast = _rows(fast.read(spark))
    merged_slow = _rows(slow.read(spark))
    assert merged_fast == merged_slow
    assert all("-v2" in r[1] for r in merged_fast)


def test_driver_stage_empty_frame(spark, tables):
    fast, _ = tables
    df = _frame(spark).limit(0)
    fast.commit(df, "b1", 1, 1, None, mode="append")
    assert fast.manifest()["buckets"] == {}


def test_collect_failure_falls_back_to_distributed(spark, tmp_path, monkeypatch):
    t = ManifestTable(
        str(tmp_path / "t"),
        n_buckets=8,
        key_cols=("conv_id",),
        bucket_key="conv_id",
        small_commit_rows=10,
    )
    from pyspark.sql import DataFrame

    def boom(self):
        raise RuntimeError("maxResultSize exceeded (simulated)")

    monkeypatch.setattr(DataFrame, "toArrow", boom)
    df = _frame(spark, n=100)
    t.commit(df, "b1", 1, 100, None, mode="append")
    assert _rows(t.read(spark, with_internal=True)) == _rows(df)


def test_non_size_collect_failure_raises(spark, tmp_path, monkeypatch):
    """Only the driver result-size cap falls back to the distributed write;
    any other staging failure propagates and publishes no manifest."""
    t = ManifestTable(
        str(tmp_path / "t"),
        n_buckets=8,
        key_cols=("conv_id",),
        bucket_key="conv_id",
        small_commit_rows=10,
    )
    df = _frame(spark, n=100)

    def boom(self):
        raise OSError(28, "No space left on device (simulated)")

    # patch the concrete frame class (the session's DataFrame subclass
    # overrides the base class's toArrow)
    monkeypatch.setattr(type(df), "toArrow", boom)
    with pytest.raises(OSError, match="No space left"):
        t.commit(df, "b1", 1, 100, None, mode="append")
    assert t.manifest() is None
    assert "b1" not in t.committed_batches()


def test_live_curation_modes_equal(spark, tmp_path):
    """End-to-end: verdicts identical with small commits on vs off."""
    from endor_blockchain_data_pipeline_spark.job import CDCJob
    from endor_blockchain_data_pipeline_spark.operators.live_curation import (
        LiveCuration,
    )
    from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

    wal = generate_wal(spark, 600, n_convs=24, max_turns=4, seed=11)
    verdicts = {}
    for mode, rows in (("fast", 100_000), ("slow", 0)):
        root = tmp_path / mode
        table = ManifestTable(str(root / "t"), n_buckets=8)
        job = CDCJob(spark, table, wal)
        lc = LiveCuration(
            spark, str(root / "cur"), table, small_commit_rows=rows
        )
        job.run_with_curation(300, lc)
        verdicts[mode] = _rows(lc.verdicts_df())
    assert verdicts["fast"] == verdicts["slow"]
    assert len(verdicts["fast"]) > 0


def test_keep_keys_in_list_and_broadcast_agree(spark, monkeypatch):
    """Driver-held key lookups: the SQL IN-list (quotes and backslashes in
    string keys escaped) and the broadcast semi-join beyond
    ISIN_MAX_KEYS return the same rows."""
    from endor_blockchain_data_pipeline_spark.sources import lake

    keys = ["a'b", "c\\d", "plain", "missing"]
    df = spark.createDataFrame(
        [(k, i) for i, k in enumerate(["a'b", "c\\d", "plain", "other"])],
        "k string, v long",
    )
    nums = spark.range(10).withColumnRenamed("id", "n")
    in_list = (_rows(lake.keep_keys(df, "k", keys)), _rows(lake.keep_keys(nums, "n", [2, 7])))
    monkeypatch.setattr(lake, "ISIN_MAX_KEYS", 1)
    joined = (_rows(lake.keep_keys(df, "k", keys)), _rows(lake.keep_keys(nums, "n", [2, 7])))
    assert in_list == joined
    assert in_list == ([("a'b", 0), ("c\\d", 1), ("plain", 2)], [(2,), (7,)])
    # raw string literals (no escapes) cannot spell a quoted key: the
    # lookup must not depend on the session's literal parsing
    monkeypatch.setattr(lake, "ISIN_MAX_KEYS", 100)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        raw = (_rows(lake.keep_keys(df, "k", keys)), _rows(lake.keep_keys(nums, "n", [2, 7])))
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert raw == in_list

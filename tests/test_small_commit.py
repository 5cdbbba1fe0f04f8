"""Driver-side staging of bounded commits: parity with the distributed writer.

A commit whose row bound is at most ``ManifestTable.DRIVER_STAGE_ROW_LIMIT``
is staged via one Arrow collect + local per-bucket parquet writes instead of
a shuffle+write Spark job. These tests pin the contract: the bound picks the
writer up front, byte-for-value identical reads, same manifest stats and
file layout, files no larger than the distributed writer's, fallback to the
distributed path only when the collect hits the result-size cap, and
end-to-end live-curation equality between the two modes. A test forces a
writer by setting the limit on a table (0: every non-empty frame stages
distributed) or by patching the class constant.
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
    fast, slow = (
        ManifestTable(
            str(tmp_path / name),
            n_buckets=16,
            key_cols=("conv_id",),
            bucket_key="conv_id",
        )
        for name in ("fast", "slow")
    )
    slow.DRIVER_STAGE_ROW_LIMIT = 0
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
    )
    df = _frame(spark, n=100)
    calls = []

    def boom(self):
        calls.append(1)
        raise RuntimeError("maxResultSize exceeded (simulated)")

    # patch the concrete frame class (the session's DataFrame subclass
    # overrides the base class's toArrow)
    monkeypatch.setattr(type(df), "toArrow", boom)
    t.commit(df, "b1", 1, 100, None, mode="append")
    monkeypatch.undo()
    assert calls == [1]
    assert _rows(t.read(spark, with_internal=True)) == _rows(df)


def test_non_size_collect_failure_raises(spark, tmp_path, monkeypatch):
    """Only the driver result-size cap falls back to the distributed write;
    any other staging failure propagates and publishes no manifest."""
    t = ManifestTable(
        str(tmp_path / "t"),
        n_buckets=8,
        key_cols=("conv_id",),
        bucket_key="conv_id",
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


def test_live_curation_modes_equal(spark, tmp_path, monkeypatch):
    """End-to-end: verdicts identical with small commits on vs off."""
    from endor_blockchain_data_pipeline_spark.job import CDCJob
    from endor_blockchain_data_pipeline_spark.operators.live_curation import (
        LiveCuration,
    )
    from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

    wal = generate_wal(spark, 600, n_convs=24, max_turns=4, seed=11)
    verdicts = {}
    for mode, rows in (("fast", 100_000), ("slow", 0)):
        monkeypatch.setattr(ManifestTable, "DRIVER_STAGE_ROW_LIMIT", rows)
        root = tmp_path / mode
        table = ManifestTable(str(root / "t"), n_buckets=8)
        job = CDCJob(spark, table, wal)
        lc = LiveCuration(spark, str(root / "cur"), table)
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


def _jobs(spark, fn):
    """Spark jobs ``fn`` runs on this thread (its job group cleared)."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", group)
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def test_writer_chosen_up_front_from_row_bound(spark, tmp_path, monkeypatch):
    """The row bound, not a failed collect, picks the writer: above the cap
    the frame is never collected; at or below it the one collect is the
    only Spark job (no write job)."""
    df = _frame(spark, n=100)
    cls = type(df)
    real = cls.toArrow
    calls = []

    def counting(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(cls, "toArrow", counting)
    t = ManifestTable(
        str(tmp_path / "t"), n_buckets=8, key_cols=("conv_id",),
        bucket_key="conv_id",
    )
    t.DRIVER_STAGE_ROW_LIMIT = 50
    wide = t.stage(df, "b1", est_rows=100)
    assert calls == []
    # no caller bound: the plan's own bound (range of 100 rows) is used
    t.stage(df, "b2")
    assert calls == []

    narrow = {}
    n_jobs = _jobs(spark, lambda: narrow.update(t.stage(df, "b3", est_rows=50)))
    assert calls == [1]
    assert n_jobs == 1
    assert narrow["bucket_stats"] == wide["bucket_stats"]


def test_manifest_read_lists_no_files_in_a_job(spark, tmp_path):
    """A full read of a 48-file table runs as many Spark jobs as one of a
    3-file table: the scan takes the manifest's file list as is, with no
    parallel listing job past 32 paths."""
    counts = {}
    for n_buckets in (16, 1):
        t = ManifestTable(
            str(tmp_path / f"t{n_buckets}"), n_buckets=n_buckets,
            key_cols=("conv_id",), bucket_key="conv_id",
        )
        for g in range(3):
            df = _frame(spark, n=400, batch=f"b{g}").withColumn(
                "_lsn", F.col("_lsn") + 1000 * g
            )
            t.commit(df, f"b{g}", 1000 * g, 1000 * g + 399, None, mode="append")
        files = sum(len(fl) for fl in t.manifest()["buckets"].values())
        counts[files] = _jobs(
            spark,
            lambda: t.read(spark).write.format("noop").mode("overwrite").save(),
        )
    assert set(counts) == {48, 3}
    assert counts[48] == counts[3] > 0, counts


def test_driver_staged_files_no_larger_than_distributed(spark, tmp_path):
    """The driver writer's files take no more bytes than the distributed
    writer's for the same frame: a backfill-shaped batch (unique lsns and
    mostly unique texts) and a small batch of template texts."""
    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
    from endor_blockchain_data_pipeline_spark.operators.merge import (
        changes_to_state,
        lww_winner_rows,
    )
    from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

    wal = generate_wal(spark, 20_000, n_convs=2_500, seed=5)
    backfill = changes_to_state(decode_changes(lww_winner_rows(wal)), "b1")
    template = spark.range(0, 600).select(
        F.concat(F.lit("c"), (F.col("id") % 100).cast("string")).alias("conv_id"),
        (F.col("id") % 6).cast("int").alias("turn_idx"),
        F.when(F.col("id") % 2 == 0, "user").otherwise("assistant").alias("role"),
        F.concat(
            F.lit("please summarise the attached report on topic "),
            (F.col("id") % 7).cast("string"),
        ).alias("text"),
        F.col("id").alias("_lsn"),
        F.timestamp_seconds(F.col("id")).alias("_mts"),
        F.lit(False).alias("_deleted"),
        F.lit("b1").alias("_batch"),
    )
    for name, df in (("backfill", backfill.persist()), ("template", template)):
        size = {}
        for cap in (0, None):
            t = ManifestTable(str(tmp_path / f"{name}-{cap}"))
            if cap is not None:
                t.DRIVER_STAGE_ROW_LIMIT = cap
            staged = t.stage(df, "b1", est_rows=20_000)
            size[cap] = sum(
                os.path.getsize(os.path.join(t.path, f))
                for files in staged["new_buckets"].values()
                for f in files
            )
        assert 0 < size[None] <= size[0], (name, size)
    backfill.unpersist()

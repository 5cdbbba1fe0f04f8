"""Structured Streaming ingestion: file-drop WAL -> foreachBatch merge."""

from __future__ import annotations

import pyspark.sql.functions as F

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.job import brute_force_state
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal, write_wal_batches
from endor_blockchain_data_pipeline_spark.streaming.stream import stream_wal_to_table

from tests.conftest import assert_df_equal


def test_stream_apply_equals_oracle(spark, tmp_path):
    n = 2000
    wal = generate_wal(spark, n, n_convs=32, max_turns=6, seed=21, tool_from_lsn=1000)
    wal_dir = str(tmp_path / "drops")
    ranges = write_wal_batches(wal, wal_dir, batch_size=500, n_events=n)
    assert len(ranges) == 4

    table = ManifestTable(str(tmp_path / "tbl"), n_buckets=4)
    q = stream_wal_to_table(
        spark, wal_dir, table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    q.awaitTermination(120)

    oracle = brute_force_state(decode_changes(wal))
    assert_df_equal(table.read(spark), oracle)

    # restart the stream over the same checkpoint: no new data, no new commits
    v = table.current_version()
    q2 = stream_wal_to_table(
        spark, wal_dir, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(60)
    assert table.current_version() == v

    # drop one more batch file -> only it gets applied
    more = generate_wal(spark, n + 600, n_convs=32, max_turns=6, seed=21, tool_from_lsn=1000)
    late = more.where(F.col("lsn") >= n)
    late.write.mode("overwrite").parquet(f"{wal_dir}/batch-{n-1}-{n+599}")
    q3 = stream_wal_to_table(
        spark, wal_dir, table, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q3.awaitTermination(60)
    assert_df_equal(table.read(spark), brute_force_state(decode_changes(more)))


def test_windowed_activity_with_watermark(spark, tmp_path):
    """Watermarked event-time windowed agg over the WAL stream equals the
    batch equivalent; the query reports a real event-time watermark."""
    from endor_blockchain_data_pipeline_spark.streaming.stream import (
        read_wal_stream,
        windowed_activity,
    )

    n = 1500
    wal = generate_wal(spark, n, n_convs=8, max_turns=6, seed=5)
    wal_dir = str(tmp_path / "drops")
    write_wal_batches(wal, wal_dir, batch_size=500, n_events=n)

    stream = read_wal_stream(spark, wal_dir, max_files_per_trigger=1)
    q = (
        windowed_activity(stream, "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName("winact")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["eventTime"].get("watermark") is not None

    got = spark.sql("SELECT * FROM winact")
    expect = (
        wal.groupBy(F.window("ts", "1 hour").alias("win"), "conv_id")
        .agg(F.count("*").alias("n_changes"), F.max("lsn").alias("max_lsn"))
        .select(
            F.col("win.start").alias("win_start"), F.col("win.end").alias("win_end"),
            "conv_id", "n_changes", "max_lsn",
        )
    )
    assert_df_equal(got, expect)


def test_streaming_sessions_equal_batch(spark, tmp_path):
    """Streaming session_window (with watermark) over the WAL drops equals
    the batch session_windows operator on the same data — one merging-window
    operator, two execution modes."""
    from endor_blockchain_data_pipeline_spark.operators.temporal import session_windows
    from endor_blockchain_data_pipeline_spark.streaming.stream import (
        read_wal_stream,
        streaming_sessions,
    )

    n = 1500
    wal = generate_wal(spark, n, n_convs=8, max_turns=6, seed=7)
    wal_dir = str(tmp_path / "drops")
    write_wal_batches(wal, wal_dir, batch_size=500, n_events=n)

    stream = read_wal_stream(spark, wal_dir, max_files_per_trigger=1)
    q = (
        streaming_sessions(stream, "30 minutes", "2 hours")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sessions")

    expect = (
        session_windows(wal, key="conv_id", ts_col="ts", gap="30 minutes")
        .withColumnRenamed("n_events", "n_changes")
    )
    # batch operator lacks max_lsn; recompute it the same way for parity
    expect_full = (
        wal.groupBy(F.col("conv_id"), F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_changes"), F.max("lsn").alias("max_lsn"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_changes",
            "max_lsn",
        )
    )
    assert_df_equal(got, expect_full)
    assert_df_equal(
        got.drop("max_lsn"),
        expect.select("conv_id", "session_start", "session_end", "n_changes"),
    )


def test_running_conv_state_stateful(spark, tmp_path):
    """applyInPandasWithState: per-conv state persists ACROSS micro-batches
    (counts accumulate, lsn watermark is monotone) and the final state
    equals the batch groupBy."""
    from endor_blockchain_data_pipeline_spark.streaming.stream import (
        read_wal_stream,
        running_conv_state,
    )

    n = 1200
    wal = generate_wal(spark, n, n_convs=6, max_turns=4, seed=9)
    wal_dir = str(tmp_path / "drops")
    write_wal_batches(wal, wal_dir, batch_size=400, n_events=n)  # 3 micro-batches

    stream = read_wal_stream(spark, wal_dir, max_files_per_trigger=1)
    q = (
        running_conv_state(stream)
        .writeStream.format("memory")
        .queryName("convstate")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM convstate").collect()
    # update mode emits one row per (conv, micro-batch it appeared in);
    # the LAST emission per conv carries the accumulated state = batch agg.
    final = {}
    for r in rows:
        cur = final.get(r["conv_id"])
        if cur is None or r["n_changes"] > cur[1]:
            final[r["conv_id"]] = (r["max_lsn"], r["n_changes"])
    expect = {
        r["conv_id"]: (r["mx"], r["n"])
        for r in wal.groupBy("conv_id")
        .agg(F.max("lsn").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    assert final == expect
    # state really crossed batches: some conv emitted more than once
    from collections import Counter

    per_conv_emissions = Counter(r["conv_id"] for r in rows)
    assert max(per_conv_emissions.values()) > 1


def test_stream_fanout_three_sinks(spark, tmp_path):
    """Streaming E2: micro-batches fan out to state/tool/stats off one
    decode; all sinks equal batch recomputes; checkpoint restart is a no-op."""
    from endor_blockchain_data_pipeline_spark.operators.fanout import (
        conv_stats_view,
        tool_calls_view,
    )
    from endor_blockchain_data_pipeline_spark.streaming.stream import stream_wal_fanout

    n = 1500
    wal = generate_wal(spark, n, n_convs=24, max_turns=6, seed=33, tool_from_lsn=0)
    wal_dir = str(tmp_path / "drops")
    write_wal_batches(wal, wal_dir, batch_size=500, n_events=n)

    state_t = ManifestTable(str(tmp_path / "state"), n_buckets=4)
    tool_t = ManifestTable(str(tmp_path / "tool"), n_buckets=4)
    stats_t = ManifestTable(
        str(tmp_path / "stats"), n_buckets=4,
        key_cols=("conv_id", "batch_id"), bucket_key="conv_id",
    )
    q = stream_wal_fanout(
        spark, wal_dir, state_t, tool_t, stats_t,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    # state sink == replay oracle
    assert_df_equal(state_t.read(spark), brute_force_state(decode_changes(wal)))
    # tool sink == tool-bearing LATEST turns (LWW across micro-batches)
    tool_read = tool_t.read(spark)
    assert tool_read.count() > 0
    assert tool_read.where(F.col("tool").isNull()).count() == 0
    # stats sink: per-(conv, micro-batch) facts — for EVERY committed batch
    # the stats row sums must equal the state sink's appended generation for
    # that batch (both sides come from the same single decode).
    stats_read = stats_t.read(spark, with_internal=True)
    for batch_id in sorted(state_t.committed_batches()):
        n_state = state_t.read(spark, batch_ids=[batch_id], with_internal=True).count()
        n_stats = (
            stats_read.where(F.col("batch_id") == batch_id)
            .agg(F.sum("n_turns_changed"))
            .first()[0]
        )
        assert n_stats == n_state, batch_id

    # all three sinks share the same committed batch ids
    assert state_t.committed_batches() == tool_t.committed_batches() == stats_t.committed_batches()

    # restart over the same checkpoint: nothing new anywhere
    versions = (state_t.current_version(), tool_t.current_version(), stats_t.current_version())
    q2 = stream_wal_fanout(
        spark, wal_dir, state_t, tool_t, stats_t, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(60)
    assert versions == (
        state_t.current_version(), tool_t.current_version(), stats_t.current_version()
    )


def test_stream_documents_dedup_equals_oneshot(spark, tmp_path):
    """Dropped document batches stream through the persisted dedup index;
    the final keep-list equals the one-shot resolution over everything
    streamed, and a checkpoint restart with no new drops commits nothing."""
    from endor_blockchain_data_pipeline_spark.operators.dedup import (
        dedup_resolution,
        minhash_candidates,
    )
    from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import (
        DedupIndex,
    )
    from endor_blockchain_data_pipeline_spark.streaming.stream import (
        stream_documents_dedup,
    )

    TA = "the quick brown fox jumps over the lazy dog near the riverbank today"
    TB = "completely different content about distributed query engines and shuffles"
    TC = "migratory birds navigate by starlight across continents every autumn"
    docs_dir = str(tmp_path / "drops")
    batch1 = [(1, TA), (2, TB)]
    batch2 = [(10, TA), (11, TC)]  # 10 dups 1 across micro-batches
    for i, rows in enumerate([batch1, batch2]):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            f"{docs_dir}/drop-{i}"
        )

    idx = DedupIndex(spark, str(tmp_path / "idx"))
    q = stream_documents_dedup(
        spark, docs_dir, idx, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # force one drop per micro-batch
    )
    q.awaitTermination(120)

    all_docs = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    oneshot = dedup_resolution(
        all_docs,
        minhash_candidates(all_docs, "text", "doc_id", k_shingle=12, n_hashes=4, n_bands=2),
    )
    assert_df_equal(idx.keep_list(), oneshot)
    v = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert v[10] == (1, False)  # cross-micro-batch dup caught

    # restart over the same checkpoint: no new drops -> no new commits
    n_commits = len(idx.clusters.committed_batches())
    q2 = stream_documents_dedup(
        spark, docs_dir, idx, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert len(idx.clusters.committed_batches()) == n_commits


def test_stream_batch_id_content_fingerprint(spark):
    """Same (epoch, bounds, count) but DIFFERENT content must yield
    different batch ids — a wiped checkpoint restarting epochs at 0 can
    otherwise silently skip a new batch via the index's batch registry.
    Identical content (re-delivery) keeps the id stable, at any layout."""
    from endor_blockchain_data_pipeline_spark.streaming.stream import stream_batch_id

    a = spark.createDataFrame(
        [(1, "first text"), (9, "second text")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(1, "EDITED text"), (9, "second text")], "doc_id long, text string"
    )
    ia, ib = stream_batch_id(a, 0), stream_batch_id(b, 0)
    assert ia != ib  # same epoch/bounds/count, different content
    assert ia == stream_batch_id(a.repartition(7), 0)  # order-independent
    assert ia != stream_batch_id(a, 1)  # epoch still participates

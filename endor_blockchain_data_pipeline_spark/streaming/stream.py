"""Structured Streaming WAL ingestion.

The reference has no streaming API — it emulates a stream with repeated
batch runs over a watermarked feed (``SparkApplication.scala:49-88`` driven
by cron). This module is the Spark-native upgrade: a file-source
``readStream`` over dropped WAL batch directories (the shape
``export_batch.py`` produces) with ``foreachBatch`` applying each
micro-batch through the SAME exactly-once merge path as the batch job.

Two layers of exactly-once compose here:
- Structured Streaming's checkpoint guarantees each file is offered once
  (epoch tracking in ``checkpointLocation``);
- the engine's batch-id manifest skip-list makes the apply idempotent even
  if ``foreachBatch`` re-delivers after a crash (foreachBatch is
  at-least-once by contract — our commit makes it exactly-once).

At scale: maxFilesPerTrigger bounds micro-batch size; the apply itself is
the batch job's ``merge_batch`` (narrow LWW reduce, winner decode, MoR
append), so stream vs batch is purely a scheduling difference (as it
should be in a lakehouse engine).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from endor_blockchain_data_pipeline_spark.operators.merge import merge_batch
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

WAL_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_wal_to_table(
    spark: SparkSession,
    wal_dir: str,
    table: ManifestTable,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    lineage=None,
):
    """Start a stream applying dropped WAL batches to ``table``.

    Returns the StreamingQuery; caller stops it / awaits termination.
    """
    reader = (
        spark.readStream.schema(WAL_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(wal_dir)

    def apply_batch(micro: DataFrame, epoch_id: int) -> None:
        if micro.isEmpty():
            return
        # LSN range of this micro-batch gives the deterministic batch id —
        # re-delivery of the same epoch hits the manifest skip-list.
        bounds = micro.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi"), F.count("*").alias("n")
        ).first()
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        # Epoch-qualified id: micro-batch file grouping varies with trigger
        # settings, so (lo, hi) alone could collide across different file
        # sets; (epoch, bounds, count) is stable for checkpoint re-delivery
        # (same epoch -> same files) yet unique across distinct batches.
        batch_id = f"stream-{epoch_id}-{lo}-{hi}-{int(bounds['n'])}"
        if batch_id in table.committed_batches():
            return
        merge_batch(
            table, micro, batch_id, lo - 1, hi, lineage=lineage,
            est_rows=int(bounds["n"]),
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_wal_fanout(
    spark: SparkSession,
    wal_dir: str,
    state_table: ManifestTable,
    tool_table: ManifestTable,
    stats_table: ManifestTable,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming E2: each micro-batch decodes ONCE and fans out to the
    state + tool + stats sinks (``operators/fanout.py``) under the same
    epoch-qualified batch id. foreachBatch's at-least-once re-delivery is
    absorbed per sink by each table's batch registry, so a crash between
    sink commits heals on the next delivery — the streaming analog of the
    batch fan-out's partial-replay contract."""
    from endor_blockchain_data_pipeline_spark.operators.fanout import fanout_batch

    reader = (
        spark.readStream.schema(WAL_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(wal_dir)

    def apply_batch(micro: DataFrame, epoch_id: int) -> None:
        if micro.isEmpty():
            return
        bounds = micro.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi"), F.count("*").alias("n")
        ).first()
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        batch_id = f"stream-{epoch_id}-{lo}-{hi}-{int(bounds['n'])}"
        fanout_batch(
            micro, batch_id, lo - 1, hi, state_table, tool_table, stats_table,
            est_rows=int(bounds["n"]),
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def stream_batch_id(
    micro: DataFrame, epoch_id: int, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Replay-stable id for a foreachBatch delivery: epoch + id bounds +
    count + a CONTENT fingerprint (order-independent ``bit_xor`` of row
    hashes). Epoch ids restart at 0 when a checkpoint is wiped or a second
    stream targets the same index, so (epoch, lo, hi, n) alone can collide
    across streams with DIFFERENT content and silently skip a genuinely
    new batch via the batch registry; the fingerprint breaks that tie
    while re-delivery of the SAME content still replays idempotently."""
    bounds = micro.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi"),
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({id_col}, {text_col}))").alias("fp"),
    ).first()
    return (
        f"stream-{epoch_id}-{int(bounds['lo'])}-{int(bounds['hi'])}"
        f"-{int(bounds['n'])}-{int(bounds['fp']) & 0xFFFFFFFFFFFFFFFF:016x}"
    )


def stream_documents_dedup(
    spark: SparkSession,
    docs_dir: str,
    index,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming incremental corpus dedup: document batches dropped as
    parquet dirs flow through ``DedupIndex.add_batch`` — each micro-batch
    signatures ONLY itself, joins against the persisted band index, and
    folds its pairs into the cluster labels. The same two exactly-once
    layers as the CDC stream: the streaming checkpoint offers each file
    once, and the index tables' batch registries absorb foreachBatch's
    at-least-once re-delivery (a crash between the bands and clusters
    commits heals on re-delivery). ``index.keep_list()`` is always the
    whole corpus's current verdict.
    """

    reader = spark.readStream.schema(DOCS_SCHEMA).option("recursiveFileLookup", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)

    def apply_batch(micro: DataFrame, epoch_id: int) -> None:
        if micro.isEmpty():
            return
        index.add_batch(micro, stream_batch_id(micro, epoch_id))

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_continuous_rollup(
    spark: SparkSession,
    events_dir: str,
    rollup,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming hypertable rollup: dropped event batches flow through
    ``ContinuousAggregate.apply_batch`` — each micro-batch appends ONE
    additive partial-aggregate generation under an epoch-qualified batch
    id, so the rollup stays current at O(micro-batch) cost and
    ``rollup.read()`` answers at any moment. Exactly-once composes the same
    way as every foreachBatch sink here: checkpointed file offsets x the
    rollup table's batch registry (re-delivered epochs skip)."""
    sch = schema or T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    reader = spark.readStream.schema(sch).option("recursiveFileLookup", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_dir)

    def apply_batch(micro: DataFrame, epoch_id: int) -> None:
        if micro.isEmpty():
            return
        bounds = micro.agg(
            F.min("event_id").alias("lo"), F.max("event_id").alias("hi"),
            F.count("*").alias("n"),
        ).first()
        batch_id = (
            f"stream-{epoch_id}-{int(bounds['lo'])}-{int(bounds['hi'])}"
            f"-{int(bounds['n'])}"
        )
        rollup.apply_batch(micro, batch_id)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_wal_stream(
    spark: SparkSession, wal_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source readStream over dropped WAL parquet batches."""
    reader = spark.readStream.schema(WAL_SCHEMA).option("recursiveFileLookup", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(wal_dir)


def windowed_activity(
    stream: DataFrame, window_dur: str = "1 hour", watermark_delay: str = "2 hours"
) -> DataFrame:
    """Event-time windowed per-conversation change counts with a late-data
    watermark — the canonical Structured Streaming windowed aggregation.

    The watermark bounds state: windows older than (max event time −
    watermark_delay) are finalized and their state dropped, so the agg runs
    indefinitely at fixed memory; changes later than the delay are discarded
    (the LWW merge path, not this monitor, is the system of record for
    late mutations).
    """
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_dur).alias("win"), F.col("conv_id"))
        .agg(F.count("*").alias("n_changes"), F.max("lsn").alias("max_lsn"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "conv_id",
            "n_changes",
            "max_lsn",
        )
    )


def streaming_sessions(
    stream: DataFrame, gap: str = "30 minutes", watermark_delay: str = "2 hours"
) -> DataFrame:
    """Streaming per-conversation sessionization — the same merging
    ``session_window`` aggregate as the batch operator
    (``operators/temporal.session_windows``), under a watermark.

    The watermark is what makes unbounded sessionization feasible: a
    session's state can only grow while new events may still extend it;
    once the watermark passes session_end + gap the window finalizes and
    its state drops, so memory stays proportional to OPEN sessions, not
    history. Batch/stream parity is pinned in tests (same operator, same
    half-open merge semantics).
    """
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.col("conv_id"), F.session_window(F.col("ts"), gap))
        .agg(F.count("*").alias("n_changes"), F.max("lsn").alias("max_lsn"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_changes",
            "max_lsn",
        )
    )


# Custom stateful operator: running per-conversation ingest state via
# applyInPandasWithState (the arbitrary-stateful-processing API) — what you
# reach for when windows/aggs can't express the state machine (here: a
# monotone per-conv high watermark + running change count maintained across
# micro-batches).
CONV_STATE_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("max_lsn", T.LongType()),
        T.StructField("n_changes", T.LongType()),
    ]
)
CONV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("max_lsn", T.LongType()),
        T.StructField("n_changes", T.LongType()),
    ]
)


def running_conv_state(stream: DataFrame) -> DataFrame:
    """Per-conv running (high-watermark LSN, change count) across batches.

    Arrow-batched grouped-stateful processing: each micro-batch hands the
    group's new rows + its persisted state to a pandas fn; state lives in
    the streaming state store (checkpointed, exactly-once with the sink).
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import

    def update(key, pdfs, state) -> "Iterator[pd.DataFrame]":  # noqa: F821
        mx, n = state.get if state.exists else (-1, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["lsn"].max()))
        state.update((mx, n))
        yield pd.DataFrame({"conv_id": [key[0]], "max_lsn": [mx], "n_changes": [n]})

    return (
        stream.select("conv_id", "lsn")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update, CONV_STATE_OUT, CONV_STATE_SCHEMA, "update", "NoTimeout"
        )
    )

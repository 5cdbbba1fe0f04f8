"""LWW key-partitioned MERGE — the engine's core operator.

Semantics: for each primary key ``(conv_id, turn_idx)`` the winning row is
the one with the greatest ``(lsn, mutation_ts)``; ``op='delete'`` winners
become tombstones (kept internally until compaction so late replays cannot
resurrect dropped rows).

Reference parity: the reference's per-group argmin/argmax UDAFs
(``ratesaggregation/OpenRateAggregator.scala:9-38``,
``CloseRateAggregator.scala:9-38``) are exactly Spark's built-in
``max_by(struct(payload), struct(order))`` — we use that instead of a custom
UDAF. The reference has no in-feed dedup (append-only assumption); LWW is
the target engine's generalization.

Why ``groupBy().agg(max(...))`` and not a window ``row_number``:
hash aggregation gets map-side partial aggregation for free — a hot key
(one conversation receiving millions of updates) is collapsed to ONE row
per map task before the shuffle, so skew never reaches the reducer. A
window function would shuffle every raw row of the hot key to a single
partition first.

One apply path: every CDC batch runs ``lww_winner_rows`` (narrow
``max(lsn)``) -> the caller's decode of the winner rows only -> a
merge-on-read (MoR) stage of the winners as a new file generation of their
buckets -> an append commit. Apply cost is O(changes), never O(state):
readers LWW-merge a bucket's generations, and ``compact_buckets`` folds a
bucket back to one generation once it reaches the caller's threshold
(threshold 2 compacts every touched bucket after each batch, which is what
copy-on-write would have stored).

Staging: every write here hands ``ManifestTable.stage`` the row bound it
knows before any work runs — a batch its LSN range width, a compaction the
row counts of the buckets it folds. Up to the lake's measured limit the
batch is staged on the driver (one Arrow collect of the decoded winners,
pyarrow writes per bucket); past it, or without a bound, it takes the
distributed partitioned write.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable, bucket_expr

# Columns describing a decoded change row (user payload part).
PAYLOAD_COLS = ["role", "text", "tool", "ts"]
KEY_COLS = ["conv_id", "turn_idx"]

# Within-batch winner sets are ONE long per key, so the join-back broadcast
# gets its own bound: 32M longs ~= 256MB serialized, the executor-comfort
# ceiling. Beyond it the join-back switches to shuffle-hash (never a feed
# sort).
WINNER_BROADCAST_ROW_LIMIT = 32_000_000


def lww_reduce(changes: DataFrame, key_cols: list[str] = KEY_COLS) -> DataFrame:
    """Within-batch LWW: one winner per key by max (lsn, _mts).

    ``max_by(struct(<payload>), struct(lsn, _mts))`` — single shuffle with
    map-side partial aggregation (built-in hot-key defense, see module doc).
    """
    payload = [c for c in changes.columns if c not in key_cols]
    return (
        changes.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload]), F.struct(F.col("lsn"), F.col("_mts"))
            ).alias("_w")
        )
        .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])
    )


def lww_winner_rows(
    raw: DataFrame,
    key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    lsn_col: str = "lsn",
    est_rows: int | None = None,
) -> DataFrame:
    """Within-batch LWW on the RAW (undecoded) feed — the fast path.

    Why not ``max_by(struct(<whole row>), ...)``: an aggregation buffer
    containing strings can't use Spark's vectorized HashAggregate (string
    buffers aren't mutable fixed-width), so the wide reduce silently degrades
    to sort-based aggregation — measured 3x slower. Instead:

      1. narrow winner selection: ``max(lsn)`` per key — a pure
         fixed-width HashAggregate over the key and lsn columns (the payload
         blob is never touched: Catalyst prunes it from this scan);
      2. join the winning LSNs back to the raw feed — LSNs are unique per
         change record, and AQE auto-broadcasts the (small) winner set;
      3. the caller decodes ONLY winner rows — with update-heavy feeds this
         cuts JSON decode + normalization by the dedup factor.

    Invariant required: ``lsn`` uniquely identifies a change record (it is a
    log sequence number). Returns the raw winner rows, exactly one per key.

    ``est_rows``: the caller's upper bound on this batch's row count (for a
    dense LSN feed, simply ``lsn_hi - lsn_lo``). Above
    ``WINNER_BROADCAST_ROW_LIMIT`` the winner set may not fit an executor,
    so the join-back auto-switches from broadcast to a SHUFFLE-HASH join:
    both sides hash-partition on the (long) lsn, the small winner side
    builds per-partition hash maps — no broadcast, and crucially no sort of
    the wide raw feed (a per-key window would sort payload strings;
    measured ~15% slower than the shuffle-hash join-back at 8M rows).
    ``None`` keeps the broadcast (small-batch default); callers feeding
    unbounded batches should always pass a bound.
    """
    # Winner = max(lsn) per key: LSNs are globally unique (they are log
    # sequence numbers), so the (lsn, ts) LWW order collapses to lsn alone
    # for SELECTION — and a bare long max is a true HashAggregate. Even
    # max(struct(lsn, ts)) plans as SortAggregate (struct agg buffers are
    # not mutable-width); the ts tiebreak lives only in the generic
    # ``lww_reduce`` used for feeds without the uniqueness guarantee. The
    # partial max runs map-side, so a hot key reaches the shuffle as one row
    # per map task (pinned by a plan test).
    winners = (
        raw.select(*key_cols, lsn_col)
        .groupBy(*key_cols)
        .agg(F.max(lsn_col).alias("win_lsn"))
        .select("win_lsn")
    )
    # Explicit strategy, never AQE's default: past the 10MB autoBroadcast
    # threshold AQE silently flips to a sort-merge join that SORTS the full
    # raw side (measured 2-3x batch slowdown).
    # - broadcast: the winner set is one long per key (8 bytes x keys) —
    #   executors comfortably hold a few hundred MB, so up to the limit the
    #   broadcast join-back is the fastest shape (no shuffle of the feed).
    # - shuffle-hash: beyond the limit, hash-partition BOTH sides on the
    #   long lsn and build the hash map from the winner side per partition —
    #   nothing broadcast, nothing sorted, survives any batch size.
    if est_rows is not None and est_rows > WINNER_BROADCAST_ROW_LIMIT:
        return raw.join(
            winners.hint("shuffle_hash"),
            raw[lsn_col] == F.col("win_lsn"),
            "inner",
        ).drop("win_lsn")
    return raw.join(
        F.broadcast(winners),
        raw[lsn_col] == F.col("win_lsn"),
        "inner",
    ).drop("win_lsn")


def changes_to_state(reduced: DataFrame, batch_id: str) -> DataFrame:
    """Decoded per-key winners -> internal state rows (tombstones kept)."""
    return reduced.select(
        *KEY_COLS,
        *[F.col(c) for c in PAYLOAD_COLS if c in reduced.columns],
        F.col("lsn").alias("_lsn"),
        F.col("_mts"),
        (F.col("op") == "delete").alias("_deleted"),
        F.lit(batch_id).alias("_batch"),
    )


def stage_batch_mor(
    table: ManifestTable,
    raw: DataFrame,
    batch_id: str,
    decode_fn=decode_changes,
    est_rows: int | None = None,
) -> dict:
    """Stage (write, don't publish) one raw WAL batch as a MoR generation.

    Narrow winner selection, decode of the winner rows only, then the
    bucketed stage of their state rows. Batches never read current state,
    so several can stage concurrently; their commits then happen in order.
    ``est_rows`` bounds the batch's rows (the LSN range width of a dense
    feed): it picks the winner join-back and the staging writer.
    """
    reduced = decode_fn(lww_winner_rows(raw, est_rows=est_rows))
    new_state = changes_to_state(reduced, batch_id).withColumn(
        "_bucket", bucket_expr(table.bucket_key, table.n_buckets)
    )
    return table.stage(new_state, batch_id, est_rows=est_rows)


def commit_staged_batch(
    table: ManifestTable,
    staged: dict,
    batch_id: str,
    lsn_lo: int,
    lsn_hi: int,
    lineage=None,
    t_start: float | None = None,
) -> dict:
    """Publish a staged batch as an append: manifest commit + lineage +
    stats (driver-side, milliseconds). Pipelined callers invoke this
    strictly in batch order."""
    # apply_sec is computed BEFORE the manifest is fsync'd so the persisted
    # manifest records the real timing (it only misses the final ms-scale
    # rename itself), not null.
    apply_sec = (
        round(time.time() - t_start, 3) if t_start is not None else None
    )
    manifest = table.commit_staged(
        staged, batch_id, lsn_lo, lsn_hi,
        replaced_buckets=None, stats={"apply_sec": apply_sec}, mode="append",
    )
    if lineage is not None:
        # per-bucket winner-row stats straight from the parquet footers
        rows = [
            {
                "_bucket": int(b),
                "n_rows": s["n_rows"],
                "n_deletes": None,  # winners only
                "min_lsn": s["min_lsn"],
                "max_lsn": s["max_lsn"],
            }
            for b, s in manifest.get("new_bucket_stats", {}).items()
        ]
        lineage.record_rows(rows, batch_id, lsn_lo, lsn_hi, apply_sec)
    return manifest


def merge_batch(
    table: ManifestTable,
    raw: DataFrame,
    batch_id: str,
    lsn_lo: int,
    lsn_hi: int,
    lineage=None,
    decode_fn=decode_changes,
    est_rows: int | None = None,
) -> dict:
    """Apply one raw WAL batch to the table: ``stage_batch_mor`` then
    ``commit_staged_batch``. Returns the commit manifest (timing in stats).
    """
    t0 = time.time()
    staged = stage_batch_mor(
        table, raw, batch_id, decode_fn=decode_fn, est_rows=est_rows
    )
    return commit_staged_batch(
        table, staged, batch_id, lsn_lo, lsn_hi, lineage=lineage, t_start=t0
    )


def compact_buckets(
    table: ManifestTable, spark, batch_id: str, buckets: list[int]
) -> dict | None:
    """Fold multi-generation (MoR) buckets back to a single generation.

    Reads the merged view of the given buckets (tombstones preserved) and
    commits it as their replacement — bounded read amplification: with
    compaction threshold K, a reader merges at most K generations per
    bucket. Idempotent via the batch_id skip-list like any other commit.
    """
    if not buckets:
        return None
    if getattr(table, "semantics", "lww") != "lww":
        raise ValueError(
            f"table {table.path} has {table.semantics!r} semantics: LWW "
            "compaction would discard partial-aggregate rows — use the "
            "owning operator's compaction (e.g. ContinuousAggregate.compact)"
        )
    if batch_id in table.committed_batches():
        return None
    # Pin the snapshot FIRST, read at that exact version, and hand the same
    # manifest to commit: an append landing mid-compaction then re-bases on
    # top of the fold instead of dying (commit_staged's base_manifest path).
    m = table.manifest()
    merged = table.read(
        spark, buckets=buckets, with_internal=True, version=m["version"]
    ).withColumn("_bucket", bucket_expr(table.bucket_key, table.n_buckets))
    return table.commit(
        merged, batch_id=batch_id, lsn_lo=m["lsn_lo"], lsn_hi=m["lsn_hi"],
        replaced_buckets=buckets,
        stats={"compaction": True, "n_buckets_compacted": len(buckets)},
        base_manifest=m,
        # the fold keeps at most the rows its buckets hold
        est_rows=ManifestTable._selected_row_estimate(
            m, {str(int(b)) for b in buckets}
        ),
    )


def compact(table: ManifestTable, spark, batch_id: str) -> dict:
    """Full-table compaction: fold all generations AND drop tombstones.

    Run once late replays are impossible (the feed's watermark has passed
    every tombstone's LSN); restores minimal storage. Commits a snapshot
    replacing ALL buckets; follow with ``table.vacuum()`` to reclaim files.
    """
    if getattr(table, "semantics", "lww") != "lww":
        raise ValueError(
            f"table {table.path} has {table.semantics!r} semantics: LWW "
            "compaction would discard partial-aggregate rows — use the "
            "owning operator's compaction (e.g. ContinuousAggregate.compact)"
        )
    m = table.manifest()
    live = table.read(spark, with_internal=True, version=m["version"]).where(
        ~F.col("_deleted")
    )
    return table.commit(
        live, batch_id=batch_id,
        lsn_lo=m["lsn_lo"], lsn_hi=int(m.get("watermark", m["lsn_hi"])),
        replaced_buckets=None,
        stats={"compaction": True, "tombstones_dropped": True},
        base_manifest=m,
        est_rows=ManifestTable._selected_row_estimate(m, None),
    )

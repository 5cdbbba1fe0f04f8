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

Why ``groupBy().agg(max_by(...))`` and not a window ``row_number``:
hash aggregation gets map-side partial aggregation for free — a hot key
(one conversation receiving millions of updates) is collapsed to ONE row
per map task before the shuffle, so skew never reaches the reducer. A
window function would shuffle every raw row of the hot key to a single
partition first (that's where you'd need salting). For completeness —
and because the north-star calls for it — an explicit two-phase *salted*
reduction is provided (``lww_reduce_salted``) for engines where partial
aggregation is unavailable (e.g. high-cardinality payload aggregation or
collect_list-style merges); tests assert both produce identical results.

Scale: merge cost per batch is O(changed keys + current rows of affected
buckets). Bucket pruning (manifest file lists) keeps the read side narrow;
AQE skew-join splitting covers residual join skew.

Staging: every write here hands ``ManifestTable.stage`` the row bound it
knows before any work runs — a MoR batch its LSN range width, a CoW batch
the affected buckets' manifest row counts plus its changes, a compaction the
row counts of the buckets it folds. Up to the lake's measured limit the
batch is staged on the driver (one Arrow collect of the decoded winners,
pyarrow writes per bucket); past it, or without a bound, it takes the
distributed partitioned write.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable, bucket_expr

# Columns describing a decoded change row (user payload part).
PAYLOAD_COLS = ["role", "text", "tool", "ts"]
KEY_COLS = ["conv_id", "turn_idx"]

# Within-batch winner sets are ONE long per key — a different (cheaper)
# broadcast than the state-merge's full rows, so it gets its own bound:
# 32M longs ~= 256MB serialized, the executor-comfort ceiling documented
# below. Beyond it the join-back switches to shuffle-hash (never a feed
# sort). Overridable for tests / smaller executors.
import os as _os

WINNER_BROADCAST_ROW_LIMIT = int(
    _os.environ.get("ENDOR_WINNER_BROADCAST_ROW_LIMIT", 32_000_000)
)


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
    ts_col: str = "ts",
    salted: bool = False,
    salt_n: int = 16,
    est_rows: int | None = None,
) -> DataFrame:
    """Within-batch LWW on the RAW (undecoded) feed — the fast path.

    Why not ``max_by(struct(<whole row>), ...)``: an aggregation buffer
    containing strings can't use Spark's vectorized HashAggregate (string
    buffers aren't mutable fixed-width), so the wide reduce silently degrades
    to sort-based aggregation — measured 3x slower. Instead:

      1. narrow winner selection: ``max_by(lsn, struct(lsn, ts))`` per key —
         a pure fixed-width HashAggregate over three scanned columns (the
         payload blob is never touched: Catalyst prunes it from this scan);
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
    # ``lww_reduce`` used for feeds without the uniqueness guarantee.
    narrow = raw.select(*key_cols, lsn_col)
    if salted:
        # two-phase: spread each hot key over salt_n reducers first
        salt = F.pmod(F.xxhash64(lsn_col), F.lit(salt_n)).cast("int")
        phase1 = (
            narrow.withColumn("_salt", salt)
            .groupBy(*key_cols, "_salt")
            .agg(F.max(lsn_col).alias(lsn_col))
        )
        winners = phase1.groupBy(*key_cols).agg(F.max(lsn_col).alias("win_lsn"))
    else:
        winners = narrow.groupBy(*key_cols).agg(F.max(lsn_col).alias("win_lsn"))
    winners = winners.select("win_lsn")
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


def lww_reduce_salted(
    changes: DataFrame, key_cols: list[str] = KEY_COLS, salt_n: int = 16
) -> DataFrame:
    """Explicit two-phase salted LWW reduction (hot-key defense spelled out).

    Phase 1 reduces per ``(key, salt)`` where salt = pmod(xxhash64(lsn), n)
    — a hot conversation's rows spread over ``salt_n`` reducers; phase 2
    reduces the <= salt_n partials per key. Equivalent to ``lww_reduce``
    (property-tested); use when partial aggregation can't help (giant
    payloads, collect-style merges).
    """
    payload = [c for c in changes.columns if c not in key_cols]
    salted = changes.withColumn("_salt", F.pmod(F.xxhash64("lsn"), F.lit(salt_n)).cast("int"))
    phase1 = (
        salted.groupBy(*key_cols, "_salt")
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload]), F.struct(F.col("lsn"), F.col("_mts"))
            ).alias("_w")
        )
        .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])
    )
    return lww_reduce(phase1, key_cols)


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


def lww_state_merge(
    combined: DataFrame, key_cols: list[str] = KEY_COLS, strategy: str = "broadcast"
) -> DataFrame:
    """LWW across state generations (current ∪ new).

    ``strategy="broadcast"``: narrow winner selection on max(_lsn) then
    join-back on the globally-unique _lsn — same HashAggregate-friendly
    shape as ``lww_winner_rows`` (no string buffers). Safe while the winner
    set fits an executor (one long per key).
    ``strategy="window"``: row_number per key over (_lsn, _mts) desc — one
    shuffle, nothing broadcast; the scale path when the affected key count
    is large or unknown (mirrors ``ManifestTable.read``'s strategy switch).
    """
    if strategy == "window":
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(
            F.col("_lsn").desc(), F.col("_mts").desc()
        )
        return (
            combined.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    winners = (
        combined.select(*key_cols, "_lsn")
        .groupBy(*key_cols)
        .agg(F.max("_lsn").alias("_win_lsn"))
        .select("_win_lsn")
    )
    return combined.join(
        F.broadcast(winners), combined["_lsn"] == winners["_win_lsn"], "inner"
    ).drop("_win_lsn")


def merge_batch(
    table: ManifestTable,
    changes: DataFrame,
    batch_id: str,
    lsn_lo: int,
    lsn_hi: int,
    salted: bool = False,
    salt_n: int = 16,
    lineage=None,
    mode: str = "cow",
    decode_fn=None,
    est_rows: int | None = None,
) -> dict:
    """Apply one decoded WAL batch to the table (key-partitioned MERGE).

    ``mode="cow"`` (copy-on-write): affected buckets are read, LWW-merged
    with the batch and fully rewritten — reads always see compact state.
    ``mode="mor"`` (merge-on-read): the batch's per-key winners are appended
    as a new file generation of their buckets — apply cost is O(changes)
    instead of O(changes + affected-bucket state); readers merge generations
    (bounded by compaction, see ``compact_buckets``). At 10^10 events with
    table >> batch, MoR is the scale path — identical final semantics
    (property-tested against CoW).

    1. **bucket discovery** (cheap job): per-bucket change stats straight off
       the feed columns (conv_id/op/lsn only) — Catalyst prunes the payload
       decode + normalization out of this scan entirely, so it reads three
       parquet columns and nothing else. Yields the affected-bucket list for
       manifest-level read pruning AND the per-bucket lineage rows.
    2. **the merge job** (all heavy work, ONE Spark action): decode+normalize
       -> within-batch LWW reduce -> union with the snapshot-read of ONLY the
       affected buckets (tombstones included) -> per-key max_by(lsn, mts)
       -> bucketed parquet write (driver-staged when the row bound allows).
       No persist, no second pass: every row is decoded exactly once.
    3. atomic manifest commit replacing the affected buckets.

    Skew: both reduces are hash aggregates -> map-side partial aggregation
    collapses hot conversations before the shuffle. ``salted=True`` adds the
    explicit two-phase reduction for payloads too wide to partial-aggregate.

    ``est_rows``: the caller's bound on the batch's rows (the LSN range
    width of a dense feed); it picks the winner join-back and, for MoR, the
    staging writer (``ManifestTable.stage``).

    Returns the commit manifest dict (timing in stats).
    """
    t0 = time.time()

    # -- 1. bucket discovery (CoW only) -------------------------------------
    # CoW must know the affected buckets BEFORE planning the merge (it reads
    # exactly those buckets' current state). The discovery scan touches only
    # (conv_id, op, lsn) — Catalyst prunes the payload decode entirely.
    # MoR needs no discovery job at all: the commit's own directory listing
    # identifies the appended buckets, and per-bucket stats come free from
    # the parquet footers.
    bucket_rows = None
    affected = None
    n_changes = None
    if mode != "mor":
        bucket_rows = (
            changes.select(
                bucket_expr(table.bucket_key, table.n_buckets).alias("_bucket"),
                "op",
                "lsn",
            )
            .groupBy("_bucket")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
            )
            .collect()
        )
        affected = [r["_bucket"] for r in bucket_rows]
        n_changes = sum(r["n_rows"] for r in bucket_rows)

    # -- 2. one fused job: reduce (narrow) -> decode winners -> merge -> write
    if decode_fn is not None:
        # Fast path: ``changes`` is the RAW feed slice. Narrow winner
        # selection touches only (key, lsn, ts); the payload decode +
        # normalization run on WINNER rows only.
        winner_raw = lww_winner_rows(
            changes, salted=salted, salt_n=salt_n, est_rows=est_rows
        )
        reduced = decode_fn(winner_raw)
    else:
        # ``changes`` already decoded (compat path for pre-decoded feeds).
        reduced = (
            lww_reduce_salted(changes, salt_n=salt_n) if salted else lww_reduce(changes)
        )
    new_state = changes_to_state(reduced, batch_id).withColumn(
        "_bucket", bucket_expr(table.bucket_key, table.n_buckets)
    )
    if mode == "mor" or table.manifest() is None:
        merged = new_state
        # winners are at most the batch's rows (CoW's first commit: the
        # discovery count)
        bound = est_rows if mode == "mor" else n_changes
    else:
        current = table.read(
            table_spark(new_state), buckets=affected, with_internal=True
        ).withColumn("_bucket", bucket_expr(table.bucket_key, table.n_buckets))
        combined = current.unionByName(new_state, allowMissingColumns=True)
        # Pick the merge strategy from manifest stats, like the read path:
        # broadcast only when affected-state + batch rows provably fit.
        m0 = table.manifest()
        est = ManifestTable._selected_row_estimate(m0, {str(b) for b in affected})
        small = (
            est is not None
            and n_changes is not None
            and est + n_changes <= ManifestTable.MERGE_BROADCAST_ROW_LIMIT
        )
        merged = lww_state_merge(combined, strategy="broadcast" if small else "window")
        bound = est + n_changes if est is not None else None

    staged = table.stage(merged, batch_id, est_rows=bound)
    return commit_staged_batch(
        table, staged, batch_id, lsn_lo, lsn_hi,
        affected=affected, bucket_rows=bucket_rows, n_changes=n_changes,
        mode=mode, lineage=lineage, t_start=t0,
    )


def commit_staged_batch(
    table: ManifestTable,
    staged: dict,
    batch_id: str,
    lsn_lo: int,
    lsn_hi: int,
    affected=None,
    bucket_rows=None,
    n_changes=None,
    mode: str = "cow",
    lineage=None,
    t_start: float | None = None,
) -> dict:
    """Publish a staged batch: manifest commit + lineage + stats (driver-side,
    milliseconds). Pipelined callers invoke this strictly in batch order."""
    # apply_sec is computed BEFORE the manifest is fsync'd so the persisted
    # manifest records the real timing (it only misses the final ms-scale
    # rename itself), not null.
    apply_sec = (
        round(time.time() - t_start, 3) if t_start is not None else None
    )
    stats = {
        "n_changes": n_changes,
        "n_affected_buckets": len(affected) if affected is not None else None,
        "apply_sec": apply_sec,
    }
    manifest = table.commit_staged(
        staged, batch_id, lsn_lo, lsn_hi,
        replaced_buckets=affected, stats=stats,
        mode="append" if mode == "mor" else "replace",
    )
    if lineage is not None:
        if bucket_rows is not None:
            # CoW: source-side per-bucket stats from the discovery scan.
            rows = bucket_rows
        else:
            # MoR: per-bucket winner-row stats straight from parquet footers.
            rows = [
                {
                    "_bucket": int(b),
                    "n_rows": s["n_rows"],
                    "n_deletes": None,  # winners only; see batch total in stats
                    "min_lsn": s["min_lsn"],
                    "max_lsn": s["max_lsn"],
                }
                for b, s in manifest.get("new_bucket_stats", {}).items()
            ]
        lineage.record_rows(rows, batch_id, lsn_lo, lsn_hi, apply_sec)
    return manifest


def stage_batch_mor(
    table: ManifestTable,
    raw: DataFrame,
    batch_id: str,
    salted: bool = False,
    salt_n: int = 16,
    decode_fn=None,
    est_rows: int | None = None,
) -> dict:
    """Stage (write, don't publish) one MoR batch — the pipelinable half.

    MoR batches are mutually independent until the manifest commit (appends
    never read current state), so several can stage concurrently; commits
    then happen in order. CoW batches CANNOT pipeline: batch k+1's merge
    reads the state written by k.
    """
    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes

    decode = decode_fn or decode_changes
    winner_raw = lww_winner_rows(raw, salted=salted, salt_n=salt_n, est_rows=est_rows)
    reduced = decode(winner_raw)
    new_state = changes_to_state(reduced, batch_id).withColumn(
        "_bucket", bucket_expr(table.bucket_key, table.n_buckets)
    )
    return table.stage(new_state, batch_id, est_rows=est_rows)


def table_spark(df: DataFrame):
    """SparkSession of a DataFrame (4.x API)."""
    return df.sparkSession


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

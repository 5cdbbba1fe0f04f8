"""Temporal operators: as-of join and session windows.

As-of join — "for each probe row, the latest state row at or before the
probe's timestamp, per key" — is the temporal lookup every CDC consumer
eventually needs (state of a conversation when a message arrived, price at
trade time). Spark has no native ASOF JOIN; the naive rewrite
(``p JOIN s ON key AND s.ts <= p.ts`` + ``max_by``) materializes every
(probe x earlier-state) pair — quadratic per key. This implementation is
the scale-safe union+window form:

1. tag state rows 0 / probe rows 1 and union them;
2. one shuffle+sort per key: window ordered by (ts, tag) — the tag
   tie-break makes a state row at exactly the probe ts visible to it
   (<= semantics, matching DuckDB/pandas ``merge_asof`` defaults);
3. carry the last seen state forward with ``last(struct, ignorenulls)``
   — the struct travels atomically, so columns from two different state
   rows can never mix;
4. keep probe rows, unpack the carried struct.

Cost: ONE shuffle of (probes + states) on the key and a per-key sort —
O((P+S) log) instead of O(P*S); no broadcast, no skew beyond what the key
distribution already has (salt upstream if one key dominates).

Session windows — splitting each key's event stream at inactivity gaps —
use Spark's native ``session_window`` (merging-window aggregation, the
same operator Structured Streaming uses with state; in batch it plans as
a HashAggregate over merged windows).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    probes: DataFrame,
    states: DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    state_cols: list[str] | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Left as-of join: each probe row gains ``prefix<col>`` columns from
    the latest state row (per ``on`` key) with ``state.ts <= probe.ts``;
    probes with no prior state keep nulls (left semantics).

    ``state_cols`` defaults to every state column except the key; the
    matched state timestamp is always included (``prefix<ts_col>``).
    Probe column set is preserved as-is.

    States should be unique per (key, ts) — with duplicates the winner
    among equal timestamps is sort-order-dependent (dedupe upstream with
    ``max_by``, as the driver query does); probe duplicates are fine, each
    probe row is answered independently.
    """
    if state_cols is None:
        state_cols = [c for c in states.columns if c != on]
    elif ts_col not in state_cols:
        state_cols = [ts_col, *state_cols]

    probe_cols = probes.columns
    s = states.select(
        F.col(on),
        F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_tag"),
        F.struct(*[F.col(c) for c in state_cols]).alias("_state"),
        *[F.lit(None).cast(probes.schema[c].dataType).alias(f"_p_{c}") for c in probe_cols if c != on],
    )
    p = probes.select(
        F.col(on),
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(s.schema["_state"].dataType).alias("_state"),
        *[F.col(c).alias(f"_p_{c}") for c in probe_cols if c != on],
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts"), F.col("_tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        s.unionByName(p)
        .withColumn("_asof", F.last("_state", ignorenulls=True).over(w))
        .where(F.col("_tag") == 1)
    )
    return carried.select(
        F.col(on),
        *[F.col(f"_p_{c}").alias(c) for c in probe_cols if c != on],
        *[F.col(f"_asof.{c}").alias(f"{prefix}{c}") for c in state_cols],
    )


def choose_bin_plan(
    intervals: DataFrame,
    start_col: str = "start",
    end_col: str = "end",
    max_bins_per_interval: int = 256,
) -> tuple[int, int | None]:
    """Pick the binned-range-join widths from the interval-length
    DISTRIBUTION (one tiny agg over the intervals side): the fine width
    ``w1`` is the p95 duration — the typical interval then explodes into
    ~1 bin — and, when the longest interval would exceed the bin cap at
    ``w1``, a coarse tier width ``w2`` (the smallest power-of-2 multiple of
    ``w1`` that keeps even the maximum duration under the cap). Returns
    ``(w1, w2)``; ``w2`` is None when one tier suffices."""
    import math

    s_epoch = F.col(start_col).cast("timestamp_ltz").cast("long")
    e_epoch = F.col(end_col).cast("timestamp_ltz").cast("long")
    row = intervals.select((e_epoch - s_epoch).alias("_dur")).agg(
        F.expr("approx_percentile(_dur, 0.95)").alias("p95"),
        F.max("_dur").alias("mx"),
    ).first()
    w1 = max(int(row["p95"] or 1), 1)
    mx = int(row["mx"] or 0)
    if mx // w1 + 1 <= max_bins_per_interval:
        return w1, None
    k = math.ceil(math.log2(mx / ((max_bins_per_interval - 1) * w1)))
    return w1, w1 * 2 ** max(k, 1)


def range_join_binned(
    probes: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bin_width_sec: int | None = None,
    max_bins_per_interval: int = 256,
) -> DataFrame:
    """Range join — probe rows matched to every interval containing their
    timestamp (``start <= ts < end``) — as a BINNED EQUI-JOIN.

    Spark plans a bare range predicate as BroadcastNestedLoopJoin: O(P x R)
    comparisons and a broadcast of a whole side — the classic range-join
    trap. The scale-safe rewrite: explode each interval into the coarse
    time bins it overlaps (``sequence(floor(start/W), floor(end/W))`` —
    fan-out bounded by duration/W + 1), bin each probe once, equi-join on
    the bin (ordinary shuffled/broadcast hash join, prunable, skew-aware
    via AQE), and apply the exact range predicate as a post-filter. Every
    (probe, interval) match shares exactly the probe's single bin, so no
    dedup step is needed; the inclusive bin bound costs a few extra
    candidate pairs at the boundary, never correctness.

    ``bin_width_sec=None`` (default) picks the width ADAPTIVELY from the
    interval-length distribution (``choose_bin_plan``): w1 = p95 duration,
    and when the longest interval would still explode past
    ``max_bins_per_interval`` bins — one months-long outlier at an hourly
    width would fan into thousands of rows — the plan goes TWO-TIER: long
    intervals bin at a coarser power-of-2 width chosen so even the maximum
    duration stays under the cap, probes bin once per tier, and the two
    equi-joins union. Each interval lands in exactly one tier, so no
    dedup. An explicit ``bin_width_sec`` pins a single tier (no stats
    pass — the caller owns the fan-out bound, as before).

    Timestamp columns may be timestamps or epoch-second longs; output =
    all probe columns + all interval columns (callers aggregate as
    needed).
    """

    p_epoch = F.col(ts_col).cast("timestamp_ltz").cast("long")
    s_epoch = F.col(start_col).cast("timestamp_ltz").cast("long")
    e_epoch = F.col(end_col).cast("timestamp_ltz").cast("long")
    pred = (F.col(start_col) <= F.col(ts_col)) & (F.col(ts_col) < F.col(end_col))

    def tier(iv_part: DataFrame, width: int) -> DataFrame:
        ivb = iv_part.withColumn(
            "_bin",
            F.explode(F.sequence(F.floor(s_epoch / width), F.floor(e_epoch / width))),
        )
        prb = probes.withColumn("_bin", F.floor(p_epoch / width))
        return prb.join(ivb, "_bin").where(pred).drop("_bin")

    if bin_width_sec is not None:
        return tier(intervals, int(bin_width_sec))
    w1, w2 = choose_bin_plan(intervals, start_col, end_col, max_bins_per_interval)
    if w2 is None:
        return tier(intervals, w1)
    n_bins_w1 = F.floor(e_epoch / w1) - F.floor(s_epoch / w1) + 1
    short = intervals.where(n_bins_w1 <= max_bins_per_interval)
    long = intervals.where(n_bins_w1 > max_bins_per_interval)
    return tier(short, w1).unionByName(tier(long, w2))


def session_windows(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-key session aggregation: events closer than ``gap`` chain into
    one session. Returns (key, session_start, session_end, n_events) where
    session_end = last event ts + gap (Spark ``session_window`` contract).

    Native ``F.session_window`` — merging-window HashAggregate; no window
    function, no self-join, one shuffle on the key.
    """
    return (
        events.groupBy(F.col(key), F.session_window(F.col(ts_col), gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )

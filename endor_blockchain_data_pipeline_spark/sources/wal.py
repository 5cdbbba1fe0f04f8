"""Synthetic transcript WAL (binlog analog) + watermark-ranged scans.

Reference parity:
- the change feed plays the MySQL ``summaries(data blob, id, blockNumber)``
  table (``pipeline/src/test/resources/com/endor/blockchain/ethereum/db/001_init.sql:2-6``);
  here it is ``transcript_wal(lsn, op, conv_id, turn_idx, payload binary, ts)``
  with ``lsn`` as the monotonic watermark key.
- ``ranged_scan`` mirrors the watermark-bounded, partitioned JDBC tail
  (``BlockSummaryPipeline.scala:73-84``): ``WHERE lsn > lo AND lsn <= hi``.
- ``source_max`` mirrors the source-side watermark probe
  (``BlockSummaryPipeline.scala:68-72``).
- the generator plays the host-side feed producer (``export_batch.py``), but
  is fully deterministic and distributed: every value is a pure column
  expression of the row id, so the SAME rows come out at ANY parallelism
  (local[8] vs local[32] vs a 1000-executor cluster) — no per-partition RNG
  state, no task-attempt nondeterminism.

Scale: ``spark.range`` is an embarrassingly parallel source; at 10^10 events
the generator is a single map-only stage (no shuffle) feeding the batch
writer. Skew is generated on purpose (power-law conv_id) to exercise the
merge path's skew defenses.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

# Vocabulary for synthetic turn text (word choice is hash-driven per row).
_VOCAB = (
    "merge spark stream batch window table query join filter scan shuffle "
    "agg sort hash key value row column data lake delta wal lsn commit "
    "checkpoint replay upsert delete schema evolve bucket salt skew arrow"
).split()

_ROLES = ["user", "assistant", "system", "tool"]
_TOOLS = ["search", "python", "browser", "calculator", "none"]

# Modulus for uniform pseudo-randoms derived from xxhash64 (prime, < 2^31).
_M = 1_000_000_007


def _u01(*cols: Column | str, seed: int, salt: str) -> Column:
    """Uniform [0,1) derived from xxhash64 of (cols, salt, seed) — pure expr."""
    h = F.xxhash64(*cols, F.lit(salt), F.lit(seed))
    return F.pmod(h, F.lit(_M)).cast("double") / F.lit(float(_M))


def _pick(arr: list[str], *cols: Column | str, seed: int, salt: str) -> Column:
    h = F.xxhash64(*cols, F.lit(salt), F.lit(seed))
    return F.element_at(F.array(*[F.lit(x) for x in arr]), (F.pmod(h, F.lit(len(arr))) + 1).cast("int"))


def generate_wal(
    spark: SparkSession,
    n_events: int,
    n_convs: int = 256,
    max_turns: int = 24,
    skew: float = 2.5,
    seed: int = 42,
    tool_from_lsn: int | None = None,
    delete_frac: float = 0.08,
    numPartitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic WAL: (lsn, op, conv_id, turn_idx, payload, ts).

    - ``lsn`` = row id (monotonic).
    - ``conv_id`` is power-law skewed: conv index = floor(n_convs * u^skew),
      so conversation c0 is "hot" (exercises salting/AQE skew handling).
    - ``payload`` is a UTF-8 JSON after-image blob (opaque; decoded by the
      engine's vectorized decoder) — analog of the reference's binary
      block-summary blob. NULL for deletes.
    - additive schema evolution: the ``tool`` field only appears in payloads
      with lsn >= tool_from_lsn (default: half-way through the stream).
    """
    if tool_from_lsn is None:
        tool_from_lsn = n_events // 2

    df = spark.range(0, n_events, 1, numPartitions or spark.sparkContext.defaultParallelism)
    lsn = F.col("id")

    u_conv = _u01("id", seed=seed, salt="conv")
    conv_idx = F.floor(F.lit(float(n_convs)) * F.pow(u_conv, F.lit(float(skew)))).cast("long")
    conv_id = F.concat(F.lit("c"), F.lpad(conv_idx.cast("string"), 6, "0"))
    turn_idx = F.pmod(F.xxhash64("id", F.lit("turn"), F.lit(seed)), F.lit(max_turns)).cast("int")

    u_op = _u01("id", seed=seed, salt="op")
    op = (
        F.when(u_op < F.lit(delete_frac), F.lit("delete"))
        .when(u_op < F.lit(delete_frac + 0.25), F.lit("insert"))
        .otherwise(F.lit("update"))
    )

    role = _pick(_ROLES, "id", seed=seed, salt="role")
    tool = _pick(_TOOLS, "id", seed=seed, salt="tool")

    # Messy text on purpose: random case, stray whitespace, unicode ellipsis —
    # the normalization UDF's job (analog of EthereumTokensOps.normalizeName).
    words = [ _pick(_VOCAB, "id", seed=seed, salt=f"w{i}") for i in range(6) ]
    raw_text = F.concat_ws(" ", *words)
    u_case = _u01("id", seed=seed, salt="case")
    text = (
        F.when(u_case < 0.15, F.upper(raw_text))
        .when(u_case < 0.25, F.concat(F.lit("  "), raw_text, F.lit(" … ")))
        .otherwise(raw_text)
    )

    # Event-time of the turn and wall-clock mutation time. Mutation time is
    # mostly monotonic in lsn but with jitter; ties in (ts) across rows of the
    # same key exercise the (lsn, ts) LWW tiebreaker.
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    event_ts = F.timestamp_seconds(F.unix_timestamp(base) + (conv_idx * 3600) + turn_idx * 60)
    jitter = F.pmod(F.xxhash64("id", F.lit("jit"), F.lit(seed)), F.lit(30)).cast("long")
    mut_ts = F.timestamp_seconds(F.unix_timestamp(base) + (lsn / F.lit(10)).cast("long") + jitter)

    payload_new = F.to_json(
        F.struct(
            role.alias("role"),
            text.alias("text"),
            tool.alias("tool"),
            event_ts.cast("string").alias("ts"),
        )
    )
    payload_old = F.to_json(
        F.struct(role.alias("role"), text.alias("text"), event_ts.cast("string").alias("ts"))
    )
    payload = F.when(op == "delete", F.lit(None).cast("string")).otherwise(
        F.when(lsn >= F.lit(tool_from_lsn), payload_new).otherwise(payload_old)
    )

    return df.select(
        lsn.alias("lsn"),
        op.alias("op"),
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        F.encode(payload, "UTF-8").alias("payload"),
        mut_ts.alias("ts"),
    )


def ranged_scan(wal: DataFrame, lo: int, hi: int) -> DataFrame:
    """Watermark-bounded tail: rows with ``lo < lsn <= hi``.

    Analog of the ranged partitioned JDBC read
    (``BlockSummaryPipeline.scala:73-84``). On parquet-backed feeds the
    predicate pushes down to the scan (min/max row-group pruning); on JDBC
    feeds use ``spark.read.jdbc(..., column='lsn', lowerBound, upperBound,
    numPartitions)`` with the same WHERE clause.
    """
    return wal.where((F.col("lsn") > F.lit(lo)) & (F.col("lsn") <= F.lit(hi)))


def source_max(wal: DataFrame) -> int:
    """Source-side watermark probe (``BlockSummaryPipeline.scala:68-72``)."""
    row = wal.agg(F.max("lsn").alias("mx")).first()
    return -1 if row is None or row["mx"] is None else int(row["mx"])


def write_wal_batches(wal: DataFrame, path: str, batch_size: int, n_events: int) -> list[tuple[int, int]]:
    """Write the WAL as per-batch parquet subdirs ``batch-<lo>-<hi>/``.

    Plays the host-side batch producer (``export_batch.py:25-118`` exports
    250-block chunks to an inbox). Returns the list of (lo, hi] ranges.
    Each batch directory is an independent atomic drop — a ``ParquetFeed``
    over ``path`` reads every drop that has landed.
    """
    ranges: list[tuple[int, int]] = []
    lo = -1
    while lo < n_events - 1:
        hi = min(lo + batch_size, n_events - 1)
        batch = wal.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        batch.write.mode("overwrite").parquet(f"{path}/batch-{lo}-{hi}")
        ranges.append((lo, hi))
        lo = hi
    return ranges

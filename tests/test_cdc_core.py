"""Core CDC engine tests: replay equality, exactly-once, resume, evolution.

Mirrors the reference's test strategy (SURVEY.md §5):
- golden replay == brute-force oracle (BlockSummaryPipelineTest.scala:84-99,
  "Will only load new blocks");
- idempotent re-apply (delete-inbox + _SUCCESS semantics);
- schema projection / coercion on read (FileSystemDatasetStoreTest.scala:33-65).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.job import CDCJob, brute_force_state
from endor_blockchain_data_pipeline_spark.operators.merge import lww_winner_rows
from endor_blockchain_data_pipeline_spark.plans.explain import physical_plan
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal, source_max

from tests.conftest import assert_df_equal

N_EVENTS = 4000


@pytest.fixture(scope="module")
def wal(spark):
    return generate_wal(spark, N_EVENTS, n_convs=64, max_turns=8, seed=7).cache()


@pytest.fixture(scope="module")
def oracle(spark, wal):
    return brute_force_state(decode_changes(wal)).cache()


def _fresh_job(spark, wal, tmp_path, **kw):
    table = ManifestTable(str(tmp_path / "table"), n_buckets=8)
    return CDCJob(spark, table, wal, **kw)


def test_replay_equals_oracle(spark, wal, oracle, tmp_path):
    """Incremental batch apply == one-shot LWW oracle over the full WAL."""
    job = _fresh_job(spark, wal, tmp_path)
    commits = job.run_to_watermark(batch_size=500)
    assert len(commits) == N_EVENTS // 500
    assert_df_equal(job.read_state(), oracle)


def test_single_batch_apply(spark, wal, oracle, tmp_path):
    """Whole WAL in one batch gives the same final state."""
    job = _fresh_job(spark, wal, tmp_path)
    job.run_to_watermark(batch_size=N_EVENTS + 1)
    assert_df_equal(job.read_state(), oracle)


def test_idempotent_reapply(spark, wal, tmp_path):
    """Re-applying a committed batch is a no-op (exactly-once)."""
    job = _fresh_job(spark, wal, tmp_path)
    job.run_to_watermark(batch_size=1000)
    v = job.table.current_version()
    state_before = job.read_state().orderBy("conv_id", "turn_idx").collect()
    assert job.run_batch(-1, 999) is None  # replay skipped
    assert job.run_batch(999, 1999) is None
    assert job.table.current_version() == v
    assert job.read_state().orderBy("conv_id", "turn_idx").collect() == state_before


def test_resume_from_checkpoint(spark, wal, oracle, tmp_path):
    """Apply half, 'crash', rebuild the job from disk, catch up: same state."""
    job1 = _fresh_job(spark, wal, tmp_path)
    job1.run_to_watermark(batch_size=800, limit_batches=3)
    assert job1.checkpoint.last_lsn() == 2399

    # fresh objects, same paths — all resume state comes from the manifests
    table2 = ManifestTable(str(tmp_path / "table"), n_buckets=8)
    job2 = CDCJob(spark, table2, wal)
    assert job2.checkpoint.last_lsn() == 2399
    job2.run_to_watermark(batch_size=800)
    assert_df_equal(job2.read_state(), oracle)


def test_schema_evolution_mid_stream(spark, tmp_path):
    """`tool` appears half-way: early rows read as null after evolution."""
    wal = generate_wal(spark, 2000, n_convs=32, max_turns=6, seed=11, tool_from_lsn=1000)
    table = ManifestTable(str(tmp_path / "tbl"), n_buckets=4)
    job = CDCJob(spark, table, wal)
    job.run_batch(-1, 999)  # pre-evolution batch: no tool column in payloads
    state1 = table.read(spark)
    assert "tool" in state1.columns  # decoder schema is the contract
    assert state1.where(F.col("tool").isNotNull()).count() == 0

    job.run_batch(999, 1999)  # post-evolution
    state2 = table.read(spark)
    assert state2.where(F.col("tool").isNotNull()).count() > 0
    # final state still equals the oracle
    assert_df_equal(state2, brute_force_state(decode_changes(wal)))


def test_deletes_and_reinserts(spark, tmp_path):
    """Delete then later re-insert of the same key across batches."""
    import datetime as dt

    rows = [
        # lsn, op, conv, turn, payload(json), ts
        (0, "insert", "cA", 0, b'{"role":"user","text":"hello","ts":"2024-01-01 00:00:00"}'),
        (1, "delete", "cA", 0, None),
        (2, "insert", "cA", 0, b'{"role":"user","text":"again","ts":"2024-01-01 00:02:00"}'),
        (3, "insert", "cB", 1, b'{"role":"assistant","text":"hi","ts":"2024-01-01 00:03:00"}'),
        (4, "delete", "cB", 1, None),
    ]
    wal = spark.createDataFrame(
        [(l, o, c, t, p, dt.datetime(2024, 1, 1, 0, 0, l)) for (l, o, c, t, p) in rows],
        "lsn long, op string, conv_id string, turn_idx int, payload binary, ts timestamp",
    )
    table = ManifestTable(str(tmp_path / "tbl"), n_buckets=2)
    job = CDCJob(spark, table, wal)
    job.run_batch(-1, 1)  # cA inserted then deleted -> tombstone
    assert table.read(spark).count() == 0
    internal = table.read(spark, with_internal=True)
    assert internal.where(F.col("_deleted")).count() == 1  # tombstone survives
    job.run_batch(1, 4)
    final = table.read(spark).orderBy("conv_id").collect()
    assert [(r.conv_id, r.turn_idx, r.text) for r in final] == [("cA", 0, "again")]


def test_winner_reduce_collapses_hot_keys_map_side(spark, wal):
    """The narrow reduce is a partial max(lsn) HashAggregate right below its
    shuffle, so a hot key reaches the Exchange as one row per map task —
    the hot-key defense that makes a salted reduce unnecessary. A struct or
    string aggregation buffer would plan a SortAggregate instead."""
    plan = physical_plan(lww_winner_rows(wal))
    assert "SortAggregate" not in plan
    ops = [line.lstrip(" :+-") for line in plan.splitlines()]
    ex = next(
        i for i, op in enumerate(ops)
        if op.startswith("Exchange hashpartitioning(conv_id")
    )
    assert ops[ex - 1].startswith("HashAggregate(keys=[conv_id")
    assert "functions=[max(lsn" in ops[ex - 1]
    assert ops[ex + 1].startswith("HashAggregate(keys=[conv_id")
    assert "functions=[partial_max(lsn" in ops[ex + 1]


def test_lineage_recorded(spark, wal, tmp_path):
    job = _fresh_job(spark, wal, tmp_path)
    job.run_to_watermark(batch_size=2000)
    lin = job.lineage.read(spark)
    assert lin.select("batch_id").distinct().count() == 2
    row = lin.agg(F.max("lsn_hi").alias("m"), F.sum("n_rows").alias("n")).first()
    assert row["m"] == N_EVENTS - 1
    assert row["n"] > 0
    assert set(lin.columns) >= {
        "batch_id", "bucket", "n_rows", "n_deletes", "min_lsn", "max_lsn",
        "lsn_lo", "lsn_hi", "apply_sec",
    }


def test_time_travel_and_vacuum(spark, wal, tmp_path):
    # compacting every touched bucket after each batch gives v1's files a
    # successor that supersedes them
    job = _fresh_job(spark, wal, tmp_path, compact_threshold=2)
    job.run_to_watermark(batch_size=2000)
    v1_rows = job.table.read(spark, version=1).count()
    v2_rows = job.table.read(spark).count()
    assert v1_rows > 0 and v2_rows >= v1_rows
    # default grace period protects young (possibly staged) commit dirs:
    assert job.table.vacuum() == 0
    removed = job.table.vacuum(grace_sec=0)
    assert removed > 0  # v1's compacted buckets got cleaned
    assert job.table.read(spark).count() == v2_rows  # latest snapshot intact


def test_wal_deterministic_across_parallelism(spark):
    """Same WAL content at different partition counts (cluster-size proof)."""
    a = generate_wal(spark, 1000, seed=3, numPartitions=2).orderBy("lsn").collect()
    b = generate_wal(spark, 1000, seed=3, numPartitions=16).orderBy("lsn").collect()
    assert a == b


def test_source_max(spark, wal):
    assert source_max(wal) == N_EVENTS - 1


def test_history_and_timestamp_travel(spark, wal, tmp_path):
    """history() lists every snapshot; version_at() resolves a UTC timestamp
    to the snapshot current at that instant (Iceberg table.history analog)."""
    job = _fresh_job(spark, wal, tmp_path)
    job.run_to_watermark(batch_size=2000)
    h = job.table.history()
    assert [x["version"] for x in h] == [1, 2]
    assert all(x["committed_at"] is not None for x in h)
    assert h[-1]["watermark"] == N_EVENTS - 1
    # timestamp between the two commits resolves to v1; before all -> None
    assert job.table.version_at(h[0]["committed_at"]) == 1
    assert job.table.version_at("1970-01-01T00:00:00+00:00") is None
    assert job.table.version_at("9999-01-01T00:00:00+00:00") == 2
    v1 = job.table.read(spark, version=job.table.version_at(h[0]["committed_at"]))
    assert v1.count() == job.table.read(spark, version=1).count()


def test_version_at_parses_any_iso_spelling(spark, wal, tmp_path):
    """version_at must compare PARSED datetimes: 'Z'-suffixed or second-
    precision spellings misorder under lexicographic comparison against the
    stored microsecond '+00:00' stamps."""
    job = _fresh_job(spark, wal, tmp_path)
    job.run_to_watermark(batch_size=2000)
    h = job.table.history()
    import datetime as dt

    t1 = dt.datetime.fromisoformat(h[0]["committed_at"])
    just_after = (t1 + dt.timedelta(milliseconds=1)).replace(tzinfo=None)
    # 'Z' spelling ('Z' > '.' lexicographically -> string compare would
    # wrongly include LATER commits); both spellings must agree
    assert job.table.version_at(just_after.isoformat() + "Z") == 1
    assert job.table.version_at(just_after.isoformat() + "+00:00") == 1
    # naive input is taken as UTC
    assert job.table.version_at(just_after.isoformat()) == 1
    # second-precision truncation just BEFORE the first commit -> None
    floor = t1.replace(microsecond=0, tzinfo=None)
    assert job.table.version_at(floor.isoformat() + "Z") in (None, 1)


def test_declared_schema_read_coerces_ts_to_date(spark, wal, tmp_path):
    """Reference parity FileSystemDatasetStoreTest.scala:48-65: a reader
    declaring `date` over physically-`timestamp` files truncates on read
    instead of erroring; declared-but-absent columns read as null."""
    import pyspark.sql.types as T

    from endor_blockchain_data_pipeline_spark.sources.lake import coerce_to_declared

    job = _fresh_job(spark, wal, tmp_path)
    job.run_batch(-1, 999)
    declared = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.LongType()),   # int -> long widening
            T.StructField("ts", T.DateType()),          # timestamp -> date
            T.StructField("annotations", T.StringType()),  # absent -> null
        ]
    )
    got = job.table.read(spark, declared_schema=declared)
    assert [f.dataType for f in got.schema.fields] == [
        T.StringType(), T.LongType(), T.DateType(), T.StringType()
    ]
    base = job.table.read(spark)
    assert got.count() == base.count()
    joined = got.join(base.select("conv_id", "turn_idx", F.col("ts").alias("full_ts")),
                      ["conv_id", "turn_idx"])
    assert joined.where(F.to_date("full_ts") != F.col("ts")).count() == 0
    assert got.where(F.col("annotations").isNotNull()).count() == 0
    # lossy/incompatible coercions still refuse loudly
    bad = T.StructType([T.StructField("ts", T.LongType())])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot coerce"):
        coerce_to_declared(job.table.read(spark), bad)


def test_staged_but_uncommitted_batch_invisible_and_replay_safe(spark, tmp_path):
    """Crash AFTER data files land but BEFORE the manifest commit point:
    readers never see the orphaned files (manifest-only reads), the replay
    applies the batch exactly once, and vacuum reclaims the orphans."""
    import time as _time

    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
    from endor_blockchain_data_pipeline_spark.operators.merge import (
        changes_to_state,
        commit_staged_batch,
        lww_winner_rows,
    )
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable, bucket_expr
    from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal, ranged_scan

    t = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    wal = generate_wal(spark, 2000, n_convs=16, max_turns=6, seed=11)

    # batch 1 commits normally
    d1 = decode_changes(lww_winner_rows(ranged_scan(wal, -1, 999)))
    s1 = changes_to_state(d1, "b1").withColumn(
        "_bucket", bucket_expr(t.bucket_key, t.n_buckets)
    )
    commit_staged_batch(t, t.stage(s1, "b1"), "b1", -1, 999)

    # batch 2 stages its files... and the writer dies before the commit
    d2 = decode_changes(lww_winner_rows(ranged_scan(wal, 999, 1999)))
    s2 = changes_to_state(d2, "b2").withColumn(
        "_bucket", bucket_expr(t.bucket_key, t.n_buckets)
    )
    t.stage(s2, "b2")  # staged, never committed

    # readers see ONLY batch 1 (manifest-driven file list, not a dir listing)
    assert t.committed_batches() == {"b1"}
    n_after_crash = t.read(spark, with_internal=True).count()
    assert n_after_crash == s1.count()

    # replay stages fresh files and commits exactly once
    s2r = changes_to_state(d2, "b2").withColumn(
        "_bucket", bucket_expr(t.bucket_key, t.n_buckets)
    )
    commit_staged_batch(t, t.stage(s2r, "b2"), "b2", 999, 1999)
    assert t.committed_batches() == {"b1", "b2"}
    # the MoR read LWW-merges generations per key: every key's winner must
    # now come from batch 2 (its lsns are strictly higher), with no orphan
    # rows from the crashed first attempt inflating any generation
    merged = t.read(spark, with_internal=True)
    assert merged.count() == s2r.count()
    assert merged.agg(F.max("_lsn")).first()[0] == s2r.agg(F.max("_lsn")).first()[0]
    assert merged.where(F.col("_batch") == "b1").count() == 0  # b2 superseded all
    b2_rows = t.read(spark, with_internal=True, batch_ids=["b2"]).count()
    assert b2_rows == s2r.count()  # exactly ONE b2 generation (no dup commit)

    # vacuum reclaims the orphaned first-attempt files once outside grace
    removed = t.vacuum(grace_sec=0)
    assert removed > 0
    assert t.read(spark, with_internal=True).count() == s2r.count()  # intact
    _time.sleep(0)  # (no timing dependence — grace_sec=0 reclaims now)

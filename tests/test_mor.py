"""Merge-on-read apply: compaction equivalence and bounds, resume,
idempotency."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.job import CDCJob, brute_force_state
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

from tests.conftest import assert_df_equal

N = 3000


@pytest.fixture(scope="module")
def wal(spark):
    return generate_wal(spark, N, n_convs=48, max_turns=6, seed=99).cache()


@pytest.fixture(scope="module")
def oracle(spark, wal):
    return brute_force_state(decode_changes(wal)).cache()


def test_compact_every_batch_equals_never_compacting_and_oracle(
    spark, wal, oracle, tmp_path
):
    never_t = ManifestTable(str(tmp_path / "never"), n_buckets=8)
    never = CDCJob(spark, never_t, wal, compact_threshold=100)
    never.run_to_watermark(batch_size=500)
    assert_df_equal(never.read_state(), oracle)
    # no compaction happened: buckets really are multi-generation
    assert len(never_t.multi_gen_buckets(2)) > 0

    # threshold 2 folds every touched bucket after each batch — the state
    # copy-on-write would store
    every_t = ManifestTable(str(tmp_path / "every"), n_buckets=8)
    every = CDCJob(spark, every_t, wal, compact_threshold=2)
    every.run_to_watermark(batch_size=500)
    assert every_t.multi_gen_buckets(2) == []
    assert_df_equal(every.read_state(), never.read_state())


def test_mor_auto_compaction_bounds_generations(spark, wal, oracle, tmp_path):
    t = ManifestTable(str(tmp_path / "mor"), n_buckets=4)
    job = CDCJob(spark, t, wal, write_mode="mor", compact_threshold=3)
    job.run_to_watermark(batch_size=300)  # 10 batches
    # every bucket stays under the threshold after auto-compaction
    assert t.multi_gen_buckets(3) == []
    assert_df_equal(job.read_state(), oracle)
    # compaction commits are recorded and idempotent
    assert any(b.startswith("compact-") for b in t.committed_batches())


def test_mor_resume(spark, wal, oracle, tmp_path):
    t = ManifestTable(str(tmp_path / "mor"), n_buckets=8)
    job1 = CDCJob(spark, t, wal, write_mode="mor", compact_threshold=4)
    job1.run_to_watermark(batch_size=700, limit_batches=2)

    t2 = ManifestTable(str(tmp_path / "mor"), n_buckets=8)
    job2 = CDCJob(spark, t2, wal, write_mode="mor", compact_threshold=4)
    assert job2.checkpoint.last_lsn() == 1399
    job2.run_to_watermark(batch_size=700)
    assert_df_equal(job2.read_state(), oracle)


def test_mor_delete_tombstones_survive_generations(spark, tmp_path):
    import datetime as dt

    rows = [
        (0, "insert", "cA", 0, b'{"role":"user","text":"v1","ts":"2024-01-01 00:00:00"}'),
        (1, "insert", "cB", 0, b'{"role":"user","text":"b1","ts":"2024-01-01 00:00:01"}'),
        (2, "delete", "cA", 0, None),
        (3, "update", "cB", 0, b'{"role":"user","text":"b2","ts":"2024-01-01 00:00:03"}'),
    ]
    wal = spark.createDataFrame(
        [(l, o, c, t_, p, dt.datetime(2024, 1, 1, 0, 0, l)) for (l, o, c, t_, p) in rows],
        "lsn long, op string, conv_id string, turn_idx int, payload binary, ts timestamp",
    )
    t = ManifestTable(str(tmp_path / "m"), n_buckets=2)
    job = CDCJob(spark, t, wal, write_mode="mor", compact_threshold=100)
    job.run_batch(-1, 1)   # gen1: cA=v1, cB=b1
    job.run_batch(1, 3)    # gen2: cA deleted, cB=b2
    state = {(r.conv_id, r.turn_idx): r.text for r in job.read_state().collect()}
    assert state == {("cB", 0): "b2"}  # delete won across generations
    raw = t.read(spark, with_internal=True)
    assert raw.where(F.col("_deleted")).count() == 1  # tombstone is the winner


def test_mor_window_merge_no_broadcast(spark, wal, oracle, tmp_path):
    """A multi-generation LWW read merges with exactly ONE per-key Window
    and no broadcast anywhere in the plan — the 100-TB read path (r1
    VERDICT scale-killer #1) — and returns the oracle's rows."""
    import re

    from endor_blockchain_data_pipeline_spark.plans.explain import physical_plan

    t = ManifestTable(str(tmp_path / "mor"), n_buckets=8)
    job = CDCJob(spark, t, wal, write_mode="mor", compact_threshold=100)
    job.run_to_watermark(batch_size=500)
    assert len(t.multi_gen_buckets(2)) > 0

    for df in (t.read(spark), t.read(spark, merge_strategy="window")):
        plan = physical_plan(df)
        windows = re.findall(r"(?m)^[\s+:|-]*(?:\*\(\d+\) )?Window \[", plan)
        assert len(windows) == 1, plan
        assert "Broadcast" not in plan, plan
        assert_df_equal(df, oracle)


def test_watermark_never_regresses(spark, tmp_path):
    """Out-of-LSN-order commits (an older range applied last) must not move
    the watermark backwards — else replay re-applies committed ranges."""
    import datetime as dt

    t = ManifestTable(str(tmp_path / "wm"), n_buckets=2)
    df = spark.createDataFrame(
        [("cA", 0, "user", "x", None, dt.datetime(2024, 1, 1), 5, dt.datetime(2024, 1, 1), False, "b1")],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, _lsn long, _mts timestamp, _deleted boolean, _batch string",
    )
    t.commit(df, "hi-range", lsn_lo=100, lsn_hi=200, replaced_buckets=None, mode="append")
    assert t.watermark() == 200
    t.commit(df, "lo-range", lsn_lo=0, lsn_hi=100, replaced_buckets=None, mode="append")
    assert t.watermark() == 200  # running max, not latest commit's hi


def test_committed_batches_reads_only_latest_manifest(spark, wal, tmp_path):
    """O(1) registry: the cumulative batch-id list lives in the latest
    manifest; historical manifest files are never re-read."""
    import os

    t = ManifestTable(str(tmp_path / "reg"), n_buckets=4)
    job = CDCJob(spark, t, wal, write_mode="mor", compact_threshold=100)
    job.run_to_watermark(batch_size=1000)  # 3 commits
    ids = t.committed_batches()
    assert len(ids) == 3
    # destroy every manifest except the latest: the registry must survive,
    # proving committed_batches() never opens the older files.
    t2 = ManifestTable(str(tmp_path / "reg"), n_buckets=4)
    mdir = os.path.join(str(tmp_path / "reg"), "_manifests")
    manifests = sorted(f for f in os.listdir(mdir) if f.startswith("v"))
    for f in manifests[:-1]:
        os.rename(os.path.join(mdir, f), os.path.join(mdir, f + ".hidden"))
    assert t2.committed_batches() == ids


def test_registry_folds_into_bounded_sidecar(spark, wal, tmp_path):
    """Manifests carry at most REGISTRY_FOLD_THRESHOLD inline batch ids; the
    rest fold into an immutable sidecar — per-commit manifest bytes stay
    O(threshold), not O(commits) (r2 ADVICE: unbounded registry growth)."""
    import json
    import os

    t = ManifestTable(str(tmp_path / "fold"), n_buckets=4)
    t.REGISTRY_FOLD_THRESHOLD = 4
    job = CDCJob(spark, t, wal, write_mode="mor", compact_threshold=100)
    job.run_to_watermark(batch_size=300)  # 10 commits at N=3000
    ids = t.committed_batches()
    assert len(ids) == 10
    m = t.manifest()
    assert len(m["registry_delta"]) < 4
    assert m["registry_file"] is not None
    mdir = os.path.join(t.path, "_manifests")
    with open(os.path.join(mdir, m["registry_file"])) as fh:
        folded = set(json.load(fh)["batch_ids"])
    assert folded | set(m["registry_delta"]) == ids
    # every manifest ever written stayed bounded
    for name in sorted(f for f in os.listdir(mdir) if f.startswith("v")):
        with open(os.path.join(mdir, name)) as fh:
            assert len(json.load(fh)["registry_delta"]) < 4
    # a cold reader (no in-memory caches) reconstructs the full registry
    t2 = ManifestTable(str(tmp_path / "fold"), n_buckets=4)
    assert t2.committed_batches() == ids
    # and replay skips everything
    job2 = CDCJob(spark, t2, wal, write_mode="mor", compact_threshold=100)
    assert job2.run_to_watermark(batch_size=300) == []
    # vacuum reclaims superseded sidecars, keeps the live one, registry intact
    n_reg_before = len([f for f in os.listdir(mdir) if f.startswith("registry-")])
    assert n_reg_before >= 2  # threshold 4 over 10 commits folds twice
    t2.vacuum(grace_sec=0)
    regs = [f for f in os.listdir(mdir) if f.startswith("registry-")]
    assert regs == [t2.manifest()["registry_file"]]
    t3 = ManifestTable(str(tmp_path / "fold"), n_buckets=4)
    assert t3.committed_batches() == ids


def test_full_compact_drops_tombstones(spark, wal, oracle, tmp_path):
    from endor_blockchain_data_pipeline_spark.operators.merge import compact

    t = ManifestTable(str(tmp_path / "mor"), n_buckets=4)
    job = CDCJob(spark, t, wal, write_mode="mor", compact_threshold=100)
    job.run_to_watermark(batch_size=1000)
    raw_before = t.read(spark, with_internal=True)
    assert raw_before.where(F.col("_deleted")).count() > 0
    compact(t, spark, "full-compact-1")
    raw_after = t.read(spark, with_internal=True)
    assert raw_after.where(F.col("_deleted")).count() == 0
    assert t.multi_gen_buckets(2) == []
    assert_df_equal(t.read(spark), oracle)
    removed = t.vacuum(grace_sec=0)
    assert removed > 0
    assert_df_equal(t.read(spark), oracle)

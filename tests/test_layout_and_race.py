"""Table-layout reconciliation on reopen + concurrent-writer commit retry.

r3 VERDICT wrong-#1 (silent bucket-routing divergence on reopen) and
next-round #6 (optimistic retry for commuting MoR appends).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
from endor_blockchain_data_pipeline_spark.job import CDCJob, brute_force_state
from endor_blockchain_data_pipeline_spark.operators.merge import (
    changes_to_state,
    commit_staged_batch,
    lww_winner_rows,
)
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable, bucket_expr
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal, ranged_scan

from tests.conftest import assert_df_equal


# ----------------------------------------------------------- layout reopen


def test_reopen_adopts_stored_layout(spark, tmp_path):
    t = ManifestTable(
        str(tmp_path / "t"), n_buckets=8, key_cols=("conv_id",), bucket_key="conv_id"
    )
    wal = generate_wal(spark, 500, n_convs=8, max_turns=4, seed=3)
    CDCJob(spark, t, wal).run_batch(-1, 499)

    # reopen with NO layout args: the manifest's stored layout is adopted
    t2 = ManifestTable(str(tmp_path / "t"))
    assert t2.n_buckets == 8
    assert t2.key_cols == ("conv_id",)
    assert t2.bucket_key == "conv_id"


def test_reopen_with_conflicting_layout_raises(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"), n_buckets=8)
    wal = generate_wal(spark, 500, n_convs=8, max_turns=4, seed=3)
    CDCJob(spark, t, wal).run_batch(-1, 499)

    with pytest.raises(ValueError, match="layout conflict"):
        ManifestTable(str(tmp_path / "t"), n_buckets=32)
    with pytest.raises(ValueError, match="layout conflict"):
        ManifestTable(str(tmp_path / "t"), bucket_key="turn_idx")
    # matching explicit values are fine
    assert ManifestTable(str(tmp_path / "t"), n_buckets=8).n_buckets == 8


def test_replay_equality_across_layoutless_reopen(spark, tmp_path):
    """Resume with OMITTED layout params must keep bucket routing identical
    (the old CLI-default footgun: reopen with a different --buckets silently
    diverged the merge's bucket pruning -> duplicate keys)."""
    wal = generate_wal(spark, 2000, n_convs=24, max_turns=6, seed=7)
    t1 = ManifestTable(str(tmp_path / "t"), n_buckets=8)
    CDCJob(spark, t1, wal, write_mode="mor").run_to_watermark(
        batch_size=700, limit_batches=2
    )

    # crash + resume via a handle that passes NO layout args at all
    t2 = ManifestTable(str(tmp_path / "t"))
    assert t2.n_buckets == 8
    job2 = CDCJob(spark, t2, wal, write_mode="mor")
    job2.run_to_watermark(batch_size=700)
    assert_df_equal(job2.read_state(), brute_force_state(decode_changes(wal)))
    # no duplicate keys: bucket routing stayed consistent across the reopen
    st = job2.read_state()
    assert st.count() == st.select("conv_id", "turn_idx").distinct().count()


def _hand_written_store(path, unique_lsn=None, semantics="lww"):
    """A store in one bucket and three generations under a hand-written
    manifest, as an older writer left it: ``unique_lsn`` (when given) is
    the manifest key that writer persisted. ``_lsn`` is stamped per batch,
    and batch b3 re-uses b2's ``_lsn`` with a later ``_mts``, so several
    rows share one ``_lsn`` across generations. Returns the newest
    generation's label per live key."""
    import datetime as dt
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    gens = {  # batch: rows of (doc_id, label, _lsn, _mts second, _deleted)
        "b1": [(1, 10, 1, 1, False), (2, 20, 1, 1, False),
               (3, 30, 1, 1, False), (4, 40, 1, 1, False)],
        "b2": [(1, 11, 2, 2, False), (2, 21, 2, 2, False)],
        "b3": [(1, 12, 2, 3, False), (3, 31, 2, 3, True)],
    }
    os.makedirs(os.path.join(path, "data"))
    os.makedirs(os.path.join(path, "_manifests"))
    files = []
    for batch, rows in gens.items():
        doc, label, lsn, sec, deleted = zip(*rows)
        files.append(f"data/{batch}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array(doc, pa.int64()),
                "label": pa.array(label, pa.int64()),
                "_lsn": pa.array(lsn, pa.int64()),
                "_mts": pa.array(
                    [dt.datetime(2024, 1, 1, 0, 0, x, tzinfo=dt.timezone.utc) for x in sec],
                    pa.timestamp("us", tz="UTC"),
                ),
                "_deleted": pa.array(deleted),
                "_batch": pa.array([batch] * len(rows)),
            }),
            os.path.join(path, files[-1]),
        )
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("_lsn", T.LongType()),
        T.StructField("_mts", T.TimestampType()),
        T.StructField("_deleted", T.BooleanType()),
        T.StructField("_batch", T.StringType()),
    ])
    manifest = {
        "version": 3, "batch_id": "b3", "lsn_lo": 2, "lsn_hi": 2, "watermark": 2,
        "registry_file": None, "registry_delta": list(gens),
        "schema": schema.json(),
        "buckets": {"0": files}, "bucket_gens": {"0": 3}, "bucket_rows": {"0": 8},
        "n_buckets": 1, "key_cols": ["doc_id"], "bucket_key": "doc_id",
        "semantics": semantics, "stats": {}, "new_bucket_stats": {},
        "total_commits": 3, "committed_at": "2024-01-01T00:00:03+00:00",
    }
    if unique_lsn is not None:
        manifest["unique_lsn"] = unique_lsn
    with open(os.path.join(path, "_manifests", "v00000003.json"), "w") as fh:
        json.dump(manifest, fh)
    return {1: 12, 2: 21, 4: 40}


@pytest.mark.parametrize("unique_lsn", [False, True])
def test_manifest_with_unique_lsn_key_reads_and_compacts(spark, tmp_path, unique_lsn):
    """Manifests from writers that persisted ``unique_lsn`` open bare, merge
    per-batch ``_lsn`` generations with the per-key window (the ``_mts``
    tie-break picks b3 over b2), and compact to the same rows."""
    from endor_blockchain_data_pipeline_spark.operators.merge import compact_buckets

    want = _hand_written_store(str(tmp_path / "t"), unique_lsn=unique_lsn)
    t = ManifestTable(str(tmp_path / "t"))
    assert (t.n_buckets, t.key_cols) == (1, ("doc_id",))

    def labels():
        return {r.doc_id: r.label for r in t.read(spark).collect()}

    assert labels() == want
    assert t.read(spark, with_internal=True).count() == 4  # + b3's tombstone
    compact_buckets(t, spark, "compact-1", t.multi_gen_buckets(2))
    assert t.multi_gen_buckets(2) == [] and t.manifest()["bucket_gens"] == {"0": 1}
    assert labels() == want


def test_unknown_merge_strategy_is_refused(spark, tmp_path):
    """A misspelt or removed strategy raises on LWW and additive tables
    alike instead of silently reading with the table's default merge."""
    _hand_written_store(str(tmp_path / "lww"))
    _hand_written_store(str(tmp_path / "add"), semantics="additive")
    for path in ("lww", "add"):
        t = ManifestTable(str(tmp_path / path))
        for bad in ("windw", "broadcast", "auto"):
            with pytest.raises(ValueError, match="unknown merge_strategy"):
                t.read(spark, merge_strategy=bad)
    # the additive store's default read still returns every partial
    assert ManifestTable(str(tmp_path / "add")).read(spark).count() == 7


# ------------------------------------------------- concurrent append commits


def _staged_batch(spark, t, wal, lo, hi, batch_id):
    d = decode_changes(lww_winner_rows(ranged_scan(wal, lo, hi)))
    s = changes_to_state(d, batch_id).withColumn(
        "_bucket", bucket_expr(t.bucket_key, t.n_buckets)
    )
    return t.stage(s, batch_id)


def test_append_commit_race_retries_and_both_land(spark, tmp_path):
    """Two writers race on the same version: the loser re-bases its MoR
    append on the winner's snapshot and retries (appends commute)."""
    wal = generate_wal(spark, 1200, n_convs=16, max_turns=6, seed=13)
    ta = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    tb = ManifestTable(str(tmp_path / "t"), n_buckets=4)

    base = _staged_batch(spark, ta, wal, -1, 399, "b0")
    ta.commit_staged(base, "b0", -1, 399, None, mode="append")

    sa = _staged_batch(spark, ta, wal, 399, 799, "bA")
    sb = _staged_batch(spark, tb, wal, 799, 1199, "bB")

    # Writer A publishes first; writer B's first attempt is forced to target
    # A's (now taken) version — the deterministic reproduction of the
    # listdir->link race window.
    ta.commit_staged(sa, "bA", 399, 799, None, mode="append")

    attempts = {"n": 0}
    real_once = ManifestTable._commit_staged_once

    def racing_once(self, *a, **k):
        attempts["n"] += 1
        if attempts["n"] == 1:
            real_cv = self.current_version
            self.current_version = lambda: real_cv() - 1  # stale snapshot view
            try:
                return real_once(self, *a, **k)
            finally:
                self.current_version = real_cv
        return real_once(self, *a, **k)

    tb._commit_staged_once = racing_once.__get__(tb)
    tb.commit_staged(sb, "bB", 799, 1199, None, mode="append")
    assert attempts["n"] == 2  # first attempt raced, retry landed

    # both appends are committed and the merged state equals the oracle
    t = ManifestTable(str(tmp_path / "t"))
    assert {"b0", "bA", "bB"} <= t.committed_batches()
    assert_df_equal(
        t.read(spark), brute_force_state(decode_changes(wal))
    )


def test_append_racing_after_base_snapshot_read_is_not_dropped(spark, tmp_path):
    """A competitor publishing AFTER a writer loaded the snapshot its next
    manifest builds on: the writer must re-base, not publish that manifest
    under a later version (which would drop the competitor's files and
    batch id while the writer's cache still lists them)."""
    import sys

    wal = generate_wal(spark, 1200, n_convs=16, max_turns=6, seed=13)
    ta = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    tb = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    ta.commit_staged(_staged_batch(spark, ta, wal, -1, 399, "b0"),
                     "b0", -1, 399, None, mode="append")
    sa = _staged_batch(spark, ta, wal, 399, 799, "bA")
    sb = _staged_batch(spark, tb, wal, 799, 1199, "bB")

    real_manifest = tb.manifest
    fired = []

    def manifest_then_compete(version=None):
        m = real_manifest(version)
        # the commit's own base-snapshot read, not the registry lookups
        if not fired and sys._getframe(1).f_code.co_name == "_commit_staged_once":
            fired.append(m["version"])
            ta.commit_staged(sa, "bA", 399, 799, None, mode="append")
        return m

    tb.manifest = manifest_then_compete
    tb.commit_staged(sb, "bB", 799, 1199, None, mode="append")
    assert fired == [1]

    fresh = ManifestTable(str(tmp_path / "t"))
    m = fresh.manifest()
    assert m["version"] == 3
    a_files = {f for fl in sa["new_buckets"].values() for f in fl}
    assert a_files <= {f for fl in m["buckets"].values() for f in fl}
    assert {"b0", "bA", "bB"} <= fresh.committed_batches()
    assert tb.committed_batches() == fresh.committed_batches()
    assert_df_equal(fresh.read(spark), brute_force_state(decode_changes(wal)))


def test_replace_commit_race_is_terminal(spark, tmp_path):
    """Replace-mode commits do NOT commute — a version race must error."""
    wal = generate_wal(spark, 600, n_convs=8, max_turns=4, seed=5)
    t = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    s0 = _staged_batch(spark, t, wal, -1, 299, "b0")
    t.commit_staged(s0, "b0", -1, 299, None, mode="append")

    s1 = _staged_batch(spark, t, wal, 299, 599, "b1")
    real_once = ManifestTable._commit_staged_once
    first = {"done": False}

    def racing_once(self, *a, **k):
        if not first["done"]:
            first["done"] = True
            real_cv = self.current_version
            self.current_version = lambda: real_cv() - 1
            try:
                return real_once(self, *a, **k)
            finally:
                self.current_version = real_cv
        return real_once(self, *a, **k)

    t._commit_staged_once = racing_once.__get__(t)
    with pytest.raises(RuntimeError, match="not retrying"):
        t.commit_staged(s1, "b1", 299, 599, None, mode="replace")


# -------------------------------------------- compaction-vs-append races


def test_compaction_rebases_over_concurrent_append(spark, tmp_path):
    """An append landing between a compaction's snapshot read and its
    commit no longer kills the compaction: the fold re-bases — replaced
    buckets become [folded file] + [generations appended since the
    snapshot] — and the merged state equals the full replay."""
    wal = generate_wal(spark, 1200, n_convs=16, max_turns=6, seed=21)
    ta = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    tb = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    ta.commit_staged(_staged_batch(spark, ta, wal, -1, 399, "b0"),
                     "b0", -1, 399, None, mode="append")
    ta.commit_staged(_staged_batch(spark, ta, wal, 399, 799, "b1"),
                     "b1", 399, 799, None, mode="append")

    # compaction pins its snapshot and stages the fold...
    m = ta.manifest()
    all_buckets = [int(b) for b in m["buckets"]]
    merged = ta.read(
        spark, buckets=all_buckets, with_internal=True, version=m["version"]
    ).withColumn("_bucket", bucket_expr(ta.bucket_key, ta.n_buckets))
    staged = ta.stage(merged, "compact-1")

    # ...writer B's append lands in the race window...
    tb.commit_staged(_staged_batch(spark, tb, wal, 799, 1199, "b2"),
                     "b2", 799, 1199, None, mode="append")

    # ...and the compaction commit re-bases instead of dying.
    ta.commit_staged(
        staged, "compact-1", m["lsn_lo"], m["lsn_hi"], all_buckets,
        mode="replace", base_manifest=m,
    )

    t = ManifestTable(str(tmp_path / "t"))
    assert {"b0", "b1", "b2", "compact-1"} <= t.committed_batches()
    assert_df_equal(t.read(spark), brute_force_state(decode_changes(wal)))
    # the carried append survives as a later generation over the fold
    m2 = t.manifest()
    assert max(m2["bucket_gens"].values()) == 2
    assert int(m2["watermark"]) == 1199  # running max kept B's progress


def test_compaction_version_race_retries_with_base_manifest(spark, tmp_path):
    """The literal os.link EEXIST race (both writers target the same
    version number): with base_manifest the replace retries like an append
    instead of raising 'not retrying'."""
    wal = generate_wal(spark, 800, n_convs=8, max_turns=4, seed=23)
    t = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    t.commit_staged(_staged_batch(spark, t, wal, -1, 399, "b0"),
                    "b0", -1, 399, None, mode="append")
    t.commit_staged(_staged_batch(spark, t, wal, 399, 799, "b1"),
                    "b1", 399, 799, None, mode="append")

    m = t.manifest()
    all_buckets = [int(b) for b in m["buckets"]]
    merged = t.read(
        spark, buckets=all_buckets, with_internal=True, version=m["version"]
    ).withColumn("_bucket", bucket_expr(t.bucket_key, t.n_buckets))
    staged = t.stage(merged, "compact-1")

    from endor_blockchain_data_pipeline_spark.sources.lake import _CommitRace

    attempts = {"n": 0}
    real_once = ManifestTable._commit_staged_once

    def racing_once(self, *a, **k):
        attempts["n"] += 1
        if attempts["n"] == 1:  # competitor linked this version first
            raise _CommitRace("simulated version collision")
        return real_once(self, *a, **k)

    t._commit_staged_once = racing_once.__get__(t)
    t.commit_staged(
        staged, "compact-1", m["lsn_lo"], m["lsn_hi"], all_buckets,
        mode="replace", base_manifest=m,
    )
    assert attempts["n"] == 2  # raced once, retried, landed
    t2 = ManifestTable(str(tmp_path / "t"))
    assert_df_equal(t2.read(spark), brute_force_state(decode_changes(wal)))


def test_compaction_loses_to_replace_stays_terminal(spark, tmp_path):
    """Replace-vs-replace does not commute: a competing compaction removed
    the files this fold read, so the re-base refuses."""
    wal = generate_wal(spark, 800, n_convs=8, max_turns=4, seed=25)
    ta = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    tb = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    ta.commit_staged(_staged_batch(spark, ta, wal, -1, 399, "b0"),
                     "b0", -1, 399, None, mode="append")
    ta.commit_staged(_staged_batch(spark, ta, wal, 399, 799, "b1"),
                     "b1", 399, 799, None, mode="append")

    m = ta.manifest()
    all_buckets = [int(b) for b in m["buckets"]]

    def fold(handle, bid):
        merged = handle.read(
            spark, buckets=all_buckets, with_internal=True, version=m["version"]
        ).withColumn("_bucket", bucket_expr(handle.bucket_key, handle.n_buckets))
        return handle.stage(merged, bid)

    sa = fold(ta, "compact-A")
    sb = fold(tb, "compact-B")
    tb.commit_staged(sb, "compact-B", m["lsn_lo"], m["lsn_hi"], all_buckets,
                     mode="replace", base_manifest=m)
    with pytest.raises(RuntimeError, match="re-base impossible"):
        ta.commit_staged(sa, "compact-A", m["lsn_lo"], m["lsn_hi"], all_buckets,
                         mode="replace", base_manifest=m)


def test_compact_buckets_helper_survives_concurrent_append(spark, tmp_path):
    """The high-level compact_buckets path: monkeypatch stage to inject a
    competing append mid-compaction; both land, state replay-equal."""
    from endor_blockchain_data_pipeline_spark.operators.merge import compact_buckets

    wal = generate_wal(spark, 1200, n_convs=16, max_turns=6, seed=27)
    t = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    t.commit_staged(_staged_batch(spark, t, wal, -1, 399, "b0"),
                    "b0", -1, 399, None, mode="append")
    t.commit_staged(_staged_batch(spark, t, wal, 399, 799, "b1"),
                    "b1", 399, 799, None, mode="append")

    tb = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    real_stage = t.stage

    def stage_then_race(df, batch_id, **kw):
        staged = real_stage(df, batch_id, **kw)
        if batch_id == "compact-1":  # append lands inside the race window
            tb.commit_staged(_staged_batch(spark, tb, wal, 799, 1199, "b2"),
                             "b2", 799, 1199, None, mode="append")
        return staged

    t.stage = stage_then_race
    compact_buckets(t, spark, "compact-1", [int(b) for b in t.manifest()["buckets"]])

    t2 = ManifestTable(str(tmp_path / "t"))
    assert {"b0", "b1", "b2", "compact-1"} <= t2.committed_batches()
    assert_df_equal(t2.read(spark), brute_force_state(decode_changes(wal)))


def test_compaction_rebase_counts_new_bucket_generations(spark, tmp_path):
    """A bucket CREATED by appends racing a whole-table compaction keeps
    gens == carried generations: the read path only LWW-merges buckets
    with gens > 1, so undercounting (the base_g.get(b, 1) default for a
    bucket absent at the snapshot) would return duplicate keys."""
    t = ManifestTable(
        str(tmp_path / "t"), n_buckets=4,
        key_cols=("conv_id", "turn_idx"), bucket_key="conv_id",
    )

    def state(rows, lsn, batch):
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
        return df.select(
            "*",
            F.lit(lsn).cast("long").alias("_lsn"),
            F.expr(f"timestamp_seconds({lsn})").alias("_mts"),
            F.lit(False).alias("_deleted"),
            F.lit(batch).alias("_batch"),
        )

    # two conv ids that hash to different buckets
    probe = spark.createDataFrame([(f"c{i}",) for i in range(40)], "conv_id string")
    bk = {
        r["conv_id"]: r["b"]
        for r in probe.select(
            "conv_id", bucket_expr("conv_id", 4).alias("b")
        ).collect()
    }
    conv_a = next(c for c, b in bk.items() if b == bk["c0"])
    conv_b = next(c for c, b in bk.items() if b != bk["c0"])

    t.commit(state([(conv_a, 0, "base")], 1, "b0"), "b0", -1, 1, None, mode="append")

    m = t.manifest()
    staged = t.stage(
        t.read(spark, with_internal=True, version=m["version"]), "compact-1"
    )
    # racing appends create a NEW bucket with TWO generations of one key
    t.commit(state([(conv_b, 0, "v1")], 10, "b1"), "b1", 9, 10, None, mode="append")
    t.commit(state([(conv_b, 0, "v2")], 11, "b2"), "b2", 10, 11, None, mode="append")

    t.commit_staged(
        staged, "compact-1", m["lsn_lo"], m["lsn_hi"], None,
        mode="replace", base_manifest=m,
    )

    m2 = ManifestTable(str(tmp_path / "t")).manifest()
    new_bucket = str(bk[conv_b])
    assert m2["bucket_gens"][new_bucket] == 2  # undercount would say 1
    rows = t.read(spark).where(F.col("conv_id") == conv_b).collect()
    assert len(rows) == 1 and rows[0]["text"] == "v2"  # LWW merged, no dup

"""LiveCuration: curation verdicts maintained incrementally over a CDC
lake must equal the one-shot funnel re-run over the lake's final state —
through inserts, updates, deletes, exact-keeper flips, near-cluster
refolds, decontamination flips, and crash-resume."""

import pyspark.sql.functions as F
import pytest

from tests.test_curate import BASE, CONTAMINATED, GOOD

GOOD2 = (
    "an entirely separate essay on columnar storage layouts and how "
    "vectorized readers amortize decoding work across large row groups"
)
JUNK = " ".join(["spam"] * 40)
NEAR = BASE.replace("afternoon", "morning")
# near-index params matching minhash_candidates' defaults, so the live
# index and the one-shot funnel compute the same candidate pairs
IDX = {"k_shingle": 12, "n_hashes": 8, "n_bands": 4}
# Spark jobs of one incremental refresh in test_refresh_job_budget, as
# measured (the count repeats exactly from run to run)
JOB_BUDGET = 31


def _commit_state(spark, table, rows, batch_id, seq):
    """rows: (conv_id, turn_idx, role, text, deleted); per-row _lsn
    seq*100+i, so each later commit's rows out-LSN every earlier one's."""
    stamped = [r + (seq * 100 + i,) for i, r in enumerate(rows)]
    df = (
        spark.createDataFrame(
            stamped,
            "conv_id string, turn_idx int, role string, text string, "
            "_deleted boolean, _lsn long",
        )
        .withColumn("_mts", F.timestamp_seconds(F.col("_lsn")))
        .withColumn("_batch", F.lit(batch_id))
    )
    table.commit(df, batch_id, seq * 100, seq * 100 + len(rows), None, mode="append")


def _one_shot(spark, lake, evalset, out_dir, **kw):
    from endor_blockchain_data_pipeline_spark.operators.curate import (
        curate_corpus,
        transcripts_as_documents,
    )

    docs = transcripts_as_documents(lake.read(spark))
    curate_corpus(
        spark, docs, out_dir, evalset, id_col="conv_id", strata_col=None, **kw
    )
    return (
        spark.read.parquet(f"{out_dir}/verdicts")
        .select(
            "conv_id", "quality_pass", "exact_keep", "near_keep",
            "decont_pass", "final_keep",
        )
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def setup(spark, tmp_path):
    from endor_blockchain_data_pipeline_spark.operators.live_curation import (
        LiveCuration,
    )
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    lake = ManifestTable(str(tmp_path / "lake"), n_buckets=4)
    evalset = spark.createDataFrame(
        [(100, CONTAMINATED)], "doc_id long, text string"
    )
    lc = LiveCuration(spark, str(tmp_path / "cur"), lake, evalset, **IDX)
    return lake, evalset, lc


def test_live_equals_one_shot_through_mutations(spark, setup, tmp_path):
    lake, evalset, lc = setup

    # -- batch 1: the full funnel spectrum in one batch --
    _commit_state(
        spark,
        lake,
        [
            ("a1", 0, "user", BASE, False),          # keeper
            ("a2", 0, "user", BASE, False),          # exact dup of a1
            ("b1", 0, "user", NEAR, False),          # near-dup of a1
            ("c1", 0, "user", GOOD, False),          # clean survivor
            ("j1", 0, "user", JUNK, False),          # quality junk
            ("e1", 0, "user", CONTAMINATED, False),  # hits the evalset
        ],
        "b1",
        1,
    )
    st = lc.refresh(["a1", "a2", "b1", "c1", "j1", "e1"], "cdc-1")
    assert not st["replay"]
    one = _one_shot(spark, lake, evalset, str(tmp_path / "os1"))
    assert _rows(lc.verdicts_df()) == _rows(one)
    f = lc.funnel()
    assert f["input"] == 6
    assert f["after_quality"] == 5       # -j1
    assert f["after_exact_dedup"] == 4   # -a2
    assert f["after_near_dedup"] == 3    # -b1
    assert f["final"] == 2               # -e1 (contaminated): a1, c1

    # -- batch 2: delete the exact keeper (a2 must take over WITHOUT being
    # in the changed set — keeper-flip entrant), clean up e1 and j1, add d1 --
    _commit_state(
        spark,
        lake,
        [
            ("a1", 0, "user", BASE, True),    # takedown of the keeper
            ("e1", 0, "user", GOOD2, False),  # decontaminated by edit
            ("j1", 0, "user", GOOD2, False),  # now real text (dup of e1!)
            ("d1", 0, "user", "completely novel words about watermark "
             "checkpoint recovery and offset tracking in streams", False),
        ],
        "b2",
        2,
    )
    st2 = lc.refresh(["a1", "e1", "j1", "d1"], "cdc-2")
    assert not st2["replay"]
    one2 = _one_shot(spark, lake, evalset, str(tmp_path / "os2"))
    assert _rows(lc.verdicts_df()) == _rows(one2)
    v = {r["conv_id"]: r for r in lc.verdicts_df().collect()}
    assert "a1" not in v                      # tombstoned
    assert v["a2"]["exact_keep"]              # inherited keeper
    assert v["a2"]["final_keep"]
    assert not v["b1"]["near_keep"]           # still near-dup (of a2 now)
    assert v["e1"]["final_keep"]              # e1 < j1: exact keeper of GOOD2
    assert not v["j1"]["exact_keep"]
    assert v["d1"]["final_keep"]

    # -- replay: same batch id is a no-op --
    st3 = lc.refresh(["a1", "e1", "j1", "d1"], "cdc-2")
    assert st3["replay"]
    assert _rows(lc.verdicts_df()) == _rows(one2)


def _mutations(spark, lake, lc):
    """Batch 1 (the full funnel spectrum) refreshed; batch 2 (keeper
    takedown, text edits, a new conv) committed to the lake only. Batch 2's
    refresh publishes all four sub-commits: exact, near.bands,
    near.clusters and verdicts."""
    _commit_state(
        spark,
        lake,
        [
            ("a1", 0, "user", BASE, False),
            ("a2", 0, "user", BASE, False),
            ("b1", 0, "user", NEAR, False),
            ("c1", 0, "user", GOOD, False),
            ("j1", 0, "user", JUNK, False),
            ("e1", 0, "user", CONTAMINATED, False),
        ],
        "b1",
        1,
    )
    lc.refresh(["a1", "a2", "b1", "c1", "j1", "e1"], "cdc-1")
    _commit_state(
        spark,
        lake,
        [
            ("a1", 0, "user", BASE, True),
            ("e1", 0, "user", GOOD2, False),
            ("j1", 0, "user", GOOD2, False),
            ("d1", 0, "user", NEAR.replace("morning", "evening"), False),
        ],
        "b2",
        2,
    )
    return ["a1", "e1", "j1", "d1"]


def test_crash_between_commits_resumes(spark, setup, tmp_path):
    """A crash at EACH publish point of the refresh (exact, near.bands,
    near.clusters, verdicts) resumes, by re-running the same refresh, to the
    one-shot verdicts: landed sub-commits replay-skip, pending ones are
    recomputed from the same pre-batch snapshot. The publish point is
    stage()+commit_staged(); crashing the atomic publish leaves staged but
    unreferenced files, the strictest crash window."""
    from endor_blockchain_data_pipeline_spark.operators.live_curation import (
        LiveCuration,
    )
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    _, evalset, _ = setup
    for point in ("exact", "near.bands", "near.clusters", "verdicts"):
        lake = ManifestTable(str(tmp_path / point / "lake"), n_buckets=4)
        lc = LiveCuration(spark, str(tmp_path / point / "cur"), lake, evalset, **IDX)
        changed = _mutations(spark, lake, lc)
        table = {
            "exact": lc.exact,
            "near.bands": lc.near.bands,
            "near.clusters": lc.near.clusters,
            "verdicts": lc.verdicts,
        }[point]

        def boom(*a, **kw):
            raise RuntimeError(f"injected crash before the {point} commit")

        table.commit_staged = boom
        with pytest.raises(RuntimeError, match="injected"):
            lc.refresh(changed, "cdc-2")
        del table.commit_staged  # back to the class method
        assert "cdc-2" not in table.committed_batches()

        st = lc.refresh(changed, "cdc-2")
        assert not st["replay"]
        one = _one_shot(spark, lake, evalset, str(tmp_path / point / "os"))
        assert _rows(lc.verdicts_df()) == _rows(one), point
        v = {r["conv_id"]: r for r in lc.verdicts_df().collect()}
        assert "a1" not in v and v["a2"]["final_keep"], point


def test_refresh_job_budget(spark, setup):
    """One incremental refresh (leavers, entrants, a keeper-flip entrant
    outside the batch, exact and near deltas) runs at most this many Spark
    jobs; a change that re-adds probe or materialization actions fails
    here."""
    lake, _, lc = setup
    changed = _mutations(spark, lake, lc)
    sc = spark.sparkContext
    # jobs on this thread would land in its job group, if one is set; the
    # refresh's pool threads have none
    group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    try:
        st = lc.refresh(changed, "cdc-2")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", group)
    n_jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert not st["replay"] and st["near"] == "driver-union-find"
    assert 0 < n_jobs <= JOB_BUDGET, n_jobs


def test_no_verdict_for_conv_born_and_deleted_in_batch(spark, setup, tmp_path):
    """A conversation inserted and fully deleted inside one batch has no
    transcript and never had a verdict: the refresh writes nothing for it."""
    lake, evalset, lc = setup
    _commit_state(spark, lake, [("c1", 0, "user", GOOD, False)], "b1", 1)
    lc.refresh(["c1"], "cdc-1")
    _commit_state(spark, lake, [("g1", 0, "user", GOOD2, True)], "b2", 2)
    st = lc.refresh(["g1"], "cdc-2")
    assert st["n_verdict_writes"] == 0
    assert "g1" not in {r["conv_id"] for r in lc.verdicts_df().collect()}
    one = _one_shot(spark, lake, evalset, str(tmp_path / "os"))
    assert _rows(lc.verdicts_df()) == _rows(one)


def test_cdc_driven_live_curation(spark, tmp_path):
    """The full loop: WAL tail -> LWW merge -> per-batch curation refresh.
    After catch-up the live verdicts equal the one-shot funnel over the
    final table state; a replayed catch-up changes nothing."""
    from endor_blockchain_data_pipeline_spark.job import CDCJob
    from endor_blockchain_data_pipeline_spark.operators.live_curation import (
        LiveCuration,
    )
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
    from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

    wal = generate_wal(spark, 3000, n_convs=24, max_turns=6, seed=7)
    table = ManifestTable(str(tmp_path / "t"), n_buckets=8)
    job = CDCJob(spark, table, wal)
    # the synthetic WAL draws from a ~30-word vocabulary; the corpus' dup-
    # word fraction spans 0.21-0.50 (median 0.34), so gating at the median
    # makes the funnel split the population instead of passing/failing
    # everyone
    lc = LiveCuration(
        spark, str(tmp_path / "cur"), table, dup_word_max=0.34, **IDX
    )
    commits = job.run_with_curation(1000, lc)
    assert len(commits) == 3
    one = _one_shot(
        spark, table, None, str(tmp_path / "os"), dup_word_max=0.34
    )
    assert _rows(lc.verdicts_df()) == _rows(one)
    f = lc.funnel()
    assert f["input"] == 24 and 0 < f["final"] < 24

    # idempotent catch-up replay: applies nothing, curation unchanged
    commits2 = job.run_with_curation(1000, lc)
    assert commits2 == []
    assert _rows(lc.verdicts_df()) == _rows(one)


def test_curation_attached_to_ingested_table_reapplies_nothing(spark, tmp_path):
    """Attaching curation to a table the CDC job already ingested refreshes
    over every range from the curation watermark but re-appends none of
    them: the state still equals the replay oracle (no duplicated rows) and
    the verdicts equal the one-shot funnel."""
    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
    from endor_blockchain_data_pipeline_spark.job import CDCJob, brute_force_state
    from endor_blockchain_data_pipeline_spark.operators.live_curation import (
        LiveCuration,
    )
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
    from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

    from tests.conftest import assert_df_equal

    wal = generate_wal(spark, 3000, n_convs=24, max_turns=6, seed=7)
    table = ManifestTable(str(tmp_path / "t"), n_buckets=8)
    job = CDCJob(spark, table, wal)
    job.run_to_watermark(1000)
    version = table.current_version()

    lc = LiveCuration(
        spark, str(tmp_path / "cur"), table, dup_word_max=0.34, **IDX
    )
    # ranges (-1, 1499] and (1499, 2999] match no committed batch id
    assert job.run_with_curation(1500, lc) == []
    assert table.current_version() == version
    assert lc.verdicts.watermark() == 2999
    assert_df_equal(table.read(spark), brute_force_state(decode_changes(wal)))
    one = _one_shot(
        spark, table, None, str(tmp_path / "os"), dup_word_max=0.34
    )
    assert _rows(lc.verdicts_df()) == _rows(one)


def test_string_id_index_pinned(spark, tmp_path):
    from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import (
        DedupIndex,
    )

    root = str(tmp_path / "idx")
    DedupIndex(spark, root, id_col="conv_id", id_type="string")
    with pytest.raises(ValueError, match="id_type conflict"):
        DedupIndex(spark, root, id_col="conv_id", id_type="long")

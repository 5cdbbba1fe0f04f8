"""Incremental dedup against the persisted band index: equality with the
one-shot resolution, cross-batch dup detection, cluster re-labeling,
idempotent replay, recipe pinning."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from endor_blockchain_data_pipeline_spark.operators.dedup import (
    dedup_resolution,
    minhash_candidates,
)
from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import DedupIndex

from tests.conftest import assert_df_equal


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


T1 = "the quick brown fox jumps over the lazy dog near the riverbank today"
T2 = "completely different content about distributed query engines and shuffles"
T3 = "yet another unrelated paragraph describing parquet footers and manifests"
T4 = "migratory birds navigate by starlight across continents every autumn"


def test_incremental_equals_oneshot_on_testdata(spark, tmp_path):
    """Split the real documents table into two batches; the incremental
    keep-list must be row-identical to the one-shot resolution over the
    union — the r3 VERDICT done-criterion."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(docs.where(F.col("doc_id") % 2 == 0), "b-even")
    idx.add_batch(docs.where(F.col("doc_id") % 2 == 1), "b-odd")

    oneshot = dedup_resolution(
        docs, minhash_candidates(docs, "text", "doc_id", k_shingle=12, n_hashes=4, n_bands=2)
    )
    assert_df_equal(idx.keep_list(), oneshot)


def test_batch2_near_dups_of_batch1_are_caught(spark, tmp_path):
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(1, T1), (2, T2)]), "b1")
    # doc 10 duplicates doc 1 from the PREVIOUS batch; doc 11 is fresh
    s = idx.add_batch(_docs(spark, [(10, T1), (11, T3)]), "b2")
    assert s["n_pairs"] >= 1

    verdict = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert verdict[1] == (1, True)
    assert verdict[10] == (1, False)  # cross-batch dup resolved to batch-1 canonical
    assert verdict[2] == (2, True)
    assert verdict[11] == (11, True)


def test_cluster_merge_and_canonical_flip_across_batches(spark, tmp_path):
    """A later batch can (a) merge two existing clusters and (b) introduce a
    smaller id that takes over as canonical — prior members re-label."""
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(20, T1), (21, T2)]), "b1")
    idx.add_batch(_docs(spark, [(30, T4), (31, T2)]), "b2")  # 31 dups 21
    v = {r["doc_id"]: r["cluster_id"] for r in idx.keep_list().collect()}
    assert v[31] == 21 and v[20] == 20 and v[30] == 30

    # batch 3: doc 5 duplicates BOTH T1 and nothing else; doc 6 dups T4.
    # doc 5 < 20 => the (20) cluster's canonical flips to 5.
    idx.add_batch(_docs(spark, [(5, T1), (6, T4)]), "b3")
    verdict = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert verdict[5] == (5, True)
    assert verdict[20] == (5, False)  # re-labeled: canonical moved to 5
    # min(6,30)=6 is the T4 cluster's canonical
    assert verdict[30] == (6, False) and verdict[6] == (6, True)

    # equality with one-shot over the union of all three batches
    all_docs = _docs(
        spark, [(20, T1), (21, T2), (30, T4), (31, T2), (5, T1), (6, T4)]
    )
    oneshot = dedup_resolution(
        all_docs,
        minhash_candidates(all_docs, "text", "doc_id", k_shingle=12, n_hashes=4, n_bands=2),
    )
    assert_df_equal(idx.keep_list(), oneshot)


def test_replay_is_idempotent(spark, tmp_path):
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(1, T1), (2, T2)]), "b1")
    idx.add_batch(_docs(spark, [(10, T1)]), "b2")
    before = sorted(tuple(r) for r in idx.keep_list().collect())

    s = idx.add_batch(_docs(spark, [(10, T1)]), "b2")  # replay same batch id
    assert s["replayed_bands"] and s["replayed_clusters"]
    after = sorted(tuple(r) for r in idx.keep_list().collect())
    assert before == after


def test_recipe_params_are_pinned(spark, tmp_path):
    idx = DedupIndex(spark, str(tmp_path / "idx"), n_hashes=8, n_bands=4)
    idx.add_batch(_docs(spark, [(1, T1)]), "b1")
    # reopen with omitted params adopts the stored recipe
    idx2 = DedupIndex(spark, str(tmp_path / "idx"))
    assert idx2.params["n_hashes"] == 8 and idx2.params["n_bands"] == 4
    # conflicting explicit params raise
    with pytest.raises(ValueError, match="param conflict"):
        DedupIndex(spark, str(tmp_path / "idx"), n_hashes=4)


def test_pair_bound_falls_back_to_distributed_fold(spark, tmp_path):
    """Pair sets beyond the driver bound fold via the pure-DataFrame path
    (label propagation over new pairs + affected-cluster member edges) —
    and produce the SAME verdict as an unbounded driver fold."""
    rows1 = [(1, T1), (2, T2), (3, T3)]
    rows2 = [(10, T1), (11, T1), (12, T2), (13, T4)]

    small = DedupIndex(spark, str(tmp_path / "small"), driver_row_limit=1)
    big = DedupIndex(spark, str(tmp_path / "big"))
    for i, rows in enumerate([rows1, rows2]):
        s_small = small.add_batch(_docs(spark, rows), f"b{i}")
        s_big = big.add_batch(_docs(spark, rows), f"b{i}")
        assert s_big["fold"] == "driver-union-find"
    assert s_small["fold"] == "distributed-label-propagation"

    got_small = sorted(tuple(r) for r in small.keep_list().collect())
    got_big = sorted(tuple(r) for r in big.keep_list().collect())
    assert got_small == got_big
    verdict = dict((r[0], (r[1], r[2])) for r in got_small)
    assert verdict[10] == (1, False) and verdict[11] == (1, False)  # dup T1
    assert verdict[12] == (2, False) and verdict[13] == (13, True)


def test_index_maintain_compacts_and_preserves_verdict(spark, tmp_path):
    """Many small batches pile up one generation per batch; maintain() folds
    them, reclaims files, and the keep-list is unchanged."""
    import os

    idx = DedupIndex(spark, str(tmp_path / "idx"))
    texts = [T1, T2, T3, T4]
    for b in range(5):
        docs = _docs(spark, [(b * 10 + j, texts[(b + j) % 4]) for j in range(3)])
        idx.add_batch(docs, f"b{b}")
    before = sorted(tuple(r) for r in idx.keep_list().collect())
    assert len(idx.bands.multi_gen_buckets(2)) > 0  # really multi-generation

    def n_files(t):
        return sum(
            1 for _r, _d, fs in os.walk(os.path.join(t.path, "data"))
            for f in fs if f.endswith(".parquet")
        )

    files_before = n_files(idx.bands)
    out = idx.maintain(compact_threshold=2, vacuum_grace_sec=0)
    assert out["bands"]["buckets_compacted"] > 0
    assert out["bands"]["files_removed"] > 0
    assert idx.bands.multi_gen_buckets(2) == []
    assert n_files(idx.bands) < files_before
    after = sorted(tuple(r) for r in idx.keep_list().collect())
    assert after == before

    # ...and the index still ingests correctly after maintenance
    idx.add_batch(_docs(spark, [(100, T1)]), "b5")
    v = {r["doc_id"]: r["cluster_id"] for r in idx.keep_list().collect()}
    assert v[100] == min(i for i, c in v.items() if c == v[100])


def test_crash_between_commits_keeps_label_lsns_monotonic(spark, tmp_path):
    """Crash after the bands commit but before the clusters commit, then
    replay and keep ingesting: the replayed clusters generation must NOT
    share its (_lsn, _mts) with the next batch's (the seq must advance over
    BOTH tables' watermarks) — a shared stamp would let the window merge
    tie-break arbitrarily between stale and fresh labels."""
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(20, T1), (21, T2)]), "b1")

    orig = idx.clusters.commit_staged
    def boom(*a, **k):
        raise RuntimeError("injected crash before clusters commit")
    idx.clusters.commit_staged = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.add_batch(_docs(spark, [(30, T1)]), "b2")  # 30 dups 20
    idx.clusters.commit_staged = orig

    s = idx.add_batch(_docs(spark, [(30, T1)]), "b2")  # replay heals
    assert s["replayed_bands"] and not s["replayed_clusters"]

    # b3 re-labels the whole T1 cluster to the new min id 5
    idx.add_batch(_docs(spark, [(5, T1)]), "b3")
    verdict = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert verdict[5] == (5, True)
    assert verdict[20] == (5, False) and verdict[30] == (5, False)

    # every doc's label generations carry DISTINCT _lsn stamps — the merge
    # can never face a (lsn, mts) tie between generations
    raw = idx.clusters.read(spark, with_internal=True, merge_strategy="none")
    dup_stamps = (
        raw.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("_lsn").alias("n_lsn"),
        )
        .where(F.col("n_rows") != F.col("n_lsn"))
        .count()
    )
    assert dup_stamps == 0


# ---------------- removal (takedown / opt-out) ----------------


def _py_bands(text: str) -> tuple[tuple[str, str], tuple[str, str]]:
    """Pure-Python mirror of the engine's md5_long band recipe (char-12
    shingles, 4 hashes, 2 bands); equal-length lowercase hex min ==
    numeric min, so band equality here == band-key equality there."""
    import hashlib

    n = max(len(text) - 11, 1)
    shingles = {text[i : i + 12] for i in range(n)}
    mh = [
        min(hashlib.md5(f"h{j}:{sh}".encode()).hexdigest()[:15] for sh in shingles)
        for j in range(4)
    ]
    return (mh[0], mh[1]), (mh[2], mh[3])


def _find_bridge_texts() -> tuple[str, str, str]:
    """Deterministically construct texts A=P+Q, B=P+R, C=S+R where B shares
    an LSH band with A (band 0's minima land in the shared P) and with C
    (band 1's minima land in the shared R) but A and C share none — so B is
    the only bridge and removing it must SPLIT the cluster. Constructive:
    pick P with the extreme h0/h1 block-minima and R with the extreme h2/h3
    ones, then verify the full condition (boundary shingles could perturb
    it) over a deterministic (Q, S) grid."""
    import hashlib

    def blockmins(block: str) -> list[str]:
        n = max(len(block) - 11, 1)
        sh = {block[i : i + 12] for i in range(n)}
        return [
            min(hashlib.md5(f"h{j}:{s}".encode()).hexdigest()[:15] for s in sh)
            for j in range(4)
        ]

    cands = [
        f"block {i} lorem ipsum dolor sit amet consectetur adipiscing elit {i}"
        for i in range(120)
    ]
    mins = {c: blockmins(c) for c in cands}
    p = min(cands, key=lambda c: max(mins[c][0], mins[c][1]))
    r = min((c for c in cands if c != p), key=lambda c: max(mins[c][2], mins[c][3]))
    rest = [c for c in cands if c not in (p, r)]
    for q in rest[:30]:
        for s in rest[30:60]:
            a, b, c = f"{p} {q}", f"{p} {r}", f"{s} {r}"
            ba, bb, bc = _py_bands(a), _py_bands(b), _py_bands(c)
            ab = any(x == y for x, y in zip(ba, bb))
            bcs = any(x == y for x, y in zip(bb, bc))
            ac = any(x == y for x, y in zip(ba, bc))
            if ab and bcs and not ac:
                return a, b, c
    raise AssertionError("no bridge triple found")


def test_remove_doc_flips_keeper(spark, tmp_path):
    """Removing a cluster's canonical doc promotes its near-dup to keeper
    (the r4 VERDICT done-criterion for takedown)."""
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(1, T1), (2, T2), (10, T1)]), "b1")
    v = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert v[1] == (1, True) and v[10] == (1, False)

    s = idx.remove_docs([1], "rm1")
    assert s["n_removed"] == 1
    v2 = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert 1 not in v2
    assert v2[10] == (10, True)  # keeper verdict flipped
    assert v2[2] == (2, True)


def test_remove_bridge_splits_cluster(spark, tmp_path):
    """Removing the only LSH bridge between two subgroups splits the
    cluster: both survivors become their own canonicals."""
    ta, tb, tc = _find_bridge_texts()
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(1, ta), (2, tb), (3, tc)]), "b1")
    v = {r["doc_id"]: r["cluster_id"] for r in idx.keep_list().collect()}
    assert v == {1: 1, 2: 1, 3: 1}  # one chain cluster via the bridge

    idx.remove_docs([2], "rm-bridge")
    v2 = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert v2 == {1: (1, True), 3: (3, True)}  # split into two keepers


def test_remove_equals_oneshot_on_testdata(spark, tmp_path):
    """After takedown, keep_list == one-shot resolution over the REMAINING
    corpus (driver-gate invariant, real testdata)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(docs.where(F.col("doc_id") % 2 == 0), "b-even")
    idx.add_batch(docs.where(F.col("doc_id") % 2 == 1), "b-odd")
    removed = list(range(8))
    idx.remove_docs(removed, "rm")

    remaining = docs.where(~F.col("doc_id").isin(removed))
    oneshot = dedup_resolution(
        remaining,
        minhash_candidates(
            remaining, "text", "doc_id", k_shingle=12, n_hashes=4, n_bands=2
        ),
    )
    assert_df_equal(idx.keep_list(), oneshot)


def test_remove_replay_and_unknown_ids(spark, tmp_path):
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(1, T1), (10, T1)]), "b1")
    idx.remove_docs([1], "rm1")
    before = sorted(tuple(r) for r in idx.keep_list().collect())

    s = idx.remove_docs([1], "rm1")  # same batch id: pure replay skip
    assert s["fold"] == "replay"
    assert sorted(tuple(r) for r in idx.keep_list().collect()) == before

    s2 = idx.remove_docs([999], "rm-unknown")  # id never ingested: no-op
    assert sorted(tuple(r) for r in idx.keep_list().collect()) == before
    assert s2["n_removed"] == 0


def test_remove_then_readd(spark, tmp_path):
    """A later add_batch out-LSNs the tombstones: the doc rejoins its
    cluster and the canonical is recomputed."""
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(1, T1), (10, T1)]), "b1")
    idx.remove_docs([1], "rm1")
    v = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert v == {10: (10, True)}

    idx.add_batch(_docs(spark, [(1, T1)]), "b-readd")
    v2 = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert v2 == {1: (1, True), 10: (1, False)}


def test_remove_crash_between_commits_heals(spark, tmp_path):
    """Crash after the bands-tombstone commit but before the clusters
    commit; replaying the SAME removal batch finishes the fold and the
    final state equals an uncrashed removal."""
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(1, T1), (2, T2), (10, T1)]), "b1")

    orig = idx.clusters.commit_staged
    def boom(*a, **k):
        raise RuntimeError("injected crash before clusters commit")
    idx.clusters.commit_staged = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        idx.remove_docs([1], "rm1")
    idx.clusters.commit_staged = orig

    s = idx.remove_docs([1], "rm1")
    assert s["replayed_bands"] and not s["replayed_clusters"]
    v = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in idx.keep_list().collect()}
    assert 1 not in v and v[10] == (10, True) and v[2] == (2, True)


def test_remove_distributed_fold_matches_driver(spark, tmp_path):
    """Force the removal fold past the driver bound: the distributed label
    propagation must produce the identical keep-list."""
    rows = [(i, T1) for i in range(1, 9)] + [(20, T2), (21, T2)]
    a = DedupIndex(spark, str(tmp_path / "a"))
    a.add_batch(_docs(spark, rows), "b1")
    a.remove_docs([1, 20], "rm")
    want = sorted(tuple(r) for r in a.keep_list().collect())

    b = DedupIndex(spark, str(tmp_path / "b"), driver_row_limit=2)
    b.add_batch(_docs(spark, rows), "b1")
    s = b.remove_docs([1, 20], "rm")
    assert s["fold"] == "distributed-label-propagation"
    assert sorted(tuple(r) for r in b.keep_list().collect()) == want


def test_remove_then_maintain_preserves_state(spark, tmp_path):
    """Compaction + vacuum after a takedown must not resurrect tombstoned
    docs or disturb the re-folded labels."""
    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(_docs(spark, [(1, T1), (2, T2), (10, T1)]), "b1")
    idx.add_batch(_docs(spark, [(3, T3)]), "b2")
    idx.remove_docs([1], "rm1")
    before = sorted(tuple(r) for r in idx.keep_list().collect())
    idx.maintain(compact_threshold=1, vacuum_grace_sec=0.0)
    assert sorted(tuple(r) for r in idx.keep_list().collect()) == before

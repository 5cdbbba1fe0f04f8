"""CLI modes driven as real subprocesses (own JVM, like a user would)."""

from __future__ import annotations

import subprocess
import sys

import pyspark.sql.functions as F


def test_cli_dedup_mode(spark, tmp_path):
    """--dedup runs the whole corpus near-dedup pipeline (MinHash-LSH ->
    connected components -> keep/drop verdict) and writes a verdict parquet
    covering every doc exactly once."""
    out = str(tmp_path / "verdict")
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "endor_blockchain_data_pipeline_spark.job",
            "--dedup",
            f"/root/testdata/sf0.001/documents.parquet:{out}",
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "dedup:" in r.stdout and "kept" in r.stdout, r.stdout

    verdict = spark.read.parquet(out)
    assert set(verdict.columns) == {"doc_id", "cluster_id", "keep"}
    n_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert verdict.count() == n_docs  # one verdict per doc, none dropped
    assert verdict.select("doc_id").distinct().count() == n_docs
    kept = verdict.where("keep").count()
    assert 0 < kept <= n_docs
    # every cluster keeps exactly its min doc_id
    bad = (
        verdict.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("mn"), F.sum(F.col("keep").cast("int")).alias("k"))
        .where("k <> 1")
        .count()
    )
    assert bad == 0


def test_cli_compact_and_vacuum_e2e(spark, tmp_path):
    """run (MoR, no auto-compaction) -> --compact -> --vacuum 0: state is
    replay-equal before/after, generations fold to 1, tombstones drop, and
    the data-file count actually shrinks on disk."""
    import os

    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    table = str(tmp_path / "t")

    def run(*extra):
        r = subprocess.run(
            [sys.executable, "-m", "endor_blockchain_data_pipeline_spark.job",
             "--table", table, *extra],
            capture_output=True, text=True, timeout=420,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout

    def n_files():
        return sum(
            1 for _r, _d, fs in os.walk(os.path.join(table, "data"))
            for f in fs if f.endswith(".parquet")
        )

    run("--events", "20000", "--convs", "64", "--batch-size", "4000",
        "--buckets", "4", "--compact-threshold", "1000")
    t = ManifestTable(table)
    assert len(t.multi_gen_buckets(2)) > 0  # really multi-generation
    before_rows = sorted(tuple(r) for r in t.read(spark).collect())
    files_before = n_files()

    out = run("--compact")
    assert "compact: folded to version" in out, out
    out = run("--vacuum", "0")
    assert "vacuum: removed" in out, out

    t2 = ManifestTable(table)
    assert t2.multi_gen_buckets(2) == []  # single generation everywhere
    internal = t2.read(spark, with_internal=True)
    assert internal.where(F.col("_deleted")).count() == 0  # tombstones gone
    after_rows = sorted(tuple(r) for r in t2.read(spark).collect())
    assert after_rows == before_rows  # replay-equal through compact+vacuum
    assert n_files() < files_before  # files actually reclaimed

    # maintenance replay is idempotent
    out = run("--compact")
    assert "already committed" in out, out


def test_cli_dedup_incremental_mode(spark, tmp_path):
    """--dedup-incremental ingests batches into a persisted index across
    separate process invocations; the combined verdict equals the one-shot
    --dedup verdict over the same corpus, and replay is skipped."""
    from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import (
        DedupIndex,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    even, odd = str(tmp_path / "even"), str(tmp_path / "odd")
    docs.where("doc_id % 2 = 0").write.parquet(even)
    docs.where("doc_id % 2 = 1").write.parquet(odd)
    idx_dir = str(tmp_path / "idx")

    def run(path, bid):
        r = subprocess.run(
            [sys.executable, "-m", "endor_blockchain_data_pipeline_spark.job",
             "--dedup-incremental", f"{idx_dir}:{path}:{bid}"],
            capture_output=True, text=True, timeout=420,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout

    assert "ingested" in run(even, "b-even")
    assert "ingested" in run(odd, "b-odd")
    assert "REPLAY (skipped)" in run(odd, "b-odd")  # idempotent across procs

    from endor_blockchain_data_pipeline_spark.operators.dedup import (
        dedup_resolution,
        minhash_candidates,
    )
    from tests.conftest import assert_df_equal

    oneshot = dedup_resolution(
        docs, minhash_candidates(docs, "text", "doc_id", k_shingle=12, n_hashes=4, n_bands=2)
    )
    assert_df_equal(DedupIndex(spark, idx_dir).keep_list(), oneshot)

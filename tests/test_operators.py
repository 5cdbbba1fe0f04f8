"""Operator-library tests: dedup (exact/minhash/simhash/jaccard), similarity,
disjunctive-join rewrite, OHLC, flip, text analytics."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from endor_blockchain_data_pipeline_spark.functions.text import (
    bpe_ish_token_count_expr,
    lang_guess_expr,
    quality_score_expr,
    token_count_expr,
)
from endor_blockchain_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    dedup_simhash,
    minhash_candidates,
    ngram_jaccard,
)
from endor_blockchain_data_pipeline_spark.operators.joins import (
    disjunctive_join_rewrite,
    missing_dim_keys,
)
from endor_blockchain_data_pipeline_spark.operators.ohlc import double_entry_flip, ohlc
from endor_blockchain_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup,
    srp_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    """Corpus with exact dups, near-dups (1-word edits), and distinct docs."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill in the afternoon sun and everyone naps"
    )
    near = base.replace("afternoon", "morning")
    near2 = base.replace("cat", "bird").replace("dog", "wolf")
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, "  " + base.upper() + "  "),  # dup modulo normalization
        (3, near),  # near-dup of 0
        (4, near2),  # near-dup of 0 (2 edits)
        (5, "completely different text about spark shuffles and parquet files and adaptive query execution plans"),
        (6, "yet another unrelated document mentioning broadcast joins bucketing and watermark semantics for streams"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_normalized(spark, docs):
    res = dedup_exact(docs).collect()
    by_keep = {r["keep_id"]: r["n_dups"] for r in res}
    assert by_keep[0] == 3  # docs 0,1,2 collapse to one fingerprint
    assert len(res) == 5


def test_minhash_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(docs, k_shingle=8, n_hashes=8, n_bands=4).collect()
    }
    # exact dups must be candidates; near-dups should be too at these params
    assert (0, 1) in pairs
    assert (0, 3) in pairs or (1, 3) in pairs
    # completely different docs should not pair with the base cluster
    assert (0, 5) not in pairs and (0, 6) not in pairs


def test_dup_clusters_transitive_chain(spark):
    """A~B, B~C but A̸~C must still collapse to ONE cluster (connectivity is
    transitive even when similarity isn't), and the keep list must pick the
    min id as the canonical survivor."""
    from endor_blockchain_data_pipeline_spark.operators.dedup import (
        dedup_resolution,
        dup_clusters,
    )

    # Two chains: {1-2-3-4} (a path, diameter 3) and {10-11}; 20/21 singletons.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    # both CC paths: driver union-find (small side of the adaptive switch)
    # and distributed label propagation (driver_pair_limit=0 forces it)
    for lim in (None, 0):
        cc = {
            r["node"]: r["cluster_id"]
            for r in dup_clusters(pairs, driver_pair_limit=lim).collect()
        }
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}, f"limit={lim}"

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 10, 11, 20, 21)],
        "doc_id long, text string",
    )
    res = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in
           dedup_resolution(docs, pairs).collect()}
    assert res[1] == (1, True) and res[2] == (1, False)
    assert res[3] == (1, False) and res[4] == (1, False)
    assert res[10] == (10, True) and res[11] == (10, False)
    # singletons (no candidate pair) keep themselves
    assert res[20] == (20, True) and res[21] == (21, True)
    # corpus after dedup = one survivor per cluster + singletons
    assert sorted(k for k, (_, keep) in res.items() if keep) == [1, 10, 20, 21]


def test_dup_clusters_max_iters_bound(spark):
    """max_iters caps the propagation: a 6-node path needs 5 passes to fully
    converge; with max_iters=1 the default (strict) call FAILS LOUDLY —
    partially-propagated labels are wrong cluster ids, never a silent
    return — and strict=False opts into the partial result explicitly."""
    import pytest as _pytest

    from endor_blockchain_data_pipeline_spark.operators.dedup import dup_clusters

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did NOT converge"):
        dup_clusters(path, max_iters=1, driver_pair_limit=0).collect()
    one_hop = {
        r["node"]: r["cluster_id"]
        for r in dup_clusters(
            path, max_iters=1, driver_pair_limit=0, strict=False
        ).collect()
    }
    assert one_hop[6] == 5  # moved exactly one hop, not converged
    full = {
        r["node"]: r["cluster_id"]
        for r in dup_clusters(path, driver_pair_limit=0).collect()
    }
    assert set(full.values()) == {1}


def test_hash_split_deterministic_partition(spark):
    """Content-hash splits: every id gets exactly one split, assignment is
    identical across runs/layouts, weights must sum to 100."""
    import pytest as _pytest

    from endor_blockchain_data_pipeline_spark.functions.text import hash_split_expr

    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    split = hash_split_expr("doc_id", {"train": 90, "val": 5, "test": 5})
    a = {r["doc_id"]: r["s"] for r in df.select("doc_id", split.alias("s")).collect()}
    # repartitioned layout -> identical assignment (sample() would differ)
    b = {
        r["doc_id"]: r["s"]
        for r in df.repartition(7).select("doc_id", split.alias("s")).collect()
    }
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}
    n_train = sum(1 for v in a.values() if v == "train")
    assert 850 < n_train < 950  # ~90% of 1000
    with _pytest.raises(ValueError, match="sum to 100"):
        hash_split_expr("doc_id", {"train": 80, "val": 10})


def test_ngram_jaccard_scores(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 3), (0, 5)], "id_a long, id_b long")
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard(docs, pairs, k_shingle=8).collect()}
    assert j[(0, 1)] == 1.0
    assert 0.5 < j[(0, 3)] < 1.0
    assert j.get((0, 5), 0.0) < 0.1


def test_minhash_xxhash64_fast_path_equivalent_recall(spark, docs):
    """The engine-native xxhash64 signatures (the 100-TB path) find the same
    near-dup structure as the md5 oracle recipe."""
    md5_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(docs, k_shingle=8, n_hashes=8, n_bands=4).collect()
    }
    xx_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(
            docs, k_shingle=8, n_hashes=8, n_bands=4, hash_fn="xxhash64"
        ).collect()
    }
    for pairs in (md5_pairs, xx_pairs):
        assert (0, 1) in pairs  # exact dups always collide
        assert (0, 5) not in pairs and (0, 6) not in pairs  # unrelated docs don't
    # fast path uses long (fixed-width) agg buffers -> HashAggregate
    from endor_blockchain_data_pipeline_spark.operators.dedup import minhash_signatures
    from endor_blockchain_data_pipeline_spark.plans.explain import physical_plan

    sigs = minhash_signatures(docs, k_shingle=8, n_hashes=8, hash_fn="xxhash64")
    assert dict(sigs.dtypes)["mh0"] == "bigint"
    assert "HashAggregate" in physical_plan(sigs)
    # ... and so does the DEFAULT (md5_long) recipe: the oracle-checked
    # path must be the fast plan, not a string-buffer SortAggregate.
    dsigs = minhash_signatures(docs, k_shingle=8, n_hashes=8)
    assert dict(dsigs.dtypes)["mh0"] == "bigint"
    assert "HashAggregate" in physical_plan(dsigs)


@pytest.mark.parametrize("hash_fn", ["md5_long", "md5", "xxhash64"])
def test_row_local_band_keys_equal_grouped_bands(spark, docs, hash_fn):
    """``with_band_keys`` (row-local, used by the live near index) and
    ``lsh_bands(minhash_signatures(..))`` (explode + groupBy, used by the
    one-shot funnel) give bit-identical band keys — including texts shorter
    than a shingle, the empty text and a null text."""
    from endor_blockchain_data_pipeline_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
        with_band_keys,
    )

    edge = spark.createDataFrame(
        [(900, "short"), (901, ""), (902, None), (903, "exactly8")],
        "doc_id long, text string",
    )
    corpus = docs.unionByName(edge)
    grouped = lsh_bands(
        minhash_signatures(corpus, k_shingle=8, n_hashes=8, hash_fn=hash_fn),
        n_bands=4,
    )
    row_local = with_band_keys(
        corpus, "text", "_bks", k_shingle=8, n_hashes=8, n_bands=4, hash_fn=hash_fn
    ).select("doc_id", F.posexplode("_bks").alias("band_idx", "band_key"))
    want = sorted(tuple(r) for r in grouped.collect())
    assert sorted(tuple(r) for r in row_local.collect()) == want
    assert {r[0] for r in want} >= {900, 901, 902, 903}


def test_lsh_bucket_cap_defuses_giant_bucket(spark, docs):
    """A degenerate all-identical cluster (one giant LSH bucket) is dropped
    by the size cap; genuine near-dup pairs below the cap survive."""
    boiler = [
        (100 + i, "identical boilerplate banner text repeated across the whole corpus")
        for i in range(30)
    ]
    big = docs.unionByName(
        spark.createDataFrame(boiler, "doc_id long, text string")
    )
    uncapped = minhash_candidates(big, k_shingle=8, n_hashes=8, n_bands=4)
    capped = minhash_candidates(
        big, k_shingle=8, n_hashes=8, n_bands=4, max_bucket_size=10
    )
    boiler_pairs = 30 * 29 // 2
    u = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    c = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert len([p for p in u if p[0] >= 100]) == boiler_pairs  # quadratic blob
    assert not any(p[0] >= 100 for p in c)  # cap removed it
    assert (0, 1) in c and ((0, 3) in c or (1, 3) in c)  # real near-dups kept


def test_simhash_near_dup_buckets(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup_simhash(docs).collect()}
    assert (0, 1) in pairs  # identical docs share all bands
    assert (0, 3) in pairs  # 1-word edit -> tiny Hamming distance
    assert (5, 6) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(200):
        base = [math.sin(0.1 * i + 0.05 * d) for d in range(16)]
        rows.append((i, base))
    # vec 201 = near-clone of vec 0
    clone = [x + (0.001 if d == 0 else 0.0) for d, x in enumerate(rows[0][1])]
    rows.append((201, clone))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark, vectors):
    q = [r for r in vectors.where(F.col("vec_id") == 0).first()["embedding"]]
    top = brute_force_topk(vectors, q, k=5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cos_sim"] == 1.0
    assert top[1]["vec_id"] == 201  # the clone ranks second
    assert [r["rank"] for r in top] == [1, 2, 3, 4, 5]


def test_srp_topk_finds_clone(spark, vectors):
    q = [r for r in vectors.where(F.col("vec_id") == 0).first()["embedding"]]
    top = srp_topk(vectors, q, k=5, n_bits=6).collect()
    ids = [r["vec_id"] for r in top]
    assert 0 in ids and 201 in ids  # near-identical vectors share the bucket


def test_embedding_near_dup(spark, vectors):
    pairs = embedding_near_dup(vectors, threshold=0.999999, n_bits=6).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(0, 201)}


def test_disjunctive_rewrite_matches_or_join(spark):
    left = spark.createDataFrame(
        [(1, "alpha", "x"), (2, "beta", "y"), (3, "gamma", "nomatch"), (4, "nom", "beta")],
        "id long, name string, symbol string",
    )
    right = spark.createDataFrame(
        [("alpha", "A-meta"), ("beta", "B-meta"), ("delta", "D-meta")],
        "key string, meta string",
    )
    # OR join: name=key OR symbol=key
    or_join = left.join(
        F.broadcast(right),
        (left["name"] == right["key"]) | (left["symbol"] == right["key"]),
        "left",
    ).select("id", "meta")
    rewritten = disjunctive_join_rewrite(
        left, right, branches=[("name", "key"), ("symbol", "key")], right_cols=["meta"]
    ).select("id", "meta")
    a = {(r["id"], r["meta"]) for r in or_join.collect()}
    b = {(r["id"], r["meta"]) for r in rewritten.collect()}
    assert a == b


def test_disjunctive_rewrite_null_payload(spark):
    """A matched right row whose FIRST payload column is NULL must still
    count as matched (marker-based detection, r1 VERDICT #4)."""
    left = spark.createDataFrame(
        [(1, "alpha", "zz"), (2, "nope", "beta"), (3, "none", "none")],
        "id long, name string, symbol string",
    )
    right = spark.createDataFrame(
        [("alpha", None, 10), ("beta", "B-meta", 20)],
        "key string, meta string, score int",
    )
    rewritten = disjunctive_join_rewrite(
        left,
        right,
        branches=[("name", "key"), ("symbol", "key")],
        right_cols=["meta", "score"],
    ).collect()
    by_id = {r["id"]: (r["meta"], r["score"]) for r in rewritten}
    # id 1 matched alpha on branch 0: meta is legitimately NULL, score kept
    assert by_id[1] == (None, 10)
    assert by_id[2] == ("B-meta", 20)
    assert by_id[3] == (None, None)
    # inner mode keeps matched rows even when their payload is NULL
    inner = disjunctive_join_rewrite(
        left,
        right,
        branches=[("name", "key"), ("symbol", "key")],
        right_cols=["meta", "score"],
        how="inner",
    ).collect()
    assert sorted(r["id"] for r in inner) == [1, 2]


def test_missing_dim_keys(spark):
    fact = spark.createDataFrame([("a",), ("b",), ("c",), ("a",)], "k string")
    dim = spark.createDataFrame([("a",), ("c",)], "addr string")
    missing = {r["key"] for r in missing_dim_keys(fact, dim, "k", "addr").collect()}
    assert missing == {"b"}


def test_ohlc_argminmax(spark):
    import datetime as dt

    rows = [
        ("x", 10.0, dt.datetime(2024, 1, 1, 9), 1),
        ("x", 30.0, dt.datetime(2024, 1, 1, 12), 2),
        ("x", 5.0, dt.datetime(2024, 1, 1, 16), 3),
        ("x", 20.0, dt.datetime(2024, 1, 2, 9), 4),
        # tie on ts: id decides
        ("y", 1.0, dt.datetime(2024, 1, 1, 9), 5),
        ("y", 2.0, dt.datetime(2024, 1, 1, 9), 6),
    ]
    df = spark.createDataFrame(rows, "name string, price double, ts timestamp, id long")
    res = {
        (r["name"], str(r["date"])): (r["open"], r["high"], r["low"], r["close"])
        for r in ohlc(df, "price", "ts", ["name"], "id").collect()
    }
    assert res[("x", "2024-01-01")] == (10.0, 30.0, 5.0, 5.0)
    assert res[("x", "2024-01-02")] == (20.0, 20.0, 20.0, 20.0)
    assert res[("y", "2024-01-01")] == (1.0, 2.0, 1.0, 2.0)  # tie -> id order


def test_double_entry_flip(spark):
    df = spark.createDataFrame([(1, "a", "b", 10.0)], "id long, src string, dst string, v double")
    rows = double_entry_flip(df, "src", "dst", "v").orderBy("flipped").collect()
    assert (rows[0]["src"], rows[0]["dst"], rows[0]["v"], rows[0]["flipped"]) == ("a", "b", 10.0, False)
    assert (rows[1]["src"], rows[1]["dst"], rows[1]["v"], rows[1]["flipped"]) == ("b", "a", -10.0, True)


def test_text_functions(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, ""), (3, "el que la de y"), (4, "x! y? z.")],
        "id long, text string",
    )
    res = {
        r["id"]: (r["tok"], r["bpe"], r["lang"], r["q"])
        for r in df.select(
            "id",
            token_count_expr("text").alias("tok"),
            bpe_ish_token_count_expr("text").alias("bpe"),
            lang_guess_expr("text").alias("lang"),
            quality_score_expr("text").alias("q"),
        ).collect()
    }
    assert res[1][0] == 5 and res[1][2] == "en"
    assert res[2][0] == 0
    assert res[3][2] == "es"
    assert res[4][0] == 3 and res[4][1] == 6  # 3 words + 3 punct pieces
    assert all(0.0 <= v[3] <= 1.0 for v in res.values())


def test_dim_cache_round_trip_converges(spark, tmp_path):
    """F5 metadata-cache loop (EthereumTokensPipeline.scala:75-100,183-195):
    run 1 resolves exactly the missing keys; run 2 over the same feed
    resolves ZERO (the cache converged); enrichment equals a plain join
    against the full dimension."""
    import pyspark.sql.types as T

    from endor_blockchain_data_pipeline_spark.operators.dimcache import (
        DimCache,
        enrich_with_cached_dim,
    )

    schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("decimals", T.IntegerType()),
        ]
    )
    calls: list[list[str]] = []

    def resolver(keys):
        calls.append(list(keys))
        # deterministic fixture scraper; key 'tZ' is unresolvable
        return [
            {"key": k, "name": f"token-{k}", "decimals": len(k)}
            for k in keys
            if k != "tZ"
        ]

    fact = spark.createDataFrame(
        [(i, f"t{i % 4}") for i in range(40)] + [(99, "tZ")],
        "event_id long, token string",
    )
    cache = DimCache(spark, str(tmp_path / "dim"), schema, "key")

    out1, n1 = enrich_with_cached_dim(fact, cache, "token", resolver)
    assert n1 == 4 and calls[0] == ["t0", "t1", "t2", "t3", "tZ"]
    assert out1.count() == 41
    assert out1.where(F.col("name").isNotNull()).count() == 40
    # the unresolvable key stays null-enriched, not dropped
    assert out1.where(F.col("token") == "tZ").first()["name"] is None

    out2, n2 = enrich_with_cached_dim(fact, cache, "token", resolver)
    assert n2 == 0  # run 2: cache converged, only the unresolvable retried
    assert calls[1] == ["tZ"]
    assert {tuple(r) for r in out2.collect()} == {tuple(r) for r in out1.collect()}

    # a new key in the feed resolves incrementally
    fact2 = fact.union(spark.createDataFrame([(100, "t7")], fact.schema))
    out3, n3 = enrich_with_cached_dim(fact2, cache, "token", resolver)
    assert n3 == 1 and calls[2] == ["t7", "tZ"]
    assert out3.where(F.col("token") == "t7").first()["name"] == "token-t7"


def test_materialize_switches_to_reliable_checkpoint(spark, tmp_path):
    """materialize(): localCheckpoint by default; with a session checkpoint
    dir configured it becomes a reliable checkpoint() (executor-loss-safe)
    — one deployment setting flips every multi-reader materialization.
    The reliable branch runs in its own JVM so the shared test session
    keeps its default (no checkpoint dir) state."""
    import subprocess
    import sys
    import textwrap

    from endor_blockchain_data_pipeline_spark.plans.partitioning import materialize

    local = materialize(spark.range(0, 100).withColumn("x", F.col("id") * 2))
    assert local.count() == 100
    assert spark.sparkContext.getCheckpointDir() is None

    script = textwrap.dedent(f"""
        import os
        from endor_blockchain_data_pipeline_spark.session import get_spark
        from endor_blockchain_data_pipeline_spark.plans.partitioning import materialize
        spark = get_spark("ckpt-test", master="local[2]")
        spark.sparkContext.setCheckpointDir({str(tmp_path / "ckpt")!r})
        df = materialize(spark.range(0, 100))
        assert df.count() == 100
        # evidence of the RELIABLE branch: rdd checkpoint files on disk
        files = [e for d in os.scandir({str(tmp_path / "ckpt")!r})
                 for e in os.scandir(d.path)]
        assert files, "no reliable-checkpoint files written"
        print("RELIABLE_OK")
    """)
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "RELIABLE_OK" in r.stdout, r.stderr[-2000:]


def test_kmv_sketch_accuracy_and_exact_small_groups(spark):
    """KMV: groups under k report EXACT counts; groups far over k estimate
    within the sketch's expected error (~1/sqrt(k-2), generous bound 4x);
    and the estimate is identical across partitionings (deterministic)."""
    import pyspark.sql.functions as F

    from endor_blockchain_data_pipeline_spark.functions.sketch import kmv_distinct

    df = spark.range(0, 60000).select(
        (F.col("id") % 3).alias("grp"),
        F.when(F.col("id") % 3 == 0, F.concat(F.lit("v"), (F.col("id") % 30).cast("string")))
        .otherwise(F.concat(F.lit("w"), F.col("id").cast("string")))
        .alias("val"),
    )
    got = {r["grp"]: r["est_distinct"] for r in kmv_distinct(df, ["grp"], "val", k=64).collect()}
    assert got[0] == 10.0  # multiples of 3 mod 30 -> 10 distinct, < k -> exact
    for g in (1, 2):
        true = 20000
        assert abs(got[g] - true) / true < 4 / (62 ** 0.5)  # ~0.5 generous
    again = {
        r["grp"]: r["est_distinct"]
        for r in kmv_distinct(df.repartition(13), ["grp"], "val", k=64).collect()
    }
    assert again == got


def test_pii_redact_all_patterns(spark):
    """Every PII shape redacts; clean text passes through untouched."""
    from endor_blockchain_data_pipeline_spark.functions.text import pii_redact_expr

    rows = [
        (1, "write to alice.smith+x@corp.example.org today"),
        (2, "ssn is 123-45-6789 ok"),
        (3, "card 4111 1111 1111 1111 expires soon"),
        (4, "host 192.168.10.250 is down"),
        (5, "call +1 415 555 0199 now"),
        (6, "nothing sensitive here, just 42 and v1.2 notes"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r["id"]: r["red"]
        for r in df.select("id", pii_redact_expr("t").alias("red")).collect()
    }
    assert got[1] == "write to <EMAIL> today"
    assert got[2] == "ssn is <SSN> ok"
    assert got[3] == "card <CARD> expires soon"
    assert got[4] == "host <IP> is down"
    assert got[5] == "call <PHONE> now"
    assert got[6] == rows[5][1]  # untouched


def test_pack_documents_budget_and_determinism(spark):
    """Greedy packing: every pack's token total stays under budget + one
    straddler doc; assignment is identical at any parallelism; packs never
    cross partition_cols groups."""
    import pyspark.sql.functions as F

    from endor_blockchain_data_pipeline_spark.functions.text import pack_documents

    rows = [
        (i, "tok " * (5 + (i * 37) % 90), "a" if i % 3 else "b")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    budget = 64
    packed = pack_documents(
        df, "text", "doc_id", budget_tokens=budget, n_buckets=4,
        partition_cols=("grp",),
    )
    per_pack = (
        packed.groupBy("grp", "pack_id")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    assert per_pack
    for r in per_pack:
        # overflow bounded by the straddler: tot < budget + its own max doc
        assert r["tot"] < budget + r["mx"]
    # pack identity is (partition_cols, pack_id): both groups use the
    # same per-lane sequence space, and no DOC lands outside its group's
    # packs — every (grp, pack_id) cell holds docs of that grp only (checked
    # by construction of the groupBy above); lanes exist in both groups
    assert len({(r["grp"], r["pack_id"]) for r in per_pack}) == len(per_pack)

    a = {(r["doc_id"], r["pack_id"]) for r in packed.collect()}
    b = {
        (r["doc_id"], r["pack_id"])
        for r in pack_documents(
            df.repartition(13), "text", "doc_id", budget_tokens=budget,
            n_buckets=4, partition_cols=("grp",),
        ).collect()
    }
    assert a == b  # layout-independent


def test_curation_pipeline_end_to_end(spark, tmp_path):
    """The full corpus-release chain on real testdata: incremental dedup
    (2 batches) -> takedown -> keep-list filter -> PII scrub -> sequence
    packing -> split assignment -> profile. Each stage's invariant holds
    over the previous stage's actual output."""
    import pyspark.sql.functions as F

    from endor_blockchain_data_pipeline_spark.functions.text import (
        hash_split_expr,
        pack_documents,
        pii_redact_expr,
    )
    from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import (
        DedupIndex,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    n_raw = docs.count()

    idx = DedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(docs.where(F.col("doc_id") % 2 == 0), "b-even")
    idx.add_batch(docs.where(F.col("doc_id") % 2 == 1), "b-odd")
    idx.remove_docs([0, 1], "takedown")

    verdicts = idx.keep_list()
    kept = docs.join(
        verdicts.where(F.col("keep")).select("doc_id"), "doc_id", "leftsemi"
    )
    n_kept = kept.count()
    assert 0 < n_kept <= n_raw - 2  # takedown + at least the corpus dups gone

    scrubbed = kept.select(
        "doc_id", pii_redact_expr("text").alias("text")
    )
    split = hash_split_expr("doc_id", {"train": 90, "val": 5, "test": 5})
    staged = scrubbed.select("doc_id", "text", split.alias("split"))
    packed = pack_documents(
        staged, "text", "doc_id", budget_tokens=256, n_buckets=4,
        partition_cols=("split",),
    )
    per_pack = packed.groupBy("split", "pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"),
        F.count("*").alias("n"),
    )
    rows = per_pack.collect()
    assert sum(r["n"] for r in rows) == n_kept  # every kept doc packed once
    for r in rows:
        assert r["tot"] < 256 + r["mx"]  # budget + one straddler

    profile = (
        packed.groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("toks"))
        .collect()
    )
    assert {r["split"] for r in profile} <= {"train", "val", "test"}
    assert sum(r["n_docs"] for r in profile) == n_kept


def test_decontaminate_flags_ngram_collisions(spark):
    """Benchmark decontamination: a train doc containing a copied >=13-word
    eval passage is flagged; paraphrases and short overlaps are not; the
    verdict table covers every train doc. Cross-checked against a
    brute-force python n-gram oracle."""
    import pyspark.sql.functions as F

    from endor_blockchain_data_pipeline_spark.operators.dedup import decontaminate

    passage = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "migratory birds navigate by starlight across quiet continents"
    )  # 18 words
    train = spark.createDataFrame(
        [
            (1, f"intro text then {passage} and a conclusion"),
            (2, "completely unrelated content about parquet footers and manifests"),
            (3, "the quick brown fox jumps over the lazy dog"),  # only 9 words
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, f"benchmark question: {passage}"), (101, "another eval item entirely")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in decontaminate(train, evalset).collect()}
    assert set(got) == {1, 2, 3}  # complete verdict table
    assert got[1]["contaminated"] and got[1]["n_collisions"] >= 1
    assert not got[2]["contaminated"] and got[2]["n_collisions"] == 0
    assert not got[3]["contaminated"]  # shares words, but no 13-gram

    # brute-force oracle over the same texts
    def ngrams(t, n=13):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}

    eval_grams = set().union(*(ngrams(t) for _, t in [(100, f"benchmark question: {passage}"), (101, "another eval item entirely")]))
    for did, text in [(1, f"intro text then {passage} and a conclusion"),
                      (2, "completely unrelated content about parquet footers and manifests"),
                      (3, "the quick brown fox jumps over the lazy dog")]:
        exp = len(ngrams(text) & eval_grams)
        assert got[did]["n_collisions"] == exp, did

    # the join side meant to broadcast: eval grams reach the plan hashed,
    # never as raw text
    plan = decontaminate(train, evalset)._jdf.queryExecution().executedPlan().toString()
    assert "md5" in plan


def test_repetition_signals_hand_values(spark):
    """Gopher-style repetition fractions on hand-built texts: exact
    expected values (each fraction is one int division)."""
    import pyspark.sql.functions as F

    from endor_blockchain_data_pipeline_spark.functions.text import (
        dup_bigram_frac_expr,
        dup_line_frac_expr,
        dup_word_frac_expr,
        symbol_word_ratio_expr,
    )

    rows = [
        # 4 non-blank lines, 2 distinct -> dup_line 0.5
        (1, "nav\nnav\n\nbody\nnav"),
        # words: a a a b  -> dup_word 2/4; bigrams: 'a a','a a','a b' -> 1/3
        (2, "a a a b"),
        # '# # ...' over 3 words -> symbol ratio 3/3 = 1.0
        (3, "# tag # more ..."),
        (4, ""),  # empty: all zeros
        (5, "unique words only here"),  # no repetition
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            dup_line_frac_expr("text").alias("dl"),
            dup_word_frac_expr("text").alias("dw"),
            dup_bigram_frac_expr("text").alias("db"),
            symbol_word_ratio_expr("text").alias("sw"),
        ).collect()
    }
    assert got[1]["dl"] == 0.5
    assert got[2]["dw"] == 0.5 and abs(got[2]["db"] - 1 / 3) < 1e-15
    assert got[3]["sw"] == 3 / 5  # 2 '#' + 1 '...' over 5 tokens
    assert (got[4]["dl"], got[4]["dw"], got[4]["db"], got[4]["sw"]) == (0, 0, 0, 0)
    assert got[5]["dw"] == 0.0 and got[5]["db"] == 0.0


def test_stratified_sample_deterministic(spark):
    """sample_stratified_expr: per-stratum rates hold (+-3% at n=4000),
    the decision is layout-independent (repartition changes nothing), and
    different salts give independent samples."""
    import pyspark.sql.functions as F

    from endor_blockchain_data_pipeline_spark.functions.text import (
        sample_keep_expr,
        sample_stratified_expr,
    )

    df = spark.range(8000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    keep = sample_stratified_expr("doc_id", "lang", {"en": 0.25, "de": 0.75})
    counts = {
        r["lang"]: r["n"]
        for r in df.where(keep).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert abs(counts["en"] / 4000 - 0.25) < 0.03
    assert abs(counts["de"] / 4000 - 0.75) < 0.03

    ids = sorted(r["doc_id"] for r in df.where(keep).select("doc_id").collect())
    ids2 = sorted(
        r["doc_id"]
        for r in df.repartition(13).where(keep).select("doc_id").collect()
    )
    assert ids == ids2  # pure content hash: layout cannot change the sample

    # independent salts: overlap of two 25% samples ~ 6.25%, not 25%
    k1 = df.where(sample_keep_expr("doc_id", 0.25, salt="s1"))
    k2 = df.where(sample_keep_expr("doc_id", 0.25, salt="s2"))
    overlap = k1.join(k2, "doc_id").count()
    assert overlap < 0.12 * 8000  # far below the correlated 0.25 * 8000


def test_sample_rate_bounds():
    import pytest as _pytest

    from endor_blockchain_data_pipeline_spark.functions.text import (
        sample_keep_expr,
        sample_stratified_expr,
    )

    with _pytest.raises(ValueError):
        sample_keep_expr("doc_id", 1.5)
    with _pytest.raises(ValueError):
        sample_stratified_expr("doc_id", "lang", {"en": -0.1})

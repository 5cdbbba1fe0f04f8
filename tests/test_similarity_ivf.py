"""IVF ANN: assignment determinism, probe pruning, recall vs brute force."""

from __future__ import annotations

import pytest

from endor_blockchain_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    ivf_assign_expr,
    ivf_centroids,
    ivf_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    # three well-separated directions in 4-d + noise members around each
    def v(base, eps):
        return [x + eps for x in base]

    rows = []
    axes = {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0], 2: [0.0, 0.0, 1.0, 0.0]}
    for i in range(30):
        rows.append((i, v(axes[i % 3], 0.01 * (i // 3))))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_ivf_centroids_and_assignment(spark, emb):
    cents = ivf_centroids(emb, [0, 1, 2])
    assert [c for c, _ in cents] == [0, 1, 2]
    got = {
        r["vec_id"]: r["bucket"]
        for r in emb.select(
            "vec_id", ivf_assign_expr("embedding", cents).alias("bucket")
        ).collect()
    }
    # every vector lands in the bucket of its own axis's centroid
    for i, b in got.items():
        assert b == i % 3, (i, b)


def test_ivf_centroids_missing_id_raises(spark, emb):
    with pytest.raises(ValueError, match="999"):
        ivf_centroids(emb, [0, 999])


def test_ivf_topk_matches_brute_force_within_probed_buckets(spark, emb):
    """With the query aligned to axis 0 and n_probe covering the right
    bucket, IVF top-k == brute-force top-k restricted to probed buckets;
    with n_probe = K it is exactly brute force."""
    q = [1.0, 0.05, 0.0, 0.0]
    cents = ivf_centroids(emb, [0, 1, 2])
    full = {
        (r["vec_id"], r["cos_sim"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    ivf_all = {
        (r["vec_id"], r["cos_sim"])
        for r in ivf_topk(emb, q, cents, k=5, n_probe=3).collect()
    }
    assert ivf_all == full  # probing every bucket == exact
    # n_probe=1 only surfaces axis-0 bucket members
    narrow = ivf_topk(emb, q, cents, k=5, n_probe=1).collect()
    assert all(r["vec_id"] % 3 == 0 for r in narrow)
    assert len(narrow) == 5


def test_ivf_plan_no_udf(spark, emb):
    cents = ivf_centroids(emb, [0, 1, 2])
    plan = (
        ivf_topk(emb, [1.0, 0.0, 0.0, 0.0], cents, k=3, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivf_train_lloyd_moves_centroids_to_cluster_means(spark, emb):
    """Lloyd iterations pull each seed-row centroid toward its bucket's
    mean; assignments stay on the right axis and training is deterministic
    across repeated runs (order-independent quantized-integer means)."""
    from endor_blockchain_data_pipeline_spark.operators.similarity import (
        ivf_train_lloyd,
    )

    c1 = ivf_train_lloyd(emb, [0, 1, 2], iters=2)
    c2 = ivf_train_lloyd(emb, [0, 1, 2], iters=2)
    assert c1 == c2  # bit-identical floats, not just close
    assert [c for c, _ in c1] == [0, 1, 2]
    # each trained centroid still points dominantly along its axis
    for cid, cv in c1:
        assert max(range(4), key=lambda d: cv[d]) == cid
        # ...and differs from the raw seed row (training actually moved it)
    raw = dict(ivf_centroids(emb, [0, 1, 2]))
    assert any(dict(c1)[cid] != raw[cid] for cid in (0, 1, 2))
    # assignment under trained centroids keeps the axis clustering
    got = {
        r["vec_id"]: r["bucket"]
        for r in emb.select(
            "vec_id", ivf_assign_expr("embedding", c1).alias("bucket")
        ).collect()
    }
    assert all(got[i] == i % 3 for i in got)


def test_ivf_train_lloyd_empty_bucket_keeps_previous_centroid(spark):
    """A centroid that captures no vectors keeps its previous position
    (mirrors the oracle's LEFT JOIN null guard) instead of dividing by 0."""
    from endor_blockchain_data_pipeline_spark.operators.similarity import (
        ivf_train_lloyd,
    )

    # every vector is colinear (x-axis): cosine to both centroids is exactly
    # 1.0 forever (Lloyd means stay on the axis), so the ascending-cid
    # tie-break sends everything to bucket 0 and bucket 5 is empty in EVERY
    # iteration.
    rows = {i: [1.0, 0.0, 0.0] for i in range(10)}
    rows[5] = [2.0, 0.0, 0.0]  # same direction as vec 0, larger norm
    emb2 = spark.createDataFrame(
        list(rows.items()), "vec_id long, embedding array<double>"
    )
    cents = ivf_train_lloyd(emb2, [0, 5], iters=2)
    got = dict(cents)
    assert got[5] == [2.0, 0.0, 0.0]  # unchanged: bucket stayed empty

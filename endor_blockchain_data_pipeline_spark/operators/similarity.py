"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exact baseline. Dot products as
  ``aggregate(zip_with(...))`` column expressions — JVM-side, codegen'd,
  no UDF; one pass over the table, then ``ORDER BY ... LIMIT k`` which
  Spark plans as TakeOrderedAndProject (per-partition heap + driver merge)
  — no global sort, no single-task shuffle.
- LSH-bucketed ANN (signed random projection / SRP): the scale path. Each
  vector gets a B-bit signature from fixed pseudo-random hyperplanes whose
  ±1 weights derive from md5(seed:bit:dim) — computed ONCE in Python and
  embedded as literal arrays, so signature evaluation is a pure fused
  zip_with/aggregate fold (no per-row hashing) and the identical weights
  are reproducible in any engine (the DuckDB correctness oracle included).
  Queries only score vectors sharing a signature bucket; at 100 TB the
  bucket join replaces the full scan and recall is tuned by n_tables ×
  n_bits.
- IVF ANN: inverted-file pruning with a deterministic coarse quantizer —
  K dataset rows (fixed ids) act as centroids, optionally refined by
  order-independent Lloyd iterations; every vector is assigned to its
  nearest centroid's bucket (K literal-array cosine folds, argmax with
  ascending-id tie-break), queries probe only their n_probe nearest
  buckets. The assignment is computed inline per query, so there is no
  stored index to keep in sync, and every step is reproducible in the
  DuckDB oracle.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from endor_blockchain_data_pipeline_spark.plans.partitioning import (
    materialize,
    parallelize_for_fanout,
)


def dot_expr(a: Column, b: Column, dim: int | None = None) -> Column:
    """dot(a, b) via zip_with + aggregate — sequential fold, deterministic.

    ``dim`` is accepted (and ignored) for call-site uniformity: an
    unrolled 64-term add chain was tried here and measured 3-7x SLOWER —
    the deep Add tree falls out of whole-stage codegen into interpreted
    evaluation; the HOF fold stays the fastest exact-order form."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_expr(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot_expr(a, b, dim) / (norm_expr(a, dim) * norm_expr(b, dim))


def _ranked_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Top-k of (id, cos_sim) with a dense ``rank`` column.

    ``orderBy().limit(k)`` plans as TakeOrderedAndProject — each partition
    keeps a k-row heap, the driver merges heaps; nothing resembling the
    single-task global-window sort survives. The row_number window after the
    limit runs over ≤ k rows (one tiny task) purely to materialize ``rank``.
    """
    top = scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(id_col, "cos_sim", "rank")


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Single map stage computes cosine; top-k via TakeOrderedAndProject with
    (-cos, id) ordering — ties broken by id for determinism.
    """
    q = F.lit([float(x) for x in query_vec])
    scored = parallelize_for_fanout(df).select(
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), q, len(query_vec)), 6).alias(
            "cos_sim"
        ),
    )
    return _ranked_topk(scored, k, id_col)


def srp_weights(n_bits: int, dim: int, seed: int = 42) -> list[list[float]]:
    """±1 hyperplane weights, reproducible in any engine.

    weight[b][d] = +1 if the last hex nibble of md5("srp:{seed}:{b}:{d}")
    is even, else −1. Pure Python (hashlib) so the DuckDB oracle can embed
    the exact same constants; no stored model, no executor-side hashing.
    """
    out = []
    for b in range(n_bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"srp:{seed}:{b}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[-1], 16) % 2 == 0 else -1.0)
        out.append(row)
    return out


def srp_signature_py(vec: list[float], weights: list[list[float]]) -> int:
    """Driver-side signature of a literal vector — same left fold order as
    the Spark expression, so float64 results are bit-identical."""
    sig = 0
    for b, w in enumerate(weights):
        acc = 0.0
        for x, wd in zip(vec, w):
            acc += float(x) * wd
        if acc > 0:
            sig |= 1 << b
    return sig


def srp_signature_expr(
    vec_col: Column | str, weights: list[list[float]]
) -> Column:
    """SRP signature as an int column: bit b = 1 iff dot(v, w[b]) > 0.

    Weights are array literals — the projection is a codegen'd zip_with +
    sequential aggregate fold per bit, no hashing in the hot path. (An
    unrolled ±add/sub chain was tried and measured ~3x slower: the deep
    Add tree falls out of whole-stage codegen into interpreted eval.)
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    total = F.lit(0).cast("long")
    for b, w in enumerate(weights):
        warr = F.lit(list(w))
        proj = F.aggregate(
            F.zip_with(v, warr, lambda x, wd: x.cast("double") * wd),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        total = total + F.when(proj > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return total


def srp_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 8,
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """ANN top-k: score only vectors sharing an SRP bucket with the query.

    The candidate set is the query's bucket (expected n/2^bits of the data
    per table); exact cosine ranks within it via TakeOrderedAndProject.
    Recall < 1 by construction and tuned along BOTH axes: fewer ``n_bits``
    -> bigger buckets; more ``n_tables`` -> independent hash tables (seeds
    ``seed + t``) whose bucket matches OR together, the standard LSH
    recall amplifier (miss probability decays exponentially in tables).
    The bench reports measured recall@10 against brute force next to
    latency. The query's own signatures are computed on the driver (same
    fold order ⇒ bit-identical float64), zero extra Spark jobs.
    """
    match = None
    v = F.col(vec_col) if isinstance(vec_col, str) else F.col(vec_col)
    for t in range(n_tables):
        weights = srp_weights(n_bits, len(query_vec), seed + t)
        qsig = srp_signature_py(query_vec, weights)
        # bucket match as an AND of per-bit comparisons instead of
        # composing the full integer signature: codegen's And
        # short-circuits, so a row stops after its first mismatching bit
        # (~1.9 projection folds evaluated per table on average instead
        # of all n_bits) — identical match set, the signature integer was
        # only ever compared for equality here
        eq = None
        for b, w in enumerate(weights):
            warr = F.lit(list(w))
            proj = F.aggregate(
                F.zip_with(v, warr, lambda x, wd: x.cast("double") * wd),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            # coalesce(null -> false) reproduces the composed-signature
            # form's bit-0 default for null/short vectors exactly
            bit = F.coalesce(proj > 0, F.lit(False)) == F.lit(
                bool((qsig >> b) & 1)
            )
            eq = bit if eq is None else eq & bit
        match = eq if match is None else (match | eq)

    q = F.lit([float(x) for x in query_vec])
    cands = parallelize_for_fanout(df).where(match)
    scored = cands.select(
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), q, len(query_vec)), 6).alias("cos_sim"),
    )
    return _ranked_topk(scored, k, id_col)


def ivf_centroids(
    df: DataFrame,
    seed_ids: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF "coarse quantizer": the dataset rows with the given
    ids serve as centroids (random-row init without a k-means training step
    — the standard cheap IVF bootstrap; ids fixed => reproducible in any
    engine). Returns [(centroid_id, vector)] sorted by id; K rows collected
    driver-side (K is small by construction)."""
    rows = {
        r[0]: [float(x) for x in r[1]]
        for r in df.where(F.col(id_col).isin(list(seed_ids)))
        .select(id_col, vec_col)
        .collect()
    }
    missing = [i for i in seed_ids if i not in rows]
    if missing:
        raise ValueError(f"centroid seed ids not in dataset: {missing}")
    return [(i, rows[i]) for i in sorted(seed_ids)]


def _cosine_py(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the SAME sequential fold order as
    ``cosine_expr`` (and DuckDB's list_dot_product) — float64 bit-identical,
    so driver-chosen probe buckets equal engine-chosen ones."""
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return dot / ((na ** 0.5) * (nb ** 0.5))


def _norm_py(v: list[float]) -> float:
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return acc ** 0.5


def ivf_train_lloyd(
    df: DataFrame,
    seed_ids: list[int],
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1_000_000,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd refinement of the dataset-row IVF centroids.

    Each iteration: assign every vector to its nearest current centroid
    (``ivf_assign_expr`` — K literal-array cosine folds, one map stage) and
    recompute each centroid as its bucket's per-dimension MEAN. The mean is
    made ORDER-INDEPENDENT (and therefore cross-engine reproducible, so the
    DuckDB oracle can replay the training bit-for-bit) by quantizing each
    component to an integer first::

        q_i = floor(v_i * quant)           -- exact, per-row
        centroid_i = (sum(q_i) / quant) / n  -- exact BIGINT sum, then double

    A float mean over a distributed sum would depend on partition order;
    integer sums cannot. The 1e-6 quantization error is far below what
    moves a nearest-centroid assignment. Buckets that lose all members keep
    their previous centroid (mirrored in the oracle SQL). Driver traffic is
    K x dim longs per iteration — the classic k-means-lite bootstrap, 2-3
    iterations buy most of the bucket-balance win without a training-
    pipeline dependency.

    Scale note: the BIGINT sums stay exact while n_bucket * quant * |v| <
    2^63 and double-exact while < 2^53 — petabyte corpora would bump
    ``quant`` down or shard the sum; at any bench SF it is exact.
    """
    cents = ivf_centroids(df, seed_ids, vec_col, id_col)
    dim = len(cents[0][1])
    for _ in range(iters):
        assign = df.select(
            ivf_assign_expr(vec_col, cents).alias("bucket"), F.col(vec_col)
        )
        aggs = [F.count("*").alias("_n")] + [
            F.sum(
                F.floor(
                    F.element_at(F.col(vec_col), i + 1).cast("double") * F.lit(quant)
                ).cast("long")
            ).alias(f"s{i}")
            for i in range(dim)
        ]
        by_bucket = {
            int(r["bucket"]): r for r in assign.groupBy("bucket").agg(*aggs).collect()
        }
        cents = [
            (
                cid,
                old
                if cid not in by_bucket or by_bucket[cid]["_n"] == 0
                else [
                    (by_bucket[cid][f"s{i}"] / quant) / by_bucket[cid]["_n"]
                    for i in range(dim)
                ],
            )
            for cid, old in cents
        ]
    return cents


def ivf_assign_expr(
    vec_col: Column | str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid bucket id (by cosine; ties -> smallest centroid id,
    matching a ``row_number() ... ORDER BY cos DESC, cid`` oracle).

    Built lean on purpose — the naive form (K ``cosine_expr``s duplicated
    through a greatest + CASE chain) tripled every fold and cost seconds of
    driver-side plan construction from per-element ``lit`` py4j calls:
    - centroid vectors are single list literals (one call each);
    - centroid norms are Python-precomputed literals (same sequential fold
      as the engines — bit-identical float64), removing K constant norm
      folds per row;
    - argmax = ``array_position(cos_array, array_max(cos_array))`` — each
      cosine is evaluated once into one array; first-max position gives the
      ascending-cid tie-break for free (centroids arrive sorted)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dim = len(centroids[0][1])
    nv = norm_expr(v, dim)
    coss = [
        dot_expr(v, F.lit(cv), dim) / (nv * F.lit(_norm_py(cv)))
        for _, cv in centroids
    ]
    carr = F.array(*coss)
    pos = F.array_position(carr, F.array_max(carr)).cast("int")
    cid_arr = F.array(*[F.lit(cid).cast("long") for cid, _ in centroids])
    return F.element_at(cid_arr, pos)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN top-k: score only vectors assigned to the query's ``n_probe``
    nearest centroid buckets.

    The classic inverted-file pruning shape, with the assignment computed
    inline so the operator needs no stored index. Probe buckets are chosen
    DRIVER-side from the collected centroids with a bit-identical cosine —
    zero extra Spark jobs at query time. Recall < 1
    by construction, tuned by n_probe/K; brute_force_topk is the exact
    baseline."""
    ranked = sorted(
        ((-_cosine_py(query_vec, cv), cid) for cid, cv in centroids)
    )[:n_probe]
    probe_ids = [cid for _, cid in ranked]
    q = F.lit([float(x) for x in query_vec])
    # K cosine folds per row are compute-dense; a byte-sized scan would
    # otherwise run them on one core (no-op when the scan is already wide)
    cands = parallelize_for_fanout(df).where(
        ivf_assign_expr(vec_col, centroids).isin(probe_ids)
    )
    scored = cands.select(
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), q, len(query_vec)), 6).alias("cos_sim"),
    )
    return _ranked_topk(scored, k, id_col)


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, SRP-bucketed.

    Self-join only within SRP buckets (near-identical vectors share buckets
    with high probability), then exact cosine filter. The all-pairs O(n^2)
    never materializes.

    ``dim``: pass it explicitly in pipelines (the hyperplane count must be
    known before planning). When None, the schema field's ``{"dim": N}``
    metadata is consulted first; only failing that does a one-row driver
    lookup run — one extra tiny Spark action per call, fine interactively,
    wasteful inside a loop.
    """
    if dim is None:
        meta = df.schema[vec_col].metadata or {}
        dim = int(meta["dim"]) if "dim" in meta else len(df.select(vec_col).first()[0])
    weights = srp_weights(n_bits, dim, seed)
    # materialized before the self-join: a lazy plan would evaluate the
    # n_bits fold expressions once per side (same rule as the LSH bands)
    sigs = materialize(
        parallelize_for_fanout(df).select(
            F.col(id_col), F.col(vec_col), srp_signature_expr(vec_col, weights).alias("_sig")
        )
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = a.join(
        b,
        (F.col("a._sig") == F.col("b._sig")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(
            cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"), dim), 6
        ).alias("cos_sim"),
    )
    return pairs.where(F.col("cos_sim") >= threshold)


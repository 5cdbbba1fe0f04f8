"""Deduplication operators for large-scale corpus curation.

All distributed, shuffle-conscious designs:

- exact: hash-groupBy on a normalized fingerprint — one shuffle, map-side
  partial agg collapses duplicate-heavy partitions.
- MinHash + LSH: shingle -> k portable minhashes (lexicographic min of
  salted md5 — a valid random permutation family) -> band signatures ->
  bucket-join candidates. Candidate verification by exact Jaccard only
  within buckets: the classic near-dup pipeline without any all-pairs join.
- SimHash: 64-bit hyperplane-free simhash from token md5 bits; near-dups =
  equal bands of the simhash (Hamming-bucketed).
- n-gram Jaccard: exact similarity for candidate pairs (small sides only).
- embedding cosine near-dup: see operators/similarity.py.

Portability note: every hash here is md5-derived so DuckDB can run the
identical computation as the correctness oracle (xxhash64/murmur are
engine-specific). The default minhash recipe ("md5_long") takes the min
over the first 60 bits of the md5 as a BIGINT — the oracle reproduces it
bit-for-bit AND the agg buffers stay fixed-width (HashAggregate). At
100 TB you may still swap in xxhash64 to skip the hex round-trip — the
plan shape (explode -> partial agg -> band groupBy) is unchanged.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from endor_blockchain_data_pipeline_spark.functions.text import char_shingles, fingerprint_expr
from endor_blockchain_data_pipeline_spark.plans.partitioning import (
    materialize,
    parallelize_for_fanout,
)

logger = logging.getLogger(__name__)


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per normalized-text fingerprint.

    Returns (fingerprint, keep_id, n_dups). One shuffle; partial aggregation
    makes duplicate-heavy data cheaper, not more expensive.
    """
    return (
        df.select(fingerprint_expr(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 12,
    n_hashes: int = 8,
    hash_fn: str = "md5_long",
) -> DataFrame:
    """Per-doc MinHash signature: n_hashes columns mh0..mh{n-1}.

    minhash_i(doc) = min over shingles of hash(i-salt, shingle): the min of a
    salted uniform hash is a random permutation min — the standard estimator
    (Broder '97). Explode + groupBy(min) = one shuffle with map-side
    combine; shingle fan-out never leaves the map stage.

    ``hash_fn``:
    - ``"md5"``: hex-string hashes, bit-identical in DuckDB. Cost: string
      min-agg buffers demote the groupBy to SortAggregate (any string
      buffer does).
    - ``"md5_long"`` (default): same md5 stream, but the min runs over the
      first 60 bits as a BIGINT (``conv(substr(md5,1,15),16,10)``). Equal-
      length lowercase hex sorts lexicographically == numerically, so it is
      the same permutation family truncated to 60 bits; buffers are longs →
      HashAggregate with map-side combine. Still bit-identical in DuckDB
      (``('0x' || substr(md5(..),1,15))::BIGINT``) — portable AND the fast
      plan, so the oracle-checked recipe IS the scale plan. (At small SF the
      md5 evaluation itself dominates and the two time alike; the hash-vs-
      sort buffer gap grows with group cardinality and combine ratio.)
    - ``"xxhash64"``: engine-native seeded 64-bit hashes — cheapest (no hex
      round-trip at all), not cross-engine reproducible; LSH banding and
      candidates work identically (tested equivalent on near-dup recall).
    """
    shingled = parallelize_for_fanout(df).select(
        F.col(id_col), F.explode(char_shingles(text_col, k_shingle)).alias("sh")
    )
    aggs = [
        F.min(_shingle_hash(F.col("sh"), i, hash_fn)).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def _shingle_hash(sh, i: int, hash_fn: str):
    """The i-th salted hash of one shingle (see ``minhash_signatures``)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(F.lit(i), sh)
    salted = F.md5(F.concat(F.lit(f"h{i}:"), sh))
    if hash_fn == "md5_long":
        return F.conv(F.substring(salted, 1, 15), 16, 10).cast("long")
    return salted


def _band_keys(mh: list, n_bands: int) -> list:
    rows = len(mh) // n_bands
    return [
        F.md5(F.concat_ws("|", *[mh[b * rows + j] for j in range(rows)]))
        for b in range(n_bands)
    ]


def with_band_keys(
    df: DataFrame,
    text_col: str,
    out_col: str,
    k_shingle: int = 12,
    n_hashes: int = 8,
    n_bands: int = 4,
    hash_fn: str = "md5_long",
) -> DataFrame:
    """Add ``out_col``: the array of a doc's LSH band keys, element b equal
    to ``lsh_bands(minhash_signatures(..))``'s ``band_key`` for band_idx b.

    Row-local: each minhash is an ``array_min`` over the doc's own shingle
    array instead of an explode + groupBy, so it rides any projection with
    no shuffle (one row per doc is the caller's contract).

    Both forms are kept because each wins on its own workload (4-core VM,
    local[4]). The ``transform`` lambdas run interpreted, so per doc this
    is ~2.5x slower than the grouped form: 88 s vs 35 s for 200k synthetic
    ~190-char docs, which is why corpus-scale callers (``add_batch``,
    ``minhash_candidates``) keep ``minhash_signatures``. On a live-curation
    delta (300-1500 docs of ~400 chars) both take the same wall time, but
    the grouped form needs a second collect: 5 Spark jobs instead of 2,
    and the live refresh is bound by its job count.
    ``test_row_local_band_keys_equal_grouped_bands`` pins the two forms to
    identical keys."""

    def hasher(i):
        return lambda s: _shingle_hash(s, i, hash_fn)

    sh = "_band_sh"
    mh = [F.array_min(F.transform(F.col(sh), hasher(i))) for i in range(n_hashes)]
    return (
        df.withColumn(sh, char_shingles(text_col, k_shingle))
        .withColumn(out_col, F.array(*_band_keys(mh, n_bands)))
        .drop(sh)
    )


def lsh_bands(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    carry_all: bool = False,
) -> DataFrame:
    """Signature -> (band_idx, band_key) rows; docs sharing a band_key are
    near-dup candidates. rows_per_band = n_hashes / n_bands.

    Single pass: ``posexplode`` over the array of band keys evaluates the
    signature subtree (scan + shingle explode + min-agg) exactly once; a
    union of n_bands selects would evaluate it once per band (Catalyst does
    not dedupe union branches and no exchange reuse fires). Measured
    fastest once the fan-out repartition gives the subtree full
    parallelism. Callers that read bands more than once (the candidate
    self-join) materialize it first — see ``minhash_candidates``."""
    mh_cols = [F.col(c) for c in sigs.columns if c.startswith("mh")]
    band_keys = _band_keys(mh_cols, n_bands)
    if carry_all:
        # each band row additionally carries the doc's FULL band-key array
        # so an uncapped self-join can dedupe pairs positionally ("first
        # shared band wins") instead of a distinct — see minhash_candidates
        return sigs.select(
            F.col(id_col), F.array(*band_keys).alias("_bks")
        ).select(
            F.col(id_col),
            "_bks",
            F.posexplode("_bks").alias("band_idx", "band_key"),
        )
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*band_keys)).alias("band_idx", "band_key"),
    )


def cap_bucket_size(
    bands: DataFrame, bucket_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Skew defense for bucket self-joins: drop buckets above a size cap.

    A giant bucket (boilerplate corpus, degenerate band) makes the
    self-join quadratic in ONE task — the classic LSH skew failure. Buckets
    beyond ``max_bucket_size`` are near-useless for discrimination anyway
    (every member pairs with every member), so the standard defense is to
    drop them outright (document them for an exact-dedup pre-pass instead).
    Implemented as a window count per bucket — one extra shuffle on the
    (small) bands table, no collect.
    """
    if max_bucket_size is None:
        return bands
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    return (
        bands.withColumn("_bsize", F.count("*").over(w))
        .where(F.col("_bsize") <= max_bucket_size)
        .drop("_bsize")
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 12,
    n_hashes: int = 8,
    n_bands: int = 4,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5_long",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via LSH band bucket self-join.

    The join key (band_idx, band_key) keeps the self-join sparse: only
    same-bucket docs pair up. ``max_bucket_size`` caps the skew case (a
    giant bucket would go quadratic in one task — see ``cap_bucket_size``);
    AQE skew-join splitting covers residual imbalance below the cap.
    ``hash_fn="xxhash64"`` selects the engine-native fast signatures.

    The bands table (n_bands rows per doc — tiny next to the shingle
    fan-out that builds it) is materialized before the self-join: a lazy
    self-join would evaluate the whole scan + shingle explode + min-agg
    subtree once PER SIDE (Catalyst plans self-joins as two independent
    subtrees; no exchange reuse fires here — measured ~2x).
    ``plans.partitioning.materialize`` picks localCheckpoint, or a reliable
    ``checkpoint()`` when the session has a checkpoint dir (real cluster).
    """
    sigs = minhash_signatures(df, text_col, id_col, k_shingle, n_hashes, hash_fn)
    if max_bucket_size is not None:
        # capped joins must keep the distinct: the positional dedup below
        # requires every band row present (a pair whose FIRST shared band
        # sits in a capped-out bucket would otherwise be suppressed at its
        # later bands too)
        bands = materialize(lsh_bands(sigs, id_col, n_bands))
        bands = cap_bucket_size(bands, ["band_idx", "band_key"], max_bucket_size)
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
    # uncapped: emit each pair exactly once from the FIRST band the docs
    # share — identical pair set to the old join+distinct, without the
    # full hash-aggregate shuffle of the (almost entirely unique) pairs
    bands = materialize(lsh_bands(sigs, id_col, n_bands, carry_all=True))
    a = bands.alias("a")
    b = bands.alias("b")
    first_shared = F.lit(True)
    for j in range(n_bands - 1):
        first_shared = first_shared & (
            (F.col("a.band_idx") <= j)
            | (
                F.element_at(F.col("a._bks"), j + 1)
                != F.element_at(F.col("b._bks"), j + 1)
            )
        )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & first_shared,
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 12,
) -> DataFrame:
    """Exact Jaccard similarity for candidate pairs.

    Joins each side's distinct shingle set; |A∩B| via inner join on shingle,
    |A∪B| = |A|+|B|-|A∩B|. Only candidate pairs are scored — the all-pairs
    explosion never happens.

    Scale shape: only docs that appear in a pair are shingled at all (semi
    join first — the pair set is bounded by the LSH bucket caps, the corpus
    is not), and the distinct shingle set is materialized once instead of
    re-evaluating the explode subtree for each of its three readers
    (sizes, side a, side b).
    """
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = materialize(
        parallelize_for_fanout(df.join(ids, id_col, "leftsemi"))
        .select(F.col(id_col), F.explode(char_shingles(text_col, k_shingle)).alias("sh"))
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a_sh = sh.select(F.col(id_col).alias("id_a"), F.col("sh"))
    b_sh = sh.select(F.col(id_col).alias("id_b"), F.col("sh"))
    inter = (
        pairs.join(a_sh, "id_a").join(b_sh, ["id_b", "sh"]).groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


# Below this many distinct candidate pairs, connected components runs as a
# driver-side union-find on the collected pair list instead of iterative
# label propagation. The pairs table is the SMALL artifact of the pipeline —
# LSH bucket caps bound pairs-per-doc, so even a 100-TB corpus yields pairs
# orders of magnitude smaller than the corpus — and union-find is
# O(E α(E)) with zero per-iteration job latency, while each propagation
# iteration costs a full join+agg+checkpoint round trip. A caller's
# driver_pair_limit=0 forces the distributed path.
DUP_CLUSTERS_DRIVER_PAIR_LIMIT = 1_000_000


def _arrow_col(tbl, name):
    """A pyarrow column as a numpy array (int64 for longs, object for
    strings) — the driver-side collect format for the fold helpers below.
    ~3x faster than ``.collect()``'s per-Row py4j/pickle round-trip."""
    import numpy as np

    return np.asarray(tbl.column(name).to_numpy(zero_copy_only=False))


def _min_label_components(src, dst, extra_nodes=None):
    """Exact connected components on the driver, vectorized.

    Min-label propagation with pointer jumping over numpy index arrays:
    identical output to the classic union-find (every node labeled with the
    MINIMUM id of its component — np.unique's sort makes index order agree
    with id order, so the min index IS the min id), without the per-edge
    Python loop (~2x faster at 250k edges, and the gap grows with edge
    count; verified equal to the union-find on randomized graphs, long and
    string ids). ``extra_nodes`` adds edge-less nodes that must still label
    themselves (takedown singletons). Returns (nodes, labels): sorted
    unique node ids and their cluster ids, same dtype as the inputs.
    """
    import numpy as np

    parts = [src, dst] + ([extra_nodes] if extra_nodes is not None else [])
    u, inv = np.unique(np.concatenate(parts), return_inverse=True)
    s = inv[: len(src)]
    d = inv[len(src) : len(src) + len(dst)]
    label = np.arange(len(u))
    while True:
        m = np.minimum(label[s], label[d])
        np.minimum.at(label, s, m)
        np.minimum.at(label, d, m)
        while True:  # pointer jumping to the fixpoint of label[label]
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if len(s) == 0 or np.array_equal(label[s], label[d]):
            break
    return u, u[label]


def _union_find_clusters(pairs_tbl, spark, id_type) -> DataFrame:
    """Driver-side CC over a collected (src, dst) pyarrow table ->
    (node, cluster_id) DataFrame (Arrow-built: a list-of-tuples
    createDataFrame pays per-row pickling)."""
    import pandas as pd
    import pyspark.sql.types as T

    u, lab = _min_label_components(
        _arrow_col(pairs_tbl, "src"), _arrow_col(pairs_tbl, "dst")
    )
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("cluster_id", id_type)]
    )
    if not len(u):
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        pd.DataFrame({"node": u, "cluster_id": lab}), schema
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    driver_pair_limit: int | None = None,
    strict: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fold candidate near-dup pairs into duplicate clusters.

    Adaptive connected components:

    - **small pair sets** (≤ ``driver_pair_limit``, default
      ``DUP_CLUSTERS_DRIVER_PAIR_LIMIT``): collect the distinct pairs and
      run union-find on the driver — O(E α(E)), one Spark action total.
      The pairs table is bounded by the LSH bucket caps, not the corpus, so
      this is the common case; the collect is bounded by the limit, never
      the corpus.
    - **large pair sets**: distributed iterative hash-min label propagation
      (the classic Spark-friendly CC: each node repeatedly adopts the
      minimum label among itself and its neighbors until fixpoint). Pure
      DataFrame — no GraphFrames dependency, no driver-side graph:

    - every iteration is one shuffle join (edges x labels) + one min-agg,
      both partition-parallel; labels are materialized per iteration so
      the plan stays O(1) deep instead of O(iters) (localCheckpoint, or
      reliable ``checkpoint()`` when the session sets a checkpoint dir);
    - iterations needed = the cluster graph's diameter, which for near-dup
      clusters (dense blobs of mutual similarity) is small; ``max_iters``
      bounds the worst case and the convergence log line reports the actual
      count;
    - the convergence test rides the SAME job as the checkpoint: an
      ``Observation`` sums changed labels while the materialization runs —
      one Spark action per iteration total, no separate count scan.

    Returns one row per node that appears in ``pairs``:
    ``(node, cluster_id)`` where cluster_id = min node id in the connected
    component. Nodes in no pair are singletons by definition and are not
    emitted (join back with ``dedup_resolution`` for the corpus-wide list).
    """
    limit = (
        DUP_CLUSTERS_DRIVER_PAIR_LIMIT
        if driver_pair_limit is None
        else driver_pair_limit
    )
    undirected = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    if not assume_distinct:
        # callers whose pair source guarantees one row per pair (the
        # uncapped positional first-shared-band LSH joins, a pre-distincted
        # edge frame) pass assume_distinct=True and skip this
        # Exchange+HashAggregate of the pair set (guide: shuffle removal);
        # everything below only needs src!=dst + at-most-once per
        # orientation, which that guarantee provides
        undirected = undirected.distinct()
    undirected = undirected.persist()
    n_pairs = undirected.count()  # also materializes the persist
    if limit and n_pairs <= limit:
        tbl = undirected.toArrow()  # bounded by the limit just checked
        id_type = pairs.schema[id_a].dataType
        out = _union_find_clusters(tbl, pairs.sparkSession, id_type)
        undirected.unpersist()
        logger.info(
            "dup_clusters: driver union-find over %d pairs (limit %d)",
            n_pairs,
            limit,
        )
        return out
    # doubled edge list off the materialized undirected set (orientations
    # cannot collide: src != dst and the undirected set is distinct)
    edges = undirected.unionByName(
        undirected.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    from pyspark.sql import Observation

    iters_run = 0
    changed = -1
    for _ in range(max_iters):
        iters_run += 1
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_lbl"))
        )
        obs = Observation()
        upd = (
            labels.withColumnRenamed("cluster_id", "old_lbl")
            .join(nbr_min, F.col("node") == nbr_min["src"], "left")
            .select(
                "node",
                F.least(F.col("old_lbl"), F.coalesce("nbr_lbl", "old_lbl")).alias(
                    "cluster_id"
                ),
                (F.coalesce("nbr_lbl", "old_lbl") < F.col("old_lbl"))
                .cast("int")
                .alias("_chg"),
            )
            .observe(obs, F.sum("_chg").alias("n_changed"))
        )
        upd = materialize(upd)
        changed = int(obs.get["n_changed"] or 0)
        labels = upd.select("node", "cluster_id")
        if changed == 0:
            break
    edges.unpersist()
    undirected.unpersist()
    if changed != 0:
        # Partially-propagated labels are WRONG cluster ids (a keep/drop list
        # built from them drops the wrong docs) — never hand them back
        # silently. strict=False opts into the partial result (e.g. for
        # diagnostics), loudly.
        msg = (
            f"dup_clusters: label propagation did NOT converge after "
            f"max_iters={max_iters} ({changed} labels still changing); "
            "cluster ids are incomplete — raise max_iters (graph diameter "
            "exceeds the bound)"
        )
        if strict:
            raise RuntimeError(msg)
        logger.warning(msg)
    else:
        logger.info(
            "dup_clusters: converged after %d iteration(s)", iters_run
        )
    return labels


def dedup_resolution(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    assume_distinct: bool = False,
) -> DataFrame:
    """Corpus-level keep/drop list from candidate near-dup pairs.

    The end-to-end act of deduplication: candidate pairs (from MinHash-LSH
    or SimHash) -> connected components (``dup_clusters``) -> one canonical
    survivor per cluster (min id) -> a full-corpus verdict per doc:

    ``(id_col, cluster_id, keep)`` — ``keep`` is true for the cluster's
    canonical doc and for every singleton (docs in no candidate pair, which
    never enter the label propagation and join as their own cluster).
    ``df.where(keep)`` IS the deduplicated corpus.
    """
    clusters = dup_clusters(
        pairs, max_iters=max_iters, assume_distinct=assume_distinct
    )
    return (
        df.select(F.col(id_col).alias("node"))
        .join(clusters, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("cluster_id", F.col("node")).alias("cluster_id"),
            (F.coalesce("cluster_id", F.col("node")) == F.col("node")).alias("keep"),
        )
    )


def simhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    carry_all: bool = False,
) -> DataFrame:
    """(id, band_idx, band_val) rows of a 64-bit SimHash split into bands.

    Each word token votes its md5-derived bit pattern; bit b of the simhash
    is 1 iff the sum of (2*bit−1) votes is positive. Plan shape built for
    scale: explode tokens → md5 ONCE per token → 16 nibble ints → one
    groupBy(id) with 64 fixed-width integer SUMs (HashAggregate with
    map-side combine — shingle fan-out never crosses the shuffle) → band
    values composed per 16-bit band (no 64-bit packing, so no 1<<63
    two's-complement wrap and the whole recipe is portable SQL — the
    DuckDB oracle mirrors it verbatim). posexplode emits the n_bands rows
    in a single pass. Docs with zero tokens have no signature (no rows).
    """
    c = F.lower(F.trim(F.col(text_col)))
    toks = parallelize_for_fanout(df).select(
        F.col(id_col), F.explode(F.split(c, r"\s+")).alias("tok")
    ).where(F.length("tok") > 0)
    h = F.md5(F.col("tok"))
    # Two 32-bit halves of the md5 prefix instead of 16 per-nibble string
    # convs: bit b lives at shift 4*(7 - b//4 % 8) + b%4 of its half (hex
    # char 0 is the most significant nibble of the parsed value). Same
    # votes as the per-nibble recipe — the DuckDB oracle (strpos-based
    # nibble extraction) is unchanged and still hash-matches.
    halves = toks.select(
        id_col,
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
    )

    # Vote sums PACKED two-per-aggregate: bit b of h1 and bit b+32 of h2
    # share the same nibble shift ((b+32)//4 % 8 == b//4), so one long sum
    # carries count(bit b) in the low 31 bits and count(bit b+32) shifted
    # by 31 — 32 aggregate buffers + count(*) instead of 64, half the
    # per-row buffer updates in the partial aggregation. Exact integer
    # math while a doc has < 2^31 tokens; the ±1 vote is recovered as
    # v_b = 2*count_ones(b) - n_tokens, identical values to the old
    # per-bit sum(±1) recipe (the DuckDB oracle is unchanged).
    packed_sums = []
    for b in range(32):
        shift = 4 * (7 - (b // 4) % 8) + (b % 4)
        lo = F.shiftright(F.col("h1"), shift).bitwiseAND(F.lit(1))
        hi = F.shiftright(F.col("h2"), shift).bitwiseAND(F.lit(1))
        packed_sums.append(F.sum(lo + F.shiftleft(hi, 31)).alias(f"s{b}"))
    votes = halves.groupBy(id_col).agg(
        F.count("*").alias("_n"), *packed_sums
    )
    mask = (1 << 31) - 1

    def v(b: int):
        s = F.col(f"s{b % 32}")
        ones = (
            s.bitwiseAND(F.lit(mask)) if b < 32 else F.shiftright(s, 31)
        )
        return ones * 2 - F.col("_n")

    n_bands = 64 // band_bits
    band_vals = []
    for j in range(n_bands):
        val = F.lit(0)
        for i in range(band_bits):
            b = j * band_bits + i
            val = val + F.when(v(b) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        band_vals.append(val.cast("int"))
    if carry_all:
        # each band row additionally carries the doc's FULL band-value
        # array, so a self-join can dedupe pairs positionally ("first
        # shared band wins") instead of paying a giant distinct — see
        # dedup_simhash
        return votes.select(
            id_col, F.array(*band_vals).alias("_bvs")
        ).select(
            id_col, "_bvs", F.posexplode("_bvs").alias("band_idx", "band_val")
        )
    return votes.select(
        id_col, F.posexplode(F.array(*band_vals)).alias("band_idx", "band_val")
    )


def dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by equal SimHash band (any of 64/band_bits).

    For 64-bit simhash and 16-bit bands, docs within Hamming distance 3 are
    guaranteed to share >= 1 band (pigeonhole). ``max_bucket_size`` applies
    the same giant-bucket skew cap as the MinHash-LSH join. The bands table
    is materialized before the self-join (same rationale as
    ``minhash_candidates``: two lazy subtrees otherwise).

    Pair dedup is POSITIONAL, not a distinct: each band row carries the
    doc's full band-value array and a pair is emitted only from the FIRST
    band the two docs share (no earlier band matches). The result set is
    identical to the old ``.distinct()`` — a pair sharing k bands appeared
    k times before dedup — but the near-duplicate-free case is the common
    one (measured at sf1.0: 19.3M raw pairs, 19.0M distinct), so the
    distinct was shuffling ~19M almost-unique (long, long) rows through a
    full hash aggregate (~11 s) to remove 1.3% of them; the positional
    filter drops the same rows inside the join's codegen for free.
    """
    if max_bucket_size is not None:
        # the positional dedup below requires every band row to be present
        # (a pair whose FIRST shared band sits in a capped-out bucket
        # would otherwise be suppressed at its later bands too) — capped
        # joins keep the distinct
        bands = materialize(simhash_bands(df, text_col, id_col, band_bits))
        bands = cap_bucket_size(
            bands, ["band_idx", "band_val"], max_bucket_size
        )
        a, b_ = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                b_,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
    bands = materialize(
        simhash_bands(df, text_col, id_col, band_bits, carry_all=True)
    )
    a, b_ = bands.alias("a"), bands.alias("b")
    # "no earlier band matches", unrolled per position (band count is
    # static) — plain codegen comparisons, no higher-order functions in
    # the join filter (an exists/zip_with here costs interpreted lambda
    # dispatch per RAW candidate pair)
    first_shared = F.lit(True)
    for j in range(64 // band_bits - 1):
        first_shared = first_shared & (
            (F.col("a.band_idx") <= j)
            | (
                F.element_at(F.col("a._bvs"), j + 1)
                != F.element_at(F.col("b._bvs"), j + 1)
            )
        )
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & first_shared,
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )


def word_ngrams_of(words, n: int = 13):
    """Word n-grams over a PRE-SPLIT words array column.

    Pass an ATTRIBUTE (a hoisted/aliased column): an expression referenced
    inside the ``transform`` lambda is re-evaluated on every array element,
    so handing the raw split expression here costs O(words²) per doc."""
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )


def word_ngrams(col, n: int = 13):
    """Array of word n-grams (space-joined n-token windows); docs shorter
    than n words yield a single whole-text gram. Pure column expressions.

    NOTE: the split is embedded in the transform lambda (re-evaluated per
    element). Hot paths should hoist the split into its own projection and
    call ``word_ngrams_of`` on the attribute — see ``decontaminate``."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(c), r"\s+")
    return word_ngrams_of(words, n)


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_gram: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination — the standard word-13-gram collision
    check run before any training corpus ships: a training doc that shares
    ``min_hits`` distinct n-grams with ANY eval/benchmark doc is flagged.

    Scale shape: both sides explode into distinct md5-hashed grams (the
    hash equi-joins; full gram strings never shuffle); the EVAL side is the
    small one by construction, so Spark broadcasts it under AQE and the
    train side streams map-side — O(train grams), no pairwise product.
    Output: one row per train doc — (id, n_collisions, contaminated).
    Docs with zero collisions are included (contaminated = false), so the
    result is a complete verdict table, joinable as a keep-filter.
    """
    # the word split is hoisted into its own projection so the n-gram
    # transform's lambda slices an ATTRIBUTE (the inline form re-evaluates
    # the split per element — O(words²) per doc)
    grams = lambda df: (
        parallelize_for_fanout(df)
        .select(
            F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_w")
        )
        .select(
            F.col(id_col),
            F.explode(word_ngrams_of(F.col("_w"), n_gram)).alias("g"),
        )
        .select(id_col, F.md5("g").alias("gh"))
        .distinct()
    )
    train_g = grams(train)
    eval_g = (
        evalset.select(F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"))
        .select(F.explode(word_ngrams_of(F.col("_w"), n_gram)).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    hits = (
        train_g.join(eval_g, "gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_collisions"))
    )
    return (
        train.select(id_col)
        .distinct()
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_collisions", F.lit(0)).alias("n_collisions"),
            (F.coalesce("n_collisions", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )

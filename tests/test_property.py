"""Seeded-random property tests vs a pure-Python in-memory oracle.

The reference's property-test style (SURVEY.md §5.3:
``RatesAggregatorTest.scala:15-65`` — UDAF vs Scala minBy/maxBy per group;
``EthereumTokenRatesPipelineTest.scala:27-82`` — pipeline vs hand-computed
join): hypothesis generates adversarial little WALs (key collisions,
deletes, re-inserts, timestamp ties) and the engine must match a dict-based
replay oracle on every one.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from endor_blockchain_data_pipeline_spark.operators.merge import lww_reduce

BASE = dt.datetime(2024, 1, 1)

# One change event: (conv 0-3, turn 0-2, op, ts-tie-bucket 0-2). LSN = index.
event_st = st.tuples(
    st.integers(0, 3),
    st.integers(0, 2),
    st.sampled_from(["insert", "update", "delete"]),
    st.integers(0, 2),
)
wal_st = st.lists(event_st, min_size=1, max_size=40)


def _rows(events):
    """Decoded-change rows; _mts ties on purpose (the lsn tiebreak decides)."""
    rows = []
    for lsn, (c, t, op, tie) in enumerate(events):
        rows.append(
            (
                lsn, op, f"c{c}", t,
                None if op == "delete" else "user",
                None if op == "delete" else f"text-{lsn}",
                None,
                None if op == "delete" else BASE,
                BASE + dt.timedelta(seconds=tie),
            )
        )
    return rows


def _py_oracle(events):
    """Dict replay in (lsn, _mts) order — independent of any Spark code."""
    state: dict[tuple[str, int], tuple] = {}
    for lsn, (c, t, op, _tie) in enumerate(events):
        # LSNs are unique and increasing => plain last-write in lsn order.
        key = (f"c{c}", t)
        if op == "delete":
            state[key] = None  # tombstone (hidden from readers)
        else:
            state[key] = (f"text-{lsn}", lsn)
    return {k: v for k, v in state.items() if v is not None}


SCHEMA = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, _mts timestamp"
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(events=wal_st)
def test_lww_reduce_matches_python_oracle(spark, events):
    df = spark.createDataFrame(_rows(events), SCHEMA)
    reduced = lww_reduce(df)
    live = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["lsn"])
        for r in reduced.where(F.col("op") != "delete").collect()
    }
    # tombstone keys must not reappear as live rows
    expect = _py_oracle(events)
    winners_all = {
        (r["conv_id"], r["turn_idx"]) for r in reduced.collect()
    }
    assert live == expect
    # every key ever touched has exactly one winner row (incl. tombstones)
    assert winners_all == {(f"c{c}", t) for (c, t, _o, _x) in events}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)
@given(events=wal_st, split=st.integers(1, 39))
def test_incremental_merge_matches_python_oracle(spark, events, split, tmp_path_factory):
    """Two-batch incremental MoR apply == dict replay, at ANY split point."""
    from endor_blockchain_data_pipeline_spark.operators.merge import (
        changes_to_state,
        lww_reduce,
    )
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    split = min(split, max(len(events) - 1, 1))
    df = spark.createDataFrame(_rows(events), SCHEMA)
    t = ManifestTable(str(tmp_path_factory.mktemp("prop")), n_buckets=2)
    for i, part in enumerate(
        [df.where(F.col("lsn") < split), df.where(F.col("lsn") >= split)]
    ):
        if part.isEmpty():
            continue
        state = changes_to_state(lww_reduce(part), f"b{i}")
        t.commit(state, f"b{i}", lsn_lo=-1 + i * split, lsn_hi=split * (i + 1),
                 replaced_buckets=None, mode="append")
    got = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["_lsn"])
        for r in t.read(spark, with_internal=True)
        .where(~F.col("_deleted"))
        .collect()
    }
    assert got == _py_oracle(events)


def test_merge_schemas_rejects_type_change():
    import pyspark.sql.types as T
    import pytest

    from endor_blockchain_data_pipeline_spark.sources.lake import merge_schemas

    old = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    add = T.StructType([T.StructField("a", T.LongType()), T.StructField("c", T.IntegerType())])
    merged = merge_schemas(old, add)
    assert [f.name for f in merged.fields] == ["a", "b", "c"]  # order preserved
    bad = T.StructType([T.StructField("b", T.IntegerType())])
    with pytest.raises(ValueError, match="non-additive"):
        merge_schemas(old, bad)


def test_merge_schemas_widens_numeric_types():
    import pyspark.sql.types as T

    from endor_blockchain_data_pipeline_spark.sources.lake import merge_schemas

    old = T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.FloatType())])
    new = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.DoubleType())])
    widened = merge_schemas(old, new)
    assert widened["a"].dataType == T.LongType()
    assert widened["b"].dataType == T.DoubleType()
    # narrower-than-table batches keep the table's wider type
    back = merge_schemas(widened, old)
    assert back["a"].dataType == T.LongType()
    assert back["b"].dataType == T.DoubleType()


def test_type_widening_end_to_end(spark, tmp_path):
    """A table whose later batches widen a column: old (narrow) files stay
    readable unrewritten under the widened declared schema."""
    import datetime as dt

    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    base = "conv_id string, turn_idx int, score {t}, "
    internal = "_lsn long, _mts timestamp, _deleted boolean, _batch string"
    t = ManifestTable(str(tmp_path / "w"), n_buckets=2)
    d1 = spark.createDataFrame(
        [("cA", 0, 7, 1, dt.datetime(2024, 1, 1), False, "b1")],
        base.format(t="int") + internal,
    )
    t.commit(d1, "b1", lsn_lo=-1, lsn_hi=1, replaced_buckets=None, mode="append")
    d2 = spark.createDataFrame(
        [("cB", 0, 2**40, 2, dt.datetime(2024, 1, 2), False, "b2")],
        base.format(t="long") + internal,
    )
    t.commit(d2, "b2", lsn_lo=1, lsn_hi=2, replaced_buckets=None, mode="append")
    got = {r["conv_id"]: r["score"] for r in t.read(spark).collect()}
    assert got == {"cA": 7, "cB": 2**40}
    assert dict(t.read(spark).dtypes)["score"] == "bigint"


def test_concurrent_commit_collision_detected(spark, tmp_path):
    """Two writers racing on the same version: the winner's snapshot is
    never clobbered (link-based commit point). An append loser normally
    re-bases and retries (tests/test_layout_and_race.py); here the loser's
    version view is pinned stale, so every retry re-collides and the commit
    must FAIL after bounded attempts rather than overwrite."""
    import datetime as dt

    import pytest

    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    df = spark.createDataFrame(
        [("cA", 0, "user", "x", None, dt.datetime(2024, 1, 1), 1,
          dt.datetime(2024, 1, 1), False, "w1")],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, _lsn long, _mts timestamp, _deleted boolean, _batch string",
    )
    t1 = ManifestTable(str(tmp_path / "c"), n_buckets=2)
    t2 = ManifestTable(str(tmp_path / "c"), n_buckets=2)
    s1 = t1.stage(df, "w1")
    s2 = t2.stage(df, "w2")  # both writers staged against version 0
    t1.commit_staged(s1, "w1", lsn_lo=-1, lsn_hi=1, replaced_buckets=None, mode="append")
    # writer 2 computed its version before writer 1 published -> must fail,
    # not overwrite. (A fresh handle that re-reads the manifest would get
    # the next version; the race is two processes deciding simultaneously.)
    import os
    from unittest import mock

    with mock.patch.object(t2, "current_version", return_value=0):
        with pytest.raises(RuntimeError, match="lost the version race"):
            t2.commit_staged(s2, "w2", lsn_lo=-1, lsn_hi=1, replaced_buckets=None, mode="append")
        # a REPLACE race is terminal immediately (replaces don't commute)
        with pytest.raises(RuntimeError, match="concurrent commit"):
            t2.commit_staged(s2, "w2", lsn_lo=-1, lsn_hi=1, replaced_buckets=None, mode="replace")
    # winner's manifest intact
    assert t1.manifest(1)["batch_id"] == "w1"
    assert len(os.listdir(os.path.join(str(tmp_path / "c"), "_manifests"))) == 1


# -------- connected components vs a pure-Python union-find oracle --------

pairs_st = st.lists(
    st.tuples(st.integers(0, 19), st.integers(0, 19)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=30,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(pairs_st)
def test_dup_clusters_matches_union_find(spark, raw_pairs):
    """Label propagation == classic union-find on arbitrary random graphs
    (self-loops excluded; duplicates and both orientations allowed)."""
    from endor_blockchain_data_pipeline_spark.operators.dedup import dup_clusters

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in raw_pairs:
        union(a, b)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in raw_pairs], "id_a long, id_b long"
    )
    # driver_pair_limit=0 forces the DISTRIBUTED label-propagation path —
    # the adaptive driver path is itself union-find (covered by unit tests).
    got = {
        r["node"]: r["cluster_id"]
        for r in dup_clusters(pairs, driver_pair_limit=0).collect()
    }
    assert got == expected


# -------- as-of join vs a pure-Python per-probe scan oracle --------

asof_st = st.tuples(
    st.lists(  # states: (key, ts_offset_minutes, val)
        st.tuples(st.integers(0, 3), st.integers(0, 120), st.integers(0, 999)),
        max_size=25,
    ),
    st.lists(  # probes: (key, ts_offset_minutes)
        st.tuples(st.integers(0, 3), st.integers(0, 120)),
        min_size=1,
        max_size=25,
    ),
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(asof_st)
def test_asof_join_matches_scan_oracle(spark, data):
    """union+window as-of == the obvious per-probe scan: for every probe,
    the unique state row with the greatest ts <= probe ts for its key."""
    from endor_blockchain_data_pipeline_spark.operators.temporal import asof_join

    raw_states, raw_probes = data
    base = dt.datetime(2024, 1, 1)
    # dedupe states per (key, ts): the operator's documented contract
    sdict = {}
    for k, off, v in raw_states:
        sdict[(k, off)] = v
    states_rows = [
        (k, base + dt.timedelta(minutes=off), v) for (k, off), v in sdict.items()
    ]
    probes_rows = [
        (k, base + dt.timedelta(minutes=off), i)
        for i, (k, off) in enumerate(raw_probes)
    ]

    def oracle(k, ts):
        best = None
        for sk, sts, sv in states_rows:
            if sk == k and sts <= ts and (best is None or sts > best[0]):
                best = (sts, sv)
        return best  # None or (ts, val)

    states = spark.createDataFrame(
        states_rows or [(99, base, 0)], "k int, ts timestamp_ntz, v int"
    )
    if not states_rows:
        states = states.where("k < 0")  # empty with schema
    probes = spark.createDataFrame(probes_rows, "k int, ts timestamp_ntz, pid int")
    got = {
        r["pid"]: (r["asof_ts"], r["asof_v"])
        for r in asof_join(probes, states, on="k", ts_col="ts").collect()
    }
    assert len(got) == len(probes_rows)
    for k, ts, pid in probes_rows:
        exp = oracle(k, ts)
        assert got[pid] == ((exp[0], exp[1]) if exp else (None, None)), (k, ts)


# A tiny text pool with deliberate duplicates so random corpora form real
# near-dup clusters (identical texts share all LSH bands).
_POOL = [
    "the quick brown fox jumps over the lazy dog near the riverbank today",
    "completely different content about distributed query engines and shuffles",
    "yet another unrelated paragraph describing parquet footers and manifests",
    "migratory birds navigate by starlight across continents every autumn",
    "a fifth distinct document about watermark commits and bucket pruning",
]


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    assign=st.lists(st.integers(0, 4), min_size=4, max_size=14),
    cut=st.integers(1, 13),
    removals=st.sets(st.integers(0, 13), max_size=5),
)
def test_property_incremental_dedup_with_removal_equals_oneshot(
    spark, tmp_path_factory, assign, cut, removals
):
    """For ANY corpus built from the pool, ANY batch split, and ANY removal
    set: add_batch x2 + remove_docs == one-shot resolution over the
    remaining docs. Exercises cluster splits, keeper flips, removals of
    unknown ids and of whole clusters."""
    from endor_blockchain_data_pipeline_spark.operators.dedup import (
        dedup_resolution,
        minhash_candidates,
    )
    from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import (
        DedupIndex,
    )

    rows = [(i, _POOL[p]) for i, p in enumerate(assign)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = tmp_path_factory.mktemp("propidx")
    idx = DedupIndex(spark, str(root / "idx"))
    cut = min(cut, len(rows))
    idx.add_batch(docs.where(F.col("doc_id") < cut), "b1")
    if docs.where(F.col("doc_id") >= cut).count():
        idx.add_batch(docs.where(F.col("doc_id") >= cut), "b2")
    idx.remove_docs(sorted(removals), "rm")

    remaining = docs.where(~F.col("doc_id").isin(list(removals)))
    if remaining.count() == 0:
        assert idx.keep_list().count() == 0
        return
    oneshot = dedup_resolution(
        remaining,
        minhash_candidates(
            remaining, "text", "doc_id", k_shingle=12, n_hashes=4, n_bands=2
        ),
    )
    got = sorted(tuple(r) for r in idx.keep_list().collect())
    want = sorted(tuple(r) for r in oneshot.collect())
    assert got == want

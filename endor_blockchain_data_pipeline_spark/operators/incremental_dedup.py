"""Incremental corpus deduplication against a PERSISTED MinHash-LSH index.

The r3 gap: every dedup entry point recomputed signatures for the WHOLE
corpus, while the engine's own north star is incremental — the CDC core
never rescans onboarded state (the reference's watermark tail,
``blocksummaries/BlockSummaryPipeline.scala:61-84``). A 100-TB curation
pipeline adds a batch and asks "which new docs duplicate the existing
corpus?"; answering that must cost O(batch), not O(corpus).

Design — two ManifestTables under one index root (exactly-once batch
commits, atomic manifests, idempotent replay for free):

- ``bands``    key (doc_id, band_idx): every doc's LSH band rows, bucketed
  by doc id, one generation per batch.
- ``clusters`` key (doc_id): the current connected-component label per doc
  (cluster_id = min doc_id in the component; singletons carry their own
  id).

Both tables stamp ``_lsn`` per BATCH; the lake's per-key window merge,
ordered by ``(_lsn desc, _mts desc)``, reads them like any other table.

Per batch, ONE delta fold (``fold(leave, enter, batch_id)``) takes leavers
and entrants together; an id in both is a text change. ``add_batch`` and
``remove_docs`` are thin calls into it. Entrants come as band rows, either
a pandas frame (``LiveCuration``'s small deltas) or a Spark frame
(``add_batch``'s corpus-scale batches, which stay distributed). On the
driver path:

1. probe: the raw band generations are scanned for rows sharing a band key
   with an entrant (an IN-list filter, or a semi-join with a Spark
   entrant frame; the index is never merged or shuffled);
2. one membership read: the full membership of every cluster holding a
   probe hit or a leaving/re-entering doc (labels can only change there);
3. one bucket-pruned read of those members' raw band rows, merged on the
   driver (latest generation per (doc, band), tombstones dropped) — stale
   probe hits fall out here;
4. one edge set (each doc to the min id of every band-key group it shares
   with the remaining members and the entrants; of a Spark entrant frame
   only the rows sharing a key reach the driver) and one
   ``_min_label_components`` pass;
5. one ``bands`` and one ``clusters`` commit under the batch id: entrant
   band rows and label rows, changed labels of remaining members, and
   tombstones for docs that left without re-entering (a re-entering doc
   gets only its new rows, which out-LSN its old ones).

For pandas entrants the fold hands back the label rows it wrote, so
``LiveCuration`` joins those instead of reading ``clusters`` back; only a
fold replayed after a crash, or the distributed twin, is read back by batch
id. Every read excludes the batch id, so a replay after a crash between the
two commits recomputes the identical delta. ``DRIVER_ROW_LIMIT`` bounds
each collect of the fold in rows: probe hits, affected-cluster members and
key-sharing entrant band rows. Past it the same fold runs as pure
DataFrames (``_fold_distributed``) — nothing corpus-sized reaches the
driver.

Invariant (tested): after any batch split, ``keep_list()`` is row-identical
to the one-shot ``dedup_resolution`` over the union of all batches — the
incremental fold is an exact refactoring of global connected components,
because band signatures are per-doc deterministic and a component can only
change where a doc joined or left it. Removal can split a cluster or flip
its keeper; the affected clusters are re-folded from their remaining
members' persisted bands.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from endor_blockchain_data_pipeline_spark.operators.dedup import (
    DUP_CLUSTERS_DRIVER_PAIR_LIMIT,
    _arrow_col,
    _min_label_components,
    lsh_bands,
    minhash_signatures,
    with_band_keys,
)
from endor_blockchain_data_pipeline_spark.plans.partitioning import materialize
from endor_blockchain_data_pipeline_spark.sources.lake import (
    ManifestTable,
    bucket_expr,
    keep_keys,
)


class DedupIndex:
    """Persisted incremental near-dup state (band index + cluster labels).

    Signature params are part of the INDEX, not the call: they persist in a
    ``params.json`` sidecar on first use and later opens adopt them; an
    explicit conflicting value raises (bands hashed with different params
    never collide correctly — same rule as the table-layout reconcile).
    """

    PARAMS = ("k_shingle", "n_hashes", "n_bands", "hash_fn")
    # the most rows one fold collect may bring to the driver (probe hits,
    # affected-cluster members, key-sharing entrant band rows); past it the
    # fold runs distributed
    DRIVER_ROW_LIMIT = DUP_CLUSTERS_DRIVER_PAIR_LIMIT

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        k_shingle: int | None = None,
        n_hashes: int | None = None,
        n_bands: int | None = None,
        hash_fn: str | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 16,
        id_type: str = "long",
    ) -> None:
        if id_type not in ("long", "string"):
            raise ValueError(f"id_type must be 'long' or 'string', got {id_type!r}")
        self.spark = spark
        self.root = root
        self.id_col = id_col
        self.text_col = text_col
        self.id_type = id_type
        # python-side converter matching the declared Spark id type (driver
        # union-find keys, createDataFrame rows)
        self._pyid = int if id_type == "long" else str
        self._np = "int64" if id_type == "long" else object
        passed = {
            "k_shingle": k_shingle,
            "n_hashes": n_hashes,
            "n_bands": n_bands,
            "hash_fn": hash_fn,
        }
        defaults = {"k_shingle": 12, "n_hashes": 4, "n_bands": 2, "hash_fn": "md5_long"}
        os.makedirs(root, exist_ok=True)
        pfile = os.path.join(root, "params.json")
        if os.path.exists(pfile):
            with open(pfile) as fh:
                stored = json.load(fh)
            # id_type is part of the index like the signature recipe (band
            # rows were written with that schema); pre-id_type sidecars are
            # all long-keyed.
            if stored.setdefault("id_type", "long") != id_type:
                raise ValueError(
                    f"dedup-index id_type conflict at {root}: stored="
                    f"{stored['id_type']!r} passed={id_type!r}"
                )
            for k in self.PARAMS:
                if passed[k] is not None and passed[k] != stored[k]:
                    raise ValueError(
                        f"dedup-index param conflict at {root}: {k} stored="
                        f"{stored[k]!r} passed={passed[k]!r}; omit it to "
                        "adopt the stored recipe"
                    )
            self.params = stored
        else:
            self.params = {
                k: defaults[k] if passed[k] is None else passed[k] for k in self.PARAMS
            }
            self.params["id_type"] = id_type
            with open(pfile, "w") as fh:
                json.dump(self.params, fh)
        # A driver fold commits pandas-built frames, whose plans carry their
        # row count, so up to the lake's DRIVER_STAGE_ROW_LIMIT they stage on
        # the driver; the distributed folds' frames are unbounded and always
        # stage distributed (see ManifestTable.stage).
        self.bands = ManifestTable(
            os.path.join(root, "bands"),
            n_buckets=n_buckets,
            key_cols=(id_col, "band_idx"),
            bucket_key=id_col,
        )
        self.clusters = ManifestTable(
            os.path.join(root, "clusters"),
            n_buckets=n_buckets,
            key_cols=(id_col,),
            bucket_key=id_col,
        )

    # ---------------- reads ----------------

    def _read(self, table: ManifestTable, **kw) -> DataFrame | None:
        if table.manifest() is None:
            return None
        return table.read(self.spark, **kw)

    def maintain(
        self, compact_threshold: int = 8, vacuum_grace_sec: float = 3600.0
    ) -> dict:
        """Bound the index's read amplification: fold any bucket that has
        accumulated ``compact_threshold`` generations (one per ingested
        batch) back to one, then vacuum unreferenced files. Idempotent per
        watermark; run it every N batches like the CDC job's auto-compaction.
        """
        from endor_blockchain_data_pipeline_spark.operators.merge import (
            compact_buckets,
        )

        out = {}
        for name, t in (("bands", self.bands), ("clusters", self.clusters)):
            due = t.multi_gen_buckets(compact_threshold)
            if due:
                compact_buckets(t, self.spark, f"compact-wm{t.watermark()}", due)
            removed = t.vacuum(grace_sec=vacuum_grace_sec)
            out[name] = {"buckets_compacted": len(due), "files_removed": removed}
        return out

    def keep_list(self) -> DataFrame:
        """Corpus-wide verdict: (id, cluster_id, keep) — ``keep`` marks the
        cluster's canonical doc (min id); singletons keep themselves.
        Row-identical to one-shot ``dedup_resolution`` over all ingested
        batches (tested)."""
        cl = self._read(self.clusters)
        if cl is None:
            idt = T.LongType() if self.id_type == "long" else T.StringType()
            schema = T.StructType(
                [
                    T.StructField(self.id_col, idt),
                    T.StructField("cluster_id", idt),
                    T.StructField("keep", T.BooleanType()),
                ]
            )
            return self.spark.createDataFrame([], schema)
        return cl.select(
            F.col(self.id_col),
            F.col("cluster_id"),
            (F.col("cluster_id") == F.col(self.id_col)).alias("keep"),
        )

    # ---------------- the delta fold ----------------

    def with_band_keys(self, docs: DataFrame, out_col: str = "_bks") -> DataFrame:
        """``docs`` plus the array of each doc's band keys under this
        index's signature recipe (row-local, no shuffle)."""
        p = self.params
        return with_band_keys(
            docs, self.text_col, out_col,
            p["k_shingle"], p["n_hashes"], p["n_bands"], p["hash_fn"],
        )

    def add_batch(self, docs: DataFrame, batch_id: str) -> dict:
        """Ingest one document batch (one row per doc): dedup it against
        the index and itself, append its bands, fold the labels. A doc
        already in the index is re-ingested with its new text. The batch's
        band rows stay distributed; only the rows that can carry an edge
        reach the driver (see ``fold``)."""
        p = self.params
        sigs = minhash_signatures(
            docs, self.text_col, self.id_col,
            p["k_shingle"], p["n_hashes"], p["hash_fn"],
        )
        return self.fold([], lsh_bands(sigs, self.id_col, p["n_bands"]), batch_id)[0]

    def remove_docs(self, ids, batch_id: str) -> dict:
        """Take docs OUT of the corpus (takedown / opt-out): tombstone their
        band and label rows and re-fold their clusters over the remaining
        members — removal can split a cluster or flip its keeper.
        ``ids`` is a list of doc ids or a one-column DataFrame."""
        if self.clusters.manifest() is None:
            return {"batch_id": batch_id, "fold": "noop-empty-index"}
        return self.fold(ids, None, batch_id)[0]

    def fold(self, leave, enter, batch_id: str):
        """One batch's delta: ``leave`` docs go out, ``enter`` docs (band
        rows ``(id, band_idx, band_key)``, a pandas or Spark frame) come in;
        an id in both is a text change. Publishes ONE bands and ONE
        clusters commit under ``batch_id`` and returns ``(stats, labels)``:
        ``labels`` is the pandas frame ``(id, cluster_id)`` of every live
        label row the fold wrote when ``enter`` was a pandas frame, else
        None (also on a full replay, or the distributed fold — read those
        back by batch id). Every read excludes ``batch_id``, so a replay
        after a crash between the two commits recomputes the identical
        delta.

        A Spark ``enter`` stays distributed: only its band rows that share
        a key with another entrant or with a remaining member reach the
        driver, and its label rows are written by a join. The fold runs on
        the driver unless a collect — probe hits, affected-cluster members
        or key-sharing entrant band rows — exceeds ``DRIVER_ROW_LIMIT``
        rows; then the pure-DataFrame twin runs."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import Observation, Window

        if (
            batch_id in self.bands.committed_batches()
            and batch_id in self.clusters.committed_batches()
        ):
            return {
                "batch_id": batch_id,
                "fold": "replay",
                "replayed_bands": True,
                "replayed_clusters": True,
            }, None
        id_col, limit = self.id_col, self.DRIVER_ROW_LIMIT
        cols = [id_col, "band_idx", "band_key"]
        if isinstance(leave, DataFrame):
            leave = _arrow_col(
                leave.select(F.col(id_col).cast(self.id_type)).toArrow(), id_col
            )
        leave = np.unique(np.asarray([self._pyid(i) for i in leave], dtype=self._np))
        if enter is None:
            enter = pd.DataFrame({id_col: leave[:0], "band_idx": [], "band_key": []})
        local = not isinstance(enter, DataFrame)
        if local:
            enter = enter[cols].astype({"band_idx": "int32"})
            n_enter = len(enter)
            enter_ids = np.unique(enter[id_col].to_numpy(dtype=self._np))
        else:
            obs = Observation()
            enter = materialize(
                enter.select(id_col, F.col("band_idx").cast("int"), "band_key")
                .observe(obs, F.count("*").alias("n"))
            )
            n_enter = int(obs.get["n"] or 0)
            # each entrant has exactly one band-0 row: its ids, no shuffle
            ent_df = enter.where("band_idx = 0").select(id_col)

        def distributed():
            return self._fold_distributed(leave, enter, batch_id, n_enter)

        # probe: index rows sharing a band key with an entrant, read from
        # the raw generations (no merge, so the index is never shuffled);
        # stale hits are re-checked against the merged rows below
        hits = leave[:0]
        if n_enter and self.bands.manifest() is not None:
            raw = self._raw_bands(batch_id)
            if local:
                hits = keep_keys(raw, "band_key", enter["band_key"].unique())
            else:
                hits = raw.join(enter.select("band_key"), "band_key", "leftsemi")
            hits = np.unique(_arrow_col(hits.select(id_col).toArrow(), id_col))
            if len(hits) > limit:
                return distributed()

        # the affected clusters' full membership: clusters holding a hit, a
        # leaver or an entrant already indexed (labels can only change
        # there), each member flagged when it re-enters
        m_ids, m_cids, m_bk = leave[:0], leave[:0], np.zeros(0, "int32")
        m_ent = np.zeros(0, bool)
        cl = self._read(self.clusters, exclude_batch_ids=[batch_id])
        seeds = np.union1d(hits, leave)
        if local:
            seeds = np.union1d(seeds, enter_ids)
        if cl is not None and (len(seeds) or not local):
            aff = keep_keys(cl, id_col, seeds).select("cluster_id")
            members = cl
            if not local:
                aff = aff.unionByName(
                    cl.join(ent_df, id_col, "leftsemi").select("cluster_id")
                )
                members = cl.join(
                    ent_df.withColumn("_ent", F.lit(True)), id_col, "left"
                )
            aff = F.broadcast(aff.select(F.col("cluster_id").alias("_cid")))
            mtbl = (
                members.join(aff, F.col("cluster_id") == F.col("_cid"), "leftsemi").select(
                    id_col,
                    "cluster_id",
                    bucket_expr(id_col, self.bands.n_buckets).alias("_b"),
                    *([] if local else [F.col("_ent").isNotNull().alias("_ent")]),
                )
                .toArrow()
            )
            if mtbl.num_rows > limit:
                return distributed()
            m_ids = _arrow_col(mtbl, id_col)
            m_cids = _arrow_col(mtbl, "cluster_id")
            m_bk = _arrow_col(mtbl, "_b")
            m_ent = (
                np.isin(m_ids, enter_ids) if local else _arrow_col(mtbl, "_ent")
            ).astype(bool)

        # the members' live band rows: their raw generations (bucket-pruned)
        # merged here — latest (_lsn, _mts) per (id, band_idx), minus
        # tombstones
        live = pd.DataFrame({id_col: leave[:0], "band_idx": [], "band_key": []})
        if len(m_ids):
            raw = keep_keys(
                self._raw_bands(batch_id, buckets=np.unique(m_bk).tolist()),
                id_col,
                m_ids,
            ).select(*cols, "_lsn", "_mts", "_deleted")
            live = (
                raw.toArrow()
                .to_pandas()
                .sort_values(["_lsn", "_mts"], ascending=False, kind="stable")
                .drop_duplicates([id_col, "band_idx"])
            )
            live = live[~live["_deleted"]][cols]
        # members that stay (their labels may change) and members that
        # leave without re-entering (tombstoned)
        is_left = np.isin(m_ids, leave)
        is_rem = ~is_left & ~m_ent
        is_gone = is_left & ~m_ent
        remaining = m_ids[is_rem]
        live_rem = live[live[id_col].isin(remaining)]

        # the entrant band rows that can carry an edge: all of a local
        # frame; of a distributed one, those sharing a key with another
        # entrant or with a remaining member
        if local:
            ent_e = enter
        else:
            shared = (
                enter.withColumn(
                    "_n", F.count("*").over(Window.partitionBy("band_idx", "band_key"))
                )
                .where("_n > 1")
                .drop("_n")
            )
            if len(live_rem):
                shared = shared.unionByName(
                    keep_keys(enter, "band_key", live_rem["band_key"].unique())
                )
            obs = Observation()
            shared = materialize(shared.observe(obs, F.count("*").alias("n")))
            if int(obs.get["n"] or 0) > limit:
                return distributed()
            ent_e = shared.toArrow().to_pandas().drop_duplicates()
            enter_ids = np.unique(ent_e[id_col].to_numpy(dtype=self._np))

        # one edge set: every doc to the min id of each band-key group it
        # shares (a star per group has the same components as the group's
        # full clique), over the remaining members and the entrants
        allb = pd.concat([live_rem, ent_e], ignore_index=True).sort_values(
            id_col, kind="stable"
        )
        gmin = allb.groupby(["band_idx", "band_key"])[id_col].transform("first")
        e = allb[id_col] != gmin
        src = allb[id_col][e].to_numpy(dtype=self._np)
        dst = gmin[e].to_numpy(dtype=self._np)
        n_pairs = len(pd.DataFrame({"a": src, "b": dst}).drop_duplicates())
        nodes, labs = _min_label_components(
            src, dst, extra_nodes=np.concatenate([remaining, enter_ids])
        )

        def label(ids):
            return labs[np.searchsorted(nodes, ids)] if len(ids) else ids

        chg = label(remaining) != m_cids[is_rem]
        labels = pd.DataFrame(
            {
                id_col: np.concatenate([enter_ids, remaining[chg]]),
                "cluster_id": np.concatenate([label(enter_ids), label(remaining)[chg]]),
            }
        )
        gone = pd.DataFrame({id_col: m_ids[is_gone], "cluster_id": m_cids[is_gone]})
        if local:
            band_rows = self._local(enter, "bands")
            label_rows = self._local(labels, "clusters")
        else:
            band_rows = enter
            # every entrant outside an edge labels itself
            label_rows = ent_df.select(id_col, F.col(id_col).alias("cluster_id"))
            if len(labels):
                label_rows = label_rows.join(
                    F.broadcast(self._local_ids(enter_ids)), id_col, "left_anti"
                ).unionByName(self._local(labels, "clusters"))

        def frame(rows, tombs, table):
            def make(seq):
                out = self._with_internals(rows, batch_id, seq)
                if len(tombs):
                    tombs_df = self._local(tombs, table)
                    out = out.unionByName(
                        self._with_internals(tombs_df, batch_id, seq, True)
                    )
                return out

            return make

        n_new = len(enter_ids) if local else n_enter // int(self.params["n_bands"])
        stats = self._commit_frames(
            batch_id,
            frame(band_rows, live[live[id_col].isin(gone[id_col])], "bands"),
            frame(label_rows, gone, "clusters"),
            {
                "batch_id": batch_id,
                "fold": "driver-union-find",
                "n_new_docs": n_new,
                "n_removed": len(gone),
                "n_pairs": n_pairs,
                "n_label_writes": n_new + int(chg.sum()),
            },
        )
        return stats, labels if local else None

    def _raw_bands(self, batch_id: str, buckets=None) -> DataFrame:
        """Every generation of the band rows (no merge), internals kept."""
        return self.bands.read(
            self.spark,
            buckets=buckets,
            with_internal=True,
            merge_strategy="none",
            exclude_batch_ids=[batch_id],
        )

    def _local(self, pdf, table: str) -> DataFrame:
        schema = (
            f"{self.id_col} {self.id_type}, band_idx int, band_key string"
            if table == "bands"
            else f"{self.id_col} {self.id_type}, cluster_id {self.id_type}"
        )
        return self.spark.createDataFrame(pdf, schema)

    def _fold_distributed(self, leave, enter, batch_id: str, n_enter: int):
        """The same delta fold as pure DataFrames, for deltas beyond the
        driver bound: merged index reads, the star edge set, ``dup_clusters``
        label propagation, and label rows chosen by joins — nothing
        corpus-sized is collected."""
        from pyspark.sql import Observation

        from endor_blockchain_data_pipeline_spark.operators.dedup import dup_clusters

        id_col = self.id_col
        if not isinstance(enter, DataFrame):
            enter = self._local(enter[[id_col, "band_idx", "band_key"]], "bands")
        enter_ids = enter.select(id_col).distinct()
        sup = self._local_ids(leave).unionByName(enter_ids).distinct()
        live_b = self._read(self.bands, exclude_batch_ids=[batch_id])
        if live_b is None:
            live_b = self._local([], "bands")
        live_b = live_b.select(id_col, "band_idx", "band_key")
        cl = self._read(self.clusters, exclude_batch_ids=[batch_id])
        if cl is None:
            cl = self._local([], "clusters")
        hits = (
            live_b.join(
                enter.select("band_idx", "band_key").distinct(),
                ["band_idx", "band_key"],
                "leftsemi",
            )
            .select(id_col)
            .join(sup, id_col, "left_anti")
        )
        aff = (
            cl.join(hits.unionByName(sup), id_col, "leftsemi")
            .select(F.col("cluster_id").alias("_cid"))
            .distinct()
        )
        obs = Observation()
        members = materialize(
            cl.join(aff, cl["cluster_id"] == F.col("_cid"), "leftsemi")
            .select(id_col, "cluster_id")
            .join(sup.withColumn("_sup", F.lit(True)), id_col, "left")
            .join(enter_ids.withColumn("_ent", F.lit(True)), id_col, "left")
            .select(
                id_col,
                "cluster_id",
                F.coalesce("_sup", F.lit(False)).alias("_sup"),
                (F.col("_sup").isNotNull() & F.col("_ent").isNull()).alias("_gone"),
            )
            .observe(obs, F.sum(F.col("_gone").cast("long")).alias("n_gone"))
        )
        n_gone = int(obs.get["n_gone"] or 0)
        remaining = members.where("NOT _sup").select(id_col, "cluster_id")
        gone = members.where("_gone").select(id_col, "cluster_id")
        probe = live_b.join(remaining.select(id_col), id_col, "leftsemi").unionByName(
            enter.select(id_col, "band_idx", "band_key")
        )
        gmin = probe.groupBy("band_idx", "band_key").agg(F.min(id_col).alias("_m"))
        edges = (
            probe.join(gmin, ["band_idx", "band_key"])
            .where(F.col(id_col) != F.col("_m"))
            .select(
                F.least(id_col, "_m").alias("id_a"),
                F.greatest(id_col, "_m").alias("id_b"),
            )
            .distinct()
        )
        labels = dup_clusters(
            edges, driver_pair_limit=self.DRIVER_ROW_LIMIT, assume_distinct=True
        ).select(F.col("node").alias("_node"), F.col("cluster_id").alias("_lab"))

        def relabel(df):
            return df.join(labels, F.col(id_col) == F.col("_node"), "left").select(
                *df.columns, F.coalesce("_lab", F.col(id_col)).alias("_new")
            )

        writes = relabel(enter_ids).select(id_col, F.col("_new").alias("cluster_id"))
        changed = (
            relabel(remaining)
            .where(F.col("_new") != F.col("cluster_id"))
            .select(id_col, F.col("_new").alias("cluster_id"))
        )
        tomb_b = live_b.join(gone.select(id_col), id_col, "leftsemi")
        stats = self._commit_frames(
            batch_id,
            lambda seq: self._with_internals(enter, batch_id, seq).unionByName(
                self._with_internals(tomb_b, batch_id, seq, True)
            ),
            lambda seq: self._with_internals(
                writes.unionByName(changed), batch_id, seq
            ).unionByName(self._with_internals(gone, batch_id, seq, True)),
            {
                "batch_id": batch_id,
                "fold": "distributed-label-propagation",
                "n_new_docs": n_enter // int(self.params["n_bands"]),
                "n_removed": n_gone,
                "n_pairs": None,
                "n_label_writes": None,
            },
        )
        return stats, None

    def _local_ids(self, ids) -> DataFrame:
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({self.id_col: ids}), f"{self.id_col} {self.id_type}"
        )

    def _with_internals(
        self, df: DataFrame, batch_id: str, seq: int, deleted: bool = False
    ) -> DataFrame:
        return df.select(
            "*",
            F.lit(seq).cast("long").alias("_lsn"),
            F.timestamp_seconds(F.lit(seq)).alias("_mts"),
            F.lit(deleted).alias("_deleted"),
            F.lit(batch_id).alias("_batch"),
        )

    def _commit_frames(self, batch_id: str, make_bands, make_clusters, stats) -> dict:
        """Publish bands then cluster labels, each idempotent per batch id.

        The two stage passes run concurrently (the tables are independent
        until their manifest commits); the commits stay ordered, bands
        first. ``make_bands`` / ``make_clusters`` build the internaled
        generation frames (rows and tombstones) for the sequence number.
        """
        import concurrent.futures as _cf

        # Sequence over BOTH tables' watermarks: deriving from bands alone
        # would, after a crash between the two commits, give the replayed
        # clusters generation the same (_lsn, _mts) as the NEXT batch's —
        # and the window merge's (_lsn desc, _mts desc) order would then
        # tie-break arbitrarily between stale and fresh labels.
        seq = max(self.bands.watermark(), self.clusters.watermark()) + 1
        stats = {**stats, "replayed_bands": False, "replayed_clusters": False}
        do_bands = batch_id not in self.bands.committed_batches()
        do_clusters = batch_id not in self.clusters.committed_batches()
        with _cf.ThreadPoolExecutor(max_workers=2) as pool:
            fb = (
                pool.submit(self.bands.stage, make_bands(seq), batch_id)
                if do_bands
                else None
            )
            fc = (
                pool.submit(self.clusters.stage, make_clusters(seq), batch_id)
                if do_clusters
                else None
            )
            if fb is not None:
                self.bands.commit_staged(
                    fb.result(), batch_id, seq, seq, None, mode="append"
                )
            else:
                stats["replayed_bands"] = True
            if fc is not None:
                staged_c = fc.result()
                # the buckets this fold's label rows landed in: callers
                # bucket-prune their lookups of exactly these rows with it
                stats["label_buckets"] = sorted(
                    int(b) for b in staged_c["new_buckets"]
                )
                self.clusters.commit_staged(
                    staged_c, batch_id, seq, seq, None, mode="append"
                )
            else:
                stats["replayed_clusters"] = True
        return stats

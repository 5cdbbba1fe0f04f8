"""Incrementally-maintained curation verdicts over a CDC conversation lake.

The engine's two halves, finally closed into one loop: the CDC core keeps
the conversation table current in O(changes) per batch (never rescanning
onboarded state — the reference's watermark-tail discipline,
``blocksummaries/BlockSummaryPipeline.scala:61-84``), while the curation
funnel (quality -> exact dedup -> near dedup -> decontamination) decides
which conversations ship as training data. Re-running the funnel over the
whole corpus after every CDC batch is the O(corpus)-per-batch anti-pattern
this module removes: at 10^10 change events the funnel must be maintained
INCREMENTALLY, touching only conversations whose state changed plus the
bounded blast radius their change causes in the dedup stages.

Design — three persisted stores under one root, each exactly-once via the
lake's atomic manifest commits:

- ``exact``   ManifestTable keyed ``(fingerprint, conv_id)``, bucketed BY
  FINGERPRINT: the membership index of the exact-dedup stage. A changed
  conversation tombstones its old (fp, id) row and appends its new one;
  the keeper of every AFFECTED fingerprint (min conv_id among current
  members) is then recomputed from a bucket-pruned read of just those
  fingerprints' buckets — O(batch), never a corpus-wide fingerprint
  groupBy. Bucketing by fp (not by conv) is the point: "who else shares
  this fingerprint?" is the query the stage asks, so that's the key the
  files are laid out on. The conv->fp reverse mapping lives in the
  verdicts table (bucketed by conv), so each lookup direction has a
  pruned path.
- ``near``    a :class:`DedupIndex` (string ids): the persisted
  MinHash-LSH band + cluster-label index, maintained by one delta fold per
  batch. Its population is exactly the funnel's stage-3 input:
  quality-passing exact-keepers.
- ``verdicts`` ManifestTable keyed ``conv_id``: one row per conversation
  with the RAW stage flags (quality_pass, exact_keep, near_keep,
  decont_pass) plus the change detectors (fingerprint, text_hash).
  ``verdicts_df()`` derives the funnel-masked view (a doc dropped at
  stage k shows False for every later stage) that is row-identical to
  ``curate_corpus``'s one-shot verdict table (tested).

Per-batch flow (``refresh(changed_ids, batch_id)``). Everything a refresh
touches is O(changed + blast radius), so each lookup is one Arrow collect
and the funnel logic runs on the driver in pandas:

1. the changed ids with their bucket ids in the conv-keyed stores;
2. side by side: their NEW transcripts (bucket-pruned lake read,
   ``array_sort`` reassembly, per-doc flags and LSH band keys as row-local
   column exprs) and their OLD verdict rows;
3. the exact-index membership delta is committed, then the keepers of the
   affected fingerprints come from the pre-batch rows + the delta;
4. the old verdict rows of affected members outside the batch;
5. the near-population diff: leavers and entrants (a text change is both)
   go into ONE ``DedupIndex.fold``; entrants pulled in by a keeper flip get
   their band keys from an on-demand transcript read;
6. the verdict upsert: every conv whose row changed, with near flags from
   the label rows the fold hands back (read back by batch id only for a
   fold replayed after a crash or the distributed fold); deleted convs
   tombstone their row, and a conv with neither a transcript nor an old
   verdict writes nothing.

Sub-commits, in order: ``exact``, ``near.bands``, ``near.clusters``,
``verdicts`` (the completion marker). Every read taken BEFORE a commit
excludes this batch's id and every sub-commit is idempotent per batch id,
so a crash at any publish point resumes by re-running the same
``refresh``: landed commits are skipped, pending ones are recomputed from
the identical pre-batch snapshot (the CDC job's crash-window contract,
applied to curation state).

Caveats vs the one-shot funnel, both deliberate:
- stage-5 mix sampling is NOT materialized here: it is a deterministic
  per-doc hash with no cross-doc state, so readers apply
  ``sample_stratified_expr`` at read time; maintaining it would store a
  constant.
- the near index computes the UNCAPPED LSH pair set (its skew control is
  the banded equi-join itself), while one-shot ``minhash_candidates``
  drops pairs in buckets beyond ``max_bucket_size``; equality with the
  one-shot funnel holds when no LSH bucket exceeds the cap (the normal
  regime — the cap exists to bound adversarial skew).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from endor_blockchain_data_pipeline_spark.functions.text import (
    fingerprint_expr,
)
from endor_blockchain_data_pipeline_spark.operators.curate import (
    transcripts_as_documents,
)
from endor_blockchain_data_pipeline_spark.operators.dedup import decontaminate
from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import DedupIndex
from endor_blockchain_data_pipeline_spark.sources.lake import (
    ManifestTable,
    bucket_expr,
    keep_keys,
)

RAW_FLAGS = ("quality_pass", "exact_keep", "near_keep", "decont_pass")


def _nullable(pdf):
    """Verdict columns as pandas nullable dtypes, so a reindex that adds
    missing convs keeps 64-bit text hashes exact (no float round-trip)."""
    return pdf.astype(
        {f: "boolean" for f in RAW_FLAGS if f in pdf.columns} | {"text_hash": "Int64"}
    )


class LiveCuration:
    """Curation verdicts kept in sync with a CDC lake, O(changed) per batch.

    ``evalset`` (the decontamination benchmark) is passed at construction
    and must be the same frame across refreshes — it is part of the
    funnel definition, like the thresholds (which ARE pinned on disk).
    """

    PARAMS = ("quality_min", "dup_line_max", "dup_word_max", "symbol_ratio_max")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        lake: ManifestTable,
        evalset: DataFrame | None = None,
        *,
        conv_col: str = "conv_id",
        quality_min: float | None = None,
        dup_line_max: float | None = None,
        dup_word_max: float | None = None,
        symbol_ratio_max: float | None = None,
        n_buckets: int = 16,
        **index_params,
    ) -> None:
        self.spark = spark
        self.root = root
        self.lake = lake
        self.evalset = evalset
        self.conv_col = conv_col
        passed = {
            "quality_min": quality_min,
            "dup_line_max": dup_line_max,
            "dup_word_max": dup_word_max,
            "symbol_ratio_max": symbol_ratio_max,
        }
        defaults = {
            "quality_min": 0.5,
            "dup_line_max": 0.30,
            "dup_word_max": 0.60,
            "symbol_ratio_max": 0.10,
        }
        os.makedirs(root, exist_ok=True)
        pfile = os.path.join(root, "params.json")
        if os.path.exists(pfile):
            with open(pfile) as fh:
                stored = json.load(fh)
            for k in self.PARAMS:
                if passed[k] is not None and passed[k] != stored[k]:
                    raise ValueError(
                        f"live-curation param conflict at {root}: {k} stored="
                        f"{stored[k]!r} passed={passed[k]!r}; omit it to adopt "
                        "the stored funnel definition"
                    )
            self.params = stored
        else:
            self.params = {
                k: defaults[k] if passed[k] is None else passed[k]
                for k in self.PARAMS
            }
            with open(pfile, "w") as fh:
                json.dump(self.params, fh)
        # Refresh commits are built from driver-held deltas, so each passes
        # its row count; up to the lake's DRIVER_STAGE_ROW_LIMIT rows a store
        # stages on the driver (one Arrow collect + local bucket writes
        # instead of a shuffle+write job).
        self.exact = ManifestTable(
            os.path.join(root, "exact"),
            n_buckets=n_buckets,
            key_cols=("fingerprint", conv_col),
            bucket_key="fingerprint",
        )
        self.verdicts = ManifestTable(
            os.path.join(root, "verdicts"),
            n_buckets=n_buckets,
            key_cols=(conv_col,),
            bucket_key=conv_col,
        )
        self.near = DedupIndex(
            spark,
            os.path.join(root, "near"),
            id_col=conv_col,
            id_type="string",
            n_buckets=n_buckets,
            **index_params,
        )

    # ---------------- reads ----------------

    def _read(self, table: ManifestTable, **kw) -> DataFrame | None:
        if table.manifest() is None:
            return None
        return table.read(self.spark, **kw)

    def _lookup(
        self, table: ManifestTable, keys, buckets, batch_id: str
    ) -> DataFrame | None:
        """The current rows of ``table`` for driver-held ``keys`` of its
        bucket key: only ``buckets``' files are scanned (None: all), the key
        list filters below the generation merge, and this batch's own
        sub-commit is excluded so a replay reads the pre-batch state."""
        if table.manifest() is None or not len(keys):
            return None
        if buckets is not None:
            buckets = sorted({int(b) for b in buckets})
        df = table.read(self.spark, buckets=buckets, exclude_batch_ids=[batch_id])
        return keep_keys(df, table.bucket_key, keys)

    def _transcripts_for(self, ids, buckets) -> DataFrame:
        """Reassembled transcripts of the driver-held conv ``ids``
        (``buckets``: their lake buckets, when the lake is bucketed by conv)."""
        kw = {}
        if self.lake.bucket_key == self.conv_col:
            kw["buckets"] = sorted({int(b) for b in buckets})
        state = keep_keys(self.lake.read(self.spark, **kw), self.conv_col, ids)
        return transcripts_as_documents(state, conv_col=self.conv_col)

    def _flag_docs(self, docs: DataFrame) -> DataFrame:
        """Per-doc funnel signals — map-only column exprs + the bounded
        decontamination join (evalset side is the small one).
        ``with_text_signals`` evaluates each shared split/lower tree once
        per row; unused signal columns are pruned by Catalyst."""
        from endor_blockchain_data_pipeline_spark.functions.text import (
            with_text_signals,
        )

        p = self.params
        quality = (
            (F.col("quality") >= p["quality_min"])
            & (F.col("dup_line_frac") <= p["dup_line_max"])
            & (F.col("dup_word_frac") <= p["dup_word_max"])
            & (F.col("symbol_word_ratio") <= p["symbol_ratio_max"])
        )
        out = with_text_signals(docs, "text").select(
            self.conv_col,
            "text",
            quality.alias("quality_pass"),
            fingerprint_expr("text").alias("fingerprint"),
            F.xxhash64("text").alias("text_hash"),
        )
        if self.evalset is None:
            return out.withColumn("decont_pass", F.lit(True))
        dec = decontaminate(out, self.evalset, "text", self.conv_col)
        return out.join(
            dec.select(
                self.conv_col, (~F.col("contaminated")).alias("decont_pass")
            ),
            self.conv_col,
            "left",
        ).fillna({"decont_pass": True})

    # ---------------- the per-batch maintenance fold ----------------

    def refresh(self, changed_ids, batch_id: str, lsn_hi: int | None = None) -> dict:
        """Fold one CDC batch's changed-conversation set into the curation
        state. ``changed_ids``: list of conv ids or a one-column DataFrame.
        Idempotent per ``batch_id`` (the verdicts commit is the completion
        marker; partial replays finish the pending sub-commits).

        ``lsn_hi``: the source batch's WAL high-watermark. When given, it
        becomes the verdicts commit's lsn range, so
        ``self.verdicts.watermark()`` reads back as the curation's resume
        point in WAL coordinates — the CDC-driven loop
        (``CDCJob.run_with_curation``) restarts from
        ``min(apply watermark, curation watermark)`` and replays close the
        gap. Pick ONE mode per index (WAL-lsn or internal counter): the
        stamps share the verdicts table's ``_lsn`` ordering."""
        import concurrent.futures as _cf

        import numpy as np
        import pandas as pd

        c = self.conv_col
        if batch_id in self.verdicts.committed_batches():
            return {"batch_id": batch_id, "replay": True}
        vb = bucket_expr(c, self.verdicts.n_buckets).alias("_vb")
        lb = bucket_expr(c, self.lake.n_buckets).alias("_lb")
        fb = bucket_expr("fingerprint", self.exact.n_buckets).alias("_fb")
        if isinstance(changed_ids, DataFrame):
            ids_df = changed_ids.select(F.col(c).cast("string").alias(c))
        else:
            ids_df = self.spark.createDataFrame(
                pd.DataFrame({c: sorted({str(i) for i in changed_ids})}), f"{c} string"
            )
        # -- 1. the changed set, with its bucket ids in each conv-keyed store
        ids = ids_df.select(c, vb, lb).toArrow().to_pandas().drop_duplicates(c)
        where = ids.set_index(c)[["_vb", "_lb"]]

        # -- 2. their new transcripts (per-doc flags + band keys) and their
        #       old verdict rows, two independent lookups run side by side
        def new_docs():
            docs = self._flag_docs(self._transcripts_for(ids[c], ids["_lb"]))
            # the band-key hashing is the batch's heaviest per-row work and
            # the reassembled transcripts arrive coalesced into a task or
            # two: spread them over the cores first
            docs = docs.repartition(self.spark.sparkContext.defaultParallelism)
            return (
                self.near.with_band_keys(docs)
                .select(
                    c, "quality_pass", "decont_pass", "fingerprint", "text_hash", "_bks", fb
                )
                .toArrow()
                .to_pandas()
            )

        def old_rows():
            old = self._lookup(self.verdicts, ids[c], ids["_vb"], batch_id)
            if old is None:
                old = self._empty_verdicts()
                return to_arrow_schema(old.select("*", fb).schema).empty_table().to_pandas()
            return old.select("*", fb).toArrow().to_pandas()

        with _cf.ThreadPoolExecutor(max_workers=2) as pool:
            f_new, f_old = pool.submit(new_docs), pool.submit(old_rows)
            new, old = f_new.result(), f_old.result()

        # -- 3. exact-index membership delta (quality passers only): commit
        #       it, then the keepers of the affected fingerprints from the
        #       pre-batch state + delta (the window merge makes that equal to
        #       the post-commit state; the lookup excludes this batch)
        key = [c, "fingerprint"]
        diff = old[old["quality_pass"]][key + ["_fb"]].merge(
            new[new["quality_pass"]][key + ["_fb"]],
            on=key, how="outer", indicator=True, suffixes=("_o", "_n"),
        )
        to_rm = diff[diff["_merge"] == "left_only"][key]
        to_add = diff[diff["_merge"] == "right_only"][key]
        n_delta = len(to_rm) + len(to_add)
        if n_delta and batch_id not in self.exact.committed_batches():
            seq = self.exact.watermark() + 1
            rows = pd.concat(
                [to_rm.assign(_deleted=True), to_add.assign(_deleted=False)],
                ignore_index=True,
            )
            frame = self.spark.createDataFrame(
                rows, f"{c} string, fingerprint string, _deleted boolean"
            )
            self.exact.commit(
                self._internals(frame, batch_id, seq),
                batch_id, seq, seq, None, mode="append", est_rows=len(rows),
            )
        affected = diff[diff["_merge"] != "both"]
        fps = affected["fingerprint"].unique()
        pre = self._lookup(
            self.exact, fps,
            pd.concat([affected["_fb_o"], affected["_fb_n"]]).dropna(), batch_id,
        )
        members = pd.DataFrame({c: [], "fingerprint": []}, dtype=object)
        if pre is not None:
            pre = pre.select(c, "fingerprint", vb, lb).toArrow().to_pandas()
            where = pd.concat([where, pre.set_index(c)[["_vb", "_lb"]]])
            members = pre[key]
        members = (
            pd.concat([members, to_add])
            .merge(to_rm.assign(_gone=True), on=key, how="left")
        )
        members = members[members["_gone"].isna()][key].drop_duplicates().sort_values(c)
        keeper = members.groupby("fingerprint")[c].transform("first")  # the min id
        m_exact = pd.Series((members[c] == keeper).to_numpy(), index=members[c])
        where = where[~where.index.duplicated()]

        # -- 4. the old verdict rows of affected members outside the batch
        others = np.setdiff1d(members[c].unique(), ids[c])
        base = old.drop(columns="_fb")
        extra = self._lookup(
            self.verdicts, others, where.loc[others, "_vb"], batch_id
        )
        if extra is not None:
            base = pd.concat([base, extra.toArrow().to_pandas()])

        # -- 5. per scope conv: the near-population diff and the verdict,
        #       resolved in the funnel's order. pop_new: an affected-fp
        #       membership verdict wins; else a deleted conv is out; else a
        #       changed conv that now fails quality is out; else nothing
        #       about its exact standing changed (pop_old carries).
        scope = pd.Index(np.union1d(ids[c], members[c].unique()), name=c)
        n = _nullable(new.drop(columns="_fb")).set_index(c).reindex(scope)
        b = _nullable(base).set_index(c).reindex(scope)
        has_b = b["text_hash"].notna().to_numpy()
        is_new = n["text_hash"].notna().to_numpy()
        deleted = scope.isin(ids[c]) & ~is_new & has_b
        n_q = n["quality_pass"].fillna(False).to_numpy(bool)
        b_q = b["quality_pass"].fillna(False).to_numpy(bool)
        b_e = b["exact_keep"].fillna(False).to_numpy(bool)
        b_n = b["near_keep"].fillna(False).to_numpy(bool)
        b_d = b["decont_pass"].fillna(True).to_numpy(bool)
        has_m = scope.isin(m_exact.index)
        m_e = m_exact.reindex(scope, fill_value=False).to_numpy(bool)
        pop_old = b_q & b_e
        pop_new = np.where(
            has_m, m_e, ~deleted & ~(is_new & ~n_q) & pop_old
        )
        text_changed = is_new & ~(n["text_hash"] == b["text_hash"]).fillna(
            False
        ).to_numpy(bool)
        leave = scope[pop_old & (~pop_new | text_changed)]
        enter = scope[pop_new & (~pop_old | text_changed)]

        # -- 6. ONE near-index delta fold; entrants pulled in by a keeper
        #       flip were not in the batch: their band keys come from an
        #       on-demand transcript read bounded by the affected groups
        near_stats, labels = None, None
        if len(leave) or len(enter):
            bks = n.loc[enter.intersection(n.index[is_new]), ["_bks"]]
            pulled = enter.difference(bks.index)
            if len(pulled):
                got = (
                    self.near.with_band_keys(
                        self._transcripts_for(pulled, where.loc[pulled, "_lb"])
                    )
                    .select(c, "_bks")
                    .toArrow()
                    .to_pandas()
                    .set_index(c)
                )
                bks = pd.concat([bks, got])
            band_rows = pd.DataFrame(
                [
                    (cid, i, k)
                    for cid, keys in bks["_bks"].items()
                    for i, k in enumerate(keys)
                ],
                columns=[c, "band_idx", "band_key"],
            )
            near_stats, labels = self.near.fold(leave, band_rows, batch_id)
            if labels is None:
                # a fold replayed after a crash, or the distributed fold:
                # its label rows are read back by batch id
                labels = (
                    self.near.clusters.read(self.spark, batch_ids=[batch_id])
                    .select(c, "cluster_id")
                    .toArrow()
                    .to_pandas()
                )
        if labels is None:
            labels = pd.DataFrame({c: [], "cluster_id": []}, dtype=object)
        near_new = pd.Series(
            (labels[c] == labels["cluster_id"]).to_numpy(bool), index=labels[c]
        )

        # -- 7. the verdict upsert: every scope conv whose row changed, plus
        #       the near-label delta's convs outside the scope
        has_l = scope.isin(near_new.index)
        q = np.where(is_new, n_q, b_q)
        e = np.where(has_m, m_e, ~(is_new & ~n_q) & b_e)
        nk = np.where(
            has_l,
            near_new.reindex(scope, fill_value=False).to_numpy(bool),
            ~(pop_old & ~pop_new) & b_n,
        )
        d = np.where(is_new, n["decont_pass"].fillna(True).to_numpy(bool), b_d)
        changed = (q != b_q) | (e != b_e) | (nk != b_n) | (d != b_d)
        # a conv with neither a transcript nor an old verdict (inserted and
        # deleted inside this batch) writes nothing
        dirty = (is_new & (~has_b | text_changed)) | deleted | (has_b & changed)
        rows = pd.DataFrame(
            {
                c: scope,
                "quality_pass": q,
                "exact_keep": e,
                "near_keep": nk,
                "decont_pass": d,
                "fingerprint": n["fingerprint"].where(is_new, b["fingerprint"]),
                "text_hash": n["text_hash"].where(is_new, b["text_hash"]),
                "_deleted": deleted,
            },
            index=scope,
        )[dirty]
        writes = self.spark.createDataFrame(
            rows.astype({"text_hash": "int64", "fingerprint": object}),
            self._empty_verdicts().schema.add("_deleted", "boolean"),
        )
        outside = near_new[~near_new.index.isin(scope)]
        if len(outside):
            vl = self.verdicts
            lab_vb = (near_stats or {}).get("label_buckets")
            same_layout = (
                self.near.clusters.bucket_key == vl.bucket_key
                and self.near.clusters.n_buckets == vl.n_buckets
            )
            flips = self.spark.createDataFrame(
                pd.DataFrame({c: outside.index, "_nk": outside.to_numpy(bool)}),
                f"{c} string, _nk boolean",
            )
            writes = writes.unionByName(
                self._lookup(vl, outside.index, lab_vb if same_layout else None, batch_id)
                .join(F.broadcast(flips), c)
                .where(F.col("near_keep") != F.col("_nk"))
                .withColumn("near_keep", F.col("_nk"))
                .select(*writes.columns[:-1], F.lit(False).alias("_deleted"))
            )
        seq = self.verdicts.watermark() + 1 if lsn_hi is None else int(lsn_hi)
        # the flips add at most one row per outside conversation
        staged = self.verdicts.stage(
            self._internals(writes, batch_id, seq), batch_id,
            est_rows=len(rows) + len(outside),
        )
        n_writes = sum(int(s["n_rows"]) for s in staged["bucket_stats"].values())
        self.verdicts.commit_staged(staged, batch_id, seq, seq, None, mode="append")
        return {
            "batch_id": batch_id,
            "replay": False,
            "n_changed": len(ids),
            "n_deleted": int(deleted.sum()),
            "n_exact_delta": n_delta,
            "near": (near_stats or {}).get("fold"),
            "n_verdict_writes": n_writes,
        }

    def _internals(self, df: DataFrame, batch_id: str, seq: int) -> DataFrame:
        """Stamp a commit frame that carries its own ``_deleted`` flag."""
        return df.select(
            *[x for x in df.columns if x != "_deleted"],
            F.lit(seq).cast("long").alias("_lsn"),
            F.timestamp_seconds(F.lit(seq)).alias("_mts"),
            "_deleted",
            F.lit(batch_id).alias("_batch"),
        )

    def _empty_verdicts(self) -> DataFrame:
        return self.spark.createDataFrame(
            [],
            f"{self.conv_col} string, quality_pass boolean, exact_keep boolean,"
            " near_keep boolean, decont_pass boolean, fingerprint string,"
            " text_hash long",
        )

    # ---------------- the user-facing view ----------------

    def verdicts_df(self) -> DataFrame:
        """Funnel-masked verdicts, row-identical to ``curate_corpus``'s
        one-shot verdict table over the lake's current transcripts (a doc
        dropped at stage k reads False for every later stage; tested)."""
        v = self._read(self.verdicts)
        if v is None:
            v = self._empty_verdicts()
        q = F.col("quality_pass")
        e = q & F.col("exact_keep")
        n = e & F.col("near_keep")
        d = n & F.col("decont_pass")
        return v.select(
            self.conv_col,
            q.alias("quality_pass"),
            e.alias("exact_keep"),
            n.alias("near_keep"),
            d.alias("decont_pass"),
            d.alias("final_keep"),
        )

    def funnel(self) -> dict:
        """Stage survival counts off the masked view — one aggregation."""
        m = self.verdicts_df()
        row = m.agg(
            F.count("*").alias("input"),
            *[
                F.coalesce(F.sum(F.col(f).cast("long")), F.lit(0)).alias(f)
                for f in RAW_FLAGS + ("final_keep",)
            ],
        ).first()
        return {
            "input": row["input"],
            "after_quality": row["quality_pass"],
            "after_exact_dedup": row["exact_keep"],
            "after_near_dedup": row["near_keep"],
            "after_decontamination": row["decont_pass"],
            "final": row["final_keep"],
        }

    def maintain(self, compact_threshold: int = 8, vacuum_grace_sec: float = 3600.0):
        """Bound read amplification across all stores (one generation per
        refresh otherwise accumulates): compact + vacuum, idempotent."""
        from endor_blockchain_data_pipeline_spark.operators.merge import (
            compact_buckets,
        )

        out = {"near": self.near.maintain(compact_threshold, vacuum_grace_sec)}
        for name, t in (("exact", self.exact), ("verdicts", self.verdicts)):
            due = t.multi_gen_buckets(compact_threshold)
            if due:
                compact_buckets(t, self.spark, f"compact-wm{t.watermark()}", due)
            removed = t.vacuum(grace_sec=vacuum_grace_sec)
            out[name] = {"buckets_compacted": len(due), "files_removed": removed}
        return out

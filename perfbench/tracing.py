"""Spans around the engine's public layer functions, recorded from outside.

``instrument`` swaps each listed function or method for a wrapper that
records a span (name, start, end, parent, attributes) and restores the
originals on exit; the engine itself carries no tracing. Spans stay in
memory until ``Tracer.dump`` writes them at the end of a run. A span opened
on a thread with no open span of its own (the engine's staging pool, the
curation's commit pool) takes the innermost open span of the main thread as
its parent, so pool work is attributed to the call that caused it.

``layer_metrics`` turns the spans into the per-layer numbers; ``self_times``
gives each layer's self time (its spans' duration minus the part their
child spans cover).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, parent, start):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = None
        self.attrs = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        # wall time spent inside the tracer's own bookkeeping
        self.overhead_s = 0.0

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _ambient(self) -> Span | None:
        """Parent for a span opened on a pool thread: the innermost open
        driver-loop or refresh span of the main thread (not whatever leaf
        call the main thread happens to be in at that moment)."""
        for sp in reversed(self._main_stack):
            if sp.name.startswith("job.") or sp.name == "curation.refresh":
                return sp
        return self._main_stack[-1] if self._main_stack else None

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else self._ambient()
        sp = Span(next(self._ids), name, parent.id if parent else None, 0.0)
        st.append(sp)
        with self._lock:
            self.spans.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self.overhead_s += time.perf_counter() - sp.end

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name)
        sp.attrs.update(attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start - t0,
                            "end": (s.end if s.end is not None else s.start) - t0,
                            "attrs": s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                fh,
                default=str,
            )


class NullTracer:
    """Untraced runs: the same ``span`` calls, no recording."""

    overhead_s = 0.0
    spans: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


# ---------------------------------------------------------------- wrapping


def _wrap(tracer: Tracer, name: str, fn, after=None):
    """Span around ``fn``; ``after(span, args, kwargs, result)`` adds
    attributes once the call returned (its cost counts as overhead)."""

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        sp = tracer.open(name)
        try:
            out = fn(*a, **kw)
        finally:
            tracer.close(sp)
        if after is not None:
            t = time.perf_counter()
            after(sp, a, kw, out)
            tracer.overhead_s += time.perf_counter() - t
        return out

    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer, session, cdc_prefix: str):
    """Wrap the layer entry points for the duration of the block.

    ``cdc_prefix``: tables under this path are the CDC lake (the workload's
    output); other tables (curation stores, dedup index) are tagged
    ``store``."""
    import endor_blockchain_data_pipeline_spark.job as job_mod
    import endor_blockchain_data_pipeline_spark.operators.merge as merge_mod
    import endor_blockchain_data_pipeline_spark.sources.feeds as feeds_mod
    import endor_blockchain_data_pipeline_spark.sources.wal as wal_mod
    from endor_blockchain_data_pipeline_spark.lineage import LineageLog
    from endor_blockchain_data_pipeline_spark.operators.incremental_dedup import (
        DedupIndex,
    )
    from endor_blockchain_data_pipeline_spark.operators.live_curation import (
        LiveCuration,
    )
    from endor_blockchain_data_pipeline_spark.sources.checkpoint import Checkpoint
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

    def role(table) -> str:
        return "cdc" if table.path.startswith(cdc_prefix) else "store"

    def after_source_max(sp, a, kw, out):
        sp.attrs["max_lsn"] = out

    def after_stage(sp, a, kw, out):
        table, batch_id = a[0], a[2]  # stage(self, df, batch_id)
        files = [f for fl in out["new_buckets"].values() for f in fl]
        sp.attrs.update(
            role=role(table),
            batch_id=batch_id,
            files=len(files),
            bytes=sum(os.path.getsize(os.path.join(table.path, f)) for f in files),
        )

    def after_commit(sp, a, kw, out):
        table = a[0]
        rows = [int(s["n_rows"]) for s in out.get("new_bucket_stats", {}).values()]
        sp.attrs.update(
            role=role(table),
            batch_id=out["batch_id"],
            compaction=bool(out.get("stats", {}).get("compaction")),
            rows=sum(rows),
            skew=(max(rows) / statistics.median(rows)) if rows else None,
            gens_max=max(out.get("bucket_gens", {}).values(), default=0),
            lsn_lo=out["lsn_lo"],
            lsn_hi=out["lsn_hi"],
        )

    def after_read(sp, a, kw, out):
        table = a[0]
        buckets = kw.get("buckets", a[2] if len(a) > 2 else None)
        m = table.manifest(kw.get("version"))
        sel = None if buckets is None else {str(int(b)) for b in buckets}
        chosen = [b for b in m["buckets"] if sel is None or b in sel]
        plan = out._jdf.queryExecution().logical().toString()
        sp.attrs.update(
            role=role(table),
            point=buckets is not None and len(buckets) == 1,
            files=sum(len(m["buckets"][b]) for b in chosen),
            gens_max=max((m.get("bucket_gens", {}).get(b, 1) for b in chosen), default=0),
            strategy=(
                "window" if "row_number" in plan
                else "broadcast" if "broadcast" in plan.lower()
                else "none"
            ),
        )

    def before_after_jobs(name):
        """Spark jobs started during the span (refresh runs on the main
        thread with nothing else submitting)."""

        def deco(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                t = time.perf_counter()
                j0 = session.last_job_id()
                tracer.overhead_s += time.perf_counter() - t
                sp = tracer.open(name)
                try:
                    out = fn(*a, **kw)
                finally:
                    tracer.close(sp)
                t = time.perf_counter()
                sp.attrs["spark_jobs"] = session.last_job_id() - j0
                if isinstance(out, dict):
                    sp.attrs.update(
                        {k: out.get(k) for k in ("n_changed", "n_verdict_writes", "replay")}
                    )
                tracer.overhead_s += time.perf_counter() - t
                return out

            return wrapper

        return deco

    def run_wrapper(name, fn):
        """CDCJob catch-up loops: remember the watermark at entry so the
        backlog the source probe saw can be computed."""

        @functools.wraps(fn)
        def wrapper(self, *a, **kw):
            t = time.perf_counter()
            wm0 = self.checkpoint.last_lsn()
            tracer.overhead_s += time.perf_counter() - t
            sp = tracer.open(name)
            sp.attrs["wm0"] = wm0
            try:
                return fn(self, *a, **kw)
            finally:
                tracer.close(sp)

        return wrapper

    patches = []  # (owner, attr, original)

    def patch(owner, attr, new):
        patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    sm = _wrap(tracer, "wal.source_max", wal_mod.source_max, after_source_max)
    for mod in (wal_mod, job_mod, feeds_mod):
        patch(mod, "source_max", sm)
    cb = _wrap(tracer, "merge.compact_buckets", merge_mod.compact_buckets,
               lambda sp, a, kw, out: sp.attrs.update(did=out is not None))
    patch(merge_mod, "compact_buckets", cb)
    patch(merge_mod, "stage_batch_mor",
          _wrap(tracer, "merge.stage_batch_mor", merge_mod.stage_batch_mor))
    mb = _wrap(tracer, "merge.merge_batch", merge_mod.merge_batch)
    patch(merge_mod, "merge_batch", mb)
    patch(job_mod, "merge_batch", mb)
    patch(ManifestTable, "stage", _wrap(tracer, "lake.stage", ManifestTable.stage, after_stage))
    patch(ManifestTable, "commit_staged",
          _wrap(tracer, "lake.commit", ManifestTable.commit_staged, after_commit))
    patch(ManifestTable, "committed_batches",
          _wrap(tracer, "lake.committed_batches", ManifestTable.committed_batches))
    patch(ManifestTable, "read", _wrap(tracer, "lake.read_plan", ManifestTable.read, after_read))
    patch(Checkpoint, "record", _wrap(tracer, "checkpoint.record", Checkpoint.record))
    patch(LineageLog, "record_rows", _wrap(tracer, "lineage.record", LineageLog.record_rows))
    patch(job_mod.CDCJob, "run_to_watermark",
          run_wrapper("job.run_to_watermark", job_mod.CDCJob.run_to_watermark))
    patch(job_mod.CDCJob, "run_with_curation",
          run_wrapper("job.run_with_curation", job_mod.CDCJob.run_with_curation))
    patch(job_mod.CDCJob, "run_batch", _wrap(tracer, "job.run_batch", job_mod.CDCJob.run_batch))
    patch(LiveCuration, "refresh", before_after_jobs("curation.refresh")(LiveCuration.refresh))
    patch(DedupIndex, "add_batch", _wrap(tracer, "dedup.add_batch", DedupIndex.add_batch))
    patch(DedupIndex, "remove_docs", _wrap(tracer, "dedup.remove_docs", DedupIndex.remove_docs))
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------- analysis


def _union(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans) -> dict[str, float]:
    """Per layer (name prefix before the first dot): total self time."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, [])
            if c.end > s.start and c.start < s.end
        )
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + s.dur - covered
    return out


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans) -> dict[str, float]:
    """Per-layer numbers from the spans of one timed section."""
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    ids = {s.id: s for s in spans}
    cdc_commits = [
        s for s in by.get("lake.commit", [])
        if s.attrs.get("role") == "cdc" and not s.attrs.get("compaction")
    ]
    batches = len(cdc_commits)
    cdc_stages = [s for s in by.get("lake.stage", []) if s.attrs.get("role") == "cdc"]
    batch_stages = [s for s in cdc_stages if not str(s.attrs.get("batch_id")).startswith("compact-")]
    cdc_reads = [s for s in by.get("lake.read_plan", []) if s.attrs.get("role") == "cdc"]
    compacts = by.get("merge.compact_buckets", [])
    refreshes = [s for s in by.get("curation.refresh", []) if not s.attrs.get("replay")]

    backlog = [
        s.attrs["max_lsn"] - ids[s.parent].attrs["wm0"]
        for s in by.get("wal.source_max", [])
        if s.parent in ids and "wm0" in ids[s.parent].attrs
    ]
    drivers = by.get("job.run_to_watermark", []) + by.get("job.run_with_curation", [])
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    driver_self = sum(
        d.dur - _union(
            (max(c.start, d.start), min(c.end, d.end)) for c in kids.get(d.id, [])
        )
        for d in drivers
    )
    stage_sum = sum(s.dur for s in batch_stages)
    overlap = (
        (stage_sum - _union((s.start, s.end) for s in batch_stages)) / stage_sum
        if stage_sum else 0.0
    )
    changed = sum(s.attrs.get("n_changed") or 0 for s in refreshes)
    writes = sum(s.attrs.get("n_verdict_writes") or 0 for s in refreshes)
    applies = [
        s for s in by.get("job.run_batch", [])
        if s.parent in ids and ids[s.parent].name == "job.run_with_curation"
    ]
    did = [s for s in compacts if s.attrs.get("did")]
    compact_rows = sum(
        c.attrs.get("rows", 0)
        for c in by.get("lake.commit", [])
        if c.attrs.get("role") == "cdc" and c.attrs.get("compaction")
    )
    return {
        "wal.source_max_s": _med(s.dur for s in by.get("wal.source_max", [])),
        "wal.backlog_events_max": float(max(backlog, default=0)),
        "merge.stage_s": _med(s.dur for s in batch_stages),
        "merge.compact_s": sum(s.dur for s in compacts) / max(batches, 1),
        "merge.compactions": float(len(did)),
        "merge.compact_rows": float(compact_rows),
        "merge.bucket_skew": _med(s.attrs.get("skew") for s in cdc_commits),
        "lake.commit_s": _med(s.dur for s in cdc_commits),
        "lake.committed_batches_s": _med(s.dur for s in by.get("lake.committed_batches", [])),
        "lake.files_written": sum(s.attrs["files"] for s in cdc_stages) / max(batches, 1),
        "lake.read_plan_s": _med(s.dur for s in cdc_reads),
        "lake.read_exec_s": _med(s.dur for s in by.get("lake.read_exec", [])),
        "lake.point_read_s": _med(s.dur for s in by.get("lake.point_read", [])),
        "lake.files_per_point_read": _med(s.attrs["files"] for s in cdc_reads if s.attrs.get("point")),
        "lake.gens_max": float(max(
            [s.attrs.get("gens_max", 0) for s in cdc_reads + cdc_commits], default=0
        )),
        "lake.merge_strategy_broadcast": float(sum(s.attrs.get("strategy") == "broadcast" for s in cdc_reads)),
        "lake.merge_strategy_window": float(sum(s.attrs.get("strategy") == "window" for s in cdc_reads)),
        "checkpoint.record_s": _med(s.dur for s in by.get("checkpoint.record", [])),
        "lineage.record_s": _med(s.dur for s in by.get("lineage.record", [])),
        "job.batches": float(batches),
        "job.driver_self_s": driver_self / max(batches, 1),
        "job.stage_overlap_frac": overlap,
        "curation.refresh_s": _med(s.dur for s in refreshes),
        "curation.cdc_apply_s": _med(s.dur for s in applies),
        "dedup.add_batch_s": _med(s.dur for s in by.get("dedup.add_batch", [])),
        "dedup.remove_docs_s": _med(s.dur for s in by.get("dedup.remove_docs", [])),
        "curation.spark_jobs_per_refresh": _med(s.attrs.get("spark_jobs") for s in refreshes),
        "curation.changed_convs": _med(s.attrs.get("n_changed") for s in refreshes),
        "curation.touched_per_changed": writes / changed if changed else 0.0,
        "_cdc_events": float(sum(s.attrs["lsn_hi"] - s.attrs["lsn_lo"] for s in cdc_commits)),
        "_cdc_bytes_written": float(sum(s.attrs["bytes"] for s in cdc_stages)),
    }

#!/usr/bin/env python3
"""Benchmark of the CDC engine: one workload per run, or all of them.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. A single-workload run builds its inputs from
``--seed``, measures for ``--seconds``, checks every output against an
oracle, and prints as its last stdout line one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (the
traced run also writes its spans to ``perfbench/out/``). It exits non-zero
when a correctness check fails. ``--workload all`` runs every workload
untraced and traced, prints the end-to-end metrics under their per-workload
names next to the traced numbers (the tracing overhead), and exits non-zero
if any run failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "endor_blockchain_data_pipeline_spark"
OUT = os.path.join(HERE, "out")

# (name, unit) of the end-to-end metrics every workload reports
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("events_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("stored_bytes_per_event", "B"),
    ("full_read_rows_per_s", "1/s"),
]

# (name, unit, end-to-end metric and workload it should move)
PER_LAYER = [
    ("wal.source_max_s", "s", "latency_p50_s on tail"),
    ("wal.scan_s", "s", "events_per_s on backfill"),
    ("wal.backlog_events_max", "count", "latency_tail_s on tail"),
    ("wal.releaser_late_s_max", "s", "none: validity check of the tail releaser"),
    ("decode.s", "s", "events_per_s on backfill"),
    ("decode.rows_per_event", "ratio", "events_per_s on backfill and curate_live"),
    ("merge.reduce_s", "s", "events_per_s on backfill (and its 1-core rate)"),
    ("merge.winners_per_event", "ratio", "events_per_s on backfill (useful-work ratio)"),
    ("merge.stage_s", "s", "events_per_s on backfill, latency_p50_s on tail"),
    ("merge.compact_s", "s", "latency_tail_s on tail"),
    ("merge.compactions", "count", "latency_tail_s on tail"),
    ("merge.compact_rows", "count", "latency_tail_s on tail"),
    ("merge.bucket_skew", "ratio", "events_per_s on backfill"),
    ("lake.commit_s", "s", "latency_p50_s on tail"),
    ("lake.manifest_bytes", "B", "latency_p50_s on tail"),
    ("lake.committed_batches_s", "s", "latency_p50_s on tail"),
    ("lake.bytes_written_per_event", "B", "stored_bytes_per_event on backfill"),
    ("lake.files_written", "count", "stored_bytes_per_event on backfill"),
    ("lake.read_plan_s", "s", "full_read_rows_per_s on every workload"),
    ("lake.read_exec_s", "s", "full_read_rows_per_s on every workload"),
    ("lake.point_read_s", "s", "point_read_p50_s (reads phase) on every workload"),
    ("lake.files_per_point_read", "count", "point_read_p50_s (reads phase) on every workload"),
    ("lake.gens_max", "count", "full_read_rows_per_s on tail"),
    ("lake.merge_strategy_broadcast", "count", "full_read_rows_per_s"),
    ("lake.merge_strategy_window", "count", "full_read_rows_per_s"),
    ("checkpoint.record_s", "s", "latency_p50_s on tail"),
    ("lineage.record_s", "s", "latency_p50_s on tail"),
    ("job.batches", "count", "none: the base of the per-batch ratios"),
    ("job.spark_jobs_per_batch", "count", "latency_p50_s on tail"),
    ("job.driver_self_s", "s", "latency_p50_s on tail"),
    ("job.stage_overlap_frac", "frac", "latency_p50_s on tail, events_per_s on backfill"),
    ("curation.refresh_s", "s", "latency_p50_s on curate_live"),
    ("curation.cdc_apply_s", "s", "latency_p50_s on curate_live"),
    ("dedup.add_batch_s", "s", "latency_p50_s on curate_live"),
    ("dedup.remove_docs_s", "s", "latency_p50_s on curate_live"),
    ("curation.spark_jobs_per_refresh", "count", "latency_p50_s on curate_live"),
    ("curation.changed_convs", "count", "latency_p50_s on curate_live"),
    ("curation.touched_per_changed", "ratio", "latency_p50_s on curate_live"),
    ("proc.cpu_util", "frac", "events_per_s on every workload"),
    ("jvm.gc_s", "s", "events_per_s on every workload"),
    ("trace.spans", "count", "none: tracing cost"),
    ("trace.overhead_s", "s", "none: tracing cost"),
]


class Run:
    """One workload run: its session, seed, tracer and check ledger."""

    def __init__(self, session, tmp, seed, seconds, tracer) -> None:
        self.session = session
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, detail: str, covers: int) -> None:
        """Record a correctness check over ``covers`` of the attempted
        operations; a failed check counts every one of them as failed."""
        self.checks.append((name, bool(ok), detail))
        if not ok:
            self.failed = min(self.failed + covers, self.attempted)


def execute(args, tmp: str) -> dict:
    import contextlib

    import harness as H
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all")
    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> float:
        """Wall time since the previous phase ended, recorded by name."""
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 2)
        mark, dt = now, now - mark
        return dt

    session = H.Session(tmp, H.nproc())
    try:
        run = Run(session, tmp, args.seed, args.seconds, tracer)
        wl = WORKLOADS[args.workload](run)
        phase("session")
        wl.setup()
        setup_s = phase("setup")
        cdc_prefix = wl.path("lake") + os.sep

        def traced():
            if not args.trace:
                return contextlib.nullcontext()
            return tracing.instrument(tracer, session, cdc_prefix)

        job0 = session.last_job_id()
        meter = H.ProcMeter(session)
        with traced():
            wl.timed(args.seconds)
        proc = meter.stop()
        jobs = session.last_job_id() - job0
        phase("timed")
        e2e = wl.verify()
        phase("verify")
        table, rows, truth = wl.final
        with traced():
            e2e["full_read_rows_per_s"] = wl.reads(table, rows, truth)
        phase("reads")
        layers = {}
        if args.trace:
            layers = tracing.layer_metrics(tracer.spans)
            applied = layers.pop("_cdc_events")
            written = layers.pop("_cdc_bytes_written")
            layers.update(wl.probe())
            layers.update(proc)
            batches = max(layers["job.batches"], 1)
            curated = 1.0 if layers["curation.refresh_s"] else 0.0
            layers.update({
                "merge.winners_per_event": wl.info["winners_per_event"],
                # the apply decodes winners only; a curated batch also
                # decodes its whole range once for the changed-conv set
                "decode.rows_per_event": wl.info["winners_per_event"] + curated,
                "lake.bytes_written_per_event": written / max(applied, 1),
                "lake.manifest_bytes": float(H.manifest_bytes(table)),
                "job.spark_jobs_per_batch": jobs / batches,
                "wal.releaser_late_s_max": wl.info.get("releaser_late_s_max", 0.0),
                "trace.spans": float(len(tracer.spans)),
                "trace.overhead_s": tracer.overhead_s,
            })
            phase("probe")
        if hasattr(wl, "after"):
            wl.after()
            phase("after")
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = H.peak_rss_mb(session)
        env = {
            "nproc": H.nproc(),
            "ram_gib": round(H.ram_gib(), 1),
            **session.versions(),
            "workload": wl.name,
            "loop": wl.loop,
            "latency_series": wl.latency,
            "seed": args.seed,
            "seconds": args.seconds,
            "phases_s": phases,
        }
        result = {
            "env": env, "e2e": e2e, "layers": layers, "info": wl.info,
            "checks": run.checks, "attempted": run.attempted, "failed": run.failed,
        }
        if args.trace:
            tracer.dump(
                os.path.join(OUT, f"spans-{wl.name}-seed{args.seed}.json"),
                {**result, "self_time_s": tracing.self_times(tracer.spans)},
            )
        return result
    finally:
        session.stop()


def report(args, res: dict) -> int:
    """Human-readable lines, then the one-line JSON result."""
    for k, v in res["env"].items():
        print(f"env {k} = {v}")
    for name, ok, detail in res["checks"]:
        print(f"check {'ok  ' if ok else 'FAIL'} {name} ({detail})")
    for k, v in res["info"].items():
        print(f"info {k} = {v}")
    units = dict(END_TO_END)
    for k, u in END_TO_END:
        print(f"metric {k} = {res['e2e'][k]:.6g} {u}")
    ops_failed = res["failed"] / max(res["attempted"], 1)
    print(f"metric ops_failed_frac = {ops_failed:.6g} ({res['failed']}/{res['attempted']})")
    if args.trace:
        for k, u, moves in PER_LAYER:
            print(f"layer {k} = {res['layers'][k]:.6g} {u}  -> {moves}")
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u, _ in PER_LAYER}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": units[k]} for k, _ in END_TO_END}
    correct = res["failed"] == 0 and all(ok for _, ok, _ in res["checks"])
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


def adopt_orphans() -> None:
    """Make this process the reaper of its descendants' orphans (Linux
    PR_SET_CHILD_SUBREAPER): the Python workers Spark's daemon forks, which
    leave the JVM's process group, then become children of this process when
    their parents end, and ``reap_children`` can wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid == me:
                kids.append(int(d))
    return kids


def reap_children(grace: float = 10.0) -> None:
    """Wait until every process this run started, and every orphan it
    adopted, has ended; after ``grace`` seconds kill what is left."""
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.02)


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    adopt_orphans()
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "py-tmp"))
    # Everything the run writes stays under tmp: Python's and the JVM's
    # temp files, Spark scratch, the engine's tables. Workers inherit the
    # environment, so the engine package resolves from this checkout.
    os.environ["TMPDIR"] = os.path.join(tmp, "py-tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        res = execute(args, tmp)
    finally:
        reap_children()
        shutil.rmtree(tmp, ignore_errors=True)
    return report(args, res)


def run_all(args) -> int:
    """Every workload untraced then traced, as child runs of this script."""
    from workloads import WORKLOADS

    rc = 0
    rows = []
    for name, cls in WORKLOADS.items():
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            t = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            print(f"# {name} trace={trace}: exit {p.returncode} in {time.time() - t:.0f}s")
            if p.returncode != 0 or not lines:
                print(p.stdout[-4000:], p.stderr[-4000:], sep="\n")
                rc = 1
                continue
            res = json.loads(lines[-1])
            if trace == 0:
                untraced = {k: v["value"] for k, v in res["metrics"].items()}
                info = {l.split(" = ")[0][5:]: l.split(" = ", 1)[1]
                        for l in lines if l.startswith("info ")}
                ops = [l for l in lines if l.startswith("metric ops_failed_frac")]
            else:
                with open(os.path.join(OUT, f"spans-{name}-seed{args.seed}.json")) as fh:
                    traced = json.load(fh)["e2e"]
                rows.append((cls, untraced, traced, info, ops))
    print()
    print(f"{'workload':12} {'metric':28} {'untraced':>14} {'traced':>14} {'overhead':>9}")
    for cls, untraced, traced, info, ops in rows:
        for issue_name, key in cls.named.items():
            unit = dict(END_TO_END).get(key, "")
            if key in untraced:
                u, t = untraced[key], traced[key]
                print(f"{cls.name:12} {issue_name:28} {u:14.6g} {t:14.6g} {(t - u) / u:+9.1%}  {unit}")
            elif key in info:
                print(f"{cls.name:12} {issue_name:28} {info[key]:>14}")
        for line in ops:
            print(f"{cls.name:12} {line[7:]}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

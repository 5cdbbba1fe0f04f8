"""Run-wide plumbing: the pinned Spark session, process measurements and the
small statistics every workload shares.

Nothing here touches the engine's internals: the session comes from the
engine's own ``get_spark`` with every setting that matters pinned by the
benchmark, and the process numbers are read from ``/proc`` and the JVM's
management beans.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import statistics
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gib() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


# Driver heap for every session, fixed and pre-touched (-Xms = -Xmx): the
# largest input here is 180k events, and 2 GiB leaves the rest of a 16 GiB
# box to the OS page cache and the Python workers the curation path forks.
# A fixed heap keeps peak RSS from following the collector's heap-growth
# decisions, so peak_rss_mb moves with off-heap, metaspace and Python
# memory; heap pressure shows as jvm.gc_s instead.
DRIVER_MEMORY = "2g"


class Session:
    """One SparkSession at a time, all scratch under the run's temporary
    root. ``restart(cores)`` swaps the master inside the same JVM (the
    single-thread baseline)."""

    def __init__(self, tmp: str, cores: int) -> None:
        self.tmp = tmp
        self.cores = cores
        self.spark = None
        self.restart(cores)

    def restart(self, cores: int):
        from endor_blockchain_data_pipeline_spark.session import get_spark, stop_spark

        if self.spark is not None:
            stop_spark()
        self.cores = cores
        jtmp = os.path.join(self.tmp, "jvm-tmp")
        os.makedirs(jtmp, exist_ok=True)
        self.spark = get_spark(
            f"perfbench-local{cores}",
            master=f"local[{cores}]",
            # 2x the cores, the engine's own sizing rule; AQE coalesces down
            shuffle_partitions=2 * max(cores, 4),
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={jtmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the driver JVM itself, and wait for it to
        end: left alone, the JVM outlives this process by a second or two."""
        from pyspark import SparkContext

        from endor_blockchain_data_pipeline_spark.session import stop_spark

        if self.spark is not None:
            stop_spark()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        proc = gateway.proc
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # ---- process measurements ----

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        # fields[11], fields[12] = utime, stime (after the comm field)
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def jvm_hwm_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def gc_s(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def last_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def versions(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {
            "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"),
        }


def peak_rss_mb(session: Session) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return session.jvm_hwm_mb() + py


class ProcMeter:
    """CPU and GC over one timed section (JVM + driver Python)."""

    def __init__(self, session: Session) -> None:
        self.s = session
        self.t0 = time.perf_counter()
        self.cpu0 = session.jvm_cpu_s() + sum(os.times()[:2])
        self.gc0 = session.gc_s()

    def stop(self) -> dict:
        wall = time.perf_counter() - self.t0
        cpu = self.s.jvm_cpu_s() + sum(os.times()[:2]) - self.cpu0
        return {
            "proc.cpu_util": cpu / (wall * nproc()),
            "jvm.gc_s": self.s.gc_s() - self.gc0,
        }


# ---- statistics ----


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; below 20 samples that percentile would sit at or
    under the median, so the maximum is reported instead."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return (xs[-1] if xs else 0.0), 100.0
    k = n - 11  # ten samples strictly above index k
    return xs[k], 100.0 * (k + 1) / n


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t, out


# ---- lake facts read from committed manifests ----


def live_bytes(table) -> int:
    """Bytes of the data files the latest snapshot references."""
    m = table.manifest()
    if m is None:
        return 0
    return sum(
        os.path.getsize(os.path.join(table.path, f))
        for files in m["buckets"].values()
        for f in files
    )


def manifest_bytes(table) -> int:
    v = table.current_version()
    if v == 0:
        return 0
    return os.path.getsize(os.path.join(table.path, "_manifests", f"v{v:08d}.json"))


def fingerprint(df) -> tuple:
    """Order-insensitive state fingerprint: rows, xor of row hashes, and a
    column sum (the replay-equality check of the engine's own bench)."""
    import pyspark.sql.functions as F

    cols = ", ".join(df.columns)
    r = df.select(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({cols}))").alias("h"),
        F.sum("turn_idx").alias("s"),
    ).first()
    return (int(r["n"]), int(r["h"] or 0), int(r["s"] or 0))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)

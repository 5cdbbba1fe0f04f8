"""Physical-parallelism helpers for row-multiplying operators.

Spark sizes scan partitions by INPUT bytes (``maxPartitionBytes``), which is
right for scans but wrong ahead of a fan-out: a k-shingle explode multiplies
rows ~(len(text)-k)x, so a compact-but-dense table (one parquet file at
small scale, a few files after compaction) funnels the whole explode +
hash + partial-agg pipeline through a handful of cores while the rest of
the cluster idles. Measured here: the same MinHash signature job over a
single-partition scan ran 9x slower than over 32 partitions — the shuffle
that fixes it moves only the compact pre-explode rows.

At 100 TB the table has thousands of files and the scan is already wide —
the helper is a no-op there (the check is on the PLANNED partition count,
not table size), so it never adds a shuffle where the layout provides
parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Cut the lineage and pin the result for plans that read it more than
    once (self-joins over derived tables, iterative loops).

    Default: ``localCheckpoint`` — executor-local memory+disk blocks, the
    fastest option, but blocks die with their executor. If the session has
    a reliable checkpoint directory configured
    (``sc.setCheckpointDir(hdfs_path)`` on a real cluster), this switches
    to ``checkpoint()`` automatically: same call shape, executor-loss
    resilient. Operators call this instead of hardcoding either mode, so
    one deployment setting flips the whole engine.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def parallelize_for_fanout(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a compact input ahead of a row-multiplying
    explode, if (and only if) the input is byte-small enough that the scan
    cannot provide the target parallelism.

    The decision probe is DRIVER-SIDE METADATA ONLY: ``df.inputFiles()``
    (the leaf files of the plan) plus local ``os.path.getsize``. The
    previous ``df.rdd.getNumPartitions()`` probe was NOT free under AQE —
    when the plan contains exchanges (joins/aggregates upstream), ``toRdd``
    eagerly materializes those shuffle stages and the work is discarded,
    running them twice. File stats launch no job ever.

    Rule: total leaf-input bytes ≤ target × maxPartitionBytes ⇒ the scan
    planner cannot produce ≥ target partitions from the data, so repartition
    (the shuffle moves only the compact pre-explode rows). Bigger inputs —
    and any input whose leaves aren't stat-able local files (remote object
    stores, pure in-memory relations ARE stat-able as zero and repartition,
    which is the safe direction for small test relations) — are left alone:
    at 100 TB the layout already provides width.
    """
    import os

    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    raw = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"
    ).lower().removesuffix("b")
    mult = {
        "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5
    }.get(raw[-1:], 1)
    max_bytes = int(raw[:-1] if mult != 1 else raw) * mult
    files = df.inputFiles()
    if not files:
        # No stat-able leaves (in-memory relation, checkpointed plan, JDBC).
        # The .rdd partition-count probe eagerly materializes any upstream
        # shuffle stages — and under AQE it runs them AGAIN when the result
        # is consumed — so it is only safe when the analyzed plan is narrow.
        # Narrowness is judged on the plan NODE NAMES (first identifier of
        # each rendered line), never on a substring of the whole plan text:
        # a column literally named "joined_at" or "window_start" must not
        # flip the classification. Anything outside the known-narrow
        # allowlist (joins, aggregates, cogroups, ...) counts as wide and
        # repartitions unconditionally — one possibly-redundant lazy
        # shuffle beats double execution of the expensive stages.
        import re

        narrow_nodes = {
            "project", "filter", "localrelation", "logicalrdd", "relation",
            "subqueryalias", "generate", "union", "serializefromobject",
            "deserializetoobject", "mapelements", "typedfilter", "view",
            "globallimit", "locallimit",
        }
        plan = df._jdf.queryExecution().analyzed().toString()
        nodes = {
            m.group(1).lower()
            for line in plan.splitlines()
            if (m := re.match(r"[\s:+\-*']*([A-Za-z][A-Za-z0-9]*)", line))
        }
        if nodes <= narrow_nodes and df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    total = 0
    for uri in files:
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            total += os.path.getsize(path)
        except OSError:
            # non-local leaf (s3/hdfs): no cheap stat — assume the table is
            # production-sized and already wide; do not add a shuffle.
            return df
        if total > target * max_bytes:
            return df
    return df.repartition(target)

"""The benchmark's workloads, each driven through the engine's public API.

Every workload has the same shape: ``setup`` builds its inputs from the
seed (timed; it holds the JVM's first Spark work), ``timed`` runs the
measured section, ``verify`` checks the outputs against an oracle,
``reads`` reads the final lake back, and ``probe`` (traced runs only)
times isolated layer calls over the workload's own WAL. Every workload
reports the same end-to-end numbers under the same names:

- ``events_per_s``      change events applied per second of the timed section
- ``latency_p50_s``     median of the workload's latency series
- ``latency_tail_s``    its highest percentile with ten samples beyond it
- ``stored_bytes_per_event``  live lake bytes per applied event
- ``full_read_rows_per_s``    full-state reads of the final lake (median)

plus ``setup_s`` and ``peak_rss_mb`` from the runner. What the latency
series is differs per workload and is named in ``Workload.latency``.
"""

from __future__ import annotations

import os
import threading
import time

import pyspark.sql.functions as F

import harness as H


def _oracle(wal):
    """One-shot LWW over the whole decoded WAL, cached: the state
    fingerprint and the point-read checks both compare against it."""
    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
    from endor_blockchain_data_pipeline_spark.job import brute_force_state

    return brute_force_state(decode_changes(wal)).persist()


def _winners(table) -> int:
    """Winner rows written by CDC batch commits (compactions excluded),
    from the committed manifests' footer stats."""
    n = 0
    for h in table.history():
        if h["stats"].get("compaction"):
            continue
        m = table.manifest(h["version"])
        n += sum(int(s["n_rows"]) for s in m.get("new_bucket_stats", {}).values())
    return n


class Workload:
    name = ""
    loop = ""  # "open" or "closed", with its rate or client count
    latency = ""  # what the latency series is
    POINT_READS = 4
    # the read path is still warming up over its first reads (each faster
    # than the one before), so two untimed reads, then at least five
    READ_WARM = 2
    READ_MIN = 5
    READ_S = 2.0
    # per-workload names of the end-to-end metrics (or ``info`` entries),
    # as ``--workload all`` prints them
    named: dict[str, str] = {}

    def __init__(self, run) -> None:
        self.run = run
        self.spark = run.session.spark
        self.tmp = run.tmp
        self.seed = run.seed
        self.lat: list[float] = []
        self.info: dict = {}

    def path(self, *parts) -> str:
        return os.path.join(self.tmp, self.name, *parts)

    # -- shared tail of every workload --

    def reads(self, table, rows: int, truth) -> float:
        """The read phase every workload ends with: full-state reads to a
        noop sink after ``READ_WARM`` untimed warm-up reads, at least
        ``READ_MIN`` and for at least ``READ_S`` seconds (returns their
        median rate), then bucket-pruned point reads of a seeded sample of
        conversations, each checked against the oracle state ``truth``."""
        from endor_blockchain_data_pipeline_spark.sources.lake import bucket_expr

        tr = self.run.tracer
        for _ in range(self.READ_WARM):
            H.noop(table.read(self.spark))
        ts = []
        while len(ts) < self.READ_MIN or sum(ts) < self.READ_S:
            t = time.perf_counter()
            with tr.span("lake.read_exec"):
                H.noop(table.read(self.spark))
            ts.append(time.perf_counter() - t)
        sample = (
            truth.select("conv_id", bucket_expr(table.bucket_key, table.n_buckets).alias("b"))
            .distinct()
            .orderBy(F.xxhash64("conv_id", F.lit(self.seed)))
            .limit(self.POINT_READS)
            .collect()
        )
        got, lat = {}, []
        for r in sample:
            t = time.perf_counter()
            with tr.span("lake.point_read"):
                got[r.conv_id] = sorted(
                    tuple(x) for x in table.read(self.spark, buckets=[r.b])
                    .where(F.col("conv_id") == r.conv_id).collect()
                )
            lat.append(time.perf_counter() - t)
        want = {c: [] for c in got}
        for x in truth.where(F.col("conv_id").isin(list(got))).collect():
            want[x.conv_id].append(tuple(x))
        bad = [c for c in got if got[c] != sorted(want[c])]
        self.run.attempted += len(got)
        self.run.check("point reads == oracle rows of their conversation", not bad,
                       f"{len(got) - len(bad)}/{len(got)} equal", len(bad))
        self.info["point_read_p50_s"] = H.median(lat)
        truth.unpersist()
        return rows / H.median(ts)

    def finish(self, table, applied: int, rows: int, events_per_s: float, truth) -> dict:
        """End-to-end numbers from the latency series; the runner adds
        the full-read rate (under tracing, like the timed section)."""
        tail, pct = H.tail(self.lat)
        self.info["latency_samples"] = len(self.lat)
        self.info["latency_tail_pct"] = pct
        self.final = (table, rows, truth)
        return {
            "events_per_s": events_per_s,
            "latency_p50_s": H.median(self.lat),
            "latency_tail_s": tail,
            "stored_bytes_per_event": H.live_bytes(table) / applied,
        }

    def probe_range(self, wal, lo: int, hi: int) -> dict:
        """Isolated layer calls over one WAL range, each to a noop sink,
        median of three: the scan alone, the narrow LWW reduce, and the
        decode of the reduce's winner rows (cached first, so the decode is
        timed without the reduce under it)."""
        from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
        from endor_blockchain_data_pipeline_spark.operators.merge import lww_winner_rows
        from endor_blockchain_data_pipeline_spark.sources.wal import ranged_scan

        raw = ranged_scan(wal, lo, hi)

        def med3(make):
            return H.median(H.timed(H.noop, make())[0] for _ in range(3))

        scan = med3(lambda: raw)
        reduce = med3(lambda: lww_winner_rows(raw, est_rows=hi - lo))
        winners = lww_winner_rows(raw, est_rows=hi - lo).persist()
        winners.count()
        dec = med3(lambda: decode_changes(winners))
        winners.unpersist()
        return {"wal.scan_s": scan, "merge.reduce_s": reduce, "decode.s": dec}


# ====================================================================== backfill


class Backfill(Workload):
    """Bulk catch-up of a pre-materialized parquet WAL, MoR, pipelined
    staging, lineage on, in a few large batches (fewer than the compaction
    threshold). Repeated into fresh tables for the timed section; then the
    same WAL once at local[1]: the single-thread baseline and the replay
    check."""

    name = "backfill"
    loop = "closed, 1 job"
    latency = "catch-up time of one full backfill"
    named = {
        "setup_s": "setup_s",
        "peak_rss_mb": "peak_rss_mb",
        "apply_events_per_s": "events_per_s",
        "apply_events_per_s_1core": "apply_events_per_s_1core",
        "stored_bytes_per_event": "stored_bytes_per_event",
        "winners_per_event": "winners_per_event",
    }
    EVENTS = 180_000
    CONVS = 22_500  # x 24 turns = 540k keys > events: high winners/event
    BATCHES = 3

    def setup(self) -> None:
        from endor_blockchain_data_pipeline_spark.job import CDCJob
        from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
        from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

        self.wal_path = self.path("wal")
        generate_wal(
            self.spark, self.EVENTS, n_convs=self.CONVS, seed=self.seed,
            numPartitions=H.nproc(),
        ).write.parquet(self.wal_path)
        self.wal = self.spark.read.parquet(self.wal_path)
        # warm-up: one batch-sized apply into a throwaway table
        warm = ManifestTable(self.path("warm"))
        CDCJob(self.spark, warm, self.wal, write_mode="mor").run_batch(
            -1, self.EVENTS // self.BATCHES
        )

    def _apply(self, table_path: str):
        from endor_blockchain_data_pipeline_spark.job import CDCJob
        from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

        table = ManifestTable(table_path)
        job = CDCJob(self.spark, table, self.wal, write_mode="mor", compact_threshold=8)
        dt, commits = H.timed(
            job.run_to_watermark, batch_size=-(-self.EVENTS // self.BATCHES)
        )
        return table, dt, len(commits)

    def timed(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.tables = []
        while time.perf_counter() - t0 < seconds or len(self.lat) < 2:
            table, dt, n = self._apply(self.path("lake", f"t{len(self.lat)}"))
            self.tables.append((table, n))
            self.lat.append(dt)

    def verify(self) -> dict:
        run = self.run
        truth = _oracle(self.wal)
        want = H.fingerprint(truth)
        table = self.tables[-1][0]
        got = H.fingerprint(table.read(self.spark))
        batches = sum(n for _, n in self.tables)
        run.attempted += batches
        run.check("backfill state == brute_force_state", got == want, f"{got} vs {want}", batches)
        winners = _winners(table)
        self.info["winners_per_event"] = winners / self.EVENTS
        self.info["table_rows"] = got[0]
        self.want = want
        return self.finish(table, self.EVENTS, got[0],
                           self.EVENTS * len(self.lat) / sum(self.lat), truth)

    def probe(self) -> dict:
        b = -(-self.EVENTS // self.BATCHES)
        return self.probe_range(self.wal, -1, b - 1)

    def after(self) -> None:
        """The local[1] replay: single-thread baseline + equality check."""
        run = self.run
        self.spark = run.session.restart(1)
        self.wal = self.spark.read.parquet(self.wal_path)
        table, dt, n = self._apply(self.path("lake1"))
        self.info["apply_events_per_s_1core"] = self.EVENTS / dt
        got = H.fingerprint(table.read(self.spark))
        run.attempted += n
        run.check("local[1] state == local[nproc] state", got == self.want, f"{got} vs {self.want}", n)


# ========================================================================== tail


class Tail(Workload):
    """Open-loop live tail: one releaser thread renames pre-built WAL drops
    into a feed directory on a fixed schedule; the engine polls a
    ParquetFeed and applies with run_to_watermark (MoR, compaction
    threshold 8) - the CLI's ``--feed parquet:`` path."""

    name = "tail"
    RATE = 3.0  # drops released per second
    DROP_EVENTS = 10_000
    CONVS = 200  # x 24 turns = 4.8k keys: a narrow, update-heavy keyspace
    BATCH = 250_000  # the CLI's --batch-size default
    loop = f"open, {RATE:g} drops/s x {DROP_EVENTS} events"
    latency = "drop due time -> commit covering its last LSN"
    named = {
        "setup_s": "setup_s",
        "peak_rss_mb": "peak_rss_mb",
        "lag_p50_s": "latency_p50_s",
        "lag_tail_s": "latency_tail_s",
        "releaser_late_s_max": "releaser_late_s_max",
    }

    def setup(self) -> None:
        from endor_blockchain_data_pipeline_spark.job import CDCJob
        from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
        from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

        self.n_drops = int(self.run.seconds * self.RATE) + 1
        n = self.n_drops * self.DROP_EVENTS
        self.staging = self.path("staging")
        generate_wal(
            self.spark, n, n_convs=self.CONVS, seed=self.seed,
            numPartitions=H.nproc(),
        ).withColumn("_drop", (F.col("lsn") / self.DROP_EVENTS).cast("int")).write.partitionBy(
            "_drop"
        ).parquet(self.staging)
        warm = ManifestTable(self.path("warm"))
        wal0 = self.spark.read.parquet(os.path.join(self.staging, "_drop=0"))
        CDCJob(self.spark, warm, wal0, write_mode="mor").run_to_watermark(self.BATCH)

    def _release(self, t0: float, feed: str) -> None:
        for k in range(self.n_drops):
            due = t0 + k / self.RATE
            time.sleep(max(0.0, due - time.time()))
            os.rename(
                os.path.join(self.staging, f"_drop={k}"),
                os.path.join(feed, f"drop-{k:05d}"),
            )
            self.released.append((due, time.time()))

    def timed(self, seconds: float) -> None:
        from endor_blockchain_data_pipeline_spark.job import CDCJob
        from endor_blockchain_data_pipeline_spark.sources.feeds import ParquetFeed
        from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

        self.feed = self.path("feed")
        os.makedirs(self.feed)
        self.table = ManifestTable(self.path("lake", "t"))
        last_lsn = self.n_drops * self.DROP_EVENTS - 1
        self.released: list[tuple[float, float]] = []
        self.t0 = time.time() + 0.05
        rel = threading.Thread(target=self._release, args=(self.t0, self.feed))
        rel.start()
        try:
            while self.table.watermark() < last_lsn:
                if not os.listdir(self.feed):
                    time.sleep(0.005)
                    continue
                wal = ParquetFeed(self.spark, self.feed).df()
                job = CDCJob(self.spark, self.table, wal, write_mode="mor", compact_threshold=8)
                if not job.run_to_watermark(self.BATCH):
                    time.sleep(0.005)
        finally:
            rel.join()

    def verify(self) -> dict:
        import datetime as dt

        from endor_blockchain_data_pipeline_spark.sources.feeds import ParquetFeed

        run = self.run
        hist = self.table.history()
        commits = [h for h in hist if not h["stats"].get("compaction")]
        ids = [h["batch_id"] for h in commits]
        ranges = sorted((h["lsn_lo"], h["lsn_hi"]) for h in commits)
        contiguous = all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
        covered = ranges and ranges[0][0] == -1 and ranges[-1][1] == self.n_drops * self.DROP_EVENTS - 1
        run.attempted += self.n_drops
        run.check(
            "tail: each batch id committed once, ranges contiguous",
            len(ids) == len(set(ids)) and contiguous and bool(covered),
            f"{len(ids)} commits", self.n_drops,
        )
        wal = ParquetFeed(self.spark, self.feed).df()
        truth = _oracle(wal)
        want = H.fingerprint(truth)
        got = H.fingerprint(self.table.read(self.spark))
        run.check("tail state == brute_force_state(released drops)", got == want,
                  f"{got} vs {want}", self.n_drops)
        # lag of drop k: due time -> first commit whose watermark covers it
        stamps = [
            (h["watermark"], dt.datetime.fromisoformat(h["committed_at"]).timestamp())
            for h in hist
        ]
        for k, (due, _) in enumerate(self.released):
            hi = (k + 1) * self.DROP_EVENTS - 1
            when = min(t for wm, t in stamps if wm >= hi)
            self.lat.append(when - due)
        last_commit = max(t for _, t in stamps)
        events = self.n_drops * self.DROP_EVENTS
        self.info["releaser_late_s_max"] = max(a - d for d, a in self.released)
        self.info["batches"] = len(commits)
        self.info["winners_per_event"] = _winners(self.table) / events
        self.info["table_rows"] = got[0]
        self.wal = wal
        return self.finish(self.table, events, got[0], events / (last_commit - self.t0), truth)

    def probe(self) -> dict:
        return self.probe_range(self.wal, -1, self.n_drops * self.DROP_EVENTS - 1)


# ====================================================================== read_mix


class ReadMix(Workload):
    """Reads beside writes, one closed-loop client: a fixed cycle of
    bucket-pruned point reads, full-state reads, a time-travel read and,
    every ``len(MIX)``-th operation, a small MoR append that adds a
    generation to most buckets and fires compaction at the threshold."""

    name = "read_mix"
    loop = "closed, 1 client"
    latency = "one bucket-pruned point read, collected"
    named = {
        "setup_s": "setup_s",
        "peak_rss_mb": "peak_rss_mb",
        "point_read_p50_s": "latency_p50_s",
        "point_read_tail_s": "latency_tail_s",
        "full_read_rows_per_s": "full_read_rows_per_s",
    }
    CONVS = 2_000  # x 24 turns = 48k keys
    BASE = 48_000  # applied in set-up as GENS generations
    GENS = 6  # the second append reaches the compaction threshold of 8
    APPEND = 2_000
    MAX_APPENDS = 20
    MIX = ("point", "point", "full", "point", "travel", "append")

    def setup(self) -> None:
        from endor_blockchain_data_pipeline_spark.job import CDCJob
        from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable, bucket_expr
        from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal, ranged_scan

        wal_path = self.path("wal")
        generate_wal(
            self.spark, self.BASE + self.MAX_APPENDS * self.APPEND, n_convs=self.CONVS,
            seed=self.seed, numPartitions=H.nproc(),
        ).write.parquet(wal_path)
        self.wal = self.spark.read.parquet(wal_path)
        self.table = ManifestTable(self.path("lake", "t"))
        self.job = CDCJob(self.spark, self.table, self.wal, write_mode="mor", compact_threshold=8)
        self.job.run_to_watermark(self.BASE // self.GENS, limit_batches=self.GENS)
        self.v0 = self.table.current_version()
        self.want0 = H.fingerprint(_oracle(ranged_scan(self.wal, -1, self.table.watermark())))
        self.convs = [
            (r.conv_id, r.b) for r in self.table.read(self.spark).select(
                "conv_id", bucket_expr(self.table.bucket_key, self.table.n_buckets).alias("b")
            ).distinct().orderBy("conv_id").collect()
        ]
        for op in ("point", "full", "travel"):  # warm-up, untimed
            self._op(op, self.convs[0])

    def _op(self, op: str, conv):
        t = self.table
        if op == "point":
            rows = t.read(self.spark, buckets=[conv[1]]).where(F.col("conv_id") == conv[0]).collect()
            return sorted(tuple(x) for x in rows)
        if op == "full":
            return H.noop(self.job.read_state())
        if op == "travel":
            return H.fingerprint(t.read(self.spark, version=self.v0))
        return self.job.run_to_watermark(self.APPEND, limit_batches=1)

    def timed(self, seconds: float) -> None:
        import random

        rng = random.Random(self.seed)
        self.points: list[tuple[str, int, list]] = []  # (conv_id, watermark, rows)
        self.travels: list[tuple] = []
        self.appends = 0
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < seconds or not self.appends:
            op = self.MIX[i % len(self.MIX)]
            i += 1
            if op == "append" and self.appends == self.MAX_APPENDS:
                continue
            conv = rng.choice(self.convs)
            wm = self.table.watermark()
            dt, out = H.timed(self._op, op, conv)
            if op == "point":
                self.lat.append(dt)
                self.points.append((conv[0], wm, out))
            elif op == "travel":
                self.travels.append(out)
            elif op == "append":
                self.appends += 1
        self.ops = i
        self.timed_s = time.perf_counter() - t0

    def verify(self) -> dict:
        from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
        from endor_blockchain_data_pipeline_spark.job import brute_force_state
        from endor_blockchain_data_pipeline_spark.sources.wal import ranged_scan

        run = self.run
        run.attempted += self.ops
        bad = 0
        for wm in sorted({wm for _, wm, _ in self.points}):
            convs = sorted({c for c, w, _ in self.points if w == wm})
            want: dict[str, list] = {c: [] for c in convs}
            decoded = decode_changes(ranged_scan(self.wal, -1, wm)).where(F.col("conv_id").isin(convs))
            for x in brute_force_state(decoded).collect():
                want[x.conv_id].append(tuple(x))
            bad += sum(rows != sorted(want[c]) for c, w, rows in self.points if w == wm)
        run.check("read_mix point reads == oracle rows at their version", not bad,
                  f"{len(self.points) - bad}/{len(self.points)} equal", bad)
        wrong = sum(fp != self.want0 for fp in self.travels)
        run.check("read_mix time-travel reads == oracle at the set-up version", not wrong,
                  f"{len(self.travels) - wrong}/{len(self.travels)} equal", wrong)
        wm = self.table.watermark()
        truth = _oracle(ranged_scan(self.wal, -1, wm))
        want = H.fingerprint(truth)
        got = H.fingerprint(self.table.read(self.spark))
        run.check("read_mix state == brute_force_state", got == want, f"{got} vs {want}",
                  self.appends)
        self.info["ops"] = self.ops
        self.info["appends"] = self.appends
        self.info["winners_per_event"] = _winners(self.table) / (wm + 1)
        self.info["table_rows"] = got[0]
        return self.finish(self.table, wm + 1, got[0],
                           self.appends * self.APPEND / self.timed_s, truth)

    def probe(self) -> dict:
        return self.probe_range(self.wal, -1, self.table.watermark())


# =================================================================== curate_live

# Word pool for the conversation-shaped WAL's turn templates.
_WORDS = (
    "stream table merge replay window offset commit bucket schema column "
    "record batch tail source sink index shard replica leader follower "
    "quorum ledger journal segment partition cursor snapshot restore backup "
    "archive vacuum compact rewrite layout footer header payload envelope "
    "decoder encoder parser lexer token grammar clause predicate pushdown "
    "pruning filter project aggregate reduce shuffle exchange broadcast "
    "sorted hashed ranged skewed salted pinned cached spilled paged mapped "
    "latency throughput backlog freshness watermark checkpoint lineage "
    "manifest registry catalog version history travel rollback forward "
    "update insert delete upsert tombstone generation reader writer client "
    "server gateway proxy router balancer queue topic consumer producer"
).split()


def conversation_wal(spark, n_events: int, n_convs: int, seed: int, group_size: int = 6):
    """generate_wal's change stream (hot head, ~8% deletes, mid-stream
    ``tool`` field) with conversation-shaped text: conversations fall into
    groups of ~``group_size`` that share a per-turn template sentence, and
    half the events swap one word - many exact and near-duplicate turns."""
    from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal

    wal = generate_wal(spark, n_events, n_convs=n_convs, max_turns=6, seed=seed,
                       numPartitions=H.nproc())
    p = F.from_json(F.decode("payload", "UTF-8"),
                    "role string, text string, tool string, ts string")
    group = F.pmod(F.xxhash64("conv_id", F.lit(seed)), F.lit(max(n_convs // group_size, 1)))
    vocab = F.array(*[F.lit(w) for w in _WORDS])

    def pick(*cols):
        h = F.xxhash64(*cols, F.lit(seed))
        return F.element_at(vocab, (F.pmod(h, F.lit(len(_WORDS))) + 1).cast("int"))

    pos = F.pmod(F.xxhash64("lsn", F.lit("pos"), F.lit(seed)), F.lit(12))
    edit = F.pmod(F.xxhash64("lsn", F.lit("edit"), F.lit(seed)), F.lit(4)) == 0
    words = [
        F.when(edit & (pos == i), pick("lsn", F.lit("alt"))).otherwise(
            pick(group, "turn_idx", F.lit(i))
        )
        for i in range(12)
    ]
    text = F.concat(F.concat_ws(" ", *words), F.lit("."))
    role = F.when(F.col("turn_idx") % 2 == 0, F.lit("user")).otherwise(F.lit("assistant"))
    c = F.col("_p")
    with_tool = F.to_json(F.struct(role.alias("role"), text.alias("text"),
                                   c.tool.alias("tool"), c.ts.alias("ts")))
    no_tool = F.to_json(F.struct(role.alias("role"), text.alias("text"), c.ts.alias("ts")))
    payload = F.when(c.isNull(), F.lit(None)).otherwise(
        F.when(c.tool.isNull(), no_tool).otherwise(with_tool)
    )
    return wal.withColumn("_p", p).select(
        "lsn", "op", "conv_id", "turn_idx", F.encode(payload, "UTF-8").alias("payload"), "ts"
    )


class CurateLive(Workload):
    """CDC apply with LiveCuration folded into every batch
    (run_with_curation), timed after a bootstrap batch done in set-up.
    The timed batches are the first two incremental ones; the first runs
    slower than the second, and both sit at the same place in every run
    (a warm-up batch in set-up would cost ~10 s of every run)."""

    name = "curate_live"
    loop = "closed, 1 job"
    latency = "one batch: apply + curation refresh"
    named = {
        "setup_s": "setup_s",
        "peak_rss_mb": "peak_rss_mb",
        "refresh_p50_s": "latency_p50_s",
        "curate_events_per_s": "events_per_s",
    }
    CONVS = 400
    BOOT = 2_000
    BATCH = 1_000
    MIN_BATCHES = 2  # a batch takes ~10 s: the latency is a median of two
    EVENTS = BOOT + 8 * BATCH
    BUCKETS = 4
    # near-index params equal to minhash_candidates' defaults, so the live
    # index and the one-shot funnel compute the same candidate pairs
    IDX = {"k_shingle": 12, "n_hashes": 8, "n_bands": 4}
    FUNNEL = {"dup_word_max": 0.3}

    def setup(self) -> None:
        from endor_blockchain_data_pipeline_spark.job import CDCJob
        from endor_blockchain_data_pipeline_spark.operators.live_curation import LiveCuration
        from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable

        wal_path = self.path("wal")
        conversation_wal(self.spark, self.EVENTS, self.CONVS, self.seed).write.parquet(wal_path)
        self.wal = self.spark.read.parquet(wal_path)
        self.table = ManifestTable(self.path("lake", "t"), n_buckets=self.BUCKETS)
        # threshold 2: each batch's new generation is folded right after
        # it lands, so the compaction layer runs on every timed batch
        self.job = CDCJob(self.spark, self.table, self.wal, write_mode="mor",
                          compact_threshold=2)
        self.cur = LiveCuration(self.spark, self.path("cur"), self.table,
                                n_buckets=self.BUCKETS, **self.FUNNEL, **self.IDX)
        self.job.run_with_curation(self.BOOT, self.cur, limit_batches=1)

    def timed(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.lo0 = self.table.watermark()
        while (time.perf_counter() - t0 < seconds or len(self.lat) < self.MIN_BATCHES) and (
            self.table.watermark() < self.EVENTS - 1
        ):
            dt, _ = H.timed(self.job.run_with_curation, self.BATCH, self.cur, limit_batches=1)
            self.lat.append(dt)

    def verify(self) -> dict:
        from endor_blockchain_data_pipeline_spark.operators.curate import curate_transcripts
        from endor_blockchain_data_pipeline_spark.sources.wal import ranged_scan

        run = self.run
        wm = self.table.watermark()
        truth = _oracle(ranged_scan(self.wal, -1, wm))
        want = H.fingerprint(truth)
        got = H.fingerprint(self.table.read(self.spark))
        run.attempted += len(self.lat)
        run.check("curate_live lake == brute_force_state", got == want, f"{got} vs {want}",
                  len(self.lat))
        out_dir = self.path("one-shot")
        funnel = curate_transcripts(self.spark, self.table.path, out_dir, None, **self.FUNNEL)
        cols = ["conv_id", "quality_pass", "exact_keep", "near_keep", "decont_pass", "final_keep"]
        one = {r[0]: tuple(r) for r in self.spark.read.parquet(f"{out_dir}/verdicts").select(*cols).collect()}
        live = {r[0]: tuple(r) for r in self.cur.verdicts_df().select(*cols).collect()}
        # A conversation whose every turn was deleted has no transcript, so
        # the one-shot funnel has no row for it, while the live verdicts
        # keep an all-False row (the engine does not tombstone it). It ships
        # nothing; it is counted, not failed, and must never be kept.
        stale = [c for c in live if c not in one]
        ok = all(live.get(c) == v for c, v in one.items()) and not any(live[c][-1] for c in stale)
        run.check("live verdicts == one-shot curate_transcripts (conversations in the lake)", ok,
                  f"{len(one)} conversations, {len(stale)} stale unkept rows", len(self.lat))
        self.info["stale_verdict_rows"] = len(stale)
        events = wm - self.lo0
        self.info["funnel"] = {k: funnel[k] for k in (
            "input", "after_quality", "after_exact_dedup", "after_near_dedup", "final")}
        self.info["winners_per_event"] = _winners(self.table) / (wm + 1)
        self.info["table_rows"] = got[0]
        return self.finish(self.table, wm + 1, got[0], events / sum(self.lat), truth)

    def probe(self) -> dict:
        return self.probe_range(self.wal, -1, self.table.watermark())


WORKLOADS = {w.name: w for w in (Backfill, Tail, ReadMix, CurateLive)}

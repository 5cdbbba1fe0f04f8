"""Feed backends: parquet dir, JSON drops, and binary block files expose
the same WAL contract."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from endor_blockchain_data_pipeline_spark.sources.feeds import (
    BinaryDirFeed,
    JsonDirFeed,
    ParquetFeed,
    write_binary_drops,
)
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal, write_wal_batches


def test_parquet_feed_contract(spark, tmp_path):
    n = 1500
    wal = generate_wal(spark, n, n_convs=16, seed=13)
    write_wal_batches(wal, str(tmp_path / "drops"), batch_size=500, n_events=n)
    feed = ParquetFeed(spark, str(tmp_path / "drops"))
    assert feed.max_lsn() == n - 1
    sl = feed.scan(499, 999)
    assert sl.count() == 500
    assert sl.agg(F.min("lsn"), F.max("lsn")).first() == (500, 999)


def test_json_dir_feed_contract(spark, tmp_path):
    rows = [
        {"lsn": i, "op": "insert", "conv_id": f"c{i%3}", "turn_idx": i % 4,
         "payload": json.dumps({"role": "user", "text": f"t{i}", "ts": "2024-01-01 00:00:00"}),
         "ts": "2024-01-01T00:00:%02d" % (i % 60)}
        for i in range(40)
    ]
    p = tmp_path / "json"
    p.mkdir()
    (p / "drop1.json").write_text("\n".join(json.dumps(r) for r in rows))
    feed = JsonDirFeed(spark, str(p))
    df = feed.df()
    assert dict(df.dtypes)["payload"] == "binary"  # decode-ready blob
    assert feed.max_lsn() == 39
    assert feed.scan(9, 19).count() == 10

    # decodes through the standard path
    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes

    dec = decode_changes(feed.scan(-1, 39))
    assert dec.where(F.col("text").isNull()).count() == 0
    assert dec.count() == 40


def test_binary_dir_feed_contract(spark, tmp_path):
    """S4: binaryFile scan -> Arrow block decode -> explode; golden row-set
    equality with the source WAL (EthereumTransactionsPipelineTest.scala:21-31
    analog) and the standard watermark/scan contract."""
    n = 1200
    wal = generate_wal(spark, n, n_convs=16, seed=21).cache()
    n_files = write_binary_drops(wal, str(tmp_path / "bins"), records_per_file=250)
    assert n_files == 5  # 1200 / 250 -> 5 drops

    feed = BinaryDirFeed(spark, str(tmp_path / "bins"))
    df = feed.df()
    assert dict(df.dtypes) == {
        "lsn": "bigint", "op": "string", "conv_id": "string",
        "turn_idx": "int", "payload": "binary", "ts": "timestamp",
    }
    # golden: full row-set equality, order-insensitive
    src = {tuple(r) for r in wal.collect()}
    got = {tuple(r) for r in df.collect()}
    assert got == src
    assert feed.max_lsn() == n - 1
    assert feed.scan(499, 999).count() == 500


def test_cdc_through_binary_feed(spark, tmp_path):
    """A CDC run fed from binary drops equals the brute-force replay oracle."""
    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
    from endor_blockchain_data_pipeline_spark.job import CDCJob, brute_force_state
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
    from tests.conftest import assert_df_equal

    n = 1000
    wal = generate_wal(spark, n, n_convs=12, seed=31).cache()
    write_binary_drops(wal, str(tmp_path / "bins"), records_per_file=200)
    feed = BinaryDirFeed(spark, str(tmp_path / "bins"))
    table = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    job = CDCJob(spark, table, feed.df(), write_mode="mor", compact_threshold=100)
    job.run_to_watermark(batch_size=300)
    assert_df_equal(job.read_state(), brute_force_state(decode_changes(wal)))


def test_cdc_over_parquet_drops_applies_each_drop_once(spark, tmp_path):
    """A stream is repeated batch runs over a watermarked feed: each run
    applies the drops that landed since the last commit, a run with no new
    drop commits nothing, and the state equals the replay oracle."""
    from endor_blockchain_data_pipeline_spark.functions.decode import decode_changes
    from endor_blockchain_data_pipeline_spark.job import CDCJob, brute_force_state
    from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
    from tests.conftest import assert_df_equal

    n = 2000
    drops = str(tmp_path / "drops")
    wal = generate_wal(spark, n, n_convs=32, max_turns=6, seed=21, tool_from_lsn=1000)
    assert len(write_wal_batches(wal, drops, batch_size=500, n_events=n)) == 4
    table = ManifestTable(str(tmp_path / "t"), n_buckets=4)

    def run():
        feed = ParquetFeed(spark, drops).df()
        return CDCJob(spark, table, feed, compact_threshold=100).run_to_watermark(500)

    assert len(run()) == 4
    assert_df_equal(table.read(spark), brute_force_state(decode_changes(wal)))
    v = table.current_version()
    assert run() == [] and table.current_version() == v

    more = generate_wal(spark, n + 600, n_convs=32, max_turns=6, seed=21, tool_from_lsn=1000)
    more.where(F.col("lsn") >= n).write.parquet(f"{drops}/batch-{n - 1}-{n + 599}")
    assert [(m["lsn_lo"], m["lsn_hi"]) for m in run()] == [(n - 1, n + 499), (n + 499, n + 599)]
    assert_df_equal(table.read(spark), brute_force_state(decode_changes(more)))


def test_jdbc_stripe_bounds_cover_real_range(spark):
    """The JDBC reader's stripes must cover the probed (checkpoint, max]
    range — sentinel bounds (lowerBound=-1, upperBound=2^62) would put every
    real LSN in stripe 0 and serialize the read on one connection."""
    from endor_blockchain_data_pipeline_spark.sources.feeds import JdbcFeed

    feed = JdbcFeed(spark, "jdbc:h2:mem:none", "wal", num_partitions=200)
    info = feed.partition_info(999, 5_000_999)
    assert info == {"lowerBound": 1000, "upperBound": 5_001_000, "numPartitions": 200}
    # Spark stride = (upper - lower) / n: with REAL bounds every stripe holds
    # an equal share of pending LSNs (the sentinel shape put 100% in stripe 0)
    stride = (info["upperBound"] - info["lowerBound"]) / info["numPartitions"]
    assert stride == 25_000.0

    # small catch-up: never more stripes (connections) than pending rows
    assert feed.partition_info(10, 13)["numPartitions"] == 3
    # empty/degenerate range stays a valid single-stripe read
    assert feed.partition_info(7, 7)["numPartitions"] == 1
    assert feed.partition_info(7, 8)["lowerBound"] == 8

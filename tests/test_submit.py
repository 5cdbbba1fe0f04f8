"""Deployment smoke test: spark-submit --py-files <pkg.zip> runs the CDC job.

The north-star contract says the job "runs under spark-submit --py-files on
multi-executor clusters"; this proves the packaged artifact is
self-contained — the driver script imports the engine ONLY from the zip
(cwd is moved away from the repo), applies a WAL, and replays idempotently.
"""

from __future__ import annotations

import os
import subprocess
import sys

DRIVER = """
import sys
from endor_blockchain_data_pipeline_spark.job import CDCJob
from endor_blockchain_data_pipeline_spark.sources.lake import ManifestTable
from endor_blockchain_data_pipeline_spark.sources.wal import generate_wal
from pyspark.sql import SparkSession

spark = (SparkSession.builder.appName("submit-smoke")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
wal = generate_wal(spark, 5000, n_convs=16, max_turns=6, seed=3)
table = ManifestTable(sys.argv[1], n_buckets=4)
job = CDCJob(spark, table, wal, write_mode="mor", compact_threshold=100)
n = len(job.run_to_watermark(batch_size=2500))
state = job.read_state().count()
print(f"SUBMIT_RESULT batches={n} state_rows={state}")
spark.stop()
"""


def test_spark_submit_with_pyfiles_zip(tmp_path):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import package as pkg

    zip_path = pkg.build(str(tmp_path / "engine.zip"))
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    table_dir = str(tmp_path / "table")

    spark_home = os.path.dirname(os.path.abspath(__import__("pyspark").__file__))
    submit = os.path.join(spark_home, "bin", "spark-submit")
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY way to the engine

    def run():
        return subprocess.run(
            [submit, "--master", "local[4]", "--py-files", zip_path, str(driver), table_dir],
            capture_output=True, text=True, timeout=540,
            cwd=str(tmp_path),  # away from the repo: no accidental cwd import
            env=env,
        )

    r1 = run()
    assert "SUBMIT_RESULT batches=2" in r1.stdout, r1.stdout[-2000:] + r1.stderr[-2000:]
    # idempotent re-submit over the same table: zero batches, same state
    r2 = run()
    assert "SUBMIT_RESULT batches=0" in r2.stdout, r2.stdout[-2000:] + r2.stderr[-2000:]
    rows1 = r1.stdout.split("state_rows=")[1].split()[0]
    rows2 = r2.stdout.split("state_rows=")[1].split()[0]
    assert rows1 == rows2

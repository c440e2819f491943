"""Launch-shape evidence for the north rule: spark-submit --py-files
dataprofiler_spark.zip from OUTSIDE the repo, with the Arrow equality
kernel exercised so Python workers must import the package from the zip
(driver-side sys.path does not propagate — CLAUDE.md gotcha 13)."""

import os
import subprocess
import sys
import tempfile

JOB = """
from pyspark.sql import SparkSession
spark = (SparkSession.builder.appName("submit-smoke")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dataprofiler_spark.sources.synthetic import gen_sequences, gen_sources_ref
from dataprofiler_spark.operators.checks import run_sequence_suite
bad = gen_sequences(spark, 2000, violations=True)
res = run_sequence_suite(bad, gen_sources_ref(spark), exact=False)
v = res.verdicts.collect()
print("SUBMIT_SMOKE_VERDICTS", len(v), "FAILED", sum(1 for r in v if not r.passed))
spark.stop()
"""


def test_spark_submit_py_files_zip():
    from dataprofiler_spark.package import build_zip

    with tempfile.TemporaryDirectory() as d:
        zip_path = build_zip(os.path.join(d, "dataprofiler_spark.zip"))
        job = os.path.join(d, "job.py")
        with open(job, "w") as f:
            f.write(JOB)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["PYSPARK_PYTHON"] = sys.executable
        out = subprocess.run(
            ["spark-submit", "--master", "local[4]", "--py-files", zip_path, job],
            cwd=d,  # NOT the repo: the zip must be the only import source
            env=env,
            capture_output=True,
            text=True,
            timeout=360,
        )
        marker = [l for l in out.stdout.splitlines() if "SUBMIT_SMOKE_VERDICTS" in l]
        assert marker, out.stderr[-2000:]
        parts = marker[0].split()
        n_verdicts, n_failed = int(parts[1]), int(parts[3])
        assert n_verdicts > 0 and 0 < n_failed < n_verdicts

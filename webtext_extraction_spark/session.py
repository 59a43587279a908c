"""SparkSession factory with scale-oriented defaults.

Local mode here is a proxy for a multi-executor cluster; every conf is
chosen to survive a 1000-executor / 100 TB deployment:

- AQE on (runtime coalesce + skew-join splitting) — the Spark-native
  answer to the reference's straggler problem (SURVEY.md §2.9).
- One Arrow batch size, ``ARROW_BATCH_ROWS`` rows (jobs/run_extract.py
  sets it too); Spark's 64 MB ``arrow.maxBytesPerBatch`` bounds batches
  of heavy rows (0.7 MB rows arrive 96 to a UDF batch, 8 MB rows 9).
- shuffle partitions sized to cores locally; on a real cluster this is
  2-3× total executor cores (or left to AQE's coalescing).
- Python workers import the installed pyspark, not SPARK_HOME's
  ``pyspark.zip``: ``spark.python.daemon.module`` selects
  ``worker_daemon``, which takes the pyspark/py4j zips and the
  spark-core jar off the worker's ``sys.path`` (pyspark re-reads every
  zip directory on it at the start of each task: 0.21-0.25 s of CPU).
  Sessions made by spark-submit (jobs/run_extract.py,
  jobs/run_curate.py) keep pyspark's own daemon: a cluster executor
  adds ``--py-files`` archives per task, after its daemon has started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the measured optimum for the arrow-native UDF on KB-scale payloads
# (45k bench turns x 32 cores: 512 beat 1024 by 5-8%; 2048/4096 ~10% slower)
ARROW_BATCH_ROWS = 512

# the directory holding this package, on the workers' PYTHONPATH so the
# worker daemon below imports from any driver working directory
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "webtext-extraction",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        # the CPUs this process may run on, not the host's core count
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "webtext_extraction_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

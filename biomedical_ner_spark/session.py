"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (1000-executor cluster over ~100 TB of
documents) while remaining correct on local[N]:

  * AQE on: runtime partition coalescing + skew-join splitting backs up the
    explicit salting the canonicalization stage does (SURVEY.md §4.3.2).
  * Arrow on: every Python crossing is a vectorized record-batch transfer;
    maxRecordsPerBatch sized so a batch of ~100-token docs stays ~10-40 MB.
  * shuffle.partitions: overridable; at cluster scale set ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "biomedical_ner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # local-mode shuffle files default to /tmp (a ~135 MB/s virtual disk
    # here); a real cluster node has fast local SSD — emulate with tmpfs so
    # benchmarks measure the engine, not the sandbox disk
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # throughput GC: G1's concurrent phases contend badly with 32
        # compute threads in a single local-mode JVM (measured 60s -> 21s
        # on the 240k-doc extract+triples job); on a real cluster each
        # executor JVM is smaller and this matters less, but ParallelGC is
        # the right default for batch-throughput work either way
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # a multi-GB old-gen collection under ParallelGC can stall the
        # heartbeat thread past the 120 s default; in local mode a missed
        # heartbeat is FATAL (BlockManager re-registration looks up the
        # CoarseGrainedScheduler endpoint, which only exists on a cluster,
        # so the executor can never rejoin and exits after 60 strikes) —
        # give big-heap batch runs the same slack a production cluster
        # config would
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "30s")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    # Python workers (Arrow UDFs) import this package too; hand them its
    # parent directory so a driver started outside the checkout works
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    b = b.config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH")) if p))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and
spark-submit entrypoints share one configuration story:

- AQE on (runtime coalescing + skew-join splitting, the joins' only
  skew mitigation)
- Arrow execution for every pandas UDF (all kernels are Arrow-batched)
- with no master given, ``local[n]`` over the machine's cores, and
  shuffle partitions matched to the cores the master names; a real
  cluster overrides via spark-submit --conf (documented in README)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "mobilitydb-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """``extra_conf`` lets callers set master-specific knobs (e.g.
    ``local-cluster[n,c,mem]`` needs spark.executor.memory and an
    executor-side PYTHONPATH) without duplicating the defaults."""
    cores = str(os.cpu_count() or 1)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', cores)}]"
    if shuffle_partitions is None:
        # local mode: match core count; on a cluster this is overridden
        n = master[master.find("[") + 1:master.find("]")] if "[" in master \
            else cores
        if n == "*":
            n = cores
        if "," in n:  # local-cluster[N,cores,mem] -> N*cores
            execs, per_exec = n.split(",")[:2]
            shuffle_partitions = max(8, int(execs) * int(per_exec))
        else:
            shuffle_partitions = max(8, int(n))
    b = (SparkSession.builder.appName(app).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
         # 32 MB input splits (not the 128 MB default): the fixtures
         # are a few parquet files of a few MB each, and at 128 MB they
         # pack into fewer read tasks than there are cores, so the scan
         # stage leaves cores idle.  On a real cluster the input is
         # thousands of files and this knob is overridden via
         # spark-submit --conf.
         .config("spark.sql.files.maxPartitionBytes", "33554432")
         .config("spark.ui.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

"""SparkSession builder.

The reference builds its session with ~60 tuned confs
(src/baskerville/spark/__init__.py:14-215), many of which are Spark 2.4
workarounds we deliberately do NOT carry over:

- ``autoBroadcastJoinThreshold=-1`` (spark/__init__.py:165-167, SPARK-25998):
  re-enabled — Spark 3.5+/4.x AQE handles broadcast planning correctly.
- ``spark.sql.codegen.wholeStage=false`` (spark/__init__.py:195): left ON.

What we keep from the reference: UTC session timezone
(spark/__init__.py:62), explicit shuffle-partitions sizing
(spark/__init__.py:164; tests set cpu*2 at
tests/unit/baskerville_tests/helpers/spark_testing_base.py:27).

Scale notes (100 TB / 1000-executor design point):
- AQE on: runtime partition coalescing + skew-join splitting.
- Arrow on with a bounded ``maxRecordsPerBatch``: audio payload rows are
  ~100 KB-1 MB each, so Arrow batches must be capped by *rows*, not left at
  the 10k default, or executor memory blows up in the decode UDF.
- Kryo for the few serialized closures.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch in pandas/Arrow-UDF exchange. Audio rows carry
# ~0.03-1 MB of binary payload, so the BYTES per in-flight batch are what
# matter: at 128 rows a batch is ~4 MB for sub-second clips and ~37 MB for
# 3 s clips — x32 concurrent tasks stays ~1 GB. The old 512 default put
# ~150 MB per batch in flight per core with 3 s clips and drove the local
# JVM into GC thrash/OOM at local[32].
ARROW_BATCH_ROWS = 128


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Driver-JVM heap default scaled to the machine: ~1/2 of physical RAM,
    clamped to [2g, 16g]. In local mode the driver IS the executor, so it
    holds every task's parquet reader and Arrow payload batches — RAM/8
    (2g on a 15 GiB host) OOMs in the vectorized reader on the first
    100k-clip scan; a fixed 16g fails to launch the JVM on smaller hosts.
    Override with ``SPARK_DRIVER_MEM`` either way."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    break
            else:
                return "8g"
    except OSError:  # non-Linux / unreadable → conservative fixed default
        return "8g"
    return f"{max(2, min(16, int(total_gib // 2)))}g"


def get_session(
    app_name: str,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the validation engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``.  On a real cluster this is supplied by spark-submit and the
    ``master`` argument is left None.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        if master.startswith("local["):
            inner = master[6:-1]
            if inner.isdigit():
                n = int(inner)
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # local mode: the driver JVM IS the executor, so the default heap
        # scales with the machine (_default_driver_mem). On a real cluster
        # memory comes from spark-submit.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
    )
    # master() only when not already set by spark-submit
    if not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

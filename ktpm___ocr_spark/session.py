"""SparkSession factory with scale-appropriate defaults.

Configs chosen for the 100 TB design point (they are all safe at local
scale too):

* AQE on, with skew-join splitting — mega-documents (the reference's
  single-big-upload case, ``backend/server.js:133-141`` 50 MB cap) make
  the re-stitch ``groupBy(doc_id)`` shuffle skewed; AQE splits those
  partitions at runtime.
* Arrow enabled for every pandas-UDF boundary; batch size bounded the way
  the reference bounds unit-of-work with its 4500-char chunks
  (``backend/utils/translate.js:110-116``).
* Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle used by the driver's correctness gate.
* ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden by AQE coalescing
  (``spark.sql.adaptive.coalescePartitions.enabled``).
* PySpark's DataFrame call-site capture is off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``F.col``, ``F.lit`` or Column operator makes ~4 extra py4j round
  trips (a JVM class lookup, a conf read, then ``set`` and ``clear`` of
  the Python call site) only to decorate error messages. Plan
  construction is per-call driver work: measured warm on a 4-CPU host,
  10 ``F.col`` took 26 ms with capture against 8 ms without, and
  building the lazy incremental-dedup probe plan 351 ms against 253 ms.
  Errors still carry the JVM-side message and stack.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ktpm-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the engine."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # Parse parallelism out of local[N] for shuffle sizing; on a cluster
    # master won't match and we fall back to a conservative default that
    # AQE re-coalesces at runtime.
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Broadcast threshold: the engine's memo/cache dimension tables are
        # small-by-construction (distinct hashes); favor broadcast joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # keep metastore/warehouse artifacts out of the repo working dir
        .config("spark.sql.warehouse.dir", "/tmp/ktpm_warehouse")
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")
            + " -Dderby.system.home=/tmp/ktpm_derby",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

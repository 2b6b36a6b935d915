"""SparkSession construction tuned for this engine.

The reference platform forces a UTC session timezone at the query engine
(reference: infra/local/trino/etc/config.properties, sql.forced-session-time-zone=UTC);
we do the same engine-wide (SURVEY.md §2.8 F10/F16).

Scale notes (100 TB design):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast demotion are essential once real data skew appears.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  1000-executor cluster raise it to ~2-4x total cores and let AQE coalesce.
- Arrow enabled for any pandas_udf/applyInPandas path so Python stages are
  batch-vectorized, not row-at-a-time.
- Codegen cache sized to the working set (``CODEGEN_CACHE``). Spark keeps
  the classes Janino compiled for whole-stage codegen in one per-JVM LRU
  cache of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.
  A long-lived engine process cycles through more distinct classes than
  that: the 12 headline queries generate ~146, a corpus-sync process
  ~330. Under LRU a cyclic working set larger than the cache misses on
  almost every lookup, so each repeat of the headline set recompiled
  120-140 classes, and the JIT then compiled those fresh classes again.
  An entry pins its generated source as the cache key (~6 KB on average
  for the headline set), the loaded class in metaspace (~2 KB of bytecode
  on average, 15 KB at most, ~10 KB of metaspace per class as measured)
  and, once hot, the JIT's machine code in the code cache, which the JVM
  bounds (``ReservedCodeCacheSize``) and flushes cold methods from.
  ``CODEGEN_CACHE_ENTRIES`` therefore bounds the pin to roughly 20 MB of
  heap and metaspace. The cache is built once per JVM from a *static*
  conf, so it is set here at session construction:
  ``ensure_session_defaults`` cannot apply it to a session someone else
  built (a plain session handed to the query entry points keeps Spark's
  100), and a later session in the same JVM keeps the size the first one
  fixed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reads of parquet files containing TIMESTAMP(NANOS) columns (the driver's
# `events` table) need this; Spark then surfaces them as LongType nanos which
# sources.testdata converts to a microsecond TIMESTAMP.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Scan-split sizing: openCostInBytes models the cost of opening one file as
# scan-byte-equivalents. The 4 MB default is tuned for remote/object storage;
# on local NVMe (or page-cached test data) a file open costs well under 1 MB
# of scan time, and the 4 MB floor collapses small tables to 1-3 splits — an
# expression-heavy scan then runs on 1-3 of N cores. With a small open cost,
# Spark's own bytesPerCore = totalBytes / defaultParallelism drives the split
# size, so scan parallelism adapts to BOTH input size and core count (the
# scale-adaptive behavior the 100 TB story needs: production-size files hit
# the maxPartitionBytes ceiling and this knob is inert; deployments on object
# stores raise it back via SPARK_GRAFT_OPEN_COST).
OPEN_COST = "spark.sql.files.openCostInBytes"
_OPEN_COST_DEFAULT = str(128 * 1024)

# Generated-class cache size (module docstring, "Codegen cache"): covers the
# measured working sets (146 classes for the headline queries, ~330 for a
# corpus-sync process) with headroom for a long-lived process.
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "analytics-data-platform-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    persistent_catalog: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine-wide defaults.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``).
    On a real cluster pass ``master=None`` with an external master URL in the
    environment and these confs still apply.

    ``persistent_catalog=True`` backs the catalog with a durable local
    metastore under ``$SPARK_GRAFT_WAREHOUSE`` (default ``~/.adps_warehouse``)
    so tables and their watermark properties survive across processes — the
    CLI uses this; on a cluster the Iceberg REST catalog plays this role.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(OPEN_COST, os.environ.get("SPARK_GRAFT_OPEN_COST", _OPEN_COST_DEFAULT))
        .config(NANOS_AS_LONG, "true")
        .config(CODEGEN_CACHE, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if persistent_catalog:
        root = os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", os.path.join(os.path.expanduser("~"), ".adps_warehouse")
        )
        os.makedirs(root, exist_ok=True)
        b = (
            b.config("spark.sql.warehouse.dir", os.path.join(root, "warehouse"))
            .config(
                "spark.driver.extraJavaOptions",
                f"-Dderby.system.home={os.path.join(root, 'derby')}",
            )
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ensure_session_defaults(spark)
    return spark


def ensure_session_defaults(spark: SparkSession) -> None:
    """Apply runtime-settable defaults to an externally-created session.

    The verification driver owns its own SparkSession; every public query
    entry point calls this so behavior does not depend on who built the
    session. Only runtime-mutable SQL confs belong here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set(OPEN_COST, os.environ.get("SPARK_GRAFT_OPEN_COST", _OPEN_COST_DEFAULT))

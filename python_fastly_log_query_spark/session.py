"""SparkSession builder with the configs this engine depends on.

Semantics-critical configs:
- session time zone UTC: the reference treats all timestamps as naive UTC
  (reference src/utils/date_utils.py:69-79, README.md:82).
- ``spark.sql.mapKeyDedupPolicy=LAST_WIN``: query-param maps keep the last
  duplicate key, matching the reference's dict overwrite semantics
  (reference src/parse/log_parser.py:96-102).
- Arrow on: the grok parse is ONE Arrow-batched ``mapInArrow`` stage;
  Arrow batching is the vectorized transfer path.
- AQE on (+ skew join): runtime shuffle re-planning for the 100 TB target.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# The semantics-critical confs of the module docstring, set on every
# session this engine builds or runs a registry query on.
SEMANTIC_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}


def work_root() -> str:
    """Scratch root for the warehouse, streaming checkpoints and staged
    tables: ``$SPARK_GRAFT_WORK_DIR``, else ``<tmp>/pflq_spark_work``.
    Never a checkout path, so the package runs from any location, a
    ``--py-files`` zip included."""
    return os.environ.get("SPARK_GRAFT_WORK_DIR") or os.path.join(
        tempfile.gettempdir(), "pflq_spark_work"
    )


def builder_conf(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply this engine's required configs to any SparkSession builder."""
    mem = _driver_mem()
    if mem is not None:
        builder = builder.config("spark.driver.memory", mem)
    for k, v in SEMANTIC_CONFS.items():
        builder = builder.config(k, v)
    return (
        builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a `cli query` op compiles about 207 generated classes; the
        # default cache of 100 would evict them all on every op, and each
        # repeated op in one session would recompile every class
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # JVM sizing (see BENCH/BASELINE.md for the measurements):
        # - G1HeapRegionSize=32m: Arrow batches of wide string/binary rows
        #   are multi-MB allocations; with default G1 region sizing those go
        #   down the humongous-object path, whose allocation lock serializes
        #   executor threads (measured: 26s -> 2s for an identity
        #   Python map stage over 4M wide rows at local[32]).
        # - -Xms == -Xmx: pre-size the heap so early jobs don't pay
        #   repeated grow-the-heap GC cycles (a 2-3x slow first minute).
        #   Both default to 40% of the host's MemTotal.
        # - MetaspaceSize: codegen classloading otherwise trips repeated
        #   "Metadata GC Threshold" concurrent cycles.
        .config("spark.driver.extraJavaOptions", _java_opts(mem))
        .config("spark.executor.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
        # bucketed tables (plans/bucketing.py) register in the session
        # catalog; keep their data out of the repo cwd
        .config("spark.sql.warehouse.dir", os.path.join(work_root(), "spark-warehouse"))
        .config("spark.ui.enabled", "false")
    )


def heap_from_meminfo(meminfo: str) -> str | None:
    """Default driver heap: 40% of ``MemTotal`` in a /proc/meminfo text,
    as a JVM size in MiB; None when the text has no MemTotal line."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return f"{int(line.split()[1]) * 2 // 5 // 1024}m"
    return None


def _driver_mem() -> str | None:
    """``SPARK_GRAFT_DRIVER_MEM``, else 40% of this host's memory; None
    (leave the heap to Spark's default) when /proc/meminfo is unreadable."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            return heap_from_meminfo(f.read())
    except OSError:
        return None


def default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, else one task slot per core this
    process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def _java_opts(mem: str | None) -> str:
    xms = f"-Xms{mem} " if mem else ""
    return (
        f"-XX:G1HeapRegionSize=32m {xms}"
        "-XX:MetaspaceSize=1g -XX:InitiatingHeapOccupancyPercent=70"
    )


def get_spark(
    app_name: str = "python-fastly-log-query-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for this engine.

    ``master`` defaults to :func:`default_master` (``local[N]`` sized to
    this host) in the sandbox; on a real cluster pass None and let
    spark-submit decide.

    ``DEFAULT_SHUFFLE_PARTITIONS`` applies unless the launch conf already
    sets ``spark.sql.shuffle.partitions`` (``spark-submit --conf``,
    spark-defaults.conf): builder options would override it, and AQE's
    coalescing can lower the count but never raise it.
    """
    if master is None:
        master = default_master()
    b = SparkSession.builder.appName(app_name).master(master)
    spark = builder_conf(b).getOrCreate()
    if not spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions"):
        spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    return spark

"""SparkSession factory with scale-aware defaults.

The reference hand-tunes chunk size / pool sizes / IPC chunksize
(reference: src/pipeline/processing.py:100-114); here those knobs map
onto ``spark.sql.shuffle.partitions``, Arrow batch size and AQE. In
local mode the driver is the only JVM, so ``spark.driver.memory`` is
the single memory knob; on a real cluster the same confs apply
per-executor and nothing in this module changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the driver heap's upper bound when SPARK_GRAFT_DRIVER_MEM is unset
MAX_DRIVER_MEM_MB = 16 * 1024
# the JVM's reserved code cache (get_spark explains the size)
CODE_CACHE_OPT = "-XX:ReservedCodeCacheSize=512m"
JAVA_OPTS_KEYS = ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")


def default_driver_mem() -> str:
    """Half of physical memory, at most ``MAX_DRIVER_MEM_MB``: in local
    mode the driver is the only JVM, and a heap the size of the host
    leaves nothing for the Python workers and the page cache."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(MAX_DRIVER_MEM_MB, phys // 2**21)}m"


def get_spark(
    app_name: str = "astrospectro_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Confs chosen for 100 TB-scale behaviour, not just local tests:

    - AQE on (runtime coalesce, skew-join splitting) — the analogue of
      the reference's batch-halving retry (reference:
      src/tools/gaia_crossmatcher.py:434-468).
    - Arrow on, bounded batch size — the analogue of the reference's
      buffer-protocol IPC with chunksize 16 (reference:
      src/pipeline/processing.py:41-44,111-114).
    - UTC session timezone: all transcript timestamps are UTC.

    Sized to the host unless the ``SPARK_GRAFT_*`` variables say
    otherwise: ``local[N]`` and N shuffle partitions for the N cores
    this process may run on (its CPU affinity, so a pinned container
    sizes to its pin), and a driver heap of
    :func:`default_driver_mem`. ``extraJavaOptions`` given in
    ``extra_conf`` keep the code-cache flag (the caller's options come
    after it, so theirs win on a conflict).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 (the legacy default) carries no parquet footer min/max;
        # µs timestamps keep the row-group bounds that Spark's Parquet
        # filter pushdown skips on
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        # The wide feature plans (175/183-column window batteries) emit
        # several hundred distinct codegen fragments per query; the
        # default 100-entry compiled-class cache (StaticSQLConf
        # CODEGEN_CACHE_MAX_ENTRIES) thrashes on them, so EVERY task
        # re-Janino-compiles its projections — measured ~7-9 s of pure
        # compile CPU per task on feature_vector_wide (task cost flat in
        # row count, total CPU linear in task count: the signature of
        # per-task fixed overhead). 2048 entries holds the whole
        # engine's fragment set at a bounded metaspace cost and applies
        # per-JVM (each executor pays the same compile tax on a
        # cluster). Static conf: must be set before the JVM's first
        # session.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # Window-feature stages are compute-bound (~50-100 µs/row on
        # ~200-byte rows ⇒ 1 MB of shuffled input is ~0.5 s of CPU), so
        # AQE's default 1 MB coalesce floor serializes them whenever the
        # table is small in BYTES but heavy in compute — e.g. a 4 MB
        # post-shuffle stage collapses to 4 tasks on 32 cores. A 256 KB
        # floor keeps parallelismFirst's target (input/defaultParallelism)
        # binding instead; it is not set lower so that tiny shuffles do
        # not fragment into tasks whose scheduling overhead exceeds
        # their work. At production scale partitions sit at the advisory
        # size (64 MB+) and the floor is never the binding constraint,
        # so this is a no-op there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    )
    # The wide plans JIT-compile thousands of generated-class methods;
    # the JVM's default 240 MB reserved code cache fills after a few
    # plan variants, the C2 compiler shuts off ("CodeCache is full"),
    # and later queries run interpreted — measured as sporadic 10x
    # stage-CPU storms in long sessions. 512 MB holds the engine's
    # whole compiled set. Applied to driver AND executors (local mode
    # only has the driver; a cluster pays the same tax per executor
    # JVM). Ignored with a warning when attaching to an already-running
    # JVM (e.g. inside spark-submit, which sets its own opts).
    extra = dict(extra_conf or {})
    for k in JAVA_OPTS_KEYS:
        extra[k] = f"{CODE_CACHE_OPT} {extra[k]}" if extra.get(k) else CODE_CACHE_OPT
    # Shuffle/spill dir override — OPT-IN via SPARK_GRAFT_LOCAL_DIR
    # (bench harnesses set it to /dev/shm tmpfs: in local mode all
    # "shuffle" traffic is disk I/O on one host and concurrent writers
    # thrash a single block device long before the CPUs saturate).
    # Not automatic: tmpfs shuffle plus MEMORY_AND_DISK spill both
    # landing in RAM can exhaust memory on long unattended runs. On a
    # real cluster the platform sets fast local SSDs and this is unset.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

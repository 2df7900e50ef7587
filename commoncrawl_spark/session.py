"""SparkSession factory with the engine's standard configuration.

Single-JVM ``local[N]`` in this sandbox; on a real cluster the same
builder options apply (AQE, Arrow, UTC, shuffle partitions ~ cores, a
codegen cache that holds a crawl round's classes). The driver JVM's
C1-only JIT suits a short-lived JVM that runs a few rounds. Python
workers import the package from its zip and fork from
``commoncrawl_spark.pydaemon``.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

# the driver JVM's options (see get_spark): a C1-only JIT, measured to
# pay off in a short-lived JVM that runs a few rounds, not in one that
# drains a frontier
DRIVER_JAVA_OPTIONS = ("-XX:+UseParallelGC -XX:TieredStopAtLevel=1 "
                       "-XX:ReservedCodeCacheSize=256m")


def _package_zip() -> str:
    """Zip this package for the Python workers' ``PYTHONPATH`` — the
    local-mode equivalent of deploying with ``spark-submit --py-files
    .commoncrawl_spark.zip``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(os.path.dirname(pkg_dir), ".commoncrawl_spark.zip")
    mtime = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(pkg_dir)
        for f in fs
        if f.endswith(".py")
    )
    if not os.path.exists(out) or os.path.getmtime(out) < mtime:
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "commoncrawl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores=None`` -> ``local[*]``. ``shuffle_partitions`` defaults to the
    core count (never Spark's 200 default: wrong at both ends locally).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores_str = env if env else "*"
    else:
        cores_str = str(cores)
    n_parts = shuffle_partitions or (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(f"local[{cores_str}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html is a fat binary column: batch knobs must be sized by BYTES,
        # not rows. At real page sizes (~50-100 KB) a 2048-row Arrow batch
        # is ~150 MB per concurrent python worker; at 32 workers that kept
        # the JVM collector permanently busy (measured on the bench corpus:
        # the 32-core leg ran slower than the 8-core leg). 512 rows keeps a
        # batch ~25-50 MB; bench.py pins 256 for its heavier corpus.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # same byte-sizing for the vectorized parquet reader's column
        # batches when scanning pages tables (default 4096 rows).
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # fat binary rows (html) make G1 churn humongous regions; at 32
        # concurrent tasks G1 write barriers halved Arrow-UDF throughput in
        # measurement — ParallelGC is the right collector for this
        # throughput-batch workload (2x on the extraction stage at 32 cores)
        #
        # The driver JIT stops at C1 (TieredStopAtLevel=1), for a
        # short-lived JVM that runs a few rounds. A crawl round runs
        # Catalyst and planner code that a one-round warm-up ran too few
        # times to compile, so with tiered C2 the compiler threads took
        # 5.5-7 of the 15-19 CPU-s of a benchmark round (4-core host),
        # more than the Python extraction; C1 compiles it cheaply: round
        # CPU fell 30-37% on both benchmark workloads, round wall time
        # unchanged. A long-lived JVM pays for it, because C2 code pays
        # back its compile time: in one JVM draining a frontier over 49
        # rounds, rounds 30-48 ran 21-30% longer at the same CPU, and the
        # test suite runs 16-29% longer. C1 alone gets an unsegmented
        # 48 MB code cache, which planner code overflows (the sweeper
        # then flushes and recompiles it); the longest-lived JVM, the
        # full test suite, peaked at 86 MB, so 256 MB keeps ~3x headroom.
        # In local mode this is the JVM that runs every round, task and
        # operator; on a cluster it is the driver only (planning,
        # scheduling, commits), and executors keep tiered C2.
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        # a crawl round's generated classes overflow Spark's default
        # 100-entry codegen cache: each round evicted its own classes
        # before reuse, so Janino recompiled 90-110 sources per benchmark
        # fat_single_round round and 170-180 per discovery_restart round
        # (4-core host), and the JIT compiled every new class again. 1024
        # holds a crawl's working set: an identical repeated round
        # compiles none. A static conf, read once at JVM start.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the reliable-materialization seam (materialize.py) switches
        # to DataFrame.checkpoint when a cluster deployment calls
        # sc.setCheckpointDir; pre-arm the cleaner so GC'd checkpoints
        # are deleted from the fault-tolerant store instead of leaking
        # (no-op while no checkpoint dir is configured)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Python workers import the package from its zip on their
        # PYTHONPATH (the local equivalent of ``--py-files``), and fork
        # from a daemon (``pydaemon``) that keeps each zip's directory
        # while the file is unchanged. PySpark's worker calls
        # importlib.invalidate_caches() at the start of every task, and
        # on CPython 3.11 each zipimporter then re-reads its whole
        # archive directory in pure Python: 12 importers over pyspark.zip
        # (1,328 entries, ~6 ms each), 2 over the spark-core jar (5,359
        # entries, ~26 ms each) and 3 over small zips, ~0.12 CPU-s per
        # task before any engine code ran. With the daemon a worker's
        # CPU per no-op mapInPandas task fell from 183 to 32 ms (median
        # of 316 tasks, 4-core host), and crawl_cpu_s of the
        # discovery_restart benchmark by 21%. The daemon must be
        # importable before any task ships a file, so a spark-submit
        # deploy keeps the stock daemon (README).
        .config("spark.executorEnv.PYTHONPATH", _package_zip())
        .config("spark.python.daemon.module", "commoncrawl_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with engine-wide configuration.

Design notes (SURVEY.md §7 step 1):

- **ANSI off** — the reference nulls any cell whose cast raises
  (``/root/reference/ncd/normal_table.py:109-115``).  Spark's non-ANSI
  ``cast()`` has exactly that semantic; ANSI mode would abort the job instead.
- **LEGACY time parser** — Oracle dates arrive as ``01-JAN-2017``
  (``/root/reference/ncd/normal_table.py:105-107``); the legacy parser accepts
  upper-case month abbreviations for the ``dd-MMM-yyyy`` pattern.
- **AQE on** — runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion.  At 100 TB the static
  ``spark.sql.shuffle.partitions`` is always wrong for *some* stage; AQE
  re-plans per-stage from actual map-output sizes.
- **UTC session timezone** — keeps timestamp semantics identical between the
  Spark engine and the DuckDB correctness oracle.
- **Arrow on** — every Pandas-UDF boundary (LLM ops) moves columnar batches,
  not pickled rows.
- **Engine worker daemon** — every Python task calls
  ``importlib.invalidate_caches()``, and CPython 3.11's ``zipimporter``
  then re-parses the directory of ``pyspark.zip`` about 16 times, about
  0.2 worker CPU-s a task whatever its data.  ``get_spark`` launches the
  workers through ``pydaemon``, which skips the re-read while an archive
  is unchanged.  The daemon starts with the SparkContext, so this is a
  launch-time setting that ``configure_runtime`` cannot apply: a session
  built elsewhere keeps the stock daemon and its per-task cost.
  Executors must be able to import this package, as the operators'
  pickled UDFs already require.
- **In-JVM ``file://`` permissions** — without libhadoop, Hadoop's
  ``RawLocalFileSystem.setPermission`` forks a ``chmod`` process, and it
  runs on every file create and every mkdir: about 300 forks (about 5 ms
  of CPU each) per ingest of the benchmark dump.  ``fs.file.impl`` points
  at ``jvm/NioLocalFileSystem.java``, which sets plain rwx modes through
  java.nio (files and dirs get the same modes as before) and keeps the
  rename rule of Hive's ``ProxyLocalFileSystem``, the class ``file://``
  resolves to otherwise.  The committed ``jvm/ncd-localfs.jar``
  (``tools/build_localfs_jar.py``) goes on the launch classpath, not in
  ``spark.jars``: spark-submit opens ``file://`` before it loads
  ``spark.jars``.  Like the daemon, this is a launch-time setting.
  Streaming checkpoints and state stores write through Hadoop's
  ``FileContext``, which ``fs.file.impl`` does not reach:
  ``fs.AbstractFileSystem.file.impl`` points it at the same class's
  ``Fs``.  Neither forks ``readlink`` to learn that a path is no symlink.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The file:// filesystem get_spark launches with, and its committed jar.
LOCAL_FS_CLASS = "national_caseload_data_ingest_spark.jvm.NioLocalFileSystem"
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "ncd-localfs.jar"
)

# The engine's SQL confs: get_spark builds every session with them, and
# they are all runtime-settable, so configure_runtime also applies them to
# a session the caller (e.g. a benchmark harness) built, once per session
# when the operators' registry.load_tables first runs.  Callers must not
# mutate these keys mid-session; spark.conf.set on other keys is fine.
RUNTIME_CONFS = {
    # Null-on-cast-failure parity with the reference's converter wrapper.
    "spark.sql.ansi.enabled": "false",
    # 'dd-MMM-yyyy' with upper-case months (01-JAN-2017).
    "spark.sql.legacy.timeParserPolicy": "LEGACY",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions by SIZE, not up to core count:
    # with parallelismFirst (the default) every tiny stage keeps ~32
    # one-row tasks, and on a jittery VM each stage waits on the
    # slowest of 32 stragglers.  Size-based coalescing collapses small
    # stages to 1-2 tasks (measured 5-20x on the LSH pipelines) while
    # large stages still fan out to the 64 MB advisory target.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pruning: for a selective fact-fact join
    # the build side injects a bloom filter into the probe side's scan,
    # cutting shuffle input before it's written.  A plain PySpark 4.1
    # session has it on already; the entry keeps it on in a session built
    # elsewhere with it off, since configure_runtime applies every entry.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Whole-stage codegen normally ABANDONS a stage whose generated
    # method exceeds 64 KB bytecode (falls back to interpreted
    # Volcano eval — measured 2.1 s -> 1.8 s on the 64-aggregate
    # bootstrap forest when the bail-out is lifted).  The JVM flag
    # -XX:-DontCompileHugeMethods in get_spark's Java options exists
    # precisely so HotSpot still JITs such methods; lifting the
    # Spark-side limit is the matching half.  Cluster deployments
    # inherit both or neither via SPARK_GRAFT_JAVA_OPTS.
    "spark.sql.codegen.hugeMethodLimit": "8000000",
    # Codegen also bails out when a plan stage carries more than 100
    # expression fields — which the wide-aggregate family here trips
    # constantly (lineitem_correlations' 12 corr/covar aggregates
    # hold ~6 codegen state fields each).  Measured on a steal-free
    # window at sf0.1: correlations 1.03 s -> 0.51 s, bootstrap
    # 3.27 -> 3.00 s, with no semantic effect (same expression
    # tree, same accumulation order — codegen vs interpreted eval
    # only).  800 covers every shipped stage; the JVM-side compile
    # guard handles the generated-method size.
    "spark.sql.codegen.maxFields": "800",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4 wraps EVERY DataFrame/Column API call in an
    # error-context shim that (a) reads a conf over py4j, (b) walks
    # the Python stack, and (c) pushes the call site to the JVM and
    # clears it — ~3 extra py4j round trips per expression node,
    # purely to enrich error messages with user line numbers.  The
    # engine builds thousands of expression nodes per query (the
    # 64-column simhash forest alone measured 2.9 s -> 1.0 s of
    # driver-side construction with the shim off), so the documented
    # opt-out pays across the whole catalog.  Driver-side only: the
    # physical plan and every emitted row are identical.  pyspark
    # caches the flag on the FIRST wrapped API call in the process, so a
    # harness-owned session benefits only if registry.load_tables (which
    # every operator query starts with) runs before its first Column op.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # The events table stores TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as int64 nanos, converted by registry.load_tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) would otherwise
    # infer TIMESTAMP_NTZ (Spark 4 default), which half the timestamp
    # functions (unix_micros, to_utc_timestamp, ...) reject.  Read as
    # session-zoned TIMESTAMP: with the UTC session timezone the values
    # are identical to the oracle's naive timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def get_spark(
    app_name: str = "national-caseload-data-ingest-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession: every ``RUNTIME_CONFS``
    entry plus the launch-time settings below.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for the test/bench
    environment; on a real cluster pass ``None`` and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=RUNTIME_CONFS)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        # Local mode: the driver is the only JVM; give it headroom but leave
        # room for Python workers (container has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Shuffle/spill files on tmpfs: the test VM's block device has high
        # iowait variance and 126 GiB of RAM-backed /dev/shm sits idle.  On
        # a real cluster leave spark.local.dir to the deployment (NVMe).
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/spark-local"
                if os.path.isdir("/dev/shm")
                else os.path.join(os.path.sep, "tmp", "spark-local"),
            ),
        )
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon that reads an unchanged
        # pyspark.zip once, not on every task (module docstring).
        .config(
            "spark.python.daemon.module", "national_caseload_data_ingest_spark.pydaemon"
        )
        # file:// sets permissions in the JVM instead of forking chmod for
        # every file and dir it writes (module docstring).
        .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", LOCAL_FS_CLASS + "$Fs")
        .config("spark.driver.extraClassPath", LOCAL_FS_JAR)
        .config("spark.executor.extraClassPath", LOCAL_FS_JAR)
        # Run-once analytics on a single JVM: C1-only JIT (TieredStopAtLevel=1)
        # compiles generated code immediately instead of interpreting while
        # waiting for C2 profile thresholds, and -XX:-DontCompileHugeMethods
        # lets the huge whole-stage-codegen methods compile at all (HotSpot
        # otherwise interprets any method > 8 KB bytecode forever).  Measured
        # 3-15× first-run speedups on wide-aggregate plans.  Long-running
        # clusters should override via SPARK_GRAFT_JAVA_OPTS (C2 wins once
        # code is hot for hours).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JAVA_OPTS",
                "-XX:-DontCompileHugeMethods -XX:TieredStopAtLevel=1 "
                "-XX:ReservedCodeCacheSize=512m",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable SQL confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked conf is non-fatal
            pass
    return spark

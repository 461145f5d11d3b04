"""SparkSession factory with engine-wide configuration.

Design notes (SURVEY.md §7 step 1):

- **ANSI off** — the reference nulls any cell whose cast raises
  (``/root/reference/ncd/normal_table.py:109-115``).  Spark's non-ANSI
  ``cast()`` has exactly that semantic; ANSI mode would abort the job instead.
- **LEGACY time parser** — Oracle dates arrive as ``01-JAN-2017``
  (``/root/reference/ncd/normal_table.py:105-107``); the legacy parser accepts
  upper-case month abbreviations for the ``dd-MMM-yyyy`` pattern.
- **AQE on** — runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion.  A static
  ``spark.sql.shuffle.partitions`` fits some stages and not others; AQE
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
- **Class-data sharing for the driver JVM** — a cold driver reads, parses
  and verifies about 22k classes out of Spark's jars, about 12 s of the
  JVM's class-loading time, and the paper's CLI pays that once per zip.
  The JVM can map those classes, already parsed and verified, from a
  dynamic CDS archive instead.  JDK 17 records one only as a JVM exits
  (``-XX:ArchiveClassesAtExit``), so the first launch for a key records
  it and every later launch maps it (``-XX:SharedArchiveFile``).  The
  archives live in ``CDS_DIR``, next to ``jvm/ncd-localfs.jar`` in the
  checkout (``spark.local.dir`` is made afresh per run); if that
  directory is not writable the JVM launches without CDS.  An archive's
  name is ``ncd-driver-<options>-<inputs>.jsa``: ``<options>`` hashes the
  driver's Java options and heap size (above 32g the JVM turns compressed
  oops off and rejects an archive recorded with a small heap, so the 48g
  default and a 1g benchmark keep separate archives), ``<inputs>`` the
  ``java`` binary, its ``lib/modules`` and each jar on the driver class
  path (path, size, mtime).  A recording prunes the archives with its
  options hash and another inputs hash.  Each takes 140-210 MB.  The
  recording launch costs more: 6-11 CPU-s more set-up on the benchmark
  dump, and the JVM writes the archive as it exits (1 s for a short
  run, 20-30 s after the tier-1 suite).  That is paid once per checkout,
  JDK, jar set and option set; a harness that runs every run in a fresh
  checkout pays it on every run and is slower than without CDS.
  Only a finished archive is passed to the JVM: a truncated archive whose
  header is valid crashes the JVM that maps it (SIGBUS), and the JVM
  writes the header last.  So the JVM records to ``….part.jsa``, claimed
  with an exclusive create, and a later launch renames it into place once
  its first 4 bytes are the magic ``CDS_MAGIC``.  A claim that stays
  unfinished (a recording running, failed or killed) launches without
  CDS and is not recorded again; deleting ``jvm/*.jsa`` starts afresh.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# The file:// filesystem get_spark launches with, and its committed jar.
LOCAL_FS_CLASS = "national_caseload_data_ingest_spark.jvm.NioLocalFileSystem"
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "ncd-localfs.jar"
)

# Where get_spark keeps the driver's class-data-sharing archives (module
# docstring): next to the jar, in the checkout.
CDS_DIR = os.path.dirname(LOCAL_FS_JAR)
# The first 4 bytes of a dynamic archive whose header the JVM has written
# (CDS_DYNAMIC_ARCHIVE_MAGIC 0xf00baba8, little-endian).
CDS_MAGIC = b"\xa8\xab\x0b\xf0"
# A recording prints dozens of "Preload Warning" lines, and a mapping the
# JVM rejects falls back to loading from the jars: neither is an error.
CDS_QUIET = "-Xlog:cds*=off"

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
    A call that launches the driver JVM starts it from its class-data-sharing
    archive, or records that archive as the JVM exits (module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    launch = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or int(cpus)),
        # Local mode: the driver is the only JVM.  The heap is a ceiling
        # that grows on demand, so 48g also runs on a 15 GiB VM.  Above 32g
        # the JVM turns compressed oops off, so this default and a small
        # heap (perfbench's 1g) keep separate CDS archives.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        # Shuffle/spill files on tmpfs: the test VM's block device has high
        # iowait variance.  On a real cluster leave spark.local.dir to the
        # deployment (NVMe).
        "spark.local.dir": os.environ.get(
            "SPARK_GRAFT_LOCAL_DIR",
            "/dev/shm/spark-local"
            if os.path.isdir("/dev/shm")
            else os.path.join(os.path.sep, "tmp", "spark-local"),
        ),
        "spark.ui.enabled": "false",
        # Python workers fork from a daemon that reads an unchanged
        # pyspark.zip once, not on every task (module docstring).
        "spark.python.daemon.module": "national_caseload_data_ingest_spark.pydaemon",
        # file:// sets permissions in the JVM instead of forking chmod for
        # every file and dir it writes (module docstring).
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": LOCAL_FS_CLASS + "$Fs",
        # Spark's own jars come right after ours, ahead of the launcher's
        # $SPARK_CONF_DIR: that directory holds Spark's *.template files,
        # and JDK 17 will not record a CDS archive when a class loads from
        # behind a non-empty directory on the class path.  No jar there
        # carries a root log4j2/spark/Hadoop/Hive conf file, so the conf
        # directory still supplies each one
        # (tests/test_session_cds.py checks both).
        "spark.driver.extraClassPath": os.pathsep.join(
            [LOCAL_FS_JAR, os.path.join(_find_spark_home(), "jars", "*")]
        ),
        "spark.executor.extraClassPath": LOCAL_FS_JAR,
        # Run-once analytics on a single JVM: C1-only JIT (TieredStopAtLevel=1)
        # compiles generated code immediately instead of interpreting while
        # waiting for C2 profile thresholds, and -XX:-DontCompileHugeMethods
        # lets the huge whole-stage-codegen methods compile at all (HotSpot
        # otherwise interprets any method > 8 KB bytecode forever).  Measured
        # 3-15× first-run speedups on wide-aggregate plans.  Long-running
        # clusters should override via SPARK_GRAFT_JAVA_OPTS (C2 wins once
        # code is hot for hours).
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_JAVA_OPTS",
            "-XX:-DontCompileHugeMethods -XX:TieredStopAtLevel=1 "
            "-XX:ReservedCodeCacheSize=512m",
        ),
        **(extra_conf or {}),
    }
    recording = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds, recording = _cds_options(launch)
        launch["spark.driver.extraJavaOptions"] = " ".join(
            [launch["spark.driver.extraJavaOptions"], *cds]
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=RUNTIME_CONFS)
        .config(map=launch)
    )
    try:
        spark = builder.getOrCreate()
    except BaseException:
        # The launch failed, so no JVM records: free the claim for the next.
        if recording is not None:
            with contextlib.suppress(OSError):
                os.remove(recording)
        raise
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _cds_options(launch: dict[str, str]) -> tuple[list[str], str | None]:
    """The CDS options of a driver launch with confs ``launch``, and the
    path it records to, if it records (module docstring)."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.access(CDS_DIR, os.W_OK):
        return [], None
    java = os.path.realpath(java)
    files = [java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")]
    for entry in launch["spark.driver.extraClassPath"].split(os.pathsep):
        if os.path.basename(entry) == "*":
            files += sorted(glob.glob(entry + ".jar"))
        elif entry:
            files.append(entry)
    inputs = hashlib.sha256()
    for path in files:
        try:
            st = os.stat(path)
        except OSError:
            continue  # the JVM skips a missing class-path entry too
        inputs.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    options = hashlib.sha256(
        f"{launch['spark.driver.memory']}\0{launch['spark.driver.extraJavaOptions']}".encode()
    )
    prefix = os.path.join(CDS_DIR, f"ncd-driver-{options.hexdigest()[:16]}-")
    stem = prefix + inputs.hexdigest()[:16]
    archive, recording = stem + ".jsa", stem + ".part.jsa"
    # A recording is renamed into place only once the JVM has written its
    # header, which it writes last: a truncated archive with a valid header
    # crashes the JVM that maps it (SIGBUS).
    if not _cds_finished(archive) and _cds_finished(recording):
        with contextlib.suppress(FileNotFoundError):  # a concurrent launch did it
            os.replace(recording, archive)
    if _cds_finished(archive):
        return [f"-XX:SharedArchiveFile={archive}", CDS_QUIET], None
    # One recording per key: a claim that is still there and unfinished is
    # a recording that is running, or one that failed or was killed.
    try:
        os.close(os.open(recording, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
    except OSError:
        return [], None
    for old in glob.glob(glob.escape(prefix) + "*.jsa"):
        if not old.startswith(stem):
            with contextlib.suppress(OSError):
                os.remove(old)
    return [f"-XX:ArchiveClassesAtExit={recording}", CDS_QUIET], recording


def _cds_finished(path: str) -> bool:
    try:
        with open(path, "rb") as fh:
            return fh.read(len(CDS_MAGIC)) == CDS_MAGIC
    except OSError:
        return False


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable SQL confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked conf is non-fatal
            pass
    return spark

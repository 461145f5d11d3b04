"""The session's conf list, its Python worker daemon, and the entry
points the benchmark's tracer wraps.

``perfbench/tracer.py`` wraps engine functions by name; a renamed or
deleted entry point would only surface when ``perfbench/run.py --trace 1``
runs.  The instrumentation runs in a subprocess so its wrappers do not
leak into the other tests of this session.
"""

import os
import subprocess
import sys

from national_caseload_data_ingest_spark.session import RUNTIME_CONFS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracer_instruments_every_entry_point():
    code = (
        "from perfbench.tracer import Tracer, instrument\n"
        "instrument(Tracer())\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr


def test_get_spark_session_carries_every_runtime_conf(spark):
    got = {k: spark.conf.get(k) for k in RUNTIME_CONFS}
    assert got == RUNTIME_CONFS


DAEMON = "national_caseload_data_ingest_spark.pydaemon"


def test_python_tasks_run_under_the_engine_daemon(spark):
    """Workers fork from ``pydaemon``, so each task sees its zip guard.  A
    silent fallback to the stock daemon would bring back the per-task
    re-read of pyspark.zip."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == DAEMON

    def patch_owner(_):
        import zipimport

        return [zipimport.zipimporter.invalidate_caches.__module__]

    owners = sc.parallelize(range(4), 4).mapPartitions(patch_owner).collect()
    assert owners == [DAEMON] * 4


def test_map_in_pandas_runs_under_the_engine_daemon(spark):
    def double(batches):
        for pdf in batches:
            yield pdf.assign(v=pdf.v * 2)

    df = spark.range(6).selectExpr("id", "id AS v").repartition(3)
    got = sorted(map(tuple, df.mapInPandas(double, "id long, v long").collect()))
    assert got == [(i, 2 * i) for i in range(6)]


def test_add_py_file_zip_imports_inside_a_task(spark, tmp_path):
    """An archive shipped after the daemon started is read by the workers."""
    import zipfile

    path = tmp_path / "shipped_after_start.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("shipped_after_start/__init__.py", "ANSWER = 42\n")
    sc = spark.sparkContext
    sc.parallelize(range(2), 2).count()  # the daemon is already running
    sc.addPyFile(str(path))

    def answer(_):
        import shipped_after_start

        return [shipped_after_start.ANSWER]

    assert sc.parallelize(range(4), 4).mapPartitions(answer).collect() == [42] * 4

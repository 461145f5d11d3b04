"""The session's conf list and the entry points the benchmark's tracer
wraps.

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

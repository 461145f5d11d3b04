"""The driver JVM's class-data-sharing archive (``session.get_spark``).

The first launch for a key records the archive as its JVM exits, a later
launch maps it, a file the JVM has not finished is never passed to it, and
an unwritable archive directory launches as before.  The launches run in
fresh interpreters, each with its own JVM, and point ``session.CDS_DIR``
at a temporary directory.  The class-path reorder that makes a recording
possible must leave every Spark conf file to the conf directory.
"""

import ctypes
import glob
import json
import os
import subprocess
import sys
import zipfile

import pytest
from pyspark.find_spark_home import _find_spark_home

from national_caseload_data_ingest_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARKER = "ncd-conf-marker.txt"
CDS_FLAGS = ("-XX:ArchiveClassesAtExit", "-XX:SharedArchiveFile", "-Xlog:cds")

LAUNCH = """
import json, os, sys
from pyspark import SparkContext
from national_caseload_data_ingest_spark import session

session.CDS_DIR = sys.argv[1]
spark = session.get_spark("cds", extra_conf={"spark.driver.memory": "1g"})
jvm = spark._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
marker = jvm.java.lang.ClassLoader.getSystemClassLoader().getResource(sys.argv[2])
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})
out = {
    "args": [str(a) for a in args],
    "mapped": mapped,
    "marker": None if marker is None else marker.getPath(),
    "master": spark.sparkContext.master,
    "sum": spark.range(10).selectExpr("sum(id)").collect()[0][0],
}
# A recording JVM writes its archive as it exits: wait for that.
gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=300)
print("RESULT " + json.dumps(out))
"""


def _drop_dac_override():
    """Let root's writes obey a directory's mode bits, as anyone else's do."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    for cap in (1, 2):  # CAP_DAC_OVERRIDE, CAP_DAC_READ_SEARCH
        if prctl(24, cap, 0, 0, 0) != 0:  # PR_CAPBSET_DROP
            raise OSError(ctypes.get_errno(), "prctl(PR_CAPBSET_DROP)")


def _launch(cds_dir, env=None, preexec_fn=None):
    """Start a session in a fresh interpreter with its archives in
    ``cds_dir``, run a query, stop its JVM, and return what it saw.  It
    runs on one core; a ``None`` in ``env`` unsets that variable."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1", **(env or {})}
    env.pop("SPARK_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", LAUNCH, str(cds_dir), MARKER],
        cwd=ROOT,
        env={k: v for k, v in env.items() if v is not None},
        preexec_fn=preexec_fn,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")][-1]
    out = json.loads(line[len("RESULT "):])
    assert out["sum"] == 45
    out["cds"] = [a for a in out["args"] if a.startswith(CDS_FLAGS)]
    return out


def _flag(out, name):
    return [a.split("=", 1)[1] for a in out["cds"] if a.startswith(name + "=")]


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A directory where a first launch recorded its archive."""
    cds_dir = tmp_path_factory.mktemp("cds")
    return cds_dir, _launch(cds_dir)


def test_first_launch_records_the_archive(recorded):
    cds_dir, first = recorded
    (recording,) = _flag(first, "-XX:ArchiveClassesAtExit")
    assert os.path.dirname(recording) == str(cds_dir)
    assert recording.endswith(".part.jsa")
    assert "-Xlog:cds*=off" in first["cds"]
    assert not _flag(first, "-XX:SharedArchiveFile")
    assert first["master"] == "local[1]"
    assert session._cds_finished(recording)
    assert all(str(cds_dir) not in m for m in first["mapped"])


def test_second_launch_maps_the_archive(recorded):
    cds_dir, first = recorded
    (recording,) = _flag(first, "-XX:ArchiveClassesAtExit")
    archive = recording[: -len(".part.jsa")] + ".jsa"
    second = _launch(cds_dir)
    assert _flag(second, "-XX:SharedArchiveFile") == [archive]
    assert not _flag(second, "-XX:ArchiveClassesAtExit")
    assert archive in second["mapped"]
    assert sorted(os.listdir(cds_dir)) == [os.path.basename(archive)]


def test_conf_dir_stays_on_the_class_path(recorded, tmp_path):
    """Spark's jars now come before ``$SPARK_CONF_DIR``; a resource only
    the conf directory holds still resolves, under a mapped archive too."""
    cds_dir, _ = recorded
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / MARKER).write_text("x")
    out = _launch(cds_dir, env={"SPARK_CONF_DIR": str(conf)})
    assert out["marker"] == str(conf / MARKER)
    assert any(m.startswith(str(cds_dir)) for m in out["mapped"])


def _garbage(kind):
    if kind == "zero-header":  # what a JVM killed mid-dump leaves
        return bytes(4096) + os.urandom(1 << 16)
    data = os.urandom(1 << 16)
    return data if data[:4] != session.CDS_MAGIC else b"\0" + data


@pytest.mark.parametrize("kind", ["zero-header", "random-bytes"])
def test_unfinished_archive_is_not_mapped(recorded, tmp_path, kind):
    """Garbage at both the archive's and the recording's path: the session
    launches without CDS and runs, and nothing records over the claim."""
    _, first = recorded
    (recording,) = _flag(first, "-XX:ArchiveClassesAtExit")
    stem = os.path.basename(recording)[: -len(".part.jsa")]
    for name in (stem + ".jsa", stem + ".part.jsa"):
        (tmp_path / name).write_bytes(_garbage(kind))
    out = _launch(tmp_path)
    assert out["cds"] == []
    assert all(str(tmp_path) not in m for m in out["mapped"])
    assert not session._cds_finished(str(tmp_path / (stem + ".part.jsa")))


def test_unwritable_dir_launches_without_cds(tmp_path):
    """Also launched with ``SPARK_GRAFT_CPUS`` unset: the session then
    runs on every CPU this process may use."""
    cds_dir = tmp_path / "ro"
    cds_dir.mkdir()
    cds_dir.chmod(0o555)
    root = os.geteuid() == 0
    out = _launch(
        cds_dir,
        env={"SPARK_GRAFT_CPUS": None},
        preexec_fn=_drop_dac_override if root else None,
    )
    assert out["cds"] == []
    assert os.listdir(cds_dir) == []
    assert out["master"] == f"local[{len(os.sched_getaffinity(0))}]"


# The archive key and its files, decided without a JVM.


def _launch_conf(jar, memory="1g"):
    return {
        "spark.driver.memory": memory,
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
        "spark.driver.extraClassPath": str(jar),
    }


@pytest.fixture
def cds_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path))
    jar = tmp_path / "a.jar"
    jar.write_bytes(b"PK")
    return tmp_path, jar


def _finish(path):
    with open(path, "wb") as fh:
        fh.write(session.CDS_MAGIC + bytes(60))


def test_heap_sizes_keep_their_own_archives(cds_dir):
    """A heap above 32g turns compressed oops off, and the JVM then rejects
    an archive recorded with a small heap."""
    tmp, jar = cds_dir
    small, _ = session._cds_options(_launch_conf(jar, "1g"))
    large, _ = session._cds_options(_launch_conf(jar, "48g"))
    small_name = os.path.basename(small[0].split("=", 1)[1])
    large_name = os.path.basename(large[0].split("=", 1)[1])
    assert small_name != large_name
    # Same JDK and jars, different options.
    assert small_name.split("-")[3] == large_name.split("-")[3]
    assert small_name.split("-")[2] != large_name.split("-")[2]
    assert sorted(os.listdir(tmp)) == sorted([small_name, large_name, "a.jar"])


def test_one_recording_per_key(cds_dir):
    _, jar = cds_dir
    flags, recording = session._cds_options(_launch_conf(jar))
    assert flags == [f"-XX:ArchiveClassesAtExit={recording}", session.CDS_QUIET]
    # Its claim is still unfinished: running, failed or killed alike.
    assert session._cds_options(_launch_conf(jar)) == ([], None)
    _finish(recording)
    archive = recording[: -len(".part.jsa")] + ".jsa"
    flags, again = session._cds_options(_launch_conf(jar))
    assert flags == [f"-XX:SharedArchiveFile={archive}", session.CDS_QUIET]
    assert again is None
    assert not os.path.exists(recording)


def test_garbage_archive_is_recorded_over(cds_dir):
    _, jar = cds_dir
    _, recording = session._cds_options(_launch_conf(jar))
    archive = recording[: -len(".part.jsa")] + ".jsa"
    os.rename(recording, archive)  # an unfinished file at the archive's path
    flags, _ = session._cds_options(_launch_conf(jar))
    assert flags[0] == f"-XX:ArchiveClassesAtExit={recording}"
    _finish(recording)
    flags, _ = session._cds_options(_launch_conf(jar))
    assert flags[0] == f"-XX:SharedArchiveFile={archive}"


def test_recording_prunes_only_its_options_stale_archives(cds_dir):
    tmp, jar = cds_dir
    _, old_small = session._cds_options(_launch_conf(jar, "1g"))
    _finish(old_small)
    session._cds_options(_launch_conf(jar, "1g"))  # renamed into place
    _, old_large = session._cds_options(_launch_conf(jar, "48g"))
    os.utime(jar, ns=(0, 0))  # the jars changed: a new key for both
    _, new_small = session._cds_options(_launch_conf(jar, "1g"))
    left = sorted(glob.glob(str(tmp / "*.jsa")))
    assert left == sorted([new_small, old_large])


def test_no_spark_jar_shadows_a_conf_file():
    """``get_spark`` puts Spark's jars ahead of ``$SPARK_CONF_DIR``; a jar
    with one of these files at its root would hide the conf directory's."""
    home = _find_spark_home()
    names = {
        "log4j2.properties",
        "log4j2.xml",
        "spark-defaults.conf",
        "core-site.xml",
        "hdfs-site.xml",
        "hive-site.xml",
        "metrics.properties",
        "fairscheduler.xml",
    }
    names |= {
        n[: -len(".template")]
        for n in os.listdir(os.path.join(home, "conf"))
        if n.endswith(".template")
    }
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    assert jars
    shadows = []
    for jar in jars:
        with zipfile.ZipFile(jar) as zf:
            shadows += [f"{os.path.basename(jar)}!{n}" for n in zf.namelist() if n in names]
    assert shadows == []

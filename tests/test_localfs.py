"""The engine's ``file://`` filesystem (``jvm/NioLocalFileSystem.java``).

It sets permissions through java.nio instead of forking ``chmod`` for
every file and dir a write creates, through ``FileSystem`` and through
``FileContext`` (streaming checkpoints) alike, writes the same modes as
the stock class, keeps the rename rule of Hive's ``ProxyLocalFileSystem``
(the class ``file://`` resolves to without it), and ships as a committed
jar that must match its source.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from national_caseload_data_ingest_spark.session import LOCAL_FS_CLASS, LOCAL_FS_JAR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"

WRITES = """
import json, os, sys
from national_caseload_data_ingest_spark.catalog import SparkCatalog
from national_caseload_data_ingest_spark.session import get_spark
from national_caseload_data_ingest_spark.sources import globals as g
from tests.conftest import LOOKUP_TEXT

warehouse, log = sys.argv[1:]
spark = get_spark("localfs")
catalog = SparkCatalog(spark, warehouse, db_name="localfs")
open(log, "w").close()  # count from here: the session start is not a write
df = spark.createDataFrame(
    [(i, "D%d" % (i % 3)) for i in range(12)], "x int, filename_district string"
)
catalog.write_table("part", df.repartition(2), partitioned=True)
name, codebook = g.read_lookup_table(spark, LOOKUP_TEXT)
catalog.write_table(name.lower(), codebook)
out = {"write_forks": open(log).read().splitlines()}
out["modes"] = {
    os.path.relpath(os.path.join(d, n), warehouse): os.stat(os.path.join(d, n)).st_mode
    for d, dirs, files in os.walk(warehouse) for n in dirs + files
}
jvm = spark.sparkContext._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
)
Path, FsPermission = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
plain = os.path.join(warehouse, "plain.txt")
open(plain, "w").close()
fs.setPermission(Path(plain), FsPermission("640"))
out["plain"] = os.stat(plain).st_mode
sticky = os.path.join(warehouse, "sticky")
os.mkdir(sticky)
fs.setPermission(Path(sticky), FsPermission("1777"))
out["sticky"] = os.stat(sticky).st_mode
out["all_forks"] = open(log).read().splitlines()
print("RESULT " + json.dumps(out))
"""


STREAM = """
import json, os, sys
from national_caseload_data_ingest_spark.session import get_spark

src, ckpt, log = sys.argv[1:]
spark = get_spark("localfs-stream")
open(log, "w").close()  # count from here: the session start is not a write
counts = spark.readStream.text(src).groupBy("value").count()
query = (
    counts.writeStream.format("memory").queryName("counts").outputMode("complete")
    .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
)
query.awaitTermination()
out = {"forks": open(log).read().splitlines()}
out["rows"] = sorted(tuple(r) for r in spark.table("counts").collect())
out["files"] = sorted(
    os.path.relpath(os.path.join(d, n), ckpt) for d, _, files in os.walk(ckpt) for n in files
)
print("RESULT " + json.dumps(out))
"""


def _run_logging_forks(tmp_path, script, *args):
    """Run ``script`` in a fresh interpreter with a logging ``chmod`` and
    ``readlink`` first on ``PATH``, which append each fork to the last
    argument's log file; return the script's ``RESULT`` JSON."""
    bindir = tmp_path / "bin"
    bindir.mkdir()
    log = tmp_path / "forks.log"
    for tool in ("chmod", "readlink"):
        real = shutil.which(tool)
        (bindir / tool).write_text(
            f'#!/bin/sh\necho "{tool} $*" >> "{log}"\nexec {real} "$@"\n'
        )
        (bindir / tool).chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}",
        SPARK_GRAFT_CPUS="2",
    )
    env.pop("SPARK_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, *map(str, args), str(log)],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT "):])


def test_writes_fork_no_chmod_and_keep_their_modes(tmp_path):
    """The stock class forks one ``chmod`` per file and dir of these two
    writes (40 of them)."""
    warehouse = tmp_path / "wh"
    out = _run_logging_forks(tmp_path, WRITES, warehouse)

    assert out["write_forks"] == []
    modes = out["modes"]
    parts = [p for p in modes if p.endswith(".parquet")]
    assert len(parts) >= 4  # 3 district dirs plus the codebook
    assert any(p.startswith("localfs/part/filename_district=") for p in parts)
    assert any(p.startswith("localfs/gs_position/") for p in parts)
    for rel, mode in modes.items():
        is_dir = os.path.isdir(warehouse / rel)
        assert oct(mode & 0o7777) == ("0o755" if is_dir else "0o644"), rel

    assert oct(out["plain"] & 0o7777) == "0o640"
    # The sticky bit is not plain rwx: it goes through the stock chmod.
    assert oct(out["sticky"] & 0o7777) == "0o1777"
    assert out["all_forks"] == [f"chmod 1777 {warehouse / 'sticky'}"]


def test_streaming_checkpoint_forks_nothing(tmp_path):
    """A stateful query's checkpoint (offsets, commits, metadata, state
    store deltas) goes through ``FileContext``; with Hadoop's ``LocalFs``
    under it this query forks over a hundred ``chmod`` and ``readlink``."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "part.txt").write_text("a\nb\na\n")
    ckpt = tmp_path / "ckpt"
    out = _run_logging_forks(tmp_path, STREAM, src, ckpt)

    assert out["forks"] == []
    assert out["rows"] == [["a", 2], ["b", 1]]
    files = out["files"]
    assert "metadata" in files
    assert "offsets/0" in files and "commits/0" in files
    assert any(f.startswith("state/0/") and f.endswith(".delta") for f in files)


def _filesystem(spark, cls):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(
        jvm.java.lang.Class.forName(cls), conf
    )
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs, jvm.org.apache.hadoop.fs.Path


@pytest.mark.parametrize("cls", [STOCK, LOCAL_FS_CLASS])
def test_rename_refuses_an_existing_file(spark, tmp_path, cls):
    """``operators/layout.py``'s compaction recovery relies on a rename
    onto an existing file failing and leaving both files as they were."""
    fs, Path = _filesystem(spark, cls)
    try:
        src, dst, new = tmp_path / "src.txt", tmp_path / "dst.txt", tmp_path / "new.txt"
        src.write_text("source")
        dst.write_text("destination")
        assert fs.rename(Path(str(src)), Path(str(dst))) is False
        assert src.read_text() == "source"
        assert dst.read_text() == "destination"
        assert fs.rename(Path(str(src)), Path(str(new))) is True
        assert not src.exists()
        assert new.read_text() == "source"
    finally:
        fs.close()


@pytest.mark.parametrize("cls", [STOCK, LOCAL_FS_CLASS])
def test_link_status_matches_the_stock_lookup(spark, tmp_path, cls):
    """The java.nio symlink test answers as the stock ``readlink`` fork
    does: a symlink reports its target, a plain file reports none."""
    fs, Path = _filesystem(spark, cls)
    try:
        target, link = tmp_path / "target.txt", tmp_path / "link.txt"
        target.write_text("x")
        link.symlink_to(target)
        status = fs.getFileLinkStatus(Path(str(link)))
        assert status.isSymlink()
        assert status.getSymlink().toUri().getPath() == str(target)
        assert not fs.getFileLinkStatus(Path(str(target))).isSymlink()
    finally:
        fs.close()


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_committed_jar_matches_its_source(tmp_path):
    rebuilt = tmp_path / "rebuilt.jar"
    proc = subprocess.run(
        [sys.executable, "tools/build_localfs_jar.py", str(rebuilt)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr

    def classes(path):
        with zipfile.ZipFile(path) as zf:
            return {n: zf.read(n) for n in zf.namelist()}

    got = classes(rebuilt)
    assert sorted(got) == [
        "national_caseload_data_ingest_spark/jvm/NioLocalFileSystem$Fs.class",
        "national_caseload_data_ingest_spark/jvm/NioLocalFileSystem$Raw.class",
        "national_caseload_data_ingest_spark/jvm/NioLocalFileSystem$RawFs.class",
        "national_caseload_data_ingest_spark/jvm/NioLocalFileSystem.class",
    ]
    assert got == classes(LOCAL_FS_JAR)

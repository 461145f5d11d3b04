"""Build ``national_caseload_data_ingest_spark/jvm/ncd-localfs.jar``.

The jar holds ``NioLocalFileSystem`` (the engine's ``file://``
filesystem, see ``session.py``) and is committed next to its source, so
starting a session compiles nothing.  Rebuild it after editing the
source::

    python tools/build_localfs_jar.py [OUT_JAR]

which runs ``javac --release 17 -classpath "$PYSPARK/jars/*" -d CLASSES
national_caseload_data_ingest_spark/jvm/NioLocalFileSystem.java`` against
the installed PySpark's Hadoop jars, then stores the class files in a zip
with fixed timestamps and no manifest.  javac writes no timestamps into
class files, so two builds give the same bytes.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "national_caseload_data_ingest_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "NioLocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "ncd-localfs.jar")


def build(out_jar: str = JAR) -> list[str]:
    """Compile ``SOURCE`` and write ``out_jar``; return its entry names."""
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-classpath", classpath,
             "-d", classes, SOURCE],
            check=True,
        )
        paths = glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)
        names = sorted(os.path.relpath(p, classes).replace(os.sep, "/") for p in paths)
        with zipfile.ZipFile(out_jar, "w", zipfile.ZIP_STORED) as zf:
            for name in names:
                info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                with open(os.path.join(classes, name), "rb") as fh:
                    zf.writestr(info, fh.read())
    return names


if __name__ == "__main__":
    print("\n".join(build(*sys.argv[1:])))

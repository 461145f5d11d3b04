"""Shared fixtures: a small SparkSession and the synthetic NCD zip from
FIXTURES.md §A (formats defined by the reference's parsers)."""

from __future__ import annotations

import os
import sys
import zipfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from national_caseload_data_ingest_spark.session import get_spark  # noqa: E402

README_TEXT = """\
Some introductory prose that is not a table.

GS_CASE - Case master records
    CASE_ID           NOT NULL  VARCHAR2(10)   (1:10)
    DISTRICT                    VARCHAR2(3)    (11:13)
    TOTAL_DEFENDANTS            NUMBER(5)      (14:18)
    FILED_DATE                  DATE           (19:29)
    LEAD_CHARGE_WT              FLOAT          (30:37)

GS_COURT_HIST - Court event history
    CASE_ID           NOT NULL  VARCHAR2(10)   (1:10)
    EVENT_DATE                  DATE           (11:21)
    EVENT_CODE                  VARCHAR2(4)    (22:25)
"""

# gs_case.txt — unpartitioned; column extents per the README above:
# CASE_ID (1:10), DISTRICT (11:13), TOTAL_DEFENDANTS (14:18),
# FILED_DATE (19:29), LEAD_CHARGE_WT (30:37).  Rows are built by
# concatenating exact-width cells and exercise: redaction (*), valid and
# invalid dates, decimal NUMBER text (must null — int() parity), CR
# mid-row (becomes a space, offsets preserved), latin-1 high byte.
GS_CASE_ROWS = [
    "CASE000001" + "FLM" + "    3" + "01-JAN-2017" + "    12.5",
    "CASE000002" + "*  " + "    *" + "31-FEB-2017" + "    0.50",
    "CASE0000Ø3" + "CT " + " 12.5" + "*          " + "       *",
    "CASE000004" + " \r " + "    7" + "15-AUG-1999" + "    0.25",
]

# gs_court_hist — CASE_ID (1:10), EVENT_DATE (11:21), EVENT_CODE (22:25).
GS_COURT_HIST_FLM = [
    "CASE000001" + "01-JAN-2017" + "ARRG",
    "CASE000002" + "02-MAR-2017" + "*   ",
]
GS_COURT_HIST_CT = [
    "CASE0000Ø3" + "03-APR-2017" + "SENT",
]

GLOBAL_LIONS_TEXT = """\
GS_DISTRICT

Code  Name
----  --------------------
FLM   Middle Florida
CT    Connecticut
*     Redacted district

GS_STATUS

Code  Meaning
----  --------------------
OP    Open
CL    Closed
"""

LOOKUP_TEXT = """\
Codebook report for LIONS table GS_POSITION
Generated 01/15/2018

Code  Description                 ActiveFlag
----  --------------------------  ----------
AG    Attorney General            Y
*     Redacted position           N

End of report.
"""


def build_fixture_zip(path: str, include_global: bool = True) -> str:
    """Assemble the synthetic NCD zip (latin-1 members, utf-8 global)."""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("README.TXT", README_TEXT.encode("latin-1"))
        zf.writestr(
            "gs_case.txt", ("\r\n".join(GS_CASE_ROWS) + "\r\n").encode("latin-1")
        )
        zf.writestr(
            "gs_court_hist_FLM.txt",
            ("\n".join(GS_COURT_HIST_FLM) + "\n").encode("latin-1"),
        )
        zf.writestr(
            "gs_court_hist_CT.txt",
            ("\n".join(GS_COURT_HIST_CT) + "\n").encode("latin-1"),
        )
        if include_global:
            zf.writestr("global_LIONS.txt", GLOBAL_LIONS_TEXT.encode("utf-8"))
        zf.writestr("table_gs_position.txt", LOOKUP_TEXT.encode("latin-1"))
    return path


@pytest.fixture(scope="session")
def spark():
    # local[4] with 4 shuffle partitions, whatever the caller exports.
    with pytest.MonkeyPatch.context() as env:
        env.setenv("SPARK_GRAFT_CPUS", "4")
        env.delenv("SPARK_MASTER", raising=False)
        s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def fixture_zip(tmp_path_factory):
    path = tmp_path_factory.mktemp("ncd") / "ncd_fixture.zip"
    return build_fixture_zip(str(path))

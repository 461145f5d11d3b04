"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema shape,
and an order-insensitive value hash (columns sorted by name, rows sorted by
their normalized string form — per the driver contract in the build brief).

Usage::

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import tempfile
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# DuckDB spills a query that outgrows its memory limit into its temp
# directory, by default ``.tmp`` in the working directory with no size
# cap.  The spill goes to a directory removed at exit instead, and a query
# that would spill more than this fails with its own FAIL line rather than
# filling the disk.
ORACLE_SPILL_CAP = "4GB"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize_cell(v) -> str:
    import datetime

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, (np.integer,)):
        v = int(v)
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}"
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat()
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    if isinstance(v, np.ndarray):
        return "[" + ",".join(normalize_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def frame_signature(pdf) -> tuple[int, list[str], list[str]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [
        "|".join(normalize_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    rows.sort()
    return len(rows), cols, rows


def _rows_match_tol(srows: list[str], orows: list[str],
                    rel_tol: float) -> bool:
    """Pairwise compare of sorted normalized rows with a relative
    tolerance on numeric cells.  OPT-IN (--rel-tol), for large-SF
    replays only: at millions of rows, double-precision aggregates
    legitimately diverge in the last couple of significant digits
    because Spark and DuckDB sum in different orders — the driver's
    exact-hash gate at sf0.01 is NOT relaxed by this."""
    if len(srows) != len(orows):
        return False
    for a, b in zip(srows, orows):
        if a == b:
            continue
        ca, cb = a.split("|"), b.split("|")
        if len(ca) != len(cb):
            return False
        for x, y in zip(ca, cb):
            if x == y:
                continue
            try:
                fx, fy = float(x), float(y)
            except ValueError:
                return False
            if not math.isclose(fx, fy, rel_tol=rel_tol, abs_tol=1e-9):
                return False
    return True


def main() -> int:
    argv = list(sys.argv[1:])
    rel_tol = 0.0
    if "--rel-tol" in argv:
        i = argv.index("--rel-tol")
        rel_tol = float(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, REPO)
    import __spark_entry__ as ent
    from national_caseload_data_ingest_spark.session import get_spark

    if os.environ.get("SPARK_GRAFT_DRIVER_EMULATION"):
        # bare session, engine configs absent — what the round driver
        # builds; queries must self-configure via load_tables
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .appName("driver-emulation")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    spill_dir = tempfile.TemporaryDirectory(prefix="oracle_spill_")
    con = duckdb.connect(config={
        "temp_directory": spill_dir.name,
        "max_temp_directory_size": ORACLE_SPILL_CAP,
    })
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    qs = ent.queries()
    oracles = ent.oracle_sql()
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spdf)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        sn, scols, srows = frame_signature(spdf)
        on, ocols, orows = frame_signature(opdf)
        status = []
        if sn != on:
            status.append(f"rowcount {sn} != {on}")
        if scols != ocols:
            status.append(f"columns {scols} != {ocols}")
        tol_note = ""
        if srows != orows:
            if rel_tol and sn == on and scols == ocols \
                    and _rows_match_tol(srows, orows, rel_tol):
                tol_note = f" [float-tol {rel_tol:g}]"
            else:
                ndiff = sum(1 for a, b in zip(srows, orows) if a != b)
                status.append(
                    f"values differ ({ndiff} of {max(sn, on)} rows)")
                for a, b in list(zip(srows, orows))[:200]:
                    if a != b:
                        status.append(f"  spark : {a[:240]}")
                        status.append(f"  duckdb: {b[:240]}")
                        break
        # dtype comparison (informational — driver checks schema too)
        def _dt(x: str) -> str:
            # pandas datetime unit (ns vs us) is a toPandas artifact, not a
            # schema difference — both engines emit µs timestamps via Arrow.
            return "datetime" if x.startswith("datetime64") else x

        sdt = {c: _dt(str(spdf[c].dtype)) for c in spdf.columns}
        odt = {c: _dt(str(opdf[c].dtype)) for c in opdf.columns}
        if sdt != odt and not status:
            status.append(f"DTYPE-ONLY {sdt} vs {odt}")
        if status:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(status))
        else:
            print(f"ok   {name}: {sn} rows match "
                  f"({time.time()-t0:.1f}s){tol_note}")
    print(f"\n{len(failures)} failures" + (": " + ", ".join(failures) if failures else ""))
    con.close()
    spill_dir.cleanup()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

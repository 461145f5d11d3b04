"""The benchmark's workloads.  One client, closed loop: each operation
starts after the previous one has returned.

- ``ingest_dump``: one operation loads the whole synthetic dump into a
  fresh warehouse and database through ``NcdZipLoader`` (timed), checks
  every table against the generator's manifest, then runs analyst passes
  of six parameterised statements through ``QueryExecutor.execute_query``
  (each timed, each compared with DuckDB over the same Parquet files) and
  drops the database.
- ``operator_sweep``: one operation is a pass of ``.count()`` over a fixed
  subset of the engine's operator queries, each timed and compared with
  its pinned row count, with the Spark cache cleared between queries.

Checks run outside every timed interval.  Set-up is one cold start: the
program's import, ``get_spark`` in a fresh JVM and one untimed warm
operation.

Each timed interval is measured twice: in wall time and in CPU time of
this process and all its descendants (the JVM and its Python workers).
On a shared VM the wall time of the same work swings by half with other
tenants' load while its CPU time stays within a few per cent, so the
end-to-end metrics are CPU seconds and the wall times go to the record.
"""

from __future__ import annotations

import csv
import datetime
import io
import math
import os
import random
import shutil
import statistics
import time
import traceback

import dumpgen
import tracer as tr

# Keeps the console progress bar off stderr; changes no computation.
QUIET_CONF = {"spark.ui.showConsoleProgress": "false"}

# Analyst passes over each ingested dump.  Their parameters differ, so
# one pass alone makes the statement rate depend on the seed.
ANALYST_PASSES = 3

# Operator subset of the sweep and the row count each returns on the
# tables of ``tablegen``.
SWEEP = {
    "q1_pricing_summary": 6,
    "q3_shipping_priority": 10,
    "q18_large_orders": 50,
    "window_rank_orders": 4499,
    "minhash_lsh_neardup": 23,
    "ngram_jaccard_pairs": 4,
    "neardup_pagerank": 62,
    "training_corpus_build": 101,
    "lm_perplexity": 100,
    "link_customer_records_snb": 4410,
    "dedup_exact": 499,
    "ann_pq_topk": 50,
}

# Per-layer metrics and their units.  A traced run reports every one of
# them; a layer the workload does not drive reports 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "data_zip.stage_s": "s",
    "data_zip.staged_mb": "MB",
    "data_zip.members": "count",
    "schemas.extract_s": "s",
    "schemas.tables": "count",
    "globals.parse_s": "s",
    "globals.tables_written": "count",
    "fixedwidth.plan_s": "s",
    "fixedwidth.scan_partitions": "count",
    "catalog.write_s": "s",
    "catalog.small_write_s": "s",
    "catalog.ddl_s": "s",
    "catalog.sql_statements": "count",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "catalog.stored_bytes_per_input_byte": "ratio",
    "catalog.spark_jobs": "count",
    "catalog.tasks": "count",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.spark_jobs": "count",
    "query.tasks": "count",
    "query.result_rows": "count",
    **{f"operators.{q}_s": "s" for q in SWEEP},
    "operators.spark_jobs": "count",
    "operators.tasks": "count",
    "trace.overhead_s": "s",
}


# --- analyst statements ---------------------------------------------------


def analyst_pass(rng: random.Random) -> list[tuple[str, str]]:
    """One analyst session: the six statement kinds with seeded
    parameters, in a seeded order."""
    d = rng.choice(dumpgen.DISTRICTS)
    code = rng.choice(tuple(dumpgen.EVENT_CODES))
    year = rng.randrange(1996, 2019)
    stmts = [
        (
            "district_filter",
            "SELECT case_id, event_date, event_code, judge_id FROM gs_court_hist "
            f"WHERE filename_district = '{d}' AND event_code = '{code}'",
        ),
        (
            "district_year_groupby",
            "SELECT district, year(filed_date) AS filed_year, count(*) AS cases, "
            "sum(total_defendants) AS defendants FROM gs_case "
            f"WHERE filed_date >= DATE '{year}-01-01' "
            "GROUP BY district, year(filed_date)",
        ),
        (
            "decode_join",
            "SELECT d.name AS district_name, e.description AS event, "
            "count(*) AS events FROM gs_court_hist h "
            "JOIN gs_district d ON h.filename_district = d.code "
            "JOIN gs_event_code e ON h.event_code = e.code "
            f"WHERE year(h.event_date) = {year} GROUP BY d.name, e.description",
        ),
        (
            "case_history_join",
            "SELECT c.district, c.program_cat, count(*) AS events, "
            "count(DISTINCT c.case_id) AS cases FROM gs_case c "
            "JOIN gs_court_hist h ON c.case_id = h.case_id "
            f"WHERE h.event_code = '{code}' "
            f"AND c.status_code = '{rng.choice(tuple(dumpgen.STATUS))}' "
            "GROUP BY c.district, c.program_cat",
        ),
        (
            "district_topk",
            "SELECT district, case_id, total_defendants, rn FROM ("
            "SELECT district, case_id, total_defendants, row_number() OVER ("
            "PARTITION BY district ORDER BY total_defendants DESC, case_id) AS rn "
            "FROM gs_case WHERE program_cat = "
            f"'{rng.choice(tuple(dumpgen.PROGRAMS))}' "
            f"AND total_defendants IS NOT NULL) t WHERE rn <= {rng.randint(3, 10)}",
        ),
        (
            "redaction_report",
            "SELECT filename_district, count(*) AS participants, "
            "avg(CAST(redacted_last_name AS INT)) AS last_name_rate, "
            "avg(CAST(redacted_disposition_date AS INT)) AS disposition_rate, "
            "sum(CASE WHEN disposition_date IS NULL THEN 1 ELSE 0 END) "
            "AS null_dispositions FROM gs_participant "
            f"WHERE role_code = '{rng.choice(tuple(dumpgen.ROLES))}' "
            "GROUP BY filename_district",
        ),
    ]
    rng.shuffle(stmts)
    return stmts


def manifest_sql(table: str, expected: dict) -> tuple[str, list[int]]:
    """Counting statement for one table and the counts it must return."""
    cols = ["count(*) AS n_rows"]
    want = [expected["rows"]]
    for c, n in expected["redacted"].items():
        cols.append(f"sum(CAST(redacted_{c} AS INT)) AS r_{c}")
        want.append(n)
    for c, n in expected["nulls"].items():
        cols.append(f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS z_{c}")
        want.append(n)
    return f"SELECT {', '.join(cols)} FROM {table}", want


# --- result comparison ------------------------------------------------------


def _norm(v):
    """One cell, from a CSV result or from DuckDB, in comparable form.
    Empty and NULL read the same, because the CSV cannot tell them apart."""
    if v is None or v == "":
        return None
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (0, "") if v is None else (1, f"{v:.6g}") if isinstance(v, float) else (2, v)
        for v in row
    )


def parse_csv(text: str) -> list[tuple]:
    rows = list(csv.reader(io.StringIO(text)))
    return [tuple(_norm(v) for v in r) for r in rows[1:]]


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality, floats within a relative 1e-6."""
    if len(got) != len(want):
        return False
    for a, b in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def duckdb_oracle(warehouse: str, db_name: str, tables: list[str]):
    """In-memory DuckDB with one view per ingested table over its Parquet."""
    import duckdb  # noqa: PLC0415

    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in tables:
        loc = os.path.join(warehouse, db_name, t)
        partitioned = any(d.startswith("filename_district=") for d in os.listdir(loc))
        glob = f"{loc}/*/*.parquet" if partitioned else f"{loc}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}', "
            f"hive_partitioning = {str(partitioned).lower()})"
        )
    return con


# --- the run ------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    including descendants that have exited and been reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # Fields after the parenthesised command: state ppid ... utime
        # stime cutime cstime are the 2nd and 12th-15th.
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p in parent and p != me:
            p = parent[p]
        if p == me:
            total += t
    return total / _TICK


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _disk(warehouse: str) -> tuple[int, int]:
    """(Parquet files, Parquet bytes) under a warehouse directory."""
    files = size = 0
    for dirpath, _, names in os.walk(warehouse):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Bench:
    """State of one benchmark run: session, counters and samples.

    ``inputs`` is the dump manifest (``ingest_dump``) or the directory of
    the sweep's tables (``operator_sweep``)."""

    def __init__(self, workload: str, work: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.work = work
        self.seconds = seconds
        self.trace = trace
        self.tracer = tr.Tracer()
        if trace:
            tr.instrument(self.tracer)
        self.spark = None
        self.rng = random.Random(f"{seed}-{workload}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.n_units = 0
        self.gc: dict = {}
        # samples
        self.setup_s = (0.0, 0.0)
        self.get_spark_s = 0.0
        self.warm_s = (0.0, 0.0)
        # (wall, cpu) seconds of each measured operation; wall seconds of
        # each query; CPU seconds of the measured query loops, their
        # out-of-band checks excluded
        self.op_s: list[tuple[float, float]] = []
        self.query_s: list[float] = []
        self.query_loop_cpu_s = 0.0
        self.ingests: list[dict] = []
        self.unit_work: dict[bool, list[float]] = {True: [], False: []}
        self.layers: list[dict] = []

    # -- bookkeeping -------------------------------------------------------

    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def _unit_id(self, kind: str) -> str:
        self.n_units += 1
        return f"{kind}{self.n_units}"

    def _layers(self, run_id: str, figures) -> dict:
        self.tracer.attribute_jobs(run_id)
        return figures(self.tracer.spans_of(run_id))

    # -- ingest_dump -------------------------------------------------------

    def ingest_op(
        self, manifest: dict, measured: bool, traced: bool
    ) -> tuple[float, float] | None:
        """Load the dump, check it, run the analyst passes over it and drop
        it.  Returns the (wall, cpu) seconds of the timed work (ingest plus
        statements), or None when the ingest failed."""
        from national_caseload_data_ingest_spark.catalog import SparkCatalog  # noqa: PLC0415
        from national_caseload_data_ingest_spark.sources.data_zip import (  # noqa: PLC0415
            NcdZipLoader,
        )

        run_id = self._unit_id("ingest")
        warehouse = os.path.join(self.work, f"wh_{run_id}")
        db = f"pb_{run_id}"
        catalog = SparkCatalog(self.spark, warehouse, db_name=db)
        self.attempted += 1
        loaded: list[str] = []
        try:
            with self.tracer.unit(run_id, "ingest", traced):
                c0, t0 = tree_cpu_s(), time.perf_counter()
                for path in manifest["zips"]:
                    loaded += NcdZipLoader(self.spark, catalog, path).load()
                ingest = (time.perf_counter() - t0, tree_cpu_s() - c0)
            if sorted(t.lower() for t in loaded) != sorted(manifest["tables"]):
                raise AssertionError(f"loaded {sorted(loaded)}")
            files, size = _disk(warehouse)
            fig = {}
            if traced:
                fig = self._layers(run_id, tr.ingest_layers)
                fig["catalog.files_written"] = files
                fig["catalog.bytes_written"] = size
                fig["catalog.stored_bytes_per_input_byte"] = size / manifest["input_bytes"]
            self.check_manifest(db, manifest)
            oracle = duckdb_oracle(warehouse, db, sorted(manifest["tables"]))
            try:
                pass_id = self._unit_id("pass")
                passes = [
                    self.query_pass(db, oracle, pass_id, measured, traced)
                    for _ in range(ANALYST_PASSES)
                ]
                work = tuple(map(sum, zip(ingest, *passes)))
            finally:
                oracle.close()
            if traced:
                fig.update(self._layers(pass_id, tr.query_layers))
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            self._fail(f"ingest {run_id}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            shutil.rmtree(warehouse, ignore_errors=True)
        if measured:
            self.op_s.append(ingest)
            self.ingests.append(
                {"ingest_s": ingest[0], "files": files, "bytes": size,
                 "rows_per_s": manifest["input_rows"] / ingest[0]}
            )
        if traced:
            self.layers.append(fig)
        return work

    def check_manifest(self, db: str, manifest: dict) -> None:
        """One counting statement per table through ``QueryExecutor``."""
        from national_caseload_data_ingest_spark.query import QueryExecutor  # noqa: PLC0415

        qe = QueryExecutor(self.spark, db)
        for table, expected in sorted(manifest["tables"].items()):
            sql, want = manifest_sql(table, expected)
            self.attempted += 1
            try:
                got = parse_csv(qe.execute_query(sql).getvalue())
            except Exception:  # noqa: BLE001
                self._fail(f"check {table}: {traceback.format_exc(limit=3)}")
                continue
            if got != [tuple(float(w) for w in want)]:
                self._fail(f"check {table}: got {got} want {want}")

    def query_pass(
        self, db: str, oracle, run_id: str, measured: bool, traced: bool
    ) -> tuple[float, float]:
        """One analyst pass, each statement compared with DuckDB.  Returns
        the (wall, cpu) seconds of the pass, its checks excluded."""
        from national_caseload_data_ingest_spark.query import QueryExecutor  # noqa: PLC0415

        qe = QueryExecutor(self.spark, db)
        checks = (0.0, 0.0)
        c_loop, t_loop = tree_cpu_s(), time.perf_counter()
        for name, sql in analyst_pass(self.rng):
            self.spark.catalog.clearCache()
            self.attempted += 1
            try:
                with self.tracer.unit(run_id, "queries", traced):
                    t0 = time.perf_counter()
                    text = qe.execute_query(sql).getvalue()
                    dt = time.perf_counter() - t0
            except Exception:  # noqa: BLE001
                self._fail(f"{name}: {traceback.format_exc(limit=3)}")
                continue
            c0, t0 = tree_cpu_s(), time.perf_counter()
            want = [tuple(_norm(v) for v in r) for r in oracle.execute(sql).fetchall()]
            ok = same_rows(parse_csv(text), want)
            checks = (checks[0] + time.perf_counter() - t0, checks[1] + tree_cpu_s() - c0)
            if not ok:
                self._fail(f"{name}: result differs from DuckDB: {sql}")
            elif measured:
                self.query_s.append(dt)
        busy = (
            time.perf_counter() - t_loop - checks[0],
            tree_cpu_s() - c_loop - checks[1],
        )
        if measured:
            self.query_loop_cpu_s += busy[1]
        return busy

    # -- operator_sweep ----------------------------------------------------

    def sweep_op(self, tables: str, measured: bool, traced: bool) -> tuple[float, float]:
        """``.count()`` of every query of the subset, in a seeded order;
        returns the (wall, cpu) seconds of the pass."""
        import __spark_entry__  # noqa: PLC0415

        queries = __spark_entry__.queries()
        order = sorted(SWEEP)
        self.rng.shuffle(order)
        run_id = self._unit_id("sweep")
        c_loop, t_loop = tree_cpu_s(), time.perf_counter()
        with self.tracer.unit(run_id, "operators", traced):
            for name in order:
                self.spark.catalog.clearCache()
                self.attempted += 1
                try:
                    with self.tracer.span(f"operators.{name}"):
                        t0 = time.perf_counter()
                        n = queries[name](self.spark, tables).count()
                        dt = time.perf_counter() - t0
                except Exception:  # noqa: BLE001
                    self._fail(f"{name}: {traceback.format_exc(limit=3)}")
                    continue
                if n != SWEEP[name]:
                    self._fail(f"{name}: {n} rows, want {SWEEP[name]}")
                elif measured:
                    self.query_s.append(dt)
        busy = (time.perf_counter() - t_loop, tree_cpu_s() - c_loop)
        if measured:
            self.op_s.append(busy)
            self.query_loop_cpu_s += busy[1]
        if traced:
            self.layers.append(self._layers(run_id, tr.operator_layers))
        return busy

    # -- the run -----------------------------------------------------------

    def run(self, inputs) -> None:
        """Set up (timed), then run operations for ``seconds``."""
        if self.workload == "ingest_dump":
            def op(measured: bool, traced: bool) -> tuple[float, float] | None:
                return self.ingest_op(inputs, measured, traced)
        else:
            def op(measured: bool, traced: bool) -> tuple[float, float] | None:
                return self.sweep_op(inputs, measured, traced)

        c0, t0 = tree_cpu_s(), time.perf_counter()
        if self.workload == "operator_sweep":
            import __spark_entry__  # noqa: F401, PLC0415 — loads every operator module
        from national_caseload_data_ingest_spark.session import get_spark  # noqa: PLC0415

        t1 = time.perf_counter()
        self.spark = get_spark(extra_conf=QUIET_CONF)
        self.get_spark_s = time.perf_counter() - t1
        self.tracer.sc = self.spark.sparkContext
        started = (time.perf_counter() - t0, tree_cpu_s() - c0)
        warm = op(measured=False, traced=False)
        if warm is None:
            raise RuntimeError("the warm operation failed: " + "\n".join(self.failures))
        # The warm operation's timed work only: its checks are left out.
        self.warm_s = warm
        self.setup_s = (started[0] + warm[0], started[1] + warm[1])

        t_end = time.perf_counter() + self.seconds
        i = 0
        # A traced run alternates untraced and traced operations, so the
        # tracing overhead is measured inside one process.  It runs at
        # least untraced, traced, untraced: operations still speed up
        # after the warm one, and the untraced pair brackets that drift.
        while True:
            traced = self.trace and i % 2 == 1
            work = op(measured=True, traced=traced)
            if work is not None:
                self.unit_work[traced].append(work[1])
            i += 1
            done = time.perf_counter() >= t_end
            if done and (not self.trace or i >= 3):
                break

    # -- results -----------------------------------------------------------

    def end_to_end(self, peak_rss_mb: float) -> dict:
        if not self.op_s or not self.query_s:
            raise RuntimeError("no operation succeeded: " + "\n".join(self.failures))
        return {
            "setup_s": (self.setup_s[1], "s"),
            "op_cpu_s": (statistics.median(c for _, c in self.op_s), "s"),
            "queries_per_cpu_s": (len(self.query_s) / self.query_loop_cpu_s, "1/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "ok_frac": (1 - self.failed / self.attempted, "ratio"),
        }

    def query_latency(self) -> dict:
        """Sample count, wall-time median and the highest wall-time
        percentile with at least ten samples beyond it."""
        wall = self.query_s
        out = {"n": len(wall), "p50_s": statistics.median(wall) if wall else None}
        if len(wall) >= 20:
            q = 1 - 10 / len(wall)
            out.update({"tail_pct": 100 * q, "tail_s": percentile(wall, q)})
        return out

    def per_layer(self) -> dict:
        out = {k: (0.0, u) for k, u in PER_LAYER.items()}
        out["session.get_spark_s"] = (self.get_spark_s, "s")
        for key in {k for fig in self.layers for k in fig}:
            out[key] = (statistics.median(f.get(key, 0.0) for f in self.layers), PER_LAYER[key])
        on, off = self.unit_work[True], self.unit_work[False]
        if on and off:
            out["trace.overhead_s"] = (statistics.median(on) - statistics.median(off), "s")
        return out

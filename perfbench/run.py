"""Benchmark of record for the NCD ingest engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_dump --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen, and
``workloads`` for what one operation is):

- ``ingest_dump``: load a seeded synthetic monthly dump (``dumpgen``),
  check it against the generator's manifest and run three analyst passes
  of six SQL statements over it, each statement compared with DuckDB.
- ``operator_sweep``: ``.count()`` of twelve operator queries over fixed
  synthetic tables (``tablegen``), each compared with its pinned row count.

The run pins its environment before Spark starts: ``local[<cpus>]`` with
the CPUs this process may use, a small driver heap, and every scratch
file (Spark local dir, warehouse, temp files) under a per-run work
directory that is deleted at exit.  Inputs are generated before any clock
starts.  Set-up is timed once per run: a cold start of the program in a
fresh JVM plus one warm operation; repeated runs give its median.

End-to-end metrics (``--trace 0``).  Times are CPU seconds of this
process and its descendants (the JVM and its Python workers): on a shared
VM they stay within a few per cent where wall times swing by half with
other tenants' load.  The record keeps every wall time too.

- ``setup_s``: program import, ``get_spark`` and the warm operation;
- ``op_cpu_s``: median over the run's operations (one ingest of the whole
  dump; one pass over the operator subset);
- ``queries_per_cpu_s``: queries completed per CPU second of the query
  loops, out-of-band checks excluded (analyst statements; operator
  queries);
- ``peak_rss_mb``: peak resident memory of the driver JVM plus this
  Python process;
- ``ok_frac``: share of operations and checks that neither raised nor
  returned a wrong result (1 - failed / attempted).

Output: one JSON line with the whole record (samples, environment, CPU
steal over the run, failures), then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics for ``--trace 0`` and the per-layer metrics for ``--trace 1``.
A traced run alternates untraced and traced operations and reports the
difference of their median CPU seconds as ``trace.overhead_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "national_caseload_data_ingest_spark"
WORKLOADS = ("ingest_dump", "operator_sweep")
# 204k fixed-width rows (8 MB) in 79 members.  On a 4-core VM a warm
# ingest takes about 5.2 s plus 10.5 us per row (fitted over 61k-408k
# rows), so at this size the per-table jobs and DDL of the write path are
# about 70% of it.  The size keeps one run, cold set-up included, near
# 45 s on that VM.
DUMP_SCALE = 1.0
DRIVER_MEM = "1g"


def _cpu_sample() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _cpu_window(before: list[int], after: list[int]) -> dict:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {
        "steal_frac": d[7] / total if len(d) > 7 else 0.0,
        "busy_frac": 1.0 - (d[3] + d[4]) / total,
    }


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _pin_environment(work: str) -> dict:
    """Environment the engine reads at session start; returned for the
    record."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # JVM temp files (native library extraction) stay in the work dir.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers of the operators' UDFs import the package.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(env)
    return {**env, "master": f"local[{cpus}]"}


def _stop_spark(bench) -> float:
    """Stop the session and the JVM it runs in; return the JVM's peak RSS."""
    from pyspark import SparkContext  # noqa: PLC0415

    if bench is None or bench.spark is None:
        return 0.0
    jvm = bench.spark._jvm
    jvm_mb = _vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    bench.gc = {b.getName(): [b.getCollectionCount(), b.getCollectionTime() / 1000] for b in beans}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    bench.spark.stop()
    bench.spark = None
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    return jvm_mb


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    bench = None
    try:
        env = _pin_environment(work)
        os.chdir(work)  # spark-warehouse/ of CREATE DATABASE lands here

        import workloads  # noqa: PLC0415

        if args.workload == "ingest_dump":
            import dumpgen  # noqa: PLC0415

            inputs = dumpgen.generate(
                os.path.join(work, "dump"), args.seed, scale=DUMP_SCALE
            )
        else:
            import tablegen  # noqa: PLC0415

            inputs = tablegen.generate(os.path.join(work, "tables"))
        bench = workloads.Bench(
            args.workload, work, args.seed, args.seconds, bool(args.trace)
        )
        cpu0 = _cpu_sample()
        t0 = time.perf_counter()
        bench.run(inputs)
        wall = time.perf_counter() - t0
        cpu = _cpu_window(cpu0, _cpu_sample())
        python_mb = _vm_hwm_mb("self")
        jvm_mb = _stop_spark(bench)
        if args.spans:
            bench.tracer.dump(os.path.join(cwd, args.spans))
    finally:
        os.chdir(cwd)
        if bench is not None and bench.spark is not None:
            try:
                _stop_spark(bench)
            except Exception:  # noqa: BLE001 — already stopped
                pass
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    if args.trace:
        metrics = bench.per_layer()
    else:
        metrics = bench.end_to_end(python_mb + jvm_mb)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "cpu": cpu,
        "wall_s": wall,
        "samples": {
            "setup_s": bench.setup_s,
            "get_spark_s": bench.get_spark_s,
            "warm_s": bench.warm_s,
            "op_s": bench.op_s,
            "query_s": bench.query_s,
        },
        "query_latency": bench.query_latency(),
        "failed_frac": bench.failed / max(bench.attempted, 1),
        "failures": bench.failures,
        "peak_rss_mb": {"python": python_mb, "jvm": jvm_mb},
        "jvm_gc": bench.gc,
        "units_traced_untraced": [
            len(bench.unit_work[True]),
            len(bench.unit_work[False]),
        ],
    }
    if args.workload == "ingest_dump":
        record["dump"] = {k: inputs[k] for k in ("input_rows", "input_bytes")}
        record["ingests"] = bench.ingests
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Outside-in span tracer for the benchmark's traced run.

The benchmark wraps the public entry points of each layer
(:func:`instrument`) instead of editing the program: every wrapped call
records a span (name, start, end, parent, run id) in memory, and while a
span is open its Spark job group is ``pb<span_id>`` so that
``statusTracker()`` can attribute jobs and tasks to it afterwards.  With
the tracer inactive a wrapper costs one attribute check.

``data_zip`` imports ``extract_normal_schemas`` and ``project_fixed_width``
by name, so those are wrapped in ``data_zip``'s own namespace.
"""

from __future__ import annotations

import functools
import os
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store; spans are written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.run_id = ""
        self.sc = None  # SparkContext used for job-group attribution
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb{span.span_id}", span.name)

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans),
            name,
            parent.span_id if parent else None,
            self.run_id,
            0.0,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def unit(self, run_id: str, kind: str, active: bool) -> Iterator[Span | None]:
        """Root span of one measured unit (an ingest, an analyst statement
        or an operator sweep)."""
        self.active, self.run_id = active, run_id
        try:
            with self.span(f"unit.{kind}") as root:
                yield root
        finally:
            self.active = False

    def attribute_jobs(self, run_id: str) -> None:
        """Count the Spark jobs and completed tasks of each span of a unit."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for s in self.spans_of(run_id):
            for job_id in st.getJobIdsForGroup(f"pb{s.span_id}"):
                info = st.getJobInfo(job_id)
                if info is None:
                    continue
                s.jobs += 1
                for stage_id in info.stageIds:
                    stage = st.getStageInfo(stage_id)
                    if stage is not None:
                        s.tasks += stage.numCompletedTasks

    def spans_of(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        import json  # noqa: PLC0415

        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.span_id,
                            "name": s.name,
                            "parent": s.parent,
                            "run_id": s.run_id,
                            "start": s.start,
                            "end": s.end,
                            "jobs": s.jobs,
                            "tasks": s.tasks,
                            "attrs": s.attrs,
                        },
                        default=str,
                    )
                    + "\n"
                )


def _wrap(
    tracer: Tracer,
    owner: object,
    attr: str,
    name: str,
    describe: Callable[..., dict] | None = None,
) -> None:
    """Replace ``owner.attr`` by a spanning wrapper.  ``describe(args,
    result)`` returns span attributes; it runs after the span has ended."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
        if describe is not None:
            s.attrs.update(describe(args, out))
        return out

    setattr(owner, attr, wrapper)


def _staged(args, staged) -> dict:
    sizes = [os.path.getsize(p) for p in staged.members.values()]
    return {"members": len(sizes), "staged_bytes": sum(sizes)}


def _scan_partitions(args, result) -> dict:
    if result is None:
        return {"scan_partitions": 0}
    df, _ = result
    return {"scan_partitions": df._jdf.rdd().getNumPartitions()}


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of every layer the benchmark drives."""
    from national_caseload_data_ingest_spark import catalog, query  # noqa: PLC0415
    from national_caseload_data_ingest_spark.sources import (  # noqa: PLC0415
        data_zip,
    )
    from national_caseload_data_ingest_spark.sources import (  # noqa: PLC0415
        globals as g,
    )

    _wrap(tracer, data_zip, "stage_members", "data_zip.stage_members", _staged)
    _wrap(tracer, data_zip.NcdZipLoader, "load", "data_zip.load")
    _wrap(
        tracer, data_zip, "extract_normal_schemas", "schemas.extract_normal_schemas",
        lambda a, out: {"tables": len(out)},
    )
    _wrap(
        tracer, g, "read_global_tables", "globals.read_global_tables",
        lambda a, out: {"tables": sorted(out)},
    )
    _wrap(
        tracer, g, "read_lookup_table", "globals.read_lookup_table",
        lambda a, out: {"tables": [out[0]]},
    )
    _wrap(
        tracer, data_zip.NcdZipLoader, "read_normal_table",
        "fixedwidth.read_normal_table", _scan_partitions,
    )
    _wrap(tracer, data_zip, "project_fixed_width", "fixedwidth.project_fixed_width")
    _wrap(
        tracer, catalog.SparkCatalog, "write_table", "catalog.write_table",
        lambda a, out: {"table": a[1]},
    )
    _wrap(tracer, catalog.SparkCatalog, "execute_query", "catalog.execute_query")
    _wrap(
        tracer, catalog.SparkCatalog, "recover_partitions", "catalog.recover_partitions"
    )
    _wrap(
        tracer, query.QueryExecutor, "execute_query", "query.execute_query",
        lambda a, out: {"rows": out.getvalue().count("\n") - 1},
    )
    _wrap(tracer, query.QueryExecutor, "execute_query_df", "query.execute_query_df")


def _self_times(spans: list[Span]) -> dict[int, float]:
    child = {s.span_id: 0.0 for s in spans}
    for s in spans:
        if s.parent in child:
            child[s.parent] += s.duration
    return {s.span_id: s.duration - child[s.span_id] for s in spans}


def ingest_layers(spans: list[Span]) -> dict[str, float]:
    """Per-layer figures of one ingest unit."""
    own = _self_times(spans)
    small_tables = {
        t.lower()
        for s in spans
        if s.name.startswith("globals.")
        for t in s.attrs.get("tables", ())
    }

    def total(name: str, key=None) -> float:
        return sum(
            (s.attrs.get(key, 0) if key else s.duration)
            for s in spans
            if s.name == name
        )

    writes = [s for s in spans if s.name == "catalog.write_table"]
    small = [s for s in writes if s.attrs.get("table") in small_tables]
    cat = [s for s in spans if s.name.startswith("catalog.")]
    return {
        "data_zip.stage_s": total("data_zip.stage_members"),
        "data_zip.staged_mb": total("data_zip.stage_members", "staged_bytes") / 1e6,
        "data_zip.members": total("data_zip.stage_members", "members"),
        "schemas.extract_s": total("schemas.extract_normal_schemas"),
        "schemas.tables": total("schemas.extract_normal_schemas", "tables"),
        "globals.parse_s": total("globals.read_global_tables")
        + total("globals.read_lookup_table"),
        "globals.tables_written": len(small),
        "fixedwidth.plan_s": total("fixedwidth.read_normal_table"),
        "fixedwidth.scan_partitions": total(
            "fixedwidth.read_normal_table", "scan_partitions"
        ),
        "catalog.write_s": sum(own[s.span_id] for s in writes),
        "catalog.small_write_s": sum(own[s.span_id] for s in small),
        "catalog.ddl_s": sum(
            own[s.span_id]
            for s in spans
            if s.name in ("catalog.execute_query", "catalog.recover_partitions")
        ),
        "catalog.sql_statements": sum(s.name == "catalog.execute_query" for s in spans),
        "catalog.spark_jobs": sum(s.jobs for s in cat),
        "catalog.tasks": sum(s.tasks for s in cat),
    }


def query_layers(spans: list[Span]) -> dict[str, float]:
    """Per-layer figures of the analyst statements of one operation."""
    own = _self_times(spans)
    q = [s for s in spans if s.name.startswith("query.")]
    return {
        "query.plan_s": sum(s.duration for s in q if s.name == "query.execute_query_df"),
        "query.exec_s": sum(own[s.span_id] for s in q if s.name == "query.execute_query"),
        "query.spark_jobs": sum(s.jobs for s in q),
        "query.tasks": sum(s.tasks for s in q),
        "query.result_rows": sum(s.attrs.get("rows", 0) for s in q),
    }


def operator_layers(spans: list[Span]) -> dict[str, float]:
    """Per-layer figures of one operator sweep."""
    ops = [s for s in spans if s.name.startswith("operators.")]
    out = {f"{s.name}_s": s.duration for s in ops}
    out["operators.spark_jobs"] = sum(s.jobs for s in ops)
    out["operators.tasks"] = sum(s.tasks for s in ops)
    return out

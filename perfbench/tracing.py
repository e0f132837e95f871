"""Per-layer tracing from outside the library.

The tracer wraps public functions of each layer (io, backend, dataframe
verbs, operator modules, py4j's command send) at run time and records a
span per outermost call: ``{name, start, end, parent, op}``. Spans are kept
in memory and written out when the benchmark ends. Spark engine metrics
come from the local REST status API: every traced op runs its build, its
execution and its validation calls under their own job group, so jobs and
stages are attributed by group, never by counting all retained jobs.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

OPERATOR_MODULES = [
    "dedup", "similarity", "semdedup", "importance", "quality", "report", "graph",
    "cooccur", "clustering", "pq", "decontaminate", "spans", "text",
]


class Tracer:
    """Span recorder. ``recording(op_id)`` is the only switch: it installs
    the wrappers and records spans for the duration of one traced op, and
    removes them afterwards, so untraced ops and every output check run
    the library unwrapped."""

    def __init__(self, spark):
        self.spark = spark
        self.on = False
        self.op_id: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._active: dict[str, int] = defaultdict(int)
        self._quiet = 0
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.footer_fallbacks = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def recording(self, op_id: str):
        self.op_id = op_id
        self._install()
        self.on = True
        try:
            yield
        finally:
            self.on = False
            self._uninstall()

    @contextmanager
    def quiet(self):
        """The benchmark's own calls inside a traced op (job groups,
        fingerprint observation) are left out of every layer's counts."""
        self._quiet += 1
        try:
            yield
        finally:
            self._quiet -= 1

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record one span; with ``group``, run Spark jobs started inside it
        under the job group ``<op>:<group>``."""
        if not self.on:
            yield
            return
        sc = self.spark.sparkContext
        prev_group = None
        if group is not None:
            with self.quiet():
                prev_group = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup(f"{self.op_id}:{group}", name)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._active[name] += 1
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._active[name] -= 1
            self._stack.pop()
            if group is not None:
                with self.quiet():
                    if prev_group is None:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                    else:
                        sc.setJobGroup(prev_group, "")

    def _wrapper(self, fn, name: str, group: str | None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # outermost call only: recursion and calls between functions of
            # one layer are part of the outer span
            if self._quiet or self._active[name]:
                return fn(*args, **kwargs)
            with self.span(name, group):
                out = fn(*args, **kwargs)
            if name == "io.footer_schema" and out[0] is None:
                self.footer_fallbacks += 1
            return out

        return traced

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _install(self) -> None:
        """Wrap the public entry points of every traced layer. Module
        functions are replaced wherever a library module holds them, since
        ``from x import f`` copies the reference."""
        import py4j.clientserver
        import py4j.java_gateway

        from colnade_spark import backend, dataframe, io
        from colnade_spark.operators import __name__ as ops_pkg

        funcs = {}  # id(function) -> wrapper
        for attr, name in [("footer_schema", "io.footer_schema"), ("read_parquet", "io.read"),
                           ("scan_parquet", "io.read"), ("read_parquet_table", "io.read"),
                           ("write_parquet", "io.write")]:
            fn = getattr(io, attr)
            funcs[id(fn)] = self._wrapper(fn, name, None)
        for m in OPERATOR_MODULES:
            mod = __import__(f"{ops_pkg}.{m}", fromlist=["_"])
            for k, v in vars(mod).items():
                if inspect.isfunction(v) and v.__module__ == mod.__name__ and not k.startswith("_"):
                    funcs[id(v)] = self._wrapper(v, f"operators.{m}", None)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if mname.startswith("colnade_spark") or mname == "__spark_entry__":
                for k, v in list(vars(mod).items()):
                    if id(v) in funcs and inspect.isfunction(v):
                        self._set(mod, k, funcs[id(v)])

        methods = [(backend.SparkBackend, "translate_expr", "backend.translate", None),
                   (backend.SparkBackend, "validate_schema", "validation.structural", "validation"),
                   (backend.SparkBackend, "validate_values", "validation.full", "validation")]
        for cls in (dataframe._FrameBase, dataframe.DataFrame, dataframe.LazyFrame,
                    dataframe._GroupByBase, dataframe.GroupBy, dataframe.LazyGroupBy,
                    dataframe._JoinedBase):
            methods += [(cls, k, "dataframe.verb", None) for k, v in cls.__dict__.items()
                        if inspect.isfunction(v) and not k.startswith("_")]
        for cls, attr, name, group in methods:
            self._set(cls, attr, self._wrapper(cls.__dict__[attr], name, group))
        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            self._set(cls, "send_command", self._py4j_wrapper(cls.send_command))

    def _py4j_wrapper(self, send):
        @functools.wraps(send)
        def counted(conn, command, *args, **kwargs):
            # memory (garbage-collection) commands are sent whenever Python
            # frees a proxy, not by the op: they are left out of the count
            if self._quiet or command.startswith("m\n"):
                return send(conn, command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(conn, command, *args, **kwargs)
            finally:
                self.py4j_s += time.perf_counter() - t0
                self.py4j_calls += 1

        return counted

    def _uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched.clear()

    # -- aggregation --------------------------------------------------------
    def totals(self) -> tuple[dict[str, float], dict[str, int]]:
        """Summed duration (s) and count of spans per name."""
        secs: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in self.spans:
            secs[s["name"]] += s["end"] - s["start"]
            calls[s["name"]] += 1
        return secs, calls

    def write_spans(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s["name"], "start": s["start"] - t0,
                                    "end": s["end"] - t0, "parent": s["parent"], "op": s["op"]}) + "\n")


def _rest(spark, path: str):
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]  # the UI listens on every interface
    url = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def engine_metrics(spark, op_ids: set[str], cores: int) -> dict[str, float]:
    """Spark job/stage metrics summed over the jobs whose group belongs to
    one of ``op_ids`` (groups are ``<op>:<phase>``, where a phase is
    ``<layer>.build``, ``<layer>.exec`` or ``validation``)."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 30
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.1)
    # the status store is fed by an asynchronous listener: wait until every
    # job it reports has finished
    while True:
        jobs = _rest(spark, "jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    by_phase: dict[str, int] = defaultdict(int)
    stage_ids: set[int] = set()
    for j in jobs:
        group = j.get("jobGroup") or ""
        op, _, phase = group.rpartition(":")
        if op not in op_ids:
            continue
        by_phase[phase] += 1
        stage_ids.update(j.get("stageIds", []))
    stages = [s for s in _rest(spark, "stages") if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    out = {
        "jobs": sum(by_phase.values()),
        "entry.build_jobs": by_phase["entry.build"],
        "validation.jobs": by_phase["validation"],
        "stages": len(stages),
        "tasks": sum(s.get("numTasks", 0) for s in stages),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages),
        "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
        "failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
    }
    idle = 0.0
    for s in stages:
        start, end = s.get("submissionTime"), s.get("completionTime")
        if start and end:
            wall = (_ts(end) - _ts(start))
            idle += max(0.0, wall * cores - s.get("executorRunTime", 0) / 1e3)
    out["slot_idle_s"] = idle
    return out


def _ts(s: str) -> float:
    """Seconds since the epoch of a REST timestamp like 2026-01-01T00:00:00.123GMT."""
    import datetime as dt

    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

"""Spans recorded from the benchmark's side, and the per-layer metrics
derived from them and from Spark's event log.

The tracer wraps public functions and methods of the program where the
caller looks the name up (``engine.read_csv_all_string``, not only
``readers.read_csv_all_string``) and removes every wrapper on
``uninstall``. A span has a name, start, end, parent and the id of the
operation (one client request) it belongs to. Spans stay in memory
until the run ends.

Spark work is attributed to operations through job groups: the tracer
sets the request's operation id as the job group inside the wrapped
server methods (and the benchmark does so around ``Engine.sql``), and
the event log, switched on by the runner's submit arguments, is read
after the session stops. Spark's status store is not used: it keeps
only ``spark.ui.retainedJobs`` jobs.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

OP_KINDS = ("upload", "report", "export", "sql")

# per-layer metric -> span name whose median self time it reports
SPAN_TIMES = {
    "session.get_spark_s": "session.get_spark",
    "tenancy.authenticate_s": "tenancy.authenticate",
    "readers.read_csv_s": "readers.read_csv",
    "plans.stg_s": "plans.stg",
    "plans.fct_s": "plans.fct",
    "schemas.contract_s": "schemas.contract",
    "sinks.write_parquet_s": "sinks.write_parquet",
    "engine.ingest_self_s": "engine.ingest",
    "engine.fact_table_s": "engine.fact_table",
    "engine.sql_build_s": "engine.sql",
    "engine.sql_exec_s": "engine.sql_exec",
    "reports.budget_report_s": "reports.budget_report",
    "reports.full_export_s": "reports.full_export",
    "service.do_put_self_s": "service.do_put",
    "service.egress_spool_s": "service.egress_spool",
    "service.egress_stream_s": "service.egress_stream",
}
# per-layer metric -> (span name, attribute) whose median it reports
SPAN_COUNTS = {
    "sinks.fact_files": ("sinks.write_parquet", "files"),
    "sinks.fact_bytes": ("sinks.write_parquet", "bytes"),
    "service.do_put_bytes": ("service.do_put", "bytes"),
    "service.egress_batches": ("service.egress_stream", "batches"),
    "service.egress_bytes": ("service.egress_stream", "bytes"),
}
# Spark work per operation kind, from the event log. ``upload.shuffle_bytes``
# is left out: the ingest plan has no exchange, so it reads 0 every run.
SPARK_COUNTS = [
    f"{kind}.{c}"
    for kind in OP_KINDS
    for c in ("jobs", "tasks", "executor_cpu_s", "shuffle_bytes")
    if (kind, c) != ("upload", "shuffle_bytes")
]
# Per suite module, over the timed executions of its listed queries:
# plan build and run time, the Spark counts of the op's job group, and
# idle time (the op's wall time minus executor run time / cores).
SUITE_MODULES = ("parity", "relational", "textops", "vectors", "analytics",
                 "advanced", "mlops")
SUITE_METRICS = ("build_s", "exec_s", "jobs", "tasks", "executor_cpu_s",
                 "shuffle_bytes", "idle_s")
SUITE = [f"suite.{m}.{c}" for m in SUITE_MODULES for c in SUITE_METRICS]
# Operator modules the listed queries call. Per execution that calls one,
# the time spent in its public functions (outermost calls only).
OPERATOR_FAMILIES = ("dedup", "similarity")
OPERATORS = [f"operators.{f}_s" for f in OPERATOR_FAMILIES]
PER_LAYER = list(SPAN_TIMES) + list(SPAN_COUNTS) + SPARK_COUNTS + SUITE + OPERATORS


class Tracer:
    """In-memory span recorder with install/uninstall of wrappers."""

    def __init__(self):
        self.spans: list[dict] = []
        self.names: list[str] = []  # span names of installed wrappers
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []
        self._seq = itertools.count()
        # client_id -> (op id, span index) of that client's request in
        # flight; a closed-loop client has at most one
        self._client_ops: dict[str, tuple[str, int]] = {}

    # -- spans --------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, op=None, parent=None) -> dict:
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, op=None, parent=None):
        rec = self.open(name, op, parent)
        stack = self._stack()
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def request(self, client_id: str, kind: str, spark=None):
        """Client-side span of one request. Server-side spans of the
        request find it through ``client_id``. With ``spark``, the
        calling thread's Spark jobs are tagged with the operation id."""
        op = f"{kind}:{next(self._seq)}"
        with self.span(f"client.{kind}", op=op) as rec:
            self._client_ops[client_id] = (op, rec["id"])
            if spark is not None:
                spark.sparkContext.setJobGroup(op, op)
            yield rec

    @contextlib.contextmanager
    def suite_op(self, module: str, spark, timed: bool):
        """Span of one suite query execution. Its Spark jobs carry the
        operation id as job group; untimed executions get another kind,
        so only timed ones count."""
        kind = f"suite.{module}" if timed else f"warm.{module}"
        op = f"{kind}:{next(self._seq)}"
        with self.span("suite.op", op=op) as rec:
            spark.sparkContext.setJobGroup(op, op)
            try:
                yield rec
            finally:
                spark.sparkContext.setJobGroup("bench", "bench")

    # -- wrappers -----------------------------------------------------

    def wrapped(self, fn, name: str, after=None):
        """``fn`` with a span around every call. ``after(rec, args,
        result)`` adds counts; it runs in a span of its own so its cost
        is not charged to the parent's self time."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if after is not None:
                with self.span("bench.count"):
                    after(rec, args, out)
            return out

        self.names.append(name)
        return wrapper

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, wrapper)
        self._undo.append(lambda: setattr(owner, attr, orig))

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        self._patch(owner, attr, self.wrapped(getattr(owner, attr), name, after))

    def wrap_server(self, cls, attr: str, name: str, client_of, spark) -> None:
        """Wrap a Flight server method: link its span to the client's
        request and set the request's job group on the serving thread."""
        orig = getattr(cls, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(server, context, request, *rest):
            op, parent = tracer._client_ops.get(client_of(request), (None, None))
            with tracer.span(name, op=op, parent=parent) as rec:
                if op is not None:
                    spark.sparkContext.setJobGroup(op, op)
                if attr == "do_put":
                    rest = (_CountingReader(rest[0], rec),) + rest[1:]
                out = orig(server, context, request, *rest)
                if attr == "do_action":
                    out = list(out)  # run the generator inside the span
            return out

        self.names.append(name)
        self._patch(cls, attr, wrapper)

    def wrap_egress(self, service) -> None:
        """``service.egress_batches``: the spool write is one span; the
        batch stream, pulled by Flight after ``do_get`` returns, is a
        second span of the same operation with batch and byte counts."""
        orig = service.egress_batches
        tracer = self

        def stream(batches, spool):
            rec = tracer.open("service.egress_stream", spool["op"], spool["parent"])
            rec["batches"] = rec["bytes"] = 0
            try:
                for b in batches:
                    rec["batches"] += 1
                    rec["bytes"] += b.nbytes
                    yield b
            finally:
                rec["end"] = time.perf_counter()

        def wrapper(df):
            with tracer.span("service.egress_spool") as spool:
                schema, batches = orig(df)
            return schema, stream(batches, spool)

        self.names += ["service.egress_spool", "service.egress_stream"]
        self._patch(service, "egress_batches", wrapper)

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- output -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


    def wrap_operators(self, family: str) -> None:
        """Wrap every public function of ``operators.<family>`` in its
        module and in every loaded module of the program that imported
        it by name. A call made inside another call of the same family
        gets no span, so the family's spans do not overlap."""
        import importlib
        import inspect
        import sys

        pkg = "city_payroll_data_pipeline_spark"
        mod = importlib.import_module(f"{pkg}.operators.{family}")
        name = f"operators.{family}"
        depth = threading.local()
        tracer = self

        def wrapped(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                if getattr(depth, "n", 0):
                    return fn(*args, **kwargs)
                depth.n = 1
                try:
                    with tracer.span(name):
                        return fn(*args, **kwargs)
                finally:
                    depth.n = 0

            return wrapper

        users = [m for k, m in list(sys.modules.items())
                 if k.startswith(pkg) and m is not None]
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__):
                continue
            w = wrapped(fn)
            for user in users:
                for user_attr, val in list(vars(user).items()):
                    if val is fn:
                        self._patch(user, user_attr, w)
        self.names.append(name)


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs: records nothing."""

    def request(self, *_args, **_kwargs):
        return contextlib.nullcontext()

    def span(self, *_args, **_kwargs):
        return contextlib.nullcontext()

    def suite_op(self, *_args, **_kwargs):
        return contextlib.nullcontext()


class _CountingReader:
    """Flight reader proxy that records the Arrow bytes uploaded."""

    def __init__(self, reader, rec):
        self._reader, self._rec = reader, rec

    def read_all(self):
        table = self._reader.read_all()
        self._rec["bytes"] = table.nbytes
        return table


def _fact_output(rec, args, _out) -> None:
    """Files and bytes of a fact-table write (``sinks.write_parquet``)."""
    path = args[1]
    if not os.path.basename(path).startswith("fct_"):
        return
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    rec["files"] = len(parts)
    rec["bytes"] = sum(os.path.getsize(os.path.join(path, f)) for f in parts)


def _client_id(payload: bytes) -> str:
    return json.loads(payload.decode())["client_id"]


def install(tracer: Tracer, spark) -> None:
    """Wrap the program's public surfaces used by the tenant path."""
    from city_payroll_data_pipeline_spark import engine, service
    from city_payroll_data_pipeline_spark.engine import Engine
    from city_payroll_data_pipeline_spark.operators import reports
    from city_payroll_data_pipeline_spark.sources import sinks
    from city_payroll_data_pipeline_spark.sources.tenancy import TenantRegistry

    t = tracer
    t.wrap(TenantRegistry, "authenticate", "tenancy.authenticate")
    t.wrap(engine, "read_csv_all_string", "readers.read_csv")
    t.wrap(engine, "validate_fact_contract", "schemas.contract")
    t.wrap(sinks, "write_parquet", "sinks.write_parquet", after=_fact_output)
    t.wrap(reports, "budget_report", "reports.budget_report")
    t.wrap(reports, "full_export", "reports.full_export")
    for attr in ("ingest", "fact_table", "sql", "budget_report", "full_export",
                 "list_files"):
        t.wrap(Engine, attr, f"engine.{attr}")
    # PIPELINES is one dict shared by ``plans`` and ``engine``: wrap its
    # entries in place
    pipelines = engine.PIPELINES
    for industry, (stg, fct) in list(pipelines.items()):
        pipelines[industry] = (t.wrapped(stg, "plans.stg"), t.wrapped(fct, "plans.fct"))
        t._undo.append(functools.partial(pipelines.__setitem__, industry, (stg, fct)))
    t.wrap_egress(service)
    S = service.PayrollFlightServer
    t.wrap_server(S, "do_put", "service.do_put",
                  lambda d: _client_id(d.path[0]), spark)
    t.wrap_server(S, "do_get", "service.do_get",
                  lambda tk: _client_id(tk.ticket), spark)
    t.wrap_server(S, "do_action", "service.do_action",
                  lambda a: _client_id(a.body.to_pybytes()), spark)


def install_suite(tracer: Tracer) -> None:
    """Wrap the operator modules the suite list calls. The suite
    modules are imported first, so their imported names are found."""
    from city_payroll_data_pipeline_spark.suite import build_suite

    build_suite()
    for family in OPERATOR_FAMILIES:
        tracer.wrap_operators(family)


def spark_counts(event_log: str) -> dict[str, dict[str, float]]:
    """Job group -> jobs, tasks, executor CPU seconds and shuffle bytes
    written, from a plain-text Spark event log."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "shuffle_bytes": 0,
                 "run_s": 0.0}
    )
    with open(event_log, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    out[group]["jobs"] += 1
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            elif ev == "SparkListenerTaskEnd":
                group = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                if not group:
                    continue
                m = e.get("Task Metrics") or {}
                rec = out[group]
                rec["tasks"] += 1
                rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["run_s"] += m.get("Executor Run Time", 0) / 1e3
                rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return dict(out)


def _median(values) -> float:
    """Median, or 0 for a layer the workload does not reach."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(
    tracer: Tracer, counts: dict[str, dict[str, float]], cores: int
) -> dict[str, float]:
    """Every per-layer metric: medians over the run's spans and ops. A
    layer the workload does not reach reads 0."""
    selfs = tracer.self_times()
    by_name = defaultdict(list)
    by_op = defaultdict(list)
    for s in tracer.spans:
        if s["id"] in selfs:
            by_name[s["name"]].append(s)
            by_op[s["op"]].append(s)
    out = {}
    for metric, name in SPAN_TIMES.items():
        out[metric] = _median(selfs[s["id"]] for s in by_name[name])
    for metric, (name, attr) in SPAN_COUNTS.items():
        out[metric] = _median(s[attr] for s in by_name[name] if attr in s)
    for metric in SPARK_COUNTS:
        kind, c = metric.split(".")
        out[metric] = _median(
            v[c] for g, v in counts.items() if g.split(":")[0] == kind
        )

    def dur(s):
        return s["end"] - s["start"]

    timed = [s for s in by_name["suite.op"] if s["op"].startswith("suite.")]
    for m in SUITE_MODULES:
        ops = [s for s in timed if s["op"].split(":")[0] == f"suite.{m}"]
        for part in ("build", "exec"):
            out[f"suite.{m}.{part}_s"] = _median(
                dur(c) for s in ops for c in by_op[s["op"]]
                if c["name"] == f"suite.{m}.{part}"
            )
        for c in ("jobs", "tasks", "executor_cpu_s", "shuffle_bytes"):
            out[f"suite.{m}.{c}"] = _median(counts.get(s["op"], {}).get(c, 0)
                                            for s in ops)
        out[f"suite.{m}.idle_s"] = _median(
            dur(s) - counts.get(s["op"], {}).get("run_s", 0.0) / cores for s in ops
        )
    for f in OPERATOR_FAMILIES:
        per_op = [sum(dur(c) for c in by_op[s["op"]] if c["name"] == f"operators.{f}")
                  for s in timed]
        out[f"operators.{f}_s"] = _median(v for v in per_op if v > 0)
    return out

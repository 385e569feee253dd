"""Benchmark of the payroll engine: tenant uploads, tenant serving and
the query suite.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload tenant_upload --seed 1 --seconds 8 --trace 0

On the tenant workloads, three closed-loop clients, one per industry
tenant, run as threads of this process against an in-process
``PayrollFlightServer`` and ``Engine``; each waits for its reply before
sending the next request.

* ``tenant_upload``: every round, each client uploads one fresh CSV
  (seeded content, sizes rotated over the clients) through Flight
  ``do_put`` and fetches the budget report of that upload right after.
* ``tenant_serve``: reads only, over uploads ingested during set-up: a
  fixed round of budget reports, full exports, ``Engine.sql`` queries
  and a ``list_files``, on targets drawn from a seeded skewed choice.
* ``suite_mix``: registry queries from all seven suite modules, one at
  a time, on the sf0.01 tables in ``data/`` (see ``suite_mix.py``).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or
with ``--trace 1`` the per-layer ones). See README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402
import suite_mix  # noqa: E402

WORKLOADS = ("tenant_upload", "tenant_serve", "suite_mix")

UPLOAD_SIZES = (6_000, 9_000, 12_000)  # rows; one round uploads each once
# Untimed rounds of the workload's own round in set-up. The read path
# keeps getting faster over its first seconds of serving, so
# tenant_serve warms longer.
WARM_ROUNDS = {"tenant_upload": 2, "tenant_serve": 3}
SERVE_UPLOADS = 3  # uploads per tenant ingested in set-up for tenant_serve
SERVE_ROWS = 6_000
SERVE_ROUND = ("report", "sql", "export", "report", "list")
# Zipf weights of the target choice over the uploads' seeded popularity order
SERVE_WEIGHTS = [1.0 / (r + 1) ** 1.2 for r in range(SERVE_UPLOADS)]
POOL_ROWS = 20_000

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "read_s": "s",
}


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("bytes") else "count"


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_spark_env(tmp: str, trace: bool) -> None:
    """Deployment settings, made before pyspark starts the JVM: pin the
    session to the cores this process may use, keep every scratch file
    in ``tmp``, and in traced runs write an uncompressed event log
    there."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    # else the spark-submit launcher JVM writes a perf-data file outside tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = [
        "--driver-java-options", f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={tmp}/warehouse",
    ]
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{tmp}/eventlog",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


class Client:
    """One closed-loop tenant client and everything it observed."""

    def __init__(self, pool, flight, engine, spark, tracer, tmp, sizes):
        self.pool, self.flight, self.engine = pool, flight, engine
        self.spark, self.tracer = spark, tracer
        self.tmp = os.path.join(tmp, "uploads", pool.client_id)
        os.makedirs(self.tmp)
        self.cid, self.pw = pool.client_id, pool.password
        self.rng = random.Random(pool.rng.random())
        self.uploads: dict[str, inputs.Expected] = {}
        self.latency: dict[str, list[float]] = {}
        self.responses: list[tuple] = []  # (kind, digest, expected)
        self.attempted = self.failed = 0
        self.timed = False
        self.targets: list[str] = []  # uploads in seeded popularity order
        self.sizes = sizes  # upload sizes in the run's seeded order

    def _call(self, kind: str, fn, *args):
        tag_jobs = self.spark if kind == "sql" else None
        t = time.perf_counter()
        with self.tracer.request(self.cid, kind, spark=tag_jobs):
            out = fn(*args)
        if self.timed:
            self.latency.setdefault(kind, []).append(time.perf_counter() - t)
        return out

    def _sql(self, base):
        df = self.engine.sql(self.cid, self.pw, base, inputs.SQL_QUERY)
        with self.tracer.span("engine.sql_exec"):
            return df.collect()

    def upload(self, n: int) -> str:
        k = len(self.uploads)
        base = f"{self.pool.industry}_upload_{k:04d}.csv"
        path = os.path.join(self.tmp, base)
        exp = self.pool.upload(path, n)
        self._call("upload", self.flight.upload_csv, path, self.cid, self.pw)
        os.remove(path)
        self.uploads[base] = exp
        return base

    def request(self, kind: str, base: str | None) -> None:
        """Send one read request on upload ``base``; keep its digest."""
        exp = self.uploads.get(base)
        if kind == "report":
            pdf = self._call("report", self.flight.get_budget_report,
                             self.cid, self.pw, base)
            self.responses.append(("report", checks.report_digest(pdf), exp))
        elif kind == "export":
            pdf = self._call("export", self.flight.get_full_data,
                             self.cid, self.pw, base)
            self.responses.append(("export", checks.export_digest(pdf), exp))
        elif kind == "sql":
            out = self._call("sql", self._sql, base)
            self.responses.append(("sql", checks.sql_digest(out), exp))
        else:
            listed = self._call("list", self.flight.list_files, self.cid, self.pw)
            self.responses.append(("list", listed, set(self.clean_dirs())))

    def clean_dirs(self):
        industry = self.pool.industry
        return [f"{self.cid}_{industry}_{os.path.splitext(b)[0]}" for b in self.uploads]

    def guarded(self, fn, *args):
        """Run one request of the workload loop; a raised error counts
        as a failed operation and the loop goes on."""
        self.attempted += self.timed
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - counted and reported
            self.failed += self.timed
            traceback.print_exc(file=sys.stderr)
            return None


class Rounds:
    """Round boundaries shared by the clients: every client starts
    round ``r`` together, so each round has the same mix of requests in
    flight. The last party to arrive at a boundary records the round's
    wall time and decides, for all, whether another round starts: while
    the deadline is ahead and fewer than ``limit`` rounds have run."""

    def __init__(self, parties: int, deadline: float, limit: int | None = None):
        self.deadline, self.limit = deadline, limit
        self.times: list[float] = []
        self.started = 0
        self.go = True
        self._last = None
        self.barrier = threading.Barrier(parties, action=self._boundary)

    def _boundary(self) -> None:
        now = time.perf_counter()
        if self._last is not None:
            self.times.append(now - self._last)
        self._last = now
        self.go = now < self.deadline and self.started != self.limit
        self.started += self.go

    def next(self) -> bool:
        self.barrier.wait()
        return self.go


def upload_round(c: Client, i: int, r: int) -> None:
    """Client ``i`` uploads one fresh CSV and fetches its report. The
    sizes rotate over the clients, so every round uploads each size
    once."""
    base = c.guarded(c.upload, c.sizes[(i + r) % len(c.sizes)])
    if base is not None:
        c.guarded(c.request, "report", base)


def serve_round(c: Client, i: int, r: int) -> None:
    """Client ``i`` sends ``SERVE_ROUND``, rotated by ``i`` so the
    clients' requests of one kind do not line up, each on a target
    drawn from the seeded skewed choice."""
    for kind in SERVE_ROUND[i:] + SERVE_ROUND[:i]:
        c.guarded(c.request, kind, c.rng.choices(c.targets, SERVE_WEIGHTS)[0])


def loop(clients, rounds: Rounds, step) -> None:
    """Run ``step`` for every client, round by round, in one thread per
    client."""

    def body(i, c):
        r = 0
        while rounds.next():
            step(c, i, r)
            r += 1

    errors = []

    def guarded_body(i, c):
        try:
            body(i, c)
        except BaseException as exc:  # re-raised in the main thread
            errors.append(exc)
            rounds.barrier.abort()

    threads = [
        threading.Thread(target=guarded_body, args=(i, c))
        for i, c in enumerate(clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def warm_up(clients, workload: str) -> None:
    """Set-up: each tenant ingests the uploads the workload starts from
    and sends every kind of request; then the workload's own round runs
    ``WARM_ROUNDS`` times untimed, so caches fill and the JVM has
    compiled the hot code before timing."""
    serve = workload == "tenant_serve"

    def first(c, _i, _r):
        for n in (SERVE_ROWS,) * SERVE_UPLOADS if serve else UPLOAD_SIZES[:1]:
            base = c.upload(n)
        for kind in ("report", "export", "sql", "list"):
            c.request(kind, base)

    t = time.perf_counter()
    loop(clients, Rounds(len(clients), float("inf"), 1), first)
    first_s = time.perf_counter() - t
    for c in clients:
        c.targets = sorted(c.uploads)
        c.rng.shuffle(c.targets)  # which upload is the popular one is seeded
    step = serve_round if serve else upload_round
    warm = Rounds(len(clients), float("inf"), WARM_ROUNDS[workload])
    loop(clients, warm, step)
    print(f"perfbench: set-up first pass {first_s:.2f} s, warm rounds "
          f"{[round(x, 2) for x in warm.times]}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        import city_payroll_data_pipeline_spark.engine  # noqa: F401
        import city_payroll_data_pipeline_spark.service  # noqa: F401
        import city_payroll_data_pipeline_spark.suite  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable: {exc}", file=sys.stderr)
        return 2

    # a terminated run still stops its server and JVM and removes tmp
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    tmp = os.path.join(HERE, "out", f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return run(a, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class Tenants:
    """The two tenant workloads: an in-process Flight server and engine,
    and one closed-loop client per tenant."""

    def __init__(self, a, spark, tracer, tmp: str, pools):
        from city_payroll_data_pipeline_spark.engine import Engine
        from city_payroll_data_pipeline_spark.service import (
            PayrollFlightClient,
            PayrollFlightServer,
        )

        self.workload = a.workload
        self.step = upload_round if a.workload == "tenant_upload" else serve_round
        self.rounds = None
        engine = Engine(spark, os.path.join(tmp, "storage"))
        for cid, industry, pw in inputs.TENANTS:
            engine.registry.register(cid, industry, pw)
        self.server = PayrollFlightServer(engine, "grpc://127.0.0.1:0")
        self.thread = threading.Thread(target=self.server.serve, daemon=True)
        self.thread.start()
        location = f"grpc://127.0.0.1:{self.server.port}"
        sizes = random.Random(a.seed).sample(UPLOAD_SIZES, len(UPLOAD_SIZES))
        self.clients = [
            Client(p, PayrollFlightClient(location), engine, spark, tracer, tmp, sizes)
            for p in pools
        ]

    def set_up(self) -> None:
        warm_up(self.clients, self.workload)

    def measure(self, seconds: float) -> None:
        for c in self.clients:
            c.timed = True
        self.rounds = Rounds(len(self.clients), time.perf_counter() + seconds)
        loop(self.clients, self.rounds, self.step)
        for c in self.clients:  # listing after the window: every upload is there
            c.timed = False
            c.request("list", None)
        print(f"perfbench: timed rounds {[round(x, 2) for x in self.rounds.times]}",
              file=sys.stderr)

    def close(self) -> None:
        self.server.shutdown()
        self.thread.join(timeout=60)

    def errors(self) -> list[str]:
        errors = []
        for c in self.clients:
            for kind, digest, exp in c.responses:
                errors += [f"{c.cid} {kind}: {e}"
                           for e in checks.CHECKS[kind](digest, exp)]
        return errors

    def counts(self) -> tuple[int, int]:
        return (sum(c.attempted for c in self.clients),
                sum(c.failed for c in self.clients))

    def end_to_end(self) -> tuple[float, float]:
        """(median round wall time, median budget-report latency)."""
        reports = [x for c in self.clients for x in c.latency.get("report", [])]
        return statistics.median(self.rounds.times), statistics.median(reports)


def run(a, tmp: str) -> int:
    configure_spark_env(tmp, bool(a.trace))
    t = time.perf_counter()
    pools = None if a.workload == "suite_mix" else inputs.make_pools(a.seed, POOL_ROWS)
    gen_s = time.perf_counter() - t

    from city_payroll_data_pipeline_spark import session

    tracer = spans.Tracer() if a.trace else spans.NullTracer()
    if a.trace:
        tracer.wrap(session, "get_spark", "session.get_spark")
    spark = session.get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"perfbench: session up {process_age():.2f} s after start", file=sys.stderr)
    gateway = type(spark.sparkContext)._gateway
    work = None
    try:
        if a.trace:
            spans.install(tracer, spark)
            spans.install_suite(tracer)
        if a.workload == "suite_mix":
            work = suite_mix.SuiteMix(spark, tracer)
        else:
            work = Tenants(a, spark, tracer, tmp, pools)
        work.set_up()
        setup_s = process_age() - gen_s
        work.measure(a.seconds)
    finally:
        if work is not None:
            work.close()
        if a.trace:
            tracer.uninstall()
        spark.stop()
        stop_gateway(gateway)

    errors = work.errors()
    for e in errors[:20]:
        print(f"perfbench: WRONG {e}", file=sys.stderr)
    round_s, read_s = work.end_to_end()
    e2e = {"setup_s": setup_s, "round_s": round_s, "read_s": read_s}
    if a.trace:
        logs = glob.glob(os.path.join(tmp, "eventlog", "*"))
        cores = len(os.sched_getaffinity(0))
        layer = spans.per_layer(tracer, spans.spark_counts(logs[0]), cores)
        write_trace(a, tracer, layer, e2e)
        print(f"perfbench: traced end-to-end {json.dumps(e2e)}", file=sys.stderr)
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    attempted, failed = work.counts()
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def stop_gateway(gateway) -> None:
    """Stop the JVM that pyspark launched and wait until it has ended."""
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any failure to end: kill it
        proc.kill()
        proc.wait()


def write_trace(a, tracer, layer, e2e) -> None:
    path = os.path.join(HERE, "out", f"trace_{a.workload}_seed{a.seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "end_to_end": e2e, "per_layer": layer, "wrapped": tracer.names,
                   "spans": tracer.spans}, f)


if __name__ == "__main__":
    sys.exit(main())

"""The traced run: the same seeded session, driven in-process, with
spans around the layers' public entry points and Spark's own counters
read per request.

Nothing in the engine is edited. The wrappers are installed from this
file for the traced passes and removed for the untraced ones:

==================  ====================================================
span                wrapped entry point
==================  ====================================================
stdio.frame         ``stdio.StdioServer.handle_line``
server.<tool>       the four tool functions the stdio server dispatches
server.rows         ``server._rows_to_json`` (collect → dicts)
server.respond      ``server._respond`` (dicts → JSON text)
router.execute      ``router.execute`` (includes spark.sql's analysis)
fs_catalog.execute  ``fs_catalog.FsCatalog.execute``
registry.builder    each operator's registry builder
iceberg_fs.commit   ``iceberg_fs`` append / cow_rewrite_where /
                    merge_into / merge_delete
session.collect     ``DataFrame.collect``
==================  ====================================================

Each span carries its request id and its parent span; a span's self
time is its duration minus its children's. Each request runs under its
own Spark job group, so jobs, stages, tasks, task time, shuffle writes
and spills come from Spark's status store per request, and Catalyst
phase times from the ``QueryPlanningTracker`` of every DataFrame that
``spark.sql`` returned or that was collected. Spans and counters are
kept in memory and written once, at the end, to
``.perfbench/trace/<workload>-seed<n>.json``.

After the workload's warm-up calls and one more untimed pass, passes
run untraced, traced, traced, untraced, and so on, so the difference
between the two call rates is the tracing overhead.
"""

from __future__ import annotations

import io
import json
import os
import random
import time
from collections import defaultdict

_COMMITS = ("append", "cow_rewrite_where", "merge_into", "merge_delete")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.req: int | None = None
        self.trackers: dict[int, tuple] = {}
        self.conflicts = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------

    def wrap(self, name: str, fn, after=None):
        tracer = self

        def wrapper(*args, **kwargs):
            span = {"id": len(tracer.spans), "req": tracer.req, "name": name,
                    "parent": tracer.stack[-1] if tracer.stack else None,
                    "t0": time.perf_counter()}
            tracer.spans.append(span)
            tracer.stack.append(span["id"])
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:
                if type(exc).__name__ == "CommitFailedError":
                    tracer.conflicts += 1
                raise
            finally:
                tracer.stack.pop()
                span["t1"] = time.perf_counter()
            if after is not None:  # outside the span: not the layer's time
                after(span, args, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, obj, attr: str, name: str, after=None) -> None:
        orig = getattr(obj, attr)
        self._patches.append((obj, attr, orig))
        setattr(obj, attr, self.wrap(name, orig, after))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.session import SparkSession

        from mcp_iceberg_duckdb_spark import registry, router, server, stdio
        from mcp_iceberg_duckdb_spark.sources import fs_catalog, iceberg_fs

        self._patch(stdio.StdioServer, "handle_line", "stdio.frame")
        for tool in ("query_table", "query_catalog", "run_operator", "list_operators"):
            self._patch(stdio, tool, f"server.{tool}")
        self._patch(server, "_rows_to_json", "server.rows",
                    after=lambda s, a, out: s.update(rows=len(out)))
        self._patch(server, "_respond", "server.respond")
        self._patch(router, "execute", "router.execute")
        self._patch(fs_catalog.FsCatalog, "execute", "fs_catalog.execute")
        for fn in _COMMITS:
            self._patch(iceberg_fs, fn, "iceberg_fs.commit")
        registry.load_all()
        for spec in registry.QUERIES.values():
            self._patch(spec, "builder", "registry.builder", after=self._builder_done)
        self._patch(DataFrame, "collect", "session.collect",
                    after=lambda s, a, out: self._track(a[0]))
        orig_sql = SparkSession.sql
        self._patches.append((SparkSession, "sql", orig_sql))

        def sql(session, *args, **kwargs):
            df = orig_sql(session, *args, **kwargs)
            self._track(df)
            return df

        SparkSession.sql = sql

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    # -- Spark counters -----------------------------------------------

    def _group(self) -> str:
        return f"perfbench-{self.req}"

    def _builder_done(self, span, args, out) -> None:
        self.jsc.listenerBus().waitUntilEmpty()
        span["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(self._group()))

    def _track(self, df) -> None:
        """Remember the Catalyst phase times of ``df``'s query
        execution (once per execution, keyed by JVM identity)."""
        try:
            tracker = df._jdf.queryExecution().tracker()
        except Exception:  # not a classic DataFrame: nothing to read
            return
        key = self.spark._jvm.System.identityHashCode(tracker)
        self.trackers[key] = (self.req, tracker)

    def _phases(self, req: int) -> dict:
        out = defaultdict(float)
        for r, tracker in self.trackers.values():
            if r != req:
                continue
            phases = tracker.phases()
            for p in ("analysis", "optimization", "planning"):
                o = phases.get(p)
                if o.isDefined():
                    out[p] += o.get().durationMs() / 1000
        return out

    def begin(self, req: int) -> None:
        self.req = req
        self.sc.setJobGroup(self._group(), "perfbench request", False)

    def end(self) -> dict:
        """Counters of the request that just finished."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(self._group()))
        intervals, stages, tasks, task_ms, shuffle_w, spill = [], 0, 0, 0, 0, 0
        for j in jobs:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((jd.submissionTime().get().getTime(),
                                  jd.completionTime().get().getTime()))
            it = jd.stageIds().iterator()
            while it.hasNext():
                sd = store.lastStageAttempt(it.next())
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += sd.numCompleteTasks()
                task_ms += sd.executorRunTime()
                shuffle_w += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        exec_ms, end = 0, None
        for a, b in sorted(intervals):  # union of job intervals
            if end is None or a > end:
                exec_ms += b - a
                end = b
            elif b > end:
                exec_ms += b - end
                end = b
        phases = self._phases(self.req)
        cached = sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo())
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.trackers.clear()
        return {
            "req": self.req, "jobs": len(jobs), "stages": stages, "tasks": tasks,
            "task_s": task_ms / 1000, "exec_s": exec_ms / 1000,
            "shuffle_write_bytes": shuffle_w, "spill_bytes": spill,
            "cached_bytes": cached,
            "analysis_s": phases["analysis"], "optimization_s": phases["optimization"],
            "planning_s": phases["planning"],
        }


def self_times(spans: list[dict]) -> None:
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["t1"] - s["t0"]
    for s in spans:
        s["self_s"] = s["t1"] - s["t0"] - child[s["id"]]


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def run_traced(wl, seed: int, seconds: float, sf_dir: str, run_dir: str,
               root: str, work: str, env: dict):
    os.environ.clear()
    os.environ.update(env)
    os.chdir(run_dir)
    from pyspark import SparkContext

    from mcp_iceberg_duckdb_spark import stdio
    from mcp_iceberg_duckdb_spark.operators._util import views
    from mcp_iceberg_duckdb_spark.session import build_session
    from mcp_iceberg_duckdb_spark.sources import iceberg_fs

    from fixture import TABLES

    spark = build_session(app_name="mcp-stdio")
    spark.sparkContext.setLogLevel("ERROR")
    views(spark, sf_dir, *TABLES)
    out = io.StringIO()  # the server's response lines
    srv = stdio.StdioServer(spark, out=out)
    tracer = Tracer(spark)
    rng = random.Random(seed)
    records, errors, calls = [], [], []
    req = 0
    table_loc = None
    if wl.name == "iceberg_rw":
        table_loc = os.path.join(env["SPARK_GRAFT_FS_WAREHOUSE"], *wl.TABLE.split("."))
    plan_s, planned = [], 0

    def send(c, traced: bool) -> float:
        nonlocal req, planned
        req += 1
        line = json.dumps({"jsonrpc": "2.0", "id": req, "method": "tools/call",
                           "params": {"name": c.tool, "arguments": c.args}})
        if traced:
            tracer.begin(req)
        t = time.perf_counter()
        srv.handle_line(line)
        dt = time.perf_counter() - t
        text = out.getvalue()
        out.seek(0)
        out.truncate()
        result = json.loads(text)["result"]
        records.append((c, result))
        if result.get("isError"):
            errors.append(f"{c.tool} {c.args}: {result['content'][0]['text'][:300]}")
        if traced:
            counters = tracer.end()
            counters.update(kind=c.kind, call_s=dt, resp_bytes=len(text))
            calls.append(counters)
            if table_loc and c.kind == "write":
                t = time.perf_counter()
                planned = len(iceberg_fs.plan_files(table_loc)[0])
                plan_s.append(time.perf_counter() - t)
        return dt

    srv.handle_line(json.dumps({"jsonrpc": "2.0", "id": 0, "method": "initialize",
                                "params": {"protocolVersion": "2024-11-05"}}))
    out.seek(0)
    out.truncate()
    # one pass more than the untraced run warms up: the first pass after
    # the warm-up is still the slowest, and neither side may get it
    for c in [*wl.warmup(rng), *wl.next_pass(rng)]:
        send(c, traced=False)
    spent = {False: 0.0, True: 0.0}
    n_calls = {False: 0, True: 0}
    n = 0
    # U T T U …: neither side always runs the earlier, colder passes
    while min(spent.values()) < seconds or n % 4:
        traced = n % 4 in (1, 2)
        if traced:
            tracer.install()
        try:
            for c in wl.next_pass(rng):
                spent[traced] += send(c, traced)
                n_calls[traced] += 1
        finally:
            tracer.uninstall()
        n += 1
    for c in wl.final_calls():
        send(c, traced=False)

    spans = [s for s in tracer.spans if "t1" in s]
    self_times(spans)
    metrics = layer_metrics(spans, calls, tracer, spark)
    rate = {k: n_calls[k] / spent[k] for k in spent}
    metrics["trace.overhead_calls_per_s"] = (rate[True] - rate[False], "1/s")
    if table_loc:
        files, data_bytes = _dir_stats(os.path.join(table_loc, "data"))
        meta_files, meta_bytes = _dir_stats(os.path.join(table_loc, "metadata"))
        live = parse_count(records[-1][1])
        metrics.update({
            "iceberg_fs.plan_files_s": (_mean(plan_s), "s"),
            "iceberg_fs.files_planned": (planned, "count"),
            "iceberg_fs.files_total": (files, "count"),
            "iceberg_fs.manifests": (sum(
                1 for f in os.listdir(os.path.join(table_loc, "metadata"))
                if f.endswith(".avro") and not f.startswith("snap-")), "count"),
            "iceberg_fs.metadata_bytes": (meta_bytes, "bytes"),
            "iceberg_fs.bytes_per_row": ((data_bytes + meta_bytes) / max(live, 1), "bytes"),
        })
    stop_spark(spark, SparkContext._gateway)

    os.makedirs(os.path.join(work, "trace"), exist_ok=True)
    with open(os.path.join(work, "trace", f"{wl.name}-seed{seed}.json"), "w") as f:
        json.dump({"spans": spans, "requests": calls}, f)
    record = {"passes": n, "traced_calls": n_calls[True], "untraced_calls": n_calls[False],
              "calls_per_s_traced": rate[True], "calls_per_s_untraced": rate[False],
              "traced_call_s": _mean(c["call_s"] for c in calls)}
    return records, errors, metrics, record


def stop_spark(spark, gateway) -> None:
    """Stop the session and wait for the JVM and its workers to exit
    (the gateway JVM exits when its stdin closes)."""
    from mcp_client import _wait_gone, process_tree

    tree = process_tree(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    _wait_gone(tree[1:], timeout=30)


def parse_count(result: dict) -> int:
    from workloads import parse_answer

    rows = parse_answer(result)
    return int(rows[0]["n"]) if rows and "n" in rows[0] else 0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(spans, calls, tracer, spark) -> dict:
    """Per-layer metrics: times and counts are means per traced call;
    ``session.cached_bytes`` is what is still held after the last one."""
    n = max(len(calls), 1)

    def self_sum(*names):
        return sum(s["self_s"] for s in spans if s["name"] in names) / n

    def total(key):
        return sum(c[key] for c in calls) / n

    by_id = {s["id"]: s for s in spans}
    builders = [s for s in spans if s["name"] == "registry.builder"]
    commits = [  # outermost commit calls only
        s for s in spans if s["name"] == "iceberg_fs.commit"
        and (s["parent"] is None or by_id[s["parent"]]["name"] != "iceberg_fs.commit")
    ]
    exec_s = sum(c["exec_s"] for c in calls)
    task_s = sum(c["task_s"] for c in calls)
    cores = int(spark.sparkContext.defaultParallelism)
    return {
        "stdio.frame_s": (self_sum("stdio.frame"), "s"),
        "stdio.resp_bytes": (total("resp_bytes"), "bytes"),
        "server.marshal_s": (self_sum("server.rows", "server.respond"), "s"),
        "server.rows_out": (sum(s.get("rows", 0) for s in spans) / n, "rows"),
        "server.tool_s": (self_sum("server.query_table", "server.query_catalog",
                                   "server.run_operator", "server.list_operators"), "s"),
        "router.route_s": (self_sum("router.execute"), "s"),
        "registry.builder_s": (sum(s["t1"] - s["t0"] for s in builders) / n, "s"),
        "registry.builder_jobs": (sum(s.get("jobs", 0) for s in builders) / n, "count"),
        "session.collect_s": (self_sum("session.collect"), "s"),
        "session.analysis_s": (total("analysis_s"), "s"),
        "session.optimization_s": (total("optimization_s"), "s"),
        "session.planning_s": (total("planning_s"), "s"),
        "session.exec_s": (exec_s / n, "s"),
        "session.jobs": (total("jobs"), "count"),
        "session.stages": (total("stages"), "count"),
        "session.tasks": (total("tasks"), "count"),
        "session.task_s": (task_s / n, "s"),
        "session.core_util": (task_s / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "session.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "session.spill_bytes": (total("spill_bytes"), "bytes"),
        "session.cached_bytes": (calls[-1]["cached_bytes"] if calls else 0, "bytes"),
        "fs_catalog.execute_s": (self_sum("fs_catalog.execute"), "s"),
        "iceberg_fs.commit_s": (sum(s["t1"] - s["t0"] for s in commits) / max(len(commits), 1), "s"),
        "iceberg_fs.commit_conflicts": (tracer.conflicts, "count"),
        "iceberg_fs.plan_files_s": (0.0, "s"),
        "iceberg_fs.files_planned": (0, "count"),
        "iceberg_fs.files_total": (0, "count"),
        "iceberg_fs.manifests": (0, "count"),
        "iceberg_fs.metadata_bytes": (0, "bytes"),
        "iceberg_fs.bytes_per_row": (0.0, "bytes"),
    }

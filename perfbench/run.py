"""MCP-call benchmark for the Spark lake engine.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` it spawns
``python -m mcp_iceberg_duckdb_spark.stdio`` and drives it from one
closed-loop client, timing each ``tools/call`` from request line
written to response line read; the last stdout line is the result with
every end-to-end metric of BENCHMARK.json. With ``--trace 1`` it drives
the same session in-process with the layers' entry points wrapped (see
trace_run.py) and reports the per-layer metrics instead. Every answer is
checked (workloads.py); a call that errors or fails its check counts
in ``failed``.

The line before the result is the run record: host facts (cpus, Spark
version, fixture path and scale), seed, request counts, latency per
operation type with sample counts, and every failure.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "mcp_iceberg_duckdb_spark"
DRIVER_MEM = "4g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def server_env(root: str, work: str, extra: dict) -> dict:
    """Environment for the engine: all cores, a bounded heap, and
    every temporary file inside the benchmark's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    env.update(extra)
    return env


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (the ``cpu`` line of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other machines between
    two readings: a run with a high share ran on a contended host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else None


def percentile_report(xs: list[float]) -> dict:
    """Median plus the highest of p90/p99 with at least ten samples
    beyond it, with the sample count."""
    out = {"n": len(xs)}
    if not xs:
        return out
    xs = sorted(xs)
    out["p50_s"] = statistics.median(xs)
    for p in (99, 90):
        rank = math.ceil(len(xs) * p / 100)  # nearest rank
        if len(xs) - rank >= 10:
            out[f"p{p}_s"] = xs[rank - 1]
            break
    return out


def is_error(result: dict) -> bool:
    return bool(result.get("isError"))


def run_untraced(wl, seed: int, seconds: float, sf_dir: str, run_dir: str,
                 root: str, work: str, env: dict):
    from mcp_client import StdioClient

    log = os.path.join(work, f"server-{wl.name}.log")
    rng = random.Random(seed)
    records, lat, errors = [], [], []

    def call(c, timed: bool):
        dt, result = client.call(c.tool, c.args)
        records.append((c, result))
        if is_error(result):
            errors.append(f"{c.tool} {c.args}: {result['content'][0]['text'][:300]}")
        if timed:
            lat.append((c.kind, dt))
        return dt

    client = StdioClient(env, run_dir, log)
    try:
        warm = [call(c, timed=False) for c in wl.warmup(rng)]
        setup = client.setup_s + sum(warm)
        rates = []  # calls per second of each pass
        t0 = time.perf_counter()
        while len(rates) < wl.min_passes or time.perf_counter() - t0 < seconds:
            t = time.perf_counter()
            calls = wl.next_pass(rng)
            for c in calls:
                call(c, timed=True)
            rates.append(len(calls) / (time.perf_counter() - t))
        wall = time.perf_counter() - t0
        for c in wl.final_calls():
            call(c, timed=False)
        rss = client.rss_bytes()
    finally:
        client.close()

    times = [dt for _, dt in lat]
    metrics = {
        "setup_s": (setup, "s"),
        "call_p50_s": (statistics.median(times), "s"),
        "calls_per_s": (statistics.median(rates), "1/s"),
    }
    by_kind = {k: percentile_report([dt for kk, dt in lat if kk == k])
               for k in sorted({k for k, _ in lat})}
    record = {
        "initialize_s": client.setup_s,
        "cold_call_s": warm[0],
        "warmup_s": sum(warm),
        "server_rss_mb": rss / 2**20,
        "passes": len(rates),
        "timed_wall_s": wall,
        "calls_per_s_whole_phase": len(times) / wall,
        "latency": percentile_report(times),
        "latency_by_kind": by_kind,
    }
    return records, errors, metrics, record


def finish(wl, sf_dir, records, errors, metrics, record):
    """Check every answer, then build the result and the record."""
    import duckdb

    answered = [(c, r) for c, r in records if not is_error(r)]
    con = duckdb.connect()
    try:
        mismatches = wl.check(con, sf_dir, answered)
    finally:
        con.close()
    failed = len(errors) + len(mismatches)
    record.update(
        failures=errors + mismatches,
        requests=len(records),
        failed_frac=failed / len(records),
    )
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's fixture scale factor (tests)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "stdio.py")):
        print(f"perfbench: no {PACKAGE}/stdio.py under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    wl = WORKLOADS[args.workload]()
    if args.sf is not None:
        wl.sf = args.sf
    sf_dir = fixture.ensure(os.path.join(work, "data"), wl.sf)
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=os.path.join(work, "runs"))
    ticks = cpu_ticks()
    try:
        env = server_env(root, work, wl.env(sf_dir, run_dir))
        if args.trace:
            from trace_run import run_traced as run
        else:
            run = run_untraced
        outcome = run(wl, args.seed, args.seconds, sf_dir, run_dir, root, work, env)
        result, record = finish(wl, sf_dir, *outcome)
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)

    import pyspark

    record.update(
        workload=wl.name,
        seed=args.seed,
        trace=args.trace,
        cpus=cpus(),
        spark_version=pyspark.__version__,
        fixture=os.path.relpath(sf_dir, root),
        scale_factor=wl.sf,
        driver_memory=DRIVER_MEM,
        host_steal_frac=steal_frac(ticks, cpu_ticks()),
        client="closed loop, 1 client",
    )
    for msg in record["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

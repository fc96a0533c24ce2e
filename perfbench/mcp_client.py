"""A closed-loop MCP stdio client for the benchmark.

Spawns ``python -m mcp_iceberg_duckdb_spark.stdio`` and sends one
JSON-RPC request at a time: the next line is written only after the
previous response line has been read, because the stdio server serves
one request at a time. Each call is timed from the moment its request
line is written until its response line is read.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

PROTOCOL_VERSION = "2024-11-05"


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants (the Python server, the
    JVM it launches and any Python workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p not in out and os.path.exists(f"/proc/{p}"):
            out.append(p)
            todo.extend(_children(p))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; SIGKILL what is left."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class ServerError(RuntimeError):
    """The server closed its stdout or answered out of protocol."""


class StdioClient:
    """One server process. ``setup_s`` is spawn → ``initialize``
    response: interpreter start, JVM and SparkSession start, and the
    registration of the lake tables as views."""

    def __init__(self, env: dict[str, str], cwd: str, log_path: str):
        self._log = open(log_path, "wb")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "mcp_iceberg_duckdb_spark.stdio"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            env=env,
            cwd=cwd,
            text=True,
            bufsize=1,
        )
        self._next_id = 0
        try:
            self.request("initialize", {
                "protocolVersion": PROTOCOL_VERSION,
                "capabilities": {},
                "clientInfo": {"name": "perfbench", "version": "1"},
            })
            self.setup_s = time.perf_counter() - t0
            self._send({"jsonrpc": "2.0", "method": "notifications/initialized"})
        except BaseException:
            self.close()
            raise

    def _send(self, msg: dict) -> None:
        self.proc.stdin.write(json.dumps(msg, separators=(",", ":")) + "\n")
        self.proc.stdin.flush()

    def request(self, method: str, params: dict) -> dict:
        self._next_id += 1
        req_id = self._next_id
        self._send({"jsonrpc": "2.0", "id": req_id, "method": method, "params": params})
        line = self.proc.stdout.readline()
        if not line:
            raise ServerError(f"server exited (code {self.proc.poll()}) during {method}")
        resp = json.loads(line)
        if resp.get("id") != req_id:
            raise ServerError(f"response id {resp.get('id')} != request id {req_id}")
        if "error" in resp:
            raise ServerError(f"{method}: {resp['error']}")
        return resp["result"]

    def call(self, tool: str, arguments: dict) -> tuple[float, dict]:
        """One timed ``tools/call``; returns (seconds, result)."""
        t = time.perf_counter()
        result = self.request("tools/call", {"name": tool, "arguments": arguments})
        return time.perf_counter() - t, result

    def rss_bytes(self) -> int:
        return tree_rss_bytes(self.proc.pid)

    def close(self) -> None:
        """Close stdin (the server exits at EOF) and wait for the whole
        process tree; kill it if it does not exit in time."""
        tree = process_tree(self.proc.pid)
        try:
            if self.proc.stdin and not self.proc.stdin.closed:
                self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except (subprocess.TimeoutExpired, OSError):
            self.proc.kill()
            self.proc.wait(timeout=30)
        finally:
            _wait_gone(tree[1:], timeout=30)
            if self.proc.stdout:
                self.proc.stdout.close()
            self._log.close()

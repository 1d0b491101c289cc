"""Service process control and the HTTP client used by the closed-loop
workloads.

The server runs as its own process (``python -m duckdb_service_spark.service``)
with its Spark logs sent to a file, so the benchmark's stdout carries only
metric lines.
"""

from __future__ import annotations

import ctypes
import http.client
import json
import logging
import os
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def spark_env(run_dir: str, cpus: int, driver_mem: str) -> dict:
    """Environment for any process that starts Spark: parallelism, driver
    heap, and every scratch directory inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    return env


class Server:
    """The engine service as a child process listening on an ephemeral port."""

    def __init__(self, root: str, run_dir: str, warehouse: str, env: dict):
        self.log_path = os.path.join(run_dir, "server.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "duckdb_service_spark.service",
             "--addr", "127.0.0.1:0", "--warehouse", warehouse],
            cwd=run_dir,
            env=dict(env, PYTHONPATH=root),
            stdout=subprocess.PIPE,
            stderr=self._log,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("listening on http://"):
            self.stop()
            raise RuntimeError(f"server did not start; see {self.log_path}")
        hostport = line.split("http://", 1)[1].split()[0]
        self.host, port = hostport.rsplit(":", 1)
        self.port = int(port)

    def peak_rss_mb(self) -> float:
        return tree_peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        """Stop the server process; its JVM, orphaned, is left to
        ``stop_descendants``."""
        self.proc.terminate()
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
        self._log.close()


def post(host: str, port: int, path: str, sql: str, timeout: float = 120.0):
    """One request. Returns (wall_s, status, envelope or None, error text)."""
    body = json.dumps({"sql": sql}).encode()
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection(host, port, timeout=timeout)
    try:
        conn.request("POST", path, body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        wall = time.perf_counter() - t0
        if resp.status != 200:
            return wall, resp.status, None, data.decode(errors="replace")[:200]
        env = json.loads(data)
        if "error" in env:
            return wall, resp.status, env, str(env["error"])[:300]
        return wall, resp.status, env, None
    except (OSError, http.client.HTTPException, ValueError) as ex:
        return time.perf_counter() - t0, 0, None, f"transport: {ex}"[:200]
    finally:
        conn.close()


def _tree(root_pid: int) -> list[int]:
    """A process and all its descendants."""
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant: the
    server's JVM once the server exits, and the JVM that PySpark starts
    in this process (it ends only when it reads EOF on its stdin, after
    this process has exited). ``stop_descendants`` can then wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace: float = 30.0) -> None:
    """SIGTERM every descendant of this process (a JVM then runs its
    shutdown hooks), SIGKILL the ones still alive after ``grace`` seconds,
    and return once every one has ended and been reaped. Needs
    ``become_subreaper`` first, so that no descendant escapes to init."""
    deadline = time.monotonic() + grace
    sent: dict[int, int] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in _tree(os.getpid())[1:]:
            if sent.get(pid) != sig:
                sent[pid] = sig
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        time.sleep(0.05)


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum over a process tree of each process's peak resident set (VmHWM),
    an upper bound on the tree's peak."""
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        total_kb += int(ln.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def start_spark(run_dir: str, env: dict, event_log_dir: str | None = None):
    """Start Spark inside this process the way the service does
    (``get_spark``). The JVM's console output goes to ``run_dir/spark.log``;
    ``event_log_dir`` turns on the Spark event log."""
    os.environ.update(env)
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{event_log_dir} pyspark-shell"
        )
    from duckdb_service_spark.session import get_spark

    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    log = os.open(os.path.join(run_dir, "spark.log"), os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log, 1)
    os.dup2(log, 2)
    try:
        spark = get_spark("perfbench")
    finally:
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for fd in (*saved, log):
            os.close(fd)
    spark.sparkContext.setLogLevel("ERROR")
    # PySpark logs each caught analysis error (the engine's LIMIT-0 probes)
    # from Python, not from the JVM: send that logger to the same file
    from pyspark.logger import PySparkLogger

    probe_log = PySparkLogger.getLogger("SQLQueryContextLogger")
    probe_log.handlers = [logging.FileHandler(os.path.join(run_dir, "spark.log"))]
    probe_log.propagate = False
    return spark


class InProcessServer:
    """``Engine`` + ``EngineHTTPServer`` hosted in this process, so the
    traced run can wrap their layers."""

    def __init__(self, spark, warehouse: str):
        from duckdb_service_spark.service.executor import Engine
        from duckdb_service_spark.service.http_server import EngineHTTPServer

        self.spark = spark
        self.http = EngineHTTPServer(Engine(spark, warehouse), host="127.0.0.1", port=0).start()
        self.host, self.port = self.http.host, self.http.port

    def peak_rss_mb(self) -> float:
        return tree_peak_rss_mb(os.getpid())

    def stop(self) -> None:
        self.http.stop()
        self.spark.stop()

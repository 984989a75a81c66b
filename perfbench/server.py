"""Start, probe and stop the PromHouse server, and talk to it over one
HTTP connection.

The server runs as ``python -m promhouse_spark.server`` (or, in a traced
run, through ``perfbench/traced_server.py``) in its own process group, with
every scratch directory Spark and the JVM use pointed inside the run's
work directory. Its output goes to a log file, never to a pipe.
"""

from __future__ import annotations

import http.client
import os
import signal
import socket
import subprocess
import sys
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_CPUS = 2


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def child_env(root: str, work: str) -> dict[str, str]:
    """Environment for a Spark-hosting child: fixed parallelism, and every
    temporary directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([root, HERE]),
        SPARK_GRAFT_CPUS=str(SPARK_CPUS),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(work, "tiers"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} '
            f'-Dderby.system.home={work} -XX:-UsePerfData" pyspark-shell'
        ),
        # the short-lived JVM spark-submit runs first to build the command
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    return env


def spawn(argv: list[str], root: str, work: str, log_name: str) -> subprocess.Popen:
    log = open(os.path.join(work, log_name), "ab")
    try:
        return subprocess.Popen(
            argv,
            cwd=work,
            env=child_env(root, work),
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    finally:
        log.close()


def stop(proc: subprocess.Popen, grace_s: float = 60.0) -> None:
    """Stop the Python process first (a traced server flushes its spans and
    Spark's event log on SIGTERM), then anything left in its process group,
    and wait until every process of the tree has ended."""
    tree = set(procfs.process_tree(proc.pid)) | set(procfs.process_group(proc.pid))
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    tree |= set(procfs.process_group(proc.pid))
    deadline = time.monotonic() + 30
    while not all(procfs.is_gone(p) for p in tree):
        if time.monotonic() > deadline:
            raise RuntimeError(f"server processes still alive: {tree}")
        time.sleep(0.1)


class Server:
    """One server process on a store directory. ``start`` returns once
    ``/-/ready`` answers; ``start_s`` is that wait."""

    def __init__(self, root: str, work: str, store: str, traced: bool = False):
        self.root, self.work, self.store, self.traced = root, work, store, traced
        self.proc: subprocess.Popen | None = None
        self.port = 0
        self.start_s = 0.0
        self.trace_dir = os.path.join(work, "trace") if traced else None

    def start(self, timeout_s: float = 100.0) -> "Server":
        self.port = free_port()
        args = [
            "--listen-prom-addr", f"127.0.0.1:{self.port}",
            "--listen-debug-addr", f"127.0.0.1:{free_port()}",
            "--storage-type", "parquet",
            "--storage-path", self.store,
        ]
        if self.traced:
            argv = [sys.executable, os.path.join(HERE, "traced_server.py"),
                    "--trace-out", self.trace_dir, *args]
        else:
            argv = [sys.executable, "-m", "promhouse_spark.server", *args]
        t0 = time.perf_counter()
        self.proc = spawn(argv, self.root, self.work, "server.log")
        deadline = t0 + timeout_s
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}\n{self.log_tail()}")
            if time.perf_counter() > deadline:
                raise RuntimeError(f"server not ready in {timeout_s} s\n{self.log_tail()}")
            try:
                c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=5)
                c.request("GET", "/-/ready")
                ok = c.getresponse().status == 200
                c.close()
                if ok:
                    break
            except OSError:
                pass
            time.sleep(0.05)
        self.start_s = time.perf_counter() - t0
        return self

    def stop(self) -> None:
        if self.proc is not None:
            stop(self.proc)
            self.proc = None

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(os.path.join(self.work, "server.log"), errors="replace") as f:
                return "".join(f.readlines()[-n:])
        except OSError:
            return ""


class Client:
    """One keep-alive HTTP connection; a request that fails on a stale
    connection is not retried (it counts as a failed op)."""

    def __init__(self, port: int, timeout_s: float = 60.0):
        self.port, self.timeout_s = port, timeout_s
        self.conn: http.client.HTTPConnection | None = None

    def request(
        self, method: str, path: str, body: bytes | None = None,
        headers: dict[str, str] | None = None,
    ) -> tuple[int, bytes]:
        if self.conn is None:
            self.conn = http.client.HTTPConnection(
                "127.0.0.1", self.port, timeout=self.timeout_s
            )
        try:
            self.conn.request(method, path, body=body, headers=headers or {})
            resp = self.conn.getresponse()
            return resp.status, resp.read()
        except (OSError, http.client.HTTPException):
            self.close()
            raise

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None

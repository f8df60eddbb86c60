"""Process-level plumbing shared by the workloads: the hermetic work
directory, the Spark session and its shutdown, memory readings, latency
statistics and the HTTP client.

All run-time files live under ``<checkout>/.perfbench_work/``: warm
artifacts in ``warm/`` (built once per checkout), everything else in a
per-run directory that is removed when the run ends.
"""

from __future__ import annotations

import http.client
import os
import shutil
import signal
import statistics
import sys
import time
import urllib.parse
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


class RunDirs:
    """Per-run directories under the work root; ``close`` removes them."""

    def __init__(self) -> None:
        self.warm = os.path.join(WORK, "warm")
        self.run = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:6]}")
        for sub in ("cache", "local", "warehouse", "tmp", "data"):
            os.makedirs(os.path.join(self.run, sub), exist_ok=True)
        os.makedirs(self.warm, exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.run, name)

    def fresh(self, prefix: str) -> str:
        d = os.path.join(self.run, "data", f"{prefix}-{uuid.uuid4().hex[:6]}")
        os.makedirs(d)
        return d

    def close(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def hermetic_env(dirs: RunDirs, cores: int) -> None:
    """Point every place the engine, Spark and Python write scratch files
    at the run directory, and drop the engine's tuning variables so that
    every run uses the same configuration. Must run before pyspark starts
    the JVM."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CACHE_DIR"] = dirs.sub("cache")
    os.environ["SPARK_LOCAL_DIRS"] = dirs.sub("local")
    os.environ["TMPDIR"] = dirs.sub("tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = None          # re-read TMPDIR


def start_spark(dirs: RunDirs, cores: int):
    from graphdb_free_mocha_sa_spark.session import get_spark
    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": dirs.sub("warehouse"),
            "spark.local.dir": dirs.sub("local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={dirs.sub('tmp')} "
                f"-Dderby.system.home={dirs.sub('tmp')}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — already closed
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
    reap_children()


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def reap_children() -> None:
    """Terminate and wait for any process this run still has."""
    kids = descendants(os.getpid())
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.time() + 20
    for pid in kids:
        while time.time() < deadline:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                break                       # not our direct child
            if done:
                break
            time.sleep(0.05)
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def peak_rss_mb() -> float:
    """VmHWM of this process plus every descendant (the JVM and its
    Python workers), in MB."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


# ------------------------------------------------------------ statistics

def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


# ------------------------------------------------------------ HTTP client

class Client:
    """One persistent HTTP/1.1 connection to the endpoint (closed loop:
    the next request goes out only after the last byte of the previous
    response has arrived)."""

    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def query(self, sparql: str, accept: str, op_id: str = "") -> tuple:
        """GET /sparql; returns (status, body bytes, seconds from request
        sent until the last byte is received)."""
        headers = {"Accept": accept}
        if op_id:
            headers["X-Bench-Op"] = op_id
        path = "/sparql?" + urllib.parse.urlencode({"query": sparql})
        t0 = time.perf_counter()
        self.conn.request("GET", path, headers=headers)
        resp = self.conn.getresponse()
        body = resp.read()
        return resp.status, body, time.perf_counter() - t0

    def update(self, sparql: str, op_id: str = "") -> tuple:
        headers = {"Content-Type": "application/x-www-form-urlencoded"}
        if op_id:
            headers["X-Bench-Op"] = op_id
        body = urllib.parse.urlencode({"update": sparql})
        t0 = time.perf_counter()
        self.conn.request("POST", "/sparql", body=body, headers=headers)
        resp = self.conn.getresponse()
        data = resp.read()
        return resp.status, data, time.perf_counter() - t0

    def close(self) -> None:
        self.conn.close()


def start_server(engine):
    import threading
    from graphdb_free_mocha_sa_spark.server import serve
    srv = serve(engine, port=0)
    th = threading.Thread(target=srv.serve_forever, daemon=True,
                          kwargs={"poll_interval": 0.05})
    th.start()
    return srv, th


def stop_server(srv, th) -> None:
    srv.shutdown()
    srv.server_close()
    th.join(timeout=30)

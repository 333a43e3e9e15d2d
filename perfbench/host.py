"""Run environment: pinned Spark settings, the JVM process tree's memory,
and shutting that tree down."""

from __future__ import annotations

import os
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of RAM, at most 4 GiB: the engine's 64g default would let
    the heap grow into the memory that holds the inputs."""
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // (4 * 1024 * 1024)))}g"


def pin_env(root: str, work: str) -> dict:
    """Environment and Spark conf for a run rooted at ``work``: spill,
    shuffle and temp files stay there; workers import the engine from
    ``root``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    return {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false"}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of a process tree, sampled every ``period`` s."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self.period = pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(tree(self.pid)))
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    until all of them have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    pids = [p for p in tree(proc.pid) if p != proc.pid]
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
    deadline = time.monotonic() + timeout
    for p in pids:
        while _alive(p) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(p):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """Running, i.e. present and not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False

"""Host facts, session sizing and process bookkeeping.

Sizing comes from the host, never from the engine's 32-core defaults:
``local[N]`` with N = usable cores and a driver heap of ``HEAP_SHARE`` of
physical RAM, pre-touched so the JVM's RSS does not depend on when the
heap grows.  Everything is passed through ``get_spark``'s existing
arguments (``master``, ``extra_conf``, ``pretouch``) and its
``SPARK_GRAFT_*`` environment.
"""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
HEAP_SHARE = 0.2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def sizing() -> dict:
    n = cores()
    ram = ram_mb()
    return {
        "cores": n,
        "ram_mb": ram,
        "master": f"local[{n}]",
        "driver_heap_mb": max(1024, int(ram * HEAP_SHARE)),
        "pretouch": True,
    }


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def tree_sha(root: str) -> str:
    """Content hash of the program and benchmark sources, for checkouts
    that are not git repositories."""
    h = hashlib.sha1()
    files = [os.path.join(root, "__spark_entry__.py")]
    for top in ("geowarp_spark", "perfbench"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def facts(root: str, size: dict, workload: str, seed: int) -> dict:
    import numpy
    import pyspark

    return dict(size, workload=workload, seed=seed,
                spark=pyspark.__version__, python=platform.python_version(),
                numpy=numpy.__version__, git_sha=git_sha(root),
                tree_sha=tree_sha(root))


def start_session(root: str, work: str, size: dict, app: str,
                  event_dir: str | None = None):
    """Start a session whose scratch files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # get_spark's pretouch path sizes the heap (-Xms = driver memory)
    # from SPARK_GRAFT_DRIVER_MEM / SPARK_GRAFT_XMS
    heap = f"{size['driver_heap_mb']}m"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(size["cores"]),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_XMS": heap,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        # the driver JVM's temp files, and no /tmp/hsperfdata_* file
        "SPARK_SUBMIT_OPTS": " ".join(
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p),
    })
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from geowarp_spark.session import get_spark

    spark = get_spark(app_name=app, master=size["master"], extra_conf=conf,
                      pretouch=size["pretouch"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


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


def process_tree(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def vm_cpu() -> list[int]:
    """Host-wide CPU jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(a: list[int], b: list[int]) -> float:
    """Share of the host's CPU time between two ``vm_cpu`` samples that
    the hypervisor gave to other guests."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d))


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process and its live descendants."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(pid: int) -> float:
    """RSS of a process plus its Python descendants.  Other descendants
    are skipped: a helper the JVM forks reports the JVM's whole RSS until
    it execs, which would double-count the heap."""
    total = 0
    for p in process_tree(pid):
        try:
            if p != pid:
                with open(f"/proc/{p}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * PAGE / 2**20


class RssSampler:
    """Peak RSS of the driver JVM plus its Python workers, sampled from
    /proc every ``period`` seconds while active."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid, self.period = pid, period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the Python worker daemon and its workers) has exited."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = gw.proc
    tree = process_tree(proc.pid)
    try:
        spark.stop()
    finally:
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for p in tree:
        while os.path.exists(f"/proc/{p}") and _is_live(p):
            if time.monotonic() > deadline:
                os.kill(p, signal.SIGKILL)
            time.sleep(0.05)


def _is_live(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False

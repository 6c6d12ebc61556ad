"""Host fingerprint, fixed Spark configuration, RSS sampling and cleanup.

Everything here reads the host; nothing selects a code path from what it
reads except the two sizes ``configure`` derives (task threads and driver
heap), which every run of every workload uses unchanged.
"""

from __future__ import annotations

import os
import signal
import socket
import statistics
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem(total_kb: int) -> str:
    """A quarter of host RAM, 1-8 GiB: the JVM and the python workers share
    the box, and a heap larger than RAM allows is what the old 32g default
    asked for on a 15 GB host."""
    gib = max(1, min(8, total_kb // (4 << 20)))
    return f"{gib}g"


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unknown ({e.__class__.__name__})"
    lines = [ln for ln in (out.stderr or out.stdout).splitlines()
             if not ln.startswith("Picked up")]
    return lines[0].strip() if lines else "unknown"


def configure(scratch: str) -> dict:
    """Pin the configuration every run uses and return the fingerprint.

    ``SPARK_GRAFT_CPUS``/``SPARK_DRIVER_MEM`` are the environment
    ``proj_spark.session.get_spark`` reads. Temp and shuffle directories
    are kept inside ``scratch``, and every JVM (launcher and driver) runs
    without its /tmp performance-data file, so a run writes only under its
    checkout.
    Transport stays the session default (loopback TCP): the probe below
    is recorded as evidence and never switches it.
    """
    import pyarrow
    import pyspark

    n = nproc()
    total = mem_total_kb()
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_DRIVER_MEM"] = driver_mem(total)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("PROJ_SPARK_UDS", None)
    return {
        "nproc": n,
        "mem_total_kb": total,
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java_version(),
        "transport": "tcp (session default, never switched)",
    }


def loopback_probe(bulk_bytes: int = 8 << 20, pings: int = 100) -> dict:
    """Loopback round-trip time and bulk bandwidth (~0.1 s). The Arrow
    JVM<->python pipe rides loopback; the figures are stamped into the
    result as evidence of the host's phase and change nothing."""
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        c, _ = srv.accept()
        with c:
            for _ in range(pings):
                if not c.recv(1):
                    return
                c.sendall(b"p")
            got = 0
            while got < bulk_bytes:
                d = c.recv(1 << 20)
                if not d:
                    return
                got += len(d)
            c.sendall(b"k")

    t = threading.Thread(target=serve)
    t.start()
    rtts = []
    try:
        with socket.create_connection(("127.0.0.1", port)) as s:
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            for _ in range(pings):
                t0 = time.perf_counter()
                s.sendall(b"p")
                s.recv(1)
                rtts.append(time.perf_counter() - t0)
            chunk = b"\0" * (1 << 20)
            t0 = time.perf_counter()
            for _ in range(bulk_bytes >> 20):
                s.sendall(chunk)
            s.recv(1)
            bulk_s = time.perf_counter() - t0
    finally:
        t.join(timeout=10)
        srv.close()
    return {"rtt_us": statistics.median(rtts) * 1e6,
            "loopback_mbps": bulk_bytes / bulk_s / 1e6}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of the JVM and the python workers it forks, and
    peak summed RSS of the python workers alone, sampled on a thread every
    ``period`` s. ``at_peak`` splits the first peak.

    A process the JVM forks to run a shell command (Hadoop's local file
    system does so for permissions without its native library) shows the
    JVM's whole RSS until it execs; those children are not counted."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self.python_peak_kb = 0
        self.samples = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            java, py = 0, []
            for p in descendants():
                comm = _comm(p)
                if comm == "java" and _comm(_ppid(p)) != "java":
                    java += _rss_kb(p)
                elif comm.startswith("python"):
                    py.append(_rss_kb(p))
            kb = java + sum(py)
            self.samples += 1
            self.python_peak_kb = max(self.python_peak_kb, sum(py))
            if kb > self.peak_kb:
                self.peak_kb = kb
                self.at_peak = {"java_mb": java / 1024, "python_mb": sum(py) / 1024,
                                "python_procs": len(py)}
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, then wait until every
    process this run started has exited, killing stragglers. The tree is
    listed first: the JVM's python daemon is re-parented when the JVM
    exits and would no longer show up as a descendant."""
    from pyspark import SparkContext

    tree = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)

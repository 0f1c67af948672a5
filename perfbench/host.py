"""Host-side plumbing for the benchmark: fitting the Spark session to
the machine, a /proc RSS sampler over the JVM and its Python workers,
and the ambient-load canary.

Nothing here starts a thread or reads /proc at import time.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Share of physical memory given to the driver heap, and its clamp.
#: Other processes may share the host, so the heap stays far below MemTotal.
HEAP_SHARE = 6
HEAP_MIN_GIB, HEAP_MAX_GIB = 1, 4


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_session_env(local_dir: str) -> dict[str, str]:
    """Set the environment ``session.get_spark`` reads, derived from
    this host, and return the ``extra_conf`` to pass it.

    - ``SPARK_GRAFT_DRIVER_MEM``: MemTotal / HEAP_SHARE, clamped; the
      library default (48g) is larger than small hosts' RAM.
    - ``SPARK_GRAFT_CPUS``: the CPUs this process may run on.
    - ``SPARK_LOCAL_DIRS``: shuffle/spill files stay in the run dir.
    - ``PYTHONPATH``: Python workers import the package from the
      checkout whatever their working directory.
    """
    gib = mem_total_bytes() / 2**30
    heap = max(HEAP_MIN_GIB, min(HEAP_MAX_GIB, int(gib // HEAP_SHARE)))
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    return {
        "spark.ui.showConsoleProgress": "false",
        # Keep every micro-batch's progress, not only the last 100.
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The command name is parenthesised and may hold spaces.
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """One thread sampling the summed RSS of a process tree (the JVM
    and the Python workers it forks) until :meth:`stop`."""

    def __init__(self, root_pid: int, period_s: float = 0.1):
        self.root = root_pid
        self.period = period_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self.samples += 1
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("rss sampler did not stop")
        if self.samples == 0:
            raise RuntimeError("rss sampler took no sample")
        return self.peak


class Canary:
    """Ambient host-load evidence: ``tools/canary.probe_ms`` sampled
    before each timed operation, gated on the pooled median AND p90
    (a gate on the median alone lets a p90 wave pass as clean)."""

    PROBES_PER_SAMPLE = 5

    def __init__(self):
        sys.path.insert(0, os.path.join(REPO, "tools"))
        import canary

        self._probe = canary.probe_ms
        self.med_gate = canary.MED_GATE_MS
        self.p90_gate = canary.P90_GATE_MS
        self._probe()  # the first call pays BLAS initialisation
        self.values: list[float] = []

    def sample(self) -> None:
        self.values.extend(self._probe() for _ in range(self.PROBES_PER_SAMPLE))

    def verdict(self) -> dict:
        v = sorted(self.values)
        med = statistics.median(v)
        p90 = v[int(0.9 * (len(v) - 1))]
        return {
            "n": len(v),
            "med_ms": round(med, 2),
            "p90_ms": round(p90, 2),
            "clean": med < self.med_gate and p90 < self.p90_gate,
        }


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway down and wait for the
    JVM to exit, so the run leaves no process behind."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

"""Spark session lifecycle and process accounting for one benchmark run.

Everything the engine writes (shuffle spill, the shipped package zip,
JVM temp files, the SQL warehouse dir) stays under the run's work
directory, and ``stop`` waits for the JVM to exit.
"""

from __future__ import annotations

import os
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int, int]:
    """(all, stolen, busy) CPU ticks of the host since boot, from
    /proc/stat: stolen ticks are time a co-tenant of the hypervisor ran
    instead; busy ticks are time spent running (user, nice, system,
    irq, softirq)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7], f[0] + f[1] + f[2] + f[5] + f[6]


def unstolen_share(t0: tuple[int, int, int], t1: tuple[int, int, int]) -> float:
    """The share of the time the CPUs were wanted between two
    ``cpu_ticks`` readings that they actually ran: 1 - stolen / (stolen
    + busy). A wall time scaled by it is the time the same work takes
    when the hypervisor gives the CPUs to no co-tenant."""
    stolen, busy = t1[1] - t0[1], t1[2] - t0[2]
    return 1.0 - stolen / (stolen + busy) if stolen + busy > 0 else 1.0


def prepare_env(work: str) -> None:
    """Point every temp location at the work dir; call before the JVM
    starts (it inherits the environment)."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR


def start(work: str):
    """Build the session through the program's own factory, on
    ``local[<cores>]`` with one shuffle partition per core and a 1 GB
    driver heap (the factory's default of 8 GB lets the JVM's resident
    size wander with GC timing from run to run)."""
    from huckli_spark.session import get_spark

    n = cores()
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, shutdown_jvm: bool = False) -> None:
    """Stop the session; with ``shutdown_jvm`` also end the gateway JVM
    this process launched and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    if not shutdown_jvm:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)  # the launched JVM's Popen
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - TimeoutExpired: do not leave it running
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# resident memory of the driver, the JVM and its Python workers
# ---------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among
    the processes sharing them (forked Python workers share most of
    theirs with the daemon, which plain RSS would count once each)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_kb(root: int) -> dict[int, int]:
    """PSS of ``root`` and each of its descendants, in kB, by pid."""
    kids = _children()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Samples the resident memory (PSS) of this process and all its
    descendants -- the JVM it launched and the JVM's Python workers --
    every ``period`` seconds, and keeps each process's peak.
    ``peak_mb`` is the sum of those peaks: every process's own high-water
    mark, so it does not hinge on which processes a sample caught
    together."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return sum(self.peaks.values()) / 1024

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            for pid, kb in tree_pss_kb(me).items():
                self.peaks[pid] = max(self.peaks.get(pid, 0), kb)
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

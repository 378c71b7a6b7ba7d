"""Host discipline for one benchmark run: core pinning, a driver heap that
fits host RAM, scratch dirs inside the checkout, CPU-steal accounting, RSS
sampling of the Spark processes, and shutting those processes down."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of host RAM, 1..8 GiB (the package default of 24g does not
    fit small hosts; local mode runs every task inside this one heap)."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1, min(8, kib // (4 * 1024 * 1024)))


def configure(work: str, repo_root: str) -> dict[str, str]:
    """Environment for the Spark driver and its Python workers; returns the
    Spark conf entries that keep every Spark file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = str(cores())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = n
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    # the driver JVM in local mode is the spark-submit JVM; without
    # -XX:-UsePerfData it and spark-class's launcher JVM write hsperfdata
    # under /tmp whatever java.io.tmpdir says
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already inside user/nice
    return d[7] / total if total > 0 else 0.0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled every ``period`` seconds while running."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(me)))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def task_counts(spark) -> tuple[int, int]:
    """(tasks run, tasks failed) over the whole application, from the
    status store's executor summaries."""
    tasks = failed = 0
    it = spark.sparkContext._jsc.sc().statusStore().executorList(False).iterator()
    while it.hasNext():
        ex = it.next()
        tasks += ex.completedTasks() + ex.failedTasks()
        failed += ex.failedTasks()
    return tasks, failed


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def shutdown_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the gateway JVM (it exits when its stdin
    closes) and wait until every process it started is gone."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"Spark processes still running after {timeout}s: {alive}")

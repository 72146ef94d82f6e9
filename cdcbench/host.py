"""Process and host probes: the Spark session the workloads share, the
/proc CPU of the JVM and its Python workers, resident memory, pinned
blocks, and the CPU other tenants of the host used meanwhile.

Only public engine entry points are used (``session.get_spark``); the
scratch locations Spark and Python write to are pointed inside the
benchmark's work directory before the JVM starts.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def start_session(root: str, work: str, cores: int):
    """Start the engine's session at ``local[cores]`` with every scratch
    path under ``work``; Python workers import the engine from ``root``.
    Returns (spark, seconds taken)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the engine's own master and heap: an override would measure another
    # configuration of the program
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from cdc_demo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("cdcbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the first job pays executor start-up
    return spark, time.perf_counter() - t0


def stop_session(spark) -> float:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit.  Returns the seconds taken."""
    from pyspark import SparkContext

    t0 = time.perf_counter()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    return time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def _descendants(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_s(pid: int, with_reaped: bool) -> float:
    st = _stat(pid)
    if not st:
        return 0.0
    # fields 14-17 (1-based): utime stime cutime cstime
    ticks = int(st[11]) + int(st[12])
    if with_reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / CLK_TCK


class ProcessTree:
    """CPU seconds of this Python process, its JVM and the JVM's Python
    workers (the pyspark daemon and its forks; workers that exited are
    counted through the daemon's reaped-children time)."""

    def __init__(self, jvm: int) -> None:
        self.jvm = jvm
        self.me = os.getpid()

    def cpu(self) -> dict[str, float]:
        kids = _children()
        workers = _descendants(self.jvm, kids)
        direct = set(kids.get(self.jvm, []))
        py = sum(_cpu_s(p, with_reaped=p in direct) for p in workers)
        return {
            "jvm": _cpu_s(self.jvm, with_reaped=False),
            "python_workers": py,
            "client": _cpu_s(self.me, with_reaped=False),
        }

    def pids(self) -> list[int]:
        return [self.me, self.jvm] + _descendants(self.jvm, _children())

    def rss_peak_mb(self) -> float:
        """Sum of the peak resident sizes (VmHWM) of the processes alive
        now: this process, the JVM and its Python workers."""
        total_kb = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024


def host_busy() -> tuple[float, float, float]:
    """(busy, steal, total) CPU seconds of the whole host so far; steal is
    time a virtual CPU waited for the hypervisor."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + vals[4]
    total = sum(vals[:8])
    return (total - idle - vals[7]) / CLK_TCK, vals[7] / CLK_TCK, total / CLK_TCK


class HostWindow:
    """External-CPU share and load average over one measured phase: the
    host's busy CPU not spent by this process tree, as a share of the
    host's CPU capacity over the same interval."""

    def __init__(self, tree: ProcessTree) -> None:
        self.tree = tree
        self.busy0, self.steal0, self.total0 = host_busy()
        self.own0 = sum(tree.cpu().values())

    def close(self) -> dict:
        busy, steal, total = host_busy()
        own = sum(self.tree.cpu().values()) - self.own0
        d_total = max(total - self.total0, 1e-9)
        ext = max(0.0, (busy - self.busy0) - own)
        return {
            "external_cpu_share": round(ext / d_total, 4),
            "steal_share": round((steal - self.steal0) / d_total, 4),
            "own_cpu_share": round(own / d_total, 4),
            "loadavg": list(os.getloadavg()),
        }


def pinned(spark) -> tuple[float, int]:
    """(MB, RDD count) held in the block manager (``getRDDStorageInfo``):
    cached and locally-checkpointed RDDs the engine left materialized."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb, n = 0.0, 0
    for info in infos:
        if info.numCachedPartitions() > 0:
            n += 1
            mb += (info.memSize() + info.diskSize()) / (1 << 20)
    return mb, n

"""A Spark session sized to the host, plus host-noise and memory probes.

The session runs one task thread per core but one (``local[<cores - 1>]``)
with one shuffle partition per task thread, the engine's ``TUNED_CONF``,
and a driver heap sized from ``MemTotal`` and committed at launch
(``-Xms`` equal to the maximum): a heap that G1 grows during the first
passes made pass times uneven. Python workers inherit single-threaded
BLAS/OpenMP so that one worker per task thread does not oversubscribe
the cores.
"""

from __future__ import annotations

import os
import time

THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
               "NUMEXPR_NUM_THREADS")
# of MemTotal: over ten times the live heap a pass leaves (under 200 MB
# in both workloads), and small enough that the heap, committed at
# launch, leaves room for the Python workers and for neighbours
HEAP_SHARE = 0.125


def cores() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task threads. One core is left to the driver's planning
    thread, the JIT compiler and GC threads and the Python driver: with a
    task thread on every core these queue behind the tasks, and a pass
    used more CPU and took no less time."""
    return max(1, cores() - 1)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def base_conf(root: str) -> dict[str, str]:
    n = task_slots()
    heap_mb = max(1024, int(mem_total_mb() * HEAP_SHARE))
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "geospark-perfbench",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(root, 'derby')} "
            f"-Xms{heap_mb}m",
    }
    for v in THREAD_VARS:
        conf[f"spark.executorEnv.{v}"] = "1"
    return conf


def start(root: str):
    """Start (or restart, in the same JVM) the benchmark session."""
    from pyspark.sql import SparkSession

    from geospark.conf import apply_tuned
    for v in THREAD_VARS:
        os.environ[v] = "1"
    here = os.getcwd()
    path = os.environ.get("PYTHONPATH", "")
    if here not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = here + (os.pathsep + path if path else "")
    b = apply_tuned(SparkSession.builder)
    for k, v in base_conf(root).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def effective_conf(spark) -> dict[str, str]:
    return dict(sorted(spark.sparkContext.getConf().getAll()))


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use after two full collections: what the
    engine still holds after the passes run so far."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def host_sample() -> dict:
    """/proc/stat totals (steal ticks) and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = [int(v) for v in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu),
            "loadavg": load, "time": time.time()}


def host_record(a: dict, b: dict) -> dict:
    ticks = max(b["total"] - a["total"], 1)
    return {"host.steal_frac": (b["steal"] - a["steal"]) / ticks,
            "host.loadavg": (a["loadavg"] + b["loadavg"]) / 2.0,
            "host.start": a, "host.end": b}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process under it
    (this interpreter, the driver JVM, the Python worker daemon and its
    workers), reaped children included. Time the hypervisor steals is
    not in it, which keeps it steady on a host with CPU steal."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # u/s time, cu/cs time
    return total / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the RSS high-water marks (VmHWM) of ``root`` and every
    process under it."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += sum(int(line.split()[1]) for line in f
                             if line.startswith("VmHWM:"))
        except OSError:
            continue
    return total / 1024

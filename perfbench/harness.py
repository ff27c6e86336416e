"""Session lifecycle, pinned environment and process metrics shared by
the workloads."""

from __future__ import annotations

import gc
import os
import subprocess
import time

from cleanup import WORK_DIR

DRIVER_MEM = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_env() -> None:
    """Pin the configuration through the variables the engine reads.
    Unset, ``SPARK_GRAFT_CPUS`` means local[32] with 32 shuffle
    partitions, which on a small host measures the scheduler."""
    local = os.path.join(WORK_DIR, "spark-local")
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        '--conf spark.ui.showConsoleProgress=false '
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    import tempfile

    tempfile.tempdir = tmp


class Session:
    """The run's one SparkSession and the JVM behind it."""

    def __init__(self) -> None:
        self.spark = None
        self.gateway = None

    def start(self):
        from data_pengadaan_agent_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.gateway = self.spark.sparkContext._gateway
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.gateway.proc.pid

    def close(self) -> None:
        """Stop Spark, shut the py4j gateway and wait for the JVM to exit.
        Safe to call twice."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.gateway is not None:
            proc = self.gateway.proc
            self.gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            self.gateway = None


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and all its
    descendants: the JVM and any Python workers it started."""
    return sum(_status_kb(p, "VmHWM:") for p in descendants(os.getpid())) / 1024.0


def process_age_s() -> float:
    """Seconds since this process started, from its kernel start time
    (clock-tick resolution), so interpreter start and imports count."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process, all threads."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def heap_peak_mb(spark) -> float:
    """Sum over the JVM's heap memory pools of each pool's peak used
    size since the JVM started."""
    mf = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
    ) / 2**20


def retained_heap_mb(spark) -> float:
    """JVM heap in use once collection stops freeing anything: what the
    run left reachable. Python's collector runs first, so py4j proxies
    that are garbage release their JVM objects, and the rounds repeat
    until three readings agree, because Spark's ContextCleaner drops
    broadcast and shuffle state only after a collection has found it
    unreachable."""
    mf = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory
    readings: list[float] = []
    for _ in range(8):
        gc.collect()
        mf.getMemoryMXBean().gc()
        readings.append(mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
        time.sleep(0.5)
    return readings[-1]


def cached_mb(spark) -> float:
    """Memory held by cached RDDs and DataFrames."""
    return sum(i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20


"""Fit Spark to the host the benchmark runs on, and watch its memory.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
Spark's local dirs, the warehouse, the JVM temp dir and the event log.
The scratch part is emptied at the start and at the end of every run.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

# One JVM never gets more than this, whatever the host has.
HEAP_CAP_MB = 15 * 1024
# Share of MemTotal given to the driver heap. The host is shared with
# other processes, and Spark keeps off-heap and Python-worker memory
# besides the heap.
HEAP_SHARE = 0.2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("/proc/meminfo has no MemTotal line")


def driver_heap_mb(total_mb: int) -> int:
    """Heap for the single local-mode JVM: a share of MemTotal, rounded
    down to 256 MB, at least 1 GB and at most ``HEAP_CAP_MB``."""
    mb = int(total_mb * HEAP_SHARE) // 256 * 256
    return max(1024, min(HEAP_CAP_MB, mb))


class Workdir:
    """``root/scratch`` is per run and emptied; ``root/records`` keeps
    the end-to-end figures of untraced runs, which traced runs compare
    against to report their own overhead."""

    def __init__(self, checkout: str):
        self.root = os.path.join(checkout, ".perfbench_work")
        self.scratch = os.path.join(self.root, "scratch")
        self.records = os.path.join(self.root, "records")

    def reset(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        os.makedirs(self.records, exist_ok=True)

    def clear(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)


def spark_conf(work: Workdir, heap_mb: int, trace: bool) -> dict[str, str]:
    """``extra_conf`` for ``dexspark.session.get_spark``. Also points
    this process's and Spark's launcher JVM's temp files into the work
    dir; ``-XX:-UsePerfData`` keeps the JVMs out of /tmp/hsperfdata_*.
    Fixed JIT compiler threads let ``ProcessMeter`` leave them out."""
    tmp = work.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.local.dir": work.path("spark-local"),
        "spark.sql.warehouse.dir": work.path("spark-warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
    }
    if trace:
        os.makedirs(work.path("eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + work.path("eventlog")
        conf["spark.eventLog.compress"] = "false"
    return conf


def codegen_rate_probe(spark) -> float:
    """Whole-stage-codegen rows/s in millions: the JVM throughput probe
    of ``bench.host_calibration`` at a twentieth of its size, timed on
    its second pass so that JVM start-up cost is left out."""
    rows = 10_000_000
    for _ in range(2):
        t0 = time.monotonic()
        spark.range(rows, numPartitions=nproc()).selectExpr("bit_xor(xxhash64(id)) s").collect()
    return rows / 1e6 / (time.monotonic() - t0)


def _rss_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, user + system clock ticks) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields after the parenthesised command name, which may hold spaces
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    return out


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds spent so far by the JVM's JIT compiler threads. They
    never exit, because the JVM runs with
    ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    ticks = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                stat = f.read()
        except FileNotFoundError:
            continue
        if stat[stat.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = stat[stat.rindex(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(roots: list[int]) -> float:
    """CPU seconds (user + system) spent so far by ``roots`` and all
    their descendants that are still running (the JVM's Python
    workers among them)."""
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = set(), list(roots)
    while todo:
        pid = todo.pop()
        if pid in seen or pid not in stats:
            continue
        seen.add(pid)
        todo += children.get(pid, [])
    return sum(stats[p][1] for p in seen) / os.sysconf("SC_CLK_TCK")


class ProcessMeter:
    """Peak of (driver JVM RSS + this Python process's RSS), sampled
    every ``interval`` seconds while started, and the CPU seconds the
    JVM and this process (with their descendants) spent meanwhile, less
    the JVM's JIT compiler threads: JIT compilation is JVM warm-up, takes
    about two thirds of a run's CPU on a 4-vCPU VM, and varies from run
    to run much more than the engine's own work."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        kb = _rss_kb(self.jvm_pid) + _rss_kb("self")
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "ProcessMeter":
        self._stop = threading.Event()
        self._cpu0 = self._cpu()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
        self.cpu_s += self._cpu() - self._cpu0

    def _cpu(self) -> float:
        return tree_cpu_s([self.jvm_pid, os.getpid()]) - jit_cpu_s(self.jvm_pid)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

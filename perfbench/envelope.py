"""The resource envelope the benchmark pins for the program under test.

The launcher, not the engine, decides how many cores and how much memory
the run gets, where Spark spills, and where the warehouse lives, so two
commits are always measured under the same envelope:

- ``local[N]`` with ``N = min(2, nproc)`` and shuffle partitions = N:
  on a 4-core machine two task threads leave cores to the driver, the
  JIT compiler and the collector, which measured both faster and steadier
  than ``local[4]`` for these small operations;
- driver heap ``min(1 GiB, MemTotal / 8)``, committed and touched at
  start (``-Xms`` = ``-Xmx``, ``AlwaysPreTouch``) so the JVM's resident
  size does not depend on when the collector ran (the engine's own
  default heap is 48 GiB, sized for a bigger machine);
- ``SPARK_LOCAL_DIRS``, ``TMPDIR``, the Spark warehouse and every table
  under one fresh work directory inside the checkout, removed at exit;
- another live Spark JVM on the box is reported (``contended``), because
  concurrent JVMs inflate timings many times over;
- for a workload with ``c1_jit`` the JIT stops at its first tier
  (``-XX:TieredStopAtLevel=1``). A run lasts about a minute, far too
  short for C2 to finish on ``cdc_ingest``, whose turns run some 40 small
  Spark jobs: with the default tiers the JIT threads used more CPU per
  turn than the engine's own threads, and each turn ran at whatever stage
  of compilation the run had reached. C1 compiles within the first turns
  and the CPU per turn then stays flat. ``corpus_admission`` keeps the
  default tiers: under C1 an admission took ~1.4x longer and its CPU
  time spread no less from run to run;
- the JIT compiler threads live as long as the JVM
  (``-XX:-UseDynamicNumberOfCompilerThreads``), so ``CpuClock`` can leave
  their CPU time out.
"""

from __future__ import annotations

import os
import resource
import shutil
import time
from pathlib import Path

MAX_CORES = 2
MAX_HEAP_MB = 1024


def cores() -> int:
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def heap_mb() -> int:
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(512, min(MAX_HEAP_MB, total_kb // 8192))


def other_spark_jvms() -> list[int]:
    """PIDs of Spark JVMs not started by this process."""
    mine = os.getpid()
    found = []
    for proc in Path("/proc").iterdir():
        if not proc.name.isdigit() or int(proc.name) == mine:
            continue
        try:
            cmd = (proc / "cmdline").read_bytes()
            stat = (proc / "stat").read_text()
        except OSError:
            continue
        if b"java" not in cmd or b"org.apache.spark" not in cmd:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid != mine:
            found.append(int(proc.name))
    return found


class Envelope:
    """Owns the run's work directory and the Spark session settings."""

    def __init__(self, checkout: Path):
        self.work = checkout / ".perfbench_work" / f"run-{os.getpid()}-{time.time_ns()}"
        self.local = self.work / "spark-local"
        self.tmp = self.work / "tmp"
        for d in (self.local, self.tmp):
            d.mkdir(parents=True, exist_ok=True)
        self.cores = cores()
        self.heap_mb = heap_mb()
        self.contended = other_spark_jvms()
        os.environ.update({
            "TZ": "UTC",
            "TMPDIR": str(self.tmp),
            "SPARK_LOCAL_DIRS": str(self.local),
            "SPARK_DRIVER_MEMORY": f"{self.heap_mb}m",
            "SPARK_GRAFT_CPUS": str(self.cores),
        })
        time.tzset()

    def spark_conf(self, c1_jit: bool) -> dict[str, str]:
        # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*,
        # outside the work directory
        java_opts = (f"-Xms{self.heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                     f"{'-XX:TieredStopAtLevel=1 ' if c1_jit else ''}"
                     f"-XX:-UseDynamicNumberOfCompilerThreads "
                     f"-Djava.io.tmpdir={self.tmp} -Duser.timezone=UTC")
        return {
            "spark.local.dir": str(self.local),
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.sql.ui.retainedExecutions": "100",
        }

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = self.work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _cpu_ticks(stat: Path) -> int:
    """utime + stime of a /proc stat file, in clock ticks."""
    fields = stat.read_text().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class CpuClock:
    """CPU seconds the engine has used: this Python process plus the
    driver JVM, without the JVM's JIT compiler threads.

    On a shared virtual machine the hypervisor sometimes takes cores away
    (``steal`` in /proc/stat) for tens of seconds, which stretches wall
    times of whole runs by up to 2x; CPU time leaves the stolen time out
    (it still moves with host load, but far less).
    JIT compilation is left out because it is warm-up work whose amount
    per operation depends on how far the compiler has got.
    """

    def __init__(self, jvm_pid: int):
        self.jvm = Path(f"/proc/{jvm_pid}")
        self.tick = os.sysconf("SC_CLK_TCK")
        self.compilers = [t for t in (self.jvm / "task").iterdir()
                          if "CompilerThre" in (t / "comm").read_text()]

    def read(self) -> float:
        jvm = _cpu_ticks(self.jvm / "stat") - sum(_cpu_ticks(t / "stat") for t in self.compilers)
        t = os.times()
        return jvm / self.tick + t.user + t.system

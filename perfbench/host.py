"""Host facts and the host-fitted Spark session settings.

The repository's session factory defaults to ``local[32]`` and a 24 GB
heap cap (tuned for a large shared box). The benchmark fits the
session to the machine it runs on instead, through ``get_spark``'s
``cpus`` and ``extra_conf`` arguments, without editing the factory:

- ``cpus`` = the CPUs this process may run on (``nproc``);
- a fixed 1 GB JVM heap (a quarter of physical memory if less);
- Spark's local dirs, the JVM temp dir and the SQL warehouse inside the
  run's own work directory, so a run writes nothing outside its checkout.
"""

from __future__ import annotations

import os


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def describe() -> dict:
    """Cores, memory and load average, read before the run starts."""
    return {
        "cores": cpus(),
        "mem_total_mb": round(mem_total_mb()),
        "loadavg_1m": os.getloadavg()[0],
    }


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the machine so far, from ``/proc/stat``:
    stolen time is when the hypervisor ran another guest on our CPUs."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(v) for v in fh.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


def heap_mb() -> int:
    return int(min(1024, mem_total_mb() / 4))


def session_conf(work_dir: str, ui: bool) -> dict[str, str]:
    """``extra_conf`` for ``session.get_spark``. Also points ``TMPDIR`` and
    ``SPARK_LOCAL_DIRS`` at ``work_dir`` (read when the JVM launches)."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    heap = heap_mb()
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # the heap is committed up front (-Xms = -Xmx): left to grow, its
        # size follows the collector's timing-driven decisions and moved
        # peak RSS by up to 25 % between identical runs
        "spark.driver.extraJavaOptions":
            f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf["spark.ui.port"] = "0"  # any free port; the URL is read back
    return conf


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    # field 4 is the parent pid; the name (field 2) may hold spaces
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (for the JVM: the Python worker daemon
    and its forked workers)."""
    out, stack = [], [pid]
    while stack:
        kids = _children(stack.pop())
        out.extend(kids)
        stack.extend(kids)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (``VmHWM``) of the Spark JVM plus every process
    below it, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in [jvm_pid, *descendants(jvm_pid)]) / 1024.0

"""Host facts and the benchmark's Spark session, sized to the host it runs on.

The session is built here rather than through ``bench.py`` defaults, which
ask for ``local[32]`` and a 24g driver whatever the host is.
"""

from __future__ import annotations

import os
import tempfile


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of the host's memory, between 1 and 8 GiB: the machine is
    shared, and the benchmark's inputs need far less than the cap."""
    return max(1024, min(8192, mem_total_mb() // 4 // 256 * 256))


def load_1m() -> float:
    return os.getloadavg()[0]


def is_loaded(load: float, ncores: int) -> bool:
    """A pass started on a loaded host: more runnable threads than this
    benchmark's own cores plus two."""
    return load > ncores + 2


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by every process in this
    process's session: the Python driver, the Spark JVM, its Python workers,
    and the children they have reaped.  Time the hypervisor gave to other
    guests (steal) is not in it, so on a shared host it moves much less than
    wall time."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        # fields after the parenthesised command name, which may hold spaces
        f = stat[stat.rindex(")") + 2:].split()
        if int(f[3]) == sid:  # session id
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def session_conf(scratch: str, repo_root: str, trace: bool) -> dict[str, str]:
    """Spark settings for ``local[cores]`` on this host.  Every file Spark
    writes lands under ``scratch``; the event log is on only when tracing."""
    n = cores()
    mem = driver_memory_mb()
    conf = {
        "spark.driver.memory": f"{mem}m",
        "spark.driver.extraJavaOptions": (
            f"-XX:ParallelGCThreads={n} -XX:ConcGCThreads={max(1, n // 4)} "
            f"-Xms{mem}m -Xmn{mem // 4}m "
            # C1 only: a run lasts about a minute, too short for C2 to reach
            # steady state, and C2's compilation would take a third of the
            # set-up's CPU on 4 cores and spill into the measured passes
            "-XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={scratch}/tmp "
            # unified JVM logging writes to stdout
            "-Xlog:disable"
        ),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        # Python workers import the engine from the repo root, whatever the
        # working directory
        "spark.executorEnv.PYTHONPATH": repo_root,
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(scratch, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def use_scratch(scratch: str) -> None:
    """Create the directories ``session_conf`` names, and send this process's
    temporary files (and the Spark JVM's, which inherits the environment)
    to ``scratch/tmp``.  Call before the session starts."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on next use

"""Host sizing, the benchmark's Spark session, the machine's CPU
counters, the speed probe and the /proc RSS sampler.

Everything the benchmark writes lives under one work directory inside the
checkout: Spark's local dirs, the JVM and Python temp dirs, event logs,
inputs and outputs.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import threading

from pyspark.sql import SparkSession

from nolock_social_ocr_services_spark.session import get_spark

# the driver heap: well below host RAM (session.py's default is 24g)
DRIVER_MEMORY = "3g"


def cpus() -> int:
    """local[N] width: the CPUs this process may run on (nproc)."""
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Set, before the JVM starts, what it and its Python workers
    inherit: the package on PYTHONPATH, temp and scratch dirs under
    ``work``. SPARK_LOCAL_DIRS beats spark.local.dir, so set it here."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_session(work: str, event_log: str | None = None) -> SparkSession:
    """``session.get_spark`` at local[nproc] with the benchmark's conf;
    ``event_log`` turns Spark's event log on into that directory."""
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # the whole heap resident from the start: peak RSS then does not
        # hinge on when the collector grows the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        }
    return get_spark(app_name="perfbench", cpus=cpus(), extra_conf=conf)


def shutdown(spark: SparkSession) -> None:
    """Stop the session, then the JVM it launched, and wait for it (its
    Python workers end with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) CPU ticks of the machine so far, from
    /proc/stat. Busy is user, nice, system, irq and softirq time; steal
    is time other guests of the host took from this one."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7], sum(t)


# the speed probe's reference work: what a fresh Python worker of the
# program spends most of its start on, with none of the program
PROBE_CODE = "import numpy, pandas, pyarrow"
PROBE_ROUNDS = 2
# probe CPU seconds that set-up time is scaled to: a fixed reference
# speed of the machine, about the probe's own cost on the baseline host
PROBE_REF_CPU_S = 4.0


def speed_probe() -> float:
    """CPU seconds (user + system) that ``PROBE_ROUNDS`` rounds of nproc
    fresh, isolated Python processes take to run ``PROBE_CODE`` at once.

    The same work costs more CPU time when the host's other guests slow
    this machine down (shared caches and cores, steal); an operation's CPU
    time divided by the probe's next to it cancels most of that."""
    r0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    for _ in range(PROBE_ROUNDS):
        procs = [
            subprocess.Popen([sys.executable, "-I", "-c", PROBE_CODE], stdin=subprocess.DEVNULL)
            for _ in range(cpus())
        ]
        if sum(p.wait() != 0 for p in procs):
            raise RuntimeError("a speed probe process failed")
    r1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r1.ru_utime + r1.ru_stime - r0.ru_utime - r0.ru_stime


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants (the driver
    Python, the JVM it launched and the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as fh:
                ppid, kb = 0, 0
                for line in fh:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        pid = int(name)
        rss[pid] = kb
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak process-tree RSS while active; sampled every ``period`` s.

    ``with sampler:`` brackets the timed work; samples outside it are
    ignored, so set-up and checking do not count toward the peak.
    """

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self._active.is_set():
                kb = _tree_rss_kb(pid)
                if kb > self.peak_kb:
                    self.peak_kb = kb
            self._stop.wait(self.period)

    def __enter__(self):
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        self._active.set()
        return self

    def __exit__(self, *exc):
        self._active.clear()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

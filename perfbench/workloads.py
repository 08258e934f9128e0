"""The benchmark's workloads and their operations, shared by the timed
(``run.py``) and traced (``tracing.py``) runs."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import host
from check import check_nested, check_rows, expected_set

TICKS = os.sysconf("SC_CLK_TCK")  # /proc/stat ticks per second


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # generator input kind
    sizes: tuple[int, int]  # warm-up and main documents (0: warm up on main)


# timed operations per run, at least. Two take longer than the 6 s that
# BENCHMARK.json sets, so a run times exactly two: the program is still
# warming up over them, and a fixed count measures the same place on that
# slope whether the host is fast or slow
MIN_OPS = 2

WORKLOADS = {
    w.name: w
    for w in (
        Workload("bulk_mixed", "bulk", sizes=(0, 4000)),
        Workload("request_batches", "requests", sizes=(32, 32 * 8)),
    )
}


def tail_percentile(n: int) -> float:
    """Highest percentile with at least 10 samples beyond it at n samples;
    100 (the maximum) when n < 11."""
    return 100.0 * (n - 10) / n if n >= 11 else 100.0


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-pct * len(s) // 100)) - 1))
    return s[k]


class Runner:
    """The workload's operations: warm-up, timed op and output check.

    An operation is ``pipeline.extracted_documents`` over one main input
    unit: the bulk corpus written to parquet, or one request file
    collected to the driver.
    """

    def __init__(self, spark, wl: Workload, inputs, work: str):
        self.spark, self.wl, self.inp = spark, wl, inputs
        self.out = os.path.join(work, "out", wl.name)
        self._next = 0
        self.expected = None

    @property
    def docs_per_op(self) -> float:
        return self.inp.main_docs / len(self.inp.main)

    def _load_expected(self) -> None:
        expected = expected_set(self.spark, self.inp.expected, "main")
        if self.wl.kind == "requests":
            self.expected, self.units = {}, {}
            for r in expected.collect():
                self.expected[r.doc_id] = r.efp
                self.units.setdefault(r.unit, []).append(r.doc_id)
        else:
            self.expected = expected.cache()

    def build(self, path: str):
        from nolock_social_ocr_services_spark import pipeline

        return pipeline.extracted_documents(self.spark.read.parquet(path))

    def execute(self, df):
        if self.wl.kind == "requests":
            return df.collect()
        df.write.mode("overwrite").parquet(self.out)
        return None

    def warm_up(self) -> None:
        """One untimed pass over every warm-up unit, or over the main
        input when there is no warm-up set: the timed passes then start
        past the steep part of the JIT and Python worker warm-up."""
        for path in self.inp.warm or self.inp.main:
            self.execute(self.build(path))

    def next_input(self) -> tuple[int, str]:
        i = self._next % len(self.inp.main)
        self._next += 1
        path = self.inp.main[i]
        return int(path.rsplit("unit=", 1)[1]), path

    def check(self, unit: int, result) -> tuple[int, int]:
        """(attempted, failed) for one operation's output."""
        if self.expected is None:
            self._load_expected()
        if self.wl.kind == "requests":
            bad = check_rows(self.expected, self.units[unit], result)
            return 1, int(bad > 0)
        return check_nested(self.expected, self.spark.read.parquet(self.out))


def run_ops(
    runner: Runner, seconds: float, sampler, op=None, count: int | None = None, probe: bool = False
) -> dict:
    """Timed closed loop: operations back to back until ``seconds`` of
    timed work, at least ``MIN_OPS`` (or exactly ``count``). Per operation
    it records the wall time (``lat``), the machine's busy CPU seconds
    (``cpu``) and the share of CPU time the host's other guests stole
    (``steal``); with ``probe``, ``host.speed_probe`` runs before every
    operation and after the last (``probes``, one more than operations).
    Checks and probes run between operations, outside the timing and the
    RSS window. ``op(runner, path, i)`` replaces the plain
    build-and-execute."""
    lat, attempted, failed, cpu, steal, probes = [], 0, 0, [], [], []

    def more() -> bool:
        if count is not None:
            return len(lat) < count
        return sum(lat) < seconds or len(lat) < MIN_OPS

    while more():
        unit, path = runner.next_input()
        if probe:
            probes.append(host.speed_probe())
        with sampler:
            b0, s0, n0 = host.cpu_ticks()
            t0 = time.perf_counter()
            if op is None:
                result = runner.execute(runner.build(path))
            else:
                result = op(runner, path, len(lat))
            lat.append(time.perf_counter() - t0)
            b1, s1, n1 = host.cpu_ticks()
        cpu.append((b1 - b0) / TICKS)
        steal.append((s1 - s0) / max(n1 - n0, 1))
        a, f = runner.check(unit, result)
        attempted += a
        failed += f
    if probe:
        probes.append(host.speed_probe())
    return {
        "lat": lat,
        "attempted": attempted,
        "failed": failed,
        "cpu": cpu,
        "steal": steal,
        "probes": probes,
    }

"""Shared pieces of the workloads: the operation log of a timed loop and
the workload interface run.py drives."""

from __future__ import annotations

import statistics
import time
import traceback


class Ops:
    """Latency and units of work of each operation of one timed loop."""

    def __init__(self):
        self.latencies: list[float] = []
        self.cpu: list[float] = []
        self.units = 0
        self.failed = 0

    def timed(self, fn, units: int = 1):
        """Run one operation; a raising operation is counted as failed
        (its traceback goes to stderr) and the loop goes on."""
        from perfbench.trace import cpu_seconds

        c0, t0 = cpu_seconds(jit=False), time.perf_counter()
        try:
            result = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        self.latencies.append(time.perf_counter() - t0)
        self.cpu.append(cpu_seconds(jit=False) - c0)
        self.units += units
        return result

    @property
    def attempted(self) -> int:
        return len(self.latencies) + self.failed

    @property
    def p50(self) -> float:
        return median(self.latencies)


class Workload:
    """One benchmark workload. run.py calls, in order: setup() (timed
    as set-up), loop(deadline) (the measured closed loop, called again
    with a tracer in a traced run), finish(), check() (outputs against
    an independent oracle; returns problem strings) and, when traced,
    layers(tracer)."""

    def __init__(self, spark, work: str, seed: int, *, size: str = "full", traced: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.traced = traced

    def setup(self) -> None:
        raise NotImplementedError

    def loop(self, deadline: float, tracer=None) -> Ops:
        raise NotImplementedError

    def finish(self, tracer=None) -> None:
        pass

    def check(self) -> list[str]:
        raise NotImplementedError

    def checks_attempted(self) -> int:
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        pass

    def layers(self, tracer) -> dict[str, tuple[float, str]]:
        return {}


def median(xs) -> float:
    """Median of a layer's samples; 0 when the workload never ran it."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0

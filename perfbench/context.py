"""Run context handed to every workload, and the result it fills in."""

from __future__ import annotations

import dataclasses
import os
import sys
import time
import traceback

from perfbench.probes import percentile


@dataclasses.dataclass
class Result:
    #: generic end-to-end figures every workload reports (BENCHMARK.json)
    throughput: float = 0.0
    p50_ms: float = 0.0
    setup_s: float = 0.0
    #: the workload's own end-to-end metrics: name -> (value, unit)
    named: dict = dataclasses.field(default_factory=dict)
    #: per-layer metrics (traced run): name -> number
    layers: dict = dataclasses.field(default_factory=dict)
    #: root span names of the measured phases, for self-time accounting
    phases: list = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: correctness-gate failures, one message each
    gate_failures: list = dataclasses.field(default_factory=list)

    def fail(self, exc: BaseException) -> None:
        """Count one failed operation; keep the first few tracebacks."""
        self.failed += 1
        if self.failed <= 3:
            traceback.print_exception(exc)

    def gate(self, ok: bool, message: str) -> None:
        if not ok:
            self.gate_failures.append(message)


@dataclasses.dataclass
class Ctx:
    seed: int
    seconds: float
    tracer: object
    tmp: str
    spark: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    @staticmethod
    def log(message: str) -> None:
        """Timeline note on stderr (seconds since the process started)."""
        print(f"perfbench {time.perf_counter() - _T0:7.2f}s {message}",
              file=sys.stderr, flush=True)


_T0 = time.perf_counter()


def timing_layer(tracer, span: str, prefix: str) -> dict:
    """calls / busy seconds / p50 / p99 milliseconds of one span name."""
    d = tracer.durations(span)
    if not d:
        return {f"{prefix}_calls": 0, f"{prefix}_busy_s": 0.0,
                f"{prefix}_p50_ms": 0.0, f"{prefix}_p99_ms": 0.0}
    return {
        f"{prefix}_calls": len(d),
        f"{prefix}_busy_s": sum(d),
        f"{prefix}_p50_ms": percentile(d, 50) * 1000.0,
        f"{prefix}_p99_ms": percentile(d, 99) * 1000.0,
    }

"""Host-speed probe: a fixed parallel sort in the worker's JVM, timed.

The benchmark host is a VM that shares its machine with other guests, and
how busy they are changes its speed by up to 2x over minutes, with no change
to the program. The probe measures that speed next to the ops: before every
op, before every call of the cold op and after the last op, the worker
times ``java.util.Arrays.parallelSort`` over the same 2M seeded ints, on the
JVM's common fork-join pool (one thread per core). Like the ops, it runs
JIT-compiled code on every core and waits for the slowest thread, so it
slows down when they do.

It runs no Spark and none of the repository's code, and allocates nothing
per sample, so a change to the program cannot speed it up or slow it down.
Times are reported at reference speed, the speed at which one sample takes
``REFERENCE_S``: each warm call's time is scaled by the samples taken just
before and just after its op (``factors``). Set-up and the cold op are
scaled by the median of all of the run's samples: the probe right after
the cold op shares the JVM with its compiler threads, which are busiest
then, and on ``pipeline_daily`` it read 5-40% slower than the run's median
in 8 of 10 runs, so scaling the cold op by it doubled that metric's spread.
"""

from __future__ import annotations

import statistics
import time

#: Ints sorted per sample: about 0.085 s on the baseline host.
N = 2_000_000
#: The probe time that defines reference speed: a typical sample on the
#: baseline host (4 vCPU, BASELINE.md), so scaled times read close to the
#: seconds measured there.
REFERENCE_S = 0.085
#: Samples taken before every op, and untimed ones after set-up so the sort
#: is JIT-compiled before the first counted sample.
SAMPLES_PER_OP = 3
WARMUP_SAMPLES = 5


class Probe:
    def __init__(self, jvm) -> None:
        arrays = jvm.java.util.Arrays
        self._system, self._sort = jvm.java.lang.System, arrays.parallelSort
        self._base = jvm.java.util.Random(1).ints(N).toArray()
        self._work = arrays.copyOf(self._base, N)
        self.samples: list[float] = []
        for _ in range(WARMUP_SAMPLES):
            self._sample()

    def _sample(self) -> float:
        start = time.perf_counter()
        self._system.arraycopy(self._base, 0, self._work, 0, N)
        self._sort(self._work)
        return time.perf_counter() - start

    def measure(self) -> list[float]:
        taken = [self._sample() for _ in range(SAMPLES_PER_OP)]
        self.samples.extend(taken)
        return taken


def scale(probe_s: float) -> float:
    """The factor that turns seconds measured on a host where a probe sample
    took ``probe_s`` into seconds at reference speed."""
    if probe_s <= 0:
        raise ValueError("probe time must be positive")
    return REFERENCE_S / probe_s


def factors(between: list[list[float]]) -> list[float]:
    """One factor per gap between two probes: ``between[k]`` holds the
    samples of the ``k``-th probe, and factor ``k`` scales the calls made
    between probes ``k`` and ``k + 1``, from the median of the samples on
    both sides of them."""
    return [scale(statistics.median(before + after))
            for before, after in zip(between, between[1:])]

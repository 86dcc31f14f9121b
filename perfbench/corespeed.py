"""Core-speed sampler, run beside the benchmark in a process of its own.

    python3 perfbench/corespeed.py OUT_FILE

On a shared host the CPUs of this machine run the same instructions up
to 2x slower for seconds to minutes at a time, as other guests load the
physical cores: CPU-seconds and wall-clock stretch alike. The sampler
visits every CPU in turn, pinned to it, runs a fixed ~0.5 ms piece of
interpreted and numpy work there, and appends one line per sample to
OUT_FILE:

    <perf_counter at the end> <cpu> <CPU-seconds the work took>

CPU-seconds, not wall-clock, so that time the sampler waits for the
benchmark's own threads on that CPU does not count. It takes a sample
every `PERIOD` seconds, about 2% of one CPU, and exits on SIGTERM.
"""

from __future__ import annotations

import os
import signal
import sys
import time

import numpy as np

#: seconds between two samples
PERIOD = 0.025

_A = np.random.default_rng(0).standard_normal(20_000)


def work() -> None:
    acc = 0.0
    for i in range(3_000):
        acc += (i % 7) * 0.5
    (np.tanh(_A) * np.exp(-0.5 * _A * _A)).sum()


def main(path: str) -> None:
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    cpus = sorted(os.sched_getaffinity(0))
    work()  # the first call pays for allocations
    with open(path, "w") as out:
        i = 0
        while not stop:
            os.sched_setaffinity(0, {cpus[i % len(cpus)]})
            c0 = time.thread_time()
            work()
            dt = time.thread_time() - c0
            out.write(f"{time.perf_counter():.6f} {cpus[i % len(cpus)]} {dt:.7f}\n")
            i += 1
            time.sleep(PERIOD)


if __name__ == "__main__":
    main(sys.argv[1])

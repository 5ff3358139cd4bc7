"""Host-interference calibration, the same kernel ``bench.py`` uses.

A fixed CPU-bound loop runs once alone and then once in each of ``nproc``
processes at the same time. The ratio of the two wall times is 1.0 on a
quiet host whose cores are all free; well above 1.1 means other tenants
took CPU while the benchmark ran.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

# each child imports, waits for a line on stdin, then runs the loop once
CHILD = (
    "import sys; sys.path.insert(0, {here!r}); import hostweather; "
    "sys.stdin.readline(); hostweather.calibration_work()"
)


def calibration_work() -> int:
    s = 0
    for i in range(4_000_000):
        s += i * i
    return s


def interference(procs: int | None = None) -> float:
    procs = procs or os.cpu_count() or 1
    t0 = time.perf_counter()
    calibration_work()
    single = time.perf_counter() - t0
    code = CHILD.format(here=os.path.dirname(os.path.abspath(__file__)))
    children = [
        subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE,
                         text=True)
        for _ in range(procs)
    ]
    try:
        time.sleep(0.5)  # let every child finish importing
        t0 = time.perf_counter()
        for c in children:
            c.stdin.write("go\n")
            c.stdin.close()
        for c in children:
            c.wait(timeout=120)
        batch = time.perf_counter() - t0
    finally:
        for c in children:
            if c.poll() is None:
                c.kill()
                c.wait()
    return batch / single

"""Run observability shared by every layer (opt-in stage timing).  It
lives at the package root so operators and plans both import it without
one layer importing the other.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager


@contextmanager
def timed(stage: str):
    """Opt-in stage timing (GLEANER_STAGE_TIMING=1): wall seconds per
    pipeline stage to stderr — the first tool to reach for when a run's
    CPU utilization looks wrong."""
    if os.environ.get("GLEANER_STAGE_TIMING") != "1":
        yield
        return

    def snap() -> tuple[int, int]:
        try:
            with open("/proc/stat") as f:
                txt = f.read()
            v = list(map(int, txt.split("\n")[0].split()[1:]))
            busy = sum(v) - v[3] - v[4]
            forks = int(txt.split("processes")[1].split()[0])
            return busy, forks
        except Exception:
            return 0, 0

    t0, (b0, f0) = time.time(), snap()
    yield
    b1, f1 = snap()
    hz = os.sysconf("SC_CLK_TCK")
    print(
        f"[stage] {stage}: {time.time() - t0:.1f}s"
        f" core_s={(b1 - b0) / hz:.0f} forks={f1 - f0}",
        file=sys.stderr, flush=True,
    )

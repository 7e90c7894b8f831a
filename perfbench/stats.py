"""Summary statistics and process probes shared by the workloads."""

from __future__ import annotations

import math
import os
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# a percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


def valid_name(name: str) -> bool:
    return (len(name) <= 64 and NAME_RE.fullmatch(name) is not None
            and name[0].isalnum())


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100) by the Harrell-Davis
    estimator, or None when the sample does not support it. The median
    needs one sample; a higher percentile needs ``TAIL_SAMPLES`` samples
    above its position, so a p90 needs about 100.

    Harrell-Davis weighs every order statistic by the Beta((n+1)p,
    (n+1)(1-p)) mass over its slot instead of picking one or two, so a
    mix of ops with distinct latencies does not make the estimate jump
    across the gap between two of them from run to run."""
    if not values:
        return None
    n = len(values)
    if q > 50 and n - 1 - math.floor((n - 1) * q / 100) < TAIL_SAMPLES:
        return None
    a, b = q / 100 * (n + 1), (1 - q / 100) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(x: float) -> float:
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)

    steps = 64  # midpoint rule per slot; the weights sum to 1 within 1e-4
    total = weight_sum = 0.0
    for i, x in enumerate(sorted(values)):
        w = sum(density((i + (k + 0.5) / steps) / n) for k in range(steps)) / (steps * n)
        total += w * x
        weight_sum += w
    return total / weight_sum


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started, from /proc (so interpreter
    start-up and imports count)."""
    with open("/proc/self/stat") as f:
        # the command name may hold spaces: fields follow the last ')'
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")

"""The external charge API stand-in for the ``daily_billing`` workload.

It runs inside Spark's Python workers.  Each call sleeps a fixed
latency, fails on the first attempt for the seeded failing shops, and
appends one record per call to a per-process file, which the Spark
driver reads back for the ``external.*`` metrics and for the at-most-once
charge check.
"""

from __future__ import annotations

import os
import time


class ChargeStub:
    def __init__(self, day: str, calls_dir: str, fail_shops: set[int], latency_s: float):
        self.day = day
        self.calls_dir = calls_dir
        self.fail_shops = frozenset(fail_shops)
        self.latency_s = latency_s
        self._attempts: dict[int, int] = {}

    def __call__(self, shop: int, amount: float) -> str:
        shop = int(shop)
        attempt = self._attempts.get(shop, 0) + 1
        self._attempts[shop] = attempt
        t0 = time.time()
        time.sleep(self.latency_s)
        ok = not (shop in self.fail_shops and attempt == 1)
        t1 = time.time()
        os.makedirs(self.calls_dir, exist_ok=True)
        with open(os.path.join(self.calls_dir, f"{os.getpid()}.tsv"), "a", encoding="ascii") as f:
            f.write(f"{shop}\t{self.day}\t{attempt}\t{t0!r}\t{t1!r}\t{int(ok)}\n")
        if not ok:
            raise RuntimeError("Rate limit exceeded")
        return f"gid://shopify/AppUsageRecord/{shop}-{self.day}"


def read_calls(calls_dir: str) -> list[tuple[int, str, int, float, float, bool]]:
    out = []
    if not os.path.isdir(calls_dir):
        return out
    for name in sorted(os.listdir(calls_dir)):
        with open(os.path.join(calls_dir, name), encoding="ascii") as f:
            for line in f:
                shop, day, attempt, t0, t1, ok = line.rstrip("\n").split("\t")
                out.append((int(shop), day, int(attempt), float(t0), float(t1), ok == "1"))
    return out


def call_stats(calls: list) -> dict:
    """calls, retries, median call latency, busy time and the largest
    number of calls in flight at once."""
    import statistics

    if not calls:
        return {"calls": 0, "retries": 0, "call_p50_ms": None, "busy_s": 0.0, "max_in_flight": 0}
    edges = sorted([(c[3], 1) for c in calls] + [(c[4], -1) for c in calls],
                   key=lambda e: (e[0], e[1]))
    cur = peak = 0
    for _, step in edges:
        cur += step
        peak = max(peak, cur)
    return {
        "calls": len(calls),
        "retries": sum(1 for c in calls if c[2] > 1),
        "call_p50_ms": statistics.median((c[4] - c[3]) * 1e3 for c in calls),
        "busy_s": sum(c[4] - c[3] for c in calls),
        "max_in_flight": peak,
    }

"""``batch`` workload: the frozen 17 headline queries, the platform's
analytics, which ``serve`` bypasses.

Set-up generates, checks and warms them (``analytics.py``). The window then
runs passes over them, at least ``MIN_PASSES`` and until the window closes.
``op_p50_ms`` is the pass time: the sum over the queries of each one's
median time across the passes.

The traced run also sets up and times the write path (``ingest.py``):
backfill and tick-stream cycles with their function and trigger phases.
"""

from __future__ import annotations

import time
from collections import defaultdict

from perfbench.analytics import Analytics
from perfbench.ingest import Ingest
from perfbench.tracing import median

MIN_PASSES = 3  # so that each query's time is a median of at least three


class Batch:
    def __init__(self, ctx) -> None:
        self.analytics = Analytics(ctx)
        self.ingest = Ingest(ctx)

    def setup(self) -> None:
        self.analytics.setup()

    def run(self, seconds: float) -> dict:
        """Passes until at least ``MIN_PASSES`` ran and the window closed."""
        times: dict[str, list[float]] = defaultdict(list)
        deadline = time.perf_counter() + seconds
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() < deadline:
            passes += 1
            for name, t in self.analytics.timed_pass(passes).items():
                times[name].append(t)
        summary = {
            "analytics_pass_s": sum(median(v) for v in times.values()),
            "passes": passes,
        }
        return {"op_p50_ms": 1000.0 * summary["analytics_pass_s"], "summary": summary}

    def run_traced(self, seconds: float) -> dict:
        out = self.analytics.run_traced(seconds / 2)
        self.ingest.setup()
        part = self.ingest.run_traced(seconds / 2)
        untraced, traced = out.pop("untraced_s") + part.pop("untraced_s"), out.pop("traced_s") + part.pop("traced_s")
        out.update(part)
        out["trace.overhead_pct"] = 100.0 * (traced - untraced) / untraced
        return out

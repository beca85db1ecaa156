"""The closed loop every workload runs in: one operation at a time, each
one checked outside its timers, after a fixed warm-up of the session."""

from __future__ import annotations

import threading
import time

import host

# Four laps: the cold one and three more.  Counted without the JIT compiler
# threads, a backfill lap costs about a fifth less CPU from the fifth lap on
# than the second to fourth did, and then stays within a few percent; the
# JIT threads themselves keep compiling for ten laps and more.
WARMUP_LAPS = 4


class RssSampler(threading.Thread):
    """Peak of the process tree's summed resident set, sampled."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0.0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            kb = sum(host.status_kb(p, "VmRSS") for p in host.tree_pids())
            self.peak = max(self.peak, kb / 1024.0)
            self._halt.wait(self.period)

    def finish(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


class Loop:
    """Runs operations and keeps their record: wall and CPU seconds per
    operation, failures, and the page-touch canary taken before each.

    An operation's CPU seconds are those of the process tree less those of
    the JVM's JIT compiler threads: compilation is warm-up work whose
    amount per lap depends on how far the JIT has got, and it made up half
    a backfill lap's CPU seconds even ten laps in."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0
        self.errors: list = []
        self.canary: list = []

    def step(self, spark, wl=None) -> tuple:
        """One operation of ``wl`` (default: the loop's workload): (wall
        seconds, CPU seconds of the process tree less JIT compilation,
        bytes written)."""
        wl = wl or self.wl
        self.canary.append(host.canary())
        wl.pre()
        before = wl.written()
        c0 = host.tree_cpu_s() - host.jit_cpu_s()
        t0 = time.perf_counter()
        try:
            wl.op(spark)
            dt = time.perf_counter() - t0
            cpu = host.tree_cpu_s() - host.jit_cpu_s() - c0
            bad = wl.check()
        except Exception as e:            # a failed op is a result, not a crash
            dt = time.perf_counter() - t0
            cpu = host.tree_cpu_s() - host.jit_cpu_s() - c0
            bad = [f"{type(e).__name__}: {e}"[:500]]
        self.attempted += 1
        if bad:
            self.failed += 1
            self.errors += bad[:3]
        wrote = wl.written() - before
        wl.done()
        return dt, cpu, wrote


def warm_session(wl, loop, run_dir) -> tuple:
    """Start Spark in a fresh JVM and run the warm-up laps: (spark,
    {"wall_s", "cpu_s"} of the set-up, warm-up (wall, cpu) per lap); CPU
    seconds leave out JIT compilation, as in ``Loop.step``."""
    c0, t0 = host.tree_cpu_s(), time.perf_counter()
    spark = host.start(run_dir, f"perfbench-{wl.name}")
    wl.prepare(spark)
    setup = {"wall_s": time.perf_counter() - t0,
             "cpu_s": host.tree_cpu_s() - host.jit_cpu_s() - c0}
    laps = []
    for _ in range(WARMUP_LAPS):
        dt, cpu, _ = loop.step(spark)
        laps.append((dt, cpu))
        if loop.failed:
            break
    setup["wall_s"] += sum(w for w, _ in laps)
    setup["cpu_s"] += sum(c for _, c in laps)
    return spark, setup, laps

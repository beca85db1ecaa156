"""Benchmark of the validation + drift engine: one workload per run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Workloads: ``backfill`` and ``payload`` (declared in BENCHMARK.json) and
``ingest`` (runnable, see README.md).  Inputs come from the seed and are
cached under ``.perfbench/inputs`` in the checkout; the engine package is
imported from the checkout root.  Every operation's outputs are checked
against DuckDB and the generator's record, outside the timers.

``--trace 0`` prints the end-to-end metrics: Spark starts in a fresh JVM,
runs the warm-up laps (``setup_s``), then runs operations back to back
until ``--seconds`` of operation time has passed.  ``--trace 1`` prints
the per-layer metrics instead (``layers.py``).

The last line of standard output is the result object; the line before
it carries the host record, every lap's wall and CPU seconds and the
page-touch canary.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the median of at least three operations, however slow the host
MIN_OPS = 3


def measure(wl, loop, run_dir, seconds: float) -> tuple:
    import host
    from loop import RssSampler, warm_session
    spark, setup, warm = warm_session(wl, loop, run_dir)
    ops = []
    rss = RssSampler()
    rss.start()
    try:
        while not loop.failed and (sum(w for w, _, _ in ops) < seconds
                                   or len(ops) < MIN_OPS):
            ops.append(loop.step(spark))
    finally:
        peak = rss.finish()
        wl.release(spark)
        host.stop(spark)
    detail = {"setup": setup, "warmup_ops": warm, "ops": ops}
    if loop.failed:
        return {}, detail
    wall = statistics.median(w for w, _, _ in ops)
    detail["clips_per_wall_s"] = wl.clips_per_op / wall
    return {
        "setup_s": setup["wall_s"],
        "clips_per_cpu_s": wl.clips_per_op / statistics.median(
            c for _, c, _ in ops),
        "peak_rss_mb": peak,
        "out_bytes_per_clip": statistics.median(
            b for _, _, b in ops) / wl.clips_per_op,
    }, detail


def declared(kind: str) -> dict:
    """{name: unit} of the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def self_test(work: str, run_dir: str) -> int:
    """Plant wrong answers in real engine outputs and show each is caught."""
    import host
    import oracle
    import workloads as W

    class Small(W.Backfill):
        gen_args = {"n_parts": 10, "rows": 300, "shift_range": [6, 8]}
        clips_per_op = 3000

    wl = Small(work, run_dir, 7)
    wl.inputs()
    spark = host.start(run_dir, "perfbench-self-test")
    try:
        wl.prepare(spark)
        wl.pre()
        wl.op(spark)
        r = wl.runner()
        parts = sorted(wl.expected)
        manifest = r.io.read_manifest(r.scope)
        viol = oracle.violation_counts(
            os.path.join(wl.root, r.violations_table), parts)
        cp = wl.record["change_point"]
        cases = {"engine output as written": (manifest, viol, cp)}
        m = copy.deepcopy(manifest)
        m[1]["checks"]["unique(clip_id)"] = not m[1]["checks"][
            "unique(clip_id)"]
        cases["one check verdict flipped"] = (m, viol, cp)
        v = dict(viol)
        key = next(iter(v))
        v[key] += 1
        cases["one extra violation row"] = (manifest, v, cp)
        cases["drift flagged one partition late"] = (manifest, viol, cp - 1)
        out = {name: oracle.compare_runner(wl.expected, mm, vv, parts, c)
               for name, (mm, vv, c) in cases.items()}
        inv = os.path.join(run_dir, "inv")
        from drift_detection_pibic___framework_spark.operators import \
            invariant
        (invariant.invariant_results_filepairs(
            spark, os.path.join(wl.input_dir, "clips"),
            os.path.join(wl.input_dir, "clips_ref"))
         .filter("not passed").write.parquet(inv))
        rids = set(wl.record["invariant_failing_rids"])
        out["invariant as written"] = oracle.compare_invariant(inv, rids)
        out["invariant with one failing row dropped"] = \
            oracle.compare_invariant(inv, rids | {-1})
    finally:
        host.stop(spark)
    ok = not out["engine output as written"] and not out[
        "invariant as written"] and all(
        v for k, v in out.items() if "as written" not in k)
    for k, v in out.items():
        print(f"{k}: {'caught: ' + v[0] if v else 'no mismatch'}")
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import bench  # noqa: F401  (the page-touch canary)
        import drift_detection_pibic___framework_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads
    from loop import Loop

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", str(os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        if a.self_test:
            return self_test(work, run_dir)
        if a.workload not in workloads.WORKLOADS:
            ap.error(f"--workload must be one of "
                     f"{sorted(workloads.WORKLOADS)}")
        kind = "per_layer" if a.trace else "end_to_end"
        units = declared(kind)
        wl = workloads.WORKLOADS[a.workload](work, run_dir, a.seed)
        loop = Loop(wl)
        wl.inputs()
        if a.trace:
            import layers
            metrics, detail = layers.trace(wl, loop, run_dir)
            extra = set(metrics) - set(units)
            if extra:
                raise RuntimeError(f"undeclared metrics: {sorted(extra)}")
            # a layer this workload does not exercise reads 0
            metrics = {k: metrics.get(k, 0.0) for k in units}
        else:
            metrics, detail = measure(wl, loop, run_dir, a.seconds)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    import host
    detail.update(host=host.host_record(), workload=a.workload, seed=a.seed,
                  canary_mb_s=loop.canary, errors=loop.errors)
    print(json.dumps(detail))
    correct = loop.failed == 0 and set(metrics) == set(units)
    print(json.dumps({
        "correct": correct, "attempted": max(loop.attempted, 1),
        "failed": loop.failed if loop.attempted else 1,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

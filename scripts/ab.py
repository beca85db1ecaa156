"""Interleaved A/B of the repo benchmark: a base revision against the working tree.

    python scripts/ab.py REV --workload backfill --pairs 10 --seed 1 \
        --seconds 10 [--work DIR]

Exports ``REV`` with ``git archive`` into ``--work`` (default: a
``scratch/perfbench-ab`` directory beside the checkout), then runs
``perfbench/run.py`` of the export (base) and of the working tree
(candidate) as subprocesses, N pairs, alternating which side runs first,
so host drift lands on both sides alike.  Both sides share one generated
input cache.  Prints per-side medians and quartiles of every end-to-end
metric, the paired candidate/base ratios, the candidate's wins out of N
(by each metric's declared direction), failed operations and ``nproc``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, work: str) -> str:
    sha = subprocess.run(["git", "rev-parse", "--short", rev], cwd=ROOT,
                         check=True, capture_output=True,
                         text=True).stdout.strip()
    dest = os.path.join(work, f"tree-{sha}")
    if not os.path.isdir(dest):
        os.makedirs(dest + ".tmp", exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest + ".tmp"],
                       stdin=archive.stdout, check=True)
        if archive.wait():
            raise SystemExit(f"git archive {rev} failed")
        os.rename(dest + ".tmp", dest)
    return dest


def share_inputs(tree: str, inputs: str) -> None:
    """Point ``tree``'s perfbench input cache at the shared one."""
    cache = os.path.join(tree, ".perfbench")
    os.makedirs(cache, exist_ok=True)
    link = os.path.join(cache, "inputs")
    if os.path.realpath(link) != os.path.realpath(inputs):
        if os.path.islink(link):
            os.unlink(link)
        if not os.path.exists(link):
            os.symlink(inputs, link)


def run_once(tree: str, a) -> dict:
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "failed": 1, "attempted": 1, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", help="base revision (e.g. HEAD~1)")
    ap.add_argument("--workload", default="backfill")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--work", default=os.path.join(
        os.path.dirname(ROOT), "scratch", "perfbench-ab"))
    a = ap.parse_args()

    os.makedirs(a.work, exist_ok=True)
    inputs = os.path.join(a.work, "inputs")
    os.makedirs(inputs, exist_ok=True)
    sides = {"base": export(a.base, a.work), "cand": ROOT}
    for tree in sides.values():
        share_inputs(tree, inputs)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    runs: dict = {"base": [], "cand": []}
    for i in range(a.pairs):
        order = ("base", "cand") if i % 2 == 0 else ("cand", "base")
        for side in order:
            r = run_once(sides[side], a)
            runs[side].append(r)
            m = {k: round(v["value"], 3) for k, v in r["metrics"].items()}
            print(f"pair {i + 1}/{a.pairs} {side}: failed={r['failed']} "
                  f"{m}", flush=True)

    nproc = os.cpu_count()
    try:
        nproc = int(subprocess.run(["nproc"], capture_output=True,
                                   text=True).stdout)
    except (OSError, ValueError):
        pass
    print(f"\nworkload={a.workload} seed={a.seed} pairs={a.pairs} "
          f"nproc={nproc} base={a.base} cand=working tree")
    failed = {s: sum(r["failed"] for r in runs[s]) for s in runs}
    print(f"failed ops: base {failed['base']}, cand {failed['cand']}")
    print(f"{'metric':<20} {'base q1/med/q3':>28} {'cand q1/med/q3':>28} "
          f"{'ratio med':>9} {'wins':>6}")
    for name, direction in better.items():
        pairs = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
                 for b, c in zip(runs["base"], runs["cand"])
                 if name in b["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        bs, cs = [p[0] for p in pairs], [p[1] for p in pairs]
        ratios = [c / b for b, c in pairs if b]
        wins = sum((c > b) if direction == "higher" else (c < b)
                   for b, c in pairs)
        fmt = "{:.5g}/{:.5g}/{:.5g}"
        print(f"{name:<20} {fmt.format(*quartiles(bs)):>28} "
              f"{fmt.format(*quartiles(cs)):>28} "
              f"{statistics.median(ratios):>9.3f} "
              f"{wins:>3}/{len(pairs)}")
        print(f"{'':<20} ratios: "
              + " ".join(f"{x:.3f}" for x in ratios))
    return 0


if __name__ == "__main__":
    sys.exit(main())

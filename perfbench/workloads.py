"""The workloads: what one timed operation is, how it is prepared and how
its outputs are checked.

Each workload is a closed loop from one driver thread: the next operation
starts when the previous one has returned.  ``op`` is the only timed
part; ``pre`` (untimed) prepares its input, ``check`` (untimed) returns
the mismatches between its outputs and the expectation, and ``written``
gives the bytes it wrote.

Sizes are set so that one run on a 4-core host fits its share of the
benchmark's time budget; the per-workload reasons are in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP_INPUTS = 4


def dir_bytes(path: str, skip=()) -> int:
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for f in files:
            p = os.path.join(d, f)
            if p not in skip:
                total += os.path.getsize(p)
    return total


def evict_inputs(cache: str, keep: str) -> None:
    """Keep the ``KEEP_INPUTS`` most recently used input sets in ``cache``
    (``keep`` among them): every seed is a new set of about 120 MB."""
    os.utime(keep)
    sets = sorted((os.path.join(cache, d) for d in os.listdir(cache)),
                  key=os.path.getmtime, reverse=True)
    for d in sets[KEEP_INPUTS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


class Workload:
    name = ""
    clips_per_op = 0
    gen_args: dict = {}

    def __init__(self, work: str, run_dir: str, seed: int):
        self.work, self.run_dir, self.seed = work, run_dir, seed
        self.n = 0                      # sessions prepared so far

    # -- inputs (untimed, cached per seed) ---------------------------------

    def inputs(self) -> None:
        key = self.gen_key()
        self.input_dir = os.path.join(self.work, "inputs",
                                      f"{key}-seed{self.seed}")
        if not os.path.exists(os.path.join(self.input_dir, "record.json")):
            # a child process, so generator memory stays out of the
            # driver's resident-set figures
            subprocess.run(
                [sys.executable, os.path.join(HERE, "gen.py"),
                 self.input_dir, str(self.seed), json.dumps(self.gen_args)],
                check=True)
        with open(os.path.join(self.input_dir, "record.json")) as f:
            self.record = json.load(f)
        self.expected = oracle.cached_expected(self.input_dir)
        evict_inputs(os.path.dirname(self.input_dir), self.input_dir)

    def gen_key(self) -> str:
        a = self.gen_args
        return (f"{a['n_parts']}x{a['rows']}"
                f"-{'p' if a.get('payload', True) else 'n'}"
                f"{'r' if a.get('ref', True) else ''}")

    # -- per-session lifecycle ---------------------------------------------

    def prepare(self, spark) -> None:
        self.n += 1
        self.dir = os.path.join(self.run_dir, f"s{self.n}")
        os.makedirs(self.dir)
        self.i = 0

    def release(self, spark) -> None:
        pass

    def pre(self) -> None:
        pass

    def op(self, spark) -> None:
        raise NotImplementedError

    def check(self) -> list:
        raise NotImplementedError

    def written(self) -> int:
        raise NotImplementedError

    def done(self) -> None:
        self.i += 1


# -- backfill ---------------------------------------------------------------

class Backfill(Workload):
    """One ``ValidationRunner.run`` from an empty manifest into a fresh
    warehouse over every partition."""

    name = "backfill"
    gen_args = {"n_parts": 16, "rows": 2000, "shift_range": [6, 12]}
    clips_per_op = 16 * 2000

    def pre(self) -> None:
        self.root = os.path.join(self.dir, f"wh{self.i}")
        os.makedirs(os.path.join(self.root, "clips"))
        src = os.path.join(self.input_dir, "clips")
        for f in os.listdir(src):
            os.link(os.path.join(src, f), os.path.join(self.root, "clips", f))
        os.link(os.path.join(self.input_dir, "allowed_codecs.parquet"),
                os.path.join(self.root, "allowed_codecs.parquet"))

    def runner(self):
        from drift_detection_pibic___framework_spark.plans.runner import \
            ValidationRunner
        from drift_detection_pibic___framework_spark.sources.tableio import \
            ParquetTableIO
        return ValidationRunner(ParquetTableIO(self.root))

    def op(self, spark) -> None:
        self.runner().run(spark)

    def check(self) -> list:
        r = self.runner()
        parts = sorted(self.expected)
        return oracle.compare_runner(
            self.expected, r.io.read_manifest(r.scope),
            oracle.violation_counts(
                os.path.join(self.root, r.violations_table), parts),
            parts, self.record["change_point"])

    def written(self) -> int:
        return dir_bytes(self.root, skip={
            os.path.join(self.root, "clips"),
            os.path.join(self.root, "allowed_codecs.parquet")})

    def done(self) -> None:
        shutil.rmtree(self.root)
        super().done()


# -- payload ----------------------------------------------------------------

class Payload(Workload):
    """The per-row payload invariant over the backfill table and its
    pristine twin, failing rows written to a parquet sink."""

    name = "payload"
    gen_args = Backfill.gen_args
    clips_per_op = Backfill.clips_per_op

    def pre(self) -> None:
        self.out = os.path.join(self.dir, f"inv{self.i}")

    def op(self, spark) -> None:
        from drift_detection_pibic___framework_spark.operators import \
            invariant
        (invariant.invariant_results_filepairs(
            spark, os.path.join(self.input_dir, "clips"),
            os.path.join(self.input_dir, "clips_ref"))
         .filter("not passed").write.parquet(self.out))

    def check(self) -> list:
        return oracle.compare_invariant(
            self.out, set(self.record["invariant_failing_rids"]))

    def written(self) -> int:
        return dir_bytes(self.out)

    def done(self) -> None:
        shutil.rmtree(self.out)
        super().done()


# -- ingest -----------------------------------------------------------------

class Ingest(Workload):
    """Gated streaming ingest: one 2,000-clip file lands per micro-batch in
    the directory ``validate_stream_with_gate`` watches; an operation ends
    when that micro-batch's offsets commit, i.e. after its verdicts, its
    sidecar-profiled TableIO commit and its gate rows are written."""

    name = "ingest"
    gen_args = {"n_parts": 20, "rows": 2000, "shift_range": [4, 7],
                "payload": False, "ref": False}
    clips_per_op = 2000

    def prepare(self, spark) -> None:
        from drift_detection_pibic___framework_spark.streaming import \
            stream_validate
        super().prepare(spark)
        d = self.dir
        self.land = os.path.join(d, "land")
        self.out = os.path.join(d, "verdicts")
        self.ckpt = os.path.join(d, "ckpt")
        self.gate_root = os.path.join(d, "gate")
        os.makedirs(self.land)
        self.query = stream_validate.validate_stream_with_gate(
            spark, self.land,
            os.path.join(self.input_dir, "allowed_codecs.parquet"),
            self.out, self.ckpt, self.gate_root, available_now=False,
            max_files_per_trigger=1)

    def release(self, spark) -> None:
        self.query.stop()

    def op(self, spark) -> None:
        import time
        f = f"part-{self.i:04d}.parquet"
        os.link(os.path.join(self.input_dir, "clips", f),
                os.path.join(self.land, f))
        commit = os.path.join(self.ckpt, "commits", str(self.i))
        while not os.path.exists(commit):
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.002)

    def check(self) -> list:
        from drift_detection_pibic___framework_spark.sources.tableio import \
            ParquetTableIO
        from drift_detection_pibic___framework_spark.streaming import \
            stream_validate
        bad = oracle.compare_stream_epoch(
            self.expected, self.out, self.out + "_gates", self.i, self.i,
            self.record["change_point"])
        snaps = len(ParquetTableIO(self.gate_root).snapshots(
            stream_validate.GATE_TABLE))
        if snaps != self.i + 1:
            bad.append(f"epoch {self.i}: {snaps} gate-table commits")
        return bad

    def written(self) -> int:
        return sum(dir_bytes(p) for p in (
            self.out, self.out + "_gates", self.gate_root))

    def done(self) -> None:
        if self.i + 1 >= self.gen_args["n_parts"]:
            raise RuntimeError("ingest: generated partitions exhausted")
        super().done()


WORKLOADS = {w.name: w for w in (Backfill, Payload, Ingest)}

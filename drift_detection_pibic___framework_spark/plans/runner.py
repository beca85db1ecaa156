"""ValidationRunner — per-partition check orchestration with manifest resume.

The Spark lifecycle of the reference's per-sample loop (SURVEY §3 entry
point 1), at Iceberg-partition granularity:

  1. driver enumerates unprocessed partitions (manifest left-anti);
  2. the fused check suite (plans/suite.py) makes two aggregation passes
     over the pending partitions, one filtered scan each, collected as one
     query: a groupBy(part) carrying the column stats, the codec-miss count
     and the drift bins, and a two-level (part, clip_id) -> part distinct
     count.  The drift
     baseline is summed from the pass-1 rows when every baseline
     partition is pending, else it costs one bins-only aggregation over
     the baseline partitions.  The driver finalizes the collected
     O(parts x (checks + bins)) numbers into verdict rows, and the same
     rows give the per-partition stats the detector consumes;
  3. the ordered per-partition stat series advances the sequential detector
     steppers (state re-hydrated from the manifest checkpoint — the Spark
     equivalent of the reference's detector state carried across samples,
     /root/reference/utils/StreamProcessor.py:213-215);
  4. violations are listed, per check, only for the partitions whose
     check failed, in one scan and one shuffle by part, and written
     partition-by-partition (dynamic overwrite =
     idempotent), THEN the manifest row is committed (atomic rename) — the
     commit point, so a kill re-validates exactly the uncommitted suffix
     and outputs are byte-identical to an uninterrupted run (SURVEY §5
     resume tests).

Per-partition verdict = AND over checks; MUDANÇA from the partition-series
detector marks the drift state exactly as the reference's 3-state machine
does per sample (framework_detector.py:134-147).
"""

from __future__ import annotations

import base64
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import drift_dist
from ..operators.detectors import oracle
from ..operators.detectors.harness import PrequentialStepper
from ..sources.tableio import ParquetTableIO
from . import suite

# partition-series detector config: the series has ONE sample per partition
# (16 in fixtures), so warm-starts are scaled down from the row-level
# defaults; at production scale (1e5+ partitions) the row-level defaults in
# detectors/config.py apply. Page-Hinkley on |z|-standardized stats is the
# primary monitor (fires within 1-2 partitions of a mean shift).
SERIES_DETECTORS = {
    "page_hinkley": {"params": {"min_instances": 2, "delta": 0.05,
                                "threshold": 10.0, "alpha": 1.0},
                     "bin_threshold": 3.0},
}
SERIES_SEED_PARTS = 4  # baseline window = p0..p3 (FIXTURES.md §5)
MONITOR_COL = "dur_ms"


class ValidationRunner:
    def __init__(self, io: ParquetTableIO, scope: str = "default",
                 baseline_parts=drift_dist.DEFAULT_BASELINE_PARTS):
        self.io = io
        self.scope = scope
        self.baseline_parts = tuple(baseline_parts)

    # -- table names ---------------------------------------------------------

    @property
    def violations_table(self) -> str:
        return f"violations_{self.scope}"

    @property
    def metrics_table(self) -> str:
        return f"metrics_{self.scope}"

    # -- main ---------------------------------------------------------------

    def run(self, spark: SparkSession, limit_parts: int = None) -> dict:
        """Validate all pending partitions (optionally at most
        ``limit_parts``, for kill/resume tests). Returns a summary dict.

        The manifest is read ONCE here and threaded to every consumer
        (pending set, stepper re-hydration, baseline moments) — at 1e5
        partitions the previous three independent read_manifest calls
        cost 3e5 file opens before any work started."""
        manifest = self.io.read_manifest(self.scope)
        done = {p for p, v in manifest.items() if v.get("status") == "done"}
        pending = [p for p in self.io.list_partitions("clips")
                   if p not in done]
        if limit_parts is not None:
            pending = pending[:limit_parts]
        if not pending:
            return {"validated": [], "failed": [], "skipped": True}

        clips_all = self.io.read_table(spark, "clips")
        clips = clips_all.filter(F.col("part").isin(pending))
        dim = self.io.read_table(spark, "allowed_codecs")

        # ---- two passes: every check, every pending partition -----------
        # when every baseline partition is pending (a backfill) the drift
        # baseline is summed from the pass-1 rows; otherwise one bins-only
        # aggregation over the baseline partitions supplies it, so a resume
        # or incremental run never computes full stats for done partitions
        baseline = (None if set(self.baseline_parts) <= set(pending)
                    else clips_all)
        res = suite.collect_suite(clips, dim, baseline=baseline,
                                  baseline_parts=self.baseline_parts)
        stat_rows = res.stats
        violations = suite.failing_violations(clips, dim, res.verdicts)

        # write violations for ALL pending partitions BEFORE any manifest
        # commit (idempotent dynamic overwrite per partition).  Dynamic
        # overwrite only replaces partitions PRESENT in the output, so a
        # re-validated partition whose corrected data now yields zero
        # violations would keep its stale files — clear every pending
        # partition's directory first (a kill in between just re-opens the
        # still-uncommitted partition on the next run).
        out = f"{self.io.root}/{self.violations_table}"
        for p in pending:
            shutil.rmtree(os.path.join(out, f"part={p}"), ignore_errors=True)
        if violations is not None:
            # already hash-partitioned by part (suite.violation_plan)
            (violations.withColumn("run_scope", F.lit(self.scope)).write
             .partitionBy("part").mode("overwrite")
             .option("partitionOverwriteMode", "dynamic").parquet(out))

        # ---- sequential detector over the ordered partition-stat series ---
        steppers = self._load_steppers(manifest)
        by_part: dict = {}
        for r in res.verdicts:
            by_part.setdefault(r.part, []).append(r)

        validated, failed = [], []
        base_mean, base_std = self._baseline_moments(stat_rows, manifest)
        for part in sorted(pending):
            # a physically-present but empty partition (or one whose
            # monitored column is entirely null) has no stats row: it is
            # NOT a sample of the series (no stepper advance — replay
            # skips it the same way) and fails validation explicitly
            # instead of KeyError-wedging the run on every resume
            stat = stat_rows.get(part)
            mean = None if stat is None else stat.get(f"{MONITOR_COL}_mean")
            checks = by_part.get(part, [])
            if mean is None:
                drift_flag, drift_state = False, oracle.STATE_WARNING
                all_passed = False
                check_map = {r.check_name: bool(r.passed)
                             for r in checks}
                check_map["has_monitor_stat"] = False
                state = oracle.STATE_WARNING
            else:
                z = abs((mean - base_mean) / (base_std or 1.0))
                drift_flag, drift_state = self._advance_steppers(
                    steppers, part, z)
                all_passed = (all(r.passed for r in checks)
                              and not drift_flag)
                check_map = {r.check_name: bool(r.passed)
                             for r in checks}
                state = drift_state if drift_flag else (
                    oracle.STATE_NORMAL if all_passed
                    else oracle.STATE_WARNING)
            row = {
                "status": "done",
                "verdict": "pass" if all_passed else "fail",
                "state": state,
                "checks": check_map,
                "series_drift": bool(drift_flag),
                "metrics_json": json.dumps(stat or {}, default=str),
                # the moments that standardized this partition's z — replay
                # re-derives the SAME z from these even when later runs see
                # a different manifest (crash inside the baseline window,
                # invalidation of a baseline part)
                "base_mean": base_mean,
                "base_std": base_std,
                "snapshot_id": f"{self.scope}-{part}",
            }
            # commit point: manifest row (violations already on disk);
            # O(1) per partition — no full-manifest rewrite.  The detector
            # state goes to the O(state) sidecar, NOT into every row
            # (manifest bytes stay independent of detector count); a kill
            # between the two commits is repaired at load by replaying the
            # missing rows' stored metrics.
            self.io.commit_manifest_row(self.scope, part, row)
            self.io.commit_state(self.scope, {
                "part": part,
                "detector_state": self._dump_steppers(steppers)})
            (validated if all_passed else failed).append(part)
        processed = set(pending)
        if not any(p not in done and p not in processed
                   for p in self.io.list_partitions("clips")):
            # run complete: fold the per-row commit log into one file so a
            # resume scan is O(1) file opens, not O(partitions).  Computed
            # from the start-of-run manifest view + this run's commits —
            # no second O(partitions) manifest scan (one listdir re-lists
            # the table in case partitions landed during the run).
            self.io.compact_manifest(self.scope)
        return {"validated": validated, "failed": failed, "skipped": False}

    # -- detector-state checkpointing ---------------------------------------

    @staticmethod
    def _steppers_from_blob(blob: str) -> dict:
        raw = json.loads(blob)
        return {k: PrequentialStepper.deserialize(
            base64.b64decode(v)) for k, v in raw.items()}

    def _load_steppers(self, manifest: dict = None) -> dict:
        if manifest is None:
            manifest = self.io.read_manifest(self.scope)
        done = sorted(p for p, v in manifest.items()
                      if v.get("status") == "done")
        st = self.io.read_state(self.scope)
        if st is not None and done:
            steppers = self._steppers_from_blob(st["detector_state"])
            # a kill between a row commit and its sidecar write leaves the
            # sidecar behind by those rows; replay them from the stored
            # per-partition metrics (same z inputs -> byte-identical state)
            behind = [p for p in done if p > st["part"]]
            if behind:
                for p in behind:
                    self._replay_row(steppers, p, manifest)
            return steppers
        if done:
            # legacy manifests (pre-sidecar) carried the blob in every row
            blob = manifest[max(done)].get("detector_state")
            if blob:
                return self._steppers_from_blob(blob)
        return self._fresh_steppers()

    @staticmethod
    def _fresh_steppers() -> dict:
        return {
            name: PrequentialStepper(name, tamanho_batch=SERIES_SEED_PARTS,
                                     params=cfg["params"],
                                     bin_threshold=cfg["bin_threshold"])
            for name, cfg in SERIES_DETECTORS.items()}

    def invalidate_from(self, part: int) -> list:
        """Re-open validation from ``part`` onward — the correction path
        after an upsert/backfill touches already-validated partitions.

        The sequential-series contract (SURVEY §2.9 T3: detectors consume
        the ORDERED per-partition stat series) forbids re-inserting a
        middle partition alone, so a correction rolls the series back to
        the correction point: every done partition >= ``part`` gets an
        O(1) 'invalidated' override row (overlays rows folded into the
        consolidated manifest too), and the detector-state sidecar is
        rebuilt by replaying the surviving prefix's stored metrics from
        fresh seeds (same z inputs -> byte-identical state, the resume
        repair guarantee).  The next run() then re-validates exactly the
        invalidated suffix with correct series state; outputs are
        idempotent per (part, scope).  Returns the re-opened partitions."""
        manifest = self.io.read_manifest(self.scope)
        done = sorted(p for p, v in manifest.items()
                      if v.get("status") == "done")
        victims = [p for p in done if p >= part]
        for p in victims:
            self.io.commit_manifest_row(
                self.scope, p, {"status": "invalidated"})
        keep = [p for p in done if p < part]
        if keep:
            steppers = self._fresh_steppers()
            # replay against the PRE-invalidation manifest captured above —
            # the override rows just committed destroyed the victims'
            # metrics_json on disk, and a victim can be a baseline part
            for p in keep:
                self._replay_row(steppers, p, manifest)
            self.io.commit_state(self.scope, {
                "part": max(keep),
                "detector_state": self._dump_steppers(steppers)})
        else:
            self.io.clear_state(self.scope)
        return victims

    @staticmethod
    def _dump_steppers(steppers: dict) -> str:
        return json.dumps({k: base64.b64encode(v.serialize()).decode()
                           for k, v in steppers.items()})

    @staticmethod
    def _advance_steppers(steppers: dict, part: int, z: float) -> tuple:
        flag = False
        state = oracle.STATE_NORMAL
        for stepper in steppers.values():
            f, _w, s = stepper.step(z, z)
            if s == "SEED":
                continue
            flag = flag or f
            if s == oracle.STATE_DRIFT:
                state = oracle.STATE_DRIFT
            elif s == oracle.STATE_WARNING and state == oracle.STATE_NORMAL:
                state = oracle.STATE_WARNING
        return flag, state

    def _replay_row(self, steppers: dict, part: int, manifest: dict) -> None:
        """Re-advance ``steppers`` with the EXACT z a committed row
        originally consumed: its stored metrics standardized by the
        moments stored IN the row (so a resume whose manifest view differs
        from the original run's — kill inside the baseline window, later
        invalidation of a baseline part — still replays byte-identically).
        Rows without a usable monitor stat were never a series sample
        (run() skips the advance for them) and are skipped here too;
        legacy rows without stored moments fall back to recomputing them
        from the given manifest."""
        row = manifest[part]
        stat = json.loads(row.get("metrics_json") or "{}")
        mean = stat.get(f"{MONITOR_COL}_mean")
        if mean is None:
            return
        if row.get("base_mean") is not None:
            base_mean, base_std = row["base_mean"], row.get("base_std")
        else:
            base_mean, base_std = self._baseline_moments({}, manifest)
        z = abs((mean - base_mean) / (base_std or 1.0))
        self._advance_steppers(steppers, part, z)

    def _baseline_moments(self, stat_rows: dict,
                          manifest: dict = None) -> tuple:
        """mean/std of the monitored stat over the baseline partitions;
        falls back to manifest metrics when baseline parts were validated
        in an earlier run.  Callers that already hold the manifest pass it
        in (run() reads it exactly once)."""
        import numpy as np
        vals = []
        if manifest is None:
            manifest = self.io.read_manifest(self.scope)
        for p in self.baseline_parts:
            if p in stat_rows:
                v = stat_rows[p].get(f"{MONITOR_COL}_mean")
            elif p in manifest and manifest[p].get("metrics_json"):
                v = json.loads(manifest[p]["metrics_json"]) \
                    .get(f"{MONITOR_COL}_mean")
            else:
                v = None
            if v is not None:
                vals.append(v)
        if not vals:
            return 0.0, 1.0
        a = np.asarray(vals, dtype=float)
        return float(a.mean()), float(a.std(ddof=0) or 1.0)

    # -- reads ---------------------------------------------------------------

    def read_violations(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.io.root}/{self.violations_table}")

    def verdict_matrix(self) -> dict:
        m = self.io.read_manifest(self.scope)
        return {p: v["verdict"] for p, v in m.items() if v.get("status") == "done"}

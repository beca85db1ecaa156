"""Validation job entry point — ``spark-submit jobs/validate.py [options]``.

Runs the batch check suite (per-partition column stats, null-rate, range,
uniqueness, referential, distribution drift) over a clips fixture directory
and prints per-partition verdicts; writes violations/metrics/manifest via the
runner when --write is given.

Usage:
    spark-submit jobs/validate.py --data data/sf0.001 [--part N]
        [--master local[8]] [--write]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default="data/sf0.001")
    ap.add_argument("--part", type=int, default=None,
                    help="validate a single partition (default: all)")
    ap.add_argument("--master", default=os.environ.get("SPARK_MASTER", "local[8]"))
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    ap.add_argument("--streams", action="store_true",
                    help="run the sequential drift-detector suite over "
                         "drift_streams.parquet instead of the clips checks")
    ap.add_argument("--stream-detect", action="store_true",
                    help="same detector suite but CONTINUOUSLY via "
                         "Structured Streaming (applyInPandasWithState): "
                         "replays drift_streams as ordered micro-batch "
                         "files and drains them with availableNow")
    ap.add_argument("--micro-batches", type=int, default=4,
                    help="number of replay chunks (--stream-detect)")
    ap.add_argument("--stream-gate", action="store_true",
                    help="stream the clips table file-by-file through the "
                         "commit-gated ingest (each micro-batch = one "
                         "sidecar-profiled TableIO commit, drift-gated "
                         "against the fold of prior epochs); exits 1 when "
                         "any gate flags")
    ap.add_argument("--pinned-contract", default=None, metavar="JSON",
                    help="with --stream-gate: add the zero-scan contract "
                         "gate — each epoch diffs the ingested history's "
                         "sidecar-fold constraints against this pinned "
                         "contract and flags any loosening")
    ap.add_argument("--acoustic", action="store_true",
                    help="with --stream-gate: also decode each admitted "
                         "micro-batch once and gate rolloff/flatness "
                         "profile columns (payload drift from sidecars)")
    ap.add_argument("--grid", action="store_true",
                    help="run the stream x detector x repetition experiment "
                         "grid (ExperimentoDrift analogue) and print the "
                         "mean/std summary")
    ap.add_argument("--reps", type=int, default=3,
                    help="repetitions per grid cell (--grid)")
    ap.add_argument("--out", default=None,
                    help="directory to persist grid results (--grid)")
    ap.add_argument("--commit-gate", action="store_true",
                    help="replay partitions as ingest commits through the "
                         "per-snapshot stats sidecars and print the "
                         "zero-rescan commit-drift report (exit 1 if the "
                         "last commit drifts)")
    ap.add_argument("--runner", action="store_true",
                    help="manifest-resumable per-partition flow "
                         "(ValidationRunner): validates only pending "
                         "partitions, commits O(1) manifest rows, "
                         "advances the sequential series monitor")
    ap.add_argument("--scope", default="cli",
                    help="manifest scope for --runner (resume key)")
    ap.add_argument("--limit-parts", type=int, default=None,
                    help="with --runner: stop after N partitions "
                         "(kill/resume simulation)")
    ap.add_argument("--invalidate-from", type=int, default=None,
                    metavar="P",
                    help="with --runner: re-open validation from "
                         "partition P before running (correction path "
                         "after an upsert/backfill)")
    ap.add_argument("--suggest", action="store_true",
                    help="profile the table (Deequ-style) and print "
                         "suggested constraints; restrict the profiled "
                         "baseline with --baseline-parts")
    ap.add_argument("--baseline-parts", default=None, metavar="P,P,...",
                    help="with --suggest: comma-separated partition list "
                         "to profile (default: whole table)")
    ap.add_argument("--contract", default=None, metavar="JSON",
                    help="with --suggest: also write the suggestions to "
                         "this JSON file (a data contract --run-contract "
                         "can enforce)")
    ap.add_argument("--run-contract", default=None, metavar="JSON",
                    help="compile a saved contract into the per-partition "
                         "suite and run it over the clips table (exit 1 "
                         "on any failing verdict)")
    ap.add_argument("--diff-contract", default=None, metavar="JSON",
                    help="with --suggest: diff the fresh suggestions "
                         "against this pinned contract and exit 1 on any "
                         "LOOSENED constraint (constraint-level drift)")
    ap.add_argument("--violations-out", default=None, metavar="DIR",
                    help="with --run-contract: also write row-level "
                         "violation rows (clip_id, check_name, observed, "
                         "expected, part) for the row-expressible "
                         "constraints to this parquet sink")
    ap.add_argument("--fd", default=None, metavar="LHS[,LHS..]:RHS",
                    help="functional-dependency audit: report every "
                         "LHS-key group carrying more than one distinct "
                         "RHS value (NULL counts as a value), e.g. "
                         "--fd part,clip_id:transcript.  Exit 1 when "
                         "violations exist.  EXCLUSIVE screen mode: runs "
                         "instead of the default drift report; cannot be "
                         "combined with --quarantine.  May be combined "
                         "with --benford (exit reflects the FD gate; "
                         "Benford stays advisory)")
    ap.add_argument("--benford", default=None, metavar="COL",
                    help="Benford first-digit screen on COL per "
                         "partition: chi-squared of the leading-digit "
                         "histogram vs Benford's law.  Reports suspects; "
                         "always exit 0 (screen, not a gate — most real "
                         "single-unit magnitudes are NOT Benford).  "
                         "EXCLUSIVE screen mode, as --fd")
    ap.add_argument("--quarantine", default=None, metavar="OUT_DIR",
                    help="split the clips table into admitted/quarantined "
                         "parquet sinks with per-row reasons and print the "
                         "per-partition admission report (exit 1 if any "
                         "row was quarantined)")
    args = ap.parse_args()

    if (args.fd or args.benford) and args.quarantine:
        # the screen block returns before the quarantine path would run —
        # reject the combination instead of silently skipping half of it
        # (same contract as the --wer-threshold guard in curate_audio)
        print("error: --fd/--benford are exclusive screen modes and "
              "cannot be combined with --quarantine; run them as "
              "separate invocations", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession, functions as F

    from drift_detection_pibic___framework_spark.plans import suite

    t0 = time.time()
    spark = (SparkSession.builder.master(args.master).appName("dpf-validate")
             .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             # arena-reuse for python-worker numpy buffers (see bench.py)
             .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
             .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
             .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    if args.grid:
        from drift_detection_pibic___framework_spark.plans import experiments
        sp = os.path.join(args.data, "drift_streams.parquet")
        if not os.path.exists(sp):
            print(f"error: no drift_streams table at {sp}", file=sys.stderr)
            return 2
        streams = spark.read.parquet(sp)
        summary = experiments.run_grid(spark, streams, out_dir=args.out,
                                       reps=args.reps).collect()
        hdr = (f"{'stream':<15} {'detector':<13} {'n':>2} "
               f"{'mean_det':>8} {'std_det':>8} {'mean_delay':>10} "
               f"{'std_delay':>9} {'false_al':>8}")
        print(hdr)
        for r in summary:
            print(f"{r['stream_id']:<15} {r['detector']:<13} "
                  f"{r['n_reps']:>2} {r['mean_detections']:>8} "
                  f"{r['std_detections'] if r['std_detections'] is not None else '-':>8} "
                  f"{r['mean_delay'] if r['mean_delay'] is not None else '-':>10} "
                  f"{r['std_delay'] if r['std_delay'] is not None else '-':>9} "
                  f"{r['mean_false_alarms']:>8}")
        dt = time.time() - t0
        print(f"\n{len(summary)} grid cells (x{args.reps} reps) in {dt:.1f}s")
        return 0

    if args.runner:
        from drift_detection_pibic___framework_spark.plans.runner import (
            ValidationRunner)
        from drift_detection_pibic___framework_spark.sources.tableio import (
            ParquetTableIO)

        if not os.path.isdir(os.path.join(args.data, "clips")):
            print(f"error: no clips table at {args.data}/clips",
                  file=sys.stderr)
            return 2
        r = ValidationRunner(ParquetTableIO(args.data), scope=args.scope)
        if args.invalidate_from is not None:
            reopened = r.invalidate_from(args.invalidate_from)
            print(f"invalidated {len(reopened)} partitions "
                  f">= {args.invalidate_from}")
        res = r.run(spark, limit_parts=args.limit_parts)
        if res["skipped"]:
            print("nothing pending — manifest is complete")
            return 0
        m = r.io.read_manifest(args.scope)
        for p in sorted(res["validated"] + res["failed"]):
            row = m[p]
            print(f"part={p:>3} verdict={row['verdict']:<4} "
                  f"state={row['state']:<8} "
                  f"series_drift={row['series_drift']}")
        dt = time.time() - t0
        print(f"\n{len(res['validated'])} passed, {len(res['failed'])} "
              f"failed of {len(res['validated']) + len(res['failed'])} "
              f"partitions in {dt:.1f}s (scope={args.scope})")
        return 1 if res["failed"] else 0

    if args.suggest or args.run_contract:
        import json

        from drift_detection_pibic___framework_spark.operators import (
            profile as PR)

        cp = os.path.join(args.data, "clips")
        if not os.path.isdir(cp):
            print(f"error: no clips table at {cp}", file=sys.stderr)
            return 2
        clips = spark.read.parquet(cp)

        if args.suggest:
            base = clips
            if args.baseline_parts:
                parts = [int(p) for p in args.baseline_parts.split(",")]
                base = clips.filter(F.col("part").isin(parts))
            # rid is a synthetic surrogate and part is the partition key —
            # constraints on them would pin fixture internals, not data
            cols = [c for c in PR.profilable_columns(base)
                    if c not in ("rid", "part")]
            sug = PR.suggest_constraints(base, cols=cols).collect()
            print(f"{'column':<12} {'constraint':<22} params")
            for r in sug:
                print(f"{r.column:<12} {r.constraint:<22} {r.params}")
            if args.contract:
                with open(args.contract, "w") as f:
                    json.dump([{"column": r.column,
                                "constraint": r.constraint,
                                "params": r.params} for r in sug],
                              f, indent=2)
                print(f"\n{len(sug)} suggested constraints written to "
                      f"{args.contract}")
            drifting = 0
            if args.diff_contract:
                pinned = PR.load_contract(args.diff_contract)
                diffs = PR.diff_contracts(
                    pinned, [(r.column, r.constraint, r.params)
                             for r in sug])
                if diffs:
                    print(f"\n{'column':<12} {'constraint':<22} "
                          f"{'change':<14} {'before':<28} after")
                for d in diffs:
                    drifting += bool(d["drift"])
                    mark = "  DRIFT" if d["drift"] else ""
                    print(f"{d['column']:<12} {d['constraint']:<22} "
                          f"{d['change']:<14} {str(d['before']):<28} "
                          f"{d['after']}{mark}")
                print(f"\ncontract diff vs {args.diff_contract}: "
                      f"{len(diffs)} changes, {drifting} loosened")
            dt = time.time() - t0
            print(f"\n{len(sug)} suggestions from "
                  f"{'parts ' + args.baseline_parts if args.baseline_parts else 'full table'} "
                  f"in {dt:.1f}s")
            return 1 if drifting else 0

        contract = PR.load_contract(args.run_contract)
        verdicts = sorted(suite.collect_suite(
            clips, None, checks=suite.contract_checks(contract)).verdicts,
            key=lambda v: (v.part, v.check_name))
        n_fail = sum(1 for v in verdicts if not v.passed)
        for v in verdicts:
            mark = "PASS" if v.passed else "FAIL"
            print(f"part={v.part:>3} {v.check_name:<26} {mark}  "
                  f"observed={v.observed}  expected={v.expected}")
        n_viol = None
        if args.violations_out:
            v = PR.suggested_suite_violations(clips, contract)
            v.write.mode("overwrite").partitionBy("part") \
                .parquet(args.violations_out)
            n_viol = spark.read.parquet(args.violations_out).count()
        dt = time.time() - t0
        extra = (f"; {n_viol} violation rows -> {args.violations_out}"
                 if n_viol is not None else "")
        print(f"\n{len(verdicts)} contract checks, {n_fail} failing "
              f"({len(contract)} constraints) in {dt:.1f}s{extra}")
        return 1 if n_fail else 0

    if args.fd or args.benford:
        from drift_detection_pibic___framework_spark.operators import (
            stats as ST)

        cp = os.path.join(args.data, "clips")
        if not os.path.isdir(cp):
            print(f"error: no clips table at {cp}", file=sys.stderr)
            return 2
        clips = spark.read.parquet(cp)
        rc = 0
        if args.fd:
            if ":" not in args.fd:
                print("error: --fd wants LHS[,LHS..]:RHS", file=sys.stderr)
                return 2
            lhs_s, rhs = args.fd.rsplit(":", 1)
            lhs = [c.strip() for c in lhs_s.split(",") if c.strip()]
            bad = [c for c in lhs + [rhs] if c not in clips.columns]
            if bad:
                print(f"error: unknown column(s) {bad}", file=sys.stderr)
                return 2
            rows = (ST.fd_violations(clips, lhs, rhs)
                    .orderBy(F.desc("n_distinct_rhs"), *lhs)
                    .limit(50).collect())
            print(f"FD {'+'.join(lhs)} -> {rhs}: "
                  f"{len(rows)} violating key(s)"
                  f"{' (top 50 shown)' if len(rows) == 50 else ''}")
            for r in rows:
                key = ", ".join(str(r[c]) for c in lhs)
                print(f"  ({key}): {r['n_rows']} rows, "
                      f"{r['n_distinct_rhs']} distinct {rhs} "
                      f"e.g. {r['rhs_sample'][:2]}")
            rc = 1 if rows else 0
        if args.benford:
            col = args.benford
            if col not in clips.columns:
                print(f"error: unknown column {col}", file=sys.stderr)
                return 2
            rows = ST.benford_check(clips, col).orderBy("part").collect()
            n_sus = sum(1 for r in rows if r["benford_suspect"])
            print(f"Benford({col}): {n_sus}/{len(rows)} partitions "
                  f"suspect (chi2 > {ST.BENFORD_CHI2_CRIT}, 8 dof)")
            for r in rows:
                mark = " SUSPECT" if r["benford_suspect"] else ""
                print(f"  part={r['part']:>3} n={r['n_rows']:>7} "
                      f"chi2={r['chi2']:.3f}{mark}")
        dt = time.time() - t0
        print(f"done in {dt:.1f}s")
        return rc

    if args.quarantine:
        from drift_detection_pibic___framework_spark.operators import (
            quarantine as QR)

        cp = os.path.join(args.data, "clips")
        dp = os.path.join(args.data, "allowed_codecs.parquet")
        if not os.path.isdir(cp):
            print(f"error: no clips table at {cp}", file=sys.stderr)
            return 2
        clips = spark.read.parquet(cp)
        dim = spark.read.parquet(dp)
        clean, bad = QR.quarantine(clips, dim)
        clean.write.mode("overwrite").partitionBy("part") \
            .parquet(os.path.join(args.quarantine, "admitted"))
        bad.withColumn("reasons", F.array_join("reasons", ",")) \
            .write.mode("overwrite").partitionBy("part") \
            .parquet(os.path.join(args.quarantine, "quarantined"))
        rows = QR.quarantine_summary(clips, dim).collect()
        print(f"{'part':>4} {'rows':>6} {'quar':>5} {'null_t':>6} "
              f"{'sr_rng':>6} {'codec':>5} {'dup_id':>6} {'admit':>8}")
        total = quar = 0
        for r in rows:
            total += r.n_rows
            quar += r.quarantined
            print(f"{r.part:>4} {r.n_rows:>6} {r.quarantined:>5} "
                  f"{r.null_transcript:>6} {r.sr_out_of_range:>6} "
                  f"{r.unknown_codec:>5} {r.duplicate_clip_id:>6} "
                  f"{r.admit_rate:>8}")
        dt = time.time() - t0
        print(f"\n{total} rows -> {total - quar} admitted, {quar} "
              f"quarantined in {dt:.1f}s; sinks under {args.quarantine}")
        return 1 if quar else 0

    if args.commit_gate:
        import shutil
        import tempfile

        from drift_detection_pibic___framework_spark.operators import (
            snapshot_diff)
        from drift_detection_pibic___framework_spark.sources.tableio import (
            ParquetTableIO)

        cp = os.path.join(args.data, "clips")
        if not os.path.isdir(cp):
            print(f"error: no clips table at {cp}", file=sys.stderr)
            return 2
        clips = spark.read.parquet(cp).select("part", "sr_hz", "dur_ms",
                                              "codec", "clip_id")
        root = tempfile.mkdtemp(prefix="commit_gate_")
        try:
            io = ParquetTableIO(root)
            # baseline commits (clean partitions), then three drifted ones:
            # part 12 (injected dur_ms drift) gates moments + KS shape;
            # part 5 (injected off-dimension codec) gates categories;
            # part 1 RE-INGESTED gates cross-commit uniqueness
            for p in (0, 1, 2, 3):
                pdf = clips.filter(F.col("part") == p).repartition(1)
                io.append(pdf, "ingest", stats_cols=("sr_hz", "dur_ms"))
                io.append(pdf, "ingest_cat", cat_cols=("codec",))
                io.append(pdf.select("clip_id"), "ingest_keys",
                          key_cols=("clip_id",))
            io.append(clips.filter(F.col("part") == 12).repartition(1),
                      "ingest", stats_cols=("sr_hz", "dur_ms"))
            io.append(clips.filter(F.col("part") == 5).repartition(1),
                      "ingest_cat", cat_cols=("codec",))
            io.append(clips.filter(F.col("part") == 1).repartition(1)
                      .select("clip_id"), "ingest_keys",
                      key_cols=("clip_id",))
            moments = snapshot_diff.stat_drift_report(
                spark, io, "ingest").collect()
            shapes = snapshot_diff.quantile_drift_report(
                spark, io, "ingest").collect()
            cats = snapshot_diff.category_drift_report(
                spark, io, "ingest_cat").collect()
            uniq = snapshot_diff.uniqueness_drift_report(
                spark, io, "ingest_keys").collect()
        finally:
            shutil.rmtree(root, ignore_errors=True)
        flagged = 0
        print(f"{'column':<8} {'n_before':>8} {'n_after':>7} "
              f"{'mean_before':>11} {'mean_after':>10} {'effect':>8} "
              f"{'escape':>6}  verdict")
        for r in moments:
            flagged += bool(r.flagged)
            print(f"{r.column:<8} {r.n_before:>8} {r.n_after:>7} "
                  f"{r.mean_before:>11} {r.mean_after:>10} "
                  f"{r.effect_size if r.effect_size is not None else 'inf':>8} "
                  f"{str(r.range_escape):>6}  "
                  f"{'DRIFT' if r.flagged else 'ok'}")
        print(f"\n{'column':<8} {'p50_before':>10} {'p50_after':>9} "
              f"{'ks':>8} {'w1':>9}  verdict")
        for r in shapes:
            flagged += bool(r.flagged)
            print(f"{r.column:<8} {r.p50_before:>10} {r.p50_after:>9} "
                  f"{r.ks:>8} {r.w1:>9}  "
                  f"{'SHAPE-DRIFT' if r.flagged else 'ok'}")
        print(f"\n{'column':<8} {'item':<12} {'share_before':>12} "
              f"{'share_after':>11} {'delta':>8}  verdict")
        for r in cats:
            flagged += bool(r.flagged)
            verdict = ("NEW-ARRIVAL" if r.new_arrival
                       else "SHARE-DRIFT" if r.flagged else "ok")
            print(f"{r.column:<8} {r.item:<12} {r.share_before:>12} "
                  f"{r.share_after:>11} {r.delta:>8}  {verdict}")
        print(f"\n{'column':<8} {'base_dist':>9} {'commit_rows':>11} "
              f"{'cross_dup':>9} {'intra_dup':>9}  verdict")
        for r in uniq:
            flagged += bool(r.flagged)
            print(f"{r.column:<8} {r.base_distinct:>9} {r.commit_rows:>11} "
                  f"{r.cross_dup_rate:>9} {r.intra_dup_rate:>9}  "
                  f"{'RE-INGESTED' if r.flagged else 'ok'}")
        dt = time.time() - t0
        print(f"\n{len(moments) + len(shapes) + len(cats) + len(uniq)} "
              f"gate rows from sidecars only (zero rescans) in {dt:.1f}s; "
              f"{flagged} drifting")
        return 1 if flagged else 0

    if args.stream_gate:
        import shutil
        import tempfile

        from drift_detection_pibic___framework_spark.streaming import (
            stream_validate)
        cp = os.path.join(args.data, "clips")
        dp = os.path.join(args.data, "allowed_codecs.parquet")
        if not os.path.isdir(cp):
            print(f"error: no clips table at {cp}", file=sys.stderr)
            return 2
        work = tempfile.mkdtemp(prefix="stream-gate-")
        pinned = None
        if args.pinned_contract:
            from drift_detection_pibic___framework_spark.operators import (
                profile as PRc)
            pinned = PRc.load_contract(args.pinned_contract)
        try:
            q = stream_validate.validate_stream_with_gate(
                spark, cp, dp, f"{work}/out", f"{work}/ckpt",
                f"{work}/gate", acoustic=args.acoustic,
                pinned_contract=pinned)
            if not q.awaitTermination(600):
                q.stop()
                print("error: gate stream did not drain within 600s; "
                      "partial sink discarded", file=sys.stderr)
                return 3
            gates = (spark.read.parquet(f"{work}/out_gates")
                     .orderBy("epoch", "gate", "subject").collect())
            flagged = 0
            for r in gates:
                if r["flagged"]:
                    flagged += 1
                    print(f"epoch={r['epoch']} {r['gate']:<10} "
                          f"{r['subject']:<18} {r['detail']}  DRIFT")
            dt = time.time() - t0
            print(f"\n{len(gates)} gate rows over "
                  f"{len(set(r['epoch'] for r in gates)) + 1} epochs"
                  f"{' (acoustic profile on)' if args.acoustic else ''} "
                  f"in {dt:.1f}s; {flagged} flagged")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return 1 if flagged else 0

    if args.stream_detect:
        import shutil
        import tempfile

        from pyspark.sql import Window

        from drift_detection_pibic___framework_spark.streaming import (
            stream_detect)
        sp = os.path.join(args.data, "drift_streams.parquet")
        if not os.path.exists(sp):
            print(f"error: no drift_streams table at {sp}", file=sys.stderr)
            return 2
        streams = spark.read.parquet(sp)
        n_rows = streams.count()
        work = tempfile.mkdtemp(prefix="stream-detect-")
        try:
            # replay: split every stream into k seq-ordered chunk files
            # (file k = each stream's k-th slice, the ordered-source
            # contract stream_detect documents)
            k = max(1, args.micro_batches)
            chunked = streams.withColumn(
                "_chunk", F.ntile(k).over(
                    Window.partitionBy("stream_id").orderBy("seq")) - 1)
            for c in range(k):
                (chunked.filter(F.col("_chunk") == c).drop("_chunk")
                 .coalesce(1).write.mode("overwrite")
                 .parquet(f"{work}/stage-{c:02d}"))
                part = [f for f in os.listdir(f"{work}/stage-{c:02d}")
                        if f.endswith(".parquet")][0]
                os.makedirs(f"{work}/in", exist_ok=True)
                shutil.move(f"{work}/stage-{c:02d}/{part}",
                            f"{work}/in/{c:02d}.parquet")
                os.utime(f"{work}/in/{c:02d}.parquet",
                         (1000000 + c * 100,) * 2)
            q = stream_detect.run_detect_stream(
                spark, f"{work}/in",
                "stream_id string, seq long, value double, err double",
                f"{work}/out", f"{work}/ckpt")
            if not q.awaitTermination(600):
                # still running after the timeout: the sink is partial —
                # reading it would print an incomplete flag count as if it
                # were the full result (ADVICE r3). Fail loud instead.
                q.stop()
                print("error: detect stream did not drain within 600s; "
                      "partial sink discarded", file=sys.stderr)
                return 3
            res = spark.read.parquet(f"{work}/out")
            det = (res.filter("flag").select("stream_id", "detector", "seq")
                   .orderBy("stream_id", "detector", "seq").collect())
            by_key = {}
            for r in det:
                by_key.setdefault((r["detector"], r["stream_id"]),
                                  []).append(r["seq"])
            for (d, sid), seqs in sorted(by_key.items()):
                print(f"{d:<13} {sid:<15} detections={seqs}")
            dt = time.time() - t0
            print(f"\n{len(det)} drift flags over {n_rows} samples in "
                  f"{k} micro-batches in {dt:.1f}s")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return 0

    if args.streams:
        from drift_detection_pibic___framework_spark.operators.detectors import kernels
        sp = os.path.join(args.data, "drift_streams.parquet")
        if not os.path.exists(sp):
            print(f"error: no drift_streams table at {sp}", file=sys.stderr)
            return 2
        streams = spark.read.parquet(sp)
        det = kernels.detections_only(kernels.detect(streams)).collect()
        n_rows = streams.count()
        by_key = {}
        for r in det:
            by_key.setdefault((r["detector"], r["stream_id"]), []).append(r["seq"])
        for (d, sid), seqs in sorted(by_key.items()):
            print(f"{d:<13} {sid:<15} detections={seqs}")
        dt = time.time() - t0
        print(f"\n{len(det)} drift flags over {n_rows} samples in {dt:.1f}s")
        return 0

    clips_path = os.path.join(args.data, "clips")
    dim_path = os.path.join(args.data, "allowed_codecs.parquet")
    if not os.path.isdir(clips_path):
        print(f"error: no clips table at {clips_path}", file=sys.stderr)
        return 2
    full = spark.read.parquet(clips_path)
    dim = spark.read.parquet(dim_path)
    # one fused suite run; with --part the drift baseline is read from the
    # full table, so drift scores match the full-table run
    clips, baseline = full, None
    if args.part is not None:
        clips, baseline = full.filter(F.col("part") == args.part), full
    run = suite.collect_suite(clips, dim, baseline=baseline)
    if args.part is not None and args.part not in run.stats:
        print(f"error: partition {args.part} not found", file=sys.stderr)
        return 2

    rows = sorted(run.verdicts, key=lambda r: (r.part, r.check_name))
    n_fail = sum(1 for r in rows if not r.passed)
    for r in rows:
        mark = "PASS" if r.passed else "FAIL"
        print(f"part={r.part:>3} {r.check_name:<24} {mark}  "
              f"observed={r.observed}  expected={r.expected}")
    # the row count comes from the suite's own aggregate: no second scan
    n_rows = sum(s["row_count"] for s in run.stats.values())
    dt = time.time() - t0
    print(f"\n{len(rows)} checks, {n_fail} failing; {n_rows} clips validated "
          f"in {dt:.1f}s ({n_rows / dt:.0f} clips/sec)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

"""The traced run: per-layer metrics, named by the engine module they time.

One warm session serves both halves of the run.  First it runs untraced
operations, the reference for ``trace.overhead_ratio``.  Then Spark's
event log is attached (uncompressed) and every call the benchmark makes
runs inside a named span that sets and restores the job description:

* the workload's own operations, traced;
* for ``backfill``, a replay of the runner's layer calls one at a time
  (``replay.coverage_share`` is the share of the untraced lap they
  cover), each check operator on its own, the detector stepper and the
  TableIO manifest calls;
* for ``payload``, the audio kernel timed alone in the driver, and then
  a short gated stream (the ``ingest`` machinery): its micro-batches'
  ``StreamingQueryProgress``, a TableIO append with and without sidecars,
  a KLL build, and the four snapshot-diff gate reports at the final
  epoch count.  The stream rides on this run because no end-to-end
  ingest workload fits the benchmark's time budget;
* for ``ingest`` itself, the same stream layers over its own epochs.

A metric a workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import host
import trace as T
from loop import warm_session

N_OPS = 1             # operations per traced phase: trace runs stay < 180 s


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def attach_event_log(spark, log_dir: str):
    """Start an uncompressed event log on a running session."""
    jvm, jsc = spark._jvm, spark._jsc.sc()
    os.makedirs(log_dir, exist_ok=True)
    conf = (jsc.conf().clone().set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false"))
    lst = jvm.org.apache.spark.scheduler.EventLoggingListener(
        jsc.applicationId(), jvm.scala.Option.apply(None),
        jvm.java.net.URI("file://" + os.path.abspath(log_dir)), conf,
        jsc.hadoopConfiguration())
    lst.start()
    jsc.addSparkListener(lst)
    return lst


def detach_event_log(spark, lst) -> None:
    jsc = spark._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jsc.removeSparkListener(lst)
    lst.stop()


def run_ops(wl, loop, spark, n: int, tracer=None, span=None) -> list:
    """``n`` operations through the checked loop, optionally in a span."""
    if span:
        inner = wl.op

        def op(s):
            with tracer.span(span):
                inner(s)
        wl.op = op
    try:
        return [loop.step(spark, wl)[0] for _ in range(n)]
    finally:
        if span:
            del wl.op


SPAN = {"backfill": "runner.run-backfill", "payload": "invariant.filepairs",
        "ingest": None}


def trace(wl, loop, run_dir: str) -> tuple:
    spark, setup, warm = warm_session(wl, loop, run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    out: dict = {}
    try:
        untraced = run_ops(wl, loop, spark, N_OPS)
        lst = attach_event_log(spark, log_dir)
        tracer = T.Tracer(spark)
        try:
            t0 = time.time() * 1e3
            r0 = _worker_rchar()
            traced = run_ops(wl, loop, spark, N_OPS, tracer, SPAN[wl.name])
            raw = {"window": (t0, time.time() * 1e3),
                   "worker_read": (_worker_rchar() - r0) / N_OPS}
            raw.update(EXTRA[wl.name](wl, loop, spark, tracer, out, raw))
        finally:
            detach_event_log(spark, lst)
    finally:
        wl.release(spark)
        host.stop(spark)
    ev = T.EventLog(log_dir)
    FINISH[wl.name](wl, ev, tracer, raw, out)
    out["trace.overhead_ratio"] = median(traced) / median(untraced)
    if "lap" in raw:
        out["replay.coverage_share"] = (sum(raw["lap"].values())
                                        / median(untraced))
    return out, {"setup": setup, "warmup_ops": warm,
                 "untraced_op_s": untraced, "traced_op_s": traced}


def spark_counters(out: dict, span: str, ev, job_ids: list, per: int):
    for k, v in ev.counters(job_ids, per).items():
        out[f"spark.{span}.{k}"] = v


# -- backfill ---------------------------------------------------------------

def _timed(tracer, T_s: dict, name: str, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        r = fn()
        T_s[name] = time.perf_counter() - t0
    return r


def replay_runner(wl, spark, tracer, out: dict) -> dict:
    """The runner's layer calls on a fresh warehouse, one span each, in the
    runner's order; returns the span seconds that make up the lap."""
    from pyspark.sql import functions as F

    from drift_detection_pibic___framework_spark.operators import (
        drift_dist, referential, stats, uniqueness)
    from drift_detection_pibic___framework_spark.operators.detectors.harness \
        import PrequentialStepper
    from drift_detection_pibic___framework_spark.plans import runner as R
    from drift_detection_pibic___framework_spark.plans import suite

    wl.pre()
    r = wl.runner()
    io, scope = r.io, r.scope
    S: dict = {}
    manifest = _timed(tracer, S, "tableio.read_manifest",
                      lambda: io.read_manifest(scope))
    done = {p for p, v in manifest.items() if v.get("status") == "done"}
    pending = [p for p in io.list_partitions("clips") if p not in done]
    clips_all = io.read_table(spark, "clips")
    clips = clips_all.filter(F.col("part").isin(pending))
    dim = io.read_table(spark, "allowed_codecs")

    def analysis():
        st = stats.partition_column_stats(clips)
        v = suite.suite_verdicts(clips, dim, baseline=clips_all,
                                 baseline_parts=r.baseline_parts, st=st)
        viol = (suite.suite_violations(clips, dim)
                .withColumn("run_scope", F.lit(scope)))
        return st, v, viol

    st, verdicts, violations = _timed(tracer, S, "suite.analysis", analysis)
    _timed(tracer, S, "suite.verdicts", verdicts.collect)
    stat_rows = {x["part"]: x.asDict() for x in
                 _timed(tracer, S, "stats.partition_stats", st.collect)}
    scans = exch = 0
    for df in (verdicts, violations):
        s, e = T.plan_counts(df)
        scans, exch = scans + s, exch + e
    out["suite.parquet_scans"], out["suite.exchanges"] = scans, exch
    _timed(tracer, S, "suite.violations", lambda: (
        violations.repartition("part").write.partitionBy("part")
        .mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(io.root, r.violations_table))))

    # the detector series: |z| of each partition's monitored mean against
    # the baseline partitions' means, stepped through fresh steppers
    col = f"{R.MONITOR_COL}_mean"
    base = [stat_rows[p][col] for p in r.baseline_parts if p in stat_rows]
    mu = statistics.fmean(base)
    sd = statistics.pstdev(base) or 1.0
    zs = [abs((stat_rows[p][col] - mu) / sd) for p in sorted(pending)]
    steppers = {n: PrequentialStepper(n, tamanho_batch=R.SERIES_SEED_PARTS,
                                      params=c["params"],
                                      bin_threshold=c["bin_threshold"])
                for n, c in R.SERIES_DETECTORS.items()}
    t0 = time.perf_counter()
    for z in zs:
        for s in steppers.values():
            s.step(z, z)
    S["detectors.step"] = time.perf_counter() - t0
    out["detectors.step_us"] = 1e6 * S["detectors.step"] / max(
        len(zs) * len(steppers), 1)
    out["detectors.state_bytes"] = sum(len(s.serialize())
                                       for s in steppers.values())

    # manifest commits, as many rows as the run commits, then compaction
    rows = {p: {"status": "done", "verdict": "fail", "state": "NORMAL",
                "checks": {c: True for c in
                           ("null_rate(transcript)", "range(sr_hz)",
                            "unique(clip_id)", "referential(codec)",
                            "dist_drift(dur_ms)")},
                "series_drift": False,
                "metrics_json": json.dumps(stat_rows[p], default=str),
                "base_mean": mu, "base_std": sd,
                "snapshot_id": f"{scope}-{p}"} for p in sorted(pending)}
    blob = json.dumps({n: s.serialize().hex() for n, s in steppers.items()})
    commit, state = [], []
    for p in sorted(pending):
        t0 = time.perf_counter()
        io.commit_manifest_row(scope, p, rows[p])
        commit.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        io.commit_state(scope, {"part": p, "detector_state": blob})
        state.append(time.perf_counter() - t0)
    S["tableio.commit_manifest_rows"] = sum(commit)
    S["tableio.commit_state"] = sum(state)
    _timed(tracer, S, "tableio.compact_manifest",
           lambda: io.compact_manifest(scope))
    out["tableio.read_manifest_ms"] = 1e3 * S["tableio.read_manifest"]
    out["tableio.commit_manifest_row_ms"] = 1e3 * median(commit)
    out["tableio.compact_manifest_ms"] = 1e3 * S["tableio.compact_manifest"]
    mdir = os.path.join(io.root, "_manifest")
    out["tableio.manifest_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(mdir) for f in fs)
    out["tableio.bytes_written_per_clip"] = (out["tableio.manifest_bytes"]
                                            / wl.clips_per_op)
    out["suite.analysis_s"] = S["suite.analysis"]
    out["suite.verdicts_s"] = S["suite.verdicts"]
    out["suite.violations_s"] = S["suite.violations"]
    out["stats.partition_stats_s"] = S["stats.partition_stats"]

    # each check operator alone (not part of the lap)
    def noop(df):
        df.write.format("noop").mode("overwrite").save()
    alone: dict = {}
    for name, fn in (
            ("uniqueness.verdicts", lambda: uniqueness.uniqueness_verdicts(
                clips).collect()),
            ("uniqueness.violations", lambda: noop(
                uniqueness.duplicate_violations(clips))),
            ("referential.verdicts", lambda: referential.referential_verdicts(
                clips, dim).collect()),
            ("referential.violations", lambda: noop(
                referential.referential_violations(clips, dim))),
            ("drift_dist.verdicts", lambda: drift_dist.drift_verdicts(
                clips, baseline=clips_all,
                baseline_parts=r.baseline_parts).collect())):
        _timed(tracer, alone, name, fn)
        out[f"{name}_s"] = alone[name]
    wl.done()
    return S


def _worker_rchar() -> int:
    """Bytes read by the live Python worker processes."""
    total = 0
    for pid in host.tree_pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("rchar:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


# -- payload ----------------------------------------------------------------

def payload_layers(wl, loop, spark, tracer, out: dict, _raw) -> dict:
    """The audio kernel alone, then the gated-stream layers."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from drift_detection_pibic___framework_spark.functions import audio

    import workloads
    clips = os.path.join(wl.input_dir, "clips")
    ref = os.path.join(wl.input_dir, "clips_ref")
    payload = sum(pc.sum(pc.binary_length(
        pq.read_table(os.path.join(d, f), columns=["bytes"])["bytes"]))
        .as_py() for d in (clips, ref) for f in os.listdir(d))
    # decode both sides + SNR for a fixed sample, in the driver, no Spark
    f0 = sorted(os.listdir(clips))[0]
    a = pq.read_table(os.path.join(clips, f0),
                      columns=["bytes", "codec"]).slice(0, 1024).to_pylist()
    b = pq.read_table(os.path.join(ref, f0),
                      columns=["bytes", "codec"]).slice(0, 1024).to_pylist()
    t0 = time.perf_counter()
    for x, y in zip(a, b):
        audio.snr_db(audio.decode(y["bytes"], y["codec"]).astype(np.float64),
                     audio.decode(x["bytes"], x["codec"]).astype(np.float64))
    out["audio.decode_snr_s"] = time.perf_counter() - t0

    stream = workloads.Ingest(wl.work, os.path.join(wl.run_dir, "stream"),
                              wl.seed)
    stream.inputs()
    stream.prepare(spark)
    try:
        run_ops(stream, loop, spark, STREAM_WARM)
        t0 = time.time() * 1e3
        run_ops(stream, loop, spark, N_OPS)
        raw = ingest_layers(stream, spark, tracer, out,
                            (t0, time.time() * 1e3))
    finally:
        stream.release(spark)
    # the same kernel rate applied to every clip of one lap
    raw.update(payload=payload, kernel_s=(wl.clips_per_op * out[
        "audio.decode_snr_s"] / len(a)))
    return raw


def finish_payload(wl, ev, tracer, raw: dict, out: dict) -> None:
    span = SPAN["payload"]
    out["invariant.filepairs_s"] = median(tracer.seconds(span))
    spark_counters(out, span, ev, ev.job_ids(span), N_OPS)
    out["invariant.tasks"] = out[f"spark.{span}.tasks"]
    out["invariant.read_bytes_per_payload_byte"] = (raw["worker_read"]
                                                    / raw["payload"])
    task_s = out[f"spark.{span}.executor_run_s"]
    out["invariant.boundary_share"] = (max(0.0, 1 - raw["kernel_s"] / task_s)
                                       if task_s else 0.0)
    finish_ingest(wl, ev, tracer, raw, out)


# -- ingest -----------------------------------------------------------------

STREAM_WARM = 2       # epochs before the traced ones, when the stream is new


def ingest_layers(wl, spark, tracer, out: dict, window: tuple) -> dict:
    """The stream layers of the last ``N_OPS`` epochs of a running gated
    stream (``window`` is their wall-clock span), then its layers alone."""
    from drift_detection_pibic___framework_spark.functions import sketches
    from drift_detection_pibic___framework_spark.operators import \
        snapshot_diff
    from drift_detection_pibic___framework_spark.sources.tableio import \
        ParquetTableIO
    from drift_detection_pibic___framework_spark.streaming import \
        stream_validate

    epochs = range(wl.i - N_OPS, wl.i)
    prog = [p for p in wl.query.recentProgress if p.batchId in epochs]
    wl.release(spark)
    dur = [p.durationMs for p in prog]
    for name, key in (("trigger", "triggerExecution"), ("add_batch",
                      "addBatch"), ("planning", "queryPlanning"),
                      ("wal_commit", "walCommit")):
        out[f"stream.{name}_s_p50"] = median(d.get(key, 0) / 1e3 for d in dur)
    out["stream.scans_per_epoch"] = median(p.numInputRows / wl.clips_per_op
                                           for p in prog)

    io = ParquetTableIO(wl.gate_root)
    table = stream_validate.GATE_TABLE
    for name, fn in (("stat", snapshot_diff.stat_drift_report),
                     ("quantile", snapshot_diff.quantile_drift_report),
                     ("category", snapshot_diff.category_drift_report),
                     ("uniqueness", snapshot_diff.uniqueness_drift_report)):
        span = f"snapshot_diff.{name}_report"
        with tracer.span(span):
            t0 = time.perf_counter()
            fn(spark, io, table).collect()
            out[f"{span}_s"] = time.perf_counter() - t0
    out["tableio.bytes_written_per_clip"] = (
        sum(os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(wl.gate_root, table))
            for f in fs) / (wl.i * wl.clips_per_op))

    # TableIO append with and without the sidecar profile, same data
    scratch = ParquetTableIO(os.path.join(wl.dir, "append"))
    with_sc, without = [], []
    for i in range(N_OPS):
        f = os.path.join(wl.input_dir, "clips", f"part-{i:04d}.parquet")
        df = spark.read.parquet(f).select("clip_id", "sr_hz", "dur_ms",
                                          "codec")
        with tracer.span("tableio.append"):
            t0 = time.perf_counter()
            scratch.append(df, "profiled", stats_cols=("sr_hz", "dur_ms"),
                           cat_cols=("codec",), key_cols=("clip_id",))
            with_sc.append(time.perf_counter() - t0)
        with tracer.span("tableio.append_plain"):
            t0 = time.perf_counter()
            scratch.append(df, "plain")
            without.append(time.perf_counter() - t0)
    out["tableio.append_s"] = median(with_sc)
    out["tableio.sidecar_s"] = median(with_sc) - median(without)

    import pyarrow.parquet as pq
    v = pq.read_table(os.path.join(wl.input_dir, "clips",
                                   "part-0000.parquet"),
                      columns=["dur_ms"])["dur_ms"].to_numpy() \
        .astype("float64")
    t0 = time.perf_counter()
    sk = sketches.kll_from_values(v)
    out["sketches.kll_build_s"] = time.perf_counter() - t0
    out["sketches.kll_bytes"] = len(sk.serialize())
    return {"stream": {"window": window, "epochs": len(epochs)}}


def finish_ingest(wl, ev, tracer, raw: dict, out: dict) -> None:
    raw = raw["stream"]
    # the driver thread only waits while the epochs run, so every job in
    # the window is a micro-batch job
    jobs = ev.jobs_within(*raw["window"])
    spark_counters(out, "stream.epoch", ev, jobs, raw["epochs"])


def finish_backfill(wl, ev, tracer, raw: dict, out: dict) -> None:
    span = SPAN["backfill"]
    runs = [(s, e) for n, s, e in tracer.spans if n == span]
    jobs = ev.job_ids(span)
    spark_counters(out, span, ev, jobs, len(runs))
    out["runner.run_s"] = median((e - s) / 1e3 for s, e in runs)
    out["runner.jobs"] = len(jobs) / max(len(runs), 1)
    # the part of a run when none of its Spark jobs was running
    out["runner.driver_s"] = median(
        (e - s - ev.busy_ms(jobs, s, e)) / 1e3 for s, e in runs)
    for sp in ("suite.verdicts", "suite.violations"):
        spark_counters(out, sp, ev, ev.job_ids(sp), 1)


EXTRA = {
    "backfill": lambda wl, loop, spark, tracer, out, raw: {
        "lap": replay_runner(wl, spark, tracer, out)},
    "payload": payload_layers,
    # the traced operations were this stream's own epochs
    "ingest": lambda wl, loop, spark, tracer, out, raw: ingest_layers(
        wl, spark, tracer, out, raw["window"]),
}
FINISH = {"backfill": finish_backfill, "payload": finish_payload,
          "ingest": finish_ingest}

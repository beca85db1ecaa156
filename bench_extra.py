"""Extra benchmarks for the optimization round (guide §1.4): per-query
noop-sink isolation with analysis-time split, plan dumps, and targeted
stage breakdowns.  bench.py is FROZEN for driver measurement; everything
exploratory lives here.

Usage:
  python bench_extra.py --isolate         # noop-sink laps + analysis split
  python bench_extra.py --plans           # dump explain('formatted') to plans/r06
  python bench_extra.py --dedup-breakdown # stage-by-stage dedup_corpus timing
  python bench_extra.py --python-task-cost # fixed CPU cost of a Python task
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import SF_DIR, CPUS, build_spark, canary_mb_s  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _targets(spark):
    """(name, builder) for every bench query, as DataFrame builders where
    possible (so the noop sink times computation, not the sink)."""
    from pyspark.sql import functions as F

    from drift_detection_pibic___framework_spark.operators import (
        dedup, invariant, multimodal, profile as PR, quarantine as QR,
        similarity, sketch_agg, uniqueness)
    from drift_detection_pibic___framework_spark.operators.detectors import (
        kernels)
    from drift_detection_pibic___framework_spark.plans import suite
    from drift_detection_pibic___framework_spark.sources import generators as G

    label = G.sf_label_from_dir(SF_DIR)
    d = G.ensure_fixtures(label)
    clips = spark.read.parquet(f"{d}/clips")
    dim = spark.read.parquet(f"{d}/allowed_codecs.parquet")
    streams = spark.read.parquet(f"{d}/drift_streams.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    return {
        "q_batch_checks": lambda: suite.suite_verdicts(clips, dim),
        "q_violations": lambda: suite.suite_violations(clips, dim),
        "q_invariant": lambda: invariant.invariant_results_filepairs(
            spark, f"{d}/clips", f"{d}/clips_ref").filter("not passed"),
        "q_detectors": lambda: kernels.detections_only(
            kernels.detect(streams)),
        "q_hll_global": lambda: uniqueness.global_distinct_estimate(clips),
        "q_minhash_lsh": lambda: dedup.minhash_near_duplicates(
            docs, threshold=0.2, num_hashes=16, bands=8),
        "q_dedup_corpus": lambda: dedup.dedup_corpus(
            docs, jaccard_threshold=0.7),
        "q_knn": lambda: similarity.brute_force_topk(
            emb, emb.filter("vec_id < 10"), k=5),
        "q_audio_features": lambda: multimodal.audio_features(clips),
        "q_quarantine": lambda: QR.quarantine_summary(clips, dim),
        "q_standardize": lambda: multimodal.audio_standardize(clips, 1000),
        "q_band_energy": lambda: multimodal.audio_band_energy(clips),
        "q_profile": lambda: PR.suggest_constraints(
            clips, cols=[c for c in PR.profilable_columns(clips)
                         if c not in ("rid", "part")]),
        "q_dropouts": lambda: multimodal.audio_dropouts(clips),
    }


def isolate(names=None, reps: int = 4):
    """Per query: analysis (schema) time + noop-sink laps with canaries."""
    spark = build_spark(CPUS)
    targets = _targets(spark)
    out = {}
    for name, mk in targets.items():
        if names and name not in names:
            continue
        spark.sparkContext.setJobDescription(name)
        laps, cans, analysis = [], [], []
        for _ in range(reps):
            cans.append(canary_mb_s())
            t0 = time.time()
            df = mk()
            df.schema
            t1 = time.time()
            _noop(df)
            t2 = time.time()
            analysis.append(round(t1 - t0, 3))
            laps.append(round(t2 - t1, 3))
        out[name] = {"analysis": analysis, "exec": laps,
                     "canary": cans,
                     "exec_min": min(laps), "analysis_min": min(analysis)}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print("TOTALS " + json.dumps(
        {k: v["exec_min"] for k, v in out.items()}))
    return out


def dump_plans(names=None, tag="before"):
    spark = build_spark(CPUS)
    targets = _targets(spark)
    os.makedirs("plans/r06", exist_ok=True)
    for name, mk in targets.items():
        if names and name not in names:
            continue
        try:
            df = mk()
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # builders that materialize eagerly
            p = f"explain failed: {e}"
        with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
            f.write(p)
        print(f"wrote plans/r06/{name}_{tag}.txt", flush=True)
    spark.stop()


def dedup_breakdown():
    """Stage-by-stage timing of dedup_corpus internals."""
    from pyspark.sql import Window, functions as F

    from drift_detection_pibic___framework_spark.operators import dedup
    spark = build_spark(CPUS)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    res = {}

    def lap(name, fn, reps=3):
        laps, cans = [], []
        for _ in range(reps):
            cans.append(canary_mb_s())
            t0 = time.time()
            fn()
            laps.append(round(time.time() - t0, 3))
        res[name] = {"laps": laps, "canary": cans, "min": min(laps)}
        print(json.dumps({name: res[name]}), flush=True)

    w = Window.partitionBy("_digest").orderBy(F.col("doc_id"))
    surv = (docs.withColumn("_digest", F.md5(dedup.norm_text("text")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_digest", "_rn"))
    lap("exact_phase", lambda: _noop(surv))
    lap("signatures", lambda: _noop(
        dedup.minhash_signatures(surv, "text", 16, 3)))
    lap("near_dups_full", lambda: dedup.minhash_near_duplicates(
        surv, threshold=0.7, num_hashes=16, bands=4).unpersist())
    pairs = dedup.minhash_near_duplicates(
        surv, threshold=0.7, num_hashes=16, bands=4)
    lap("connected_components", lambda: _noop(
        dedup.connected_components(pairs)))
    lap("keep_canonical_anti", lambda: _noop(
        dedup.keep_canonical(surv, pairs)))
    lap("full_dedup_corpus", lambda: dedup.dedup_corpus(
        docs, jaccard_threshold=0.7).count())
    spark.stop()
    print("BREAKDOWN " + json.dumps({k: v["min"] for k, v in res.items()}))


def python_task_cost(n_tasks: int = 16, reps: int = 3):
    """Worker CPU-s per Python task of a trivial ``n_tasks``-task
    ``mapInArrow`` job (warm workers; median of ``reps`` jobs), plus the
    CPU-s of one ``importlib.invalidate_caches()`` timed inside a worker —
    PySpark's worker makes that call once per task, and it re-reads the
    central directory of every zip on the worker's ``sys.path``."""
    from pyspark.sql import SparkSession

    # appended, not prepended: perfbench/trace.py would shadow stdlib trace
    sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "perfbench"))
    import host

    def worker_cpu_s() -> float:
        """User + system CPU seconds of the PySpark daemon and workers in
        this process tree, including workers the daemon has reaped."""
        total = 0
        for pid in host.tree_pids():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                # the JVM's command line names pyspark-shell; skip it
                if b"pyspark.daemon" not in cmd \
                        and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15])
        return total / os.sysconf("SC_CLK_TCK")

    nproc = os.cpu_count()
    spark = (SparkSession.builder.master(f"local[{nproc}]")
             .appName("dpf-python-task-cost")
             .config("spark.driver.memory", "1g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())

    def passthrough(batches):
        yield from batches

    def invalidate_cost(batches):
        import importlib

        import pyarrow as pa
        for b in batches:
            cost = []
            for _ in range(b.num_rows):
                t0 = time.process_time()
                importlib.invalidate_caches()
                cost.append(time.process_time() - t0)
            yield pa.RecordBatch.from_arrays([pa.array(cost)], ["cpu_s"])

    def job():
        spark.range(0, n_tasks, 1, n_tasks).mapInArrow(
            passthrough, "id long").write.format("noop") \
            .mode("overwrite").save()

    job()                                   # fork and warm the workers
    per_task = []
    for _ in range(reps):
        c0 = worker_cpu_s()
        job()
        per_task.append((worker_cpu_s() - c0) / n_tasks)
    inv = sorted(r.cpu_s for r in spark.range(0, nproc * 5, 1, nproc)
                 .mapInArrow(invalidate_cost, "cpu_s double").collect())
    spark.stop()
    out = {"nproc": nproc, "tasks": n_tasks,
           "worker_cpu_s_per_task": round(sorted(per_task)[reps // 2], 4),
           "worker_cpu_s_per_task_laps": [round(x, 4) for x in per_task],
           "invalidate_caches_cpu_s": round(inv[len(inv) // 2], 4)}
    print("PYTHON_TASK_COST " + json.dumps(out))
    return out


if __name__ == "__main__":
    names = [a for a in sys.argv[1:] if not a.startswith("--")] or None
    if "--plans" in sys.argv:
        tag = "after" if "--after" in sys.argv else "before"
        dump_plans(names, tag)
    elif "--dedup-breakdown" in sys.argv:
        dedup_breakdown()
    elif "--python-task-cost" in sys.argv:
        python_task_cost()
    else:
        isolate(names)

"""Batch checks vs the DuckDB oracle (SURVEY §5 'stats oracle via duckdb')
plus golden verdict-matrix assertions (FIXTURES.md §5)."""

import uuid

import numpy as np

import drift_oracle
import violation_oracle
from drift_detection_pibic___framework_spark.operators import (
    drift_dist, referential, stats, uniqueness)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _run_counting_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_partition_stats_match_duckdb(spark, clips, duck):
    got = (stats.partition_column_stats(clips)
           .orderBy("part")
           .select("part", "row_count", "dur_ms_mean", "dur_ms_stddev",
                   "sr_hz_min", "sr_hz_max", "transcript_null_rate")
           .toPandas())
    want = duck.sql("""
        select part, count(*) row_count,
               round(avg(dur_ms), 6) dur_ms_mean,
               round(stddev_samp(dur_ms), 6) dur_ms_stddev,
               min(sr_hz) sr_hz_min, max(sr_hz) sr_hz_max,
               round(avg(case when transcript is null then 1.0 else 0.0 end), 6)
                 transcript_null_rate
        from clips group by part order by part""").df()
    for c in want.columns:
        assert np.allclose(got[c].astype(float), want[c].astype(float),
                           rtol=1e-9), c


def test_quantiles_close_to_exact(spark, clips, duck):
    got = (stats.partition_column_stats(clips).orderBy("part")
           .select("part", "dur_ms_p50", "dur_ms_p95").toPandas())
    want = duck.sql("""
        select part, quantile_disc(dur_ms, 0.5) p50, quantile_disc(dur_ms, 0.95) p95
        from clips group by part order by part""").df()
    assert np.all(np.abs(got["dur_ms_p50"] - want["p50"]) / want["p50"] < 0.02)
    assert np.all(np.abs(got["dur_ms_p95"] - want["p95"]) / want["p95"] < 0.05)


def test_null_rate_verdict_matrix(spark, clips):
    st = stats.partition_column_stats(clips)
    v = stats.null_rate_verdicts(st).toPandas().set_index("part")
    failing = set(v.index[~v["passed"]])
    assert failing == {2, 10}


def test_uniqueness_verdict_matrix_and_violations(spark, clips):
    v = uniqueness.uniqueness_verdicts(clips).toPandas().set_index("part")
    assert set(v.index[~v["passed"]]) == {3, 9}
    viol = uniqueness.duplicate_violations(clips).toPandas()
    assert set(viol["part"]) == {3, 9}
    # one violation row per extra occurrence (first occurrence is kept)
    counts = viol.groupby("part").size()
    exact = (clips.groupBy("part").count().toPandas().set_index("part")["count"]
             - uniqueness.uniqueness_verdicts(clips).toPandas()  # noqa: W503
             .set_index("part")["observed"].str.split("/").str[0].astype(int))
    for p in (3, 9):
        assert counts[p] == exact[p]


def test_global_hll_estimate_within_bounds(spark, clips, duck):
    est = uniqueness.global_distinct_estimate(clips).collect()[0]
    exact = duck.sql("select count(distinct clip_id) from clips").fetchone()[0]
    assert abs(est["global_distinct_estimate"] - exact) / exact < 0.03


def test_referential_verdicts_and_violations(spark, clips, allowed_codecs, duck):
    v = referential.referential_verdicts(clips, allowed_codecs).toPandas().set_index("part")
    assert set(v.index[~v["passed"]]) == {5, 11}
    viol = referential.referential_violations(clips, allowed_codecs).toPandas()
    want = duck.sql("""
        select part, count(*) n from clips
        where codec not in (select codec from allowed_codecs)
        group by part""").df().set_index("part")["n"]
    got = viol.groupby("part").size()
    assert got.to_dict() == want.to_dict()
    assert (viol["observed"] == "opus").all()


def test_referential_join_is_broadcast(spark, clips, allowed_codecs):
    plan = referential.referential_violations(clips, allowed_codecs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_stats_scan_prunes_bytes_column(spark, clips):
    """The stats pass must never read the audio payload (SURVEY §4 column
    pruning note) — check the parquet ReadSchema."""
    plan = stats.partition_column_stats(clips) \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "bytes" not in m.group(1)


def test_null_violations_follow_the_rounded_rate(spark):
    """10,002 null transcripts in 2,000,200 rows is a rate of 0.00500049995:
    rounded to 6 places it is the 0.005 threshold itself, so the verdict
    passes and the violation oracle lists no row either."""
    from pyspark.sql import functions as F

    df = spark.range(2_000_200).select(
        F.lit(0).alias("part"), F.col("id").cast("string").alias("clip_id"),
        F.when(F.col("id") >= 10_002, F.lit("t")).alias("transcript"))
    st = stats.partition_column_stats(df, numeric_cols=(),
                                      nullable_cols=("transcript",))
    v = stats.null_rate_verdicts(st).collect()
    assert [(r.part, r.passed, r.observed) for r in v] == [(0, True, "0.005")]
    assert violation_oracle.null_violations(df).count() == 0


def test_drift_verdict_matrix(spark, clips):
    v = drift_dist.drift_verdicts(clips).toPandas().set_index("part")
    assert set(v.index[~v["passed"]]) == set(range(8, 16))


def test_psi_ks_against_numpy_oracle(spark, clips, duck):
    got = drift_dist.drift_scores(clips).toPandas().set_index("part").sort_index()
    pdf = duck.sql("select part, dur_ms from clips").df()
    width, n_bins = 100.0, 40
    edges = np.arange(0, (n_bins + 1) * width, width)
    base = pdf[pdf["part"].isin([0, 1, 2, 3])]["dur_ms"].to_numpy()
    bh, _ = np.histogram(np.clip(base, 0, edges[-1] - 1), bins=edges)
    b = bh / bh.sum()
    eps = 1e-6
    for part, grp in pdf.groupby("part"):
        ph, _ = np.histogram(np.clip(grp["dur_ms"].to_numpy(), 0, edges[-1] - 1), bins=edges)
        p = ph / ph.sum()
        psi = np.sum((p + eps - (b + eps)) * np.log((p + eps) / (b + eps)))
        ks = np.max(np.abs(np.cumsum(p) - np.cumsum(b)))
        assert abs(got.loc[part, "psi"] - psi) < 1e-4, part
        assert abs(got.loc[part, "ks"] - ks) < 1e-4, part


def test_jsd_chi2_against_numpy_oracle(spark, clips, duck):
    got = (drift_dist.divergence_scores(clips).toPandas()
           .set_index("part").sort_index())
    pdf = duck.sql("select part, dur_ms from clips").df()
    width, n_bins = 100.0, 40
    edges = np.arange(0, (n_bins + 1) * width, width)
    base = pdf[pdf["part"].isin([0, 1, 2, 3])]["dur_ms"].to_numpy()
    bh, _ = np.histogram(np.clip(base, 0, edges[-1] - 1), bins=edges)
    b = bh / bh.sum()
    eps = 1e-6
    for part, grp in pdf.groupby("part"):
        vals = grp["dur_ms"].to_numpy()
        ph, _ = np.histogram(np.clip(vals, 0, edges[-1] - 1), bins=edges)
        p = ph / ph.sum()
        pe, be = p + eps, b + eps
        m = (pe + be) / 2.0
        jsd = 0.5 * np.sum(pe * np.log(pe / m) + be * np.log(be / m))
        tot = len(vals)
        chi2 = np.sum((p * tot - be * tot) ** 2 / (be * tot))
        assert abs(got.loc[part, "jsd"] - jsd) < 1e-4, part
        assert abs(got.loc[part, "chi2"] - chi2) < 1e-2, part
    # JSD is bounded by ln 2 and near-zero on the baseline's own partitions
    assert (got["jsd"] <= np.log(2) + 1e-9).all()
    assert got.loc[0, "jsd"] < 0.05 < got.loc[10, "jsd"]


def test_charset_quality_counts(spark):
    from drift_detection_pibic___framework_spark.operators.text import (
        charset_quality)
    docs = spark.createDataFrame(
        [(0, "plain ascii."), (1, "café naïve"),
         (2, "x��y"), (3, "a\x01b\x0bc\td\ne"), (4, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in charset_quality(docs).collect()}
    assert (got[0]["n_non_ascii"], got[0]["n_control"]) == (0, 0)
    assert got[1]["n_non_ascii"] == 2 and got[1]["n_replacement"] == 0
    assert got[2]["n_replacement"] == 2 and got[2]["n_non_ascii"] == 2
    # tab and newline are NOT control junk; \x01 and \x0b are
    assert got[3]["n_control"] == 2
    assert got[4]["n_chars"] == 0 and got[4]["non_ascii_ratio"] == 0.0


def test_check_suite_registry_is_single_source(spark, clips, allowed_codecs):
    """plans/suite.py is the ONE definition of the check suite: the full
    verdict union covers every registered check, the streaming subset is
    exactly the streaming_safe ones, and per-check verdict counts match
    the direct operator calls (VERDICT r1 missing #6)."""
    from drift_detection_pibic___framework_spark.plans import suite

    names = {c.name for c in suite.CHECKS}
    assert names == {"null_rate(transcript)", "range(sr_hz)",
                     "unique(clip_id)", "referential(codec)",
                     "dist_drift(dur_ms)"}
    v = suite.suite_verdicts(clips, allowed_codecs).toPandas()
    assert set(v["check_name"]) == names
    assert len(v) == 5 * clips.select("part").distinct().count()

    sv = suite.streaming_suite_verdicts(clips, allowed_codecs).toPandas()
    want_streaming = {c.name for c in suite.CHECKS if c.streaming_safe}
    assert set(sv["check_name"]) == want_streaming

    viol = suite.suite_violations(clips, allowed_codecs)
    assert {"clip_id", "check_name", "observed", "expected",
            "part"} <= set(viol.columns)
    assert viol.count() > 0


def test_ks_pvalue_matches_scipy_style_oracle(spark, clips):
    """The JVM-side asymptotic p expression equals the numpy KS-tail
    oracle (detectors/oracle.py uses the same series), and significance
    lands where drift was injected: baseline parts insignificant,
    drifted parts (8+) p ~ 0."""
    import math

    import pytest

    from drift_detection_pibic___framework_spark.operators import drift_dist

    rows = {r.part: r for r in
            drift_dist.drift_scores_with_p(clips, "dur_ms").collect()}

    def q_ks(lam):
        return max(0.0, min(1.0, sum(
            (2.0 if j % 2 == 1 else -2.0) * math.exp(-2 * (j * lam) ** 2)
            for j in range(1, 21))))

    for p, r in rows.items():
        ne = r.n_part * r.n_base / (r.n_part + r.n_base)
        lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * r.ks
        assert r.ks_p == pytest.approx(q_ks(lam), abs=1e-6), p

    # injected dur_ms drift on parts >= 8 is overwhelmingly significant
    for p in range(8, 16):
        assert rows[p].ks_p < 1e-4, p
    # baseline members compared against their own window: insignificant
    for p in range(0, 4):
        assert rows[p].ks_p > 0.2, p


def test_ks_pvalue_reuses_one_histogram(spark, clips):
    """drift_scores_with_p derives scores AND sample sizes from one
    bin-count aggregation finalized on the driver: building it runs at
    most 2 Spark jobs (the aggregation's shuffle stage and its collect),
    and the returned plan holds literals, never reading the parquet again.
    The former (part x bin) join grid ran 14 jobs here."""
    df, n_jobs = _run_counting_jobs(
        spark, lambda: drift_dist.drift_scores_with_p(clips, "dur_ms"))
    assert n_jobs <= 2
    assert "parquet" not in _plan(df).lower()


def test_ks_pvalue_separate_baseline_one_histogram(spark, clips):
    """With a separate ``baseline=`` frame, drift_scores_with_p aggregates
    that frame's bins once and shares them between the scores and n_base:
    at most 2 Spark jobs per input frame, a returned plan that reads no
    parquet, and scores equal to drift_scores over the same inputs."""
    checked = clips.filter("part >= 8")
    df, n_jobs = _run_counting_jobs(
        spark, lambda: drift_dist.drift_scores_with_p(
            checked, "dur_ms", baseline=clips))
    assert n_jobs <= 4
    assert "parquet" not in _plan(df).lower()
    got = {r.part: (r.psi, r.ks, r.n_base) for r in df.collect()}
    want = {r.part: (r.psi, r.ks) for r in
            drift_dist.drift_scores(checked, "dur_ms",
                                    baseline=clips).collect()}
    n_base = clips.filter("part < 4").count()
    assert got == {p: (psi, ks, n_base) for p, (psi, ks) in want.items()}


def test_emd_against_numpy_oracle(spark, clips, duck):
    """Binned Wasserstein-1 must match width * sum|CDF gap| recomputed in
    numpy, separate drifted partitions from clean ones, and read roughly
    as the injected mean shift in ms (400 -> 700 lognormal)."""
    got = (drift_dist.emd_scores(clips).toPandas()
           .set_index("part").sort_index())
    pdf = duck.sql("select part, dur_ms from clips").df()
    width, n_bins = 100.0, 40
    edges = np.arange(0, (n_bins + 1) * width, width)
    base = pdf[pdf["part"].isin([0, 1, 2, 3])]["dur_ms"].to_numpy()
    bh, _ = np.histogram(np.clip(base, 0, edges[-1] - 1), bins=edges)
    b = bh / bh.sum()
    for part, grp in pdf.groupby("part"):
        ph, _ = np.histogram(
            np.clip(grp["dur_ms"].to_numpy(), 0, edges[-1] - 1), bins=edges)
        p = ph / ph.sum()
        ref = width * np.sum(np.abs(np.cumsum(p) - np.cumsum(b)))
        assert abs(got.loc[part, "emd"] - ref) < 1e-3, part
    # effect size in the column's units: drifted parts (mean 700 vs 400)
    # sit around the injected ~300 ms shift, clean parts near zero
    clean = got.loc[[p for p in got.index if p < 8], "emd"]
    drifted = got.loc[[p for p in got.index if p >= 8], "emd"]
    assert clean.max() < 100
    assert drifted.min() > 150
    assert 150 < drifted.mean() < 500


# -- the fused suite against the per-operator lazy suite --------------------

def _lazy_suite_verdicts(clips, dim, baseline=None,
                         baseline_parts=drift_dist.DEFAULT_BASELINE_PARTS):
    """The suite as it was built before the fused passes: one lazy plan
    per check over a shared stats frame, unioned — the oracle for
    ``suite.suite_verdicts`` (same operators, same thresholds; the drift
    branch is the Spark bin grid of tests/drift_oracle.py, so the driver
    scorer is not compared against itself)."""
    st = stats.partition_column_stats(clips)
    return (stats.null_rate_verdicts(st)
            .unionByName(stats.range_verdicts(st, "sr_hz", 8000, 48000))
            .unionByName(uniqueness.uniqueness_verdicts(clips))
            .unionByName(referential.referential_verdicts(clips, dim))
            .unionByName(drift_oracle.drift_verdicts(
                clips, baseline=baseline, baseline_parts=baseline_parts)))


def _verdict_rows(df):
    return sorted((tuple(r) for r in df.select(
        "part", "check_name", "passed", "observed", "expected").collect()),
        key=lambda t: (t[0], t[1]))


def _edge_clips(spark, clips):
    """The fixture plus three edge partitions: 20 has an all-null dur_ms,
    21 has null codecs, 22 has two null clip_ids."""
    base = clips.drop("bytes")
    rows = []
    for i in range(50):
        rows.append((10_000 + i, f"e20-{i}", 16000, None, "pcm_s16le",
                     "t", 20))
        rows.append((20_000 + i, f"e21-{i}", 16000, 300 + i,
                     None if i % 10 == 0 else "pcm_s16le", "t", 21))
        rows.append((30_000 + i, None if i < 2 else f"e22-{i}", 16000,
                     400 + 7 * i, "pcm_s16le", None if i == 3 else "t", 22))
    edge = spark.createDataFrame(rows, base.schema)
    return base.unionByName(edge)


def test_fused_suite_equals_lazy_suite_on_fixture(spark, clips,
                                                  allowed_codecs):
    """Rows identical to the lazy union, Spark's number formatting in
    ``observed`` included; the streaming subset likewise."""
    from drift_detection_pibic___framework_spark.plans import suite

    got = _verdict_rows(suite.suite_verdicts(clips, allowed_codecs))
    assert got == _verdict_rows(_lazy_suite_verdicts(clips, allowed_codecs))
    names = {c.name for c in suite.CHECKS if c.streaming_safe}
    want = [r for r in got if r[1] in names]
    assert _verdict_rows(suite.streaming_suite_verdicts(
        clips, allowed_codecs)) == want


def test_flagship_query_runs_the_production_suite(spark, clips,
                                                  allowed_codecs,
                                                  fixture_dir):
    """The registry's flagship ``clips_validation_verdicts`` is the fused
    suite, and its rows still equal the lazy union it used to build."""
    from drift_detection_pibic___framework_spark import queries as Q

    got = Q.QUERIES["clips_validation_verdicts"](spark, fixture_dir)
    # finalized in Python: a literal frame, not a lazy plan that would
    # scan the table again
    assert "FileScan" not in _plan(got)
    assert _verdict_rows(got) == \
        _verdict_rows(_lazy_suite_verdicts(clips, allowed_codecs))


def test_fused_suite_equals_lazy_suite_on_edge_inputs(spark, clips,
                                                      allowed_codecs):
    from drift_detection_pibic___framework_spark.plans import suite

    dim = allowed_codecs
    edge = _edge_clips(spark, clips)
    got = _verdict_rows(suite.suite_verdicts(edge, dim))
    assert got == _verdict_rows(_lazy_suite_verdicts(edge, dim))
    by = {(r[0], r[1]): r for r in got}
    assert by[(21, "referential(codec)")][2] is False      # null codec
    assert by[(22, "unique(clip_id)")][2] is False         # two null ids
    assert by[(20, "dist_drift(dur_ms)")][3].startswith("psi=")

    # baseline partitions absent: drift fails closed with a null observed
    late = edge.filter("part >= 8")
    got = _verdict_rows(suite.suite_verdicts(late, dim))
    assert got == _verdict_rows(_lazy_suite_verdicts(late, dim))
    drift = [r for r in got if r[1] == "dist_drift(dur_ms)"]
    assert drift and all(r[2] is False and r[3] is None for r in drift)

    # an empty partition has no aggregate row, hence no verdict rows
    empty = edge.filter("part = 99")
    assert _verdict_rows(suite.suite_verdicts(empty, dim)) == []
    assert _verdict_rows(_lazy_suite_verdicts(empty, dim)) == []

    # a separate baseline frame (the runner's shape once the baseline
    # partitions are done)
    got = _verdict_rows(suite.suite_verdicts(late, dim, baseline=edge))
    assert got == _verdict_rows(_lazy_suite_verdicts(late, dim,
                                                     baseline=edge))


def test_fused_suite_duplicated_dimension_rows(spark, clips,
                                               allowed_codecs):
    """Every codec listed twice in the dimension changes no verdict and no
    stat: pass 1 joins the dimension's distinct codec set, so no clip is
    counted twice."""
    from drift_detection_pibic___framework_spark.plans import suite

    dup = allowed_codecs.unionByName(allowed_codecs)
    edge = _edge_clips(spark, clips)
    got = _verdict_rows(suite.suite_verdicts(edge, dup))
    assert got == _verdict_rows(_lazy_suite_verdicts(edge, dup))
    assert got == _verdict_rows(suite.suite_verdicts(edge, allowed_codecs))
    want = {r["part"]: r.asDict()
            for r in stats.partition_column_stats(edge).collect()}
    assert suite.collect_suite(edge, dup).stats == want


def test_fused_suite_every_violation_implies_failing_verdict(
        spark, clips, allowed_codecs):
    """Every violation row's check failed for its partition, null clip_ids
    and null codecs included, and the violations restricted to failing
    partitions equal the unrestricted per-check union
    (tests/violation_oracle.py), as does ``suite_violations``."""
    from drift_detection_pibic___framework_spark.plans import suite

    assert set(violation_oracle.BUILDERS) == {
        c.name for c in suite.CHECKS if c.breach}
    edge = _edge_clips(spark, clips)
    run = suite.collect_suite(edge, allowed_codecs)
    failing = {(v.part, v.check_name) for v in run.verdicts if not v.passed}
    full = violation_oracle.suite_violations(edge, allowed_codecs)
    keyed = {(r["part"], r["check_name"]) for r in
             full.select("part", "check_name").distinct().collect()}
    assert {(21, "referential(codec)"), (22, "unique(clip_id)")} <= keyed
    assert keyed <= failing

    def rows(df):
        return sorted(tuple("" if x is None else str(x) for x in r)
                      for r in df.collect())
    restricted = suite.failing_violations(edge, allowed_codecs, run.verdicts)
    assert restricted.columns == list(suite.VIOLATION_COLS)
    assert rows(restricted) == rows(full)
    assert rows(suite.suite_violations(edge, allowed_codecs)) == rows(full)
    # nothing failing: no rows, same columns
    clean = edge.filter("part IN (0, 1)")
    assert suite.failing_violations(
        clean, allowed_codecs,
        suite.collect_suite(clean, allowed_codecs).verdicts) is None
    none = suite.suite_violations(clean, allowed_codecs)
    assert none.columns == list(suite.VIOLATION_COLS) and none.count() == 0


def test_fused_suite_number_formatting_matches_spark(spark):
    """``round(double, 6)`` and ``CAST(double AS STRING)`` reproduced on the
    driver: plain and scientific notation, HALF_UP ties, zero."""
    import random

    from pyspark.sql import functions as F

    from drift_detection_pibic___framework_spark.functions.literals import (
        jround, jstr)

    rnd = random.Random(7)
    vals = [0.0, -0.0, 5e-4, 1e-3, 9.99e-4, 1e-7, 0.0078125, 2.5e-7,
            0.0050005, 123.456789, 9999999.0, 1e7, 12345678.9, 1 / 3]
    vals += [rnd.uniform(0, 2) for _ in range(3000)]
    vals += [10 ** rnd.uniform(-8, 8) for _ in range(3000)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, v double")
    for r in df.select("i", F.round("v", 6).alias("r"),
                       F.round("v", 6).cast("string").alias("s")).collect():
        assert jround(vals[r.i]) == r.r, vals[r.i]
        assert jstr(r.r) == r.s, r.r


def test_fused_suite_plan_shape(spark, clips, allowed_codecs):
    """Pass 1 is one aggregation with no Expand and no distinct aggregate
    (a count_distinct there would carry every percentile_approx buffer at
    (part, clip_id) grain), and the verdict phase reads the clips parquet
    at most twice: once per pass (the third scan is the 3-row codec
    dimension under the broadcast)."""
    import re

    from drift_detection_pibic___framework_spark.plans import suite

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p1 = plan(suite.aggregate_plan(clips, allowed_codecs))
    assert "Expand" not in p1
    assert not re.search(r"\(distinct ", p1)
    assert "BroadcastHashJoin" in p1 or "BroadcastExchange" in p1
    p2 = plan(suite.distinct_plan(clips))
    scans = re.findall(r"(?:FileScan|Scan) parquet [^\n]*", p1 + p2)
    clip_scans = [s for s in scans if "allowed_codecs" not in s]
    assert len(clip_scans) <= 2, scans
    assert len(scans) - len(clip_scans) <= 1, scans
    assert "bytes" not in " ".join(re.findall(r"ReadSchema: ([^\n]*)", p1))
    # both passes are one query, collected once, with the same scans
    one = plan(suite.suite_plan(clips, allowed_codecs))
    assert "Expand" not in one and not re.search(r"\(distinct ", one)
    scans = re.findall(r"(?:FileScan|Scan) parquet [^\n]*", one)
    clip_scans = [s for s in scans if "allowed_codecs" not in s]
    assert len(clip_scans) <= 2, scans
    assert len(scans) - len(clip_scans) <= 1, scans
    assert "bytes" not in " ".join(re.findall(r"ReadSchema: ([^\n]*)", one))


def test_violation_plan_one_scan_one_shuffle(spark, clips, allowed_codecs):
    """The violations of every failing check come from one scan of the
    clips and one shuffle: the duplicate window groups by (part, clip_id)
    within the hash partitioning by part that the partitioned write
    keeps.  The codec-miss mark is a broadcast join on the map side."""
    import re

    from drift_detection_pibic___framework_spark.plans import suite

    run = suite.collect_suite(clips, allowed_codecs)
    assert {v.check_name for v in run.verdicts if not v.passed} >= {
        c.name for c in suite.CHECKS if c.breach}
    p = _plan(suite.failing_violations(clips, allowed_codecs, run.verdicts))
    scans = re.findall(r"(?:FileScan|Scan) parquet [^\n]*", p)
    assert len([s for s in scans if "allowed_codecs" not in s]) == 1, scans
    assert len(re.findall(r"(?<!Broadcast)Exchange ", p)) == 1, p
    assert "Window" in p and "BroadcastHashJoin" in p


def test_suite_plans_build_in_few_py4j_commands(spark, clips,
                                                allowed_codecs):
    """Building pass 1 and the violation plan on the fixture takes few py4j
    commands: their expressions are SQL text, parsed in one call each,
    where every ``Column`` call first records its Python call site in the
    JVM.  Built from ``Column`` calls they took 2,292 (pass 1) and 915
    (violation plan) commands; as SQL text 141 and 145."""
    from drift_detection_pibic___framework_spark.plans import suite

    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []

    def counting(*a, **k):
        sent.append(1)
        return real(*a, **k)

    def commands(fn):
        sent.clear()
        client.send_command = counting
        try:
            fn()
        finally:
            client.send_command = real
        return len(sent)

    verdicts = suite.collect_suite(clips, allowed_codecs).verdicts
    assert commands(lambda: suite.aggregate_plan(clips, allowed_codecs)) \
        <= 400
    assert commands(lambda: suite.failing_violations(
        clips, allowed_codecs, verdicts)) <= 300


def test_check_registry_has_no_lazy_verdict_builders(spark):
    from drift_detection_pibic___framework_spark.plans import suite

    for c in suite.CHECKS:
        assert not hasattr(c, "verdicts")
        assert callable(c.finalize)

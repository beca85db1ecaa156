"""Batch checks vs the DuckDB oracle (SURVEY §5 'stats oracle via duckdb')
plus golden verdict-matrix assertions (FIXTURES.md §5)."""

import numpy as np

from drift_detection_pibic___framework_spark.operators import (
    drift_dist, referential, stats, uniqueness)


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
    """drift_scores_with_p must derive scores AND sample sizes from the one
    materialized (part, bin) histogram: with no separate baseline frame its
    whole plan reads the checkpointed counts, never the raw parquet again
    (optimization round: the p-value variant used to rebuild its own lazy
    histogram beside the checkpointed one — a second full scan)."""
    plan = drift_dist.drift_scores_with_p(clips, "dur_ms") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower()
    assert "ExistingRDD" in plan


def test_ks_pvalue_separate_baseline_one_histogram(spark, clips):
    """With a separate ``baseline=`` frame, drift_scores_with_p builds that
    frame's histogram once and shares it between the scores and n_base:
    the plan reads only checkpointed counts, and the scores equal
    drift_scores over the same inputs."""
    from drift_detection_pibic___framework_spark.operators import drift_dist

    checked = clips.filter("part >= 8")
    df = drift_dist.drift_scores_with_p(checked, "dur_ms", baseline=clips)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower()
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

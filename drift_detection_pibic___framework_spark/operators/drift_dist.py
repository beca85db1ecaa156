"""Distribution-drift scores (PSI / KS) per partition vs a baseline window.

north_rule: "PSI/KS distribution-drift scores between a baseline window and
each incoming partition".  The reference's baseline window is its FIFO
``janela_dados_recentes`` of the last 200 samples
(/root/reference/frameworkDetector/framework_detector.py:127-132); at table
scale the window becomes a set of designated baseline partitions (FIXTURES.md:
p0-p3), and per-sample comparison becomes per-partition histogram comparison.

Scale notes:
- Histograms use FIXED equal-width bins, so each partition reduces to
  <= n_bins rows via one map-side-combining groupBy — the shuffle carries
  bin counts, never values. This is the only formulation that stays O(bins)
  at 10^12 rows (exact KS would need a global sort).
- Binned KS (max ECDF gap over bin boundaries) converges to exact KS as bins
  grow; the numpy oracle in tests cross-checks both.
- Baseline histogram is tiny (n_bins rows) and broadcast into the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_BASELINE_PARTS = (0, 1, 2, 3)
EPS = 1e-6


def bin_index(col: str, width: float, n_bins: int):
    """The equal-width bin of ``col``, clamped to [0, n_bins-1].  A null
    value lands in bin 0 (``greatest`` skips nulls), so every row of a
    partition is counted in its histogram."""
    return F.least(F.greatest(F.floor(F.col(col) / F.lit(width)), F.lit(0)),
                   F.lit(n_bins - 1)).cast("int")


def binned(clips: DataFrame, col: str, width: float, n_bins: int) -> DataFrame:
    """Add a ``bin`` column: equal-width, clamped to [0, n_bins-1]."""
    return clips.select("part", bin_index(col, width, n_bins).alias("bin"))


def histogram(clips: DataFrame, col: str, width: float = 100.0,
              n_bins: int = 40) -> DataFrame:
    """Per-(part, bin) counts — one aggregation, O(parts*bins) output."""
    return (binned(clips, col, width, n_bins)
            .groupBy("part", "bin").agg(F.count(F.lit(1)).alias("cnt")))


def _histogram_once(clips: DataFrame, col: str, width: float,
                    n_bins: int) -> DataFrame:
    """The histogram, materialized ONCE (eager localCheckpoint).  Every
    binned divergence derives baseline, totals and the dense grid from
    the same (part, bin) counts; in a lazy plan that subtree appears 3x,
    so the raw-row scan+aggregate ran three times per evaluation
    (optimization round: drift branch 1.0 s -> the one histogram pass).
    The checkpointed table is O(parts x bins) rows — tiny at any input
    scale — and its blocks are freed when the frame is GC'd, so nothing
    stays pinned across calls."""
    return histogram(clips, col, width, n_bins).localCheckpoint(eager=True)


def _proportions_grid(clips: DataFrame, col: str, width: float, n_bins: int,
                      baseline_parts, baseline: DataFrame) -> DataFrame:
    """Dense (part, bin) grid with partition proportion ``p``, baseline
    proportion ``b`` and partition row count ``tot`` — the shared input of
    every binned divergence.  Zero bins participate identically regardless
    of which partitions are being validated (single-partition runs must
    score the same as full-table runs)."""
    hist = _histogram_once(clips, col, width, n_bins)
    base_src = (histogram(baseline, col, width, n_bins)
                if baseline is not None else hist)
    base = (base_src.filter(F.col("part").isin(list(baseline_parts)))
            .groupBy("bin").agg(F.sum("cnt").alias("bcnt")))
    totals = hist.groupBy("part").agg(F.sum("cnt").alias("tot"))
    btot = base.agg(F.sum("bcnt").alias("btot"))
    parts = hist.select("part").distinct()
    bins = (clips.sparkSession.range(n_bins)
            .select(F.col("id").cast("int").alias("bin")))
    grid = parts.crossJoin(F.broadcast(bins))
    return (grid
            .join(hist, ["part", "bin"], "left")
            .join(F.broadcast(base), ["bin"], "left")
            .join(F.broadcast(totals), ["part"])
            .crossJoin(F.broadcast(btot))
            .select(
                "part", "bin", "tot",
                (F.coalesce(F.col("cnt"), F.lit(0)) / F.col("tot"))
                .alias("p"),
                (F.coalesce(F.col("bcnt"), F.lit(0)) / F.col("btot"))
                .alias("b")))


def divergence_scores(clips: DataFrame, col: str = "dur_ms",
                      width: float = 100.0, n_bins: int = 40,
                      baseline_parts=DEFAULT_BASELINE_PARTS,
                      baseline: DataFrame = None,
                      round_to: int = 6) -> DataFrame:
    """Per-partition Jensen-Shannon divergence and chi-squared statistic vs
    the baseline window — the two standard companions to PSI/KS (JSD is
    bounded [0, ln 2] and symmetric, so it ranks drifted partitions even
    where PSI saturates; chi-squared carries the sample size, so it feeds a
    significance test rather than an effect size).

    JSD  = 0.5*KL(p||m) + 0.5*KL(b||m), m = (p+b)/2, natural log,
           EPS-smoothed proportions (same smoothing as PSI).
    chi2 = sum over bins of (observed - expected)^2 / expected with
           expected = smoothed-baseline-proportion * partition row count.

    Same O(parts x bins) shape as drift_scores: counts shuffle once,
    everything else is broadcast — scale-safe at 10^12 rows."""
    g = _proportions_grid(clips, col, width, n_bins, baseline_parts, baseline)
    pe = F.col("p") + F.lit(EPS)
    be = F.col("b") + F.lit(EPS)
    me = (pe + be) / F.lit(2.0)
    jsd_term = (pe * F.log(pe / me) + be * F.log(be / me)) / F.lit(2.0)
    expected = be * F.col("tot")
    chi2_term = F.pow(F.col("p") * F.col("tot") - expected, 2) / expected
    return (g.select("part", jsd_term.alias("jsd_term"),
                     chi2_term.alias("chi2_term"))
            .groupBy("part")
            .agg(F.round(F.sum("jsd_term"), round_to).alias("jsd"),
                 F.round(F.sum("chi2_term"), round_to).alias("chi2")))


def emd_scores(clips: DataFrame, col: str = "dur_ms", width: float = 100.0,
               n_bins: int = 40,
               baseline_parts=DEFAULT_BASELINE_PARTS,
               baseline: DataFrame = None,
               round_to: int = 6) -> DataFrame:
    """Per-partition Wasserstein-1 (earth-mover) distance vs the baseline
    window, from the same binned histograms as PSI/KS: for equal-width
    bins, W1 = width * sum over bins of |CDF_part - CDF_baseline|.  The
    magnitude-aware complement of the existing gates — KS reports the
    LARGEST CDF gap (shift detection), PSI/JSD weigh probability ratios
    (shape), while W1 integrates the gap, so its value is the average
    shift IN THE COLUMN'S OWN UNITS (ms for dur_ms): an effect size a
    threshold policy can read directly ("dur_ms moved ~300 ms").

    Binning granularity bounds the error at +-width (exact W1 needs a
    global sort — the same trade the binned KS makes).  No smoothing: W1
    has no ratios or logs, so zero bins need no EPS.  Same
    O(parts x bins) shuffle shape as drift_scores."""
    from pyspark.sql import Window
    g = _proportions_grid(clips, col, width, n_bins, baseline_parts,
                          baseline)
    w = (Window.partitionBy("part").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    gap = F.abs(F.sum("p").over(w) - F.sum("b").over(w))
    return (g.select("part", gap.alias("gap"))
            .groupBy("part")
            .agg(F.round(F.sum("gap") * F.lit(width), round_to)
                 .alias("emd")))


def drift_scores(clips: DataFrame, col: str = "dur_ms", width: float = 100.0,
                 n_bins: int = 40,
                 baseline_parts=DEFAULT_BASELINE_PARTS,
                 baseline: DataFrame = None,
                 round_to: int = 6,
                 _hist: DataFrame = None,
                 _base_hist: DataFrame = None) -> DataFrame:
    """Per-partition PSI and binned-KS vs the baseline partitions.

    PSI = sum over bins of (p - b) * ln(p / b) with EPS-smoothed proportions
    (published population-stability-index formulation).
    KS  = max over bin boundaries of |CDF_part - CDF_baseline|.

    ``baseline`` lets the caller source the baseline window from a different
    DataFrame than the partitions under check (single-partition validation
    still compares against the designated baseline partitions on disk).
    ``_hist`` and ``_base_hist`` (internal) let a composite caller supply
    the already materialized (part, bin) counts of ``clips`` and of
    ``baseline`` so each raw scan runs once."""
    hist = _hist if _hist is not None else _histogram_once(
        clips, col, width, n_bins)
    if _base_hist is not None:
        base_src = _base_hist
    elif baseline is not None:
        base_src = histogram(baseline, col, width, n_bins)
    else:
        base_src = hist
    base = (base_src.filter(F.col("part").isin(list(baseline_parts)))
            .groupBy("bin").agg(F.sum("cnt").alias("bcnt")))
    totals = hist.groupBy("part").agg(F.sum("cnt").alias("tot"))
    btot = base.agg(F.sum("bcnt").alias("btot"))

    # dense (part x bin) grid over the FULL fixed bin range so zero bins
    # participate in smoothing identically regardless of which partitions
    # are being validated (single-partition runs must score the same)
    parts = hist.select("part").distinct()
    bins = (clips.sparkSession.range(n_bins)
            .select(F.col("id").cast("int").alias("bin")))
    grid = parts.crossJoin(F.broadcast(bins))

    j = (grid
         .join(hist, ["part", "bin"], "left")
         .join(F.broadcast(base), ["bin"], "left")
         .join(F.broadcast(totals), ["part"])
         .crossJoin(F.broadcast(btot))
         .select(
             "part", "bin",
             (F.coalesce(F.col("cnt"), F.lit(0)) / F.col("tot")).alias("p"),
             (F.coalesce(F.col("bcnt"), F.lit(0)) / F.col("btot")).alias("b")))

    pe = F.col("p") + F.lit(EPS)
    be = F.col("b") + F.lit(EPS)
    from pyspark.sql import Window
    w = (Window.partitionBy("part").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    scored = j.select(
        "part",
        ((pe - be) * F.log(pe / be)).alias("psi_term"),
        F.abs(F.sum("p").over(w) - F.sum("b").over(w)).alias("ecdf_gap"))
    out = (scored.groupBy("part")
           .agg(F.round(F.sum("psi_term"), round_to).alias("psi"),
                F.round(F.max("ecdf_gap"), round_to).alias("ks")))
    return out


def ks_asymptotic_p(d, n1, n2, terms: int = 20):
    """Asymptotic two-sample KS p-value as a column expression — the
    Kolmogorov distribution tail Q(λ) = 2·Σ_{j≥1} (-1)^{j-1} e^{-2j²λ²}
    with the finite-sample correction λ = (√nₑ + 0.12 + 0.11/√nₑ)·D,
    nₑ = n₁n₂/(n₁+n₂) (Numerical Recipes §14.3; same series as the KSWIN
    oracle at detectors/oracle.py:346, lifted to a JVM-side expression so
    the partition gate can emit significance without Python).  The series
    alternates and collapses double-exponentially, so ``terms``=20 is far
    past float64 exhaustion for any λ where p is distinguishable from 1;
    the clamp keeps tiny-λ truncation inside [0, 1]."""
    ne = (n1.cast("double") * n2) / (n1 + n2)
    lam = (F.sqrt(ne) + 0.12 + 0.11 / F.sqrt(ne)) * d
    term = lambda j: (F.when(j % 2 == 1, 2.0).otherwise(-2.0)  # noqa: E731
                      * F.exp(-2.0 * (j * lam) * (j * lam)))
    series = F.aggregate(F.sequence(F.lit(1), F.lit(int(terms))),
                         F.lit(0.0),
                         lambda acc, j: acc + term(j.cast("double")))
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), series))


def drift_scores_with_p(clips: DataFrame, col: str = "dur_ms",
                        width: float = 100.0, n_bins: int = 40,
                        baseline_parts=DEFAULT_BASELINE_PARTS,
                        baseline: DataFrame = None,
                        round_to: int = 6) -> DataFrame:
    """``drift_scores`` plus the binned-KS asymptotic p-value per
    partition (SURVEY §7.2 step 4's "with asymptotic p-value").  Sample
    sizes ride the same single aggregation pass (per-partition and
    baseline row counts over the binned values).  The (part, bin) counts
    are materialized ONCE and shared with ``drift_scores`` — previously
    this variant rebuilt its own lazy histogram beside the checkpointed
    one, costing a second full scan+aggregate per evaluation.  A separate
    ``baseline`` frame's histogram is likewise materialized once and feeds
    both the scores and ``n_base``."""
    hist = _histogram_once(clips, col, width, n_bins)
    base_src = (_histogram_once(baseline, col, width, n_bins)
                if baseline is not None else hist)
    scores = drift_scores(clips, col, width, n_bins, baseline_parts,
                          baseline, round_to, _hist=hist,
                          _base_hist=base_src)
    totals = hist.groupBy("part").agg(F.sum("cnt").alias("n_part"))
    btot = (base_src.filter(F.col("part").isin(list(baseline_parts)))
            .agg(F.sum("cnt").alias("n_base")))
    j = scores.join(F.broadcast(totals), "part").crossJoin(F.broadcast(btot))
    return j.select(
        "part", "psi", "ks", "n_part", "n_base",
        F.round(ks_asymptotic_p(F.col("ks"), F.col("n_part"),
                                F.col("n_base")), round_to)
        .alias("ks_p"))


def drift_verdicts(clips: DataFrame, col: str = "dur_ms",
                   psi_threshold: float = 0.2,
                   baseline_parts=DEFAULT_BASELINE_PARTS,
                   baseline: DataFrame = None,
                   **kw) -> DataFrame:
    """Per-partition pass/fail on PSI vs baseline (golden matrix: p8..p15
    fail dur_ms drift at PSI > 0.2, the published 'significant shift' level).
    Baseline partitions pass by construction (PSI vs themselves ~ 0).
    A null PSI (baseline window unavailable) fails closed."""
    s = drift_scores(clips, col, baseline_parts=baseline_parts,
                     baseline=baseline, **kw)
    return s.select(
        "part",
        F.lit(f"dist_drift({col})").alias("check_name"),
        F.coalesce(F.col("psi") <= F.lit(psi_threshold), F.lit(False))
        .alias("passed"),
        F.concat(F.lit("psi="), F.col("psi").cast("string"),
                 F.lit(" ks="), F.col("ks").cast("string")).alias("observed"),
        F.lit(f"psi <= {psi_threshold}").alias("expected"))

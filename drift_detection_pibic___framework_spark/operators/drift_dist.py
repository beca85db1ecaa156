"""Distribution-drift scores per partition vs a baseline window: PSI,
binned KS with its asymptotic p-value, Jensen-Shannon, chi-squared and
Wasserstein-1.

north_rule: "PSI/KS distribution-drift scores between a baseline window and
each incoming partition".  The reference's baseline window is its FIFO
``janela_dados_recentes`` of the last 200 samples
(/root/reference/frameworkDetector/framework_detector.py:127-132); at table
scale the window becomes a set of designated baseline partitions (FIXTURES.md:
p0-p3), and per-sample comparison becomes per-partition histogram comparison.

Every score is a function of O(parts x bins) counts, so it follows the
analyzer model of Deequ (Schelter et al., VLDB 2018): ONE ``groupBy(part)``
aggregation carries the bins as ``count_if`` columns (``bin_aggs``; the
fused check suite in plans/suite.py puts the same column into its pass 1),
the counts are collected, and ``score`` turns a partition's counts and the
baseline window's into every divergence on the driver.  The public
functions return those rows as a DataFrame of literals, which runs no
further job.

Scale notes:
- Bins are FIXED and equal-width, so the aggregation reduces each
  partition to n_bins counts with map-side partial aggregation: the shuffle
  carries one row per (input split x part), never values.  This stays
  O(bins) at 10^12 rows (exact KS would need a global sort).
- Binned KS (max ECDF gap over bin boundaries) converges to exact KS as bins
  grow; the numpy oracle in tests cross-checks both.
- Zero bins take part in the smoothing whichever partitions are under check,
  so a single-partition run scores the same as a full-table run.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType)

from ..functions.literals import (jround, jstr, literal_frame, sql_ident,
                                  sql_lit)

DEFAULT_BASELINE_PARTS = (0, 1, 2, 3)
EPS = 1e-6


def _bin_sql(col: str, width: float, n_bins: int) -> str:
    return (f"CAST(least(greatest(floor({sql_ident(col)} / {sql_lit(width)}),"
            f" 0), {n_bins - 1}) AS INT)")


def bin_index(col: str, width: float, n_bins: int) -> Column:
    """The equal-width bin of ``col``, clamped to [0, n_bins-1].  A null
    value lands in bin 0 (``greatest`` skips nulls), so every row of a
    partition is counted in its histogram."""
    return F.expr(_bin_sql(col, width, n_bins))


def bin_aggs(col: str, width: float = 100.0, n_bins: int = 40) -> str:
    """The histogram of ``col`` as one aggregate in SQL text: an array of
    ``n_bins`` ``count_if`` counts of ``bin_index``, so it rides any
    ``groupBy(part)`` and parses in one call."""
    b = _bin_sql(col, width, n_bins)
    return ("array(" + ", ".join(f"count_if({b} = {i})"
                                 for i in range(n_bins)) + ")")


def bin_count_plan(df: DataFrame, col: str = "dur_ms", width: float = 100.0,
                   n_bins: int = 40, parts=None) -> DataFrame:
    """(part, bins): one aggregation, restricted to ``parts`` first when
    given."""
    if parts is not None:
        df = df.filter(F.col("part").isin(list(parts)))
    return df.groupBy("part").agg(
        F.expr(bin_aggs(col, width, n_bins) + " AS bins"))


def bin_counts(df: DataFrame, col: str = "dur_ms", width: float = 100.0,
               n_bins: int = 40, parts=None) -> dict:
    """``{part: [count per bin]}``, collected from ``bin_count_plan``."""
    return {r["part"]: r["bins"]
            for r in bin_count_plan(df, col, width, n_bins, parts).collect()}


def baseline_counts(counts: dict, baseline_parts) -> Optional[list]:
    """The baseline window's summed bin counts; None when none of its
    partitions has a row."""
    src = [counts[p] for p in baseline_parts if p in counts]
    return [sum(c) for c in zip(*src)] if src else None


KS_MIN_LAMBDA = 0.2


def ks_p_value(d: float, n1: int, n2: int) -> float:
    """Asymptotic two-sample KS p-value: the Kolmogorov distribution tail
    Q(λ) = 2·Σ_{j≥1} (-1)^{j-1} e^{-2j²λ²} with the finite-sample correction
    λ = (√nₑ + 0.12 + 0.11/√nₑ)·D, nₑ = n₁n₂/(n₁+n₂) (Numerical Recipes
    §14.3; same series as the KSWIN oracle at detectors/oracle.py:346).
    For λ >= ``KS_MIN_LAMBDA`` the 20-term partial sum is within 1e-15 of
    Q(λ).  Below it the truncated series has not converged (at λ = 0 it
    sums to 0) while Q(λ) > 1 - 1e-12, so p is 1.0 there, as Numerical
    Recipes' ``probks`` returns 1 when its series does not converge."""
    ne = (float(n1) * n2) / (n1 + n2)
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d
    if lam < KS_MIN_LAMBDA:
        return 1.0
    series = 0.0
    for j in range(1, 21):
        series += ((2.0 if j % 2 == 1 else -2.0)
                   * math.exp(-2.0 * (j * lam) * (j * lam)))
    return min(1.0, max(0.0, series))


def score(counts: list, base: Optional[list], width: float = 100.0,
          round_to: int = 6) -> dict:
    """Every binned divergence of one partition's bin counts against the
    baseline window's summed counts ``base``, with p = count / partition
    rows and b = base count / baseline rows per bin:

    psi   = Σ (p' - b') ln(p'/b'), EPS-smoothed p' = p + EPS, b' = b + EPS
            (published population-stability-index formulation);
    ks    = max over bin boundaries of |CDF_p - CDF_b|;
    jsd   = Σ (p' ln(p'/m) + b' ln(b'/m)) / 2, m = (p' + b') / 2: bounded
            by ln 2 and symmetric, so it ranks drifted partitions where PSI
            saturates;
    chi2  = Σ (p·n - b'·n)² / (b'·n), n = partition rows: carries the
            sample size, so it feeds a significance test;
    emd   = width · Σ |CDF_p - CDF_b|: Wasserstein-1, the average shift in
            the column's own units (binning bounds its error at ±width);
    ks_p  = ``ks_p_value`` of the rounded ks, n_part and n_base.

    Each score is rounded like Spark's ``round(x, round_to)``.  With an
    empty baseline window every score is null, except that ``n_part``
    stays the partition's row count and ``ks_p`` is 0.0, so a gate on
    ``ks_p < alpha`` fails closed."""
    n, btot = sum(counts), sum(base) if base else 0
    if not btot:
        return dict(psi=None, ks=None, jsd=None, chi2=None, emd=None,
                    n_part=n, n_base=None, ks_p=0.0)
    psi = ks = jsd = chi2 = gaps = cp = cb = 0.0
    for c, bc in zip(counts, base):
        p, b = c / n, bc / btot
        pe, be = p + EPS, b + EPS
        me = (pe + be) / 2.0
        psi += (pe - be) * math.log(pe / be)
        jsd += (pe * math.log(pe / me) + be * math.log(be / me)) / 2.0
        chi2 += (p * n - be * n) ** 2 / (be * n)
        cp += p
        cb += b
        gaps += abs(cp - cb)
        ks = max(ks, abs(cp - cb))
    ks = jround(ks, round_to)
    return dict(psi=jround(psi, round_to), ks=ks, jsd=jround(jsd, round_to),
                chi2=jround(chi2, round_to),
                emd=jround(gaps * width, round_to), n_part=n, n_base=btot,
                ks_p=jround(ks_p_value(ks, n, btot), round_to))


def drift_verdict(psi, ks, psi_threshold: float = 0.2) -> tuple:
    """(passed, observed, expected) of the PSI gate; a null PSI (baseline
    window unavailable) fails closed."""
    observed = (None if psi is None or ks is None
                else f"psi={jstr(psi)} ks={jstr(ks)}")
    return (psi is not None and psi <= psi_threshold, observed,
            f"psi <= {psi_threshold}")


def _scores(clips: DataFrame, col: str = "dur_ms", width: float = 100.0,
            n_bins: int = 40, baseline_parts=DEFAULT_BASELINE_PARTS,
            baseline: DataFrame = None, round_to: int = 6) -> dict:
    """``{part: score(...)}``: one aggregation over ``clips``, plus one
    over the baseline partitions of a separate ``baseline`` frame."""
    counts = bin_counts(clips, col, width, n_bins)
    base_src = (counts if baseline is None else
                bin_counts(baseline, col, width, n_bins, baseline_parts))
    base = baseline_counts(base_src, baseline_parts)
    return {p: score(c, base, width, round_to) for p, c in counts.items()}


def _score_frame(cols: tuple, clips: DataFrame, *args) -> DataFrame:
    """(part, *cols) of every partition's ``score``, as literal rows."""
    schema = StructType(
        [StructField("part", clips.schema["part"].dataType)]
        + [StructField(c, LongType() if c in ("n_part", "n_base")
                        else DoubleType())
           for c in cols])
    return literal_frame(clips.sparkSession,
                         [(p, *[s[c] for c in cols])
                          for p, s in _scores(clips, *args).items()], schema)


def drift_scores(clips: DataFrame, col: str = "dur_ms", width: float = 100.0,
                 n_bins: int = 40,
                 baseline_parts=DEFAULT_BASELINE_PARTS,
                 baseline: DataFrame = None,
                 round_to: int = 6) -> DataFrame:
    """Per-partition PSI and binned KS vs the baseline partitions (see
    ``score``).

    ``baseline`` lets the caller source the baseline window from a different
    DataFrame than the partitions under check (single-partition validation
    still compares against the designated baseline partitions on disk)."""
    return _score_frame(("psi", "ks"), clips, col, width, n_bins,
                        baseline_parts, baseline, round_to)


def divergence_scores(clips: DataFrame, col: str = "dur_ms",
                      width: float = 100.0, n_bins: int = 40,
                      baseline_parts=DEFAULT_BASELINE_PARTS,
                      baseline: DataFrame = None,
                      round_to: int = 6) -> DataFrame:
    """Per-partition Jensen-Shannon divergence and chi-squared statistic vs
    the baseline window, the two standard companions to PSI/KS (see
    ``score``)."""
    return _score_frame(("jsd", "chi2"), clips, col, width, n_bins,
                        baseline_parts, baseline, round_to)


def emd_scores(clips: DataFrame, col: str = "dur_ms", width: float = 100.0,
               n_bins: int = 40,
               baseline_parts=DEFAULT_BASELINE_PARTS,
               baseline: DataFrame = None,
               round_to: int = 6) -> DataFrame:
    """Per-partition Wasserstein-1 (earth-mover) distance vs the baseline
    window.  The magnitude-aware complement of the other gates: KS reports
    the LARGEST CDF gap, PSI/JSD weigh probability ratios, while W1
    integrates the gap, so it reads in the column's own units (ms for
    dur_ms), an effect size a threshold policy can read directly."""
    return _score_frame(("emd",), clips, col, width, n_bins,
                        baseline_parts, baseline, round_to)


def drift_scores_with_p(clips: DataFrame, col: str = "dur_ms",
                        width: float = 100.0, n_bins: int = 40,
                        baseline_parts=DEFAULT_BASELINE_PARTS,
                        baseline: DataFrame = None,
                        round_to: int = 6) -> DataFrame:
    """``drift_scores`` plus the sample sizes and the binned-KS asymptotic
    p-value per partition (SURVEY §7.2 step 4's "with asymptotic
    p-value")."""
    return _score_frame(("psi", "ks", "n_part", "n_base", "ks_p"), clips,
                        col, width, n_bins, baseline_parts, baseline,
                        round_to)


def drift_verdicts(clips: DataFrame, col: str = "dur_ms",
                   psi_threshold: float = 0.2,
                   baseline_parts=DEFAULT_BASELINE_PARTS,
                   baseline: DataFrame = None,
                   **kw) -> DataFrame:
    """Per-partition pass/fail on PSI vs baseline (golden matrix: p8..p15
    fail dur_ms drift at PSI > 0.2, the published 'significant shift' level).
    Baseline partitions pass by construction (PSI vs themselves ~ 0).
    A null PSI (baseline window unavailable) fails closed."""
    scores = _scores(clips, col, baseline_parts=baseline_parts,
                     baseline=baseline, **kw)
    schema = StructType([
        StructField("part", clips.schema["part"].dataType),
        StructField("check_name", StringType(), False),
        StructField("passed", BooleanType(), False),
        StructField("observed", StringType()),
        StructField("expected", StringType(), False)])
    return literal_frame(
        clips.sparkSession,
        [(p, f"dist_drift({col})",
          *drift_verdict(s["psi"], s["ks"], psi_threshold))
         for p, s in scores.items()], schema)

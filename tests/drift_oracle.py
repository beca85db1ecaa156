"""The binned drift scores as a Spark plan: the test oracle for
``operators/drift_dist.py``, which scores the same bin counts on the driver.

A dense (part x bin) grid of partition proportion ``p`` and baseline
proportion ``b`` is built with joins, and every divergence is a Spark
expression over it.  ``COLUMNS`` names the columns each public
``drift_dist`` function returns."""

from pyspark.sql import DataFrame, Window, functions as F

from drift_detection_pibic___framework_spark.operators.drift_dist import (
    DEFAULT_BASELINE_PARTS, EPS, bin_index)

COLUMNS = {"drift_scores": ("psi", "ks"),
           "divergence_scores": ("jsd", "chi2"),
           "emd_scores": ("emd",),
           "drift_scores_with_p": ("psi", "ks", "n_part", "n_base", "ks_p")}


def histogram(clips: DataFrame, col: str, width: float = 100.0,
              n_bins: int = 40) -> DataFrame:
    """Per-(part, bin) counts."""
    return (clips.select("part", bin_index(col, width, n_bins).alias("bin"))
            .groupBy("part", "bin").agg(F.count(F.lit(1)).alias("cnt")))


def proportions_grid(clips: DataFrame, col: str, width: float, n_bins: int,
                     baseline_parts, baseline: DataFrame) -> DataFrame:
    """Dense (part, bin) grid with ``p``, ``b``, the partition row count
    ``tot`` and the baseline row count ``btot``; zero bins included."""
    hist = histogram(clips, col, width, n_bins)
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
                "part", "bin", "tot", "btot",
                (F.coalesce(F.col("cnt"), F.lit(0)) / F.col("tot"))
                .alias("p"),
                (F.coalesce(F.col("bcnt"), F.lit(0)) / F.col("btot"))
                .alias("b")))


def ks_asymptotic_p(d, n1, n2, terms: int = 20):
    """The Kolmogorov tail series as a column expression, clamped to
    [0, 1]; 1.0 below λ = 0.2, where the series has not converged."""
    ne = (n1.cast("double") * n2) / (n1 + n2)
    lam = (F.sqrt(ne) + 0.12 + 0.11 / F.sqrt(ne)) * d
    term = lambda j: (F.when(j % 2 == 1, 2.0).otherwise(-2.0)  # noqa: E731
                      * F.exp(-2.0 * (j * lam) * (j * lam)))
    series = F.aggregate(F.sequence(F.lit(1), F.lit(int(terms))),
                         F.lit(0.0),
                         lambda acc, j: acc + term(j.cast("double")))
    return F.when(lam < 0.2, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), series)))


def scores(clips, col="dur_ms", width=100.0, n_bins=40,
           baseline_parts=DEFAULT_BASELINE_PARTS, baseline=None,
           round_to=6) -> DataFrame:
    """(part, psi, ks, jsd, chi2, emd, n_part, n_base, ks_p), one plan."""
    g = proportions_grid(clips, col, width, n_bins, baseline_parts, baseline)
    pe = F.col("p") + F.lit(EPS)
    be = F.col("b") + F.lit(EPS)
    me = (pe + be) / F.lit(2.0)
    expected = be * F.col("tot")
    w = (Window.partitionBy("part").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    terms = g.select(
        "part", "tot", "btot",
        ((pe - be) * F.log(pe / be)).alias("psi_term"),
        ((pe * F.log(pe / me) + be * F.log(be / me)) / F.lit(2.0))
        .alias("jsd_term"),
        (F.pow(F.col("p") * F.col("tot") - expected, 2) / expected)
        .alias("chi2_term"),
        F.abs(F.sum("p").over(w) - F.sum("b").over(w)).alias("gap"))
    s = (terms.groupBy("part")
         .agg(F.round(F.sum("psi_term"), round_to).alias("psi"),
              F.round(F.max("gap"), round_to).alias("ks"),
              F.round(F.sum("jsd_term"), round_to).alias("jsd"),
              F.round(F.sum("chi2_term"), round_to).alias("chi2"),
              F.round(F.sum("gap") * F.lit(width), round_to).alias("emd"),
              F.max("tot").alias("n_part"), F.max("btot").alias("n_base")))
    return s.select("*", F.round(ks_asymptotic_p(
        F.col("ks"), F.col("n_part"), F.col("n_base")), round_to)
        .alias("ks_p"))


def verdicts(s: DataFrame, col="dur_ms", psi_threshold=0.2) -> DataFrame:
    """The PSI gate's verdict rows over a ``scores`` frame."""
    return s.select(
        "part",
        F.lit(f"dist_drift({col})").alias("check_name"),
        F.coalesce(F.col("psi") <= F.lit(psi_threshold), F.lit(False))
        .alias("passed"),
        F.concat(F.lit("psi="), F.col("psi").cast("string"),
                 F.lit(" ks="), F.col("ks").cast("string")).alias("observed"),
        F.lit(f"psi <= {psi_threshold}").alias("expected"))


def drift_verdicts(clips, col="dur_ms", psi_threshold=0.2,
                   baseline_parts=DEFAULT_BASELINE_PARTS, baseline=None,
                   **kw) -> DataFrame:
    return verdicts(scores(clips, col, baseline_parts=baseline_parts,
                           baseline=baseline, **kw), col, psi_threshold)

"""Per-partition column statistics + null-rate checks (pure DataFrame API).

Re-expresses the reference's per-window column-stats operator —
``mean(X,axis=0), var(X,axis=0)`` at
/root/reference/frameworkDetector/framework_detector.py:224-229 (regime
feature summaries) and the windowed metrics at
/root/reference/utils/StreamProcessor.py:143-157 — as a single shuffle-free*
``groupBy(part).agg(...)`` over the clips table, extended with
count/null-rate/min/max/quantiles per the north_rule.

*Scale notes (100 TB / 1000 executors):
- ONE aggregation pass computes every stat for every column: partial
  aggregation (map-side combine) means the shuffle carries one row per
  (input-split × part), not per clip.
- Column pruning: the ``bytes`` audio payload is never referenced here, so
  the Parquet scan reads only the small typed columns (verified via
  .explain ReadSchema).
- ``percentile_approx`` is a mergeable GK summary (constant size per
  partition); the KLL path in functions/sketches.py covers the
  treeAggregate variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.literals import sql_ident, sql_lit

# columns the stats pass profiles, per north_rule
NUMERIC_COLS = ("sr_hz", "dur_ms")
NULLABLE_COLS = ("transcript", "clip_id", "codec")
QUANTILES = (0.25, 0.5, 0.75, 0.95, 0.99)


def partition_column_stats(clips: DataFrame,
                           numeric_cols=NUMERIC_COLS,
                           nullable_cols=NULLABLE_COLS,
                           quantiles=QUANTILES,
                           round_to: int = 6,
                           extra_aggs: dict = None) -> DataFrame:
    """One row per partition: count + per-column null-rate/mean/stddev/min/
    max/approx-quantiles. Single agg — single shuffle, map-side partials.

    ``extra_aggs`` ({name: aggregate SQL text}) ride the same aggregation
    and follow the stats columns in the output: the fused check suite
    (plans/suite.py) adds its per-check counts this way.

    Every aggregate is SQL text parsed in one call (``F.expr``), and the
    output projection is one ``selectExpr``: built from ``Column`` calls,
    the fused suite's pass 1 took about fifteen times the py4j round
    trips.

    All quantiles of a column come from ONE percentile_approx sketch
    evaluated at every probability (optimization round): one GK digest
    per column instead of one per (column, quantile) — a fifth of the
    sketch build/merge work for identical values (the digest is built
    from the same inputs in the same order either way)."""
    aggs = {"row_count": "count(1)"}
    probs = ", ".join(map(sql_lit, quantiles))
    for c in numeric_cols:
        q = sql_ident(c)
        aggs[f"{c}_nulls"] = f"sum(CASE WHEN {q} IS NULL THEN 1 ELSE 0 END)"
        aggs[f"{c}_mean"] = f"round(avg({q}), {round_to})"
        aggs[f"{c}_stddev"] = f"round(stddev_samp({q}), {round_to})"
        aggs[f"{c}_min"] = f"min({q})"
        aggs[f"{c}_max"] = f"max({q})"
        if quantiles:
            aggs[f"_q_{c}"] = f"percentile_approx({q}, array({probs}), 10000)"
    for c in nullable_cols:
        aggs[f"{c}_null_rate"] = (
            f"round(avg(CASE WHEN {sql_ident(c)} IS NULL THEN 1.0D "
            f"ELSE 0.0D END), {round_to})")
    extra = extra_aggs or {}
    aggs.update(extra)
    g = clips.groupBy("part").agg(*[F.expr(f"{e} AS {sql_ident(n)}")
                                    for n, e in aggs.items()])
    sel = ["part", "row_count"]
    for c in numeric_cols:
        sel += [sql_ident(f"{c}_{s}")
                for s in ("nulls", "mean", "stddev", "min", "max")]
        sel += [f"element_at({sql_ident('_q_' + c)}, {i + 1}) AS "
                + sql_ident(f"{c}_p{int(q * 100)}")
                for i, q in enumerate(quantiles)]
    sel += [sql_ident(f"{c}_null_rate") for c in nullable_cols]
    sel += [sql_ident(n) for n in extra]
    return g.selectExpr(*sel)


def null_rate_verdicts(stats: DataFrame, col: str = "transcript",
                       max_null_rate: float = 0.005) -> DataFrame:
    """Per-partition pass/fail on a column's null rate (golden matrix:
    p2/p10 fail transcript null-rate at the 0.5% threshold)."""
    rate = F.col(f"{col}_null_rate")
    return stats.select(
        "part",
        F.lit(f"null_rate({col})").alias("check_name"),
        (rate <= F.lit(max_null_rate)).alias("passed"),
        rate.cast("string").alias("observed"),
        F.lit(f"<= {max_null_rate}").alias("expected"),
    )


def range_verdicts(stats: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """Per-partition pass/fail on min/max bounds (e.g. sr_hz in [8000, 48000]
    — the 0.1% injected 192 kHz outliers breach the max)."""
    ok = (F.col(f"{col}_min") >= F.lit(lo)) & (F.col(f"{col}_max") <= F.lit(hi))
    return stats.select(
        "part",
        F.lit(f"range({col})").alias("check_name"),
        ok.alias("passed"),
        F.concat_ws("..", F.col(f"{col}_min").cast("string"),
                    F.col(f"{col}_max").cast("string")).alias("observed"),
        F.lit(f"[{lo}, {hi}]").alias("expected"),
    )


# -------------------------------------------------------------------------
# Mergeable moment summaries (incremental stats maintenance)
# -------------------------------------------------------------------------
# A 100-TB table's global stats are never recomputed from raw rows on every
# snapshot: each ingest commit aggregates its OWN partitions into a tiny
# (count, sum, sumsq, min, max) summary row, and table-level mean/stddev
# fold out of the summary table alone.  Moments are exactly mergeable —
# unlike stddev itself — so the fold is a plain SUM/MIN/MAX over O(parts)
# rows, no rescan.  On integer columns the sums stay exact (BIGINT) at any
# partition size below 2^63, so the folded stats are bit-identical to a
# from-scratch pass; the oracle exploits that (same formula in DuckDB over
# raw rows must hash-match the two-phase Spark fold).

MOMENT_COLS = ("sr_hz", "dur_ms")


def moment_summaries(df: DataFrame, group_col: str = "part",
                     cols=MOMENT_COLS) -> DataFrame:
    """Per-group mergeable moment summary: n/sum/sumsq/min/max per column.
    ONE aggregation pass (map-side partials); result is O(groups) rows that
    a snapshot commit can persist beside the manifest."""
    aggs = []
    for c in cols:
        v = F.col(c).cast("bigint")
        aggs += [
            F.count(c).alias(f"{c}_n"),
            F.sum(v).alias(f"{c}_sum"),
            F.sum(v * v).alias(f"{c}_sumsq"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
        ]
    return df.groupBy(group_col).agg(*aggs)


def merge_moments(summaries: DataFrame, cols=MOMENT_COLS,
                  round_to: int = 6) -> DataFrame:
    """Fold per-group moment summaries into ONE table-level stats row
    (n/mean/stddev_samp/min/max per column) without touching raw data.
    stddev uses the moment identity var = (sumsq - sum²/n)/(n-1); on
    integer inputs sum and sumsq are exact, so the result is identical to
    a direct stddev_samp over the raw rows."""
    aggs = []
    for c in cols:
        aggs += [
            F.sum(f"{c}_n").alias(f"{c}_n"),
            F.sum(f"{c}_sum").alias(f"{c}_sum"),
            F.sum(f"{c}_sumsq").alias(f"{c}_sumsq"),
            F.min(f"{c}_min").alias(f"{c}_min"),
            F.max(f"{c}_max").alias(f"{c}_max"),
        ]
    merged = summaries.agg(*aggs)
    out = []
    for c in cols:
        n = F.col(f"{c}_n").cast("double")
        s = F.col(f"{c}_sum").cast("double")
        ss = F.col(f"{c}_sumsq").cast("double")
        out += [
            F.col(f"{c}_n"),
            F.round(s / n, round_to).alias(f"{c}_mean"),
            F.round(F.sqrt((ss - s * s / n) / (n - F.lit(1.0))),
                    round_to).alias(f"{c}_stddev"),
            F.col(f"{c}_min"),
            F.col(f"{c}_max"),
        ]
    return merged.select(*out)


# -------------------------------------------------------------------------
# Exact distributed median / MAD over bounded-domain integer columns
# -------------------------------------------------------------------------
# Spark's exact `percentile` buffers every value per group on one executor —
# infeasible at 10^8 rows/partition.  For a bounded integer domain (sr_hz,
# dur_ms ≤ ~10^5 distinct values) the exact median is computable at ANY row
# scale via a value histogram: groupBy(group, value) collapses 10^12 rows to
# ≤ groups×domain histogram cells (map-side combine does most of it), a
# per-group cumulative window ranks the cells, and the two middle ranks are
# picked with conditional MINs.  Interpolation matches ANSI
# percentile_cont(0.5): odd n → middle value, even n → mean of the two.


def exact_quantiles(df: DataFrame, group_col: str, value_col: str,
                    probs, prefix: str = "q") -> DataFrame:
    """EXACT per-group percentile_cont for any list of probabilities over an
    integer column, via value-histogram + cumulative window.  Scale-safe for
    bounded domains: the window runs over histogram CELLS (≤ domain size per
    group), never raw rows — unlike Spark's `percentile`, which buffers every
    raw value per group on one executor.  Interpolation follows ANSI
    percentile_cont: rank h = (n-1)·p + 1, value = v⌊h⌋ + (h-⌊h⌋)·(v⌈h⌉-v⌊h⌋).
    Nulls are ignored (SQL aggregate semantics).  Output columns:
    ``{prefix}{int(p*100)}``."""
    hist = (df.filter(F.col(value_col).isNotNull())
            .groupBy(group_col, value_col)
            .agg(F.count(F.lit(1)).alias("_cnt")))
    w = (Window.partitionBy(group_col).orderBy(value_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (hist
           .withColumn("_cum", F.sum("_cnt").over(w))
           .withColumn("_n", F.sum("_cnt").over(Window.partitionBy(group_col))))
    aggs, outs = [], []
    for p in probs:
        tag = f"{prefix}{int(round(p * 100))}"
        h = (F.col("_n") - 1) * F.lit(float(p)) + 1
        lo_rank, hi_rank = F.floor(h), F.ceil(h)
        # value at rank k = min value whose cumulative count reaches k
        aggs += [
            F.min(F.when(F.col("_cum") >= lo_rank, F.col(value_col)))
            .alias(f"_lo_{tag}"),
            F.min(F.when(F.col("_cum") >= hi_rank, F.col(value_col)))
            .alias(f"_hi_{tag}"),
            F.min(h - lo_rank).alias(f"_frac_{tag}"),
        ]
        outs.append(
            (F.col(f"_lo_{tag}")
             + F.col(f"_frac_{tag}")
             * (F.col(f"_hi_{tag}") - F.col(f"_lo_{tag}"))).alias(tag))
    return cum.groupBy(group_col).agg(*aggs).select(group_col, *outs)


def exact_median(df: DataFrame, group_col: str, value_col: str,
                 out_col: str = "median") -> DataFrame:
    """Exact per-group median — percentile_cont(0.5) via exact_quantiles."""
    q = exact_quantiles(df, group_col, value_col, [0.5])
    return q.select(group_col, F.col("q50").alias(out_col))


def group_entropy(df: DataFrame, col: str, group_col: str = "part",
                  round_to: int = 6) -> DataFrame:
    """Per-group Shannon entropy (bits) and evenness of a categorical
    column — the class-balance metric (Deequ's Entropy): a training
    corpus whose codec/language/source mix collapses toward one value
    shows it here before any downstream skew does.

    ``evenness`` = H / log2(k) in [0, 1] (1 = uniform over the group's k
    observed values; NULL when k = 1, where balance is undefined).

    Scale shape: groupBy(group, value) collapses raw rows to histogram
    cells with map-side partial aggregation (hot categories combine per
    task before the shuffle), then one groupBy(group) folds cells into
    the entropy sum — two keyed shuffles, both over cell counts, never
    raw rows.  Nulls are excluded (SQL aggregate semantics).
    """
    cells = (df.filter(F.col(col).isNotNull())
             .groupBy(group_col, col)
             .agg(F.count(F.lit(1)).alias("_cnt")))
    ent = -F.sum((F.col("_cnt") / F.col("_n"))
                 * F.log2(F.col("_cnt") / F.col("_n")))
    return (cells
            .withColumn("_n", F.sum("_cnt").over(
                Window.partitionBy(group_col)))
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_values"),
                 F.max("_n").alias("n_rows"),
                 F.round(ent, round_to).alias("entropy_bits"),
                 F.round(F.when(F.count(F.lit(1)) > 1,
                                ent / F.log2(F.count(F.lit(1))))
                         , round_to).alias("evenness")))


def mutual_information(df: DataFrame, col_a: str, col_b: str,
                       round_to: int = 6) -> DataFrame:
    """Mutual information (bits) between two categorical columns, plus
    the normalized coefficient MI / min(H_a, H_b) in [0, 1] — the
    association metric (Deequ's MutualInformation): MI(codec, part) near
    0 says the codec mix is stationary across partitions; a jump says
    some partitions carry a different mix (exactly the injected-'opus'
    signature).  Rows with a null on either side are excluded.

    Scale shape: ONE groupBy over the joint (a, b) histogram — map-side
    partials collapse hot cells per task — then the marginals and total
    fold from the joint cells themselves via keyed aggregations and
    equi-joins (the 1-row total broadcasts), so nothing after the first
    shuffle ever touches raw rows AND no stage ever gathers all cells
    onto one task (a global window here would break the moment both
    columns are high-cardinality).  Returns one row: (n_rows, mi_bits,
    h_a, h_b, normalized_mi)."""
    cells = (df.filter(F.col(col_a).isNotNull()
                       & F.col(col_b).isNotNull())
             .groupBy(col_a, col_b)
             .agg(F.count(F.lit(1)).alias("_c")))
    tot = cells.agg(F.sum("_c").alias("_n"))
    ma = cells.groupBy(col_a).agg(F.sum("_c").alias("_ca"))
    mb = cells.groupBy(col_b).agg(F.sum("_c").alias("_cb"))
    cells = (cells.join(ma, col_a).join(mb, col_b)
             .crossJoin(F.broadcast(tot)))
    p = F.col("_c") / F.col("_n")
    mi = F.sum(p * F.log2(p / ((F.col("_ca") / F.col("_n"))
                               * (F.col("_cb") / F.col("_n")))))
    # marginal entropies from the joint cells: group each cell's p into
    # its marginal via sum over the OTHER axis — equivalently sum over
    # distinct (_ca) weighted once; use sum(p*log2(pa)) / duplicates-safe
    # form: -sum_cells p * log2(pa) counts each a-cell p once toward pa
    h_a = -F.sum(p * F.log2(F.col("_ca") / F.col("_n")))
    h_b = -F.sum(p * F.log2(F.col("_cb") / F.col("_n")))
    agg = cells.agg(F.max("_n").alias("n_rows"), mi.alias("_mi"),
                    h_a.alias("_ha"), h_b.alias("_hb"))
    hmin = F.least(F.col("_ha"), F.col("_hb"))
    return agg.select(
        F.col("n_rows"),
        F.round(F.col("_mi"), round_to).alias("mi_bits"),
        F.round(F.col("_ha"), round_to).alias("h_a"),
        F.round(F.col("_hb"), round_to).alias("h_b"),
        F.round(F.when(hmin > 0, F.col("_mi") / hmin).otherwise(0.0),
                round_to).alias("normalized_mi"))


def mad_outlier_screen(df: DataFrame, group_col: str, value_col: str,
                       k: float = 6.0, round_to: int = 6) -> DataFrame:
    """Robust per-group outlier screen: median + MAD (median absolute
    deviation) per group, plus the count of rows with |x - median| > k·MAD.
    Both medians use the exact histogram path above; deviations are doubled
    to stay integer (median is integer or half-integer), so the second
    histogram is exact too.  Three keyed shuffles total, all over histogram
    cells or O(groups) rows — no raw-row buffering anywhere."""
    med = exact_median(df, group_col, value_col, "med")
    rows = (df.filter(F.col(value_col).isNotNull())
            .join(F.broadcast(med), group_col)
            .withColumn("_dev2",
                        F.abs(2 * F.col(value_col).cast("bigint")
                              - (2.0 * F.col("med")).cast("bigint"))))
    mad2 = exact_median(rows, group_col, "_dev2", "mad2")
    flagged = (rows.join(F.broadcast(mad2), group_col)
               .groupBy(group_col)
               .agg(F.sum((F.col("_dev2") > F.lit(k) * F.col("mad2"))
                          .cast("int")).alias("outliers"),
                    F.count(F.lit(1)).alias("n")))
    return (flagged.join(med, group_col).join(mad2, group_col)
            .select(group_col,
                    F.col("n"),
                    F.round(F.col("med"), round_to).alias("median"),
                    F.round(F.col("mad2") / 2.0, round_to).alias("mad"),
                    F.col("outliers")))


def fd_violations(df: DataFrame, lhs, rhs: str,
                  max_sample: int = 5) -> DataFrame:
    """Functional-dependency check ``lhs -> rhs``: one row per lhs group
    that maps to MORE than one distinct rhs value — the Deequ-class
    integrity check behind "a clip_id determines its transcript" (the
    injected duplicate-id rows violate exactly this: same id, two
    labels).  A NULL rhs counts as its own value (a group holding
    {NULL, 'x'} IS two claims about the key): distinct-count of the
    non-null values plus one if the group holds any NULL — arithmetic
    both engines express identically, no sentinel string needed.

    Scale shape: ONE groupBy on the lhs key (map-side partial agg;
    uniform unless the caller picks a pathological lhs).  The distinct
    count is ``size(collect_set)`` rather than ``count_distinct`` — the
    latter plans as the two-shuffle distinct-aggregate expand, while the
    set is ALREADY being carried for ``rhs_sample``, so deriving the
    count from it keeps the whole check one shuffle (PLANS.md pins it).
    Per-group state is the distinct rhs set: small by definition for an
    FD check (a key mapping to millions of values is a broken key,
    caught by the uniqueness check first).

    Returns lhs columns + (n_rows, n_distinct_rhs, rhs_sample) with
    ``rhs_sample`` = at most ``max_sample`` distinct non-null values,
    sorted for determinism."""
    if isinstance(lhs, str):
        lhs = [lhs]
    has_null = F.max(F.when(F.col(rhs).isNull(), 1).otherwise(0))
    out = (df.groupBy(*lhs)
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.sort_array(F.collect_set(rhs)).alias("_set"),
                has_null.alias("_has_null"))
           .select(*lhs, "n_rows",
                   (F.size("_set") + F.col("_has_null"))
                   .cast("long").alias("n_distinct_rhs"),
                   F.slice("_set", 1, max_sample).alias("rhs_sample"))
           .filter(F.col("n_distinct_rhs") > 1))
    return out


BENFORD_CHI2_CRIT = 15.507  # chi-squared 0.95 quantile, 8 dof


def benford_check(df: DataFrame, col: str,
                  group_col: str = "part") -> DataFrame:
    """First-significant-digit distribution vs Benford's law per group —
    the classic tamper/synthetic-data screen for positive magnitudes
    spanning decades (Benford '38; standard in audit practice): digit d
    should appear with probability log10(1 + 1/d).  A partition whose
    durations were fabricated, unit-swapped, or re-scaled shifts the
    digit histogram even when mean/stddev stay plausible — a different
    failure axis than the moment and PSI gates.

    Scale shape: one map-side-combining groupBy on the group key; the
    shuffle carries 9 digit counts per group, never values.  chi2 is a
    closed-form expression over the 9 cells; ``benford_suspect`` flags
    chi2 above the 0.05 critical value (8 dof).  Non-positive rows are
    excluded (Benford is defined on magnitudes).

    The leading SIGNIFICANT digit is the first [1-9] char of the decimal
    string — not the first char, which for values in (0, 1) would be
    '0' (landing in no bucket while still counted in n_rows, inflating
    chi2), and which also diverges across engines for small doubles
    (Spark renders 1e-4 as '1.0E-4', DuckDB as '0.0001'; the first
    nonzero digit is '1' in both notations).

    Returns (group_col, n_rows, chi2, benford_suspect)."""
    import math
    d1 = F.regexp_extract(F.col(col).cast("string"), "[1-9]", 0)
    g = (df.filter(F.col(col) > 0)
         .select(F.col(group_col), d1.alias("_d")))
    counts = [F.sum(F.when(F.col("_d") == str(i), 1).otherwise(0))
              .alias(f"_c{i}") for i in range(1, 10)]
    agg = g.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"),
                                   *counts)
    chi2 = None
    for i in range(1, 10):
        # dev*dev (not pow) so the oracle SQL can mirror the exact double
        # op sequence; p is embedded as the same 17-digit literal there
        p = math.log10(1.0 + 1.0 / i)
        dev = F.col(f"_c{i}") - F.col("n_rows") * F.lit(p)
        term = dev * dev / (F.col("n_rows") * F.lit(p))
        chi2 = term if chi2 is None else chi2 + term
    return (agg.withColumn("chi2", F.round(chi2, 6))
            .withColumn("benford_suspect",
                        F.col("chi2") > BENFORD_CHI2_CRIT)
            .select(group_col, "n_rows", "chi2", "benford_suspect"))

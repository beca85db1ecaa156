"""The check-suite registry — ONE definition site for the validation
suite (SURVEY §2.10 U1 "Check protocol").

Every consumer (batch runner, spark-submit job, structured-streaming
front-end, bench) builds its suite from ``CHECKS`` via the helpers below,
and a data contract's (column, constraint, params) rows compile to the
same ``Check`` type (``contract_checks``; operators/profile.py suggests
the contracts).  Each check pairs a finalizer with its violation builder
(the reference's per-check pass/fail + violation rows contract,
north_rule), names the aggregate columns it reads, and says whether it is
``streaming_safe``: computable inside a single micro-batch (no global
baseline or cross-batch scan needed).

Verdicts follow the analyzer model of Deequ (Schelter et al., "Automating
Large-Scale Data Quality Verification", VLDB 2018): every check's
aggregates ride two passes over the clips, and the driver turns the
O(parts x (checks + bins)) collected numbers into verdict rows.

- Pass 1 is ONE ``groupBy(part)`` aggregation over the clips,
  broadcast-left-joined to the codec dimension. It carries the
  ``partition_column_stats`` columns, the codec-miss count and the 40
  drift bins (``drift_dist.bin_aggs``); a contract check adds its own
  aggregates (null and miss counts, completeness, distinct and row counts,
  min/max), and a contract alone needs neither the stats nor the join.
- Pass 2 is ``groupBy(part, clip_id).count()`` -> ``groupBy(part)``: the
  exact distinct id count.  It stays a pass of its own: a
  ``count_distinct`` in pass 1 makes Spark's distinct rewrite (Expand)
  carry every ``percentile_approx`` buffer at (part, clip_id) grain.

A finalizer maps one partition's aggregate row (plus the baseline
window's summed bins) to ``(passed, observed, expected)`` in plain
Python; the drift check scores its bins with ``drift_dist.score``, the
one PSI/KS implementation.  ``functions/literals.py`` reproduces Spark's
``round(double, 6)`` and ``CAST(double AS STRING)``, so the rows equal the
ones the per-check operators build in Spark (tests/test_batch_checks.py
keeps that lazy union as the oracle).  Evaluating the operators over the
collected rows instead would cost a Spark job per run: ``createDataFrame``
of local rows is RDD-backed, not a local relation.  Violation builders
stay lazy plans; the runner calls each one only for the partitions whose
check failed.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce
from typing import Callable, NamedTuple, Optional, Union

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BooleanType, StringType, StructField,
                               StructType)

from ..functions.literals import jstr, literal_frame
from ..operators import drift_dist, profile, referential, stats, uniqueness

NULL_RATE_MAX = 0.005
SR_RANGE = (8000, 48000)
PSI_MAX = 0.2
DRIFT_COL, BIN_WIDTH, N_BINS = "dur_ms", 100.0, 40


class Verdict(NamedTuple):
    part: int
    check_name: str
    passed: Optional[bool]
    observed: Optional[str]
    expected: str


@dataclass
class CheckContext:
    """Inputs of a violation builder: the clips to list rows from (the
    runner narrows them to the partitions whose check failed) and the
    codec dimension."""
    clips: DataFrame
    dim: DataFrame


@dataclass(frozen=True)
class Check:
    name: str                                   # emitted check_name
    # the shared pass it reads, "stats" | "misses" | "distinct" | "bins"
    # (bins: the baseline window), or its own {name: aggregate Column}s
    # riding pass 1
    aggregates: Union[str, dict]
    # (aggregate row, baseline bins or None) -> (passed, observed, expected)
    finalize: Callable[[dict, Optional[list]], tuple]
    violations: Optional[Callable[[CheckContext], DataFrame]]
    streaming_safe: bool
    # a row-scope contract check's (breaching-row predicate, observed
    # Column, expected) for profile.suggested_suite_violations
    breach: Optional[tuple] = None


@dataclass(frozen=True)
class SuiteRun:
    stats: dict      # part -> partition_column_stats row, in column order
    verdicts: list   # Verdict per (reported part, check)


def _sstr(v):
    return jstr(v) if isinstance(v, float) else str(v)


# -- finalizers: one per check ----------------------------------------------

def _null_rate(row, _base):
    rate = row["transcript_null_rate"]
    return (None if rate is None else rate <= NULL_RATE_MAX, jstr(rate),
            f"<= {NULL_RATE_MAX}")


def _range(row, _base):
    lo, hi = row["sr_hz_min"], row["sr_hz_max"]
    passed = None if lo is None else (lo >= SR_RANGE[0]
                                      and hi <= SR_RANGE[1])
    return (passed, "..".join(_sstr(v) for v in (lo, hi) if v is not None),
            f"[{SR_RANGE[0]}, {SR_RANGE[1]}]")


def _unique(row, _base):
    d, n = row["clip_id_distinct"], row["row_count"]
    return d == n, f"{d}/{n}", "distinct == count"


def _referential(row, _base):
    m = row["codec_misses"]
    return m == 0, f"misses={m}", "misses=0"


def _drift(row, base):
    s = drift_dist.score(row["bins"], base)
    return drift_dist.drift_verdict(s["psi"], s["ks"], PSI_MAX)


CHECKS: tuple = (
    Check("null_rate(transcript)", "stats", _null_rate,
          lambda c: stats.null_violations(c.clips,
                                          max_null_rate=NULL_RATE_MAX),
          streaming_safe=True),
    Check("range(sr_hz)", "stats", _range,
          lambda c: stats.range_violations(c.clips, "sr_hz", *SR_RANGE),
          streaming_safe=True),
    Check("unique(clip_id)", "distinct", _unique,
          lambda c: uniqueness.duplicate_violations(c.clips),
          streaming_safe=False),      # a partition may span micro-batches
    Check("referential(codec)", "misses", _referential,
          lambda c: referential.referential_violations(c.clips, c.dim),
          streaming_safe=True),
    Check("dist_drift(dur_ms)", "bins", _drift, None,
          streaming_safe=False),
)


# -- data contracts: (column, constraint, params) rows as checks -----------
# Each contract row becomes a Check with its own pass-1 aggregates (the
# Spark expressions computing every number); its finalizer only compares
# and formats.  Comparisons follow Spark's double order (NaN above every
# number, NaN == NaN) and its three-valued AND.

def _le(a: float, b: float) -> bool:
    """Spark's ``a <= b`` on non-null doubles."""
    return math.isnan(b) or (not math.isnan(a) and a <= b)


def _c_not_null(col, _params, k):
    n = F.col(col).isNull()
    return ({k: F.count_if(n)},
            lambda r, _b: (r[k] == 0, str(r[k]), "0 nulls"),
            (n, F.lit("NULL"), f"non-null {col}"))


def _c_completeness(col, params, k):
    pct = int(params)
    return ({k: F.round(F.avg(F.col(col).isNotNull().cast("double")) * 100,
                        6)},
            lambda r, _b: (r[k] >= pct, jstr(r[k]), f">= {pct}%"), None)


def _c_unique(col, _params, k):
    d, n = k + "d", k + "n"
    return ({d: F.count_distinct(F.col(col)), n: F.count(F.col(col))},
            lambda r, _b: (r[d] == r[n], f"{r[d]}/{r[n]}",
                           "distinct = rows"), None)


def _c_range(col, params, k):
    lo, hi = (float(x) for x in params.strip("[]").split(","))
    expected = f"[{profile._fmt_num(lo)}, {profile._fmt_num(hi)}]"
    lo_k, hi_k, v = k + "lo", k + "hi", F.col(col).cast("double")

    def fin(r, _b):
        mn, mx = r[lo_k], r[hi_k]
        passed = None if mn is None else _le(lo, mn) and _le(mx, hi)
        return (passed, "..".join(jstr(x) for x in (mn, mx) if x is not None),
                expected)
    return ({lo_k: F.min(v), hi_k: F.max(v)}, fin,
            (v.isNotNull() & ((v < lo) | (v > hi)), F.col(col), expected))


def _c_isin(col, params, k):
    bad = (F.col(col).isNotNull()
           & ~F.col(col).cast("string").isin(params.split(",") if params
                                              else []))
    return ({k: F.count_if(bad)},
            lambda r, _b: (r[k] == 0, str(r[k]), f"all in {{{params}}}"),
            (bad, F.col(col), f"in {{{params}}}"))


_CONSTRAINTS = {"not_null": ("not_null", _c_not_null),
                "completeness_pct_ge": ("completeness", _c_completeness),
                "unique": ("unique", _c_unique),
                "range": ("range", _c_range),
                "isin": ("isin", _c_isin)}


def contract_checks(contract) -> list:
    """A data contract as Checks, one per row, in contract order.
    ``contract`` is a suggestions DataFrame (``profile.suggest_constraints``),
    (column, constraint, params) tuples/Rows, or contract-JSON dicts.
    ``unique`` is not ``streaming_safe``: a partition may span
    micro-batches, as for ``unique(clip_id)``."""
    if isinstance(contract, DataFrame):
        contract = contract.collect()
    checks = []
    for i, r in enumerate(contract):
        col, constraint, params = ((r["column"], r["constraint"], r["params"])
                                   if isinstance(r, dict) else r[:3])
        if constraint not in _CONSTRAINTS:
            raise ValueError(f"unknown suggested constraint: {constraint}")
        label, build = _CONSTRAINTS[constraint]
        aggs, fin, breach = build(col, params, f"_c{i}_")
        checks.append(Check(f"{label}({col})", aggs, fin, None,
                            streaming_safe=constraint != "unique",
                            breach=breach))
    return checks


# -- the two passes ---------------------------------------------------------

def _pass1(clips: DataFrame, dim: DataFrame, checks) -> tuple:
    """(the shared passes ``checks`` read, their pass-1 plan, the names of
    its aggregates beyond the stats)."""
    reads = {c.aggregates for c in checks if isinstance(c.aggregates, str)}
    extra = {}
    if "misses" in reads:
        clips = referential.mark_hits(clips, dim)
        extra["codec_misses"] = F.count_if(F.col("_hit").isNull())
    if "bins" in reads:
        extra["bins"] = drift_dist.bin_aggs(DRIFT_COL, BIN_WIDTH, N_BINS)
    for c in checks:
        if isinstance(c.aggregates, dict):
            extra.update(c.aggregates)
    agg = (stats.partition_column_stats(clips, extra_aggs=extra) if reads
           else clips.groupBy("part").agg(
               *[c.alias(n) for n, c in extra.items()]))
    return reads, agg, set(extra)


def aggregate_plan(clips: DataFrame, dim: DataFrame,
                   checks=CHECKS) -> DataFrame:
    """Pass 1 of ``checks``: one ``groupBy(part)`` carrying the
    ``partition_column_stats`` columns (when a check reads a shared pass),
    the codec-miss count and the drift bins (when a check reads them) and
    every check's own aggregates.  The broadcast side of the miss count is
    the dimension's distinct codec set, so a repeated codec row cannot
    repeat its clips in the aggregates; the set is built in one partition
    (``coalesce(1)``), which needs no shuffle.  A suite reading no shared
    pass (a data contract) needs only a ``part`` column and no ``dim``."""
    return _pass1(clips, dim, checks)[1]


def distinct_plan(clips: DataFrame, col: str = "clip_id") -> DataFrame:
    """Pass 2: per-partition count of distinct non-null ids, two-level."""
    return (clips.groupBy("part", col).count()
            .groupBy("part").agg(F.count(col).alias(f"{col}_distinct")))


def collect_suite(clips: DataFrame, dim: DataFrame,
                  baseline: DataFrame = None, baseline_parts=None,
                  checks=CHECKS) -> SuiteRun:
    """Run ``checks`` over ``clips`` and finalize on the driver.

    The drift baseline comes from ``baseline`` when given (one more,
    bins-only aggregation), else from the ``baseline_parts`` rows of
    ``clips`` itself, at no extra cost.  A partition with no rows has no
    aggregate row and so no verdicts; no checks run no Spark job."""
    if not checks:
        return SuiteRun({}, [])
    baseline_parts = tuple(drift_dist.DEFAULT_BASELINE_PARTS
                           if baseline_parts is None else baseline_parts)
    reads, agg, extra = _pass1(clips, dim, checks)
    stat_cols = [c for c in agg.columns if c not in extra]
    rows = {r["part"]: r.asDict() for r in agg.collect()}
    if "distinct" in reads:
        for r in distinct_plan(clips).collect():
            if r["part"] in rows:
                rows[r["part"]]["clip_id_distinct"] = r["clip_id_distinct"]
    base = None
    if "bins" in reads:
        counts = ({p: r["bins"] for p, r in rows.items()} if baseline is None
                  else drift_dist.bin_counts(baseline, DRIFT_COL, BIN_WIDTH,
                                             N_BINS, baseline_parts))
        base = drift_dist.baseline_counts(counts, baseline_parts)
    report = sorted(rows, key=lambda p: (p is None, p))
    return SuiteRun(
        stats={p: {c: rows[p][c] for c in stat_cols}
               for p in report} if reads else {},
        verdicts=[Verdict(p, c.name, *c.finalize(rows[p], base))
                  for p in report for c in checks])


def verdict_frame(clips: DataFrame, verdicts: list) -> DataFrame:
    """The verdict rows as a one-partition DataFrame of literals (part,
    check_name, passed, observed, expected), ``part`` typed as in
    ``clips``."""
    schema = StructType([
        StructField("part", clips.schema["part"].dataType),
        StructField("check_name", StringType()),
        StructField("passed", BooleanType()),
        StructField("observed", StringType()),
        StructField("expected", StringType())])
    return literal_frame(clips.sparkSession, verdicts, schema)


def _union(dfs: list) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


def suite_verdicts(clips: DataFrame, dim: DataFrame,
                   baseline: DataFrame = None, baseline_parts=None,
                   st: DataFrame = None) -> DataFrame:
    """All checks' per-partition verdict rows, computed eagerly by
    ``collect_suite``.  ``st`` is accepted for callers of the former lazy
    suite and unused: pass 1 computes the same columns itself."""
    run = collect_suite(clips, dim, baseline, baseline_parts)
    return verdict_frame(clips, run.verdicts)


def suite_violations(clips: DataFrame, dim: DataFrame) -> DataFrame:
    """All checks' violation rows (clip_id, check_name, observed,
    expected, part)."""
    ctx = CheckContext(clips, dim)
    return _union([c.violations(ctx) for c in CHECKS if c.violations])


def failing_violations(clips: DataFrame, dim: DataFrame,
                       verdicts: list) -> Optional[DataFrame]:
    """The violation rows of each check, built only over the partitions
    whose verdict for that check did not pass; None when every verdict
    passed."""
    failing: dict = {}
    for v in verdicts:
        if not v.passed:
            failing.setdefault(v.check_name, []).append(v.part)
    frames = [c.violations(CheckContext(
                  clips.filter(F.col("part").isin(failing[c.name])), dim))
              for c in CHECKS if c.violations and c.name in failing]
    return _union(frames) if frames else None


def streaming_suite_verdicts(batch: DataFrame, dim: DataFrame,
                             checks=CHECKS) -> DataFrame:
    """The micro-batch-safe subset of ``checks`` (drift vs baseline and
    cross-batch uniqueness are owned by the batch runner): pass 1 alone,
    without the drift bins."""
    run = collect_suite(batch, dim,
                        checks=[c for c in checks if c.streaming_safe])
    return verdict_frame(batch, run.verdicts)

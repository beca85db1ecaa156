"""The check-suite registry — ONE definition site for the validation
suite (SURVEY §2.10 U1 "Check protocol").

Every consumer (batch runner, spark-submit job, structured-streaming
front-end, bench) builds its suite from ``CHECKS`` via the helpers below,
and a data contract's (column, constraint, params) rows compile to the
same ``Check`` type (``contract_checks``; operators/profile.py suggests
the contracts).  Each check pairs a finalizer with the predicate of its
breaching rows (the reference's per-check pass/fail + violation rows
contract, north_rule), names the aggregate columns it reads, and says
whether it is ``streaming_safe``: computable inside a single micro-batch
(no global baseline or cross-batch scan needed).  Aggregates and breach
predicates are SQL text, parsed in one JVM call each.

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
  carry every ``percentile_approx`` buffer at (part, clip_id) grain.  The
  two passes are one query (a union), collected once.

A finalizer maps one partition's aggregate row (plus the baseline
window's summed bins) to ``(passed, observed, expected)`` in plain
Python; the drift check scores its bins with ``drift_dist.score``, the
one PSI/KS implementation.  ``functions/literals.py`` reproduces Spark's
``round(double, 6)`` and ``CAST(double AS STRING)``, so the rows equal the
ones the per-check operators build in Spark (tests/test_batch_checks.py
keeps that lazy union as the oracle).  Evaluating the operators over the
collected rows instead would cost a Spark job per run: ``createDataFrame``
of local rows is RDD-backed, not a local relation.

Violations are one lazy plan (``violation_plan``): every breach predicate,
gated to the partitions where the driver's verdict for its check failed,
over one scan of those partitions (tests/violation_oracle.py keeps the
former per-check union as the oracle).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, NamedTuple, Optional, Union

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BooleanType, StringType, StructField,
                               StructType)

from ..functions.literals import jstr, literal_frame, sql_ident, sql_lit
from ..operators import drift_dist, profile, referential, stats

NULL_RATE_MAX = 0.005
SR_RANGE = (8000, 48000)
PSI_MAX = 0.2
DRIFT_COL, BIN_WIDTH, N_BINS = "dur_ms", 100.0, 40
VIOLATION_COLS = ("clip_id", "check_name", "observed", "expected", "part")


class Verdict(NamedTuple):
    part: int
    check_name: str
    passed: Optional[bool]
    observed: Optional[str]
    expected: str


@dataclass(frozen=True)
class Check:
    name: str                                   # emitted check_name
    # the shared pass it reads, "stats" | "misses" | "distinct" | "bins"
    # (bins: the baseline window), or its own {name: aggregate SQL text}s
    # riding pass 1
    aggregates: Union[str, dict]
    # (aggregate row, baseline bins or None) -> (passed, observed, expected)
    finalize: Callable[[dict, Optional[list]], tuple]
    streaming_safe: bool
    # a row-scope check's (breaching-row predicate SQL, observed SQL,
    # expected): a row breaches when the predicate is true.  It reads the
    # clips' columns and the ones its shared pass prepares for the
    # violation plan: ``_hit`` ("misses"), ``_occ`` and ``_rk`` ("distinct")
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
    Check("null_rate(transcript)", "stats", _null_rate, streaming_safe=True,
          breach=("transcript IS NULL", "'NULL'", "non-null transcript")),
    Check("range(sr_hz)", "stats", _range, streaming_safe=True,
          breach=(f"sr_hz < {SR_RANGE[0]} OR sr_hz > {SR_RANGE[1]}",
                  "sr_hz", f"[{SR_RANGE[0]}, {SR_RANGE[1]}]")),
    Check("unique(clip_id)", "distinct", _unique,
          streaming_safe=False,       # a partition may span micro-batches
          breach=("_occ > 1 AND _rk > 1",
                  "concat('occurrences=', CAST(_occ AS STRING))",
                  "unique within partition")),
    Check("referential(codec)", "misses", _referential, streaming_safe=True,
          breach=("_hit IS NULL", "codec", "codec in allowed_codecs")),
    Check("dist_drift(dur_ms)", "bins", _drift, streaming_safe=False),
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
    n = f"{sql_ident(col)} IS NULL"
    return ({k: f"count_if({n})"},
            lambda r, _b: (r[k] == 0, str(r[k]), "0 nulls"),
            (n, "'NULL'", f"non-null {col}"))


def _c_completeness(col, params, k):
    pct = int(params)
    return ({k: f"round(avg(CAST({sql_ident(col)} IS NOT NULL AS DOUBLE))"
                " * 100, 6)"},
            lambda r, _b: (r[k] >= pct, jstr(r[k]), f">= {pct}%"), None)


def _c_unique(col, _params, k):
    d, n, q = k + "d", k + "n", sql_ident(col)
    return ({d: f"count(DISTINCT {q})", n: f"count({q})"},
            lambda r, _b: (r[d] == r[n], f"{r[d]}/{r[n]}",
                           "distinct = rows"), None)


def _c_range(col, params, k):
    lo, hi = (float(x) for x in params.strip("[]").split(","))
    expected = f"[{profile._fmt_num(lo)}, {profile._fmt_num(hi)}]"
    lo_k, hi_k = k + "lo", k + "hi"
    v = f"CAST({sql_ident(col)} AS DOUBLE)"

    def fin(r, _b):
        mn, mx = r[lo_k], r[hi_k]
        passed = None if mn is None else _le(lo, mn) and _le(mx, hi)
        return (passed, "..".join(jstr(x) for x in (mn, mx) if x is not None),
                expected)
    return ({lo_k: f"min({v})", hi_k: f"max({v})"}, fin,
            (f"{v} IS NOT NULL AND ({v} < {sql_lit(lo)} OR {v} > "
             f"{sql_lit(hi)})", sql_ident(col), expected))


def _c_isin(col, params, k):
    q = sql_ident(col)
    # an empty domain admits no value: every non-null row breaches
    bad = f"{q} IS NOT NULL" + (
        f" AND NOT (CAST({q} AS STRING) IN "
        f"({', '.join(map(sql_lit, params.split(',')))}))" if params else "")
    return ({k: f"count_if({bad})"},
            lambda r, _b: (r[k] == 0, str(r[k]), f"all in {{{params}}}"),
            (bad, q, f"in {{{params}}}"))


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
        checks.append(Check(f"{label}({col})", aggs, fin,
                            streaming_safe=constraint != "unique",
                            breach=breach))
    return checks


# -- the two passes ---------------------------------------------------------

def _aggregates(checks) -> tuple:
    """(the shared passes ``checks`` read, {name: SQL text} of the pass-1
    aggregates beyond the stats)."""
    reads = {c.aggregates for c in checks if isinstance(c.aggregates, str)}
    extra = {}
    if "misses" in reads:
        extra["codec_misses"] = "count_if(_hit IS NULL)"
    if "bins" in reads:
        extra["bins"] = drift_dist.bin_aggs(DRIFT_COL, BIN_WIDTH, N_BINS)
    for c in checks:
        if isinstance(c.aggregates, dict):
            extra.update(c.aggregates)
    return reads, extra


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
    reads, extra = _aggregates(checks)
    if "misses" in reads:
        clips = referential.mark_hits(clips, dim)
    if reads:
        return stats.partition_column_stats(clips, extra_aggs=extra)
    return stats.partition_column_stats(clips, (), (), (), extra_aggs=extra)


def distinct_plan(clips: DataFrame, col: str = "clip_id") -> DataFrame:
    """Pass 2: per-partition count of distinct non-null ids, two-level."""
    return (clips.groupBy("part", col).count()
            .groupBy("part").agg(F.count(col).alias(f"{col}_distinct")))


def suite_plan(clips: DataFrame, dim: DataFrame,
               checks=CHECKS) -> DataFrame:
    """Both passes of ``checks`` as ONE query: pass 1's rows, with a null
    ``clip_id_distinct``, followed by pass 2's (``part``,
    ``clip_id_distinct``) rows when a check reads the distinct count.  A
    union, not a join: it collects in one job after the passes' shuffle
    stages, and a null ``part`` keeps its rows."""
    agg = aggregate_plan(clips, dim, checks)
    if any(c.aggregates == "distinct" for c in checks):
        return agg.unionByName(distinct_plan(clips), allowMissingColumns=True)
    return agg


def collect_suite(clips: DataFrame, dim: DataFrame,
                  baseline: DataFrame = None, baseline_parts=None,
                  checks=CHECKS) -> SuiteRun:
    """Run ``checks`` over ``clips`` and finalize on the driver.

    Both passes come back in one collect (``suite_plan``).  The drift
    baseline comes from ``baseline`` when given (one more, bins-only
    aggregation), else from the ``baseline_parts`` rows of ``clips``
    itself, at no extra cost.  A partition with no rows has no aggregate
    row and so no verdicts; no checks run no Spark job."""
    if not checks:
        return SuiteRun({}, [])
    baseline_parts = tuple(drift_dist.DEFAULT_BASELINE_PARTS
                           if baseline_parts is None else baseline_parts)
    reads, extra = _aggregates(checks)
    rows, distinct = {}, {}
    for r in suite_plan(clips, dim, checks).collect():
        row = r.asDict()
        n = row.pop("clip_id_distinct", None)
        if n is None:
            rows[row["part"]] = row
        else:
            distinct[row["part"]] = n
    for p, n in distinct.items():
        if p in rows:
            rows[p]["clip_id_distinct"] = n
    base = None
    if "bins" in reads:
        counts = ({p: r["bins"] for p, r in rows.items()} if baseline is None
                  else drift_dist.bin_counts(baseline, DRIFT_COL, BIN_WIDTH,
                                             N_BINS, baseline_parts))
        base = drift_dist.baseline_counts(counts, baseline_parts)
    report = sorted(rows, key=lambda p: (p is None, p))
    return SuiteRun(
        stats={p: {c: v for c, v in rows[p].items()
                   if c not in extra and c != "clip_id_distinct"}
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


def suite_verdicts(clips: DataFrame, dim: DataFrame,
                   baseline: DataFrame = None, baseline_parts=None,
                   st: DataFrame = None) -> DataFrame:
    """All checks' per-partition verdict rows, computed eagerly by
    ``collect_suite``.  ``st`` is accepted for callers of the former lazy
    suite and unused: pass 1 computes the same columns itself."""
    run = collect_suite(clips, dim, baseline, baseline_parts)
    return verdict_frame(clips, run.verdicts)


# -- violations ---------------------------------------------------------------

def explode_breaches(df: DataFrame, breaches: list, keep) -> DataFrame:
    """The ``keep`` columns of ``df`` once per (row, breached check), with
    ``_b`` (true), the check's ``_k`` (its position in ``breaches``),
    ``check_name``, ``observed`` (as a string) and ``expected``.
    ``breaches`` holds (check_name, predicate SQL, observed SQL, expected)
    tuples; a row breaches where the predicate is true.

    One projection and a generator, no shuffle: each row's array of
    (breached, _k, check_name, observed, expected) structs is filtered to
    the breached ones and inlined.  The structs are never null, so
    ``check_name`` and ``expected`` stay non-nullable.  No breaches give
    no rows, in the same schema."""
    structs = ", ".join(
        f"named_struct('_b', {pred}, '_k', {k}, 'check_name', "
        f"{sql_lit(name)}, 'observed', CAST({obs} AS STRING), "
        f"'expected', {sql_lit(exp)})"
        for k, (name, pred, obs, exp) in enumerate(
            breaches or [("", "false", "NULL", "")]))
    return df.selectExpr(*map(sql_ident, keep),
                         f"inline(filter(array({structs}), v -> v._b))")


def _in(parts) -> str:
    return f"part IN ({', '.join(map(sql_lit, parts))})" if parts else "false"


def violation_plan(clips: DataFrame, dim: DataFrame,
                   failing: dict) -> DataFrame:
    """The violation rows (clip_id, check_name, observed, expected, part)
    of every row-scope check over the partitions ``failing[check name]``
    lists for it.

    One scan and one shuffle: the rows that can breach are
    hash-partitioned by ``part``, which the duplicate window's (part,
    clip_id) grouping reuses and a ``partitionBy("part")`` write keeps
    (one task, so one file, per partition).  They are the rows breaching a
    row-local check and every row of a partition whose duplicates are
    listed, since the window counts them all.  The codec-miss mark rides
    the map side.  Within a partition the rows come grouped by check in
    registry order, each check's rows in ``rid`` order, so the output does
    not depend on task timing."""
    gated = [(c, f"({c.breach[0]}) AND {_in(failing[c.name])}")
             for c in CHECKS if c.breach and failing.get(c.name)]
    reads = {c.aggregates for c, _ in gated}
    df = clips.filter(_in(list(dict.fromkeys(
        p for c, _ in gated for p in failing[c.name]))))
    if "misses" in reads:
        df = referential.mark_hits(df, dim)
    df = df.filter(" OR ".join(
        _in(failing[c.name]) if c.aggregates == "distinct" else pred
        for c, pred in gated) or "false").repartition("part")
    if "distinct" in reads:
        # one window spec (and so one sort) for both: the frame is not
        # part of the spec Spark groups window functions by
        w = "PARTITION BY part, clip_id ORDER BY rid"
        df = df.selectExpr(
            "*", f"count(1) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "UNBOUNDED FOLLOWING) AS _occ", f"row_number() OVER ({w}) AS _rk")
    return (explode_breaches(df, [(c.name, pred, *c.breach[1:])
                                  for c, pred in gated],
                             ("rid", "clip_id", "part"))
            .sortWithinPartitions("part", "_k", "rid")
            .select(*VIOLATION_COLS))


def _failing(verdicts: list) -> dict:
    """{check name: [partitions whose verdict did not pass]}."""
    failing: dict = {}
    for v in verdicts:
        if not v.passed:
            failing.setdefault(v.check_name, []).append(v.part)
    return failing


def failing_violations(clips: DataFrame, dim: DataFrame,
                       verdicts: list) -> Optional[DataFrame]:
    """``violation_plan`` over the partitions whose verdict for a check
    did not pass; None when no row-scope check failed."""
    failing = _failing(verdicts)
    if not any(c.breach and c.name in failing for c in CHECKS):
        return None
    return violation_plan(clips, dim, failing)


def suite_violations(clips: DataFrame, dim: DataFrame) -> DataFrame:
    """All checks' violation rows (clip_id, check_name, observed,
    expected, part): ``violation_plan`` over the partitions where each
    row-scope check fails, its verdicts computed here (eagerly)."""
    run = collect_suite(clips, dim, checks=[c for c in CHECKS if c.breach])
    return violation_plan(clips, dim, _failing(run.verdicts))


def streaming_suite_verdicts(batch: DataFrame, dim: DataFrame,
                             checks=CHECKS) -> DataFrame:
    """The micro-batch-safe subset of ``checks`` (drift vs baseline and
    cross-batch uniqueness are owned by the batch runner): pass 1 alone,
    without the drift bins."""
    run = collect_suite(batch, dim,
                        checks=[c for c in checks if c.streaming_safe])
    return verdict_frame(batch, run.verdicts)

"""Commit-time drift gate: stat + schema diff between a table's latest
snapshot and its prior history, folded from per-snapshot sidecars.

At 100 TB the question "did this ingest commit drift?" must not rescan the
table.  ``ParquetTableIO.append(..., stats_cols=...)`` profiles each commit
ONCE into a mergeable moment sidecar (n/nulls/sum/sumsq/min/max per column
+ schema); everything here folds those O(commits × cols) JSON rows —
exactly Iceberg's per-commit column metrics, distilled to moments — so the
report costs zero scans regardless of table size.  This is the reference's
baseline-vs-incoming-window drift comparison
(/root/reference/utils/StreamProcessor.py:143-157 recomputes both windows'
stats per check) re-expressed as incremental metadata maintenance: the
baseline is the fold of every prior commit's sidecar
(``tableio.fold_sidecars``).

Four gates, all sidecar-only, each a row-returning core (``*_rows``)
under a literal-frame report.  Each compares the LATEST sidecar with the
fold of the earlier sidecars that carry its family; a family the latest
sidecar lacks yields no rows:
- ``stat_drift_report`` — mean shift in baseline-stddev units (Cohen's-d
  style effect size) + null-rate jump + min/max range escapes, from the
  moment sidecars;
- ``quantile_drift_report`` — KS + Wasserstein-1 distance between the
  commit's KLL sketch and the merged baseline sketch, catching same-mean
  shape drift the moment gate is blind to (W1 reads in the column's own
  units: how far mass moved);
- ``category_drift_report`` — heavy-hitter share swings and new-arrival
  categories from Misra-Gries sketches (the hot-codec screen at commit
  granularity);
- ``uniqueness_drift_report`` — HLL inclusion-exclusion estimating how
  much of the commit was ALREADY ingested by history (cross-commit
  re-ingestion screen) plus the commit's internal duplicate rate.
The scan-based distribution checks (PSI/binned-KS/JSD/chi-squared/W1
from one fixed-bin count aggregation, scored on the driver) live in
operators/drift_dist.py; this module is the cheap always-on gate that runs
at every commit.
"""

from __future__ import annotations

import base64
import math

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as TT

from ..functions.literals import literal_frame
from ..functions.sketches import (KLL, MisraGries, kll_ks_distance,
                                  kll_w1_distance)
from ..sources.tableio import fold_sidecars

REPORT_SCHEMA = TT.StructType([
    TT.StructField("column", TT.StringType()),
    TT.StructField("n_before", TT.LongType()),
    TT.StructField("n_after", TT.LongType()),
    TT.StructField("mean_before", TT.DoubleType()),
    TT.StructField("mean_after", TT.DoubleType()),
    TT.StructField("stddev_before", TT.DoubleType()),
    TT.StructField("effect_size", TT.DoubleType()),
    TT.StructField("null_rate_before", TT.DoubleType()),
    TT.StructField("null_rate_after", TT.DoubleType()),
    TT.StructField("range_escape", TT.BooleanType()),
    TT.StructField("flagged", TT.BooleanType()),
])

SCHEMA_DIFF_SCHEMA = TT.StructType([
    TT.StructField("snap", TT.StringType()),
    TT.StructField("column", TT.StringType()),
    TT.StructField("change", TT.StringType()),
    TT.StructField("before_type", TT.StringType()),
    TT.StructField("after_type", TT.StringType()),
])


def moments(m: dict) -> dict:
    """One column's (folded) moment sidecar entry as n / mean / sample
    stddev / min / max / null rate (a row counts in ``n`` or ``nulls``)."""
    n, s, ss = m["n"], m["sum"] or 0, m["sumsq"] or 0
    rows = n + m["nulls"]
    var = ((ss - s * s / n) / (n - 1)) if n > 1 else None
    return {"n": n, "mean": s / n if n else None,
            "std": math.sqrt(var) if var is not None and var > 0 else 0.0,
            "min": m["min"], "max": m["max"],
            "null_rate": m["nulls"] / rows if rows else None}


def _report(spark: SparkSession, io, name: str, rows, schema,
            hll: bool = False, **kw) -> DataFrame:
    """``rows(fold of the earlier sidecars, latest sidecar, **kw)`` of
    table ``name`` as a literal frame; ``hll`` runs the fold's one HLL
    aggregation."""
    sides = io.snapshot_stats(name)
    return literal_frame(spark, rows(
        fold_sidecars(sides[:-1], spark if hll else None, sides[-1]),
        sides[-1], **kw) if len(sides) > 1 else [], schema)


def stat_rows(base: dict, after: dict, effect_threshold: float = 0.5,
              null_jump: float = 0.01, round_to: int = 6) -> list:
    """The latest sidecar ``after`` vs the fold ``base`` of the earlier
    ones, one row per profiled column.  Flags: |effect size| over
    threshold, null-rate jump, or min/max escaping the historical
    range."""
    out = []
    for c in sorted(set(after.get("cols", ())) & set(base.get("cols", ()))):
        b, a = moments(base["cols"][c]), moments(after["cols"][c])
        if not b["n"] or not a["n"]:
            continue
        delta = a["mean"] - b["mean"]
        if b["std"] > 0:
            effect = delta / b["std"]
        else:
            effect = 0.0 if delta == 0 else math.inf
        escape = (a["min"] < b["min"]) or (a["max"] > b["max"])
        null_delta = (a["null_rate"] or 0.0) - (b["null_rate"] or 0.0)
        flagged = (abs(effect) > effect_threshold
                   or null_delta > null_jump or escape)
        out.append(Row(*REPORT_SCHEMA.names)(
            c, b["n"], a["n"],
            round(b["mean"], round_to), round(a["mean"], round_to),
            round(b["std"], round_to),
            None if math.isinf(effect) else round(effect, round_to),
            round(b["null_rate"], round_to), round(a["null_rate"], round_to),
            escape, flagged))
    return out


def stat_drift_report(spark: SparkSession, io, name: str,
                      effect_threshold: float = 0.5,
                      null_jump: float = 0.01,
                      round_to: int = 6) -> DataFrame:
    """``stat_rows`` of the table's latest commit."""
    return _report(spark, io, name, stat_rows, REPORT_SCHEMA,
                   effect_threshold=effect_threshold, null_jump=null_jump,
                   round_to=round_to)


QUANTILE_DRIFT_SCHEMA = TT.StructType([
    TT.StructField("column", TT.StringType()),
    TT.StructField("n_before", TT.LongType()),
    TT.StructField("n_after", TT.LongType()),
    TT.StructField("p50_before", TT.DoubleType()),
    TT.StructField("p50_after", TT.DoubleType()),
    TT.StructField("ks", TT.DoubleType()),
    TT.StructField("w1", TT.DoubleType()),
    TT.StructField("flagged", TT.BooleanType()),
])


def quantile_rows(base: dict, after: dict, ks_threshold: float = 0.15,
                  round_to: int = 6) -> list:
    """Shape drift between the latest sidecar and the fold of the earlier
    ones, from their KLL sketches alone: merged baseline sketch vs the
    commit's sketch, KS statistic over their union support.  Catches
    drifts the moment gate is blind to — a commit with the SAME mean but a
    different shape (bimodal split, variance blow-up) moves no effect size
    but moves the CDF.  Cost: O(commits × k) sketch bytes, zero scans."""
    out = []
    for c in sorted(set(after.get("kll", ())) & set(base.get("kll", ()))):
        b = KLL.deserialize(base64.b64decode(base["kll"][c]))
        cur = KLL.deserialize(base64.b64decode(after["kll"][c]))
        if b.n == 0 or cur.n == 0:
            continue
        ks = kll_ks_distance(b, cur)
        out.append(Row(*QUANTILE_DRIFT_SCHEMA.names)(
            c, b.n, cur.n,
            round(float(b.quantile(0.5)), round_to),
            round(float(cur.quantile(0.5)), round_to),
            round(ks, round_to),
            round(kll_w1_distance(b, cur), round_to),
            bool(ks > ks_threshold)))
    return out


def quantile_drift_report(spark: SparkSession, io, name: str,
                          ks_threshold: float = 0.15,
                          round_to: int = 6) -> DataFrame:
    """``quantile_rows`` of the table's latest commit."""
    return _report(spark, io, name, quantile_rows, QUANTILE_DRIFT_SCHEMA,
                   ks_threshold=ks_threshold, round_to=round_to)


CATEGORY_DRIFT_SCHEMA = TT.StructType([
    TT.StructField("column", TT.StringType()),
    TT.StructField("item", TT.StringType()),
    TT.StructField("share_before", TT.DoubleType()),
    TT.StructField("share_after", TT.DoubleType()),
    TT.StructField("delta", TT.DoubleType()),
    TT.StructField("new_arrival", TT.BooleanType()),
    TT.StructField("flagged", TT.BooleanType()),
])


def category_rows(base: dict, after: dict, share_delta: float = 0.05,
                  top: int = 8, round_to: int = 6) -> list:
    """Heavy-hitter share drift between the latest sidecar and the merged
    baseline, from their Misra-Gries sketches: one row per item in
    either side's top-``top``, with its estimated share before/after.
    Flags a share swing beyond ``share_delta`` or a NEW ARRIVAL — an item
    the whole baseline never retained (e.g. an off-dimension codec first
    appearing in this commit), at ANY share.  MG estimates undercount by
    at most err ≤ n/(k+1), so retention of small items is best-effort
    below that bound and guaranteed above it; the new-arrival screen is
    therefore a cheap commit-time complement to (not a replacement for)
    the exact broadcast referential check.  Cost: O(commits × k) sketch
    bytes, zero scans."""
    out = []
    for c in sorted(set(after.get("mg", ())) & set(base.get("mg", ()))):
        b = MisraGries.deserialize(base64.b64decode(base["mg"][c]))
        cur = MisraGries.deserialize(base64.b64decode(after["mg"][c]))
        if b.n == 0 or cur.n == 0:
            continue
        items = sorted({i for i, _, _ in b.topk(top)}
                       | {i for i, _, _ in cur.topk(top)})
        b_est = dict((i, e) for i, e, _ in b.topk())
        a_est = dict((i, e) for i, e, _ in cur.topk())
        for item in items:
            sb = b_est.get(item, 0) / b.n
            sa = a_est.get(item, 0) / cur.n
            new = item not in b_est and sa > 0
            out.append(Row(*CATEGORY_DRIFT_SCHEMA.names)(
                c, item, round(sb, round_to), round(sa, round_to),
                round(sa - sb, round_to), new,
                abs(sa - sb) > share_delta or new))
    return out


def category_drift_report(spark: SparkSession, io, name: str,
                          share_delta: float = 0.05, top: int = 8,
                          round_to: int = 6) -> DataFrame:
    """``category_rows`` of the table's latest commit."""
    return _report(spark, io, name, category_rows, CATEGORY_DRIFT_SCHEMA,
                   share_delta=share_delta, top=top, round_to=round_to)


UNIQUENESS_DRIFT_SCHEMA = TT.StructType([
    TT.StructField("column", TT.StringType()),
    TT.StructField("base_distinct", TT.DoubleType()),
    TT.StructField("commit_rows", TT.LongType()),
    TT.StructField("commit_distinct", TT.DoubleType()),
    TT.StructField("reingested", TT.DoubleType()),
    TT.StructField("cross_dup_rate", TT.DoubleType()),
    TT.StructField("intra_dup_rate", TT.DoubleType()),
    TT.StructField("flagged", TT.BooleanType()),
])


def uniqueness_rows(base: dict, after: dict,
                    dup_rate_threshold: float = 0.05,
                    round_to: int = 6) -> list:
    """Cross-commit duplicate screen from the HLL estimates of a fold that
    ran its aggregation against ``after`` (``fold_sidecars(before, spark,
    after)``): for each key column, estimate how many of the latest
    commit's keys were ALREADY ingested by earlier commits
    (inclusion-exclusion over the merged baseline sketch, the commit's
    sketch, and their union), plus the commit's internal duplicate rate
    (rows vs distinct).  This is the uniqueness check the reference runs
    per window, lifted to commit-over-history granularity without
    touching any ingested row again.  HLL lgK=12 → ~1.6% std err, so the
    default threshold screens real re-ingestion, not sketch noise."""
    out = []
    for c in sorted(set(after.get("hll", ())) & set(base.get("hll", ()))):
        h, n_after = base["hll"][c], after["hll"][c]["n"]
        if h["distinct"] is None or not n_after:
            continue
        # hll_sketch_estimate returns BIGINT — lift to float for the report
        base_d, after_d, union_d = (float(h["distinct"]),
                                    float(h["latest_distinct"]),
                                    float(h["union_distinct"]))
        overlap = max(0.0, base_d + after_d - union_d)
        cross = overlap / after_d
        intra = max(0.0, 1.0 - after_d / n_after)
        out.append(Row(*UNIQUENESS_DRIFT_SCHEMA.names)(
            c, round(base_d, 1), n_after, round(after_d, 1),
            round(overlap, 1), round(cross, round_to),
            round(intra, round_to),
            bool(cross > dup_rate_threshold or intra > dup_rate_threshold)))
    return out


def uniqueness_drift_report(spark: SparkSession, io, name: str,
                            dup_rate_threshold: float = 0.05,
                            round_to: int = 6) -> DataFrame:
    """``uniqueness_rows`` of the table's latest commit."""
    return _report(spark, io, name, uniqueness_rows,
                   UNIQUENESS_DRIFT_SCHEMA, hll=True,
                   dup_rate_threshold=dup_rate_threshold, round_to=round_to)


def schema_diff_report(spark: SparkSession, io, name: str) -> DataFrame:
    """Schema changes across consecutive profiled commits: columns added,
    removed, or type-changed — the schema-evolution audit trail an Iceberg
    catalog keeps, derived here from the sidecars' recorded schemas."""
    sidecars = io.snapshot_stats(name)
    out = []
    for prev, cur in zip(sidecars, sidecars[1:]):
        ps, cs = prev["schema"], cur["schema"]
        for c in sorted(set(cs) - set(ps)):
            out.append((cur["snap"], c, "added", None, cs[c]))
        for c in sorted(set(ps) - set(cs)):
            out.append((cur["snap"], c, "removed", ps[c], None))
        for c in sorted(set(ps) & set(cs)):
            if ps[c] != cs[c]:
                out.append((cur["snap"], c, "type_changed", ps[c], cs[c]))
    return literal_frame(spark, out, SCHEMA_DIFF_SCHEMA)

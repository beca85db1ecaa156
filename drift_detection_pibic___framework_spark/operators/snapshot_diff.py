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
baseline is the fold of every prior commit's sidecar.

Two gates, both sidecar-only:
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

import math

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as TT

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


def _fold_col(sidecars: list, col: str) -> dict:
    """Merge one column's moments across sidecars (same fold as
    operators/stats.merge_moments, driver-side over O(commits) rows)."""
    n = rows = nulls = s = ss = 0
    mn = mx = None
    for sc in sidecars:
        c = sc["cols"][col]
        rows += sc["rows"]
        n += c["n"]
        nulls += c["nulls"]
        if c["n"]:
            s += c["sum"]
            ss += c["sumsq"]
            mn = c["min"] if mn is None else min(mn, c["min"])
            mx = c["max"] if mx is None else max(mx, c["max"])
    mean = s / n if n else None
    var = ((ss - s * s / n) / (n - 1)) if n > 1 else None
    std = math.sqrt(var) if var is not None and var > 0 else 0.0
    null_rate = nulls / rows if rows else None
    return {"n": n, "mean": mean, "std": std, "min": mn, "max": mx,
            "null_rate": null_rate}


def stat_drift_report(spark: SparkSession, io, name: str,
                      effect_threshold: float = 0.5,
                      null_jump: float = 0.01,
                      round_to: int = 6) -> DataFrame:
    """Latest commit vs the fold of all earlier commits, one row per
    profiled column.  Flags: |effect size| over threshold, null-rate jump,
    or min/max escaping the historical range.  Empty if the table has
    fewer than two stats-profiled commits."""
    sidecars = io.snapshot_stats(name)
    if len(sidecars) < 2:
        return spark.createDataFrame([], REPORT_SCHEMA)
    *before, after = sidecars
    cols = [c for c in after["cols"] if all(c in sc["cols"] for sc in before)]
    out = []
    for c in sorted(cols):
        b = _fold_col(before, c)
        a = _fold_col([after], c)
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
        out.append((c, b["n"], a["n"],
                    round(b["mean"], round_to), round(a["mean"], round_to),
                    round(b["std"], round_to),
                    None if math.isinf(effect) else round(effect, round_to),
                    round(b["null_rate"], round_to),
                    round(a["null_rate"], round_to),
                    escape, flagged))
    return spark.createDataFrame(out, REPORT_SCHEMA)


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


def quantile_drift_report(spark: SparkSession, io, name: str,
                          ks_threshold: float = 0.15,
                          round_to: int = 6) -> DataFrame:
    """Shape drift between the latest commit and the fold of all earlier
    commits, from the sidecars' KLL sketches alone: merged baseline sketch
    vs the commit's sketch, KS statistic over their union support.  Catches
    drifts the moment gate is blind to — a commit with the SAME mean but a
    different shape (bimodal split, variance blow-up) moves no effect size
    but moves the CDF.  Cost: O(commits × k) sketch bytes, zero scans."""
    import base64

    from ..functions.sketches import KLL, kll_ks_distance, kll_w1_distance

    sidecars = [s for s in io.snapshot_stats(name) if s.get("kll")]
    if len(sidecars) < 2:
        return spark.createDataFrame([], QUANTILE_DRIFT_SCHEMA)
    *before, after = sidecars
    cols = [c for c in after["kll"]
            if all(c in sc["kll"] for sc in before)]
    out = []
    for c in sorted(cols):
        base = None
        for sc in before:
            sk = KLL.deserialize(base64.b64decode(sc["kll"][c]))
            base = sk if base is None else base.merge(sk)
        cur = KLL.deserialize(base64.b64decode(after["kll"][c]))
        if base.n == 0 or cur.n == 0:
            continue
        ks = kll_ks_distance(base, cur)
        out.append((c, base.n, cur.n,
                    round(float(base.quantile(0.5)), round_to),
                    round(float(cur.quantile(0.5)), round_to),
                    round(ks, round_to),
                    round(kll_w1_distance(base, cur), round_to),
                    bool(ks > ks_threshold)))
    return spark.createDataFrame(out, QUANTILE_DRIFT_SCHEMA)


CATEGORY_DRIFT_SCHEMA = TT.StructType([
    TT.StructField("column", TT.StringType()),
    TT.StructField("item", TT.StringType()),
    TT.StructField("share_before", TT.DoubleType()),
    TT.StructField("share_after", TT.DoubleType()),
    TT.StructField("delta", TT.DoubleType()),
    TT.StructField("new_arrival", TT.BooleanType()),
    TT.StructField("flagged", TT.BooleanType()),
])


def category_drift_report(spark: SparkSession, io, name: str,
                          share_delta: float = 0.05, top: int = 8,
                          round_to: int = 6) -> DataFrame:
    """Heavy-hitter share drift between the latest commit and the merged
    baseline, from the sidecars' Misra-Gries sketches: one row per item in
    either side's top-``top``, with its estimated share before/after.
    Flags a share swing beyond ``share_delta`` or a NEW ARRIVAL — an item
    the whole baseline never retained (e.g. an off-dimension codec first
    appearing in this commit), at ANY share.  MG estimates undercount by
    at most err ≤ n/(k+1), so retention of small items is best-effort
    below that bound and guaranteed above it; the new-arrival screen is
    therefore a cheap commit-time complement to (not a replacement for)
    the exact broadcast referential check.  Cost: O(commits × k) sketch
    bytes, zero scans."""
    import base64

    from ..functions.sketches import MisraGries

    sidecars = [s for s in io.snapshot_stats(name) if s.get("mg")]
    if len(sidecars) < 2:
        return spark.createDataFrame([], CATEGORY_DRIFT_SCHEMA)
    *before, after = sidecars
    cols = [c for c in after["mg"] if all(c in sc["mg"] for sc in before)]
    out = []
    for c in sorted(cols):
        base = None
        for sc in before:
            sk = MisraGries.deserialize(base64.b64decode(sc["mg"][c]))
            base = sk if base is None else base.merge(sk)
        cur = MisraGries.deserialize(base64.b64decode(after["mg"][c]))
        if base.n == 0 or cur.n == 0:
            continue
        items = sorted({i for i, _, _ in base.topk(top)}
                       | {i for i, _, _ in cur.topk(top)})
        b_est = dict((i, e) for i, e, _ in base.topk())
        a_est = dict((i, e) for i, e, _ in cur.topk())
        for item in items:
            sb = b_est.get(item, 0) / base.n
            sa = a_est.get(item, 0) / cur.n
            new = item not in b_est and sa > 0
            flagged = abs(sa - sb) > share_delta or new
            out.append((c, item, round(sb, round_to), round(sa, round_to),
                        round(sa - sb, round_to), new, flagged))
    return spark.createDataFrame(out, CATEGORY_DRIFT_SCHEMA)


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


def uniqueness_drift_report(spark: SparkSession, io, name: str,
                            dup_rate_threshold: float = 0.05,
                            round_to: int = 6) -> DataFrame:
    """Cross-commit duplicate screen from the sidecars' HLL sketches: for
    each key column, estimate how many of the latest commit's keys were
    ALREADY ingested by earlier commits (inclusion-exclusion over the
    merged baseline sketch, the commit's sketch, and their union — all
    JVM-side ``hll_union_agg``), plus the commit's internal duplicate rate
    (rows vs distinct).  This is the uniqueness check the reference runs
    per window, lifted to commit-over-history granularity without touching
    any ingested row again.  HLL lgK=12 → ~1.6% std err, so the default
    threshold screens real re-ingestion, not sketch noise."""
    import base64

    sidecars = [s for s in io.snapshot_stats(name) if s.get("hll")]
    if len(sidecars) < 2:
        return spark.createDataFrame([], UNIQUENESS_DRIFT_SCHEMA)
    *before, after = sidecars
    cols = [c for c in after["hll"] if all(c in sc["hll"] for sc in before)]
    out = []
    for c in sorted(cols):
        rows = [("base", base64.b64decode(sc["hll"][c]["sketch"]))
                for sc in before]
        rows.append(("after", base64.b64decode(after["hll"][c]["sketch"])))
        est = (spark.createDataFrame(rows, "side string, sketch binary")
               .agg(
                   F.expr("hll_sketch_estimate(hll_union_agg(sketch, true))")
                   .alias("union_d"),
                   F.expr("hll_sketch_estimate(hll_union_agg("
                          "CASE WHEN side = 'base' THEN sketch END, true))")
                   .alias("base_d"),
                   F.expr("hll_sketch_estimate(hll_union_agg("
                          "CASE WHEN side = 'after' THEN sketch END, true))")
                   .alias("after_d"))
               .collect()[0])
        n_after = after["hll"][c]["n"]
        if not n_after or est.after_d is None:
            continue
        # hll_sketch_estimate returns BIGINT — lift to float for the report
        base_d, after_d, union_d = (float(est.base_d), float(est.after_d),
                                    float(est.union_d))
        overlap = max(0.0, base_d + after_d - union_d)
        cross = overlap / after_d
        intra = max(0.0, 1.0 - after_d / n_after)
        out.append((c, round(base_d, 1), n_after, round(after_d, 1),
                    round(overlap, 1), round(cross, round_to),
                    round(intra, round_to),
                    bool(cross > dup_rate_threshold
                         or intra > dup_rate_threshold)))
    return spark.createDataFrame(out, UNIQUENESS_DRIFT_SCHEMA)


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
    return spark.createDataFrame(out, SCHEMA_DIFF_SCHEMA)

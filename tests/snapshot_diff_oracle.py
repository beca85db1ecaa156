"""The commit-gate reports as they were before the shared sidecar fold:
each report folds the sidecars itself (``_fold_col`` and per-report KLL /
Misra-Gries merge loops), runs its own HLL union job per key column and
wraps its rows with ``createDataFrame``; sidecar suggestion and the
contract gate read and fold the sidecars again.  The production reports
(operators/snapshot_diff.py, operators/profile.py) fold once through
``tableio.fold_sidecars``; these bodies are their oracle.

They pick commits by their former rules: the moment gate needs a column
in EVERY earlier sidecar, and the sketch gates drop the sidecars that
lack their family, so a key-only latest commit makes them re-compare the
commit before it.  Compare with them only on tables whose commits all
carry the same families.

One edit: each HLL union job runs on one partition (``coalesce(1)``),
unioning the sketches in commit order as the production fold does.
Spread over several partitions, the union's estimate depends on the
order the partial unions merge in, which is the order tasks finish: on
the same six sidecars it read 1,293 distinct keys where the one-partition
union read 1,301."""

import base64
import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from drift_detection_pibic___framework_spark.functions.sketches import (
    KLL, MisraGries, kll_ks_distance, kll_w1_distance)
from drift_detection_pibic___framework_spark.operators.profile import (
    SUGGESTION_SCHEMA, _fmt_num, _range_bounds, diff_contracts)
from drift_detection_pibic___framework_spark.operators.snapshot_diff import (
    CATEGORY_DRIFT_SCHEMA, QUANTILE_DRIFT_SCHEMA, REPORT_SCHEMA,
    UNIQUENESS_DRIFT_SCHEMA)


def _fold_col(sidecars: list, col: str) -> dict:
    """Merge one column's moments across sidecars (same fold as
    operators/stats.merge_moments, in Python over O(commits) rows)."""
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


def quantile_drift_report(spark: SparkSession, io, name: str,
                          ks_threshold: float = 0.15,
                          round_to: int = 6) -> DataFrame:
    """Shape drift between the latest commit and the fold of all earlier
    commits, from the sidecars' KLL sketches alone: merged baseline sketch
    vs the commit's sketch, KS statistic over their union support.  Catches
    drifts the moment gate is blind to — a commit with the SAME mean but a
    different shape (bimodal split, variance blow-up) moves no effect size
    but moves the CDF.  Cost: O(commits × k) sketch bytes, zero scans."""

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
               .coalesce(1)
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


def suggest_from_sidecars(spark, io, name: str, max_domain: int = 10,
                          hll_rse: float = 0.016) -> DataFrame:
    """Constraint suggestion over a TableIO table WITHOUT scanning it:
    fold the per-commit stats sidecars (``append(..., stats_cols/
    cat_cols/key_cols)``) that snapshot_diff's drift gates already
    maintain.  At 100 TB this is the difference between an O(table)
    profiling job and O(commits) JSON reads plus one tiny sketch-merge
    job — the same zero-rescan trade the commit gates make.

    Per sidecar family:
    - moment sidecars (numeric ``stats_cols``) -> not_null /
      completeness floor / range, exactly as the scan path (sums, nulls
      and min/max are exact and mergeable);
    - Misra-Gries sidecars (``cat_cols``) -> not_null / completeness
      from the sketch's exact item count; ``isin`` ONLY when the merged
      sketch's error bound is zero (no counter evictions ever happened),
      which proves the counter set IS the complete observed domain;
    - HLL sidecars (``key_cols``) -> ``unique`` when the union estimate
      covers the row count within 3x the sketch's relative std error
      (lgK=12 -> ~1.6%); params are set to ``approx`` because HLL noise
      cannot rule out a sub-percent duplicate rate — run the scan-path
      ``suggest_constraints`` when exact key verification matters.

    A column missing from ANY profiled commit is skipped (its values in
    those commits are unknown — fail safe).  Constraints for a column
    appearing in several families are deduplicated.
    """

    sidecars = io.snapshot_stats(name)
    if not sidecars:
        raise ValueError(f"table {name} has no stats sidecars")
    rows_total = sum(sc["rows"] for sc in sidecars)
    out, seen = [], set()

    def emit(col, constraint, params):
        if (col, constraint) not in seen:
            seen.add((col, constraint))
            out.append((col, constraint, params))

    def completeness_rules(col, n_nonnull):
        if rows_total and n_nonnull == rows_total:
            emit(col, "not_null", "")
        elif n_nonnull and n_nonnull < rows_total:
            pct = int((n_nonnull * 100) // rows_total)
            if pct > 0:
                emit(col, "completeness_pct_ge", str(pct))

    num_cols = set(sidecars[0].get("cols", ()))
    for sc in sidecars[1:]:
        num_cols &= set(sc.get("cols", ()))
    for c in sorted(num_cols):
        n = nulls = 0
        mn = mx = None
        for sc in sidecars:
            cc = sc["cols"][c]
            n += cc["n"]
            nulls += cc["nulls"]
            if cc["n"]:
                mn = cc["min"] if mn is None else min(mn, cc["min"])
                mx = cc["max"] if mx is None else max(mx, cc["max"])
        completeness_rules(c, n)
        if mn is not None:
            b = _range_bounds(float(mn), float(mx))
            if b is not None:
                emit(c, "range", f"[{_fmt_num(b[0])},{_fmt_num(b[1])}]")

    mg_cols = set(sidecars[0].get("mg", ()))
    for sc in sidecars[1:]:
        mg_cols &= set(sc.get("mg", ()))
    for c in sorted(mg_cols):
        merged = None
        for sc in sidecars:
            sk = MisraGries.deserialize(base64.b64decode(sc["mg"][c]))
            merged = sk if merged is None else merged.merge(sk)
        completeness_rules(c, merged.n)
        if merged.err == 0 and 0 < len(merged.counters) <= max_domain:
            domain = sorted(str(v) for v in merged.counters)
            if not any("," in v or v == "" for v in domain):
                emit(c, "isin", ",".join(domain))

    hll_cols = set(sidecars[0].get("hll", ()))
    for sc in sidecars[1:]:
        hll_cols &= set(sc.get("hll", ()))
    for c in sorted(hll_cols):
        n = sum(sc["hll"][c]["n"] for sc in sidecars)
        completeness_rules(c, n)
        if n == rows_total and rows_total:
            sk_rows = [(base64.b64decode(sc["hll"][c]["sketch"]),)
                       for sc in sidecars]
            est = (spark.createDataFrame(sk_rows, "sketch binary")
                   .coalesce(1)
                   .agg(F.expr(
                       "hll_sketch_estimate(hll_union_agg(sketch, true))"))
                   .collect()[0][0])
            if est is not None and \
                    float(est) >= (1.0 - 3.0 * hll_rse) * rows_total:
                emit(c, "unique", "approx")
    return spark.createDataFrame(out, SUGGESTION_SCHEMA)


def sidecar_contract_drift(spark, io, name: str, pinned,
                           max_domain: int = 10) -> list:
    """Constraint-level drift gate at COMMIT granularity with zero table
    scan: re-suggest from the table's commit sidecars
    (``suggest_from_sidecars``) and diff against the pinned contract
    (``diff_contracts``).  Run it after every ``append`` beside the
    snapshot_diff gates — a loosened constraint (drift=True row) means
    the ingested history no longer supports what the pin promises, at
    O(commits) JSON reads + one sketch-merge job regardless of table
    size.  Returns diff_contracts' row dicts.

    The pin may come from the SCAN path (``--suggest``), which observes
    constraint families the sidecars cannot (isin needs a Misra-Gries
    sidecar, unique an HLL one, everything needs the column profiled at
    all).  A pinned constraint whose family is UNOBSERVABLE from the
    committed sidecars is skipped rather than reported "removed" —
    absence of evidence, not drift.  "added" rows are dropped too (the
    pin's silence on a constraint is a decision, not a gap)."""
    sidecars = io.snapshot_stats(name)
    observed = suggest_from_sidecars(spark, io, name,
                                     max_domain=max_domain)

    def family_sets(key):
        out = set()
        for sc in sidecars:
            out |= {(c, key) for c in sc.get(key, ())}
        return out

    num = {c for c, _ in family_sets("cols")}
    mg = {c for c, _ in family_sets("mg")}
    hll = {c for c, _ in family_sets("hll")}
    completeness_ok = num | mg | hll

    def observable(col, constraint):
        if constraint in ("not_null", "completeness_pct_ge"):
            return col in completeness_ok
        if constraint == "range":
            return col in num
        if constraint == "isin":
            return col in mg
        if constraint == "unique":
            return col in hll
        return False

    if isinstance(pinned, DataFrame):
        pinned = pinned.collect()
    pinned = [(r["column"], r["constraint"], r["params"])
              if isinstance(r, dict) else (r[0], r[1], r[2])
              for r in pinned]
    pinned = [p for p in pinned if observable(p[0], p[1])]
    return [d for d in diff_contracts(pinned, observed)
            if d["change"] != "added"]


def gate_rows(spark, io, name: str, pinned_contract=None) -> list:
    """The stream gate's (gate, subject, detail, flagged) rows, built the
    way the handler built them from the four report frames and the
    contract gate."""
    rows = []
    for r in stat_drift_report(spark, io, name).collect():
        rows.append(("moments", r.column,
                     f"effect={r.effect_size} escape={r.range_escape}",
                     bool(r.flagged)))
    for r in quantile_drift_report(spark, io, name).collect():
        rows.append(("quantile", r.column, f"ks={r.ks}", bool(r.flagged)))
    for r in category_drift_report(spark, io, name).collect():
        rows.append(("category", f"{r.column}={r.item}",
                     f"delta={r.delta} new={r.new_arrival}",
                     bool(r.flagged)))
    for r in uniqueness_drift_report(spark, io, name).collect():
        rows.append(("uniqueness", r.column,
                     f"cross={r.cross_dup_rate} intra={r.intra_dup_rate}",
                     bool(r.flagged)))
    if pinned_contract is not None:
        for d in sidecar_contract_drift(spark, io, name, pinned_contract):
            rows.append(("contract", f"{d['column']}.{d['constraint']}",
                         f"{d['change']}: {d['before']} -> {d['after']}",
                         bool(d["drift"])))
    return rows

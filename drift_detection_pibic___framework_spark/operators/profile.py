"""Column profiling + automatic constraint suggestion (Deequ-style).

The validation suite (plans/suite.py) runs HAND-WRITTEN checks; this module
closes the loop that production validation engines ship as a headline
feature (Schelter et al., "Automating Large-Scale Data Quality
Verification", VLDB 2018 — Deequ's ConstraintSuggestionRunner; Great
Expectations' profilers): PROFILE a trusted baseline table once, derive the
constraints its data actually satisfies, and run those as the per-partition
check suite against every new ingest.  The reference framework has no
analogue (it monitors model error streams, not table constraints); this is
the pipeline extension the build brief requires, expressed Spark-first.

Scale design (10^12 rows):
- ``column_profiles`` is ONE aggregation pass over the table: every
  per-column statistic (count/nulls/distinct/min/max/mean/stddev/lengths)
  for every profiled column is computed in a single ``df.agg(...)`` with
  map-side partial aggregation — the shuffle carries one partial row per
  input split, never raw rows.  The ``bytes`` payload column is excluded by
  default, so the Parquet scan prunes it (ReadSchema-verified pattern,
  operators/stats.py).
- distinct counts default to ``approx_count_distinct`` (HLL++, mergeable,
  one pass).  ``exact_distinct=True`` switches to exact ``count_distinct``
  for oracle parity at test scale — Spark plans that via EXPAND (one pass,
  n_cols× map-side rows), which is the documented cost of exactness.
- ``suggest_constraints`` applies the rule set DRIVER-SIDE over the
  collected profile (O(n_columns) rows — the same architecture as Deequ,
  whose suggestion rules run on the driver over collected metrics).  The
  only extra cluster work is ONE restricted second pass collecting the
  value domain of columns the profile already proved low-cardinality —
  ``collect_set`` is never evaluated on a column that could be large.
- ``suggested_suite_verdicts`` runs the suggestions through the check
  registry (``suite.contract_checks``): each constraint's aggregates ride
  ONE ``groupBy(part)`` and the driver finalizes the standard verdict rows
  (part, check_name, passed, observed, expected), exactly like the
  hand-written suite in plans/suite.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_SKIP = (T.BinaryType, T.ArrayType, T.MapType, T.StructType)

PROFILE_SCHEMA = T.StructType([
    T.StructField("column", T.StringType(), False),
    T.StructField("dtype", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_nonnull", T.LongType(), False),
    T.StructField("completeness", T.DoubleType(), True),
    T.StructField("n_distinct", T.LongType(), True),
    T.StructField("min_num", T.DoubleType(), True),
    T.StructField("max_num", T.DoubleType(), True),
    T.StructField("mean", T.DoubleType(), True),
    T.StructField("stddev", T.DoubleType(), True),
    T.StructField("min_len", T.IntegerType(), True),
    T.StructField("max_len", T.IntegerType(), True),
])

SUGGESTION_SCHEMA = T.StructType([
    T.StructField("column", T.StringType(), False),
    T.StructField("constraint", T.StringType(), False),
    T.StructField("params", T.StringType(), False),
])


def profilable_columns(df: DataFrame) -> list:
    """Scalar (non-binary, non-complex) columns — the default profile set.
    Excluding binary means the audio ``bytes`` payload never reaches the
    scan (column pruning)."""
    return [f.name for f in df.schema.fields
            if not isinstance(f.dataType, _SKIP)]


def _dtype_tag(dt: T.DataType) -> str:
    if isinstance(dt, _NUMERIC):
        return "numeric"
    if isinstance(dt, T.StringType):
        return "string"
    return "other"          # bool/date/timestamp: counts + distinct only


def column_profiles(df: DataFrame, cols: list = None,
                    exact_distinct: bool = False,
                    round_to: int = 6) -> DataFrame:
    """Long-format per-column profile: one output row per profiled column,
    all columns computed in ONE aggregation pass (see module docstring).

    Numeric columns fill min_num/max_num/mean/stddev (min_len/max_len
    NULL); string columns fill min_len/max_len of the string length
    (numeric stats NULL).  ``completeness`` = n_nonnull / n_rows, rounded.
    """
    cols = list(cols) if cols is not None else profilable_columns(df)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        tag = _dtype_tag(by_name[c])
        nd = (F.count_distinct(F.col(c)) if exact_distinct
              else F.approx_count_distinct(c))
        aggs += [F.count(c).alias(f"_nn_{c}"), nd.alias(f"_nd_{c}")]
        if tag == "numeric":
            aggs += [
                F.min(F.col(c).cast("double")).alias(f"_min_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_max_{c}"),
                F.round(F.avg(F.col(c).cast("double")), round_to)
                .alias(f"_mean_{c}"),
                F.round(F.stddev_samp(F.col(c).cast("double")), round_to)
                .alias(f"_std_{c}"),
            ]
        elif tag == "string":
            aggs += [
                F.min(F.length(c)).alias(f"_minl_{c}"),
                F.max(F.length(c)).alias(f"_maxl_{c}"),
            ]
    row = df.agg(*aggs)

    null_d = F.lit(None).cast("double")
    null_i = F.lit(None).cast("int")
    structs = []
    for c in cols:
        tag = _dtype_tag(by_name[c])
        num = tag == "numeric"
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.lit(tag).alias("dtype"),
            F.col("_n").alias("n_rows"),
            F.col(f"_nn_{c}").alias("n_nonnull"),
            F.round(F.col(f"_nn_{c}") / F.col("_n"), round_to)
            .alias("completeness"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            (F.col(f"_min_{c}") if num else null_d).alias("min_num"),
            (F.col(f"_max_{c}") if num else null_d).alias("max_num"),
            (F.col(f"_mean_{c}") if num else null_d).alias("mean"),
            (F.col(f"_std_{c}") if num else null_d).alias("stddev"),
            (F.col(f"_minl_{c}").cast("int") if tag == "string"
             else null_i).alias("min_len"),
            (F.col(f"_maxl_{c}").cast("int") if tag == "string"
             else null_i).alias("max_len"),
        ))
    return (row.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.*"))


# -------------------------------------------------------------------------
# suggestion rules
# -------------------------------------------------------------------------
# Deterministic, engine-portable formatting: params never contain a bare
# float (float-to-string differs between engines) — ranges use the raw
# numeric rendering only when the column is integral, completeness
# thresholds are integer percents, domains are comma-joined sorted values.

def _fmt_num(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else str(round(v, 6))


def _range_bounds(lo: float, hi: float):
    """Range params rounded OUTWARD at 6 dp — rounding a bound inward
    would exclude observed values, so a table could fail its own suggested
    range (the self-consistency invariant tests/test_properties pins).
    Returns None for non-finite bounds (NaN min/max: no sane range)."""
    import math
    if not (math.isfinite(lo) and math.isfinite(hi)):
        return None
    # the *1e6 scaling is only exact while v*1e6 stays below 2^53 — past
    # that, floor(v*1e6)/1e6 can land ABOVE v (inward!), breaking the
    # self-consistency invariant for huge magnitudes (hypothesis found
    # 6_499_472_767_520_849).  Large doubles are >= integer-spaced, so
    # plain floor/ceil is exact and outward there.
    LIM = 8.0e9      # 8e9 * 1e6 = 8e15 < 2^53
    flo = (math.floor(lo * 1e6) / 1e6 if abs(lo) < LIM
           else float(math.floor(lo)))
    fhi = (math.ceil(hi * 1e6) / 1e6 if abs(hi) < LIM
           else float(math.ceil(hi)))
    if not (math.isfinite(flo) and math.isfinite(fhi)):
        return lo, hi
    return flo, fhi


def _rules(r, domain: list = None, unique_ok: bool = None) -> list:
    """The suggestion rule set applied to one profile row ``r``.
    Returns (constraint, params) tuples.

    - complete column            -> ``not_null``
    - mostly-complete column     -> ``completeness_pct_ge`` at the observed
      completeness floored to an integer percent (slack against sampling
      noise, Deequ's RetainCompletenessRule)
    - complete + all-distinct    -> ``unique`` (``unique_ok`` overrides the
      profile's distinct count when the caller verified exactly)
    - numeric column             -> ``range`` [observed min, observed max]
    - low-cardinality column     -> ``isin`` over the observed domain
    """
    out = []
    if r.n_rows and r.n_nonnull == r.n_rows:
        out.append(("not_null", ""))
        if (unique_ok if unique_ok is not None
                else r.n_distinct == r.n_rows):
            out.append(("unique", ""))
    elif r.n_nonnull and r.n_nonnull < r.n_rows:
        pct = int((r.n_nonnull * 100) // r.n_rows)
        if pct > 0:
            out.append(("completeness_pct_ge", str(pct)))
    if r.dtype == "numeric" and r.min_num is not None:
        b = _range_bounds(r.min_num, r.max_num)
        if b is not None:
            out.append(("range", f"[{_fmt_num(b[0])},{_fmt_num(b[1])}]"))
    # isin: only a non-empty domain, and only when the comma-joined params
    # encoding round-trips (a value containing ',' — or the empty string,
    # which joins invisibly — could not survive a saved contract; fail
    # safe by not suggesting)
    if domain and not any("," in v or v == "" for v in domain):
        out.append(("isin", ",".join(domain)))
    return out


def suggest_constraints(df: DataFrame, cols: list = None,
                        max_domain: int = 10,
                        exact_distinct: bool = False) -> DataFrame:
    """Profile ``df`` and return suggested constraints as
    (column, constraint, params) rows — Deequ's ConstraintSuggestionRunner
    re-expressed over the one-pass profile.

    Cluster work: the profile pass, plus ONE second pass restricted to the
    columns the profile proved low-cardinality (n_distinct <= max_domain)
    collecting their sorted value domains.  Rule application itself is
    O(n_columns) driver-side metadata work (same as Deequ).  With the
    default ``exact_distinct=False`` the cardinality screen uses HLL++;
    a column whose approximate count sits within error of ``max_domain``
    still yields an exact (collected) domain, so the emitted ``isin`` list
    is always the true observed domain."""
    prof = column_profiles(df, cols, exact_distinct=exact_distinct)
    rows = prof.collect()            # O(n_columns) — bounded by contract
    low = [r.column for r in rows
           if r.n_distinct is not None and r.n_distinct <= max_domain]
    # unique rule under APPROX counts: HLL can under/over-shoot, so a
    # `approx == n_rows` test both misses real keys and blesses near-keys.
    # Screen candidates at 90% of n_rows (beyond HLL++ default error),
    # then verify EXACTLY — at scale that is one count_distinct per
    # candidate key column, not per column.
    cand = []
    if not exact_distinct:
        cand = [r.column for r in rows
                if r.n_rows and r.n_nonnull == r.n_rows
                and r.n_distinct is not None
                and r.n_distinct >= 0.9 * r.n_rows]
    # the domain collection and the exact-unique verification are
    # independent restricted aggregations over the same table: run them
    # as ONE aggregation pass (one scan, one job) instead of two
    # (optimization round, guide §1.2 — don't pay two full passes where
    # one computes both)
    domains, unique_ok = {}, {}
    if low or cand:
        aggs = [F.sort_array(F.collect_set(F.col(c).cast("string")))
                .alias(f"_dom_{c}") for c in low]
        aggs += [F.count_distinct(F.col(c)).alias(f"_uniq_{c}")
                 for c in cand]
        row2 = df.agg(*aggs).collect()[0]
        domains = {c: list(row2[f"_dom_{c}"]) for c in low}
        n = rows[0].n_rows
        unique_ok = {c: row2[f"_uniq_{c}"] == n for c in cand}
    data = []
    for r in rows:
        for constraint, params in _rules(r, domains.get(r.column),
                                         unique_ok.get(r.column)):
            data.append((r.column, constraint, params))
    spark = df.sparkSession
    return spark.createDataFrame(data, SUGGESTION_SCHEMA)


# -------------------------------------------------------------------------
# zero-scan suggestion from TableIO commit sidecars
# -------------------------------------------------------------------------

def sidecar_suggestions(sides: list, base: dict, max_domain: int = 10,
                        hll_rse: float = 0.016) -> list:
    """``suggest_from_sidecars``'s (column, constraint, params) rows from
    a table's sidecars and ``base``, the fold of all but the latest run
    against it (``fold_sidecars(sides[:-1], spark, sides[-1])``)."""
    import base64

    from ..functions.sketches import MisraGries
    from ..sources.tableio import fold_sidecars

    fold = fold_sidecars([base, sides[-1]])      # == the fold of all
    rows_total = fold["rows"]
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

    def in_every_sidecar(key):
        return sorted(set.intersection(*(set(sc.get(key, ()))
                                         for sc in sides)))

    for c in in_every_sidecar("cols"):
        m = fold["cols"][c]
        completeness_rules(c, m["n"])
        if m["min"] is not None:
            b = _range_bounds(float(m["min"]), float(m["max"]))
            if b is not None:
                emit(c, "range", f"[{_fmt_num(b[0])},{_fmt_num(b[1])}]")

    for c in in_every_sidecar("mg"):
        merged = MisraGries.deserialize(base64.b64decode(fold["mg"][c]))
        completeness_rules(c, merged.n)
        if merged.err == 0 and 0 < len(merged.counters) <= max_domain:
            domain = sorted(str(v) for v in merged.counters)
            if not any("," in v or v == "" for v in domain):
                emit(c, "isin", ",".join(domain))

    for c in in_every_sidecar("hll"):
        n = fold["hll"][c]["n"]
        completeness_rules(c, n)
        est = base["hll"][c].get("union_distinct")
        if n == rows_total and rows_total and est is not None and \
                float(est) >= (1.0 - 3.0 * hll_rse) * rows_total:
            emit(c, "unique", "approx")
    return out


def _sidecars_and_fold(spark, io, name: str) -> tuple:
    """(sidecars of table ``name``, the fold of all but the latest run
    against the latest): one read, one fold, one Spark job."""
    from ..sources.tableio import fold_sidecars

    sides = io.snapshot_stats(name)
    if not sides:
        raise ValueError(f"table {name} has no stats sidecars")
    return sides, fold_sidecars(sides[:-1], spark, sides[-1])


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
    from ..functions.literals import literal_frame

    return literal_frame(
        spark, sidecar_suggestions(*_sidecars_and_fold(spark, io, name),
                                   max_domain, hll_rse),
        SUGGESTION_SCHEMA)


def contract_drift_rows(sides: list, base: dict, pinned,
                        max_domain: int = 10) -> list:
    """``sidecar_contract_drift``'s rows from the inputs of
    ``sidecar_suggestions``."""
    observed = sidecar_suggestions(sides, base, max_domain)
    # the columns each constraint family can be observed on
    seen = {k: {c for sc in sides for c in sc.get(k, ())}
            for k in ("cols", "mg", "hll")}
    family = {"range": seen["cols"], "isin": seen["mg"],
              "unique": seen["hll"]}
    family["not_null"] = family["completeness_pct_ge"] = \
        set().union(*seen.values())
    if isinstance(pinned, DataFrame):
        pinned = pinned.collect()
    pinned = [(r["column"], r["constraint"], r["params"])
              if isinstance(r, dict) else (r[0], r[1], r[2])
              for r in pinned]
    pinned = [p for p in pinned if p[0] in family.get(p[1], ())]
    return [d for d in diff_contracts(pinned, observed)
            if d["change"] != "added"]


def sidecar_contract_drift(spark, io, name: str, pinned,
                           max_domain: int = 10) -> list:
    """Constraint-level drift gate at COMMIT granularity with zero table
    scan: re-suggest from the table's commit sidecars
    (``sidecar_suggestions``) and diff against the pinned contract
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
    return contract_drift_rows(*_sidecars_and_fold(spark, io, name),
                               pinned, max_domain)


# -------------------------------------------------------------------------
# contract diffing: constraint-level drift detection
# -------------------------------------------------------------------------

def diff_contracts(pinned, observed) -> list:
    """Diff a PINNED contract against the constraints OBSERVED on current
    data (a fresh ``suggest_constraints`` run) — drift detection at the
    constraint level: the moment data stops supporting a pinned
    constraint, the re-suggestion loosens or drops it, and that is the
    drift signal (the semantic complement of the distribution gates in
    drift_dist/snapshot_diff).

    Classification (``drift=True`` marks a LOOSENING — current data no
    longer satisfies what the pin promises):
    - pinned constraint absent from observed        -> removed, drift
    - range widened / isin gained values /
      completeness floor lowered                    -> drift
    - range narrowed / isin lost values /
      completeness floor raised                     -> tightened, no drift
      (current data satisfies the pin with room to spare)
    - constraint observed but not pinned            -> added, no drift
      (candidate to adopt)

    Pure metadata work over two tiny row lists (driver-side, like rule
    application itself); inputs are DataFrames, (column, constraint,
    params) tuples, or dicts as saved in the contract JSON.  Returns a
    list of dicts (column, constraint, change, before, after, drift).
    """
    def norm(rows):
        if isinstance(rows, DataFrame):
            rows = rows.collect()
        out = {}
        for r in rows:
            if isinstance(r, dict):
                out[(r["column"], r["constraint"])] = r["params"]
            else:
                out[(r[0], r[1])] = r[2]
        return out

    def parse_range(params):
        lo, hi = params.strip("[]").split(",")
        return float(lo), float(hi)

    old, new = norm(pinned), norm(observed)
    diffs = []

    def add(key, change, before, after, drift):
        diffs.append({"column": key[0], "constraint": key[1],
                      "change": change, "before": before, "after": after,
                      "drift": drift})

    for key in sorted(old):
        bef = old[key]
        if key not in new:
            add(key, "removed", bef, None, True)
            continue
        aft = new[key]
        if bef == aft:
            continue
        col, constraint = key
        if constraint == "range":
            (blo, bhi), (alo, ahi) = parse_range(bef), parse_range(aft)
            loosened = alo < blo or ahi > bhi
            add(key, "widened" if loosened else "narrowed", bef, aft,
                loosened)
        elif constraint == "isin":
            b = set(bef.split(",")) if bef else set()
            a = set(aft.split(",")) if aft else set()
            loosened = bool(a - b)
            add(key, "domain_grew" if loosened else "domain_shrank",
                bef, aft, loosened)
        elif constraint == "completeness_pct_ge":
            loosened = int(aft) < int(bef)
            add(key, "floor_lowered" if loosened else "floor_raised",
                bef, aft, loosened)
        else:                    # not_null/unique param cosmetics
            add(key, "params_changed", bef, aft, False)
    for key in sorted(set(new) - set(old)):
        add(key, "added", None, new[key], False)
    return diffs


# -------------------------------------------------------------------------
# compiling suggestions back into an executable per-partition suite
# -------------------------------------------------------------------------

KNOWN_CONSTRAINTS = ("not_null", "unique", "completeness_pct_ge",
                     "range", "isin")


def load_contract(path: str) -> list:
    """Load + validate a contract JSON file (the --suggest --contract
    artifact): a list of {column, constraint, params} dicts with a known
    constraint name and a parseable params format.  Raises ValueError
    with the offending entry spelled out — a malformed contract must fail
    HERE, not as an opaque analysis error deep inside the compiled
    suite."""
    import json

    with open(path) as f:
        data = json.load(f)
    if not isinstance(data, list):
        raise ValueError(f"contract {path}: expected a JSON list, "
                         f"got {type(data).__name__}")
    out = []
    for i, r in enumerate(data):
        if not isinstance(r, dict) or not {"column", "constraint",
                                           "params"} <= set(r):
            raise ValueError(
                f"contract {path}[{i}]: each entry needs column/"
                f"constraint/params, got {r!r}")
        col, constraint, params = r["column"], r["constraint"], r["params"]
        if constraint not in KNOWN_CONSTRAINTS:
            raise ValueError(
                f"contract {path}[{i}]: unknown constraint "
                f"{constraint!r} (known: {', '.join(KNOWN_CONSTRAINTS)})")
        if constraint == "range":
            try:
                lo, hi = (float(x) for x in params.strip("[]").split(","))
            except (ValueError, TypeError):
                raise ValueError(
                    f"contract {path}[{i}]: range params must be "
                    f"'[lo,hi]', got {params!r}") from None
            if lo > hi:
                raise ValueError(
                    f"contract {path}[{i}]: empty range {params!r}")
        elif constraint == "completeness_pct_ge":
            if not (isinstance(params, str) and params.isdigit()
                    and 0 < int(params) <= 100):
                raise ValueError(
                    f"contract {path}[{i}]: completeness_pct_ge params "
                    f"must be an integer percent in (0, 100], "
                    f"got {params!r}")
        out.append((col, constraint, params))
    return out


def suggested_suite_verdicts(df: DataFrame, suggestions,
                             part_col: str = "part") -> DataFrame:
    """Run a suggestion set as per-partition checks, emitted in the
    standard verdict schema (part, check_name, passed, observed, expected)
    that plans/runner.py persists.

    ``suggestions`` is the DataFrame from ``suggest_constraints`` or an
    equivalent list of (column, constraint, params) rows; it compiles to
    ``suite.contract_checks`` and runs through ``suite.collect_suite``:
    one aggregation pass, verdicts finalized on the driver."""
    from ..plans import suite
    df = df.withColumnRenamed(part_col, "part")
    run = suite.collect_suite(df, None,
                              checks=suite.contract_checks(suggestions))
    return (suite.verdict_frame(df, run.verdicts)
            .withColumnRenamed("part", part_col))


def suggested_suite_violations(df: DataFrame, suggestions,
                               id_col: str = "clip_id",
                               part_col: str = "part") -> DataFrame:
    """Row-level violation rows (id, check_name, observed, expected, part)
    for the ROW-EXPRESSIBLE constraints of a contract — the north-rule
    violation contract applied to the suggested/contract suite.

    not_null / range / isin test each row independently, so every
    violation is found in ONE narrow projection: an array of violation
    structs per row, exploded — zero shuffle, whole-stage codegen, and at
    10^12 rows the scan reads only the constrained columns plus id/part.
    unique and completeness_pct_ge are PARTITION-scope constraints (a row
    alone cannot breach them) and emit no rows here — their granularity is
    ``suggested_suite_verdicts``, exactly like dist_drift in the
    hand-written suite (plans/suite.py)."""
    from ..plans import suite
    return (suite.explode_breaches(
        df, [(c.name, *c.breach) for c in suite.contract_checks(suggestions)
             if c.breach], (id_col, part_col))
        .select(id_col, "check_name", "observed", "expected", part_col))

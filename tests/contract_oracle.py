"""The data-contract verdict compiler as Spark expressions: every
constraint's pass/fail, observed and expected built as struct columns
over one ``groupBy(part)`` and exploded.  ``profile.suggested_suite_verdicts``
now finalizes the same aggregates on the driver (plans/suite.py
``contract_checks``); this lazy form is its oracle."""

from pyspark.sql import DataFrame, functions as F

from drift_detection_pibic___framework_spark.operators.profile import (
    _fmt_num)


def _norm_rows(suggestions) -> list:
    if isinstance(suggestions, DataFrame):
        suggestions = suggestions.collect()
    return [(r["column"], r["constraint"], r["params"])
            if isinstance(r, dict) else (r[0], r[1], r[2])
            for r in suggestions]


def suggested_suite_verdicts(df: DataFrame, suggestions,
                             part_col: str = "part") -> DataFrame:
    """Run a suggestion set as per-partition checks: ONE aggregation pass
    computes every suggested constraint's per-partition pass/fail, emitted
    in the standard verdict schema (part, check_name, passed, observed,
    expected) that plans/runner.py persists.

    ``suggestions`` is the DataFrame from ``suggest_constraints`` or an
    equivalent list of (column, constraint, params) rows; it is collected
    (bounded: a handful of rows per column) and compiled into column
    expressions — the suite itself never leaves the JVM.
    """
    suggestions = _norm_rows(suggestions)
    if not suggestions:         # empty contract: no checks, no rows
        return (df.select(F.col(part_col)).limit(0)
                .select(part_col,
                        F.lit("").alias("check_name"),
                        F.lit(True).alias("passed"),
                        F.lit("").alias("observed"),
                        F.lit("").alias("expected")))
    aggs, verdicts = [], []

    def emit(name, passed, observed, expected):
        verdicts.append(F.struct(
            F.lit(name).alias("check_name"),
            passed.alias("passed"),
            observed.cast("string").alias("observed"),
            F.lit(expected).alias("expected")))

    for i, s in enumerate(suggestions):
        col, constraint, params = s[0], s[1], s[2]
        if constraint == "not_null":
            a = F.sum(F.col(col).isNull().cast("long")).alias(f"_a{i}")
            aggs.append(a)
            emit(f"not_null({col})", F.col(f"_a{i}") == 0,
                 F.col(f"_a{i}"), "0 nulls")
        elif constraint == "completeness_pct_ge":
            pct = int(params)
            a = F.round(F.avg(F.col(col).isNotNull().cast("double")) * 100,
                        6).alias(f"_a{i}")
            aggs.append(a)
            emit(f"completeness({col})", F.col(f"_a{i}") >= pct,
                 F.col(f"_a{i}"), f">= {pct}%")
        elif constraint == "unique":
            aggs += [F.count_distinct(F.col(col)).alias(f"_a{i}"),
                     F.count(F.col(col)).alias(f"_b{i}")]
            emit(f"unique({col})", F.col(f"_a{i}") == F.col(f"_b{i}"),
                 F.concat_ws("/", F.col(f"_a{i}"), F.col(f"_b{i}")),
                 "distinct = rows")
        elif constraint == "range":
            lo, hi = params.strip("[]").split(",")
            lo, hi = float(lo), float(hi)
            aggs += [F.min(F.col(col).cast("double")).alias(f"_a{i}"),
                     F.max(F.col(col).cast("double")).alias(f"_b{i}")]
            emit(f"range({col})",
                 (F.col(f"_a{i}") >= lo) & (F.col(f"_b{i}") <= hi),
                 F.concat_ws("..", F.col(f"_a{i}"), F.col(f"_b{i}")),
                 f"[{_fmt_num(lo)}, {_fmt_num(hi)}]")
        elif constraint == "isin":
            domain = params.split(",") if params else []
            bad = (F.col(col).isNotNull()
                   & ~F.col(col).cast("string").isin(domain))
            aggs.append(F.sum(bad.cast("long")).alias(f"_a{i}"))
            emit(f"isin({col})", F.col(f"_a{i}") == 0,
                 F.col(f"_a{i}"), f"all in {{{params}}}")
        else:
            raise ValueError(f"unknown suggested constraint: {constraint}")

    agged = df.groupBy(part_col).agg(*aggs)
    return (agged.select(F.col(part_col),
                         F.explode(F.array(*verdicts)).alias("v"))
            .select(part_col, "v.check_name", "v.passed", "v.observed",
                    "v.expected"))


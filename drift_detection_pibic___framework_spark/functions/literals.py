"""Driver-side rows in Spark's own terms.

Operators that finalize O(parts x ...) collected aggregates on the driver
(the fused check suite, the binned drift scores) format their numbers
with ``jround`` and ``jstr``, which reproduce Spark's ``round(double, n)``
and ``CAST(double AS STRING)``, so their rows equal the ones a Spark
expression would build.  ``literal_frame`` hands such rows back as a
DataFrame without a Spark job.

``sql_lit`` and ``sql_ident`` write values and column names into SQL text.
Fixed sets of expressions (the suite's aggregates and breach predicates)
are built as SQL text and parsed in one JVM call each: every PySpark
``Column`` call first records its Python call site in the JVM, several
py4j round trips per call.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, StructType


def jround(x, n: int = 6):
    """Spark's ``round(double, n)``: HALF_UP on the double's shortest
    decimal form."""
    if x is None or math.isnan(x) or math.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-n),
                                           ROUND_HALF_UP))


def jstr(x):
    """Spark's ``CAST(double AS STRING)`` (Java ``Double.toString``): plain
    decimal for 1e-3 <= |x| < 1e7 and zero, ``d.dddE[-]n`` otherwise."""
    if x is None:
        return None
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0 or 1e-3 <= abs(x) < 1e7:
        return repr(x)
    sign, digits, exp = Decimal(repr(x)).normalize().as_tuple()
    ds = "".join(map(str, digits))
    return f"{'-' if sign else ''}{ds[0]}.{ds[1:] or '0'}E{exp + len(ds) - 1}"


def sql_lit(x) -> str:
    """``x`` as a Spark SQL literal of the type ``F.lit(x)`` gives it: a
    float is a ``D``-suffixed double, since a bare ``0.5`` parses as a
    decimal."""
    if x is None:
        return "NULL"
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, int):
        return str(x)
    if isinstance(x, float):
        return repr(x) + "D" if math.isfinite(x) else \
            f"CAST('{jstr(x)}' AS DOUBLE)"
    if isinstance(x, str):
        return "'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(x).__name__}: {x!r}")


def sql_ident(name: str) -> str:
    """``name`` as a back-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def literal_frame(spark: SparkSession, rows: list,
                  schema: StructType) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a one-partition DataFrame
    of ``schema``, nullability included (with no rows, every column is
    nullable).  The rows are one ``array(struct(...))`` SQL expression,
    parsed in one JVM call and expanded by ``inline`` over a one-row
    ``range``: ``createDataFrame`` of local rows is RDD-backed, so
    collecting it runs a job, starts a Python worker per task and writes
    one file per task."""
    arr = F.expr("array(" + ", ".join(
        "struct(" + ", ".join(map(sql_lit, r)) + ")" for r in rows) + ")")
    return (spark.range(0, 1, 1, 1)
            .select(F.inline(arr.cast(ArrayType(schema, not rows)))))

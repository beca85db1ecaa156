"""``functions/literals.literal_frame`` renders its rows as one SQL
expression; the per-cell ``F.lit`` -> ``F.struct`` -> ``F.array``
construction it replaced is kept here as the oracle."""

import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               IntegerType, LongType, StringType,
                               StructField, StructType)

from drift_detection_pibic___framework_spark.functions.literals import (
    literal_frame)

SCHEMA = StructType([
    StructField("part", IntegerType(), False),
    StructField("n", LongType()),
    StructField("x", DoubleType()),
    StructField("ok", BooleanType()),
    StructField("s", StringType(), False),
])

ROWS = [
    (0, 0, 0.0, True, ""),
    (1, None, float("nan"), None, "it's"),
    (-2147483648, 2 ** 62, float("inf"), False, "back\\slash \\n \\'"),
    (2147483647, -(2 ** 63), float("-inf"), True, "line\nbreak\r\ttab"),
    (5, 1, -0.0, False, "naïve façade — 日本語 é"),
    (6, -7, 1e-300, True, "NULL"),
    (7, 3, 5e-324, None, "'quoted' \"double\""),
    (8, 4, 1.7976931348623157e308, True, "%_*?[]{}()$"),
    (9, 5, -123.456e-7, False, "x" * 300),
    (10, 6, 0.1 + 0.2, True, "semi;colon, comma"),
]


def _per_cell_literal_frame(spark, rows, schema):
    arr = F.array(*[F.struct(*[F.lit(x) for x in r]) for r in rows])
    return (spark.range(0, 1, 1, 1)
            .select(F.inline(arr.cast(ArrayType(schema, not rows)))))


def _same(a, b):
    """Row equality that treats NaN as equal to NaN and keeps -0.0."""
    return [tuple(repr(v) for v in r) for r in a] == \
        [tuple(repr(v) for v in r) for r in b]


def test_literal_frame_equals_per_cell_literals(spark):
    sc = spark.sparkContext
    for rows in (ROWS, ROWS[:1], []):
        group = f"literal-frame-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            got = literal_frame(spark, rows, SCHEMA)
        finally:
            for k in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(k, None)
        assert not sc.statusTracker().getJobIdsForGroup(group)
        want = _per_cell_literal_frame(spark, rows, SCHEMA)
        assert got.schema == want.schema
        assert got.rdd.getNumPartitions() == 1
        assert _same(got.collect(), want.collect())
        assert _same(got.collect(), rows)

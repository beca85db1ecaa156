"""The batch suite's violation rows as one lazy plan per check, unioned:
the test oracle for ``suite.violation_plan``, which lists every row-scope
check's breaching rows in one scan, gated by the driver's verdicts.

The null-rate branch finds its failing partitions with its own rate
aggregation, joined back broadcast; the other branches list every
breaching row, which only a failing partition has.  The duplicate and
referential branches are the operators' own builders."""

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from drift_detection_pibic___framework_spark.operators import (
    referential, uniqueness)
from drift_detection_pibic___framework_spark.plans import suite


def null_violations(clips: DataFrame, col: str = "transcript",
                    max_null_rate: float = 0.005) -> DataFrame:
    """Null ``col`` rows of the partitions whose null rate, rounded to 6
    places as the verdict rounds it, exceeds ``max_null_rate``."""
    failing = (clips.groupBy("part")
               .agg(F.round(F.avg(F.when(F.col(col).isNull(), 1.0)
                                  .otherwise(0.0)), 6).alias("nr"))
               .filter(F.col("nr") > max_null_rate)
               .select("part"))
    return (clips.join(F.broadcast(failing), "part")
            .filter(F.col(col).isNull())
            .select(
                F.col("clip_id"),
                F.lit(f"null_rate({col})").alias("check_name"),
                F.lit("NULL").alias("observed"),
                F.lit("non-null " + col).alias("expected"),
                F.col("part")))


def range_violations(clips: DataFrame, col: str, lo: float,
                     hi: float) -> DataFrame:
    bad = (F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi))
    return clips.filter(bad).select(
        F.col("clip_id"),
        F.lit(f"range({col})").alias("check_name"),
        F.col(col).cast("string").alias("observed"),
        F.lit(f"[{lo}, {hi}]").alias("expected"),
        F.col("part"))


BUILDERS = {
    "null_rate(transcript)": lambda clips, dim: null_violations(
        clips, max_null_rate=suite.NULL_RATE_MAX),
    "range(sr_hz)": lambda clips, dim: range_violations(
        clips, "sr_hz", *suite.SR_RANGE),
    "unique(clip_id)": lambda clips, dim: uniqueness.duplicate_violations(
        clips),
    "referential(codec)": lambda clips, dim:
        referential.referential_violations(clips, dim),
}


def suite_violations(clips: DataFrame, dim: DataFrame) -> DataFrame:
    """Every row-scope check's violation rows (clip_id, check_name,
    observed, expected, part)."""
    return reduce(lambda a, b: a.unionByName(b),
                  [build(clips, dim) for build in BUILDERS.values()])

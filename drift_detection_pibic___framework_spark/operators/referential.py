"""Referential integrity of ``codec`` against the allowed-codec dimension.

north_rule: "broadcast-hash referential checks of codec against an
allowed-codec dimension".  The reference's analogue is its dict lookup
``pools_por_regime.get(regime)`` (/root/reference/utils/StreamProcessor.py:227)
— key-membership against a tiny in-memory map; the Spark-native form is a
broadcast-hash LEFT ANTI join: the 3-row dimension ships to every executor,
no shuffle of the fact table, whole-stage codegen keeps the probe JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def mark_hits(clips: DataFrame, dim: DataFrame,
              col: str = "codec") -> DataFrame:
    """``clips`` broadcast-left-joined to the dimension's DISTINCT ``col``
    set, with ``_hit`` = 1 on a match and null on a miss.  The set is
    de-duplicated first, so a key listed twice in the dimension cannot
    repeat its rows; it is built in one partition (``coalesce(1)``),
    which needs no shuffle."""
    hit = (dim.select(col).coalesce(1).distinct()
           .withColumn("_hit", F.lit(1)))
    return clips.join(F.broadcast(hit), col, "left")


def referential_violations(clips: DataFrame, dim: DataFrame,
                           col: str = "codec") -> DataFrame:
    """Violation rows: clips whose codec has no match in the dimension.
    ``F.broadcast`` forces BroadcastHashJoin regardless of stats."""
    return (clips.join(F.broadcast(dim.select(col)), on=col, how="left_anti")
            .select(
                F.col("clip_id"),
                F.lit(f"referential({col})").alias("check_name"),
                F.col(col).alias("observed"),
                F.lit("codec in allowed_codecs").alias("expected"),
                F.col("part")))


def referential_verdicts(clips: DataFrame, dim: DataFrame,
                         col: str = "codec") -> DataFrame:
    """Per-partition pass/fail + violating row count.

    Computed WITHOUT a second scan of the anti-join output: a broadcast LEFT
    join marks misses, then one agg per partition counts them — single
    shuffle of one row per (split × part)."""
    per = mark_hits(clips, dim, col).groupBy("part").agg(
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).alias("misses"),
        F.count(F.lit(1)).alias("row_count"))
    return per.select(
        "part",
        F.lit(f"referential({col})").alias("check_name"),
        (F.col("misses") == 0).alias("passed"),
        F.concat(F.lit("misses="), F.col("misses").cast("string"))
        .alias("observed"),
        F.lit("misses=0").alias("expected"))

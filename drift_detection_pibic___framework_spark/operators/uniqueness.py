"""clip_id uniqueness: HyperLogLog estimate + exact duplicate violations.

north_rule: "HyperLogLog-based clip_id uniqueness". Spark >= 3.5 bundles the
Apache DataSketches HLL family (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``) — mergeable summaries, so per-partition sketches
combine to a global estimate without rescanning (the same partial/merge shape
as the reference's incremental running metrics,
/root/reference/avaliacao/DriftEvaluator.py:71,96).

Scale notes:
- The HLL verdict path shuffles ONE sketch (<= ~1.5 KB at lgK=14) per
  (input-split × part) — no row-level shuffle.
- The exact duplicate-violation path is partition-local by construction
  (uniqueness is checked within a partition), expressed as a groupBy on
  (part, clip_id): at 100 TB this is the one genuinely heavy shuffle of the
  suite, keyed by a near-unique composite — uniformly distributed, no skew,
  AQE-coalescible. It is only needed when violations must be *listed*; the
  verdict alone comes from the sketch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

LG_K = 14  # datasketches lgConfigK: ~0.8% relative standard error


def uniqueness_sketches(clips: DataFrame, col: str = "clip_id") -> DataFrame:
    """Per-partition HLL sketch + exact row count (one agg pass)."""
    return clips.groupBy("part").agg(
        F.expr(f"hll_sketch_agg({col}, {LG_K})").alias("hll"),
        F.count(F.lit(1)).alias("row_count"),
    )


def uniqueness_verdicts(clips: DataFrame, col: str = "clip_id") -> DataFrame:
    """Per-partition pass/fail: exact distinct count vs exact row count.

    The verdict needs the EXACT distinct count: the golden matrix injects
    0.2% duplicate ids (p3/p9), below the HLL sketch's relative error, so
    an estimate-vs-count comparison with any tolerance that absorbs that
    error would pass them.  The sketch path (``uniqueness_sketches``,
    ``global_distinct_estimate``) is the scale metric, not the verdict.
    Null ids are not counted as distinct values, so a partition holding
    any null id fails."""
    per = clips.groupBy("part").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count_distinct(F.col(col)).alias("exact_distinct"),
    )
    return per.select(
        "part",
        F.lit(f"unique({col})").alias("check_name"),
        (F.col("exact_distinct") == F.col("row_count")).alias("passed"),
        F.concat_ws("/", F.col("exact_distinct").cast("string"),
                    F.col("row_count").cast("string")).alias("observed"),
        F.lit("distinct == count").alias("expected"),
    )


def global_distinct_estimate(clips: DataFrame, col: str = "clip_id") -> DataFrame:
    """Two-phase global distinct: per-partition sketches -> hll_union_agg.
    Never reshuffles rows — only sketches."""
    return (uniqueness_sketches(clips, col)
            .agg(F.expr("hll_sketch_estimate(hll_union_agg(hll))")
                 .alias("global_distinct_estimate"),
                 F.sum("row_count").alias("global_rows")))


def duplicate_violations(clips: DataFrame, col: str = "clip_id") -> DataFrame:
    """Violation rows: every clip whose id occurs more than once within its
    partition, EXCEPT the first occurrence (by rid — the row-lineage id), so
    the violation count equals the number of injected duplicate rows.

    Expressed as a window count over (part, clip_id): Catalyst plans one
    hash-partitioned shuffle on the composite key (no skew: ids are
    near-unique)."""
    w = Window.partitionBy("part", col)
    w_rank = w.orderBy("rid")
    return (clips
            .select("rid", "clip_id", "part",
                    F.count(F.lit(1)).over(w).alias("occ"),
                    F.row_number().over(w_rank).alias("rk"))
            .filter((F.col("occ") > 1) & (F.col("rk") > 1))
            .select(
                F.col("clip_id"),
                F.lit(f"unique({col})").alias("check_name"),
                F.concat(F.lit("occurrences="), F.col("occ").cast("string"))
                .alias("observed"),
                F.lit("unique within partition").alias("expected"),
                F.col("part")))

"""Row-level quarantine: split a commit into admitted vs quarantined rows.

The reference drops offending rows before processing (its NaN-row drop,
/root/reference/framework_experiments.ipynb cell 38 ``dropna()`` — SURVEY
§2.2 P9) and emits per-window verdicts; production ingest needs
the complementary sink-side action — admit the clean rows, divert the
offenders WITH their reasons (the "expectations with drop rows" pattern).
This operator lifts the suite's row-level predicates (plans/suite.py) into
ONE labelling pass:

- null transcript              (null_rate check's row predicate)
- sr_hz outside [lo, hi]       (range check)
- codec not in the allowed dim (referential check, broadcast join)
- non-first duplicate clip_id  (uniqueness check; the FIRST occurrence by
  rid within (part, clip_id) is admitted, later ones quarantined)

100-TB shape: one window shuffle on (part, clip_id) — the same key the
uniqueness check already shuffles on — plus a broadcast-hash join against
the (tiny) codec dim; reasons are built JVM-side with array expressions
(zero Python).  Both outputs are lazy single-pass projections of the same
labelled frame, so writing clean + quarantined sinks costs one scan each
with the label plan reused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .referential import mark_hits

REASON_NULL_TRANSCRIPT = "null_transcript"
REASON_SR_RANGE = "sr_out_of_range"
REASON_UNKNOWN_CODEC = "unknown_codec"
REASON_DUP_CLIP_ID = "duplicate_clip_id"


def label_rows(clips: DataFrame, dim: DataFrame,
               sr_lo: int = 8000, sr_hi: int = 48000) -> DataFrame:
    """clips + a ``reasons`` array column (empty = admissible).  Reason
    order is fixed (null, range, referential, duplicate) so the array is
    deterministic and engine-portable."""
    w = Window.partitionBy("part", "clip_id").orderBy("rid")
    return (mark_hits(clips, dim)
            .withColumn("_rk", F.row_number().over(w))
            .withColumn("reasons", F.array_compact(F.array(
                F.when(F.col("transcript").isNull(),
                       F.lit(REASON_NULL_TRANSCRIPT)),
                F.when(~F.col("sr_hz").between(sr_lo, sr_hi)
                       | F.col("sr_hz").isNull(),
                       F.lit(REASON_SR_RANGE)),
                F.when(F.col("_hit").isNull(),
                       F.lit(REASON_UNKNOWN_CODEC)),
                F.when(F.col("_rk") > 1, F.lit(REASON_DUP_CLIP_ID)))))
            .drop("_hit", "_rk"))


def quarantine(clips: DataFrame, dim: DataFrame,
               sr_lo: int = 8000, sr_hi: int = 48000) -> tuple:
    """(clean, quarantined): clean drops the reasons column (schema equals
    the input); quarantined keeps it."""
    labelled = label_rows(clips, dim, sr_lo, sr_hi)
    # the codec equi-join moves the key column first — restore input order
    clean = labelled.filter(F.size("reasons") == 0).select(*clips.columns)
    bad = labelled.filter(F.size("reasons") > 0) \
        .select(*clips.columns, "reasons")
    return clean, bad


def quarantine_summary(clips: DataFrame, dim: DataFrame,
                       sr_lo: int = 8000, sr_hi: int = 48000) -> DataFrame:
    """Per-partition admission report: rows, quarantined count, admit rate,
    and per-reason counts (a row quarantined for two reasons counts once in
    ``quarantined`` and once per reason) — one extra aggregation over the
    labelled frame, no second scan of the inputs."""
    lab = label_rows(clips, dim, sr_lo, sr_hi)
    agg = [F.count(F.lit(1)).alias("n_rows"),
           F.sum((F.size("reasons") > 0).cast("bigint"))
           .alias("quarantined")]
    for r in (REASON_NULL_TRANSCRIPT, REASON_SR_RANGE,
              REASON_UNKNOWN_CODEC, REASON_DUP_CLIP_ID):
        agg.append(F.sum(F.array_contains("reasons", r).cast("bigint"))
                   .alias(r))
    return (lab.groupBy("part").agg(*agg)
            .withColumn("admit_rate",
                        F.round(1 - F.col("quarantined") / F.col("n_rows"),
                                6))
            .orderBy("part"))

"""Structured Streaming front-end for the validation engine.

The reference is a replayable single-threaded stream simulation with no
event time or late data (SURVEY §2.9) — its unit of progress maps to the
Iceberg partition, so the CORE engine is batch-per-partition with manifest
resume (plans/runner.py).  This module is the continuous-ingest variant:
new clip files landing in the table directory are validated as they arrive.

Design:
- ``readStream`` file source over the clips directory (schema pinned — a
  streaming source cannot infer);
- ``foreachBatch``: each micro-batch runs the ``streaming_safe`` checks of
  the one check registry (plans/suite.py) — the hand-written suite in
  ``validate_stream``, a data contract's compiled checks in
  ``contract_stream`` — through the same driver-finalized verdict path as
  the batch runner, and writes the verdict rows to a parquet sink
  partitioned by epoch.  foreachBatch is at-least-once — a crash between
  the write and the checkpoint commit replays the epoch — so every sink
  write (``_write_epoch``) OVERWRITES only the epoch's own partition: a
  replayed epoch replaces its previous output instead of duplicating it,
  making the sink idempotent and the pipeline exactly-once end-to-end;
- drift / sequential-detector series monitoring is owned by the BATCH
  runner (plans/runner.py): a micro-batch need not contain the baseline
  window, and the prequential steppers advance in partition order there.
  The streaming front-end emits per-batch verdicts only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..functions.literals import literal_frame
from ..plans import suite

CLIPS_STREAM_SCHEMA = StructType([
    StructField("rid", LongType()),
    StructField("clip_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("sr_hz", IntegerType()),
    StructField("dur_ms", IntegerType()),
    StructField("codec", StringType()),
    StructField("transcript", StringType()),
    StructField("part", IntegerType()),
])


def stream_clips(spark: SparkSession, clips_dir: str,
                 max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(CLIPS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(clips_dir))


def micro_batch_verdicts(batch: DataFrame, dim: DataFrame) -> DataFrame:
    """The per-micro-batch check suite: the ``streaming_safe`` subset of
    the single check registry (plans/suite.py)."""
    return suite.streaming_suite_verdicts(batch, dim)


def _write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Write ``df`` as the ``epoch`` partition of the parquet sink at
    ``path``.  The dynamic overwrite touches only that partition, so an
    at-least-once replay of the micro-batch replaces its own earlier
    output instead of duplicating it (ADVICE r1)."""
    (df.withColumn("epoch", F.lit(epoch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch")
     .parquet(path))


def _start(stream: DataFrame, handle, checkpoint_dir: str,
           available_now: bool):
    writer = (stream.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _verdict_stream(spark: SparkSession, clips_dir: str, dim, checks,
                    out_dir: str, checkpoint_dir: str, available_now: bool,
                    max_files_per_trigger: int = 4):
    def handle(batch: DataFrame, epoch_id: int) -> None:
        _write_epoch(suite.streaming_suite_verdicts(batch, dim, checks),
                     epoch_id, out_dir)

    return _start(stream_clips(spark, clips_dir, max_files_per_trigger),
                  handle, checkpoint_dir, available_now)


def validate_stream(spark: SparkSession, clips_dir: str, dim_path: str,
                    out_dir: str, checkpoint_dir: str,
                    available_now: bool = True):
    """Start the streaming validation; returns the StreamingQuery.
    ``available_now=True`` drains everything currently in the directory and
    stops (test/replay mode); False runs continuously."""
    return _verdict_stream(spark, clips_dir, spark.read.parquet(dim_path),
                           suite.CHECKS, out_dir, checkpoint_dir,
                           available_now)


def contract_stream(spark: SparkSession, clips_dir: str, contract,
                    out_dir: str, checkpoint_dir: str,
                    available_now: bool = True,
                    max_files_per_trigger: int = 4):
    """Enforce a data contract (operators/profile.py suggestions — e.g.
    the JSON written by ``jobs/validate.py --suggest``) CONTINUOUSLY:
    each micro-batch runs the contract's checks (``suite.contract_checks``)
    through the same verdict path and epoch sink as ``validate_stream``.
    Its ``unique`` checks are not streaming-safe and so do not run (a
    partition may span micro-batches; cross-batch uniqueness belongs to
    the batch runner or the HLL commit gate).  Returns the
    StreamingQuery."""
    return _verdict_stream(spark, clips_dir, None,
                           suite.contract_checks(contract), out_dir,
                           checkpoint_dir, available_now,
                           max_files_per_trigger)


GATE_TABLE = "stream_ingest"
GATE_SCOPE = "stream_gate_epochs"
GATE_SCHEMA = "gate string, subject string, detail string, flagged boolean"


def gate_rows(spark: SparkSession, sides: list,
              pinned_contract=None) -> list:
    """The latest of ``sides`` gated as (gate, subject, detail, flagged)
    rows by the four snapshot_diff reports and, with ``pinned_contract``,
    the contract gate: one fold, one Spark job (its HLL aggregation)."""
    from ..operators import profile, snapshot_diff as SD
    from ..sources.tableio import fold_sidecars

    *before, after = sides
    # a first commit folds an empty baseline: the reports give no rows
    base = fold_sidecars(before, spark, after)
    rows = [("moments", r.column,
             f"effect={r.effect_size} escape={r.range_escape}", r.flagged)
            for r in SD.stat_rows(base, after)]
    rows += [("quantile", r.column, f"ks={r.ks}", r.flagged)
             for r in SD.quantile_rows(base, after)]
    rows += [("category", f"{r.column}={r.item}",
              f"delta={r.delta} new={r.new_arrival}", r.flagged)
             for r in SD.category_rows(base, after)]
    rows += [("uniqueness", r.column,
              f"cross={r.cross_dup_rate} intra={r.intra_dup_rate}",
              r.flagged)
             for r in SD.uniqueness_rows(base, after)]
    if pinned_contract is not None:
        rows += [("contract", f"{d['column']}.{d['constraint']}",
                  f"{d['change']}: {d['before']} -> {d['after']}",
                  d["drift"])
                 for d in profile.contract_drift_rows(sides, base,
                                                      pinned_contract)]
    return rows


def validate_stream_with_gate(spark: SparkSession, clips_dir: str,
                              dim_path: str, out_dir: str,
                              checkpoint_dir: str, gate_root: str,
                              available_now: bool = True,
                              compact_after: int = 0,
                              compact_keep: int = 8,
                              quarantine: bool = False,
                              acoustic: bool = False,
                              max_files_per_trigger: int = 4,
                              pinned_contract=None):
    """Streaming validation + commit-time drift gates: every micro-batch
    becomes ONE sidecar-profiled TableIO commit (moments + KLL + MG + HLL,
    operators/snapshot_diff.py), gated against the fold of all prior
    epochs, with gate rows written beside the verdicts.

    Exactly-once commits under foreachBatch's at-least-once contract: the
    epoch→snapshot mapping is recorded in a TableIO manifest row AFTER the
    append, so a replayed epoch finds its row and skips the append (the
    batch content is deterministic for a file-source epoch, so the first
    commit already holds exactly its data).  Gate reports re-run on replay
    but overwrite their own epoch partition (idempotent sink).

    ``compact_after`` > 0 bounds gate metadata for unbounded ingest: once
    more than that many stats sidecars are live, all but the newest
    ``compact_keep`` fold into one baseline sidecar (tableio.compact_stats)
    — per-epoch gate cost stays O(compact_after) instead of O(epochs),
    and gate VERDICTS are unchanged because every gate compares the latest
    commit against the FOLD of all earlier summaries, and fold(baseline +
    kept) == fold(all) for these mergeable summaries.

    ``quarantine`` completes the ingest pipeline: each micro-batch is
    split by the row-level suite predicates (operators/quarantine.py)
    BEFORE the commit — only admitted rows enter the gate table (so the
    drift baselines never learn from rejected rows), and the diverted
    rows land beside the verdicts under ``<out_dir>_quarantined`` with
    their reason strings, epoch-partitioned with the same idempotent
    dynamic overwrite.

    ``pinned_contract`` (list of (column, constraint, params) rows or
    contract-JSON dicts) adds a fifth gate family: after each commit the
    ingested history's constraints re-fold from the sidecars
    (profile.sidecar_contract_drift — zero scans) and every LOOSENED
    constraint emits a flagged ``contract`` gate row (removed not_null,
    widened range, grown isin domain, lowered completeness floor).

    ``acoustic`` extends the gate to the PAYLOAD: each admitted
    micro-batch additionally runs the band-energy kernel once (the
    decode is paid at ingest, where it is cheapest) and commits
    ``rolloff_hz`` + ``flatness_centi`` as profiled integer columns —
    the EXISTING moments/quantile sidecar gates then flag acoustic
    drift (bandwidth collapse, tone/noise balance shifts, upsampled
    batches) between epochs with zero new gate code and zero audio
    re-reads."""
    from ..sources.tableio import ParquetTableIO

    dim = spark.read.parquet(dim_path)
    stream = stream_clips(spark, clips_dir, max_files_per_trigger)
    io = ParquetTableIO(gate_root)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        _write_epoch(micro_batch_verdicts(batch, dim), epoch_id, out_dir)
        admit = batch
        if quarantine:
            from ..operators import quarantine as QR
            admit, bad = QR.quarantine(batch, dim)
            _write_epoch(bad.select("clip_id", "part",
                                    F.array_join("reasons", ",")
                                    .alias("reasons")),
                         epoch_id, out_dir + "_quarantined")
        if int(epoch_id) not in io.read_manifest(GATE_SCOPE):
            commit_df = admit.select("clip_id", "sr_hz", "dur_ms", "codec")
            stats_cols = ("sr_hz", "dur_ms")
            if acoustic:
                from ..operators import multimodal
                # 20 Hz / centi buckets: continuous features produce a
                # fresh per-epoch extreme almost every epoch, which would
                # chatter the moments gate's range-escape check; the
                # drift signatures of interest (upsample collapse ~130 Hz,
                # flatness balance shifts) span many buckets
                feats = (multimodal.audio_band_energy(admit)
                         .select("rid",
                                 (F.round(F.col("rolloff_hz") / 20) * 20)
                                 .cast("int").alias("rolloff_hz"),
                                 F.round(F.col("spectral_flatness") * 100)
                                 .cast("int").alias("flatness_centi")))
                commit_df = (admit.join(feats, "rid")
                             .select("clip_id", "sr_hz", "dur_ms", "codec",
                                     "rolloff_hz", "flatness_centi"))
                stats_cols = ("sr_hz", "dur_ms", "rolloff_hz",
                              "flatness_centi")
            snap = io.append(
                commit_df, GATE_TABLE, stats_cols=stats_cols,
                cat_cols=("codec",), key_cols=("clip_id",))
            io.commit_manifest_row(GATE_SCOPE, int(epoch_id),
                                   {"snap": snap})
        sides = io.snapshot_stats(GATE_TABLE)
        _write_epoch(literal_frame(spark, gate_rows(spark, sides,
                                                    pinned_contract),
                                   StructType.fromDDL(GATE_SCHEMA)),
                     epoch_id, out_dir + "_gates")
        if compact_after and len(sides) > compact_after:
            io.compact_stats(spark, GATE_TABLE, keep_last=compact_keep)

    return _start(stream, handle, checkpoint_dir, available_now)

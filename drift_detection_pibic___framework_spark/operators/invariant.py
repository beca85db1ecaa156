"""Per-row invariant: decoded-PCM SNR >= 30 dB + transcript equality vs the
pristine reference copy, inside an Arrow-batched UDF (BASELINE.json
input_hint: "decoded-PCM allclose (SNR>=30dB) + transcript equality ...
asserted per-row inside an Arrow UDF").

Scale notes (this is the ONLY check that touches the ``bytes`` column):
- the production path is ``invariant_results_filepairs``: ``clips_ref`` is
  co-located with ``clips`` (same part -> same file and row-group layout),
  so row groups of each file pair are read in place, packed into ~8k-row
  Python tasks, and results return through ``mapInArrow`` over a
  ``spark.range`` source — no join, no shuffle, no per-row pickling;
- the join formulation (``invariant_results``) is the semantic reference:
  an equi-join on ``(rid)`` — rid is the row-lineage id (Iceberg v3
  row-lineage analog), unique and uniformly distributed, so the shuffle is
  skew-free — feeding ``mapInPandas``;
- every variant shares one kernel (``_batch_invariant``): per-clip numpy
  vector ops over bounded sub-chunks, no per-row Python at the Spark row
  level;
- the length-consistency check ``len(decoded) == round(dur_ms * rate/1000)``
  takes the store rate as config (sr_hz at production; the fixture's
  STORE_RATE decimation in this sandbox — generators.py docstring).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import audio
from ..sources.generators import STORE_RATE

SNR_THRESHOLD_DB = 30.0

RESULT_SCHEMA = ("rid long, clip_id string, part int, snr_db double, "
                 "len_ok boolean, transcript_ok boolean, passed boolean")


_LUT_RAW: dict = {}


def _decode_lut_raw(codec: str) -> np.ndarray:
    """256-entry byte -> raw int16 sample value (as float64) table for the
    G.711 codecs — decode becomes one np.take into a scratch view."""
    t = _LUT_RAW.get(codec)
    if t is None:
        allb = np.arange(256, dtype=np.uint8).tobytes()
        t = audio.decode(allb, codec).astype(np.float64)
        _LUT_RAW[codec] = t
    return t


# Rows per vectorized sub-chunk.  The kernel decodes the whole chunk into
# per-worker scratch buffers (3 x float64 x total-samples); at 8,192-row Arrow
# batches that was ~3 x 131 MB whose first-touch page faults dominated wall
# time on fresh python workers (round-2 bench regression: q_invariant 90s warm
# vs 8s).  1,024 rows bounds the scratch high-water to ~25-50 MB/worker while
# keeping the reduceat vectorization win (kernel is ~4x faster than the
# per-row loop once pages are warm).
_CHUNK_ROWS = 1024


def _batch_invariant(batch: pd.DataFrame, store_rate: int) -> pd.DataFrame:
    """Vectorized decode + SNR over the Arrow batch, processed in bounded
    sub-chunks of ``_CHUNK_ROWS`` rows so per-worker scratch memory stays
    small (see ``_CHUNK_ROWS``).  Empty batches return an empty result frame
    with the RESULT_SCHEMA columns."""
    n = len(batch)
    if n == 0:
        return pd.DataFrame({
            "rid": pd.Series(dtype=np.int64),
            "clip_id": pd.Series(dtype=object),
            "part": pd.Series(dtype=np.int32),
            "snr_db": pd.Series(dtype=np.float64),
            "len_ok": pd.Series(dtype=bool),
            "transcript_ok": pd.Series(dtype=bool),
            "passed": pd.Series(dtype=bool),
        })
    if n <= _CHUNK_ROWS:
        return _chunk_invariant(batch, store_rate)
    return pd.concat(
        [_chunk_invariant(batch.iloc[lo:lo + _CHUNK_ROWS], store_rate)
         for lo in range(0, n, _CHUNK_ROWS)],
        ignore_index=True)


def _chunk_invariant(batch: pd.DataFrame, store_rate: int) -> pd.DataFrame:
    """Vectorized decode + SNR over one sub-chunk: both sides are
    decoded into per-worker scratch signal buffers (LUT take / int16 view
    cast — see multimodal._scratch for the allocation discipline), then
    signal and noise powers reduce per clip via add.reduceat. Per-row
    Python is O(1) view slicing; undecodable / length-mismatched payloads
    fail closed (snr=-inf, len_ok=False) exactly as before."""
    from .multimodal import _scratch
    n = len(batch)
    bufs = batch["bytes"].to_numpy()
    rbufs = batch["ref_bytes"].to_numpy()
    codecs = batch["codec"].to_numpy()
    rcodecs = batch["ref_codec"].to_numpy()

    ns = np.empty(n, dtype=np.int64)
    rns = np.empty(n, dtype=np.int64)
    ok = np.ones(n, dtype=bool)
    for i in range(n):
        w = 1 if codecs[i] in ("mulaw", "alaw") else 2
        rw = 1 if rcodecs[i] in ("mulaw", "alaw") else 2
        m, rm = len(bufs[i]) // w, len(rbufs[i]) // rw
        # fail closed on truncated/odd-length pcm or mismatched lengths
        if (w == 2 and len(bufs[i]) != 2 * m) or \
           (rw == 2 and len(rbufs[i]) != 2 * rm) or m != rm or m == 0:
            ok[i] = False
            m = rm = 1
        ns[i] = m
        rns[i] = rm

    total = int(ns.sum())
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    np.cumsum(ns[:-1], out=starts[1:])
    a = _scratch("inv_a", total, np.float64)   # test side, raw i16 values
    b = _scratch("inv_b", total, np.float64)   # ref side
    for i in range(n):
        va = a[starts[i]:starts[i] + ns[i]]
        vb = b[starts[i]:starts[i] + ns[i]]
        if not ok[i]:
            va[:] = 0.0
            vb[:] = 0.0
            continue
        if codecs[i] in ("mulaw", "alaw"):
            np.take(_decode_lut_raw(codecs[i]),
                    np.frombuffer(bufs[i], np.uint8, count=ns[i]), out=va)
        else:
            va[:] = np.frombuffer(bufs[i], "<i2", count=ns[i])
        if rcodecs[i] in ("mulaw", "alaw"):
            np.take(_decode_lut_raw(rcodecs[i]),
                    np.frombuffer(rbufs[i], np.uint8, count=ns[i]), out=vb)
        else:
            vb[:] = np.frombuffer(rbufs[i], "<i2", count=ns[i])

    # noise = sum((ref-test)^2), signal = sum(ref^2), per clip
    diff = _scratch("inv_d", total, np.float64)
    np.subtract(b, a, out=diff)
    np.multiply(diff, diff, out=diff)
    noise = np.add.reduceat(diff, starts)
    np.multiply(b, b, out=diff)
    sig = np.add.reduceat(diff, starts)
    with np.errstate(divide="ignore", invalid="ignore"):
        snr = 10.0 * np.log10(sig / noise)
    snr[sig == 0.0] = float("-inf")     # silent reference
    snr[noise == 0.0] = float("inf")    # bit-identical (wins over silent,
    #                                     matching audio.snr_db's ordering)
    snr[~ok] = float("-inf")            # mismatch/undecodable fails closed

    expected = np.round(
        batch["dur_ms"].to_numpy().astype(np.float64) * store_rate / 1000.0)
    len_ok = ok & (ns == expected.astype(np.int64))
    t = batch["transcript"]
    t_ok = (t.eq(batch["ref_transcript"]) & t.notna()).to_numpy()
    out = pd.DataFrame({
        "rid": batch["rid"].to_numpy(),
        "clip_id": batch["clip_id"].to_numpy(),
        "part": batch["part"].to_numpy(),
        "snr_db": snr,
        "len_ok": len_ok,
        "transcript_ok": t_ok,
    })
    # snr=+inf (bit-identical) passes; -inf/NaN (length mismatch) fails
    out["passed"] = (snr >= SNR_THRESHOLD_DB) & len_ok & t_ok
    return out


def invariant_results(clips: DataFrame, clips_ref: DataFrame,
                      store_rate: int = STORE_RATE) -> DataFrame:
    """Per-row invariant results. Joins clips to the pristine copy on rid and
    evaluates decode/SNR/length/transcript in mapInPandas."""
    ref = clips_ref.select(
        F.col("rid"),
        F.col("bytes").alias("ref_bytes"),
        F.col("codec").alias("ref_codec"),
        F.col("transcript").alias("ref_transcript"))
    joined = clips.select("rid", "clip_id", "part", "bytes", "codec",
                          "dur_ms", "transcript").join(ref, "rid")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                yield _batch_invariant(b, store_rate)

    return joined.mapInPandas(gen, RESULT_SCHEMA)


def _pack_units(units: list, rows_per_task: int) -> list:
    """Greedy in-order packing of ``(clips_file, ref_file, row_group,
    n_rows)`` units: a task closes as soon as it holds ``rows_per_task``
    rows.  Units are never split, so a row group is read by exactly one
    task; zero-row units carry no work and are dropped."""
    tasks, cur, rows = [], [], 0
    for u in units:
        if not u[3]:
            continue
        cur.append(u[:3])
        rows += u[3]
        if rows >= rows_per_task:
            tasks.append(cur)
            cur, rows = [], 0
    if cur:
        tasks.append(cur)
    return tasks


def _align_ref(clips, ref, where: str):
    """Reorder the ref-side table so row i carries clip row i's rid.  A
    clip rid absent from the ref slice (or a duplicated ref rid) raises:
    misaligned payloads would compare the wrong audio."""
    want = clips.column("rid").to_numpy()
    have = ref.column("rid").to_numpy()
    if np.array_equal(want, have):
        return ref
    idx = pd.Index(have).get_indexer(want)   # raises on duplicated ref rids
    if (idx < 0).any():
        raise KeyError(f"{where}: ref side lacks rid(s) "
                       f"{want[idx < 0][:5].tolist()}")
    return ref.take(idx)


def invariant_results_filepairs(spark, clips_dir: str, ref_dir: str,
                                store_rate: int = STORE_RATE,
                                parts: list = None,
                                rows_per_task: int = 8192) -> DataFrame:
    """Optimal physical plan for the pairwise compare: co-located (clips,
    ref) file pairs are read in place, with no join and no shuffle.  Both
    sides are written with the SAME row-group layout (generators.py, 4096
    rows/group), so a unit of work is one row-group index of one file pair;
    each byte is read exactly once, locally.  This is what a bucketed-by-rid
    Iceberg layout gives a 1000-executor cluster.

    Tasks are packed by rows: consecutive units (in part order) go into one
    task until it holds ``rows_per_task`` rows, never splitting a row group.
    Small partition files therefore share a task, while large files keep
    two 4,096-row groups per task, so parallelism still scales with data
    volume.  Each Python task pays a fixed start-up cost (PySpark's worker
    calls ``importlib.invalidate_caches()`` per task, which re-reads the
    central directory of every zip on ``sys.path``: ~0.2 CPU-s on a 4-vCPU
    host, see ``bench_extra.py --python-task-cost``), so fewer, larger
    tasks are the cheap direction.

    The result comes back through ``mapInArrow`` over a
    ``spark.range(n_tasks)`` source, one partition per task: each task
    reads its units with pyarrow, aligns the ref side on rid (a missing rid
    raises), runs ``_batch_invariant`` and yields one RecordBatch per unit
    — no per-row pickling and no repartition.  Row parity with
    invariant_results is asserted in tests."""
    import os

    import pyarrow.parquet as pq
    from pyarrow import RecordBatch
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if parts is None:
        parts = sorted(
            int(f[len("part-"):-len(".parquet")])
            for f in os.listdir(clips_dir)
            if f.startswith("part-") and f.endswith(".parquet"))
    units = []
    for p in parts:
        cf = os.path.join(clips_dir, f"part-{p:04d}.parquet")
        rf = os.path.join(ref_dir, f"part-{p:04d}.parquet")
        md = pq.ParquetFile(cf).metadata
        units += [(cf, rf, g, md.row_group(g).num_rows)
                  for g in range(md.num_row_groups)]
    tasks = _pack_units(units, rows_per_task)
    schema = to_arrow_schema(StructType.fromDDL(RESULT_SCHEMA))

    def run_task(task):
        files = {}

        def read(f, g, cols):
            if f not in files:
                files[f] = pq.ParquetFile(f)
            return files[f].read_row_group(g, columns=cols)

        for cf, rf, g in task:
            c = read(cf, g, ["rid", "clip_id", "part", "bytes", "codec",
                             "dur_ms", "transcript"])
            r = _align_ref(c, read(rf, g, ["rid", "bytes", "codec",
                                           "transcript"]),
                           f"{rf} row group {g}")
            merged = c.to_pandas().assign(
                ref_bytes=r.column("bytes").to_numpy(zero_copy_only=False),
                ref_codec=r.column("codec").to_numpy(zero_copy_only=False),
                ref_transcript=r.column("transcript").to_numpy(
                    zero_copy_only=False))
            yield RecordBatch.from_pandas(
                _batch_invariant(merged, store_rate), schema=schema,
                preserve_index=False)

    def gen(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from run_task(tasks[i])

    n = len(tasks)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(gen, RESULT_SCHEMA)


def invariant_violations(clips: DataFrame, clips_ref: DataFrame,
                         store_rate: int = STORE_RATE) -> DataFrame:
    """Violation rows for failing clips (north_rule shape)."""
    res = invariant_results(clips, clips_ref, store_rate)
    return res.filter(~F.col("passed")).select(
        F.col("clip_id"),
        F.lit("invariant(pcm_snr)").alias("check_name"),
        F.concat(F.lit("snr="), F.round("snr_db", 2).cast("string"),
                 F.lit(" len_ok="), F.col("len_ok").cast("string"),
                 F.lit(" transcript_ok="), F.col("transcript_ok").cast("string"))
        .alias("observed"),
        F.lit(f"snr >= {SNR_THRESHOLD_DB} dB, length & transcript match")
        .alias("expected"),
        F.col("part"))


def invariant_verdicts(clips: DataFrame, clips_ref: DataFrame,
                       store_rate: int = STORE_RATE) -> DataFrame:
    """Per-partition pass/fail + min SNR observed."""
    res = invariant_results(clips, clips_ref, store_rate)
    per = res.groupBy("part").agg(
        F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("bad"),
        F.count(F.lit(1)).alias("n"),
        F.min(F.when(F.col("snr_db") != float("inf"), F.col("snr_db")))
        .alias("min_snr"))
    return per.select(
        "part",
        F.lit("invariant(pcm_snr)").alias("check_name"),
        (F.col("bad") == 0).alias("passed"),
        F.concat(F.lit("bad="), F.col("bad").cast("string"), F.lit("/"),
                 F.col("n").cast("string")).alias("observed"),
        F.lit("bad=0").alias("expected"))

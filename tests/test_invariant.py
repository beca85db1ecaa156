"""Per-row invariant check (decode + SNR + transcript) end-to-end on Spark,
including injected corruption."""

import pytest
from pyspark.sql import functions as F

from drift_detection_pibic___framework_spark.operators import invariant


@pytest.fixture(scope="module")
def results(spark, clips, clips_ref):
    return invariant.invariant_results(clips, clips_ref).cache()


def test_pristine_bytes_pass_snr(results):
    """Default fixture bytes are uncorrupted: every row's SNR passes; the
    only failures are the injected null transcripts (p2/p10)."""
    bad = results.filter("not passed").toPandas()
    assert set(bad["part"]) == {2, 10}
    assert (~bad["transcript_ok"]).all()
    assert (bad["snr_db"] >= invariant.SNR_THRESHOLD_DB).all()
    assert bad["len_ok"].all()


def test_row_counts_match_input(results, clips):
    assert results.count() == clips.count()


def test_length_consistency_all_rows(results):
    assert results.filter("not len_ok").count() == 0


def test_verdicts_flag_null_transcript_parts(spark, clips, clips_ref):
    v = invariant.invariant_verdicts(clips, clips_ref).toPandas() \
        .set_index("part")
    assert set(v.index[~v["passed"]]) == {2, 10}


def test_corrupted_bytes_fail_snr(spark, clips, clips_ref):
    """Flip payloads of part 6 to noise -> SNR < 30 dB -> violations."""
    corrupted = clips.withColumn(
        "bytes",
        F.when(F.col("part") == 6,
               F.substring(F.reverse(F.col("bytes")), 1, 64))
        .otherwise(F.col("bytes")))
    res = invariant.invariant_results(corrupted, clips_ref)
    bad = res.filter("not passed").filter("part = 6")
    n_p6 = clips.filter("part = 6").count()
    assert bad.count() == n_p6
    viol = invariant.invariant_violations(corrupted, clips_ref) \
        .filter("part = 6").limit(1).collect()[0]
    assert viol["check_name"] == "invariant(pcm_snr)"
    assert "len_ok=false" in viol["observed"]


def test_transcript_mismatch_detected(spark, clips, clips_ref):
    tampered = clips.withColumn(
        "transcript",
        F.when(F.col("part") == 1, F.lit("tampered words"))
        .otherwise(F.col("transcript")))
    res = invariant.invariant_results(tampered, clips_ref)
    p1 = res.filter("part = 1").toPandas()
    assert (~p1["transcript_ok"]).all()
    assert (p1["snr_db"] >= 30).all()  # audio untouched


def test_filepairs_equals_join_variant(spark, clips, clips_ref, fixture_dir):
    a = (invariant.invariant_results(clips, clips_ref)
         .orderBy("rid").collect())
    b = (invariant.invariant_results_filepairs(
            spark, f"{fixture_dir}/clips", f"{fixture_dir}/clips_ref")
         .orderBy("rid").collect())
    assert a == b


def test_batch_invariant_empty_batch():
    """Empty Arrow batch returns an empty frame with the result columns
    (the kernel used to IndexError on starts[0] with n=0)."""
    import pandas as pd
    out = invariant._batch_invariant(pd.DataFrame({
        "rid": [], "clip_id": [], "part": [], "bytes": [], "codec": [],
        "dur_ms": [], "transcript": [], "ref_bytes": [], "ref_codec": [],
        "ref_transcript": []}), 8000)
    assert len(out) == 0
    assert list(out.columns) == ["rid", "clip_id", "part", "snr_db",
                                 "len_ok", "transcript_ok", "passed"]


def test_batch_invariant_chunked_matches_single():
    """A batch wider than _CHUNK_ROWS splits into bounded sub-chunks whose
    concatenated result is identical to one unchunked kernel call."""
    import numpy as np
    import pandas as pd

    from drift_detection_pibic___framework_spark.functions import audio

    rng = np.random.default_rng(7)
    rows = invariant._CHUNK_ROWS * 2 + 37
    recs = []
    for i in range(rows):
        n = int(rng.integers(8, 64))
        sig = (rng.standard_normal(n) * 3000).astype(np.int16)
        codec = ["pcm16", "mulaw", "alaw"][i % 3]
        enc = audio.encode(sig, codec)
        recs.append((i, f"c{i}", i % 4, enc, codec,
                     n * 1000.0 / 8000, f"t{i}", enc, codec, f"t{i}"))
    batch = pd.DataFrame(recs, columns=[
        "rid", "clip_id", "part", "bytes", "codec", "dur_ms", "transcript",
        "ref_bytes", "ref_codec", "ref_transcript"])
    single = invariant._chunk_invariant(batch, 8000)
    chunked = invariant._batch_invariant(batch, 8000)
    pd.testing.assert_frame_equal(
        chunked, single.reset_index(drop=True), check_dtype=True)


# -- file-pair task shape ----------------------------------------------------

def _write_pair(root, part, rids, ref_missing=(), row_group_size=4096):
    """One co-located (clips, clips_ref) file pair of tiny pristine pcm16
    clips: 8 samples each, so dur_ms = 1 at an 8 kHz store rate."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from drift_detection_pibic___framework_spark.functions import audio

    rids = list(rids)
    enc = [audio.encode((np.arange(8) * 100 + r % 7).astype(np.int16),
                        "pcm16") for r in rids]
    clips = pa.table({
        "rid": pa.array(rids, pa.int64()),
        "clip_id": pa.array([f"c{r}" for r in rids]),
        "part": pa.array([part] * len(rids), pa.int32()),
        "bytes": pa.array(enc, pa.binary()),
        "codec": pa.array(["pcm16"] * len(rids)),
        "dur_ms": pa.array([1] * len(rids), pa.int32()),
        "transcript": pa.array([f"t{r}" for r in rids])})
    keep = pa.array([i for i, r in enumerate(rids)
                     if r not in set(ref_missing)], pa.int64())
    for side, t in (("clips", clips), ("clips_ref", clips.take(keep))):
        os.makedirs(os.path.join(root, side), exist_ok=True)
        pq.write_table(t, os.path.join(root, side,
                                       f"part-{part:04d}.parquet"),
                       row_group_size=row_group_size)


def _filepairs(spark, root, **kw):
    return invariant.invariant_results_filepairs(
        spark, f"{root}/clips", f"{root}/clips_ref", store_rate=8000, **kw)


def test_filepairs_one_partition_per_packed_task(spark, clips, fixture_dir):
    """The result has one partition per packed task and every input rid
    exactly once.  The fixture's 16 x 200-row files fit one 8,192-row task;
    a 1,000-row budget closes a task after every fifth file."""
    n_in = clips.count()
    for budget, tasks in ((8192, 1), (1000, 4)):
        res = invariant.invariant_results_filepairs(
            spark, f"{fixture_dir}/clips", f"{fixture_dir}/clips_ref",
            rows_per_task=budget)
        assert res.rdd.getNumPartitions() == tasks
        got = res.select("rid", "part",
                         F.spark_partition_id().alias("task")).toPandas()
        assert len(got) == n_in
        assert got["rid"].is_unique
        assert set(got["rid"]) == {r.rid for r in clips.select("rid")
                                   .collect()}
    # each part lands whole in the task its position in part order implies
    assert (got.groupby("part")["task"].nunique() == 1).all()
    assert dict(got.groupby("part")["task"].first()) == {
        p: p // 5 for p in range(16)}


def test_filepairs_packs_whole_row_groups(spark, tmp_path):
    """3 x 4,096-row groups -> 2 tasks: the first two groups fill the
    8,192-row budget, the third gets its own task; no group is split."""
    _write_pair(str(tmp_path), 0, range(3 * 4096))
    res = _filepairs(spark, str(tmp_path))
    assert res.rdd.getNumPartitions() == 2
    got = res.select("rid", "passed",
                     F.spark_partition_id().alias("task")).toPandas()
    assert got["passed"].all()
    by_task = got.groupby("task")["rid"].agg(["min", "max", "count"])
    assert by_task.to_dict("index") == {
        0: {"min": 0, "max": 8191, "count": 8192},
        1: {"min": 8192, "max": 12287, "count": 4096}}


def test_filepairs_reads_only_requested_parts(spark, tmp_path):
    """``parts=`` opens only those file pairs: a corrupt part-0002 is never
    touched when parts=[0, 1], and breaks the default all-parts listing."""
    import pytest

    root = str(tmp_path)
    _write_pair(root, 0, range(0, 50))
    _write_pair(root, 1, range(50, 120))
    for side in ("clips", "clips_ref"):
        (tmp_path / side / "part-0002.parquet").write_bytes(b"not parquet")
    got = _filepairs(spark, root, parts=[0, 1]).toPandas()
    assert sorted(got["rid"]) == list(range(120))
    assert got["passed"].all()
    assert set(got["part"]) == {0, 1}
    with pytest.raises(Exception):
        _filepairs(spark, root)


def test_filepairs_zero_row_file_pair(spark, tmp_path):
    """A zero-row partition file pair contributes no rows and no error,
    alone or beside a populated pair."""
    root = str(tmp_path)
    _write_pair(root, 0, [])
    assert _filepairs(spark, root).count() == 0
    _write_pair(root, 1, range(10))
    got = _filepairs(spark, root).toPandas()
    assert sorted(got["rid"]) == list(range(10))
    assert set(got["part"]) == {1}


def test_filepairs_missing_ref_rid_fails_loud(spark, tmp_path):
    """A ref file lacking one clip's rid raises instead of comparing a
    clip against its neighbour's payload."""
    import pytest

    _write_pair(str(tmp_path), 0, range(100), ref_missing={37})
    with pytest.raises(Exception, match="lacks rid"):
        _filepairs(spark, str(tmp_path)).collect()

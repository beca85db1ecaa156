"""Row-level quarantine: admitted/diverted split with reason arrays."""

from pyspark.sql import functions as F

from drift_detection_pibic___framework_spark.operators import quarantine as QR


def _fixture(spark):
    rows = [
        # rid, clip_id, sr_hz, codec, transcript, part
        (0, "a", 16000, "pcm_s16le", "hi", 0),        # clean
        (1, "b", 16000, "pcm_s16le", None, 0),        # null transcript
        (2, "c", 192000, "pcm_s16le", "hi", 0),       # sr escape
        (3, "d", 16000, "opus", "hi", 0),             # unknown codec
        (4, "e", 16000, "mulaw", "hi", 1),            # clean
        (5, "e", 16000, "mulaw", "hi", 1),            # dup (2nd by rid)
        (6, "f", 192000, "opus", None, 1),            # three reasons
    ]
    clips = spark.createDataFrame(
        rows, "rid long, clip_id string, sr_hz int, codec string, "
              "transcript string, part int")
    dim = spark.createDataFrame(
        [("pcm_s16le",), ("mulaw",), ("alaw",)], "codec string")
    return clips, dim


def test_quarantine_splits_and_reasons(spark):
    clips, dim = _fixture(spark)
    clean, bad = QR.quarantine(clips, dim)
    assert sorted(r.clip_id for r in clean.collect()) == ["a", "e"]
    assert clean.columns == clips.columns          # schema preserved
    got = {r.clip_id: r.reasons for r in bad.collect()}
    assert got["b"] == ["null_transcript"]
    assert got["c"] == ["sr_out_of_range"]
    assert got["d"] == ["unknown_codec"]
    assert got["e"] == ["duplicate_clip_id"]       # only the 2nd occurrence
    assert got["f"] == ["null_transcript", "sr_out_of_range",
                        "unknown_codec"]
    assert clips.count() == clean.count() + bad.count()


def test_quarantine_dup_keeps_first_by_rid(spark):
    clips, dim = _fixture(spark)
    clean, _ = QR.quarantine(clips, dim)
    kept_e = [r.rid for r in clean.filter(F.col("clip_id") == "e").collect()]
    assert kept_e == [4]


def test_quarantine_summary_counts(spark):
    clips, dim = _fixture(spark)
    rows = {r.part: r for r in
            QR.quarantine_summary(clips, dim).collect()}
    p0, p1 = rows[0], rows[1]
    assert (p0.n_rows, p0.quarantined) == (4, 3)
    assert (p0.null_transcript, p0.sr_out_of_range,
            p0.unknown_codec, p0.duplicate_clip_id) == (1, 1, 1, 0)
    assert p0.admit_rate == 0.25
    assert (p1.n_rows, p1.quarantined) == (3, 2)
    assert p1.duplicate_clip_id == 1
    # multi-reason row f counts once in quarantined, once per reason
    assert (p1.null_transcript, p1.sr_out_of_range, p1.unknown_codec) \
        == (1, 1, 1)


def test_quarantine_broadcast_plan(spark):
    clips, dim = _fixture(spark)
    _, bad = QR.quarantine(clips, dim)
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_quarantine_duplicated_dimension_rows(spark, clips, allowed_codecs):
    """Every codec listed twice in the dimension changes neither output nor
    the summary: rows are marked against the dimension's distinct codec
    set, so no clip is joined twice."""
    fixture = clips.drop("bytes")
    dup = allowed_codecs.unionByName(allowed_codecs)

    def rows(df):
        return sorted(df.collect(), key=lambda r: r["rid"])
    for got, want in zip(QR.quarantine(fixture, dup),
                         QR.quarantine(fixture, allowed_codecs)):
        assert rows(got) == rows(want)
    assert (QR.quarantine_summary(fixture, dup).collect()
            == QR.quarantine_summary(fixture, allowed_codecs).collect())

"""Property-based tests (hypothesis) for the pure-python kernels.

These pin the two invariants everything else leans on:
- detector steppers are RESUMABLE: serializing mid-stream and resuming
  yields exactly the flags of an uninterrupted run, for every detector and
  any split point (the manifest-checkpoint and streaming-state contract);
- the G.711 codecs ROUND-TRIP within half a segment step per sample, and
  above the invariant's own SNR threshold on the generator's signals, so a
  pristine pipeline can never fail the PCM-SNR check.
"""

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from drift_detection_pibic___framework_spark.functions import audio
from drift_detection_pibic___framework_spark.operators.invariant import (
    SNR_THRESHOLD_DB)
from drift_detection_pibic___framework_spark.operators.detectors import (
    config as det_config)
from drift_detection_pibic___framework_spark.operators.detectors.harness import (
    PrequentialStepper)
from drift_detection_pibic___framework_spark.sources import generators as G


def _run(name, errs, vals, split=None):
    kw = det_config.suite_kwargs(name)
    stepper = PrequentialStepper(name, 50, kw["params"], kw["bin_threshold"])
    out = []
    for i, (e, v) in enumerate(zip(errs, vals)):
        if split is not None and i == split:
            stepper = PrequentialStepper.deserialize(stepper.serialize())
        out.append(stepper.step(float(e), float(v)))
    return out


@settings(max_examples=15, deadline=None)
@given(data=st.data(),
       n=st.integers(min_value=5, max_value=220),
       seed=st.integers(min_value=0, max_value=2**31 - 1))
@pytest.mark.parametrize("det", list(det_config.DETECTOR_SUITE))
def test_stepper_resume_equals_uninterrupted(det, data, n, seed):
    """serialize() at ANY point mid-stream, deserialize(), continue ->
    byte-identical (flag, warning, state) sequence to never pausing."""
    rng = np.random.default_rng(seed)
    vals = rng.normal(0, 1, n)
    errs = np.abs(vals + rng.normal(0, 0.05, n))
    split = data.draw(st.integers(min_value=0, max_value=n - 1))
    assert _run(det, errs, vals, split) == _run(det, errs, vals)


@settings(max_examples=40, deadline=None)
@given(data=st.data(),
       h=st.integers(min_value=1, max_value=24),
       w=st.integers(min_value=1, max_value=24),
       fmt=st.sampled_from(["ppm", "pgm", "bmp"]),
       seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_image_codec_roundtrip_identity(data, h, w, fmt, seed):
    """encode -> decode is the identity for EVERY image shape in every
    real format — including the BMP row paddings (w % 4) and 1-pixel
    edge shapes the fixture tests don't sweep."""
    from drift_detection_pibic___framework_spark.operators import images as I
    rng = np.random.default_rng(seed)
    if fmt == "pgm":
        a = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        buf = I.encode_pgm(a)
    else:
        a = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        buf = I.encode_ppm(a) if fmt == "ppm" else I.encode_bmp(a)
    back = I.decode_any(buf, fmt)
    assert back.shape == a.shape and np.array_equal(back, a)


@settings(max_examples=30, deadline=None)
@given(h=st.integers(min_value=1, max_value=40),
       w=st.integers(min_value=1, max_value=40),
       oh=st.integers(min_value=1, max_value=16),
       ow=st.integers(min_value=1, max_value=16),
       seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_resize_area_shape_and_mean_bounds(h, w, oh, ow, seed):
    """resize_area always lands on the requested shape, and every output
    pixel is a mean of source pixels (so it stays inside the source's
    value range) — for ANY (in, out) size pair, up or down."""
    from drift_detection_pibic___framework_spark.operators import images as I
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, size=(h, w)).astype(np.float64)
    r = I.resize_area(a, oh, ow)
    assert r.shape == (oh, ow)
    assert r.min() >= a.min() - 1e-9 and r.max() <= a.max() + 1e-9


@settings(max_examples=20, deadline=None)
@given(n=st.integers(min_value=0, max_value=6),
       h=st.integers(min_value=1, max_value=8),
       w=st.integers(min_value=1, max_value=8),
       seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_y4m_roundtrip_identity(n, h, w, seed):
    """Y4M encode -> decode returns the exact luma frames for any frame
    count (including zero) and any even dimensions."""
    from drift_detection_pibic___framework_spark.operators import images as I
    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h * 2, w * 2), dtype=np.uint8)
    got, gw, gh = I.decode_y4m(I.encode_y4m(frames))
    assert (gw, gh) == (w * 2, h * 2)
    assert got.shape == frames.shape and np.array_equal(got, frames)


def _half_steps(codec):
    """The decode table of ``codec`` and each code's half segment step:
    two codes differing only in the lowest mantissa bit are adjacent
    levels of one segment."""
    table = audio.decode(bytes(range(256)), codec).astype(np.int64)
    return table, np.abs(table[np.arange(256) ^ 1] - table) / 2


@settings(max_examples=25, deadline=None)
@example(sig=[0, 0, 0, 0, 0, 0, 0, 1], codec="mulaw")    # SNR 0 dB
@example(sig=[1916] * 8, codec="mulaw")                   # SNR 29.5 dB
@given(sig=st.lists(st.integers(min_value=-32767, max_value=32767),
                    min_size=8, max_size=512),
       codec=st.sampled_from(["mulaw", "alaw", "pcm16"]))
def test_codec_roundtrip_error_within_half_segment_step(sig, codec):
    """What G.711 guarantees: every decoded sample lies within half a
    segment step of its input, up to the top level plus half a step;
    beyond that (mu-law's clip region) it decodes to the top level.  It
    does not promise an SNR: mu-law decodes +-1..+-3 to 0, and a constant
    1916 (the bottom of a segment) reads 29.5 dB.  PCM16 is lossless."""
    x = np.asarray(sig, dtype=np.int16)
    buf = audio.encode(x, codec)
    back = audio.decode(buf, codec).astype(np.int64)
    x = x.astype(np.int64)
    if codec == "pcm16":
        assert np.array_equal(back, x)
        return
    table, half = _half_steps(codec)
    code = np.frombuffer(buf, dtype=np.uint8)
    inside = np.abs(x) <= table.max() + half[table.argmax()]
    assert np.all(np.abs(x - back)[inside] <= half[code][inside]), codec
    assert np.all(np.abs(back[~inside]) == table.max()), codec


@settings(max_examples=25, deadline=None)
@given(dur_ms=st.integers(min_value=20, max_value=2000),
       seed=st.integers(min_value=0, max_value=2**31 - 1),
       codec=st.sampled_from(["mulaw", "alaw", "pcm_s16le"]))
def test_codec_roundtrip_passes_invariant_threshold(dur_ms, seed, codec):
    """decode(encode(x)) keeps SNR above the invariant's 30 dB threshold
    for the signals the fixture generator writes (0.3-amplitude sine plus
    noise), so a pristine clip never fails the PCM-SNR check."""
    enc, sigs = G._synth_payloads(np.random.default_rng(seed),
                                  np.array([dur_ms]), np.array([codec]))
    back = audio.decode(enc[0], codec)
    snr = audio.snr_db(sigs[0].astype(np.float64), back.astype(np.float64))
    assert snr >= SNR_THRESHOLD_DB, (codec, snr)

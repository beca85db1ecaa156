"""Seeded input generator for the benchmark.

Writes the three tables the engine validates, in the layout
``ParquetTableIO`` reads (one ``part-NNNN.parquet`` file per partition):

* ``clips``          -- (rid, clip_id, bytes, sr_hz, dur_ms, codec,
                        transcript, part), with seeded injections;
* ``clips_ref``      -- the pristine copy (pre-injection payload and
                        transcript), same row-group layout, for the
                        per-row payload invariant;
* ``allowed_codecs`` -- the referential dimension.

The seed places every injection, and the generator returns a record of
where they went: the expected invariant failure set and the ``dur_ms``
change point.  The record is what the correctness check compares the
program's outputs against; the program itself only sees the tables.

Payloads are G.711 / PCM16 encodings of sine-plus-noise clips at
``STORE_RATE`` samples per second, so a valid clip decodes to
``round(dur_ms * STORE_RATE / 1000)`` samples.  The encoders are written
here from the ITU-T G.711 definition rather than imported from the
package, so the inputs do not change when the package does.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STORE_RATE = 2000            # samples/s of a stored payload
ROW_GROUP = 4096             # both clip tables share this layout
BASELINE_PARTS = 4           # the runner's p0..p3 baseline window
CODECS = ("pcm_s16le", "mulaw", "alaw")
CODEC_WEIGHTS = (0.80, 0.15, 0.05)
SR_CHOICES = (8000, 16000, 22050, 44100, 48000)
SR_WEIGHTS = (0.35, 0.35, 0.15, 0.10, 0.05)
SR_OUTLIER = 192000
BAD_CODEC = "opus"
DUR_MEAN, DUR_SHIFTED = 400.0, 700.0
VOCAB = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango "
         "uniform victor whiskey xray yankee zulu amber birch cedar dune "
         "ember fjord").split()

CLIPS_SCHEMA = pa.schema([
    ("rid", pa.int64()), ("clip_id", pa.string()), ("bytes", pa.binary()),
    ("sr_hz", pa.int32()), ("dur_ms", pa.int32()), ("codec", pa.string()),
    ("transcript", pa.string()), ("part", pa.int32()),
])


# -- G.711 encoders (a 64 Ki-entry lookup table per codec) -----------------

def _mulaw(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    exp = np.floor(np.log2(mag)).astype(np.int32) - 7
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def _alaw(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int32)
    sign = np.where(x >= 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32767)
    exp = np.maximum(np.floor(np.log2(np.maximum(mag, 1))).astype(np.int32)
                     - 7, 0)
    mant = np.where(mag < 256, mag >> 4, (mag >> (exp + 3)) & 0x0F)
    return ((sign | (exp << 4) | mant) ^ 0x55).astype(np.uint8)


_ALL_I16 = np.arange(-32768, 32768, dtype=np.int32).astype(np.int16)
# indexed by the int16 sample's bit pattern read as uint16
_LUT = {c: np.roll(f(_ALL_I16), -32768)
        for c, f in (("mulaw", _mulaw), ("alaw", _alaw))}


def _encode_all(pcm: np.ndarray, ns: np.ndarray, codecs: np.ndarray) -> list:
    """Per-clip payload bytes; ``opus`` rows carry PCM16 payloads (the
    referential check flags the codec, not the payload)."""
    s16 = pcm.astype("<i2").tobytes()
    u16 = pcm.view(np.uint16)
    off = np.concatenate([[0], np.cumsum(ns)])
    out = []
    for i, c in enumerate(codecs):
        lo, hi = off[i], off[i + 1]
        lut = _LUT.get(c)
        out.append(s16[2 * lo:2 * hi] if lut is None
                   else lut[u16[lo:hi]].tobytes())
    return out


def _signal(rng, ns: np.ndarray, amp: float = 0.3) -> np.ndarray:
    total = int(ns.sum())
    starts = np.repeat(np.concatenate([[0], np.cumsum(ns)[:-1]]), ns)
    t = np.arange(total, dtype=np.float32) - starts.astype(np.float32)
    w = np.repeat((2 * np.pi / STORE_RATE
                   * rng.uniform(100.0, 900.0, len(ns))).astype(np.float32),
                  ns)
    ph = np.repeat(rng.uniform(0.0, 2 * np.pi, len(ns)).astype(np.float32),
                   ns)
    x = np.sin(w * t + ph)
    x *= amp
    x += rng.standard_normal(total, dtype=np.float32) * np.float32(0.01)
    np.clip(x, -1, 1, out=x)
    return np.round(x * 32767).astype(np.int16)


# -- one partition ----------------------------------------------------------

def _partition(seed: int, part: int, rows: int, shifted: bool,
               plan: dict, payload: bool) -> tuple:
    """(clips, clips_ref, rids the payload invariant must fail) for one
    partition."""
    rng = np.random.default_rng([seed, part])
    rid = (np.int64(part) << np.int64(32)) + np.arange(rows, dtype=np.int64)
    clip_id = np.array([f"c{part:05d}-{i:07d}" for i in range(rows)],
                       dtype=object)
    sr = rng.choice(SR_CHOICES, rows, p=SR_WEIGHTS).astype(np.int32)
    mean = DUR_SHIFTED if shifted else DUR_MEAN
    mu = np.log(mean) - 0.08
    dur = np.clip(np.round(rng.lognormal(mu, 0.4, rows)), 80, 5000) \
        .astype(np.int32)
    codec = rng.choice(np.array(CODECS, dtype=object), rows,
                       p=CODEC_WEIGHTS)
    lens = rng.integers(3, 13, rows)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    transcript, off = [], 0
    for ln in lens:
        transcript.append(" ".join(VOCAB[w] for w in words[off:off + ln]))
        off += int(ln)
    ref_transcript = list(transcript)

    def pick(rate: float) -> np.ndarray:
        k = max(1, int(round(rate * rows)))
        return np.sort(rng.choice(np.arange(1, rows), k, replace=False))

    if part in plan["bad_codec"]:
        codec[pick(plan["bad_codec"][part])] = BAD_CODEC
    if part in plan["sr_outlier"]:
        sr[pick(plan["sr_outlier"][part])] = SR_OUTLIER
    ns = np.round(dur.astype(np.float64) * STORE_RATE / 1000).astype(np.int64)
    if payload:
        ref_bytes = _encode_all(_signal(rng, ns), ns, codec)
    else:
        ref_bytes = [b""] * rows
    test_bytes = list(ref_bytes)
    bad_payload = pick(plan["corrupt_rate"]) if payload else np.array([], int)
    if bad_payload.size:
        noisy = _signal(rng, ns[bad_payload], amp=0.9)
        noisy_enc = _encode_all(noisy, ns[bad_payload], codec[bad_payload])
        for j, i in enumerate(bad_payload):
            # alternate the two failure modes: a truncated payload (length
            # mismatch) and a same-length payload under heavy noise (SNR)
            b = noisy_enc[j]
            test_bytes[i] = ref_bytes[i][:-2] if j % 2 else b
    bad_text = pick(plan["corrupt_rate"]) if payload else np.array([], int)
    for i in bad_text:
        transcript[i] = transcript[i] + " " + VOCAB[0]
    nulls = np.array([], int)
    if part in plan["null_transcript"]:
        nulls = pick(plan["null_transcript"][part])
        for i in nulls:
            transcript[i] = None
    if part in plan["dup_id"]:
        idx = pick(plan["dup_id"][part])
        clip_id[idx] = clip_id[idx // 2]

    def table(b, t):
        return pa.table({
            "rid": rid, "clip_id": clip_id.astype(str), "bytes": b,
            "sr_hz": sr, "dur_ms": dur, "codec": codec.astype(str),
            "transcript": t, "part": np.full(rows, part, np.int32),
        }, schema=CLIPS_SCHEMA)

    failing = sorted(set(rid[np.concatenate(
        [bad_payload, bad_text, nulls]).astype(int)].tolist()))
    return table(test_bytes, transcript), table(ref_bytes, ref_transcript), \
        failing


def _plan(seed: int, n_parts: int, shift_range: tuple) -> dict:
    """Where the seed puts each injection (partition-level ones here,
    row-level ones inside ``_partition``)."""
    rng = np.random.default_rng([seed, 1 << 20])
    parts = np.arange(n_parts)
    cp = int(rng.integers(*shift_range))
    picks = rng.choice(parts, 8, replace=False).tolist()
    return {
        "change_point": cp,
        "null_transcript": {p: float(rng.uniform(0.01, 0.03))
                            for p in picks[0:2]},
        "dup_id": {p: 0.002 for p in picks[2:4]},
        "bad_codec": {p: 0.005 for p in picks[4:6]},
        "sr_outlier": {p: 0.001 for p in picks[6:8]},
        "corrupt_rate": 0.002,
    }


def generate(out: str, seed: int, n_parts: int, rows: int,
             shift_range: tuple, payload: bool = True,
             ref: bool = True) -> dict:
    """Write ``clips`` (+ ``clips_ref``) and ``allowed_codecs`` under
    ``out`` and return the record.  Partitions ``>= change_point`` carry
    the shifted ``dur_ms`` mean; ``shift_range`` is the half-open range
    the change point is drawn from."""
    assert shift_range[0] >= BASELINE_PARTS, "shift must follow the baseline"
    plan = _plan(seed, n_parts, shift_range)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "clips"))
    if ref:
        os.makedirs(os.path.join(tmp, "clips_ref"))
    failing = []
    for p in range(n_parts):
        c, r, f = _partition(seed, p, rows, p >= plan["change_point"],
                             plan, payload)
        name = f"part-{p:04d}.parquet"
        pq.write_table(c, os.path.join(tmp, "clips", name),
                       row_group_size=ROW_GROUP)
        if ref:
            pq.write_table(r, os.path.join(tmp, "clips_ref", name),
                           row_group_size=ROW_GROUP)
        failing += f
    pq.write_table(pa.table({
        "codec": pa.array(list(CODECS)),
        "bits_per_sample": pa.array([16, 8, 8], type=pa.int32()),
    }), os.path.join(tmp, "allowed_codecs.parquet"))
    record = {
        "seed": seed, "n_parts": n_parts, "rows_per_part": rows,
        "change_point": plan["change_point"],
        "injected_parts": {k: sorted(plan[k]) for k in
                           ("null_transcript", "dup_id", "bad_codec",
                            "sr_outlier")},
        "invariant_failing_rids": failing,
    }
    with open(os.path.join(tmp, "record.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return record


if __name__ == "__main__":
    import sys
    args = json.loads(sys.argv[3])
    args["shift_range"] = tuple(args["shift_range"])
    generate(sys.argv[1], int(sys.argv[2]), **args)

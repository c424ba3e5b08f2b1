"""WAV PCM decoding for the multimodal audio path.

Same posture as `imagecodec`: formats the Python stdlib can genuinely
PARSE are decoded for REAL (RIFF/WAVE PCM via the `wave` module);
everything else (mp3, ogg, flac — all need entropy coders the stdlib
lacks) is the caller's honest-fallback problem. The per-sample math is
numpy-vectorized (r17, guide §4.2 — numpy is already a hard dependency
of the Arrow/pandas path these kernels run inside). For 1-, 2- and
4-channel PCM it is EXACT, not just close: every mono sample is then a
dyadic rational v / 2^k with |Σ v²| < 2^53 under the MAX_SAMPLES cap,
so every partial sum — in any association order, numpy pairwise or
Python sequential — is exactly representable and the results are
bit-identical to the scalar loops they replaced (the pinned
audio_feature_stats values are unchanged). Other channel counts divide
by a non-power of two, so the mono samples are rounded and the sum of
squares can differ from a sequential sum in the last ulp.

Reference tie-in: the reference pipeline is text-only
(`airflow/dags/zara_hybrid_etl.py`); audio columns are part of the
training-data extension surface (opaque binary + typed metadata +
Pandas-UDF feature extraction over mapInPandas).
"""

from __future__ import annotations

import io
import wave

import numpy as np

# cap decoded samples per file so a pathological multi-hour WAV cannot blow
# task memory: features below are stable statistics, a 1M-sample prefix
# (~23s at 44.1 kHz) is ample
MAX_SAMPLES = 1_000_000


def sniff_audio_format(data: bytes) -> str:
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[:3] == b"ID3" or (len(data) > 1 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0):
        return "mp3"
    if data[:4] == b"OggS":
        return "ogg"
    if data[:4] == b"fLaC":
        return "flac"
    return "unknown"


def decode_wav(data: bytes) -> tuple[int, int, int, "np.ndarray"]:
    """RIFF/WAVE PCM -> (sample_rate, n_channels, n_frames, mono float64
    samples in [-1, 1], first MAX_SAMPLES frames, channels averaged).
    Raises wave.Error (non-WAV or compressed input), EOFError (truncated
    header) or ValueError (unsupported sample width, odd-length PCM) —
    callers map those to their fallback, mirroring imagecodec.

    Vectorized (r17), value-identical to the scalar loop it replaced:
    int16/uint8 decode is a reinterpret, the per-frame channel average is
    an exact small-integer sum followed by the same single division."""
    with wave.open(io.BytesIO(data), "rb") as w:
        sr, nch, width, nframes = (
            w.getframerate(), w.getnchannels(), w.getsampwidth(), w.getnframes(),
        )
        if width not in (1, 2):
            raise ValueError(f"unsupported PCM sample width {width}")
        take = min(nframes, MAX_SAMPLES)
        raw = w.readframes(take)
    if width == 2:
        vals = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        scale = 32768.0
    else:  # 8-bit WAV PCM is unsigned
        vals = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
        scale = 128.0
    if nch > 1:
        frames = vals[: (len(vals) // nch) * nch].reshape(-1, nch)
        mono = frames.sum(axis=1) / (nch * scale)
    else:
        mono = vals / scale
    return sr, nch, nframes, mono


def audio_stats(samples) -> tuple[float, float, float]:
    """(rms, peak, zero_crossing_rate) of a mono sample array; zeros for
    an empty one. Vectorized over the capped prefix — bounded CPU per
    file, and EXACT for 1-, 2- and 4-channel PCM input (see module
    docstring: dyadic samples keep every partial sum of squares under
    2^53, so numpy's pairwise summation computes the same exact value
    the sequential Python sum did, and sqrt/abs/max are correctly-
    rounded per IEEE either way)."""
    s = np.asarray(samples, dtype=np.float64)
    n = s.size
    if n == 0:
        return 0.0, 0.0, 0.0
    rms = float((np.dot(s, s) / n) ** 0.5)
    peak = float(np.max(np.abs(s)))
    neg = s < 0
    crossings = int(np.count_nonzero(neg[:-1] != neg[1:]))
    zcr = crossings / (n - 1) if n > 1 else 0.0
    return rms, peak, zcr

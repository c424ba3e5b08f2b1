"""WAV PCM decoding for the multimodal audio path.

Same posture as `imagecodec`: formats the Python stdlib can genuinely
PARSE are decoded for REAL (RIFF/WAVE PCM via the `wave` module);
everything else (mp3, ogg, flac — all need entropy coders the stdlib
lacks) is the caller's honest-fallback problem. The per-sample math is
numpy-vectorized (numpy is already a hard dependency of the
Arrow/pandas path these kernels run inside) and EXACT for every channel
count: the decoder keeps each frame's channel sum as an integer, the
statistics sum squares in exact integers, and the one division by
n_channels * full_scale happens last, correctly rounded.

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


def decode_wav(data: bytes) -> tuple[int, int, int, "np.ndarray", int]:
    """RIFF/WAVE PCM -> (sample_rate, n_channels, n_frames, frame_sums,
    divisor): frame_sums holds each of the first MAX_SAMPLES frames'
    channel sum as int64, and frame_sums / divisor is the mono signal in
    [-1, 1] (divisor = n_channels * full scale). Raises wave.Error
    (non-WAV or compressed input), EOFError (truncated header) or
    ValueError (unsupported sample width, odd-length PCM) — callers map
    those to their fallback, mirroring imagecodec."""
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
        scale = 32768
    else:  # 8-bit WAV PCM is unsigned
        vals = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
        scale = 128
    sums = vals[: (len(vals) // nch) * nch].reshape(-1, nch).sum(axis=1)
    return sr, nch, nframes, sums, nch * scale


def audio_stats(frame_sums, divisor: int) -> tuple[float, float, float]:
    """(rms, peak, zero_crossing_rate) of the mono signal
    frame_sums / divisor; zeros for an empty one. Vectorized over the
    capped prefix, so CPU per file is bounded.

    Exact for every channel count: the sum of squares is an exact
    integer (int64 dot products over chunks too short to overflow,
    added as Python ints), the mean square is one correctly rounded
    int/int division, and peak is one correctly rounded division of the
    largest |frame sum|."""
    f = np.asarray(frame_sums, dtype=np.int64)
    n = f.size
    if n == 0:
        return 0.0, 0.0, 0.0
    # |f| <= divisor, so `per` squares cannot overflow an int64 sum
    per = max(1, (2**63 - 1) // (divisor * divisor))
    ssq = sum(int(np.dot(c, c)) for c in (f[i : i + per] for i in range(0, n, per)))
    rms = float(np.float64(ssq / (n * divisor * divisor)) ** 0.5)
    peak = int(np.max(np.abs(f))) / divisor
    neg = f < 0
    crossings = int(np.count_nonzero(neg[:-1] != neg[1:]))
    zcr = crossings / (n - 1) if n > 1 else 0.0
    return rms, peak, zcr

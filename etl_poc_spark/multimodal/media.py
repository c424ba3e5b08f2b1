"""Multimodal (binary) column plumbing.

Design: image/audio/video are opaque `binary` columns (from
`spark.read.format("binaryFile")` or any table with BinaryType) with typed
metadata structs produced by Arrow-batched pandas UDFs over mapInPandas.

The image kernels are REAL for the stdlib-decodable formats (PPM/BMP/PNG —
see imagecodec.py): actual pixel decode, luminance-histogram features and
perceptual hashes. Formats needing an external library (JPEG entropy
coding, video) fall back to a deterministic content-hash fake so
pipelines still run end to end; `strict=True` raises at the decode seam
instead. Every output row carries a `decoded` flag telling the two apart.

Scale notes: binaryFile scans parallelize per-file; keep
`spark.sql.files.maxPartitionBytes` sized so a partition's worth of media
fits executor memory, and always project metadata early so downstream
stages never shuffle raw bytes.
"""

from __future__ import annotations

import hashlib
from struct import error as struct_error
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from etl_poc_spark.multimodal import imagecodec


def _try_decode(data: bytes, strict: bool) -> tuple[int, int, bytes] | None:
    """Real decode for stdlib-supported formats (PPM/BMP/PNG); None when the
    format needs an external library or the file is corrupt and strict is
    off. Corrupt files surface as zlib.error/struct.error/IndexError from
    the codecs, not just ValueError — all of them mean 'undecodable', and
    none may escape into the Spark task (one bad file would fail the whole
    query)."""
    import struct
    import zlib

    try:
        return imagecodec.decode_image(data)
    except (ValueError, struct.error, zlib.error, IndexError) as e:
        if strict:
            raise NotImplementedError(
                f"cannot decode these bytes with the stdlib codecs ({e}); "
                "install an image library (e.g. PIL) and extend imagecodec"
            ) from e
        return None


def feature_extract(df: DataFrame, dim: int = 64,
                    content_col: str = "content", path_col: str = "path",
                    strict: bool = False) -> DataFrame:
    """Feature extraction: binary -> embedding array<float> (the shape the
    similarity operators consume, so media -> features -> cosine top-k runs
    end to end).

    PPM/BMP/PNG inputs produce a REAL normalized luminance histogram over
    the decoded pixels — identical pixels yield identical features across
    container formats. Undecodable formats fall back to a deterministic
    md5-derived vector (decoded=False), or raise under strict=True."""

    out_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("decoded", T.BooleanType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                data = bytes(content)
                decoded = _try_decode(data, strict)
                if decoded is not None:
                    _w, _h, rgb = decoded
                    vals = imagecodec.luminance_histogram(rgb, bins=dim)
                else:
                    vals = []
                    seed = data
                    while len(vals) < dim:
                        seed = hashlib.md5(seed).digest()
                        vals.extend(b / 255.0 - 0.5 for b in seed)
                    vals = vals[:dim]
                rows.append({"path": str(path), "embedding": vals,
                             "decoded": decoded is not None})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(path_col, content_col).mapInPandas(fn, schema=out_schema)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def perceptual_hashes(df: DataFrame, content_col: str = "content",
                      path_col: str = "path", strict: bool = False) -> DataFrame:
    """binary image column -> 64-bit perceptual hashes (aHash + dHash) as
    signed longs, via mapInPandas over the real stdlib decoders.

    This is the image leg of the near-dup dedup stack: feed the output to
    operators.dedup.simhash64_near_dup_pairs (any 64-bit signature column
    works — same 4x16-bit banding, bucket caps, bit_count Hamming verify),
    so image near-dup search is banded-bucket scale, never all-pairs.

    Undecodable formats (JPEG etc.) fall back to deterministic md5-derived
    hashes (decoded=False) so pipelines run end to end; strict=True raises
    at the decode seam instead. Reference parity: the reference treats media
    as opaque payloads (parhampr/ETL-POC has no image pipeline); this is the
    training-data-curation extension the build brief asks for."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                data = bytes(content)
                decoded = _try_decode(data, strict)
                if decoded is not None:
                    w, h, rgb = decoded
                    ah = imagecodec.ahash64(w, h, rgb)
                    dh = imagecodec.dhash64(w, h, rgb)
                else:
                    dig = hashlib.md5(data).digest()
                    ah = int.from_bytes(dig[:8], "big", signed=True)
                    dh = int.from_bytes(dig[8:16], "big", signed=True)
                rows.append({"path": str(path), "ahash": ah,
                             "dhash": dh, "decoded": decoded is not None})
            yield pd.DataFrame(rows, columns=[f.name for f in PHASH_SCHEMA.fields])

    return df.select(path_col, content_col).mapInPandas(fn, schema=PHASH_SCHEMA)


def image_near_dup_pairs(df: DataFrame, content_col: str = "content",
                         path_col: str = "path", hash_col: str = "dhash",
                         max_hamming: int = 3,
                         max_bucket_size: int | None = 200,
                         strict: bool = False) -> DataFrame:
    """Image near-duplicate pairs: perceptual hash -> banded self-join ->
    Hamming verify, i.e. the simhash64 scale geometry applied to images.
    Returns (id_a, id_b, hamming) keyed by path."""
    from etl_poc_spark.operators.dedup import simhash64_near_dup_pairs

    hashes = perceptual_hashes(df, content_col, path_col, strict=strict)
    return simhash64_near_dup_pairs(
        hashes, id_col="path", sig_col=hash_col,
        max_hamming=max_hamming, max_bucket_size=max_bucket_size,
    )


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)


# --- audio -----------------------------------------------------------------

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def decode_audio_features(df: DataFrame, content_col: str = "content",
                          path_col: str = "path", strict: bool = False) -> DataFrame:
    """binary audio column -> typed metadata + signal features via
    mapInPandas (same fallback contract as the image kernels).

    RIFF/WAVE PCM is decoded for REAL with the stdlib `wave` module
    (audiocodec.py): true sample rate / channels / duration plus rms, peak,
    and zero-crossing rate over a capped mono prefix. Compressed formats
    (mp3/ogg/flac — stdlib has no entropy decoders) get deterministic
    content-hash fake values with decoded=False, or NotImplementedError
    under strict=True. Only metadata rows leave this operator — raw audio
    bytes never shuffle."""
    import wave as _wave

    from etl_poc_spark.multimodal import audiocodec

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                data = bytes(content)
                fmt = audiocodec.sniff_audio_format(data)
                try:
                    sr, nch, nframes, sums, divisor = audiocodec.decode_wav(data)
                    rms, peak, zcr = audiocodec.audio_stats(sums, divisor)
                    decoded = True
                except (_wave.Error, ValueError, struct_error, EOFError) as e:
                    if strict:
                        raise NotImplementedError(
                            f"cannot decode these bytes with the stdlib wave codec ({e}); "
                            "install an audio library and extend audiocodec"
                        ) from e
                    dig = hashlib.md5(data).digest()
                    sr = 8000 + (dig[0] % 5) * 8000
                    nch = 1 + dig[1] % 2
                    nframes = 1000 + int.from_bytes(dig[2:4], "big")
                    rms = (dig[4] % 100) / 200.0
                    peak = min(1.0, rms * 2)
                    zcr = (dig[5] % 100) / 100.0
                    decoded = False
                rows.append(
                    {
                        "path": str(path),
                        "n_bytes": len(data),
                        "content_hash": hashlib.md5(data).hexdigest(),
                        "format": fmt,
                        "sample_rate": sr,
                        "n_channels": nch,
                        "n_frames": nframes,
                        "duration_sec": (nframes / sr) if sr else 0.0,
                        "rms": rms,
                        "peak": peak,
                        "zero_crossing_rate": zcr,
                        "decoded": decoded,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_META_SCHEMA.fields])

    return df.select(path_col, content_col).mapInPandas(fn, schema=AUDIO_META_SCHEMA)

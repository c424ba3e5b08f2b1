"""BMP and PNG encoders for the image-codec tests.

The engine only decodes these formats (etl_poc_spark/multimodal/
imagecodec.py); the tests build fixtures with these encoders and
round-trip them through the decoders.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from etl_poc_spark.multimodal.imagecodec import RGB_BPP


def encode_bmp(w: int, h: int, rgb: bytes) -> bytes:
    if len(rgb) != w * h * RGB_BPP:
        raise ValueError("rgb length does not match dimensions")
    stride = (w * RGB_BPP + 3) & ~3
    pixel_bytes = stride * h
    header = b"BM" + struct.pack("<IHHI", 54 + pixel_bytes, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0)
    # RGB->BGR swap, bottom-up row order, right-pad each row to the
    # 4-byte stride
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, RGB_BPP)
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * RGB_BPP] = px[::-1, :, ::-1].reshape(h, w * RGB_BPP)
    return header + dib + body.tobytes()


def encode_png(w: int, h: int, rgb: bytes) -> bytes:
    if len(rgb) != w * h * RGB_BPP:
        raise ValueError("rgb length does not match dimensions")

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    stride = w * RGB_BPP
    raw = b"".join(b"\x00" + rgb[r * stride : (r + 1) * stride] for r in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )

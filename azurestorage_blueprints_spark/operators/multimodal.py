"""Multimodal column operators: opaque binary payloads + typed metadata.

The reference's data model IS the multimodal model — a blob is opaque
bytes (``upload_file.py:183-184``); the engine generalizes it to a
``binary`` DataFrame column carrying image/audio/video payloads with a
typed metadata struct alongside. The Spark-side plumbing here — schema,
Arrow batch shape, ``mapInPandas`` signatures, partition sizing — is
real and tested. Decode support is tiered:

- formats decode FOR REAL with stdlib + numpy — no codec library
  involved: binary PPM (P6) parse, 8-bit PNG (zlib inflate +
  scanline unfilter, ``decode_png``), GIF87a/89a (hand-rolled LZW +
  palette lookup + Adam-style de-interlace, ``decode_gif``),
  JPEG — baseline sequential AND progressive (hand-rolled canonical
  Huffman + exact float64 IDCT + chroma upsample, 4:4:4/4:2:2/4:2:0,
  restart intervals, and the full Annex G progressive mode: spectral
  selection, successive approximation, EOB runs — ``decode_jpeg``;
  baseline cross-validated against libjpeg within ±2/pixel,
  progressive pinned bit-identical to the baseline path), PCM WAV,
  nearest-neighbor resize (``_nn_resize_rgb``);
- the remaining codec tier (lossless/hierarchical JPEG,
  MP3 — formats whose decoders are large enough that production
  injects Pillow/libvips/ffmpeg into the worker) takes an injected
  decoder callback — such rows return ``ok=false`` instead of
  failing the stage;
- ``fake_decode_meta`` parses a tiny deterministic fake header
  (magic + width + height), exercising the same batch path in tests.

The codec rungs share three more pieces from here: the ``VID0`` video
container (``encode_video``/``decode_video``: magic, frame count, then
length-prefixed frames — the rungs store 4x4 PPM frames, and
``sample_frames`` reads it), the half-up 8-bit gray quantizer
``gray8`` and the clamped 16-bit PCM quantizer ``pcm16``. Both
quantizers use ``floor(x + 0.5)``, the form the DuckDB oracles
reproduce exactly.

Scale notes: payload columns ride Arrow between JVM and Python in
column batches — with ``binaryFile`` sources, set
``spark.sql.files.maxPartitionBytes`` so a partition of payloads fits
executor memory; feature outputs are fixed-size arrays, so downstream
joins/aggs never touch the heavy bytes again (project early, carry
``content_id`` only).
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fake 12-byte header: magic 'FIMG' + uint32 width + uint32 height (BE)
FAKE_MAGIC = b"FIMG"

META_SCHEMA = "content_id bigint, n_bytes int, magic string, width int, height int, ok boolean"
FEATURE_SCHEMA = "content_id bigint, features array<double>"


def pack_fake_image(width: int, height: int, payload: bytes = b"") -> bytes:
    """Build a deterministic fake image blob (used by tests/fixtures)."""
    return FAKE_MAGIC + struct.pack(">II", width, height) + payload


def attach_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap JVM-side metadata: size, checksum, magic bytes — no Python.

    This is the first pass a 100 TB multimodal pipeline runs: it needs
    no decode, so it stays entirely in whole-stage codegen.
    """
    c = F.col(content_col)
    return df.withColumn(
        "meta",
        F.struct(
            F.length(c).alias("n_bytes"),
            F.md5(c).alias("md5"),
            F.substring(c, 1, 4).cast("string").alias("magic"),
        ),
    )


def decode_image_meta(
    df: DataFrame,
    *,
    id_col: str = "content_id",
    content_col: str = "content",
    decoder: Callable[[bytes], tuple[str, int, int]] | None = None,
) -> DataFrame:
    """Decode header metadata per payload via mapInPandas (Arrow batches).

    ``decoder(payload) -> (magic, width, height)``. Default decoder
    understands only the deterministic fake format; a production
    deployment injects a real codec (which then runs vectorized over
    Arrow batches inside each executor).
    """
    dec = decoder or _fake_decoder

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, payload in zip(pdf[id_col], pdf[content_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    magic, w, h = dec(b)
                    out.append((cid, len(b), magic, w, h, True))
                except Exception:
                    out.append((cid, len(b), None, None, None, False))
            yield pd.DataFrame(
                out, columns=["content_id", "n_bytes", "magic", "width", "height", "ok"]
            )

    return df.select(id_col, content_col).mapInPandas(worker, schema=META_SCHEMA)


def _fake_decoder(b: bytes) -> tuple[str, int, int]:
    if len(b) < 12 or b[:4] != FAKE_MAGIC:
        raise ValueError("not a fake image")
    w, h = struct.unpack(">II", b[4:12])
    return (FAKE_MAGIC.decode(), w, h)


PIXELS_SCHEMA = "content_id bigint, width int, height int, pixels binary, ok boolean"

_JPEG_MAGIC = b"\xff\xd8"

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: PNG color type -> samples per pixel (8-bit depth)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(b: bytes) -> tuple[int, int, bytes]:
    """Real decode of 8-bit non-interlaced PNG with pure stdlib zlib +
    numpy: chunk walk, IDAT inflate, per-scanline unfilter (None / Sub /
    Up / Average / Paeth), then normalization to raw RGB bytes
    (grayscale replicated, alpha dropped, palette looked up). Returns
    (width, height, rgb_bytes). 16-bit depth and Adam7 interlace raise
    (rare in training corpora and not worth the code here)."""
    import zlib

    import numpy as np

    if b[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    i, ihdr, palette, idat = 8, None, None, bytearray()
    while i + 8 <= len(b):
        ln = int.from_bytes(b[i : i + 4], "big")
        typ = b[i + 4 : i + 8]
        body = b[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            ihdr = body
        elif typ == b"PLTE":
            palette = body
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + payload + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, color, interlace = ihdr[8], ihdr[9], ihdr[12]
    if depth != 8:
        raise ValueError("only 8-bit PNG supported")
    if interlace:
        raise ValueError("Adam7 interlace not supported")
    ch = _PNG_CHANNELS.get(color)
    if ch is None:
        raise ValueError(f"bad color type {color}")
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != (stride + 1) * h:
        raise ValueError("truncated PNG pixel data")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.intp)
    for r in range(h):
        f, line = int(filters[r]), rows[r].astype(np.intp)
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up
            cur = (line + prior) & 0xFF
        else:
            # Sub/Average/Paeth need the reconstructed LEFT neighbor —
            # sequential per pixel, vectorized across the ch samples
            cur = np.zeros(stride, dtype=np.intp)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                bb = prior[x]
                c = prior[x - ch] if x >= ch else 0
                if f == 1:  # Sub
                    pred = a
                elif f == 3:  # Average
                    pred = (a + bb) >> 1
                elif f == 4:  # Paeth
                    p = a + bb - c
                    pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (bb if pb <= pc else c)
                else:
                    raise ValueError(f"bad filter type {f}")
                cur[x] = (line[x] + pred) & 0xFF
        out[r] = cur
        prior = cur.astype(np.intp)
    px = out.reshape(h, w, ch)
    if color == 2:  # truecolor
        rgb = px
    elif color == 6:  # truecolor + alpha
        rgb = px[:, :, :3]
    elif color == 0:  # grayscale
        rgb = np.repeat(px, 3, axis=2)
    elif color == 4:  # grayscale + alpha
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # palette
        if palette is None:
            raise ValueError("palette image without PLTE")
        lut = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        rgb = lut[px[:, :, 0]]
    return w, h, np.ascontiguousarray(rgb).tobytes()


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Inverse of decode_png for fixtures and the resize path: 8-bit
    truecolor, filter 0 scanlines, one zlib-deflated IDAT."""
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer does not match dimensions")
    stride = width * 3
    scanlines = b"".join(
        b"\x00" + rgb[r * stride : (r + 1) * stride] for r in range(height)
    )

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + typ
            + body
            + zlib.crc32(typ + body).to_bytes(4, "big")
        )

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # depth 8, truecolor, no interlace
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit uncompressed (BI_RGB) Windows bitmap: BITMAPFILEHEADER +
    BITMAPINFOHEADER + bottom-up BGR rows padded to 4 bytes — the
    no-compression member of the codec family (the DIB every decoder
    must parse byte-exactly: stride padding and the bottom-up row
    order are where naive implementations corrupt images)."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer does not match dimensions")
    stride = (3 * width + 3) & ~3
    pad = b"\x00" * (stride - 3 * width)
    rows = []
    for r in range(height - 1, -1, -1):  # bottom-up
        row = rgb[r * width * 3 : (r + 1) * width * 3]
        # RGB -> BGR per pixel
        bgr = bytearray(len(row))
        bgr[0::3] = row[2::3]
        bgr[1::3] = row[1::3]
        bgr[2::3] = row[0::3]
        rows.append(bytes(bgr) + pad)
    pixel_data = b"".join(rows)
    info = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)  # positive: bottom-up
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(pixel_data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little")
        + (2835).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
    )
    offset = 14 + 40
    header = (
        b"BM"
        + (offset + len(pixel_data)).to_bytes(4, "little")
        + (0).to_bytes(2, "little")
        + (0).to_bytes(2, "little")
        + offset.to_bytes(4, "little")
    )
    return header + info + pixel_data


def decode_bmp(b: bytes) -> tuple[int, int, bytes]:
    """Real decode of 24-bit uncompressed BMP (BI_RGB): header walk,
    stride-padding strip, BGR->RGB, bottom-up (or top-down when height
    is negative) row order. Returns (width, height, rgb_bytes)."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = int.from_bytes(b[10:14], "little")
    hdr_size = int.from_bytes(b[14:18], "little")
    if hdr_size < 40:
        raise ValueError("BITMAPCOREHEADER not supported")
    width = int.from_bytes(b[18:22], "little", signed=True)
    height = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    compression = int.from_bytes(b[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError("only 24-bit BI_RGB supported")
    top_down = height < 0
    height = abs(height)
    stride = (3 * width + 3) & ~3
    px = b[offset : offset + stride * height]
    if len(px) < stride * height:
        raise ValueError("truncated pixel data")
    out = bytearray(width * height * 3)
    for r in range(height):
        src_r = r if top_down else height - 1 - r
        row = px[src_r * stride : src_r * stride + 3 * width]
        dst = out[r * width * 3 : (r + 1) * width * 3]
        o = r * width * 3
        out[o + 0 : o + 3 * width : 3] = row[2::3]
        out[o + 1 : o + 3 * width : 3] = row[1::3]
        out[o + 2 : o + 3 * width : 3] = row[0::3]
    return width, height, bytes(out)


def decode_ppm(b: bytes) -> tuple[int, int, bytes]:
    """Real decode of binary PPM (P6): pure header parse + raw RGB bytes,
    no codec library needed. Returns (width, height, rgb_bytes)."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header = magic, width, height, maxval — whitespace-separated with
    # optional '#' comment lines
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(b) and b[i : i + 1].isspace():
            i += 1
        if b[i : i + 1] == b"#":
            while i < len(b) and b[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(b) and not b[j : j + 1].isspace():
            j += 1
        fields.append(int(b[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    n = w * h * 3
    pixels = b[i : i + n]
    if len(pixels) != n:
        raise ValueError("truncated PPM payload")
    return w, h, pixels


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Inverse of decode_ppm (used by the resize path and fixtures)."""
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytearray:
    """Hand-rolled GIF-flavor LZW (LSB-first bit packing, variable code
    width 3..12 bits, CLEAR/END control codes, dictionary rebuilt on
    CLEAR). Returns the decoded color-index stream."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    # the base dictionary entries are immutable bytes — build them ONCE
    # and shallow-copy on CLEAR. A conforming stream may emit CLEAR
    # arbitrarily often (the fixture encoder emits one per pixel), so
    # rebuilding 2^mcs byte objects per CLEAR was the dominant
    # allocation cost of the whole decode (GC-noisy at bench scale).
    base: list[bytes | None] = [bytes((i,)) for i in range(1 << min_code_size)]
    base += [None, None]

    def fresh() -> list[bytes | None]:
        return base[:]

    table = fresh()
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = bits = pos = 0
    while True:
        while bits < width:
            if pos >= len(data):
                return out  # missing END code: tolerate truncation
            acc |= data[pos] << bits
            bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        bits -= width
        if code == clear:
            table, width, prev = fresh(), min_code_size + 1, None
            continue
        if code == end:
            return out
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the cScSc case
        else:
            raise ValueError("corrupt LZW stream")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def decode_gif(b: bytes) -> tuple[int, int, bytes]:
    """Real decode of GIF87a/GIF89a (first frame) with pure stdlib +
    numpy — GIF's only compression is LZW, hand-rolled in
    ``_gif_lzw_decode``: header + logical-screen parse, global/local
    color table, extension-block skip, sub-block reassembly, LZW
    expansion, palette lookup, and 4-pass de-interlace when the
    interlace flag is set. Returns (width, height, rgb_bytes) of the
    first image descriptor (animation frames beyond the first are a
    framing loop over the same primitives, not a different codec)."""
    import numpy as np

    if b[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", b[6:13])
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b[i : i + 3 * n], dtype=np.uint8).reshape(n, 3)
        i += 3 * n
    while i < len(b):
        block = b[i]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + len-prefixed sub-blocks
            i += 2
            while b[i] != 0:
                i += 1 + b[i]
            i += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        _left, _top, w, h, ipacked = struct.unpack("<HHHHB", b[i + 1 : i + 10])
        i += 10
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = np.frombuffer(b[i : i + 3 * n], dtype=np.uint8).reshape(n, 3)
            i += 3 * n
        if ct is None:
            raise ValueError("GIF image has no color table")
        min_code_size = b[i]
        i += 1
        data = bytearray()
        while b[i] != 0:
            ln = b[i]
            data += b[i + 1 : i + 1 + ln]
            i += 1 + ln
        idx = np.frombuffer(
            bytes(_gif_lzw_decode(bytes(data), min_code_size)), dtype=np.uint8
        )
        if len(idx) < w * h:
            raise ValueError("truncated GIF pixel data")
        idx = idx[: w * h].reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            order = np.concatenate(
                [np.arange(s, h, st) for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))]
            )
            deinterlaced = np.empty_like(idx)
            deinterlaced[order] = idx
            idx = deinterlaced
        return w, h, ct[np.minimum(idx, len(ct) - 1)].tobytes()
    raise ValueError("GIF contains no image descriptor")


def encode_gif(width: int, height: int, rgb: bytes, *, interlace: bool = False) -> bytes:
    """Minimal GIF89a encoder for fixtures (≤256 distinct colors): real
    LZW-framed output using the degenerate-dictionary form — a CLEAR
    code before every pixel code keeps the code width fixed, which every
    conforming decoder (including ``decode_gif``) must accept."""
    import numpy as np

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    colors, idx = np.unique(arr.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("fixture encoder supports <=256 colors")
    ctbits = max(1, int(len(colors) - 1).bit_length())
    n = 1 << ctbits
    palette = np.zeros((n, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    mcs = max(2, ctbits)
    clear, end = 1 << mcs, (1 << mcs) + 1
    width_bits = mcs + 1
    idx2 = idx.reshape(height, width)
    if interlace:
        order = np.concatenate(
            [np.arange(s, height, st) for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))]
        )
        idx2 = idx2[order]
    acc = bits = 0
    payload = bytearray()
    for code in [clear] + [
        c for px in idx2.reshape(-1).tolist() for c in (px, clear)
    ][:-1] + [end]:
        acc |= code << bits
        bits += width_bits
        while bits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        payload.append(acc & 0xFF)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (ctbits - 1), 0, 0)
    out += palette.tobytes()
    out.append(0x2C)  # image separator
    out += struct.pack("<HHHHB", 0, 0, width, height, 0x40 if interlace else 0)
    out.append(mcs)
    for off in range(0, len(payload), 255):
        chunk = payload[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# JPEG (ITU-T T.81, Huffman) — hand-rolled with stdlib + numpy only,
# completing the real-decode tier: PPM, PNG (DEFLATE), GIF (LZW), WAV
# (PCM), video container, and JPEG (Huffman + IDCT). Only MP3 remains
# injected. Supported: 8-bit precision, 1 or 3 components, 4:4:4 /
# 4:2:2 / 4:2:0 sampling, restart intervals, baseline sequential
# (SOF0/1) AND progressive (SOF2, r7: spectral selection + successive
# approximation per Annex G — multi-scan coefficient accumulation, EOB
# runs, refinement correction bits). Arithmetic coding and the
# lossless/hierarchical SOF variants raise to the injected tier.

#: zigzag scan order: zigzag index -> row-major position in the 8x8 block
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: ITU-T T.81 Annex K quantization tables (quality 50 base)
_JPEG_QLUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QCHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K "typical" Huffman tables: (BITS counts per code length 1..16,
#: HUFFVAL symbol list) for (luma DC, luma AC, chroma DC, chroma AC)
_JPEG_HUFF_DC_L = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_DC_C = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_AC_L = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JPEG_HUFF_AC_C = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

#: fixture encoder quality (libjpeg scaling law at this constant)
_JPEG_QUALITY = 75


def _jpeg_dct_matrix():
    """Orthonormal 8-point DCT-II matrix C: spatial = C.T @ coeff @ C."""
    import numpy as np

    n = np.arange(8, dtype=np.float64)
    k = n[:, None]
    c = np.cos((2.0 * n[None, :] + 1.0) * k * np.pi / 16.0)
    c *= np.where(k == 0, np.sqrt(1.0 / 8.0), np.sqrt(2.0 / 8.0))
    return c


def _jpeg_canonical_codes(bits: list[int], values: list[int]):
    """(length, code) -> symbol map from a DHT BITS/HUFFVAL spec, plus
    the inverse symbol -> (code, length) map for encoding."""
    dec, enc = {}, {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[i]
            dec[(length, code)] = sym
            enc[sym] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return dec, enc


def _jpeg_quant_tables(quality: int):
    """libjpeg quality scaling of the Annex K base tables."""
    import numpy as np

    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_JPEG_QLUMA, _JPEG_QCHROMA):
        q = (np.array(base, dtype=np.int64) * scale + 50) // 100
        out.append(np.clip(q, 1, 255).astype(np.int64))
    return out  # row-major 64-entry tables


class _JpegBitReader:
    """MSB-first entropy-stream reader with 0xFF00 unstuffing; stops at
    any marker and reports restarts."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.i = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _byte(self) -> int:
        while self.marker is None and self.i < len(self.d):
            v = self.d[self.i]
            if v != 0xFF:
                self.i += 1
                return v
            nxt = self.d[self.i + 1] if self.i + 1 < len(self.d) else 0xD9
            if nxt == 0x00:
                self.i += 2
                return 0xFF
            self.marker = nxt
            return 0
        return 0  # spec: pad past EOI with zero bits

    def bit(self) -> int:
        if self.n == 0:
            self.acc = self._byte()
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align_restart(self) -> None:
        """Byte-align and consume the RSTn marker at the boundary.

        Two cases: the padded bits of the last byte were already pulled
        (marker latched by ``_byte``), or the partial byte was consumed
        exactly and the FF Dn pair is still unread at ``i``."""
        self.n = 0
        if self.marker is not None:
            if 0xD0 <= self.marker <= 0xD7:
                self.i += 2  # past FF Dn (i still points at the FF)
                self.marker = None
        elif (
            self.i + 1 < len(self.d)
            and self.d[self.i] == 0xFF
            and 0xD0 <= self.d[self.i + 1] <= 0xD7
        ):
            self.i += 2


def _jpeg_extend(v: int, t: int) -> int:
    """DIFF/AC magnitude sign-extension (T.81 F.2.2.1)."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def decode_jpeg(b: bytes) -> tuple[int, int, bytes]:
    """Real baseline JPEG decode — marker parse, canonical Huffman,
    dequantization, exact float64 IDCT, chroma upsample, BT.601
    YCbCr→RGB — stdlib + numpy only (no codec library)."""
    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qt: dict[int, "np.ndarray"] = {}
    huff_dec: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    dac_dc: dict[int, tuple[int, int]] = {}  # DC conditioning: tbl -> (L, U)
    dac_ac: dict[int, int] = {}  # AC conditioning: tbl -> Kx
    prog_coef = None  # progressive: per-component zigzag coefficient store
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("marker desync")
        # T.81 B.1.1.2: any marker may be preceded by any number of
        # 0xFF fill bytes — skip them so the byte after the LAST 0xFF
        # is read as the marker id (r6 ADVICE: some encoders pad).
        while i + 1 < len(b) and b[i + 1] == 0xFF:
            i += 1
        if i + 4 > len(b):
            break
        m = b[i + 1]
        if m == 0xD9:
            break
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        seg = b[i + 4 : i + 2 + seg_len]
        i += 2 + seg_len
        if m == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                j += 1
                if pq:
                    vals = [int.from_bytes(seg[j + 2 * k : j + 2 * k + 2], "big") for k in range(64)]
                    j += 128
                else:
                    vals = list(seg[j : j + 64])
                    j += 64
                t = np.zeros(64, dtype=np.int64)
                t[np.array(_JPEG_ZIGZAG)] = vals  # store row-major
                qt[tq] = t
        elif m == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nv])
                huff_dec[(tc, th)] = _jpeg_canonical_codes(bits, vals)[0]
                j += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2, 0xC9):  # SOF0/1 baseline, SOF2 progressive, SOF9 sequential arithmetic
            prec, h, w, nc = seg[0], int.from_bytes(seg[1:3], "big"), int.from_bytes(seg[3:5], "big"), seg[5]
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for k in range(nc):
                cid, hv, tq = seg[6 + 3 * k], seg[7 + 3 * k], seg[8 + 3 * k]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {
                "w": w,
                "h": h,
                "comps": comps,
                "progressive": m == 0xC2,
                "arith": m == 0xC9,
            }
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("lossless/hierarchical JPEG requires an injected decoder")
        elif m == 0xCC:  # DAC — arithmetic conditioning (T.81 B.2.4.3)
            j = 0
            while j + 2 <= len(seg):
                tc, tb = seg[j] >> 4, seg[j] & 15
                cs = seg[j + 1]
                if tc == 0:
                    dac_dc[tb] = (cs & 15, cs >> 4)
                else:
                    dac_ac[tb] = cs
                j += 2
        elif m == 0xDD:  # DRI
            restart = int.from_bytes(seg[:2], "big")
        elif m == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            if frame.get("arith"):
                return _jpeg_arith_scan(b, i, seg, frame, qt, dac_dc, dac_ac, restart)
            if frame["progressive"]:
                if prog_coef is None:
                    prog_coef = _jpeg_prog_alloc(frame)
                i = _jpeg_prog_scan(b, i, seg, frame, huff_dec, prog_coef, restart)
                continue
            ns = seg[0]
            scan = {}
            for k in range(ns):
                cs, tt = seg[1 + 2 * k], seg[2 + 2 * k]
                scan[cs] = (tt >> 4, tt & 15)
            comps = frame["comps"]
            w, h = frame["w"], frame["h"]
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            C = _jpeg_dct_matrix()
            planes = []
            for c in comps:
                planes.append(
                    np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64)
                )
            rdr = _JpegBitReader(b, i)
            pred = [0] * len(comps)
            mcu_count = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart and mcu_count and mcu_count % restart == 0:
                        rdr.align_restart()
                        pred = [0] * len(comps)
                    mcu_count += 1
                    for ci, c in enumerate(comps):
                        dc_tbl = huff_dec[(0, scan[c["id"]][0])]
                        ac_tbl = huff_dec[(1, scan[c["id"]][1])]
                        q = qt[c["tq"]]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                coeff = np.zeros(64, dtype=np.int64)
                                # DC
                                t = _jpeg_huff_symbol(rdr, dc_tbl)
                                diff = _jpeg_extend(rdr.bits(t), t) if t else 0
                                pred[ci] += diff
                                coeff[0] = pred[ci]
                                # AC
                                k = 1
                                while k < 64:
                                    rs = _jpeg_huff_symbol(rdr, ac_tbl)
                                    r, s = rs >> 4, rs & 15
                                    if s == 0:
                                        if r == 15:
                                            k += 16
                                            continue
                                        break  # EOB
                                    k += r
                                    coeff[_JPEG_ZIGZAG[k]] = _jpeg_extend(rdr.bits(s), s)
                                    k += 1
                                # store zigzag-mapped: coeff[0] is DC at
                                # row-major 0 already; AC were mapped above
                                blk = (coeff * q).reshape(8, 8).astype(np.float64)
                                sp = C.T @ blk @ C + 128.0
                                y0 = (my * c["v"] + by) * 8
                                x0 = (mx * c["h"] + bx) * 8
                                planes[ci][y0 : y0 + 8, x0 : x0 + 8] = sp
            return _jpeg_color_assemble(planes, comps, w, h, hmax, vmax)
        # APPn / COM / others: skipped
    if prog_coef is not None:  # progressive: all scans decoded, rebuild
        return _jpeg_prog_reconstruct(frame, qt, prog_coef)
    raise ValueError("no scan data in JPEG payload")


def _jpeg_color_assemble(planes, comps, w: int, h: int, hmax: int, vmax: int):
    """Crop padded component planes to their subsampled size, upsample
    to full resolution, and convert BT.601 YCbCr→RGB (shared by the
    baseline streaming path and the progressive reconstruction)."""
    import numpy as np

    full = []
    for ci, c in enumerate(comps):
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        p = planes[ci][:ch, :cw]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return w, h, np.repeat(g[:, :, None], 3, axis=2).tobytes()
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    rgb = np.stack([r, g, bl], axis=2)
    return w, h, np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes()


def _jpeg_huff_symbol(rdr: "_JpegBitReader", table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | rdr.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("corrupt Huffman stream")


# -- progressive mode (T.81 Annex G, spectral selection + successive
#    approximation, Huffman) ------------------------------------------------


def _jpeg_prog_alloc(frame):
    """Per-component zigzag-order coefficient store covering the padded
    MCU grid (int64: progressive scans accumulate bits across scans)."""
    import numpy as np

    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    return [
        np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64) for c in comps
    ]


def _jpeg_prog_units(frame, scomps):
    """Data-unit iteration order for one scan (T.81 G.2): interleaved
    MCU order when the scan holds several components, the component's
    OWN block raster when it holds one."""
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if len(scomps) > 1:
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        for my in range(mcuy):
            for mx in range(mcux):
                unit = []
                for ci, tdc, tac in scomps:
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            unit.append((ci, my * c["v"] + by, mx * c["h"] + bx, tdc, tac))
                yield unit
    else:
        ci, tdc, tac = scomps[0]
        c = comps[ci]
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        for by in range(-(-ch // 8)):
            for bx in range(-(-cw // 8)):
                yield [(ci, by, bx, tdc, tac)]


def _jpeg_prog_scan(b, i, seg, frame, huff_dec, coef, restart) -> int:
    """Decode ONE progressive SOS (DC/AC, first pass or successive-
    approximation refinement) into the persistent coefficient store;
    returns the byte offset of the next marker. Algorithms follow
    T.81 G.1.2/G.2 (EOB runs, ZRL over zero-history positions,
    correction bits for every nonzero-history coefficient crossed)."""
    ns = seg[0]
    scomps = []
    for k in range(ns):
        cs, tt = seg[1 + 2 * k], seg[2 + 2 * k]
        ci = next(idx for idx, c in enumerate(frame["comps"]) if c["id"] == cs)
        scomps.append((ci, tt >> 4, tt & 15))
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    a = seg[3 + 2 * ns]
    ah, al = a >> 4, a & 15
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be single-component")
    rdr = _JpegBitReader(b, i)
    p1 = 1 << al
    pred = {ci: 0 for ci, _, _ in scomps}
    eobrun = 0
    unit_count = 0

    def refine_bit(blk, k) -> None:
        if rdr.bit() and (int(blk[k]) & p1) == 0:
            blk[k] += p1 if blk[k] > 0 else -p1

    for unit in _jpeg_prog_units(frame, scomps):
        if restart and unit_count and unit_count % restart == 0:
            rdr.align_restart()
            pred = {ci: 0 for ci, _, _ in scomps}
            eobrun = 0
        unit_count += 1
        for ci, by, bx, tdc, tac in unit:
            blk = coef[ci][by, bx]
            if ss == 0:  # DC
                if ah == 0:
                    t = _jpeg_huff_symbol(rdr, huff_dec[(0, tdc)])
                    diff = _jpeg_extend(rdr.bits(t), t) if t else 0
                    pred[ci] += diff
                    blk[0] = pred[ci] << al
                elif rdr.bit():
                    blk[0] |= p1
                continue
            ac = huff_dec[(1, tac)]
            if ah == 0:  # AC first pass
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_huff_symbol(rdr, ac)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += rdr.bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("corrupt progressive AC scan")
                    blk[k] = _jpeg_extend(rdr.bits(s), s) << al
                    k += 1
            else:  # AC refinement
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _jpeg_huff_symbol(rdr, ac)
                        r, s = rs >> 4, rs & 15
                        val = 0
                        if s == 0:
                            if r < 15:  # EOBn: run covers this block too
                                eobrun = 1 << r
                                if r:
                                    eobrun += rdr.bits(r)
                                break
                            # r == 15 (ZRL): skip 16 zero-history coeffs
                        else:  # s == 1: newly nonzero at this level
                            val = p1 if rdr.bit() else -p1
                        while k <= se:
                            if blk[k] != 0:
                                refine_bit(blk, k)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if blk[k] != 0:
                            refine_bit(blk, k)
                        k += 1
                    eobrun -= 1
    if rdr.marker is not None:
        return rdr.i  # reader already points at the marker's 0xFF
    j = rdr.i
    while j + 1 < len(b) and not (b[j] == 0xFF and b[j + 1] != 0x00):
        j += 1
    return j


def _jpeg_prog_reconstruct(frame, qt, coef):
    """Dequantize + IDCT the accumulated progressive coefficients and
    assemble the final RGB image (shared color path with baseline)."""
    import numpy as np

    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    C = _jpeg_dct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    planes = []
    for ci, c in enumerate(comps):
        st = coef[ci]
        byt, bxt, _ = st.shape
        rm = np.zeros_like(st, dtype=np.float64)
        rm[:, :, zz] = st  # zigzag index -> row-major position
        rm *= qt[c["tq"]].astype(np.float64)
        plane = np.zeros((byt * 8, bxt * 8), dtype=np.float64)
        for by in range(byt):
            for bx in range(bxt):
                blk = rm[by, bx].reshape(8, 8)
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = C.T @ blk @ C + 128.0
        planes.append(plane)
    return _jpeg_color_assemble(planes, comps, w, h, hmax, vmax)


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        for k in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> k) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    s = abs(v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def encode_jpeg(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal baseline JPEG encoder (4:4:4, quality 75, Annex K
    Huffman tables) for fixtures — the lossy inverse of
    ``decode_jpeg``, stdlib + numpy only."""
    import numpy as np

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    y = 0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    cb = -0.168736 * arr[:, :, 0] - 0.331264 * arr[:, :, 1] + 0.5 * arr[:, :, 2] + 128.0
    cr = 0.5 * arr[:, :, 0] - 0.418688 * arr[:, :, 1] - 0.081312 * arr[:, :, 2] + 128.0
    ql, qc = _jpeg_quant_tables(_JPEG_QUALITY)
    C = _jpeg_dct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    dec_dc_l, enc_dc_l = _jpeg_canonical_codes(*_JPEG_HUFF_DC_L)
    dec_ac_l, enc_ac_l = _jpeg_canonical_codes(*_JPEG_HUFF_AC_L)
    dec_dc_c, enc_dc_c = _jpeg_canonical_codes(*_JPEG_HUFF_DC_C)
    dec_ac_c, enc_ac_c = _jpeg_canonical_codes(*_JPEG_HUFF_AC_C)
    bw = _JpegBitWriter()
    bh, bwid = -(-height // 8), -(-width // 8)
    pad_h, pad_w = bh * 8, bwid * 8
    planes = []
    for p in (y, cb, cr):
        pp = np.empty((pad_h, pad_w), dtype=np.float64)
        pp[:height, :width] = p
        pp[height:, :width] = p[-1:, :]  # edge replicate
        pp[:, width:] = pp[:, width - 1 : width]
        planes.append(pp)
    pred = [0, 0, 0]
    for by in range(bh):
        for bx in range(bwid):
            for ci, p in enumerate(planes):
                q = ql if ci == 0 else qc
                enc_dc = enc_dc_l if ci == 0 else enc_dc_c
                enc_ac = enc_ac_l if ci == 0 else enc_ac_c
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coeff = C @ blk @ C.T
                qz = np.round(coeff.reshape(64) / q.astype(np.float64)).astype(np.int64)
                zig = qz[zz]
                diff = int(zig[0]) - pred[ci]
                pred[ci] = int(zig[0])
                s, bits = _jpeg_magnitude(diff)
                code, length = enc_dc[s]
                bw.put(code, length)
                if s:
                    bw.put(bits, s)
                run = 0
                last_nz = int(np.max(np.nonzero(zig)[0])) if np.any(zig[1:]) else 0
                for k in range(1, 64):
                    v = int(zig[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = enc_ac[0xF0]  # ZRL
                        bw.put(code, length)
                        run -= 16
                    s, bits = _jpeg_magnitude(v)
                    code, length = enc_ac[(run << 4) | s]
                    bw.put(code, length)
                    bw.put(bits, s)
                    run = 0
                if last_nz < 63:
                    code, length = enc_ac[0x00]  # EOB
                    bw.put(code, length)
    bw.flush()
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in ((0, ql), (1, qc)):
        out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([tq])
        out += bytes(int(q[zz[k]]) for k in range(64))
    out += b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
    out += height.to_bytes(2, "big") + width.to_bytes(2, "big") + b"\x03"
    out += bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    for tc, th, (bits_spec, vals) in (
        (0, 0, _JPEG_HUFF_DC_L),
        (1, 0, _JPEG_HUFF_AC_L),
        (0, 1, _JPEG_HUFF_DC_C),
        (1, 1, _JPEG_HUFF_AC_C),
    ):
        body = bytes([(tc << 4) | th]) + bytes(bits_spec) + bytes(vals)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
    out += b"\xff\xda" + (12).to_bytes(2, "big") + b"\x03"
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


#: flat Huffman table for progressive AC scans: all 256 run/size codes
#: at 9 or 10 bits (Kraft 128/512 + 128/1024 = 0.375 — a valid, if
#: unoptimized, canonical table). Needed because the Annex K baseline
#: AC tables carry no EOBn symbols (0x10..0xE0), which progressive EOB
#: runs require; registered as table id 2, class AC.
_JPEG_HUFF_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 0, 128, 128, 0, 0, 0, 0, 0, 0],
    list(range(256)),
)


def _jpeg_point_transform(v: int, al: int) -> int:
    """AC point transform: v / 2^Al truncated toward zero (T.81 G.1.2.2)."""
    return (v >> al) if v >= 0 else -((-v) >> al)


def _jpeg_prog_emit_dc_first(bw, enc_dc_by_ci, blocks_iter, al) -> None:
    pred: dict[int, int] = {}
    for ci, zig in blocks_iter:
        v0 = int(zig[0]) >> al  # arithmetic shift (T.81 G.1.2.1)
        diff = v0 - pred.get(ci, 0)
        pred[ci] = v0
        s, bits_ = _jpeg_magnitude(diff)
        code, ln = enc_dc_by_ci[ci][s]
        bw.put(code, ln)
        if s:
            bw.put(bits_, s)


def _jpeg_prog_emit_ac_first(bw, enc_ac, blocks, ss, se, al) -> None:
    eobrun = 0

    def flush() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = enc_ac[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun - (1 << r), r)
            eobrun = 0

    for zig in blocks:
        vz = [_jpeg_point_transform(int(zig[k]), al) for k in range(64)]
        nz = [k for k in range(ss, se + 1) if vz[k] != 0]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        for k in range(ss, se + 1):
            v = vz[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = enc_ac[0xF0]
                bw.put(code, ln)
                run -= 16
            s, bits_ = _jpeg_magnitude(v)
            code, ln = enc_ac[(run << 4) | s]
            bw.put(code, ln)
            bw.put(bits_, s)
            run = 0
        if nz[-1] < se:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
    flush()


def _jpeg_prog_emit_ac_refine(bw, enc_ac, blocks, ss, se, ah, al) -> None:
    eobrun = 0
    eob_bits: list[int] = []

    def flush() -> None:
        nonlocal eobrun, eob_bits
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = enc_ac[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun - (1 << r), r)
            for bit in eob_bits:
                bw.put(bit, 1)
            eobrun = 0
            eob_bits = []

    for zig in blocks:
        hist = [abs(int(zig[k])) >> ah for k in range(64)]
        cur = [abs(int(zig[k])) >> al for k in range(64)]
        newly = [k for k in range(ss, se + 1) if hist[k] == 0 and cur[k] != 0]
        if not newly:
            eobrun += 1
            eob_bits.extend(cur[k] & 1 for k in range(ss, se + 1) if hist[k] != 0)
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        k = ss
        for pos in newly:
            zeros = sum(1 for t in range(k, pos) if hist[t] == 0)
            while zeros > 15:  # ZRL: 16 zero-history zeros + crossed bits
                cnt = 0
                bits_: list[int] = []
                while cnt < 16:
                    if hist[k] != 0:
                        bits_.append(cur[k] & 1)
                    else:
                        cnt += 1
                    k += 1
                code, ln = enc_ac[0xF0]
                bw.put(code, ln)
                for bit in bits_:
                    bw.put(bit, 1)
                zeros -= 16
            bits_ = []
            while k < pos:
                if hist[k] != 0:
                    bits_.append(cur[k] & 1)
                k += 1
            code, ln = enc_ac[(zeros << 4) | 1]
            bw.put(code, ln)
            bw.put(1 if int(zig[pos]) > 0 else 0, 1)
            for bit in bits_:
                bw.put(bit, 1)
            k = pos + 1
        if k <= se:  # trailing remainder rides an EOB run
            eobrun += 1
            eob_bits.extend(cur[t] & 1 for t in range(k, se + 1) if hist[t] != 0)
            if eobrun == 0x7FFF:
                flush()
    flush()


def encode_jpeg_progressive(width: int, height: int, rgb: bytes) -> bytes:
    """Progressive JPEG encoder (SOF2, 4:4:4, quality 75) — the lossy
    inverse of the progressive path in ``decode_jpeg``, stdlib + numpy
    only. The scan script exercises every Annex G decode branch:
    interleaved DC first pass at Al=1, split spectral-selection AC
    first passes (1-5, 6-63 for luma; 1-63 for chroma) at Al=1, then a
    DC refinement and per-component AC refinements down to Al=0 (EOB
    runs, ZRL-over-history, correction bits). Quantized coefficients
    are computed exactly as in ``encode_jpeg``, so a progressive
    roundtrip decodes to the SAME pixels as the baseline encoding of
    the same image — the self-validation the tests pin."""
    import numpy as np

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    y = 0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    cb = -0.168736 * arr[:, :, 0] - 0.331264 * arr[:, :, 1] + 0.5 * arr[:, :, 2] + 128.0
    cr = 0.5 * arr[:, :, 0] - 0.418688 * arr[:, :, 1] - 0.081312 * arr[:, :, 2] + 128.0
    ql, qc = _jpeg_quant_tables(_JPEG_QUALITY)
    C = _jpeg_dct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    bh, bwid = -(-height // 8), -(-width // 8)
    pad_h, pad_w = bh * 8, bwid * 8
    comps_zig: list[list] = [[], [], []]
    for ci, p in enumerate((y, cb, cr)):
        pp = np.empty((pad_h, pad_w), dtype=np.float64)
        pp[:height, :width] = p
        pp[height:, :width] = p[-1:, :]
        pp[:, width:] = pp[:, width - 1 : width]
        q = (ql if ci == 0 else qc).astype(np.float64)
        for by in range(bh):
            for bx in range(bwid):
                blk = pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                qz = np.round((C @ blk @ C.T).reshape(64) / q).astype(np.int64)
                comps_zig[ci].append(qz[zz])
    _, enc_dc_l = _jpeg_canonical_codes(*_JPEG_HUFF_DC_L)
    _, enc_dc_c = _jpeg_canonical_codes(*_JPEG_HUFF_DC_C)
    _, enc_ac_p = _jpeg_canonical_codes(*_JPEG_HUFF_AC_PROG)
    enc_dc_by_ci = {0: enc_dc_l, 1: enc_dc_c, 2: enc_dc_c}

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in ((0, ql), (1, qc)):
        out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([tq])
        out += bytes(int(q[zz[k]]) for k in range(64))
    out += b"\xff\xc2" + (17).to_bytes(2, "big") + b"\x08"
    out += height.to_bytes(2, "big") + width.to_bytes(2, "big") + b"\x03"
    out += bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    for tc, th, (bits_spec, vals) in (
        (0, 0, _JPEG_HUFF_DC_L),
        (0, 1, _JPEG_HUFF_DC_C),
        (1, 2, _JPEG_HUFF_AC_PROG),
    ):
        body = bytes([(tc << 4) | th]) + bytes(bits_spec) + bytes(vals)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body

    # scan 1: DC first, interleaved, Al=1 (MCU order = block raster at 4:4:4)
    bw = _JpegBitWriter()
    dc_units = [
        (ci, comps_zig[ci][b])
        for b in range(bh * bwid)
        for ci in range(3)
    ]
    _jpeg_prog_emit_dc_first(bw, enc_dc_by_ci, dc_units, 1)
    body = bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x01])
    out += b"\xff\xda" + (2 + len(body)).to_bytes(2, "big") + body
    bw.flush()
    out += bw.out
    # scans 2-4: AC first passes at Al=1 (luma split spectrally)
    for cid, ci, bands in ((1, 0, [(1, 5), (6, 63)]), (2, 1, [(1, 63)]), (3, 2, [(1, 63)])):
        for ss_, se_ in bands:
            bw = _JpegBitWriter()
            _jpeg_prog_emit_ac_first(bw, enc_ac_p, comps_zig[ci], ss_, se_, 1)
            body = bytes([1, cid, 0x02, ss_, se_, 0x01])
            out += b"\xff\xda" + (2 + len(body)).to_bytes(2, "big") + body
            bw.flush()
            out += bw.out
    # scan 5: DC refinement Ah=1 → Al=0
    bw = _JpegBitWriter()
    for b in range(bh * bwid):
        for ci in range(3):
            bw.put(int(comps_zig[ci][b][0]) & 1, 1)
    body = bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x10])
    out += b"\xff\xda" + (2 + len(body)).to_bytes(2, "big") + body
    bw.flush()
    out += bw.out
    # scans 6-8: AC refinements Ah=1 → Al=0
    for cid, ci in ((1, 0), (2, 1), (3, 2)):
        bw = _JpegBitWriter()
        _jpeg_prog_emit_ac_refine(bw, enc_ac_p, comps_zig[ci], 1, 63, 1, 0)
        body = bytes([1, cid, 0x02, 1, 63, 0x10])
        out += b"\xff\xda" + (2 + len(body)).to_bytes(2, "big") + body
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _nn_resize_rgb(rgb: bytes, ow: int, oh: int, w: int, h: int) -> bytes:
    """Nearest-neighbor resize on a raw RGB buffer via numpy indexing."""
    import numpy as np

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(oh, ow, 3)
    rows = (np.arange(h) * oh) // h
    cols = (np.arange(w) * ow) // w
    return arr[rows][:, cols].tobytes()


def decode_image(
    df: DataFrame,
    *,
    id_col: str = "content_id",
    content_col: str = "content",
    decoder: Callable[[bytes], tuple[int, int, bytes]] | None = None,
) -> DataFrame:
    """Full image decode → (width, height, raw RGB pixels) via mapInPandas.

    Four formats decode for real with no codec library: binary PPM
    (P6, pure numpy header parse), 8-bit PNG (stdlib zlib inflate +
    per-scanline unfilter — see ``decode_png``), GIF87a/89a
    (hand-rolled LZW + palette lookup — see ``decode_gif``), and JPEG —
    baseline sequential AND progressive (hand-rolled Huffman + exact
    float IDCT, 4:4:4/4:2:2/4:2:0, restart intervals, Annex G
    multi-scan progressive — see ``decode_jpeg``; baseline
    cross-validated against libjpeg within ±2/pixel, progressive
    pinned bit-identical to the baseline path on shared coefficients).
    Remaining codec-backed variants (lossless / hierarchical JPEG — the
    formats with no deployed corpus presence) need an injected ``decoder(payload) -> (w, h,
    rgb_bytes)`` (production: Pillow / libvips inside the worker);
    without one those rows come back ok=false rather than failing the
    job — at 100 TB a corrupt or unsupported payload must never kill
    the stage.
    """

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, payload in zip(pdf[id_col], pdf[content_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    if b[:2] == b"P6":
                        w, h, px = decode_ppm(b)
                    elif b[:2] == b"BM":
                        w, h, px = decode_bmp(b)
                    elif b[:8] == _PNG_MAGIC:
                        w, h, px = decode_png(b)
                    elif b[:6] in _GIF_MAGICS:
                        w, h, px = decode_gif(b)
                    elif b[:2] == _JPEG_MAGIC:
                        try:
                            w, h, px = decode_jpeg(b)
                        except ValueError:
                            if decoder is None:
                                raise  # progressive/extended: injected tier
                            w, h, px = decoder(b)
                    elif decoder is not None:
                        w, h, px = decoder(b)
                    else:
                        raise NotImplementedError(
                            "unrecognized image format requires an injected decoder"
                        )
                    out.append((cid, w, h, px, True))
                except Exception:
                    out.append((cid, None, None, None, False))
            yield pd.DataFrame(
                out, columns=["content_id", "width", "height", "pixels", "ok"]
            )

    return df.select(id_col, content_col).mapInPandas(worker, schema=PIXELS_SCHEMA)


def extract_features(
    df: DataFrame,
    *,
    id_col: str = "content_id",
    content_col: str = "content",
    n_features: int = 8,
) -> DataFrame:
    """Deterministic per-payload feature vector via mapInPandas: byte
    histogram moments (a stand-in with the exact batch shape of a real
    embedding model: binary in → fixed-size float vector out)."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, feats = [], []
            for cid, payload in zip(pdf[id_col], pdf[content_col]):
                b = np.frombuffer(bytes(payload or b""), dtype=np.uint8)
                if b.size == 0:
                    feats.append([0.0] * n_features)
                else:
                    # bucketed byte histogram, L1-normalized
                    hist, _ = np.histogram(b, bins=n_features, range=(0, 256))
                    feats.append((hist / max(b.size, 1)).tolist())
                ids.append(cid)
            yield pd.DataFrame({"content_id": ids, "features": feats})

    return df.select(id_col, content_col).mapInPandas(worker, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = "content_id bigint, content binary, width int, height int"
FRAME_SCHEMA = "content_id bigint, frame_idx int, frame binary"

#: video container: magic 'VID0' + uint32 frame count (BE), then each
#: frame as a uint32 length (BE) + its bytes (the rungs store PPM frames)
VIDEO_MAGIC = b"VID0"


def encode_video(frames: list[bytes]) -> bytes:
    """Pack frames of any length into the length-prefixed container."""
    parts = [VIDEO_MAGIC, struct.pack(">I", len(frames))]
    for f in frames:
        parts += [struct.pack(">I", len(f)), f]
    return b"".join(parts)


def decode_video(b: bytes) -> list[bytes]:
    """Inverse of encode_video; a payload without the magic raises."""
    if b[:4] != VIDEO_MAGIC:
        raise ValueError("not a VID0 container")
    frames, off = [], 8
    for _ in range(int.from_bytes(b[4:8], "big")):
        ln = int.from_bytes(b[off : off + 4], "big")
        if off + 4 + ln > len(b):
            raise ValueError("truncated VID0 container")
        frames.append(b[off + 4 : off + 4 + ln])
        off += 4 + ln
    return frames


def gray8(a) -> "object":
    """Min-max quantize a vector to 8-bit gray with the portable half-up
    formula ``floor(x + 0.5)`` (the SQL oracles' twin; numpy's banker's
    ``np.round`` would differ on exact halves). A flat vector is all 0."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    lo, hi = float(a.min()), float(a.max())
    if hi > lo:
        return np.floor((a - lo) * (255.0 / (hi - lo)) + 0.5).astype(np.uint8)
    return np.zeros(len(a), dtype=np.uint8)


def pcm16(a) -> "object":
    """Quantize a vector to 16-bit PCM: ``floor(x * 1e4 + 0.5)`` clamped
    to the int16 rails, little-endian as WAV stores it."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    return np.clip(np.floor(a * 10000.0 + 0.5), -32768, 32767).astype("<i2")


def resize_image(
    df: DataFrame,
    width: int,
    height: int,
    *,
    id_col: str = "content_id",
    content_col: str = "content",
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize payloads via mapInPandas. The default resizer understands
    only the deterministic fake format (rewrites the header, scales the
    payload length proportionally — same batch shape as a real codec);
    production injects Pillow/libvips as ``resizer``."""

    def _fake_resize(b: bytes, w: int, h: int) -> bytes:
        magic, ow, oh = _fake_decoder(b)
        payload = b[12:]
        scale = (w * h) / max(ow * oh, 1)
        n_out = int(len(payload) * min(scale, 1.0))
        return pack_fake_image(w, h, payload[:n_out])

    def _default_resize(b: bytes, w: int, h: int) -> bytes:
        # real nearest-neighbor resize for PPM and PNG (round-tripped
        # through the same format); fake-header rewrite for the FIMG
        # test format; codec formats need an injected resizer
        if b[:2] == b"P6":
            ow, oh, rgb = decode_ppm(b)
            return encode_ppm(w, h, _nn_resize_rgb(rgb, ow, oh, w, h))
        if b[:8] == _PNG_MAGIC:
            ow, oh, rgb = decode_png(b)
            return encode_png(w, h, _nn_resize_rgb(rgb, ow, oh, w, h))
        return _fake_resize(b, w, h)

    rz = resizer or _default_resize

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, payload in zip(pdf[id_col], pdf[content_col]):
                try:
                    out.append((cid, rz(bytes(payload), width, height), width, height))
                except Exception:
                    out.append((cid, None, None, None))
            yield pd.DataFrame(
                out, columns=["content_id", "content", "width", "height"]
            )

    return df.select(id_col, content_col).mapInPandas(worker, schema=RESIZED_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_k: int = 2,
    *,
    id_col: str = "content_id",
    content_col: str = "content",
) -> DataFrame:
    """Sample every k-th frame from ``encode_video`` payloads — the
    exploding mapInPandas shape (one input row → many output rows) a
    real video-frame extractor uses. Payloads that are not a container
    contribute no frames."""

    def worker(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for cid, payload in zip(pdf[id_col], pdf[content_col]):
                try:
                    fs = decode_video(bytes(payload or b""))
                except ValueError:
                    continue
                for i in range(0, len(fs), every_k):
                    ids.append(cid)
                    idxs.append(i)
                    frames.append(fs[i])
            yield pd.DataFrame(
                {"content_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return df.select(id_col, content_col).mapInPandas(worker, schema=FRAME_SCHEMA)


AUDIO_SCHEMA = (
    "content_id bigint, sample_rate int, n_channels int, n_samples int, "
    "duration_s double, rms double, zero_crossings int, ok boolean"
)


def decode_wav(b: bytes) -> tuple[int, int, "object"]:
    """Real decode of PCM WAV (RIFF): chunk walk + numpy int16 view, no
    codec library. Returns (sample_rate, n_channels, samples ndarray of
    shape (n_frames, n_channels))."""
    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, fmt, data = 12, None, None
    while i + 8 <= len(b):
        cid, size = b[i : i + 4], int.from_bytes(b[i + 4 : i + 8], "little")
        body = b[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError("only 16-bit PCM supported (compressed WAV needs a codec)")
    samples = np.frombuffer(data[: len(data) - len(data) % (2 * n_channels)], dtype="<i2")
    return sample_rate, n_channels, samples.reshape(-1, n_channels)


def encode_wav(sample_rate: int, samples: "object") -> bytes:
    """Inverse of decode_wav for fixtures: 16-bit PCM little-endian."""
    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n_channels = arr.shape[1]
    data = arr.tobytes()
    fmt = (
        (1).to_bytes(2, "little")
        + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * n_channels * 2).to_bytes(4, "little")
        + (n_channels * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def extract_audio_features(
    df: DataFrame,
    *,
    id_col: str = "content_id",
    content_col: str = "content",
) -> DataFrame:
    """Waveform features per PCM-WAV payload via mapInPandas: duration,
    RMS level, zero-crossing count (channel 0) — the audio analog of the
    image metadata pass, vectorized per Arrow batch with numpy. Non-WAV
    or compressed payloads fail soft (ok=false)."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, payload in zip(pdf[id_col], pdf[content_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    rate, nch, samples = decode_wav(b)
                    ch0 = samples[:, 0].astype(np.float64)
                    n = len(ch0)
                    rms = float(np.sqrt(np.mean(ch0**2))) if n else 0.0
                    zc = int(np.count_nonzero(np.diff(np.signbit(ch0)))) if n > 1 else 0
                    out.append(
                        (cid, rate, nch, n, n / rate if rate else 0.0, rms, zc, True)
                    )
                except Exception:
                    out.append((cid, None, None, None, None, None, None, False))
            yield pd.DataFrame(
                out,
                columns=[
                    "content_id", "sample_rate", "n_channels", "n_samples",
                    "duration_s", "rms", "zero_crossings", "ok",
                ],
            )

    return df.select(id_col, content_col).mapInPandas(worker, schema=AUDIO_SCHEMA)


SPECTRAL_SCHEMA = (
    "content_id bigint, sample_rate int, n_frames int, "
    "spectral_centroid_hz double, band_energies array<double>, ok boolean"
)


def extract_spectral_features(
    df: DataFrame,
    *,
    id_col: str = "content_id",
    content_col: str = "content",
    frame: int = 256,
    n_bands: int = 8,
) -> DataFrame:
    """Frequency-domain audio features per PCM-WAV payload via
    mapInPandas + numpy's real FFT (stdlib-only — no codec or DSP
    dependency): channel 0 is cut into non-overlapping ``frame``-sample
    windows, each window's power spectrum is averaged across frames,
    and the pass emits the spectral centroid (Hz) plus mean energy in
    ``n_bands`` near-equal frequency bands (``np.array_split`` over the
    frame//2+1 rFFT bins, so with 129 bins the first band gets 17 bins
    and the rest 16 — the DC bin rides in band 0) — the features a corpus
    pipeline uses for silence/music/speech screening before any model
    sees the audio. Arrow-batched like every Python stage; non-WAV or
    compressed payloads fail soft (ok=false). Scale: embarrassingly
    parallel over payload partitions, output is O(n_bands) doubles per
    file regardless of duration."""

    def worker(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, payload in zip(pdf[id_col], pdf[content_col]):
                b = bytes(payload) if payload is not None else b""
                try:
                    rate, _nch, samples = decode_wav(b)
                    ch0 = samples[:, 0].astype(np.float64)
                    n_frames = len(ch0) // frame
                    if n_frames == 0:
                        raise ValueError("payload shorter than one frame")
                    frames = ch0[: n_frames * frame].reshape(n_frames, frame)
                    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                    spectrum = power.mean(axis=0)  # (frame//2 + 1,)
                    freqs = np.fft.rfftfreq(frame, d=1.0 / rate)
                    total = float(spectrum.sum())
                    centroid = float((freqs * spectrum).sum() / total) if total else 0.0
                    bands = [
                        float(np.mean(band)) if len(band) else 0.0
                        for band in np.array_split(spectrum, n_bands)
                    ]
                    out.append((cid, rate, n_frames, centroid, bands, True))
                except Exception:
                    out.append((cid, None, None, None, None, False))
            yield pd.DataFrame(
                out,
                columns=[
                    "content_id", "sample_rate", "n_frames",
                    "spectral_centroid_hz", "band_energies", "ok",
                ],
            )

    return df.select(id_col, content_col).mapInPandas(worker, schema=SPECTRAL_SCHEMA)


# -- arithmetic-coded JPEG (T.81 Annex D QM-coder + Annex F sequential
#    DCT statistical models) — the r8 tier that retires the injected-
#    decoder fallback for SOF9 payloads -----------------------------------

#: T.81 Table D.3 — the QM-coder probability-estimation state machine:
#: (Qe, Next_Index_LPS, Next_Index_MPS, Switch_MPS) per state, plus the
#: non-adaptive 0.5-probability state at index 113 used for AC sign
#: decisions (F.1.4.4.2.1). Values are the published spec constants,
#: verified entry-for-entry against the system libjpeg's jpeg_aritab at
#: extraction time (tests/test_jpeg_arith.py pins decode parity with
#: libjpeg-produced streams, which re-proves the table end-to-end).
_JPEG_ARITAB = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0), (0x080B, 18, 4, 0),
    (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0), (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0),
    (0x0036, 30, 9, 0), (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1), (0x3F25, 36, 16, 0),
    (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0), (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0),
    (0x0CEF, 43, 21, 0), (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0), (0x01B1, 54, 28, 0),
    (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0), (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0),
    (0x0068, 62, 33, 0), (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0), (0x2EF1, 67, 40, 0),
    (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0), (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0),
    (0x1177, 73, 45, 0), (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0), (0x04DE, 50, 52, 0),
    (0x040F, 50, 53, 0), (0x0363, 51, 54, 0), (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0),
    (0x01F8, 54, 57, 0), (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0), (0x008F, 61, 32, 0),
    (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0), (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0),
    (0x2FE8, 83, 69, 0), (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0), (0x119C, 74, 76, 0),
    (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0), (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0),
    (0x5832, 80, 81, 1), (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0), (0x2516, 86, 71, 0),
    (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0), (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0),
    (0x3824, 99, 93, 0), (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0), (0x3C3D, 104, 100, 0),
    (0x375E, 99, 93, 0), (0x5231, 105, 102, 0), (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0),
    (0x415E, 103, 99, 0), (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1), (0x5522, 112, 109, 0),
    (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
)

#: DC statistics bank layout (T.81 Table F.4): 5 conditioning groups of
#: 4 contexts (S0, SS, SP, SN) at 0/4/8/12/16, the X1..X15 magnitude-
#: category chain at 20..34, magnitude-bit banks M at X-position + 14.
#: AC bank: (SE, S0, X1) triples at 3*(k-1), X2 chains at 189 (k <= Kx)
#: and 217 (k > Kx), magnitude-bit banks again at +14.
_JPEG_ARITH_AC_X2_LO = 189
_JPEG_ARITH_AC_X2_HI = 217


class _JpegArithDecoder:
    """T.81 D.2 QM arithmetic decoder over an entropy-coded segment.

    Register convention (validated decision-for-decision against
    libjpeg-produced streams): the code value ``c`` carries the first
    two data bytes plus ``ct`` fetched-but-unconsumed low bits; a
    decision splits the current interval ``a`` at ``a - qe`` with the
    MPS sub-interval at the bottom, conditional exchange per D.2.4/5,
    and renormalization doubles ``a`` while consuming one code bit
    (fetching a data byte whenever ``ct`` underflows). 0xFF bytes are
    followed by a stuffed 0x00; a marker ends the segment and feeds
    zero bytes from then on (D.2.7)."""

    def __init__(self, data: bytes, pos: int):
        self._d = data
        self.p = pos
        self._marker = False
        b0 = self._byte()
        b1 = self._byte()
        self._c = (b0 << 8) | b1
        self._ct = 0
        self._a = 0x10000

    def _byte(self) -> int:
        if self._marker:
            return 0
        d = self._d
        if self.p >= len(d):
            self._marker = True
            return 0
        x = d[self.p]
        self.p += 1
        if x != 0xFF:
            return x
        while self.p < len(d) and d[self.p] == 0xFF:
            self.p += 1  # fill bytes (B.1.1.2)
        if self.p < len(d) and d[self.p] == 0x00:
            self.p += 1  # stuffed zero: the 0xFF was data
            return 0xFF
        self._marker = True  # marker reached: zero-feed from now on
        self.p -= 1  # leave p AT the marker's 0xFF for the caller
        return 0

    def decode(self, bank: bytearray, mps: bytearray, idx: int) -> int:
        qe, nlps, nmps, sw = _JPEG_ARITAB[bank[idx]]
        m = mps[idx]
        temp = self._a - qe
        if self._c >= (temp << self._ct):
            # code value in the TOP sub-interval
            self._c -= temp << self._ct
            if temp < qe:  # conditional exchange: top codes MPS
                d = m
                bank[idx] = nmps
            else:
                d = m ^ 1
                bank[idx] = nlps
                if sw:
                    mps[idx] = m ^ 1
            self._a = qe
        else:
            self._a = temp
            if temp >= 0x8000:
                return m  # short MPS path: no renorm, no adaptation
            if temp < qe:  # conditional exchange: bottom codes LPS
                d = m ^ 1
                bank[idx] = nlps
                if sw:
                    mps[idx] = m ^ 1
            else:
                d = m
                bank[idx] = nmps
        while self._a < 0x8000:
            self._a <<= 1
            self._ct -= 1
            if self._ct < 0:
                self._c = (self._c << 8) | self._byte()
                self._ct += 8
        return d


def _jpeg_arith_stats():
    """Fresh per-scan statistics: 4 DC banks (64 contexts), 4 AC banks
    (256 contexts), and the fixed non-adaptive bin (state 113)."""
    dc = [(bytearray(64), bytearray(64)) for _ in range(4)]
    ac = [(bytearray(256), bytearray(256)) for _ in range(4)]
    fixed = (bytearray([113]), bytearray(1))
    return dc, ac, fixed


def _jpeg_arith_decode_dc(dec, bank, mps, dc_ctx, ci, L, U):
    """T.81 F.2.4.1: one DC difference (also updates the conditioning
    category for the next block of this component)."""
    st = dc_ctx[ci]
    if dec.decode(bank, mps, st) == 0:
        dc_ctx[ci] = 0
        return 0
    sign = dec.decode(bank, mps, st + 1)
    m = dec.decode(bank, mps, st + 2 + sign)
    if m:
        xi = 20
        while dec.decode(bank, mps, xi):
            m <<= 1
            xi += 1
            if m >= 0x8000:
                raise ValueError("corrupt arithmetic DC magnitude")
        v = m
        mi = xi + 14
        mm = m
        while mm > 1:
            mm >>= 1
            if dec.decode(bank, mps, mi):
                v |= mm
    else:
        v = 0
    if m < ((1 << L) >> 1):
        dc_ctx[ci] = 0
    elif m > ((1 << U) >> 1):
        dc_ctx[ci] = 12 + sign * 4
    else:
        dc_ctx[ci] = 4 + sign * 4
    v += 1
    return -v if sign else v


def _jpeg_arith_decode_ac(dec, bank, mps, fixed, coeff, Kx):
    """T.81 F.2.4.2: the 63 AC coefficients of one block into ``coeff``
    (natural order via the zigzag map)."""
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(bank, mps, st):
            break  # end-of-block
        while dec.decode(bank, mps, st + 1) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("corrupt arithmetic AC run")
        sign = dec.decode(fixed[0], fixed[1], 0)
        st += 2
        m = dec.decode(bank, mps, st)
        if m and dec.decode(bank, mps, st):
            m <<= 1
            st = _JPEG_ARITH_AC_X2_LO if k <= Kx else _JPEG_ARITH_AC_X2_HI
            while dec.decode(bank, mps, st):
                m <<= 1
                st += 1
                if m >= 0x8000:
                    raise ValueError("corrupt arithmetic AC magnitude")
        v = m
        mi = st + 14
        mm = m
        while mm > 1:
            mm >>= 1
            if dec.decode(bank, mps, mi):
                v |= mm
        v += 1
        coeff[_JPEG_ZIGZAG[k]] = -v if sign else v
        k += 1


def _jpeg_arith_scan(b, i, seg, frame, qt, dac_dc, dac_ac, restart):
    """Sequential arithmetic-coded scan (SOF9): MCU loop mirroring the
    baseline-Huffman path with the QM decoder + Annex F models, into
    the shared dequant → IDCT → assemble pipeline."""
    import numpy as np

    ns = seg[0]
    scan = {}
    for k in range(ns):
        cs, tt = seg[1 + 2 * k], seg[2 + 2 * k]
        scan[cs] = (tt >> 4, tt & 15)
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    C = _jpeg_dct_matrix()
    planes = [
        np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64) for c in comps
    ]
    dc_stats, ac_stats, fixed = _jpeg_arith_stats()
    dec = _JpegArithDecoder(b, i)
    pred = [0] * len(comps)
    dc_ctx = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                # restart marker: re-init registers AND statistics.
                # Bounded scan (r8 ADVICE): a truncated stream must
                # raise the decoder's documented ValueError, not an
                # IndexError from running off the buffer.
                p = dec.p
                while p + 1 < len(b) and not (
                    b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7
                ):
                    p += 1
                if p + 1 >= len(b):
                    raise ValueError("missing restart marker")
                dc_stats, ac_stats, fixed = _jpeg_arith_stats()
                dec = _JpegArithDecoder(b, p + 2)
                pred = [0] * len(comps)
                dc_ctx = [0] * len(comps)
            mcu_count += 1
            for ci, c in enumerate(comps):
                dtbl, atbl = scan[c["id"]]
                L, U = dac_dc.get(dtbl, (0, 1))
                Kx = dac_ac.get(atbl, 5)
                dbank, dmps = dc_stats[dtbl]
                abank, amps = ac_stats[atbl]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coeff = np.zeros(64, dtype=np.int64)
                        pred[ci] += _jpeg_arith_decode_dc(
                            dec, dbank, dmps, dc_ctx, ci, L, U
                        )
                        coeff[0] = pred[ci]
                        _jpeg_arith_decode_ac(dec, abank, amps, fixed, coeff, Kx)
                        blk = (coeff * q).reshape(8, 8).astype(np.float64)
                        sp = C.T @ blk @ C + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = sp
    return _jpeg_color_assemble(planes, comps, w, h, hmax, vmax)


class _JpegArithEncoder:
    """T.81 D.1 QM arithmetic encoder — exact dual of the decoder's
    register convention: the code base accumulates as a left-shifting
    integer, with settled high bytes drained incrementally into a byte
    buffer (r8 ADVICE: an unbounded accumulator made each operation
    O(bits emitted) and total encode cost O(n^2); draining keeps the
    live integer under _DRAIN_BITS so cost is O(n) in entropy-stream
    length). A carry out of the live window ripples into the drained
    buffer — the classic byte-out ripple, amortized O(1) because each
    rippled 0xFF becomes 0x00 — and the interval invariant
    base < 2^total_bits means the ripple can never run off the front.
    Carry propagation within the live window and byte stuffing still
    reduce to plain integer arithmetic + one serialization at flush.
    """

    #: live-window bit ceiling: drain above this, keep _KEEP_BITS live
    _DRAIN_BITS = 2048
    _KEEP_BITS = 64

    def __init__(self):
        self._base = 0
        self._width = 16  # bit-width of the live window (base < 2^width + carry)
        self._buf = bytearray()  # drained, unstuffed high bytes
        self._a = 0x10000

    def code(self, bank: bytearray, mps: bytearray, idx: int, d: int) -> None:
        qe, nlps, nmps, sw = _JPEG_ARITAB[bank[idx]]
        m = mps[idx]
        temp = self._a - qe
        if d == m:
            if temp >= 0x8000:
                self._a = temp
                return  # short MPS path: no renorm, no adaptation
            if temp < qe:  # conditional exchange: MPS takes the TOP interval
                self._base += temp
                self._a = qe
            else:
                self._a = temp
            bank[idx] = nmps
        else:
            if temp < qe:  # conditional exchange: LPS takes the BOTTOM
                self._a = temp
            else:
                self._base += temp
                self._a = qe
            bank[idx] = nlps
            if sw:
                mps[idx] = m ^ 1
        while self._a < 0x8000:
            self._a <<= 1
            self._base <<= 1
            self._width += 1
        if self._width >= self._DRAIN_BITS:
            self._drain()

    def _carry_out(self) -> None:
        """Fold any carry bits above the live window into the drained
        buffer (ripple increment; cannot run off the front because the
        code point stays below 2^total_bits by the interval invariant)."""
        carry = self._base >> self._width
        if not carry:
            return
        self._base &= (1 << self._width) - 1
        i = len(self._buf) - 1
        while carry and i >= 0:
            v = self._buf[i] + carry
            self._buf[i] = v & 0xFF
            carry = v >> 8
            i -= 1

    def _drain(self) -> None:
        self._carry_out()
        drop = self._width - self._KEEP_BITS
        drop -= drop % 8
        if drop <= 0:
            return
        keep = self._width - drop
        self._buf += (self._base >> keep).to_bytes(drop // 8, "big")
        self._base &= (1 << keep) - 1
        self._width = keep

    def flush(self) -> bytes:
        """Serialize the accumulated code point (the interval base is
        itself a valid code value), byte-stuff 0xFF, drop value-free
        trailing zero bytes (the decoder zero-feeds past the marker)."""
        self._carry_out()
        pad = (-self._width) % 8
        raw = bytes(self._buf) + (self._base << pad).to_bytes(
            (self._width + pad) // 8, "big"
        )
        raw = raw.rstrip(b"\x00") or b"\x00"
        out = bytearray()
        for x in raw:
            out.append(x)
            if x == 0xFF:
                out.append(0x00)
        return bytes(out)


def encode_jpeg_arith(width: int, height: int, rgb: bytes) -> bytes:
    """Arithmetic-coded sequential JPEG encoder (SOF9, 4:4:4, quality
    75): the same color transform / DCT / quantization as
    ``encode_jpeg``, with the Annex D QM-coder + Annex F models as the
    entropy layer — so baseline, progressive, and arithmetic streams
    of one image decode to BIT-IDENTICAL pixels (the
    q_multimodal_jpeg_arith equivalence gate). Conditioning is the
    default (L=0, U=1, Kx=5), declared in an explicit DAC segment."""
    import numpy as np

    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    y = 0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    cb = -0.168736 * arr[:, :, 0] - 0.331264 * arr[:, :, 1] + 0.5 * arr[:, :, 2] + 128.0
    cr = 0.5 * arr[:, :, 0] - 0.418688 * arr[:, :, 1] - 0.081312 * arr[:, :, 2] + 128.0
    ql, qc = _jpeg_quant_tables(_JPEG_QUALITY)
    C = _jpeg_dct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    bh, bwid = -(-height // 8), -(-width // 8)
    pad_h, pad_w = bh * 8, bwid * 8
    planes = []
    for p in (y, cb, cr):
        pp = np.empty((pad_h, pad_w), dtype=np.float64)
        pp[:height, :width] = p
        pp[height:, :width] = p[-1:, :]
        pp[:, width:] = pp[:, width - 1 : width]
        planes.append(pp)
    enc = _JpegArithEncoder()
    dc_stats, ac_stats, fixed = _jpeg_arith_stats()
    pred = [0, 0, 0]
    dc_ctx = [0, 0, 0]
    L, U, Kx = 0, 1, 5
    for by in range(bh):
        for bx in range(bwid):
            for ci, p in enumerate(planes):
                tbl = 0 if ci == 0 else 1
                dbank, dmps = dc_stats[tbl]
                abank, amps = ac_stats[tbl]
                q = ql if ci == 0 else qc
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coeff = C @ blk @ C.T
                qz = np.round(coeff.reshape(64) / q.astype(np.float64)).astype(np.int64)
                zig = qz[zz]
                # ---- DC (F.1.4.1/F.1.4.4.1) ----
                diff = int(zig[0]) - pred[ci]
                pred[ci] = int(zig[0])
                st = dc_ctx[ci]
                if diff == 0:
                    enc.code(dbank, dmps, st, 0)
                    dc_ctx[ci] = 0
                else:
                    enc.code(dbank, dmps, st, 1)
                    sign = 1 if diff < 0 else 0
                    enc.code(dbank, dmps, st + 1, sign)
                    sz = (-diff if sign else diff) - 1
                    if sz == 0:
                        enc.code(dbank, dmps, st + 2 + sign, 0)
                        m = 0
                    else:
                        enc.code(dbank, dmps, st + 2 + sign, 1)
                        m = 1
                        xi = 20
                        while sz >= (m << 1):
                            enc.code(dbank, dmps, xi, 1)
                            m <<= 1
                            xi += 1
                        enc.code(dbank, dmps, xi, 0)
                        mi = xi + 14
                        mm = m
                        while mm > 1:
                            mm >>= 1
                            enc.code(dbank, dmps, mi, 1 if sz & mm else 0)
                    if m < ((1 << L) >> 1):
                        dc_ctx[ci] = 0
                    elif m > ((1 << U) >> 1):
                        dc_ctx[ci] = 12 + sign * 4
                    else:
                        dc_ctx[ci] = 4 + sign * 4
                # ---- AC (F.1.4.2/F.1.4.4.2) ----
                last_nz = int(np.max(np.nonzero(zig)[0])) if np.any(zig[1:]) else 0
                k = 1
                while k <= last_nz:
                    st = 3 * (k - 1)
                    enc.code(abank, amps, st, 0)  # not EOB
                    while int(zig[k]) == 0:
                        enc.code(abank, amps, st + 1, 0)
                        st += 3
                        k += 1
                    enc.code(abank, amps, st + 1, 1)
                    v = int(zig[k])
                    sign = 1 if v < 0 else 0
                    enc.code(fixed[0], fixed[1], 0, sign)
                    sz = (-v if sign else v) - 1
                    st += 2
                    if sz == 0:
                        enc.code(abank, amps, st, 0)
                        m = 0
                    else:
                        enc.code(abank, amps, st, 1)
                        if sz == 1:
                            enc.code(abank, amps, st, 0)
                            m = 1
                        else:
                            enc.code(abank, amps, st, 1)
                            m = 2
                            st = _JPEG_ARITH_AC_X2_LO if k <= Kx else _JPEG_ARITH_AC_X2_HI
                            while sz >= (m << 1):
                                enc.code(abank, amps, st, 1)
                                m <<= 1
                                st += 1
                            enc.code(abank, amps, st, 0)
                        mi = st + 14
                        mm = m
                        while mm > 1:
                            mm >>= 1
                            enc.code(abank, amps, mi, 1 if sz & mm else 0)
                    k += 1
                if last_nz < 63:
                    enc.code(abank, amps, 3 * (k - 1), 1)  # EOB
    body = enc.flush()
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in ((0, ql), (1, qc)):
        out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([tq])
        out += bytes(int(q[zz[k]]) for k in range(64))
    out += b"\xff\xc9" + (17).to_bytes(2, "big") + b"\x08"
    out += height.to_bytes(2, "big") + width.to_bytes(2, "big") + b"\x03"
    out += bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    # DAC: default conditioning, declared explicitly (T.81 B.2.4.3)
    out += b"\xff\xcc" + (10).to_bytes(2, "big")
    out += bytes([0x00, 0x10, 0x10, 0x05, 0x01, 0x10, 0x11, 0x05])
    out += b"\xff\xda" + (12).to_bytes(2, "big") + b"\x03"
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
    out += body
    out += b"\xff\xd9"
    return bytes(out)

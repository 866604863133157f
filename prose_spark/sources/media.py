"""Deterministic synthetic media corpus for driver/bench surfaces.

The sf documents tables are text-only, so the multimodal operators
(`prose_spark.operators.multimodal`) had no driver-facing input until
this module: it generates seeded image and audio blobs with tiny
dependency-free ENCODERS (PNG via stdlib zlib, BMP BI_RGB, netpbm P6,
lossless WebP/VP8L, RIFF/WAV PCM16 and IMA ADPCM) whose output the
REAL decoders consume (``fake=False``)
— the same discipline as sources/pages.py (seeded, reproducible on any
machine, no external data).

Encoders live here rather than in tests/ because the driver contract
(`__spark_entry__.queries()`) imports product code only. They are
deliberately minimal single-variant writers — the decode-side torture
coverage (interlacing, subsampling, RLE edge cases, real third-party
files) stays in tests/.

Reference parity note: tsawler/prose has no media layer; this is part of
the LLM-training-pipeline surface the brief adds on top (multimodal
columns as opaque binary + typed metadata).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "encode_png",
    "encode_bmp",
    "encode_ppm",
    "encode_gif",
    "encode_tiff",
    "encode_webp_lossless",
    "encode_wav_pcm16",
    "encode_wav_ima_adpcm",
    "encode_wav_ms_adpcm",
    "generate_image_rows",
    "generate_audio_rows",
    "write_media_parquet",
]


def encode_png(img: np.ndarray) -> bytes:
    """Minimal PNG writer: 8-bit RGB, non-interlaced, filter 0 rows,
    one zlib IDAT."""
    h, w, _ = img.shape

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + img[y].astype(np.uint8).tobytes() for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def encode_bmp(img: np.ndarray) -> bytes:
    """Minimal BMP writer: 24-bit BI_RGB, bottom-up, 4-byte row pad."""
    h, w, _ = img.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += img[y, :, ::-1].astype(np.uint8).tobytes()  # RGB->BGR
        body += b"\x00" * pad
    data_off = 14 + 40
    header = (
        b"BM"
        + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    )
    return header + bytes(body)


def encode_ppm(img: np.ndarray) -> bytes:
    """netpbm P6 (binary RGB, maxval 255)."""
    h, w, _ = img.shape
    return (f"P6\n{w} {h}\n255\n".encode("ascii")
            + img.astype(np.uint8).tobytes())


def encode_gif(img: np.ndarray) -> bytes:
    """Minimal GIF89a writer: single frame, 256-entry global color
    table (web-safe 6x6x6 cube quantization — GIF is palettized, so
    unlike the lossless formats this encoder is lossy by construction
    and the per-row feature goldens simply pin its output), and a
    spec-valid LITERAL LZW stream: after each clear code every pixel
    index is emitted as its own 9-bit literal, with a fresh clear
    before the table would force a width bump — the single-variant
    discipline of this module; the real compress-style LZW encoder
    (dictionary growth, width changes) lives in tests/test_gif_bmp.py
    and torture-tests the same decoder."""
    h, w, _ = img.shape
    # 6-level/channel quantization: index = 36r + 6g + b, levels 0..5
    q = (img.astype(np.uint16) // 43).astype(np.uint8)
    idx = (q[:, :, 0] * 36 + q[:, :, 1] * 6 + q[:, :, 2]).reshape(-1)
    palette = bytearray()
    for r in range(6):
        for g in range(6):
            for b in range(6):
                palette += bytes((r * 51, g * 51, b * 51))
    palette += b"\x00" * (3 * (256 - 216))
    # LZW min code size 8: clear=256, end=257, codes start 9-bit. Each
    # literal grows the table by one entry (258, 259, ...); clearing
    # after 253 literals keeps every code below 512, so the width
    # never leaves 9 bits.
    bits = bytearray()

    def put(code: int) -> None:
        for i in range(9):
            bits.append((code >> i) & 1)

    put(256)
    for i, px in enumerate(idx):
        if i and i % 253 == 0:
            put(256)
        put(int(px))
    put(257)
    stream = bytearray((len(bits) + 7) // 8)
    for i, bit in enumerate(bits):
        stream[i >> 3] |= bit << (i & 7)
    blocks = bytearray()
    for off in range(0, len(stream), 255):
        part = stream[off:off + 255]
        blocks += bytes((len(part),)) + part
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
        + bytes(palette)
        + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + b"\x08" + bytes(blocks) + b"\x00"
        + b"\x3B"
    )


def encode_tiff(img: np.ndarray) -> bytes:
    """Minimal TIFF writer: little-endian, 8-bit RGB, uncompressed,
    one strip. Required-tag set only (width/length/bits/compression/
    photometric/strip offset+count/samples/rows-per-strip)."""
    h, w, _ = img.shape
    strip = img.astype(np.uint8).tobytes()
    # layout: 8-byte header | strip | BitsPerSample array | IFD
    strip_off = 8
    bps_off = strip_off + len(strip)
    ifd_off = bps_off + 6

    def entry(tag: int, typ: int, cnt: int, val: int) -> bytes:
        return struct.pack("<HHII", tag, typ, cnt, val)

    entries = [
        entry(256, 4, 1, w),            # ImageWidth
        entry(257, 4, 1, h),            # ImageLength
        entry(258, 3, 3, bps_off),      # BitsPerSample -> [8,8,8]
        entry(259, 3, 1, 1),            # Compression: none
        entry(262, 3, 1, 2),            # Photometric: RGB
        entry(273, 4, 1, strip_off),    # StripOffsets
        entry(277, 3, 1, 3),            # SamplesPerPixel
        entry(278, 4, 1, h),            # RowsPerStrip
        entry(279, 4, 1, len(strip)),   # StripByteCounts
    ]
    ifd = (struct.pack("<H", len(entries)) + b"".join(entries)
           + struct.pack("<I", 0))
    return (b"II" + struct.pack("<HI", 42, ifd_off)
            + strip + struct.pack("<HHH", 8, 8, 8) + ifd)


def encode_webp_lossless(img: np.ndarray) -> bytes:
    """Minimal lossless WebP (VP8L) writer: literal ARGB pixels under
    fixed-shape prefix codes — every 8-bit channel symbol gets code
    length 8, so the canonical code is the identity and each pixel is
    written as its four raw bytes MSB-first. Complete-by-construction
    (256 * 2^-8 == 1), no transforms, no LZ77, no color cache: the
    single-variant discipline of this module; real compression paths
    are exercised by tests/test_webp.py's torture encoder."""
    h, w, _ = img.shape
    bits = bytearray()

    def put(v: int, n: int) -> None:
        for i in range(n):
            bits.append((v >> i) & 1)

    def put_code8(alphabet_extra: int) -> None:
        """One normal-form prefix code: symbols 0..255 at length 8,
        `alphabet_extra` trailing symbols at length 0."""
        put(0, 1)                      # normal (not simple) code
        # code-length code: symbol 8 -> 1 bit (and symbol 0 -> 1 bit
        # when zero-length tails must be written); order index of
        # symbol 8 is 11, so 12 3-bit slots cover it
        put(12 - 4, 4)
        order = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8)
        for sym in order:
            if sym == 8 or (sym == 0 and alphabet_extra):
                put(1, 3)
            else:
                put(0, 3)
        put(0, 1)                      # no max_symbol cap
        if alphabet_extra:
            # cl canonical: the smaller symbol (0) takes code 0, so
            # length-8 entries are bit 1 and length-0 tails bit 0
            for _ in range(256):
                put(1, 1)
            for _ in range(alphabet_extra):
                put(0, 1)
        # single-cl-symbol case: zero bits per symbol, nothing to write

    put(0x2F, 8)
    put(w - 1, 14)
    put(h - 1, 14)
    put(0, 1)                          # alpha hint
    put(0, 3)                          # version
    put(0, 1)                          # no transforms
    put(0, 1)                          # no color cache
    put(0, 1)                          # no meta prefix image
    put_code8(24)                      # green (+24 unused length syms)
    for _ in range(3):                 # red, blue, alpha
        put_code8(0)
    put(1, 1)                          # distance: simple code
    put(0, 1)                          # one symbol
    put(0, 1)                          # 1-bit symbol form
    put(0, 1)                          # symbol 0 (never used)
    px = img.astype(np.uint8)
    for y in range(h):
        for x in range(w):
            r, g, b = int(px[y, x, 0]), int(px[y, x, 1]), int(px[y, x, 2])
            for byte in (g, r, b, 255):    # G, R, B, A channel order
                for i in range(7, -1, -1):  # canonical code MSB-first
                    bits.append((byte >> i) & 1)
    payload = bytearray((len(bits) + 7) // 8)
    for i, bit in enumerate(bits):
        payload[i >> 3] |= bit << (i & 7)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + bytes(payload)
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def encode_wav_pcm16(x: np.ndarray, sr: int) -> bytes:
    """RIFF/WAV writer: mono 16-bit PCM. ``x`` is float in [-1, 1]."""
    pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def encode_wav_ima_adpcm(x: np.ndarray, sr: int,
                         block_align: int = 256) -> bytes:
    """RIFF/WAV writer: mono IMA/DVI ADPCM (format tag 17), blocks per
    the IMA rev 3.00 layout — 4-byte header (int16 first sample, uint8
    step index) + LOW-nibble-first 4-bit codes. The per-block step
    index seeds near the block's mean slope (what real encoders do).
    ``x`` is float in [-1, 1]. Independent of the decoder under test —
    this is the corpus PRODUCT side, mirrored from the spec."""
    from prose_spark.operators.multimodal import (
        _IMA_INDEX_TABLE, _IMA_STEP_TABLE)

    pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype(np.int64)
    spb = (block_align - 4) * 2 + 1
    n = (len(pcm) // spb) * spb
    pcm = pcm[:n]
    out = bytearray()
    for b0 in range(0, n, spb):
        block = pcm[b0:b0 + spb]
        slope = float(np.mean(np.abs(np.diff(block)))) if len(block) > 1 else 7.0
        idx = int(np.argmin(np.abs(_IMA_STEP_TABLE - slope)))
        pred = int(block[0])
        out += struct.pack("<hBB", pred, idx, 0)
        nibs = []
        for s in block[1:]:
            step = int(_IMA_STEP_TABLE[idx])
            diff = int(s) - pred
            nb = 0
            if diff < 0:
                nb = 8
                diff = -diff
            if diff >= step:
                nb |= 4
                diff -= step
            if diff >= step >> 1:
                nb |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nb |= 1
            vpdiff = step >> 3
            if nb & 4:
                vpdiff += step
            if nb & 2:
                vpdiff += step >> 1
            if nb & 1:
                vpdiff += step >> 2
            pred = pred - vpdiff if nb & 8 else pred + vpdiff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + int(_IMA_INDEX_TABLE[nb & 7])))
            nibs.append(nb)
        for i in range(0, len(nibs), 2):
            out.append(nibs[i] | ((nibs[i + 1] if i + 1 < len(nibs)
                                   else 0) << 4))
    fmt = struct.pack("<HHIIHHH", 17, 1, sr, sr, block_align, 4, 0)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<II", 4, n)
            + b"data" + struct.pack("<I", len(out)) + bytes(out))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_ms_adpcm(x: np.ndarray, sr: int,
                        block_align: int = 256) -> bytes:
    """RIFF/WAV writer: mono MS ADPCM (format tag 2), fixed predictor
    0 (coefs 256/0 — the single-variant discipline; the decoder's full
    7-predictor table is torture-tested in tests/test_wav_formats.py).
    Block layout per the spec: uint8 predictor, int16 initial delta,
    int16 sample1 (newer seed), int16 sample2, then 4-bit codes HIGH
    nibble first. The quantizer mirrors the published decode
    recurrence (signed code, delta adaptation table, >>8 shifts) in
    reverse; initial delta seeds from the block's mean slope.
    ``x`` is float in [-1, 1]."""
    adapt = (230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230)
    pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype(np.int64)
    spb = (block_align - 7) * 2 + 2
    n = (len(pcm) // spb) * spb
    pcm = pcm[:n]
    out = bytearray()
    for b0 in range(0, n, spb):
        block = pcm[b0:b0 + spb]
        d = max(16, int(np.mean(np.abs(np.diff(block))) / 4)
                if len(block) > 1 else 16)
        s2, s1 = int(block[0]), int(block[1])
        out += struct.pack("<Bhhh", 0, d, s1, s2)
        nibs = []
        for s in block[2:]:
            pred = (s1 * 256 + s2 * 0) >> 8
            code = max(-8, min(7, int(round((int(s) - pred) / d))))
            nib = code & 0xF
            samp = max(-32768, min(32767, pred + code * d))
            s2, s1 = s1, samp
            d = max((adapt[nib] * d) >> 8, 16)
            nibs.append(nib)
        for i in range(0, len(nibs), 2):
            out.append((nibs[i] << 4)
                       | (nibs[i + 1] if i + 1 < len(nibs) else 0))
    # standard MS ADPCM fmt extension: cbSize=32, wSamplesPerBlock,
    # wNumCoef=7, the 7 published coefficient pairs
    coefs = ((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
             (460, -208), (392, -232))
    extra = struct.pack("<HH", spb, 7) + b"".join(
        struct.pack("<hh", a, b) for a, b in coefs)
    fmt = struct.pack("<HHIIHHH", 2, 1, sr, sr, block_align, 4,
                      len(extra)) + extra
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<II", 4, n)
            + b"data" + struct.pack("<I", len(out)) + bytes(out))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _image_array(i: int, seed: int) -> np.ndarray:
    """Seeded HxWx3 uint8: a two-axis gradient + per-image noise, with
    per-index dimensions so width/height metadata is non-constant."""
    rng = np.random.RandomState(seed * 100_003 + i)
    w = 16 + (i % 5) * 4
    h = 12 + (i % 3) * 4
    gy = np.linspace(0, 255, h)[:, None]
    gx = np.linspace(0, 255, w)[None, :]
    base = np.stack(
        [gy + 0 * gx, 0 * gy + gx, (gy + gx) / 2], axis=2
    )
    noise = rng.randint(-20, 21, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


_IMAGE_ENCODERS = (
    ("png", encode_png),
    ("bmp", encode_bmp),
    ("ppm", encode_ppm),
    ("webp", encode_webp_lossless),
    ("gif", encode_gif),
    ("tiff", encode_tiff),
)


def generate_image_rows(n: int, seed: int = 42):
    """Yield (url, format_name, blob) — formats cycle png/bmp/ppm/
    webp/gif/tiff so one query exercises six real decoders (every
    native image family the corpus-side encoders can produce; the
    remaining netpbm variants are torture-tested in tests/ with their
    own encoders)."""
    for i in range(n):
        name, enc = _IMAGE_ENCODERS[i % len(_IMAGE_ENCODERS)]
        yield (f"media://img/{i:04d}.{name}", name,
               enc(_image_array(i, seed)))


def generate_audio_rows(n: int, seed: int = 42):
    """Yield (url, format_name, blob): mono WAV clips — a seeded sine
    (per-index frequency) plus noise, per-index duration. Every fourth
    clip is IMA-ADPCM-compressed (format tag 17) and every fourth is
    MS-ADPCM-compressed (format tag 2) so one query exercises the PCM
    path and both block-codec decode paths."""
    for i in range(n):
        rng = np.random.RandomState(seed * 200_003 + i)
        sr = 8000
        dur = 0.2 + (i % 3) * 0.1
        t = np.arange(int(sr * dur)) / sr
        freq = 180.0 + 37.0 * i
        x = np.clip(0.55 * np.sin(2 * np.pi * freq * t)
                    + 0.08 * rng.randn(len(t)), -1, 1)
        if i % 4 == 3:
            yield (f"media://wav/{i:04d}.adpcm.wav", "wav-ima-adpcm",
                   encode_wav_ima_adpcm(x, sr))
        elif i % 4 == 1:
            yield (f"media://wav/{i:04d}.ms.wav", "wav-ms-adpcm",
                   encode_wav_ms_adpcm(x, sr))
        else:
            yield (f"media://wav/{i:04d}.wav", "wav",
                   encode_wav_pcm16(x, sr))


def write_media_parquet(path: str, n_images: int, n_audio: int,
                        seed: int = 42) -> None:
    """Materialize the media corpus to parquet with pyarrow (no Spark
    involvement — the blobs provably come from the generator, the same
    independence argument as pages' oracle copy)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        {"url": u, "kind": "image", "fmt": f, "blob": b}
        for u, f, b in generate_image_rows(n_images, seed=seed)
    ] + [
        {"url": u, "kind": "audio", "fmt": f, "blob": b}
        for u, f, b in generate_audio_rows(n_audio, seed=seed)
    ]
    schema = pa.schema([
        ("url", pa.string()), ("kind", pa.string()),
        ("fmt", pa.string()), ("blob", pa.binary()),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)

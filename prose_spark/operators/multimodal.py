"""Multimodal column plumbing: image/audio as opaque binary columns
with typed metadata, processed by Arrow-batched mapInPandas stages.

Six image families and the WAV audio family decode FOR REAL with no
external dependency (stdlib + numpy only), each validated against
real-world files and/or ground-truth test-side encoders:

- PNG (``_decode_png``): 8-bit gray/gray+alpha/RGB/RGBA/palette,
  non-interlaced, all five scanline filters;
- GIF (``_decode_gif``): 87a/89a, full LZW (giflib width rule — no
  TIFF-style early change), interlacing, first frame;
- BMP (``_decode_bmp``): 8/24/32-bit BI_RGB + standard-mask
  BI_BITFIELDS;
- TIFF (``_decode_tiff``): 8-bit strips, uncompressed / PackBits /
  LZW (genuine early change + horizontal predictor), both byte
  orders — validated bit-identically against the PNG/BMP decodes of
  the same real-world image;
- WebP lossless (``_decode_webp`` / ``_decode_vp8l_stream``): VP8L
  streams incl. the ALPH chunk (``_decode_webp_alpha``);
- netpbm P1-P6 (``_decode_netpbm``);
- WAV (``decode_audio``): integer PCM (incl. sub-byte bit depths in
  their blockAlign container), IEEE float, G.711 A-law/mu-law,
  IMA ADPCM (``_decode_wav_ima_adpcm``), MS ADPCM
  (``_decode_wav_ms_adpcm``), WAVE_FORMAT_EXTENSIBLE; stereo
  downmix, FFT spectral features in ``_audio_features``.

These cover every image family the media corpus
(``sources.media.generate_image_rows``) produces. Every other format
(JPEG, lossy VP8 WebP, mp3/ogg/flac) is unsupported here:
``decode_image`` raises NotImplementedError unless ``fake=True``, in
which case a deterministic fake decoder (seeded by the content hash)
produces stable feature vectors so the Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape — is real and tested
end-to-end.

At 100 TB scale the relevant design points, all honored here:
- binary payloads stay OUT of shuffles: features are extracted in a
  map-only stage and only the (key, features, metadata) projection moves;
- `spark.sql.files.maxPartitionBytes` bounds scan partitions so a batch
  of blobs fits executor memory;
- per-batch decode amortizes library init (when a real decoder exists).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha1", T.StringType()),
    ]
)

IMAGE_FEATURES_TYPE = T.ArrayType(T.FloatType())
_FEATURE_DIM = 16


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# max decoded scanline bytes (~64MB ≈ a 21-megapixel RGB image)
_PNG_MAX_DECODED_BYTES = 64 << 20


def _decode_png(data: bytes, keep_alpha: bool = False) -> np.ndarray:
    """Dependency-free PNG decoder (stdlib zlib + numpy): 8-bit
    grayscale / gray+alpha / RGB / RGBA / palette, non-interlaced, all
    five scanline filters (None/Sub/Up/Average/Paeth). Returns HxWx3
    uint8 (alpha dropped, gray/palette expanded); ``keep_alpha`` keeps
    the RGBA plane for cross-format alpha checks (WebP ALPH tests).

    The Up filter defilters as one vectorized numpy add; Sub/Average/
    Paeth are sequential per scanline byte (the spec's recurrence) —
    correct and adequate for feature extraction here; a 100 TB media
    pipeline would swap in a C-backed decoder behind the same
    ``decode_image`` signature."""
    import struct
    import zlib

    pos = len(_PNG_SIG)
    ihdr = None
    idat: list[bytes] = []
    plte = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"PLTE":
            plte = chunk
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG bit depth {depth}/interlace {interlace} unsupported "
            "(8-bit non-interlaced only)"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"malformed PNG: color type {color}")
    stride = w * channels
    expected = h * (stride + 1)
    # decompression-bomb / runaway-dimension guard: same discipline as
    # the audio path's work cap — one hostile few-KB blob whose IDAT
    # expands to gigabytes (or a billion-pixel header) must not OOM an
    # executor. decompressobj(max_length) never allocates beyond the
    # declared scanline size.
    if expected > _PNG_MAX_DECODED_BYTES:
        raise NotImplementedError(
            f"PNG {w}x{h}x{channels} exceeds the "
            f"{_PNG_MAX_DECODED_BYTES >> 20}MB decode cap"
        )
    raw = zlib.decompressobj().decompress(b"".join(idat), expected)
    if len(raw) < expected:
        raise ValueError("malformed PNG: truncated scanline data")
    bpp = channels
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    rp = 0
    for y in range(h):
        ftype = raw[rp]
        cur = np.frombuffer(raw, dtype=np.uint8, count=stride,
                            offset=rp + 1).copy()
        rp += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 2:          # Up: uint8 add wraps mod 256
            cur += prev
        elif ftype == 1:          # Sub
            for i in range(bpp, stride):
                cur[i] = (int(cur[i]) + int(cur[i - bpp])) & 0xFF
        elif ftype == 3:          # Average
            for i in range(stride):
                left = int(cur[i - bpp]) if i >= bpp else 0
                cur[i] = (int(cur[i])
                          + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:          # Paeth
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc
                                                     else c)
                cur[i] = (int(cur[i]) + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, channels)
    if color == 2:
        return px
    if color == 6:
        if keep_alpha:
            return px.copy()
        return px[:, :, :3].copy()
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    # palette
    if plte is None:
        raise ValueError("malformed PNG: palette image without PLTE")
    pal = np.frombuffer(plte, dtype=np.uint8)
    pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
    return pal[px[:, :, 0]]


def _decode_bmp(data: bytes) -> np.ndarray:
    """Dependency-free BMP decoder: uncompressed (BI_RGB) 8-bit
    paletted / 24-bit / 32-bit, bottom-up or top-down rows, 4-byte row
    padding. RLE/bitfield compression raises NotImplementedError."""
    import struct

    if len(data) < 54:
        raise ValueError("malformed BMP: truncated header")
    if data[:2] != b"BM":
        raise ValueError("malformed BMP: missing BM signature")
    (pix_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise NotImplementedError("BMP core-header variant unsupported")
    w, h = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if compression == 3 and len(data) >= 66:
        # BI_BITFIELDS with the STANDARD BGRA masks is plain 32-bit
        # BGR(A) — the common case real encoders emit
        masks = struct.unpack("<III", data[54:66])
        if masks == (0x00FF0000, 0x0000FF00, 0x000000FF):
            compression = 0
    if compression != 0:
        raise NotImplementedError(
            f"BMP compression {compression} unsupported "
            "(BI_RGB / standard-mask BI_BITFIELDS only)")
    if bpp not in (8, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP unsupported")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError("malformed BMP: bad dimensions")
    if w * h * 3 > _PNG_MAX_DECODED_BYTES:
        raise NotImplementedError(
            f"BMP {w}x{h} exceeds the "
            f"{_PNG_MAX_DECODED_BYTES >> 20}MB decode cap")
    pal = None
    if bpp == 8:
        (ncolors,) = struct.unpack("<I", data[46:50])
        ncolors = ncolors or 256
        praw = data[14 + hdr_size:14 + hdr_size + 4 * ncolors]
        if len(praw) < 4 * ncolors:
            raise ValueError("malformed BMP: truncated palette")
        # BGRA entries
        pal = np.frombuffer(praw, dtype=np.uint8).reshape(-1, 4)[:, 2::-1]
    stride = ((w * bpp // 8) + 3) & ~3
    need = pix_off + stride * h
    if len(data) < need:
        raise ValueError("malformed BMP: truncated pixel data")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=pix_off
    ).reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("malformed BMP: palette index out of range")
        return pal[idx]
    px = rows[:, : w * (bpp // 8)].reshape(h, w, bpp // 8)
    return px[:, :, 2::-1].copy()  # BGR(A) -> RGB


def _gif_lzw_decode(data: bytes, min_code_size: int,
                    max_pixels: int) -> bytearray:
    """GIF LZW decompressor (LSB-first variable-width codes, clear/EOI
    handling, dictionary growth to 12 bits)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    buf = nbits = 0
    prev: bytes | None = None
    for byte in data:
        buf |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = buf & ((1 << code_size) - 1)
            buf >>= code_size
            nbits -= code_size
            if code == clear:
                table = table[: clear + 2]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError("malformed GIF: bad first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("malformed GIF: LZW code out of range")
            out += entry
            if len(out) > max_pixels:
                raise ValueError("malformed GIF: LZW output overrun")
            prev = entry
            # width grows when the table fills the current code size
            # (giflib's rule; "early change" is a TIFF quirk, NOT GIF —
            # verified against real-world GIFs, which fail to decode
            # under the 2^w - 1 variant)
            if len(table) >= (1 << code_size) and code_size < 12:
                code_size += 1
    return out


def _decode_gif(data: bytes) -> np.ndarray:
    """Dependency-free GIF87a/89a decoder: global/local color tables,
    interlacing, full LZW with dictionary growth; decodes the FIRST
    image frame (animation frames beyond it are ignored), transparency
    flattened onto the palette color."""
    import struct

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("malformed GIF: bad signature")
    if len(data) < 13:
        raise ValueError("malformed GIF: truncated header")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        if pos + 3 * n > len(data):
            raise ValueError("malformed GIF: truncated color table")
        gct = np.frombuffer(data, dtype=np.uint8, count=3 * n,
                            offset=pos).reshape(-1, 3)
        pos += 3 * n
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"malformed GIF: unknown block 0x{b0:02x}")
        x0, y0, w, h, iflags = struct.unpack("<HHHHB", data[pos + 1:pos + 10])
        pos += 10
        if w == 0 or h == 0:
            raise ValueError("malformed GIF: empty image descriptor")
        if w * h * 3 > _PNG_MAX_DECODED_BYTES:
            raise NotImplementedError(
                f"GIF {w}x{h} exceeds the "
                f"{_PNG_MAX_DECODED_BYTES >> 20}MB decode cap")
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            if pos + 3 * n > len(data):
                raise ValueError("malformed GIF: truncated color table")
            ct = np.frombuffer(data, dtype=np.uint8, count=3 * n,
                               offset=pos).reshape(-1, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("malformed GIF: no color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos]:
            ln = data[pos]
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _gif_lzw_decode(bytes(lzw), min_code, w * h)
        if len(idx) < w * h:
            raise ValueError("malformed GIF: short pixel data")
        grid = np.frombuffer(bytes(idx[: w * h]),
                             dtype=np.uint8).reshape(h, w)
        if iflags & 0x40:  # interlaced: 4-pass row order
            out_rows = np.empty((h, w), dtype=np.uint8)
            order = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
                     for r in range(start, h, step)]
            for src, dst in enumerate(order):
                out_rows[dst] = grid[src]
            grid = out_rows
        if int(grid.max(initial=0)) >= len(ct):
            raise ValueError("malformed GIF: palette index out of range")
        return ct[grid]
    raise ValueError("malformed GIF: no image data")


def _tiff_lzw_decode(data: bytes, max_out: int) -> bytearray:
    """TIFF LZW (spec 6.0 section 13): MSB-first variable-width codes
    and — unlike GIF — genuine 'early change': the width bumps one
    entry before the table fills."""
    CLEAR, EOI = 256, 257
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    code_size = 9
    buf = nbits = 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= code_size:
            code = (buf >> (nbits - code_size)) & ((1 << code_size) - 1)
            nbits -= code_size
            if code == CLEAR:
                table = table[:258]
                code_size = 9
                prev = None
                continue
            if code == EOI:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError("malformed TIFF: bad first LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("malformed TIFF: LZW code out of range")
            out += entry
            if len(out) > max_out:
                raise ValueError("malformed TIFF: LZW output overrun")
            prev = entry
            # TIFF early change: bump at 2^w - 1 (libtiff behavior)
            if len(table) >= (1 << code_size) - 1 and code_size < 12:
                code_size += 1
    return out


def _packbits_decode(data: bytes, max_out: int) -> bytearray:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < max_out:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                break
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return out


def _decode_tiff(data: bytes) -> np.ndarray:
    """Dependency-free baseline-TIFF decoder: 8-bit grayscale / RGB(A)
    / palette, strip-organized, uncompressed / PackBits / LZW (with
    the optional horizontal predictor), II and MM byte orders, first
    IFD. Tiled, 16-bit, CMYK, and JPEG-in-TIFF variants raise
    honestly."""
    import struct

    if data[:2] not in (b"II", b"MM") or len(data) < 8:
        raise ValueError("malformed TIFF: bad header")
    bo = "<" if data[:2] == b"II" else ">"
    (magic,) = struct.unpack(bo + "H", data[2:4])
    if magic != 42:
        raise ValueError("malformed TIFF: bad magic")
    (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("malformed TIFF: truncated IFD")
    (n_ent,) = struct.unpack(bo + "H", data[ifd_off:ifd_off + 2])
    _TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}

    def read_values(typ, cnt, raw):
        if typ == 3:
            fmtc, sz = "H", 2
        elif typ == 4:
            fmtc, sz = "I", 4
        elif typ == 1:
            fmtc, sz = "B", 1
        else:
            return None
        total = sz * cnt
        src = raw[:4] if total <= 4 else None
        if src is None:
            (off,) = struct.unpack(bo + "I", raw[:4])
            src = data[off:off + total]
        if len(src) < total:
            raise ValueError("malformed TIFF: truncated tag data")
        return list(struct.unpack(bo + str(cnt) + fmtc, src[:total]))

    tags: dict[int, list] = {}
    for i in range(n_ent):
        e = data[ifd_off + 2 + 12 * i:ifd_off + 14 + 12 * i]
        if len(e) < 12:
            raise ValueError("malformed TIFF: truncated IFD entry")
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        vals = read_values(typ, cnt, e[8:12])
        if vals is not None:
            tags[tag] = vals

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    w, h = one(256), one(257)
    if not w or not h:
        raise ValueError("malformed TIFF: missing dimensions")
    comp = one(259, 1)
    photometric = one(262, 1)
    spp = one(277, 1)
    bps = tags.get(258, [8] * spp)
    rows_per_strip = one(278, h)
    offsets = tags.get(273)
    counts = tags.get(279)
    if offsets is None or counts is None:
        raise ValueError("malformed TIFF: missing strip layout")
    if any(b != 8 for b in bps):
        raise NotImplementedError(
            f"{bps[0]}-bit TIFF unsupported (8-bit samples only)")
    if comp not in (1, 5, 32773):
        raise NotImplementedError(
            f"TIFF compression {comp} unsupported "
            "(uncompressed/LZW/PackBits only)")
    if photometric not in (0, 1, 2, 3):
        raise NotImplementedError(
            f"TIFF photometric {photometric} (CMYK/YCbCr) unsupported")
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF unsupported (strips only)")
    if tags.get(284, [1])[0] != 1:
        raise NotImplementedError(
            "planar-configuration TIFF unsupported (chunky only)")
    if spp < 1 or spp > 4:
        raise NotImplementedError(
            f"{spp}-sample TIFF unsupported (1-4 samples/pixel)")
    # cap sized on the FULL decode buffer (h*w*spp), not the output —
    # a small LZW strip can legally expand to the declared size
    if w * h * max(spp, 3) > _PNG_MAX_DECODED_BYTES:
        raise NotImplementedError(
            f"TIFF {w}x{h}x{spp} exceeds the "
            f"{_PNG_MAX_DECODED_BYTES >> 20}MB decode cap")
    predictor = one(317, 1)
    stride = w * spp
    raw = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        chunk = data[off:off + cnt]
        if len(chunk) < cnt:
            raise ValueError("malformed TIFF: truncated strip")
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        need = n_rows * stride
        if comp == 1:
            out = chunk[:need]
        elif comp == 5:
            out = _tiff_lzw_decode(chunk, need)
        else:
            out = _packbits_decode(chunk, need)
        if len(out) < need:
            raise ValueError("malformed TIFF: short strip data")
        raw += out[:need]
    px = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, w, spp)
    if predictor == 2:
        px = np.cumsum(px.astype(np.int64), axis=1).astype(np.uint8)
    elif predictor != 1:
        raise NotImplementedError(f"TIFF predictor {predictor} unsupported")
    if photometric == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * 256:
            raise ValueError("malformed TIFF: palette image without map")
        # 16-bit color map entries, R/G/B planes
        pal = (np.array(cmap[: 3 * 256]).reshape(3, 256).T // 257
               ).astype(np.uint8)
        return pal[px[:, :, 0]]
    if photometric in (0, 1):
        g = px[:, :, 0]
        if photometric == 0:  # WhiteIsZero
            g = 255 - g
        return np.repeat(g[:, :, None], 3, axis=2)
    return px[:, :, :3].copy()  # RGB(A): alpha dropped


def _decode_netpbm(data: bytes) -> np.ndarray:
    """Dependency-free netpbm decoder: binary P4 (bitmap) / P5
    (graymap) / P6 (pixmap) and their ASCII twins P1/P2/P3, maxval
    <= 255 (P5/P6) with comment handling."""
    if len(data) < 2 or data[0:1] != b"P" or data[1:2] not in b"123456":
        raise ValueError("malformed netpbm: bad magic")
    kind = int(chr(data[1]))
    pos = 2

    def next_token():
        nonlocal pos
        while pos < len(data):
            c = data[pos]
            if c in b"#":
                while pos < len(data) and data[pos] not in b"\n":
                    pos += 1
            elif c in b" \t\r\n":
                pos += 1
            else:
                break
        start = pos
        while pos < len(data) and data[pos] not in b" \t\r\n#":
            pos += 1
        if start == pos:
            raise ValueError("malformed netpbm: truncated header")
        return int(data[start:pos])

    w = next_token()
    h = next_token()
    if w < 1 or h < 1:
        raise ValueError("malformed netpbm: bad dimensions")
    if w * h * 3 > _PNG_MAX_DECODED_BYTES:
        raise NotImplementedError(
            f"netpbm {w}x{h} exceeds the "
            f"{_PNG_MAX_DECODED_BYTES >> 20}MB decode cap")
    maxval = 1 if kind in (1, 4) else next_token()
    if not 1 <= maxval <= 255:
        raise NotImplementedError(
            f"netpbm maxval {maxval} unsupported (8-bit only)")
    if kind in (4, 5, 6):
        pos += 1  # single whitespace after the header
        body = data[pos:]
        if kind == 4:
            stride = (w + 7) // 8
            if len(body) < stride * h:
                raise ValueError("malformed netpbm: short pixel data")
            bits = np.unpackbits(
                np.frombuffer(body, np.uint8, count=stride * h)
                .reshape(h, stride), axis=1)[:, :w]
            g = (1 - bits) * 255  # PBM: 1 = black
            return np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)
        n = w * h * (3 if kind == 6 else 1)
        if len(body) < n:
            raise ValueError("malformed netpbm: short pixel data")
        px = np.frombuffer(body, np.uint8, count=n)
    elif kind == 1:
        # ASCII bitmap digits may be packed without separators
        bits = [c - 48 for c in data[pos:] if c in (48, 49)]
        if len(bits) < w * h:
            raise ValueError("malformed netpbm: short pixel data")
        px = (1 - np.array(bits[: w * h], dtype=np.int64)) * maxval
    else:
        n = w * h * (3 if kind == 3 else 1)
        vals = []
        while len(vals) < n:
            vals.append(next_token())
        px = np.array(vals, dtype=np.int64)
    if maxval != 255:
        px = (px.astype(np.int64) * 255) // maxval
    px = px.astype(np.uint8)
    if kind in (3, 6):
        return px.reshape(h, w, 3).copy()
    return np.repeat(px.reshape(h, w)[:, :, None], 3, axis=2)


# ---------------------------------------------------------------------------
# WebP lossless (VP8L) — implemented from the public WebP Lossless
# Bitstream Specification (RFC 9649). Covers the VP8L chunk (full
# lossless images: all four transforms, color cache, meta-prefix
# images, LZ77 backward references) and VP8L-compressed ALPH chunks
# (the headerless variant the container spec defines for lossless
# alpha planes). Lossy VP8 luma/chroma stays an honest stub — it needs
# a full VP8 intra-frame codec.
# ---------------------------------------------------------------------------

# prefix-code-length code symbol order (RFC 9649 5.2.2)
_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10,
                  11, 12, 13, 14, 15)


def _vp8l_distance_map():
    """The 120-entry short-distance neighborhood map (RFC 9649 4.2.2):
    all (dx, dy) offsets with dy==0, dx 1..8 or dy 1..7, dx -7..8,
    ordered by squared euclidean distance, ties by descending dy with
    positive dx before negative."""
    cands = [(dx, 0) for dx in range(1, 9)] + \
        [(dx, dy) for dy in range(1, 8) for dx in range(-7, 9)]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1],
                              0 if p[0] > 0 else 1))
    return cands


_VP8L_DIST_MAP = _vp8l_distance_map()


class _VP8LBits:
    """LSB-first bit reader (RFC 9649 5.1)."""

    __slots__ = ("d", "pos")

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0

    def read(self, n: int) -> int:
        v = 0
        d, pos = self.d, self.pos
        if (pos + n - 1) >> 3 >= len(d):
            raise ValueError("malformed WebP: truncated VP8L stream")
        for i in range(n):
            v |= ((d[pos >> 3] >> (pos & 7)) & 1) << i
            pos += 1
        self.pos = pos
        return v


class _VP8LCode:
    """Canonical prefix code built from per-symbol code lengths
    (RFC 9649 5.2: same canonical assignment as DEFLATE, codes read
    MSB-first from the LSB-first bit stream)."""

    __slots__ = ("table", "single")

    def __init__(self, code_lengths):
        nz = [(l, s) for s, l in enumerate(code_lengths) if l > 0]
        if not nz:
            raise ValueError("malformed WebP: empty prefix code")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.table = None
            return
        self.single = None
        if sum(2.0 ** -l for l, _ in nz) != 1.0:
            raise ValueError("malformed WebP: incomplete prefix code")
        max_len = max(l for l, _ in nz)
        bl_count = [0] * (max_len + 1)
        for l, _ in nz:
            bl_count[l] += 1
        next_code = [0] * (max_len + 1)
        code = 0
        for l in range(1, max_len + 1):
            code = (code + bl_count[l - 1]) << 1
            next_code[l] = code
        table = {}
        for s, l in enumerate(code_lengths):
            if l > 0:
                table[(l, next_code[l])] = s
                next_code[l] += 1
        self.table = table

    def read_symbol(self, br: _VP8LBits) -> int:
        if self.single is not None:
            return self.single
        code = length = 0
        table = self.table
        while True:
            code = (code << 1) | br.read(1)
            length += 1
            s = table.get((length, code))
            if s is not None:
                return s
            if length > 15:
                raise ValueError("malformed WebP: bad prefix code stream")


def _vp8l_read_code(br: _VP8LBits, alphabet_size: int) -> _VP8LCode:
    """One prefix code: simple (1-2 symbols) or normal (code-length
    coded) form (RFC 9649 5.2.1/5.2.2)."""
    if br.read(1):  # simple
        lengths = [0] * alphabet_size
        num_symbols = br.read(1) + 1
        s0 = br.read(8 if br.read(1) else 1)
        if s0 >= alphabet_size:
            raise ValueError("malformed WebP: symbol out of range")
        if num_symbols == 1:
            lengths[s0] = 1
            code = _VP8LCode.__new__(_VP8LCode)
            code.single, code.table = s0, None
            return code
        s1 = br.read(8)
        if s1 >= alphabet_size or s1 == s0:
            raise ValueError("malformed WebP: symbol out of range")
        lengths[s0] = lengths[s1] = 1
        return _VP8LCode(lengths)
    cl_lengths = [0] * 19
    for i in range(br.read(4) + 4):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.read(3)
    cl_code = _VP8LCode(cl_lengths)
    if br.read(1):  # limited number of coded symbols
        max_symbol = 2 + br.read(2 + 2 * br.read(3))
        if max_symbol > alphabet_size:
            raise ValueError("malformed WebP: max_symbol out of range")
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl_code.read_symbol(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            slot = code_len - 16
            repeat = br.read((2, 3, 7)[slot]) + (3, 3, 11)[slot]
            if symbol + repeat > alphabet_size:
                raise ValueError("malformed WebP: code length overflow")
            fill = prev_len if code_len == 16 else 0
            lengths[symbol:symbol + repeat] = [fill] * repeat
            symbol += repeat
    return _VP8LCode(lengths)


def _vp8l_prefix_value(code: int, br: _VP8LBits) -> int:
    """LZ77 length/distance prefix decode (RFC 9649 4.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _vp8l_decode_image(br: _VP8LBits, w: int, h: int,
                       level0: bool) -> np.ndarray:
    """DecodeImageStream (RFC 9649 6): returns a flat uint32 ARGB
    array of length w*h (w as adjusted by a color-indexing transform)
    plus, at level 0, applies the inverse transforms."""
    transforms = []
    seen_types = set()
    cur_w = w
    if level0:
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen_types:
                raise ValueError("malformed WebP: duplicate transform")
            seen_types.add(ttype)
            if ttype in (0, 1):  # predictor / color transform
                size_bits = br.read(3) + 2
                bw = (cur_w + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub = _vp8l_decode_image(br, bw, bh, False)
                transforms.append((ttype, cur_w, size_bits, sub))
            elif ttype == 2:  # subtract green
                transforms.append((2, cur_w, 0, None))
            else:  # color indexing
                n_colors = br.read(8) + 1
                pal = _vp8l_decode_image(br, n_colors, 1, False)
                # palette entries are component-wise deltas
                pal = np.cumsum(
                    pal.view(np.uint8).reshape(-1, 4).astype(np.uint32),
                    axis=0, dtype=np.uint32).astype(np.uint8) \
                    .reshape(-1).view(np.uint32)
                xbits = (0 if n_colors > 16 else 1 if n_colors > 4
                         else 2 if n_colors > 2 else 3)
                full_w = cur_w
                cur_w = (cur_w + (1 << xbits) - 1) >> xbits
                transforms.append((3, full_w, xbits, pal))

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise ValueError("malformed WebP: color cache too large")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read(1):  # meta prefix-code image
        meta_bits = br.read(3) + 2
        mw = (cur_w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        mimg = _vp8l_decode_image(br, mw, mh, False)
        meta = ((mimg >> 8) & 0xFFFF).astype(np.int64)  # (r<<8)|g
        n_groups = int(meta.max()) + 1
        meta = meta.reshape(mh, mw)
    groups = []
    for _ in range(n_groups):
        g = _vp8l_read_code(br, 256 + 24 + cache_size)
        r = _vp8l_read_code(br, 256)
        b = _vp8l_read_code(br, 256)
        a = _vp8l_read_code(br, 256)
        d = _vp8l_read_code(br, 40)
        groups.append((g, r, b, a, d))

    n = cur_w * h
    px = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    pos = 0
    gcode = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % cur_w, pos // cur_w
            gcode = groups[int(meta[y >> meta_bits, x >> meta_bits])]
        s = gcode[0].read_symbol(br)
        if s < 256:
            red = gcode[1].read_symbol(br)
            blue = gcode[2].read_symbol(br)
            alpha = gcode[3].read_symbol(br)
            pix = (alpha << 24) | (red << 16) | (s << 8) | blue
            px[pos] = pix
            if cache_size:
                cache[(0x1E35A7BD * pix & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = pix
            pos += 1
        elif s < 280:
            length = _vp8l_prefix_value(s - 256, br)
            dist_code = _vp8l_prefix_value(gcode[4].read_symbol(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dist_code - 1]
                dist = max(dy * cur_w + dx, 1)
            if dist > pos or pos + length > n:
                raise ValueError("malformed WebP: bad backward reference")
            for _ in range(length):
                pix = int(px[pos - dist])
                px[pos] = pix
                if cache_size:
                    cache[(0x1E35A7BD * pix & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = pix
                pos += 1
        else:
            if s - 280 >= cache_size:
                raise ValueError("malformed WebP: bad color cache index")
            px[pos] = cache[s - 280]
            pos += 1

    for ttype, tw, bits, data in reversed(transforms):
        if ttype == 3:
            px = _vp8l_inv_color_index(px, tw, h, bits, data)
            cur_w = tw
        elif ttype == 2:
            v = px.view(np.uint8).reshape(-1, 4)  # little-endian: b g r a
            g = v[:, 1]
            v[:, 0] += g
            v[:, 2] += g
        elif ttype == 1:
            px = _vp8l_inv_color_transform(px, tw, h, bits, data)
        else:
            px = _vp8l_inv_predictor(px, tw, h, bits, data)
    return px


def _vp8l_inv_color_index(px, w, h, xbits, palette):
    """Inverse color-indexing (RFC 9649 4.2.4): unpack sub-byte
    indices, map through the palette (out-of-range -> 0x00000000)."""
    idx = ((px >> 8) & 0xFF).astype(np.int64)
    if xbits:
        packed_w = (w + (1 << xbits) - 1) >> xbits
        per = 1 << xbits
        bpp = 8 >> xbits
        mask = (1 << bpp) - 1
        rows = idx.reshape(h, packed_w)
        shifts = (np.arange(per) * bpp)[None, None, :]
        idx = ((rows[:, :, None] >> shifts) & mask).reshape(h, -1)[:, :w]
        idx = idx.reshape(-1)
    lut = np.zeros(256, dtype=np.uint32)
    lut[: len(palette)] = palette
    return lut[np.minimum(idx, 255)] * (idx < len(palette))


def _vp8l_inv_color_transform(px, w, h, size_bits, sub):
    """Inverse cross-color transform (RFC 9649 4.2.3): per-block
    multipliers, deltas are (int8(t) * int8(c)) >> 5."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    out = px.copy()
    for y in range(h):
        row = out[y * w:(y + 1) * w]
        for x in range(w):
            elem = int(sub[(y >> size_bits) * bw + (x >> size_bits)])
            g2r = np.int8(elem & 0xFF)
            g2b = np.int8((elem >> 8) & 0xFF)
            r2b = np.int8((elem >> 16) & 0xFF)
            pix = int(row[x])
            green = np.int8((pix >> 8) & 0xFF)
            red = ((pix >> 16) & 0xFF)
            red = (red + ((int(g2r) * int(green)) >> 5)) & 0xFF
            blue = (pix & 0xFF)
            blue = (blue + ((int(g2b) * int(green)) >> 5)) & 0xFF
            blue = (blue + ((int(r2b) * int(np.int8(red))) >> 5)) & 0xFF
            row[x] = (pix & 0xFF00FF00) | (red << 16) | blue
    return out


def _vp8l_avg2(a, b):
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _vp8l_inv_predictor(px, w, h, size_bits, sub):
    """Inverse spatial-prediction transform (RFC 9649 4.2.1). The
    top-right neighbor is read from the contiguous buffer, so at the
    right edge it is the current row's first pixel — the spec's
    wrap-around semantics fall out of the flat layout."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    add = _vp8l_pixel_add
    for pos in range(w * h):
        x, y = pos % w, pos // w
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = int(px[pos - 1])           # L
        elif x == 0:
            pred = int(px[pos - w])           # T
        else:
            mode = (int(sub[(y >> size_bits) * bw + (x >> size_bits)])
                    >> 8) & 0xFF
            L = int(px[pos - 1])
            T = int(px[pos - w])
            TL = int(px[pos - w - 1])
            TR = int(px[pos - w + 1])
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = L
            elif mode == 2:
                pred = T
            elif mode == 3:
                pred = TR
            elif mode == 4:
                pred = TL
            elif mode == 5:
                pred = _vp8l_avg2(_vp8l_avg2(L, TR), T)
            elif mode == 6:
                pred = _vp8l_avg2(L, TL)
            elif mode == 7:
                pred = _vp8l_avg2(L, T)
            elif mode == 8:
                pred = _vp8l_avg2(TL, T)
            elif mode == 9:
                pred = _vp8l_avg2(T, TR)
            elif mode == 10:
                pred = _vp8l_avg2(_vp8l_avg2(L, TL), _vp8l_avg2(T, TR))
            elif mode == 11:
                diff = sum(
                    abs(((L >> sh) & 0xFF) - ((TL >> sh) & 0xFF))
                    - abs(((T >> sh) & 0xFF) - ((TL >> sh) & 0xFF))
                    for sh in (24, 16, 8, 0))
                pred = T if diff <= 0 else L
            elif mode == 12:
                pred = 0
                for sh in (24, 16, 8, 0):
                    c = min(255, max(0, ((L >> sh) & 0xFF)
                                     + ((T >> sh) & 0xFF)
                                     - ((TL >> sh) & 0xFF)))
                    pred |= c << sh
            elif mode == 13:
                ave = _vp8l_avg2(L, T)
                pred = 0
                for sh in (24, 16, 8, 0):
                    a = (ave >> sh) & 0xFF
                    delta = a - ((TL >> sh) & 0xFF)
                    # C-style truncation toward zero
                    c = min(255, max(0, a + (abs(delta) // 2)
                                     * (1 if delta >= 0 else -1)))
                    pred |= c << sh
            else:
                raise ValueError("malformed WebP: bad predictor mode")
        px[pos] = add(int(px[pos]), pred)
    return px


def _vp8l_pixel_add(a: int, b: int) -> int:
    """Per-channel modulo-256 addition of two packed ARGB pixels."""
    return ((((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)
            | (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF))


def _decode_vp8l_stream(data: bytes) -> np.ndarray:
    """A complete VP8L chunk payload (with the one-byte signature and
    14-bit dimensions header) -> HxWx4 uint8 ARGB-channel array."""
    br = _VP8LBits(data)
    if br.read(8) != 0x2F:
        raise ValueError("malformed WebP: bad VP8L signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("malformed WebP: unknown VP8L version")
    if w * h * 4 > _PNG_MAX_DECODED_BYTES:
        raise NotImplementedError(
            f"WebP {w}x{h} exceeds the "
            f"{_PNG_MAX_DECODED_BYTES >> 20}MB decode cap")
    px = _vp8l_decode_image(br, w, h, True)
    v = px.view(np.uint8).reshape(h, w, 4)  # little-endian b, g, r, a
    return v[:, :, [3, 2, 1, 0]]  # -> a, r, g, b


def _decode_webp_alpha(alph: bytes, w: int, h: int) -> np.ndarray:
    """ALPH chunk payload -> HxW uint8 alpha plane (container spec:
    method 1 = headerless VP8L stream, alpha in the green channel)."""
    if not alph:
        raise ValueError("malformed WebP: empty ALPH chunk")
    method = alph[0] & 3
    filt = (alph[0] >> 2) & 3
    if method == 0:
        body = np.frombuffer(alph, np.uint8, offset=1)
        if body.size < w * h:
            raise ValueError("malformed WebP: short raw alpha")
        plane = body[: w * h].reshape(h, w).copy()
    elif method == 1:
        br = _VP8LBits(alph[1:])
        px = _vp8l_decode_image(br, w, h, True)
        plane = ((px >> 8) & 0xFF).astype(np.uint8).reshape(h, w)
    else:
        raise ValueError("malformed WebP: bad alpha compression method")
    if filt:  # 1 horizontal, 2 vertical, 3 gradient predictors
        plane = plane.astype(np.int64)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0
                elif filt == 1:
                    pred = plane[y, x - 1] if x else plane[y - 1, x]
                elif filt == 2:
                    pred = plane[y - 1, x] if y else plane[y, x - 1]
                else:
                    if y == 0:
                        pred = plane[y, x - 1]
                    elif x == 0:
                        pred = plane[y - 1, x]
                    else:
                        pred = min(255, max(0, int(plane[y, x - 1])
                                            + int(plane[y - 1, x])
                                            - int(plane[y - 1, x - 1])))
                plane[y, x] = (plane[y, x] + pred) & 0xFF
        plane = plane.astype(np.uint8)
    return plane


def _decode_webp(data: bytes) -> np.ndarray:
    """WebP container: VP8L (lossless) decodes natively; lossy VP8
    raises (needs a full VP8 intra codec — honest stub). Returns
    HxWx3 uint8 (alpha dropped, repo-wide decode_image contract)."""
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("malformed WebP: bad RIFF header")
    i = 12
    has_lossy = False
    while i + 8 <= len(data):
        tag = data[i:i + 4]
        size = int.from_bytes(data[i + 4:i + 8], "little")
        payload = data[i + 8:i + 8 + size]
        if len(payload) < size:
            raise ValueError("malformed WebP: truncated chunk")
        if tag == b"VP8L":
            argb = _decode_vp8l_stream(payload)
            return argb[:, :, 1:].copy()
        if tag == b"VP8 ":
            has_lossy = True
        i += 8 + size + (size & 1)
    if has_lossy:
        raise NotImplementedError(
            "lossy WebP (VP8) needs a full VP8 intra-frame codec; only "
            "lossless (VP8L) decodes natively — pass fake=True for the "
            "deterministic test stub")
    raise ValueError("malformed WebP: no image chunk")


def _sniff_image(b: bytes):
    """One authoritative signature table -> (decoder, mime); both
    decode_image's dispatch and the feature stage's mime column read
    from here so they can never drift."""
    head = bytes(b[:8])
    if head == _PNG_SIG:
        return _decode_png, "image/png"
    if head[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif, "image/gif"
    if head[:2] == b"BM":
        return _decode_bmp, "image/bmp"
    if head[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff, "image/tiff"
    if (head[:1] == b"P" and head[1:2] in b"123456"
            and head[2:3] in b" \t\r\n#"):
        return _decode_netpbm, "image/x-portable-anymap"
    if head[:4] == b"RIFF" and bytes(b[8:12]) == b"WEBP":
        return _decode_webp, "image/webp"
    return None, "image/unknown"


def decode_image(blob: bytes, fake: bool = False) -> np.ndarray:
    """Decode an image blob to an HxWx3 uint8 array.

    PNG (8-bit, non-interlaced), GIF87a/89a (full LZW, interlacing,
    first frame), BMP (8/24/32-bit, BI_RGB / standard-mask
    BI_BITFIELDS), baseline TIFF (8-bit strips, uncompressed/LZW/
    PackBits, both byte orders), netpbm P1-P6 and lossless WebP (VP8L:
    all four transforms, color cache, meta prefix codes, LZ77) decode
    FOR REAL via the dependency-free decoders above (stdlib + numpy).
    Any other format (JPEG, lossy-VP8 WebP, ...) raises
    NotImplementedError; ``fake=True`` instead derives a deterministic
    8x8x3 array from the content hash (stable across runs/machines) for
    plumbing tests.
    """
    decoder = _sniff_image(blob)[0] if blob else None
    if decoder is not None:
        try:
            return decoder(bytes(blob))
        except Exception:
            # fake=True is the never-raises plumbing-test contract: a
            # malformed/unsupported blob falls back to the stub there,
            # and only surfaces as an error on the real path
            if not fake:
                raise
    if not fake:
        raise NotImplementedError(
            "image format not natively decodable (PNG, GIF, BMP, "
            "baseline TIFF, netpbm and lossless WebP decode without "
            "external libraries) — pass fake=True for the deterministic "
            "test stub"
        )
    digest = hashlib.sha256(blob or b"").digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
    return rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)


def _pool_features(img: np.ndarray) -> list[float]:
    flat = img.reshape(-1, 3).astype(np.float64)
    feats = np.concatenate(
        [
            flat.mean(axis=0) / 255.0,
            flat.std(axis=0) / 255.0,
            np.histogram(flat[:, 0], bins=10, range=(0, 256))[0] / flat.shape[0],
        ]
    )
    return [float(x) for x in feats[:_FEATURE_DIM]]


def extract_image_features(
    df: DataFrame,
    blob_col: str = "html",  # any binary column
    key_cols: tuple[str, ...] = ("url",),
    fake: bool = True,
    errors: str = "raise",
) -> DataFrame:
    """Map-only feature extraction over binary media columns.

    -> key cols + media metadata struct + feature vector. The binary
    column is consumed inside the stage and never shuffled.

    ``errors`` (same contract as ``extract_audio_features``): "raise"
    fails the job on the first undecodable blob (explicit, the
    default); "null" emits NULL features with a mime="error" meta row
    instead — at corpus scale one truncated/WebP/exotic blob must not
    abort a million-blob stage, and the NULL rows stay countable
    downstream. Irrelevant when ``fake=True`` (the stub never raises).
    """
    if errors not in ("raise", "null"):
        raise ValueError(f"errors must be 'raise' or 'null', got {errors!r}")
    key_fields = [f for f in df.schema.fields if f.name in key_cols]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("media_meta", MEDIA_META_TYPE),
            T.StructField("features", IMAGE_FEATURES_TYPE),
        ]
    )

    def run(batches):
        for pdf in batches:
            metas, feats = [], []
            for blob in pdf[blob_col]:
                b = bytes(blob) if blob is not None else b""
                try:
                    img = decode_image(b, fake=fake)
                except Exception:
                    if errors == "raise":
                        raise
                    metas.append(
                        {
                            "mime": "error",
                            "width": 0,
                            "height": 0,
                            "n_bytes": len(b),
                            "sha1": hashlib.sha1(b).hexdigest(),
                        }
                    )
                    feats.append(None)
                    continue
                metas.append(
                    {
                        "mime": _sniff_image(b)[1],
                        "width": int(img.shape[1]),
                        "height": int(img.shape[0]),
                        "n_bytes": len(b),
                        "sha1": hashlib.sha1(b).hexdigest(),
                    }
                )
                feats.append(_pool_features(img))
            out = pdf[list(key_cols)].copy()
            out["media_meta"] = metas
            out["features"] = feats
            yield out

    return df.select(*key_cols, blob_col).mapInPandas(run, schema=out_schema)


AUDIO_META_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha1", T.StringType()),
    ]
)

AUDIO_FEATURES_TYPE = T.ArrayType(T.FloatType())
_AUDIO_FEATURE_DIM = 8
# bound per-blob work/memory: features are computed over at most this
# many seconds of audio — at 100 TB a runaway multi-hour blob must not
# blow an executor
_AUDIO_MAX_SECONDS = 30


# a-law / mu-law (ITU-T G.711) expansion tables, computed from the
# standard segment/mantissa formulas
def _g711_tables():
    alaw = np.empty(256)
    ulaw = np.empty(256)
    for i in range(256):
        a = i ^ 0x55
        seg = (a & 0x70) >> 4
        mant = a & 0x0F
        v = (mant << 4) + 8 if seg == 0 else ((mant << 4) + 0x108) << (seg - 1)
        # transmitted sign bit SET (after the 0x55 toggle) = positive
        alaw[i] = v if a & 0x80 else -v
        u = ~i & 0xFF
        seg = (u & 0x70) >> 4
        mant = u & 0x0F
        v = (((mant << 3) + 0x84) << seg) - 0x84
        ulaw[i] = -v if u & 0x80 else v
    return alaw / 32768.0, ulaw / 32768.0


_ALAW_TABLE, _ULAW_TABLE = _g711_tables()

# IMA/DVI ADPCM quantizer tables (public spec: IMA Digital Audio Focus
# and Technical Working Groups, "Recommended Practices for Enhancing
# Digital Audio Compatibility", rev 3.00 — the same constants the
# stdlib audioop Intel/DVI codec uses, which the tests cross-validate
# against bit-exactly)
_IMA_INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)
_IMA_STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767], dtype=np.int32)

# MS ADPCM predictor coefficient pairs and step adaptation (public
# spec: Microsoft WAVE ADPCM, MSADPCM.txt / RIFF NewMedia I/O)
_MS_ADPCM_COEFS = np.array(
    [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0), (460, -208),
     (392, -232)], dtype=np.int64)
_MS_ADPCM_ADAPT = np.array(
    [230, 230, 230, 230, 307, 409, 512, 614,
     768, 614, 512, 409, 307, 230, 230, 230], dtype=np.int64)


def _ima_adpcm_core(nibbles: np.ndarray, predictor: np.ndarray,
                    index: np.ndarray) -> np.ndarray:
    """IMA ADPCM nibble decode, vectorized ACROSS independent streams
    (WAV blocks x channels): ``nibbles`` is (n_streams, n_samples),
    ``predictor``/``index`` are the per-stream initial states. The
    per-sample recurrence is inherently sequential, so the loop runs
    over the (bounded) sample axis while numpy does every stream at
    once — the shape that stays fast when a 30 s cap admits thousands
    of blocks. Returns int16-valued int32 samples (n_streams,
    n_samples)."""
    n_streams, n_samples = nibbles.shape
    pred = predictor.astype(np.int32).copy()
    idx = np.clip(index.astype(np.int32), 0, 88)
    out = np.empty((n_streams, n_samples), dtype=np.int32)
    for t in range(n_samples):
        n = nibbles[:, t]
        step = _IMA_STEP_TABLE[idx]
        diff = step >> 3
        diff += np.where(n & 1, step >> 2, 0)
        diff += np.where(n & 2, step >> 1, 0)
        diff += np.where(n & 4, step, 0)
        pred = np.where(n & 8, pred - diff, pred + diff)
        pred = np.clip(pred, -32768, 32767)
        idx = np.clip(idx + _IMA_INDEX_TABLE[n & 7], 0, 88)
        out[:, t] = pred
    return out


def _ms_adpcm_core(codes: np.ndarray, coef1: np.ndarray,
                   coef2: np.ndarray, delta: np.ndarray,
                   s1: np.ndarray, s2: np.ndarray) -> np.ndarray:
    """MS ADPCM 4-bit code decode, vectorized across streams the same
    way: ``codes`` is (n_streams, n_samples) of UNSIGNED 4-bit codes;
    per-stream coefficient pair, initial delta, and the two seed
    samples (s1 = newer). Returns the PREDICTED samples only (the two
    seeds are emitted by the container walk)."""
    n_streams, n_samples = codes.shape
    c1 = coef1.astype(np.int64)
    c2 = coef2.astype(np.int64)
    d = delta.astype(np.int64).copy()
    p1 = s1.astype(np.int64).copy()  # sample[n-1]
    p2 = s2.astype(np.int64).copy()  # sample[n-2]
    out = np.empty((n_streams, n_samples), dtype=np.int32)
    for t in range(n_samples):
        code = codes[:, t].astype(np.int64)
        signed = np.where(code >= 8, code - 16, code)
        pred = (p1 * c1 + p2 * c2) >> 8
        samp = np.clip(pred + signed * d, -32768, 32767)
        out[:, t] = samp
        p2, p1 = p1, samp
        d = np.maximum((_MS_ADPCM_ADAPT[code] * d) >> 8, 16)
    return out


def _decode_wav_ima_adpcm(raw: bytes, ch: int, block_align: int,
                          n_read: int) -> np.ndarray:
    """IMA ADPCM WAV container walk (format tag 0x0011): per block and
    channel a 4-byte header (int16 first sample, uint8 step index,
    reserved) followed by channel-interleaved 4-byte nibble groups,
    LOW nibble first. Returns float64 mono-mixable samples in
    [-1, 1] shaped (frames, ch)."""
    ba = block_align
    if ba < 4 * ch + 4 or ba % 4:
        raise ValueError("malformed WAV: bad IMA ADPCM block align")
    n_blocks = len(raw) // ba
    if n_blocks == 0:
        return np.zeros((0, ch), dtype=np.float64)
    blocks = np.frombuffer(
        raw[:n_blocks * ba], dtype=np.uint8).reshape(n_blocks, ba)
    # per-channel 4-byte headers
    heads = blocks[:, :4 * ch].reshape(n_blocks, ch, 4)
    first = (heads[:, :, 0].astype(np.int32)
             | (heads[:, :, 1].astype(np.int32) << 8))
    first = np.where(first >= 32768, first - 65536, first)
    index = np.clip(heads[:, :, 2].astype(np.int32), 0, 88)
    body = blocks[:, 4 * ch:]
    # channel-interleaved 4-byte groups -> (blocks, ch, bytes_per_ch)
    groups = body.reshape(n_blocks, -1, ch, 4)
    per_ch = groups.transpose(0, 2, 1, 3).reshape(n_blocks, ch, -1)
    lo = per_ch & 0x0F
    hi = per_ch >> 4
    nibbles = np.stack([lo, hi], axis=-1).reshape(n_blocks, ch, -1)
    n_streams = n_blocks * ch
    decoded = _ima_adpcm_core(
        nibbles.reshape(n_streams, -1).astype(np.int32),
        first.reshape(n_streams), index.reshape(n_streams))
    spb = decoded.shape[1] + 1  # header sample + decoded nibbles
    out = np.empty((n_blocks, ch, spb), dtype=np.float64)
    out[:, :, 0] = first / 32768.0
    out[:, :, 1:] = decoded.reshape(n_blocks, ch, -1) / 32768.0
    frames = out.transpose(0, 2, 1).reshape(-1, ch)
    return frames[:n_read]


def _decode_wav_ms_adpcm(raw: bytes, ch: int, block_align: int,
                         n_read: int) -> np.ndarray:
    """MS ADPCM WAV container walk (format tag 0x0002): per block and
    channel a 7-byte header (uint8 predictor index, int16 delta, int16
    sample1, int16 sample2), then 4-bit codes HIGH nibble first,
    channels interleaved per nibble. Returns (frames, ch) float64."""
    import struct

    ba = block_align
    if ba < 7 * ch + 1:
        raise ValueError("malformed WAV: bad MS ADPCM block align")
    n_blocks = len(raw) // ba
    if n_blocks == 0:
        return np.zeros((0, ch), dtype=np.float64)
    pred_i = np.empty((n_blocks, ch), dtype=np.int64)
    delta = np.empty((n_blocks, ch), dtype=np.int64)
    samp1 = np.empty((n_blocks, ch), dtype=np.int64)
    samp2 = np.empty((n_blocks, ch), dtype=np.int64)
    for bi in range(n_blocks):
        base = bi * ba
        for c in range(ch):
            pred_i[bi, c] = raw[base + c]
        off = base + ch
        for c in range(ch):
            (delta[bi, c],) = struct.unpack_from("<h", raw, off)
            off += 2
        for c in range(ch):
            (samp1[bi, c],) = struct.unpack_from("<h", raw, off)
            off += 2
        for c in range(ch):
            (samp2[bi, c],) = struct.unpack_from("<h", raw, off)
            off += 2
    if (pred_i > 6).any():
        raise ValueError("malformed WAV: MS ADPCM predictor out of range")
    body = np.frombuffer(
        raw[:n_blocks * ba], dtype=np.uint8
    ).reshape(n_blocks, ba)[:, 7 * ch:]
    hi = body >> 4
    lo = body & 0x0F
    codes = np.stack([hi, lo], axis=-1).reshape(n_blocks, -1)
    # nibbles alternate channels: reshape to (blocks, samples, ch)
    codes = codes[:, : (codes.shape[1] // ch) * ch]
    codes = codes.reshape(n_blocks, -1, ch).transpose(0, 2, 1)
    n_streams = n_blocks * ch
    coefs = _MS_ADPCM_COEFS[pred_i.reshape(n_streams)]
    decoded = _ms_adpcm_core(
        codes.reshape(n_streams, -1).astype(np.int32),
        coefs[:, 0], coefs[:, 1], delta.reshape(n_streams),
        samp1.reshape(n_streams), samp2.reshape(n_streams))
    spb = decoded.shape[1] + 2
    out = np.empty((n_blocks, ch, spb), dtype=np.float64)
    out[:, :, 0] = samp2 / 32768.0  # the OLDER seed plays first
    out[:, :, 1] = samp1 / 32768.0
    out[:, :, 2:] = decoded.reshape(n_blocks, ch, -1) / 32768.0
    frames = out.transpose(0, 2, 1).reshape(-1, ch)
    return frames[:n_read]


def _parse_wav_chunks(b: bytes):
    """RIFF chunk walk -> (fmt_chunk_bytes, data_offset, data_size)."""
    import struct

    pos = 12
    fmt = None
    data = None
    fact = None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4:pos + 8])
        if cid == b"fmt ":
            fmt = b[pos + 8:pos + 8 + size]
        elif cid == b"data":
            data = (pos + 8, min(size, len(b) - pos - 8))
        elif cid == b"fact" and size >= 4:
            (fact,) = struct.unpack("<I", b[pos + 8:pos + 12])
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    return fmt, data[0], data[1], fact


def decode_audio(blob: bytes) -> tuple[np.ndarray, int, float]:
    """Decode a RIFF/WAV blob FOR REAL (stdlib + numpy — no external
    dependency): integer PCM (8/16/32-bit), IEEE float32/float64
    (format 3), A-law / mu-law (G.711, formats 6/7), IMA/DVI ADPCM
    (format 17) and MS ADPCM (format 2) block codecs (r7 — the IMA
    nibble core is cross-validated bit-exactly against the stdlib
    audioop Intel/DVI codec), and WAVE_FORMAT_EXTENSIBLE wrappers of
    any of those; any channel count (downmixed to mono). Returns
    (float64 samples in [-1, 1], sample_rate, true_duration_seconds).
    The ``_AUDIO_MAX_SECONDS`` work cap is applied AT DECODE TIME
    (only the capped byte/block range is ever converted) so a
    multi-GB WAV never materializes its full float64 expansion in
    executor memory; the returned duration is still the blob's TRUE
    length from the header (ADPCM: the ``fact`` frame count when
    present, else blocks x samples-per-block). Entropy-coded formats
    (mp3/ogg/flac) need codec libraries absent from this environment
    and raise NotImplementedError."""
    import struct

    b = bytes(blob or b"")
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError(
            "non-WAV audio decoding requires codec libraries not "
            "available in this environment — WAV (PCM/float/G.711) "
            "decodes natively"
        )
    fmt, doff, dsize, fact = _parse_wav_chunks(b)
    if len(fmt) < 16:
        raise ValueError("malformed WAV: short fmt chunk")
    tag, ch, sr, _br, _ba, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: first GUID u16 is tag
        if len(fmt) < 26:
            raise ValueError("malformed WAV: short extensible fmt")
        (tag,) = struct.unpack("<H", fmt[24:26])
    if ch < 1 or sr < 1:
        raise ValueError("malformed WAV: bad channel count/rate")
    if tag in (2, 17):  # MS ADPCM / IMA ADPCM: block codecs
        if _ba < 1:
            raise ValueError("malformed WAV: bad ADPCM block align")
        if tag == 17:
            spb = (_ba - 4 * ch) * 2 // ch + 1
        else:
            spb = (_ba - 7 * ch) * 2 // ch + 2
        if spb < 1:
            raise ValueError("malformed WAV: bad ADPCM block align")
        n_blocks_total = dsize // _ba
        n_total = (fact if fact is not None
                   else n_blocks_total * spb)
        cap_frames = sr * _AUDIO_MAX_SECONDS
        n_blocks = min(n_blocks_total,
                       -(-min(n_total, cap_frames) // spb))
        raw = b[doff:doff + n_blocks * _ba]
        if tag == 17:
            frames = _decode_wav_ima_adpcm(raw, ch, _ba,
                                           min(n_total, cap_frames))
        else:
            frames = _decode_wav_ms_adpcm(raw, ch, _ba,
                                          min(n_total, cap_frames))
        x = frames.mean(axis=1) if ch > 1 else frames[:, 0]
        return x, sr, n_total / sr
    if tag not in (1, 3, 6, 7):
        raise NotImplementedError(
            f"WAV format tag {tag} (compressed) unsupported — "
            "PCM/float/G.711/IMA-ADPCM/MS-ADPCM decode natively"
        )
    # container width comes from blockAlign when coherent (a 12-bit
    # sample ships in a 16-bit container, the layout the stdlib wave
    # module also honored); fall back to ceil(bits/8)
    if _ba and _ba % ch == 0 and (_ba // ch) in (1, 2, 4, 8):
        width = _ba // ch
    else:
        width = (bits + 7) // 8
    if width < 1:
        raise ValueError("malformed WAV: bad bit depth")
    frame_bytes = width * ch
    n_total = dsize // frame_bytes
    n_read = min(n_total, sr * _AUDIO_MAX_SECONDS)
    raw = b[doff:doff + n_read * frame_bytes]
    if tag == 1:  # integer PCM
        if width == 2:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        elif width == 1:
            # 8-bit WAV is unsigned
            x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
                 - 128.0) / 128.0
        elif width == 4:
            x = (np.frombuffer(raw, dtype="<i4").astype(np.float64)
                 / 2147483648.0)
        else:
            raise NotImplementedError(f"{bits}-bit PCM unsupported")
    elif tag == 3:  # IEEE float
        if width == 4:
            x = np.frombuffer(raw, dtype="<f4").astype(np.float64)
        elif width == 8:
            x = np.frombuffer(raw, dtype="<f8").astype(np.float64)
        else:
            raise NotImplementedError(f"{bits}-bit float WAV unsupported")
        # honor the [-1, 1] contract every other format guarantees:
        # unmastered float audio can carry inter-sample peaks above 1.0
        x = np.clip(x, -1.0, 1.0)
    elif tag == 6:  # A-law
        x = _ALAW_TABLE[np.frombuffer(raw, dtype=np.uint8)]
    else:  # tag == 7, mu-law (unknown tags rejected above)
        x = _ULAW_TABLE[np.frombuffer(raw, dtype=np.uint8)]
    if ch > 1:
        x = x[: (len(x) // ch) * ch].reshape(-1, ch).mean(axis=1)
    return x, sr, n_total / sr


def _audio_features(
    x: np.ndarray, sr: int, duration: float | None = None
) -> list[float]:
    """Real signal-level features (all numpy, no stubs): duration, RMS,
    zero-crossing rate, spectral centroid / peak / 85% rolloff (as
    fractions of Nyquist), spectral flatness, sample-rate tag.

    ``duration`` carries the blob's TRUE length when the caller decoded
    with the work cap (decode_audio truncates samples but reports the
    header frame count); defaults to len(x)/sr for direct callers."""
    if duration is None:
        duration = len(x) / sr if sr else 0.0
    x = x[: sr * _AUDIO_MAX_SECONDS]
    if len(x) == 0:
        return [0.0] * _AUDIO_FEATURE_DIM
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
    spec = np.abs(np.fft.rfft(x * np.hanning(len(x))))
    power = spec * spec
    total = power.sum()
    freqs = np.fft.rfftfreq(len(x), d=1.0 / sr) if sr else spec * 0
    nyquist = sr / 2.0 if sr else 1.0
    if total > 0:
        centroid = float((freqs * power).sum() / total) / nyquist
        peak = float(freqs[int(np.argmax(power))]) / nyquist
        rolloff = float(
            freqs[int(np.searchsorted(np.cumsum(power), 0.85 * total))]
        ) / nyquist
        flatness = float(
            np.exp(np.mean(np.log(power + 1e-20))) / (power.mean() + 1e-20)
        )
    else:
        centroid = peak = rolloff = flatness = 0.0
    return [float(duration), rms, zcr, centroid, peak, rolloff,
            flatness, sr / 48000.0]


def extract_audio_features(
    df: DataFrame,
    blob_col: str = "audio",
    key_cols: tuple[str, ...] = ("url",),
    errors: str = "raise",
) -> DataFrame:
    """Map-only REAL audio feature extraction over WAV binary columns
    (same 100 TB shape as images: blobs consumed in-stage, only the
    (key, meta, features) projection ever moves).

    ``errors``: "raise" fails the job on the first undecodable blob
    (explicit, the default); "null" emits NULL features with a
    mime="error" meta row instead — at corpus scale one NULL/mp3/
    truncated blob must not abort a million-blob stage, and the NULL
    rows stay countable downstream."""
    if errors not in ("raise", "null"):
        raise ValueError(f"errors must be 'raise' or 'null', got {errors!r}")
    key_fields = [f for f in df.schema.fields if f.name in key_cols]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("audio_meta", AUDIO_META_TYPE),
            T.StructField("features", AUDIO_FEATURES_TYPE),
        ]
    )

    def run(batches):
        for pdf in batches:
            metas, feats = [], []
            for blob in pdf[blob_col]:
                b = bytes(blob) if blob is not None else b""
                try:
                    x, sr, dur = decode_audio(b)
                except Exception:
                    if errors == "raise":
                        raise
                    metas.append(
                        {
                            "mime": "error",
                            "sample_rate": 0,
                            "n_samples": 0,
                            "n_bytes": len(b),
                            "sha1": hashlib.sha1(b).hexdigest(),
                        }
                    )
                    feats.append(None)
                    continue
                metas.append(
                    {
                        "mime": "audio/wav",
                        "sample_rate": int(sr),
                        "n_samples": int(len(x)),
                        "n_bytes": len(b),
                        "sha1": hashlib.sha1(b).hexdigest(),
                    }
                )
                feats.append(_audio_features(x, sr, dur))
            out = pdf[list(key_cols)].copy()
            out["audio_meta"] = metas
            out["features"] = feats
            yield out

    return df.select(*key_cols, blob_col).mapInPandas(run, schema=out_schema)

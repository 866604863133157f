"""Ground-truth tests for the dependency-free TIFF decoder
(prose_spark/operators/multimodal.py `_decode_tiff`).

Primary evidence is CROSS-FORMAT: CPython ships the same 16x16 logo
as python.png / python.tiff / python.bmp (real third-party encoders),
and the three decoders must agree BIT-IDENTICALLY — a lossless
cross-check that no shared-bug pair can fake. Synthetic fixtures from
a test-side writer then cover PackBits, TIFF-LZW (MSB-first with the
spec's genuine early-change rule — the quirk GIF does NOT have),
horizontal predictor, palette/grayscale photometrics, MM byte order,
and multi-strip layouts."""

from __future__ import annotations

import glob
import struct

import numpy as np
import pytest

from prose_spark.operators.multimodal import decode_image

_IMGDATA = sorted(glob.glob(
    "/root/.pyenv/versions/*/lib/python3.11/test/imghdrdata"))


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 section 13 LZW: MSB-first, early change."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    buf = nbits = 0
    code_size = 9

    def emit(code):
        nonlocal buf, nbits
        buf = (buf << code_size) | code
        nbits += code_size
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    prev = b""
    for byte in data:
        cur = prev + bytes([byte])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4094:
            table[cur] = next_code
            next_code += 1
            # encoder side of early change: the decoder's table lags
            # one add behind, so the encoder bumps at table-full while
            # the decoder bumps at 2^w - 1
            if next_code >= (1 << code_size) and code_size < 12:
                code_size += 1
        prev = bytes([byte])
    if prev:
        emit(table[prev])
    emit(EOI)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Literal-only PackBits (always valid, exercises the decoder's
    literal path) with one RLE run appended when possible."""
    out = bytearray()
    i = 0
    while i < len(data):
        # emit runs of 3+ identical bytes as RLE, else literals
        j = i
        while j < len(data) - 1 and data[j] == data[j + 1] and j - i < 127:
            j += 1
        if j - i >= 2:
            out += bytes([257 - (j - i + 1), data[i]])
            i = j + 1
            continue
        k = min(i + 128, len(data))
        out += bytes([k - i - 1]) + data[i:k]
        i = k
    return bytes(out)


def _encode_tiff(img, compression=1, photometric=None, byteorder="<",
                 rows_per_strip=None, predictor=1, palette=None):
    h, w = img.shape[:2]
    spp = img.shape[2] if img.ndim == 3 else 1
    if photometric is None:
        photometric = 2 if spp >= 3 else 1
    rows_per_strip = rows_per_strip or h
    px = img.reshape(h, w * spp).astype(np.uint8)
    if predictor == 2:
        d = px.astype(np.int64).reshape(h, w, spp)
        d[:, 1:] -= d[:, :-1].copy()
        px = (d % 256).astype(np.uint8).reshape(h, w * spp)
    strips = []
    for y0 in range(0, h, rows_per_strip):
        raw = px[y0:y0 + rows_per_strip].tobytes()
        if compression == 5:
            strips.append(_tiff_lzw_encode(raw))
        elif compression == 32773:
            strips.append(_packbits_encode(raw))
        else:
            strips.append(raw)

    entries = []  # (tag, type, count, value_or_bytes)
    extra = bytearray()
    base_ifd = 8

    def val_bytes(typ, cnt, vals):
        fmtc = {1: "B", 3: "H", 4: "I"}[typ]
        return struct.pack(byteorder + str(cnt) + fmtc, *vals)

    def add(tag, typ, vals):
        entries.append((tag, typ, len(vals), vals))

    add(256, 3, [w])
    add(257, 3, [h])
    add(258, 3, [8] * spp)
    add(259, 3, [compression])
    add(262, 3, [photometric])
    add(277, 3, [spp])
    add(278, 3, [rows_per_strip])
    if predictor != 1:
        add(317, 3, [predictor])
    if palette is not None:
        pal16 = [int(v) * 257 for plane in range(3)
                 for v in np.resize(palette[:, plane], 256)]
        add(320, 3, pal16)
    # strip offsets/counts resolved after layout
    n_ent = len(entries) + 2
    ifd_size = 2 + 12 * n_ent + 4
    data_off = base_ifd + ifd_size
    blobs = bytearray()

    def place(typ, cnt, vals):
        nonlocal blobs
        raw = val_bytes(typ, cnt, vals)
        if len(raw) <= 4:
            return None, raw + b"\x00" * (4 - len(raw))
        off = data_off + len(blobs)
        blobs += raw
        return off, None

    resolved = []
    for tag, typ, cnt, vals in entries:
        off, inline = place(typ, cnt, vals)
        resolved.append((tag, typ, cnt, off, inline))
    strip_offsets = []
    for s in strips:
        strip_offsets.append(data_off + len(blobs))
        blobs += s
    for tag, typ, vals in ((273, 4, strip_offsets),
                           (279, 4, [len(s) for s in strips])):
        off, inline = place(typ, len(vals), vals)
        resolved.append((tag, typ, len(vals), off, inline))
    resolved.sort()
    out = bytearray()
    out += (b"II" if byteorder == "<" else b"MM")
    out += struct.pack(byteorder + "HI", 42, base_ifd)
    out += struct.pack(byteorder + "H", n_ent)
    for tag, typ, cnt, off, inline in resolved:
        out += struct.pack(byteorder + "HHI", tag, typ, cnt)
        out += inline if inline is not None else struct.pack(
            byteorder + "I", off)
    out += struct.pack(byteorder + "I", 0)
    out += blobs
    return bytes(out)


def test_tiff_cross_format_real_files():
    """The same real-world logo in three lossless formats from three
    different third-party encoders must decode bit-identically."""
    if not _IMGDATA:
        pytest.skip("no imghdrdata fixtures")
    base = _IMGDATA[0] + "/"
    png = decode_image(open(base + "python.png", "rb").read())
    tif = decode_image(open(base + "python.tiff", "rb").read())
    bmp = decode_image(open(base + "python.bmp", "rb").read())
    assert np.array_equal(tif, png)
    assert np.array_equal(bmp, png)
    # the GIF is palette-quantized: close but not identical; every
    # GIF pixel must be one of its <=256 palette colors
    gif = decode_image(open(base + "python.gif", "rb").read())
    assert gif.shape == png.shape
    assert len(np.unique(gif.reshape(-1, 3), axis=0)) <= 256


def test_tiff_roundtrips():
    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    for kwargs in (
        {},
        {"byteorder": ">"},
        {"compression": 32773},
        {"compression": 5},
        {"compression": 5, "predictor": 2},
        {"rows_per_strip": 4},
        {"compression": 5, "rows_per_strip": 5},
    ):
        got = decode_image(_encode_tiff(img, **kwargs))
        assert np.array_equal(got, img), kwargs
    # grayscale, both photometric polarities
    g = rng.integers(0, 256, size=(7, 11, 1), dtype=np.uint8)
    got = decode_image(_encode_tiff(g, photometric=1))
    assert np.array_equal(got, np.repeat(g, 3, axis=2))
    inv = decode_image(_encode_tiff(255 - g, photometric=0))
    assert np.array_equal(inv, np.repeat(g, 3, axis=2))
    # palette
    pal = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(6, 8, 1), dtype=np.uint8)
    got = decode_image(_encode_tiff(idx, photometric=3, palette=pal))
    assert np.array_equal(got, pal[idx[:, :, 0]])
    # RGBA: alpha dropped
    rgba = rng.integers(0, 256, size=(5, 6, 4), dtype=np.uint8)
    got = decode_image(_encode_tiff(rgba))
    assert np.array_equal(got, rgba[:, :, :3])
    # LZW with growth: low-entropy large image forces width bumps
    big = np.tile(rng.integers(0, 8, size=(16, 64, 3)), (4, 1, 1)) * 31
    big = big.astype(np.uint8)
    got = decode_image(_encode_tiff(big, compression=5))
    assert np.array_equal(got, big)


def test_tiff_unsupported_and_malformed():
    rng = np.random.default_rng(32)
    img = rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8)
    blob = bytearray(_encode_tiff(img))
    with pytest.raises(ValueError, match="malformed TIFF"):
        decode_image(bytes(blob[:20]))
    # unsupported compression (JPEG-in-TIFF = 7)
    comp = bytearray(_encode_tiff(img, compression=1))
    i = comp.index(struct.pack("<HHI", 259, 3, 1))
    comp[i + 8:i + 10] = struct.pack("<H", 7)
    with pytest.raises(NotImplementedError, match="compression 7"):
        decode_image(bytes(comp))
    # decode cap on giant declared dims
    giant = bytearray(_encode_tiff(img))
    j = giant.index(struct.pack("<HHI", 256, 3, 1))
    giant[j + 8:j + 10] = struct.pack("<H", 60000)
    k = giant.index(struct.pack("<HHI", 257, 3, 1))
    giant[k + 8:k + 10] = struct.pack("<H", 60000)
    with pytest.raises(NotImplementedError, match="decode cap"):
        decode_image(bytes(giant))
    for bad in (bytes(blob[:20]), bytes(comp), bytes(giant)):
        assert decode_image(bad, fake=True).shape[2] == 3


def test_tiff_planar_and_spp_guards():
    """Review-pass regressions: planar-configuration TIFFs must raise
    (silently scrambled otherwise), and the decode cap must count
    SamplesPerPixel so a small LZW bomb cannot bypass it."""
    rng = np.random.default_rng(33)
    img = rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8)
    planar = bytearray(_encode_tiff(img))
    # inject PlanarConfiguration=2 as a fresh IFD is complex; patch an
    # existing tag slot (259 compression -> 284 planar=2 would corrupt;
    # instead rewrite tag 277's id to 284 on a COPY with spp=1 gray)
    g = rng.integers(0, 256, size=(6, 6, 1), dtype=np.uint8)
    blob = bytearray(_encode_tiff(g, photometric=1))
    i = blob.index(struct.pack("<HHI", 277, 3, 1))
    # keep 277 but add planar by rewriting the orientation-free slot:
    # simplest: flip tag 278 (RowsPerStrip) id to 284 with value 2 —
    # RowsPerStrip then defaults to h, layout still valid
    j = blob.index(struct.pack("<HHI", 278, 3, 1))
    blob[j:j + 2] = struct.pack("<H", 284)
    blob[j + 8:j + 10] = struct.pack("<H", 2)
    with pytest.raises(NotImplementedError, match="planar"):
        decode_image(bytes(blob))
    # spp out of range
    spp = bytearray(_encode_tiff(img))
    k = spp.index(struct.pack("<HHI", 277, 3, 1))
    spp[k + 8:k + 10] = struct.pack("<H", 200)
    with pytest.raises((NotImplementedError, ValueError)):
        decode_image(bytes(spp))


def test_netpbm_formats():
    """netpbm: the real-world PPM joins the lossless cross-format
    triangle (bit-identical to the PNG of the same logo); PGM is its
    luma within converter rounding; PBM is bilevel; ASCII variants
    round-trip against their binary twins."""
    if not _IMGDATA:
        pytest.skip("no imghdrdata fixtures")
    base = _IMGDATA[0] + "/"
    png = decode_image(open(base + "python.png", "rb").read())
    ppm = decode_image(open(base + "python.ppm", "rb").read())
    assert np.array_equal(ppm, png)
    pgm = decode_image(open(base + "python.pgm", "rb").read())
    luma = np.round(0.299 * png[:, :, 0].astype(float)
                    + 0.587 * png[:, :, 1] + 0.114 * png[:, :, 2])
    assert np.abs(pgm[:, :, 0].astype(float) - luma).mean() < 3
    pbm = decode_image(open(base + "python.pbm", "rb").read())
    assert set(np.unique(pbm)) <= {0, 255}

    # ASCII twins and maxval scaling
    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    p3 = ("P3\n# comment\n7 5\n255\n"
          + " ".join(map(str, img.reshape(-1)))).encode()
    assert np.array_equal(decode_image(p3), img)
    g = rng.integers(0, 16, size=(4, 6), dtype=np.uint8)
    p2 = ("P2\n6 4\n15\n" + " ".join(map(str, g.reshape(-1)))).encode()
    got = decode_image(p2)
    assert np.array_equal(got[:, :, 0], (g.astype(np.int64) * 255) // 15)
    with pytest.raises(ValueError, match="malformed netpbm"):
        decode_image(b"P6\n4 4\n255\n\x00")
    with pytest.raises(NotImplementedError, match="maxval"):
        decode_image(b"P5\n2 2\n65535\n" + bytes(8))


def test_netpbm_p1_packed_digits():
    """ASCII PBM digits may be packed without separators."""
    got = decode_image(b"P1\n# c\n4 2\n0110\n1001")
    exp = ((1 - np.array([[0, 1, 1, 0], [1, 0, 0, 1]])) * 255
           ).astype(np.uint8)
    assert np.array_equal(got[:, :, 0], exp)
    spaced = decode_image(b"P1\n4 2\n0 1 1 0 1 0 0 1")
    assert np.array_equal(spaced, got)

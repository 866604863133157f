"""Seeded media corpus (sources/media.py) + its driver queries.

The torture coverage for the DECODERS lives in test_gif_bmp/test_tiff/
test_webp; this file pins the product-side encoders feeding the declared
mm_* queries: determinism, losslessness against the real decoders, and
the end-to-end Spark stage shape.
"""

import numpy as np
import pytest

from prose_spark.operators.multimodal import decode_audio, decode_image
from prose_spark.sources.media import (
    _image_array,
    encode_bmp,
    encode_png,
    encode_ppm,
    encode_wav_pcm16,
    generate_audio_rows,
    generate_image_rows,
)


def test_generators_deterministic():
    a = [(u, f, bytes(b)) for u, f, b in generate_image_rows(9, seed=42)]
    b = [(u, f, bytes(b)) for u, f, b in generate_image_rows(9, seed=42)]
    assert a == b
    c = [(u, f, bytes(b)) for u, f, b in generate_audio_rows(5, seed=42)]
    d = [(u, f, bytes(b)) for u, f, b in generate_audio_rows(5, seed=42)]
    assert c == d
    # a different seed must actually change the payloads
    e = [bytes(b) for _, _, b in generate_image_rows(9, seed=7)]
    assert e != [x[2] for x in a]


@pytest.mark.parametrize(
    "enc", [encode_png, encode_bmp, encode_ppm],
    ids=["png", "bmp", "ppm"])
def test_encoders_lossless_roundtrip(enc):
    img = _image_array(11, 42)
    out = decode_image(enc(img), fake=False)
    assert out.shape == img.shape
    assert np.array_equal(out, img)


@pytest.mark.parametrize("head", [
    b"\xff\xd8\xff\xe0\x00\x10JFIF\x00",    # JPEG
    b"\x59\xa6\x6a\x95" + bytes(28),          # Sun Raster
    b"\x01\xda\x00\x01\x00\x03" + bytes(506),  # SGI
], ids=["jpeg", "ras", "sgi"])
def test_formats_outside_the_corpus_take_the_unsupported_path(head):
    """Families the media corpus never produces have no decoder: they
    raise like any unsupported format, and fake mode stubs them."""
    with pytest.raises(NotImplementedError, match="not natively decodable"):
        decode_image(head)
    assert decode_image(head, fake=True).shape == (8, 8, 3)


def test_wav_roundtrip_close():
    sr = 8000
    t = np.arange(1600) / sr
    x = 0.5 * np.sin(2 * np.pi * 220 * t)
    y, sr2, dur = decode_audio(encode_wav_pcm16(x, sr))
    assert sr2 == sr and len(y) == len(x)
    assert abs(dur - 0.2) < 1e-9
    # 16-bit quantization error only
    assert float(np.abs(y - x).max()) < 1.0 / 32000


def test_gif_tiff_encoders_roundtrip():
    from prose_spark.sources.media import encode_gif, encode_tiff

    img = _image_array(11, 42)
    # TIFF is lossless: exact round-trip through the real decoder
    out = decode_image(encode_tiff(img), fake=False)
    assert np.array_equal(out, img)
    # GIF is palettized (6x6x6 cube): bounded quantization error only
    g = decode_image(encode_gif(img), fake=False)
    assert g.shape == img.shape
    assert int(np.abs(g.astype(int) - img.astype(int)).max()) <= 42


def test_wav_ms_adpcm_roundtrip_close():
    from prose_spark.sources.media import encode_wav_ms_adpcm

    sr = 8000
    t = np.arange(2048) / sr
    x = 0.5 * np.sin(2 * np.pi * 220 * t)
    y, sr2, dur = decode_audio(encode_wav_ms_adpcm(x, sr))
    spb = (256 - 7) * 2 + 2
    n = (2048 // spb) * spb
    assert sr2 == sr and len(y) == n
    assert abs(dur - n / sr) < 1e-9
    assert float(np.abs(y - x[:n]).max()) < 0.05


def test_wav_ima_adpcm_roundtrip_close():
    from prose_spark.sources.media import encode_wav_ima_adpcm

    sr = 8000
    t = np.arange(2048) / sr
    x = 0.5 * np.sin(2 * np.pi * 220 * t)
    y, sr2, dur = decode_audio(encode_wav_ima_adpcm(x, sr))
    spb = (256 - 4) * 2 + 1
    n = (2048 // spb) * spb
    assert sr2 == sr and len(y) == n
    assert abs(dur - n / sr) < 1e-9
    # 4-bit ADPCM is lossy; a tracking-seeded encoder stays tight
    assert float(np.abs(y - x[:n]).max()) < 0.05


def test_mm_driver_queries(spark):
    import __spark_entry__ as entry

    img = entry.q_mm_image_stats(spark, "unused").collect()
    assert len(img) == entry._MEDIA_N_IMAGES
    mimes = {r.mime for r in img}
    assert mimes == {"image/png", "image/bmp", "image/x-portable-anymap",
                     "image/webp", "image/gif", "image/tiff"}
    r0 = next(r for r in img if r.url == "media://img/0000.png")
    assert (r0.width, r0.height) == (16, 12)
    # gradient construction: means sit near mid-gray, stds are wide
    assert 0.4 < r0.mean_r < 0.6 and 0.2 < r0.std_r < 0.4

    aud = entry.q_mm_audio_stats(spark, "unused").collect()
    assert len(aud) == entry._MEDIA_N_AUDIO
    a0 = next(r for r in aud if r.url == "media://wav/0000.wav")
    assert a0.sample_rate == 8000 and a0.n_samples == 1600
    assert abs(a0.duration - 0.2) < 1e-6
    # RMS of a 0.55-amp sine ~= 0.389 plus noise power
    assert 0.35 < a0.rms < 0.45
    # every fourth clip ships IMA-ADPCM-compressed and decodes for real
    a3 = next(r for r in aud if r.url == "media://wav/0003.adpcm.wav")
    assert a3.sample_rate == 8000
    assert 0.35 < a3.rms < 0.45
    # ... and every fourth MS-ADPCM-compressed (r7 verdict #6)
    a1 = next(r for r in aud if r.url == "media://wav/0001.ms.wav")
    assert a1.sample_rate == 8000
    assert 0.35 < a1.rms < 0.45
    # the r7-verdict-#7 scalars are projected and finite
    assert all(0.0 <= r.peak <= 1.0 and 0.0 <= r.flatness <= 1.0
               for r in aud)

"""Codec roundtrips (lossless exactness), checksum/aHash invariants,
property-based fuzz via hypothesis (SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gdal_scripts_spark import codecs


def _img(w, h, c, seed=0):
    rng = np.random.default_rng(seed)
    shape = (h, w) if c == 1 else (h, w, 3)
    return rng.integers(0, 256, shape, dtype=np.uint8)


@pytest.mark.parametrize("fmt,c", [("ppm", 3), ("pgm", 1), ("png", 3), ("png", 1)])
def test_roundtrip_exact(fmt, c):
    img = _img(33, 17, c, seed=3)
    buf = codecs.encode(img, fmt)
    out = codecs.decode(buf, fmt)
    assert out.dtype == np.uint8 and out.shape == img.shape
    assert np.array_equal(out, img)


def test_pnm_header_parse_with_comment():
    img = _img(4, 2, 1)
    buf = codecs.encode_pnm(img)
    # inject a comment line after magic
    buf2 = b"P5\n# a comment\n" + buf[3:]
    assert np.array_equal(codecs.decode_pnm(buf2), img)


def test_png_all_filters_decode():
    # craft a PNG using each filter type per scanline and check against a
    # reference reconstruction done with an independent scalar implementation
    import struct
    import zlib

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    h, w, _ = img.shape
    bpp = 3
    raw = img.reshape(h, w * bpp).astype(np.int32)
    lines = []
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = raw[y]
        prev = raw[y - 1] if y > 0 else np.zeros(w * bpp, np.int32)
        enc = np.zeros(w * bpp, np.int32)
        for x in range(w * bpp):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                enc[x] = cur[x]
            elif ftype == 1:
                enc[x] = cur[x] - a
            elif ftype == 2:
                enc[x] = cur[x] - b
            elif ftype == 3:
                enc[x] = cur[x] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = cur[x] - pred
        lines.append(bytes([ftype]) + (enc & 0xFF).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    buf = (
        codecs._PNG_SIG
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + codecs._chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(buf), img)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    c=st.sampled_from([1, 3]),
    seed=st.integers(0, 10_000),
)
def test_roundtrip_property(w, h, c, seed):
    img = _img(w, h, c, seed)
    for fmt in ("pgm" if c == 1 else "ppm", "png"):
        assert np.array_equal(codecs.decode(codecs.encode(img, fmt), fmt), img)


def test_checksum_properties():
    img = _img(20, 20, 1, seed=1)
    c1 = codecs.gdal_style_checksum(img)
    assert 0 <= c1 < 65536
    assert c1 == codecs.gdal_style_checksum(img)  # deterministic
    img2 = img.copy()
    img2[0, 0] ^= 0xFF
    assert codecs.gdal_style_checksum(img2) != c1  # sensitive
    # order-sensitive (transpose changes it for non-symmetric images)
    assert codecs.gdal_style_checksum(img.T) != c1 or np.array_equal(img, img.T)


def test_ahash_and_hamming():
    img = _img(64, 64, 3, seed=5)
    h1 = codecs.ahash64(img)
    assert isinstance(h1, int)
    noisy = img.astype(np.int16) + 2
    h2 = codecs.ahash64(np.clip(noisy, 0, 255).astype(np.uint8))
    assert codecs.hamming64(h1, h2) <= 8  # near-dup stays close
    other = _img(64, 64, 3, seed=99)
    assert codecs.hamming64(h1, codecs.ahash64(other)) > 8


def test_psnr():
    img = _img(32, 32, 3, seed=2)
    assert codecs.psnr(img, img) == float("inf")
    noisy = np.clip(img.astype(np.int16) + 3, 0, 255).astype(np.uint8)
    assert codecs.psnr(img, noisy) > 38.0
    assert codecs.psnr(img, np.zeros_like(img)) < 15.0


def test_jpeg_dispatch():
    img = _img(24, 24, 3, seed=8)
    out = codecs.decode(codecs.encode(img, "jpeg"), "jpeg")
    assert out.shape == img.shape  # lossy: exactness checked in test_jpeg.py


def c_ref(band):
    """Sequential mirror of the C loop in alg/gdalchecksum.cpp (int path)."""
    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    cs, ip = 0, 0
    for v in band.astype(np.int64).ravel().tolist():
        r = int(math.fmod(v, primes[ip]))  # trunc remainder
        cs = (cs + r) & 0xFFFF
        ip = (ip + 1) % 11
    return cs


def test_gdal_checksum_exact_algorithm():
    rng = np.random.default_rng(4)
    for shape in [(20, 20), (7, 13), (1, 1), (3, 64)]:
        u8 = rng.integers(0, 256, shape).astype(np.uint8)
        assert codecs.gdal_checksum_band(u8) == c_ref(u8)
        i32 = rng.integers(-50000, 50000, shape).astype(np.int32)
        assert codecs.gdal_checksum_band(i32) == c_ref(i32)
    # pinned value: 20x20 row-major ramp (v = i % 256)
    ramp = (np.arange(400) % 256).astype(np.uint8).reshape(20, 20)
    assert codecs.gdal_checksum_band(ramp) == c_ref(ramp)


def test_gdal_checksum_u8_histogram_path_matches_c_loop():
    rng = np.random.default_rng(5)
    for shape in [(7, 13), (256, 256)]:
        u8 = rng.integers(0, 256, shape).astype(np.uint8)
        assert codecs.gdal_checksum_band(u8) == c_ref(u8)
        # a strided band of an RGB tile, as gdal_style_checksum passes it
        rgb = rng.integers(0, 256, shape + (3,)).astype(np.uint8)
        assert codecs.gdal_checksum_band(rgb[:, :, 1]) == c_ref(rgb[:, :, 1])
        i16 = rng.integers(-32768, 32768, shape).astype(np.int16)
        assert (i16 < 0).any()
        assert codecs.gdal_checksum_band(i16) == c_ref(i16)
        i32 = rng.integers(-2**31, 2**31, shape).astype(np.int32)
        assert codecs.gdal_checksum_band(i32) == c_ref(i32)

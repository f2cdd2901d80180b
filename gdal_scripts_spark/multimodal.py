"""Multimodal binary-column plumbing (driver prompt: image/audio/video as
opaque binary + typed metadata).

The Spark-side machinery — schema, Arrow batch shape, partition sizing, UDF
signatures — is real and tested; the codec boundary is explicit:
- formats this engine decodes natively (ppm/pgm/png/jpeg) run for real via
  gdal_scripts_spark.codecs;
- external-library formats (audio, video frames) are gated
  stubs: a deterministic fake when ``deterministic_fake=True`` (so the
  distributed plumbing is testable end-to-end), NotImplementedError
  otherwise. The container has no image/audio libs (SURVEY.md §0).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from . import arrowrows, codecs

FEATURE_SCHEMA = (
    "image_id string, ok boolean, h int, w int, c int, mean_0 double, "
    "mean_1 double, mean_2 double, contrast double, phash long"
)


def _fake_decode(buf: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic stand-in for an external codec: bytes -> pseudo-pixels
    (xxhash-free, reproducible). Clearly NOT a real decode."""
    a = np.frombuffer(buf, dtype=np.uint8)
    need = max(w * h * 3, 3)
    rep = np.resize(a, need)
    return rep.reshape(max(h, 1), max(w, 1), 3)


def decode_any(buf: bytes, fmt: str, w: int, h: int,
               deterministic_fake: bool = False) -> np.ndarray:
    fmt = fmt.lower()
    if fmt in ("ppm", "pgm", "pnm", "png", "jpeg", "jpg"):
        return codecs.decode_hwc(buf, fmt)
    if deterministic_fake:
        return _fake_decode(buf, w, h)
    raise NotImplementedError(
        f"codec for fmt={fmt!r} requires an external library absent from this "
        "container; pass deterministic_fake=True to exercise the plumbing"
    )


def extract_features(images: DataFrame, deterministic_fake: bool = False) -> DataFrame:
    """Per-image feature row via one Arrow pass (mean/contrast/aHash).

    Bad/undecodable rows are quarantined (ok=false) instead of failing the
    job — the ops posture a 100 TB pipeline needs."""
    def kern(iid, byts, fmt, w_, h_):
        try:
            img = decode_any(byts, fmt, int(w_), int(h_), deterministic_fake)
            means = img.astype(np.float64).mean(axis=(0, 1))
            m = [float(means[i]) if i < img.shape[2] else None for i in range(3)]
            yield (iid, True, img.shape[0], img.shape[1], img.shape[2], *m,
                   float(img.astype(np.float64).std()), codecs.ahash64(img))
        except Exception:
            yield (iid, False) + (None,) * 8

    return arrowrows.map_rows(images.select("image_id", "bytes", "fmt", "w", "h"),
                              kern, FEATURE_SCHEMA)


def resize_images(images: DataFrame, out_w: int = 16, out_h: int = 16,
                  deterministic_fake: bool = False) -> DataFrame:
    """Nearest-neighbor thumbnail (real for native fmts) re-encoded as PNG."""
    def kern(iid, byts, fmt, w_, h_):
        img = decode_any(byts, fmt, w_, h_, deterministic_fake)
        ys = (np.arange(out_h) * img.shape[0] // out_h)
        xs = (np.arange(out_w) * img.shape[1] // out_w)
        thumb = img[np.ix_(ys, xs)]
        sq = thumb[:, :, 0] if thumb.shape[2] == 1 else thumb
        yield iid, codecs.encode_png(sq), "png", out_w, out_h

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt", "w", "h"), kern,
        "image_id string, bytes binary, fmt string, w int, h int")


def frame_sample_stub(videos: DataFrame, every_n: int = 10,
                      deterministic_fake: bool = False) -> DataFrame:
    """Video frame sampling — same gated-codec pattern as images/audio: the
    Spark plumbing (schema, explode shape, partitioning) is real and tested
    via ``deterministic_fake=True``; the actual container decode raises
    NotImplementedError (no video codec in this container).

    Input: (video_id, bytes, n_frames, w, h); output one row per sampled
    frame (video_id, frame_idx, frame_bytes PNG-gray)."""
    if not deterministic_fake:
        # fail fast on the driver, whatever the input size: an empty
        # partition must not make the unsupported path look supported
        raise NotImplementedError(
            "video frame decode requires an external codec library; "
            "pass deterministic_fake=True to exercise the plumbing"
        )

    def kern(vid, buf, nf, w_, h_):
        for fi in range(0, nf, every_n):
            # frame-dependent fake: container bytes rolled by index
            frame = np.roll(np.resize(np.frombuffer(buf, np.uint8), w_ * h_),
                            fi).reshape(h_, w_)
            yield vid, fi, codecs.encode_png(frame)

    return arrowrows.map_rows(
        videos.select("video_id", "bytes", "n_frames", "w", "h"), kern,
        "video_id string, frame_idx int, frame_bytes binary")


# ---------------------------------------------------------------------------
# audio: WAV/PCM — a REAL non-image modality (RIFF is a public spec and
# needs only struct+numpy; no external codec). 8/16/24/32-bit int PCM and
# 32-bit float, any channel count.
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """float samples in [-1, 1], shape (n,) or (n, channels) -> 16-bit PCM
    WAV bytes (fixture/sink helper)."""
    import struct

    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    pcm = np.clip(np.rint(a * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    ch = a.shape[1]
    byte_rate = sample_rate * ch * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sample_rate,
                                 byte_rate, ch * 2, 16)
    hdr += b"data" + struct.pack("<I", len(data))
    return hdr + data


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (float64 samples (n, channels) in [-1, 1], sample_rate).

    Walks RIFF chunks (fmt/data may be preceded by LIST etc.); supports PCM
    (code 1: 8u/16/24/32-bit) and IEEE float (code 3: f32/f64)."""
    import struct

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt_chunk, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (sz,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        body = buf[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt_chunk = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt_chunk is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, ch, rate, _br, _ba, bits = fmt_chunk
    if audio_fmt == 1:  # integer PCM
        if bits == 8:
            a = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
        elif bits == 16:
            a = np.frombuffer(data, "<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            raw = np.frombuffer(data, np.uint8).reshape(-1, 3)
            v = (raw[:, 0].astype(np.int32)
                 | (raw[:, 1].astype(np.int32) << 8)
                 | (raw[:, 2].astype(np.int32) << 16))
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            a = v.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            a = np.frombuffer(data, "<i4").astype(np.float64) / float(1 << 31)
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif audio_fmt == 3:  # IEEE float
        a = np.frombuffer(data, "<f4" if bits == 32 else "<f8").astype(np.float64)
    else:
        raise ValueError(f"unsupported WAV format code {audio_fmt}")
    n = (len(a) // ch) * ch
    return a[:n].reshape(-1, ch), rate


AUDIO_FEATURE_SCHEMA = (
    "audio_id string, ok boolean, sample_rate int, n_samples long, "
    "channels int, duration_s double, rms double, peak double, "
    "zero_cross_rate double, spectral_centroid_hz double"
)


def extract_audio_features(audio: DataFrame, id_col: str = "audio_id",
                           bytes_col: str = "bytes") -> DataFrame:
    """Per-clip audio features in one Arrow pass — duration, RMS, peak,
    zero-crossing rate, FFT spectral centroid (mono mixdown). Undecodable
    rows quarantine with ok=false, like extract_features."""
    def kern(aid, buf):
        try:
            s, rate = decode_wav(buf)
            mono = s.mean(axis=1)
            n = len(mono)
            rms = float(np.sqrt(np.mean(mono * mono))) if n else 0.0
            peak = float(np.abs(mono).max()) if n else 0.0
            zc = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1]))) if n > 1 else 0.0
            if n > 1:
                spec = np.abs(np.fft.rfft(mono))
                freqs = np.fft.rfftfreq(n, d=1.0 / rate)
                tot = spec.sum()
                cent = float((freqs * spec).sum() / tot) if tot > 0 else 0.0
            else:
                cent = 0.0
            yield (aid, True, rate, n, s.shape[1], round(n / rate, 6), round(rms, 6),
                   round(peak, 6), round(zc, 6), round(cent, 3))
        except Exception:
            yield (aid, False) + (None,) * 8

    return arrowrows.map_rows(audio.select(id_col, bytes_col), kern,
                              AUDIO_FEATURE_SCHEMA)

"""Deterministic seeded fixtures (FIXTURES.md) — the engine's test universe.

Mirrors the role of GDAL autotest's tiny golden inputs (``autotest/gcore/
data/byte.tif`` 20x20 uint8, ``autotest/ogr/data/poly.shp`` 10 attributed
polygons — SURVEY.md §5.1): small, hand-checkable, fully deterministic from
one seed. The `images` schema is the authoritative input shape
(BASELINE.json : input_hint) extended with the lon/lat spatial key; the
Zipf-skewed hot clusters produce the "skewed H3 cells" the baseline metric
requires.

Everything here is plain numpy/pandas — no Spark dependency — so the same
generators feed the sequential oracles and the Spark tests. ``*_spark``
helpers wrap them into DataFrames with explicit schemas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import arrowrows, codecs, geom

SEED = 42

# 8 hot centers (lon, lat) inside the Web-Mercator domain; Zipf s=1.5 weights
HOT_CENTERS = np.array(
    [
        (139.7, 35.7),   # Tokyo-ish
        (-74.0, 40.7),   # NYC-ish
        (2.35, 48.85),   # Paris-ish
        (-118.2, 34.05), # LA-ish
        (116.4, 39.9),   # Beijing-ish
        (-43.2, -22.9),  # Rio-ish
        (28.0, -26.2),   # Joburg-ish
        (77.2, 28.6),    # Delhi-ish
    ]
)
ZIPF_S = 1.5

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber basalt cedar dune ember fjord glade harbor isle "
    "jetty knoll lagoon mesa nadir oasis prairie quarry ridge summit tundra "
    "upland vale wharf xenon yonder zephyr crater basin estuary fault geyser "
    "horizon inlet jungle karst loess scree môrãine"
).split()
assert len(WORDS) == 64


def _zipf_choice(rng: np.random.Generator, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, len(HOT_CENTERS) + 1) ** ZIPF_S
    return rng.choice(len(HOT_CENTERS), size=n, p=w / w.sum())


def _skewed_lonlat(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    idx = _zipf_choice(rng, n)
    lon = HOT_CENTERS[idx, 0] + rng.normal(0, 0.5, n)
    lat = HOT_CENTERS[idx, 1] + rng.normal(0, 0.5, n)
    return np.clip(lon, -179.9, 179.9), np.clip(lat, -84.0, 84.0)


def make_pixels(i: int, w: int, h: int, rng: np.random.Generator) -> np.ndarray:
    """Deterministic gradient + one rng-permuted noise tile (FIXTURES.md §1)."""
    ys, xs = np.mgrid[0:h, 0:w]
    img = (
        (xs[:, :, None] * 3 + ys[:, :, None] * 5 + np.arange(3)[None, None, :] * 7 + i)
        % 256
    ).astype(np.uint8)
    ty, tx = int(rng.integers(0, max(h - 4, 1))), int(rng.integers(0, max(w - 4, 1)))
    img[ty : ty + 4, tx : tx + 4] = rng.integers(0, 256, (min(4, h - ty), min(4, w - tx), 3), dtype=np.uint8)
    return img


def _caption(i: int, rng: np.random.Generator) -> str:
    k = int(rng.integers(3, 8))
    picks = rng.integers(0, 64, k)
    return f"caption {i} " + " ".join(WORDS[j] for j in picks)


def make_images_pdf(n: int = 1000, seed: int = SEED, fmts=("ppm", "png")) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    lon, lat = _skewed_lonlat(rng, n)
    sizes = np.array([16, 20, 32, 64])
    ws = sizes[rng.integers(0, 4, n)]
    hs = sizes[rng.integers(0, 4, n)]
    rows = []
    for i in range(n):
        w, h = int(ws[i]), int(hs[i])
        fmt = fmts[i % len(fmts)]
        img = make_pixels(i, w, h, rng)
        buf = codecs.encode(img, fmt)
        rows.append(
            {
                "image_id": f"img{i:08d}",
                "bytes": buf,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": _caption(i, rng),
                "phash": codecs.ahash64(img),
                "lon": float(lon[i]),
                "lat": float(lat[i]),
            }
        )
    return pd.DataFrame(rows)


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double"
)


def _points_columns(n: int, seed: int, lo: int, hi: int) -> dict[str, np.ndarray]:
    """Rows ``[lo, hi)`` of :func:`make_points_pdf`'s columns. The whole
    rng stream is drawn so a slice matches the table's rows, but the id
    strings are built for the slice only."""
    rng = np.random.default_rng(seed)
    lon, lat = _skewed_lonlat(rng, n)
    phash = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    return {
        "image_id": np.char.add("img", np.arange(lo, hi).astype("U10")),
        "lon": lon[lo:hi],
        "lat": lat[lo:hi],
        "phash": phash[lo:hi],
    }


def make_points_pdf(n: int, seed: int = SEED) -> pd.DataFrame:
    """Vectorized metadata-only images table (no pixel payload) — the
    spatial-bench workload: same Zipf-skewed cells, millions of rows fast."""
    return pd.DataFrame(_points_columns(n, seed, 0, n))


POINTS_SCHEMA = "image_id string, lon double, lat double, phash long"


def points_spark(spark, n: int, seed: int = SEED, partitions: int | None = None):
    """:func:`make_points_pdf` as a DataFrame generated in the executors.

    Task ``i`` of ``k`` (at most ``defaultParallelism``) builds rows
    ``[i*n//k, (i+1)*n//k)``: the slices ``createDataFrame`` would give,
    without a driver-built local relation that rides, serialized, in every
    task reading it (cached or not)."""
    import pyarrow as pa

    k = max(min(n, spark.sparkContext.defaultParallelism), 1)
    schema = arrowrows.arrow_schema(POINTS_SCHEMA)

    def gen(batches):
        for b in batches:
            for i in b.column("id").to_pylist():
                cols = _points_columns(n, seed, i * n // k, (i + 1) * n // k)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[f.name], type=f.type) for f in schema], schema=schema)

    df = spark.range(0, k, 1, k).mapInArrow(gen, schema=POINTS_SCHEMA)
    return df.repartition(partitions) if partitions else df


def synth_images_spark(spark, n: int, partitions: int | None = None,
                       fmts=("ppm", "png"), start: int = 0):
    """DISTRIBUTED deterministic image synthesis: spark.range drives ids,
    one Arrow pass per partition generates pixels + encodes bytes in the
    executors (no driver loop) — how a bench generates 10^5..10^6 real
    image payloads without a driver bottleneck. Fully determined by id."""
    import pyarrow as pa

    from . import codecs as _codecs

    w = 1.0 / np.arange(1, len(HOT_CENTERS) + 1) ** ZIPF_S
    cumw = np.cumsum(w / w.sum())
    centers = HOT_CENTERS.copy()
    fmts = tuple(fmts)

    def gen(batches):
        sizes = np.array([16, 20, 32, 64])
        for b in batches:
            ids = b.column("id").to_numpy(zero_copy_only=False)
            # deterministic uniforms from id (splitmix-ish)
            def u(k):
                x = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
                x = x + np.uint64((k * 0xBF58476D1CE4E5B9) % (1 << 64))
                x ^= x >> np.uint64(31)
                x = x * np.uint64(0x94D049BB133111EB)
                return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            ci = np.searchsorted(cumw, u(1))
            r = np.sqrt(-2.0 * np.log(np.maximum(u(2), 1e-12)))
            th = 2.0 * np.pi * u(3)
            lon = np.clip(centers[ci, 0] + 0.5 * r * np.cos(th), -179.9, 179.9)
            lat = np.clip(centers[ci, 1] + 0.5 * r * np.sin(th), -84.0, 84.0)
            ws = sizes[(u(4) * 4).astype(int)]
            hs = sizes[(u(5) * 4).astype(int)]
            rows_id, rows_b, rows_w, rows_h, rows_f, rows_c, rows_p = (
                [], [], [], [], [], [], [])
            for j in range(len(ids)):
                i = int(ids[j])
                wj, hj = int(ws[j]), int(hs[j])
                ys, xs = np.mgrid[0:hj, 0:wj]
                img = ((xs[:, :, None] * 3 + ys[:, :, None] * 5
                        + np.arange(3)[None, None, :] * 7 + i) % 256).astype(np.uint8)
                fmt = fmts[i % len(fmts)]
                rows_id.append(f"img{i:08d}")
                rows_b.append(_codecs.encode(img, fmt))
                rows_w.append(wj)
                rows_h.append(hj)
                rows_f.append(fmt)
                rows_c.append(f"caption {i}")
                rows_p.append(_codecs.ahash64(img))
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows_id), pa.array(rows_b, type=pa.binary()),
                 pa.array(rows_w, type=pa.int32()), pa.array(rows_h, type=pa.int32()),
                 pa.array(rows_f), pa.array(rows_c),
                 pa.array(rows_p, type=pa.int64()),
                 pa.array(lon), pa.array(lat)],
                names=["image_id", "bytes", "w", "h", "fmt", "caption",
                       "phash", "lon", "lat"],
            )

    base = spark.range(start, start + n)
    if partitions:
        base = base.repartition(partitions)
    return base.mapInArrow(gen, schema=IMAGES_SCHEMA)


def images_spark(spark, n: int = 1000, seed: int = SEED, fmts=("ppm", "png")):
    pdf = make_images_pdf(n, seed, fmts)
    return spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)


# ---------------------------------------------------------------------------
# polygons (analog of autotest poly.shp)
# ---------------------------------------------------------------------------

CATEGORIES = ("park", "water", "urban", "farm")


def make_polygon_rings(rng: np.random.Generator) -> list[np.ndarray]:
    c = HOT_CENTERS[int(_zipf_choice(rng, 1)[0])]
    cx = float(np.clip(c[0] + rng.normal(0, 2.0), -175, 175))
    cy = float(np.clip(c[1] + rng.normal(0, 2.0), -80, 80))
    k = int(rng.integers(5, 13))
    radius = float(rng.uniform(0.2, 3.0))
    ang = np.linspace(0, 2 * np.pi, k, endpoint=False) + rng.uniform(0, 2 * np.pi / k)
    ext = np.column_stack([cx + radius * np.cos(ang), cy + radius * np.sin(ang)])
    rings = [ext]
    if rng.random() < 0.2:
        hole = np.column_stack(
            [cx + 0.5 * radius * np.cos(ang[::-1]), cy + 0.5 * radius * np.sin(ang[::-1])]
        )
        rings.append(hole)
    return rings


def make_polygons_records(p: int = 10, seed: int = SEED + 1) -> list[dict]:
    rng = np.random.default_rng(seed)
    out = []
    for pid in range(p):
        rings = make_polygon_rings(rng)
        allpts = np.vstack(rings)
        out.append(
            {
                "poly_id": pid,
                "rings": [[(float(x), float(y)) for x, y in r] for r in rings],
                "rings_np": rings,
                "bbox": (
                    float(allpts[:, 0].min()),
                    float(allpts[:, 1].min()),
                    float(allpts[:, 0].max()),
                    float(allpts[:, 1].max()),
                ),
                "wkt": geom.polygon_wkt(rings),
                "category": CATEGORIES[int(rng.integers(0, 4))],
                "area": geom.polygon_area(rings),
            }
        )
    return out


POLYGONS_SCHEMA = (
    "poly_id long, rings array<array<struct<x:double,y:double>>>, "
    "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>, "
    "wkt string, category string, area double"
)


def polygons_spark(spark, p: int = 10, seed: int = SEED + 1):
    recs = make_polygons_records(p, seed)
    rows = [
        (r["poly_id"], r["rings"], r["bbox"], r["wkt"], r["category"], r["area"])
        for r in recs
    ]
    return spark.createDataFrame(rows, schema=POLYGONS_SCHEMA)


def polygons_pack(p: int = 10, seed: int = SEED + 1) -> geom.PolygonPack:
    recs = make_polygons_records(p, seed)
    return geom.PolygonPack.from_rings([(r["poly_id"], r["rings_np"]) for r in recs])


# ---------------------------------------------------------------------------
# query points (kNN)
# ---------------------------------------------------------------------------

def make_query_points_pdf(q: int = 500, seed: int = SEED + 2, k: int = 5) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_hot = q // 2
    lon_h, lat_h = _skewed_lonlat(rng, n_hot)
    lon_u = rng.uniform(-179.9, 179.9, q - n_hot)
    lat_u = rng.uniform(-84.0, 84.0, q - n_hot)
    return pd.DataFrame(
        {
            "qid": np.arange(q, dtype=np.int64),
            "lon": np.concatenate([lon_h, lon_u]),
            "lat": np.concatenate([lat_h, lat_u]),
            "k": np.full(q, k, dtype=np.int32),
        }
    )


def query_points_spark(spark, q: int = 500, seed: int = SEED + 2, k: int = 5):
    return spark.createDataFrame(
        make_query_points_pdf(q, seed, k), schema="qid long, lon double, lat double, k int"
    )


# ---------------------------------------------------------------------------
# labels raster (polygonize/rasterize golden input; analog of byte.tif)
# ---------------------------------------------------------------------------

def make_label_image(rng: np.random.Generator, w: int = 20, h: int = 20) -> np.ndarray:
    img = np.zeros((h, w), dtype=np.uint8)
    nblobs = int(rng.integers(3, 7))
    vals = rng.choice(np.arange(1, 256), nblobs, replace=False)
    for b in range(nblobs):
        if rng.random() < 0.5:  # rectangle
            y0, x0 = int(rng.integers(0, h - 3)), int(rng.integers(0, w - 3))
            bh, bw = int(rng.integers(2, 8)), int(rng.integers(2, 8))
            img[y0 : min(y0 + bh, h), x0 : min(x0 + bw, w)] = vals[b]
        else:  # ellipse
            cy, cx = rng.uniform(2, h - 2), rng.uniform(2, w - 2)
            ry, rx = rng.uniform(1.5, 5), rng.uniform(1.5, 5)
            ys, xs = np.mgrid[0:h, 0:w]
            mask = ((ys - cy) / ry) ** 2 + ((xs - cx) / rx) ** 2 <= 1.0
            img[mask] = vals[b]
    return img


def make_labels_pdf(n: int = 8, seed: int = SEED + 3) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    lon, lat = _skewed_lonlat(rng, n)
    rows = []
    for i in range(n):
        img = make_label_image(rng)
        rows.append(
            {
                "image_id": f"lab{i:04d}",
                "bytes": codecs.encode(img, "pgm"),
                "w": 20,
                "h": 20,
                "fmt": "pgm",
                "caption": f"labels {i}",
                "phash": codecs.ahash64(img),
                "lon": float(lon[i]),
                "lat": float(lat[i]),
            }
        )
    return pd.DataFrame(rows)


def labels_spark(spark, n: int = 8, seed: int = SEED + 3):
    return spark.createDataFrame(make_labels_pdf(n, seed), schema=IMAGES_SCHEMA)


def make_formula_images_pdf(n: int = 12, law_shift: int = 0) -> pd.DataFrame:
    """Closed-form grayscale PGM images: ``v(x,y,i) = (x*x + 3*y*y + i*37)
    % 97 + 40``, w = 24+4*(i%3), h = 18+6*(i%2).

    The pixel law is pure integer arithmetic reproducible in ANSI SQL, so a
    DuckDB oracle can regenerate the exact pixels with ``range()`` — giving
    raster entries a TRUE cross-engine oracle (not a committed golden) while
    the Spark side still exercises the real PGM encode/decode path. Values
    span 40..136 (a low-contrast image), which makes histogram equalization
    a non-trivial stretch rather than a near-identity remap.
    """
    rows = []
    for i in range(n):
        w = 24 + 4 * (i % 3)
        h = 18 + 6 * (i % 2)
        ys, xs = np.mgrid[0:h, 0:w]
        img = ((xs * xs + 3 * ys * ys + (i + law_shift) * 37) % 97 + 40).astype(np.uint8)
        rows.append(
            {
                "image_id": f"fim{i:04d}",
                "bytes": codecs.encode(img, "pgm"),
                "w": w,
                "h": h,
                "fmt": "pgm",
                "caption": f"formula {i}",
                "phash": codecs.ahash64(img),
                "lon": 0.0,
                "lat": 0.0,
            }
        )
    return pd.DataFrame(rows)


def formula_images_spark(spark, n: int = 12, law_shift: int = 0):
    """law_shift offsets the per-image parameter i in the pixel law ONLY
    (ids and dims unchanged) — a second deterministic raster set aligned
    with the first, for multi-raster algebra entries."""
    return spark.createDataFrame(
        make_formula_images_pdf(n, law_shift), schema=IMAGES_SCHEMA)


def make_formula_gcps_pdf(n: int = 12) -> pd.DataFrame:
    """Corner GCPs for the formula images under the exact affine
    ``gx = 1000 + 10*i + 3*px + py``, ``gy = 500 + 7*i + px + 2*py``.
    The linear part has determinant 5, so inverse-mapped source
    coordinates are multiples of 1/5 — never on a 0.5 rounding tie —
    making the GCP-warp nearest resample bit-stable against the
    ~1e-13 least-squares fit noise and SQL-replayable exactly."""
    rows = []
    for i in range(n):
        w = 24 + 4 * (i % 3)
        h = 18 + 6 * (i % 2)
        ox, oy = 1000 + 10 * i, 500 + 7 * i
        for px, py in ((0, 0), (w - 1, 0), (0, h - 1), (w - 1, h - 1)):
            rows.append({
                "image_id": f"fim{i:04d}",
                "px": float(px), "py": float(py),
                "gx": float(ox + 3 * px + py),
                "gy": float(oy + px + 2 * py),
            })
    return pd.DataFrame(rows)


GCPS_SCHEMA = "image_id string, px double, py double, gx double, gy double"


def make_formula_tps_gcps_pdf(n: int = 12) -> pd.DataFrame:
    """TPS GCP sets: the four exact-affine corners of
    :func:`make_formula_gcps_pdf` plus a CENTER point displaced by a
    (+4, -3) bend — so the thin-plate spline is genuinely non-affine
    (nonzero kernel weights) while staying anchored at the corners."""
    base = make_formula_gcps_pdf(n)
    rows = []
    for i in range(n):
        w = 24 + 4 * (i % 3)
        h = 18 + 6 * (i % 2)
        ox, oy = 1000 + 10 * i, 500 + 7 * i
        cx, cy = (w - 1) // 2, (h - 1) // 2
        rows.append({
            "image_id": f"fim{i:04d}",
            "px": float(cx), "py": float(cy),
            "gx": float(ox + 3 * cx + cy + 4),
            "gy": float(oy + cx + 2 * cy - 3),
        })
    return pd.concat([base, pd.DataFrame(rows)], ignore_index=True)


def formula_tps_gcps_spark(spark, n: int = 12):
    return spark.createDataFrame(make_formula_tps_gcps_pdf(n), schema=GCPS_SCHEMA)


def formula_gcps_spark(spark, n: int = 12):
    return spark.createDataFrame(make_formula_gcps_pdf(n), schema=GCPS_SCHEMA)


def make_audio_pdf(n: int = 16, seed: int = SEED + 4) -> pd.DataFrame:
    """Deterministic WAV clips: sine mixtures + noise at varied rates/
    channels — exercises the real RIFF/PCM decode path (no external data)."""
    from . import multimodal

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        rate = int(rng.choice([8000, 16000, 22050]))
        dur = float(rng.uniform(0.05, 0.25))
        t = np.arange(int(rate * dur)) / rate
        f0 = float(rng.uniform(100, 2000))
        sig = 0.6 * np.sin(2 * np.pi * f0 * t) + 0.1 * rng.standard_normal(len(t))
        ch = int(rng.choice([1, 2]))
        if ch == 2:
            sig = np.stack([sig, 0.5 * sig], axis=1)
        rows.append({
            "audio_id": f"a{i:04d}",
            "bytes": multimodal.encode_wav(np.clip(sig, -1, 1), rate),
            "fmt": "wav",
            "sample_rate": rate,
            "caption": f"tone {f0:.0f} Hz",
        })
    return pd.DataFrame(rows)


AUDIO_SCHEMA = (
    "audio_id string, bytes binary, fmt string, sample_rate int, caption string"
)


def audio_spark(spark, n: int = 16, seed: int = SEED + 4):
    return spark.createDataFrame(make_audio_pdf(n, seed), schema=AUDIO_SCHEMA)

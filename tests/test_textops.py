"""textops/vectorops engine properties: LSH recall vs exact baselines,
simhash near-dup detection, multimodal quarantine plumbing."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import multimodal, textops, vectorops


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    # 40 base docs + a near-dup (one word changed) for the first 10
    rng = np.random.default_rng(5)
    words = "alpha beta gamma delta eps zeta eta theta iota kappa".split()
    rows = []
    for i in range(40):
        txt = " ".join(rng.choice(words, 60))
        rows.append((i, txt))
        if i < 10:
            mutated = txt.split()
            mutated[30] = "MUTANT"
            rows.append((1000 + i, " ".join(mutated)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_minhash_lsh_finds_near_dups(near_dup_docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in textops.ngram_jaccard_pairs(near_dup_docs, threshold=0.8, n=5).collect()
    }
    planted = {(i, 1000 + i) for i in range(10)}
    assert planted <= exact  # jaccard really is high for planted dups
    cand = {
        (r["id_a"], r["id_b"])
        for r in textops.minhash_lsh_pairs(near_dup_docs, num_hashes=32, bands=16, n=5).collect()
    }
    # recall of planted pairs through LSH banding
    assert len(planted & cand) >= 9


def test_simhash_near_dups(near_dup_docs):
    pairs = textops.simhash_pairs(near_dup_docs, max_hamming=10).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(i, 1000 + i) for i in range(10)}
    assert len(planted & got) >= 8  # one-word change => tiny hamming distance


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["a", "b", "a", "a"]})
    )
    rows = {r["keeper_id"]: r["n_dups"] for r in textops.dedup_exact(df).collect()}
    assert rows == {1: 3, 2: 1}


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "the cat and the dog of the house",
                    "der hund und die katze nicht hier",
                    "le chat et les chiens et le lit",
                    "el perro que ladra y los gatos",
                    "zzz qqq www",
                ],
            }
        )
    )
    got = {r["doc_id"]: r["pred"] for r in
           df.select("doc_id", textops.lang_id(df).alias("pred")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "unknown"}


def test_ann_lsh_recall_vs_bruteforce(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 64)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").persist()
    q = df.filter("vec_id < 20")
    exact = {
        (r["qid"], r["neighbor_id"])
        for r in vectorops.cosine_topk_bruteforce(q, df, k=5).collect()
    }
    approx = {
        (r["qid"], r["neighbor_id"])
        for r in vectorops.cosine_topk_lsh(q, df, k=5, n_planes=24, bands=12).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # LSH with generous banding on random data


def test_multimodal_quarantine_and_fake(spark):
    pdf = pd.DataFrame(
        [
            {"image_id": "good", "bytes": b"P5\n2 2\n255\n\x00\x01\x02\x03",
             "w": 2, "h": 2, "fmt": "pgm"},
            {"image_id": "bad", "bytes": b"garbage", "w": 2, "h": 2, "fmt": "png"},
            {"image_id": "jpeg", "bytes": b"\xff\xd8fakejpegbytes", "w": 4, "h": 4,
             "fmt": "jpeg"},
        ]
    )
    df = spark.createDataFrame(
        pdf, schema="image_id string, bytes binary, w int, h int, fmt string"
    )
    rows = {r["image_id"]: r for r in multimodal.extract_features(df).collect()}
    assert rows["good"]["ok"] and rows["good"]["h"] == 2
    assert not rows["bad"]["ok"]  # quarantined, not crashed
    assert not rows["jpeg"]["ok"]  # fake jpeg bytes -> decode fails, quarantined
    # resize real formats
    out = multimodal.resize_images(df.filter("image_id = 'good'"), 4, 4).collect()[0]
    from gdal_scripts_spark import codecs
    assert codecs.decode(bytes(out["bytes"]), "png").shape == (4, 4)


def test_frame_sample_stub_raises(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"video_id": ["v1"], "bytes": [b"xyzw" * 16],
                      "n_frames": [25], "w": [8], "h": [8]}))
    with pytest.raises(Exception):
        multimodal.frame_sample_stub(df).collect()
    # deterministic-fake path exercises the real explode plumbing
    rows = multimodal.frame_sample_stub(df, every_n=10,
                                        deterministic_fake=True).collect()
    assert [r["frame_idx"] for r in rows] == [0, 10, 20]
    from gdal_scripts_spark import codecs
    f0 = codecs.decode(bytes(rows[0]["frame_bytes"]), "png")
    f1 = codecs.decode(bytes(rows[1]["frame_bytes"]), "png")
    assert f0.shape == (8, 8) and not (f0 == f1).all()


def test_simhash_recall_is_exact(near_dup_docs):
    # pigeonhole guarantee: EVERY pair with hamming <= max must be found
    for max_h in (4, 8):
        sh = textops.simhash64(near_dup_docs)
        a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
        b = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
        exact = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= max_h)
            .collect()
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in textops.simhash_pairs(near_dup_docs, max_hamming=max_h).collect()
        }
        assert got == exact, (max_h, exact - got, got - exact)


def test_lsh_plan_has_no_vector_shuffle(spark):
    import numpy as np
    rng = np.random.default_rng(1)
    pdf = pd.DataFrame({
        "vec_id": range(50),
        "embedding": [v.tolist() for v in rng.standard_normal((50, 64)).astype(np.float32)],
    })
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    out = vectorops.cosine_topk_lsh(df.filter("vec_id < 5"), df, k=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the dedupe must run on ids only: no Exchange/Aggregate touching the
    # embedding column before vectors re-attach
    import re
    # the Aggregate (distinct) output schema must carry only the 2 ids
    m = re.search(r"Aggregate \[qid#\d+L?, neighbor_id#\d+L?\], \[qid#\d+L?, neighbor_id#\d+L?\]", plan)
    assert m is not None, plan[:2000]


def test_wav_roundtrip_and_chunk_walk():
    import numpy as np
    from gdal_scripts_spark import multimodal

    rng = np.random.default_rng(8)
    sig = np.clip(rng.standard_normal(2000) * 0.3, -1, 1)
    buf = multimodal.encode_wav(sig, 16000)
    out, rate = multimodal.decode_wav(buf)
    assert rate == 16000
    assert out.shape == (2000, 1)
    # encode scales by 32767, decode divides by 32768 (both standard):
    # error <= 0.5/32767 rounding + |a|/32768 scale skew
    assert np.abs(out[:, 0] - sig).max() < 0.5 / 32767 + np.abs(sig).max() / 32768 + 1e-9
    # stereo
    st = np.stack([sig, -sig], axis=1)
    out2, _ = multimodal.decode_wav(multimodal.encode_wav(st, 8000))
    assert out2.shape == (2000, 2)
    # extra chunk before data (LIST) must be skipped
    import struct
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    hdr_end = 12
    patched = buf[:hdr_end] + extra + buf[hdr_end:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    out3, _ = multimodal.decode_wav(patched)
    assert np.array_equal(out3, out)
    # 24-bit PCM path: hand-build a fmt/data pair
    vals = np.array([0, 1 << 22, -(1 << 22), (1 << 23) - 1], dtype=np.int64)
    raw = bytearray()
    for v in vals:
        u = int(v) & 0xFFFFFF
        raw += bytes([u & 0xFF, (u >> 8) & 0xFF, (u >> 16) & 0xFF])
    body = (b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000 * 3, 3, 24)
            + b"data" + struct.pack("<I", len(raw)) + bytes(raw))
    wav24 = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    s24, r24 = multimodal.decode_wav(wav24)
    assert r24 == 8000
    want = vals.astype(np.float64) / float(1 << 23)
    assert np.abs(s24[:, 0] - want).max() < 1e-12


def test_audio_features_spark(spark):
    from gdal_scripts_spark import fixtures, multimodal

    audio = fixtures.audio_spark(spark, n=8)
    rows = {r["audio_id"]: r for r in
            multimodal.extract_audio_features(audio).collect()}
    assert len(rows) == 8 and all(r["ok"] for r in rows.values())
    pdf = fixtures.make_audio_pdf(n=8)
    for _, src in pdf.iterrows():
        r = rows[src["audio_id"]]
        assert r["sample_rate"] == src["sample_rate"]
        assert 0 < r["rms"] < 1
        # spectral centroid in a plausible band for a sine+noise mixture
        assert 0 < r["spectral_centroid_hz"] < src["sample_rate"] / 2
    # quarantine: garbage bytes -> ok=false
    bad = spark.createDataFrame(
        [("bad", b"not a wav")], "audio_id string, bytes binary")
    q = multimodal.extract_audio_features(bad).collect()[0]
    assert q["ok"] is False


def test_ann_ivf_recall_vs_bruteforce(spark):
    rng = np.random.default_rng(13)
    vecs = rng.standard_normal((300, 64)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").persist()
    q = df.filter("vec_id < 20")
    exact = {
        (r["qid"], r["neighbor_id"])
        for r in vectorops.cosine_topk_bruteforce(q, df, k=5).collect()
    }
    approx = {
        (r["qid"], r["neighbor_id"])
        for r in vectorops.cosine_topk_ivf(q, df, k=5, n_centroids=8,
                                           n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # probing half the coarse buckets
    # bucket assignment is one scalar Arrow UDF (eval type 250) in the
    # corpus scan, no row-at-a-time Python
    from gdal_scripts_spark.vectorops import _kmeans_lite
    cent = _kmeans_lite(vecs[:128].astype(np.float64), 8)
    plan = df.select(
        vectorops.nearest_centroids(F.col("embedding"), cent, 1)[0].alias("b")
    )._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython .*, 250$", plan, re.M)) == 1, plan
    assert "BatchEvalPython" not in plan


def test_ann_ivf_wide_arrow_kernel(spark):
    # a real coarse-quantizer width (128 centroids); at high n_probe the
    # candidate set covers most of the corpus, so recall vs brute force
    # must be near-perfect
    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((400, 64)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(400), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").persist()
    q = df.filter("vec_id < 20")
    exact = {
        (r["qid"], r["neighbor_id"])
        for r in vectorops.cosine_topk_bruteforce(q, df, k=5).collect()
    }
    approx = {
        (r["qid"], r["neighbor_id"])
        for r in vectorops.cosine_topk_ivf(q, df, k=5, n_centroids=128,
                                           n_probe=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, recall


def _seq_nearest(v, cent, n):
    """Sequential oracle: per centroid, squared differences summed in
    dimension order from 0.0; sort by (distance, centroid id)."""
    d = []
    for ci, c in enumerate(cent):
        acc = 0.0
        for a, b in zip(v, c):
            acc += (a - b) * (a - b)
        d.append((acc, ci))
    return [ci for _, ci in sorted(d)[:n]]


@pytest.mark.parametrize("k", [8, 32, 128])
def test_nearest_centroids_match_sequential_oracle(spark, k):
    rng = np.random.default_rng(19)
    dim = 16
    vecs = rng.standard_normal((300, dim)).astype(np.float32)
    cent = rng.standard_normal((k, dim))
    # (1, 0, ..., 0) is at squared distance exactly 1 from centroids 1
    # (the origin) and 4 (2, 0, ..., 0): the lower id wins
    cent[1] = 0.0
    cent[4] = 0.0
    cent[4][0] = 2.0
    tie = np.zeros(dim)
    tie[0] = 1.0
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    rows += [(300, tie.tolist()), (301, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id", vectorops.nearest_centroids(F.col("embedding"), cent, 3).alias("b")
    ).collect()}
    assert got.pop(301) is None  # NULL vector -> NULL
    assert got[300][:2] == [1, 4]
    for i, v in rows[:-1]:
        assert got[i] == _seq_nearest(v, cent, 3), i


def test_deterministic_sample_properties(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s20 = set(r["doc_id"] for r in textops.deterministic_sample(docs, "doc_id", 0.2).collect())
    s50 = set(r["doc_id"] for r in textops.deterministic_sample(docs, "doc_id", 0.5).collect())
    # deterministic: same result twice
    s20b = set(r["doc_id"] for r in textops.deterministic_sample(docs, "doc_id", 0.2).collect())
    assert s20 == s20b
    # nested: raising the rate only grows the kept set
    assert s20 <= s50
    # roughly the right fraction (md5 is uniform; 2000 draws)
    assert 0.15 < len(s20) / 2000 < 0.25
    assert 0.45 < len(s50) / 2000 < 0.55
    # salt gives an independent draw
    salted = set(r["doc_id"] for r in textops.deterministic_sample(docs, "doc_id", 0.2, salt="v2").collect())
    assert salted != s20
    # rate >= 1 keeps everything
    assert textops.deterministic_sample(docs, "doc_id", 1.0).count() == 2000


def test_stratified_sample_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, schema="doc_id long, lang string")
    out = textops.stratified_sample(df, "doc_id", "lang", rates={"en": 0.5, "fr": 0.1})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 0.4 < counts["en"] / 1000 < 0.6
    assert 0.05 < counts["fr"] / 1000 < 0.16
    # stratum not in rates + default_rate=0 -> dropped entirely
    df2 = df.withColumn("lang", F.lit("zz"))
    assert textops.stratified_sample(df2, "doc_id", "lang", rates={"en": 0.5}).count() == 0


def test_normalize_text_idempotent(spark):
    df = spark.createDataFrame(
        [(1, "  Hello\t\tWORLD \n foo\r\nbar  "), (2, "already clean")],
        schema="doc_id long, text string",
    )
    one = df.select(textops.normalize_text("text").alias("t"))
    vals = [r["t"] for r in one.collect()]
    assert vals == ["hello world foo bar", "already clean"]
    # idempotence: normalizing a normalized column is a no-op
    two = one.select(textops.normalize_text("t").alias("t"))
    assert [r["t"] for r in two.collect()] == vals


def test_minhash_incremental_identity(near_dup_docs):
    # incremental(new vs corpus-index) == full-run pairs touching a new id
    corpus = near_dup_docs.filter("doc_id < 1000")
    new = near_dup_docs.filter("doc_id >= 1000")
    assert corpus.count() > 0 and new.count() > 0
    bands_tbl = textops.minhash_band_table(corpus, num_hashes=32, bands=8, n=3)
    got = {
        (r["id_a"], r["id_b"])
        for r in textops.minhash_lsh_pairs_incremental(
            new, bands_tbl, num_hashes=32, bands=8, n=3
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in textops.minhash_lsh_pairs(
            near_dup_docs, num_hashes=32, bands=8, n=3
        ).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert got == expected
    assert len(got) > 0  # the fixture plants near-dup pairs across the split


def test_stratified_sample_rate_one_keeps_all(spark):
    # regression: rate >= 1.0 must keep the whole stratum ('10000' would
    # sort below most 4-hex buckets and drop nearly everything)
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(400)]
    df = spark.createDataFrame(rows, schema="doc_id long, lang string")
    out = textops.stratified_sample(df, "doc_id", "lang", rates={"en": 1.0, "fr": 0.25})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["en"] == 200
    assert 25 <= counts.get("fr", 0) <= 80


def test_pq_codes_match_sequential_argmin(spark):
    rng = np.random.default_rng(29)
    vecs = rng.standard_normal((60, 64)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    books = vectorops.pq_train(df, m=8, ksub=4, sample_n=60)
    assert books.shape == (8, 4, 8)
    got = {
        r["vec_id"]: r["codes"]
        for r in df.select(
            "vec_id", vectorops.pq_encode(F.col("embedding"), books).alias("codes")
        ).collect()
    }
    # sequential oracle: per-subspace full-distance argmin
    for i in range(60):
        x = vecs[i].astype(np.float64)
        for j in range(8):
            sub = x[j * 8:(j + 1) * 8]
            d = ((books[j] - sub[None, :]) ** 2).sum(axis=1)
            assert got[i][j] == int(d.argmin()), (i, j)


def test_pq_adc_distance_and_recall(spark):
    rng = np.random.default_rng(31)
    # clustered data (PQ's design regime): 10 centers + noise
    centers = rng.standard_normal((10, 64)) * 3.0
    vecs = (centers[rng.integers(0, 10, 400)]
            + rng.standard_normal((400, 64)) * 0.5).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(400), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").persist()
    q = df.filter("vec_id < 15")
    books = vectorops.pq_train(df, m=8, ksub=16, sample_n=400)
    rows = vectorops.pq_topk(q, df, books, k=5).collect()
    assert len(rows) == 15 * 5
    # ADC distance is EXACTLY the codebook-reconstruction distance: check
    # one (query, neighbor) pair against a sequential recomputation
    r0 = rows[0]
    xq = vecs[r0["qid"]].astype(np.float64)
    xn = vecs[r0["neighbor_id"]].astype(np.float64)
    d = 0.0
    for j in range(8):
        sub = xn[j * 8:(j + 1) * 8]
        c = books[j][((books[j] - sub[None, :]) ** 2).sum(axis=1).argmin()]
        d += ((xq[j * 8:(j + 1) * 8] - c) ** 2).sum()
    assert abs(d - r0["dist"]) < 1e-5
    # recall@5 vs exact L2 brute (numpy oracle) on clustered data
    exact = set()
    for i in range(15):
        dd = ((vecs.astype(np.float64) - vecs[i].astype(np.float64)) ** 2).sum(axis=1)
        dd[i] = np.inf
        for n in np.argsort(dd, kind="stable")[:5]:
            exact.add((i, int(n)))
    approx = {(r["qid"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    # raw ADC ranks coarsely when true neighbors sit within quantization
    # error of each other (tight clusters): this is the measured floor the
    # rerank path exists for
    assert recall >= 0.15, recall
    # production shape: ADC shortlist (50) + exact re-rank -> high recall
    rr = {(r["qid"], r["neighbor_id"])
          for r in vectorops.pq_topk(q, df, books, k=5, rerank=50).collect()}
    rr_recall = len(exact & rr) / len(exact)
    assert rr_recall >= 0.85, rr_recall
    # partitioning independence: identical result at a different layout
    again = {(r["qid"], r["rank"], r["neighbor_id"], r["dist"])
             for r in vectorops.pq_topk(q, df.repartition(17), books, k=5).collect()}
    first = {(r["qid"], r["rank"], r["neighbor_id"], r["dist"]) for r in rows}
    assert again == first


def test_pq_ivf_matches_full_scan_when_probing_all(spark):
    rng = np.random.default_rng(37)
    vecs = rng.standard_normal((300, 64)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").persist()
    q = df.filter("vec_id < 8")
    books = vectorops.pq_train(df, m=8, ksub=16, sample_n=300)
    full = {(r["qid"], r["rank"], r["neighbor_id"], r["dist"])
            for r in vectorops.pq_topk(q, df, books, k=5).collect()}
    ivf_all = {(r["qid"], r["rank"], r["neighbor_id"], r["dist"])
               for r in vectorops.pq_topk_ivf(
                   q, df, books, k=5, n_centroids=8, n_probe=8).collect()}
    # probing every coarse bucket == the unpruned ADC scan, exactly
    assert full == ivf_all


def test_pq_ivf_pruned_recall_with_rerank(spark):
    rng = np.random.default_rng(43)
    centers = rng.standard_normal((10, 64)) * 3.0
    vecs = (centers[rng.integers(0, 10, 400)]
            + rng.standard_normal((400, 64)) * 0.5).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(400), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").persist()
    q = df.filter("vec_id < 12")
    books = vectorops.pq_train(df, m=8, ksub=16, sample_n=400)
    rows = vectorops.pq_topk_ivf(q, df, books, k=5, n_centroids=16,
                                 n_probe=6, rerank=50).collect()
    exact = set()
    for i in range(12):
        dd = ((vecs.astype(np.float64) - vecs[i].astype(np.float64)) ** 2).sum(axis=1)
        dd[i] = np.inf
        for n in np.argsort(dd, kind="stable")[:5]:
            exact.add((i, int(n)))
    approx = {(r["qid"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    # coarse pruning to 6/16 buckets + ADC shortlist + exact re-rank: the
    # clusters are well-separated, so the probed buckets hold the true
    # neighbors and the re-rank fixes ADC's within-cluster coarseness
    assert recall >= 0.8, recall


def test_pq_rerank_narrower_than_k_rejected(spark):
    # 0 < rerank < k would silently return < k rows per query (r4 ADVICE)
    rng = np.random.default_rng(47)
    vecs = rng.standard_normal((40, 64)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    books = vectorops.pq_train(df, m=8, ksub=4, sample_n=40)
    with pytest.raises(ValueError, match="rerank"):
        vectorops.pq_topk(df.limit(2), df, books, k=5, rerank=3)
    with pytest.raises(ValueError, match="rerank"):
        vectorops.pq_topk_ivf(df.limit(2), df, books, k=5, rerank=3)


def test_pq_codes_packed_binary(spark):
    # round-5 layout: codes ride as PACKED uint8 binary (m bytes/row, the
    # TPAMI'11 design point)
    rng = np.random.default_rng(53)
    vecs = rng.standard_normal((80, 64)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(80), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    books = vectorops.pq_train(df, m=8, ksub=16, sample_n=80)
    codes = df.select(
        F.col("vec_id").alias("neighbor_id"),
        vectorops.pq_encode(F.col("embedding"), books).alias("codes"),
    )
    first = codes.orderBy("neighbor_id").first()
    assert isinstance(first["codes"], (bytes, bytearray))
    assert len(first["codes"]) == 8  # m bytes per vector, packed
    # ksub > 256 cannot pack into uint8 — rejected eagerly
    with pytest.raises(ValueError, match="256"):
        vectorops.pq_encode(F.col("embedding"), np.zeros((8, 257, 8)))


def test_ann_null_vectors(spark):
    # a NULL vector gets NULL codes and no bucket, so it takes no part in
    # any search: the results equal those over the corpus without it, and
    # a NULL query has no rows
    rng = np.random.default_rng(59)
    vecs = rng.standard_normal((120, 64)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = spark.createDataFrame(rows + [(500, None), (501, None)],
                               "vec_id long, embedding array<float>")
    q, q_clean = df.filter("vec_id < 5 OR vec_id = 500"), clean.filter("vec_id < 5")
    books = vectorops.pq_train(df, m=8, ksub=16)
    assert np.array_equal(books, vectorops.pq_train(clean, m=8, ksub=16))

    def codes(d):
        return {r["vec_id"]: r["c"] for r in d.select(
            "vec_id", vectorops.pq_encode(F.col("embedding"), books).alias("c")
        ).collect()}

    got = codes(df)
    assert got.pop(500) is None and got.pop(501) is None
    assert got == codes(clean)

    def rows_of(d):
        return sorted(map(tuple, d.collect()))

    ivf = rows_of(vectorops.cosine_topk_ivf(q, df, k=5, n_centroids=8, n_probe=4))
    assert ivf == rows_of(vectorops.cosine_topk_ivf(
        q_clean, clean, k=5, n_centroids=8, n_probe=4))
    pq_ivf = rows_of(vectorops.pq_topk_ivf(q, df, books, k=5, n_centroids=8,
                                           n_probe=4, rerank=10))
    assert pq_ivf == rows_of(vectorops.pq_topk_ivf(
        q_clean, clean, books, k=5, n_centroids=8, n_probe=4, rerank=10))
    assert len(ivf) == len(pq_ivf) == 25


# ---------------------------------------------------------------------------
# winnow_fingerprints — rolling-hash winnowing (Schleimer et al. SIGMOD'03)
# ---------------------------------------------------------------------------

def _winnow_ref(text, k=5, w=4):
    """Independent pure-Python reference of the same spec."""
    import re
    t = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", "", text.lower())).strip()
    if len(t) < k:
        return set()
    hs = []
    for i in range(len(t) - k + 1):
        h = 0
        for ch in t[i:i + k]:
            h = h * 257 + ord(ch)
        hs.append(h % 2147483647)
    n_win = max(len(hs) - w + 1, 1)
    return {min(hs[s:s + w]) for s in range(n_win)}


def test_winnow_matches_python_reference(spark):
    texts = [
        "The quick brown fox jumps over the lazy dog!",
        "pack my box with five dozen liquor jugs",
        "aaaaaaaaaaaaaaa",
        "ab",                      # shorter than k -> drops out
        "Mixed CASE and   runs\tof ws, plus punct... 123",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {}
    for r in textops.winnow_fingerprints(df, k=5, w=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in enumerate(texts):
        want = _winnow_ref(t, 5, 4)
        assert got.get(i, set()) == want, (i, t)


def test_winnow_shared_substring_guarantee(spark):
    # SIGMOD'03 guarantee: a shared substring of length >= w + k - 1
    # (here 8) produces at least one shared fingerprint.
    common = "distinctive shared phrase carried verbatim"
    df = spark.createDataFrame(
        [(1, "lead-in words then " + common),
         (2, common + " with a completely different tail here")],
        "doc_id long, text string")
    rows = textops.winnow_fingerprints(df, k=5, w=4).collect()
    fps1 = {r["fp"] for r in rows if r["doc_id"] == 1}
    fps2 = {r["fp"] for r in rows if r["doc_id"] == 2}
    assert fps1 & fps2, "no shared fingerprint for a long shared substring"


def test_winnow_density_and_validation(spark):
    df = spark.createDataFrame(
        [(1, "word " * 60)], "doc_id long, text string")
    n = textops.winnow_fingerprints(df, k=5, w=4).count()
    t = ("word " * 60).strip()
    n_grams = len(t) - 5 + 1
    # selected set is nonempty and no bigger than the window count
    assert 1 <= n <= max(n_grams - 4 + 1, 1)
    with pytest.raises(ValueError, match="k >= 2"):
        textops.winnow_fingerprints(df, k=1, w=4)


def test_tfidf_top_terms_hand_computed(spark, tmp_path):
    # tiny corpus with hand-computed sklearn smooth-idf scores:
    # idf = ln((1+N)/(1+df)) + 1, N=3
    import math

    rows = [
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "cherry apple dates dates"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "t"
    pdf["n_chars"] = pdf.text.str.len()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))

    from gdal_scripts_spark.queries import QUERIES

    out = {
        (r["doc_id"], r["rk"]): r
        for r in QUERIES["tfidf_top_terms"][0](spark, str(tmp_path)).collect()
    }
    idf2 = math.log(4 / 3) + 1          # df = 2
    idf1 = math.log(4 / 2) + 1          # df = 1
    r = out[(1, 1)]
    assert r["token"] == "apple" and r["n_td"] == 2 and r["df_t"] == 2
    assert r["score"] == round(2 * idf2, 4)
    assert out[(1, 2)]["token"] == "banana"
    d3 = out[(3, 1)]
    assert d3["token"] == "dates" and d3["score"] == round(2 * idf1, 4)
    # equal-score tie (apple vs cherry, both 1*idf2) breaks by token asc
    assert out[(3, 2)]["token"] == "apple"
    assert out[(3, 3)]["token"] == "cherry"


def test_bm25_hand_computed(spark, tmp_path):
    # 3 docs, query {apple, dates}; k1=1.2, b=0.75, hand-derived BM25
    import math

    rows = [
        (1, "apple banana apple"),       # dl=3
        (2, "banana cherry"),            # dl=2
        (3, "cherry apple dates dates"),  # dl=4
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf)
    out = {r["doc_id"]: r for r in textops.bm25_scores(
        df, ["apple", "dates"], topn=10).collect()}
    avgdl = 3.0
    idf_apple = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))   # df=2
    idf_dates = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))   # df=1

    def term(tf, dl, idf):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert out[1]["n_terms"] == 1
    assert out[1]["score"] == round(term(2, 3, idf_apple), 4)
    assert out[3]["n_terms"] == 2
    assert out[3]["score"] == round(
        term(1, 4, idf_apple) + term(2, 4, idf_dates), 4)
    assert 2 not in out  # no query term -> no row
    with pytest.raises(ValueError, match="non-empty"):
        textops.bm25_scores(df, [])


def test_bm25_topn_cut_and_tiebreak(spark):
    # identical docs score equally; the cut keeps the lowest doc ids
    rows = [(i, "apple pie") for i in range(1, 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = textops.bm25_scores(df, ["apple"], topn=3).collect()
    assert [r["doc_id"] for r in got] == [1, 2, 3]
    assert len({r["score"] for r in got}) == 1


def test_split_assign_matches_md5_rule_and_proportions(spark):
    import hashlib

    df = spark.range(0, 2000).select(
        F.col("id"),
        textops.split_assign(F.col("id"), (0.8, 0.1)).alias("split"),
    )
    got = {r["id"]: r["split"] for r in df.collect()}
    counts = {"train": 0, "val": 0, "test": 0}
    for i in range(2000):
        b = hashlib.md5(str(i).encode()).hexdigest()[:4]
        exp = "train" if b < "cccd" else ("val" if b < "e666" else "test")
        assert got[i] == exp
        counts[exp] += 1
    assert abs(counts["train"] / 2000 - 0.8) < 0.03
    assert abs(counts["val"] / 2000 - 0.1) < 0.03


def test_split_assign_validation():
    with pytest.raises(ValueError, match="len\\(names\\)"):
        textops.split_assign(F.lit("x"), (0.5,), names=("a",))
    with pytest.raises(ValueError, match="sum < 1"):
        textops.split_assign(F.lit("x"), (0.8, 0.3))
    with pytest.raises(ValueError, match="sum < 1"):
        textops.split_assign(F.lit("x"), (0.8, -0.1))


def test_word_ngrams_windows_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "  a\t b "), (4, ""), (5, "x y z")],
        "id long, text string",
    )
    got = {
        r["id"]: r["g"]
        for r in df.select("id", textops.word_ngrams("text", 3).alias("g")).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []  # shorter than n: no descending-sequence garbage
    assert got[3] == ["a b"] or got[3] == []  # 2 tokens after trim-split
    assert got[4] == []
    assert got[5] == ["x y z"]


def test_decontaminate_hand_case(spark):
    # benchmark doc is id 0 (0 % 37 == 0); train docs 1..3
    rows = [
        (0, "the quick brown fox jumps"),
        (1, "a the quick brown fox here"),   # shares 2 distinct 3-grams
        (2, "quick brown fox"),              # shares 1
        (3, "nothing in common at all"),     # shares 0 -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_overlap"]
        for r in textops.decontaminate(df, n=3).collect()
    }
    assert got == {1: 2, 2: 1}


def test_bigram_nll_hand_computed(spark):
    import math
    # corpus: "a b a b" (doc 1), "a a" (doc 2), "z" (doc 3: no bigrams)
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "z")], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["nll"])
           for r in textops.bigram_nll(df).collect()}
    # V=3 (a, b, z); c(a)=4, c(b)=2
    # bigrams: ab x2, ba x1, aa x1 -> c(ab)=2, c(ba)=1, c(aa)=1
    p_ab = (2 + 1) / (4 + 3)
    p_ba = (1 + 1) / (2 + 3)
    p_aa = (1 + 1) / (4 + 3)
    nll1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    nll2 = -math.log(p_aa)
    assert 3 not in got
    assert got[1][0] == 3 and abs(got[1][1] - round(nll1, 6)) < 1e-9
    assert got[2][0] == 1 and abs(got[2][1] - round(nll2, 6)) < 1e-9


def _bpe_reference(word_counts, n_merges):
    """Independent plain-Python BPE (Sennrich'16 alg. 1) for cross-checking
    the DataFrame implementation."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    out = []
    for step in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((step, l, r, c))
        nv = {}
        for syms, cnt in vocab.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    ns.append(l + r); i += 2
                else:
                    ns.append(syms[i]); i += 1
            nv[tuple(ns)] = nv.get(tuple(ns), 0) + cnt
        vocab = nv
    return out


def test_bpe_merges_matches_independent_reference(spark):
    rows = [(i, t) for i, t in enumerate(
        ["low lower lowest", "new newer newest", "low low new",
         "wider wide wide", "newest lowest"] * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["step"], r["lhs"], r["rhs"], r["pair_count"])
           for r in textops.bpe_merges(df, n_merges=6).collect()]
    wc = {}
    for _, t in rows:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    exp = _bpe_reference(wc, 6)
    assert got == exp and len(got) == 6


def test_bpe_overlapping_merge_is_greedy_left(spark):
    df = spark.createDataFrame([(0, "aaa aaa")], "doc_id long, text string")
    got = [(r["lhs"], r["rhs"], r["pair_count"])
           for r in textops.bpe_merges(df, n_merges=2).collect()]
    # 'aaa' x2: pair (a,a) count = 2 occurrences/word * 2 words = 4;
    # greedy left fold turns 'aaa' into ['aa','a'], so round 2 merges
    # ('aa','a') with count 2
    assert got == [("a", "a", 4), ("aa", "a", 2)]


def test_dup_substring_spans_hand_case(spark):
    # doc 1 and 2 share the exact 30-char block "0123456789012345678901234567xy"
    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcd"   # 30 chars
    # the characters ADJACENT to the block differ per doc, so the true
    # repeated substring is exactly the 30-char block (no boundary bleed)
    rows = [
        (1, "prefix-one." + shared + ",tail-1"),
        (2, "other-start:" + shared + ";end-2"),
        (3, "совершенно unrelated text with no repeats at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_runs"], r["n_dup_positions"], r["max_dup_len"])
           for r in textops.dup_substring_spans(df, k=24).collect()}
    # 30-char shared block => 30-24+1 = 7 consecutive dup positions/doc,
    # one run, max_dup_len = 7 + 23 = 30 = the true repeated length
    assert got[1] == (1, 7, 30)
    assert got[2] == (1, 7, 30)
    assert 3 not in got


def test_decontaminate_shuffle_join_variant_identical(spark):
    rows = [
        (0, "the quick brown fox jumps"),
        (1, "a the quick brown fox here"),
        (2, "quick brown fox"),
        (3, "nothing in common at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, textops.decontaminate(df, n=3).collect()))
    b = sorted(map(tuple, textops.decontaminate(
        df, n=3, broadcast_bench=False).collect()))
    assert a == b == [(1, 2), (2, 1)]

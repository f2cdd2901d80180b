"""ingest_documents: planted-scenario semantics of the composite pipeline."""

from pyspark.sql import functions as F

from gdal_scripts_spark import pipeline


def _kept(spark, batch_rows, corpus_rows, **kw):
    batch = spark.createDataFrame(
        batch_rows, schema="doc_id long, text string, lang string"
    )
    corpus = spark.createDataFrame(
        corpus_rows, schema="doc_id long, text string, lang string"
    )
    out = pipeline.ingest_documents(batch, corpus, **kw)
    return {r["doc_id"] for r in out.collect()}


BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the quiet green forest tonight")


def test_ingest_scenarios(spark):
    corpus = [(1, BASE, "en")]
    batch = [
        # near-dup of corpus doc 1 -> dropped (corpus-linked component)
        (301, BASE.replace("tonight", "today"), "en"),
        # exact pair within batch: min id 302 kept, 303 dropped
        (302, "completely different sentence about spark dataframes and "
              "arrow batches flowing through executors", "en"),
        (303, "completely different sentence about spark dataframes and "
              "arrow batches flowing through executors", "en"),
        # near-dup pair within batch, no corpus link: keeper 304 kept
        (304, "zonal statistics compute exact moments per polygon over "
              "raster pixels with a broadcast pack", "en"),
        (305, "zonal statistics compute exact moments per polygon over "
              "raster pixels with a broadcast sack", "en"),
        # quality gate: too short -> dropped
        (306, "tiny text", "en"),
        # clean singleton -> kept
        (307, "an entirely unrelated document describing tile pyramids and "
              "mercator quadkeys at zoom twelve", "en"),
    ]
    kept = _kept(spark, batch, corpus, jaccard_threshold=0.5, ngram=8,
                 min_chars=40, max_digit_ratio=0.3)
    assert kept == {302, 304, 307}


def test_ingest_transitive_corpus_chain(spark):
    # 401 near-dups 402, 402 near-dups corpus 9 -> the WHOLE component is
    # corpus-linked, both dropped (not just the directly-linked one)
    t = BASE
    corpus = [(9, t, "en")]
    batch = [
        (401, t.replace("tonight", "tonite").replace("quick", "quack"), "en"),
        (402, t.replace("tonight", "tonite"), "en"),
    ]
    kept = _kept(spark, batch, corpus, jaccard_threshold=0.4, ngram=8,
                 min_chars=40, max_digit_ratio=0.3)
    assert kept == set()


def test_ingest_exact_corpus_dup_dropped(spark):
    corpus = [(9, BASE, "en")]
    batch = [(501, "  " + BASE.upper() + "  ", "en")]  # normalizes to equal
    kept = _kept(spark, batch, corpus, min_chars=40)
    assert kept == set()


def test_merge_upsert_actions(spark):
    from gdal_scripts_spark import etl

    cur = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None), (5, "e")],
        "doc_id long, text string")
    inc = spark.createDataFrame(
        [(2, "b"), (3, "C2"), (9, "new"), (4, None), (5, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["action"], r["text"])
           for r in etl.merge_upsert(cur, inc).collect()}
    # NULL payloads: both NULL is unchanged; an incoming NULL wins
    assert got == {
        1: ("keep", "a"), 2: ("unchanged", "b"),
        3: ("update", "C2"), 9: ("insert", "new"),
        4: ("unchanged", None), 5: ("update", None),
    }

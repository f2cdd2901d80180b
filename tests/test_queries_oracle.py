"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle must match DuckDB on row count, column names, and
order-insensitive values at sf0.01."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style tolerance: queries already round; normalize -0.0 etc.
        return round(v, 9)
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_duckdb(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]
    res = ddb.execute(ORACLES[name])
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (name, scols, dcols)
    assert len(srows) == len(drows), (name, len(srows), len(drows))
    a = _rowset(scols, srows)
    b = _rowset(dcols, drows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs {diff}")


def test_rows_only_queries_run(spark):
    qs = entrymod.queries()
    for name in sorted(set(qs) - set(ORACLES)):
        n = qs[name](spark, SF_DIR).count()
        assert n >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["poly_id", "n_images"]


def test_translate_layer_schema_map(spark):
    from gdal_scripts_spark import etl
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [(1, "ann", 3.5), (2, "bob", -1.25)], "id int, name string, bal double"
    )
    out = etl.translate_layer(
        src,
        fields=[
            ("uid", "id", "bigint"),
            ("label", "upper(name)", None),
            ("cents", "CAST(round(bal * 100) AS BIGINT)", None),
            ("missing", None, "string"),
        ],
        where="id >= 1",
    )
    assert out.columns == ["uid", "label", "cents", "missing"]
    assert dict(out.dtypes)["uid"] == "bigint"
    assert dict(out.dtypes)["missing"] == "string"
    rows = {r["uid"]: r for r in out.collect()}
    assert rows[1]["label"] == "ANN" and rows[1]["cents"] == 350
    assert rows[2]["cents"] == -125 and rows[2]["missing"] is None


def test_session_window_inclusive_gap_boundary(spark):
    """Spark's session_window merge is INCLUSIVE at the boundary: an event
    exactly gap seconds after the previous one MERGES (adjacent windows
    coalesce); only a strictly larger gap starts a new session. Pins the
    boundary the session_window_native oracle replays with
    epoch_us > 3600000000 (strictly-greater break)."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u1", t0),
        ("u1", t0 + dt.timedelta(seconds=3600)),          # exactly gap: merges
        ("u1", t0 + dt.timedelta(seconds=3600 + 3601)),   # gap + 1s: new
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = (
        df.groupBy("user_id", F.session_window("ts", "1 hour").alias("sw"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp("sw.start").alias("s"), "n")
        .collect()
    )
    assert sorted((r["s"], r["n"]) for r in got) == [
        (int(t0.timestamp()), 2),
        (int(t0.timestamp()) + 7201, 1),
    ]


def test_timestamp_entries_key_on_whole_seconds(spark, tmp_path, monkeypatch):
    """The engine keys, orders and frames these entries on whole epoch
    seconds (``unix_timestamp``) with event_id breaking same-second ties;
    each oracle must compute that function, not the fractional epoch.
    Same-second pairs whose event_id order runs against their time order,
    and gaps of 59.5 s and 3600.5 s whose whole-second gaps are 60 and
    3600, tell the two apart."""
    import datetime as dt

    import pandas as pd

    from gdal_scripts_spark import queries

    t0 = dt.datetime(2024, 1, 1)

    def at(sec):
        return t0 + dt.timedelta(seconds=sec)

    ev = pd.DataFrame(
        [
            # same second, lower id later in time: the first event by key
            (0, at(100.7), 1, "a", 1.0),
            (1, at(100.2), 1, "b", 2.0),
            # 3600.5 s apart, 3600 whole seconds: one session, one hour frame
            (2, at(1000.2), 1, "a", 3.0),
            (3, at(4600.7), 1, "a", 4.0),
            # 59.5 s after event 3, 60 whole seconds: not a duplicate
            (4, at(4660.2), 1, "a", 5.0),
            # same second, higher id earlier in time: the last event by key
            (5, at(5000.7), 1, "c", 6.0),
            (6, at(5000.2), 1, "d", 7.0),
            (7, at(50.5), 2, "a", 8.0),
            (8, at(3651.0), 2, "a", 9.0),
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["props"] = '{"k": 1}'
    ev.to_parquet(tmp_path / "events.parquet", index=False)
    monkeypatch.setattr(queries, "TABLES", ["events"])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'"
    )
    for name in ("latest_per_key", "window_rolling_frames",
                 "event_time_dedup", "sessionize"):
        sdf = entrymod.queries()[name](spark, str(tmp_path))
        res = con.execute(ORACLES[name])
        dcols = [d[0].lower() for d in res.description]
        got = _rowset([c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()])
        assert got == _rowset(dcols, res.fetchall()), name

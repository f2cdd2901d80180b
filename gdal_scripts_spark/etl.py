"""S5 — vector ETL with declarative schema mapping (ogr2ogr layer copy).

Reference semantics: ``apps/ogr2ogr_lib.cpp : GDALVectorTranslate /
SetupTargetLayer (≈L3500)`` builds a source→target FIELD MAP (by name, with
declared target types), and ``ogr/ogrfeature.cpp : OGRFeature::SetFrom
(≈L5000)`` applies it per feature with type coercion; ``-select`` prunes,
``-where`` filters, ``-nln/-sql`` rename/derive. The reference walks
features one at a time; here the same contract is one declarative
``select`` Catalyst plans (column pruning + predicate pushdown reach the
Parquet scan for free).

The mapping is data, not code, so pipelines can store/inspect it:

    spec = [("dst_name", "src_name_or_expr", "type" | None), ...]

- src may be a bare column name or any SQL expression (``-sql`` analog);
- type None keeps the source type; otherwise ``CAST`` (OGR coercion analog);
- a dst with src=None becomes a typed NULL column (target field with no
  source — exactly what SetFrom does for unmatched fields).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FieldSpec = tuple[str, str | None, str | None]


def translate_layer(
    src: DataFrame,
    fields: list[FieldSpec],
    where: str | None = None,
) -> DataFrame:
    """ogr2ogr layer copy: WHERE filter + declared field map (see module
    docstring). Returns the mapped DataFrame; write it with
    ``df.write.format("iceberg"/"parquet")`` — the sink is native."""
    out = src.filter(where) if where else src
    cols = []
    for dst, srcexpr, typ in fields:
        if srcexpr is None:
            if typ is None:
                raise ValueError(f"field {dst!r}: src-less field needs a type")
            col = F.lit(None).cast(typ)
        else:
            col = F.expr(srcexpr)
            if typ is not None:
                col = col.cast(typ)
        cols.append(col.alias(dst))
    return out.select(*cols)


def copy_layer(
    src: DataFrame,
    dst_path: str,
    fields: list[FieldSpec],
    where: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Full ogr2ogr analog: map + write in one call (``-f``/``-nln``)."""
    out = translate_layer(src, fields, where)
    w = out.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(dst_path)


# ---------------------------------------------------------------------------
# Pluggable table IO — the Iceberg deployment switch (SURVEY.md §1.2)
# ---------------------------------------------------------------------------

TABLE_FORMAT_CONF = "spark.gdal_scripts.table_format"


def table_format(spark) -> str:
    """Session table format: ``spark.gdal_scripts.table_format`` conf,
    default ``parquet``. Set it to ``iceberg`` on a cluster with the
    iceberg-spark-runtime jar + catalog configured and every write_table/
    read_table call switches, no code changes (this sandbox has no jar, so
    tests run the parquet path and the iceberg branch is arg-checked
    only)."""
    return spark.conf.get(TABLE_FORMAT_CONF, "parquet")


def write_table(
    df: DataFrame,
    dst: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    fmt: str | None = None,
) -> None:
    """Write a table through the pluggable format switch.

    parquet: ``dst`` is a path, plain ``save``. iceberg: ``dst`` is a
    catalog table name, written with the DataFrameWriterV2 API
    (``createOrReplace`` for overwrite, ``append`` otherwise) — partition
    columns become the table's partition spec; for bucket co-location use
    ``PARTITIONED BY (bucket(N, col))`` at table creation (bucketing.py)."""
    fmt = fmt or table_format(df.sparkSession)
    if fmt == "iceberg":
        w = df.writeTo(dst).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
        return
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(dst)


def read_table(spark, src: str, fmt: str | None = None) -> DataFrame:
    """Read back through the same switch (path for parquet, catalog table
    name for iceberg)."""
    fmt = fmt or table_format(spark)
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(src)
    return spark.read.format(fmt).load(src)


def merge_upsert(
    current: DataFrame,
    incoming: DataFrame,
    key: str = "doc_id",
    payload: str = "text",
) -> DataFrame:
    """MERGE INTO semantics for incremental corpus ingest (the Iceberg
    ``MERGE INTO t USING s ON t.key = s.key WHEN MATCHED ... WHEN NOT
    MATCHED ...`` shape a training-data pipeline runs per crawl batch):
    full-outer equi-join of the current corpus with the incoming batch,
    classifying every row as

      - ``insert``    key only in incoming
      - ``update``    key in both, payload differs
      - ``unchanged`` key in both, payload identical (two NULLs are
                      identical)
      - ``keep``      key only in current

    Returns (key, action, payload) with the winning payload per row —
    exactly the post-merge table plus its change audit; a matched row
    takes the incoming payload, NULL included. Incoming keys must be
    unique: a duplicated key fans its current row out, once per incoming
    row. One shuffle on the key; payloads ride the join but never fan
    out. At Iceberg scale the same plan runs as a storage-side MERGE;
    this is the engine-level equivalent with an explicit audit column."""
    c = current.select(
        F.col(key).alias("_ck"), F.col(payload).alias("_cv"))
    i = incoming.select(
        F.col(key).alias("_ik"), F.col(payload).alias("_iv"))
    j = c.join(i, c["_ck"] == i["_ik"], "full_outer")
    action = (
        F.when(F.col("_ck").isNull(), F.lit("insert"))
        .when(F.col("_ik").isNull(), F.lit("keep"))
        .when(F.col("_cv").eqNullSafe(F.col("_iv")), F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    return j.select(
        F.coalesce(F.col("_ik"), F.col("_ck")).alias(key),
        action.alias("action"),
        F.when(F.col("_ik").isNull(), F.col("_cv")).otherwise(F.col("_iv"))
        .alias(payload),
    )

"""Structural scale lint over the WHOLE query registry.

Builds every registry entry's physical plan at sf0.001 and asserts the
operators that kill a 100x scale-up never appear:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an O(|L|x|R|)
  join escaped the cell/band/bucket equi-join design. Allowlisted only
  for the two DOCUMENTED brute-force baselines (they exist as oracles for
  the scale paths, and both broadcast the small side by contract).
- ``BatchEvalPython`` — a row-at-a-time Python UDF sneaked onto a hot
  path (the engine's Python runs only in Arrow stages: scalar Arrow and
  pandas UDFs plan as ArrowEvalPython, per-row stages as the MapInArrow
  of ``arrowrows.map_rows``, grouped stages as FlatMapGroupsIn*).
- ``MapInPandas`` outside the few batch- and column-shaped stages that
  keep it (``MAP_IN_PANDAS``): a per-row stage that bypasses
  ``arrowrows.map_rows``.

Constructing a few entries executes bounded driver-side work (fixpoint
rounds, IVF sampling, streaming micro-batches) — at sf0.001 that is
seconds, and the lint doubles as a smoke test that every entry builds.
"""

import pytest

import __spark_entry__ as entry_mod

# documented brute-force oracles: broadcast one side, nested-loop by design
BRUTE_BASELINES = {"knn_brute_topk", "cosine_topk_brute"}

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

# entries whose plans keep a MapInPandas stage: the sketches KMV partial
# (kmv_distinct_users), the vectorops PQ scans (pq_topk*) and the
# column-shaped per-pixel emitters raster.to_xyz and viewshed_cells
MAP_IN_PANDAS = {"kmv_distinct_users", "pq_topk", "pq_topk_ivf",
                 "raster_to_xyz", "viewshed_wall"}


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_no_scale_killers_in_plan(spark, name):
    df = entry_mod.queries()[name](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = [op for op in FORBIDDEN if op in plan]
    if name in BRUTE_BASELINES:
        assert set(hits) <= {"BroadcastNestedLoopJoin"}, hits
    else:
        assert not hits, f"{name}: scale-killer operators in plan: {hits}"
    assert ("MapInPandas" in plan) == (name in MAP_IN_PANDAS), (
        f"{name}: per-row Python stages run through arrowrows.map_rows")
    # driver-canon contract: the correctness harness sorts result columns
    # with pandas before hashing and cannot factorize nested values, so no
    # registry entry may expose Array/Map/Struct columns (flatten to
    # csv/json strings instead — see pixel_probe)
    from pyspark.sql import types as T

    nested = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not nested, f"{name}: nested (non-canonicalizable) columns: {nested}"

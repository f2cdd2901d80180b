"""Structural scale lint over the WHOLE query registry.

Builds every registry entry's physical plan at sf0.001 and asserts the
operators that kill a 100x scale-up never appear:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an O(|L|x|R|)
  join escaped the cell/band/bucket equi-join design. Allowlisted only
  for the two DOCUMENTED brute-force baselines (they exist as oracles for
  the scale paths, and both broadcast the small side by contract).
- ``BatchEvalPython`` — a row-at-a-time Python UDF sneaked onto a hot
  path (the engine's Python runs only in Arrow stages: scalar Arrow UDFs
  plan as ArrowEvalPython of eval type 250, per-row and batch stages as
  MapInArrow, grouped stages as FlatMapGroupsInArrow /
  FlatMapCoGroupsInArrow).
- any node of the pandas UDF family (``MapInPandas``,
  ``FlatMapGroupsInPandas``, ``FlatMapCoGroupsInPandas``, or an
  ArrowEvalPython of eval type 200, a scalar ``pandas_udf``).

A source lint covers the stages no registry entry plans: no
``pandas_udf``, ``mapInPandas`` or ``applyInPandas(`` in the package,
and ``import pandas`` only in the test-data builders (``fixtures``) and the
stateful streaming operator (``applyInPandasWithState`` has no Arrow
form). A second source lint fails on orphaned private helpers: every
private top-level function or class of the package must be referenced by
code somewhere in the repository.

Constructing a few entries executes bounded driver-side work (fixpoint
rounds, IVF sampling, streaming micro-batches) — at sf0.001 that is
seconds, and the lint doubles as a smoke test that every entry builds.
"""

import ast
import re
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod

# documented brute-force oracles: broadcast one side, nested-loop by design
BRUTE_BASELINES = {"knn_brute_topk", "cosine_topk_brute"}

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

PANDAS_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
# ArrowEvalPython prints its eval type last: 200 for a scalar pandas_udf,
# 250 for a scalar arrow_udf
PANDAS_SCALAR = re.compile(r"ArrowEvalPython .*, 200$", re.M)

PKG = Path(__file__).resolve().parents[1] / "gdal_scripts_spark"
PANDAS_API = re.compile(r"pandas_udf|mapInPandas|applyInPandas\(")
PANDAS_IMPORTERS = {"fixtures.py", "streaming.py"}
REPO = PKG.parent


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_no_scale_killers_in_plan(spark, name):
    df = entry_mod.queries()[name](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = [op for op in FORBIDDEN if op in plan]
    if name in BRUTE_BASELINES:
        assert set(hits) <= {"BroadcastNestedLoopJoin"}, hits
    else:
        assert not hits, f"{name}: scale-killer operators in plan: {hits}"
    pandas = [op for op in PANDAS_NODES if op in plan]
    pandas += PANDAS_SCALAR.findall(plan)
    assert not pandas, f"{name}: pandas UDF nodes in plan: {pandas}"
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


def test_no_pandas_stage_in_source():
    api, imports = [], []
    for path in sorted(PKG.glob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if PANDAS_API.search(line):
                api.append(f"{path.name}:{i}")
            if re.match(r"\s*import pandas\b", line) and path.name not in PANDAS_IMPORTERS:
                imports.append(f"{path.name}:{i}")
    assert not api, f"pandas UDF API in the package: {api}"
    assert not imports, f"pandas imported outside the fixtures/streaming: {imports}"


def _code_names(tree: ast.Module, skip_own: bool) -> set[str]:
    """Names the code of ``tree`` refers to: ``Name`` ids, ``Attribute``
    attrs and import aliases (docstrings and comments do not count). With
    ``skip_own`` a top-level definition's references to its own name
    (recursion) do not count either."""
    names = set()
    for top in tree.body:
        found = set()
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                found.add(n.id)
            elif isinstance(n, ast.Attribute):
                found.add(n.attr)
            elif isinstance(n, ast.alias):
                found.update({n.name, n.asname} - {None})
        if skip_own:
            found.discard(getattr(top, "name", None))
        names |= found
    return names


def test_no_orphaned_private_helpers():
    """Every private top-level function or class in the package (goldens
    excluded) is referenced by code in the package, ``tests/``,
    ``perfbench/``, ``tools/`` or ``bench.py``."""
    private, refs = {}, set()
    for path in sorted(PKG.glob("*.py")):
        tree = ast.parse(path.read_text())
        refs |= _code_names(tree, skip_own=True)
        if path.name == "goldens_sf001.py":
            continue
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                    and node.name.startswith("_") and not node.name.endswith("__")):
                private[node.name] = f"{path.name}:{node.lineno}"
    others = [REPO / "bench.py"]
    for d in ("tests", "perfbench", "tools"):
        others += sorted((REPO / d).rglob("*.py"))
    for path in others:
        refs |= _code_names(ast.parse(path.read_text()), skip_own=False)
    orphans = sorted(f"{where} {name}" for name, where in private.items()
                     if name not in refs)
    assert not orphans, f"private helpers no code refers to: {orphans}"

"""``session.local_frame``: driver-side rows become an Arrow-built
``LocalRelation`` with the same schema and bit-identical values as
``spark.createDataFrame(<list>, schema)``, and no library module builds
a frame from rows any other way.  Also guarded here: no module reads an
index's ``_meta`` table except through the memoized ``vault._read_meta``,
and every library import in the scripts, examples and driver entry
resolves."""

from __future__ import annotations

import ast
import math
import pathlib

import numpy as np
import pytest

from astro_vectordb_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "astro_vectordb_spark"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bits(v):
    """A collected value with every float as its IEEE bit pattern (so
    -0.0 != 0.0 and NaN == NaN compare as the storage does)."""
    if isinstance(v, float):
        return ("f", np.float64(v).tobytes())
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


FLOATS = [0.1, 1 / 3, -0.0, 1e-50, math.nan, 16777217.0, -2.5e38]

CASES = {
    "array_float_from_python_floats": (
        "id long, v array<float>",
        [(1, FLOATS), (2, []), (3, None), (2**63 - 1, [1.0])],
        None,
    ),
    # the list path takes no ndarray; its equivalent input is .tolist()
    "array_float_from_numpy_float64": (
        "id long, v array<float>",
        [(1, np.array(FLOATS, dtype=np.float64)), (2, np.zeros(0))],
        [(1, FLOATS), (2, [])],
    ),
    "array_double_and_array_int": (
        "c array<double>, n array<int>",
        [([0.1, -0.0], [1, -2, 2**31 - 1]), ([], []), (None, None)],
        None,
    ),
    "bool_null_and_strings": (
        "b boolean, s string, d double, i int",
        [(True, "x", 1.5, 7), (False, "", -0.0, -1),
         (None, None, None, None)],
        None,
    ),
    "nested_array": (
        "g array<array<long>>",
        [([[1, 2], [], [2**62]],), ([],)],
        None,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_matches_list_path_bit_for_bit(spark, case):
    schema, rows, list_rows = CASES[case]
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(list_rows or rows, schema)
    assert new.schema == old.schema
    assert [_bits(tuple(r)) for r in new.collect()] == [
        _bits(tuple(r)) for r in old.collect()
    ]
    plan = _plan(new)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_empty_rows_are_a_local_relation(spark):
    from pyspark.sql.types import StructType

    for schema in ("batch_id long, op string",
                   StructType.fromDDL("id long, v array<float>")):
        df = local_frame(spark, [], schema)
        assert df.collect() == []
        assert df.schema == spark.createDataFrame([], schema).schema
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_first_runs_no_job(spark):
    sc = spark.sparkContext
    st = sc.statusTracker()
    df = local_frame(spark, [(3, 1.5)], "n long, avgdl double")
    sc.setJobGroup("local-frame-first", "local_frame first() job count")
    try:
        assert df.first()["avgdl"] == 1.5
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert st.getJobIdsForGroup("local-frame-first") == []


def test_no_library_frame_from_rows_outside_the_helper():
    """Every driver-side frame in the library goes through
    ``local_frame``: a ``createDataFrame`` call anywhere else builds a
    Python-RDD frame that costs jobs on every action."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "session.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                hits.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not hits, "route these through session.local_frame: " + ", ".join(
        hits
    )


def test_script_imports_from_the_library_resolve():
    """Every ``from astro_vectordb_spark... import name`` in
    ``scripts/``, ``examples/`` and ``__spark_entry__.py`` names an
    attribute (or submodule) that exists.  No test runs those files, so
    a removed library function would otherwise break them silently."""
    import importlib

    root = PKG.parent
    files = [root / "__spark_entry__.py", *sorted(root.glob("scripts/*.py")),
             *sorted(root.glob("examples/*.py"))]
    missing = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == PKG.name):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    missing.append(f"{path.relative_to(root)}:{node.lineno} "
                                   f"{node.module}.{alias.name}")
    assert not missing, "unresolved imports: " + ", ".join(missing)


def test_driver_side_ids_frame_has_no_aggregate(spark):
    """The id frame of every remove path dedupes a driver-side list in
    Python: a bare local relation, no aggregate over it."""
    from astro_vectordb_spark.sources.vault import _as_ids_df

    df = _as_ids_df(spark, [3, 1, 3, 2, 1])
    plan = _plan(df)
    assert "LocalTableScan" in plan and "Aggregate" not in plan, plan
    assert [r.vec_id for r in df.collect()] == [3, 1, 2]


def _mentions_meta(node, meta_names) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and (
            n.value == "_meta" or n.value.endswith("/_meta")
        ):
            return True
        if isinstance(n, ast.Name) and n.id in meta_names:
            return True
    return False


def _receiver_attrs(func) -> list[str]:
    """Attribute names along a call's receiver chain, outermost first
    (``spark.read.schema(s).parquet`` -> parquet, schema, read)."""
    out = []
    while True:
        if isinstance(func, ast.Attribute):
            out.append(func.attr)
            func = func.value
        elif isinstance(func, ast.Call):
            func = func.func
        else:
            return out


_TABLE_READERS = {"_read_maybe_swapped", "_read_listed", "load_embeddings"}


def test_no_meta_table_read_outside_read_meta():
    """Every read of an index's ``_meta`` table goes through
    ``vault._read_meta``, whose result is memoized per version; a read
    anywhere else pays a schema-inference job and a ``first()`` job."""
    hits = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "vault.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "_read_meta":
                    allowed = {id(n) for n in ast.walk(fn)}
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            # names bound to a _meta path anywhere in the function,
            # closures included
            meta_names = {
                t.id
                for a in ast.walk(fn)
                if isinstance(a, ast.Assign) and _mentions_meta(a.value, ())
                for t in a.targets if isinstance(t, ast.Name)
            }
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call) or id(node) in allowed:
                    continue
                attrs = _receiver_attrs(node.func)
                name = node.func.id if isinstance(node.func, ast.Name) else (
                    attrs[0] if attrs else "")
                is_read = name in _TABLE_READERS or (
                    "read" in attrs and "write" not in attrs
                    and attrs[0] in ("parquet", "load")
                )
                if is_read and any(
                    _mentions_meta(a, meta_names)
                    for a in [*node.args, *(k.value for k in node.keywords)]
                ):
                    hits.add(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not hits, "read _meta through vault._read_meta: " + ", ".join(
        sorted(hits)
    )

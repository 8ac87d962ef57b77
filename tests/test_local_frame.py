"""``session.local_frame``: driver-side rows become an Arrow-built
``LocalRelation`` with the same schema and bit-identical values as
``spark.createDataFrame(<list>, schema)``, and no library module builds
a frame from rows any other way."""

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

"""``local_frame``: small driver-built frames as Arrow-built LocalRelations.

The package builds every small frame (centroids, keys, quantiles, empty
results) through :func:`local_frame`. These tests pin its plan shape and
its values, and a guard keeps ``createDataFrame`` from coming back
anywhere else in the package: a Python-list ``createDataFrame`` plans a
pickled-row scan that starts a Python worker per frame.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

import ipes_data_pipeline_spark
from ipes_data_pipeline_spark.operators.util import local_frame

ROUND_TRIP_SCHEMA = (
    "n long, x double, s string, b boolean, v array<double>, "
    "cells array<struct<c_id:long,c_vec:array<double>>>"
)

ROUND_TRIP_ROWS = [
    (1, 0.1, "a", True, [1.5, -2.25, 1e-300], [(7, [0.1, 0.2]), (8, [])]),
    (-(2**62), -0.0, "", False, [], []),
    (None, None, None, None, None, None),
    (3, 1e308, "é ☃", None, [None, 3.0], [(None, None), (9, [None])]),
]


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan()


def test_local_frame_is_local_relation_with_exact_stats(spark):
    qs = local_frame(spark, [(0.5,), (0.9,), (0.99,)], "q double")
    plan = _plan(qs)
    assert plan.getClass().getSimpleName() == "LocalRelation"
    size = int(plan.stats().sizeInBytes())
    assert 0 < size < 2**20  # a LogicalRDD estimates Long.MaxValue
    assert [r["q"] for r in qs.collect()] == [0.5, 0.9, 0.99]


@pytest.mark.parametrize("rows", [ROUND_TRIP_ROWS, []], ids=["rows", "empty"])
def test_local_frame_round_trips_values(spark, rows):
    df = local_frame(spark, rows, ROUND_TRIP_SCHEMA)
    assert df.dtypes == [
        ("n", "bigint"),
        ("x", "double"),
        ("s", "string"),
        ("b", "boolean"),
        ("v", "array<double>"),
        ("cells", "array<struct<c_id:bigint,c_vec:array<double>>>"),
    ]
    got = df.collect()
    assert [tuple(r) for r in got] == rows
    # the sign of -0.0 survives, not just its equality to 0.0
    if rows:
        assert str(got[1]["x"]) == "-0.0"


def test_local_frame_takes_struct_type_and_rows(spark):
    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("k", T.IntegerType(), True),
        ]
    )
    df = local_frame(spark, [Row(id="a", k=1), ("b", None)], schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == [("a", 1), ("b", None)]


def _create_dataframe_calls():
    """(file, line, enclosing function) of every ``.createDataFrame(``
    call in the package."""
    root = pathlib.Path(ipes_data_pipeline_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        stack = [(tree, None)]
        while stack:
            node, fn = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                found.append((str(path.relative_to(root)), node.lineno, fn))
            stack.extend((child, fn) for child in ast.iter_child_nodes(node))
    return found


def test_create_dataframe_only_inside_local_frame():
    calls = _create_dataframe_calls()
    assert [(f, fn) for f, _, fn in calls] == [("operators/util.py", "local_frame")]

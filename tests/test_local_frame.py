"""catalog.local_frame: constant tables as JVM LocalRelations.

The helper must give the same rows and the same schema as
``spark.createDataFrame(list)`` for every schema form the engine uses,
plan a LocalRelation (no PythonRDD behind the scan), and be the only
place in the engine that calls ``createDataFrame``."""

import ast
import pathlib

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from hi_csa_db_spark.catalog import local_frame

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "hi_csa_db_spark"

CASES = {
    "ddl": ([(1, "a"), (2, "b")], "k int, v string"),
    "ddl_colon": ([(1, 2654435761), (2, 2246822519)], "a_id: bigint, a: bigint"),
    "struct_type": (
        [["x", None], ["y", "z"]],
        T.StructType([T.StructField("c0", T.StringType()), T.StructField("c1", T.StringType())]),
    ),
    "rows": ([Row(url="https://s.org/", level=0)], "url string, level int"),
    "empty": ([], "src string, dst string, level int"),
    "nulls": ([(None, None, None), (3, None, 1.5)], "i int, s string, d double"),
    "mixed_types": (
        [(1, 2**40, 0.25, ["a", "b"]), (-7, -1, 1e300, []), (0, 0, -0.0, None)],
        "i int, l long, d double, arr array<string>",
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_matches_list_frame(spark, name):
    rows, schema = CASES[name]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("name", ["ddl", "empty"])
def test_plans_a_local_relation(spark, name):
    rows, schema = CASES[name]
    plan = local_frame(spark, rows, schema)._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation"
    assert "LogicalRDD" not in plan.toString()


def test_value_outside_its_type_raises(spark):
    with pytest.raises(Exception):
        local_frame(spark, [(2**40,)], "i int")


@pytest.mark.parametrize(
    "rows",
    [[(1, "a", "x")], [(1,)], [(1, "a", "x"), (2, "b")]],
    ids=["wider", "narrower", "ragged"],
)
def test_row_length_other_than_schema_raises(spark, rows):
    with pytest.raises(ValueError, match="fields"):
        local_frame(spark, rows, "k int, v string")


def test_engine_calls_createDataFrame_only_in_local_frame():
    """One implementation of "a constant table": every other call site
    goes through catalog.local_frame."""
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        owners = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owners.setdefault(id(node), fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                found.append((path.relative_to(ENGINE).as_posix(), owners.get(id(node))))
    assert found == [("catalog.py", "local_frame")]

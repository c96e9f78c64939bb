"""catalog.local_frame: driver-literal rows as a JVM local relation.

The helper must give exactly the frame `spark.createDataFrame(<list>,
schema)` gave (same schema, same rows) while planning a
`LocalTableScan` instead of a Python-RDD scan, and it must keep the row
checks the old path's `verifySchema` made.
"""

from __future__ import annotations

import ast
import datetime as dt
import decimal
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql.types import IntegerType, StructField, StructType

from hive_clone_spark.catalog import local_frame

_UTC = dt.timezone.utc

# (DDL type, a value, a second value); every case also gets a NULL row
_TYPES = [
    ("INT", 7, -(2**31)),
    ("BIGINT", 2**40, -1),
    ("DOUBLE", 1.5, -0.0),
    ("STRING", "hive", ""),
    ("BOOLEAN", True, False),
    ("DATE", dt.date(2020, 1, 2), dt.date(1969, 12, 31)),
    # tz-aware: both paths read the instant the same in any process zone
    (
        "TIMESTAMP",
        dt.datetime(2020, 1, 2, 3, 4, 5, 6, tzinfo=_UTC),
        dt.datetime(1999, 12, 31, 23, 59, 59, tzinfo=_UTC),
    ),
    ("DECIMAL(18,2)", decimal.Decimal("1234567890123456.78"),
     decimal.Decimal("-0.01")),
    ("ARRAY<INT>", [1, None, 3], []),
]


def _sorted(rows):
    return sorted(rows, key=repr)


@pytest.mark.parametrize(
    "ddl_type,a,b", _TYPES, ids=[t[0] for t in _TYPES]
)
def test_matches_python_list_frame(spark, ddl_type, a, b):
    ddl = f"id INT, v {ddl_type}"
    rows = [(1, a), (2, b), (3, None)]
    new, old = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
    assert new.schema == old.schema
    assert _sorted(new.collect()) == _sorted(old.collect())


def test_all_types_in_one_frame_and_zero_rows(spark):
    ddl = ", ".join(f"c{i} {t}" for i, (t, _, _) in enumerate(_TYPES))
    rows = [
        tuple(a for _, a, _ in _TYPES),
        tuple(b for _, _, b in _TYPES),
        (None,) * len(_TYPES),
    ]
    new, old = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
    assert new.schema == old.schema
    assert _sorted(new.collect()) == _sorted(old.collect())
    empty = local_frame(spark, [], ddl)
    assert empty.schema == spark.createDataFrame([], ddl).schema
    assert empty.collect() == []


def test_struct_type_schema_is_kept(spark):
    schema = StructType([StructField("k", IntegerType(), False)])
    df = local_frame(spark, [(1,), (2,)], schema)
    assert df.schema == schema
    assert sorted(r["k"] for r in df.collect()) == [1, 2]


def test_plans_a_local_table_scan(spark):
    df = local_frame(spark, [(0, "a"), (1, "b")], "k INT, s STRING")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan


def test_wrong_typed_value_raises(spark):
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [("x",)], "k INT")


def test_null_in_non_nullable_field_raises(spark):
    schema = StructType([StructField("k", IntegerType(), False)])
    with pytest.raises(ValueError):
        local_frame(spark, [(1,), (None,)], schema)


def test_row_width_mismatch_raises(spark):
    with pytest.raises(ValueError, match="2 values for 1 fields"):
        local_frame(spark, [(1, 2)], "k INT")


def test_create_data_frame_only_inside_local_frame():
    """Every driver-literal frame in the engine goes through
    local_frame: `createDataFrame(` appears nowhere else."""
    root = Path(__file__).resolve().parent.parent / "hive_clone_spark"
    outside = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        if "createDataFrame(" not in src:
            continue
        allowed: set[int] = set()
        if path.name == "catalog.py":
            fn = next(
                n for n in ast.parse(src).body
                if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
            )
            allowed = set(range(fn.lineno, fn.end_lineno + 1))
        outside += [
            f"{path.relative_to(root)}:{i}"
            for i, line in enumerate(src.splitlines(), start=1)
            if "createDataFrame(" in line and i not in allowed
        ]
    assert outside == []

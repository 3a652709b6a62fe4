"""The literal-plan module: one SQL-literal renderer, one literal frame.

``literal_frame`` must collect exactly what ``createDataFrame`` collects
on the same rows, on dirty input and on either side of
``MAX_LITERAL_ELEMS``; identical calls must keep one plan identity; and
no other module may turn driver values into a plan (AST guard).
"""

from __future__ import annotations

import ast
import os
import struct

import pytest

from time_series_db_spark.literals import (
    MAX_LITERAL_ELEMS,
    lit_array,
    literal_frame,
)

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "time_series_db_spark",
)

_DOUBLES = [
    None, float("nan"), 0.0, -0.0, float("inf"), -float("inf"),
    5e-324, -5e-324, 2.225073858507201e-308, 2.2250738585072014e-308,
    1.7976931348623157e308, 0.1, -1.5, 1e16,
]
_STRINGS = [
    None, "", "'", "''", "\\", "a'b\\c", "line\nbreak\r\n", "\U0001F600x",
    '"quoted"', "é", "\x00", "tab\t", "X'00'", "CAST(1 AS STRING)",
]
_LONGS = [None, 0, -1, 1, 2**63 - 1, -(2**63), 2**31, -(2**31) - 1]
_ARRAYS = [None, [], [None], [1, None, -(2**63)], [2**63 - 1], list(range(5))]
_INTS = [None, 0, -1, 2**31 - 1, -(2**31)]

_SCHEMA = "k bigint, d double, s string, a array<bigint>, i int"


def _dirty_rows(n):
    return [
        (
            _LONGS[j % len(_LONGS)],
            _DOUBLES[j % len(_DOUBLES)],
            _STRINGS[j % len(_STRINGS)],
            _ARRAYS[j % len(_ARRAYS)],
            _INTS[j % len(_INTS)],
        )
        for j in range(n)
    ]


def _bits(v):
    """Comparable form: doubles by bit pattern (NaN == NaN, -0.0 != 0.0)."""
    if isinstance(v, float):
        return struct.pack(">d", v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_bits(x) for x in v)
    return v


def _is_literal(df) -> bool:
    return "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()


def _assert_same(spark, rows, schema, literal):
    lf = literal_frame(spark, rows, schema)
    cf = spark.createDataFrame(rows, schema)
    assert _is_literal(lf) == literal
    assert [(f.name, f.dataType) for f in lf.schema] == [
        (f.name, f.dataType) for f in cf.schema
    ]
    assert [_bits(r) for r in lf.collect()] == [_bits(r) for r in cf.collect()]


def test_dirty_rows_equal_create_dataframe(spark):
    _assert_same(spark, _dirty_rows(2 * len(_STRINGS) * len(_DOUBLES)),
                 _SCHEMA, literal=True)


def test_zero_rows(spark):
    _assert_same(spark, [], _SCHEMA, literal=True)


def test_quoted_names_and_single_array_row(spark):
    _assert_same(spark, [(["x", None, "'"], 3)],
                 "`doc.id` array<string>, `rank` bigint", literal=True)
    _assert_same(spark, [(list(range(-5, MAX_LITERAL_ELEMS - 5)),)],
                 "__bloom array<bigint>", literal=True)


@pytest.mark.parametrize("extra, literal", [(0, True), (1, False)])
def test_either_side_of_the_cap(spark, extra, literal):
    """Two columns: ``MAX_LITERAL_ELEMS // 2`` rows are exactly at the cap;
    one more row is over it and takes ``createDataFrame``."""
    n = MAX_LITERAL_ELEMS // 2 + extra
    rows = [(r[0], r[1]) for r in _dirty_rows(n)]
    _assert_same(spark, rows, "k bigint, d double", literal=literal)


def test_array_cells_count_their_elements(spark):
    rows = [([1] * MAX_LITERAL_ELEMS,), ([None],)]
    _assert_same(spark, rows, "a array<bigint>", literal=False)


def test_unsupported_type_takes_the_fallback(spark):
    from decimal import Decimal

    rows = [(Decimal(3), 1), (None, None)]
    _assert_same(spark, rows, "x decimal(10,0), y bigint", literal=False)
    with pytest.raises(ValueError, match="decimal"):
        lit_array([Decimal(3)], "decimal(10,0)")


def test_identical_calls_share_a_plan_identity(spark):
    rows = _dirty_rows(20)
    a = literal_frame(spark, rows, _SCHEMA).semanticHash()
    assert a == literal_frame(spark, list(rows), _SCHEMA).semanticHash()
    assert a != literal_frame(spark, rows[:-1], _SCHEMA).semanticHash()


def test_lit_array_round_trips(spark):
    cols = [
        lit_array(_DOUBLES).alias("d"),
        lit_array(_STRINGS, "string").alias("s"),
        lit_array(_ARRAYS, "array<bigint>").alias("a"),
        lit_array([], "int").alias("e"),
    ]
    got = spark.range(1).select(*cols).first()
    assert _bits(got["d"]) == _bits(_DOUBLES)
    assert got["s"] == _STRINGS
    assert got["a"] == _ARRAYS
    assert got["e"] == []


# ---------------------------------------------------------------------------
# guard: driver values become plans only through literals.py
# ---------------------------------------------------------------------------

#: the streaming rule epoch marker is a write inside foreachBatch, not a
#: query plan
_CREATE_DATAFRAME_OK = {"literals.py", os.path.join("streaming", "rules.py")}


def _leading_text(node):
    """The literal text an expression string starts with, if static."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr) and node.values:
        return _leading_text(node.values[0])
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        return _leading_text(node.left)
    return None


def _sources():
    for root, _, files in os.walk(_PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, _PKG), ast.parse(f.read())


def test_driver_values_enter_plans_only_through_literals():
    create_df, array_text = [], []
    for rel, tree in _sources():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = getattr(func, "attr", getattr(func, "id", None))
            if name == "createDataFrame" and rel not in _CREATE_DATAFRAME_OK:
                create_df.append(f"{rel}:{node.lineno}")
            if name == "expr" and node.args:
                text = _leading_text(node.args[0])
                if text and text.lstrip().lower().startswith("array("):
                    array_text.append(f"{rel}:{node.lineno}")
    assert create_df == [], "createDataFrame outside literals.py"
    assert array_text == [], "array literal SQL text outside literals.py"

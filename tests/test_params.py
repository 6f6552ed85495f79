"""Unit tests for placeholder scanning/binding (reference
src/param_resolver.rs:102-179 unit-test coverage model)."""

import datetime
import time
from decimal import Decimal

import pytest

from datafusion_dynamic_filter_spark.errors import ParameterError
from datafusion_dynamic_filter_spark.params import (
    bind_text,
    canonicalize,
    find_placeholders,
    normalize_params,
    to_sql_literal,
)
from datafusion_dynamic_filter_spark.simple_parser import parse_simple_select


def test_find_dollar_placeholders():
    phs = find_placeholders("SELECT * FROM t WHERE a = $1 AND b = $2")
    assert [(p.original, p.canonical) for p in phs] == [("$1", "p1"), ("$2", "p2")]


def test_skip_strings_comments_casts():
    sql = "SELECT ':notaparam', '$5' -- :nope $9\n, x::int FROM t WHERE a = :real"
    phs = find_placeholders(sql)
    assert [p.canonical for p in phs] == ["real"]


def test_canonicalize_mixed():
    sql, phs = canonicalize("SELECT * FROM t WHERE a = $1 AND b = :name AND c = ?")
    assert ":p1" in sql and ":name" in sql
    assert [p.canonical for p in phs] == ["p1", "name", "p1"]  # ? -> p1 (first qmark)


def test_normalize_params_spellings():
    phs = find_placeholders("WHERE a = $1 AND b = $2")
    assert normalize_params({"$1": 1, "2": 2}, phs) == {"p1": 1, "p2": 2}
    assert normalize_params([10, 20], phs) == {"p1": 10, "p2": 20}
    with pytest.raises(ParameterError, match="Placeholder '\\$2'"):
        normalize_params({"$1": 1}, phs)
    with pytest.raises(ParameterError, match="Unknown parameter"):
        normalize_params({"$1": 1, "$2": 2, "$3": 3}, phs)


def test_repeated_placeholder_one_value():
    phs = find_placeholders("WHERE a = $1 OR b = $1")
    assert normalize_params({"$1": 7}, phs) == {"p1": 7}


def test_literals():
    assert to_sql_literal(None) == "NULL"
    assert to_sql_literal(True) == "TRUE"
    assert to_sql_literal(3) == "3"
    assert to_sql_literal(2.5) == "2.5D"
    assert to_sql_literal(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert to_sql_literal(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    assert to_sql_literal(b"\x00\xff") == "X'00ff'"
    assert to_sql_literal(bytearray(b"ab")) == "X'6162'"
    assert to_sql_literal("it's") == "'it\\'s'"
    assert to_sql_literal("a\\b") == "'a\\\\b'"
    assert to_sql_literal(datetime.date(2024, 1, 2)) == "DATE '2024-01-02'"
    assert to_sql_literal([1, 2]) == "(1, 2)"


_UTC = datetime.timezone.utc
_PARITY = [
    2**31 - 1, 2**31, -2**31, -2**31 - 1, 2**63 - 1,
    0.1, -0.0, 1.5, 1e300, -2.5e-300, float("nan"), float("inf"), float("-inf"),
    Decimal("1.50"), Decimal("-0.001"),
    "it's", "a\\b", 'say "hi"', "\\'", "é ü 日本",
    datetime.date(2024, 1, 2),
    datetime.datetime(2024, 3, 10, 2, 30, 0, 250),  # naive, in the process zone
    datetime.datetime(2024, 3, 1, 9, 30, tzinfo=_UTC),
    datetime.datetime(2024, 3, 1, 9, 30, tzinfo=datetime.timezone(datetime.timedelta(hours=5))),
    True, False, b"ab", b"", bytearray(b"\x00\xff"),
]


@pytest.mark.parametrize("value", _PARITY, ids=repr)
def test_literal_typed_as_bound_arg(spark, value):
    """``SELECT <to_sql_literal(v)>`` gives the value and the type that
    ``SELECT :p`` with ``args={"p": v}`` gives, under a non-UTC process
    zone: the IN batch form and IN-list executes bind values as literals,
    per-row executes as ``args=``, and a batch must equal their union."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("TZ", "America/New_York")
        time.tzset()
        try:
            lit = spark.sql("SELECT " + to_sql_literal(value))
            arg = spark.sql("SELECT :p", args={"p": value})
            got, want = lit.collect()[0][0], arg.collect()[0][0]
        finally:
            mp.undo()
            time.tzset()
    assert lit.schema[0].dataType == arg.schema[0].dataType
    assert repr(got) == repr(want)  # repr: NaN equals itself, -0.0 differs from 0.0


def test_bind_text():
    sql, phs = canonicalize("SELECT * FROM t WHERE a = $1")
    bound = normalize_params({"$1": "x"}, phs)
    assert bind_text(sql, phs, bound) == "SELECT * FROM t WHERE a = 'x'"


@pytest.mark.parametrize("value, lit", [
    (-3, "(-3)"), (-1.5, "(-1.5D)"), (Decimal("-1.50"), "(-1.50BD)"), (-0.0, "(-0.0D)"),
])
def test_bind_text_negative_after_minus(value, lit):
    # `k-$2` with a negative value must not render `k--3`: Spark reads
    # `--` as a comment and drops the rest of the line.
    sql, phs = canonicalize("SELECT k-$2 AS d FROM t WHERE k IN $1")
    bound = normalize_params({"$1": [1, 2], "$2": value}, phs)
    assert bind_text(sql, phs, bound) == f"SELECT k-{lit} AS d FROM t WHERE k IN (1, 2)"


@pytest.mark.parametrize("mode", ["literal", "auto"])
@pytest.mark.parametrize("value", [-3, -1.5, Decimal("-1.50")], ids=repr)
def test_negative_scalar_after_minus_rows(engine, mode, value):
    engine.register_memtable("neg_bind", [(1,), (2,), (3,)], "k int")
    stmt = engine.prepare("SELECT k-$2 AS d FROM neg_bind WHERE k IN $1", mode=mode)
    assert (stmt.fallback_reason is None) == (mode == "auto")
    try:
        got = sorted(r["d"] for r in stmt.execute({"$1": [1, 3], "$2": value}).collect())
    finally:
        stmt.close()
    assert got == [1 - value, 3 - value]


def test_placeholder_operand_scan():
    # The operand is the column compared by `=` or IN just before each
    # placeholder; any other position has none.  Quoted text and comments
    # never supply one.
    sql = (
        "SELECT :p0 AS x FROM t o WHERE o.k = :p1 AND b IN :p2 AND c >= :p3 "
        "AND d NOT IN :p4 AND e::int = :p5 AND 'f =' :p6 AND g = /* h = */ :p7"
    )
    ops = parse_simple_select(sql)
    assert [(o.col, o.op) if o else None for o in ops] == [
        None, ("o.k", "="), ("b", "IN"), None, None, None, None, None,
    ]
    assert sql[ops[1].start:].startswith("o.k = :p1")

"""Property + example tests for the JS-coercion helpers (SURVEY.md §7.4.1-2).

The hypothesis property test cross-checks js_parse_int, in its Column and
its SQL-text form, against a Python reimplementation of JS parseInt on
arbitrary strings.
"""

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_transform_make_spark.functions.js_compat import (
    default_if_falsy,
    js_parse_int,
    js_parse_int_sql,
    js_str_falsy,
    qty_falsy,
)

# The spec-pinned JS parseInt whitespace class (ES2023 StrWhiteSpace ∪
# LineTerminator), NOT \s: Python's \s also matches the C0 separators
# \x1c-\x1f and \x85 — JS does not (hypothesis found '\x1f0': JS yields
# NaN, a \s-based reference wrongly yielded 0) — while missing nothing
# JS has that Python lacks. Single-sourced from the engine constant; the
# property test's independent value is the sign/digit/structure
# semantics, the set itself is the spec.
from data_transform_make_spark.functions.js_compat import JS_WS

# [0-9], NOT \d: Python \d matches Unicode decimal digits (e.g. "٣"),
# but JS parseInt's StrDecimalDigit is ASCII 0-9 only — as is Java \d,
# which the engine's pattern runs under. A \d-based Python reference
# wrongly parses "٣" as 3 where both JS and the engine yield NaN
# (driver r20 drew such a string and failed the suite).
_LEAD = re.compile("^[" + re.escape(JS_WS) + r"]*([+-]?[0-9]+)")


def py_js_parse_int(s):
    if s is None:
        return None
    m = _LEAD.match(s)
    return int(m.group(1)) if m else None


def test_js_parse_int_examples(spark):
    cases = [" 12x", "abc", "", None, "-7", "3.9", "0", "  +42 ", "9 lives", "x9",
             "\u00a07",   # NBSP: JS parseInt trims it (Java \\s would not)
             "\ufeff8",   # BOM: likewise StrWhiteSpace
             "\x1f5",     # C0 unit separator: NaN in JS (Python \\s matches!)
             "\x855",     # NEL: NaN in JS
             "٣",         # ARABIC-INDIC digit: NaN in JS (Python \\d matches!)
             "１２"]      # FULLWIDTH digits: likewise NaN in JS
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r.v for r in df.select(js_parse_int("s").alias("v")).collect()]
    assert got == [py_js_parse_int(c) for c in cases]
    # and against hand-checked JS parseInt outputs, independent of the
    # shared JS_WS constant (verified in a JS engine)
    assert got == [12, None, None, None, -7, 3, 0, 42, 9, None,
                   7, 8, None, None, None, None]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(max_size=12), min_size=1, max_size=30))
def test_js_parse_int_property(spark_global, strings):
    """The Column form and the SQL-text form (js_parse_int_sql) both."""
    df = spark_global.createDataFrame([(s,) for s in strings], "s string")
    rows = df.select(
        js_parse_int("s").alias("v"), F.expr(js_parse_int_sql("s")).alias("w")
    ).collect()
    want = [py_js_parse_int(s) for s in strings]
    assert [r.v for r in rows] == want
    assert [r.w for r in rows] == want


# hypothesis can't take the pytest fixture directly; module-level session
def pytest_configure():
    pass


import pytest  # noqa: E402


@pytest.fixture(scope="module")
def spark_global():
    from data_transform_make_spark.session import get_spark

    return get_spark("tests", cpus=4)


def test_falsiness(spark):
    df = spark.createDataFrame([("",), (None,), ("0",), ("x",), (" ",)], "s string")
    rows = df.select(
        js_str_falsy("s").alias("f"),
        qty_falsy("s").alias("q"),
        default_if_falsy("s", "D").alias("d"),
    ).collect()
    # JS: ''/null falsy; '0' truthy as string but qty-falsy; ' ' truthy (no trim)
    assert [r.f for r in rows] == [True, True, False, False, False]
    assert [r.q for r in rows] == [True, True, True, True, True]  # ' ' and 'x' parseInt->NaN
    assert [r.d for r in rows] == ["D", "D", "0", "x", " "]

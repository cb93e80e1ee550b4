"""``functions/literals.py`` against ``F.lit``: for every constant, the
SQL-text column must carry the same value and the same ``dataType``
(nested nullability included), so swapping one for the other leaves
plans and results unchanged. Edge values are checked in one query;
hypothesis draws the rest."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from node_js_etl_processor_spark.functions import literals

INT32_MIN, INT32_MAX = -(1 << 31), (1 << 31) - 1
INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1
MAX_DOUBLE, MIN_SUBNORMAL = 1.7976931348623157e308, 5e-324

EDGES = [
    math.nan, math.inf, -math.inf, 0.0, -0.0,
    MIN_SUBNORMAL, -MIN_SUBNORMAL, 2.2250738585072014e-308, MAX_DOUBLE, -MAX_DOUBLE,
    0.1, 1e16, 1.5e-7,
    0, INT32_MIN, INT32_MAX, INT32_MIN - 1, INT32_MAX + 1, INT64_MIN, INT64_MAX,
    True, False,
    "", "it's", "back\\slash", "new\nline", "ünïcödé 日本語", "'\\'", "-- not a comment",
    [math.nan, -0.0, math.inf, MIN_SUBNORMAL],
    [INT32_MAX, INT32_MAX + 1],
    [[1.0, -0.0], [math.nan, -math.inf, 2.5]],
    [True, False],
    ["a'", "b\\"],
]

SCALARS = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True),
    st.integers(INT64_MIN, INT64_MAX),
    st.booleans(),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12),
)
VECTORS = st.one_of(
    st.lists(st.floats(allow_nan=True, allow_infinity=True), min_size=1, max_size=6),
    st.lists(st.integers(INT64_MIN, INT64_MAX), min_size=1, max_size=6),
    st.lists(st.text(max_size=4), min_size=1, max_size=4),
)
MATRICES = st.lists(
    st.lists(st.floats(allow_nan=True, allow_infinity=True), min_size=1, max_size=4),
    min_size=1,
    max_size=4,
)


def _same(a, b) -> bool:
    """Equal values, NaN equal to NaN and -0.0 apart from 0.0."""
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return type(a) is type(b) and a == b


def _check(spark, values) -> None:
    cols = []
    for i, v in enumerate(values):
        cols += [literals.lit(v).alias(f"sql{i}"), F.lit(v).alias(f"lit{i}")]
    df = spark.range(1).select(*cols)
    row = df.collect()[0]
    for i, v in enumerate(values):
        got, want = df.schema[f"sql{i}"].dataType, df.schema[f"lit{i}"].dataType
        assert got == want, (v, got, want)
        assert _same(row[f"sql{i}"], row[f"lit{i}"]), (v, row[f"sql{i}"], row[f"lit{i}"])


def test_edge_constants_match_f_lit(spark):
    _check(spark, EDGES)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(values=st.lists(st.one_of(SCALARS, VECTORS, MATRICES), min_size=1, max_size=5))
def test_generated_constants_match_f_lit(spark, values):
    _check(spark, values)


@pytest.mark.parametrize("value", [[], [[1.0], []]])
def test_empty_array_constant_raises(value):
    with pytest.raises(ValueError):
        literals.sql(value)


def test_integer_outside_int64_raises():
    with pytest.raises(ValueError):
        literals.sql(INT64_MAX + 1)

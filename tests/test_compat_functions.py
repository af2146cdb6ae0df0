"""Function-compat layer (wren_engine_spark/functions/compat.py):
reference registry functions Spark lacks, as inlined SQL UDFs.
Reference registry: wren-core/core/src/mdl/function/scalar/mod.rs:20-230.
"""

import pytest

from wren_engine_spark.functions.compat import register_compat_functions


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_compat_functions(spark)


CASES = [
    ("wren_to_char(TIMESTAMP '2020-03-04 05:06:07', '%Y-%m-%d %H:%M:%S')",
     "2020-03-04 05:06:07"),
    ("wren_to_char(TIMESTAMP '2020-03-04 05:06:07', '%B %d, %Y')", "March 04, 2020"),
    ("date_bin(INTERVAL '15' MINUTE, TIMESTAMP '2020-01-01 10:07:33', "
     "TIMESTAMP '2020-01-01 00:00:00')", "2020-01-01 10:00:00"),
    ("date_bin(INTERVAL '1' DAY, TIMESTAMP '2020-06-15 23:59:59', "
     "TIMESTAMP '2020-01-01 00:00:00')", "2020-06-15 00:00:00"),
    ("to_unixtime(TIMESTAMP '1970-01-01 00:01:00')", 60.0),
    ("to_timestamp_nanos(1500000000)", "1970-01-01 00:00:01.500000"),
    ("get_path('{\"a\": {\"b\": 7}}', 'a.b')", "7"),
    ("get_path('{\"xs\": [1,2,3]}', 'xs[1]')", "2"),
    ("as_varchar('\"hi\"')", "hi"),
    ("as_varchar('null')", None),
    ("as_integer('42')", 42),
    ("as_integer('\"x\"')", None),
    ("as_double('2.5')", 2.5),
    ("as_boolean('true')", True),
    ("as_date('\"2020-01-02\"')", "2020-01-02"),
    ("as_array('[1,2]')", "[1,2]"),
    ("as_array('{\"k\":1}')", None),
    ("as_object('{\"k\":1}')", '{"k":1}'),
    ("is_integer('7')", True),
    ("is_integer('x')", False),
    ("is_double('2.5')", True),
    ("is_boolean('false')", True),
    ("is_varchar('\"s\"')", True),
    ("is_varchar('5')", False),
    ("is_array('[]')", True),
    ("is_object('{}')", True),
    ("digest('abc', 'sha256')",
     "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"),
    ("digest('abc', 'md5')", "900150983cd24fb0d6963f7d28e17f72"),
    ("array_dims(array('a','b'))", [2]),
    ("array_ndims(array('a'))", 1),
    ("array_distance(array(0.0d, 3.0d), array(4.0d, 0.0d))", 5.0),
    ("array_resize(array('a'), 3, 'z')", ["a", "z", "z"]),
    ("array_resize(array('a','b','c'), 2, 'z')", ["a", "b"]),
    ("array_any_value(array(NULL, 'x'))", "x"),
    ("generate_series(1, 7, 3)", [1, 4, 7]),
    ("arrow_typeof('s')", "string"),
]


@pytest.mark.parametrize("expr,want", CASES, ids=[c[0][:40] for c in CASES])
def test_compat(spark, expr, want):
    got = spark.sql(f"SELECT {expr} AS v").collect()[0][0]
    if want is None:
        assert got is None
    elif isinstance(want, float):
        assert got == pytest.approx(want)
    elif isinstance(got, (list, tuple)):
        assert list(got) == want
    else:
        assert str(got) == str(want) or got == want


def test_inlined_not_python(spark):
    """SQL UDFs must inline into the plan — no BatchEvalPython node."""
    plan = spark.sql(
        "SELECT as_integer('1') + array_distance(array(1.0d), array(2.0d))"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_names_listed(spark):
    assert len(register_compat_functions(spark)) >= 25


ARRAY_CASES = [
    ("array_pop_back(array('a','b','c'))", ["a", "b"]),
    ("array_pop_back(array())", []),
    ("array_pop_front(array('a','b'))", ["b"]),
    ("array_positions(array('x','y','x'), 'x')", [1, 3]),
    ("array_positions(array('x'), 'z')", []),
]


@pytest.mark.parametrize("expr,want", ARRAY_CASES, ids=[c[0][:40] for c in ARRAY_CASES])
def test_array_family(spark, expr, want):
    got = spark.sql(f"SELECT {expr} AS v").collect()[0][0]
    assert list(got or []) == want


def test_http_app_gated_without_fastapi(spark):
    """create_app must fail with a clear error when fastapi is absent
    (this container has no fastapi; the service layer stays usable)."""
    try:
        import fastapi  # noqa: F401
        pytest.skip("fastapi installed here")
    except ImportError:
        pass
    from wren_engine_spark import serving
    with pytest.raises(RuntimeError, match="fastapi"):
        serving.create_app(object())

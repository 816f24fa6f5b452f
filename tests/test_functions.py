"""Unit tests: null normalization + type conformance casts (the
reference's load-bearing semantics, SURVEY.md §1.3 / T6)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestors_spark.functions.casts import conform_types
from data_ingestors_spark.functions.nulls import normalize_nulls


def _str_df(spark, col, values):
    return spark.createDataFrame(
        [(v,) for v in values], T.StructType([T.StructField(col, T.StringType(), True)])
    )


def test_null_forms_unify(spark):
    df = _str_df(spark, "v", [None, "", "  ", "NA", "NULL", "None", " x ", "ok"])
    out = [r.v for r in normalize_nulls(df).collect()]
    assert out == [None, None, None, None, None, None, "x", "ok"]


def test_non_tabular_only_empty_is_na(spark):
    df = _str_df(spark, "v", ["NA", "NULL", "None", ""])
    out = [r.v for r in normalize_nulls(df, tabular=False).collect()]
    assert out == ["NA", "NULL", "None", None]


def test_int_cast_no_float_truncation(spark):
    df = _str_df(spark, "v", ["42", "3.0", "3.5", "abc", None, "-7", "1e2"])
    out = conform_types(df, {"v": "INT"})
    assert [r.v for r in out.collect()] == [42, 3, None, None, None, -7, 100]
    assert dict(out.dtypes)["v"] == "int"


def test_bigint_and_double(spark):
    df = _str_df(spark, "v", ["9999999999", "1.5", "inf"])
    assert [r.v for r in conform_types(df, {"v": "BIGINT"}).collect()] == [9999999999, None, None]
    got = [r.v for r in conform_types(df, {"v": "DOUBLE"}).collect()]
    assert got[0] == 9999999999.0 and got[1] == 1.5


def test_bigint_exact_beyond_double_precision(spark):
    # 2^53 + 1 is not representable as a double; the direct string→
    # bigint path must keep it exact instead of rounding to 2^53.
    df = _str_df(spark, "v", ["9007199254740993", "-9007199254740993"])
    out = [r.v for r in conform_types(df, {"v": "BIGINT"}).collect()]
    assert out == [9007199254740993, -9007199254740993]


def test_int_overflow_is_error_not_wrap(spark):
    from data_ingestors_spark.validators.rules import validate_schema_single_pass

    df = _str_df(spark, "v", ["3000000000", "42", "99999999999999999999999"])
    # conformance cast: overflow → NULL (never a wrapped value)
    out = [r.v for r in conform_types(df, {"v": "INT"}).collect()]
    assert out == [None, 42, None]
    # validation: overflow is a counted error with samples
    res = validate_schema_single_pass(df, {"v": "INT"})
    assert not res.is_valid
    assert res.metadata["v__overflow"] == 2
    assert res.metadata["v__non_integer"] == 0


def test_bool_vocabulary(spark):
    df = _str_df(
        spark, "v", ["true", "T", "YES", "y", "1", "1.0", "false", "F", "no", "N", "0", "0.0", "maybe", None]
    )
    out = [r.v for r in conform_types(df, {"v": "BOOL"}).collect()]
    assert out == [True] * 6 + [False] * 6 + [None, None]


def test_datetime_and_date(spark):
    df = _str_df(spark, "v", ["2024-01-02 03:04:05", "2024-01-02", "not-a-date"])
    ts = [r.v for r in conform_types(df, {"v": "DATETIME"}).collect()]
    assert ts[0].hour == 3 and ts[2] is None
    d = [r.v for r in conform_types(df, {"v": "DATE"}).collect()]
    assert str(d[1]) == "2024-01-02" and d[2] is None


def test_time_canonical_string(spark):
    df = _str_df(spark, "v", ["13:05:00", "9:5:1", "nope"])
    out = [r.v for r in conform_types(df, {"v": "TIME"}).collect()]
    assert out == ["13:05:00", "09:05:01", None]


def test_decimal_precision(spark):
    df = _str_df(spark, "v", ["12.345", "bad"])
    out = conform_types(df, {"v": "DECIMAL(10,2)"})
    vals = [r.v for r in out.collect()]
    assert str(vals[0]) == "12.35" and vals[1] is None

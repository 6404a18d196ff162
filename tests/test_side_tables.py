"""panel.local_table: driver-built side tables as Arrow LocalRelations.

Every case compares the helper row for row with the pickled-RDD path it
replaces, ``spark.createDataFrame(list, schema)``.
"""

import math

import pytest

from views_transformation_library_spark import panel

THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


def _same_rows(spark, rows, schema):
    got = panel.local_table(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _canon(got.collect()) == _canon(want.collect())
    return got


def _canon(rows):
    # NaN != NaN: compare NaN by a marker so row equality is exact
    def v(x):
        if isinstance(x, float) and math.isnan(x):
            return "NaN"
        if isinstance(x, list):
            return [v(e) for e in x]
        return x

    return [tuple(v(x) for x in r) for r in rows]


def test_nan_and_null_doubles_stay_distinct(spark):
    got = _same_rows(
        spark, [(1, float("nan")), (2, None), (3, 0.5)], "k long, w double"
    )
    vals = {r["k"]: r["w"] for r in got.collect()}
    assert math.isnan(vals[1]) and vals[2] is None


def test_infinities(spark):
    _same_rows(
        spark, [(1, float("inf")), (2, float("-inf"))], "k int, w double"
    )


def test_int_and_bigint_ranges(spark):
    big = 2**62
    _same_rows(spark, [(2**31 - 1, big), (-(2**31), -big)], "i int, b bigint")
    with pytest.raises(ValueError, match="field i"):
        panel.local_table(spark, [(2**31, 0)], "i int, b bigint")
    with pytest.raises(ValueError, match="field b"):
        panel.local_table(spark, [(0, 2**63)], "i int, b bigint")


def test_array_and_string_columns(spark):
    _same_rows(
        spark,
        [(0, "a", [1.0, float("nan")]), (1, None, None), (2, "ü", [])],
        "k int, s string, v array<double>",
    )


def test_empty_rows(spark):
    got = _same_rows(spark, [], "node bigint, pagerank double")
    assert got.count() == 0


def test_column_mapping_matches_rows(spark):
    got = panel.local_table(spark, {"k": [1, 2], "w": [0.5, None]}, "k long, w double")
    assert got.collect() == spark.createDataFrame(
        [(1, 0.5), (2, None)], "k long, w double"
    ).collect()


@pytest.mark.parametrize(
    "rows, field",
    [
        ([(1, "x")], "w"),  # str into double
        ([(1, 2)], "w"),  # int into double: the row verifier rejects it too
        ([(True, 1.0)], "k"),  # bool is not an int
        ([(1, [1.0, "a"])], "v.element"),
    ],
)
def test_wrong_python_type_names_the_field(spark, rows, field):
    schema = "k long, w double" if field != "v.element" else "k long, v array<double>"
    with pytest.raises(TypeError, match=f"field {field}"):
        panel.local_table(spark, rows, schema)
    with pytest.raises(TypeError):
        spark.createDataFrame(rows, schema)


def test_row_width_mismatch_raises(spark):
    with pytest.raises(ValueError, match="width"):
        panel.local_table(spark, [(1, 1.0, 2)], "k long, w double")


def test_small_table_is_a_local_relation(spark):
    df = panel.local_table(spark, [(i, float(i)) for i in range(100)], "k long, w double")
    assert df.isLocal()
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_above_threshold_rows_equal(spark):
    rows = [(i, float(i) / 3, [float(i)]) for i in range(50)]
    schema = "k long, w double, v array<double>"
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "0")
    try:
        df = _same_rows(spark, rows, schema)
        assert not df.isLocal()
    finally:
        spark.conf.set(THRESHOLD, old)

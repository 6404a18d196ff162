import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from views_transformation_library_spark.panel import local_table
from views_transformation_library_spark.session import CODEGEN_CACHE_ENTRIES


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("vtl_spark_tests")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="vtl_wh_"))
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def served(spark):
    """The test session as `session.get_spark` configures it: get_spark
    returns the running session and applies its runtime confs to it; the
    test session's own values are put back afterwards."""
    from views_transformation_library_spark.session import get_spark

    before = spark.conf.getAll
    session = get_spark()
    yield session
    for key, value in session.conf.getAll.items():
        if before.get(key) != value and session.conf.isModifiable(key):
            if key in before:
                session.conf.set(key, before[key])
            else:
                session.conf.unset(key)


def make_panel(spark, rows, cols=("time_id", "unit_id", "value")):
    """rows: list of tuples matching cols; None -> NULL, NaN stays NaN.

    Built from Python values as an Arrow LocalRelation (`panel.local_table`),
    not through pandas: the Arrow conversion of a pandas frame turns NaN
    into NULL, so a NaN test would test NULL."""
    keys = ("time_id", "unit_id")
    schema = ", ".join(f"{c} long" if c in keys else f"{c} double" for c in cols)
    kinds = [int if c in keys else float for c in cols]
    data = [
        tuple(None if v is None else kind(v) for kind, v in zip(kinds, row))
        for row in rows
    ]
    return local_table(spark, data, schema)


def collect_panel(df, value_cols=None):
    """Sorted (time, unit) -> list of feature values for easy assertions."""
    value_cols = value_cols or [c for c in df.columns if c not in ("time_id", "unit_id")]
    rows = df.orderBy("unit_id", "time_id").collect()
    return [
        (r["unit_id"], r["time_id"], *[r[c] for c in value_cols]) for r in rows
    ]


def forbid_count(monkeypatch, df):
    """Make ``DataFrame.count`` raise for the rest of the test: size gates
    read their count off the checkpoint job, never through ``count``."""

    def no_count(self):
        raise AssertionError("DataFrame.count called while building")

    monkeypatch.setattr(type(df), "count", no_count)

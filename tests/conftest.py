import os
import sys
import tempfile

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

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


def make_panel(spark, rows, cols=("time_id", "unit_id", "value")):
    """rows: list of tuples matching cols; None -> NULL."""
    pdf = pd.DataFrame(rows, columns=list(cols))
    schema = ", ".join(
        f"{c} long" if c in ("time_id", "unit_id") else f"{c} double" for c in cols
    )
    return spark.createDataFrame(pdf, schema=schema)


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

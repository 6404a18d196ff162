"""Source/sink round-trips: csv, json, partitioned parquet write + pruning,
and the job-free parquet read."""

import contextlib
import decimal
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from views_transformation_library_spark import plans, sources
from views_transformation_library_spark.sources import tables


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], schema="id long, name string, v double"
    )
    csv_path, json_path = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.option("header", "true").csv(csv_path)
    df.write.json(json_path)
    back_csv = sources.read_csv(spark, csv_path, schema="id long, name string, v double")
    back_json = sources.read_json(spark, json_path, schema="id long, name string, v double")
    assert sorted(r["id"] for r in back_csv.collect()) == [1, 2]
    assert sorted(r["v"] for r in back_json.collect()) == [1.5, 2.5]


def test_partitioned_parquet_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("a", "b") for i in range(5)],
        schema="dt string, id long, v double",
    )
    out = str(tmp_path / "p")
    sources.write_parquet(df, out, partition_by=["dt"])
    back = sources.read_parquet(spark, out).filter(F.col("dt") == "a")
    assert back.count() == 5
    # partition pruning: only the dt=a directory is in the scan
    plan = plans.physical_plan(back)
    assert "dt=b" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key into the same bucket count must
    sort-merge-join with no Exchange on either side — the co-location
    contract write_bucketed exists for."""
    left = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    sources.write_bucketed(left, "t_bl", 4, ["k"], sort_by=["k"],
                           path=str(tmp_path / "bl"))
    sources.write_bucketed(right, "t_br", 4, ["k"], sort_by=["k"],
                           path=str(tmp_path / "br"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_bl").join(spark.table("t_br"), "k")
            plan = plans.physical_plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert joined.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # groupBy on the bucket key also skips its shuffle
        agg = spark.table("t_bl").groupBy("k").agg(F.sum("a"))
        assert "Exchange" not in plans.physical_plan(agg)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bl")
        spark.sql("DROP TABLE IF EXISTS t_br")


def test_range_sorted_layout_has_disjoint_file_ranges(spark, tmp_path):
    """write_range_sorted: every parquet file covers a disjoint range of
    the layout column (parquet min/max stats then skip files for range
    predicates), and rows are sorted within each file."""
    import glob

    import pyarrow.parquet as pq

    df = spark.range(10_000).selectExpr(
        "id % 500 as time_id", "id as unit_id", "cast(id as double) as value"
    )
    path = str(tmp_path / "ranged")
    sources.write_range_sorted(df, path, "time_id", 8, secondary_sort=["unit_id"])
    spans = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        t = pq.read_table(f, columns=["time_id"])["time_id"].to_pylist()
        if t:
            assert t == sorted(t)  # sorted within file
            spans.append((min(t), max(t)))
    assert len(spans) >= 4  # really range-partitioned, not one file
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint up to boundary duplicates
    # full fidelity
    assert spark.read.parquet(path).count() == 10_000


def _py_morton(vals, bits):
    z = 0
    k = len(vals)
    for j, v in enumerate(vals):
        v &= (1 << bits) - 1
        for b in range(bits):
            z |= ((v >> b) & 1) << (b * k + j)
    return z


def test_zorder_key_matches_reference_interleave(spark):
    rows = [(x, y) for x in (0, 1, 2, 3, 17, 65535, 70000) for y in (0, 1, 5, 255)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = sources.zorder_key(df, ["x", "y"], bits=16).collect()
    for r in out:
        assert r["zorder"] == _py_morton([r["x"], r["y"]], 16)


def test_zorder_key_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exceeds 62"):
        sources.zorder_key_sql(["a", "b", "c", "d"], bits=16)
    with _pytest.raises(ValueError, match="at least one"):
        sources.zorder_key_sql([], bits=8)


def test_write_zordered_files_are_tight_on_both_dims(spark, tmp_path):
    """Z-order layout: each file's bounding box covers a small fraction of
    the (x, y) domain on BOTH dimensions — a single-column sort can only be
    tight on its own column."""
    import glob

    import pyarrow.parquet as pq

    n = 1 << 12
    # x ~ row-major, y ~ bit-reversed x: decorrelated uniform grid
    df = spark.range(n).selectExpr(
        "id % 64 as x", "cast(conv(reverse(lpad(bin(id % 64), 6, '0')), 2, 10) as long) as y",
        "id as payload"
    )
    path = str(tmp_path / "zord")
    sources.write_zordered(df, path, ["x", "y"], bits=6, n_partitions=16)
    areas = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        t = pq.read_table(f, columns=["x", "y"])
        xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
        if xs:
            areas.append(
                (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1) / (64.0 * 64.0)
            )
    assert len(areas) >= 8
    # average bounding-box area well under the full domain; random layout -> ~1.0
    assert sum(areas) / len(areas) < 0.5
    assert spark.read.parquet(path).count() == n


def test_read_parquet_pruned_skips_files(spark, tmp_path):
    df = spark.range(10_000).selectExpr(
        "id % 500 as time_id", "id as unit_id", "cast(id as double) as value"
    )
    path = str(tmp_path / "pruned")
    sources.write_range_sorted(df, path, "time_id", 8, secondary_sort=["unit_id"])
    stats = {}
    from views_transformation_library_spark.sources import read_parquet_pruned

    out = read_parquet_pruned(spark, path, "time_id", lo=100, hi=120, stats=stats)
    assert stats["files_total"] >= 4
    assert stats["files_scanned"] < stats["files_total"]  # real skipping
    expected = df.filter("time_id between 100 and 120")
    assert out.count() == expected.count()
    assert out.agg(F.sum("unit_id")).collect()[0][0] == \
        expected.agg(F.sum("unit_id")).collect()[0][0]
    # empty range: no files, schema preserved
    none = read_parquet_pruned(spark, path, "time_id", lo=10_000, stats={})
    assert none.count() == 0 and set(none.columns) == {"time_id", "unit_id", "value"}


# ---------------------------------------------------------------------------
# read_parquet: schema from the footer, partition listing on the driver


def _jobs_launched(spark, read) -> int:
    """Spark jobs that ``read()`` launches, counted through a job group."""
    sc = spark.sparkContext
    group = f"read-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet job pin")
    try:
        read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _month_table(spark, path, months):
    """A month-partitioned panel as the engine's sink writes it."""
    df = spark.range(months * 4).selectExpr(
        f"id % {months} as time_id", "id as unit_id", "cast(id as double) as value"
    )
    sources.write_parquet(df, path, partition_by=["time_id"])
    return path


@pytest.fixture(scope="module")
def read_inputs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("read_pin")
    arrow_file = str(root / "arrow.parquet")
    pq.write_table(pa.table({"unit_id": [1, 2], "value": [0.5, None]}), arrow_file)
    part_dir = str(root / "spark_parts")
    spark.range(8).selectExpr("id as unit_id", "id / 2 as value").write.parquet(part_dir)
    assert os.path.exists(os.path.join(part_dir, "_SUCCESS"))
    return {
        "arrow_file": (arrow_file, None),
        "spark_part_dir": (part_dir, None),
        "month_table": (_month_table(spark, str(root / "months"), 60), None),
        "month_table_schema": (str(root / "months"), "unit_id long, value double"),
    }


@pytest.mark.parametrize(
    "case", ["arrow_file", "spark_part_dir", "month_table", "month_table_schema"]
)
def test_read_parquet_launches_no_job(served, read_inputs, case):
    """A served spec's read is planning only: the schema comes from the
    footer and the 60 month directories are listed on the driver. Spark's
    inference reads the footer in a job, and above the listing threshold
    (Spark's default is 32 directories) a job lists the directories."""
    path, schema = read_inputs[case]
    assert _jobs_launched(served, lambda: sources.read_parquet(served, path, schema)) == 0


def _arrow_case(**cols):
    def build(spark, path):
        pq.write_table(pa.table(cols), path)
        return path

    return build


def _duckdb_ints(spark, path):
    """INT32 / INT64 annotated as signed Int(32) / Int(64), as DuckDB writes them."""
    import duckdb

    duckdb.sql(
        "COPY (SELECT 1::INTEGER AS i32, 2::BIGINT AS i64 UNION ALL SELECT NULL, -5) "
        f"TO '{path}' (FORMAT parquet)"
    )
    schema = pq.read_metadata(path).schema
    assert [str(schema.column(i).logical_type) for i in range(2)] == [
        "Int(bitWidth=32, isSigned=true)", "Int(bitWidth=64, isSigned=true)"
    ]
    return path


def _spark_part_dir(spark, path):
    spark.range(6).selectExpr(
        "id", "cast(id as int) as i", "cast(id as string) as s", "id % 2 = 0 as b",
        "id / 4 as d", "cast(id as float) as f",
    ).write.parquet(path)
    return path


def _hive_dirs(spark, path):
    for k, rows in (("1", [1, 2]), ("2", [3])):
        os.makedirs(os.path.join(path, f"k={k}"))
        pq.write_table(pa.table({"v": rows}), os.path.join(path, f"k={k}", "part-0.parquet"))
    return path


def _two_schemas(spark, path):
    """Two files whose schemas differ, written so that the directory's own
    order does not start with the file that sorts first: the footer read
    must be the sorted first one, as in Spark."""
    os.makedirs(path)
    for attempt in range(26):
        late, early = f"{chr(ord('z') - attempt)}.parquet", "a.parquet"
        pq.write_table(pa.table({"x": [1, 2]}), os.path.join(path, late))
        pq.write_table(pa.table({"y": ["p"]}), os.path.join(path, early))
        if os.listdir(path)[0] != early:
            return path
        for f in (late, early):
            os.remove(os.path.join(path, f))
    pytest.fail("no file pair whose directory order differs from its sorted order")


def _summary_files(spark, path):
    """A data file plus ``_metadata`` and ``_common_metadata`` summaries of
    other schemas: Spark reads ``_common_metadata``."""
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1]}), os.path.join(path, "part-0.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("m", pa.string())]), os.path.join(path, "_metadata"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("c", pa.float64())]), os.path.join(path, "_common_metadata"))
    return path


def _field_ids(spark, path):
    field = pa.field("a", pa.int64(), metadata={"PARQUET:field_id": "7"})
    pq.write_table(pa.table([pa.array([1, 2])], schema=pa.schema([field])), path)
    return path


def _partition_collision(spark, path):
    os.makedirs(os.path.join(path, "k=1"))
    pq.write_table(pa.table({"K": [5], "v": [1]}), os.path.join(path, "k=1", "part-0.parquet"))
    return path


def _unreadable(spark, path):
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet footer")
    return path


def _empty_dir(spark, path):
    os.makedirs(path)
    return path


_ARROW_INPUTS = {
    "boolean": pa.array([True, None, False]),
    "int32": pa.array([1, None, -3], pa.int32()),
    "int64": pa.array([1, None, -3], pa.int64()),
    "float": pa.array([1.5, None, -2.0], pa.float32()),
    "double": pa.array([1.5, None, -2.0]),
    "string": pa.array(["a", None, "é"]),
    "timestamp_us": pa.array([1, None, 3], pa.timestamp("us")),
    "timestamp_ns": pa.array([1, None, 3], pa.timestamp("ns")),
    "timestamp_utc": pa.array([1, None, 3], pa.timestamp("ms", tz="UTC")),
    "date": pa.array([1, None, 3], pa.date32()),
    "decimal": pa.array([decimal.Decimal("1.25"), None, decimal.Decimal("-3.50")], pa.decimal128(5, 2)),
    "binary": pa.array([b"a", None, b"c"]),
    "int8": pa.array([1, None, -3], pa.int8()),
    "int16": pa.array([1, None, -3], pa.int16()),
    "uint32": pa.array([1, None, 3], pa.uint32()),
    "uint64": pa.array([1, None, 3], pa.uint64()),
    "list": pa.array([[1, 2], None, []]),
    "struct": pa.array([{"x": 1}, None, {"x": 3}]),
    "map": pa.array([[("k", 1)], None, []], pa.map_(pa.string(), pa.int64())),
}
_FOOTER_READ = {"boolean", "int32", "int64", "float", "double", "string"}

# case -> (builder, whether read_parquet takes the schema from the footer)
_PARITY_CASES = {
    **{
        name: (_arrow_case(id=pa.array([1, 2, 3]), v=values), name in _FOOTER_READ)
        for name, values in _ARROW_INPUTS.items()
    },
    "signed_int_annotations": (_duckdb_ints, True),
    "zero_rows": (_arrow_case(a=pa.array([], pa.int64()), s=pa.array([], pa.string())), True),
    "spark_part_dir": (_spark_part_dir, True),
    "spark_month_table": (lambda spark, path: _month_table(spark, path, 3), True),
    "hive_dirs": (_hive_dirs, True),
    "two_schemas": (_two_schemas, True),
    "summary_files": (_summary_files, True),
    "field_ids": (_field_ids, False),
    "case_collision": (_arrow_case(a=pa.array([1]), A=pa.array([2])), False),
    "partition_collision": (_partition_collision, False),
    "uri": (lambda spark, path: "file://" + _hive_dirs(spark, path), False),
    "glob": (lambda spark, path: _hive_dirs(spark, path) + "/k=*", False),
    "missing": (lambda spark, path: path, False),
    "empty_dir": (_empty_dir, False),
    "unreadable": (_unreadable, False),
}


@pytest.fixture(scope="module")
def parity_paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("parity")
    return {
        case: (build(spark, str(root / case)), footer)
        for case, (build, footer) in _PARITY_CASES.items()
    }


@contextlib.contextmanager
def _flipped_confs(spark, keys):
    """Set each boolean conf to the opposite of its current value."""
    before = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in before.items():
            spark.conf.set(k, "false" if v == "true" else "true")
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("flip", [False, True], ids=["session", "flipped"])
@pytest.mark.parametrize("case", list(_PARITY_CASES))
def test_read_parquet_matches_spark_inference(spark, parity_paths, case, flip):
    """read_parquet gives what Spark's own inference gives: the same schema
    (down to its JSON) and rows, or the same error. Footer-read types have
    one Spark type under every session conf; the rest go to Spark. The
    flipped run changes the two confs that retype a parquet column."""
    path, footer = parity_paths[case]
    assert (tables._footer_schema(spark, [path], {}) is not None) == footer
    confs = ["spark.sql.parquet.binaryAsString", "spark.sql.legacy.parquet.nanosAsLong"]
    with _flipped_confs(spark, confs) if flip else contextlib.nullcontext():
        try:
            want = spark.read.parquet(path)
            want_rows = want.collect()
        except Exception as exc:  # the read fails: read_parquet must fail alike
            with pytest.raises(type(exc)):
                sources.read_parquet(spark, path).collect()
            return
        got = sources.read_parquet(spark, path)
        assert got.schema == want.schema
        assert got.schema.json() == want.schema.json()
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want_rows))

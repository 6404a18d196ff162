"""Sources & sinks.

The reference reads nothing from disk (data arrives from viewser/ingester
services, SURVEY.md §1.4). This engine's canonical source is Parquet with
pushdown-friendly declarative reads; CSV/JSON/JDBC are thin wrappers that
keep explicit schemas (no runaway inference on big data); the sink is
partitioned Parquet. Lakehouse formats (Delta/Iceberg/Hudi) need jars not
present in this image and are gated behind import-try.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def read_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in (names or TABLES)}


def read_parquet(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """Read a parquet file or directory (flat or Hive-style ``key=value``
    partitioned). Without ``schema``, the schema comes from the one footer
    Spark's own inference would read, read on the driver (`_footer_schema`),
    so the read launches no Spark job; where that footer's Spark type could
    differ from the mapped one, Spark infers it as before."""
    return _read_parquet(spark, [path], schema)


def _read_parquet(
    spark: SparkSession,
    paths: list[str],
    schema: StructType | str | None = None,
    footers: dict | None = None,
) -> DataFrame:
    """The one parquet read path. ``footers`` maps file paths to footers
    the caller has already opened, so none is read twice."""
    if schema is None:
        schema = _footer_schema(spark, paths, footers or {})
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


# Parquet columns whose Spark type no session conf changes, keyed by
# (physical type, logical type, converted type) as pyarrow prints them.
# Timestamps (int96AsTimestamp, inferTimestampNTZ, nanosAsLong), binary
# (binaryAsString), decimals, dates, narrow and unsigned ints and nested
# types are left to Spark's inference.
_FOOTER_TYPES = {
    ("BOOLEAN", "None", "NONE"): BooleanType(),
    ("INT32", "None", "NONE"): IntegerType(),
    ("INT32", "Int(bitWidth=32, isSigned=true)", "INT_32"): IntegerType(),
    ("INT64", "None", "NONE"): LongType(),
    ("INT64", "Int(bitWidth=64, isSigned=true)", "INT_64"): LongType(),
    ("FLOAT", "None", "NONE"): FloatType(),
    ("DOUBLE", "None", "NONE"): DoubleType(),
    ("BYTE_ARRAY", "String", "UTF8"): StringType(),
}
# the Spark schema a Spark writer stores in the footer; inference prefers it
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_SUMMARY_FILES = ("_common_metadata", "_metadata")
# a URI scheme, or a character Hadoop expands as a glob
_NOT_A_LOCAL_PATH = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:|[{}\[\]*?\\]")


def _footer_schema(spark: SparkSession, paths: list[str], footers: dict) -> StructType | None:
    """The schema ``spark.read.parquet(*paths)`` would infer, read on the
    driver from the same footer: Spark 4.1's `ParquetUtils.splitFiles`
    sorts the listed leaf files by path string and reads
    ``_common_metadata``, else ``_metadata``, else the first data file.
    None — Spark infers — where the answer could differ: a path that is
    not an absolute local one (a URI, a glob), a missing or empty path, a
    symlink, schema merging, an unreadable footer, a column type outside
    `_FOOTER_TYPES`, field ids or Spark field metadata, names that collide
    case-insensitively or with a partition directory key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    leaves, keys = [], set()
    for path in paths:
        listed = _list_leaves(path)
        if listed is None:
            return None
        leaves += listed[0]
        keys |= listed[1]
    if not leaves or spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    leaves.sort(key=lambda f: f.encode("utf-16-be"))  # Java's String order
    first = {}
    for f in leaves:
        name = os.path.basename(f)
        first.setdefault(name if name in _SUMMARY_FILES else "data", f)
    chosen = first.get("_common_metadata") or first.get("_metadata") or first["data"]
    md = footers.get(chosen)
    try:
        if md is None:
            md = pq.read_metadata(chosen)
        arrow_schema = md.schema.to_arrow_schema()
    except (OSError, ValueError, pa.ArrowException):
        return None
    return _footer_struct(md, arrow_schema, keys)


def _hidden(name: str) -> bool:
    """Hadoop's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    Spark skips these names at every directory level."""
    excluded = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return excluded and not name.startswith(_SUMMARY_FILES)


def _list_leaves(path: str) -> tuple[list[str], set[str]] | None:
    """The leaf files Spark lists under one read path, and the keys of its
    ``key=value`` directories, raw and %-unescaped as Spark reads them;
    None for a path this cannot mirror: not an absolute, normalized local
    path, a glob, missing, holding a symlink, or unreadable."""
    if (
        _NOT_A_LOCAL_PATH.search(path)
        or not os.path.isabs(path)
        or path != os.path.normpath(path)
        or os.path.islink(path)
    ):
        return None
    if os.path.isfile(path):
        return None if _hidden(os.path.basename(path)) else ([path], set())
    if not os.path.isdir(path):
        return None
    leaves, keys, todo = [], set(), [path]
    try:
        while todo:
            with os.scandir(todo.pop()) as entries:
                for e in entries:
                    if _hidden(e.name):
                        continue
                    if e.is_symlink():
                        return None
                    if not e.is_dir():
                        leaves.append(e.path)
                        continue
                    todo.append(e.path)
                    if "=" in e.name:
                        key = e.name.split("=", 1)[0]
                        keys |= {key, unquote(key)}
    except OSError:
        return None
    return leaves, keys


def _footer_struct(md, arrow_schema, partition_keys: set[str]) -> StructType | None:
    """The Spark schema of a footer whose columns are all flat and of a
    `_FOOTER_TYPES` type, nullable as Spark reads every file source; None
    otherwise. A Spark-written footer's stored schema must agree."""
    cols = [md.schema.column(i) for i in range(md.num_columns)]
    if not cols or len(cols) != len(arrow_schema):
        return None
    fields = []
    for c, af in zip(cols, arrow_schema):
        kind = _FOOTER_TYPES.get((c.physical_type, str(c.logical_type), c.converted_type))
        if kind is None or c.path != c.name or c.max_repetition_level or af.metadata:
            return None
        fields.append(StructField(c.name, kind, True))
    lower = [f.name.lower() for f in fields]
    if len(set(lower)) != len(lower) or set(lower) & {k.lower() for k in partition_keys}:
        return None
    stored = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        try:
            spark_fields = StructType.fromJson(json.loads(stored)).fields
        except (ValueError, KeyError, TypeError):
            return None
        if [(f.name, f.dataType, f.metadata) for f in spark_fields] != [
            (f.name, f.dataType, {}) for f in fields
        ]:
            return None
    return StructType(fields)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV with an explicit schema (inferSchema double-scans the data —
    avoid on anything large)."""
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: StructType | str | None = None, **options
) -> DataFrame:
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC source (needs the driver jar on the classpath; partition with
    partitionColumn/lowerBound/upperBound/numPartitions for parallel reads)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet sink — partition columns become directory keys so
    later reads prune by them."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_by: list[str],
    sort_by: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table sink (`bucketBy` + `saveAsTable` — bucketing
    metadata lives in the catalog, so it needs a table name, not a bare
    path; pass ``path`` to pin the files outside the warehouse dir).

    This is the co-located-join primitive at 100 TB: two tables bucketed
    into the same bucket count on the join key sort-merge-join with ZERO
    Exchange on either side (pinned in tests/test_sources.py), and
    aggregations keyed on the bucket columns skip their shuffle too.
    ``sort_by`` additionally orders rows within each bucket file so the
    merge phase streams without sorting.
    """
    writer = df.write.mode(mode).bucketBy(int(buckets), *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    range_col: str,
    n_partitions: int,
    secondary_sort: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-layout parquet sink: `repartitionByRange` on ``range_col``
    (sampled disjoint boundaries) + `sortWithinPartitions`, so every
    output file covers a DISJOINT range of the column (boundary values
    excepted) and rows are ordered inside each file.

    Why it matters at 100 TB: parquet keeps min/max statistics per file
    and row group; with this layout a predicate like
    ``time_id BETWEEN a AND b`` skips every non-overlapping file at scan
    planning time — the temporal analogue of `write_bucketed`'s join
    co-location. Directory partitioning (`write_parquet(partition_by=...)`)
    prunes at directory granularity but explodes small files for
    high-cardinality keys; range layout keeps file count fixed
    (`n_partitions`) at any cardinality. ``secondary_sort`` orders within
    the range (e.g. unit_id) so downstream window chains read
    nearly-clustered data."""
    from pyspark.sql import functions as F

    out = df.repartitionByRange(int(n_partitions), F.col(range_col))
    out = out.sortWithinPartitions(range_col, *(secondary_sort or []))
    out.write.mode(mode).parquet(path)


def read_stream_parquet(
    spark: SparkSession, path: str, schema: StructType | str, **options
) -> DataFrame:
    """Streaming parquet source (schema mandatory for streams)."""
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.parquet(path)


def read_delta(spark: SparkSession, path: str) -> DataFrame:  # pragma: no cover - env
    try:
        return spark.read.format("delta").load(path)
    except Exception as exc:
        raise NotImplementedError(
            "Delta Lake jars are not on the classpath in this environment"
        ) from exc


def zorder_key_sql(cols: list[str], bits: int = 16, dialect: str = "spark") -> str:
    """Morton/Z-order interleave of ``len(cols)`` integer columns into one
    BIGINT sort key: bit b of column j lands at position b*k + j. Values
    are masked to ``bits`` low bits first (caller maps/normalizes into
    [0, 2^bits)). One shared generator emits the Spark and DuckDB
    spellings of the SAME integer formula (shiftleft/shiftright function
    calls vs << >> operators), so the driver gate is engine-exact.
    """
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_key_sql needs at least one column")
    if bits * k > 62:
        raise ValueError(f"bits*k = {bits * k} exceeds 62 (BIGINT sign-safe)")
    mask = (1 << bits) - 1
    terms = []
    for j, c in enumerate(cols):
        for b in range(bits):
            tgt = b * k + j
            if dialect == "spark":
                terms.append(
                    f"shiftleft(shiftright(CAST({c} AS BIGINT) & {mask}, {b}) & 1, {tgt})"
                )
            else:
                terms.append(
                    f"((((CAST({c} AS BIGINT) & {mask}) >> {b}) & 1) << {tgt})"
                )
    return "(" + " + ".join(terms) + ")"


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, out: str = "zorder"
) -> DataFrame:
    """Attach the Morton key as a column (see zorder_key_sql)."""
    from pyspark.sql import functions as F

    return df.withColumn(out, F.expr(zorder_key_sql(cols, bits, "spark")))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_partitions: int = 32,
    mode: str = "overwrite",
) -> None:
    """Multi-dimensional data-skipping layout: range-partition + sort the
    corpus by the Morton key of ``cols``, so parquet min/max file stats
    are simultaneously tight on EVERY interleaved dimension — a filter on
    any of the z-ordered columns skips most files at planning time, where
    a single-column range sort only helps its one column. This is the
    standard Delta/Iceberg OPTIMIZE ZORDER layout, built from plain
    repartitionByRange + sortWithinPartitions — no table format needed.
    The key column is dropped from the files (recomputable)."""
    keyed = zorder_key(df, cols, bits, out="__z")
    out = keyed.repartitionByRange(int(n_partitions), "__z")
    out = out.sortWithinPartitions("__z").drop("__z")
    out.write.mode(mode).parquet(path)


def read_parquet_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    stats: dict | None = None,
) -> DataFrame:
    """File-skipping reader driven by parquet footer statistics: list the
    dataset's files, read each footer's per-column min/max (driver-side,
    pyarrow), DROP every file whose [min, max] cannot intersect
    [lo, hi], and hand Spark only the survivors — then apply the row-level
    filter on top (footer pruning is necessary-not-sufficient).

    This is the manifest-pruning half of a table format (Delta/Iceberg
    data skipping) from plain parquet + pyarrow; it composes with
    `write_range_sorted` (tight single-column ranges) and
    `write_zordered` (simultaneously tight multi-dim ranges). At cluster
    scale a catalog's manifest replaces the footer reads — the footer
    loop here is O(files) driver work, the same order as the file listing
    Spark already performs; Spark's own row-group pruning then works
    within the surviving files.

    Pass a dict as ``stats`` to receive {"files_total", "files_scanned"}.
    """
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    files = sorted(
        f
        for f in _glob.glob(_os.path.join(path, "*.parquet"))
        + _glob.glob(_os.path.join(path, "part-*"))
        if f.endswith(".parquet")
    )
    files = sorted(set(files))
    keep, opened = [], {}
    for f in files:
        md = opened[f] = _pq.read_metadata(f)
        fmin = fmax = None
        have = True
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            cstat = None
            for ci in range(row_group.num_columns):
                c = row_group.column(ci)
                if c.path_in_schema == col:
                    cstat = c.statistics
                    break
            if cstat is None or not cstat.has_min_max:
                have = False
                break
            fmin = cstat.min if fmin is None else min(fmin, cstat.min)
            fmax = cstat.max if fmax is None else max(fmax, cstat.max)
        if not have:
            keep.append(f)  # no stats -> cannot prune, must scan
            continue
        if (lo is not None and fmax < lo) or (hi is not None and fmin > hi):
            continue
        keep.append(f)
    if stats is not None:
        stats["files_total"] = len(files)
        stats["files_scanned"] = len(keep)
    if not keep:
        # preserve schema: read the dataset lazily and filter to nothing
        return _read_parquet(spark, [path], footers=opened).filter(F.lit(False))
    df = _read_parquet(spark, keep, footers=opened)
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(col) >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(col) <= F.lit(hi))
    return df.filter(cond)

"""Panel contract: key columns, validation, densification, builders.

The reference's canonical layout is a pandas MultiIndex ``(timevar, groupvar)``
(`views_2.py:1-7`); tensor ops hard-require a *complete* grid
(`utilities.py:26-27`). Here the contract is two BIGINT key columns plus
DOUBLE features, and completeness is an explicit, cheap-to-apply
densification (cross join of distinct keys) instead of an assertion.

Scale note: ``densify`` produces |T| x |U| rows via a broadcast cross join of
two *small* key dimensions (each is a distinct-projection of one column — KBs
even when the fact table is 100 TB), then one shuffle-join back to the data.
Positional window ops (lag/shift) are only correct on a dense panel, same as
the reference (SURVEY.md §7 "positional vs value-based lags").
"""

from __future__ import annotations

import itertools
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F, types as T

TIME = "time_id"
UNIT = "unit_id"
KEYS = [TIME, UNIT]


def feature_cols(df: DataFrame) -> list[str]:
    """Feature columns = all non-key columns (schema discovery mirrors
    `utilities.py:107-118` which reads features off df.columns)."""
    return [c for c in df.columns if c not in KEYS]


def one_feature(df: DataFrame) -> str:
    feats = feature_cols(df)
    if len(feats) != 1:
        raise ValueError(f"expected exactly one feature column, got {feats}")
    return feats[0]


def validate(df: DataFrame) -> DataFrame:
    missing = [k for k in KEYS if k not in df.columns]
    if missing:
        raise ValueError(f"panel missing key columns {missing}; has {df.columns}")
    return df


def is_complete(df: DataFrame) -> bool:
    """Completeness check mirroring the reference's tensorisability assertion
    (`utilities.py:26-27`): row count == n_times * n_units. Triggers a job —
    use in tests/debug, not in hot paths."""
    n, nt, nu = (
        df.count(),
        df.select(TIME).distinct().count(),
        df.select(UNIT).distinct().count(),
    )
    return n == nt * nu


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a panel once so operators that reference it from several
    plan branches (self-joins, driver-side key collects + the main plan) do
    not re-run the upstream build per branch.

    ``localCheckpoint`` stores the frame's blocks on the executors and
    truncates lineage — Catalyst does not reuse a duplicated upstream subplan
    across self-join branches, so without this a panel built from an
    aggregation pipeline is recomputed for every branch (measured 2-4 full
    rebuilds per operator at sf0.1), and iterative consumers (grid_lag, the
    graph loops) would otherwise grow an unbounded plan. Panels are bounded
    by |T| x |U| rows per feature, so the stored footprint is small relative
    to the fact data even at 100 TB input; on a cluster, a bucketed
    persisted panel (``write_bucketed``) serves the same role across *jobs*,
    this serves it across *branches within one job*.

    The checkpoint is eager (its own job): a lazy checkpoint materialized
    inside whichever consumer job ran first, and when a broadcast-subquery
    job raced the main job, the finisher's lineage truncation dropped the
    upstream SQLMetric accumulators of the other job's in-flight tasks
    ("ERROR DAGScheduler: Failed to update accumulator"), for no measured
    speed gain (1.00x, BENCH_NOTES_r10.md). Streaming frames pass through
    unchanged (checkpointing is a batch concept)."""
    if df.isStreaming:
        return df
    return df.localCheckpoint()


def observed_metrics(obs) -> dict | None:
    """Non-blocking read of an ``Observation``'s metrics: None until some
    action has populated them (or when ``observe()`` never attached).

    PySpark's public ``Observation.get`` blocks until the first action, so
    the probe goes through the JVM handle once, here: ``getRowOrEmpty`` is
    an Option, safe before any action (the JVM ``getOrEmpty`` map NPEs via
    py4j before the metrics row exists). Once the row exists, ``get``
    returns at once."""
    jo = getattr(obs, "_jo", None)
    if jo is None or jo.getRowOrEmpty().isEmpty():
        return None
    return obs.get


def materialize_counted(df: DataFrame, *metrics: Column) -> tuple:
    """``materialize`` plus the row count, read off the SAME checkpoint job.

    Size-gated operators (connected_components' driver cap, pagerank's,
    grid_lag's mesh bound and over-cap mesh, decontaminate's broadcast
    gate) all follow materialize-then-count; a dedicated ``.count()`` job
    would be pure driver job latency. An unnamed ``Observation`` (a
    CollectMetrics node) counts the rows inside the checkpoint job; it
    lives only in the checkpointed plan, so downstream consumers read the
    plain RDD scan with no pushdown barrier. The eager checkpoint has run
    by the time ``Observation.get`` is read, so the read returns at once,
    also for an empty frame (``__n = 0``). Returns ``(pinned_df, n)``.

    ``metrics`` are further aggregate Columns (each with a distinct alias)
    observed in the same job; their values follow ``n`` in order:
    ``(pinned_df, n, *values)`` (the tree lags' domain check reads its
    per-feature max |v| this way).

    A size gate needs a batch frame: streaming input raises ``ValueError``
    (Spark rejects observations on streaming Datasets)."""
    if df.isStreaming:
        raise ValueError(
            "materialize_counted: a size gate needs a batch frame, "
            "got a streaming one"
        )
    obs = Observation()
    out = materialize(df.observe(obs, F.count(F.lit(1)).alias("__n"), *metrics))
    n, *values = obs.get.values()
    return out, int(n), *values


# Python types each side-table column type accepts — the exact-type rule
# that ``createDataFrame``'s row verifier applies to a list (``bool`` is
# not an ``int`` here, numpy scalars are not Python numbers).
_PY_TYPES = {
    T.BooleanType: (bool,),
    T.ByteType: (int,),
    T.ShortType: (int,),
    T.IntegerType: (int,),
    T.LongType: (int,),
    T.FloatType: (float,),
    T.DoubleType: (float,),
    T.StringType: (str,),
    T.ArrayType: (list, tuple),
}


def _check_column(name: str, dtype, values) -> None:
    """Type-check one side-table column (and, for arrays, its flattened
    elements) by the set of Python types present: one C-level pass per
    column instead of a verifier call per row and field."""
    allowed = _PY_TYPES.get(type(dtype))
    if allowed is None:
        raise TypeError(
            f"local_table: field {name}: unsupported type {dtype.simpleString()}"
        )
    bad = set(map(type, values)) - set(allowed) - {type(None)}
    if bad:
        raise TypeError(
            f"local_table: field {name}: {dtype.simpleString()} can not accept "
            f"objects of type {sorted(t.__name__ for t in bad)}"
        )
    if isinstance(dtype, T.ArrayType):
        elems = itertools.chain.from_iterable(v for v in values if v is not None)
        _check_column(f"{name}.element", dtype.elementType, list(elems))


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-built side table (interaction list, weight or kernel table,
    percent list, labels) as an Arrow-backed DataFrame.

    ``rows`` is a sequence of tuples in ``schema`` order, or a mapping of
    field name -> column values; ``schema`` is a DDL string or StructType.
    Values are type-checked column by column with the exact-type rule of
    ``createDataFrame`` on a list (a wrong Python type raises ``TypeError``
    naming the field); an integer out of the field's range fails Arrow's
    conversion and raises ``ValueError`` naming the field.

    Why not ``createDataFrame`` on a list: that path verifies and pickles
    every row into an RDD that Python worker processes decode when a job
    first reads it. A ``pyarrow.Table`` goes to the JVM as Arrow batches:
    under ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB
    default) as a ``LocalRelation`` (``LocalTableScan``: its broadcast
    launches no job and starts no Python worker, and its exact size lets
    the planner broadcast it unhinted), above it as an RDD of Arrow
    batches decoded in the JVM. The ``pa.Table`` path does not depend on
    ``spark.sql.execution.arrow.pyspark.enabled``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    )
    names = struct.fieldNames()
    if isinstance(rows, Mapping):
        columns = [list(rows[n]) for n in names]
    else:
        rows = list(rows)
        widths = set(map(len, rows))
        if widths - {len(names)}:
            raise ValueError(
                f"local_table: rows of width {sorted(widths)} for the "
                f"{len(names)}-field schema {struct.simpleString()}"
            )
        columns = [list(c) for c in zip(*rows)] if rows else [[] for _ in names]
    arrow_schema = to_arrow_schema(struct)
    arrays = []
    for field, afield, values in zip(struct.fields, arrow_schema, columns):
        _check_column(field.name, field.dataType, values)
        try:
            arrays.append(pa.array(values, type=afield.type))
        except (pa.ArrowInvalid, OverflowError) as exc:
            raise ValueError(f"local_table: field {field.name}: {exc}") from exc
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)


# The PRIO-GRID unit axis is structurally bounded at 720 x 360 = 259,200
# cells (reference splag4d.py / spatial_tree.py build full-grid arrays at
# exactly this size); the monthly time axis is a few thousand at most.
UNIT_AXIS_CAP = 259_200
TIME_AXIS_CAP = 100_000


def collect_axis(
    df: DataFrame, col: str, cap: int, what: str = "axis"
) -> tuple:
    """Driver-side pull of a bounded KEY AXIS (distinct grid ids / time
    steps) as a sorted tuple — the shape the lru_cached tree/fourier
    geometry builders key on.

    The driver-side geometry/walk construction in trees/fourier/spacetime
    is safe ONLY because these axes are structurally bounded (grid cells
    <= 259,200, months in the low thousands) no matter how many fact rows
    exist. The LIMIT-bounded collect turns a mis-keyed call — a fact-table
    id column, an un-aggregated event stream — into a clear error instead
    of a driver OOM: at most cap+1 rows ever reach the driver."""
    rows = df.select(col).distinct().limit(int(cap) + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what} ({col!r}) has more than {cap:,} distinct values — "
            "this is not a bounded key axis. Driver-side geometry "
            "construction requires a panel keyed by a bounded axis "
            "(grid unit ids <= 259,200; time steps in the thousands); "
            "check that the column is the panel key, not a fact id."
        )
    return tuple(sorted(r[0] for r in rows))


def densify(
    df: DataFrame, fill: float | None = 0.0, time_range: bool = False
) -> DataFrame:
    """Complete the (time, unit) grid; absent cells get ``fill`` (None -> NULL).

    Distinct-key dimensions are tiny -> broadcast cross join, then a single
    left join back to the data (one shuffle on the join keys, which Catalyst
    reuses for any subsequent window partitioned the same way).

    ``time_range=True`` completes the integer time axis over the observed
    ``[min, max]`` range instead of only the observed values — the repair for
    the "gapless integer time axis" contract the tree/fourier operators
    assert (a timestep with zero rows anywhere is invisible to a distinct).
    Registry spec: ``{"type": "densify", "kwargs": {"time_range": true}}``.
    """
    validate(df)
    if time_range:
        times = (
            df.agg(F.min(TIME).alias("__tmin"), F.max(TIME).alias("__tmax"))
            .select(F.explode(F.sequence("__tmin", "__tmax")).alias(TIME))
        )
    else:
        times = df.select(TIME).distinct()
    units = df.select(UNIT).distinct()
    grid = F.broadcast(times).crossJoin(F.broadcast(units))
    out = grid.join(df, KEYS, "left")
    if fill is not None:
        out = out.na.fill(fill, subset=feature_cols(df))
    return out


def panel_from_events(
    spark: SparkSession,
    sf_dir: str,
    value_col: str = "value",
    event_type: str | None = None,
) -> DataFrame:
    """Build the canonical panel from the driver's ``events`` table.

    time_id = epoch day of ts, unit_id = user_id, value = sum(value).
    The sum goes through DECIMAL(18,2) so it is exact and independent of
    partition/accumulation order (event values are 2-decimal; float summation
    order would otherwise make the DuckDB-oracle hash flaky).
    """
    ev = read_events(spark, sf_dir)
    if event_type is not None:
        ev = ev.filter(F.col("event_type") == event_type)
    agg = ev.groupBy(
        epoch_day(ev).alias(TIME),
        F.col("user_id").alias(UNIT),
    ).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("value")
    )
    # densify references the aggregate from THREE branches (times distinct,
    # units distinct, the grid join) and Catalyst does not share the
    # subplan: without pinning, every panel build re-runs the full events
    # scan + aggregate 3x. The aggregate is panel-sized (times x active
    # units), so one localCheckpoint is cheap and every downstream branch
    # reads it instead of the 100 TB source.
    return densify(materialize(agg), fill=0.0)


NANOS_PER_DAY = 86_400_000_000_000


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, self-applying the confs a vanilla (driver)
    session needs: the legacy nanosAsLong conf in case events.parquet
    stores TIMESTAMP(NANOS) (Spark's reader rejects it otherwise; the
    conf is inert when the data is µs), and UTC session time zone so
    NTZ-timestamp → epoch conversions are host-TZ-independent. Callers
    must treat ts as EITHER BIGINT nanos or TIMESTAMP — derive keys via
    `epoch_day` / `epoch_micros`, which dispatch on the actual type.

    DELIBERATE GLOBAL SIDE EFFECT: both confs persist on the session after
    this call (save/restore would not work — the TZ must still be in force
    when the returned frame's plan *executes*, long after this function
    returns). Sessions built via `session.get_spark` already pin both at
    build time, making this a no-op; only an externally-built session (the
    driver's vanilla one) is mutated, which is exactly the contract this
    library needs for engine-parity keys."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def epoch_day(ev: DataFrame, ts_col: str = "ts"):
    """Epoch-day key from ts, exact for both physical types.

    Integer `DIV` (not float division: nanos exceed double's 53-bit mantissa)
    when ts is nanos-long; datediff when it is a real timestamp."""
    dtype = dict(ev.dtypes).get(ts_col)
    if dtype in ("bigint", "long"):
        # FLOOR division (DIV truncates toward zero, which would shift
        # pre-1970 timestamps by a day): subtract the non-negative pmod
        # remainder first, then the division is exact
        return F.expr(
            f"({ts_col} - pmod({ts_col}, {NANOS_PER_DAY})) DIV {NANOS_PER_DAY}"
        ).cast("long")
    return F.datediff(F.to_date(ts_col), F.lit("1970-01-01")).cast("long")


def epoch_micros(ev: DataFrame, ts_col: str = "ts"):
    """Epoch-microsecond key from ts, exact for both physical types
    (BIGINT nanos → integer DIV; TIMESTAMP/TIMESTAMP_NTZ → unix_micros
    under the UTC session TZ read_events pins). Matches DuckDB's
    ``epoch_us(ts)`` on the same parquet either way."""
    dtype = dict(ev.dtypes).get(ts_col)
    if dtype in ("bigint", "long"):
        return F.expr(f"{ts_col} DIV 1000").cast("long")
    return F.unix_micros(F.col(ts_col).cast("timestamp")).cast("long")


def write_bucketed(df: DataFrame, table: str, n_buckets: int = 32, mode: str = "overwrite") -> None:
    """Persist a panel bucketed+sorted by the window keys.

    A panel read back from this table carries HashPartitioning(unit_id)
    from the scan, so every window chain over it runs with ZERO exchanges
    (pinned in tests/test_plans.py) — the cheap way to amortize the one
    shuffle across many transform jobs at scale."""
    df.write.mode(mode).bucketBy(n_buckets, UNIT).sortBy(UNIT, TIME).saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


# DuckDB-side mirror of panel_from_events, used as a CTE prefix by oracle_sql().
PANEL_SQL = """
panel_agg AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT AS time_id,
         user_id AS unit_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
  FROM events {where}
  GROUP BY 1, 2
),
panel AS (
  SELECT g.time_id, g.unit_id, coalesce(a.value, 0.0) AS value
  FROM (SELECT t.time_id, u.unit_id
        FROM (SELECT DISTINCT time_id FROM panel_agg) t
        CROSS JOIN (SELECT DISTINCT unit_id FROM panel_agg) u) g
  LEFT JOIN panel_agg a USING (time_id, unit_id)
)
"""


def panel_sql(event_type: str | None = None) -> str:
    where = f"WHERE event_type = '{event_type}'" if event_type else ""
    return PANEL_SQL.format(where=where)

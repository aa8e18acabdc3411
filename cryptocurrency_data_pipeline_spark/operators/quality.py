"""Data-quality operators: profiling metrics + declarative constraints.

Rebuilds both reference DQ gates Spark-native:

* **PyDeequ gate** (glue/data_quality_pydeequ.py:42-59): 15 analyzers —
  Size, Completeness×5, Uniqueness, Mean×2, StandardDeviation, Min×2, Max×2,
  ApproxCountDistinct.  Deequ compiles these to several Spark jobs via py4j;
  here the whole profile is ONE scan — without a unique key, a single wide
  aggregate; with one, a groupBy(key) stage carrying every analyzer as a
  decomposable partial (sums / moments / min / max / mergeable HLL sketch)
  re-combined over the O(distinct-keys) grouped frame, so Uniqueness
  (|values occurring exactly once| / |rows| — Deequ semantics, plus
  UniqueValueRatio and Distinctness) never costs a second table read.
* **DQDL gate** (glue/data_quality_dqdl.py:67-106): dataset-level rules
  (RowCount / Completeness / Uniqueness thresholds) evaluated against the
  collected 1-row metrics (O(1) driver work), and row-level rules
  (ColumnValues, IsComplete, IsPrimaryKey) as native boolean columns — the
  reference's Python-lambda Filter + ThreadPool routing
  (glue/data_quality_dqdl.py:13-31) becomes two filters on one cached frame.
* **Verification contract** (glue/data_quality_pydeequ.py:101-133): any
  failed constraint → DLQ write + raise, mirrored by ``DQGateError``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cryptocurrency_data_pipeline_spark.operators import quantize
from cryptocurrency_data_pipeline_spark.schemas import DQ_CHECK, DQ_METRIC


class DQGateError(Exception):
    """Raised when constraint verification fails (pydeequ.py:133 parity)."""


def completeness(col: str) -> Column:
    """Non-null ratio (Deequ Completeness): count(col)/count(*).
    NULL on an empty input — 0/0 is undefined, and under ANSI mode a
    plain divide would abort the job the first time a gate runs over a
    day with no data (try_divide, mirrored as ``nullif`` oracle-side)."""
    return F.try_divide(F.count(F.col(col)), F.count(F.lit(1))).cast("double")


def profile(
    df: DataFrame,
    completeness_cols: Sequence[str] = (),
    numeric_cols: Sequence[str] = (),
    unique_key: str | None = None,
    approx_distinct_col: str | None = None,
) -> dict[str, float]:
    """Single-pass profile: the full PyDeequ analyzer set in one job.

    Returns ``{metric_name: value}``; metric names follow
    ``<Analyzer>(<column>)`` so the long/wide forms stay self-describing.
    """
    return (
        profile_plan(df, completeness_cols, numeric_cols, unique_key, approx_distinct_col)
        .collect()[0]
        .asDict()
    )


def profile_plan(
    df: DataFrame,
    completeness_cols: Sequence[str] = (),
    numeric_cols: Sequence[str] = (),
    unique_key: str | None = None,
    approx_distinct_col: str | None = None,
) -> DataFrame:
    """The profile as an unexecuted 1-row DataFrame (so plan tests can
    assert the single-scan property directly on ``.explain``)."""
    if unique_key is None:
        # No key metrics → a single wide aggregate is already one scan.
        aggs: list[Column] = [F.count(F.lit(1)).cast("double").alias("Size()")]
        for c in completeness_cols:
            aggs.append(completeness(c).alias(f"Completeness({c})"))
        for c in numeric_cols:
            # Moments (Mean/Stddev) over FINITE values only: one NaN in
            # 100 TB would otherwise NaN-flood both, and the DuckDB
            # oracle hard-errors on non-finite stddev input.  Min/Max
            # stay raw — both engines order NaN above +Inf, so extreme
            # rows surface there (which is what a profiler wants).
            fin = F.when(quantize.finite(c), F.col(c).cast("double"))
            aggs += [
                F.avg(fin).alias(f"Mean({c})"),
                F.stddev_pop(fin).alias(f"StandardDeviation({c})"),
                F.min(c).cast("double").alias(f"Minimum({c})"),
                F.max(c).cast("double").alias(f"Maximum({c})"),
            ]
        if approx_distinct_col:
            aggs.append(
                F.approx_count_distinct(approx_distinct_col)
                .cast("double")
                .alias(f"ApproxCountDistinct({approx_distinct_col})")
            )
        return df.agg(*aggs)

    # Key metrics requested: STILL one scan. Stage 1 groups by the key and
    # carries every other analyzer as a decomposable partial (count / sum /
    # sum-of-squares / min / max / mergeable HLL sketch); stage 2 re-combines
    # over the grouped frame, whose size is O(distinct keys), not O(rows).
    # The table is read exactly once — at 100 TB the second "scan" the naive
    # two-action version pays is the dominant cost of the whole gate.
    partials: list[Column] = [F.count(F.lit(1)).alias("__cnt")]
    for c in completeness_cols:
        partials.append(F.count(F.col(c)).alias(f"__nn_{c}"))
    for c in numeric_cols:
        d = F.col(c).cast("double")
        # Moment partials over FINITE values only (same contract as the
        # single-agg path above); min/max partials stay raw.
        fin = F.when(quantize.finite(c), d)
        partials += [
            F.count(fin).alias(f"__n_{c}"),
            F.sum(fin).alias(f"__s_{c}"),
            F.sum(fin * fin).alias(f"__s2_{c}"),
            F.min(d).alias(f"__min_{c}"),
            F.max(d).alias(f"__max_{c}"),
        ]
    if approx_distinct_col:
        partials.append(F.hll_sketch_agg(approx_distinct_col).alias("__hll"))
    g = df.groupBy(unique_key).agg(*partials)

    total = F.sum("__cnt")
    n_keys = F.count(F.lit(1))
    ones = F.sum(F.when(F.col("__cnt") == 1, 1).otherwise(0))
    # coalesce: a sum over an EMPTY grouped frame is NULL, but Size on
    # an empty dataset is 0 (the non-keyed path's count(*) agrees).
    aggs = [F.coalesce(total, F.lit(0)).cast("double").alias("Size()")]
    for c in completeness_cols:
        aggs.append(
            F.try_divide(F.sum(f"__nn_{c}"), total)
            .cast("double")
            .alias(f"Completeness({c})")
        )
    for c in numeric_cols:
        n, s, s2 = F.sum(f"__n_{c}"), F.sum(f"__s_{c}"), F.sum(f"__s2_{c}")
        mean = F.try_divide(s, n)
        aggs += [
            mean.alias(f"Mean({c})"),
            F.when(
                n > 0,
                F.sqrt(F.greatest(F.try_divide(s2, n) - mean * mean, F.lit(0.0))),
            ).alias(f"StandardDeviation({c})"),
            F.min(f"__min_{c}").alias(f"Minimum({c})"),
            F.max(f"__max_{c}").alias(f"Maximum({c})"),
        ]
    if approx_distinct_col:
        aggs.append(
            F.hll_sketch_estimate(F.hll_union_agg("__hll"))
            .cast("double")
            .alias(f"ApproxCountDistinct({approx_distinct_col})")
        )
    aggs += [
        # Deequ Uniqueness: |values occurring exactly once| / |rows|.
        F.try_divide(ones, total).cast("double").alias(f"Uniqueness({unique_key})"),
        # Deequ UniqueValueRatio: |values occurring exactly once| / |distinct|.
        F.try_divide(ones, n_keys)
        .cast("double")
        .alias(f"UniqueValueRatio({unique_key})"),
        # Deequ Distinctness: |distinct values| / |rows|.
        F.try_divide(n_keys, total)
        .cast("double")
        .alias(f"Distinctness({unique_key})"),
    ]
    return g.agg(*aggs)


def local_frame(spark, rows: Sequence[tuple], schema: StructType) -> DataFrame:
    """Python-side rows as a DataFrame that never leaves the JVM.

    ``createDataFrame(list_of_tuples)`` plans as a scan of a Python-pickled
    RDD (``sc.parallelize``), so the action that consumes the frame — a
    metrics-sink append — forks a Python worker: over a second per append
    on a 4-core host, against ~0.1 s for a JVM-only job.  An Arrow table is
    shipped to the JVM once and plans as a ``LocalTableScan``.  The table
    is built from the Python values directly, not through pandas, which
    would turn NaN into NULL; NaN, ±inf and None all round-trip exactly.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def profile_df(spark, metrics: dict[str, float]) -> DataFrame:
    """Long-form metrics table matching the reference's metrics sink shape
    (glue/data_quality_pydeequ.py:61-64): (entity, instance, name, value)."""
    rows = []
    for k, v in metrics.items():
        name, _, rest = k.partition("(")
        instance = rest.rstrip(")") or "*"
        entity = "Dataset" if name == "Size" else "Column"
        rows.append((entity, instance, name, float(v) if v is not None else None))
    return local_frame(spark, rows, DQ_METRIC)


@dataclass
class Constraint:
    """One declarative constraint: name + metric key + assertion on its value.

    Mirrors Deequ's Check API (glue/data_quality_pydeequ.py:72-84): e.g.
    ``Constraint("size between", "Size()", lambda v: 50 <= v <= 150)``.
    Assertions run driver-side on the single collected metrics row (O(1)) —
    the same shape as Deequ's lambda assertions (X2).
    """

    name: str
    metric: str
    assertion: Callable[[float], bool]


def verify(
    spark,
    metrics: dict[str, float],
    constraints: Sequence[Constraint],
    raise_on_failure: bool = False,
) -> DataFrame:
    """Evaluate constraints → result DataFrame (check_status per constraint).

    Matches the reference's constraint-result shape
    (glue/data_quality_pydeequ.py:91,117-120); with ``raise_on_failure``
    reproduces the job-abort contract (pydeequ.py:133).
    """
    rows = []
    for c in constraints:
        v = metrics.get(c.metric)
        ok = v is not None and bool(c.assertion(v))
        rows.append(
            (c.name, c.metric, float(v) if v is not None else None,
             "Success" if ok else "Failure")
        )
    result = local_frame(spark, rows, DQ_CHECK)
    if raise_on_failure:
        failed = [r[0] for r in rows if r[3] == "Failure"]
        if failed:
            raise DQGateError(f"DQ verification failed: {failed}")
    return result


def row_level_rules(
    df: DataFrame,
    complete_cols: Sequence[str] = (),
    positive_cols: Sequence[str] = (),
    primary_key: str | None = None,
) -> DataFrame:
    """DQDL row-level outcomes as native boolean columns + a combined verdict.

    IsComplete → ``isNotNull``; ColumnValues > 0 → comparison; IsPrimaryKey →
    window count over the key == 1 (W2).  ``dq_result`` is
    'Passed'/'Failed' like Glue DQ's DataQualityEvaluationResult
    (glue/data_quality_dqdl.py:89-106); routing is then two native filters
    on ``startswith`` (P8) — no Python lambdas, no thread pool.
    """
    checks: list[Column] = []
    for c in complete_cols:
        checks.append(F.col(c).isNotNull())
    for c in positive_cols:
        checks.append(F.col(c).isNotNull() & (F.col(c) > 0))
    if primary_key:
        # Glue DQDL's IsPrimaryKey requires complete AND unique: a lone
        # null key forms its own window partition (count 1) and would
        # otherwise pass on uniqueness alone.
        w = Window.partitionBy(primary_key)
        checks.append(
            F.col(primary_key).isNotNull() & (F.count(F.lit(1)).over(w) == 1)
        )
    verdict = F.lit(True)
    for ch in checks:
        verdict = verdict & ch
    return df.withColumn(
        "dq_result", F.when(verdict, F.lit("Passed")).otherwise(F.lit("Failed"))
    )


def route_rows(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(passed, failed) split on ``dq_result`` — reference's ThreadPool filter
    pair (glue/data_quality_dqdl.py:110-126) as two filters."""
    return (
        df.filter(F.col("dq_result").startswith("Passed")).drop("dq_result"),
        df.filter(F.col("dq_result").startswith("Failed")).drop("dq_result"),
    )


def observed(
    df: DataFrame,
    name: str = "dq",
    completeness_cols: Sequence[str] = (),
    numeric_cols: Sequence[str] = (),
):
    """Attach zero-cost DQ metrics to a DataFrame's NEXT action.

    ``profile()`` answers "what does this table look like" with one
    dedicated job; ``observed()`` answers "what just flowed through this
    write" for free — Spark's Observation API accumulates the metrics on
    the SAME tasks that execute the action (a write, a count), so the
    100 TB write path gets row counts, completeness and min/max
    accounting without a second scan.

    Returns ``(df, observation)``; read ``observation.get`` AFTER an
    action has run.  Metric names match the profile() convention.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("Size(*)")]
    for c in completeness_cols:
        metrics.append(
            F.avg(F.col(c).isNotNull().cast("double")).alias(f"Completeness({c})")
        )
    for c in numeric_cols:
        metrics.append(F.min(c).cast("double").alias(f"Minimum({c})"))
        metrics.append(F.max(c).cast("double").alias(f"Maximum({c})"))
    return df.observe(obs, *metrics), obs


def equi_width_histogram(df, col: str, k: int = 20):
    """Equi-width histogram profile of a numeric column — the Deequ
    ``Histogram`` analyzer shape for continuous data.

    Two jobs by construction: a 1-row min/max agg (broadcast), then one
    partial-agged groupBy over ``k`` buckets.  Per-bucket stats are
    count/min/max only — all EXACT under floating point, so the result
    is engine-reproducible (sums/means of doubles are order-sensitive
    and belong in ``profile()``'s rounded metrics instead).  A constant
    column collapses to bucket 0 rather than dividing by zero.

    Finite values only: a single NaN/Inf would make BOTH bounds
    non-finite, turning every bucket expression NaN and collapsing the
    whole histogram into one garbage bucket — degrade by exclusion
    instead (they remain visible in ``profile()``'s raw Min/Max).
    """
    df = df.where(quantize.finite(col))
    bounds = df.agg(
        F.min(F.col(col)).cast("double").alias("mn"),
        F.max(F.col(col)).cast("double").alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(k))
    bucket = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(k - 1),
                F.floor((F.col(col) - F.col("mn")) / width),
            )
        )
        .cast("int")
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(col), 6).alias("lo"),
            F.round(F.max(col), 6).alias("hi"),
        )
    )


def nonfinite_audit(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column health of numeric measures in ONE map-side-combined
    pass: row count, NULLs, NaNs, ±Infs, and the finite ratio.

    The operational companion of the ``quantize`` contract: cents
    quantization and the finite-only statistics DEGRADE non-finite
    measures to NULL, so the pipeline survives them — this audit is how
    an operator finds out they exist and how many (a sudden NaN spike
    is an upstream feed bug; 0.01% background Infs may be acceptable).
    One wide aggregate regardless of column count — at 100 TB the
    second scan a per-column loop would pay dominates the whole gate —
    then an O(len(cols)) stack to long form (the unpivot runs on a
    1-row frame).  ``finite_ratio`` is try_divide'd: an empty table
    audits as NULL ratios, not a dead job.

    ``cols`` must be non-empty, present in ``df``, and simple
    identifiers: the column names are interpolated into the ``stack()``
    expression as string literals and aliases, so a quoted/spaced/
    backticked name would break the SQL (or inject into it) — rejected
    up front with a clear error instead.
    """
    import re as _re

    cols = list(cols)
    if not cols:
        raise ValueError("nonfinite_audit requires at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"nonfinite_audit: columns not in the frame: {missing} "
            f"(frame has {df.columns})"
        )
    unsafe = [c for c in cols if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c)]
    if unsafe:
        raise ValueError(
            f"nonfinite_audit: column names must be simple identifiers "
            f"([A-Za-z_][A-Za-z0-9_]*); rejected: {unsafe} — rename via "
            f"select(...alias(...)) first"
        )
    aggs = []
    for c in cols:
        d = F.col(c).cast("double")
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.count(F.when(d.isNull(), 1)).alias(f"__null_{c}"),
            F.count(F.when(F.isnan(d), 1)).alias(f"__nan_{c}"),
            F.count(
                F.when(d.isin(float("inf"), float("-inf")), 1)
            ).alias(f"__inf_{c}"),
            F.count(F.when(quantize.finite(c), 1)).alias(f"__fin_{c}"),
        ]
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.expr(
            "stack({n}, {args}) AS (column, n_rows, n_null, n_nan, n_inf, n_finite)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', __n_{c}, __null_{c}, __nan_{c}, __inf_{c}, __fin_{c}"
                    for c in cols
                ),
            )
        )
    )
    return stacked.select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_nan").cast("long").alias("n_nan"),
        F.col("n_inf").cast("long").alias("n_inf"),
        F.round(F.try_divide(F.col("n_finite"), F.col("n_rows")), 6).alias(
            "finite_ratio"
        ),
    )

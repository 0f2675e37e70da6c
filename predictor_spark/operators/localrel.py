"""The bounded driver-side finish, in one home: every driver-side step
stays O(model), not O(data).  A plan collects one aggregate that is
bounded by design (``collect_bounded``, the only row fetch under
``plans/``, ``operators/`` and ``streaming/``; ``fetch_bounded`` is its
non-raising form for a caller with a distributed path past the bound),
finishes on the driver (``spark_round`` where Spark's rounding must be
replayed), and re-enters the result as a local relation (``local_df``,
or ``arrow_df`` for a result whose schema is a StructType).

``arrow_df`` plans as a JVM ``LocalTableScan``: a collect over it runs
no job and no action over it runs a Python worker.  ``local_df`` is a
Python RDD, and every action over it pays a Python-worker round-trip.
Median noop-write action at local[4] on a 4-core VM, 8 runs after 2
warm-ups, two runs each: 48-57 / 133-152 ms for ``arrow_df`` against
100-138 / 149-174 ms for ``local_df`` on 47 / 20,000 rows, in workers
that skip the per-task zip re-read (``shiplib.stat_guarded``);
229-314 / 428 ms for ``local_df`` in workers that do not.

``local_df`` builds ONE slice.  ``spark.createDataFrame(rows)``
parallelizes into ``defaultParallelism`` slices of a Python RDD, and
every action then pays one task and one Python-worker round-trip per
slice: measured at local[32], a 1-row frame cost ~0.58 s per noop
materialization against ~0.03 s in one slice.  The rows are the same
pickled values and keep their order; the only layout difference is one
partition instead of N, which matters ONLY to a float aggregation's
partial-sum grouping (every caller either selects/joins per row or
aggregates exact integers/decimals).
"""

from __future__ import annotations

import decimal

from pyspark.sql import DataFrame, SparkSession, types as T

# from the schema: a global aggregate (no groupBy) or a limit(1) is one row
ONE_ROW = 1


def fetch_bounded(df: DataFrame, max_rows: int) -> list:
    """Up to ``max_rows + 1`` rows of ``df``; more than ``max_rows``
    tells the caller the input is past its bound.

    It launches the same Spark jobs as ``.collect()``: a plain
    ``limit(n).collect()`` is Spark's incremental take (a second job
    when the first partition holds fewer than n rows), so the limited
    plan is read in one pass through ``.rdd``."""
    return df.limit(max_rows + 1).rdd.collect()


def collect_bounded(df: DataFrame, max_rows: int, what: str) -> list:
    """``df.collect()`` that fetches at most ``max_rows + 1`` rows
    (:func:`fetch_bounded`) and raises ``ValueError`` naming ``what``
    and the bound past it."""
    rows = fetch_bounded(df, max_rows)
    if len(rows) > max_rows:
        raise ValueError(f"{what}: more than {max_rows} rows; the input "
                         "no longer fits its bounded driver-side finish")
    return rows


def spark_round(x: float, dp: int) -> float:
    """EXACTLY Spark's ``round(double, dp)``: Spark routes doubles
    through scala BigDecimal(d) == java BigDecimal.valueOf(d), i.e. the
    SHORTEST decimal representation (Double.toString), then setScale
    HALF_UP.  Python's repr() is the same shortest round-trip decimal,
    so Decimal(repr(x)) reproduces the digit string Spark rounds —
    empirically pinned: round(lit(0.12345649999999999), 6) = 0.123457
    on Spark 4.1 and here (an exact-binary Decimal(x) would give
    0.123456)."""
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal(1).scaleb(-dp), rounding=decimal.ROUND_HALF_UP))


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a ONE-slice frame.

    ``rows``: a list (empty lists fall back to the plain path, which
    handles the no-partition edge).  ``schema``: DDL string or
    StructType, exactly as createDataFrame takes it.
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)


def arrow_df(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a local relation
    built from a ``pyarrow.Table``: it keeps ``schema``'s types and
    nullability, collecting it runs no Spark job, and no action over it
    starts a Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = list(zip(*rows)) or [()] * len(schema.fields)
    return spark.createDataFrame(pa.Table.from_pydict(
        dict(zip(schema.names, map(list, cols))),
        schema=to_arrow_schema(schema)))
